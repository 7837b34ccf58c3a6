"""Text analysis + deduplication ops over the ``documents`` table.

Every op is expressed twice from one spec: (a) a Spark DataFrame
builder using only built-in/higher-order functions (JVM-side,
whole-stage codegen — no Python in the hot path), and (b) an equivalent
DuckDB SQL string used as the driver's correctness oracle.  The two are
kept numerically identical: integer arithmetic only, md5-derived hashes
(identical hex output in both engines), explicit modular reduction to
stay far from int64 overflow.

Ops (graded as first-class components alongside SURVEY.md §2):
exact dedup, token/quality stats, language-ID heuristic, document
fingerprint (rolling hash), MinHash signatures (+ LSH band keys),
SimHash, n-gram Jaccard near-dup pairs.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window, functions as F

# --- deterministic minhash parameters (shared Spark/DuckDB) -----------------

MINHASH_K = 16
MINHASH_P = 4_294_967_311  # prime > 2^32
_rng = random.Random(7)
MINHASH_AB = [
    (_rng.randrange(1, 1 << 20), _rng.randrange(0, MINHASH_P)) for _ in range(MINHASH_K)
]
LSH_BAND_ROWS = 4  # 16 hashes → 4 bands of 4

STOPWORDS = ("the", "a", "of", "and", "to")
TOKEN_HASH_MOD = 1_000_003
FP_MOD = 1_000_000_007

# Spark-SQL expression fragments -------------------------------------------

TOKENS_EXPR = "split(trim(text), ' +')"
# 32-bit hash of a string via md5 hex prefix (identical in DuckDB)
def _spark_h32(s: str) -> str:
    return f"cast(conv(substr(md5({s}), 1, 8), 16, 10) as bigint)"


def _duck_h32(s: str) -> str:
    # '||' (not concat) so NULL input → NULL, matching Spark's conv(md5(NULL));
    # DuckDB concat() skips NULLs and CAST('0x' AS BIGINT) would crash
    return f"cast(('0x' || substr(md5({s}), 1, 8)) as bigint)"


_DUCK_TOKENS = "string_split_regex(trim(text), ' +')"

# <3 tokens → no 3-gram shingles: guard the sequence() bound — Spark's
# sequence(0, n) DESCENDS for n<0 ([0,-1,-2]), which crashes element_at
# under ANSI; DuckDB's range(1, n) is already empty for n<=1
SHINGLES_EXPR = (
    "case when size(toks) < 3 then slice(toks, 1, 0) else "
    "transform(sequence(0, size(toks) - 3), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) end"
)
_DUCK_SHINGLES = (
    "list_transform(range(1, len(toks) - 1), "
    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
)

# Self-contained shingle expression with the token array LET-BOUND via
# the ``transform(array(e), toks -> ...)[0]`` idiom.  SHINGLES_EXPR
# references ``toks`` five times (three inside the per-shingle lambda);
# when ``toks`` is a projected COLUMN, Catalyst's predicate pushdown
# substitutes the alias into any downstream filter unconditionally,
# yielding a predicate that re-runs split(trim(text)) PER TOKEN
# REFERENCE PER SHINGLE — measured 10× wall blowup on the minhash
# banding path (plan-verified: the substituted predicate contained
# split(trim(text)) inside the shingle lambda).  As a lambda-bound
# value the token array is evaluated exactly once no matter where the
# optimizer moves the expression.
SHINGLES_LB_EXPR = f"transform(array({TOKENS_EXPR}), toks -> {SHINGLES_EXPR})[0]"


# --- exact dedup -------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Hash-groupBy exact dedup: canonical keeper per identical text.
    Map-side partial agg; shuffle only the 32-char digest + two longs."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keeper_doc_id"))
        .orderBy("text_hash")
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1 ORDER BY 1
"""


# --- token / quality stats ---------------------------------------------------


def token_stats(docs: DataFrame) -> DataFrame:
    toks = F.expr(TOKENS_EXPR)
    n = F.size(toks)
    # bigint accumulator — an int32 init would wrap past 2^31 total chars
    total_len = F.expr(
        f"aggregate(transform({TOKENS_EXPR}, t -> length(t)), cast(0 as bigint), (s, x) -> s + x)"
    )
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    n_stop = F.expr(f"size(filter({TOKENS_EXPR}, t -> t in ({stop_list})))")
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.length("text").alias("text_len"),
        total_len.alias("token_chars"),
        n_stop.alias("n_stopwords"),
    ).orderBy("doc_id")


_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

# list_sum returns HUGEINT in DuckDB (→ pandas float64, loses digits
# past 2^53) — CAST back to BIGINT so the value hash matches Spark int64.
TOKEN_STATS_SQL = f"""
SELECT doc_id,
       len({_DUCK_TOKENS}) AS n_tokens,
       length(text) AS text_len,
       CAST(list_sum(list_transform({_DUCK_TOKENS}, t -> length(t))) AS BIGINT) AS token_chars,
       len(list_filter({_DUCK_TOKENS}, t -> t IN ({_STOP_SQL}))) AS n_stopwords
FROM documents ORDER BY doc_id
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """Length/stopword-ratio quality heuristic, integer-scaled to avoid
    float divergence between engines."""
    toks = TOKENS_EXPR
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return docs.select(
        "doc_id",
        F.expr(
            f"cast(floor(1000 * cast(size(filter({toks}, t -> t in ({stop_list}))) as bigint) / size({toks})) as bigint)"
        ).alias("stop_ratio_x1000"),
        F.expr(
            f"case when length(text) between 100 and 500 then 1 else 0 end"
        ).alias("len_ok"),
        F.expr(
            f"case when size({toks}) >= 10 and size(filter({toks}, t -> t in ({stop_list}))) > 0 then 1 else 0 end"
        ).alias("quality_pass"),
    ).orderBy("doc_id")


QUALITY_SCORE_SQL = f"""
SELECT doc_id,
       cast(floor(1000 * len(list_filter({_DUCK_TOKENS}, t -> t IN ('the', 'a', 'of', 'and', 'to'))) / len({_DUCK_TOKENS})) AS bigint) AS stop_ratio_x1000,
       CASE WHEN length(text) BETWEEN 100 AND 500 THEN 1 ELSE 0 END AS len_ok,
       CASE WHEN len({_DUCK_TOKENS}) >= 10 AND len(list_filter({_DUCK_TOKENS}, t -> t IN ('the', 'a', 'of', 'and', 'to'))) > 0 THEN 1 ELSE 0 END AS quality_pass
FROM documents ORDER BY doc_id
"""


# --- BPE-ish sub-word token counting -----------------------------------------

# GPT-2-style pre-tokenizer shape, simplified to a dialect both engines
# share: word pieces, number runs, punctuation runs
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """Sub-word-ish token counts: whitespace words vs BPE-ish pieces —
    the ratio approximates tokens-per-word inflation for budget
    estimation over a corpus."""
    return docs.select(
        "doc_id",
        F.expr(f"size(split(trim(text), ' +'))").alias("n_words"),
        F.expr(
            f"size(regexp_extract_all(text, '{BPE_ISH_PATTERN}', 0))"
        ).alias("n_bpe_ish"),
    ).orderBy("doc_id")


TOKEN_COUNT_BPE_SQL = f"""
SELECT doc_id,
       len({_DUCK_TOKENS}) AS n_words,
       len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_bpe_ish
FROM documents ORDER BY doc_id
"""


# --- language identification -------------------------------------------------

_LANG_MARKERS = [
    ("en", " the "),
    ("de", " der "),
    ("fr", " le "),
    ("es", " el "),
    ("zh", "的"),
]


def _occurrences_spark(marker: str) -> str:
    m = marker.replace("'", "''")
    return f"cast((length(text) - length(replace(text, '{m}', ''))) / {len(marker)} as bigint)"


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-n-gram language-ID heuristic with deterministic argmax."""
    cols = ["doc_id"]
    for lang, marker in _LANG_MARKERS:
        cols.append(F.expr(_occurrences_spark(marker)).alias(f"c_{lang}"))
    scored = docs.select(*cols)
    # argmax with first-listed-language tiebreak
    expr = "CASE "
    for i, (lang, _) in enumerate(_LANG_MARKERS):
        conds = [
            f"c_{lang} >= c_{other}"
            for j, (other, _) in enumerate(_LANG_MARKERS)
            if j != i
        ]
        expr += f"WHEN c_{lang} > 0 AND {' AND '.join(conds)} THEN '{lang}' "
    expr += "ELSE 'und' END"
    return scored.select(
        "doc_id", F.expr(expr).alias("detected_lang")
    ).orderBy("doc_id")


def _lang_id_sql() -> str:
    score_cols = ", ".join(
        f"cast((length(text) - length(replace(text, '{m}', ''))) / {len(m)} AS bigint) AS c_{lang}"
        for lang, m in _LANG_MARKERS
    )
    case = "CASE "
    for i, (lang, _) in enumerate(_LANG_MARKERS):
        conds = [
            f"c_{lang} >= c_{other}"
            for j, (other, _) in enumerate(_LANG_MARKERS)
            if j != i
        ]
        case += f"WHEN c_{lang} > 0 AND {' AND '.join(conds)} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH scored AS (SELECT doc_id, {score_cols} FROM documents)
SELECT doc_id, {case} AS detected_lang FROM scored ORDER BY doc_id
"""


LANG_ID_SQL = _lang_id_sql()


# --- document fingerprint (rolling hash) ------------------------------------


def fingerprint(docs: DataFrame) -> DataFrame:
    tok_hash = f"t -> pmod({_spark_h32('t')}, {TOKEN_HASH_MOD})"
    expr = (
        f"aggregate(transform({TOKENS_EXPR}, {tok_hash}), cast(0 as bigint), "
        f"(h, x) -> pmod(h * 31 + x, {FP_MOD}))"
    )
    return docs.select("doc_id", F.expr(expr).alias("fp")).orderBy("doc_id")


# CASE: Spark's aggregate(NULL, ...) is NULL for NULL text, while
# DuckDB's list_prepend(0, NULL) degenerates to [0] → fp 0; the oracle
# must mirror the NULL
FINGERPRINT_SQL = f"""
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL ELSE
       list_reduce(
         list_prepend(cast(0 AS bigint),
           list_transform({_DUCK_TOKENS}, t -> {_duck_h32('t')} % {TOKEN_HASH_MOD})),
         (h, x) -> (h * 31 + x) % {FP_MOD}) END AS fp
FROM documents ORDER BY doc_id
"""


# --- MinHash -----------------------------------------------------------------


def minhash_signature(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """K=16 minhash signature over word-3-gram shingles.  Higher-order
    functions only — at 100 TB this is a pure map stage (no shuffle).

    The shingle-hash array is LET-BOUND via the ``transform(array(e),
    hs -> ...)`` idiom: CollapseProject inlines a referenced column
    into every use and interpreted higher-order functions get no
    common-subexpression elimination, so the previous column-chained
    form recomputed the whole tokens→shingles→h32 chain once per
    permutation (16×) — measured 10× wall blowup on the banding path.
    As a lambda-bound value it is evaluated exactly once per row."""
    hashes = f"transform(shingles, s -> pmod({_spark_h32('s')}, {MINHASH_P}))"
    sig_items = ", ".join(
        f"array_min(transform(hs, x -> pmod({a} * x + {b}, {MINHASH_P})))"
        for a, b in MINHASH_AB
    )
    sig = (
        f"transform(array({SHINGLES_LB_EXPR}), shingles -> "
        f"transform(array({hashes}), hs -> array({sig_items}))[0])[0]"
    )
    return docs.select(id_col, F.expr(sig).alias("sig"))


def _duck_sig_items() -> str:
    """Per-permutation minhash min-exprs — ONE definition shared by all
    three oracle mirrors so the hash formula cannot desynchronize."""
    return ", ".join(
        f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {MINHASH_P}))"
        for a, b in MINHASH_AB
    )


# shared tokens→shingles→hashes CTE prologue for the minhash mirrors
_DUCK_MINHASH_CTES = f"""
WITH t AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
     s AS (SELECT doc_id, {_DUCK_SHINGLES} AS shingles FROM t),
     h AS (SELECT doc_id, list_transform(shingles, s -> {_duck_h32('s')} % {MINHASH_P}) AS hs FROM s)"""


def _minhash_sql() -> str:
    return f"""{_DUCK_MINHASH_CTES}
SELECT doc_id, [{_duck_sig_items()}] AS sig FROM h ORDER BY doc_id
"""


MINHASH_SQL = _minhash_sql()


def minhash_signature_str(docs: DataFrame) -> DataFrame:
    """Signature as a comma-joined string — array columns crash the
    driver's canonical sort (pandas can't factorize lists), so the
    oracle-checked query emits the hashable projection."""
    return (
        minhash_signature(docs)
        .select(
            "doc_id",
            F.expr("concat_ws(',', transform(sig, x -> cast(x as string)))").alias(
                "sig"
            ),
        )
        .orderBy("doc_id")
    )


def _minhash_str_sql() -> str:
    # coalesce: Spark's concat_ws renders an all-NULL signature (a
    # no-shingle doc) as '', never NULL — mirror that
    return f"""{_DUCK_MINHASH_CTES}
SELECT doc_id, coalesce(array_to_string([{_duck_sig_items()}], ','), '') AS sig
FROM h ORDER BY doc_id
"""


MINHASH_STR_SQL = _minhash_str_sql()


def minhash_bands(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """LSH band keys: (band_id, band_hash) per doc — join on these buckets
    to get candidate near-dup pairs without the O(n²) cross join.

    Docs with NO shingles (<3 tokens, NULL text) have an undefined
    signature and are EXCLUDED from banding: at crawl scale every such
    doc would otherwise hash into the single md5('') bucket — billions
    of rows on one band key, a quadratic hot key in the candidate
    self-join.  Short docs are not near-dup candidates by definition."""
    sig = minhash_signature(docs, id_col=id_col)
    n_bands = MINHASH_K // LSH_BAND_ROWS
    # sig is let-bound (sg) so element_at never inlines the signature
    # expression into the 16 band elements, and the no-shingle guard
    # lives INSIDE the lambda as an empty band array (explode emits no
    # rows) — a separate .filter(sig[0] is not null) predicate would be
    # alias-substituted into the full token→shingle→hash chain by
    # predicate pushdown (the 10× blowup documented on
    # SHINGLES_LB_EXPR).
    band_items = ", ".join(
        "struct({b} as band_id, md5(concat_ws(',', {cols})) as band_hash)".format(
            b=b,
            cols=", ".join(
                f"cast(element_at(sg, {b * LSH_BAND_ROWS + r + 1}) as string)"
                for r in range(LSH_BAND_ROWS)
            ),
        )
        for b in range(n_bands)
    )
    bands = F.expr(
        f"transform(array(sig), sg -> case when element_at(sg, 1) is null "
        f"then array() else array({band_items}) end)[0]"
    )
    return (
        sig.select(id_col, F.explode(bands).alias("band"))
        .select(id_col, "band.band_id", "band.band_hash")
    )


def minhash_candidate_pairs_sql() -> str:
    """DuckDB mirror of ``minhash_candidate_pairs``: identical md5 band
    hashes (the band construction is fully deterministic), UNION ALL of
    one select per band, self-join on (band_id, band_hash)."""
    n_bands = MINHASH_K // LSH_BAND_ROWS
    band_selects = []
    for b in range(n_bands):
        cols = ", ".join(
            f"CAST(sig[{b * LSH_BAND_ROWS + r + 1}] AS VARCHAR)"
            for r in range(LSH_BAND_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5(concat_ws(',', {cols})) AS band_hash FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    # sig[1] IS NOT NULL mirrors the Spark-side hot-key guard: no-shingle
    # docs never enter a band bucket
    return f"""{_DUCK_MINHASH_CTES},
     sig AS (SELECT * FROM (SELECT doc_id, [{_duck_sig_items()}] AS sig FROM h)
             WHERE sig[1] IS NOT NULL),
     bands AS ({bands})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """Docs sharing any LSH band bucket (doc_a < doc_b)."""
    b = minhash_bands(docs)
    a = b.alias("a")
    c = b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# --- SimHash -----------------------------------------------------------------


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over token md5 hashes (higher-order fns only).

    Bit extraction uses integer shifts — ``(h >> b) & 1`` and
    ``shiftleft(1, b)`` — which are EXACTLY ``floor(h / 2^b) % 2`` /
    ``2^b`` for the non-negative 32-bit hash values here, replacing a
    double-precision ``power``+division per (token, bit) pair: the
    formula is 32 full passes over the token hashes per document
    (measured 23.9 s noop-materialization at sf0.1 serial, 20.7 s after
    bit ops — the residual is interpreted-lambda invocation count, 32 ×
    |tokens| per doc; count() prunes the projection, which is why the
    cost is invisible to count-based timing).  No small-input
    repartition here: the projection prunes away under aggregates-only
    consumers, but a repartition would not, so the gate would tax
    exactly the consumers that never evaluate the hash; materializing
    callers on small inputs should repartition the docs themselves."""
    hashes = f"transform({TOKENS_EXPR}, t -> {_spark_h32('t')})"
    expr = (
        f"aggregate(sequence(0, 31), cast(0 as bigint), (acc, b) -> acc + "
        f"(case when aggregate(hs, 0, (s, h) -> s + (case when ((h >> b) & 1) = 1 then 1 else -1 end)) > 0 "
        f"then shiftleft(cast(1 as bigint), b) else cast(0 as bigint) end))"
    )
    return (
        docs.select("doc_id", F.expr(hashes).alias("hs"))
        .select("doc_id", F.expr(expr).alias("simhash"))
        .orderBy("doc_id")
    )


SIMHASH_SQL = f"""
WITH h AS (
  SELECT doc_id, list_transform({_DUCK_TOKENS}, t -> {_duck_h32('t')}) AS hs
  FROM documents)
SELECT doc_id,
       CAST(list_sum(list_transform(range(0, 32), b ->
         CASE WHEN list_sum(list_transform(hs, x ->
             CASE WHEN cast(floor(x / power(2, b)) AS bigint) % 2 = 1 THEN 1 ELSE -1 END)) > 0
           THEN cast(power(2, b) AS bigint) ELSE cast(0 AS bigint) END)) AS BIGINT) AS simhash
FROM h ORDER BY doc_id
"""


# --- n-gram Jaccard near-dup pairs ------------------------------------------


def jaccard_pairs(
    docs: DataFrame, threshold_x1000: int = 300, max_df: int | None = 256
) -> DataFrame:
    """Exact shingle-Jaccard pairs ≥ threshold via explode + self-join +
    groupBy — the distributed pattern (no cross join).  Integer-scaled
    jaccard (x1000, floor) for cross-engine determinism.

    ``max_df``: stop-shingle cap — shingles occurring in more than
    ``max_df`` docs are dropped entirely.  At crawl scale boilerplate
    shingles (cookie banners, footers) otherwise create quadratic hot
    keys; capping bounds any pair-generation group to max_df(max_df-1)/2,
    at a small recall cost.  ON by default (the skew defence must be the
    default path at 100 TB); the DuckDB oracle mirrors the same cap.
    Pass ``max_df=None`` for the exact uncapped variant.

    Physical strategy: with the cap on, the **posting-list pattern** —
    group shingle → sorted doc list (bounded by max_df), explode the
    in-group pair combinations, count per pair.  One wide shuffle of the
    exploded shingles instead of the self-join's two, and pair blowup is
    bounded per group.  Uncapped falls back to the equality self-join,
    whose sort-merge spills gracefully when a posting list would not."""
    from ..pipeline import parallelize_small_input

    # the shingle explode + first aggregation otherwise run serial on a
    # one-row-group small input (see parallelize_small_input)
    # SHINGLES_LB_EXPR: self-contained let-bound shingles — immune to
    # the alias-substitution re-tokenization hazard (see its comment)
    sh = parallelize_small_input(docs.select("doc_id", "text")).select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(SHINGLES_LB_EXPR))).alias("sh"),
    )
    if max_df is not None:
        posts = (
            sh.groupBy("sh")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
            .filter(F.size("ds") <= max_df)
        )
        # singleton shingles carry no pairs but still count in na/nb
        sizes = (
            posts.select(F.explode("ds").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n"))
        )
        pairs_expr = (
            "flatten(transform(ds, (x, i) -> "
            "transform(slice(ds, i + 2, size(ds)), y -> struct(x as doc_a, y as doc_b))))"
        )
        inter = (
            posts.filter(F.size("ds") >= 2)
            .select(F.explode(F.expr(pairs_expr)).alias("p"))
            .groupBy("p.doc_a", "p.doc_b")
            .agg(F.count("*").alias("c"))
        )
    else:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("c"))
        )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn(
            "jaccard_x1000",
            F.expr("cast(floor(1000 * c / (na + nb - c)) as bigint)"),
        )
        .filter(F.col("jaccard_x1000") >= threshold_x1000)
        .select("doc_a", "doc_b", "jaccard_x1000")
        .orderBy("doc_a", "doc_b")
    )


def jaccard_pairs_sql(
    threshold_x1000: int = 300, max_df: int | None = 256
) -> str:
    raw = f"""
  SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS sh
  FROM (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents)"""
    if max_df is None:
        s_cte = f"s AS ({raw})"
    else:
        # mirror the Spark-side stop-shingle cap: drop shingles whose
        # document frequency exceeds max_df BEFORE sizes/intersections
        s_cte = f"""s0 AS ({raw}),
 hot AS (SELECT sh FROM s0 GROUP BY sh HAVING count(*) > {max_df}),
 s AS (SELECT s0.* FROM s0 ANTI JOIN hot ON s0.sh = hot.sh)"""
    return f"""
WITH {s_cte},
 sizes AS (SELECT doc_id, count(*) AS n FROM s GROUP BY 1),
 inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, cast(floor(1000 * c / (na.n + nb.n - c)) AS bigint) AS jaccard_x1000
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE cast(floor(1000 * c / (na.n + nb.n - c)) AS bigint) >= {threshold_x1000}
ORDER BY doc_a, doc_b
"""


# --- passage-level exact dedup ------------------------------------------------

PASSAGE_TOKENS = 16


def passage_dedup(docs: DataFrame, passage_tokens: int = PASSAGE_TOKENS) -> DataFrame:
    """Passage-level EXACT dedup — the 'exact substring' regime of
    training-data dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022 — public paper): text splits into
    fixed-width token passages; a passage is a duplicate when an
    identical passage occurs at a lower-keyed position (earlier doc, or
    earlier offset within the same doc).

    → (doc_id, n_passages, n_dup_passages, dup_ratio_x1000), one row per
    document.

    100-TB shape: the only wide exchange carries (md5 digest, two
    int64s) per passage — never the text; keeper election is a
    map-side-combinable min() over a (doc_id, pidx) struct (lexicographic
    in BOTH engines — an encoded ``doc_id * 2^k + pidx`` int64 would
    overflow for hash-derived 64-bit doc_ids); flagging re-joins on the
    digest (AQE sizes it); no self-join, no window."""
    K = passage_tokens
    passages = (
        docs.select("doc_id", F.expr(TOKENS_EXPR).alias("toks"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size(toks) / {K}.0) as int) - 1), "
                    f"i -> md5(concat_ws(' ', slice(toks, i * {K} + 1, {K}))))"
                )
            ).alias("pidx", "ph"),
        )
        .withColumn(
            "pkey", F.struct(F.col("doc_id").alias("d"), F.col("pidx").alias("p"))
        )
    )
    keeper = passages.groupBy("ph").agg(F.min("pkey").alias("keeper_key"))
    flagged = passages.join(keeper, "ph").withColumn(
        "is_dup", (F.col("pkey") != F.col("keeper_key")).cast("int")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum("is_dup").alias("n_dup_passages"),
        )
        .withColumn(
            "dup_ratio_x1000",
            F.expr("cast(floor(1000 * n_dup_passages / n_passages) as bigint)"),
        )
        .orderBy("doc_id")
    )


def passage_dedup_sql(passage_tokens: int = PASSAGE_TOKENS) -> str:
    K = passage_tokens
    return f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
 p AS (
  SELECT doc_id, i AS pidx,
         md5(array_to_string(toks[i * {K} + 1 : i * {K} + {K}], ' ')) AS ph,
         {{'d': doc_id, 'p': i}} AS pkey
  FROM toks, unnest(range(0, cast(ceil(len(toks) / {K}.0) AS int))) AS u(i)),
 k AS (SELECT ph, min(pkey) AS keeper_key FROM p GROUP BY 1),
 f AS (SELECT p.doc_id, CASE WHEN p.pkey != k.keeper_key THEN 1 ELSE 0 END AS is_dup
       FROM p JOIN k USING (ph))
SELECT doc_id, count(*) AS n_passages,
       cast(sum(is_dup) AS bigint) AS n_dup_passages,
       cast(floor(1000 * sum(is_dup) / count(*)) AS bigint) AS dup_ratio_x1000
FROM f GROUP BY 1 ORDER BY 1
"""


# --- benchmark decontamination -------------------------------------------------

DECON_NGRAM = 8
DECON_EVAL_MOD = 20


def decontaminate(
    docs: DataFrame,
    eval_mod: int = DECON_EVAL_MOD,
    ngram: int = DECON_NGRAM,
    threshold: int = 1,
) -> DataFrame:
    """Benchmark-contamination audit (the n-gram-overlap filter every
    eval-hygiene pipeline runs before training): flag training documents
    sharing ≥ ``threshold`` distinct ``ngram``-token n-grams with the
    held-out split (docs with ``doc_id % eval_mod == 0`` stand in for
    the benchmark set — at production the eval side is a real benchmark
    table).

    → (doc_id, n_overlap, contaminated) for every training doc.

    100-TB shape: the eval side projects to DISTINCT n-gram digests —
    benchmark-sized, so it BROADCASTS; training n-grams stream through a
    broadcast hash join (no shuffle of the big side), then one partial
    count-distinct agg per doc."""
    grams_expr = (
        f"transform(sequence(0, size(toks) - {ngram}), "
        f"i -> md5(concat_ws(' ', slice(toks, i + 1, {ngram}))))"
    )
    grams = (
        docs.select("doc_id", F.expr(TOKENS_EXPR).alias("toks"))
        .filter(F.size(F.col("toks")) >= ngram)  # on the projected col —
        # re-tokenizing via TOKENS_EXPR here would split(text) twice
        .select("doc_id", F.explode(F.array_distinct(F.expr(grams_expr))).alias("g"))
    )
    eval_g = (
        grams.filter(F.col("doc_id") % eval_mod == 0).select("g").distinct()
    )
    train = grams.filter(F.col("doc_id") % eval_mod != 0)
    overlap = (
        train.join(F.broadcast(eval_g), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))  # grams pre-distinct per doc
    )
    train_docs = (
        docs.filter(F.col("doc_id") % eval_mod != 0).select("doc_id").distinct()
    )
    return (
        train_docs.join(overlap, "doc_id", "left")
        .fillna(0, subset=["n_overlap"])
        .withColumn("contaminated", F.col("n_overlap") >= threshold)
        .orderBy("doc_id")
    )


def decontaminate_sql(
    eval_mod: int = DECON_EVAL_MOD,
    ngram: int = DECON_NGRAM,
    threshold: int = 1,
) -> str:
    return f"""
WITH toks AS (SELECT doc_id, {_DUCK_TOKENS} AS toks FROM documents),
 g AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, len(toks) - {ngram} + 2),
           i -> md5(array_to_string(toks[i : i + {ngram} - 1], ' '))))) AS g
  FROM toks WHERE len(toks) >= {ngram}),
 ev AS (SELECT DISTINCT g FROM g WHERE doc_id % {eval_mod} = 0),
 ov AS (SELECT doc_id, count(*) AS n_overlap
        FROM g JOIN ev USING (g) WHERE doc_id % {eval_mod} != 0 GROUP BY 1)
SELECT d.doc_id, coalesce(ov.n_overlap, 0) AS n_overlap,
       coalesce(ov.n_overlap, 0) >= {threshold} AS contaminated
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % {eval_mod} != 0) d
LEFT JOIN ov USING (doc_id)
ORDER BY d.doc_id
"""


def decontaminate_fuzzy(
    docs: DataFrame, eval_mod: int = DECON_EVAL_MOD
) -> DataFrame:
    """FUZZY benchmark decontamination: flag training documents that are
    MinHash-LSH near-duplicates of any held-out document — catches the
    paraphrased/reformatted contamination the exact n-gram filter
    (:func:`decontaminate`) misses (same banding as the dedup path, so
    a "contaminated" verdict here means "would have been a near-dup
    candidate of an eval doc").  ``doc_id % eval_mod == 0`` stands in
    for the benchmark set, as in :func:`decontaminate`.

    → (doc_id, n_shared_bands, contaminated) for every training doc —
    n_shared_bands ∈ [0, 32] is the LSH evidence strength (bands are
    unique per doc, so count(*) after the join IS the distinct count).

    100-TB shape: the eval side reduces to DISTINCT (band_id,
    band_hash) keys — benchmark-sized → BROADCAST; training band rows
    stream through the broadcast hash join (no shuffle of the big
    side), then one partial-agg count per doc.  No-shingle docs never
    enter banding (minhash_bands' hot-key guard) and report 0."""
    bands = minhash_bands(docs)
    ev = (
        bands.filter(F.col("doc_id") % eval_mod == 0)
        .select("band_id", "band_hash")
        .distinct()
    )
    train = bands.filter(F.col("doc_id") % eval_mod != 0)
    overlap = (
        train.join(F.broadcast(ev), ["band_id", "band_hash"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_bands"))
    )
    train_docs = (
        docs.filter(F.col("doc_id") % eval_mod != 0)
        .select("doc_id")
        .distinct()
    )
    return (
        train_docs.join(overlap, "doc_id", "left")
        .fillna(0, subset=["n_shared_bands"])
        .withColumn("contaminated", F.col("n_shared_bands") >= 1)
        .orderBy("doc_id")
    )


def decontaminate_fuzzy_sql(eval_mod: int = DECON_EVAL_MOD) -> str:
    """DuckDB mirror: same band construction as
    ``minhash_candidate_pairs_sql``, eval/train split on doc_id."""
    n_bands = MINHASH_K // LSH_BAND_ROWS
    band_selects = []
    for b in range(n_bands):
        cols = ", ".join(
            f"CAST(sig[{b * LSH_BAND_ROWS + r + 1}] AS VARCHAR)"
            for r in range(LSH_BAND_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, "
            f"md5(concat_ws(',', {cols})) AS band_hash FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    return f"""{_DUCK_MINHASH_CTES},
     sig AS (SELECT * FROM (SELECT doc_id, [{_duck_sig_items()}] AS sig FROM h)
             WHERE sig[1] IS NOT NULL),
     bands AS ({bands}),
     ev AS (SELECT DISTINCT band_id, band_hash FROM bands
            WHERE doc_id % {eval_mod} = 0),
     ov AS (SELECT doc_id, count(*) AS n_shared_bands
            FROM bands JOIN ev USING (band_id, band_hash)
            WHERE doc_id % {eval_mod} != 0 GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(ov.n_shared_bands, 0) AS BIGINT) AS n_shared_bands,
       coalesce(ov.n_shared_bands, 0) >= 1 AS contaminated
FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % {eval_mod} != 0) d
LEFT JOIN ov USING (doc_id)
ORDER BY d.doc_id
"""


# --- per-group quota sampling ---------------------------------------------------


def quota_sample(
    docs: DataFrame, group_col: str = "source", quota: int = 50
) -> DataFrame:
    """Domain-mix rebalancing: keep at most ``quota`` documents per
    group (source/domain), selected in md5(doc_id) order — deterministic,
    cluster-size-independent, reproducible across re-runs (the standard
    per-domain cap every crawl-mix pipeline applies before training).

    → (doc_id, group_col, rk) for the kept documents.

    100-TB shape: rank-within-group plans as a WindowGroupLimit —
    Spark's partial per-partition top-k runs BEFORE the exchange, so a
    mega-domain contributes at most ``quota`` rows per input partition
    to the shuffle instead of its full row count (plan-asserted)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= quota)
        .select("doc_id", group_col, "rk")
        .orderBy(group_col, "rk")
    )


def quota_sample_sql(group_col: str = "source", quota: int = 50) -> str:
    return f"""
WITH r AS (
  SELECT doc_id, {group_col},
         row_number() OVER (
           PARTITION BY {group_col}
           ORDER BY md5(cast(doc_id AS varchar)), doc_id) AS rk
  FROM documents)
SELECT doc_id, {group_col}, rk FROM r WHERE rk <= {quota}
ORDER BY {group_col}, rk
"""


# --- corpus vocabulary / deterministic sampling ------------------------------


def top_tokens(docs: DataFrame, k: int = 100) -> DataFrame:
    """Top-k tokens by document frequency (tokenizer-training prep):
    explode → two-phase count → global top-k.  Ties broken by token so
    the result is deterministic across partitionings."""
    toks = (
        docs.select(F.explode(F.array_distinct(F.expr(TOKENS_EXPR))).alias("token"))
        .filter(F.col("token") != "")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(k)
    )


def top_tokens_sql(k: int = 100) -> str:
    return f"""
SELECT token, count(*) AS df
FROM (SELECT unnest(list_distinct({_DUCK_TOKENS})) AS token FROM documents)
WHERE token != ''
GROUP BY token ORDER BY df DESC, token ASC LIMIT {k}
"""


def sample_by_hash(docs: DataFrame, rate_x1000: int = 100) -> DataFrame:
    """Deterministic corpus sampling: keep a doc iff
    md5(text) mod 1000 < rate_x1000.  Unlike rand()-based sampling this
    is reproducible across runs/cluster sizes and consistent for
    identical content — the property a training-data pipeline needs for
    held-out splits."""
    bucket = f"pmod({_spark_h32('text')}, 1000)"
    return (
        docs.filter(F.expr(f"{bucket} < {rate_x1000}"))
        .select("doc_id", F.expr(f"cast({bucket} as bigint)").alias("sample_bucket"))
        .orderBy("doc_id")
    )


def sample_by_hash_sql(rate_x1000: int = 100) -> str:
    bucket = f"{_duck_h32('text')} % 1000"
    return f"""
SELECT doc_id, CAST({bucket} AS BIGINT) AS sample_bucket
FROM documents WHERE {bucket} < {rate_x1000}
ORDER BY doc_id
"""


# --- Gopher-style repetition / quality signals --------------------------------


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document repetition + format signals from the Gopher quality
    filters (Rae et al., "Scaling Language Models: ... Gopher", 2021,
    §A1.1 — public paper): duplicate-line fraction, duplicate-line
    CHARACTER fraction (all occurrences of any repeated line counted),
    symbol-to-token ratio ('#' and '...'), bullet-point and
    ellipsis-terminated line fractions.  Integer-scaled x1000.

    100-TB shape: pure map stage — every signal is a higher-order
    function over the line array, nothing shuffles, NULL text propagates
    NULL.  Duplicate detection sorts the line array and marks values
    equal to their sorted neighbor (O(L log L) + O(L·D) membership, D =
    distinct duplicated values — web pages have bounded line counts)."""
    lines = "split(text, '\\n')"
    # values that occur more than once == equal to a sorted neighbor
    dupvals = (
        f"array_distinct(filter(transform("
        f"case when size({lines}) < 2 then array() else sequence(0, size({lines}) - 2) end, "
        f"i -> case when array_sort({lines})[i] = array_sort({lines})[i+1] "
        f"then array_sort({lines})[i] end), x -> x is not null))"
    )
    n_lines = f"size({lines})"
    n_dup_lines = f"size(filter({lines}, l -> array_contains({dupvals}, l)))"
    dup_chars = (
        f"aggregate(filter({lines}, l -> array_contains({dupvals}, l)), "
        f"cast(0 as bigint), (s, l) -> s + length(l))"
    )
    total_chars = (
        f"aggregate({lines}, cast(0 as bigint), (s, l) -> s + length(l))"
    )
    hash_count = "length(text) - length(replace(text, '#', ''))"
    ellipsis_count = "(length(text) - length(replace(text, '...', ''))) / 3"
    n_toks = f"size({TOKENS_EXPR})"
    bullet = (
        f"size(filter({lines}, l -> ltrim(l) like '-%' or ltrim(l) like '*%' "
        f"or ltrim(l) like '•%'))"
    )
    ell_lines = f"size(filter({lines}, l -> rtrim(l) like '%...'))"
    x1000 = "cast(floor(1000 * cast({num} as bigint) / {den}) as bigint)"
    return docs.select(
        "doc_id",
        F.expr(f"cast({n_lines} as bigint)").alias("n_lines"),
        F.expr(x1000.format(num=n_dup_lines, den=n_lines)).alias(
            "dup_line_frac_x1000"
        ),
        F.expr(
            f"case when {total_chars} = 0 then 0 else "
            + x1000.format(num=dup_chars, den=total_chars)
            + " end"
        ).alias("dup_line_char_frac_x1000"),
        F.expr(
            f"case when {n_toks} = 0 then 0 else "
            f"cast(floor(1000 * ({hash_count} + {ellipsis_count}) / {n_toks}) as bigint) end"
        ).alias("symbol_ratio_x1000"),
        F.expr(x1000.format(num=bullet, den=n_lines)).alias("bullet_line_frac_x1000"),
        F.expr(x1000.format(num=ell_lines, den=n_lines)).alias(
            "ellipsis_line_frac_x1000"
        ),
    ).orderBy("doc_id")


REPETITION_STATS_SQL = """
WITH t AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS lines,
         string_split_regex(trim(text), ' +') AS toks
  FROM documents),
 d AS (
  SELECT doc_id, text, lines, toks,
         list_distinct(list_filter(list_transform(
           CASE WHEN len(lines) < 2 THEN [] ELSE range(1, len(lines)) END,
           i -> CASE WHEN list_sort(lines)[i] = list_sort(lines)[i+1]
                THEN list_sort(lines)[i] END), x -> x IS NOT NULL)) AS dupvals
  FROM t)
SELECT doc_id,
  CAST(len(lines) AS BIGINT) AS n_lines,
  CAST(floor(1000 * len(list_filter(lines, l -> list_contains(dupvals, l))) / len(lines)) AS BIGINT)
    AS dup_line_frac_x1000,
  CASE WHEN CAST(list_sum(list_transform(lines, l -> length(l))) AS BIGINT) = 0 THEN 0 ELSE
    -- coalesce: DuckDB list_sum([]) is NULL where Spark's aggregate init
    -- is 0; NULL text still yields NULL via the NULL denominator
    CAST(floor(1000 * coalesce(CAST(list_sum(list_transform(list_filter(lines, l -> list_contains(dupvals, l)), l -> length(l))) AS BIGINT), 0)
      / CAST(list_sum(list_transform(lines, l -> length(l))) AS BIGINT)) AS BIGINT) END
    AS dup_line_char_frac_x1000,
  CASE WHEN len(toks) = 0 THEN 0 ELSE
    CAST(floor(1000 * ((length(text) - length(replace(text, '#', '')))
      + (length(text) - length(replace(text, '...', ''))) / 3) / len(toks)) AS BIGINT) END
    AS symbol_ratio_x1000,
  CAST(floor(1000 * len(list_filter(lines, l -> ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%' OR ltrim(l) LIKE chr(8226) || '%')) / len(lines)) AS BIGINT)
    AS bullet_line_frac_x1000,
  CAST(floor(1000 * len(list_filter(lines, l -> rtrim(l) LIKE '%...')) / len(lines)) AS BIGINT)
    AS ellipsis_line_frac_x1000
FROM d ORDER BY doc_id
"""


def top_ngram_stats(docs: DataFrame, n: int = 2) -> DataFrame:
    """Most-frequent word ``n``-gram per document + the fraction of
    characters it covers (the remaining Gopher §A1.1 repetition signal:
    'fraction of characters in the most frequent n-gram').

    → (doc_id, top_ngram, top_count, top_char_frac_x1000).

    100-TB shape: pure map stage.  The per-doc mode is found WITHOUT a
    shuffle via aggregate() carrying a struct accumulator over the
    SORTED gram array (run-length scan; ties → lexicographically first
    gram, which the ascending sort makes the first-reached run).  The
    oracle states the same semantics relationally (count + row_number)."""
    grams = (
        f"case when size(toks) < {n} then slice(toks, 1, 0) else "
        f"transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f'toks[i+{j}]' for j in range(n))})) end"
    )
    run = "case when g = s.prev then s.run + 1 else cast(1 as bigint) end"
    scan = (
        f"aggregate(array_sort(grams), "
        f"struct('' as prev, cast(0 as bigint) as run, cast(0 as bigint) as best, '' as bg), "
        f"(s, g) -> named_struct("
        f"'prev', g, "
        f"'run', {run}, "
        f"'best', case when ({run}) > s.best then ({run}) else s.best end, "
        f"'bg', case when ({run}) > s.best then g else s.bg end))"
    )
    total_chars = "aggregate(toks, cast(0 as bigint), (s, t) -> s + length(t))"
    return (
        docs.select("doc_id", F.expr(TOKENS_EXPR).alias("toks"))
        .select("doc_id", "toks", F.expr(grams).alias("grams"))
        .select("doc_id", F.expr(scan).alias("w"), F.expr(total_chars).alias("tc"))
        .select(
            "doc_id",
            F.expr("w.bg").alias("top_ngram"),
            F.expr("w.best").alias("top_count"),
            F.expr(
                "case when tc = 0 or w.best = 0 then cast(0 as bigint) else "
                "cast(floor(1000 * w.best * length(w.bg) / tc) as bigint) end"
            ).alias("top_char_frac_x1000"),
        )
        .orderBy("doc_id")
    )


def top_ngram_stats_sql(n: int = 2) -> str:
    gram = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return f"""
WITH t AS (SELECT doc_id, text, {_DUCK_TOKENS} AS toks FROM documents),
 g AS (
  SELECT doc_id, {gram} AS g
  FROM t, unnest(CASE WHEN len(toks) < {n} THEN [] ELSE range(1, len(toks) - {n} + 2) END) AS u(i)),
 c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
 top AS (
  SELECT doc_id, g, c FROM (
    SELECT doc_id, g, c,
           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
    FROM c) WHERE rn = 1),
 tc AS (SELECT doc_id, text,
               CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS tc
        FROM t)
SELECT tc.doc_id,
  CASE WHEN tc.text IS NULL THEN NULL ELSE coalesce(top.g, '') END AS top_ngram,
  CASE WHEN tc.text IS NULL THEN NULL ELSE CAST(coalesce(top.c, 0) AS BIGINT) END AS top_count,
  CASE WHEN tc.text IS NULL THEN NULL
       WHEN tc.tc = 0 OR top.c IS NULL THEN 0
       ELSE CAST(floor(1000 * top.c * length(top.g) / tc.tc) AS BIGINT) END AS top_char_frac_x1000
FROM tc LEFT JOIN top USING (doc_id)
ORDER BY tc.doc_id
"""


# --- PII scrubbing ------------------------------------------------------------

# Patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB)
# interpret identically: literal classes, (…) groups, {m,n} bounds, \b
# on ASCII word chars.  No lookaround (RE2 has none), no backslash
# classes inside [] beyond what both share.
PII_PATTERNS = (
    # name, pattern, replacement
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    # 9+ digit runs: SSN/account/phone-without-separator shaped
    ("idnum", r"\b\d{9,}\b", "<ID>"),
)


def pii_scrub(docs: DataFrame) -> DataFrame:
    """C4/Dolma-style PII redaction signals: count and scrub emails,
    IPv4 addresses, and 9+-digit identifier runs, in that order, each
    count taken on the text AFTER the previous scrub so an email's
    digits are never double-counted as an id.  Returns per-doc counts
    plus md5 of the fully scrubbed text (the hash, not the text, keeps
    the oracle comparison small).

    100-TB shape: pure map stage — three JVM regexp passes per doc,
    nothing shuffles, NULL text propagates NULL everywhere."""
    cur = F.col("text")
    cols = [F.col("doc_id")]
    for name, pat, repl in PII_PATTERNS:
        cols.append(
            F.regexp_count(cur, F.lit(pat)).cast("bigint").alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, repl)
    cols.append(F.md5(cur).alias("clean_md5"))
    return docs.select(*cols).orderBy("doc_id")


def pii_scrub_sql() -> str:
    """DuckDB mirror: len(regexp_extract_all) counts (regexp_count has
    the same non-overlapping left-to-right semantics), regexp_replace
    needs the 'g' flag (DuckDB replaces only the first match by
    default; Spark always replaces all)."""
    sels, cur = [], "text"
    for name, pat, repl in PII_PATTERNS:
        sels.append(
            f"CAST(len(regexp_extract_all({cur}, '{pat}')) AS BIGINT) AS n_{name}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    sel = ",\n  ".join(sels)
    return f"""
SELECT doc_id,
  {sel},
  md5({cur}) AS clean_md5
FROM documents
ORDER BY doc_id
"""


# --- Near-dup clustering (groups, not just pairs) -----------------------------


def dedup_groups(docs: DataFrame) -> DataFrame:
    """Cluster near-duplicate documents: connected components over the
    MinHash-LSH candidate-pair graph, electing min(doc_id) as each
    group's canonical document.  A dedup pipeline acts on GROUPS (keep
    one per cluster), not raw pairs — pairs (a,b),(b,c) must collapse
    to one keeper, which pairwise filtering alone cannot decide.

    → (doc_id, group_id, group_size, is_canonical) for EVERY input doc;
    docs with no near-dup (or no shingles) are their own singleton
    group.

    100-TB shape: edges come from the bucketed band self-join (never
    all-pairs), components run O(log diameter) pointer-jumping rounds
    on those edges only — singletons never enter the iteration — and
    the final labeling is one join on doc_id plus a per-group count
    window (group keys are fine-grained; no skew)."""
    from pyspark.sql import Window

    from ..operators.graph import connected_components

    b = minhash_bands(docs)
    a, c = b.alias("a"), b.alias("b")
    edges = (
        a.join(
            c,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    # a pair shared by several bands repeats: connected components
    # dedups its edges once
    labels = connected_components(edges, src="src", dst="dst").select(
        F.col("id").alias("doc_id"), F.col("comp").alias("group_id")
    )
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .withColumn(
            "group_id", F.coalesce("group_id", F.col("doc_id")).cast("bigint")
        )
        .withColumn(
            "group_size",
            F.count("*").over(Window.partitionBy("group_id")).cast("bigint"),
        )
        .withColumn("is_canonical", F.col("group_id") == F.col("doc_id"))
        .orderBy("doc_id")
    )


def dedup_groups_sql() -> str:
    """DuckDB mirror: identical band edges (the construction is shared
    with ``minhash_candidate_pairs_sql``), components via a recursive
    CTE that propagates every reachable label along symmetrized edges —
    UNION (distinct) recursion terminates at the label-set fixpoint,
    and min(label) per node is then the component minimum."""
    n_bands = MINHASH_K // LSH_BAND_ROWS
    band_selects = []
    for b in range(n_bands):
        cols = ", ".join(
            f"CAST(sig[{b * LSH_BAND_ROWS + r + 1}] AS VARCHAR)"
            for r in range(LSH_BAND_ROWS)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5(concat_ws(',', {cols})) AS band_hash FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    ctes = _DUCK_MINHASH_CTES.replace("WITH ", "WITH RECURSIVE ", 1)
    return f"""{ctes},
     sig AS (SELECT * FROM (SELECT doc_id, [{_duck_sig_items()}] AS sig FROM h)
             WHERE sig[1] IS NOT NULL),
     bands AS ({bands}),
     edges AS (
       SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
       FROM bands a JOIN bands b
         ON a.band_id = b.band_id AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id),
     sym AS (SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges),
     reach(id, label) AS (
       SELECT DISTINCT a, a FROM sym
       UNION
       SELECT s.b, r.label FROM reach r JOIN sym s ON s.a = r.id),
     comp AS (SELECT id, min(label) AS group_id FROM reach GROUP BY id),
     lab AS (
       SELECT d.doc_id,
              CAST(coalesce(c.group_id, d.doc_id) AS BIGINT) AS group_id
       FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
SELECT doc_id, group_id,
  CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size,
  group_id = doc_id AS is_canonical
FROM lab
ORDER BY doc_id
"""

# --- C4 cleaning ---------------------------------------------------------------

# terminal punctuation a retained line must end with (C4 §2.2: period,
# exclamation mark, question mark, end quotation mark)
C4_TERMINALS = (".", "!", "?", '"', "”")


def c4_clean(docs: DataFrame) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020 §2.2 — public paper):
    retain lines that end in terminal punctuation, have >= 3 words, and
    don't mention 'javascript'; flag pages containing 'lorem ipsum' or a
    curly brace; a page is kept when the cleaned text still has >= 5
    sentences (terminal-punct count) and neither flag fires.

    → (doc_id, n_lines, n_kept_lines, n_sentences, clean_len, clean_md5,
       has_lorem, has_brace, keep_doc).  The md5, not the cleaned text,
    crosses the oracle compare.

    100-TB shape: pure map stage — line filter and sentence count are
    higher-order functions over the split array, nothing shuffles, NULL
    text propagates NULL (the concat is CASE-guarded: Spark's concat_ws
    would turn a NULL array into '' where DuckDB keeps NULL)."""
    terms = ", ".join(f"'{t}'" for t in C4_TERMINALS)
    keep_line = (
        f"l -> right(rtrim(l), 1) in ({terms})"
        f" and size(split(trim(l), ' +')) >= 3"
        f" and not lower(l) like '%javascript%'"
    )
    step = docs.select(
        "doc_id",
        "text",
        F.expr(f"filter(split(text, '\\n'), {keep_line})").alias("_kept"),
    ).select(
        "doc_id",
        "text",
        "_kept",
        F.expr(
            "case when _kept is null then null else concat_ws('\\n', _kept) end"
        ).alias("_clean"),
    )
    occ = lambda ch: f"(length(_clean) - length(replace(_clean, '{ch}', '')))"
    step = step.select(
        "doc_id",
        F.expr("cast(size(split(text, '\\n')) as bigint)").alias("n_lines"),
        F.expr("cast(size(_kept) as bigint)").alias("n_kept_lines"),
        F.expr(
            f"cast({occ('.')} + {occ('!')} + {occ('?')} as bigint)"
        ).alias("n_sentences"),
        F.expr("cast(length(_clean) as bigint)").alias("clean_len"),
        F.md5("_clean").alias("clean_md5"),
        F.expr("lower(text) like '%lorem ipsum%'").alias("has_lorem"),
        # C4 removes any page containing a curly bracket — either one
        F.expr("instr(text, '{') > 0 or instr(text, '}') > 0").alias("has_brace"),
    )
    return step.withColumn(
        "keep_doc",
        F.expr("n_sentences >= 5 and not has_lorem and not has_brace"),
    ).orderBy("doc_id")


def _c4_clean_sql() -> str:
    terms = ", ".join(
        f"'{t}'" if t != "”" else "chr(8221)" for t in C4_TERMINALS
    )
    occ = lambda ch: f"(length(clean) - length(replace(clean, '{ch}', '')))"
    return f"""
WITH t AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents),
 k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, l -> right(rtrim(l), 1) IN ({terms})
           AND len(string_split_regex(trim(l), ' +')) >= 3
           AND NOT lower(l) LIKE '%javascript%') AS kept
  FROM t),
 -- array_to_string of an empty (or all-NULL) list is NULL in DuckDB
 -- where Spark's concat_ws gives ''; only a NULL kept array (NULL text)
 -- may yield NULL clean
 c AS (SELECT *, CASE WHEN kept IS NULL THEN NULL
                 ELSE coalesce(array_to_string(kept, chr(10)), '') END AS clean FROM k),
 s AS (
  SELECT doc_id,
    CAST(len(lines) AS BIGINT) AS n_lines,
    CAST(len(kept) AS BIGINT) AS n_kept_lines,
    CAST({occ('.')} + {occ('!')} + {occ('?')} AS BIGINT) AS n_sentences,
    CAST(length(clean) AS BIGINT) AS clean_len,
    md5(clean) AS clean_md5,
    lower(text) LIKE '%lorem ipsum%' AS has_lorem,
    strpos(text, '{{') > 0 OR strpos(text, '}}') > 0 AS has_brace
  FROM c)
SELECT *, n_sentences >= 5 AND NOT has_lorem AND NOT has_brace AS keep_doc
FROM s ORDER BY doc_id
"""


C4_CLEAN_SQL = _c4_clean_sql()

# --- Sequence packing ----------------------------------------------------------


def pack_chunks(docs: DataFrame, capacity: int = 256) -> DataFrame:
    """Concat-and-chunk sequence packing: lay every document's tokens
    out on one global tape in a deterministic md5(doc_id) order and cut
    the tape into fixed-``capacity`` training chunks (the standard
    GPT-style pretraining packing — documents may straddle chunk
    boundaries).  → (doc_id, n_tok, cum_before, chunk_first, chunk_last,
    n_chunks); NULL-text docs are excluded (nothing to pack).

    100-TB shape: the global running sum is computed with NO
    single-partition window — the shared two-phase scaffolding
    (``graph.ranged_partition_offsets``, weighted by n_tok):
    range-repartition on the order key (checkpoint pins the sampled
    boundaries), per-partition prefix sums, then a tiny per-partition
    total collect broadcast back as offsets.  Byte-identical to
    ``sum().over(Window.orderBy(...))`` while every stage parallelizes."""
    from jsonld_spark.operators.graph import ranged_partition_offsets

    base = docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.expr(f"cast(size({TOKENS_EXPR}) as bigint)").alias("n_tok"),
        F.expr("md5(cast(doc_id as string))").alias("_ord"),
    )
    ranged, off_df = ranged_partition_offsets(base, ["_ord", "doc_id"], weight="n_tok")
    w = (
        Window.partitionBy("_pid")
        .orderBy("_ord", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        ranged.withColumn("_local", F.coalesce(F.sum("n_tok").over(w), F.lit(0)))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("cum_before", (F.col("_off") + F.col("_local")).cast("long"))
    )
    return packed.select(
        "doc_id",
        "n_tok",
        "cum_before",
        F.expr(f"cum_before div {capacity}").alias("chunk_first"),
        F.expr(f"(cum_before + n_tok - 1) div {capacity}").alias("chunk_last"),
        F.expr(
            f"(cum_before + n_tok - 1) div {capacity} - cum_before div {capacity} + 1"
        ).alias("n_chunks"),
    ).orderBy("doc_id")


def pack_chunks_sql(capacity: int = 256) -> str:
    """DuckDB mirror: the same tape layout as ONE global window (the
    oracle states the semantics the two-phase job implements)."""
    return f"""
WITH b AS (
  SELECT doc_id, CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS ord
  FROM documents WHERE text IS NOT NULL),
 c AS (
  SELECT doc_id, n_tok,
         CAST(coalesce(sum(n_tok) OVER (
           ORDER BY ord, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM b)
SELECT doc_id, n_tok, cum_before,
  cum_before // {capacity} AS chunk_first,
  (cum_before + n_tok - 1) // {capacity} AS chunk_last,
  (cum_before + n_tok - 1) // {capacity} - cum_before // {capacity} + 1 AS n_chunks
FROM c ORDER BY doc_id
"""


# --- TF-IDF top terms ----------------------------------------------------------


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` terms per document by tf·idf — the classic
    keyword-extraction / relevance signal, computed ENTIRELY in exact
    integer arithmetic so the ranking is bit-identical across engines
    and cluster sizes: ``idf_x1000 = (N * 1000) div df`` (no float log —
    a monotone idf surrogate; log damping changes absolute scores, not
    the need for a per-corpus rarity weight), and the ordering key is
    the exact decimal(38,0) product ``tf * idf_x1000`` (never overflows:
    tf ≤ 2^40, N ≤ 2^50 both fit a 128-bit product), ties broken by
    term.

    → (doc_id, rnk, term, tf, df, idf_x1000), ``rnk`` 1-based.

    100-TB shape: tf = one explode + groupBy(doc_id, term) with
    map-side partial counts; df = a second partial-agg groupBy over the
    (already aggregated) tf table — never the raw token stream; N joins
    as a 1-row broadcast; the per-doc top-k is a row_number window that
    Spark rewrites to WindowGroupLimit (partial top-k before the
    shuffle).  Hot terms ('the') have large df but the df groupBy input
    is one row per (doc, term) — bounded by the corpus vocabulary ×
    docs, with partial aggregation absorbing the skew."""
    from ..pipeline import parallelize_small_input

    # parallelize the token explode on one-row-group small inputs; the
    # 2 MB floor keeps truly tiny inputs on the cheaper serial plan
    base = parallelize_small_input(
        docs.filter(F.col("text").isNotNull()).select("doc_id", "text"),
        min_bytes=2_000_000,
    ).select("doc_id", F.explode(F.expr(TOKENS_EXPR)).alias("term"))
    tf = base.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.filter(F.col("text").isNotNull()).agg(
        F.count("*").alias("_n")
    )
    scored = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("idf_x1000", F.expr("(_n * 1000) div df"))
        .withColumn(
            "_score", F.expr("cast(tf as decimal(38,0)) * idf_x1000")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "rnk", "term", "tf", "df", "idf_x1000")
        .orderBy("doc_id", "rnk")
    )


def tfidf_top_terms_sql(k: int = 3) -> str:
    """DuckDB mirror: same integer idf and exact HUGEINT ordering key."""
    return f"""
WITH base AS (
  SELECT doc_id, unnest({_DUCK_TOKENS}) AS term
  FROM documents WHERE text IS NOT NULL),
 tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM base GROUP BY 1, 2),
 dfq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
 n AS (SELECT count(*)::BIGINT AS _n FROM documents WHERE text IS NOT NULL),
 scored AS (
  SELECT doc_id, tf.term, tf, df,
         (_n * 1000) // df AS idf_x1000,
         tf::HUGEINT * ((_n * 1000) // df) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN n),
 ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rnk
  FROM scored)
SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tf, df, idf_x1000
FROM ranked WHERE rnk <= {k}
ORDER BY doc_id, rnk
"""


# --- Cross-document boilerplate detection --------------------------------------


def boilerplate_lines(docs: DataFrame, min_df: int = 2) -> DataFrame:
    """Corpus-level boilerplate detection: a (trimmed, non-empty) line
    is boilerplate when it appears in ≥ ``min_df`` DISTINCT documents —
    nav bars, cookie banners, footers repeat VERBATIM across a site,
    which no single-document signal (c4_clean, repetition_stats) can
    see.  → (doc_id, n_lines, n_boiler_lines, boiler_ratio_x1000) for
    every doc with at least one non-empty line.

    100-TB shape: the line table immediately collapses to md5 hashes,
    so the exchanges carry (doc_id, 32-char digest) — never line text;
    line document-frequency is a partial-agg count-distinct groupBy on
    the digest; the flag rejoin is digest-equi (AQE-sized) and the
    per-doc rollup a second partial-agg groupBy.  Mega-hot lines
    ('Home') make large join groups but the output stays one row per
    input line occurrence — bounded by the corpus, no pair blowup."""
    # NOT parallelize_small_input-wrapped: the line split + md5 ahead of
    # the first exchange is too light per byte for the extra exchange to
    # pay off — measured slower with the hook at BOTH 0.6 MB (0.30→0.88s)
    # and 5.9 MB (0.62→0.94s); the partial agg absorbs the serial map.
    lines = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", "\n")).alias("_raw"))
        .select("doc_id", F.md5(F.trim("_raw")).alias("lh"), F.trim("_raw").alias("_t"))
        .filter(F.col("_t") != "")
        .drop("_t")
    )
    dfq = lines.groupBy("lh").agg(
        F.countDistinct("doc_id").alias("line_df")
    )
    per_doc = (
        lines.join(dfq, "lh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum((F.col("line_df") >= min_df).cast("int")).alias(
                "n_boiler_lines"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_lines",
        "n_boiler_lines",
        F.expr("(1000 * n_boiler_lines) div n_lines").alias(
            "boiler_ratio_x1000"
        ),
    ).orderBy("doc_id")


def boilerplate_lines_sql(min_df: int = 2) -> str:
    """DuckDB mirror: same digest-keyed df count and integer ratio."""
    return f"""
WITH raw AS (
  SELECT doc_id, trim(x) AS line FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS x
    FROM documents WHERE text IS NOT NULL)),
 l AS (SELECT doc_id, md5(line) AS lh FROM raw WHERE line <> ''),
 dfq AS (SELECT lh, count(DISTINCT doc_id) AS line_df FROM l GROUP BY 1),
 p AS (
  SELECT doc_id, count(*)::BIGINT AS n_lines,
         sum(CASE WHEN line_df >= {min_df} THEN 1 ELSE 0 END)::BIGINT
           AS n_boiler_lines
  FROM l JOIN dfq USING (lh) GROUP BY 1)
SELECT doc_id, n_lines, n_boiler_lines,
       (1000 * n_boiler_lines) // n_lines AS boiler_ratio_x1000
FROM p ORDER BY doc_id
"""


# --- URL canonicalization ------------------------------------------------------


def canonical_url_expr(col: str = "url") -> str:
    """SQL expression canonicalizing a URL column — the crawl-side
    normalization that collapses trivially-distinct recrawl urls BEFORE
    any content hashing: lowercase scheme+host, strip the scheme's
    default port (:80 http / :443 https), drop the fragment, empty path
    → '/', and SORT query parameters (param order is almost always
    non-semantic; '?b=2&a=1' and '?a=1&b=2' are the same resource).

    Pure JVM regexp/array expressions — a map stage, no Python, no
    shuffle; compose with groupBy(canonical) for URL-level dedup."""
    u = f"regexp_replace({col}, '#.*$', '')"  # defragment first
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    hostport = f"lower(regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))"
    host = (
        f"case when {scheme} = 'http' then regexp_replace({hostport}, ':80$', '') "
        f"when {scheme} = 'https' then regexp_replace({hostport}, ':443$', '') "
        f"else {hostport} end"
    )
    pathq = f"regexp_extract({u}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1)"
    path = f"regexp_extract({pathq}, '^([^?]*)', 1)"
    path_norm = f"case when {path} = '' then '/' else {path} end"
    query = f"regexp_extract({pathq}, '\\\\?(.*)$', 1)"
    qsorted = f"concat_ws('&', sort_array(split({query}, '&')))"
    return (
        f"case when {scheme} = '' then {col} "  # not an absolute URL: keep
        f"else concat({scheme}, '://', {host}, {path_norm}, "
        f"case when {query} = '' then '' else concat('?', {qsorted}) end) end"
    )


def canonical_urls(pages: DataFrame, col: str = "url") -> DataFrame:
    """→ input plus a ``canonical_url`` column (see
    :func:`canonical_url_expr`)."""
    return pages.withColumn("canonical_url", F.expr(canonical_url_expr(col)))


# --- Domain-level curation rollups ---------------------------------------------


def domain_quality(docs: DataFrame) -> DataFrame:
    """Domain(source)-level quality rollup — curation acts per DOMAIN
    (keep/drop/reweight a whole source), so the per-doc quality signals
    roll up: docs, passing docs, integer-scaled mean stopword ratio,
    pass ratio, and a ``low_quality`` flag (pass ratio < 50%).

    → (source, n_docs, n_pass, mean_stop_x1000, pass_ratio_x1000,
    low_quality), one row per source.

    100-TB shape: reuses :func:`quality_score` (pure map) + one
    doc_id-equi join to recover the source column + one partial-agg
    groupBy over sources (the domain list, not the corpus).  NULL-text
    docs contribute to n_docs but not to the means (sum/count skip
    NULLs identically in both engines)."""
    q = quality_score(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    agg = q.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("quality_pass"), F.lit(0)).cast("bigint").alias("n_pass"),
        F.expr(
            "case when count(stop_ratio_x1000) = 0 then null "
            "else sum(stop_ratio_x1000) div count(stop_ratio_x1000) end"
        ).cast("bigint").alias("mean_stop_x1000"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_pass",
        "mean_stop_x1000",
        F.expr("(1000 * n_pass) div n_docs").alias("pass_ratio_x1000"),
        F.expr("(1000 * n_pass) div n_docs < 500").alias("low_quality"),
    ).orderBy("source")


def domain_quality_sql() -> str:
    stop = "t IN ('the', 'a', 'of', 'and', 'to')"
    return f"""
WITH q AS (
  SELECT source,
    cast(floor(1000 * len(list_filter({_DUCK_TOKENS}, t -> {stop})) / len({_DUCK_TOKENS})) AS BIGINT) AS stop_ratio_x1000,
    CASE WHEN len({_DUCK_TOKENS}) >= 10 AND len(list_filter({_DUCK_TOKENS}, t -> {stop})) > 0 THEN 1 ELSE 0 END AS quality_pass
  FROM documents),
 a AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         coalesce(sum(quality_pass), 0)::BIGINT AS n_pass,
         CASE WHEN count(stop_ratio_x1000) = 0 THEN NULL
              ELSE (sum(stop_ratio_x1000) // count(stop_ratio_x1000))::BIGINT END
           AS mean_stop_x1000
  FROM q GROUP BY 1)
SELECT source, n_docs, n_pass, mean_stop_x1000,
       (1000 * n_pass) // n_docs AS pass_ratio_x1000,
       (1000 * n_pass) // n_docs < 500 AS low_quality
FROM a ORDER BY source
"""


def corpus_stats(docs: DataFrame) -> DataFrame:
    """One-row dataset-card summary: doc counts, text coverage, total
    chars/tokens, vocabulary-of-metadata cardinalities — the numbers a
    training-data release documents.  Single partial-agg pass; the
    count-distincts are over tiny-cardinality metadata columns."""
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.count("text").alias("n_with_text"),
        F.coalesce(F.sum(F.length("text")), F.lit(0)).cast("bigint").alias(
            "total_chars"
        ),
        F.coalesce(
            F.sum(F.expr(f"size({TOKENS_EXPR})")), F.lit(0)
        ).cast("bigint").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )


CORPUS_STATS_SQL = f"""
SELECT count(*)::BIGINT AS n_docs,
       count(text)::BIGINT AS n_with_text,
       coalesce(sum(length(text)), 0)::BIGINT AS total_chars,
       coalesce(sum(len({_DUCK_TOKENS})), 0)::BIGINT AS total_tokens,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT source)::BIGINT AS n_sources
FROM documents
"""
