"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

- Brute-force cosine top-k: the exactness baseline.  Broadcast the query
  set, JVM-side dot products via ``zip_with``/``aggregate`` — at 100 TB
  this is a broadcast-join map stage over the corpus, no shuffle except
  the final per-query top-k (a tiny groupBy on n_queries keys).
- LSH-bucketed variant (random signed projections): the scale path —
  candidate generation by bucket join instead of full scan.

Scores are integer-scaled (x1e6, floor) so the DuckDB oracle hashes
identically despite float summation-order differences.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window, functions as F

# deterministic random hyperplanes for LSH (shared with tests)
LSH_PLANES = 16
_rng = random.Random(11)
HYPERPLANES = [
    [_rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(LSH_PLANES)
]


def _dot_expr(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (s, v) -> s + v)"


def _norm_expr(a: str) -> str:
    return f"sqrt({_dot_expr(a, a)})"


def _cos_x1e6(q: str, e: str, qn: str, en: str):
    """Integer-scaled cosine from a per-pair dot product and PRECOMPUTED
    per-vector norm columns — recomputing the norms inside the pair
    expression would re-run two full d-element aggregates per candidate
    pair (3x the arithmetic at candidate-set scale)."""
    return F.expr(
        f"cast(floor(1000000 * {_dot_expr(q, e)} / ({qn} * {en})) as bigint)"
    )


def cosine_topk(
    emb: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Top-k cosine neighbors for the first ``n_queries`` vectors.
    Returns (query_id, neighbor_id, rank, cos_x1e6)."""
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.expr(_norm_expr("embedding")).alias("qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e"),
        F.expr(_norm_expr("embedding")).alias("en"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos_x1e6", _cos_x1e6("q", "e", "qn", "en"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_x1e6").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_x1e6")
        .orderBy("query_id", "rank")
    )


def cosine_topk_sql(n_queries: int = 10, k: int = 5) -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {n_queries}),
 scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         cast(floor(1000000 * list_dot_product(qv::DOUBLE[], embedding::DOUBLE[]) /
           (sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])) * sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])))) AS bigint) AS cos_x1e6
  FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
 ranked AS (
  SELECT query_id, neighbor_id, cos_x1e6,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, cos_x1e6 FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def near_dup_embeddings(
    emb: DataFrame, threshold_x1e6: int = 400_000, exact: bool = False
) -> DataFrame:
    """Pairs with cosine ≥ threshold (vec_a < vec_b).

    Default path: LSH band-bucket candidate generation + exact cosine
    re-rank — the O(n²) cross join would be a scale-killer as THE dedup
    at 10^12 rows, so bucketing is the default and the cross join sits
    behind ``exact=True`` (the exactness baseline, recall asserted in
    tests).  The DuckDB oracle mirrors the same bucket construction."""
    na_col = F.expr(_norm_expr("embedding")).alias("na")
    nb_col = F.expr(_norm_expr("embedding")).alias("nb")
    if exact:
        a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), na_col)
        b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), nb_col)
        pairs = a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    else:
        bk = lsh_buckets(emb)
        cand = (
            bk.alias("x")
            .join(
                bk.alias("y"),
                (F.col("x.band_id") == F.col("y.band_id"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.vec_id") < F.col("y.vec_id")),
            )
            .select(
                F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b")
            )
            .distinct()
        )
        ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), na_col)
        eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), nb_col)
        pairs = cand.join(ea, "vec_a").join(eb, "vec_b")
    return (
        pairs.withColumn("cos_x1e6", _cos_x1e6("ea", "eb", "na", "nb"))
        .filter(F.col("cos_x1e6") >= threshold_x1e6)
        .select("vec_a", "vec_b", "cos_x1e6")
        .orderBy("vec_a", "vec_b")
    )


_DUCK_COS = (
    "cast(floor(1000000 * list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) /"
    " (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) *"
    " sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))) AS bigint)"
)


def _duck_buckets_sql() -> str:
    """UNION ALL body mirroring ``lsh_buckets``: (vec_id, band_id, bucket)
    from the same fixed hyperplanes (float repr round-trips exactly)."""
    selects = []
    for b in range(LSH_BANDS):
        bits = []
        for j in range(LSH_BITS_PER_BAND):
            plane = HYPERPLANES[b * LSH_BITS_PER_BAND + j]
            arr = "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
            bits.append(
                f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}) > 0 THEN {1 << j} ELSE 0 END)"
            )
        selects.append(
            f"SELECT vec_id, {b} AS band_id, {' + '.join(bits)} AS bucket FROM embeddings"
        )
    return " UNION ALL ".join(selects)


def near_dup_embeddings_sql(
    threshold_x1e6: int = 400_000, exact: bool = False
) -> str:
    cos = _DUCK_COS.format(a="a.embedding", b="b.embedding")
    if exact:
        return f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cos_x1e6
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {cos} >= {threshold_x1e6}
ORDER BY vec_a, vec_b
"""
    return f"""
WITH buckets AS ({_duck_buckets_sql()}),
 cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM buckets x JOIN buckets y
    ON x.band_id = y.band_id AND x.bucket = y.bucket AND x.vec_id < y.vec_id)
SELECT vec_a, vec_b, {cos} AS cos_x1e6
FROM cand
JOIN embeddings a ON cand.vec_a = a.vec_id
JOIN embeddings b ON cand.vec_b = b.vec_id
WHERE {cos} >= {threshold_x1e6}
ORDER BY vec_a, vec_b
"""


def ann_topk_lsh_sql(n_queries: int = 10, k: int = 5) -> str:
    """DuckDB mirror of ``ann_topk_lsh``: same hyperplane buckets, same
    candidate join, same exact re-rank as ``cosine_topk_sql``."""
    cos = _DUCK_COS.format(a="qv", b="e.embedding")
    return f"""
WITH buckets AS ({_duck_buckets_sql()}),
 qb AS (SELECT vec_id AS query_id, band_id, bucket FROM buckets WHERE vec_id < {n_queries}),
 cand AS (
  SELECT DISTINCT qb.query_id, bk.vec_id AS neighbor_id
  FROM buckets bk JOIN qb ON bk.band_id = qb.band_id AND bk.bucket = qb.bucket
  WHERE bk.vec_id != qb.query_id),
 q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {n_queries}),
 scored AS (
  SELECT cand.query_id, cand.neighbor_id, {cos} AS cos_x1e6
  FROM cand JOIN q ON cand.query_id = q.query_id
  JOIN embeddings e ON cand.neighbor_id = e.vec_id),
 ranked AS (
  SELECT query_id, neighbor_id, cos_x1e6,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, cos_x1e6 FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


def _ivf_kmeans_ctes(n_cells: int, iters: int):
    """CTE steps replaying the deterministic k-means quantizer in DuckDB
    (same sample = first max(2048, 64·K) rows by vec_id, same first-K
    init, ``iters`` unrolled assign/update rounds) ending in a full-
    corpus ``assigned(vec_id, v, cell)`` CTE.  Shared by the IVF ANN and
    SemDedup oracles.  Returns (steps, assign_template, final_cte_name).
    Parity with ``_kmeans_centroids``/``ivf_assign`` holds because both
    sides quantize centroid coords to 1e-6 and compare
    floor(1e9·(‖c‖²−2x·c)) integer scores with lowest-cell tie-breaks —
    float summation-order differences between numpy and DuckDB vanish
    below the quantization grid."""
    sample_n = max(2048, n_cells * 64)
    assign = (
        "SELECT vec_id, v, cell FROM ("
        " SELECT s.vec_id, s.v, c.cell,"
        "  floor(1000000000.0 * (list_dot_product(c.c, c.c)"
        "   - 2.0 * list_dot_product(s.v, c.c))) AS score"
        " FROM {src} s CROSS JOIN {cents} c)"
        " QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) = 1"
    )
    steps = [
        f"sample AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings ORDER BY vec_id LIMIT {sample_n})",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
         list_transform(v, x -> floor(x * 1000000.0) / 1000000.0) AS c
  FROM sample ORDER BY vec_id LIMIT {n_cells})""",
    ]
    for t in range(1, iters + 1):
        steps.append(f"a{t} AS ({assign.format(src='sample', cents=f'c{t - 1}')})")
        steps.append(
            f"""m{t} AS (
  SELECT cell, ord, avg(x) AS mx FROM (
    SELECT cell, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS ord FROM a{t})
  GROUP BY cell, ord)"""
        )
        steps.append(
            f"""c{t} AS (
  SELECT c{t - 1}.cell, coalesce(nm.c, c{t - 1}.c) AS c
  FROM c{t - 1} LEFT JOIN (
    SELECT cell, list_transform(list(mx ORDER BY ord), x -> floor(x * 1000000.0) / 1000000.0) AS c
    FROM m{t} GROUP BY cell) nm USING (cell))"""
        )
    final = f"c{iters}"
    steps.append("allv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)")
    steps.append(f"assigned AS ({assign.format(src='allv', cents=final)})")
    return steps, assign, final


def ann_topk_ivf_sql(
    n_queries: int = 10, k: int = 5, n_cells: int = 16, n_probe: int = 4, iters: int = 4
) -> str:
    """DuckDB mirror of ``ann_topk_ivf``: replays the deterministic
    k-means training IN SQL (see ``_ivf_kmeans_ctes``), then the same
    full-corpus assignment, probe selection, and exact cosine re-rank."""
    steps, assign, final = _ivf_kmeans_ctes(n_cells, iters)
    cos = _DUCK_COS.format(a="q.qv", b="cand.e")
    steps.append(
        f"""probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
           floor(1000000000.0 * (list_dot_product(c.c, c.c)
            - 2.0 * list_dot_product(q.v, c.c))) AS score
    FROM (SELECT * FROM allv WHERE vec_id < {n_queries}) q CROSS JOIN {final} c)
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score ASC, cell ASC) <= {n_probe})"""
    )
    steps.append(
        """cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, a.v AS e
  FROM probes p JOIN assigned a USING (cell)
  WHERE a.vec_id != p.query_id)"""
    )
    return (
        "WITH "
        + ",\n ".join(steps)
        + f""",
 q AS (SELECT vec_id AS query_id, v AS qv FROM allv WHERE vec_id < {n_queries}),
 scored AS (
  SELECT cand.query_id, cand.neighbor_id, {cos} AS cos_x1e6
  FROM cand JOIN q USING (query_id)),
 ranked AS (
  SELECT query_id, neighbor_id, cos_x1e6,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_x1e6 DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, cos_x1e6 FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""
    )


LSH_BANDS = 4
LSH_BITS_PER_BAND = 4  # 4 bands × 4 sign bits from the 16 hyperplanes


def lsh_buckets(emb: DataFrame) -> DataFrame:
    """Signed-random-projection LSH: (vec_id, band_id, bucket) rows.

    Banding trades precision for recall (single long signatures almost
    never collide on high-dim random data).  At 10^12 rows the
    (band_id, bucket) equality join replaces the O(n²) cross join;
    candidates are exactly re-ranked afterwards."""
    band_cols = []
    for b in range(LSH_BANDS):
        bits = []
        for j in range(LSH_BITS_PER_BAND):
            plane = HYPERPLANES[b * LSH_BITS_PER_BAND + j]
            arr = "array(" + ", ".join(f"cast({x!r} as double)" for x in plane) + ")"
            bits.append(
                f"(case when {_dot_expr('embedding', arr)} > 0 then {1 << j} else 0 end)"
            )
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.expr(" + ".join(bits)).cast("long").alias("bucket"),
            )
        )
    return emb.select(
        "vec_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("vec_id", "bb.band_id", "bb.bucket")


def _qz_centroid(a):
    """Quantize centroid coords to 1e-6 (floor) — makes every k-means
    iteration bit-agreeable with the DuckDB oracle mirror despite
    float summation-order differences (the cos_x1e6 trick, applied to
    the quantizer's own state)."""
    import numpy as np

    return np.floor(a * 1e6) / 1e6


def _assign_scores(x, centroids):
    """Quantized assignment scores floor(1e9·(‖c‖²−2x·c)): the d²
    ordering, integer-scaled so numpy and DuckDB agree; ties broken by
    lowest cell id (argmin / ORDER BY score, cell)."""
    import numpy as np

    cc = np.asarray(centroids)
    c_norms = (cc**2).sum(axis=1)
    return np.floor(1e9 * (c_norms[None, :] - 2.0 * (x @ cc.T)))


def _kmeans_centroids(emb: DataFrame, n_cells: int, iters: int = 4):
    """Deterministic mini k-means on a driver-side sample (at 10^12 rows
    you train the coarse quantizer on a sample anyway); returns a
    numpy array (n_cells, dim).  Init = first K sample rows; every
    update is 1e-6-quantized and every assignment integer-scored so the
    DuckDB oracle (ann_topk_ivf_sql) reproduces the exact centroids."""
    import numpy as np

    sample = np.array(
        [
            r.embedding
            for r in emb.orderBy("vec_id").limit(max(2048, n_cells * 64)).collect()
        ],
        dtype=np.float64,
    )
    centroids = _qz_centroid(sample[:n_cells].copy())  # deterministic init: first K
    for _ in range(iters):
        assign = _assign_scores(sample, centroids).argmin(axis=1)
        for c in range(n_cells):
            members = sample[assign == c]
            if len(members):
                centroids[c] = _qz_centroid(members.mean(axis=0))
    return centroids


def ivf_assign(emb: DataFrame, centroids) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment, Arrow-batched numpy
    (the IVF coarse quantizer — one map stage, no shuffle)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from ..udfs import release_launch_zip_finders

    c = centroids.copy()

    def fn(batches):
        try:
            for pdf in batches:
                if not len(pdf):
                    yield pd.DataFrame({"vec_id": [], "cell": []})
                    continue
                x = np.array(list(pdf["embedding"]), dtype=np.float64)
                # argmin ||x-c||² via quantized scores (oracle-agreeable)
                cells = _assign_scores(x, np.asarray(c)).argmin(axis=1)
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "cell": cells.astype("int32")}
                )
        finally:
            release_launch_zip_finders()

    from ..pipeline import parallelize_small_input

    return parallelize_small_input(emb.select("vec_id", "embedding")).mapInPandas(
        fn,
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("cell", T.IntegerType()),
            ]
        ),
    )


def ann_topk_ivf(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into cells; probe the
    ``n_probe`` nearest cells per query; exact cosine re-rank within.
    At 10^12 rows the cell column is a partition key — a probe reads
    n_probe/n_cells of the corpus instead of scanning it."""
    import numpy as np

    from ..operators.graph import local_frame

    centroids = _kmeans_centroids(emb, n_cells)
    assigned = emb.join(ivf_assign(emb, centroids), "vec_id")

    # driver-side: which cells each query probes (quantized scores,
    # stable sort → ties by lowest cell id, matching the SQL mirror)
    q_rows = emb.filter(F.col("vec_id") < n_queries).orderBy("vec_id").collect()
    probe_pairs = []
    for r in q_rows:
        x = np.array(r.embedding, dtype=np.float64)[None, :]
        scores = _assign_scores(x, centroids)[0]
        order = np.argsort(scores, kind="stable")[:n_probe]
        for cell in order:
            probe_pairs.append((r.vec_id, int(cell)))
    spark = emb.sparkSession
    probes = local_frame(spark, probe_pairs, "query_id long, cell int")

    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.expr(_norm_expr("embedding")).alias("qn"),
    )
    cand = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("e"),
            F.expr(_norm_expr("embedding")).alias("en"),
        )
        .join(F.broadcast(q), "query_id")
        .withColumn("cos_x1e6", _cos_x1e6("q", "e", "qn", "en"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_x1e6").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_x1e6")
        .orderBy("query_id", "rank")
    )


def ann_topk_lsh(emb: DataFrame, n_queries: int = 10, k: int = 5) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing ANY LSH band bucket
    with the query, then exact cosine re-rank.  Recall vs the brute-force
    cosine_topk is asserted in tests."""
    b = lsh_buckets(emb)
    qb = b.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "band_id", "bucket"
    )
    cand = (
        b.join(F.broadcast(qb), ["band_id", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.expr(_norm_expr("embedding")).alias("qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("e"),
        F.expr(_norm_expr("embedding")).alias("en"),
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .withColumn("cos_x1e6", _cos_x1e6("q", "e", "qn", "en"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_x1e6").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_x1e6")
        .orderBy("query_id", "rank")
    )

def semdedup(
    emb: DataFrame, n_cells: int = 16, tau_x1e6: int = 400_000
) -> DataFrame:
    """SemDedup-style semantic dedup (Abbas et al. 2023): coarse-cluster
    the corpus with the deterministic k-means quantizer, then drop a
    vector when a LOWER-id vector in the SAME cell has cosine ≥ tau.

    Returns (vec_id, cell, dup_of, keep): ``dup_of`` = the smallest such
    lower-id neighbor (-1 when kept — a sentinel, not NULL, so the
    column stays single-typed through pandas/Arrow oracle comparison),
    ``keep`` = no qualifying neighbor exists.  The min-id keeper
    election is deterministic and cluster-size independent.

    Scale shape: the pair join is EQUI on ``cell`` — the quantizer bounds
    every candidate group to one cluster, so at 10^12 rows this is a
    bucketed self-join (no cross join; plan-asserted in tests), the same
    regime SemDedup runs at.  Norms are precomputed per vector, not per
    pair.  Cell sizes are ~n/k on k-means-balanced data; raise
    ``n_cells`` with corpus size to hold the per-cell pair bound."""
    centroids = _kmeans_centroids(emb, n_cells)
    assigned = emb.join(ivf_assign(emb, centroids), "vec_id").select(
        "vec_id",
        "cell",
        F.col("embedding").alias("e"),
        F.expr(_norm_expr("embedding")).alias("nrm"),
    )
    a = assigned.select(
        F.col("vec_id").alias("a_id"),
        "cell",
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("vec_id").alias("b_id"),
        F.col("cell").alias("cell_b"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # LEFT join keeps every vector (kept rows surface with a NULL b
    # side), so `assigned` — an uncached full-corpus quantizer map pass —
    # is evaluated exactly twice (a/b), both shuffled on cell, instead of
    # a third time for a final re-join of kept vectors
    cond = (
        (F.col("cell") == F.col("cell_b"))
        & (F.col("a_id") > F.col("b_id"))
        & (_cos_x1e6("ea", "eb", "na", "nb") >= tau_x1e6)
    )
    return (
        a.join(b, cond, "left")
        .groupBy("a_id", "cell")
        .agg(F.min("b_id").alias("dup_of"))
        .select(
            F.col("a_id").alias("vec_id"),
            "cell",
            F.coalesce(F.col("dup_of"), F.lit(-1).cast("long")).alias("dup_of"),
            F.col("dup_of").isNull().alias("keep"),
        )
        .orderBy("vec_id")
    )


def semdedup_sql(n_cells: int = 16, tau_x1e6: int = 400_000, iters: int = 4) -> str:
    """DuckDB mirror of ``semdedup``: replays the deterministic k-means
    (shared ``_ivf_kmeans_ctes``), then the same within-cell lower-id
    pair threshold and min-id election."""
    steps, _assign, _final = _ivf_kmeans_ctes(n_cells, iters)
    cos = _DUCK_COS.format(a="x.v", b="y.v")
    steps.append(
        f"""dup AS (
  SELECT x.vec_id AS a_id, min(y.vec_id) AS dup_of
  FROM assigned x JOIN assigned y
    ON x.cell = y.cell AND x.vec_id > y.vec_id
  WHERE {cos} >= {tau_x1e6}
  GROUP BY x.vec_id)"""
    )
    return (
        "WITH "
        + ",\n ".join(steps)
        + """
SELECT a.vec_id, a.cell::INTEGER AS cell,
       coalesce(d.dup_of, -1)::BIGINT AS dup_of, d.dup_of IS NULL AS keep
FROM assigned a LEFT JOIN dup d ON a.vec_id = d.a_id
ORDER BY a.vec_id
"""
    )


def ann_recall(
    emb: DataFrame, n_queries: int = 10, k: int = 5, method: str = "lsh"
) -> DataFrame:
    """ANN quality-assurance metric: recall@k of the approximate index
    vs the exact brute-force top-k, per query → (query_id, n_hits,
    recall_x1e6).  The QA every production ANN deployment runs on a
    sample before trusting the index (recall is THE accuracy knob an
    LSH/IVF parameterization trades against cost).

    recall_x1e6 is integer fixed-point (n_hits*1e6 / k) — exact at any
    parallelism, value-hash mirrorable.

    100-TB shape: exact ground truth only ever runs on the QUERY SAMPLE
    (n_queries rows broadcast against the corpus — the same bounded
    shape as cosine_topk); the approximate side is the production index
    path.  One left-semi join per query set + one partial-agg count."""
    if method == "lsh":
        approx = ann_topk_lsh(emb, n_queries=n_queries, k=k)
    elif method == "ivf":
        approx = ann_topk_ivf(emb, n_queries=n_queries, k=k)
    else:
        raise ValueError(f"ann_recall: method must be lsh|ivf: {method}")
    exact = cosine_topk(emb, n_queries=n_queries, k=k).select(
        "query_id", "neighbor_id"
    )
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qs = exact.select("query_id").distinct()
    return (
        qs.join(hits, "query_id", "left")
        .fillna(0, subset=["n_hits"])
        .withColumn(
            "recall_x1e6",
            F.expr(f"cast(n_hits * 1000000L div {k} as bigint)"),
        )
        .orderBy("query_id")
    )


def ann_recall_sql(n_queries: int = 10, k: int = 5) -> str:
    """DuckDB mirror for method='lsh': intersect the two mirrored
    rankings (both SQL constructions already exist) and count hits."""
    exact = cosine_topk_sql(n_queries, k).strip().rstrip()
    approx = ann_topk_lsh_sql(n_queries, k).strip().rstrip()
    return f"""
WITH exact_r AS ({exact}),
 approx_r AS ({approx}),
 hits AS (
  SELECT a.query_id, count(*) AS n_hits
  FROM approx_r a JOIN exact_r e
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY a.query_id)
SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // {k} AS BIGINT) AS recall_x1e6
FROM (SELECT DISTINCT query_id FROM exact_r) q
LEFT JOIN hits h USING (query_id)
ORDER BY q.query_id
"""
