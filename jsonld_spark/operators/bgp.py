"""SPARQL-style Basic Graph Pattern matching over the triples table.

The reference feeds ``RDF::Queryable`` (each JSON-LD document becomes an
enumerable of statements that ruby-rdf's ``RDF::Query`` pattern-matches
— see /root/reference/README.md usage with RDF::Repository); here the
equivalent query capability is compiled STRAIGHT to Catalyst: each
pattern is one filtered scan of the triples DataFrame (constants become
pushed-down predicates), shared variables become equi-join keys, and
the optimizer picks broadcast vs shuffle per join from runtime sizes
(AQE).  Nothing is collected; a BGP over a 100-TB triple store is just
a join tree.

Pattern syntax: ``(s, p, o)`` string triples; a component starting with
``"?"`` is a variable, anything else is a constant matched against the
``subj`` / ``pred`` / ``obj`` columns (object constants match the
lexical form; datatype-sensitive matching can be layered with an extra
filter on ``obj_datatype``).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, functions as F

_POSITIONS = ("subj", "pred", "obj", "graph")

# SPARQL expression-layer term-metadata suffixes (bind_meta=True)
_META = ("__lang", "__dt", "__lit")
_META_SRC = {"__lang": "obj_lang", "__dt": "obj_datatype", "__lit": "obj_is_literal"}

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
RDF_LANGSTRING = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"


def _pattern_df(
    triples: DataFrame, pattern, idx: int, bind_meta: bool = False
) -> tuple[DataFrame, set]:
    """One pattern → filtered scan projecting its variables.

    3-element patterns match any graph (the ``graph`` column is never
    touched, so plain (subj, pred, obj) frames work); a 4th element
    constrains/binds the named graph — SPARQL ``GRAPH g { ... }``.

    ``bind_meta``: an object-position variable also projects the term
    metadata its FILTER expressions need — ``{var}__lang``,
    ``{var}__dt``, ``{var}__lit`` (from obj_lang / obj_datatype /
    obj_is_literal where the source frame carries them).

    Known limitation (ADVICE r6): when a shared variable is
    object-bound in one pattern but subject/predicate/graph-bound in
    another, the meta columns exist on only one side, so the join falls
    back to lexical equality — a literal whose lexical form equals an
    IRI (e.g. a URL stored as a string) would join it.  Chains like
    [(?x, p, ?v), (?v, q, ?y)] over data where literal objects can
    collide with IRIs should add an explicit
    ``~coalesce(col(v + '__lit'), lit(False))`` filter."""
    if len(pattern) not in (3, 4):
        raise ValueError(
            f"pattern #{idx} must be (s, p, o) or (s, p, o, g): {pattern!r}"
        )
    df = triples
    seen: dict[str, str] = {}  # var -> first column bound to it
    cols = []
    for col, term in zip(_POSITIONS, pattern):
        if isinstance(term, str) and term.startswith("?"):
            var = term[1:]
            if not var:
                raise ValueError(f"pattern #{idx}: bare '?' is not a variable")
            if var in seen:  # ?x p ?x — same-row equality, select once
                df = df.filter(F.col(seen[var]) == F.col(col))
            else:
                seen[var] = col
                cols.append(F.col(col).alias(var))
                if bind_meta and col == "obj":
                    for suf in _META:
                        src = _META_SRC[suf]
                        if src in triples.columns:
                            cols.append(F.col(src).alias(var + suf))
        else:
            df = df.filter(F.col(col) == F.lit(term))
    if not cols:  # ground pattern: contributes only an existence check
        return df.select(F.lit(1).alias(f"_ground_{idx}")).distinct(), set()
    return df.select(*cols), set(seen)


def bgp_match(
    triples: DataFrame,
    patterns,
    *,
    allow_cartesian: bool = False,
    set_semantics: bool = True,
    bind_meta: bool = False,
    _sources=None,
) -> DataFrame:
    """→ DataFrame with one column per distinct variable: every binding
    of the variables such that ALL patterns hold.

    ``set_semantics=True`` (default): set projection — each pattern
    scan is de-duplicated, so a variable set is a solution once
    regardless of how many triples witness it.  ``set_semantics=False``
    is SPARQL's own BAG semantics (duplicate witnesses multiply) — and
    the scale lever: skipping the per-pattern distinct preserves the
    scan's output partitioning, so over a SUBJECT-BUCKETED triples
    table (pipeline.write_bucketed_table) a subject-star BGP compiles
    to sort-merge joins with ZERO exchanges (plan-asserted in
    tests/test_graph_queries.py::test_bucketed_bgp_no_exchange); a
    final ``.distinct()`` on the (small) binding set recovers set
    results for one exchange total instead of one per pattern.

    Join order: most-constant pattern first (selectivity heuristic),
    then greedily any pattern sharing a variable with the bound set —
    a disconnected pattern group is a cross product, refused unless
    ``allow_cartesian=True`` (at web scale that is almost always a
    query bug, not an intent).
    """
    pats = list(patterns)
    if not pats:
        raise ValueError("bgp_match: empty pattern list")
    # _sources: internal hook (forward_chain semi-naive evaluation) —
    # one DataFrame per pattern, so a single pattern can scan the DELTA
    # while the rest scan the full set; None entries fall back to
    # ``triples``.
    srcs = list(_sources) if _sources is not None else [None] * len(pats)
    if len(srcs) != len(pats):
        raise ValueError("bgp_match: _sources length must match patterns")
    parts = []
    for i, (s, p) in enumerate(zip(srcs, pats)):
        df, vs = _pattern_df(
            s if s is not None else triples, p, i, bind_meta=bind_meta
        )
        if set_semantics and vs:
            df = df.distinct()
        parts.append((df, vs))
    # Ground (all-constant) patterns bind no variables: they are ≤1-row
    # existence gates, joined by (trivial broadcast) cross product at the
    # end — they never participate in the connectivity walk and never
    # trigger the disconnected-group refusal.
    gates = [i for i in range(len(pats)) if not parts[i][1]]
    var_pats = [i for i in range(len(pats)) if parts[i][1]]

    def n_consts(i):
        return sum(
            not (isinstance(t, str) and t.startswith("?")) for t in pats[i]
        )

    if not var_pats:  # all-ground BGP: a pure ask — 1 row iff all hold
        out, bound = parts[gates[0]]
        gates = gates[1:]
    else:
        remaining = sorted(var_pats, key=lambda i: (-n_consts(i), i))
        first = remaining.pop(0)
        out, bound = parts[first]
        while remaining:
            nxt = next(
                (i for i in remaining if parts[i][1] & bound),
                None,
            )
            if nxt is None:
                if not allow_cartesian:
                    raise ValueError(
                        "bgp_match: disconnected pattern group (cross product); "
                        "pass allow_cartesian=True to run it anyway"
                    )
                nxt = remaining[0]
            remaining.remove(nxt)
            df, vs = parts[nxt]
            shared = sorted(vs & bound)
            # term-identity join: when BOTH sides carry a shared var's
            # metadata columns (bind_meta), the var's lang/datatype/
            # literal-kind join too — two literals with the same lexical
            # form but different datatypes are different RDF terms.
            # Metadata equality must be NULL-SAFE (<=>): most literals
            # have NULL lang and many NULL datatype, and a plain
            # equi-join would drop every such solution.
            meta_shared = [
                v + suf
                for v in shared
                for suf in _META
                if v + suf in out.columns and v + suf in df.columns
            ]
            if meta_shared:
                right = df
                for c in shared + meta_shared:
                    right = right.withColumnRenamed(c, "_r_" + c)
                cond = None
                for v in shared:
                    e = F.col(v) == F.col("_r_" + v)
                    cond = e if cond is None else cond & e
                for m in meta_shared:
                    cond = cond & F.col(m).eqNullSafe(F.col("_r_" + m))
                out = out.join(right, cond).drop(
                    *["_r_" + c for c in shared + meta_shared]
                )
            elif shared:
                out = out.join(df, on=shared)
            else:
                out = out.crossJoin(df)
            bound |= vs
    for i in gates:
        out = out.crossJoin(parts[i][0])
    ground = [c for c in out.columns if c.startswith("_ground_")]
    return out.drop(*ground) if ground else out


def bgp_optional(
    triples: DataFrame,
    required,
    optional_groups,
    *,
    allow_cartesian: bool = False,
    set_semantics: bool = True,
) -> DataFrame:
    """SPARQL ``OPTIONAL`` over BGPs: solutions of ``required`` extended
    with each optional group's bindings where the group matches, NULL in
    the group's new variables where it does not (the reference's query
    layer — ruby-rdf ``RDF::Query`` patterns with ``optional: true``
    — has the same keep-the-solution semantics).

    Each optional group left-joins on the variables it shares with the
    REQUIRED group — those are certainly bound, which is exactly the
    "well-designed pattern" condition (Pérez et al. 2009) under which
    OPTIONAL is a plain left outer equi-join; a group sharing nothing
    with the required vars is refused (its left join would be a
    cartesian extension), as is a variable bound by two different
    optional groups (not well-designed: the second join's NULL
    compatibility is engine-dependent).

    100-TB shape: required + each group compile to Catalyst join trees
    (see :func:`bgp_match`); the OPTIONAL layer adds one left equi-join
    per group, broadcast by AQE when a group's solution set is small."""
    out = bgp_match(
        triples, required,
        allow_cartesian=allow_cartesian, set_semantics=set_semantics,
    )
    req_vars = set(out.columns)
    new_vars: set = set()
    for gi, grp in enumerate(optional_groups):
        opt = bgp_match(
            triples, grp,
            allow_cartesian=allow_cartesian, set_semantics=set_semantics,
        )
        vs = set(opt.columns)
        shared = sorted(vs & req_vars)
        if not shared:
            raise ValueError(
                f"bgp_optional: optional group #{gi} shares no variable "
                "with the required group (left join would be cartesian)"
            )
        overlap = (vs - req_vars) & new_vars
        if overlap:
            raise ValueError(
                f"bgp_optional: variable(s) {sorted(overlap)} bound by "
                "two optional groups (not a well-designed pattern)"
            )
        out = out.join(opt, on=shared, how="left")
        new_vars |= vs - req_vars
    return out


def bgp_union(
    triples: DataFrame,
    branches,
    *,
    allow_cartesian: bool = False,
    set_semantics: bool = True,
) -> DataFrame:
    """SPARQL ``UNION`` over BGPs: the set union of each branch's
    solutions, projected to the union of all branch variables — a
    variable a branch does not bind is NULL in that branch's rows
    (SPARQL's unbound).  Set semantics, matching :func:`bgp_match`'s
    per-branch projection (SPARQL proper is bag; documented divergence
    shared with the rest of the module).

    100-TB shape: each branch is an independent Catalyst join tree; the
    union is a zero-shuffle concatenation plus one distinct on the
    final (small) binding schema."""
    brs = list(branches)
    if not brs:
        raise ValueError("bgp_union: empty branch list")
    sols = [
        bgp_match(
            triples, b,
            allow_cartesian=allow_cartesian, set_semantics=set_semantics,
        )
        for b in brs
    ]
    out = sols[0]
    for s in sols[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    # one distinct on the final (small) binding set either way — with
    # set_semantics=False it is the ONLY exchange the union pays
    return out.distinct()


def construct(
    bindings: DataFrame, templates, *, set_semantics: bool = True
) -> DataFrame:
    """SPARQL ``CONSTRUCT``: project a binding set into new triples.
    Each template is an (s, p, o) triple of variables (``"?x"`` — must
    be a column of ``bindings``) and constants; the result is the
    DISTINCT union of one instantiation per binding row per template.

    ``set_semantics=False`` skips the final distinct (bag output) for
    callers that dedup downstream anyway — the saturation loop unions
    several construct() results and distincts ONCE per round, where a
    per-evaluation distinct is one pure-overhead exchange each
    (measured: 4 redundant exchanges per semi-naive round).

    100-TB shape: pure projection per template (no shuffle) + one
    distinct on the emitted (subj, pred, obj) — the same exchange any
    triple materialization pays."""
    tpls = list(templates)
    if not tpls:
        raise ValueError("construct: empty template list")
    outs = []
    for i, t in enumerate(tpls):
        if len(t) != 3:
            raise ValueError(f"template #{i} must be (s, p, o): {t!r}")
        cols = []
        for name, term in zip(("subj", "pred", "obj"), t):
            if isinstance(term, str) and term.startswith("?"):
                var = term[1:]
                if var not in bindings.columns:
                    raise ValueError(
                        f"template #{i}: variable ?{var} not bound "
                        f"(columns: {bindings.columns})"
                    )
                cols.append(F.col(var).alias(name))
            else:
                cols.append(F.lit(term).alias(name))
        outs.append(bindings.select(*cols))
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out.distinct() if set_semantics else out


def forward_chain(
    triples: DataFrame,
    rules,
    *,
    max_iter: int = 20,
) -> DataFrame:
    """Forward-chaining rule materialization (datalog-style saturation):
    each rule is ``(body_patterns, head_templates)`` — body a BGP, head
    CONSTRUCT templates — applied to fixpoint.  rdfs9 type inheritance,
    transitivity, symmetric/inverse properties etc. are each one rule;
    :func:`~jsonld_spark.operators.graph.infer_types` and
    ``transitive_closure`` are special cases this generalizes.

    SEMI-NAIVE evaluation: after round 1, a rule body only re-runs with
    each body atom in turn restricted to the PREVIOUS round's delta
    (new facts), so work per round is proportional to what changed —
    the standard datalog optimization, without which every round would
    re-derive everything.  New facts are isolated with a left-anti join
    against the known set; every round checkpoints (reliable) its new
    facts, so the known set is a union of checkpoint scans and the
    lineage stays one level deep however many rounds run; stops when a
    round derives nothing new.

    Returns the saturated (subj, pred, obj) set (DISTINCT).  Output
    size is the materialized entailment — for ontology-shaped rules
    (class/property hierarchies) that is modest; a transitivity rule
    over a dense relation is quadratic in OUTPUT, same caveat as
    ``transitive_closure``."""
    from .graph import _ensure_checkpoint_dir

    rules = list(rules)
    if not rules:
        raise ValueError("forward_chain: empty rule list")
    _ensure_checkpoint_dir(triples)
    known = (
        triples.select("subj", "pred", "obj").distinct().checkpoint()
    )
    return _saturate(
        known, known, rules, full_first_round=True, max_iter=max_iter
    )


def forward_chain_incremental(
    saturated: DataFrame,
    delta: DataFrame,
    rules,
    *,
    max_iter: int = 20,
) -> DataFrame:
    """Incremental entailment MAINTENANCE: given an already-saturated
    fact set and a batch of new facts (e.g. the '+' side of
    :func:`~jsonld_spark.operators.graph.graph_diff` after a recrawl),
    derive only what the new facts entail — every round, including the
    first, is delta-restricted, so the cost scales with the update,
    not the knowledge base.  Rounds checkpoint their new facts as in
    :func:`forward_chain`, so lineage stays bounded the same way.
    Returns the new saturated set.

    (Additions only — datalog is monotone, so added facts never
    invalidate old conclusions; RETRACTIONS need delete/re-derive
    bookkeeping this deliberately does not implement: re-saturate with
    :func:`forward_chain` after removals.)"""
    from .graph import _ensure_checkpoint_dir

    rules = list(rules)
    if not rules:
        raise ValueError("forward_chain_incremental: empty rule list")
    _ensure_checkpoint_dir(saturated)
    base = saturated.select("subj", "pred", "obj").distinct()
    new_facts = (
        delta.select("subj", "pred", "obj")
        .distinct()
        .join(base, ["subj", "pred", "obj"], "left_anti")
        .checkpoint()
    )
    if new_facts.isEmpty():
        return base.checkpoint()
    known = base.union(new_facts).checkpoint()
    return _saturate(
        known, new_facts, rules, full_first_round=False, max_iter=max_iter
    )


def _saturate(
    known: DataFrame,
    delta: DataFrame,
    rules,
    *,
    full_first_round: bool,
    max_iter: int,
) -> DataFrame:
    """Shared semi-naive saturation loop (see the two public entry
    points for semantics)."""
    for rnd in range(max_iter):
        derived = None
        for body, head in rules:
            body = list(body)
            if rnd == 0 and full_first_round:
                # bag semantics: construct() distincts the emitted
                # facts anyway, so per-pattern distinct exchanges are
                # pure overhead inside the saturation loop
                sols = [
                    bgp_match(
                        known, body,
                        allow_cartesian=True, set_semantics=False,
                    )
                ]
            else:
                # semi-naive: one evaluation per body atom, that atom
                # scanning the delta, the others the full known set
                sols = [
                    bgp_match(
                        known,
                        body,
                        allow_cartesian=True,
                        set_semantics=False,
                        _sources=[
                            delta if j == i else None
                            for j in range(len(body))
                        ],
                    )
                    for i in range(len(body))
                ]
            for s in sols:
                # bag output: the round's single distinct below dedups
                # everything — a per-evaluation distinct is one
                # redundant exchange each
                d = construct(s, head, set_semantics=False)
                derived = d if derived is None else derived.union(d)
        new = derived.distinct().join(
            known, on=["subj", "pred", "obj"], how="left_anti"
        ).checkpoint()
        if new.isEmpty():
            break
        # known = initial ∪ the per-round checkpointed deltas: every leg
        # is already materialized, so the union is plan-only — the
        # previous known.union(new).checkpoint() REWROTE the whole fact
        # set once per round (O(|saturated| × rounds) checkpoint I/O);
        # lineage stays shallow because each leg is a checkpoint scan.
        known = known.union(new)
        delta = new
    else:
        warnings.warn(
            f"forward_chain: not saturated after {max_iter} rounds"
        )
    return known


def describe(triples: DataFrame, subjects, *, max_iter: int = 10) -> DataFrame:
    """SPARQL ``DESCRIBE`` as Concise Bounded Description: every triple
    whose subject is in ``subjects``, plus — recursively — the triples
    of any blank-node object reached (a bnode has no global name, so
    its description belongs to the resource that owns it; named IRI
    objects are NOT followed).  ``subjects`` is a list of IRIs or a
    one-column DataFrame.

    100-TB shape: each round is one semi-join of the triples table
    against the frontier — AQE broadcasts it when small (the typical
    query-sized seed set) and shuffles correctly when a class-scale
    seed set makes it large; CBD
    depth is bnode-nesting depth (rarely >3), bounded by ``max_iter``
    with a reliable checkpoint per round."""
    from .graph import _ensure_checkpoint_dir, local_frame

    if max_iter < 1:
        raise ValueError("describe: max_iter must be >= 1")
    if isinstance(subjects, DataFrame):
        seeds = subjects.select(
            F.col(subjects.columns[0]).alias("_s")
        ).distinct()
    else:
        subjects = list(subjects)
        if not subjects:
            raise ValueError("describe: empty subject list")
        spark = triples.sparkSession
        seeds = local_frame(
            spark, [(s,) for s in subjects], "_s string"
        ).distinct()
    _ensure_checkpoint_dir(triples)
    seen = seeds.checkpoint()
    frontier = seen
    out = None
    for _ in range(max_iter):
        # no broadcast HINT: a DESCRIBE seed set can be corpus-scale
        # (every entity of a class) and a forced broadcast would OOM the
        # executors — AQE broadcasts small frontiers on its own from
        # runtime sizes, and big ones shuffle correctly
        batch = triples.join(
            frontier, triples.subj == F.col("_s")
        ).drop("_s")
        out = batch if out is None else out.union(batch)
        is_bnode_obj = (
            ~F.col("obj_is_literal") & F.col("obj").startswith("_:")
            if "obj_is_literal" in triples.columns
            else F.col("obj").startswith("_:")
        )
        frontier = (
            batch.filter(is_bnode_obj)
            .select(F.col("obj").alias("_s"))
            .distinct()
            .join(seen, "_s", "left_anti")
            .checkpoint()
        )
        if frontier.isEmpty():
            break
        seen = seen.union(frontier).checkpoint()
    else:
        warnings.warn(f"describe: bnode nesting deeper than {max_iter}")
    return out.distinct()


def bgp_values(
    bindings: DataFrame, var: str, values, *, keep_unbound: bool = False
) -> DataFrame:
    """SPARQL ``VALUES``: constrain a binding set to an inline list of
    allowed values for ``var`` — semantically a join with a constant
    table, planned as an IN predicate (pushable into the scans feeding
    the bindings).  Multi-variable VALUES rows are an ordinary join
    with a small DataFrame the caller builds; this helper covers the
    ubiquitous single-variable case.

    Unbound solutions (``var`` NULL, e.g. from ``bgp_optional``
    output): SPARQL compatibility treats an unbound variable as
    compatible with every VALUES row, so strict SPARQL keeps those
    solutions.  The default here (``keep_unbound=False``) follows SQL
    ``IN`` and drops them — the common data-filtering intent — and the
    divergence is opt-out: pass ``keep_unbound=True`` for
    SPARQL-compatible retention (planned as ``isNull() OR isin``, still
    a pushable predicate)."""
    vals = list(values)
    if not vals:
        raise ValueError("bgp_values: empty value list")
    if var not in bindings.columns:
        raise ValueError(
            f"bgp_values: ?{var} not bound (columns: {bindings.columns})"
        )
    pred = F.col(var).isin(*vals)
    if keep_unbound:
        pred = F.col(var).isNull() | pred
    return bindings.filter(pred)


# --- SPARQL expression layer over binding tables -------------------------------
#
# The most common thing a KG user writes after a BGP is FILTER / SELECT
# expressions and GROUP BY aggregates (SPARQL 1.1 §17-§18).  The layer
# below compiles those to Column expressions over a binding table built
# with ``bgp_match(..., bind_meta=True)`` — the metadata columns
# ``{var}__lang`` / ``{var}__dt`` / ``{var}__lit`` carry each
# object-bound variable's language tag, datatype IRI and literal-kind,
# which is exactly what lang()/datatype() need.  Reference-adjacent:
# frame.rb:346-457's value-pattern matching is the per-document analog
# of these binding-level predicates.
#
# Error semantics: a SPARQL FILTER whose expression errors removes the
# solution (SPARQL 1.1 §17.2 "effective boolean value").  The helpers
# return NULL for type errors (lang() of an IRI, number() of a
# non-numeric lexical), and DataFrame.filter drops NULL-condition rows
# — the same outcome, for free, with no Python in the loop.


def bgp_filter(bindings: DataFrame, condition) -> DataFrame:
    """SPARQL ``FILTER``: keep solutions where ``condition`` (a Column
    or SQL string over the binding columns) evaluates to true.  NULL
    conditions (type errors in SPARQL terms) drop the row — SPARQL's
    error-removes-solution rule via Spark's native NULL filtering.
    Stays whole-stage-codegen; pushable into the scans feeding the
    bindings."""
    return bindings.filter(condition)


def lang(var: str):
    """SPARQL ``lang(?var)``: the language tag, '' for a plain or typed
    literal, NULL (error) for a non-literal.  Requires
    ``bind_meta=True`` bindings."""
    return F.when(
        F.col(var + "__lit"), F.coalesce(F.col(var + "__lang"), F.lit(""))
    )


def datatype(var: str):
    """SPARQL ``datatype(?var)``: rdf:langString for language-tagged
    literals, the stored datatype otherwise (xsd:string when none —
    RDF 1.1 simple literals), NULL (error) for a non-literal."""
    return F.when(
        F.col(var + "__lit"),
        F.when(
            F.col(var + "__lang").isNotNull(), F.lit(RDF_LANGSTRING)
        ).otherwise(F.coalesce(F.col(var + "__dt"), F.lit(XSD_STRING))),
    )


def is_iri(var: str):
    """SPARQL ``isIRI(?var)``: bound, not a literal, not a bnode."""
    return (
        F.col(var).isNotNull()
        & ~F.coalesce(F.col(var + "__lit"), F.lit(False))
        & ~F.col(var).startswith("_:")
    )


def num(var: str):
    """Numeric value of a binding for range/arithmetic FILTERs: the
    lexical form try_cast to double — NULL (SPARQL type error → row
    dropped) when the lexical form is not numeric, under ANSI mode
    too (a plain cast would CRASH the job on the first non-numeric
    literal with spark.sql.ansi.enabled)."""
    return F.col(var).try_cast("double")


def lang_matches(lang_expr, range_: str):
    """SPARQL ``langMatches(lang, range)`` with RFC 4647 basic
    filtering: ``'*'`` matches any non-empty tag; otherwise the tag
    equals the range or extends it at a ``-`` boundary, ASCII
    case-insensitively."""
    if range_ == "*":
        return lang_expr != ""
    lo = F.lower(lang_expr)
    r = range_.lower()
    return (lo == r) | lo.startswith(r + "-")


def regex(col_or_var, pattern: str, flags: str = ""):
    """SPARQL ``regex(?var, pattern, flags)`` — 'i' (case-insensitive),
    's' (dotall) and 'm' (multiline) map to embedded Java regex flags;
    others are refused rather than silently ignored."""
    bad = set(flags) - set("ism")
    if bad:
        raise ValueError(f"regex: unsupported flags {sorted(bad)}")
    c = F.col(col_or_var) if isinstance(col_or_var, str) else col_or_var
    return c.rlike(f"(?{flags}){pattern}" if flags else pattern)


def bgp_aggregate(
    bindings: DataFrame, group_vars, aggs: dict
) -> DataFrame:
    """SPARQL 1.1 ``GROUP BY`` over a binding table — a documented thin
    mapping onto Spark's partial-aggregating groupBy (map-side combine,
    one exchange on the group keys; AQE handles skewed keys):

    ========================  =====================================
    SPARQL aggregate          Column expression
    ========================  =====================================
    COUNT(*)                  F.count("*")
    COUNT(?x)                 F.count("x")          (bound-only)
    COUNT(DISTINCT ?x)        F.countDistinct("x")
    SUM/AVG/MIN/MAX(?x)       F.sum/avg/min/max(num("x"))
    SAMPLE(?x)                F.min("x")  — deterministic pick; SPARQL
                              allows any member, min makes runs and
                              engines agree
    GROUP_CONCAT(?x; sep)     F.array_join(F.sort_array(
                              F.collect_list("x")), sep) — SPARQL
                              leaves element order implementation-
                              defined; sorting pins it
    ========================  =====================================

    ``aggs`` maps output column name → Column expression (aliased
    here).  Grouping by an expression (SPARQL GROUP BY (expr AS ?v))
    is ``bindings.withColumn(v, expr)`` first, then this."""
    gv = [group_vars] if isinstance(group_vars, str) else list(group_vars)
    missing = [v for v in gv if v not in bindings.columns]
    if missing:
        raise ValueError(
            f"bgp_aggregate: group vars not bound: {missing} "
            f"(columns: {bindings.columns})"
        )
    if not aggs:
        raise ValueError("bgp_aggregate: empty aggregate dict")
    exprs = [c.alias(name) for name, c in aggs.items()]
    return bindings.groupBy(*gv).agg(*exprs)


def bgp_minus(bindings: DataFrame, triples: DataFrame, patterns) -> DataFrame:
    """SPARQL ``MINUS``: remove solutions compatible with some solution
    of the right-hand BGP on at least one shared variable (SPARQL 1.1
    §8.3).  Right-hand solutions come from ``bgp_match`` (never NULL);
    left-hand NULLs (unbound, e.g. OPTIONAL output) follow the spec:

    - no shared variables at all → nothing is removed (domains
      disjoint), the bindings return unchanged;
    - ONE shared variable → plain left-anti equi-join: a NULL key never
      matches, which IS the spec outcome (empty domain intersection →
      solution kept);
    - several shared variables → a conditional anti-join
      ``AND_v(left.v IS NULL OR left.v = right.v) AND OR_v(left.v IS
      NOT NULL)`` — per-variable compatibility plus the non-empty
      domain-intersection requirement.  Scale note: the OR/IS NULL
      terms block hash-join extraction, so this shape plans as a
      broadcast nested loop — fine for query-sized right sides; for
      crawl-scale right sides with fully-bound left vars, filter the
      NULLs yourself and the single-var/equi path applies."""
    right = bgp_match(triples, patterns)
    shared = sorted(set(bindings.columns) & set(right.columns))
    if not shared:
        return bindings
    right = right.select(*shared).distinct()
    if len(shared) == 1:
        return bindings.join(right, on=shared, how="left_anti")
    for c in shared:
        right = right.withColumnRenamed(c, "_r_" + c)
    cond = None
    for v in shared:
        e = F.col(v).isNull() | (F.col(v) == F.col("_r_" + v))
        cond = e if cond is None else cond & e
    dom = None
    for v in shared:
        e = F.col(v).isNotNull()
        dom = e if dom is None else dom | e
    return bindings.join(right, cond & dom, how="left_anti")


def bgp_exists(
    bindings: DataFrame, triples: DataFrame, patterns, *, negate: bool = False
) -> DataFrame:
    """SPARQL ``FILTER EXISTS { ... }`` (``negate=True`` → NOT EXISTS):
    keep solutions for which the pattern group, with shared variables
    substituted, has (no) solutions — a left-semi (left-anti) equi-join
    on the shared variables.  The pattern group must share at least one
    variable with the bindings (an unshared EXISTS is a constant gate —
    evaluate it separately).  One hash semi-join; the right side is
    deduplicated on the shared vars so the probe side stays thin.

    Divergence from SPARQL substitution semantics (§8.3.3) for UNBOUND
    shared variables: SPARQL substitutes only bound vars and leaves
    unbound ones free (so NOT EXISTS removes an unbound-var solution
    whenever the pattern has any solution at all); here the equi-join
    key never matches NULL, so EXISTS drops unbound solutions and NOT
    EXISTS keeps them.  Feeding OPTIONAL output with NULLs in the
    shared vars hits this — filter or coalesce them explicitly when
    the SPARQL reading matters (bgp_minus DOES implement the spec's
    unbound rules; prefer it for negation over OPTIONAL output)."""
    right = bgp_match(triples, patterns)
    shared = sorted(set(bindings.columns) & set(right.columns))
    if not shared:
        raise ValueError(
            "bgp_exists: pattern group shares no variable with the bindings"
        )
    right = right.select(*shared).distinct()
    how = "left_anti" if negate else "left_semi"
    return bindings.join(right, on=shared, how=how)


def select(
    triples: DataFrame,
    patterns,
    *,
    where=None,
    optional=None,
    minus=None,
    exists=None,
    not_exists=None,
    group_by=None,
    aggs=None,
    order_by=None,
    limit: int | None = None,
    bind_meta: bool = False,
    set_semantics: bool = True,
) -> DataFrame:
    """One-call SPARQL-SELECT composition — the query shape a reference
    user writes against ruby-rdf's ``RDF::Query`` (README.md usage),
    assembled from this module's algebra in SPARQL 1.1 evaluation
    order: BGP → OPTIONAL groups → MINUS → EXISTS / NOT EXISTS gates →
    FILTER → GROUP BY+aggregates → ORDER BY → LIMIT.  Every stage is
    the documented operator (same plans, same scale notes); this is
    composition only.

    ``where``: Column / SQL-string FILTER (use the lang()/datatype()/
    num()/lang_matches()/regex() helpers with ``bind_meta=True``).
    ``optional``: list of OPTIONAL pattern groups.  ``minus`` /
    ``exists`` / ``not_exists``: pattern groups evaluated against the
    same ``triples`` (note: exists/not_exists use equi-join semantics —
    unbound shared vars from OPTIONAL groups never match; see
    bgp_exists.  minus implements the spec's unbound rules).  ``aggs``: dict name → Column (requires
    ``group_by``).  ``order_by``: column name or list.  LIMIT plans as
    a global top-k when combined with ORDER BY (TakeOrderedAndProject
    — no full sort at scale)."""
    if optional and bind_meta:
        # hoisted above plan construction (ADVICE r6): fail before the
        # bgp_optional join tree is built, not after
        raise ValueError(
            "select: bind_meta with OPTIONAL groups is not supported "
            "(optional NULLs have no term metadata); filter on the "
            "required part or run bgp_match separately"
        )
    if optional:
        b = bgp_optional(
            triples, patterns, optional, set_semantics=set_semantics
        )
    else:
        b = bgp_match(
            triples, patterns,
            bind_meta=bind_meta, set_semantics=set_semantics,
        )
    if minus:
        b = bgp_minus(b, triples, minus)
    if exists:
        b = bgp_exists(b, triples, exists)
    if not_exists:
        b = bgp_exists(b, triples, not_exists, negate=True)
    if where is not None:
        b = bgp_filter(b, where)
    if aggs and not group_by:
        raise ValueError("select: aggs requires group_by")
    if group_by:
        if not aggs:
            raise ValueError("select: group_by requires aggs")
        b = bgp_aggregate(b, group_by, aggs)
    if order_by:
        cols = [order_by] if isinstance(order_by, str) else list(order_by)
        b = b.orderBy(*cols)
    if limit is not None:
        if limit < 1:
            raise ValueError("select: limit must be >= 1")
        b = b.limit(limit)
    return b


def ask(triples: DataFrame, patterns, **kwargs) -> bool:
    """SPARQL ``ASK``: does the BGP have any solution?  Planned as the
    bgp_match join tree under an ``isEmpty`` probe — Spark stops at the
    first produced row (LocalLimit 1 pushed through the plan), so an
    ASK over a 100-TB store does not materialize the binding set.
    Keyword args pass through to :func:`bgp_match`."""
    return not bgp_match(triples, patterns, **kwargs).isEmpty()
