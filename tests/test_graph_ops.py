"""Connected components + entity linking tests."""

import pytest

from pyspark.sql import functions as F

from jsonld_spark.operators.graph import (
    canonical_mapping,
    connected_components,
    link_entities,
    sameas_edges,
)


BROADCAST_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


@pytest.fixture(params=["driver", "distributed"])
def cc_path(request, spark):
    """The connected-components path under test.  Test edge sets are far
    below the broadcast threshold, so they take the driver union-find;
    turning the threshold off forces the distributed rounds."""
    prev = spark.conf.get(BROADCAST_THRESHOLD)
    if request.param == "distributed":
        spark.conf.set(BROADCAST_THRESHOLD, "-1")
    yield request.param
    spark.conf.set(BROADCAST_THRESHOLD, prev)


@pytest.fixture(params=["str", "long"])
def vertex(request):
    """i → vertex id: an IRI (sameAs linking) or a long doc id
    (``text.dedup_groups``), ordered like i in both cases."""
    if request.param == "str":
        return lambda i: f"http://e/{i:03d}"
    return lambda i: i


def _labeled_on_driver(df) -> bool:
    return "LocalRelation" in df._jdf.queryExecution().analyzed().toString()


def test_cc_two_components(spark, cc_path, vertex):
    a, b, c, x, y, z = map(vertex, (0, 1, 2, 23, 24, 25))
    e = _edges(spark, [(b, a), (c, b), (y, x), (z, y)])
    cc = connected_components(e)
    assert _labeled_on_driver(cc) == (cc_path == "driver")
    labels = {r.id: r.comp for r in cc.collect()}
    assert labels == {a: a, b: a, c: a, x: x, y: x, z: x}


def test_cc_long_chain(spark, cc_path, vertex):
    # chain of 200 nodes → pointer jumping must converge << 200 iters
    pairs = [(vertex(i), vertex(i + 1)) for i in range(199)]
    e = _edges(spark, pairs)
    labels = connected_components(e, max_iter=12)
    assert _labeled_on_driver(labels) == (cc_path == "driver")
    comps = labels.select("comp").distinct().collect()
    assert len(comps) == 1
    assert comps[0].comp == vertex(0)
    assert labels.count() == 200


def test_canonical_mapping_excludes_roots(spark, cc_path, vertex):
    a, b = vertex(0), vertex(1)
    e = _edges(spark, [(b, a)])
    mapping = canonical_mapping(e)
    assert _labeled_on_driver(mapping) == (cc_path == "driver")
    assert {r.iri: r.canon for r in mapping.collect()} == {b: a}


def test_cc_size_gate_picks_path(spark):
    """Edge bytes over ``spark.sql.autoBroadcastJoinThreshold`` take the
    distributed rounds; under it, the driver union-find, whose labels
    come back as a local relation.  Both label the same."""
    big = [(f"http://e/{i:04d}", f"http://e/{i + 1:04d}") for i in range(0, 40, 2)]
    small = big[:1]
    prev = spark.conf.get(BROADCAST_THRESHOLD)
    spark.conf.set(BROADCAST_THRESHOLD, "300")
    try:
        over = connected_components(_edges(spark, big))
        under = connected_components(_edges(spark, small))
        assert not _labeled_on_driver(over)
        assert _labeled_on_driver(under)
        assert {(r.id, r.comp) for r in over.collect()} == {
            (v, s) for s, d in big for v in (s, d)
        }
        assert {(r.id, r.comp) for r in under.collect()} == {
            ("http://e/0000", "http://e/0000"),
            ("http://e/0001", "http://e/0000"),
        }
    finally:
        spark.conf.set(BROADCAST_THRESHOLD, prev)


def _count_checkpoints(monkeypatch, df) -> list:
    calls = []
    real = type(df).checkpoint

    def counted(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "checkpoint", counted)
    return calls


def test_cc_caller_bound_picks_path(spark, monkeypatch):
    """A caller's ``edge_bytes`` bound under the threshold labels on the
    driver straight from ``edges``: no checkpoint, repeated edges kept.
    A bound over the threshold falls back to the observed gate, which
    checkpoints the deduped edges and still labels small graphs on the
    driver; a threshold of ``-1`` always takes the distributed rounds."""
    big = [(f"http://e/{i:04d}", f"http://e/{i + 1:04d}") for i in range(0, 40, 2)]
    small = big[:1] * 3
    small_labels = {("http://e/0000", "http://e/0000"), ("http://e/0001", "http://e/0000")}
    big_labels = {(v, s) for s, d in big for v in (s, d)}
    prev = spark.conf.get(BROADCAST_THRESHOLD)
    spark.conf.set(BROADCAST_THRESHOLD, "300")
    try:
        cases = [
            # (edges, bound, driver path, checkpoints, labels)
            # the symmetric bytes with repeats counted: 2 × 3 × (13 + 13)
            (small, 156, True, 0, small_labels),
            # an edge with a NULL endpoint contributes no vertex
            (small + [(None, "http://e/0009")], 156, True, 0, small_labels),
            (small, 301, True, 1, small_labels),
            (big, 10_000, False, None, big_labels),
        ]
        for pairs, bound, on_driver, n_ckpt, labels in cases:
            e = _edges(spark, pairs)
            calls = _count_checkpoints(monkeypatch, e)
            cc = connected_components(e, edge_bytes=bound)
            assert _labeled_on_driver(cc) == on_driver, (pairs, bound)
            if n_ckpt is not None:
                assert len(calls) == n_ckpt, (pairs, bound)
            else:
                assert len(calls) > 1, (pairs, bound)  # the edges, then rounds
            assert {(r.id, r.comp) for r in cc.collect()} == labels
        spark.conf.set(BROADCAST_THRESHOLD, "-1")
        cc = connected_components(_edges(spark, small), edge_bytes=0)
        assert not _labeled_on_driver(cc)
        assert {(r.id, r.comp) for r in cc.collect()} == small_labels
        mapping = canonical_mapping(_edges(spark, small), edge_bytes=0)
        assert not _labeled_on_driver(mapping)
    finally:
        spark.conf.set(BROADCAST_THRESHOLD, prev)


def test_link_entities_rewrites(spark):
    triples = spark.createDataFrame(
        [
            ("http://x/b", "http://p/knows", "http://x/c", False, None, None, None),
            ("http://x/a", "http://p/name", "Alice", True, "http://www.w3.org/2001/XMLSchema#string", None, None),
        ],
        "subj string, pred string, obj string, obj_is_literal boolean, obj_datatype string, obj_lang string, graph string",
    )
    mapping = spark.createDataFrame(
        [("http://x/b", "http://x/a"), ("http://x/c", "http://x/a")],
        ["iri", "canon"],
    )
    out = link_entities(triples, mapping)
    rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("http://x/a", "http://p/knows", "http://x/a") in rows
    assert ("http://x/a", "http://p/name", "Alice") in rows
    # literals never rewritten even if lexically equal to an alias IRI
    assert all(r.obj == "Alice" for r in out.collect() if r.obj_is_literal)


def test_sameas_edges_extraction(spark):
    triples = spark.createDataFrame(
        [
            ("http://x/a", "http://schema.org/sameAs", "http://y/a", False, None, None, None),
            ("http://x/a", "http://schema.org/sameAs", "lit", True, None, None, None),
            ("http://x/a", "http://p/other", "http://y/b", False, None, None, None),
        ],
        "subj string, pred string, obj string, obj_is_literal boolean, obj_datatype string, obj_lang string, graph string",
    )
    e = sameas_edges(triples).collect()
    assert [(r.src, r.dst) for r in e] == [("http://x/a", "http://y/a")]


def test_end_to_end_sameas_merge(spark):
    from jsonld_spark.pipeline import KGPipeline

    pipe = KGPipeline(spark)
    triples = spark.createDataFrame(
        [
            ("http://x/b", "http://schema.org/sameAs", "http://x/a", False, None, None, None),
            ("http://x/c", "http://schema.org/sameAs", "http://x/b", False, None, None, None),
            ("http://x/c", "http://p/name", "C", True, "http://www.w3.org/2001/XMLSchema#string", None, None),
        ],
        "subj string, pred string, obj string, obj_is_literal boolean, obj_datatype string, obj_lang string, graph string",
    )
    out = pipe.linked_triples(triples)
    names = out.filter(F.col("pred") == "http://p/name").collect()
    assert names[0].subj == "http://x/a"


def test_post_link_dedup_exchange_shape(spark):
    """VERDICT r3 #8: the post-link dropDuplicates is ONE exchange keyed
    on the full 8-tuple — fine-grained (key cardinality ≈ row count, so
    no mega-domain key can skew it), and there is no url-only exchange
    in the dedup subtree that a hot domain could pile onto.  See
    PLANS.md 'Post-link dedup'."""
    from jsonld_spark.pipeline import KGPipeline

    pipe = KGPipeline(spark)
    triples = spark.createDataFrame(
        [
            ("http://s/p", "http://x/b", "http://schema.org/sameAs",
             "http://x/a", False, None, None, None),
            ("http://s/p", "http://x/b", "http://p/name", "B", True,
             None, None, None),
        ],
        "url string, subj string, pred string, obj string, "
        "obj_is_literal boolean, obj_datatype string, obj_lang string, "
        "graph string",
    )
    out = pipe.linked_triples(triples)
    plan = out._jdf.queryExecution().executedPlan().toString()
    dedup_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
        and "url" in ln
        and "subj" in ln  # the dedup exchange carries the full tuple
    ]
    assert dedup_exchanges, plan
    for ln in dedup_exchanges:
        # full 8-tuple key: every column participates in the hash
        for col in ("url", "subj", "pred", "obj", "obj_is_literal",
                    "obj_datatype", "obj_lang", "graph"):
            assert col in ln, (col, ln)


def test_link_entities_is_lazy(spark):
    """Plan construction must not trigger an eager job: a mapping whose
    evaluation raises only fails when the OUTPUT is executed, proving
    link_entities ran no count()/collect() while building the plan."""
    from pyspark.sql import types as T

    def boom(_):
        raise RuntimeError("mapping evaluated eagerly")

    bomb = F.udf(boom, T.StringType())
    base = spark.createDataFrame([("http://a", "http://c")], ["iri", "canon"])
    mapping = base.select(bomb("iri").alias("iri"), "canon")
    triples = spark.createDataFrame(
        [("http://a", "http://p", "http://b", False, None, None, None)],
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_datatype string, obj_lang string, graph string",
    )
    out = link_entities(triples, mapping)  # must not raise
    import pytest as _pytest

    with _pytest.raises(Exception):
        out.collect()  # the bomb only detonates on execution


def test_cc_uses_reliable_checkpoint(spark):
    """CC must set a checkpoint dir and produce reliable (non-local)
    checkpoints — localCheckpoint partitions die with their executor."""
    e = _edges(spark, [("b", "a"), ("c", "b")])
    connected_components(e)
    assert spark.sparkContext.getCheckpointDir() is not None


def test_dense_ids_match_global_window_and_avoid_single_partition(spark):
    """VERDICT r4 #5: the dense entity ids ``negative_samples`` draws
    from must be byte-identical to the single-partition
    ``row_number().over(Window.orderBy(iri))`` they replaced, with NO
    single-partition exchange anywhere in the plan (the two-phase
    per-partition-offset assignment parallelizes every stage)."""
    import random

    from pyspark.sql import Window

    from jsonld_spark.operators.graph import (
        dense_ids_by_sorted_order,
        ranged_partition_offsets,
    )

    rng = random.Random(7)
    iris = [f"http://e/{rng.randrange(10**9):09d}" for _ in range(997)]
    iris = list(dict.fromkeys(iris))  # distinct, insertion order random
    df = spark.createDataFrame([(i,) for i in iris], "iri string")

    # the per-partition offsets stay on the driver: no RDD, no task
    _, off_df = ranged_partition_offsets(df, ["iri"])
    off_plan = off_df._jdf.queryExecution().optimizedPlan().toString()
    assert off_plan.startswith("LocalRelation"), off_plan

    got = dense_ids_by_sorted_order(df, "iri")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning(_pid" in plan, plan  # per-partition rank

    expected = {
        (r.iri, r.vid)
        for r in df.withColumn(
            "vid", F.row_number().over(Window.orderBy("iri")).cast("long")
        ).collect()
    }
    assert {(r.iri, r.vid) for r in got.collect()} == expected


def test_cc_cycle_and_star(spark, cc_path, vertex):
    """A cycle (a→b→c→a) with a star spoke (m→a) next to a separate
    pair: every vertex of a component gets its least vertex, whichever
    way the edges point."""
    a, b, c, m, x, y = map(vertex, (0, 1, 2, 12, 23, 24))
    edges = _edges(spark, [(a, b), (b, c), (x, y), (c, a), (m, a)])
    cc = connected_components(edges)
    assert _labeled_on_driver(cc) == (cc_path == "driver")
    assert {(r.id, r.comp) for r in cc.collect()} == {
        (a, a), (b, a), (c, a), (m, a), (x, x), (y, x)
    }


def test_component_stats_histogram(spark):
    from jsonld_spark.operators.graph import component_stats

    labels = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("d", "d"), ("e", "d"), ("f", "d")],
        "id string, comp string",
    )
    rows = {r.size: r.n_components for r in component_stats(labels).collect()}
    assert rows == {1: 1, 2: 1, 3: 1}


def test_graph_diff_directions(spark):
    from jsonld_spark.operators.graph import graph_diff

    cols = "subj string, pred string, obj string"
    old = spark.createDataFrame(
        [("s1", "p", "a"), ("s2", "p", "b"), ("s2", "p", "b")], cols
    )  # duplicate row: set semantics
    new = spark.createDataFrame([("s1", "p", "a"), ("s3", "p", "c")], cols)
    rows = {(r.op, r.subj, r.obj) for r in graph_diff(old, new).collect()}
    assert rows == {("+", "s3", "c"), ("-", "s2", "b")}


def test_negative_samples_deterministic_and_filtered(spark):
    import hashlib

    from jsonld_spark.operators.graph import negative_samples

    cols = "subj string, pred string, obj string"
    triples = [("a", "p", "b"), ("a", "p", "c"), ("b", "p", "c")]
    t = spark.createDataFrame(triples, cols)
    s1 = negative_samples(t, k=2).collect()
    s2 = negative_samples(t, k=2).collect()
    assert [tuple(r) for r in s1] == [tuple(r) for r in s2]  # bit-stable

    # full Python mirror of the draw (pins the 1..n dense-id indexing:
    # a plain `mod n` would silently drop draws landing on id 0)
    ents = sorted({s for s, _, _ in triples} | {o for _, _, o in triples})
    real = set(triples)
    expected = set()
    for (su, p, o) in triples:
        for i in range(2):
            key = f"{su}\x00{p}\x00{o}\x00{i}".encode()
            h = int(hashlib.md5(key).hexdigest()[:8], 16) % len(ents)
            neg = ents[h]  # ents[h] == dense id h+1
            if neg != o and (su, p, neg) not in real:
                expected.add((su, p, o, neg, i))
    got = {(r.subj, r.pred, r.obj, r.neg_obj, r.sample_idx) for r in s1}
    assert got == expected
    with pytest.raises(ValueError, match="k must be"):
        negative_samples(t, k=0)

    # literal-only graph: n = 0 entities must be an explicit error, not
    # a silent-NULL pmod(x, 0) empty result
    lit = spark.createDataFrame(
        [("s", "p", "v", True)],
        "subj string, pred string, obj string, obj_is_literal boolean",
    )
    with pytest.raises(ValueError, match="no resource-object triples"):
        negative_samples(lit, k=1)


def test_infer_properties_rdfs7(spark):
    from jsonld_spark.operators.graph import infer_properties

    t = spark.createDataFrame(
        [("a", "p2", "v"), ("b", "p1", "w"), ("c", "q", "z")],
        "subj string, pred string, obj string",
    )
    # p2 ⊑ p1 ⊑ p0 — two-level closure
    sp = spark.createDataFrame(
        [("p2", "p1"), ("p1", "p0")], "src string, dst string"
    )
    got = {(r.subj, r.pred, r.obj) for r in infer_properties(t, sp).collect()}
    assert got == {
        ("a", "p2", "v"), ("a", "p1", "v"), ("a", "p0", "v"),
        ("b", "p1", "w"), ("b", "p0", "w"),
        ("c", "q", "z"),
    }
