"""KG graph-query operators: BGP matching, PageRank, transitive closure.

Semantics on tiny hand graphs + plan assertions (constant components of
a BGP pattern must reach the parquet scan as PushedFilters; no
single-partition exchange in the PageRank loop)."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from jsonld_spark.operators.bgp import bgp_match, bgp_optional, bgp_union
from jsonld_spark.operators.graph import pagerank, transitive_closure

EX = "http://ex.org/"
TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

TRIPLE_COLS = "subj string, pred string, obj string"


def _triples(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_COLS)


@pytest.fixture(scope="module")
def tiny(spark):
    return _triples(
        spark,
        [
            (EX + "a", TYPE, EX + "Person"),
            (EX + "b", TYPE, EX + "Person"),
            (EX + "c", TYPE, EX + "Place"),
            (EX + "a", EX + "knows", EX + "b"),
            (EX + "b", EX + "knows", EX + "c"),
            (EX + "a", EX + "name", "Alice"),
            (EX + "b", EX + "name", "Bob"),
            (EX + "c", EX + "name", "Carol"),
            (EX + "n", EX + "self", EX + "n"),
        ],
    )


class TestBgpMatch:
    def test_join_two_patterns(self, tiny):
        out = bgp_match(
            tiny,
            [
                ("?x", TYPE, EX + "Person"),
                ("?x", EX + "name", "?n"),
            ],
        )
        assert sorted(out.columns) == ["n", "x"]
        assert sorted(tuple(r) for r in out.collect()) == [
            (EX + "a", "Alice"),
            (EX + "b", "Bob"),
        ]

    def test_three_hop_chain(self, tiny):
        out = bgp_match(
            tiny,
            [
                ("?x", EX + "knows", "?y"),
                ("?y", EX + "knows", "?z"),
                ("?z", EX + "name", "?n"),
            ],
        )
        assert sorted(out.columns) == ["n", "x", "y", "z"]
        rows = out.collect()
        assert len(rows) == 1
        row = rows[0].asDict()
        assert row == {"x": EX + "a", "y": EX + "b", "z": EX + "c", "n": "Carol"}

    def test_repeated_var_in_one_pattern(self, tiny):
        out = bgp_match(tiny, [("?x", EX + "self", "?x")])
        assert [r.x for r in out.collect()] == [EX + "n"]

    def test_ground_pattern_gates_existence(self, spark, tiny):
        # ground patterns are existence gates, NOT cartesian products —
        # no allow_cartesian opt-in required
        hit = bgp_match(
            tiny,
            [("?x", EX + "name", "?n"), (EX + "a", TYPE, EX + "Person")],
        )
        assert hit.count() == 3
        miss = bgp_match(
            tiny,
            [("?x", EX + "name", "?n"), (EX + "a", TYPE, EX + "Robot")],
        )
        assert miss.count() == 0
        assert sorted(hit.columns) == ["n", "x"]  # ground col dropped

    def test_all_ground_ask(self, spark, tiny):
        # a BGP of only ground patterns is a boolean ask: 1 row iff all hold
        yes = bgp_match(
            tiny,
            [(EX + "a", TYPE, EX + "Person"), (EX + "b", TYPE, EX + "Person")],
        )
        assert yes.count() == 1
        no = bgp_match(
            tiny,
            [(EX + "a", TYPE, EX + "Person"), (EX + "a", TYPE, EX + "Robot")],
        )
        assert no.count() == 0

    def test_disconnected_refused(self, tiny):
        with pytest.raises(ValueError, match="disconnected"):
            bgp_match(tiny, [("?x", TYPE, "?t"), ("?y", EX + "name", "?n")])

    def test_optional_extends_or_nulls(self, tiny):
        # c (a Place with a name) knows nobody → y is NULL, row kept
        out = bgp_optional(
            tiny,
            [("?x", EX + "name", "?n")],
            [[("?x", EX + "knows", "?y")]],
        )
        rows = {r.x: (r.n, r.y) for r in out.collect()}
        assert rows[EX + "a"] == ("Alice", EX + "b")
        assert rows[EX + "b"] == ("Bob", EX + "c")
        assert rows[EX + "c"] == ("Carol", None)

    def test_optional_two_groups(self, tiny):
        out = bgp_optional(
            tiny,
            [("?x", EX + "name", "?n")],
            [[("?x", EX + "knows", "?y")], [("?x", TYPE, "?t")]],
        )
        rows = {r.x: (r.y, r.t) for r in out.collect()}
        assert rows[EX + "c"] == (None, EX + "Place")

    def test_optional_refusals(self, tiny):
        with pytest.raises(ValueError, match="shares no variable"):
            bgp_optional(
                tiny,
                [("?x", EX + "name", "?n")],
                [[("?y", EX + "knows", "?z")]],
            )
        with pytest.raises(ValueError, match="two optional groups"):
            bgp_optional(
                tiny,
                [("?x", EX + "name", "?n")],
                [[("?x", EX + "knows", "?y")], [("?x", EX + "self", "?y")]],
            )

    def test_union_branches_null_unshared(self, tiny):
        out = bgp_union(
            tiny,
            [
                [("?x", TYPE, EX + "Person")],
                [("?x", EX + "knows", "?y")],
            ],
        )
        rows = {(r.x, r.y) for r in out.collect()}
        assert rows == {
            (EX + "a", None),
            (EX + "b", None),
            (EX + "a", EX + "b"),
            (EX + "b", EX + "c"),
        }

    def test_union_empty_refused(self, tiny):
        with pytest.raises(ValueError, match="empty"):
            bgp_union(tiny, [])

    def test_empty_patterns_refused(self, tiny):
        with pytest.raises(ValueError, match="empty"):
            bgp_match(tiny, [])

    def test_constants_push_to_parquet_scan(self, spark, tiny, tmp_path):
        path = str(tmp_path / "triples.parquet")
        tiny.write.parquet(path)
        out = bgp_match(
            spark.read.parquet(path),
            [("?x", TYPE, EX + "Person"), ("?x", EX + "name", "?n")],
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and TYPE in plan, plan[:2000]

    def test_duplicate_witnesses_project_once(self, spark):
        # set semantics: two triples witnessing the same binding → 1 row
        t = _triples(
            spark,
            [
                (EX + "a", EX + "p", "v1"),
                (EX + "a", EX + "q", "v2"),
            ],
        )
        out = bgp_match(t, [("?x", "?p", "?v"), ("?x", EX + "p", "v1")])
        assert out.count() == 2  # (a,p,v1) and (a,q,v2) bindings survive
        only_x = bgp_match(t, [("?x", EX + "p", "?v")])
        assert only_x.count() == 1


def _py_pagerank(edges, iters=10, scale=10**12):
    """Pure-Python mirror of the integer recurrence (the oracle of the
    oracle): same div/mod arithmetic, dict-based."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    init = scale // n
    base = ((scale // n) * 15) // 100
    ranks = {v: init for v in nodes}
    for _ in range(iters):
        inc = {v: 0 for v in nodes}
        for s, d in edges:
            inc[d] += ranks[s] // deg[s]
        ranks = {v: base + (inc[v] * 85) // 100 for v in nodes}
    return ranks


class TestPagerank:
    def test_matches_python_mirror(self, spark):
        edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.id: r.rank_x1e12 for r in pagerank(df, iters=6).collect()}
        assert got == _py_pagerank(edges, iters=6)

    def test_symmetric_cycle_uniform(self, spark):
        edges = [(0, 1), (1, 2), (2, 0)]
        df = spark.createDataFrame(edges, "src long, dst long")
        ranks = [r.rank_x1e12 for r in pagerank(df, iters=8).collect()]
        assert len(set(ranks)) == 1  # symmetry → identical ranks
        assert sum(ranks) == sum(_py_pagerank(edges, iters=8).values())

    def test_duplicate_edges_collapse(self, spark):
        df = spark.createDataFrame(
            [(0, 1), (0, 1), (1, 0)], "src long, dst long"
        )
        got = {r.id: r.rank_x1e12 for r in pagerank(df, iters=3).collect()}
        assert got == _py_pagerank([(0, 1), (1, 0)], iters=3)

    def test_no_single_partition_exchange(self, spark):
        df = spark.createDataFrame([(i, (i + 1) % 50) for i in range(50)],
                                   "src long, dst long")
        out = pagerank(df, iters=2)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, plan[:2000]


class TestTransitiveClosure:
    def test_chain(self, spark):
        df = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
        )
        got = sorted(tuple(r) for r in transitive_closure(df).collect())
        assert got == [
            ("a", "b"), ("a", "c"), ("a", "d"),
            ("b", "c"), ("b", "d"), ("c", "d"),
        ]

    def test_cycle_closes_onto_self(self, spark):
        df = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
        got = sorted(tuple(r) for r in transitive_closure(df).collect())
        assert got == [("a", "a"), ("a", "b"), ("b", "a"), ("b", "b")]

    def test_doubling_round_count(self, spark):
        # 8-edge chain has diameter 8 → ≤ 3 doubling rounds + 1 to detect
        # the fixpoint; max_iter=1 must warn (not converged)
        df = spark.createDataFrame(
            [(str(i), str(i + 1)) for i in range(8)], "src string, dst string"
        )
        with pytest.warns(UserWarning, match="not converged"):
            transitive_closure(df, max_iter=1)
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            full = transitive_closure(df, max_iter=4)
        assert full.count() == 8 * 9 // 2

    def test_null_edges_dropped(self, spark):
        df = spark.createDataFrame(
            [("a", "b"), (None, "c"), ("b", None)], "src string, dst string"
        )
        got = sorted(tuple(r) for r in transitive_closure(df).collect())
        assert got == [("a", "b")]


class TestPropertyPath:
    def test_atomic_and_inverse(self, tiny):
        from jsonld_spark.operators.paths import property_path

        knows = property_path(tiny, EX + "knows")
        assert {(r.src, r.dst) for r in knows.collect()} == {
            (EX + "a", EX + "b"),
            (EX + "b", EX + "c"),
        }
        inv = property_path(tiny, ("inv", EX + "knows"))
        assert {(r.src, r.dst) for r in inv.collect()} == {
            (EX + "b", EX + "a"),
            (EX + "c", EX + "b"),
        }

    def test_seq_alt(self, tiny):
        from jsonld_spark.operators.paths import property_path

        seq = property_path(tiny, ("seq", EX + "knows", EX + "name"))
        assert {(r.src, r.dst) for r in seq.collect()} == {
            (EX + "a", "Bob"),
            (EX + "b", "Carol"),
        }
        alt = property_path(tiny, ("alt", EX + "knows", EX + "self"))
        assert alt.count() == 3  # a->b, b->c, n->n

    def test_plus_star_opt(self, tiny):
        from jsonld_spark.operators.paths import property_path

        plus = property_path(tiny, ("plus", EX + "knows"))
        assert {(r.src, r.dst) for r in plus.collect()} == {
            (EX + "a", EX + "b"),
            (EX + "a", EX + "c"),
            (EX + "b", EX + "c"),
        }
        # graph node set: subjects {a,b,c,n} ∪ objects
        # {Person,Place,b,c,Alice,Bob,Carol,n} = 9 terms
        star = property_path(tiny, ("star", EX + "knows"))
        assert star.count() == 3 + 9
        opt = property_path(tiny, ("opt", EX + "name"))
        assert opt.count() == 3 + 9
        # identity pairs present for literal terms too (SPARQL node set)
        assert opt.filter("src = 'Alice' and dst = 'Alice'").count() == 1

    def test_bad_paths_refused(self, tiny):
        from jsonld_spark.operators.paths import property_path

        with pytest.raises(ValueError, match="unknown operator"):
            property_path(tiny, ("negation", EX + "p"))
        with pytest.raises(ValueError, match="seq needs"):
            property_path(tiny, ("seq", EX + "p"))
        with pytest.raises(ValueError, match="bad path"):
            property_path(tiny, 42)


class TestVoidStats:
    def test_property_partitions(self, tiny):
        from jsonld_spark.operators.graph import void_stats

        rows = {r.pred: r for r in void_stats(tiny).collect()}
        assert rows[TYPE].n_triples == 3
        assert rows[TYPE].n_subjects == 3
        assert rows[TYPE].n_objects == 2  # Person, Place
        assert rows[EX + "knows"].n_triples == 2
        assert rows[EX + "name"].n_objects == 3
        assert rows[EX + "self"].n_triples == 1
        assert list(rows) == sorted(rows)  # ordered by pred


class TestInferTypes:
    def test_rdfs9_inheritance(self, spark):
        from jsonld_spark.operators.graph import infer_types

        typed = spark.createDataFrame(
            [("x", "C4"), ("y", "C2"), ("z", "Q")], "subj string, cls string"
        )
        subclass = spark.createDataFrame(
            [("C4", "C2"), ("C2", "C1")], "src string, dst string"
        )
        out = {(r.subj, r.cls) for r in infer_types(typed, subclass).collect()}
        assert out == {
            ("x", "C4"), ("x", "C2"), ("x", "C1"),  # full chain
            ("y", "C2"), ("y", "C1"),
            ("z", "Q"),  # class outside the ontology: asserted only
        }

    def test_diamond_dedups(self, spark):
        from jsonld_spark.operators.graph import infer_types

        typed = spark.createDataFrame([("x", "A")], "subj string, cls string")
        subclass = spark.createDataFrame(
            [("A", "B"), ("A", "C"), ("B", "D"), ("C", "D")],
            "src string, dst string",
        )
        out = infer_types(typed, subclass)
        assert out.count() == 4  # {A,B,C,D} — D once despite two routes


class TestTfidf:
    def test_ranking_and_ties(self, spark):
        from jsonld_spark.functions.text import tfidf_top_terms

        docs = spark.createDataFrame(
            [
                (1, "a a b", "en", "s", 5),
                (2, "a c", "en", "s", 3),
                (3, "a d d d", "en", "s", 7),
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        out = tfidf_top_terms(docs, k=2).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append((r.rnk, r.term, r.tf, r.df, r.idf_x1000))
        # df: a=3 (idf 1000), b/c/d=1 (idf 3000)
        assert by_doc[1] == [(1, "b", 1, 1, 3000), (2, "a", 2, 3, 1000)]
        assert by_doc[2] == [(1, "c", 1, 1, 3000), (2, "a", 1, 3, 1000)]
        assert by_doc[3] == [(1, "d", 3, 1, 3000), (2, "a", 1, 3, 1000)]


class TestNegatedPropertySet:
    def test_neg_and_neg_inv(self, spark, tiny):
        from jsonld_spark.operators.paths import property_path

        # everything except type/name/self edges → just the knows edges
        neg = property_path(
            tiny, ("neg", TYPE, EX + "name", EX + "self")
        )
        assert {(r.src, r.dst) for r in neg.collect()} == {
            (EX + "a", EX + "b"),
            (EX + "b", EX + "c"),
        }
        inv = property_path(tiny, ("neg_inv", TYPE, EX + "name", EX + "self"))
        assert {(r.src, r.dst) for r in inv.collect()} == {
            (EX + "b", EX + "a"),
            (EX + "c", EX + "b"),
        }

    def test_neg_arity_and_types(self, tiny):
        from jsonld_spark.operators.paths import property_path

        with pytest.raises(ValueError, match="predicate IRIs"):
            property_path(tiny, ("neg",))
        with pytest.raises(ValueError, match="predicate IRIs"):
            property_path(tiny, ("neg", ("inv", EX + "p")))


class TestConstruct:
    def test_projects_templates(self, spark, tiny):
        from jsonld_spark.operators.bgp import bgp_match, construct

        sols = bgp_match(tiny, [("?x", EX + "knows", "?y")])
        out = construct(
            sols,
            [("?y", EX + "knownBy", "?x"), ("?x", TYPE, EX + "Knower")],
        )
        rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
        assert rows == {
            (EX + "b", EX + "knownBy", EX + "a"),
            (EX + "c", EX + "knownBy", EX + "b"),
            (EX + "a", TYPE, EX + "Knower"),
            (EX + "b", TYPE, EX + "Knower"),
        }

    def test_unbound_variable_refused(self, spark, tiny):
        from jsonld_spark.operators.bgp import bgp_match, construct

        sols = bgp_match(tiny, [("?x", EX + "knows", "?y")])
        with pytest.raises(ValueError, match="not bound"):
            construct(sols, [("?x", EX + "p", "?missing")])


class TestForwardChain:
    def test_transitivity_rule(self, spark):
        from jsonld_spark.operators.bgp import forward_chain

        # chain 1→2→3→4 saturates to all 6 descending pairs
        t = _triples(
            spark,
            [(f"n{i}", EX + "lt", f"n{i+1}") for i in range(1, 4)],
        )
        rules = [
            (
                [("?x", EX + "lt", "?y"), ("?y", EX + "lt", "?z")],
                [("?x", EX + "lt", "?z")],
            )
        ]
        out = forward_chain(t, rules)
        assert out.count() == 6
        # lineage bound: the saturated set is a union of checkpoint
        # scans only — no round's join survives into the plan
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" in plan and "Join" not in plan, plan

    def test_rdfs9_two_rules(self, spark):
        from jsonld_spark.operators.bgp import forward_chain

        t = _triples(
            spark,
            [
                ("i", TYPE, "C4"),
                ("C4", EX + "sub", "C2"),
                ("C2", EX + "sub", "C1"),
            ],
        )
        rules = [
            (  # subClassOf transitivity
                [("?a", EX + "sub", "?b"), ("?b", EX + "sub", "?c")],
                [("?a", EX + "sub", "?c")],
            ),
            (  # rdfs9
                [("?i", TYPE, "?c"), ("?c", EX + "sub", "?d")],
                [("?i", TYPE, "?d")],
            ),
        ]
        out = forward_chain(t, rules)
        rows = {(r.subj, r.pred, r.obj) for r in out.collect()}
        assert ("i", TYPE, "C2") in rows and ("i", TYPE, "C1") in rows
        assert ("C4", EX + "sub", "C1") in rows
        assert out.count() == 3 + 1 + 2  # asserted + C4subC1 + 2 types

    def test_empty_rules_refused(self, spark, tiny):
        from jsonld_spark.operators.bgp import forward_chain

        with pytest.raises(ValueError, match="empty rule"):
            forward_chain(tiny, [])


class TestShacl:
    @pytest.fixture(scope="class")
    def kg(self, spark):
        # (subj, pred, obj, obj_is_literal, obj_datatype)
        XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
        rows = [
            ("d1", TYPE, EX + "Doc", False, None),
            ("d1", EX + "lang", "en", True, None),
            ("d1", EX + "size", "5", True, XSD_INT),
            ("d1", EX + "ref", EX + "x", False, None),
            ("d2", TYPE, EX + "Doc", False, None),        # missing lang
            ("d2", EX + "size", "big", True, None),       # wrong datatype
            ("d2", EX + "ref", "literal!", True, None),   # literal ref
            ("d3", TYPE, EX + "Doc", False, None),
            ("d3", EX + "lang", "en", True, None),
            ("d3", EX + "lang", "fr", True, None),        # two langs + pattern
            ("u1", EX + "lang", "zz", True, None),        # NOT a Doc: ignored
        ]
        return spark.createDataFrame(
            rows,
            "subj string, pred string, obj string, obj_is_literal boolean, obj_datatype string",
        )

    def test_all_constraint_kinds(self, spark, kg):
        from jsonld_spark.operators.shacl import validate_shapes

        shapes = [
            {
                "name": "DocShape",
                "target_class": EX + "Doc",
                "properties": [
                    {"path": EX + "lang", "min_count": 1, "max_count": 1,
                     "pattern": "^e"},
                    {"path": EX + "size",
                     "datatype": "http://www.w3.org/2001/XMLSchema#integer"},
                    {"path": EX + "ref", "node_kind": "iri"},
                ],
            }
        ]
        out = validate_shapes(kg, shapes)
        rows = {(r.focus, r.constraint, r.value) for r in out.collect()}
        assert rows == {
            ("d2", "minCount 1", "0"),
            ("d3", "maxCount 1", "2"),
            ("d3", "pattern ^e", "fr"),
            ("d2", "datatype http://www.w3.org/2001/XMLSchema#integer", "big"),
            ("d2", "nodeKind iri", "literal!"),
        }

    def test_length_and_range_facets(self, spark, kg):
        from jsonld_spark.operators.shacl import validate_shapes

        shapes = [
            {
                "name": "FacetShape",
                "target_class": EX + "Doc",
                "properties": [
                    {"path": EX + "lang", "min_length": 2, "max_length": 2},
                    {"path": EX + "size", "min_inclusive": 1,
                     "max_inclusive": 4},
                ],
            }
        ]
        out = validate_shapes(kg, shapes)
        rows = {(r.focus, r.constraint, r.value) for r in out.collect()}
        assert rows == {
            # d1 size '5' > 4 inclusive max; d2 size 'big' is
            # non-numeric → violates BOTH range facets
            ("d1", "maxInclusive 4", "5"),
            ("d2", "minInclusive 1", "big"),
            ("d2", "maxInclusive 4", "big"),
        }

        excl = validate_shapes(
            kg,
            [{
                "name": "Excl",
                "target_class": EX + "Doc",
                "properties": [
                    {"path": EX + "size", "min_exclusive": 5},
                ],
            }],
        )
        got = {(r.focus, r.constraint, r.value) for r in excl.collect()}
        assert got == {
            ("d1", "minExclusive 5", "5"),   # 5 > 5 is false
            ("d2", "minExclusive 5", "big"),
        }

        lng = validate_shapes(
            kg,
            [{
                "name": "Lng",
                "target_class": EX + "Doc",
                "properties": [
                    {"path": EX + "ref", "max_length": 3},
                ],
            }],
        )
        # IRI value longer than 3 chars flags too (modeling error row)
        assert {(r.focus, r.value) for r in lng.collect()} == {
            ("d1", EX + "x"), ("d2", "literal!"),
        }

    def test_refusals(self, spark, kg):
        from jsonld_spark.operators.shacl import validate_shapes

        with pytest.raises(ValueError, match="empty shape"):
            validate_shapes(kg, [])
        with pytest.raises(ValueError, match="no constraints"):
            validate_shapes(kg, [{"target_class": EX + "Doc"}])
        with pytest.raises(ValueError, match="node_kind"):
            validate_shapes(
                kg,
                [{"target_class": EX + "Doc",
                  "properties": [{"path": EX + "p", "node_kind": "bnode"}]}],
            )


class TestQuadPatterns:
    def test_graph_position(self, spark):
        from jsonld_spark.operators.bgp import bgp_match

        t = spark.createDataFrame(
            [
                ("s1", EX + "p", "v1", "g1"),
                ("s2", EX + "p", "v2", "g2"),
                ("s3", EX + "q", "v3", "g1"),
            ],
            "subj string, pred string, obj string, graph string",
        )
        # constant graph constrains; 3-patterns still work on quad frames
        out = bgp_match(t, [("?x", EX + "p", "?v", "g1")])
        assert [(r.x, r.v) for r in out.collect()] == [("s1", "v1")]
        # graph variable binds and joins across patterns
        out2 = bgp_match(
            t, [("?x", EX + "p", "?v", "?g"), ("?y", EX + "q", "?w", "?g")]
        )
        rows = out2.collect()
        assert len(rows) == 1 and rows[0].g == "g1" and rows[0].y == "s3"
        with pytest.raises(ValueError, match="must be"):
            bgp_match(t, [("s", "p")])


class TestDescribe:
    def test_cbd_follows_bnodes_only(self, spark):
        from jsonld_spark.operators.bgp import describe

        t = spark.createDataFrame(
            [
                (EX + "a", EX + "p", "_:b1"),
                ("_:b1", EX + "q", "_:b2"),
                ("_:b2", EX + "r", "leaf"),
                (EX + "a", EX + "link", EX + "other"),
                (EX + "other", EX + "p", "not-followed"),
                (EX + "z", EX + "p", "unrelated"),
            ],
            TRIPLE_COLS,
        )
        out = describe(t, [EX + "a"])
        rows = {(r.subj, r.obj) for r in out.collect()}
        assert rows == {
            (EX + "a", "_:b1"),
            ("_:b1", "_:b2"),
            ("_:b2", "leaf"),
            (EX + "a", EX + "other"),
        }

    def test_dataframe_seeds_and_empty(self, spark):
        from jsonld_spark.operators.bgp import describe

        t = spark.createDataFrame([(EX + "a", EX + "p", "v")], TRIPLE_COLS)
        seeds = t.select(F.col("subj"))
        assert describe(t, seeds).count() == 1
        with pytest.raises(ValueError, match="empty subject"):
            describe(t, [])
        with pytest.raises(ValueError, match="max_iter"):
            describe(t, [EX + "a"], max_iter=0)


class TestCanonicalUrl:
    def test_normalization_rules(self, spark):
        from jsonld_spark.functions.text import canonical_urls

        cases = [
            ("HTTP://Ex.COM:80/a/b?b=2&a=1#frag", "http://ex.com/a/b?a=1&b=2"),
            ("https://ex.com:443", "https://ex.com/"),
            ("https://ex.com:8443/x", "https://ex.com:8443/x"),  # non-default port kept
            ("relative/path", "relative/path"),                  # not absolute: untouched
            ("http://ex.com/?z=1", "http://ex.com/?z=1"),
            ("ftp://EX.com:80/f", "ftp://ex.com:80/f"),          # :80 only default for http
        ]
        df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
        got = {r.url: r.canonical_url for r in canonical_urls(df).collect()}
        for u, want in cases:
            assert got[u] == want, (u, got[u], want)


class TestIfpLinking:
    def test_groups_and_edges(self, spark):
        from jsonld_spark.operators.graph import (
            ifp_link_candidates,
            ifp_sameas_edges,
        )

        t = spark.createDataFrame(
            [
                ("a", EX + "mbox", "x@e"),
                ("b", EX + "mbox", "x@e"),
                ("c", EX + "mbox", "y@e"),   # singleton: no group
                ("d", EX + "mbox", "z@e"),
                ("e", EX + "mbox", "z@e"),
                ("f", EX + "mbox", "z@e"),
                ("g", EX + "other", "x@e"),  # different predicate: ignored
            ],
            TRIPLE_COLS,
        )
        groups = {
            r.val: (r.n_subjects, r.canonical_subj)
            for r in ifp_link_candidates(t, EX + "mbox").collect()
        }
        assert groups == {"x@e": (2, "a"), "z@e": (3, "d")}
        edges = {
            (r.src, r.dst) for r in ifp_sameas_edges(t, EX + "mbox").collect()
        }
        assert edges == {("b", "a"), ("e", "d"), ("f", "d")}

    def test_max_group_drops_junk_keys(self, spark):
        from jsonld_spark.operators.graph import ifp_link_candidates

        t = spark.createDataFrame(
            [(f"s{i}", EX + "mbox", "") for i in range(5)]
            + [("a", EX + "mbox", "v"), ("b", EX + "mbox", "v")],
            TRIPLE_COLS,
        )
        out = ifp_link_candidates(t, EX + "mbox", max_group=4).collect()
        assert [(r.val, r.n_subjects) for r in out] == [("v", 2)]


class TestIfpPipelineIntegration:
    def test_linked_triples_merges_ifp_evidence(self, spark):
        from jsonld_spark.pipeline import KGPipeline

        # two docs share an IFP value but have NO sameAs link: with
        # ifp_preds they collapse to one canonical subject
        rows = [
            ("u1", "http://e/a", EX + "mbox", "x@e", True, None, None, None),
            ("u2", "http://e/b", EX + "mbox", "x@e", True, None, None, None),
            ("u1", "http://e/a", EX + "p", "v", True, None, None, None),
            ("u2", "http://e/b", EX + "p", "v", True, None, None, None),
        ]
        cols = ("url string, subj string, pred string, obj string, "
                "obj_is_literal boolean, obj_datatype string, "
                "obj_lang string, graph string")
        t = spark.createDataFrame(rows, cols)
        pipe = KGPipeline(spark)
        plain = pipe.linked_triples(t)
        assert plain.select("subj").distinct().count() == 2  # no merge
        linked = pipe.linked_triples(t, ifp_preds=(EX + "mbox",))
        subs = {r.subj for r in linked.select("subj").distinct().collect()}
        assert subs == {"http://e/a"}  # min-IRI canonical


class TestShaclUnknownKey:
    def test_typoed_constraint_refused(self, spark):
        from jsonld_spark.operators.shacl import validate_shapes

        t = spark.createDataFrame(
            [("s", TYPE, EX + "Doc")], TRIPLE_COLS
        )
        with pytest.raises(ValueError, match="unknown constraint"):
            validate_shapes(
                t,
                [{"target_class": EX + "Doc",
                  "properties": [{"path": EX + "p", "mincount": 1}]}],
            )


def test_bucketed_bgp_no_exchange(spark, tmp_path):
    """The 100-TB plan shape: over a SUBJECT-BUCKETED triples table,
    a subject-star BGP with bag semantics compiles to sort-merge joins
    with ZERO exchanges — the scan's bucket partitioning satisfies
    every join's distribution requirement."""
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        spark.sql("DROP TABLE IF EXISTS bgp_bucketed_test")
        t = _triples(
            spark,
            [(f"s{i % 20}", f"{EX}p{i % 3}", f"o{i}") for i in range(200)],
        )
        (
            t.write.bucketBy(4, "subj")
            .sortBy("subj")
            .mode("overwrite")
            .saveAsTable("bgp_bucketed_test")
        )
        tb = spark.table("bgp_bucketed_test")
        out = bgp_match(
            tb,
            [
                ("?x", EX + "p0", "?a"),
                ("?x", EX + "p1", "?b"),
                ("?x", EX + "p2", "?c"),
            ],
            set_semantics=False,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan[:3000]
        assert "SortMergeJoin" in plan
        assert out.count() > 0
        # bag vs set: final distinct recovers set results (one exchange
        # total instead of one per pattern)
        set_rows = bgp_match(
            tb, [("?x", EX + "p0", "?a")], set_semantics=True
        ).count()
        bag_rows = (
            bgp_match(tb, [("?x", EX + "p0", "?a")], set_semantics=False)
            .distinct()
            .count()
        )
        assert set_rows == bag_rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        spark.sql("DROP TABLE IF EXISTS bgp_bucketed_test")


class TestIncrementalChain:
    def test_empty_delta_returns_base(self, spark):
        from jsonld_spark.operators.bgp import (
            forward_chain,
            forward_chain_incremental,
        )

        cols = "subj string, pred string, obj string"
        t = spark.createDataFrame([("a", EX + "lt", "b")], cols)
        rules = [
            (
                [("?x", EX + "lt", "?y"), ("?y", EX + "lt", "?z")],
                [("?x", EX + "lt", "?z")],
            )
        ]
        base = forward_chain(t, rules)
        # delta already contained in the base: nothing to do
        inc = forward_chain_incremental(base, t, rules)
        assert inc.count() == base.count()

    def test_delta_derivation_joins_old_facts(self, spark):
        from jsonld_spark.operators.bgp import (
            forward_chain,
            forward_chain_incremental,
        )

        cols = "subj string, pred string, obj string"
        rules = [
            (
                [("?x", EX + "lt", "?y"), ("?y", EX + "lt", "?z")],
                [("?x", EX + "lt", "?z")],
            )
        ]
        base = forward_chain(
            spark.createDataFrame([("a", EX + "lt", "b")], cols), rules
        )
        inc = forward_chain_incremental(
            base,
            spark.createDataFrame([("b", EX + "lt", "c")], cols),
            rules,
        )
        rows = {(r.subj, r.obj) for r in inc.collect()}
        # the new edge must join the OLD edge to derive a->c
        assert rows == {("a", "b"), ("b", "c"), ("a", "c")}


class TestShaclClass:
    def test_class_constraint(self, spark):
        from jsonld_spark.operators.shacl import validate_shapes

        XSD = "http://www.w3.org/2001/XMLSchema#"
        rows = [
            ("d1", TYPE, EX + "Doc", False, None),
            ("d1", EX + "author", EX + "p1", False, None),
            ("d2", TYPE, EX + "Doc", False, None),
            ("d2", EX + "author", EX + "p2", False, None),  # p2 untyped
            (EX + "p1", TYPE, EX + "Person", False, None),
        ]
        kg = spark.createDataFrame(
            rows,
            "subj string, pred string, obj string, obj_is_literal boolean, obj_datatype string",
        )
        out = validate_shapes(
            kg,
            [{"target_class": EX + "Doc",
              "properties": [{"path": EX + "author", "cls": EX + "Person"}]}],
        ).collect()
        assert [(r.focus, r.value) for r in out] == [("d2", EX + "p2")]


class TestSampleFrames:
    def test_frame_slices_and_nulls(self, spark):
        import hashlib

        from jsonld_spark.functions.multimodal import sample_frames

        p = spark.createDataFrame(
            [(1, b"abcdefghij"), (2, None)], "doc_id long, payload binary"
        )
        rows = sample_frames(p, n_frames=3).collect()
        by_key = {(r.doc_id, r.frame_idx): r for r in rows}
        assert len(rows) == 6
        # 10 bytes / 3 frames -> slices [0:3] [3:6] [6:10]
        assert [by_key[(1, i)].n_frame_bytes for i in range(3)] == [3, 3, 4]
        want = hashlib.md5(b"abc".hex().upper().encode()).hexdigest()
        assert by_key[(1, 0)].frame_digest == want
        assert by_key[(1, 1)].frame_ts_ms == 1000
        # NULL payload -> empty frames, digest of ''
        empty = hashlib.md5(b"".hex().upper().encode()).hexdigest()
        assert all(
            by_key[(2, i)].n_frame_bytes == 0
            and by_key[(2, i)].frame_digest == empty
            for i in range(3)
        )
        with pytest.raises(ValueError, match="n_frames"):
            sample_frames(p, n_frames=0)


class TestShaclIn:
    def test_in_constraint(self, spark):
        from jsonld_spark.operators.shacl import validate_shapes

        kg = spark.createDataFrame(
            [
                ("d1", TYPE, EX + "Doc", False, None),
                ("d1", EX + "lang", "en", True, None),
                ("d2", TYPE, EX + "Doc", False, None),
                ("d2", EX + "lang", "xx", True, None),
            ],
            "subj string, pred string, obj string, obj_is_literal boolean, obj_datatype string",
        )
        out = validate_shapes(
            kg,
            [{"target_class": EX + "Doc",
              "properties": [{"path": EX + "lang", "in": ["en", "fr"]}]}],
        ).collect()
        assert [(r.focus, r.value) for r in out] == [("d2", "xx")]
        with pytest.raises(ValueError, match="'in' list empty"):
            validate_shapes(
                kg,
                [{"target_class": EX + "Doc",
                  "properties": [{"path": EX + "lang", "in": []}]}],
            )


class TestBgpValues:
    def test_values_constrains(self, tiny):
        from jsonld_spark.operators.bgp import bgp_match, bgp_values

        sols = bgp_match(tiny, [("?x", EX + "name", "?n")])
        out = bgp_values(sols, "n", ["Alice", "Carol"])
        assert {r.n for r in out.collect()} == {"Alice", "Carol"}
        with pytest.raises(ValueError, match="not bound"):
            bgp_values(sols, "missing", ["v"])
        with pytest.raises(ValueError, match="empty value"):
            bgp_values(sols, "n", [])

    def test_values_keep_unbound(self, tiny):
        """SPARQL compatibility: an unbound var matches every VALUES
        row — keep_unbound=True retains NULL solutions, the default
        (SQL IN) drops them."""
        from jsonld_spark.operators.bgp import bgp_optional, bgp_values

        sols = bgp_optional(
            tiny,
            [("?x", EX + "name", "?n")],
            [[("?x", EX + "knows", "?k")]],
        )
        # c has a name but no outgoing knows → k unbound for c
        assert sols.filter("k is null").count() == 1
        strict = bgp_values(sols, "k", [EX + "b"])
        assert {r.n for r in strict.collect()} == {"Alice"}
        sparql = bgp_values(sols, "k", [EX + "b"], keep_unbound=True)
        assert {r.n for r in sparql.collect()} == {"Alice", "Carol"}


class TestExpressionLayer:
    META_COLS = (
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, obj_datatype string"
    )
    XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

    def _kg(self, spark):
        return spark.createDataFrame(
            [
                (EX + "a", EX + "label", "color", True, "en", None),
                (EX + "b", EX + "label", "Farbe", True, "de-AT", None),
                (EX + "c", EX + "label", "plain", True, None, None),
                (EX + "a", EX + "n", "42", True, None, self.XSD_INT),
                (EX + "b", EX + "n", "abc", True, None, self.XSD_INT),
                (EX + "c", EX + "link", EX + "a", False, None, None),
            ],
            self.META_COLS,
        )

    def test_lang_datatype_helpers(self, spark):
        from jsonld_spark.operators.bgp import (
            RDF_LANGSTRING, XSD_STRING, bgp_match, datatype, lang,
        )

        b = bgp_match(
            self._kg(spark), [("?s", EX + "label", "?o")], bind_meta=True
        ).select("s", lang("o").alias("lg"), datatype("o").alias("dt"))
        got = {r.s: (r.lg, r.dt) for r in b.collect()}
        assert got[EX + "a"] == ("en", RDF_LANGSTRING)
        assert got[EX + "b"] == ("de-AT", RDF_LANGSTRING)
        assert got[EX + "c"] == ("", XSD_STRING)  # plain literal: lang ''

    def test_lang_of_iri_is_error(self, spark):
        from jsonld_spark.operators.bgp import (
            bgp_filter, bgp_match, lang, lang_matches,
        )

        b = bgp_match(
            self._kg(spark), [("?s", EX + "link", "?o")], bind_meta=True
        )
        # lang(IRI) = NULL (SPARQL error) -> langMatches NULL -> dropped
        assert bgp_filter(b, lang_matches(lang("o"), "*")).count() == 0

    def test_lang_matches_rfc4647(self, spark):
        from jsonld_spark.operators.bgp import (
            bgp_filter, bgp_match, lang, lang_matches,
        )

        b = bgp_match(
            self._kg(spark), [("?s", EX + "label", "?o")], bind_meta=True
        )
        de = bgp_filter(b, lang_matches(lang("o"), "DE"))
        assert {r.s for r in de.collect()} == {EX + "b"}  # de-AT, case-fold
        star = bgp_filter(b, lang_matches(lang("o"), "*"))
        assert {r.s for r in star.collect()} == {EX + "a", EX + "b"}

    def test_num_and_is_iri(self, spark):
        from jsonld_spark.operators.bgp import (
            bgp_filter, bgp_match, is_iri, num,
        )

        kg = self._kg(spark)
        b = bgp_match(kg, [("?s", EX + "n", "?o")], bind_meta=True)
        # 'abc' -> NULL (no ANSI crash), 42 passes the range
        assert {r.s for r in bgp_filter(b, num("o") > 40).collect()} == {
            EX + "a"
        }
        links = bgp_match(kg, [("?s", "?p", "?o")], bind_meta=True)
        iris = bgp_filter(links, is_iri("o"))
        assert {(r.s, r.o) for r in iris.collect()} == {(EX + "c", EX + "a")}

    def test_regex_flags(self, spark):
        from jsonld_spark.operators.bgp import bgp_filter, bgp_match, regex

        b = bgp_match(
            self._kg(spark), [("?s", EX + "label", "?o")], bind_meta=True
        )
        assert {
            r.o for r in bgp_filter(b, regex("o", "^FAR", "i")).collect()
        } == {"Farbe"}
        with pytest.raises(ValueError, match="unsupported flags"):
            regex("o", "x", "gx")

    def test_term_identity_join_on_meta(self, spark):
        """Same lexical form, different datatype/lang = DIFFERENT RDF
        terms: a shared object var joins on the metadata too."""
        from jsonld_spark.operators.bgp import bgp_match

        t = spark.createDataFrame(
            [
                ("s1", "p0", "1", True, None, self.XSD_INT),
                ("s2", "p1", "1", True, None, None),  # xsd:string '1'
                ("s3", "p1", "1", True, None, self.XSD_INT),
            ],
            self.META_COLS,
        )
        out = bgp_match(
            t, [("?x", "p0", "?v"), ("?y", "p1", "?v")], bind_meta=True
        )
        assert {(r.x, r.y) for r in out.collect()} == {("s1", "s3")}
        # without metadata the lexical join would also pick up s2
        lex = bgp_match(t, [("?x", "p0", "?v"), ("?y", "p1", "?v")])
        assert {(r.x, r.y) for r in lex.collect()} == {
            ("s1", "s2"), ("s1", "s3"),
        }

    def test_bgp_aggregate_mapping(self, spark):
        from jsonld_spark.operators.bgp import (
            bgp_aggregate, bgp_match, lang, num,
        )

        b = bgp_match(
            self._kg(spark), [("?s", EX + "label", "?o")], bind_meta=True
        ).withColumn("tag", lang("o"))
        out = bgp_aggregate(
            b,
            "tag",
            {
                "n": F.count("*"),
                "labels": F.array_join(
                    F.sort_array(F.collect_list("o")), "|"
                ),
            },
        )
        got = {r.tag: (r.n, r.labels) for r in out.collect()}
        assert got == {
            "en": (1, "color"), "de-AT": (1, "Farbe"), "": (1, "plain")
        }
        with pytest.raises(ValueError, match="not bound"):
            bgp_aggregate(b, "missing", {"n": F.count("*")})
        with pytest.raises(ValueError, match="empty aggregate"):
            bgp_aggregate(b, "tag", {})


class TestMinusExists:
    def test_minus_removes_compatible(self, tiny):
        from jsonld_spark.operators.bgp import bgp_match, bgp_minus

        sols = bgp_match(tiny, [("?x", EX + "name", "?n")])
        out = bgp_minus(sols, tiny, [("?x", TYPE, EX + "Person")])
        assert {r.n for r in out.collect()} == {"Carol"}

    def test_minus_disjoint_removes_nothing(self, tiny):
        from jsonld_spark.operators.bgp import bgp_match, bgp_minus

        sols = bgp_match(tiny, [("?x", EX + "name", "?n")])
        out = bgp_minus(sols, tiny, [("?y", TYPE, EX + "Person")])
        assert out.count() == sols.count()

    def test_minus_null_single_var_kept(self, tiny):
        """Unbound shared var → empty domain intersection → kept."""
        from jsonld_spark.operators.bgp import bgp_minus, bgp_optional

        sols = bgp_optional(
            tiny,
            [("?x", EX + "name", "?n")],
            [[("?x", EX + "knows", "?k")]],
        )
        # remove solutions whose ?k is a Place; Carol's k is NULL → kept
        out = bgp_minus(sols, tiny, [("?k", TYPE, EX + "Place")])
        got = {r.n for r in out.collect()}
        assert got == {"Alice", "Carol"}  # Bob knows c (a Place): removed

    def test_minus_multi_var_partial_null(self, spark):
        """Two shared vars, one NULL on the left: compatibility judged
        on the bound one (SPARQL 8.3) — conditional anti-join path."""
        from jsonld_spark.operators.bgp import bgp_minus

        bindings = spark.createDataFrame(
            [("a", "v1"), ("b", None), ("c", "v9")], "x string, y string"
        )
        t = spark.createDataFrame(
            [("a", "p", "v1"), ("b", "p", "v2")], TRIPLE_COLS
        )
        out = bgp_minus(bindings, t, [("?x", "p", "?y")])
        got = {(r.x, r.y) for r in out.collect()}
        # ("a","v1") compatible with right ("a","v1") → removed.
        # ("b",NULL): dom intersection = {x}, right has x="b" → removed.
        # ("c","v9"): no right row with x="c" → kept.
        assert got == {("c", "v9")}

    def test_exists_and_not_exists(self, tiny):
        from jsonld_spark.operators.bgp import bgp_exists, bgp_match

        sols = bgp_match(tiny, [("?x", EX + "name", "?n")])
        has_knows = bgp_exists(sols, tiny, [("?x", EX + "knows", "?y")])
        assert {r.n for r in has_knows.collect()} == {"Alice", "Bob"}
        no_knows = bgp_exists(
            sols, tiny, [("?x", EX + "knows", "?y")], negate=True
        )
        assert {r.n for r in no_knows.collect()} == {"Carol"}
        with pytest.raises(ValueError, match="shares no variable"):
            bgp_exists(sols, tiny, [("?a", EX + "knows", "?b")])


def test_bgp_filter_pushes_to_parquet_scan(spark, tmp_path):
    """A FILTER over a single pattern's bindings reaches the parquet
    scan as a pushed predicate (num() try_cast blocks pushdown of the
    cast itself, so assert on a string-prefix filter — the common
    lang/IRI-prefix case)."""
    from jsonld_spark.operators.bgp import bgp_filter, bgp_match

    t = spark.createDataFrame(
        [(EX + "a", EX + "p", "en", True, "en", None)],
        "subj string, pred string, obj string, obj_is_literal boolean, "
        "obj_lang string, obj_datatype string",
    )
    path = str(tmp_path / "t.parquet")
    t.write.parquet(path)
    b = bgp_match(
        spark.read.parquet(path), [("?s", EX + "p", "?o")], bind_meta=True
    )
    out = bgp_filter(b, F.col("o").startswith("e"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "StartsWith(obj,e" in plan, plan[:3000]


class TestSelect:
    def test_full_composition(self, tiny):
        from jsonld_spark.operators.bgp import select

        out = select(
            tiny,
            [("?x", TYPE, "?t"), ("?x", EX + "name", "?n")],
            not_exists=[("?x", EX + "knows", "?y")],
            where=F.col("n") != "Nobody",
            order_by="n",
            limit=5,
        )
        # only c has a type+name and no outgoing knows
        assert [(r.x, r.n) for r in out.collect()] == [(EX + "c", "Carol")]

    def test_group_by_with_limit_plans_topk(self, tiny):
        from jsonld_spark.operators.bgp import select

        out = select(
            tiny,
            [("?x", TYPE, "?t")],
            group_by="t",
            aggs={"n": F.count("*")},
            order_by="t",
            limit=1,
        )
        assert [(r.t, r.n) for r in out.collect()] == [(EX + "Person", 2)]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan, plan[:1500]

    def test_validation(self, tiny):
        from jsonld_spark.operators.bgp import select

        with pytest.raises(ValueError, match="requires group_by"):
            select(tiny, [("?x", TYPE, "?t")], aggs={"n": F.count("*")})
        with pytest.raises(ValueError, match="requires aggs"):
            select(tiny, [("?x", TYPE, "?t")], group_by="t")
        with pytest.raises(ValueError, match="limit"):
            select(tiny, [("?x", TYPE, "?t")], limit=0)
        with pytest.raises(ValueError, match="bind_meta with OPTIONAL"):
            select(
                tiny, [("?x", EX + "name", "?n")],
                optional=[[("?x", EX + "knows", "?y")]], bind_meta=True,
            )

    def test_optional_and_minus(self, tiny):
        from jsonld_spark.operators.bgp import select

        out = select(
            tiny,
            [("?x", EX + "name", "?n")],
            optional=[[("?x", EX + "knows", "?k")]],
            minus=[("?k", TYPE, EX + "Place")],
            order_by="n",
        )
        assert [(r.n, r.k) for r in out.collect()] == [
            ("Alice", EX + "b"), ("Carol", None),
        ]


def test_ask(tiny):
    from jsonld_spark.operators.bgp import ask

    assert ask(tiny, [("?x", TYPE, EX + "Person")]) is True
    assert ask(tiny, [(EX + "a", EX + "knows", EX + "b")]) is True
    assert ask(tiny, [("?x", TYPE, EX + "Robot")]) is False
