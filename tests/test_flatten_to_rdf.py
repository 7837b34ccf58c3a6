"""Flatten + toRdf unit tests (W3C-suite-style cases, written from spec)."""

import json

from jsonld_spark import (
    doc_to_quads,
    flatten_expanded,
    expand_document,
    quads_to_nquads,
)
from jsonld_spark.rdf_model import (
    RDF_FIRST,
    RDF_JSON,
    RDF_LANGSTRING,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    Quad,
    canonical_double,
    jcs_canonicalize,
    parse_nquads,
)


def quads(doc, **kw):
    return set(doc_to_quads(doc, **kw))


def test_simple_triples():
    doc = {
        "@context": {"@vocab": "http://s.org/"},
        "@id": "http://e.com/a",
        "@type": "Person",
        "name": "Alice",
        "age": 33,
        "score": 1.5,
        "alive": True,
    }
    q = quads(doc)
    assert Quad("http://e.com/a", RDF_TYPE, "http://s.org/Person", False, None, None, None) in q
    assert Quad("http://e.com/a", "http://s.org/name", "Alice", True, XSD_STRING, None, None) in q
    assert Quad("http://e.com/a", "http://s.org/age", "33", True, XSD_INTEGER, None, None) in q
    assert Quad("http://e.com/a", "http://s.org/score", "1.5E0", True, XSD_DOUBLE, None, None) in q
    assert Quad("http://e.com/a", "http://s.org/alive", "true", True, XSD_BOOLEAN, None, None) in q


def test_integral_float_is_integer():
    doc = {
        "@context": {"@vocab": "http://s.org/"},
        "@id": "http://e.com/a",
        "n": 10.0,
    }
    q = quads(doc)
    assert Quad("http://e.com/a", "http://s.org/n", "10", True, XSD_INTEGER, None, None) in q


def test_huge_number_is_double():
    doc = {
        "@context": {"@vocab": "http://s.org/"},
        "@id": "http://e.com/a",
        "n": 10_000_000_000_000_000_000_000,
    }
    q = quads(doc)
    assert Quad("http://e.com/a", "http://s.org/n", "1.0E22", True, XSD_DOUBLE, None, None) in q


def test_forced_double_datatype():
    doc = {
        "@context": {
            "n": {
                "@id": "http://s.org/n",
                "@type": "http://www.w3.org/2001/XMLSchema#double",
            }
        },
        "@id": "http://e.com/a",
        "n": 10,
    }
    q = quads(doc)
    assert Quad("http://e.com/a", "http://s.org/n", "1.0E1", True, XSD_DOUBLE, None, None) in q


def test_language_literal():
    doc = {
        "@context": {"@vocab": "http://s.org/", "@language": "en"},
        "@id": "http://e.com/a",
        "label": "color",
    }
    q = quads(doc)
    assert Quad("http://e.com/a", "http://s.org/label", "color", True, RDF_LANGSTRING, "en", None) in q


def test_bnode_minting_deterministic():
    doc = {
        "@context": {"@vocab": "http://s.org/"},
        "@id": "http://e.com/a",
        "knows": {"name": "Anon"},
    }
    q = quads(doc)
    assert Quad("http://e.com/a", "http://s.org/knows", "_:b0", False, None, None, None) in q
    assert Quad("_:b0", "http://s.org/name", "Anon", True, XSD_STRING, None, None) in q


def test_list_cons_chain():
    doc = {
        "@context": {"p": {"@id": "http://s.org/p", "@container": "@list"}},
        "@id": "http://e.com/a",
        "p": ["x", "y"],
    }
    q = quads(doc)
    # head bnode linked from subject
    heads = [t for t in q if t.pred == "http://s.org/p"]
    assert len(heads) == 1
    head = heads[0].obj
    assert head.startswith("_:")
    firsts = {t.subj: t.obj for t in q if t.pred == RDF_FIRST}
    rests = {t.subj: t.obj for t in q if t.pred == RDF_REST}
    assert firsts[head] == "x"
    nxt = rests[head]
    assert firsts[nxt] == "y"
    assert rests[nxt] == RDF_NIL


def test_empty_list_is_nil():
    doc = {
        "@context": {"p": {"@id": "http://s.org/p", "@container": "@list"}},
        "@id": "http://e.com/a",
        "p": [],
    }
    q = quads(doc)
    assert Quad("http://e.com/a", "http://s.org/p", RDF_NIL, False, None, None, None) in q


def test_named_graph():
    doc = {
        "@context": {"@vocab": "http://s.org/"},
        "@id": "http://e.com/g",
        "@graph": [{"@id": "http://e.com/a", "p": "v"}],
    }
    q = quads(doc)
    assert Quad("http://e.com/a", "http://s.org/p", "v", True, XSD_STRING, None, "http://e.com/g") in q


def test_reverse_swaps():
    doc = {
        "@context": {"children": {"@reverse": "http://s.org/parent"}},
        "@id": "http://e.com/a",
        "children": [{"@id": "http://e.com/b"}],
    }
    q = quads(doc)
    assert Quad("http://e.com/b", "http://s.org/parent", "http://e.com/a", False, None, None, None) in q


def test_json_literal_jcs():
    doc = {
        "@context": {"p": {"@id": "http://s.org/p", "@type": "@json"}},
        "@id": "http://e.com/a",
        "p": {"b": 1, "a": [True, None, 1.5]},
    }
    q = quads(doc)
    assert Quad(
        "http://e.com/a",
        "http://s.org/p",
        '{"a":[true,null,1.5],"b":1}',
        True,
        RDF_JSON,
        None,
        None,
    ) in q


def test_bnode_predicate_dropped():
    doc = {
        "@context": {"p": "_:bprop"},
        "@id": "http://e.com/a",
        "p": "v",
    }
    assert quads(doc) == set()
    q = doc_to_quads(doc, produce_generalized_rdf=True)
    assert len(q) == 1 and q[0].pred.startswith("_:")


def test_relative_subject_dropped():
    doc = {"@context": {"@vocab": "http://s.org/"}, "@id": "rel", "p": "v"}
    assert quads(doc) == set()  # no base → relative @id → invalid statement


def test_i18n_datatype_mode():
    doc = {
        "@context": {"@vocab": "http://s.org/", "@language": "ar", "@direction": "rtl"},
        "@id": "http://e.com/a",
        "label": "x",
    }
    q = doc_to_quads(doc, rdf_direction="i18n-datatype")
    assert q[0].obj_datatype == "https://www.w3.org/ns/i18n#ar_rtl"
    # default: direction dropped, language kept
    q2 = quads(doc)
    assert Quad("http://e.com/a", "http://s.org/label", "x", True, RDF_LANGSTRING, "ar", None) in q2


def test_compound_literal_mode():
    doc = {
        "@context": {"@vocab": "http://s.org/", "@language": "ar", "@direction": "rtl"},
        "@id": "http://e.com/a",
        "label": "x",
    }
    q = doc_to_quads(doc, rdf_direction="compound-literal")
    preds = {t.pred for t in q}
    assert "http://www.w3.org/1999/02/22-rdf-syntax-ns#value" in preds
    assert "http://www.w3.org/1999/02/22-rdf-syntax-ns#direction" in preds


def test_flatten_shapes():
    doc = {
        "@context": {"@vocab": "http://s.org/"},
        "@id": "http://e.com/a",
        "knows": {"name": "Anon", "knows": {"@id": "http://e.com/a"}},
    }
    expanded = expand_document(doc)
    flat = flatten_expanded(expanded)
    ids = {n["@id"] for n in flat}
    assert ids == {"_:b0", "http://e.com/a"}
    bn = next(n for n in flat if n["@id"] == "_:b0")
    assert bn["http://s.org/knows"] == [{"@id": "http://e.com/a"}]


def test_flatten_dedups_values():
    doc = {
        "@context": {"@vocab": "http://s.org/"},
        "@id": "http://e.com/a",
        "p": ["v", "v"],
    }
    flat = flatten_expanded(expand_document(doc))
    assert flat[0]["http://s.org/p"] == [{"@value": "v"}]


def _count_json_eq(monkeypatch):
    """Count json_eq calls (recursive ones included) wherever the node
    map and fromRdf compare values."""
    import jsonld_spark.flatten as flatten_mod
    import jsonld_spark.from_rdf as from_rdf_mod

    calls = []
    real = flatten_mod.json_eq

    def counted(a, b):
        calls.append(1)
        return real(a, b)

    monkeypatch.setattr(flatten_mod, "json_eq", counted)
    monkeypatch.setattr(from_rdf_mod, "json_eq", counted, raising=False)
    return calls


def test_node_map_value_dedup_is_linear(monkeypatch):
    """An ItemList of N items puts N references on one property; the
    node map's value dedup must not compare each to all earlier ones."""
    n = 2000
    doc = {
        "@context": {"@vocab": "http://schema.org/"},
        "@type": "ItemList",
        "itemListElement": [
            {"@type": "ListItem", "position": i, "name": f"item {i}"}
            for i in range(n)
        ],
    }
    calls = _count_json_eq(monkeypatch)
    out = doc_to_quads(doc)
    assert len(out) == 1 + 4 * n
    assert len(calls) <= 4 * n


def test_from_quads_value_dedup_is_linear(monkeypatch):
    """fromRdf with N objects on one subject and property dedups each
    value in O(1) comparisons, not against every earlier value."""
    from jsonld_spark.from_rdf import from_quads

    n = 2000
    qs = [
        Quad("http://e.com/s", "http://s.org/p", f"http://e.com/o{i}",
             False, None, None, None)
        for i in range(n)
    ] + [Quad("http://e.com/s", "http://s.org/p", "http://e.com/o0",
              False, None, None, None)]
    calls = _count_json_eq(monkeypatch)
    out = from_quads(qs)
    subject = next(node for node in out if node["@id"] == "http://e.com/s")
    assert len(subject["http://s.org/p"]) == n  # the repeat is deduped
    assert len(calls) <= 4 * n


def test_first_value_of_a_property_costs_no_json_eq(monkeypatch):
    """A property's first value has nothing to equal, so neither the node
    map nor the reader's flat path scans for it: nodes whose properties
    each hold one value cost zero ``json_eq`` calls and zero dedup scans
    (the ``any(json_eq(...) for ...)`` in ``add_unique_value``, the only
    ``any`` in flatten.py)."""
    import jsonld_spark.flatten as flatten_mod
    from jsonld_spark.context import Context
    from jsonld_spark.flatten import BlankNodeNamer
    from jsonld_spark.to_rdf import FlatPlans, flat_node_quads

    scans = []

    def counted_any(it):
        scans.append(1)
        return any(it)

    monkeypatch.setattr(flatten_mod, "any", counted_any, raising=False)

    ctx = {"@vocab": "http://s.org/"}
    nodes = [
        {"@id": f"http://e.com/{i}", "@type": "Thing", "name": f"n{i}", "n": i,
         "one": [f"o{i}"]}
        for i in range(50)
    ]
    calls = _count_json_eq(monkeypatch)
    out = doc_to_quads({"@context": ctx, "@graph": nodes})
    assert len(out) == 4 * len(nodes)
    parsed = Context(base="http://base.e/").parse(ctx)
    plans = FlatPlans(parsed, "http://base.e/", None, BlankNodeNamer(), False)
    flat = [flat_node_quads(n, plans) for n in nodes]
    assert flat[0] == [
        Quad("http://e.com/0", RDF_TYPE, "http://s.org/Thing", False, None, None, None),
        Quad("http://e.com/0", "http://s.org/n", "0", True, XSD_INTEGER, None, None),
        Quad("http://e.com/0", "http://s.org/name", "n0", True, XSD_STRING, None, None),
        Quad("http://e.com/0", "http://s.org/one", "o0", True, XSD_STRING, None, None),
    ]
    assert calls == []
    assert scans == []


def test_long_value_array_dedup_keeps_json_eq():
    """Past the scan threshold the keyed dedup keeps json_eq's rules: a
    boolean is not a number, 1 equals 1.0, object key order does not
    matter, list order does."""
    from jsonld_spark.flatten import json_eq

    values = [{"@value": f"s{i}"} for i in range(10)] + [
        {"@value": 1},
        {"@value": True},
        {"@value": 1.0},
        {"@value": 0},
        {"@value": False},
        {"@value": "x", "@language": "en"},
        {"@language": "en", "@value": "x"},
        {"@value": [1, 2], "@type": "@json"},
        {"@value": [2, 1], "@type": "@json"},
        {"@value": {"a": 1, "b": [True]}, "@type": "@json"},
        {"@type": "@json", "@value": {"b": [True], "a": 1.0}},
        {"@value": "s3"},
    ]
    expected = []
    for v in values:
        if not any(json_eq(v, e) for e in expected):
            expected.append(v)
    assert len(expected) == len(values) - 4
    doc = [{"@id": "http://e.com/a", "http://s.org/p": values}]
    flat = flatten_expanded(json.loads(json.dumps(doc)))
    assert flat[0]["http://s.org/p"] == expected


def test_nquads_roundtrip():
    doc = {
        "@context": {"@vocab": "http://s.org/", "@language": "en"},
        "@id": "http://e.com/a",
        "label": 'say "hi"\n',
        "n": 3,
    }
    q = doc_to_quads(doc)
    text = quads_to_nquads(q)
    assert set(parse_nquads(text)) == set(q)


def test_canonical_double_forms():
    assert canonical_double(1.5) == "1.5E0"
    assert canonical_double(10.1) == "1.01E1"
    assert canonical_double(-2.0) == "-2.0E0"
    assert canonical_double(1e21) == "1.0E21"
    assert canonical_double(0.000001) == "1.0E-6"
    assert canonical_double(5.0) == "5.0E0"


def test_jcs_numbers():
    assert jcs_canonicalize(1.0) == "1"
    assert jcs_canonicalize(1e21) == "1e+21"
    assert jcs_canonicalize(0.00001) == "0.00001"
    assert jcs_canonicalize(1e-7) == "1e-7"
    assert jcs_canonicalize([1.5, 2, "x"]) == '[1.5,2,"x"]'
    assert jcs_canonicalize({"b": 1, "a": 2}) == '{"a":2,"b":1}'


def test_shared_bnode_across_graphs():
    doc = {
        "@context": {"@vocab": "http://s.org/"},
        "@graph": [
            {
                "@id": "http://e.com/g1",
                "@graph": [{"@id": "_:shared", "p": "v1"}],
            },
            {"@id": "_:shared", "p": "v0"},
        ],
    }
    q = quads(doc)
    subj = {t.subj for t in q}
    # same relabeled bnode in both default and named graph
    assert len(subj) == 1
    graphs = {t.graph for t in q}
    assert graphs == {None, "http://e.com/g1"}


def test_jcs_non_bmp_keys_sort_by_utf16_units_at_every_depth():
    """RFC 8785 sorts keys by UTF-16 code units: a non-BMP key (surrogate
    pair starting 0xD800) sorts BEFORE U+FF61 (0xFF61) — including inside
    nested objects, which previously sorted by code points."""
    doc = {"｡": 1, "\U00010000": 2}
    top = jcs_canonicalize(doc)
    nested = jcs_canonicalize({"outer": doc})
    assert top.index('"\U00010000"') < top.index('"｡"')
    assert nested.index('"\U00010000"') < nested.index('"｡"')


def test_executor_context_cache_keyed_by_identity():
    """The per-worker cache must verify dict identity, not just id():
    a different entries dict (even at a recycled address) rebuilds."""
    from jsonld_spark import udfs

    e1 = {"http://ctx.example/a": {"@context": {"@vocab": "http://v1/"}}}
    e2 = {"http://ctx.example/a": {"@context": {"@vocab": "http://v2/"}}}
    c1 = udfs._get_cache(e1, "v1")
    assert udfs._get_cache(e1, "v1") is c1  # memoized per worker
    c2 = udfs._get_cache(e2, "v1")
    assert c2 is not c1
    # stale-address simulation: poison the map with a wrong dict under
    # e1's key — the identity check must reject it and rebuild
    udfs._CACHE_BY_KEY.clear()
    udfs._CACHE_BY_KEY[("v1", id(e1))] = (e2, c2)
    assert udfs._get_cache(e1, "v1") is not c2
