"""Bounded-memory streaming reader tests: equivalence with the batch
toRdf path, chunked Arrow emission, Spark end-to-end parity."""

import json

import pandas as pd
import pytest

from jsonld_spark import doc_to_quads, udfs
from jsonld_spark.streaming.reader import (
    make_streaming_pages_to_triples,
    stream_doc_quads,
)

CTX = {"@vocab": "http://v.e/", "name": {"@language": "en"}}


def _entity(i: int) -> dict:
    return {
        "@id": f"http://e.com/{i}",
        "@type": "Thing",
        "name": f"thing {i}",
        "n": i,
        "child": {"p": f"c{i}"},  # anonymous bnode per entity
    }


ARRAY_DOC = [{"@context": CTX, **_entity(i)} for i in range(5)]
GRAPH_DOC = {"@context": CTX, "@graph": [_entity(i) for i in range(5)]}
NAMED_GRAPH_DOC = {
    "@context": CTX,
    "@id": "http://e.com/graph1",
    "@graph": [_entity(i) for i in range(3)],
}
GRAPH_WITH_PROPS = {
    "@context": CTX,
    "@id": "http://e.com/root",
    "name": "root",
    "@graph": [_entity(0)],  # wrapper carries a property → round-4 streaming
}
REVERSE_DOC = {
    "@context": CTX,
    "@id": "http://e.com/hub",
    "name": "hub",
    "@reverse": {"child": [{"@id": "http://e.com/a"}, {"@id": "http://e.com/b"}]},
}
INCLUDED_DOC = {
    "@context": CTX,
    "@id": "http://e.com/main",
    "name": "main",
    "@included": [_entity(1), _entity(2)],
}
INDEX_DOC = {
    "@context": CTX,
    "@id": "http://e.com/idx",
    "@index": "an-index",
    "name": "indexed",
}
NEST_DOC = {
    "@context": CTX,
    "@id": "http://e.com/nested",
    "@nest": {"name": "inner", "n": 4},
}
ANON_GRAPH_DOC = {
    "@context": CTX,
    "name": "anon wrapper",
    "@graph": [_entity(0), _entity(1)],
}
BNODE_GRAPH_DOC = {
    "@context": CTX,
    "@id": "_:g",
    "@graph": [_entity(0), _entity(1)],
}
SET_DOC = {"@context": CTX, "@set": [_entity(0), _entity(1)]}
# a top-level node's own entries keep a non-propagated inline context;
# only its nested nodes revert (here b's name drops, in batch too)
NO_PROPAGATE_CTX = {**CTX, "@propagate": False}
NO_PROPAGATE_DOC = {
    "@context": NO_PROPAGATE_CTX,
    "@id": "http://e.com/np",
    "name": "plain",
    "n": 1,
}
NO_PROPAGATE_TYPED_DOC = {**NO_PROPAGATE_DOC, "@type": "Thing"}
NO_PROPAGATE_REVERSE_DOC = {
    "@context": NO_PROPAGATE_CTX,
    "@id": "http://e.com/np",
    "@type": "Thing",
    "name": "hub",
    "@reverse": {
        "http://v.e/child": [
            {"@id": "http://e.com/a"},
            {"@id": "http://e.com/b", "name": "b"},
        ]
    },
}


@pytest.mark.parametrize(
    "doc",
    [ARRAY_DOC, GRAPH_DOC, NAMED_GRAPH_DOC, GRAPH_WITH_PROPS, _entity(7),
     REVERSE_DOC, INCLUDED_DOC, INDEX_DOC, NEST_DOC, BNODE_GRAPH_DOC,
     SET_DOC, NO_PROPAGATE_DOC, NO_PROPAGATE_TYPED_DOC,
     NO_PROPAGATE_REVERSE_DOC],
    ids=["array", "graph-wrapper", "named-graph", "graph-with-props",
         "single-node", "reverse", "included", "index", "nest",
         "bnode-named-graph", "set-wrapper", "no-propagate",
         "no-propagate-typed", "no-propagate-reverse"],
)
def test_stream_equals_batch(doc):
    batch = set(doc_to_quads(doc, base="http://base.e/"))
    streamed = set(stream_doc_quads(doc, base="http://base.e/"))
    assert streamed == batch  # shared namer ⇒ identical labels


def test_stream_anon_graph_wrapper_isomorphic():
    """Anonymous wrapper with properties + @graph: the graph name is a
    fresh bnode — labels differ from batch (sentinel vs emission-order
    mint) but the graphs must be isomorphic."""
    from jsonld_spark.canon import canonicalize_quads

    batch = doc_to_quads(ANON_GRAPH_DOC, base="http://base.e/")
    streamed = list(stream_doc_quads(ANON_GRAPH_DOC, base="http://base.e/"))
    assert set(canonicalize_quads(sorted(set(streamed)))) == set(
        canonicalize_quads(sorted(set(batch)))
    )


@pytest.mark.parametrize(
    "doc,poison_probe",
    [
        (
            {
                "@context": CTX,
                "@id": "http://e.com/hub",
                "@reverse": {
                    "child": [{"@id": "http://e.com/ok"}, {"@id": True}]
                },
            },
            "http://e.com/ok",
        ),
        (
            {
                "@context": CTX,
                "@id": "http://e.com/main",
                "@included": [
                    {"@id": "http://e.com/inc", "name": "ok"},
                    {"@id": True},  # invalid — raises when reached
                ],
            },
            "http://e.com/inc",
        ),
        (
            {
                "@context": CTX,
                "@id": "http://e.com/root",
                "@graph": [
                    {"@id": "http://e.com/g1", "name": "ok"},
                    {"@id": False},  # invalid — raises when reached
                ],
            },
            "http://e.com/g1",
        ),
    ],
    ids=["reverse", "included", "graph-with-props"],
)
def test_new_shapes_stream_lazily(doc, poison_probe):
    """VERDICT r3 #5: the round-4 shapes stream item by item — earlier
    items' quads are yielded BEFORE a poisoned later item raises, so no
    batch fallback is buffering the whole document."""
    it = stream_doc_quads(doc, base="http://base.e/")
    got = []
    try:
        for q in it:
            got.append(q)
    except Exception:
        assert any(
            poison_probe in (q.subj, q.obj, q.graph or "") for q in got
        ), f"no quads before poison: {got}"
        return
    raise AssertionError(f"poison item did not raise; got {got}")


def test_stream_is_lazy():
    """The generator yields the first element's quads without touching
    later elements — a poisoned tail element only raises when reached."""
    doc = [
        {"@context": CTX, **_entity(0)},
        {"@context": CTX, "@id": True},  # invalid @id — raises when expanded
    ]
    it = stream_doc_quads(doc, base="http://base.e/")
    first = next(it)
    assert first.subj in ("_:b0", "http://e.com/0")  # element 0's quads
    for _ in range(10):  # element 0 has a handful of quads
        try:
            next(it)
        except StopIteration:
            raise AssertionError("poison element was never reached")
        except Exception:
            return  # poison reached only after element 0 fully streamed
    raise AssertionError("poison element did not raise")


def _page_batch(n_entities: int, url: str = "http://s.e/p") -> pd.DataFrame:
    doc = {"@context": CTX, "@graph": [_entity(i) for i in range(n_entities)]}
    html = (
        '<script type="application/ld+json">' + json.dumps(doc) + "</script>"
    ).encode()
    return pd.DataFrame({"url": [url], "html": [html]})


def test_chunked_emission_bounds_worker_memory(monkeypatch):
    """One page with many entities must leave the UDF in ≤CHUNK_ROWS
    pieces, not one giant frame."""
    monkeypatch.setattr(udfs, "CHUNK_ROWS", 100)
    fn = make_streaming_pages_to_triples(None)
    chunks = list(fn(iter([_page_batch(200)])))  # 200 entities × 5 quads
    assert len(chunks) > 5
    assert all(len(c) <= 100 for c in chunks)
    total = sum(len(c) for c in chunks)
    assert total == 200 * 5
    assert all(c["error"].isna().all() for c in chunks)


def test_streaming_spark_parity(spark, monkeypatch):
    """mapInPandas streaming output == batch pipeline output (canonical
    relabeling off — streaming cannot do a whole-doc pass) on real pages."""
    from jsonld_spark.pipeline import KGPipeline
    from jsonld_spark.udfs import TRIPLES_SCHEMA

    rows = []
    for i in range(20):
        doc = {"@context": CTX, "@graph": [_entity(j) for j in range(i % 4 + 1)]}
        html = (
            '<script type="application/ld+json">' + json.dumps(doc) + "</script>"
        ).encode()
        rows.append((f"http://site.e/{i}", html))
    # error and warning rows must agree too: NULL html, a malformed
    # script, an unknown remote context, a dropped top-level @foo key
    # next to @graph (the wrapper still streams into the default graph)
    rows += [
        ("http://site.e/null", None),
        ("http://site.e/bad", b'<script type="application/ld+json">{"@id": </script>'),
    ]
    for url, doc in [
        ("http://site.e/remote", {"@context": "http://unknown.e/ctx", "@id": "http://e/r"}),
        ("http://site.e/foo", {"@context": CTX, "@graph": [_entity(0)], "@foo": 1}),
    ]:
        html = '<script type="application/ld+json">' + json.dumps(doc) + "</script>"
        rows.append((url, html.encode()))
    pages = spark.createDataFrame(rows, "url string, html binary")

    # the bound is read when the function is built and pickled with it,
    # so the workers run with 7-row frames
    monkeypatch.setattr(udfs, "CHUNK_ROWS", 7)
    fn = make_streaming_pages_to_triples(None)
    streamed = pages.mapInPandas(fn, TRIPLES_SCHEMA)

    pipe = KGPipeline(spark, canonical_bnodes=False)
    batch = pipe.extract(pages)

    cols = [c for c in batch.columns]
    s = {tuple(r) for r in streamed.select(cols).collect()}
    b = {tuple(r) for r in batch.select(cols).collect()}
    assert s == b
    assert len(s) > 0
    errors = {(r[0], r[-1]) for r in b if r[-1] is not None}
    assert ("http://site.e/bad", "invalid script element") in errors
    assert ("http://site.e/remote", "loading remote context failed") in errors
    assert any(u == "http://site.e/foo" and e.startswith("warning:") for u, e in errors)
    assert not any(r[0] == "http://site.e/null" for r in b)


def test_json_typed_array_streams_as_one_literal():
    """A term with ``@type: @json`` must turn the WHOLE array into ONE
    JSON literal — per-item splitting would emit "[1]","[2]","[3]"
    instead of "[1,2,3]" (silent corruption on the property-stream
    path)."""
    doc = {
        "@context": {"@vocab": "http://v.e/", "data": {"@type": "@json"}},
        "@id": "http://e.com/x",
        "data": [1, 2, 3],
    }
    batch = set(doc_to_quads(doc, base="http://base.e/"))
    streamed = set(stream_doc_quads(doc, base="http://base.e/"))
    assert streamed == batch
    lits = [q.obj for q in streamed if q.obj_is_literal]
    assert lits == ["[1,2,3]"]


def test_json_typed_scoped_array_streams_as_one_literal():
    """Same @json rule when the coercion arrives via a TYPE-SCOPED
    context — the container probe must use the scoped context."""
    doc = {
        "@context": {
            "@vocab": "http://v.e/",
            "Widget": {
                "@id": "http://v.e/Widget",
                "@context": {"data": {"@id": "http://v.e/data", "@type": "@json"}},
            },
        },
        "@id": "http://e.com/x",
        "@type": "Widget",
        "data": [{"a": 1}, {"b": 2}],
    }
    batch = set(doc_to_quads(doc, base="http://base.e/"))
    streamed = set(stream_doc_quads(doc, base="http://base.e/"))
    assert streamed == batch


def test_rdf_type_valued_property_not_suppressed():
    """The node's type quads stream once, from its @type shell; a
    regular term whose IRI is rdf:type streams its own (legitimately
    duplicate) type quad beside them, so the streamed MULTISET matches
    batch."""
    doc = {
        "@context": {
            "@vocab": "http://v.e/",
            "typ": {
                "@id": "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                "@type": "@id",
            },
        },
        "@id": "http://e.com/x",
        "@type": ["Thing", "Thing2"],
        "typ": ["http://v.e/Thing", "http://v.e/Other"],
        "name": ["a", "b"],
    }
    batch = sorted(doc_to_quads(doc, base="http://base.e/"))
    streamed = sorted(stream_doc_quads(doc, base="http://base.e/"))
    assert streamed == batch  # multiset equality, not just set


def test_anonymous_top_node_sentinel_collision():
    """A document that uses the synthetic anonymous-top-node label
    itself must NOT merge with the anonymous node: batch emits
    _:b0 → _:b1, a colliding sentinel would emit a _:b0 → _:b0
    self-loop."""
    doc = {
        "@context": CTX,
        "p": [{"@id": "_:jsonldstreamtop", "name": "inner"}],
    }
    streamed = set(stream_doc_quads(doc, base="http://base.e/"))
    edges = [q for q in streamed if q.pred == "http://v.e/p"]
    assert len(edges) == 1
    assert edges[0].subj != edges[0].obj, "sentinel collided with doc label"
    # and the stream is still graph-equivalent to batch
    from jsonld_spark.canon import canonicalize_quads

    assert set(canonicalize_quads(list(streamed))) == set(
        canonicalize_quads(list(doc_to_quads(doc, base="http://base.e/")))
    )


def test_node_property_stream_is_lazy():
    """Property streaming: a poisoned LATER property item only raises
    after the earlier items' quads have been yielded — memory stays
    bounded by one property value, not the node."""
    doc = {
        "@context": CTX,
        "@id": "http://e.com/org",
        "member": [
            {"@id": "http://e.com/m0"},
            {"@id": True},  # invalid — raises only when reached
        ],
    }
    it = stream_doc_quads(doc, base="http://base.e/")
    first = next(it)
    assert first.obj == "http://e.com/m0"
    try:
        next(it)
    except Exception:
        return
    raise AssertionError("poison item did not raise")


def _drive_streaming_udf(pages_rows, rdfstar=False):
    """Drive the mapInPandas fn directly with pandas batches (no Spark)."""
    from jsonld_spark.streaming.reader import make_streaming_pages_to_triples
    from jsonld_spark.udfs import TRIPLE_COLS

    fn = make_streaming_pages_to_triples(None, rdfstar=rdfstar)
    pdf = pd.DataFrame(pages_rows, columns=["url", "html"])
    out = pd.concat(list(fn(iter([pdf]))), ignore_index=True)
    assert list(out.columns) == TRIPLE_COLS
    return out


def _page(ld: str) -> bytes:
    return (
        '<html><body><script type="application/ld+json">'
        + ld
        + "</script></body></html>"
    ).encode()


def test_streaming_udf_emits_warning_rows():
    """Round-5 review fix: the streaming UDF surfaces 'warning:' rows
    (dropped keys etc.) exactly like the batch path — previously they
    were silently discarded."""
    doc = json.dumps(
        {"@context": {"name": "http://v.e/name"},
         "@id": "http://e/x", "name": "n", "junkkey": "dropped"}
    )
    out = _drive_streaming_udf([("http://p.e/1", _page(doc))])
    warnings = out[out.error.str.startswith("warning:", na=False)]
    assert len(warnings) == 1 and "junkkey" in warnings.iloc[0].error
    quads = out[out.error.isna()]
    assert len(quads) == 1  # warnings never suppress output


def test_big_integers_keep_exact_lexical_form():
    """Script parsing keeps integers past 2**53 and 2**64 exact, so both
    UDFs emit their xsd:integer lexical form; an integer of 10**21 or
    more becomes a canonical xsd:double, as JSON-LD toRdf prescribes."""
    from jsonld_spark.context import ContextCache
    from jsonld_spark.udfs import page_to_rows

    xsd = "http://www.w3.org/2001/XMLSchema#"
    page = _page(
        '{"@context": {"@vocab": "http://v.e/"}, "@id": "http://e.com/n",'
        ' "a": 18446744073709551617, "b": 9007199254740993,'
        ' "c": 1234567890123456789012345}'
    )
    want = {
        ("http://v.e/a", "18446744073709551617", xsd + "integer"),
        ("http://v.e/b", "9007199254740993", xsd + "integer"),
        ("http://v.e/c", "1.234567890123457E24", xsd + "double"),
    }
    batch = page_to_rows("http://p.e/1", page, ContextCache())
    assert {(r[2], r[3], r[5]) for r in batch} == want
    streamed = _drive_streaming_udf([("http://p.e/1", page)])
    assert set(zip(streamed.pred, streamed.obj, streamed.obj_datatype)) == want


def test_streaming_udf_salts_quoted_terms_like_batch():
    """Round-5 review fix: bnode labels INSIDE RDF-star quoted terms are
    salted in the streaming UDF, so the annotation references the same
    salted id as the asserted triple (batch parity)."""
    from jsonld_spark.context import ContextCache
    from jsonld_spark.udfs import page_to_rows

    doc = json.dumps(
        {
            "@context": {"@vocab": "http://v.e/"},
            "p": {"@value": "v", "@annotation": {"q": "a"}},
        }
    )
    url = "http://p.e/star"
    out = _drive_streaming_udf([(url, _page(doc))], rdfstar=True)
    got = {
        (r.subj, r.pred, r.obj)
        for r in out[out.error.isna()].itertuples()
    }
    batch = {
        (r[1], r[2], r[3])
        for r in page_to_rows(url, _page(doc), ContextCache(), rdfstar=True,
                              canonical_bnodes=False)
        if r[1] is not None
    }
    assert got == batch
    quoted = [s for s, _, _ in got if s.startswith("<<")]
    assert quoted, "expected an annotation with a quoted-term subject"
    for q in quoted:
        assert "_:b" not in q and "_:h" in q, q  # inner labels salted


def test_streaming_double_graph_key_error_parity():
    """Round-5 review fix: a second key expanding to @graph must raise
    CollidingKeywords in streaming exactly as in batch (previously the
    node probe streamed both graphs, emitting quads batch rejects)."""
    import pytest as _pytest

    from jsonld_spark import errors as err

    doc = {
        "@context": {"g": "@graph"},
        "@id": "http://e/x",
        "@graph": [{"@id": "http://e/a", "http://v.e/p": "1"}],
        "g": [{"@id": "http://e/b", "http://v.e/p": "2"}],
    }
    with _pytest.raises(err.CollidingKeywords):
        doc_to_quads(json.loads(json.dumps(doc)), base="http://base.e/")
    with _pytest.raises(err.CollidingKeywords):
        list(stream_doc_quads(json.loads(json.dumps(doc)), base="http://base.e/"))


@pytest.mark.parametrize(
    "doc,kind",
    [
        (ARRAY_DOC, "spine"),
        (GRAPH_DOC, "spine"),
        (NAMED_GRAPH_DOC, "spine"),
        (SET_DOC, "spine"),
        ({"@context": CTX, "@graph": [_entity(0)], "@foo": 1}, "spine"),
        (GRAPH_WITH_PROPS, "node"),
        (_entity(7), "node"),
        (REVERSE_DOC, "node"),
        (INCLUDED_DOC, "node"),
        (INDEX_DOC, "node"),
        (NEST_DOC, "node"),
        (ANON_GRAPH_DOC, "node"),
        (BNODE_GRAPH_DOC, "node"),
        ({"@context": CTX, "@value": "v", "@language": "en"}, None),
        ({"@context": CTX, "@list": [{"@id": "http://e.com/a"}]}, None),
        ({"@context": CTX, "@id": "http://e.com/only"}, None),
        ({"@context": CTX, "@id": {"@id": "http://e.com/x"}, "name": "n"}, None),
        ({"@context": {"g": "@graph"}, "@id": "http://e/x", "@graph": [], "g": []}, None),
        ({"@context": CTX, "@set": [_entity(0)], "name": "n"}, None),
    ],
    ids=["array", "graph-wrapper", "named-graph", "set-wrapper",
         "graph-wrapper-dropped-key", "graph-with-props", "single-node",
         "reverse", "included", "index", "nest", "anon-graph",
         "bnode-named-graph", "value-object", "list-object", "id-only",
         "embedded-id", "double-graph", "set-with-props"],
)
def test_classify_routes_each_shape(doc, kind):
    """One classifier routes each top-level shape: spine, node, or None
    (the batch path)."""
    from jsonld_spark.context import Context
    from jsonld_spark.streaming.reader import _classify

    shape = _classify(doc, Context(base="http://base.e/"), "http://base.e/")
    assert (shape[0] if shape else None) == kind


def test_node_document_parses_context_once(monkeypatch):
    """A plain node-object script (no type-scoped context) parses its
    @context exactly once on its way through the reader."""
    from jsonld_spark.context import Context

    real = Context.parse
    calls = _count_parses(monkeypatch)
    doc = {"@context": CTX, **_entity(3), "knows": [{"@id": "http://e.com/1"}]}
    streamed = set(stream_doc_quads(json.loads(json.dumps(doc)), base="http://base.e/"))
    assert len(calls) == 1
    monkeypatch.setattr(Context, "parse", real)
    assert streamed == set(doc_to_quads(doc, base="http://base.e/"))


@pytest.mark.parametrize("n_items", [1, 2000])
def test_scoped_type_node_parses_each_context_once(monkeypatch, n_items):
    """A node typed by a term with a scoped context parses its contexts a
    fixed number of times, however many items its property streams."""
    from jsonld_spark.context import Context

    real = Context.parse
    calls = _count_parses(monkeypatch)
    doc = {
        "@context": {
            **CTX,
            "T": {"@id": "http://v.e/T", "@context": {"p": {"@type": "@id"}}},
        },
        "@id": "http://e.com/s",
        "@type": "T",
        "p": [f"http://e.com/o{i}" for i in range(n_items)],
    }
    streamed = list(stream_doc_quads(json.loads(json.dumps(doc)), base="http://base.e/"))
    # the inline context and the scoped context its T term validates,
    # then T's scoped context once for the @type shell, once for the items
    assert len(calls) == 4
    monkeypatch.setattr(Context, "parse", real)
    assert sorted(streamed) == sorted(doc_to_quads(doc, base="http://base.e/"))
    assert len(streamed) == n_items + 1


def test_scoped_type_node_items_take_the_flat_path(monkeypatch):
    """The items of a node typed by a term with a scoped context are map
    entries, which never revert the non-propagated scoped context, so
    they take the flat path: expansion runs for the ``@type`` shell
    only, not once per item."""
    from jsonld_spark.streaming import reader

    real, calls = reader.expand, []

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(reader, "expand", counted)
    doc = {
        "@context": {
            **CTX,
            "T": {"@id": "http://v.e/T", "@context": {"p": {"@type": "@id"}}},
        },
        "@id": "http://e.com/s",
        "@type": "T",
        "p": [f"http://e.com/o{i}" for i in range(2000)],
    }
    streamed = list(stream_doc_quads(json.loads(json.dumps(doc)), base="http://base.e/"))
    assert len(calls) == 1
    assert sorted(streamed) == sorted(doc_to_quads(doc, base="http://base.e/"))
    assert len(streamed) == 2001


def test_relative_graph_name_keeps_warnings():
    """A spine wrapper whose @id does not resolve to an IRI (no base)
    emits no quads, as in batch, but still reports the dropped top-level
    key batch warns about."""
    doc = {
        "@context": CTX,
        "@id": "rel/g",
        "@graph": [_entity(0)],
        "@foo": 1,
    }
    batch_warnings, stream_warnings = [], []
    batch = doc_to_quads(json.loads(json.dumps(doc)), warnings_out=batch_warnings)
    streamed = list(
        stream_doc_quads(json.loads(json.dumps(doc)), warnings_out=stream_warnings)
    )
    assert sorted(streamed) == sorted(batch)
    assert batch_warnings == ["dropped key '@foo'"]
    assert stream_warnings == batch_warnings


def _count_parses(monkeypatch) -> list:
    """Count ``Context.parse`` calls, starting from an empty per-process
    memo of the default cache (earlier tests may have filled it)."""
    from jsonld_spark.context import EMPTY_CACHE, Context

    calls = []
    real = Context.parse

    def counted(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(Context, "parse", counted)
    monkeypatch.setattr(EMPTY_CACHE, "_parse_memo", {})
    return calls


@pytest.mark.parametrize(
    "quads_fn", [stream_doc_quads, doc_to_quads], ids=lambda f: f.__name__
)
def test_inline_context_parsed_once_per_process(monkeypatch, quads_fn):
    """The classifier and expansion take the per-process memo of
    base-independent contexts (``parse_initial_cached``) of the default
    cache when the caller passes none: two documents sharing an inline
    context parse it once."""
    calls = _count_parses(monkeypatch)
    for i in range(2):
        doc = {"@context": CTX, "@graph": [_entity(i), _entity(i + 10)]}
        list(quads_fn(doc, base=f"http://base.e/{i}"))
    assert len(calls) == 1


def test_inline_context_parsed_once_across_partitions(monkeypatch):
    """With no broadcast contexts the batch UDF's cache is the default
    one, so a worker keeps its parse memo from partition to partition."""
    from jsonld_spark.udfs import make_pages_to_triples

    calls = _count_parses(monkeypatch)
    fn = make_pages_to_triples(None)
    for i in range(2):
        out = pd.concat(list(fn(iter([_page_batch(2, url=f"http://s.e/{i}")]))))
        assert out["error"].isna().all()
    assert len(calls) == 1


def test_iri_memo_bounded_on_long_spine(monkeypatch):
    """A 50k-element spine of fresh ids and fresh keys leaves both IRI
    memos of its context, and the emitter's resource memo, at or under
    ``IRI_MEMO_MAX``: the reader's memory stays O(largest element), not
    O(elements seen)."""
    from jsonld_spark import to_rdf
    from jsonld_spark.context import IRI_MEMO_MAX, ContextCache
    from jsonld_spark.streaming import reader

    seen = []
    real = reader._classify

    def spy(*args):
        shape = real(*args)
        seen.append(shape[1])
        return shape

    monkeypatch.setattr(reader, "_classify", spy)
    monkeypatch.setattr(to_rdf, "_VALID_RESOURCE_MEMO", {})
    n = 50_000
    doc = {
        "@context": {"@vocab": "http://v.e/"},
        "@graph": [
            {"@id": f"http://e.com/{i}", "@type": "Row", f"k{i}": i}
            for i in range(n)
        ],
    }
    count = sum(1 for _ in stream_doc_quads(doc, base="http://base.e/", cache=ContextCache()))
    assert count == 2 * n
    (ctx,) = seen
    assert len(ctx._iri_memo) <= IRI_MEMO_MAX
    assert len(ctx._iri_memo_vocab) <= IRI_MEMO_MAX
    assert len(to_rdf._VALID_RESOURCE_MEMO) <= IRI_MEMO_MAX


def test_dump_key_work_is_per_shape_not_per_element(monkeypatch):
    """A 4,000-element dump makes its key decisions once per key tuple:
    ``Context.expand_key`` and ``Context.term`` run a constant number of
    times, not per element, and no subject id lands in the emitter's
    resource memo."""
    from jsonld_spark import to_rdf
    from jsonld_spark.context import Context, ContextCache

    calls = []
    for name in ("expand_key", "term"):
        real = getattr(Context, name)

        def counted(self, *args, _real=real, **kwargs):
            calls.append(1)
            return _real(self, *args, **kwargs)

        monkeypatch.setattr(Context, name, counted)
    memo: dict = {}
    monkeypatch.setattr(to_rdf, "_VALID_RESOURCE_MEMO", memo)
    n = 4_000
    doc = {
        "@context": {"@vocab": "http://v.e/"},
        "@graph": [
            {"@id": f"http://e.com/row/{j}", "@type": "Row", "cell": f"v{j}"}
            for j in range(n)
        ],
    }
    quads = list(stream_doc_quads(doc, base="http://base.e/", cache=ContextCache()))
    assert len(quads) == 2 * n
    assert len(calls) <= 10
    assert not [k for k in memo if k.startswith("http://e.com/row/")]


def test_key_plans_bounded_on_distinct_shapes(monkeypatch):
    """12,000 elements with distinct key tuples and distinct types hold
    at most ``IRI_MEMO_MAX`` key plans and type expansions at any time."""
    from jsonld_spark.context import IRI_MEMO_MAX, ContextCache
    from jsonld_spark.streaming import reader
    from jsonld_spark.to_rdf import FlatPlans

    sizes = []

    class Spy(FlatPlans):
        __slots__ = ()

        def plan(self, keys):
            plan = super().plan(keys)
            sizes.append((len(self.plans), len(self.types)))
            return plan

    monkeypatch.setattr(reader, "FlatPlans", Spy)
    n = 12_000
    doc = {
        "@context": {"@vocab": "http://v.e/"},
        "@graph": [
            {"@id": f"http://e.com/{i}", "@type": f"T{i}", f"k{i}": i}
            for i in range(n)
        ],
    }
    count = sum(1 for _ in stream_doc_quads(doc, base="http://base.e/", cache=ContextCache()))
    assert count == 2 * n
    assert len(sizes) == n
    assert max(p for p, _ in sizes) == IRI_MEMO_MAX < n
    assert max(t for _, t in sizes) <= IRI_MEMO_MAX
    assert sizes[-1][0] == n - IRI_MEMO_MAX  # cleared once, then refilled


def _count_expand(monkeypatch):
    from jsonld_spark.streaming import reader

    calls = []
    real = reader.expand

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(reader, "expand", counted)
    return calls


def _general_path(doc, base="http://base.e/"):
    """The reader's quads and warnings with every element forced down
    the general expand → node map → emit path."""
    from unittest import mock

    from jsonld_spark.streaming import reader

    warnings: list = []
    with mock.patch.object(reader, "flat_node_quads", lambda *a: None):
        quads = list(stream_doc_quads(json.loads(json.dumps(doc)), base=base,
                                      warnings_out=warnings))
    return quads, warnings


def test_dump_shape_never_calls_expand(monkeypatch):
    """The dataset-dump element {"@id", "@type", "cell"} goes straight
    from JSON to quads, and the quads (in order) equal the general
    path's."""
    doc = {
        "@context": {"@vocab": "http://v.e/", "n": {"@type": "http://www.w3.org/2001/XMLSchema#integer"}},
        "@graph": [
            {"@id": f"row/{j}", "@type": "Row", "cell": f"v{j}", "n": [j, str(j)]}
            for j in range(50)
        ],
    }
    want, want_warnings = _general_path(doc)
    calls = _count_expand(monkeypatch)
    warnings: list = []
    got = list(stream_doc_quads(json.loads(json.dumps(doc)), base="http://base.e/",
                                warnings_out=warnings))
    assert calls == []
    assert got == want and warnings == want_warnings == []
    assert len(got) == 50 * 4


def test_giant_node_scalar_items_skip_expand(monkeypatch):
    """The node path's per-item mini-documents are flat nodes too: a
    giant node's scalar array streams without ``expand``."""
    doc = {"@context": CTX, "@id": "http://e.com/big", "@type": "Thing",
           "n": list(range(30)), "name": ["a", "b"]}
    want, _ = _general_path(doc)
    calls = _count_expand(monkeypatch)
    got = list(stream_doc_quads(json.loads(json.dumps(doc)), base="http://base.e/"))
    assert calls == []
    assert got == want and len(got) == 1 + 30 + 2


@pytest.mark.parametrize(
    "doc",
    [
        {"@context": CTX, "@graph": [{"@id": "http://e.com/a", "child": {"p": "x"}}]},
        {"@context": CTX, "@graph": [{"@id": "_:a", "name": "x"}]},
        {"@context": {"@vocab": "http://v.e/", "l": {"@container": "@list"}},
         "@graph": [{"@id": "http://e.com/a", "l": [1, 2]}]},
        {"@context": {"@vocab": "http://v.e/",
                      "T": {"@id": "http://v.e/T", "@context": {"p": "http://v.e/q"}}},
         "@graph": [{"@id": "http://e.com/a", "@type": "T", "p": "x"}]},
        {"@context": {"@vocab": "http://v.e/", "@propagate": False},
         "@graph": [{"@id": "http://e.com/a", "p": "x"}]},
    ],
    ids=["nested-object", "bnode-id", "list-container", "type-scoped-context",
         "propagate-false"],
)
def test_flat_path_fallback_triggers(doc, monkeypatch):
    """Each non-flat trigger sends its element down the general path,
    whose output matches batch."""
    base = "http://base.e/"
    batch_warnings, warnings = [], []
    batch = doc_to_quads(json.loads(json.dumps(doc)), base=base,
                         warnings_out=batch_warnings)
    calls = _count_expand(monkeypatch)
    got = list(stream_doc_quads(json.loads(json.dumps(doc)), base=base,
                                warnings_out=warnings))
    assert len(calls) == len(doc["@graph"])
    assert sorted(got) == sorted(batch)
    assert warnings == batch_warnings


def test_type_scoped_lookups_use_the_pre_type_context():
    """Steps 11-12 look every type term up in the context from before
    the type loop: A's scoped context redefining B does not hide B's own
    scoped context, which makes ``p`` a list.  The node route reads
    ``p``'s container from that context, so it keeps the three items in
    one list, as batch does."""
    from collections import Counter

    from jsonld_spark.canon import canonicalize_quads

    doc = {
        "@context": {
            "@vocab": "http://v.e/",
            "A": {"@id": "http://v.e/A", "@context": {"B": {"@id": "http://v.e/B"}}},
            "B": {"@id": "http://v.e/B",
                  "@context": {"p": {"@id": "http://v.e/p", "@container": "@list"}}},
        },
        "@id": "http://e/s",
        "@type": ["A", "B"],
        "p": [1, 2, 3],
    }
    batch = doc_to_quads(json.loads(json.dumps(doc)))
    streamed = list(stream_doc_quads(json.loads(json.dumps(doc))))
    assert len(batch) == 9
    assert Counter(canonicalize_quads(sorted(streamed, key=repr))) == Counter(
        canonicalize_quads(sorted(batch, key=repr))
    )


class _CountedWarning(str):
    """A warning string that counts how often it is hashed."""

    hashes = 0

    def __hash__(self):
        type(self).hashes += 1
        return str.__hash__(self)


def test_warning_dedup_is_linear(monkeypatch):
    """A spine whose every element drops its own key: the reader keeps
    each distinct warning once, in first-occurrence order, hashing each
    a bounded number of times (not the whole list again per element)."""
    from jsonld_spark.streaming import reader

    real = reader.expand

    def counted(element, prop, ctx, options, from_map):
        n = len(options.warnings)
        out = real(element, prop, ctx, options, from_map)
        options.warnings[n:] = map(_CountedWarning, options.warnings[n:])
        return out

    monkeypatch.setattr(reader, "expand", counted)
    monkeypatch.setattr(_CountedWarning, "hashes", 0)
    n = 1000
    doc = {"@graph": [
        {"@id": f"http://e.com/{i}", f"junk{i}": 1, "http://v.e/p": i}
        for i in range(n)
    ] * 2}
    batch_warnings, warnings = [], []
    batch = doc_to_quads(json.loads(json.dumps(doc)), warnings_out=batch_warnings)
    streamed = list(stream_doc_quads(doc, warnings_out=warnings))
    assert warnings == list(dict.fromkeys(batch_warnings))
    assert warnings == [f"dropped key 'junk{i}'" for i in range(n)]
    assert sorted(set(streamed)) == sorted(batch)
    assert _CountedWarning.hashes <= 4 * 2 * n


def test_repeated_property_item_streams_once_per_item():
    """The node route emits each item of a property on its own, so a
    repeated item streams its quad once per occurrence, where batch's
    node map keeps one: the same set of quads, a different multiset."""
    doc = {"@context": {"@vocab": "http://v.e/"}, "@id": "http://e/s", "p": [0, 0]}
    batch = doc_to_quads(json.loads(json.dumps(doc)))
    streamed = list(stream_doc_quads(json.loads(json.dumps(doc))))
    assert len(batch) == 1
    assert streamed == batch * 2
    assert set(streamed) == set(batch)
