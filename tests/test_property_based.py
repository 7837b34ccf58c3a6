"""Property-based tests (hypothesis): roundtrips and invariants that
hold for ARBITRARY generated JSON-LD documents, not just fixtures."""

import json
import string

import pytest
from hypothesis import example, given, settings, strategies as st

from jsonld_spark import doc_to_quads, expand_document
from jsonld_spark.compact import compact_document
from jsonld_spark.from_rdf import from_quads
from jsonld_spark.iri import resolve_iri
from jsonld_spark.rdf_model import jcs_canonicalize, parse_nquads, quads_to_nquads
from jsonld_spark.to_rdf import expanded_to_quads

# --- generators ---------------------------------------------------------------

_term = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=6)
_iri = st.builds(lambda s: f"http://ex.org/{s}", _term)

_scalar = st.one_of(
    st.text(max_size=20),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.booleans(),
)


def _node_objects(depth: int):
    leaf = st.fixed_dictionaries(
        {"@id": _iri},
        optional={
            "http://ex.org/p": st.lists(
                st.fixed_dictionaries({"@value": _scalar}), min_size=1, max_size=3
            ),
            "@type": st.lists(_iri, min_size=1, max_size=2),
        },
    )
    if depth == 0:
        return leaf
    return st.fixed_dictionaries(
        {"@id": _iri},
        optional={
            "http://ex.org/child": st.lists(_node_objects(depth - 1), min_size=1, max_size=2),
            "http://ex.org/val": st.lists(
                st.fixed_dictionaries({"@value": _scalar}), min_size=1, max_size=2
            ),
            "http://ex.org/lst": st.lists(
                st.fixed_dictionaries(
                    {"@list": st.lists(st.fixed_dictionaries({"@value": _scalar}), max_size=3)}
                ),
                min_size=1,
                max_size=1,
            ),
        },
    )


expanded_docs = st.lists(_node_objects(2), min_size=1, max_size=3)


# --- properties ---------------------------------------------------------------


@settings(max_examples=60, deadline=None)
@given(expanded_docs)
def test_expand_idempotent_on_expanded(doc):
    """Expanding already-expanded input is a fixed point (modulo array
    normalization the first pass performs)."""
    once = expand_document(json.loads(json.dumps(doc)))
    twice = expand_document(json.loads(json.dumps(once)))
    assert once == twice


@settings(max_examples=60, deadline=None)
@given(expanded_docs)
def test_nquads_roundtrip_lossless(doc):
    quads = expanded_to_quads(expand_document(json.loads(json.dumps(doc))))
    text = quads_to_nquads(quads)
    assert sorted(parse_nquads(text)) == sorted(quads)


@settings(max_examples=40, deadline=None)
@given(expanded_docs)
def test_to_rdf_from_rdf_roundtrip(doc):
    """toRdf → fromRdf → toRdf is quad-preserving."""
    expanded = expand_document(json.loads(json.dumps(doc)))
    quads = expanded_to_quads(expanded)
    back = from_quads(quads, ordered=True)
    quads2 = expanded_to_quads(back)
    assert set(quads2) == set(quads)


@settings(max_examples=40, deadline=None)
@given(expanded_docs)
def test_compact_expand_roundtrip(doc):
    """compact(ctx) → expand(ctx) returns to the same expanded form."""
    ctx = {"ex": "http://ex.org/"}
    expanded = expand_document(json.loads(json.dumps(doc)))
    compacted = compact_document(expanded, ctx)
    re_expanded = expand_document(compacted)
    q1 = set(expanded_to_quads(expanded))
    q2 = set(expanded_to_quads(re_expanded))
    assert q1 == q2


@settings(max_examples=100, deadline=None)
@given(
    st.text(alphabet=string.ascii_lowercase + "./", max_size=15),
)
def test_resolve_iri_absolute_fixed_point(ref):
    base = "http://a.example/b/c"
    resolved = resolve_iri(base, ref)
    # resolving an already-resolved IRI against the same base is stable
    assert resolve_iri(base, resolved) == resolved


@settings(max_examples=100, deadline=None)
@given(
    st.recursive(
        st.one_of(
            st.none(),
            st.booleans(),
            st.integers(min_value=-(2**53), max_value=2**53),
            st.floats(allow_nan=False, allow_infinity=False),
            st.text(max_size=15),
        ),
        lambda inner: st.one_of(
            st.lists(inner, max_size=4),
            st.dictionaries(st.text(max_size=8), inner, max_size=4),
        ),
        max_leaves=12,
    )
)
def test_jcs_is_valid_json_and_stable(value):
    out = jcs_canonicalize(value)
    parsed = json.loads(out)
    # canonicalization is a fixed point through a parse cycle
    assert jcs_canonicalize(parsed) == out


@settings(max_examples=40, deadline=None)
@given(expanded_docs)
def test_compact_expand_roundtrip_rich_context(doc):
    """Roundtrip through a context with coercions and containers."""
    ctx = {
        "ex": "http://ex.org/",
        "child": {"@id": "http://ex.org/child", "@type": "@id", "@container": "@set"},
        "lst": {"@id": "http://ex.org/lst", "@container": "@list"},
    }
    expanded = expand_document(json.loads(json.dumps(doc)))
    compacted = compact_document(expanded, ctx)
    re_expanded = expand_document(compacted)
    q1 = set(expanded_to_quads(expanded))
    q2 = set(expanded_to_quads(re_expanded))
    assert q1 == q2


_langs = st.sampled_from(["en", "de", "fr", "ja", "en-us", "en-US", "pt-BR"])

_lang_nodes = st.lists(
    st.fixed_dictionaries(
        {"@id": _iri},
        optional={
            "http://ex.org/label": st.lists(
                st.fixed_dictionaries(
                    {"@value": st.text(min_size=1, max_size=10), "@language": _langs}
                ),
                min_size=1,
                max_size=3,
            ),
        },
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=40, deadline=None)
@given(_lang_nodes)
def test_language_container_roundtrip(doc):
    ctx = {"label": {"@id": "http://ex.org/label", "@container": "@language"}}
    expanded = expand_document(json.loads(json.dumps(doc)))
    compacted = compact_document(expanded, ctx)
    re_expanded = expand_document(compacted)
    q1 = set(expanded_to_quads(expanded))
    q2 = set(expanded_to_quads(re_expanded))
    assert q1 == q2


@settings(deadline=None)
@given(expanded_docs)
@example(
    doc=[
        {
            "@id": "http://ex.org/a",
            "http://ex.org/lst": [{"@list": [{"@value": 1}, {"@value": True}]}],
        },
        {
            "@id": "http://ex.org/b",
            "http://ex.org/lst": [{"@list": [{"@value": ""}]}],
        },
        {
            "@id": "http://ex.org/a",
            "http://ex.org/lst": [{"@list": [{"@value": 1}, {"@value": True}]}],
        },
    ],
).via("discovered failure")
def test_streaming_reader_isomorphic_to_batch(doc):
    """Property: the bounded-memory streaming reader emits a graph
    ISOMORPHIC to the batch path on arbitrary top-level arrays of node
    objects (compared under canonical bnode labeling — fresh-bnode label
    sequences legitimately differ: batch mints list cons cells in
    globally-sorted subject order, streaming in document order)."""
    from jsonld_spark.canon import canonicalize_quads
    from jsonld_spark.streaming.reader import stream_doc_quads
    from jsonld_spark.to_rdf import doc_to_quads

    batch = doc_to_quads(doc, base="http://base.e/")
    streamed = list(stream_doc_quads(doc, base="http://base.e/"))
    # set compare: a node recurring in several elements re-emits its quads
    # (RDF set semantics — the batch path's whole-document node map dedups,
    # a bounded-memory pass cannot); dedup identical labeled quads BEFORE
    # canonical labeling so duplicate edges don't skew neighborhood hashes
    s = set(canonicalize_quads(sorted(set(streamed))))
    b = set(canonicalize_quads(sorted(set(batch))))
    assert s == b


@settings(deadline=None)
@given(_node_objects(2))
def test_streaming_reader_isomorphic_on_node_objects(doc):
    """VERDICT r2 #7: top-level NODE OBJECTS stream property-by-property
    (no batch fallback) and remain graph-isomorphic to the batch path."""
    from jsonld_spark.canon import canonicalize_quads
    from jsonld_spark.streaming.reader import _classify, stream_doc_quads
    from jsonld_spark.context import Context
    from jsonld_spark.to_rdf import doc_to_quads

    batch = doc_to_quads(json.loads(json.dumps(doc)), base="http://base.e/")
    streamed = list(
        stream_doc_quads(json.loads(json.dumps(doc)), base="http://base.e/")
    )
    s = set(canonicalize_quads(sorted(set(streamed))))
    b = set(canonicalize_quads(sorted(set(batch))))
    assert s == b
    # and the classifier routed it to the node path (no silent batch
    # fallback) — except the id-only node, which batch's free-floating
    # drop handles
    shape = _classify(doc, Context(base="http://base.e/"), "http://base.e/")
    if set(doc) != {"@id"}:
        assert shape is not None and shape[0] == "node"
    else:
        assert shape is None


def _rich_top_nodes():
    """Top-level node objects carrying the round-4 streamed keyword
    shapes: @reverse maps, @included arrays, @graph wrappers with
    properties, @index — mixed with plain properties."""
    inner = _node_objects(1)
    return st.fixed_dictionaries(
        {"@id": _iri},
        optional={
            "http://ex.org/p": st.lists(inner, min_size=1, max_size=2),
            "@type": st.lists(_iri, min_size=1, max_size=2),
            "@index": st.sampled_from(["i0", "i1"]),
            "@reverse": st.fixed_dictionaries(
                {},
                optional={
                    "http://ex.org/rev": st.lists(
                        st.fixed_dictionaries({"@id": _iri}), min_size=1, max_size=3
                    ),
                    "http://ex.org/rev2": st.lists(
                        st.fixed_dictionaries({"@id": _iri}), min_size=1, max_size=2
                    ),
                },
            ),
            "@included": st.lists(inner, min_size=1, max_size=3),
            "@graph": st.lists(inner, min_size=1, max_size=3),
        },
    )


@settings(max_examples=120, deadline=None)
@given(_rich_top_nodes())
def test_streaming_reader_isomorphic_on_rich_shapes(doc):
    """Round-4 property: top-level @reverse / @included / @index /
    @graph-with-properties stream single-pass (no batch fallback) and
    stay graph-isomorphic to the batch path."""
    from jsonld_spark.canon import canonicalize_quads
    from jsonld_spark.context import Context
    from jsonld_spark.streaming.reader import _classify, stream_doc_quads
    from jsonld_spark.to_rdf import doc_to_quads

    batch = doc_to_quads(json.loads(json.dumps(doc)), base="http://base.e/")
    streamed = list(
        stream_doc_quads(json.loads(json.dumps(doc)), base="http://base.e/")
    )
    # graph column mixes None and str — sort by repr for determinism
    s = set(canonicalize_quads(sorted(set(streamed), key=repr)))
    b = set(canonicalize_quads(sorted(set(batch), key=repr)))
    assert s == b
    if not set(doc) <= {"@id", "@index"}:
        # @id/@index-only nodes emit no quads — batch fallback is fine;
        # an @id + @graph wrapper streams as a spine, the rest as a node
        assert _classify(
            doc, Context(base="http://base.e/"), "http://base.e/"
        ) is not None, "silent batch fallback on a streamable shape"


_P_TERMS = [
    {"@id": "http://v.e/p"},
    {"@id": "http://v.e/p", "@container": "@list"},
    {"@id": "http://v.e/p", "@container": "@set"},
]


@st.composite
def _type_scoped_nodes(draw):
    """Top-level node objects typed with terms whose type-scoped contexts
    redefine ``p`` and each other, so a first type's scoped context may
    redefine a later type; their inline context may be non-propagated."""
    scoped_a = draw(st.fixed_dictionaries({}, optional={
        "B": st.sampled_from([{"@id": "http://v.e/B"}, {"@id": "http://v.e/C"}]),
        "p": st.sampled_from(_P_TERMS),
    }))
    scoped_b = draw(st.fixed_dictionaries({}, optional={"p": st.sampled_from(_P_TERMS)}))
    types = draw(st.lists(st.sampled_from(["A", "B", "C"]), min_size=1, max_size=3,
                          unique=True))
    ctx = {
        "@vocab": "http://v.e/",
        "A": {"@id": "http://v.e/A", "@context": scoped_a},
        "B": {"@id": "http://v.e/B", "@context": scoped_b},
    }
    if draw(st.booleans()):
        # the node's own entries keep a non-propagated context
        ctx["@propagate"] = False
    return {
        "@context": ctx,
        "@id": "http://e/s",
        "@type": types if len(types) > 1 or draw(st.booleans()) else types[0],
        # distinct items: a repeated one re-emits its quad when streamed
        "p": draw(st.one_of(st.integers(0, 9),
                            st.lists(st.integers(0, 9), max_size=4, unique=True))),
    }


@settings(max_examples=80, deadline=None)
@given(_type_scoped_nodes())
def test_streaming_reader_isomorphic_on_type_scoped_nodes(doc):
    """Node objects under type-scoped contexts stream (no batch fallback)
    to the batch path's graph, whichever type's scoped context defines
    ``p``'s container."""
    from jsonld_spark.canon import canonicalize_quads
    from jsonld_spark.context import Context
    from jsonld_spark.streaming.reader import _classify, stream_doc_quads

    batch = doc_to_quads(json.loads(json.dumps(doc)))
    streamed = list(stream_doc_quads(json.loads(json.dumps(doc))))
    assert sorted(canonicalize_quads(sorted(streamed, key=repr)), key=repr) == sorted(
        canonicalize_quads(sorted(batch, key=repr)), key=repr
    )
    assert _classify(doc, Context(), None)[0] == "node"


def _value_or_list_docs():
    """Top-level VALUE and LIST objects (they expand to few/no quads and
    take the reader's batch path)."""
    value_obj = st.fixed_dictionaries(
        {"@value": _scalar},
        optional={
            "@language": st.sampled_from(["en", "de"]),
            "@index": st.sampled_from(["i0", "i1"]),
        },
    )
    list_obj = st.fixed_dictionaries(
        {
            "@list": st.lists(
                st.one_of(value_obj, st.fixed_dictionaries({"@id": _iri})),
                max_size=3,
            )
        },
        optional={"@index": st.sampled_from(["i0", "i1"])},
    )
    return st.one_of(value_obj, list_obj)


@settings(max_examples=80, deadline=None)
@given(_value_or_list_docs())
def test_streaming_reader_matches_batch_on_value_and_list_objects(doc):
    """Top-level @value/@list objects: the streaming reader's output and
    error code are identical to the batch path's."""
    from jsonld_spark.errors import JsonLdError
    from jsonld_spark.streaming.reader import stream_doc_quads

    # batch outcome: quads, or a typed validation error (e.g. @language
    # on a non-string @value) — streaming must reproduce either exactly
    try:
        batch = sorted(doc_to_quads(
            json.loads(json.dumps(doc)), base="http://base.e/"
        ))
        batch_err = None
    except JsonLdError as e:
        batch, batch_err = None, e.code
    try:
        streamed = sorted(stream_doc_quads(
            json.loads(json.dumps(doc)), base="http://base.e/"
        ))
        stream_err = None
    except JsonLdError as e:
        streamed, stream_err = None, e.code
    assert stream_err == batch_err
    assert streamed == batch  # multiset — labels batch-identical


_ROUNDTRIP_CONTEXTS = [
    {"@vocab": "http://ex.org/"},
    {"ex": "http://ex.org/"},
    {"child": {"@id": "http://ex.org/child"}, "val": "http://ex.org/val"},
    {"@vocab": "http://ex.org/", "lst": {"@container": "@list"}},
    {"@vocab": "http://ex.org/", "child": {"@container": "@set"}},
    {"@language": "en", "@vocab": "http://ex.org/"},
    # mixed-case default language: tags preserve case through parse
    # (round-5 fix) while compaction matching lowercases — the
    # round-trip must stay lossless either way
    {"@language": "en-US", "@vocab": "http://ex.org/"},
    {"@vocab": "http://ex.org/", "lm": {"@id": "http://ex.org/lm", "@container": "@language"}},
]


@settings(max_examples=100, deadline=None)
@given(expanded_docs, st.sampled_from(_ROUNDTRIP_CONTEXTS))
def test_compact_expand_roundtrip_sound(doc, ctx):
    """Compaction soundness: compacting expanded output under ANY
    context then re-expanding must reproduce the same expanded document
    (modulo array-order) — the fundamental losslessness property the
    spec's algorithms guarantee."""
    from jsonld_spark.compact import compact_document

    expanded = expand_document(json.loads(json.dumps(doc)))
    compacted = compact_document(
        json.loads(json.dumps(expanded)), json.loads(json.dumps(ctx))
    )
    reexpanded = expand_document(json.loads(json.dumps(compacted)))

    def norm(v, in_list=False):
        if isinstance(v, dict):
            return tuple(
                sorted((k, norm(val, k == "@list")) for k, val in v.items())
            )
        if isinstance(v, list):
            items = [norm(i, in_list) for i in v]
            return tuple(items) if in_list else tuple(sorted(items))
        return (type(v).__name__, v)

    assert norm(reexpanded) == norm(expanded), (expanded, compacted, reexpanded)


# --- bounded reader: flat node objects straight to quads -----------------------

_XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
_FLAT_TERMS = {
    "s": "http://ex.org/s",
    "s2": "http://ex.org/s",  # a second key expanding to the same IRI
    "i": {"@id": "http://ex.org/i", "@type": "@id"},
    "v": {"@id": "http://ex.org/v", "@type": "@vocab"},
    "n": {"@id": "http://ex.org/n", "@type": _XSD_INT},
    # rdf:JSON as an IRI, not @json: a string literal becomes its JCS text
    "rj": {"@id": "http://ex.org/rj",
           "@type": "http://www.w3.org/1999/02/22-rdf-syntax-ns#JSON"},
    "none": {"@id": "http://ex.org/none", "@type": "@none"},
    "j": {"@id": "http://ex.org/j", "@type": "@json"},
    "fr": {"@id": "http://ex.org/fr", "@language": "fr"},
    "nolang": {"@id": "http://ex.org/nolang", "@language": None},
    "rtl": {"@id": "http://ex.org/rtl", "@direction": "rtl"},
    "lst": {"@id": "http://ex.org/lst", "@container": "@list"},
    "set": {"@id": "http://ex.org/set", "@container": "@set"},
    "rev": {"@reverse": "http://ex.org/rev"},
    "nest": {"@id": "http://ex.org/nest", "@nest": "@nest"},
    "id": "@id",
    "type": "@type",
    "T": {"@id": "http://ex.org/T",
          "@context": {"@language": "de", "s": "http://ex.org/scoped"}},
    "drop": None,
}
# keys the flat path takes (with the context above); "undefined" is
# an IRI only under @vocab
_FLAT_KEYS = ["s", "s2", "http://ex.org/s", "i", "v", "n", "rj", "none", "fr",
              "nolang", "rtl", "undefined"]
_flat_scalar = st.one_of(
    st.sampled_from(["x", "C", "ex:y", "http://ex.org/o", "", "rel/p", "_:b1", "@foo"]),
    st.sampled_from([0, 1, 1.0, 1.5, True, False, 10**21]),
)
_flat_value = st.one_of(_flat_scalar, st.lists(_flat_scalar, max_size=4))
_flat_type = st.sampled_from(["C", "http://ex.org/C", "ex:y", "rel/t"])
# one change that may take an element off the flat path
_PERTURBATIONS = [
    *(("key", k) for k in ["j", "lst", "set", "rev", "nest", "drop", "@foo",
                           "_:bp", "@index", "@context", "undefined"]),
    ("value", None), ("value", [1, None]), ("value", {"s": "x"}),
    ("value", {"@value": "x"}), ("value", [[1]]), ("value", []),
    ("id", None), ("id", 5), ("id", "_:b1"), ("id", "@foo"), ("id", "collide"),
    ("id", "http://ex.org/a b"),  # no IRI (a space), so the node emits nothing
    ("type", "T"), ("type", 5), ("type", "_:b1"), ("type", "@foo"), ("type", []),
    # a second element of the same key tuple whose values are not flat:
    # the key plan the first element cached must not decide for them
    ("twin", ("value", None)), ("twin", ("value", {"s": "x"})),
    ("twin", ("id", "_:b1")), ("twin", ("id", "@foo")), ("twin", ("type", "T")),
]


@st.composite
def _flat_ish_docs(draw, forced=None):
    """Spine and single-node documents of flat node objects under
    generated term definitions, each element with at most one change
    that may send it down the general path; the first element gets the
    ``forced`` change when one is given.  A ``twin`` change adds a
    second element with the same keys after the first."""
    ctx = dict(_FLAT_TERMS)
    for key, choices in [
        ("@vocab", ["http://ex.org/vocab/"]),
        ("@language", ["en", "EN-gb"]),
        ("@direction", ["ltr"]),
    ]:
        if draw(st.booleans()):
            ctx[key] = draw(st.sampled_from(choices))
    if draw(st.integers(0, 9)) == 0:
        ctx["@propagate"] = False

    def elements_for(change):
        id_key = draw(st.sampled_from(["@id", "@id", "id"]))
        el = {id_key: draw(st.sampled_from(["http://ex.org/a", "ex:c", "rel/b"]))}
        type_key = draw(st.sampled_from(["@type", "type", None]))
        if type_key is not None:
            el[type_key] = draw(st.one_of(_flat_type, st.lists(_flat_type, max_size=3)))
        for key in draw(st.lists(st.sampled_from(_FLAT_KEYS), max_size=3)):
            el[key] = draw(_flat_value)
        if change is None:
            return [el]
        what, arg = change
        if what == "twin":
            what, arg = arg
            if what == "value":
                key = next((k for k in el if k in _FLAT_KEYS), None)
                if key is None:
                    key = draw(st.sampled_from(_FLAT_KEYS))
                    el[key] = draw(_flat_value)
            elif what == "id":
                key = id_key
            else:
                if type_key is None:
                    type_key = "@type"
                    el[type_key] = draw(_flat_type)
                key = type_key
            return [el, {**el, key: arg}]
        if what == "key":
            el[arg] = {"s": "http://ex.org/other"} if arg == "@context" else draw(_flat_value)
        elif what == "value":
            el[draw(st.sampled_from(_FLAT_KEYS))] = arg
        elif what == "id" and arg is None:
            del el[id_key]
        elif what == "id" and arg == "collide":
            el["id" if id_key == "@id" else "@id"] = "http://ex.org/z"
        elif what == "id":
            el[id_key] = arg
        else:
            el[type_key or "@type"] = arg
        return [el]

    changes = st.one_of(st.none(), st.sampled_from(_PERTURBATIONS))
    elements = elements_for(forced) if forced is not None else []
    for _ in range(draw(st.integers(1 - len(elements), 3))):
        elements += elements_for(draw(changes))
    if (forced is not None and forced[0] == "twin") or draw(st.booleans()):
        doc = {"@context": ctx, "@graph": elements}
        # a named graph, valid or not (a space is no IRI character)
        name = draw(st.sampled_from([None, "http://ex.org/g", "http://ex.org/g h"]))
        return doc if name is None else {"@id": name, **doc}
    return {"@context": ctx, **elements[0]}


def _reader_run(doc):
    """(quads emitted before any error, warnings, error code)."""
    from jsonld_spark.errors import JsonLdError
    from jsonld_spark.streaming.reader import stream_doc_quads

    quads, warnings, code = [], [], None
    try:
        for q in stream_doc_quads(
            json.loads(json.dumps(doc)), base="http://base.e/", warnings_out=warnings
        ):
            quads.append(q)
    except JsonLdError as e:
        code = e.code
    return quads, warnings, code


@settings(max_examples=300, deadline=None)
@given(_flat_ish_docs())
@example(doc={
    "@context": {"s": "http://ex.org/s", "s2": "http://ex.org/s", "id": "@id"},
    "@graph": [{"id": "http://ex.org/a", "s": [1, 1.0, True], "s2": 1}],
})
@example(doc={
    "@context": {"id": "@id"},
    "@graph": [{"id": "http://ex.org/a", "@id": "http://ex.org/b"}],
})
@example(doc={
    "@context": {"@vocab": "http://ex.org/vocab/", "@language": "en",
                 "@direction": "ltr", "none": _FLAT_TERMS["none"],
                 "n": _FLAT_TERMS["n"], "v": _FLAT_TERMS["v"]},
    "@graph": [{"@id": "http://ex.org/a", "@type": ["C", "C"], "none": "x",
                "n": [1, "2"], "v": ["C", "ex:y"], "p": []}],
})
@example(doc={
    "@context": {"@vocab": "http://ex.org/vocab/", "drop": None},
    "@graph": [{"@id": "http://ex.org/a", "p": "x", "drop": "y"}],
})
def test_flat_node_path_matches_general_path(doc):
    """Property: the bounded reader's flat-node route gives exactly the
    general per-element path's quad list (order included), warnings and
    error code."""
    from unittest import mock

    from jsonld_spark.streaming import reader

    with mock.patch.object(reader, "flat_node_quads", lambda *a: None):
        want = _reader_run(doc)
    assert _reader_run(doc) == want


@pytest.mark.parametrize("change", _PERTURBATIONS, ids=lambda c: f"{c[0]}={c[1]!r}")
@settings(max_examples=25, deadline=None)
@given(data=st.data())
def test_flat_node_path_matches_general_path_per_change(change, data):
    """The same property with each change that may take an element off
    the flat path forced onto the first element."""
    from unittest import mock

    from jsonld_spark.streaming import reader

    doc = data.draw(_flat_ish_docs(change))
    with mock.patch.object(reader, "flat_node_quads", lambda *a: None):
        want = _reader_run(doc)
    assert _reader_run(doc) == want
