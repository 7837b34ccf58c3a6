"""Negative-test parity with the reference's error taxonomy.

The W3C manifests' negative tests assert spec error-code strings
(`expectErrorCode`, matched by suite_helper.rb:311-352 against
JsonLdError#code from ld.rb:118-181).  The manifests aren't vendored in
the snapshot, so these hand-authored cases cover the same classes:
each asserts that expanding/processing a malformed document raises a
JsonLdError whose ``code`` equals the reference's exact string.
"""

import pytest

from jsonld_spark import expand_document
from jsonld_spark import errors as err

# (case-name, document, reference error-code string)
EXPAND_NEGATIVE = [
    (
        "invalid-base-iri",
        {"@context": {"@base": True}, "@id": "x"},
        "invalid base IRI",
    ),
    (
        "invalid-vocab-mapping",
        {"@context": {"@vocab": 4}, "p": "v"},
        "invalid vocab mapping",
    ),
    (
        "invalid-default-language",
        {"@context": {"@language": 1}, "p": "v"},
        "invalid default language",
    ),
    (
        "invalid-base-direction",
        {"@context": {"@direction": "up"}, "p": "v"},
        "invalid base direction",
    ),
    (
        "invalid-version-value",
        {"@context": {"@version": 1.0}, "p": "v"},
        "invalid @version value",
    ),
    (
        "invalid-import-value",
        {"@context": {"@import": True}, "p": "v"},
        "invalid @import value",
    ),
    (
        "invalid-propagate-value",
        {"@context": [{"@propagate": "yes"}], "p": "v"},
        "invalid @propagate value",
    ),
    (
        "keyword-redefinition",
        {"@context": {"@id": "http://x/"}, "p": "v"},
        "keyword redefinition",
    ),
    (
        "invalid-term-definition",
        {"@context": {"t": True}, "t": "v"},
        "invalid term definition",
    ),
    (
        "invalid-iri-mapping",
        {"@context": {"t": {"@id": True}}, "t": "v"},
        "invalid IRI mapping",
    ),
    (
        "cyclic-iri-mapping",
        {"@context": {"a": "b:x", "b": "a:x"}, "a:y": "v"},
        "cyclic IRI mapping",
    ),
    (
        "invalid-type-mapping",
        {"@context": {"t": {"@id": "http://p", "@type": True}}, "t": "v"},
        "invalid type mapping",
    ),
    (
        "invalid-language-mapping",
        {"@context": {"t": {"@id": "http://p", "@language": True}}, "t": "v"},
        "invalid language mapping",
    ),
    (
        "invalid-container-mapping",
        {"@context": {"t": {"@id": "http://p", "@container": "@bogus"}}, "t": "v"},
        "invalid container mapping",
    ),
    (
        "invalid-reverse-property",
        {
            "@context": {"t": {"@reverse": "http://p", "@container": "@list"}},
            "t": "v",
        },
        "invalid reverse property",
    ),
    (
        "invalid-prefix-value",
        {"@context": {"t": {"@id": "http://p#", "@prefix": "x"}}, "t": "v"},
        "invalid @prefix value",
    ),
    (
        "invalid-nest-value-object",
        # a nested value must not be a value object (expand.rb:826)
        {"@id": "http://e/a", "@nest": {"@value": "v"}},
        "invalid @nest value",
    ),
    (
        "protected-term-redefinition",
        {
            "@context": [
                {"@protected": True, "t": "http://p1"},
                {"t": "http://p2"},
            ],
            "t": "v",
        },
        "protected term redefinition",
    ),
    (
        "colliding-keywords",
        {
            "@context": {"id": "@id"},
            "id": "http://e/a",
            "@id": "http://e/b",
        },
        "colliding keywords",
    ),
    (
        "invalid-id-value",
        {"@id": True, "http://p": "v"},
        "invalid @id value",
    ),
    (
        "invalid-type-value",
        {"@type": True, "http://p": "v"},
        "invalid type value",
    ),
    (
        "invalid-value-object",
        {"http://p": {"@value": "v", "@language": "en", "@type": "http://t"}},
        "invalid value object",
    ),
    (
        "invalid-value-object-value",
        {"http://p": {"@value": {}}},
        "invalid value object value",
    ),
    (
        "invalid-language-tagged-string",
        {"http://p": {"@value": "v", "@language": True}},
        "invalid language-tagged string",
    ),
    (
        "invalid-language-tagged-value",
        {"http://p": {"@value": 5, "@language": "en"}},
        "invalid language-tagged value",
    ),
    (
        "invalid-index-value",
        {"http://p": {"@value": "v", "@index": True}},
        "invalid @index value",
    ),
    (
        "invalid-set-or-list-object",
        {"http://p": {"@list": ["x"], "@id": "http://e/a"}},
        "invalid set or list object",
    ),
    (
        "invalid-reverse-value",
        {"@reverse": "x"},
        "invalid @reverse value",
    ),
    (
        "invalid-reverse-property-value",
        {"@reverse": {"http://p": [{"@value": "literal"}]}},
        "invalid reverse property value",
    ),
    (
        "invalid-included-value",
        {"http://p": "v", "@included": "x"},
        "invalid @included value",
    ),
    (
        "invalid-scoped-context",
        {
            "@context": {"t": {"@id": "http://p", "@context": {"@version": 9}}},
            "t": {"u": "v"},
        },
        "invalid scoped context",
    ),
    (
        "invalid-local-context",
        {"@context": True, "http://p": "v"},
        "invalid local context",
    ),
    (
        "loading-remote-context-failed",
        {"@context": "http://unresolvable.example/ctx", "http://p": "v"},
        "loading remote context failed",
    ),
    (
        "invalid-keyword-alias",
        {"@context": {"kw": "@context"}, "http://p": "v"},
        "invalid keyword alias",
    ),
    (
        "invalid-typed-value",
        {"http://p": {"@value": "v", "@type": "relative"}},
        "invalid typed value",
    ),
    (
        "invalid-language-map-value",
        {
            "@context": {"t": {"@id": "http://p", "@container": "@language"}},
            "t": {"en": 5},
        },
        "invalid language map value",
    ),
    (
        "invalid-context-nullification",
        {"@context": [{"@protected": True, "t": "http://p"}, None], "t": "v"},
        "invalid context nullification",
    ),
    (
        "invalid-term-direction",
        {"@context": {"t": {"@id": "http://p", "@direction": "x"}}, "t": "v"},
        "invalid base direction",
    ),
    (
        "invalid-reverse-property-map",
        # a keyword directly inside an @reverse map (expand.rb:282-285)
        {"@id": "http://e/a", "@reverse": {"@id": "http://e/x"}},
        "invalid reverse property map",
    ),
]


# compaction-time error codes (raised by compact_iri / nest placement,
# matching the reference's compact.rb / context.rb raise sites)
COMPACT_NEGATIVE = [
    (
        "invalid-nest-value-at-use",
        # term's @nest names a term that does NOT alias @nest
        {"bogus": "http://other", "t": {"@id": "http://p", "@nest": "bogus"}},
        [{"@id": "http://e/a", "http://p": [{"@value": "v"}]}],
        "invalid @nest value",
    ),
    (
        "iri-confused-with-prefix",
        # absolute IRI "t:suffix" collides with prefix term "t"
        {"t": {"@id": "http://example/ns#", "@prefix": True}},
        [{"@id": "http://e/a", "t:suffix": [{"@value": "v"}]}],
        "IRI confused with prefix",
    ),
]


def test_processing_mode_conflict_code():
    with pytest.raises(err.JsonLdError) as exc_info:
        expand_document(
            {"@context": {"@version": 1.1}, "http://p": "v"},
            processing_mode="json-ld-1.0",
        )
    assert exc_info.value.code == "processing mode conflict"


def test_conflicting_indexes_code():
    """flatten.rb:159: one node reached with two different @index values."""
    from jsonld_spark.flatten import node_map_from_expanded

    doc = {
        "@id": "http://e/a",
        "http://p/x": {"@id": "http://e/b", "@index": "i1", "http://p/v": "1"},
        "http://p/y": {"@id": "http://e/b", "@index": "i2", "http://p/v": "2"},
    }
    with pytest.raises(err.JsonLdError) as exc_info:
        node_map_from_expanded(expand_document(doc))
    assert exc_info.value.code == "conflicting indexes"


@pytest.mark.parametrize(
    "name,ctx,expanded,code", COMPACT_NEGATIVE, ids=[c[0] for c in COMPACT_NEGATIVE]
)
def test_compact_error_code(name, ctx, expanded, code):
    from jsonld_spark.compact import compact_document

    with pytest.raises(err.JsonLdError) as exc_info:
        compact_document(expanded, ctx)
    assert exc_info.value.code == code, (
        f"{name}: raised {exc_info.value.code!r}, reference expects {code!r}"
    )


@pytest.mark.parametrize(
    "name,doc,code", EXPAND_NEGATIVE, ids=[c[0] for c in EXPAND_NEGATIVE]
)
def test_expand_error_code(name, doc, code):
    with pytest.raises(err.JsonLdError) as exc_info:
        expand_document(doc)
    assert exc_info.value.code == code, (
        f"{name}: raised {exc_info.value.code!r}, reference expects {code!r}"
    )


# frame-syntax error codes (api.rb:380-438, frame.rb:459-476)
FRAME_NEGATIVE = [
    ("frame-not-object", "not-a-frame", "invalid frame"),
    ("frame-bad-id", {"@id": True}, "invalid frame"),
    ("frame-bad-type-map", {"@type": {"@id": "http://t"}}, "invalid frame"),
    ("frame-bad-embed", {"@embed": "@bogus"}, "invalid @embed value"),
]


@pytest.mark.parametrize(
    "name,frame,code", FRAME_NEGATIVE, ids=[c[0] for c in FRAME_NEGATIVE]
)
def test_frame_error_code(name, frame, code):
    from jsonld_spark.frame import frame_document

    with pytest.raises(err.JsonLdError) as exc_info:
        frame_document({"@id": "http://e/a", "http://p": "v"}, frame)
    assert exc_info.value.code == code
    if code == "invalid @embed value":
        # reference subclasses it under InvalidFrame (ld.rb:180-181)
        assert isinstance(exc_info.value, err.InvalidFrame)


# -- round-3 taxonomy completion (VERDICT r2 #6) ------------------------------


def test_invalid_json_literal_code():
    """rdf_model JCS / @json literal parsing on malformed lexical form."""
    from jsonld_spark.from_rdf import from_quads
    from jsonld_spark.rdf_model import RDF_JSON, Quad

    q = Quad("http://e/a", "http://p/j", "{not json", True, RDF_JSON, None, None)
    with pytest.raises(err.InvalidJsonLiteral) as exc_info:
        from_quads([q], use_native_types=True)
    assert exc_info.value.code == "invalid JSON literal"


def test_invalid_protected_value_code():
    with pytest.raises(err.InvalidProtectedValue) as exc_info:
        expand_document({"@context": {"@protected": "yes"}, "http://p": "v"})
    assert exc_info.value.code == "invalid @protected value"


def test_invalid_remote_context_code():
    from jsonld_spark.context import ContextCache

    cache = ContextCache({"http://ctx.e/c": '["not a context document"]'})
    with pytest.raises(err.InvalidRemoteContext) as exc_info:
        expand_document({"@context": "http://ctx.e/c", "http://p": "v"}, cache=cache)
    assert exc_info.value.code == "invalid remote context"


def test_loading_document_failed_code_string():
    """api.rb:836: url fragment names a script id that does not exist —
    the extraction error row carries the reference's code string."""
    from jsonld_spark.sources.html_jsonld import extract_jsonld

    html = '<script type="application/ld+json" id="a">{}</script>'
    docs = extract_jsonld(html, "http://e/page#missing")
    assert len(docs) == 1
    assert docs[0].error.startswith("loading document failed")


def test_multiple_context_link_headers_code():
    from jsonld_spark.context import ContextCache

    cache = ContextCache({
        "http://ctx.e/data.json": {
            "@remote-document": True,
            "contentType": "application/json",
            "contextUrl": ["/ctx1.jsonld", "/ctx2.jsonld"],
            "document": {"@context": {"@vocab": "http://v/"}},
        },
    })
    with pytest.raises(err.MultipleContextLinkHeaders) as exc_info:
        expand_document(
            {"@context": "http://ctx.e/data.json", "http://p": "v"}, cache=cache
        )
    assert exc_info.value.code == "multiple context link headers"


def test_non_json_remote_content_type_fails():
    """api.rb:660-668: a remote document whose content type is neither
    ld+json nor any +json type (e.g. text/html) must fail loading, not
    be silently accepted as JSON-LD."""
    from jsonld_spark.context import ContextCache

    cache = ContextCache({
        "http://ctx.e/page.html": {
            "@remote-document": True,
            "contentType": "text/html",
            "document": {"@context": {"@vocab": "http://v/"}},
        },
    })
    with pytest.raises(err.LoadingRemoteContextFailed):
        expand_document(
            {"@context": "http://ctx.e/page.html", "http://p": "v"}, cache=cache
        )


def test_single_context_link_header_followed():
    """api.rb:645-662: exactly one rel=context link on a plain-JSON
    document is followed, resolved against the document url."""
    from jsonld_spark.context import ContextCache

    cache = ContextCache({
        "http://ctx.e/data.json": {
            "@remote-document": True,
            "contentType": "application/json",
            "contextUrl": "/real-ctx.jsonld",
            "document": {"ignored": True},
        },
        "http://ctx.e/real-ctx.jsonld": {"@context": {"@vocab": "http://v/"}},
    })
    out = expand_document(
        {"@context": "http://ctx.e/data.json", "@id": "http://e/a", "name": "x"},
        cache=cache,
    )
    assert out == [{"@id": "http://e/a", "http://v/name": [{"@value": "x"}]}]


def test_error_taxonomy_complete():
    """Every error class in the taxonomy (ld.rb:118-181 parity) has at
    least one triggering case asserted somewhere in tests/.  Two
    classes exist for taxonomy parity only and are never raised:
    MissingIncludedReferent, which the reference defines but never
    raises either (grep lib/ confirms), and InvalidStreamingKeyOrder,
    the reference's one-pass key-order rule, which the bounded reader
    does not have (it takes parsed documents, so key order is free:
    ``test_stream_equals_batch[late-context]``)."""
    import glob
    import os
    import re as _re

    here = os.path.dirname(__file__)
    src = open(os.path.join(here, "..", "jsonld_spark", "errors.py")).read()
    pairs = _re.findall(r'([A-Za-z]+) = _err\(\s*"([A-Za-z]+)",\s*"([^"]+)"', src)
    corpus = "".join(open(f).read() for f in glob.glob(os.path.join(here, "*.py")))
    untriggered = [
        name
        for name, _, code in pairs
        if f'"{code}"' not in corpus and f"err.{name}" not in corpus
    ]
    assert set(untriggered) <= {
        "InvalidStreamingKeyOrder", "MissingIncludedReferent"
    }, untriggered


def test_content_type_parameters_accepted():
    """Media-type parameters ('application/ld+json; charset=utf-8') are
    stripped before matching — HTTP loaders record them verbatim."""
    from jsonld_spark.context import ContextCache

    cache = ContextCache({
        "http://ctx.e/c.jsonld": {
            "@remote-document": True,
            "contentType": "application/ld+json; charset=utf-8",
            "document": {"@context": {"@vocab": "http://v/"}},
        },
    })
    out = expand_document(
        {"@context": "http://ctx.e/c.jsonld", "@id": "http://e/a", "name": "x"},
        cache=cache,
    )
    assert out == [{"@id": "http://e/a", "http://v/name": [{"@value": "x"}]}]
