"""HTML ld+json extraction tests (semantics per reference api.rb:767-887)."""

import json

from jsonld_spark.sources.html_jsonld import (
    extract_jsonld,
    find_jsonld_scripts,
    html_base_href,
)


HTML = """<!DOCTYPE html><html><head>
<base href="http://base.example/sub/">
<script type="text/javascript">var x = 1;</script>
<script type="application/ld+json">{"@id": "a", "p": 1}</script>
<script type="application/ld+json" id="second">[{"@id": "b"}, {"@id": "c"}]</script>
<script type="application/ld+json;profile=http://www.w3.org/ns/json-ld#flattened">{"@id": "flat"}</script>
</head><body></body></html>"""


def test_find_scripts():
    blocks = find_jsonld_scripts(HTML)
    assert len(blocks) == 3
    assert blocks[1].script_id == "second"
    assert blocks[2].profile == "http://www.w3.org/ns/json-ld#flattened"


def test_base_href():
    assert html_base_href(HTML, "http://doc.example/x") == "http://base.example/sub/"
    assert html_base_href("<html></html>", "http://doc.example/x") == "http://doc.example/x"
    # relative base resolved against document url
    assert (
        html_base_href('<base href="rel/">', "http://doc.example/dir/x")
        == "http://doc.example/dir/rel/"
    )


def test_extract_all():
    docs = extract_jsonld(HTML, "http://doc.example/x")
    assert len(docs) == 3
    assert all(d.base == "http://base.example/sub/" for d in docs)
    assert json.loads(docs[0].json_text) == {"@id": "a", "p": 1}


def test_extract_first_only():
    docs = extract_jsonld(HTML, "http://doc.example/x", extract_all_scripts=False)
    assert len(docs) == 1
    assert json.loads(docs[0].json_text)["@id"] == "a"


def test_fragment_selection():
    docs = extract_jsonld(HTML, "http://doc.example/x#second")
    assert len(docs) == 1
    assert isinstance(json.loads(docs[0].json_text), list)


def test_fragment_missing():
    docs = extract_jsonld(HTML, "http://doc.example/x#nope")
    assert docs[0].error is not None


def test_malformed_json_is_error_row():
    html = '<script type="application/ld+json">{"broken": </script>'
    docs = extract_jsonld(html, "http://doc.example/x")
    assert len(docs) == 1
    assert docs[0].error == "invalid script element"


def test_profile_preference():
    docs = extract_jsonld(
        HTML,
        "http://doc.example/x",
        extract_all_scripts=False,
        profile="http://www.w3.org/ns/json-ld#flattened",
    )
    assert json.loads(docs[0].json_text)["@id"] == "flat"


def parse_all_scripts(html, url=None):
    """Reference extractAllScripts=true merge semantics (api.rb:846-868):
    all blocks parsed and concatenated into one array (top-level arrays
    flattened)."""
    merged, errors = [], []
    for doc in extract_jsonld(html, url, extract_all_scripts=True):
        if doc.error:
            errors.append(doc.error)
        elif isinstance(doc.parsed, list):
            merged.extend(doc.parsed)
        else:
            merged.append(doc.parsed)
    return merged, errors


def test_parse_all_merges_arrays():
    merged, errors = parse_all_scripts(HTML, "http://doc.example/x")
    assert len(merged) == 4  # 1 + 2 (array flattened) + 1
    assert errors == []


def test_bytes_input():
    docs = extract_jsonld(HTML.encode("utf-8"), "http://doc.example/x")
    assert len(docs) == 3


def test_commented_script_and_base_skipped():
    """A DOM parser never sees commented elements — neither should the
    scanner (review r5: commented blocks injected spurious triples)."""
    from jsonld_spark.sources.html_jsonld import extract_jsonld, html_base_href

    html = (
        '<!-- <script type="application/ld+json">{"@id":"http://commented"}'
        "</script> -->"
        '<script type="application/ld+json">{"@id":"http://real"}</script>'
    )
    docs = extract_jsonld(html, url="http://ex.org/")
    assert len(docs) == 1 and '"http://real"' in docs[0].json_text

    base = html_base_href(
        '<!-- <base href="http://commented/"> --><base href="http://real/">'
    )
    assert base == "http://real/"


def test_comment_markers_inside_script_are_content():
    """'<!--' inside a <script> body is raw text per the HTML spec, not
    a comment opener — the block must survive stripping intact."""
    from jsonld_spark.sources.html_jsonld import extract_jsonld

    html = (
        '<script type="application/ld+json">'
        '{"@id":"http://a", "http://p": {"@value": "x <!-- y --> z"}}'
        "</script>"
    )
    docs = extract_jsonld(html, url="http://ex.org/")
    assert len(docs) == 1 and docs[0].error is None
    assert "<!--" in docs[0].json_text


def test_unterminated_comment_runs_to_eof():
    from jsonld_spark.sources.html_jsonld import extract_jsonld

    html = (
        '<script type="application/ld+json">{"@id":"http://a"}</script>'
        '<!-- <script type="application/ld+json">{"@id":"http://b"}</script>'
    )
    docs = extract_jsonld(html, url="http://ex.org/")
    assert len(docs) == 1 and '"http://a"' in docs[0].json_text


def test_doc_pages_template_escapes_dirty_fields(spark):
    """A documents row with quote/backslash in source and a '<script'
    payload in text must produce ONE well-formed ld+json block whose
    parsed fields round-trip to the raw column values."""
    import json

    from jsonld_spark.functions.doc_api import expand_docs
    from jsonld_spark.sources.doc_pages import pages_from_documents

    rows = [
        (1, 'x <script type="application/ld+json">{}</script> y', "en", 'a"b\\', 9)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = expand_docs(pages_from_documents(docs)).collect()
    assert len(out) == 1 and out[0].error is None, out
    res = json.loads(out[0].result)
    vals = {
        k.rsplit("/", 1)[-1]: v[0].get("@value")
        for k, v in res[0].items()
        if isinstance(v, list) and v and isinstance(v[0], dict)
    }
    assert vals.get("source") == 'a"b\\'


def _doc_api_rows(pages, op=lambda doc, base, cache: doc):
    """Drive the doc API's mapInPandas function in-process (no Spark)."""
    import pandas as pd

    from jsonld_spark.functions.doc_api import doc_op_fn

    frames = doc_op_fn(op, None)(iter([pd.DataFrame(pages, columns=["url", "html"])]))
    return [r for f in frames for r in f.itertuples(index=False, name=None)]


def test_doc_api_null_html_yields_no_rows():
    """A NULL-html page has no scripts — no rows, as on the triples path
    (not an ``extract:`` error row)."""
    assert _doc_api_rows([("http://ex.org/null", None)]) == []


def test_doc_api_size_gate_counts_utf8_bytes(monkeypatch):
    """The size gate counts UTF-8 bytes like the triples path: 40 × 'é'
    is 40 chars but 80 bytes, over a 50-byte gate."""
    from jsonld_spark import udfs

    html = "é" * 40
    monkeypatch.setattr(udfs, "MAX_HTML_BYTES", 50)
    assert _doc_api_rows([("http://ex.org/e", html)]) == [
        ("http://ex.org/e", -1, None, "document too large: 80 bytes > 50")
    ]
    monkeypatch.setattr(udfs, "MAX_HTML_BYTES", 80)
    assert _doc_api_rows([("http://ex.org/e", html)]) == []


def _script_page(doc) -> str:
    return f'<script type="application/ld+json">{json.dumps(doc)}</script>'


def _triples_error(url, html):
    from jsonld_spark.context import EMPTY_CACHE
    from jsonld_spark.udfs import page_to_rows

    (row,) = page_to_rows(url, html, EMPTY_CACHE)
    return row[-1]


def test_doc_api_jsonld_error_matches_triples_path():
    """A JSON-LD error raised with a message: the doc API's error column
    carries its code, the same string as the page's triples error row
    (not ``code: message``)."""
    from jsonld_spark.expand import expand_document

    url = "http://ex.org/bad"
    html = _script_page({"@context": {"@vocab": 5}, "p": 1})
    want = _triples_error(url, html)
    assert want == "invalid vocab mapping"
    rows = _doc_api_rows(
        [(url, html)], lambda doc, base, cache: expand_document(doc, base=base, cache=cache)
    )
    assert rows == [(url, 0, None, want)]


def test_doc_api_internal_error_matches_triples_path(monkeypatch):
    """An op raising a non-JSON-LD exception: ``internal: <message>``,
    the string the triples path writes for the same exception."""
    from jsonld_spark import udfs

    def boom(*_a, **_k):
        raise ValueError("boom")

    url = "http://ex.org/x"
    html = _script_page({"@id": "http://ex.org/s", "http://ex.org/p": 1})
    assert _doc_api_rows([(url, html)], boom) == [(url, 0, None, "internal: boom")]
    monkeypatch.setattr(udfs, "doc_to_quads", boom)
    assert _triples_error(url, html) == "internal: boom"


def test_extract_links_resolution(spark):
    from jsonld_spark.sources.html_jsonld import extract_links

    html = (
        b'<html><body><a href="/p/1">a</a>'
        b"<a HREF='https://ex.com/abs'>b</a>"
        b'<a href="r/2">c</a>'
        b'<a href="//cdn.e/x">d</a>'
        b'<!-- <a href="/hidden">n</a> -->'
        b'<a href="">e</a>'
        b'<a class="z" href="/attr">f</a>'
        b'<a href="#top">h</a>'
        b'<a href="?page=2">i</a>'
        b'<a href="mailto:x@e">g</a></body></html>'
    )
    df = spark.createDataFrame(
        [("http://h.example/dir/page?q=1#frag", html)],
        "url string, html binary",
    )
    got = {r.href for r in extract_links(df).collect()}
    assert got == {
        "http://h.example/p/1",        # root-relative
        "https://ex.com/abs",          # absolute, case-insensitive HREF
        "http://h.example/dir/r/2",    # path-relative (query stripped)
        "http://cdn.e/x",              # scheme-relative
        "http://h.example/attr",       # href not first attribute
        # '#top' dropped: fragment-only = self-reference, no edge
        "http://h.example/dir/page?page=2",  # query-only: page path kept
        "mailto:x@e",                  # scheme'd non-http kept verbatim
    }


def test_host_graph_rollup(spark):
    from jsonld_spark.sources.html_jsonld import host_graph

    links = spark.createDataFrame(
        [
            ("http://A.example/p1", "http://b.example/x"),
            ("http://a.example/p2", "http://B.example/y"),  # case-folds
            ("http://a.example/p3", "http://a.example/self"),
            ("http://a.example/p4", "mailto:x@e"),          # host-less: dropped
        ],
        "url string, href string",
    )
    rows = {(r.src_host, r.dst_host): r.n_links for r in host_graph(links).collect()}
    assert rows == {
        ("a.example", "b.example"): 2,
        ("a.example", "a.example"): 1,
    }


def test_html_to_text_heuristics(spark):
    from jsonld_spark.sources.html_jsonld import html_to_text

    html = (
        b"<html><head><title>My Title</title>"
        b"<style>p { color: red }</style>"
        b'<script type="application/ld+json">{"never": "this"}</script>'
        b"</head><body>"
        b"<!-- <p>commented out</p> -->"
        b"<p>Hello &amp; welcome to 5 &lt; 7 land.</p>"
        b"<div>Second   block\nwith&nbsp;entities &quot;q&#39;</div>"
        b"<noscript>js off</noscript>"
        b"</body></html>"
    )
    rows = [
        ("http://t.example/a", html),
        ("http://t.example/null", None),
        ("http://t.example/bad", b"\xff\xfe<p>still works</p>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r.url: r.text for r in html_to_text(df).collect()}
    assert got["http://t.example/a"] == (
        "My Title Hello & welcome to 5 < 7 land. "
        'Second block with entities "q\''
    )
    assert got["http://t.example/null"] is None
    assert got["http://t.example/bad"].endswith("still works")
