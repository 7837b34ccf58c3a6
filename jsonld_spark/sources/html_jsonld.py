"""Extract ``<script type="application/ld+json">`` blocks from HTML.

Capability parity with the reference's HTML loaders
(/root/reference/lib/json/ld/api.rb:767-887: SCRIPT_LOADERS at 767-773,
fragment selection at 832-845, extractAllScripts at 846-868, first-match
at 869-884, ``<base href>`` handling at 823-828) — implemented as a
single pure-Python scanner (no Nokogiri/REXML adapter layer) designed to
run vectorized over Arrow batches inside a pandas UDF.

Deliberately regex-based: full HTML5 parsing libs aren't available in
the runtime, and CommonCrawl-scale extraction wants a linear scan.  The
regexes handle attribute order/quoting variants and skip commented
scripts the same way a streaming tokenizer would.

Script bodies parse with stdlib ``json.loads`` (C-accelerated), whose
integers are exact at any size — xsd:integer emission needs the
lexical form of 18446744073709551617, not a float.  A faster parser
that rounds big integers would need a digit-run guard per script, and
on crawl-shaped pages that guard alone costs more than ``json.loads``.
"""

from __future__ import annotations

import json
import re
from typing import NamedTuple

_SCRIPT_RE = re.compile(
    r"<script\b([^>]*)>(.*?)</script\s*>",
    re.IGNORECASE | re.DOTALL,
)
_ATTR_RE = re.compile(
    r"""([a-zA-Z][a-zA-Z0-9:_-]*)\s*=\s*("([^"]*)"|'([^']*)'|([^\s"'>]+))""",
)
_BASE_RE = re.compile(
    r"<base\b([^>]*)>",
    re.IGNORECASE,
)
_JSONLD_TYPE_RE = re.compile(
    r"\Aapplication/ld\+json\s*(?:;\s*(.*))?\Z", re.IGNORECASE
)


class ScriptBlock(NamedTuple):
    text: str  # raw JSON text of the block
    script_id: str | None
    profile: str | None
    index: int  # document order among ld+json scripts


def _attrs(attr_text: str) -> dict[str, str]:
    out = {}
    for m in _ATTR_RE.finditer(attr_text):
        name = m.group(1).lower()
        val = m.group(3) or m.group(4) or m.group(5) or ""
        out[name] = val
    return out


# comments are stripped BEFORE scanning for scripts/base (a DOM parser
# never sees commented elements; commented-out structured-data blocks
# are common in templated HTML).  <script> bodies are raw text in HTML
# — '<!--' inside one does NOT open a comment — so script regions pass
# through verbatim (group 1); a comment that CONTAINS a script wins
# because its '<!--' starts earlier in the scan.  Unterminated comments
# run to EOF per the HTML spec.
_COMMENT_OR_SCRIPT_RE = re.compile(
    r"(<script\b.*?</script\s*>)|<!--.*?(?:-->|\Z)", re.I | re.S
)


def _strip_comments(html: str) -> str:
    if "<!--" not in html:
        return html
    return _COMMENT_OR_SCRIPT_RE.sub(lambda m: m.group(1) or "", html)


def html_base_href(html: str, fallback: str | None = None) -> str | None:
    """First ``<base href>`` wins (api.rb:823-828)."""
    for m in _BASE_RE.finditer(_strip_comments(html)):
        attrs = _attrs(m.group(1))
        href = attrs.get("href")
        if href:
            from ..iri import resolve_iri

            return resolve_iri(fallback, href) if fallback else href
    return fallback


def find_jsonld_scripts(html: str) -> list[ScriptBlock]:
    """All ld+json script blocks in document order."""
    blocks: list[ScriptBlock] = []
    idx = 0
    for m in _SCRIPT_RE.finditer(_strip_comments(html)):
        attrs = _attrs(m.group(1))
        type_attr = attrs.get("type", "")
        tm = _JSONLD_TYPE_RE.match(type_attr.strip())
        if tm is None:
            continue
        profile = None
        params = tm.group(1)
        if params:
            for p in params.split(";"):
                p = p.strip()
                if p.lower().startswith("profile="):
                    profile = p.split("=", 1)[1].strip("\"'")
        blocks.append(
            ScriptBlock(m.group(2), attrs.get("id"), profile, idx)
        )
        idx += 1
    return blocks


class ExtractedDoc(NamedTuple):
    json_text: str  # raw text (kept for API parity / debugging)
    base: str | None  # effective base IRI (url or <base href>)
    script_index: int
    error: str | None  # "invalid script element" when JSON is malformed
    parsed: object = None  # parsed JSON value (avoids a second json.loads)


def extract_jsonld(
    html: str | bytes,
    url: str | None = None,
    extract_all_scripts: bool = True,
    fragment: str | None = None,
    profile: str | None = None,
) -> list[ExtractedDoc]:
    """Extraction entry used by the pandas UDF.

    - ``extract_all_scripts`` (pipeline default): one ExtractedDoc per
      ld+json block.
    - fragment (from ``url#frag``): block whose ``id`` matches.
    - otherwise: first matching block (profile-preferred, api.rb:869-884).

    Malformed JSON → ExtractedDoc with ``error`` set; the document never
    kills the executor (P/R-tolerant error row).
    """
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", "replace")
    html = _strip_comments(html)  # once — the helpers' own strip no-ops
    if fragment is None and url and "#" in url:
        fragment = url.split("#", 1)[1] or None
    base = html_base_href(html, url.split("#", 1)[0] if url else None)
    blocks = find_jsonld_scripts(html)

    if fragment is not None:
        blocks = [b for b in blocks if b.script_id == fragment]
        if not blocks:
            return [ExtractedDoc("", base, -1, "loading document failed: no script with id")]
    elif not extract_all_scripts:
        if profile is not None:
            preferred = [b for b in blocks if b.profile == profile]
            blocks = preferred or blocks
        blocks = blocks[:1]

    out: list[ExtractedDoc] = []
    for b in blocks:
        try:
            parsed = json.loads(b.text)
            out.append(ExtractedDoc(b.text, base, b.index, None, parsed))
        except ValueError:
            # scripts in the wild carry //-comment lines; the reference
            # reader tolerates them (streaming_reader_spec.rb
            # script_comments) — retry with comment LINES stripped
            # (never inside strings: only lines whose first non-blank
            # chars are //)
            stripped = "\n".join(
                ln
                for ln in b.text.splitlines()
                if not ln.lstrip().startswith("//")
            )
            try:
                parsed = json.loads(stripped)
                out.append(ExtractedDoc(stripped, base, b.index, None, parsed))
            except ValueError:
                out.append(
                    ExtractedDoc("", base, b.index, "invalid script element")
                )
    return out


# --- Hyperlink extraction (crawl link graph) ----------------------------------


def extract_links(pages, url_col: str = "url", html_col: str = "html"):
    """→ (url, href): every <a href> in each page, comment-stripped and
    resolved — the crawl LINK GRAPH builder (outlinks feed PageRank /
    host-graph analyses; the JSON-LD scanner next door feeds the KG).

    Entirely JVM-side (decode + two regexps + explode — no Python, no
    shuffle): comments are stripped first so commented-out markup never
    contributes links (same ordering rule as the Python ld+json
    scanner, sources/html_jsonld.py _strip_comments); hrefs resolve
    scheme-relative (//h/p), root-relative (/p), query-only (?x=1,
    against the defragmented page url — RFC 3986 keeps the path) and
    path-relative (r/p) targets against the page url textually —
    dot-segment normalization (../) is NOT applied and fragment-only
    hrefs (#top — pure self-references, no edge in a link graph) are
    dropped (the full RFC 3986 resolver lives in iri.py for the Python
    path; a link graph tolerates the rare unnormalized tail, and both
    divergences are documented here).

    100-TB shape: pure map + explode; output is (url, href) pairs —
    the link graph itself, typically ~50 edges/page.  Works unchanged
    under Structured Streaming (tests/test_streaming.py), with one
    caveat: the final per-page ``distinct`` becomes STATEFUL dedup on
    a stream — state grows with distinct pairs, so long-running
    streams should add a watermark upstream (the batch path is
    unaffected; within-page duplicate links are the common case it
    collapses)."""
    from pyspark.sql import functions as F

    # cast, not decode(): Spark 4 decode() throws on invalid UTF-8
    # (MALFORMED_CHARACTER_CODING) and crawl html is routinely invalid;
    # binary→string cast is validation-free and byte-preserving, which
    # is all the ASCII-pattern regexes need
    html_s = F.expr(
        f"regexp_replace(cast({html_col} as string), '(?s)<!--.*?-->', '')"
    )
    # Column-API pattern literal sidesteps SQL-string quote escaping
    # (the regex needs both quote characters)
    link_re = r"""(?is)<a\s[^>]*?href\s*=\s*["']([^"']*)["']"""
    hrefs = F.regexp_extract_all(F.col("_h"), F.lit(link_re), F.lit(1))
    origin = f"regexp_extract({url_col}, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)"
    scheme = f"regexp_extract({url_col}, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)"
    # query-only hrefs replace the query/fragment of the PAGE url
    # (path kept — RFC 3986 §5.3); path-relative ones resolve against
    # the page's directory
    defrag = f"regexp_replace({url_col}, '[?#].*$', '')"
    base_dir = f"regexp_replace({defrag}, '[^/]*$', '')"
    resolved = (
        f"case when _href rlike '^[A-Za-z][A-Za-z0-9+.-]*:' then _href "
        f"when _href like '//%' then concat({scheme}, ':', _href) "
        f"when _href like '/%' then concat({origin}, _href) "
        f"when _href like '?%' then concat({defrag}, _href) "
        f"else concat({base_dir}, _href) end"
    )
    return (
        pages.select(F.col(url_col).alias("url"), html_s.alias("_h"))
        .select("url", F.explode(hrefs).alias("_href"))
        # '' (empty) and '#...' (fragment-only) are self-references —
        # no edge in a link graph
        .filter((F.col("_href") != "") & ~F.col("_href").startswith("#"))
        .select("url", F.expr(resolved).alias("href"))
        .distinct()
    )


def host_graph(links, src_col: str = "url", dst_col: str = "href"):
    """(url, href) link pairs → weighted host graph (src_host,
    dst_host, n_links): the domain-level web graph (host PageRank,
    spam-cluster detection, crawl frontier prioritization).  Hosts
    lowercase; non-absolute or host-less targets (mailto:, data:)
    drop out.  One regexp projection + one partial-agg groupBy — at
    crawl scale the output is hosts², bounded in practice by actual
    linkage (~10³-10⁴ per host)."""
    from pyspark.sql import functions as F

    host = lambda c: F.lower(  # noqa: E731
        F.regexp_extract(F.col(c), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)", 1)
    )
    return (
        links.select(
            host(src_col).alias("src_host"), host(dst_col).alias("dst_host")
        )
        .filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
        .orderBy("src_host", "dst_host")
    )


# --- Heuristic HTML → text extraction (crawl text pipeline) --------------------


def html_to_text(pages, url_col: str = "url", html_col: str = "html"):
    """→ (url, text): heuristic visible-text extraction from raw html —
    the canonical first stage of every crawl text pipeline (quality
    scoring, dedup, tokenization all run on THIS column when the
    upstream crawl didn't ship one).  Entirely JVM-side regexp map
    stages, no Python, no shuffle:

    1. comments stripped first (same ordering rule as the ld+json
       scanner: commented-out markup is not content),
    2. <script>/<style>/<noscript>/<template> blocks dropped wholesale
       (their text is code, not prose),
    3. remaining tags → a single space (block boundaries must separate
       words, not concatenate them),
    4. the five ubiquitous entities unescaped (&lt; &gt; &quot; &#39;
       &nbsp;, then &amp; LAST — unescaping it first would double-decode
       '&amp;lt;'),
    5. whitespace collapsed and trimmed.

    Known heuristic bounds (documented, not hidden): attribute values
    containing '>' mis-close their tag (rare, tolerated — a full
    HTML5 tree builder is a different cost class and lives outside the
    hot path); numeric entities other than &#39; pass through
    verbatim.  NULL html → NULL text (row kept — callers decide).

    100-TB shape: one whole-stage-codegen projection over the scan;
    malformed-UTF-8 safe (binary→string CAST, never decode())."""
    from pyspark.sql import functions as F

    s = F.expr(f"cast({html_col} as string)")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", "")
    s = F.regexp_replace(
        s, r"(?is)<(script|style|noscript|template)\b[^>]*>.*?</\1\s*>", " "
    )
    s = F.regexp_replace(s, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        s = F.replace(s, F.lit(ent), F.lit(ch))
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return pages.select(F.col(url_col).alias("url"), s.alias("text"))
