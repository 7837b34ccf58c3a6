"""Bounded-memory per-document streaming reader (SURVEY §2.9).

The reference's ``StreamingReader`` (streaming_reader.rb:29-423) fully
parses the JSON, then emits statements in ONE pass over the tree,
buffering only provisional statements for the current node — memory is
bounded by the largest single node, not by the document's total quad
count.  Streaming across pages happens at the pipeline level
(``streaming.stream``); this reader exists to bound one giant page.

This module holds routing and streaming only; every expansion rule it
applies is expansion's own function.  ``_classify`` applies a
document's ``@context`` once (``expand.inline_context``, step 10),
expands each top-level key once (``expand.drops_key`` marks the keys
expansion drops), and picks one of three routes:

* **spine** — a top-level array, a lone ``@set`` array, or an ``@graph``
  array whose wrapper holds at most an IRI ``@id`` besides keys that
  expansion drops (those count as absent and warn, as in batch).  This
  is the dataset dump: each element is emitted on its own
  (``_emit_elements``), so peak memory is O(largest element), not
  O(total quads).
* **node** — one top-level node object, the other giant shape (one
  entity with a multi-million-item property array).  It streams
  property item by property item (``_stream_node_properties``, the
  analog of the reference's parse_property, streaming_reader.rb:425-575),
  and so do its ``@reverse`` maps, ``@included`` arrays and ``@graph``
  elements; each ``@nest`` entry expands as one unit and ``@index``
  rides the ``@type`` shell.  The shell expands under the document's
  context and every item under the node's type-scoped context
  (``expand.type_scoped``, steps 11-12), which also gives each
  property's container; both expand as map entries, so a
  non-propagated context holds for the node's own entries and reverts
  for its nested nodes, as in one batch expansion.  Keys that
  expansion would drop stream as properties, because a type-scoped
  context may define them.
* **batch** — every other shape goes to ``doc_to_quads``: value and
  list objects, unknown or repeated keywords, a non-string ``@id``, an
  id-only node.  A top-level value or list object expands to at most a
  handful of quads (free-floating values drop), and streaming it would
  still expand the whole document in one ``expand`` call, which is what
  the batch path does — so it does not stream.

Per element (a spine element, or one of the node route's per-item
mini-documents), ``_emit_elements`` takes one of two paths:

* **flat node** — an element with an IRI ``@id``, IRI ``@type`` values
  and scalar-valued IRI properties (``to_rdf.flat_node_quads`` lists
  every condition), the dump shape ``{"@id", "@type", "cell"}``, goes
  from JSON straight to quads, like the reference's reader.  The
  key-level decisions (key expansion, term checks, the properties'
  emission order and IRI checks, each ``@type`` value's expansion) are
  made once per distinct key tuple of the document (``to_rdf.FlatPlans``);
  per element only the values are checked and turned into quads, with
  no expanded form and no node map.
* **general** — every other element, and every element that would warn,
  raise, revert a non-propagated context or mint a blank node, runs
  expand → node map → emit on its own.

Both give the same quads in the same order (property-tested).

Blank-node labels: one ``BlankNodeNamer`` is shared across elements, so
explicit ``_:x`` labels keep their document-scoped identity.  Output is
GRAPH-ISOMORPHIC to the batch ``doc_to_quads`` path (property-tested via
canonical labeling); fresh-bnode label SEQUENCES can differ — the batch
path mints emission-time bnodes (list cons cells) in globally-sorted
subject order, a whole-document ordering a streaming pass cannot know.
Like the reference's streaming reader (which uses its own sequential
namer), streaming mode does not apply URDNA2015-style canonical
relabeling — that is a whole-document pass by construction.  A node
recurring in several elements re-emits its quads (the batch path's
whole-document node map dedups them); RDF set semantics make the
repeats harmless and the pipeline's dropDuplicates absorbs them.  The
same holds for a repeated item of one streamed property: the node
route emits each item on its own, so ``"p": [0, 0]`` streams the quad
twice where batch emits it once (same set, different multiset).

Error semantics: AT-LEAST-PARTIAL emission.  The reader's UDF runs the
batch path's own page loop (``udfs.iter_page_rows``: the same error,
warning and salting rows); the ONLY difference is that its quad source
is this generator where the batch path's is a list.  So when a document
fails mid-spine, quads already streamed out for earlier elements
(flushed Arrow chunks and rows still buffered) remain in the output
alongside the error row — a bounded-memory pass cannot retract what it
already emitted without buffering the whole document, which is the
batch path (all-or-nothing per document, and html-size gated).  Downstream
that needs batch-equivalent strictness anti-joins the triples on ``url``
against the error rows (``drop_failed_pages``): the url is the identity
both row kinds share, so a failed document's partial quads are dropped
page-wide.
"""

from __future__ import annotations

from typing import Iterator

from ..context import Context, ContextCache
from ..expand import ExpandOptions, drops_key, expand, inline_context, type_scoped
from ..flatten import BlankNodeNamer, create_node_map
from ..iri import is_keyword
from ..rdf_model import Quad
from ..to_rdf import (
    FlatPlans,
    _valid_resource,
    doc_to_quads,
    flat_node_quads,
    node_map_quads,
)

# the keywords a streamed node object may carry; a document with any
# other keyword takes the batch path
_NODE_KEYWORDS = frozenset(
    ("@id", "@type", "@index", "@reverse", "@included", "@graph", "@nest")
)


def _classify(doc, ctx: Context, base: str | None):
    """Route one document: → ``("spine", ctx, (elements, graph_name,
    dropped))``, ``("node", ctx, (keys, props))``, or None for the batch
    path.  ``ctx`` is the document's parsed context; ``keys`` maps each
    keyword to the top-level keys expanding to it, ``props`` lists the
    other keys and ``dropped`` those of them expansion drops (no keyword
    or IRI expansion), in document order."""
    if isinstance(doc, list):
        return "spine", ctx, (doc, None, [])
    if not isinstance(doc, dict):
        return None
    if "@context" in doc:
        ctx = inline_context(ctx, doc["@context"], base)
    keys: dict[str, list[str]] = {}
    props: list[str] = []
    dropped: list[str] = []
    for key in doc:
        if key == "@context":
            continue
        expanded = ctx.expand_key(key)
        if isinstance(expanded, str) and is_keyword(expanded):
            keys.setdefault(expanded, []).append(key)
        else:
            props.append(key)
            if drops_key(expanded):
                dropped.append(key)

    # spine: a pure wrapper — one key each for at most @set, or @graph
    # and @id; dropped keys count as absent
    if len(props) == len(dropped) and all(len(ks) == 1 for ks in keys.values()):
        val = {kw: doc[ks[0]] for kw, ks in keys.items()}
        if val.keys() == {"@set"} and isinstance(val["@set"], list):
            # a lone top-level @set is just an array wrapper — its value
            # IS the spine (expansion unwraps it)
            return "spine", ctx, (val["@set"], None, dropped)
        if val.keys() <= {"@graph", "@id"} and isinstance(val.get("@graph"), list):
            if "@id" not in val:
                return "spine", ctx, (val["@graph"], None, dropped)
            gid = val["@id"]
            name = ctx.expand_iri(gid, document_relative=True) if isinstance(gid, str) else None
            # a bnode-named wrapper takes the NODE path instead: its
            # per-element {@id, @graph: [el]} mini-docs rename the graph
            # bnode consistently through the shared namer
            if isinstance(name, str) and not name.startswith("_:"):
                return "spine", ctx, (val["@graph"], name, dropped)

    # node: batch raises CollidingKeywords on a second @graph key (@graph
    # is not in expand.rb's @included/@type/@reverse exemption), so a
    # repeated single-valued keyword falls back for error parity
    if keys.keys() - _NODE_KEYWORDS or any(
        len(keys.get(kw, ())) > 1 for kw in ("@id", "@type", "@index", "@graph")
    ):
        return None
    if not props and keys.keys() <= {"@id", "@index"}:
        return None  # id-only / empty: batch's free-floating drop applies
    if "@id" in keys and not isinstance(doc[keys["@id"][0]], str):
        return None  # embedded/invalid @id → batch path (error parity)
    return "node", ctx, (keys, props)


def _unused_bnode_label(doc) -> str:
    """A synthetic bnode label guaranteed absent from ``doc``.  The
    shared ``BlankNodeNamer`` maps equal OLD labels to the same new id,
    so if the anonymous-top-node sentinel collided with a label the
    document actually uses, two distinct nodes would merge.  One
    iterative walk collects every string (key or value) starting with
    the sentinel prefix — a superset of the labels that could collide —
    then picks the first unused extension.  Cost is paid only for
    anonymous top-level nodes: one O(doc) TIME pre-pass before
    streaming starts, holding a stack of ITERATORS so scratch memory is
    O(depth) even when a property array has millions of elements
    (pushing the elements themselves would materialize one reference
    per element — the very allocation this reader avoids)."""
    base = "_:jsonldstreamtop"
    used: set[str] = set()
    stack = [iter((doc,))]
    while stack:
        try:
            v = next(stack[-1])
        except StopIteration:
            stack.pop()
            continue
        if isinstance(v, str):
            if v.startswith(base):
                used.add(v)
        elif isinstance(v, dict):
            for k in v:
                if isinstance(k, str) and k.startswith(base):
                    used.add(k)
            stack.append(iter(v.values()))
        elif isinstance(v, list):
            stack.append(iter(v))
    if base not in used:
        return base
    i = 0
    while f"{base}{i}" in used:
        i += 1
    return f"{base}{i}"


def _stream_node_properties(
    doc, ctx: Context, keys: dict, props: list, namer, options
) -> Iterator[Quad]:
    """Stream one node object property-item by property-item: each item
    becomes a mini-document ``{"@id": subject, key: item}`` expanded and
    emitted independently, so peak memory is O(largest single value),
    not O(node's total quad count).  @reverse maps, @included arrays and
    @graph wrappers-with-properties stream per inner item the same way;
    each @nest entry expands as one unit.

    The ``@type``/``@index`` shell expands under the document context
    ``ctx`` and every item under the node's type-scoped context, as the
    node's own entries do in one batch expansion; both steps expand as
    map entries (``from_map``), so the node itself never reverts a
    non-propagated context while its nested nodes still do.  Each type
    statement is emitted once, by the shell."""
    (id_key,) = keys.get("@id", (None,))
    (type_key,) = keys.get("@type", (None,))
    (index_key,) = keys.get("@index", (None,))
    # anonymous top-level node: a synthetic explicit label keeps the
    # subject identical across mini-documents (the shared namer renames
    # it consistently; canonical labeling downstream is unaffected).
    # The label is chosen collision-proof against the document's own
    # bnode labels so the shared namer can never merge distinct nodes.
    subject = doc[id_key] if id_key is not None else _unused_bnode_label(doc)

    if type_key is not None or index_key is not None:
        # shell: @id + @type (+ @index, which emits no quads but must be
        # VALIDATED — a non-string @index raises here, before any
        # property quads stream out)
        shell = {"@id": subject}
        for key in (type_key, index_key):
            if key is not None:
                shell[key] = doc[key]
        shell_quads = _emit_elements([shell], ctx, None, namer, options, from_map=True)
        for quads in shell_quads:
            yield from quads

    # the type-scoped context also decides each property's container (a
    # type-scoped context may redefine a term's @container)
    scoped = type_scoped(ctx, [doc[type_key]]) if type_key is not None else ctx

    def minidocs():
        for key in props:
            values = doc[key]
            td = scoped.term(key)
            container = td.container_mapping if td else frozenset()
            if (
                "@list" in container
                or (td is not None and td.type_mapping == "@json")
                or not isinstance(values, list)
            ):
                # @list containers need the WHOLE array in one expansion
                # (one cons chain); @json-coerced terms turn the WHOLE
                # array into ONE JSON literal (splitting per-item would
                # emit "[1]","[2]" instead of "[1,2]"); maps
                # (@language/@index/... containers) and single values
                # likewise expand as one unit
                yield {"@id": subject, key: values}
                continue
            for item in values:
                yield {"@id": subject, key: [item]}

        # @reverse maps: one mini-doc per reverse-property item — each
        # re-derives {reverse-key: {rk: [item]}} so per-item expansion
        # applies the same validation (e.g. @list under @reverse raises)
        for rkey in keys.get("@reverse", ()):
            rmap = doc[rkey]
            if not isinstance(rmap, dict):
                # invalid @reverse value: expand as one unit → same error
                yield {"@id": subject, rkey: rmap}
                continue
            for rk, rv in rmap.items():
                items = rv if isinstance(rv, list) else [rv]
                for item in items:
                    yield {"@id": subject, rkey: {rk: [item]}}

        # @included: each included node is an independent top-level node —
        # expand one at a time (per-item InvalidIncludedValue parity)
        for ikey in keys.get("@included", ()):
            ival = doc[ikey]
            items = ival if isinstance(ival, list) else [ival]
            for item in items:
                yield {"@id": subject, ikey: [item]}

        # @nest entries expand as ONE unit (nested maps are metadata-sized
        # next to the giant property arrays this reader exists for)
        for nkey in keys.get("@nest", ()):
            yield {"@id": subject, nkey: doc[nkey]}

        # @graph on a wrapper WITH properties: named graph (graph name =
        # this node's @id, or the shared anonymous label) — stream its
        # elements one by one through {@id, @graph: [el]} mini-docs
        for gkey in keys.get("@graph", ()):
            gval = doc[gkey]
            elements = gval if isinstance(gval, list) else [gval]
            for el in elements:
                yield {"@id": subject, gkey: [el]}

    item_quads = _emit_elements(minidocs(), scoped, None, namer, options, from_map=True)
    for quads in item_quads:
        yield from quads


def stream_doc_quads(
    doc,
    base: str | None = None,
    cache: ContextCache | None = None,
    warnings_out: list | None = None,
    rdfstar: bool = False,
) -> Iterator[Quad]:
    """Generator over the document's quads with bounded memory.

    Streams the document's spine element by element, or its top-level
    node property item by property item (``_classify``); every other
    shape takes the batch path (identical output).  Key order is free:
    the reader receives parsed documents, so a ``@context`` after other
    entries still applies to them (the reference's one-pass
    StreamingReader raises ``invalid streaming key order`` there).
    """
    shape = _classify(doc, Context(base=base, cache=cache), base)
    if shape is None:
        yield from doc_to_quads(
            doc, base=base, cache=cache, warnings_out=warnings_out, rdfstar=rdfstar
        )
        return
    kind, ctx, detail = shape
    options = ExpandOptions(base=base, rdfstar=rdfstar)
    namer = BlankNodeNamer()  # shared: document-scoped _:labels + one sequence
    if kind == "spine":
        elements, graph_name, dropped = detail
        options.warnings.extend(f"dropped key {key!r}" for key in dropped)
        for quads in _emit_elements(
            elements, ctx, graph_name, namer, options, from_map=False
        ):
            yield from quads
    else:
        yield from _stream_node_properties(doc, ctx, *detail, namer, options)
    if warnings_out is not None:
        warnings_out.extend(options.warnings)


def _emit_elements(
    elements, ctx, graph_name, namer, options, from_map: bool
) -> Iterator[list[Quad]]:
    """Each element's quads under ``ctx``, one list per element — the
    bounded buffer, same role as the reference's provisional-statement
    window.  An element's default graph is ``graph_name``.  ``from_map``
    is expansion's own flag: False for spine elements, which revert a
    non-propagated ``ctx`` like any node in an array; True for the node
    route's mini-documents, which hold the top node's own entries, so
    they take the flat path under a type-scoped context too.  A
    flat node object goes straight to quads (``to_rdf.flat_node_quads``,
    its key plans kept for this call); any other element runs expand →
    node map → emit on its own.  Each distinct warning is kept once, at its first
    occurrence: per-item mini-docs re-derive the SAME warning for every
    element (e.g. one droppable key over a 10M-item array), so warning
    memory stays O(distinct), at O(1) per warning."""
    flat = (
        FlatPlans(ctx, options.base, graph_name, namer, from_map)
        if graph_name is None or _valid_resource(graph_name)
        else None
    )
    warnings = options.warnings
    seen, kept = set(warnings), len(warnings)
    for element in elements:
        quads = flat_node_quads(element, flat) if flat is not None else None
        if quads is not None:
            yield quads
            continue
        expanded = expand(element, None, ctx, options, from_map)
        if len(warnings) > kept:
            new = [w for w in dict.fromkeys(warnings[kept:]) if w not in seen]
            warnings[kept:] = new
            seen.update(new)
            kept = len(warnings)
        if expanded is None:
            yield []
            continue
        node_map: dict[str, dict] = {"@default": {}}
        create_node_map(expanded, node_map, namer)
        yield node_map_quads(node_map, namer, graph_name)


def make_streaming_pages_to_triples(
    cache_bc,
    cache_version: str = "v0",
    rdfstar: bool = False,
):
    """mapInPandas factory for giant-document crawls: the batch path's
    page loop (``udfs.pages_fn`` / ``udfs.iter_page_rows``) fed by
    ``stream_doc_quads``, so quads stream out in Arrow frames of at most
    ``udfs.CHUNK_ROWS`` rows.  One multi-million-quad page cannot
    balloon the Python worker (the batch path materializes each script's
    full quad list before its first row leaves the UDF), and the JVM
    writes a giant page's first frames while the worker still builds its
    later ones.  No html-size gate: giant pages are what this reader is
    for."""
    from ..udfs import iter_page_rows, pages_fn

    def script_quads(doc, base, cache, warnings):
        return stream_doc_quads(
            doc, base=base, cache=cache, warnings_out=warnings, rdfstar=rdfstar
        )

    def page_rows(url, html, cache):
        return iter_page_rows(url, html, cache, script_quads)

    return pages_fn(cache_bc, cache_version, page_rows)
