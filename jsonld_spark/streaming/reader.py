"""Bounded-memory per-document streaming reader (SURVEY §2.9).

The reference's ``StreamingReader`` (streaming_reader.rb:29-423) fully
parses the JSON, then emits statements in ONE pass over the tree,
buffering only provisional statements for the current node — memory is
bounded by the largest single node, not by the document's total quad
count.  The realistic multi-GB JSON-LD document is a dataset dump: one
top-level array (or one ``@graph`` wrapper) holding millions of sibling
entities.  This module streams that spine: the shared context is parsed
once, then each element runs expand → node-map → emit independently
through a generator, so peak memory is O(largest element), not
O(total quads).  The second-most-common giant shape — ONE top-level
node object with a multi-million-element property array — streams
property-item by property-item (``_stream_node_properties``, the
analog of the reference's parse_property, streaming_reader.rb:425-575).
Round 4: top-level @reverse maps, @included arrays, @graph wrappers
that also carry properties, @nest entries and @index all stream
single-pass too.  Round 5: top-level value/list objects stream as one
single-pass element as well (they expand to at most a handful of quads
— free-floating values drop — but validation errors surface exactly as
in batch); only unknown aliased-keyword shapes still fall back to
batch.

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
repeats harmless and the pipeline's dropDuplicates absorbs them.

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

from .. import errors as err
from ..context import Context, ContextCache
from ..iri import is_keyword
from ..expand import ExpandOptions, expand
from ..flatten import BlankNodeNamer, create_node_map
from ..rdf_model import Quad
from ..to_rdf import _RdfEmitter, _valid_resource


def _streamable_spine(doc, ctx: Context, base: str | None):
    """→ (elements, graph_name, ctx, dropped) when the document has a
    streamable spine (top-level array, or an object whose only entries
    are @context/@id/@graph with an IRI or absent @id); None otherwise.
    ``dropped`` lists the top-level keys expansion drops (no keyword or
    IRI expansion): they count as absent, as in batch."""
    if isinstance(doc, list):
        return doc, None, ctx, []
    if not isinstance(doc, dict):
        return None
    if "@context" in doc:
        ctx = ctx.parse(doc["@context"], base_url=base)
    graph_key = None
    id_key = None
    set_key = None
    dropped = []
    for key in doc:
        if key == "@context":
            continue
        expanded = ctx.expand_iri(key, vocab=True)
        if expanded == "@graph" and graph_key is None:
            graph_key = key
        elif expanded == "@id" and id_key is None:
            id_key = key
        elif expanded == "@set" and set_key is None:
            set_key = key
        elif expanded is None or (":" not in expanded and not is_keyword(expanded)):
            dropped.append(key)  # the same drop rule as expand's key loop
        else:
            return None  # top node carries properties → not a pure wrapper
    if set_key is not None:
        # a lone top-level @set is just an array wrapper — its value IS
        # the spine (expansion unwraps it)
        if graph_key is None and id_key is None and isinstance(doc[set_key], list):
            return doc[set_key], None, ctx, dropped
        return None
    if graph_key is None or not isinstance(doc[graph_key], list):
        return None
    graph_name = None
    if id_key is not None:
        gid = doc[id_key]
        if not isinstance(gid, str):
            return None
        graph_name = ctx.expand_iri(gid, document_relative=True)
        if not isinstance(graph_name, str) or graph_name.startswith("_:"):
            # bnode-named wrappers stream through the NODE path instead
            # (its per-element {@id, @graph: [el]} mini-docs rename the
            # graph bnode consistently via the shared namer)
            return None
    return doc[graph_key], graph_name, ctx, dropped


def _streamable_node(doc, ctx: Context, base: str | None):
    """→ (ctx, id_value, type_key, prop_keys, extras) when the document
    is a top-level NODE OBJECT — the second-most-common giant-document
    shape (one entity with a multi-million-element property array).
    Mirrors the reference's parse_property streaming
    (streaming_reader.rb:425-575).  Beyond plain @id/@type/property
    keys, ``extras`` carries the remaining single-pass-streamable
    keyword entries (round 4): ``index_key`` (@index rides the shell
    mini-doc), ``reverse_keys`` (@reverse maps stream per reverse-item),
    ``included_keys`` (@included streams per included node),
    ``graph_keys`` (a wrapper WITH properties streams its named-graph
    elements one by one), ``nest_keys`` (each @nest entry expands as one
    unit).  Value/list objects route through ``_value_or_list_ctx``
    (single-pass, round 5); only unknown aliased keywords (@set with
    extra members, ...) still fall back to batch."""
    if not isinstance(doc, dict):
        return None
    if "@context" in doc:
        ctx = ctx.parse(doc["@context"], base_url=base)
    id_key = None
    type_key = None
    prop_keys: list[str] = []
    extras = {
        "index_key": None,
        "reverse_keys": [],
        "included_keys": [],
        "graph_keys": [],
        "nest_keys": [],
    }
    for key in doc:
        if key == "@context":
            continue
        expanded = ctx.expand_iri(key, vocab=True)
        if expanded == "@id" and id_key is None:
            id_key = key
        elif expanded == "@type" and type_key is None:
            type_key = key
        elif expanded == "@index" and extras["index_key"] is None:
            extras["index_key"] = key
        elif expanded == "@reverse":
            extras["reverse_keys"].append(key)
        elif expanded == "@included":
            extras["included_keys"].append(key)
        elif expanded == "@graph":
            if extras["graph_keys"]:
                # batch raises CollidingKeywords on a second @graph key
                # (@graph is not in expand.rb's @included/@type/@reverse
                # exemption) — fall back so the error row matches
                return None
            extras["graph_keys"].append(key)
        elif expanded == "@nest":
            extras["nest_keys"].append(key)
        elif isinstance(expanded, str) and is_keyword(expanded):
            return None
        else:
            # IRI properties AND droppable keys both stream: per-item
            # expansion applies the same drop-with-warning rule as batch
            prop_keys.append(key)
    if (
        not prop_keys
        and type_key is None
        and not any(
            extras[k]
            for k in ("reverse_keys", "included_keys", "graph_keys", "nest_keys")
        )
    ):
        return None  # id-only / empty: batch's free-floating drop applies
    if id_key is not None and not isinstance(doc[id_key], str):
        return None  # embedded/invalid @id → batch path (error parity)
    return (
        ctx,
        (doc[id_key] if id_key is not None else None),
        type_key,
        prop_keys,
        extras,
    )


def _value_or_list_ctx(doc, ctx: Context, base: str | None):
    """→ parsed ctx when the top level is a VALUE or LIST object (any key
    expands to @value/@list); None otherwise.  These expand to at most a
    handful of quads (free-floating values/lists drop at the top level),
    but the reference streams ANY shape single-pass
    (streaming_reader.rb:74-423) — routing them through the same
    per-element emit closes the last batch-fallback shape, with
    validation errors surfacing exactly as in batch (same expand())."""
    if not isinstance(doc, dict):
        return None
    if "@context" in doc:
        ctx = ctx.parse(doc["@context"], base_url=base)
    for key in doc:
        if key == "@context":
            continue
        if ctx.expand_key(key) in ("@value", "@list"):
            return ctx
    return None


def _type_scoped(ctx: Context, type_values) -> Context:
    """Apply type-scoped contexts exactly as expansion steps 11-12 do
    (expand.py) — needed once so every property mini-document expands
    under the node's scoped context."""
    from ..context import UNSET

    tvals = type_values if isinstance(type_values, list) else [type_values]
    for t in sorted(v for v in tvals if isinstance(v, str)):
        ttd = ctx.term(t)
        if ttd is not None and ttd.local_context is not UNSET:
            ctx = ctx.parse(
                ttd.local_context,
                base_url=ttd.base_url,
                propagate=False,
                override_protected=False,
            )
    return ctx


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
    doc,
    probe,
    base,
    rdf_direction,
    produce_generalized_rdf,
    warnings_out,
    rdfstar=False,
) -> Iterator[Quad]:
    """Stream one node object property-item by property-item: each item
    becomes a mini-document ``{"@id": subject, key: item}`` expanded and
    emitted independently, so peak memory is O(largest single value),
    not O(node's total quad count).  @reverse maps, @included arrays and
    @graph wrappers-with-properties stream per inner item the same way;
    @index rides the shell mini-doc (validated there, emits no quads);
    each @nest entry expands as one unit."""
    ctx, sid_raw, type_key, prop_keys, extras = probe
    options = ExpandOptions(base=base, rdfstar=rdfstar)
    namer = BlankNodeNamer()
    # anonymous top-level node: a synthetic explicit label keeps the
    # subject identical across mini-documents (the shared namer renames
    # it consistently; canonical labeling downstream is unaffected).
    # The label is chosen collision-proof against the document's own
    # bnode labels so the shared namer can never merge distinct nodes.
    subject = sid_raw if sid_raw is not None else _unused_bnode_label(doc)

    def minidocs():
        if type_key is not None or extras["index_key"] is not None:
            # shell: @id + @type (+ @index, which emits no quads but
            # must be VALIDATED — a non-string @index raises here,
            # before any property quads stream out).  The @type quads
            # are also re-included in every property mini-doc below so
            # type-SCOPED contexts apply — propagate=False scoping
            # cannot be pre-applied to a fresh expansion, it reverts
            # via previous_context.  The duplicate type quads that
            # re-inclusion would emit are suppressed by the caller.
            shell = {"@id": subject}
            if type_key is not None:
                shell[type_key] = doc[type_key]
            if extras["index_key"] is not None:
                shell[extras["index_key"]] = doc[extras["index_key"]]
            yield shell, ctx
        # container probing uses the scoped ctx (a type-scoped context
        # may redefine a term's @container)
        scoped = (
            _type_scoped(ctx, doc[type_key]) if type_key is not None else ctx
        )

        def with_type(md: dict) -> dict:
            if type_key is not None:
                md[type_key] = doc[type_key]
            return md

        for key in prop_keys:
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
                yield with_type({"@id": subject, key: values}), ctx
                continue
            for item in values:
                yield with_type({"@id": subject, key: [item]}), ctx

        # @reverse maps: one mini-doc per reverse-property item — each
        # re-derives {reverse-key: {rk: [item]}} so per-item expansion
        # applies the same validation (e.g. @list under @reverse raises)
        for rkey in extras["reverse_keys"]:
            rmap = doc[rkey]
            if not isinstance(rmap, dict):
                # invalid @reverse value: expand as one unit → same error
                yield with_type({"@id": subject, rkey: rmap}), ctx
                continue
            for rk, rv in rmap.items():
                items = rv if isinstance(rv, list) else [rv]
                for item in items:
                    yield with_type({"@id": subject, rkey: {rk: [item]}}), ctx

        # @included: each included node is an independent top-level node —
        # expand one at a time (per-item InvalidIncludedValue parity)
        for ikey in extras["included_keys"]:
            ival = doc[ikey]
            items = ival if isinstance(ival, list) else [ival]
            for item in items:
                yield with_type({"@id": subject, ikey: [item]}), ctx

        # @nest entries expand as ONE unit (nested maps are metadata-sized
        # next to the giant property arrays this reader exists for)
        for nkey in extras["nest_keys"]:
            yield with_type({"@id": subject, nkey: doc[nkey]}), ctx

        # @graph on a wrapper WITH properties: named graph (graph name =
        # this node's @id, or the shared anonymous label) — stream its
        # elements one by one through {@id, @graph: [el]} mini-docs
        for gkey in extras["graph_keys"]:
            gval = doc[gkey]
            elements = gval if isinstance(gval, list) else [gval]
            for el in elements:
                yield with_type({"@id": subject, gkey: [el]}), ctx

    # The @type shell (first mini-doc) emits the node's type quads; the
    # property mini-docs re-include @type purely so type-SCOPED contexts
    # apply, so the identical type quads they emit are suppressed here —
    # the reference's single-pass reader emits each type statement once
    # (streaming_reader_spec.rb interface cases count exact statements).
    # The re-included @type key re-emits EXACTLY the shell's type quads in
    # every property mini-doc (same doc[type_key], same ctx), so each
    # shell quad is suppressed at most ONCE per mini-doc — a property
    # whose own IRI is rdf:type keeps its legitimately duplicate quad,
    # matching the batch multiset. Memory: O(node's type count).
    from collections import Counter

    shell_type_quads: Counter = Counter()
    for i, (md, c) in enumerate(minidocs()):
        suppressed: Counter = Counter()
        for q in _emit_elements(
            [(md, c)], None, namer, options, rdf_direction, produce_generalized_rdf
        ):
            if type_key is not None:
                if i == 0:
                    shell_type_quads[q] += 1
                elif suppressed[q] < shell_type_quads[q]:
                    suppressed[q] += 1
                    continue
            yield q
    if warnings_out is not None:
        warnings_out.extend(options.warnings)


def stream_doc_quads(
    doc,
    base: str | None = None,
    cache: ContextCache | None = None,
    expand_context=None,
    rdf_direction: str | None = None,
    produce_generalized_rdf: bool = False,
    processing_mode: str = "json-ld-1.1",
    warnings_out: list | None = None,
    strict_order: bool = False,
    rdfstar: bool = False,
) -> Iterator[Quad]:
    """Generator over the document's quads with bounded memory.

    Streams element-by-element along the document's top-level spine when
    one exists; falls back to the batch path (identical output) for
    documents without a streamable spine.

    ``strict_order=True`` enforces the reference StreamingReader's
    single-pass key-order constraint (streaming_reader.rb raises
    ``invalid streaming key order`` when ``@context`` follows other
    entries, since a one-pass reader would already have emitted under
    the wrong context).  Off by default: this reader receives parsed
    documents, so tolerating late ``@context`` is free — the flag exists
    for spec-parity validation.
    """
    if strict_order and isinstance(doc, dict):
        keys = list(doc)
        if "@context" in keys and keys.index("@context") > 0:
            raise err.InvalidStreamingKeyOrder(
                f"@context must come first in streaming mode, got keys {keys!r}"
            )
    ctx = Context(
        base=base, processing_mode=processing_mode, cache=cache or ContextCache()
    )
    if expand_context is not None:
        ec = expand_context
        if isinstance(ec, dict) and "@context" in ec:
            ec = ec["@context"]
        ctx = ctx.parse(ec, base_url=base)

    spine = _streamable_spine(doc, ctx, base)
    if spine is None:
        node_probe = _streamable_node(doc, ctx, base)
        if node_probe is not None:
            yield from _stream_node_properties(
                doc,
                node_probe,
                base,
                rdf_direction,
                produce_generalized_rdf,
                warnings_out,
                rdfstar=rdfstar,
            )
            return
        vl_ctx = _value_or_list_ctx(doc, ctx, base)
        if vl_ctx is not None:
            options = ExpandOptions(base=base, rdfstar=rdfstar)
            namer = BlankNodeNamer()
            yield from _emit_elements(
                ((doc, vl_ctx),),
                None,
                namer,
                options,
                rdf_direction,
                produce_generalized_rdf,
            )
            if warnings_out is not None:
                warnings_out.extend(options.warnings)
            return
        from ..to_rdf import doc_to_quads

        yield from doc_to_quads(
            doc,
            base=base,
            cache=cache,
            expand_context=expand_context,
            rdf_direction=rdf_direction,
            produce_generalized_rdf=produce_generalized_rdf,
            processing_mode=processing_mode,
            warnings_out=warnings_out,
            rdfstar=rdfstar,
        )
        return

    elements, graph_name, ctx, dropped = spine
    if graph_name is not None and not _valid_resource(graph_name):
        return
    options = ExpandOptions(base=base, rdfstar=rdfstar)
    options.warnings.extend(f"dropped key {key!r}" for key in dropped)
    namer = BlankNodeNamer()  # shared: document-scoped _:labels + one sequence
    yield from _emit_elements(
        ((el, ctx) for el in elements),
        graph_name,
        namer,
        options,
        rdf_direction,
        produce_generalized_rdf,
    )
    if warnings_out is not None:
        warnings_out.extend(options.warnings)


def _emit_elements(
    pairs, graph_name, namer, options, rdf_direction, produce_generalized_rdf
) -> Iterator[Quad]:
    """Expand + node-map + emit each (element, ctx) pair independently —
    the bounded buffer, same role as the reference's provisional-
    statement window."""
    for element, ctx in pairs:
        expanded = expand(element, None, ctx, options)
        if len(options.warnings) > 64:
            # per-item mini-docs re-derive the SAME warning for every
            # element (e.g. one droppable key over a 10M-item array);
            # dedup in place so warning memory is O(distinct), keeping
            # the reader's bounded-memory contract
            options.warnings[:] = dict.fromkeys(options.warnings)
        if expanded is None:
            continue
        expanded = expanded if isinstance(expanded, list) else [expanded]
        node_map: dict[str, dict] = {"@default": {}}
        create_node_map(expanded, node_map, namer)
        emitter = _RdfEmitter(namer, rdf_direction, produce_generalized_rdf)
        for gname in sorted(node_map):
            g = graph_name if gname == "@default" else gname
            if g is not None and not _valid_resource(g):
                continue
            graph = node_map[gname]
            for id_ in sorted(graph):
                emitter.node_to_quads(id_, graph[id_], g)
        yield from emitter.quads
        emitter.quads.clear()


def make_streaming_pages_to_triples(
    cache_bc,
    cache_version: str = "v0",
    rdf_direction: str | None = None,
    produce_generalized_rdf: bool = False,
    chunk_rows: int = 50_000,
    rdfstar: bool = False,
):
    """mapInPandas factory for giant-document crawls: the batch path's
    page loop (``udfs.pages_fn`` / ``udfs.iter_page_rows``) fed by
    ``stream_doc_quads``, so quads stream out in ≤``chunk_rows`` Arrow
    batches and one multi-million-quad page cannot balloon the Python
    worker (the batch path materializes each script's full quad list
    before its first row leaves the UDF).  No html-size gate: giant
    pages are what this reader is for."""
    from ..udfs import iter_page_rows, pages_fn

    def script_quads(doc, base, cache, warnings):
        return stream_doc_quads(
            doc,
            base=base,
            cache=cache,
            rdf_direction=rdf_direction,
            produce_generalized_rdf=produce_generalized_rdf,
            warnings_out=warnings,
            rdfstar=rdfstar,
        )

    def page_rows(url, html, cache):
        return iter_page_rows(url, html, cache, script_quads)

    return pages_fn(cache_bc, cache_version, page_rows, chunk_rows)
