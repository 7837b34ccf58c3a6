"""JSON-LD 1.1 Framing (W3C json-ld11-framing) — query-by-example.

Capability parity with /root/reference/lib/json/ld/frame.rb:26-457
(recursive embed, filter_subject matching, @embed policies, @default
handling, @preserve/@null cleanup, single-use bnode pruning) and
api.rb:382-509 orchestration.

Relational reading (SURVEY.md §2.7): ``filter_subjects`` is a semi-join
of subjects against a predicate; embedding is a recursive self-join —
per-document here, with the triples-table analog left to iterative
DataFrame joins if cross-document framing is ever needed.
"""

from __future__ import annotations

import copy
from typing import Any

from . import errors as err
from .expand import expand_document
from .flatten import json_eq, merge_node_map_graphs, node_map_from_expanded
from .iri import is_keyword


class FrameState:
    """frame.rb framing_state: per-graph embeds/links, an explicit
    ``embedded`` flag (top-level matches are compartmentalized), and a
    (subject, graph) stack for circular-embed detection."""

    def __init__(
        self, graph_map, embed, explicit, omit_default, require_all, ordered=False
    ):
        self.ordered = ordered
        self.graph_map = graph_map
        self.embed = embed
        self.explicit = explicit
        self.omit_default = omit_default
        self.require_all = require_all
        self.graph = "@merged"
        self.embedded = False
        self.link: dict[str, dict] = {}
        self.unique_embeds: dict[str, dict] = {}
        self.subject_stack: list[tuple[str, str]] = []

    @property
    def subjects(self) -> dict:
        return self.graph_map.get(self.graph, {})


def _flag(frame: dict, options_value, name: str):
    v = frame.get(name)
    if isinstance(v, list):
        v = v[0] if v else None
    if isinstance(v, dict):
        v = v.get("@value")
    if v is None:
        return options_value
    return v


def _node_ref(v) -> bool:
    return isinstance(v, dict) and set(v) == {"@id"}


def _list_obj(v) -> bool:
    return isinstance(v, dict) and "@list" in v


def _as_list(v) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def value_match(pattern: dict, value: dict) -> bool:
    """frame.rb:592-608 value-pattern matching — exact port: a non-empty
    pattern must match on @value (member or {} wildcard), and @type /
    @language must agree (member, wildcard-with-present, or both-absent)."""
    v1 = value.get("@value")
    t1 = value.get("@type")
    l1 = value.get("@language")
    v2 = _as_list(pattern.get("@value"))
    t2 = _as_list(pattern.get("@type"))
    l2 = [x.lower() if isinstance(x, str) else x for x in _as_list(pattern.get("@language"))]
    if not v2 and not t2 and not l2:
        return True
    if not (any(json_eq(v1, x) for x in v2) or v2 == [{}]):
        return False
    if not (t1 in t2 or (t1 is not None and t2 == [{}]) or (t1 is None and not t2)):
        return False
    l1n = l1.lower() if isinstance(l1, str) else l1
    if not (
        l1n in l2 or (l1 is not None and l2 == [{}]) or (l1 is None and not l2)
    ):
        return False
    return True


def node_match(
    state: FrameState, pattern: dict, value: dict, require_all: bool
) -> bool:
    """frame.rb:592-597 — the ENCLOSING frame's effective @requireAll
    flag threads into nested node patterns (not the API option)."""
    if "@id" not in value:
        return False
    node = state.subjects.get(value["@id"])
    return node is not None and filter_subject(state, node, pattern, require_all)


_FRAMING_KEYWORDS = frozenset(
    {"@default", "@embed", "@explicit", "@omitDefault", "@requireAll"}
)


def filter_subject(
    state: FrameState, subject: dict, frame: dict, require_all: bool
) -> bool:
    """frame.rb:346-457 — exact port.  A frame with no @type and no
    non-keyword properties is a wildcard (matches everything); @id/@type
    determinations return immediately unless @requireAll; properties
    with a @default are skipped when the node lacks them (they do NOT
    count as matches); the final verdict is wildcard-or-matched-some."""
    wildcard = True
    matches_some = False
    for k in frame:
        v = frame[k]
        node_values = subject.get(k, [])
        if not isinstance(node_values, list):
            node_values = [node_values]

        if k == "@id":
            ids = v if isinstance(v, list) else ([] if v is None else [v])
            match_this = ids in ([], [{}]) or subject.get("@id") in ids
            if not require_all:
                return match_this
        elif k == "@type":
            wildcard = False
            types = subject.get("@type", [])
            types = [t for t in types if isinstance(t, str)]
            vals = v if isinstance(v, list) else [v]
            if vals == []:
                if types:
                    return False
                match_this = True
            elif vals == [{}]:
                match_this = bool(types)
            elif (
                vals
                and isinstance(vals[0], dict)
                and set(vals[0]) == {"@default"}
            ):
                # a map with only @default matches like an empty map —
                # the reference checks only v.first (frame.rb:382), so
                # trailing elements do not disable the wildcard
                match_this = True
            else:
                match_this = bool(
                    set(types) & {x for x in vals if isinstance(x, str)}
                )
            if not require_all:
                return match_this
        elif is_keyword(k):
            continue
        else:
            is_empty = v == []
            sub = v[0] if isinstance(v, list) and v else (v if isinstance(v, dict) else None)
            has_default = isinstance(sub, dict) and "@default" in sub
            if isinstance(sub, dict):
                validate_frame(sub)
            wildcard = False

            # skip (no match either way): node lacks the property but the
            # frame provides a default
            if not node_values and has_default:
                continue
            if node_values and is_empty:
                return False  # match-none pattern

            if sub is None:
                if node_values:
                    return False
                match_this = True
            elif isinstance(sub, dict) and not (set(sub) - _FRAMING_KEYWORDS):
                match_this = bool(node_values)
            elif isinstance(sub, dict) and "@value" in sub:
                match_this = any(
                    isinstance(nv, dict) and value_match(sub, nv)
                    for nv in node_values
                )
            elif isinstance(sub, dict) and "@list" in sub:
                vv = sub["@list"][0] if sub["@list"] else None
                first = node_values[0] if node_values else None
                if not (isinstance(first, dict) and "@list" in first):
                    match_this = False
                else:
                    inner = first["@list"]
                    if isinstance(vv, dict) and "@value" in vv:
                        match_this = any(
                            isinstance(nv, dict) and value_match(vv, nv)
                            for nv in inner
                        )
                    elif isinstance(vv, dict):
                        match_this = any(
                            isinstance(nv, dict)
                            and node_match(state, vv, nv, require_all)
                            for nv in inner
                        )
                    else:
                        match_this = False
            elif isinstance(sub, dict):
                match_this = any(
                    isinstance(nv, dict)
                    and node_match(state, sub, nv, require_all)
                    for nv in node_values
                )
            else:
                match_this = False

        if not match_this and require_all:
            return False
        matches_some = matches_some or match_this
    return wildcard or matches_some



def filter_subjects(state: FrameState, subjects, frame: dict, require_all: bool):
    out = {}
    for sid in subjects:
        node = state.subjects.get(sid)
        if node is not None and filter_subject(state, node, frame, require_all):
            out[sid] = node
    return out


def _add_frame_output(parent, prop, output):
    if isinstance(parent, dict):
        parent.setdefault(prop, []).append(output)
    else:
        parent.append(output)


def _get_flag(frame: dict, state_value, name: str):
    v = _flag(frame, state_value, name)
    if name == "@embed":
        if v is True:
            return "@once"
        if v is False:
            return "@never"
        if v in ("@always", "@first", "@last", "@link", "@once", "@never", None):
            return v or "@once"
        raise err.InvalidEmbedValue(repr(v))
    return v


def _implicit_frame(embed, explicit, require_all) -> dict:
    # frame.rb:583-589 over flags {embed, explicit, requireAll} ONLY —
    # the reference's implicit frames never carry @omitDefault; nested
    # default processing falls back to the API option instead
    return {
        "@embed": [embed],
        "@explicit": [explicit],
        "@requireAll": [require_all],
    }


def frame_node(state: FrameState, subjects, frame: dict, parent, active_property):
    """frame.rb:26-215 recursive embed — exact port: per-graph unique
    embeds reset at each top-level match (compartmentalized results),
    embed policies apply only to EMBEDDED recursion, named-graph and
    @included recursion, value objects filtered by value_match, defaults
    (including @type @default) wrapped in @preserve.  Re-validated on
    every recursion (frame.rb:28)."""
    validate_frame(frame)
    if isinstance(frame, list):
        frame = frame[0] if frame else {}
    embed = _get_flag(frame, state.embed, "@embed")
    explicit = bool(_flag(frame, state.explicit, "@explicit"))
    require_all = bool(_flag(frame, state.require_all, "@requireAll"))
    omit_default = bool(_flag(frame, state.omit_default, "@omitDefault"))

    link = state.link.setdefault(state.graph, {})
    matches = filter_subjects(state, subjects, frame, require_all)
    for sid in (sorted(matches) if state.ordered else matches):
        node = matches[sid]
        if active_property is None:
            # top-level matches are compartmentalized (frame.rb:49-54)
            state.unique_embeds = {state.graph: {}}
        else:
            state.unique_embeds.setdefault(state.graph, {})
        embeds = state.unique_embeds[state.graph]

        if embed == "@link" and sid in link:
            _add_frame_output(parent, active_property, link[sid])
            continue

        output: dict[str, Any] = {"@id": sid}
        link[sid] = output

        if not state.embedded and sid in embeds:
            # already included in another node object at the top level
            continue
        if state.embedded and (
            embed == "@never"
            or any(
                g == state.graph and s == sid
                for s, g in state.subject_stack[:-1]
            )
        ):
            _add_frame_output(parent, active_property, output)
            continue
        if state.embedded and embed in ("@first", "@once") and sid in embeds:
            _add_frame_output(parent, active_property, output)
            continue
        if embed == "@last" and sid in embeds:
            _remove_embed(state, sid)

        embeds[sid] = {"parent": parent, "property": active_property}
        state.subject_stack.append((sid, state.graph))

        # subject is also the name of a graph (frame.rb:105-129)
        if sid in state.graph_map:
            recurse = False
            subframe: Any = {}
            if "@graph" in frame:
                gf = frame["@graph"]
                subframe = gf[0] if isinstance(gf, list) and gf else gf
                if not isinstance(subframe, dict):
                    subframe = {}
                recurse = sid not in ("@merged", "@default")
            else:
                recurse = state.graph != "@merged"
            if recurse:
                saved_graph, saved_embedded = state.graph, state.embedded
                state.graph, state.embedded = sid, False
                frame_node(
                    state,
                    sorted(state.graph_map[sid])
                    if state.ordered
                    else list(state.graph_map[sid]),
                    subframe,
                    output,
                    "@graph",
                )
                state.graph, state.embedded = saved_graph, saved_embedded

        # @included recursion (frame.rb:131-134) — over ALL subjects
        if "@included" in frame:
            saved_embedded = state.embedded
            state.embedded = False
            inc = frame["@included"]
            inc = inc[0] if isinstance(inc, list) and inc else (inc or {})
            frame_node(state, list(subjects), inc, output, "@included")
            state.embedded = saved_embedded

        # copy/recurse subject properties
        for prop in (sorted(node) if state.ordered else node):
            values = node[prop]
            if prop == "@id":
                continue
            if is_keyword(prop):
                output[prop] = copy.deepcopy(values) if prop != "@type" else list(values)
                continue
            if explicit and prop not in frame:
                continue
            for item in values:
                fv = frame.get(prop)
                subframe = (
                    fv[0]
                    if isinstance(fv, list) and fv and isinstance(fv[0], dict)
                    else (fv if isinstance(fv, dict) else None)
                )
                if subframe is None:
                    subframe = _implicit_frame(embed, explicit, require_all)
                if _list_obj(item):
                    sub_list = subframe.get("@list") if isinstance(subframe, dict) else None
                    item_frame = (
                        sub_list[0]
                        if isinstance(sub_list, list) and sub_list and isinstance(sub_list[0], dict)
                        else (
                            sub_list
                            if isinstance(sub_list, dict)
                            else _implicit_frame(embed, explicit, require_all)
                        )
                    )
                    lst_out: dict[str, Any] = {"@list": []}
                    _add_frame_output(output, prop, lst_out)
                    for li in item["@list"]:
                        if _node_ref(li):
                            saved = state.embedded
                            state.embedded = True
                            frame_node(state, [li["@id"]], item_frame, lst_out, "@list")
                            state.embedded = saved
                        else:
                            _add_frame_output(lst_out, "@list", copy.deepcopy(li))
                elif _node_ref(item):
                    saved = state.embedded
                    state.embedded = True
                    frame_node(state, [item["@id"]], subframe, output, prop)
                    state.embedded = saved
                elif value_match(
                    subframe if isinstance(subframe, dict) else {},
                    item if isinstance(item, dict) else {"@value": item},
                ):
                    _add_frame_output(output, prop, copy.deepcopy(item))

        # defaults, in frame order (frame.rb:178-192) — includes
        # @type: {"@default": ...}
        for prop in (sorted(frame) if state.ordered else frame):
            fv = frame[prop]
            first = fv[0] if isinstance(fv, list) and fv else (fv if isinstance(fv, dict) else None)
            if prop == "@type" and isinstance(first, dict) and set(first) == {"@default"}:
                pass  # treat as a default
            elif is_keyword(prop):
                continue
            n = first if isinstance(first, dict) else {}
            # get_frame_flag(n, OPTIONS, :omitDefault) — the API option is
            # the fallback, not the enclosing frame's inherited flag
            if bool(_flag(n, state.omit_default, "@omitDefault")):
                continue
            if prop in output:
                continue
            default = n.get("@default", "@null")
            if default is None:
                default = "@null"
            default = default if isinstance(default, list) else [default]
            output[prop] = [{"@preserve": copy.deepcopy(default)}]

        # @reverse framing (frame.rb:195-205)
        for rprop, rframe in (frame.get("@reverse") or {}).items():
            for osid, onode in state.subjects.items():
                refs = onode.get(rprop, [])
                if not isinstance(refs, list):
                    continue
                if any(isinstance(r, dict) and r.get("@id") == sid for r in refs):
                    rev_map = output.setdefault("@reverse", {})
                    rev_list = rev_map.setdefault(rprop, [])
                    sub = (
                        rframe[0]
                        if isinstance(rframe, list) and rframe and isinstance(rframe[0], dict)
                        else (rframe if isinstance(rframe, dict) else {})
                    )
                    saved = state.embedded
                    state.embedded = True
                    frame_node(state, [osid], sub, rev_list, active_property)
                    state.embedded = saved

        _add_frame_output(parent, active_property, output)
        state.subject_stack.pop()


def _remove_embed(state: FrameState, sid: str) -> None:
    """@last: replace the previous embed of ``sid`` with a bare
    reference (frame.rb:521-562)."""
    embeds = state.unique_embeds.get(state.graph, {})
    embed = embeds.get(sid)
    if not embed:
        return
    parent, prop = embed["parent"], embed["property"]
    ref = {"@id": sid}

    def replace(seq: list) -> None:
        for i, v in enumerate(seq):
            if isinstance(v, dict) and v.get("@id") == sid:
                seq[i] = ref

    if isinstance(parent, list):
        replace(parent)
    elif isinstance(parent, dict) and prop in parent:
        vals = parent[prop]
        if isinstance(vals, list):
            replace(vals)

    # recursively drop dependent dangling embeds (frame.rb:547-561) —
    # a surviving entry would later resolve to a bare reference whose
    # full content lives only in the discarded subtree
    def remove_dependents(rid: str) -> None:
        for dep_id, e in list(embeds.items()):
            p = e.get("parent") if isinstance(e, dict) else None
            if isinstance(p, dict) and p.get("@id") == rid:
                embeds.pop(dep_id, None)
                remove_dependents(dep_id)

    remove_dependents(sid)


def _cleanup_preserve(element):
    """Replace @preserve wrappers with their first member (frame.rb:
    cleanup_preserve).  '@null' sentinels are KEPT — they survive
    compaction and _cleanup_null turns them into JSON null afterwards."""
    if isinstance(element, list):
        return [_cleanup_preserve(i) for i in element]
    if isinstance(element, dict):
        if "@preserve" in element:
            pres = element["@preserve"]
            pres = pres if isinstance(pres, list) else [pres]
            return _cleanup_preserve(pres[0]) if pres else None
        return {k: _cleanup_preserve(v) for k, v in element.items()}
    return element


def _cleanup_null(element):
    """'@null' → null; nulls are removed from arrays but kept as map
    values (frame.rb:296-311)."""
    if isinstance(element, list):
        return [c for c in (_cleanup_null(i) for i in element) if c is not None]
    if isinstance(element, dict):
        return {k: _cleanup_null(v) for k, v in element.items()}
    if element == "@null":
        return None
    return element


def _count_bnodes(element, counts: dict):
    if isinstance(element, list):
        for i in element:
            _count_bnodes(i, counts)
    elif isinstance(element, dict):
        for k, v in element.items():
            if k == "@id" and isinstance(v, str) and v.startswith("_:"):
                counts[v] = counts.get(v, 0) + 1
            else:
                _count_bnodes(v, counts)


def _prune_bnodes(element, single_use: set):
    if isinstance(element, list):
        return [_prune_bnodes(i, single_use) for i in element]
    if isinstance(element, dict):
        out = {}
        for k, v in element.items():
            if k == "@id" and isinstance(v, str) and v in single_use:
                continue
            out[k] = _prune_bnodes(v, single_use)
        return out
    return element


def validate_frame(frame) -> None:
    """Frame syntax checks (reference frame.rb:459-476): the frame must
    be a map (or one-element array of a map); @id must be the [{}]
    wildcard or IRI strings; @type must be wildcards / {"@default": ...}
    maps / IRI strings.  Strings are accepted as-is (compact and
    relative IRIs resolve during frame expansion)."""
    if isinstance(frame, list):
        if len(frame) != 1 or not isinstance(frame[0], dict):
            raise err.InvalidFrame(f"frame must be an object: {frame!r}")
        frame = frame[0]
    if not isinstance(frame, dict):
        raise err.InvalidFrame(f"frame must be an object: {frame!r}")

    ids = frame.get("@id", [])
    ids = ids if isinstance(ids, list) else [ids]
    if ids != [{}] and not all(isinstance(v, str) for v in ids):
        raise err.InvalidFrame(f"invalid value of @id: {frame.get('@id')!r}")

    types = frame.get("@type", [])
    types = types if isinstance(types, list) else [types]
    for v in types:
        if isinstance(v, dict):
            if set(v) - {"@default"}:
                raise err.InvalidFrame(f"invalid value of @type: {frame.get('@type')!r}")
        elif not isinstance(v, str):
            raise err.InvalidFrame(f"invalid value of @type: {frame.get('@type')!r}")


def frame_document(
    doc,
    frame,
    base: str | None = None,
    cache=None,
    embed: str = "@once",
    explicit: bool = False,
    omit_default: bool = False,
    require_all: bool = False,
    prune_blank_node_identifiers: bool = True,
    frame_default: bool = False,
    ordered: bool = False,
    omit_graph: bool = True,
    expand_context=None,
    rdfstar: bool = False,
):
    """API.frame equivalent (reference api.rb:382-509).
    ``expand_context`` applies to the INPUT document's expansion (the
    reference's expandContext option, threaded through initialize —
    e.g. a Link-header contextUrl from the loader)."""
    validate_frame(frame)
    # a one-element-array frame is valid (validate_frame accepts it; the
    # framing spec allows an array of exactly one node object) — unwrap
    # so the @context / @graph probes below see the real frame instead
    # of silently framing with no context against the merged graph (the
    # reference crashes on frame['@context'] here, api.rb:431)
    if isinstance(frame, list) and len(frame) == 1 and isinstance(frame[0], dict):
        frame = frame[0]
    expanded = expand_document(
        doc, base=base, cache=cache, expand_context=expand_context,
        rdfstar=rdfstar,
    )
    expanded_frame = expand_document(frame, base=base, cache=cache, frame_expansion=True)
    # validate the EXPANDED frame too (reference validates inside the
    # recursive frame() call over expanded input, frame.rb:28): context
    # aliases for @id/@type are resolved by now, so aliased invalid
    # values cannot escape validation (an empty frame expands to [] —
    # the wildcard — exactly as the reference frames with {} then)
    validate_frame(expanded_frame[0] if expanded_frame else {})

    node_map, _ = node_map_from_expanded(expanded)
    state = FrameState(
        node_map, embed, explicit, omit_default, require_all, ordered=ordered
    )
    # graph selection (api.rb:453-463): a frame using @graph frames the
    # DEFAULT graph; otherwise the merged graph.  The RAW frame's keys
    # decide (expansion unwraps a top-level @graph wrapper, so the
    # expanded frame cannot be probed for it)
    f0 = expanded_frame[0] if expanded_frame else {}
    from .context import Context

    raw_keys_ctx = Context(base=base, cache=cache)
    if isinstance(frame, dict) and "@context" in frame:
        raw_keys_ctx = raw_keys_ctx.parse(frame["@context"], base_url=base)
    frame_uses_graph = isinstance(frame, dict) and any(
        raw_keys_ctx.expand_iri(k, vocab=True) == "@graph"
        for k in frame
        if k != "@context"
    )
    if frame_default or frame_uses_graph:
        state.graph = "@default"
    else:
        node_map["@merged"] = merge_node_map_graphs(
            {k: v for k, v in node_map.items() if k != "@merged"}
        )
        state.graph = "@merged"

    results: list = []
    top = sorted(state.subjects) if ordered else list(state.subjects)
    frame_node(state, top, f0, results, None)

    results = _cleanup_preserve(results)
    if prune_blank_node_identifiers:
        counts: dict = {}
        _count_bnodes(results, counts)
        single = {b for b, c in counts.items() if c == 1}
        results = _prune_bnodes(results, single)

    # compact with the frame's context (ALWAYS compacted, like the
    # reference — an absent context compacts against the empty context);
    # output shaping mirrors api.rb:485-501: !omitGraph wraps even a
    # single node in the (aliased) @graph key, omitGraph unwraps
    # singletons
    from .compact import compact, compact_iri

    frame_ctx = frame.get("@context") if isinstance(frame, dict) else None
    ctx = Context(base=base, cache=cache)
    if frame_ctx is not None:
        ctx = ctx.parse(frame_ctx, base_url=base)
    compacted = compact(results, ctx, None, True, ordered)
    compacted = _cleanup_null(compacted)
    if compacted is None:
        compacted = []
    if not omit_graph and not isinstance(compacted, list):
        compacted = [compacted]
    if isinstance(compacted, list):
        out = {compact_iri(ctx, "@graph", vocab=True): compacted}
    else:
        out = compacted
    if frame_ctx is not None:
        return {"@context": frame_ctx, **out}
    return out
