"""JSON-LD 1.1 Flattening — node-map generation + blank-node naming.

From-scratch implementation of the W3C "Node Map Generation" /
"Generate Blank Node Identifier" / "Flattening" algorithms
(https://www.w3.org/TR/json-ld11-api/#flattening-algorithms).
Capability parity with /root/reference/lib/json/ld/flatten.rb:30-201
(create_node_map) and utils.rb:245-311 (namers).

Cluster-scale note (SURVEY.md §2.4): the namer here is *document-local*
(labels ``b0..bn`` in deterministic first-visit order).  Global
uniqueness across 10^12 docs is applied afterwards by the pipeline as a
salted hash ``_:sha256(url ‖ label)`` — no shared mutable state.
"""

from __future__ import annotations

from typing import Any

from . import errors as err
from .expand import expand_document
from .iri import is_keyword
from .rdf_model import jcs_canonicalize


class BlankNodeNamer:
    """Deterministic doc-local namer (reference: utils.rb:283-309)."""

    __slots__ = ("prefix", "counter", "mapping")

    def __init__(self, prefix: str = "b"):
        self.prefix = prefix
        self.counter = 0
        self.mapping: dict[str, str] = {}

    def get_name(self, old: str | None = None) -> str:
        if old is not None:
            existing = self.mapping.get(old)
            if existing is not None:
                return existing
        name = f"_:{self.prefix}{self.counter}"
        self.counter += 1
        if old is not None:
            self.mapping[old] = name
        return name


def json_eq(a, b) -> bool:
    """JSON-faithful equality: Python's ``==`` conflates ``0 == False``
    and ``1 == True``; JSON (and the reference's Ruby, where
    ``0 == false`` is falsy) distinguishes booleans from numbers, while
    ``1 == 1.0`` stays equal in both.  Recurses into containers."""
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(json_eq(v, b[k]) for k, v in a.items())
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(json_eq(x, y) for x, y in zip(a, b))
    return a == b


# arrays this long leave the json_eq scan for a keyed index
_DEDUP_SCAN_MAX = 8


def _json_key(v):
    """A hashable key with ``_json_key(a) == _json_key(b)`` exactly when
    ``json_eq(a, b)``: booleans tagged apart from numbers, objects as
    unordered (key, value-key) sets, arrays as ordered tuples.  NaN gets
    a fresh key, as it equals nothing."""
    if isinstance(v, bool):
        return (bool, v)
    if isinstance(v, dict):
        return (dict, frozenset((k, _json_key(x)) for k, x in v.items()))
    if isinstance(v, list):
        return (list, tuple(_json_key(x) for x in v))
    if isinstance(v, float) and v != v:
        return object()
    return v


def add_unique_value(obj: dict, key: str, value, dedup: dict) -> None:
    """Append value to obj[key] array unless an equal (``json_eq``) value
    exists (reference add_value(..., allow_duplicate: false),
    utils.rb:163-185).  Short arrays are scanned; from
    ``_DEDUP_SCAN_MAX`` values on, ``dedup`` holds the array's value keys
    under ``id(arr)`` (next to the array, which keeps the id unique), so
    a property with N values costs O(N), not O(N²).  The keys catch up
    on values appended to the array directly."""
    arr = obj.setdefault(key, [])
    if not arr:  # a property's first value: nothing to compare against
        arr.append(value)
        return
    if len(arr) < _DEDUP_SCAN_MAX:
        if not any(json_eq(value, existing) for existing in arr):
            arr.append(value)
        return
    entry = dedup.get(id(arr))
    if entry is None:
        entry = dedup[id(arr)] = [arr, set(), 0]
    seen = entry[1]
    seen.update(_json_key(existing) for existing in arr[entry[2]:])
    k = _json_key(value)
    if k not in seen:
        seen.add(k)
        arr.append(value)
    entry[2] = len(arr)


def _rename_embedded_bnodes(node, namer: BlankNodeNamer):
    """Recursively rename @id bnode labels inside an embedded (JSON-LD-star)
    object (reference flatten.rb:253-264 rename_bnodes)."""
    if isinstance(node, list):
        return [_rename_embedded_bnodes(n, namer) for n in node]
    if isinstance(node, dict):
        out = {}
        for k, v in node.items():
            if k == "@id" and isinstance(v, str) and v.startswith("_:"):
                v = namer.get_name(v)
            elif k == "@type":
                # the reference's upfront rename_bnodes pass renames ALL
                # bnode strings — a bnode @type inside the embedded copy
                # must track the asserted type's new label
                v = [
                    namer.get_name(t)
                    if isinstance(t, str) and t.startswith("_:")
                    else t
                    for t in v
                ] if isinstance(v, list) else (
                    namer.get_name(v)
                    if isinstance(v, str) and v.startswith("_:")
                    else v
                )
            out[k] = _rename_embedded_bnodes(v, namer)
        return out
    return node


def _star_subject_for(active_subject, active_property, element):
    """The embedded-triple node standing for (active_subject,
    active_property, element) — flatten.rb:69-72."""
    as_ = (
        active_subject["@id"]
        if isinstance(active_subject, dict) and set(active_subject) == {"@id"}
        else active_subject
    )
    return {"@id": as_, active_property: [element]}


def create_node_map(
    element,
    node_map: dict,
    namer: BlankNodeNamer,
    active_graph: str = "@default",
    active_subject=None,
    active_property: str | None = None,
    list_: dict | None = None,
    reverse: bool = False,
    rename_embedded: bool = True,
    dedup: dict | None = None,
) -> None:
    """W3C Node Map Generation. Mutates ``node_map`` (and ``element``).

    JSON-LD-star: ``@annotation`` members fold into embedded-triple node
    entries keyed by the JCS serialization of the star subject
    (flatten.rb:60-150); ``reverse`` is an explicit flag (the reference's
    ``reverse:`` kwarg) because star subjects make dict
    ``active_subject`` values legitimate in forward position too.
    ``dedup`` is ``add_unique_value``'s index, one per top-level call."""
    if dedup is None:
        dedup = {}

    if isinstance(element, list):
        for item in element:
            # positional: this is the hottest recursion in the engine
            # (one call per expanded array item across every document)
            create_node_map(
                item, node_map, namer, active_graph, active_subject,
                active_property, list_, reverse, rename_embedded, dedup,
            )
        return

    if not isinstance(element, dict):
        return

    graph = node_map.setdefault(active_graph, {})
    if reverse:
        subject_node = None
    elif isinstance(active_subject, str):
        subject_node = graph.get(active_subject)
    elif isinstance(active_subject, dict):
        subject_node = graph.get(jcs_canonicalize(active_subject))
    else:
        subject_node = None

    # 3: relabel bnode @type values
    if "@type" in element:
        types = element["@type"]
        if isinstance(types, list):
            element["@type"] = [
                namer.get_name(t) if isinstance(t, str) and t.startswith("_:") else t
                for t in types
            ]
        elif isinstance(types, str) and types.startswith("_:"):
            element["@type"] = namer.get_name(types)

    # 4: value object
    if "@value" in element:
        if "@annotation" in element:
            # JSON-LD-star: reify (subject, property, this value) as an
            # embedded-triple node and hang the annotations off it
            # (flatten.rb:60-83; element is shared, so popping @annotation
            # first keeps the star subject annotation-free)
            anns = element.pop("@annotation")
            star_subject = _star_subject_for(active_subject, active_property, element)
            anns = [dict(a, **{"@id": star_subject}) for a in anns]
            create_node_map(
                element=anns,
                node_map=node_map,
                namer=namer,
                active_graph=active_graph,
                rename_embedded=False,
                dedup=dedup,
            )
        if list_ is None:
            if subject_node is not None and active_property is not None:
                add_unique_value(subject_node, active_property, element, dedup)
        else:
            list_["@list"].append(element)
        return

    # 5: list object
    if "@list" in element:
        result: dict[str, Any] = {"@list": []}
        create_node_map(
            element["@list"], node_map, namer, active_graph,
            active_subject, active_property, result, dedup=dedup,
        )
        if list_ is None:
            if subject_node is not None and active_property is not None:
                subject_node.setdefault(active_property, []).append(result)
        else:
            list_["@list"].append(result)
        return

    # 6: node object
    if "@id" in element:
        id_ = element.pop("@id")
        if isinstance(id_, str) and id_.startswith("_:"):
            id_ = namer.get_name(id_)
        elif isinstance(id_, dict) and rename_embedded:
            # JSON-LD-star embedded statement as @id: index the graph by
            # the canonical (JCS) serialization (flatten.rb:104-108).
            # Internally-built star subjects (rename_embedded=False) are
            # assembled from ALREADY-renamed ids — renaming again would
            # mint labels that diverge from the asserted triple's
            id_ = _rename_embedded_bnodes(id_, namer)
    else:
        id_ = namer.get_name()
    if isinstance(id_, dict):
        ser_id = jcs_canonicalize(id_)
    elif isinstance(id_, str):
        ser_id = id_
    else:
        return  # frame wildcards etc. — not valid here

    if ser_id not in graph:
        graph[ser_id] = {"@id": id_}
    node = graph[ser_id]

    # 6.5/6.6: link from referencing node
    if reverse:
        # reverse reference: active_subject is the referenced node def
        add_unique_value(node, active_property, active_subject, dedup)
    elif active_property is not None:
        reference = {"@id": id_}
        if list_ is None:
            if subject_node is not None:
                add_unique_value(subject_node, active_property, reference, dedup)
        else:
            list_["@list"].append(reference)

    # JSON-LD-star: node-object annotations reify this edge
    # (flatten.rb:126-150)
    if "@annotation" in element:
        anns = element.pop("@annotation")
        as_ = (
            active_subject["@id"]
            if isinstance(active_subject, dict) and set(active_subject) == {"@id"}
            else active_subject
        )
        if reverse:
            star_subject = {"@id": id_, active_property: [{"@id": as_}]}
        else:
            star_subject = {"@id": as_, active_property: [{"@id": id_}]}
        anns = [dict(a, **{"@id": star_subject}) for a in anns]
        create_node_map(
            element=anns,
            node_map=node_map,
            namer=namer,
            active_graph=active_graph,
            active_subject=star_subject,
            rename_embedded=False,
            dedup=dedup,
        )

    # 6.7: @type merge
    if "@type" in element:
        types = element.pop("@type")
        types = types if isinstance(types, list) else [types]
        for t in types:
            add_unique_value(node, "@type", t, dedup)

    # 6.8: @index
    if "@index" in element:
        idx = element.pop("@index")
        if "@index" in node and node["@index"] != idx:
            raise err.ConflictingIndexes(id_)
        node["@index"] = idx

    # 6.9: @reverse
    if "@reverse" in element:
        referenced = {"@id": id_}
        reverse_map = element.pop("@reverse")
        for prop, values in reverse_map.items():
            for value in values:
                create_node_map(
                    element=value,
                    node_map=node_map,
                    namer=namer,
                    active_graph=active_graph,
                    active_subject=referenced,
                    active_property=prop,
                    reverse=True,
                    dedup=dedup,
                )

    # 6.10: @graph
    if "@graph" in element:
        sub = element.pop("@graph")
        create_node_map(
            element=sub, node_map=node_map, namer=namer, active_graph=ser_id,
            dedup=dedup,
        )

    # 6.11: @included
    if "@included" in element:
        inc = element.pop("@included")
        create_node_map(
            element=inc, node_map=node_map, namer=namer,
            active_graph=active_graph, dedup=dedup,
        )

    # 6.12: remaining properties
    for property_ in sorted(k for k in element if k != "@id"):
        value = element[property_]
        if property_.startswith("_:"):
            property_ = namer.get_name(property_)
        if is_keyword(property_):
            node[property_] = value
            continue
        node.setdefault(property_, [])
        create_node_map(
            value, node_map, namer, active_graph, id_, property_,
            None, False, True, dedup,
        )


def node_map_from_expanded(expanded) -> tuple[dict, BlankNodeNamer]:
    namer = BlankNodeNamer()
    node_map: dict[str, dict] = {"@default": {}}
    create_node_map(expanded, node_map, namer)
    return node_map, namer


def merge_node_map_graphs(node_map: dict) -> dict:
    """Union of all graphs' node maps (reference flatten.rb:274-296).
    Relational analog: ``triples.drop("graph").dropDuplicates()``."""
    merged: dict[str, dict] = {}
    dedup: dict = {}
    for graph_name in sorted(node_map):
        for id_, node in node_map[graph_name].items():
            merged_node = merged.setdefault(id_, {"@id": id_})
            for prop, values in node.items():
                if prop == "@id":
                    continue
                if is_keyword(prop):
                    if prop == "@type":
                        for v in values if isinstance(values, list) else [values]:
                            add_unique_value(merged_node, "@type", v, dedup)
                    else:
                        merged_node[prop] = values
                else:
                    for v in values:
                        add_unique_value(merged_node, prop, v, dedup)
    return merged


def create_annotations(graph: dict) -> dict:
    """Inverse of the JSON-LD-star reification in create_node_map
    (reference flatten.rb:216-246): fold each embedded-triple node-map
    entry (key of the form of a canonicalized JSON object) back into an
    ``@annotation`` member on the matching value of the referenced node.
    Mutates and returns ``graph`` (one graph's node map)."""

    for key in sorted(
        (k for k in graph if k.startswith("{")), key=len, reverse=True
    ):
        annotation = graph[key]
        emb = dict(annotation.get("@id") or {})
        id_ = emb.pop("@id", None)
        if len(emb) != 1:
            continue
        prop, value = next(iter(emb.items()))
        if isinstance(id_, dict):
            id_ = jcs_canonicalize(id_)
        node = graph.get(id_)
        if node is None or prop not in node:
            continue
        for emb_value in node[prop]:
            if not json_eq(emb_value, value[0]):
                continue
            del graph[key]
            ann = {k: v for k, v in annotation.items() if k != "@id"}
            if ann:
                add_unique_value(emb_value, "@annotation", ann, {})
            break
    return graph


def flatten_expanded(
    expanded, ordered: bool = False, create_annotations_: bool = False
) -> list:
    """Flatten an already-expanded document → flattened expanded array
    (W3C Flattening Algorithm steps 2-7, no compaction).

    ``create_annotations_`` mirrors the reference's ``createAnnotations``
    flag (api.rb:315-321): re-fold embedded-triple entries into
    ``@annotation`` members before assembling the output."""
    node_map, _ = node_map_from_expanded(expanded)
    if create_annotations_:
        for g in node_map.values():
            create_annotations(g)
    default_graph = node_map["@default"]
    for graph_name in sorted(k for k in node_map if k != "@default"):
        entry = default_graph.setdefault(graph_name, {"@id": graph_name})
        graph_list = entry.setdefault("@graph", [])
        for id_ in sorted(node_map[graph_name]):
            node = node_map[graph_name][id_]
            if len(node) > 1 or "@id" not in node:
                graph_list.append(node)
    flattened = []
    for id_ in sorted(default_graph):
        node = default_graph[id_]
        if len(node) > 1 or "@id" not in node:
            flattened.append(node)
    return flattened


def flatten_document(
    doc,
    context=None,
    base: str | None = None,
    cache=None,
    expand_context=None,
    ordered: bool = False,
    rdfstar: bool = False,
    create_annotations_: bool = False,
) -> Any:
    """API.flatten equivalent (reference api.rb:290-351), sans compaction
    unless ``context`` given (compaction wired in compact.py)."""
    expanded = expand_document(
        doc,
        base=base,
        cache=cache,
        expand_context=expand_context,
        ordered=ordered,
        rdfstar=rdfstar,
    )
    flattened = flatten_expanded(
        expanded, ordered=ordered, create_annotations_=create_annotations_
    )
    if context is not None:
        from .compact import compact_document

        return compact_document(
            flattened, context, base=base, cache=cache
        )
    return flattened
