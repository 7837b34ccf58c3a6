"""RDF → JSON-LD ("Serialize RDF as JSON-LD", W3C json-ld11-api §8.2).

Capability parity with /root/reference/lib/json/ld/from_rdf.rb:22-251
(subject grouping, rdf:type → @type, rdf:first/rest list folding walked
backwards, compound-literal recovery, native-type option).

Pure-Python per-graph core; the distributed version (one pandas group
per graph / per subject partition) lives in operators/materialize.py.
"""

from __future__ import annotations

import json
import math
from typing import Any

from . import errors as err
from .flatten import add_unique_value
from .rdf_model import (
    RDF_DIRECTION,
    RDF_FIRST,
    RDF_JSON,
    RDF_LANGSTRING,
    RDF_LANGUAGE,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    RDF_VALUE,
    XSD_BOOLEAN,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    I18N_NS,
    Quad,
)

DEFAULT_GRAPH = "@default"


def _literal_to_object(
    obj: str,
    datatype: str | None,
    lang: str | None,
    use_native_types: bool,
    rdf_direction: str | None,
):
    result: dict[str, Any] = {}
    converted: Any = obj
    if use_native_types and datatype == XSD_STRING:
        pass
    elif use_native_types and datatype == XSD_BOOLEAN and obj in ("true", "false"):
        converted = obj == "true"
    elif use_native_types and datatype in (XSD_INTEGER, XSD_DOUBLE):
        try:
            n = int(obj) if datatype == XSD_INTEGER else float(obj)
            # NaN/INF/-INF are valid xsd:double lexicals (our own
            # canonical_double emits them) but have no JSON
            # representation — json.dumps would produce invalid JSON
            # downstream; keep them as typed strings
            if datatype == XSD_INTEGER or math.isfinite(n):
                converted = n
        except ValueError:
            pass
    elif datatype == RDF_JSON:
        try:
            converted = json.loads(obj)
        except ValueError as e:
            # reference raises on malformed @json lexicals (from_rdf.rb:217)
            raise err.InvalidJsonLiteral(f"{obj!r}: {e}") from e
        result["@type"] = "@json"
    elif (
        rdf_direction == "i18n-datatype"
        and datatype is not None
        and datatype.startswith(I18N_NS)
    ):
        lang_dir = datatype[len(I18N_NS) :]
        language, _, direction = lang_dir.partition("_")
        result["@value"] = obj
        if language:
            result["@language"] = language
        if direction:
            result["@direction"] = direction
        return result
    result["@value"] = converted
    if lang:
        result["@language"] = lang
    elif datatype not in (None, XSD_STRING) and "@type" not in result and not (
        use_native_types
        and datatype in (XSD_BOOLEAN, XSD_INTEGER, XSD_DOUBLE)
        and not isinstance(converted, str)
    ):
        if datatype != RDF_LANGSTRING:
            result["@type"] = datatype
    return result


def _star_representation(term: str, use_native_types: bool, rdf_direction):
    """{'@id': <embedded statement dict>} for an N-Triples-star quoted
    term (reference resource_representation on RDF::Statement,
    from_rdf.rb:196-207).  Nested quoting recurses."""
    from .rdf_model import parse_quoted_term

    q = parse_quoted_term(term)
    if q.subj.startswith("<<"):
        emb: dict = _star_representation(q.subj, False, rdf_direction)
    else:
        emb = {"@id": q.subj}
    if q.pred == RDF_TYPE and not q.obj_is_literal and not q.obj.startswith("<<"):
        emb["@type"] = q.obj
    else:
        if q.obj_is_literal:
            o = _literal_to_object(
                q.obj, q.obj_datatype, q.obj_lang, use_native_types, rdf_direction
            )
        elif q.obj.startswith("<<"):
            o = _star_representation(q.obj, use_native_types, rdf_direction)
        else:
            o = {"@id": q.obj}
        emb[q.pred] = [o]
    return {"@id": emb}


def from_quads(
    quads: list[Quad],
    ordered: bool = False,
    use_native_types: bool = False,
    use_rdf_type: bool = False,
    rdf_direction: str | None = None,
) -> list:
    """Quads → expanded JSON-LD array (reference from_rdf.rb:22-188)."""
    default_graph: dict[str, dict] = {}
    graph_map: dict[str, dict[str, dict]] = {DEFAULT_GRAPH: default_graph}
    referenced_once: dict[str, Any] = {}
    compound_map: dict[str, dict[str, bool]] = {}
    dedup: dict = {}  # add_unique_value's index

    for q in quads:
        gname = q.graph if q.graph is not None else DEFAULT_GRAPH
        node_map = graph_map.setdefault(gname, {})
        if gname != DEFAULT_GRAPH:
            default_graph.setdefault(gname, {"@id": gname})
        if q.subj.startswith("<<"):
            # JSON-LD-star: a quoted-term subject keys the node map by
            # the JCS of its embedded representation (from_rdf.rb:51-55)
            from .rdf_model import jcs_canonicalize

            rep = _star_representation(q.subj, use_native_types, rdf_direction)
            subj_key = jcs_canonicalize(rep["@id"])
            node = node_map.setdefault(subj_key, rep)
        else:
            node = node_map.setdefault(q.subj, {"@id": q.subj})

        if (
            rdf_direction == "compound-literal"
            and q.pred == RDF_DIRECTION
            and q.subj.startswith("_:")
        ):
            compound_map.setdefault(gname, {})[q.subj] = True

        is_resource = not q.obj_is_literal
        obj_is_star = is_resource and q.obj.startswith("<<")
        if is_resource and not obj_is_star:
            node_map.setdefault(q.obj, {"@id": q.obj})

        if q.pred == RDF_TYPE and not use_rdf_type and is_resource:
            node.setdefault("@type", [])
            if q.obj not in node["@type"]:
                node["@type"].append(q.obj)
            continue

        if obj_is_star:
            value: dict[str, Any] = _star_representation(
                q.obj, use_native_types, rdf_direction
            )
        elif is_resource:
            value = {"@id": q.obj}
        else:
            value = _literal_to_object(
                q.obj, q.obj_datatype, q.obj_lang, use_native_types, rdf_direction
            )

        add_unique_value(node, q.pred, value, dedup)

        if is_resource and not obj_is_star:
            if q.obj == RDF_NIL:
                nil = node_map[q.obj]
                usages = nil.setdefault("usages", [])
                usages.append({"node": node, "property": q.pred, "value": value})
            elif q.obj in referenced_once:
                referenced_once[q.obj] = False
            elif q.obj.startswith("_:"):
                referenced_once[q.obj] = {
                    "node": node,
                    "property": q.pred,
                    "value": value,
                }

    # list folding: walk rdf:rest chains backwards from each rdf:nil usage
    for gname, node_map in graph_map.items():
        compounds = compound_map.get(gname, {})
        # compound literal recovery
        for cl_subj in compounds:
            cl_entry = referenced_once.get(cl_subj)
            if not isinstance(cl_entry, dict):
                continue
            cl_node = node_map.get(cl_subj)
            if cl_node is None:
                continue
            value = cl_entry["value"]
            val_list = cl_node.get(RDF_VALUE)
            if not val_list:
                continue
            value.pop("@id", None)
            value["@value"] = val_list[0].get("@value")
            langs = cl_node.get(RDF_LANGUAGE)
            if langs:
                value["@language"] = langs[0].get("@value")
            dirs = cl_node.get(RDF_DIRECTION)
            if dirs:
                value["@direction"] = dirs[0].get("@value")
            node_map.pop(cl_subj, None)

        nil = node_map.get(RDF_NIL)
        if not nil:
            continue
        for usage in nil.get("usages", []):
            node, property_, head = usage["node"], usage["property"], usage["value"]
            lst: list = []
            list_nodes: list[str] = []
            while property_ == RDF_REST and _well_formed_list_node(
                node, referenced_once
            ):
                lst.append(node[RDF_FIRST][0])
                list_nodes.append(node["@id"])
                node_usage = referenced_once[node["@id"]]
                node, property_, head = (
                    node_usage["node"],
                    node_usage["property"],
                    node_usage["value"],
                )
            head.pop("@id", None)
            lst.reverse()
            head["@list"] = lst
            for ln in list_nodes:
                node_map.pop(ln, None)
        nil.pop("usages", None)

    result = []
    for subj in sorted(default_graph) if ordered else default_graph:
        node = default_graph[subj]
        if subj in graph_map and subj != DEFAULT_GRAPH:
            graph_nodes = []
            inner = graph_map[subj]
            for s in sorted(inner) if ordered else inner:
                n = inner[s]
                n.pop("usages", None)
                if len(n) > 1:
                    graph_nodes.append(n)
            node["@graph"] = graph_nodes
        node.pop("usages", None)
        if len(node) > 1:
            result.append(node)
    return result


RDF_NS_LIST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#List"


def _well_formed_list_node(node: dict, referenced_once: dict) -> bool:
    """Blank node used exactly once, carrying only a singleton rdf:first,
    a singleton rdf:rest (+ optional @type rdf:List) — foldable link."""
    id_ = node.get("@id")
    if not (isinstance(id_, str) and id_.startswith("_:")):
        return False
    if not isinstance(referenced_once.get(id_), dict):
        return False
    if not (isinstance(node.get(RDF_FIRST), list) and len(node[RDF_FIRST]) == 1):
        return False
    if not (isinstance(node.get(RDF_REST), list) and len(node[RDF_REST]) == 1):
        return False
    extra = set(node) - {"@id", RDF_FIRST, RDF_REST, "usages"}
    if extra == {"@type"}:
        return node["@type"] == [RDF_NS_LIST]
    return not extra
