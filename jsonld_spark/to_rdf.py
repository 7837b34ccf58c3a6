"""JSON-LD 1.1 → RDF quads ("Deserialize JSON-LD to RDF").

From-scratch implementation of the W3C algorithm
(https://www.w3.org/TR/json-ld11-api/#deserialize-json-ld-to-rdf-algorithm);
capability parity with /root/reference/lib/json/ld/to_rdf.rb:19-193 and
api.rb:526-563 (statement filtering).

Output is a flat list of :class:`~jsonld_spark.rdf_model.Quad` — the
exact row shape of the Spark ``triples`` DataFrame.  The pipeline calls
:func:`doc_to_quads` once per document inside a pandas UDF and explodes
the result (SURVEY.md §2.5: the UDF→REL boundary).
"""

from __future__ import annotations

from typing import Any

from .context import IRI_MEMO_MAX, ContextCache
from .expand import expand_document
from .flatten import BlankNodeNamer, node_map_from_expanded
from .iri import is_absolute_iri
from .rdf_model import (
    _escape_literal,
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
    canonical_double,
    canonical_integer,
    is_bnode,
    jcs_canonicalize,
)


# process-level memo: predicates/types/graph names repeat across nodes
# and documents, so the absolute-IRI regex runs once per distinct term.
# Pure function of the string; cleared at ``IRI_MEMO_MAX`` entries like
# the Context IRI memos, since every subject id of a long streamed spine
# is a fresh entry.
_VALID_RESOURCE_MEMO: dict[str, bool] = {}


def _valid_resource(term: str) -> bool:
    memo = _VALID_RESOURCE_MEMO
    hit = memo.get(term)
    if hit is None:
        hit = is_bnode(term) or is_absolute_iri(term)
        if len(memo) >= IRI_MEMO_MAX:
            memo.clear()
        memo[term] = hit
    return hit


def _nt_term(obj, lit: bool, dt, lang) -> str:
    """N-Triples text of one term (for quoted-triple serialization)."""
    if not lit:
        if obj.startswith(("_:", "<<")):
            return obj
        return f"<{obj}>"
    # rdf_model's writer escaping (\\b, \\f, C0 controls, DEL too) — the
    # quoted-term text must byte-match the asserted serialization of the
    # same literal or set/canonical comparisons break
    esc = _escape_literal(obj)
    if lang is not None and dt == RDF_LANGSTRING:
        return f'"{esc}"@{lang}'
    if dt is not None and dt != XSD_STRING:
        return f'"{esc}"^^<{dt}>'
    return f'"{esc}"'


class _RdfEmitter:
    def __init__(
        self,
        namer: BlankNodeNamer,
        rdf_direction: str | None = None,
        produce_generalized_rdf: bool = False,
    ):
        self.namer = namer
        self.rdf_direction = rdf_direction
        self.produce_generalized_rdf = produce_generalized_rdf
        self.quads: list[Quad] = []

    # -- Object to RDF Conversion -------------------------------------------

    def object_to_term(self, item: dict, graph_name):
        """Returns (obj, is_literal, datatype, lang) or None if invalid."""
        if "@value" in item:
            return self.value_to_literal(item, graph_name)
        if "@list" in item:
            head = self.parse_list(item["@list"], graph_name)
            return (head, False, None, None)
        id_ = item.get("@id")
        if isinstance(id_, dict):
            # JSON-LD-star embedded statement as object → quoted triple
            quoted = self.embedded_to_term(id_, graph_name)
            return None if quoted is None else (quoted, False, None, None)
        if not isinstance(id_, str) or not _valid_resource(id_):
            return None
        return (id_, False, None, None)

    # -- JSON-LD-star: embedded statement → N-Triples-star quoted term -------

    def embedded_to_term(self, node: dict, graph_name) -> str | None:
        """``<< s p o >>`` text for the single statement an embedded node
        describes (validated to exactly one during expansion,
        to_rdf.rb:89-91).  Quoted statements are NOT asserted — nothing
        is appended to ``self.quads`` for the embedded triple itself."""
        sid = node.get("@id")
        if isinstance(sid, dict):
            s = self.embedded_to_term(sid, graph_name)
        elif isinstance(sid, str) and _valid_resource(sid):
            s = sid
        elif sid is None:
            s = self.namer.get_name()
        else:
            return None
        if s is None:
            return None
        for prop in sorted(node):
            if prop == "@id":
                continue
            if prop == "@type":
                vals = node[prop]
                t = vals[0] if isinstance(vals, list) else vals
                if not (isinstance(t, str) and _valid_resource(t)):
                    return None
                return f"<< {_nt_term(s, False, None, None)} <{RDF_TYPE}> {_nt_term(t, False, None, None)} >>"
            if prop.startswith("@"):
                continue
            if not _valid_resource(prop):
                return None
            vals = node[prop]
            item = vals[0] if isinstance(vals, list) else vals
            term = self.object_to_term(item, graph_name)
            if term is None:
                return None
            obj, lit, dt, lang = term
            return (
                f"<< {_nt_term(s, False, None, None)} <{prop}> "
                f"{_nt_term(obj, lit, dt, lang)} >>"
            )
        return None

    def value_to_literal(self, item: dict, graph_name):
        value = item["@value"]
        datatype = item.get("@type")
        if datatype == "@json":
            datatype = RDF_JSON

        if isinstance(value, bool):
            lex = "true" if value else "false"
            if datatype is None:
                datatype = XSD_BOOLEAN
            elif datatype == RDF_JSON:
                lex = jcs_canonicalize(value)
            return (lex, True, datatype, None)

        if isinstance(value, (int, float)):
            if datatype == RDF_JSON:
                return (jcs_canonicalize(value), True, datatype, None)
            # double iff fractional bits, ≥1e21, or forced (to_rdf.rb:42)
            as_double = (
                (isinstance(value, float) and (value != int(value)))
                or abs(value) >= 1e21
                or datatype == XSD_DOUBLE
            )
            if as_double:
                lex = canonical_double(value)
                if datatype is None:
                    datatype = XSD_DOUBLE
            else:
                lex = canonical_integer(value)
                if datatype is None:
                    datatype = XSD_INTEGER
            return (lex, True, datatype, None)

        if isinstance(value, (list, dict)):
            # only valid for rdf:JSON
            return (jcs_canonicalize(value), True, RDF_JSON, None)

        # string value
        if "@direction" in item and self.rdf_direction:
            if self.rdf_direction == "i18n-datatype":
                dt = (
                    I18N_NS
                    + item.get("@language", "").lower()
                    + "_"
                    + item["@direction"]
                )
                return (str(value), True, dt, None)
            if self.rdf_direction == "compound-literal":
                cl = self.namer.get_name()
                self.emit(cl, RDF_VALUE, str(value), True, XSD_STRING, None, graph_name)
                if "@language" in item:
                    self.emit(
                        cl,
                        RDF_LANGUAGE,
                        item["@language"].lower(),
                        True,
                        XSD_STRING,
                        None,
                        graph_name,
                    )
                self.emit(
                    cl, RDF_DIRECTION, item["@direction"], True, XSD_STRING, None, graph_name
                )
                return (cl, False, None, None)

        if datatype == RDF_JSON:
            return (jcs_canonicalize(value), True, datatype, None)
        if datatype is None:
            if "@language" in item:
                # RDF literal language tags are lowercased at emission
                # (expansion preserves the input case)
                return (str(value), True, RDF_LANGSTRING, item["@language"].lower())
            datatype = XSD_STRING
        if datatype == RDF_LANGSTRING and "@language" in item:
            return (str(value), True, datatype, item["@language"].lower())
        return (str(value), True, datatype, None)

    # -- List Conversion (to_rdf.rb:167-187) --------------------------------

    def parse_list(self, items: list, graph_name) -> str:
        if not items:
            return RDF_NIL
        head = self.namer.get_name()
        current = head
        for i, entry in enumerate(items):
            term = self.object_to_term(entry, graph_name)
            if term is not None:
                obj, lit, dt, lang = term
                self.emit(current, RDF_FIRST, obj, lit, dt, lang, graph_name)
            rest = self.namer.get_name() if i < len(items) - 1 else RDF_NIL
            self.emit(current, RDF_REST, rest, False, None, None, graph_name)
            current = rest
        return head

    def emit(self, s, p, o, lit, dt, lang, g):
        self.quads.append(Quad(s, p, o, lit, dt, lang, g))

    # -- node emission -------------------------------------------------------

    def node_to_quads(self, id_, node: dict, graph_name) -> None:
        if isinstance(node.get("@id"), dict):
            # JSON-LD-star: the node's subject is an embedded statement —
            # emit annotation triples with the quoted triple as subject
            id_ = self.embedded_to_term(node["@id"], graph_name)
            if id_ is None:
                return
        elif not _valid_resource(id_):
            return
        for prop in sorted(node):
            values = node[prop]
            if prop == "@type":
                for t in values:
                    if isinstance(t, str) and _valid_resource(t):
                        self.emit(id_, RDF_TYPE, t, False, None, None, graph_name)
                continue
            if prop.startswith("@"):
                continue
            if is_bnode(prop) and not self.produce_generalized_rdf:
                continue  # api.rb:551-553
            if not _valid_resource(prop):
                continue
            for item in values:
                term = self.object_to_term(item, graph_name)
                if term is None:
                    continue
                obj, lit, dt, lang = term
                self.emit(id_, prop, obj, lit, dt, lang, graph_name)


def node_map_quads(
    node_map: dict,
    namer: BlankNodeNamer,
    default_graph: str | None = None,
    rdf_direction: str | None = None,
    produce_generalized_rdf: bool = False,
) -> list[Quad]:
    """A node map's quads, graph by graph and subject by subject in
    sorted order; the ``@default`` graph's quads carry ``default_graph``.
    Graphs whose name is not an IRI or blank node emit nothing."""
    emitter = _RdfEmitter(namer, rdf_direction, produce_generalized_rdf)
    for graph_name in sorted(node_map):
        g = default_graph if graph_name == "@default" else graph_name
        if g is not None and not _valid_resource(g):
            continue
        graph = node_map[graph_name]
        for id_ in sorted(graph):
            emitter.node_to_quads(id_, graph[id_], g)
    return emitter.quads


def expanded_to_quads(
    expanded,
    rdf_direction: str | None = None,
    produce_generalized_rdf: bool = False,
) -> list[Quad]:
    node_map, namer = node_map_from_expanded(expanded)
    return node_map_quads(
        node_map, namer, None, rdf_direction, produce_generalized_rdf
    )


def doc_to_quads(
    doc,
    base: str | None = None,
    cache: ContextCache | None = None,
    expand_context=None,
    rdf_direction: str | None = None,
    produce_generalized_rdf: bool = False,
    processing_mode: str = "json-ld-1.1",
    warnings_out: list | None = None,
    rdfstar: bool = False,
) -> list[Quad]:
    """Full toRdf path for one parsed JSON document
    (reference api.rb:526-563).  ``rdfstar=True`` enables JSON-LD-star:
    @annotation reification and embedded statements, emitted as
    N-Triples-star ``<< s p o >>`` quoted-term strings in the subj/obj
    slots (they stay ordinary strings through the Spark triples table —
    partitioning/joins are unaffected)."""
    expanded = expand_document(
        doc,
        base=base,
        cache=cache,
        expand_context=expand_context,
        processing_mode=processing_mode,
        warnings_out=warnings_out,
        rdfstar=rdfstar,
    )
    return expanded_to_quads(
        expanded,
        rdf_direction=rdf_direction,
        produce_generalized_rdf=produce_generalized_rdf,
    )
