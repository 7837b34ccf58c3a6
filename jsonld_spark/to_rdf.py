"""JSON-LD 1.1 → RDF quads ("Deserialize JSON-LD to RDF").

From-scratch implementation of the W3C algorithm
(https://www.w3.org/TR/json-ld11-api/#deserialize-json-ld-to-rdf-algorithm);
capability parity with /root/reference/lib/json/ld/to_rdf.rb:19-193 and
api.rb:526-563 (statement filtering).

Output is a flat list of :class:`~jsonld_spark.rdf_model.Quad` — the
exact row shape of the Spark ``triples`` DataFrame.  The pipeline calls
:func:`doc_to_quads` once per document inside a pandas UDF and explodes
the result (SURVEY.md §2.5: the UDF→REL boundary).

The bounded streaming reader also emits FLAT node objects straight
from JSON (:func:`flat_node_quads`): one key plan per element key shape
(:class:`FlatPlans`) and the quads in :meth:`_RdfEmitter.node_to_quads`
order, with no expanded form and no node map.
"""

from __future__ import annotations

from typing import Any

from .context import IRI_MEMO_MAX, UNSET, Context, ContextCache
from .expand import expand_document
from .flatten import BlankNodeNamer, add_unique_value, node_map_from_expanded
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


# -- flat nodes: JSON straight to quads (the bounded reader's path) ---------


def _is_iri(value) -> bool:
    """An expansion result naming an IRI: no keyword, no blank node,
    nothing the expansion drops."""
    return isinstance(value, str) and ":" in value and not value.startswith("_:")


class FlatPlans:
    """The flat-node path's memos for one run of elements under one
    context, base and default graph: a key plan per element key tuple
    (``plan``) and the expansion of each ``@type`` value (``type_iri``).
    Both dicts are cleared at ``IRI_MEMO_MAX`` entries, so a spine of
    distinct key shapes or types holds bounded memory.

    ``from_map`` is expansion's own flag for the elements: a
    non-propagated context (one with a ``previous_context``) reverts for
    an element that is not a map entry, so every key tuple then takes
    the general path; map entries keep the context and plan as usual."""

    __slots__ = ("ctx", "base", "graph_name", "emitter", "plans", "types", "reverts")

    def __init__(
        self,
        ctx: Context,
        base: str | None,
        graph_name,
        namer: BlankNodeNamer,
        from_map: bool,
    ):
        self.ctx = ctx
        self.base = base
        self.graph_name = graph_name
        self.emitter = _RdfEmitter(namer)
        self.plans: dict[tuple, tuple | None] = {}
        self.types: dict[str, tuple | None] = {}
        self.reverts = ctx.previous_context is not None and not from_map

    def plan(self, keys: tuple):
        """The key-level half of the flat test, once per key tuple:
        ``(id_key, type_keys, props)`` or None when a key sends the
        element to the general path.  ``props`` lists each IRI property
        in ``node_to_quads``' sorted order as ``(iri, emitted, keyed)``;
        ``emitted`` is its ``_valid_resource`` verdict and ``keyed``
        holds its keys in document order, each with the ``(datatype,
        language)`` a string value becomes, or None when a string takes
        ``expand_value`` (an ``@id``/``@vocab`` or ``rdf:JSON`` term)."""
        plans = self.plans
        if keys in plans:
            return plans[keys]
        ctx = self.ctx
        plan = None
        if not self.reverts:
            id_keys, type_keys = [], []
            by_prop: dict[str, list] = {}
            for key in keys:
                prop = ctx.expand_key(key)
                if prop == "@id":
                    id_keys.append(key)
                elif prop == "@type":
                    type_keys.append(key)
                elif not _is_iri(prop):
                    break
                else:
                    td = ctx.term(key)
                    if td is not None and (
                        td.container_mapping
                        or td.local_context is not UNSET
                        or td.reverse_property
                        or td.type_mapping == "@json"
                    ):
                        break
                    by_prop.setdefault(prop, []).append((key, self._string_literal(td)))
            else:
                # a second @id key raises CollidingKeywords: general path
                if len(id_keys) == 1:
                    plan = (
                        id_keys[0],
                        tuple(type_keys),
                        tuple(
                            (prop, _valid_resource(prop), tuple(by_prop[prop]))
                            for prop in sorted(by_prop)
                        ),
                    )
        if len(plans) >= IRI_MEMO_MAX:
            plans.clear()
        plans[keys] = plan
        return plan

    def _string_literal(self, td):
        """The ``(datatype, language)`` of the literal a string value of
        term ``td`` becomes (``Context.expand_value`` then
        ``value_to_literal`` without rdf_direction), or None."""
        type_mapping = td.type_mapping if td is not None else None
        if type_mapping in ("@id", "@vocab", RDF_JSON):
            return None
        if type_mapping not in (None, "@none"):
            return (type_mapping, None)
        language = (
            td.language_mapping
            if td is not None and td.language_mapping is not UNSET
            else self.ctx.default_language
        )
        if language is None:
            return (XSD_STRING, None)
        return (RDF_LANGSTRING, language.lower())

    def type_iri(self, t: str):
        """``(iri, emitted)`` for one string ``@type`` value, or None
        when it has a type-scoped context or expands to no IRI."""
        types = self.types
        if t in types:
            return types[t]
        ctx = self.ctx
        hit = None
        ttd = ctx.term(t)
        if ttd is None or ttd.local_context is UNSET:
            iri = ctx.expand_iri(t, vocab=True, document_relative=True, base=self.base)
            if _is_iri(iri):
                hit = (iri, _valid_resource(iri))
        if len(types) >= IRI_MEMO_MAX:
            types.clear()
        types[t] = hit
        return hit


def _flat_value(ctx: Context, key: str, v, base: str | None):
    """``expand_value``'s object for one flat value, or None when the
    value needs the general path: null, an array, an object, or an
    ``@id`` that expands to no IRI."""
    if v is None or isinstance(v, (dict, list)):
        return None
    obj = ctx.expand_value(key, v, base=base)
    if "@id" in obj and not _is_iri(obj["@id"]):
        return None
    return obj


def flat_node_quads(element, plans: FlatPlans) -> list[Quad] | None:
    """The quads expand → node map → ``node_to_quads`` give for a FLAT
    node object, in the same order, built straight from the JSON element;
    None means the element needs the general path.  Flat means: an IRI
    ``@id`` under exactly one key, string ``@type`` values that expand to
    IRIs and have no type-scoped context, and every other key an IRI
    property whose term has no container, scoped context, reverse or
    ``@json`` type, holding one non-null scalar or an array of them (each
    expanding to a value object or an IRI reference).  A term's ``@nest``
    value only steers compaction, so it does not matter here; a key
    expanding to ``@nest`` is a keyword and falls back.  Every case that
    would warn, raise, revert the context or touch the blank-node namer
    falls back.

    The key-level decisions come from ``plans.plan``, once per key tuple;
    every value is still checked here.  A property's one string value
    becomes its literal directly; other values dedup as the node map
    does (``add_unique_value``).  The subject is expanded and checked
    without the IRI memos, since every subject of a spine is a fresh
    entry."""
    if not isinstance(element, dict):
        return None
    plan = plans.plan(tuple(element))
    if plan is None:
        return None
    id_key, type_keys, props = plan
    ctx, base, g = plans.ctx, plans.base, plans.graph_name
    subject = element[id_key]
    if not isinstance(subject, str):
        return None
    subject = ctx._expand_iri_uncached(subject, True, False, base)
    if not _is_iri(subject):
        return None
    quads: list[Quad] = []
    if type_keys:
        types = []
        for key in type_keys:
            value = element[key]
            for t in value if isinstance(value, list) else (value,):
                if not isinstance(t, str):
                    return None
                hit = plans.type_iri(t)
                if hit is None:
                    return None
                types.append(hit)
        # a type IRI is a string: json_eq is ==, so dict keys dedup it
        for iri, emitted in dict.fromkeys(types) if len(types) > 1 else types:
            if emitted:
                quads.append(Quad(subject, RDF_TYPE, iri, False, None, None, g))
    emitter = plans.emitter
    node: dict = {}
    dedup: dict = {}
    for prop, emitted, keyed in props:
        if len(keyed) == 1:
            key, literal = keyed[0]
            v = element[key]
            if literal is not None and isinstance(v, str):
                if emitted:
                    quads.append(Quad(subject, prop, v, True, literal[0], literal[1], g))
                continue
        for key, _ in keyed:
            value = element[key]
            for v in value if isinstance(value, list) else (value,):
                obj = _flat_value(ctx, key, v, base)
                if obj is None:
                    return None
                add_unique_value(node, prop, obj, dedup)
        if emitted:
            for obj in node.get(prop, ()):
                term = emitter.object_to_term(obj, g)
                if term is not None:
                    quads.append(Quad(subject, prop, *term, g))
    # an id outside the IRI grammar emits nothing (node_to_quads)
    return quads if is_absolute_iri(subject) else []


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
