"""JSON-LD 1.1 Compaction (W3C json-ld11-api §6) — IRI compaction via
inverse context, value compaction, container re-mapping.

Capability parity with /root/reference/lib/json/ld/compact.rb:21-353 and
the compact_iri/compact_value/select_term machinery in context.rb
(1412-1593, 1662-1720, 1948-1971).  Runs per-document inside pandas
UDFs like the other stages; no Spark analog needed for triple emission
(SURVEY.md §2.8).
"""

from __future__ import annotations

from typing import Any

from . import errors as err
from .context import UNSET, Context
from .iri import is_iri, is_keyword
from .rdf_model import XSD_STRING  # noqa: F401  (datatype IRIs referenced by callers)


def _ensure_list(v):
    return v if isinstance(v, list) else [v]


def select_term(ctx: Context, iri: str, containers, type_language, preferred_values):
    inverse = ctx.inverse()
    container_map = inverse.get(iri, {})
    for container in containers:
        tl_map = container_map.get(container)
        if tl_map is None:
            continue
        value_map = tl_map[type_language]
        for item in preferred_values:
            if item in value_map:
                return value_map[item]
    return None


def compact_iri(
    ctx: Context,
    iri: str | None,
    value=None,
    vocab: bool = False,
    reverse: bool = False,
):
    """W3C 4.4 IRI Compaction."""
    if iri is None:
        return None
    inverse = ctx.inverse()
    if vocab and iri in inverse:
        default_language = "@none"
        if ctx.default_direction:
            default_language = f"{ctx.default_language or ''}_{ctx.default_direction}".lower()
        elif ctx.default_language:
            default_language = ctx.default_language.lower()

        if isinstance(value, dict) and "@preserve" in value:
            inner = value["@preserve"]
            value = inner[0] if isinstance(inner, list) and inner else inner

        containers: list[str] = []
        type_language = "@language"
        type_language_value: Any = "@null"

        if isinstance(value, dict) and "@index" in value and "@graph" not in value:
            containers += ["@index", "@index@set"]

        if reverse:
            type_language = "@type"
            type_language_value = "@reverse"
            containers.append("@set")
        elif isinstance(value, dict) and "@list" in value:
            if "@index" not in value:
                containers.append("@list")
            lst = value["@list"]
            common_type = None
            common_language = default_language if not lst else None
            for item in lst:
                item_language, item_type = "@none", "@none"
                if isinstance(item, dict) and "@value" in item:
                    if "@direction" in item:
                        item_language = (
                            f"{item.get('@language', '')}_{item['@direction']}".lower()
                        )
                    elif "@language" in item:
                        item_language = item["@language"].lower()
                    elif "@type" in item:
                        item_type = item["@type"]
                    else:
                        item_language = "@null"
                else:
                    item_type = "@id"
                if common_language is None:
                    common_language = item_language
                elif common_language != item_language and isinstance(item, dict) and "@value" in item:
                    common_language = "@none"
                if common_type is None:
                    common_type = item_type
                elif common_type != item_type:
                    common_type = "@none"
                if common_language == "@none" and common_type == "@none":
                    break
            common_language = common_language or "@none"
            common_type = common_type or "@none"
            if common_type != "@none":
                type_language = "@type"
                type_language_value = common_type
            else:
                type_language_value = common_language
        elif isinstance(value, dict) and "@graph" in value:
            if "@index" in value:
                # CONTAINERS_GRAPH_INDEX_INDEX (context.rb:1389): the
                # plain @index containers ride at HIGH priority here
                containers += ["@graph@index", "@graph@index@set", "@index", "@index@set"]
            if "@id" in value:
                containers += ["@graph@id", "@graph@id@set"]
            containers += ["@graph", "@graph@set", "@set"]
            if "@index" not in value:
                containers += ["@graph@index", "@graph@index@set"]
            if "@id" not in value:
                containers += ["@graph@id", "@graph@id@set"]
            if "@index" not in value:
                containers += ["@index", "@index@set"]
            type_language = "@type"
            type_language_value = "@id"
        else:
            if isinstance(value, dict) and "@value" in value:
                # branch ORDER mirrors context.rb:1489-1498: @language
                # first (direction appended if also present, WITH the
                # language containers); a DIRECTION-ONLY value gets
                # tl_value '_dir' but NO language containers — selecting
                # a language-map term would drop @direction on re-expand
                if "@language" in value and "@index" not in value:
                    type_language_value = value["@language"].lower()
                    if value.get("@direction"):
                        type_language_value += f"_{value['@direction']}".lower()
                    containers += ["@language", "@language@set"]
                elif "@direction" in value and "@index" not in value:
                    type_language_value = f"_{value['@direction']}"
                elif "@type" in value:
                    type_language = "@type"
                    type_language_value = value["@type"]
            else:
                type_language = "@type"
                type_language_value = "@id"
                containers += ["@id", "@id@set", "@type", "@set@type"]
            containers.append("@set")

        containers.append("@none")
        # `unless index?(value)` (context.rb:1511) — also true for a
        # nil/absent value (an @index-container term must be selectable
        # for an empty property, compacting {} → {"idx": []})
        if not (isinstance(value, dict) and "@index" in value):
            containers += ["@index", "@index@set"]
        if isinstance(value, dict) and set(value) == {"@value"}:
            containers += ["@language", "@language@set"]

        if type_language_value is None:
            type_language_value = "@null"
        preferred_values = []
        if type_language_value == "@reverse":
            preferred_values.append("@reverse")
        if type_language_value in ("@id", "@reverse") and isinstance(value, dict) and "@id" in value:
            candidate = compact_iri(ctx, value["@id"], vocab=True)
            ctd = ctx.term(candidate)
            if ctd is not None and ctd.iri_mapping == value["@id"]:
                preferred_values += ["@vocab", "@id", "@none"]
            else:
                preferred_values += ["@id", "@vocab", "@none"]
        else:
            preferred_values += [type_language_value, "@none"]
            if isinstance(value, dict) and "@list" in value and not value["@list"]:
                type_language = "@any"
        preferred_values.append("@any")
        # "de_ltr" also matches a term keyed by direction alone ("_ltr")
        # (context.rb:1532-1535)
        for pv in list(preferred_values):
            if isinstance(pv, str) and "_" in pv:
                preferred_values.append("_" + pv.split("_")[-1])
                break
        term = select_term(ctx, iri, containers, type_language, preferred_values)
        if term is not None:
            return term

    # vocab prefix of the IRI itself
    if vocab and ctx.vocab is not None:
        if iri.startswith(ctx.vocab) and len(iri) > len(ctx.vocab):
            suffix = iri[len(ctx.vocab) :]
            if ctx.term(suffix) is None:
                return suffix

    # CURIE candidates
    candidate = None
    for term, td in ctx.term_definitions.items():
        if td is None or not td.prefix or td.iri_mapping is None:
            continue
        if ":" in term:
            continue
        if not iri.startswith(td.iri_mapping) or iri == td.iri_mapping:
            continue
        curie = term + ":" + iri[len(td.iri_mapping) :]
        existing = ctx.term(curie)
        ok = existing is None or (
            existing.iri_mapping == iri and value is None
        )
        if ok and (
            candidate is None
            or (len(curie), curie) < (len(candidate), candidate)
        ):
            candidate = curie
    if candidate is not None:
        return candidate

    # the IRI must not be mistakable for a compact IRI of a prefix term
    # (context.rb:1578-1582): e.g. absolute IRI "t:suffix" with term "t"
    # defined as a prefix for a different namespace
    for term, td in ctx.term_definitions.items():
        if (
            td is not None
            and td.prefix
            and td.iri_mapping
            and iri.startswith(term + ":")
        ):
            raise err.IRIConfusedWithPrefix(
                f"Absolute IRI {iri!r} confused with prefix {term!r}"
            )

    if not vocab and ctx.base is not None and is_iri(iri) and not iri.startswith("_:"):
        from .iri import remove_base

        return remove_base(ctx.base, iri)
    return iri


def compact_value(ctx: Context, active_property: str | None, value: dict):
    """W3C 4.5 Value Compaction — full reference parity including the
    post-steps (@type IRI compaction + keyword aliasing of keys,
    context.rb compact_value tail)."""
    return _value_post_steps(
        ctx, value, _compact_value_core(ctx, active_property, value)
    )


def _value_post_steps(ctx: Context, value: dict, result):
    """context.rb compact_value tail: compact the values of @type
    (unless @json) and rewrite keys through keyword aliases."""
    if isinstance(result, dict) and "@type" in result and value.get("@type") != "@json":
        t = result["@type"]
        ct = (
            [compact_iri(ctx, x, vocab=True) for x in t]
            if isinstance(t, list)
            else compact_iri(ctx, t, vocab=True)
        )
        result = {**result, "@type": ct}
    if isinstance(result, dict):
        aliased = {
            (compact_iri(ctx, k, vocab=True) if is_keyword(k) else k): v
            for k, v in result.items()
        }
        if list(aliased) != list(result):
            result = aliased
    return result


def _compact_value_core(ctx: Context, active_property: str | None, value: dict):
    td = ctx.term(active_property)
    language = (
        td.language_mapping
        if td is not None and td.language_mapping is not UNSET
        else ctx.default_language
    )
    direction = (
        td.direction_mapping
        if td is not None and td.direction_mapping is not UNSET
        else ctx.default_direction
    )
    type_mapping = td.type_mapping if td else None

    core = set(value)
    if "@index" in value and td is not None and "@index" in td.container_mapping:
        core.discard("@index")
    n_members = len(core)

    def _core():
        # {@value,@language,@direction} is still compactable when BOTH
        # match the term/default mappings (spec Value Compaction step 8;
        # the reference has no member-count gate here, context.rb
        # compact_value)
        if n_members > 2 and core != {"@value", "@language", "@direction"}:
            return value

        if "@id" in value:
            # the reference's @id/@vocab-coercion branches subtract @index
            # UNCONDITIONALLY (context.rb:1670-1677,
            # `(value.keys - %w[@id @index]).empty?`) — @index is dropped
            # even when the term's container has no @index
            extra = set(value) - {"@id", "@index"}
            if not extra and type_mapping == "@id":
                return compact_iri(ctx, value["@id"])
            if not extra and type_mapping == "@vocab":
                return compact_iri(ctx, value["@id"], vocab=True)
            return value
        v = value.get("@value")
        if "@type" in value and value["@type"] == type_mapping:
            return v
        if "@language" in value:
            if (
                language is not None
                and value["@language"].lower() == str(language).lower()
                and value.get("@direction", direction) == direction
            ):
                return v
            return value
        if "@direction" in value:
            if direction is not None and value["@direction"] == direction and "@language" not in value:
                return v
            return value
        if "@type" in value:
            return value
        # plain value
        if not isinstance(v, str):
            if "@index" not in value or (td is not None and "@index" in td.container_mapping):
                return v
            return value
        if language is None and direction is None and type_mapping != "@none":
            if n_members == 1:
                return v
        return value

    return _core()


def compact(
    element,
    active_context: Context,
    active_property: str | None = None,
    compact_arrays: bool = True,
    ordered: bool = False,
):
    """W3C 4.2 Compaction Algorithm."""
    ctx = active_context
    td = ctx.term(active_property)

    if element is None or isinstance(element, (str, int, float, bool)):
        return element

    if isinstance(element, list):
        result = []
        for item in element:
            c = compact(item, ctx, active_property, compact_arrays, ordered)
            if c is not None:
                result.append(c)
        container = td.container_mapping if td else frozenset()
        if (
            len(result) == 1
            and compact_arrays
            and not container & {"@list", "@set"}
        ):
            return result[0]
        return result

    assert isinstance(element, dict)

    # revert any previously type-scoped context (compact.rb:54-58) —
    # non-propagating contexts apply to the node that carried the type,
    # not to nested node objects
    if (
        ctx.previous_context is not None
        and "@value" not in element
        and list(element) != ["@id"]
    ):
        ctx = ctx.previous_context

    # scoped context of active_property applies — term definitions are
    # looked up in the ORIGINAL (possibly type-scoped) context
    # (compact.rb:60-66)
    td = active_context.term(active_property)
    if td is not None and td.local_context is not UNSET:
        ctx = ctx.parse(td.local_context, base_url=td.base_url, override_protected=True)
        td = ctx.term(active_property)

    # a list object inside a @list container compacts to a bare (nested)
    # array — JSON-LD 1.1 lists of lists (compact.rb:77-80)
    if (
        "@list" in element
        and td is not None
        and "@list" in td.container_mapping
    ):
        return compact(element["@list"], ctx, active_property, compact_arrays, ordered)

    # a value object / node reference carrying @annotation must stay an
    # object so the annotation survives (compact.rb:68)
    if ("@value" in element or "@id" in element) and "@annotation" not in element:
        # entry mirrors compact.rb:68 (`element.key?('@id') ||
        # element.key?('@value')`); any non-Hash result — scalars AND
        # lists — returns directly (compact.rb:70 `!result.is_a?(Hash)`)
        res = _compact_value_core(ctx, active_property, element)
        vtd = ctx.term(active_property)
        if not isinstance(res, dict):
            return res
        if vtd is not None and vtd.type_mapping == "@json":
            # compact.rb:61-66 — a @json-coerced value returns the FULL
            # compact_value result (post-steps included); any other dict
            # result is discarded and the ORIGINAL element re-walked by
            # the generic loop below, so the document hot path skips the
            # post-step work entirely
            return _value_post_steps(ctx, element, res)

    inside_reverse = active_property == "@reverse"
    result: dict[str, Any] = {}

    # type-scoped contexts, applied for sorted compacted types
    if "@type" in element:
        compacted_types = sorted(
            compact_iri(ctx, t, vocab=True) for t in _ensure_list(element["@type"])
        )
        for ct in compacted_types:
            ttd = active_context.term(ct)
            if ttd is not None and ttd.local_context is not UNSET:
                ctx = ctx.parse(ttd.local_context, base_url=ttd.base_url, propagate=False)

    keys = sorted(element) if ordered else list(element)
    for expanded_property in keys:
        expanded_value = element[expanded_property]

        if expanded_property == "@id":
            if isinstance(expanded_value, str):
                value = compact_iri(ctx, expanded_value, vocab=False)
            elif isinstance(expanded_value, dict):
                # JSON-LD-star embedded statement: compact recursively
                # (compact.rb:104-108)
                value = compact(expanded_value, ctx, "@id", compact_arrays, ordered)
            else:
                value = [
                    compact(v, ctx, "@id", compact_arrays, ordered)
                    if isinstance(v, dict)
                    else compact_iri(ctx, v, vocab=False)
                    for v in expanded_value
                ]
            alias = compact_iri(ctx, "@id", vocab=True)
            result[alias] = value
            continue

        if expanded_property == "@type":
            types = [
                compact_iri(active_context, t, vocab=True) if isinstance(t, str) else t
                for t in _ensure_list(expanded_value)
            ]
            alias = compact_iri(ctx, "@type", vocab=True)
            atd = ctx.term(alias)
            # @set containers arrayify @type on NODE objects only — a
            # value object's @type stays a string (compact.rb:127-130
            # `!value?(element)`)
            as_array = (not compact_arrays) or (
                atd is not None
                and "@set" in atd.container_mapping
                and "@value" not in element
            )
            result[alias] = types if (len(types) > 1 or as_array) else types[0]
            continue

        if expanded_property == "@reverse":
            compacted = compact(expanded_value, ctx, "@reverse", compact_arrays, ordered)
            if isinstance(compacted, dict):
                for prop in list(compacted):
                    ptd = ctx.term(prop)
                    if ptd is not None and ptd.reverse_property:
                        value = compacted.pop(prop)
                        as_array = not compact_arrays or "@set" in ptd.container_mapping
                        _add_compact_value(result, prop, value, as_array)
                if compacted:
                    alias = compact_iri(ctx, "@reverse", vocab=True)
                    result[alias] = compacted
            continue

        if expanded_property == "@preserve":
            compacted = compact(expanded_value, ctx, active_property, compact_arrays, ordered)
            if compacted != []:
                result["@preserve"] = compacted
            continue

        if expanded_property == "@index":
            if td is not None and "@index" in td.container_mapping:
                continue
            alias = compact_iri(ctx, "@index", vocab=True)
            result[alias] = expanded_value
            continue

        if expanded_property in ("@value", "@language", "@direction"):
            alias = compact_iri(ctx, expanded_property, vocab=True)
            result[alias] = expanded_value
            continue

        if expanded_property == "@included":
            compacted = compact(expanded_value, ctx, None, compact_arrays, ordered)
            alias = compact_iri(ctx, "@included", vocab=True)
            atd = ctx.term(alias)
            if (
                atd is not None
                and "@set" in atd.container_mapping
                and not isinstance(compacted, list)
            ):
                compacted = [compacted]
            result[alias] = compacted
            continue

        if expanded_property == "@graph" and active_property in (None, "@graph"):
            # top-level graph content
            compacted = compact(expanded_value, ctx, "@graph", compact_arrays, ordered)
            alias = compact_iri(ctx, "@graph", vocab=True)
            result[alias] = compacted if isinstance(compacted, list) else [compacted]
            continue

        # regular property
        if not expanded_value:
            item_prop = compact_iri(ctx, expanded_property, value=None, vocab=True, reverse=inside_reverse)
            nest_result = _nest_target(ctx, result, item_prop)
            _add_compact_value(nest_result, item_prop, [], True)
            continue

        for expanded_item in _ensure_list(expanded_value):
            item_prop = compact_iri(
                ctx, expanded_property, value=expanded_item, vocab=True, reverse=inside_reverse
            )
            nest_result = _nest_target(ctx, result, item_prop)
            itd = ctx.term(item_prop)
            container = itd.container_mapping if itd else frozenset()
            as_array = not compact_arrays or "@set" in container or expanded_property in ("@graph", "@list")

            inner = expanded_item
            if isinstance(expanded_item, dict) and "@list" in expanded_item:
                inner = expanded_item["@list"]
            elif isinstance(expanded_item, dict) and _is_graph_obj(expanded_item):
                inner = expanded_item["@graph"]

            compacted_item = compact(inner, ctx, item_prop, compact_arrays, ordered)

            if isinstance(expanded_item, dict) and "@list" in expanded_item:
                if not isinstance(compacted_item, list):
                    compacted_item = [compacted_item]
                if "@list" not in container:
                    alias = compact_iri(ctx, "@list", vocab=True)
                    wrapped = {alias: compacted_item}
                    if "@index" in expanded_item:
                        idx_alias = compact_iri(ctx, "@index", vocab=True)
                        wrapped[idx_alias] = expanded_item["@index"]
                    compacted_item = wrapped
                    _add_compact_value(nest_result, item_prop, compacted_item, as_array)
                else:
                    nest_result[item_prop] = compacted_item
                continue

            if isinstance(expanded_item, dict) and _is_graph_obj(expanded_item):
                # graph-object compaction (compact.rb:245-286): a graph
                # object carrying @id only enters a bare @graph container
                # through an @id map; otherwise it re-wraps explicitly —
                # dropping into the container would lose the graph name
                simple = "@id" not in expanded_item
                if "@graph" in container and (
                    "@id" in container or ("@index" in container and simple)
                ):
                    if "@id" in container and "@id" in expanded_item:
                        key = compact_iri(ctx, expanded_item["@id"], vocab=False)
                    elif "@index" in container and "@index" in expanded_item:
                        key = expanded_item["@index"]
                    else:
                        key = compact_iri(ctx, "@none", vocab=True)
                    m = nest_result.setdefault(item_prop, {})
                    _add_compact_value(m, key, compacted_item, as_array)
                elif "@graph" in container and simple:
                    if isinstance(compacted_item, list) and len(compacted_item) > 1:
                        compacted_item = {compact_iri(ctx, "@included", vocab=True): compacted_item}
                    _add_compact_value(nest_result, item_prop, compacted_item, as_array)
                else:
                    alias = compact_iri(ctx, "@graph", vocab=True)
                    wrapped = {alias: compacted_item}
                    if "@id" in expanded_item:
                        wrapped[compact_iri(ctx, "@id", vocab=True)] = compact_iri(
                            ctx, expanded_item["@id"], vocab=False
                        )
                    if "@index" in expanded_item:
                        wrapped[compact_iri(ctx, "@index", vocab=True)] = (
                            expanded_item["@index"]
                        )
                    _add_compact_value(nest_result, item_prop, wrapped, as_array)
                continue

            if container & {"@language", "@index", "@id", "@type"} and "@graph" not in container:
                map_object = nest_result.setdefault(item_prop, {})
                if "@language" in container:
                    key = expanded_item.get("@language", compact_iri(ctx, "@none", vocab=True)) if isinstance(expanded_item, dict) else compact_iri(ctx, "@none", vocab=True)
                    if isinstance(expanded_item, dict) and "@value" in expanded_item:
                        compacted_item = expanded_item["@value"]
                elif "@index" in container:
                    index_key = (itd.index_mapping if itd else None) or "@index"
                    if index_key == "@index":
                        key = expanded_item.get("@index") if isinstance(expanded_item, dict) else None
                    else:
                        # property-valued index
                        key_iri = ctx.expand_iri(index_key, vocab=True)
                        key_vals = expanded_item.get(key_iri, []) if isinstance(expanded_item, dict) else []
                        key = None
                        if key_vals:
                            kv = compact_value(ctx, index_key, key_vals[0])
                            if isinstance(kv, str):
                                key = kv
                                rest = key_vals[1:]
                                if isinstance(compacted_item, dict):
                                    ck = compact_iri(ctx, key_iri, value=key_vals[0], vocab=True)
                                    if rest:
                                        compacted_item[ck] = (
                                            [compact_value(ctx, index_key, r) for r in rest]
                                            if len(rest) > 1
                                            else compact_value(ctx, index_key, rest[0])
                                        )
                                    else:
                                        compacted_item.pop(ck, None)
                    if key is None:
                        key = compact_iri(ctx, "@none", vocab=True)
                elif "@id" in container:
                    key = None
                    if isinstance(compacted_item, dict):
                        id_alias = compact_iri(ctx, "@id", vocab=True)
                        key = compacted_item.pop(id_alias, None)
                    if key is None:
                        key = compact_iri(ctx, "@none", vocab=True)
                else:  # @type
                    key = None
                    if isinstance(compacted_item, dict):
                        type_alias = compact_iri(ctx, "@type", vocab=True)
                        types = compacted_item.get(type_alias)
                        if types:
                            types = _ensure_list(types)
                            key = types[0]
                            rest2 = types[1:]
                            if rest2:
                                compacted_item[type_alias] = rest2 if len(rest2) > 1 else rest2[0]
                            else:
                                compacted_item.pop(type_alias, None)
                            if list(compacted_item) == [compact_iri(ctx, "@id", vocab=True)] and compact_arrays:
                                compacted_item = compact(
                                    {"@id": expanded_item["@id"]}, ctx, item_prop
                                ) if isinstance(expanded_item, dict) and "@id" in expanded_item else compacted_item
                    if key is None:
                        key = compact_iri(ctx, "@none", vocab=True)
                _add_compact_value(map_object, key, compacted_item, as_array)
            else:
                _add_compact_value(nest_result, item_prop, compacted_item, as_array)

    return result


def _is_graph_obj(v: dict) -> bool:
    return "@graph" in v and set(v) <= {"@graph", "@id", "@index"}


def _nest_target(ctx: Context, result: dict, item_prop) -> dict:
    td = ctx.term(item_prop)
    if td is not None and td.nest_value:
        nest_term = td.nest_value
        if nest_term != "@nest" and (
            ctx.term(nest_term) is None
            or ctx.term(nest_term).iri_mapping != "@nest"
        ):
            raise err.InvalidNestValue(nest_term)
        return result.setdefault(nest_term, {})
    return result


def _add_compact_value(obj: dict, key, value, as_array: bool):
    if key in obj:
        existing = obj[key]
        if not isinstance(existing, list):
            obj[key] = [existing]
        if isinstance(value, list):
            obj[key].extend(value)
        else:
            obj[key].append(value)
    else:
        if as_array and not isinstance(value, list):
            value = [value]
        obj[key] = value


def compact_document(
    expanded,
    context,
    base: str | None = None,
    cache=None,
    compact_arrays: bool = True,
    ordered: bool = False,
    processing_mode: str = "json-ld-1.1",
    compact_to_relative: bool = True,
):
    """API.compact equivalent (reference api.rb:235-264).  ``expanded``
    must already be in expanded form (use expand_document first).

    ``compact_to_relative=False`` mirrors the reference's
    ``compactToRelative`` option (api.rb:237-245): the document base is
    withheld from the compaction context, so absolute IRIs are NOT
    shortened to base-relative form (term/CURIE compaction is
    unaffected)."""
    from .context import Context

    ctx_value = context
    if isinstance(context, dict) and "@context" in context:
        ctx_value = context["@context"]
    compact_base = base if compact_to_relative else None
    ctx = Context(
        base=compact_base,
        processing_mode=processing_mode,
        cache=cache,
    )
    ctx = ctx.parse(ctx_value, base_url=base)

    result = compact(expanded, ctx, None, compact_arrays, ordered)
    if result is None or result == []:
        result = {}
    elif isinstance(result, list):
        result = {compact_iri(ctx, "@graph", vocab=True): result}
    if ctx_value not in (None, {}, []):
        result = {"@context": ctx_value, **result}
    return result
