"""JSON-LD 1.1 Expansion.

From-scratch implementation of the W3C JSON-LD 1.1 Expansion Algorithm
(https://www.w3.org/TR/json-ld11-api/#expansion-algorithm), capability
parity with /root/reference/lib/json/ld/expand.rb (dispatch at
expand.rb:31-241, keyword handling expand.rb:246-838).

Pure Python, no Spark imports — runs per-document inside pandas UDFs
(see udfs.py).  Array recursion here is the intra-document analog of
``flatMap``; the drop rules are the analog of ``filter``.
"""

from __future__ import annotations

from typing import Any

from . import errors as err
from .context import UNSET, Context, parse_initial_cached
from .iri import (
    has_keyword_form,
    is_absolute_iri,
    is_iri,
    is_keyword,
    is_well_formed_language,
)

_VALUE_KEYS = frozenset(
    {"@value", "@language", "@type", "@index", "@direction", "@annotation"}
)


class ExpandOptions:
    __slots__ = ("ordered", "frame_expansion", "warnings", "base", "rdfstar")

    def __init__(
        self,
        ordered: bool = False,
        frame_expansion: bool = False,
        base: str | None = None,
        rdfstar: bool = False,
    ):
        self.ordered = ordered
        self.frame_expansion = frame_expansion
        self.warnings: list[str] = []
        self.base = base  # documentUrl override for @base resolution
        self.rdfstar = rdfstar  # JSON-LD-star (@annotation / embedded nodes)


def _keys(element: dict, ordered: bool):
    return sorted(element) if ordered else list(element)


def _add_value(obj: dict, key: str, value, as_array=True):
    if as_array and key not in obj:
        obj[key] = []
    existing = obj.get(key)
    vals = value if isinstance(value, list) else [value]
    if isinstance(existing, list):
        existing.extend(vals)
    elif key in obj:
        obj[key] = [existing, *vals]
    else:
        obj[key] = vals if as_array else value


def inline_context(ctx: Context, local_ctx, base: str | None) -> Context:
    """Step 10: ``ctx`` with an element's inline ``@context`` applied.  A
    pristine ``ctx`` takes the per-process memo of base-independent
    contexts (``parse_initial_cached``); any other parses on top of it."""
    if not ctx.has_terms() and ctx.previous_context is None:
        return parse_initial_cached(
            ctx.base, ctx.processing_mode, ctx.cache, local_ctx, base
        )
    return ctx.parse(local_ctx, base_url=base)


def type_scoped(ctx: Context, type_values: list) -> Context:
    """Steps 11-12: ``ctx`` with the type-scoped contexts of an element's
    ``@type`` entries applied (``type_values`` holds one value per
    ``@type`` key, keys in sorted order), each entry's string values in
    lexicographic order.  As in expand.rb:107-110, every type term is
    looked up in the PRE-loop ``ctx`` while each parse chains on the
    previous result, so one type's scoped context cannot redefine a
    later type."""
    scoped = ctx
    for tv in type_values:
        tvals = tv if isinstance(tv, list) else (tv,)
        for t in sorted(v for v in tvals if isinstance(v, str)):
            td = ctx.term(t)
            if td is not None and td.local_context is not UNSET:
                scoped = scoped.parse(
                    td.local_context,
                    base_url=td.base_url,
                    propagate=False,
                    override_protected=False,
                )
    return scoped


def drops_key(expanded_property) -> bool:
    """Whether expansion drops a key that expanded to ``expanded_property``:
    it is neither a keyword nor an IRI (expand.rb:265)."""
    return expanded_property is None or (
        ":" not in expanded_property and not is_keyword(expanded_property)
    )


def expand(
    element,
    active_property: str | None,
    active_context: Context,
    options: ExpandOptions | None = None,
    from_map: bool = False,
):
    """Expand ``element``; returns expanded value (None means dropped)."""
    if options is None:
        options = ExpandOptions()

    if element is None:
        return None

    if active_property == "@default":
        sub = ExpandOptions(options.ordered, False, options.base, options.rdfstar)
        # SHARE the warnings sink — a fresh list would silently discard
        # dropped-key warnings raised inside @default values
        sub.warnings = options.warnings
        options = sub

    td = active_context.term(active_property)

    # property-scoped context is applied inside dict branch AND for scalars
    if not isinstance(element, (dict, list)):
        # scalar
        if active_property is None or active_property == "@graph":
            return None  # free-floating scalar
        if td is not None and td.local_context is not UNSET:
            active_context = active_context.parse(
                td.local_context, base_url=td.base_url, override_protected=True
            )
        return active_context.expand_value(active_property, element, base=options.base)

    if isinstance(element, list):
        result = []
        container = td.container_mapping if td else frozenset()
        for item in element:
            expanded_item = expand(
                item, active_property, active_context, options, from_map
            )
            if "@list" in container and (
                isinstance(expanded_item, list)
            ):
                if any(
                    isinstance(n, dict) and "@annotation" in n
                    for n in expanded_item
                ):
                    raise err.InvalidAnnotation(
                        "a list element must not contain @annotation"
                    )
                expanded_item = {"@list": expanded_item}
            if isinstance(expanded_item, list):
                result.extend(expanded_item)
            elif expanded_item is not None:
                result.append(expanded_item)
        return result

    # --- dict ---------------------------------------------------------------
    assert isinstance(element, dict)

    # 8: revert to previous context unless this is a value object / sub-map item
    if active_context.previous_context is not None and not from_map:
        expanded_keys = [active_context.expand_key(k) for k in element]
        if "@value" not in expanded_keys and expanded_keys != ["@id"]:
            active_context = active_context.previous_context

    # 9: property-scoped context
    if td is not None and td.local_context is not UNSET:
        active_context = active_context.parse(
            td.local_context,
            base_url=td.base_url,
            override_protected=True,
        )

    # 10: inline @context
    if "@context" in element:
        active_context = inline_context(
            active_context, element["@context"], options.base
        )

    # 11-12: type-scoped contexts.  A single unsorted pass FINDS the
    # @type-expanding keys (most dicts have 0-1); only those are sorted
    type_key = None
    type_keys = [k for k in element if active_context.expand_key(k) == "@type"]
    if type_keys:
        type_keys.sort()
        type_key = type_keys[0]
        active_context = type_scoped(
            active_context, [element[k] for k in type_keys]
        )

    input_type = None
    if type_key is not None:
        tv = element[type_key]
        last = tv[-1] if isinstance(tv, list) and tv else tv
        if isinstance(last, str):
            input_type = active_context.expand_iri(last, vocab=True)

    result: dict[str, Any] = {}
    nests: list[str] = []

    _expand_object(
        element,
        active_property,
        active_context,
        result,
        nests,
        input_type,
        options,
    )

    return _finalize(result, active_property, active_context, options)


def _finalize(result, active_property, active_context, options):
    """Post-key-loop validation & normalization (spec steps 14-19)."""
    if result is None:
        return None

    if "@value" in result:
        keys = set(result)
        if not keys <= _VALUE_KEYS:
            raise err.InvalidValueObject(repr(sorted(keys)))
        if "@type" in result and ("@language" in result or "@direction" in result):
            raise err.InvalidValueObject("@type with @language/@direction")
        if result.get("@type") == "@json":
            pass  # any JSON value ok
        else:
            value = result["@value"]
            if value is None or value == []:
                return None
            if (
                "@language" in result
                and not isinstance(value, str)
                and not (
                    options.frame_expansion
                    and (value == {} or isinstance(value, list))
                )
            ):
                raise err.InvalidLanguageTaggedValue(repr(value))
            if "@type" in result:
                t = result["@type"]
                if not (isinstance(t, str) and is_absolute_iri(t)) and not (
                    options.frame_expansion
                    and (
                        t == []
                        or (isinstance(t, list) and all(is_absolute_iri(x) for x in t))
                        or t == {}
                    )
                ):
                    raise err.InvalidTypedValue(f"{value!r} has @type {t!r}")
        if active_property in (None, "@graph"):
            return None  # free-floating value object
        return result

    if "@type" in result and not isinstance(result["@type"], list):
        result["@type"] = [result["@type"]]

    if "@set" in result or "@list" in result:
        keys = set(result)
        if not keys <= {"@set", "@list", "@index"}:
            raise err.InvalidSetOrListObject(repr(sorted(keys)))
        if "@set" in result:
            inner = result["@set"]
            if "@index" in result:
                # @set object w/ @index collapses, dropping @index
                return inner
            return inner
    elif "@annotation" in result:
        # expand.rb:192-205: @annotation values must be node objects
        # without @id, and @annotation is invalid on top-level objects
        if not all(
            _is_node_object(o) and "@id" not in o for o in result["@annotation"]
        ):
            raise err.InvalidAnnotation(
                "@annotation must reference node objects without @id"
            )
        if (active_property or "@graph") in ("@graph", "@included"):
            raise err.InvalidAnnotation(
                "@annotation must not be used on a top-level object"
            )

    if list(result) == ["@language"]:
        return None

    if active_property in (None, "@graph"):
        # free-floating node handling
        if not result or "@value" in result or "@list" in result:
            return None
        if list(result) == ["@id"] and not options.frame_expansion:
            return None
    return result


def _expand_object(
    element: dict,
    active_property,
    active_context: Context,
    result: dict,
    nests: list,
    input_type,
    options: ExpandOptions,
):
    """Key loop (spec step 13) + nested-value post-pass (step 14)."""
    frame = options.frame_expansion

    for key in _keys(element, options.ordered):
        if key == "@context":
            continue
        value = element[key]
        # keys are plain strings and vocab-expansion ignores base —
        # expand_key is the memo-probe fast path
        expanded_property = active_context.expand_key(key)
        if drops_key(expanded_property):
            options.warnings.append(f"dropped key {key!r}")
            continue

        if is_keyword(expanded_property):
            if active_property == "@reverse":
                raise err.InvalidReversePropertyMap(key)
            if expanded_property in result and expanded_property not in (
                "@included",
                "@type",
                "@reverse",  # a term-level reverse property may have
                # populated the @reverse map already (expand.rb:289
                # KEYS_INCLUDED_TYPE_REVERSE)
            ):
                raise err.CollidingKeywords(expanded_property)

            if expanded_property == "@id":
                if options.rdfstar and active_property == "@annotation":
                    # an annotation must not contain @id (expand.rb:297)
                    raise err.InvalidAnnotation(
                        "an annotation must not contain a property expanding to @id"
                    )
                if isinstance(value, str):
                    exp = active_context.expand_iri(
                        value, document_relative=True, base=options.base
                    )
                    result["@id"] = exp if exp is not None else value
                elif options.rdfstar and isinstance(value, dict) and not frame:
                    # JSON-LD-star embedded node (expand.rb:327-342): must
                    # expand to exactly ONE statement and carry no @reverse
                    rei = expand(value, None, active_context, options)
                    if isinstance(rei, list):
                        rei = rei[0] if len(rei) == 1 else None
                    if isinstance(rei, dict) and "@reverse" in rei:
                        raise err.InvalidEmbeddedNode("embedded node with @reverse")
                    if _embedded_statement_count(rei) != 1:
                        raise err.InvalidEmbeddedNode(
                            f"embedded node must describe a single statement: {value!r}"
                        )
                    result["@id"] = rei
                elif frame and (
                    value == {}
                    or isinstance(value, list)
                    and all(isinstance(v, str) for v in value)
                ):
                    result["@id"] = (
                        [
                            active_context.expand_iri(
                                v, document_relative=True, base=options.base
                            )
                            for v in value
                        ]
                        if isinstance(value, list)
                        else value
                    )
                else:
                    raise err.InvalidIdValue(repr(value))
                continue

            if expanded_property == "@type":
                vals = value if isinstance(value, list) else [value]
                expanded_types = []
                for v in vals:
                    if isinstance(v, str):
                        ev = active_context.expand_iri(
                            v, vocab=True, document_relative=True, base=options.base
                        )
                        if ev is not None:
                            expanded_types.append(ev)
                    elif frame and v == {}:
                        # wildcard: matches nodes having ANY type
                        expanded_types.append(v)
                    elif frame and isinstance(v, dict) and set(v) == {"@default"}:
                        # the default type(s) expand as IRIs
                        dv = v["@default"]
                        dv = dv if isinstance(dv, list) else [dv]
                        expanded_types.append(
                            {
                                "@default": [
                                    active_context.expand_iri(
                                        d,
                                        vocab=True,
                                        document_relative=True,
                                        base=options.base,
                                    )
                                    if isinstance(d, str)
                                    else d
                                    for d in dv
                                ]
                            }
                        )
                    else:
                        raise err.InvalidTypeValue(repr(v))
                if not isinstance(value, list) and len(expanded_types) == 1:
                    tval = expanded_types[0]
                else:
                    tval = expanded_types
                if "@type" in result:
                    prev = result["@type"]
                    prev = prev if isinstance(prev, list) else [prev]
                    tval2 = tval if isinstance(tval, list) else [tval]
                    tval = prev + tval2
                result["@type"] = tval
                continue

            if expanded_property == "@included":
                if active_context.processing_mode == "json-ld-1.0":
                    continue
                # expand with the OUTER active property (expand.rb:362) and
                # check node-ness BEFORE dropping nulls: a scalar that
                # expands to null must raise, not silently vanish
                included = expand(value, active_property, active_context, options)
                included = included if isinstance(included, list) else [included]
                if any(not _is_node_object(v) for v in included):
                    raise err.InvalidIncludedValue(repr(value))
                _add_value(result, "@included", included)
                continue

            if expanded_property == "@value":
                if input_type == "@json" and active_context.processing_mode != "json-ld-1.0":
                    result["@value"] = value
                elif value is None or isinstance(value, (str, int, float, bool)):
                    result["@value"] = value
                elif frame and (
                    value == {} or (isinstance(value, list))
                ):
                    result["@value"] = value
                else:
                    raise err.InvalidValueObjectValue(repr(value))
                continue

            if expanded_property == "@language":
                if isinstance(value, str):
                    if not is_well_formed_language(value):
                        options.warnings.append(f"malformed language tag {value!r}")
                    # case PRESERVED (reference lowercases only under the
                    # lowercaseLanguage option, expand.rb:512-517);
                    # RDF-literal emission lowercases at toRdf instead
                    result["@language"] = value
                elif frame and (value == {} or isinstance(value, list)):
                    result["@language"] = value
                else:
                    raise err.InvalidLanguageTaggedString(repr(value))
                continue

            if expanded_property == "@direction":
                if value in ("ltr", "rtl"):
                    result["@direction"] = value
                elif frame and (value == {} or isinstance(value, list)):
                    result["@direction"] = value
                else:
                    raise err.InvalidBaseDirection(repr(value))
                continue

            if expanded_property == "@index":
                if not isinstance(value, str):
                    raise err.InvalidIndexValue(repr(value))
                result["@index"] = value
                continue

            if expanded_property == "@list":
                if active_property in (None, "@graph"):
                    continue  # free-floating list dropped
                lst = expand(value, active_property, active_context, options)
                lst = lst if isinstance(lst, list) else [lst]
                lst = [v for v in lst if v is not None]
                if any(isinstance(n, dict) and "@annotation" in n for n in lst):
                    raise err.InvalidAnnotation(
                        "a list element must not contain @annotation"
                    )
                result["@list"] = lst
                continue

            if expanded_property == "@set":
                exp = expand(value, active_property, active_context, options)
                result["@set"] = exp if isinstance(exp, list) else (
                    [] if exp is None else [exp]
                )
                continue

            if expanded_property == "@graph":
                exp = expand(value, "@graph", active_context, options)
                exp = exp if isinstance(exp, list) else [exp]
                result["@graph"] = [v for v in exp if v is not None]
                continue

            if expanded_property == "@reverse":
                if not isinstance(value, dict):
                    raise err.InvalidReverseValue(repr(value))
                expanded = expand(value, "@reverse", active_context, options)
                if isinstance(expanded, dict) and "@reverse" in expanded:
                    # double reverse → forward
                    for prop, items in expanded["@reverse"].items():
                        _add_value(result, prop, items)
                if isinstance(expanded, dict) and (
                    set(expanded) - {"@reverse"}
                ):
                    # only create the @reverse map when non-double-reverse
                    # members remain (expand.rb:586: `|| value.length > 1`)
                    rev = result.setdefault("@reverse", {})
                    for prop, items in expanded.items():
                        if prop == "@reverse":
                            continue
                        for item in items:
                            if isinstance(item, dict) and (
                                "@value" in item or "@list" in item
                            ):
                                raise err.InvalidReversePropertyValue(prop)
                            _add_value(rev, prop, item)
                continue

            if expanded_property == "@nest":
                nests.append(key)
                continue

            if expanded_property == "@annotation":
                if not options.rdfstar:
                    # the reference silently skips @annotation unless
                    # rdfstar (expand.rb:617-619); drop WITH a warning row
                    # so annotated input is observable in lineage instead
                    # of silently losing data
                    options.warnings.append(
                        f"unsupported @annotation (RDF-star) dropped at {key!r}"
                    )
                    continue
                exp = expand(value, "@annotation", active_context, options)
                result["@annotation"] = (
                    exp if isinstance(exp, list) else ([] if exp is None else [exp])
                )
                continue

            if frame and expanded_property in (
                "@default",
                "@embed",
                "@explicit",
                "@omitDefault",
                "@requireAll",
                "@preserve",
            ):
                exp = expand(value, expanded_property, active_context, options)
                result[expanded_property] = exp
                continue

            # other keywords with unrecognized placement are ignored
            continue

        # --- non-keyword property -------------------------------------------
        key_td = active_context.term(key)
        container = key_td.container_mapping if key_td else frozenset()

        if key_td is not None and key_td.type_mapping == "@json":
            expanded_value = {"@value": value, "@type": "@json"}
        elif "@language" in container and isinstance(value, dict):
            expanded_value = _expand_language_map(
                value, key_td, active_context, options
            )
        elif (
            container & {"@index", "@type", "@id"}
            and isinstance(value, dict)
        ):
            expanded_value = _expand_index_map(
                key, value, key_td, container, active_context, options
            )
        else:
            expanded_value = expand(value, key, active_context, options)

        if expanded_value is None:
            continue

        if "@list" in container and not (
            isinstance(expanded_value, dict) and "@list" in expanded_value
        ):
            ev = (
                expanded_value
                if isinstance(expanded_value, list)
                else [expanded_value]
            )
            expanded_value = {"@list": ev}

        if (container - {"@set"}) == {"@graph"}:
            # a pure @graph container wraps EVERY value — even one that
            # already expanded to a graph object (expand.rb:777-782, no
            # graph? exemption: {"@graph": {...}} nests a graph in a graph)
            ev = expanded_value if isinstance(expanded_value, list) else [expanded_value]
            expanded_value = [
                {"@graph": v if isinstance(v, list) else [v]} for v in ev
            ]

        if key_td is not None and key_td.reverse_property:
            rev = result.setdefault("@reverse", {})
            ev = expanded_value if isinstance(expanded_value, list) else [expanded_value]
            for item in ev:
                if isinstance(item, dict) and ("@value" in item or "@list" in item):
                    raise err.InvalidReversePropertyValue(key)
                _add_value(rev, expanded_property, item)
        else:
            _add_value(result, expanded_property, expanded_value)

    # step 14: process nested values
    for nest_key in nests:
        # the nest term's own scoped context applies to the nested
        # content (expand.rb:815-822 — an alias of @nest may carry a
        # property-scoped @context)
        nest_ctx = active_context
        ntd = active_context.term(nest_key)
        if ntd is not None and ntd.local_context is not UNSET:
            nest_ctx = active_context.parse(
                ntd.local_context, base_url=ntd.base_url, override_protected=True
            )
        nested_values = element[nest_key]
        nvs = nested_values if isinstance(nested_values, list) else [nested_values]
        for nv in nvs:
            if not isinstance(nv, dict) or any(
                nest_ctx.expand_iri(k, vocab=True) == "@value" for k in nv
            ):
                raise err.InvalidNestValue(repr(nv))
            _expand_object(
                nv,
                active_property,
                nest_ctx,
                result,
                [],
                input_type,
                options,
            )


def _is_node_object(v) -> bool:
    return isinstance(v, dict) and "@value" not in v and "@list" not in v and "@set" not in v


def _embedded_statement_count(node) -> int:
    """Statements an expanded embedded node would yield in toRdf —
    the reference counts item_to_rdf's enumerator (expand.rb:332-341);
    nested embedded @id subjects contribute the quoted term, not extra
    asserted statements."""
    if not isinstance(node, dict):
        return 0
    n = 0
    for k, vals in node.items():
        if k == "@id":
            continue
        if k == "@type":
            n += len(vals) if isinstance(vals, list) else 1
        elif k == "@reverse":
            n += sum(len(v) for v in vals.values()) if isinstance(vals, dict) else 1
        elif k.startswith("@"):
            continue
        else:
            for v in vals if isinstance(vals, list) else [vals]:
                if isinstance(v, dict) and "@list" in v:
                    # list conversion yields first/rest cons statements
                    n += 1 + 2 * len(v["@list"])
                else:
                    n += 1
    return n


def _expand_language_map(value: dict, td, active_context: Context, options):
    """@container: @language (expand.rb:642-672)."""
    result = []
    direction = (
        td.direction_mapping
        if td is not None and td.direction_mapping is not UNSET
        else active_context.default_direction
    )
    for lang in _keys(value, options.ordered):
        items = value[lang]
        items = items if isinstance(items, list) else [items]
        exp_lang = active_context.expand_iri(lang, vocab=True)
        for item in items:
            if item is None:
                continue
            if not isinstance(item, str):
                raise err.InvalidLanguageMapValue(repr(item))
            if not is_well_formed_language(lang) and exp_lang != "@none":
                options.warnings.append(f"malformed language tag {lang!r}")
            v: dict[str, Any] = {"@value": item}
            if exp_lang != "@none":
                # map-key case preserved (expand.rb:666 lowercases only
                # under lowercaseLanguage); RDF emission lowercases tags
                v["@language"] = lang
            if direction:
                v["@direction"] = direction
            result.append(v)
    return result


def _expand_index_map(key, value, td, container, active_context: Context, options):
    """@container ∩ {@index,@id,@type} maps (expand.rb:673-753)."""
    result = []
    index_key = (td.index_mapping if td else None) or "@index"
    as_graph = "@graph" in container
    # container_context (expand.rb:681-693): @type maps clear type-scoped
    # terms via previous_context; @id maps apply the term's own scoped
    # context (e.g. a scoped @base resolving the map keys)
    if "@type" in container and active_context.previous_context is not None:
        container_context = active_context.previous_context
    elif "@id" in container and td is not None and td.local_context is not UNSET:
        container_context = active_context.parse(
            td.local_context, base_url=td.base_url, propagate=False
        )
    else:
        container_context = active_context
    for index in _keys(value, options.ordered):
        items = value[index]
        map_context = container_context
        if "@type" in container:
            # the index term's scoped context applies when expanding values
            itd = container_context.term(index)
            if itd is not None and itd.local_context is not UNSET:
                map_context = container_context.parse(
                    itd.local_context, base_url=itd.base_url, propagate=False
                )
        expanded_index = container_context.expand_iri(index, vocab=True)
        items = items if isinstance(items, list) else [items]
        expanded_items = expand(items, key, map_context, options, True)
        expanded_items = (
            expanded_items if isinstance(expanded_items, list) else [expanded_items]
        )
        for item in expanded_items:
            if item is None:
                continue
            # graph?(item) test mirrors utils.rb:60/225 — @context/@id/
            # @index may accompany @graph (a NAMED graph object passes
            # through; re-wrapping it would nest a graph inside a graph)
            if as_graph and not (
                "@graph" in item
                and set(item) <= {"@graph", "@index", "@id", "@context"}
            ):
                item = {"@graph": item if isinstance(item, list) else [item]}
            if "@index" in container and expanded_index != "@none":
                if index_key != "@index":
                    # property-valued index (@index: prop) — illegal on
                    # value objects (expand.rb:723-724)
                    if "@value" in item:
                        raise err.InvalidValueObject(
                            f"attempt to add illegal key to value object: {index_key}"
                        )
                    idx_prop = container_context.expand_iri(index_key, vocab=True)
                    reexp = container_context.expand_value(index_key, index)
                    item = dict(item)
                    prev = item.get(idx_prop, [])
                    item[idx_prop] = [reexp] + (
                        prev if isinstance(prev, list) else [prev]
                    )
                elif isinstance(item, dict) and "@index" not in item:
                    item = dict(item)
                    item["@index"] = index
            elif "@id" in container and expanded_index != "@none":
                if "@id" not in item:
                    item = dict(item)
                    item["@id"] = container_context.expand_iri(
                        index, document_relative=True, base=options.base
                    )
            elif "@type" in container and expanded_index != "@none":
                item = dict(item)
                prev = item.get("@type", [])
                prev = prev if isinstance(prev, list) else [prev]
                item["@type"] = [expanded_index] + prev
            result.append(item)
    return result


def expand_document(
    doc,
    context=None,
    base: str | None = None,
    cache=None,
    expand_context=None,
    ordered: bool = False,
    frame_expansion: bool = False,
    processing_mode: str = "json-ld-1.1",
    warnings_out: list | None = None,
    rdfstar: bool = False,
) -> list:
    """Top-level API.expand equivalent (reference api.rb:183-208).

    ``doc`` is a parsed JSON value; returns the expanded array form.
    """
    from .context import Context

    ctx = Context(base=base, processing_mode=processing_mode, cache=cache)
    if expand_context is not None:
        ec = expand_context
        if isinstance(ec, dict) and "@context" in ec:
            ec = ec["@context"]
        ctx = ctx.parse(ec, base_url=base)
    if context is not None:
        ctx = ctx.parse(context, base_url=base)
    options = ExpandOptions(
        ordered=ordered, frame_expansion=frame_expansion, base=base, rdfstar=rdfstar
    )
    expanded = expand(doc, None, ctx, options)
    if warnings_out is not None:
        warnings_out.extend(options.warnings)
    if isinstance(expanded, dict) and list(expanded) == ["@graph"]:
        expanded = expanded["@graph"]
    if expanded is None:
        return []
    return expanded if isinstance(expanded, list) else [expanded]


def expand_input(
    input_,
    context=None,
    base: str | None = None,
    cache=None,
    expand_context=None,
    validate: bool = False,
    **kwargs,
) -> list:
    """API.expand over an UNRESOLVED input — a URL (fetched through the
    offline loader), a file-like, or a parsed document — mirroring
    API#initialize (api.rb:117-160): the RemoteDocument's documentUrl
    becomes the base, and its contextUrl (Link header recorded by the
    loader) becomes the default active context when none is provided, so
    loading a document also loads its linked context through the loader
    (api_spec.rb "#initialize loads document with loader and loads
    context")."""
    from .context import load_api_input

    doc, doc_base, context_ref = load_api_input(
        input_, cache=cache, base=base, validate=validate
    )
    return expand_document(
        doc,
        context=context if context is not None else context_ref,
        base=doc_base,
        cache=cache,
        expand_context=expand_context,
        **kwargs,
    )
