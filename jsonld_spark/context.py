"""JSON-LD 1.1 active-context processing.

From-scratch implementation of the W3C JSON-LD 1.1 API "Context
Processing" / "Create Term Definition" / "IRI Expansion" / "Value
Expansion" algorithms (https://www.w3.org/TR/json-ld11-api/).

Capability parity with the reference's ``Context`` class
(/root/reference/lib/json/ld/context.rb:243-451 parse,
512-855 create_term_definition, 1301-1384 expand_iri,
1612-1647 expand_value) but written Spark-first: a ``Context`` is an
immutable-after-parse pure-Python object built on the driver and
shipped to executors inside a broadcast variable; remote contexts are
resolved ONLY against an offline cache dict (executors never touch the
network — see pipeline.py).
"""

from __future__ import annotations

import json
import re
from typing import Any, Mapping

from . import errors as err
from .iri import (
    KEYWORDS,
    has_keyword_form,
    is_absolute_iri,
    is_blank_node_id,
    is_iri,
    is_keyword,
    is_well_formed_language,
    resolve_iri,
)

# Cap on remote contexts dereferenced while resolving one document
# (reference: MAX_CONTEXTS_LOADED, lib/json/ld.rb:111).
MAX_CONTEXTS_LOADED = 50

# Entries an IRI-expansion memo holds before it is cleared.  Terms and
# types repeat, but every node id is a fresh entry: without a cap a
# 200k-element dump spine (or a worker's pages sharing one memoized
# context template) keeps one entry per id it ever expanded.
IRI_MEMO_MAX = 10_000

# Sentinel distinguishing "not set" from "explicitly null".
UNSET = object()

JSON_LD_1_0 = "json-ld-1.0"
JSON_LD_1_1 = "json-ld-1.1"

_CONTAINER_VALUES = frozenset(
    {"@graph", "@id", "@index", "@language", "@list", "@set", "@type"}
)


def canon_context_url(url: str) -> str:
    """Cache-key canonicalization: https→http (reference does the same for
    cache hits, context.rb:297-298)."""
    if url.startswith("https://"):
        return "http://" + url[len("https://") :]
    return url


class ContextCache:
    """Offline remote-context store.

    Plain dict of canonical URL → JSON text (or parsed dict).  Built on
    the driver from fixtures / preloaded vocabularies; broadcast to
    executors.  ``version`` is recorded in pipeline lineage rows.
    """

    def __init__(self, entries: Mapping[str, Any] | None = None, version: str = "v0"):
        self.version = version
        self._entries: dict[str, Any] = {}
        # memo of parsed base-independent contexts (json-serialized ctx →
        # Context); per-process, rebuilt on executors — the Python analog
        # of the reference's INITIAL_CONTEXTS/inverse caches
        # (context.rb:18-26, 154-178)
        self._parse_memo: dict[str, "Context"] = {}
        if entries:
            for url, body in entries.items():
                self.add(url, body)

    def add(self, url: str, body: Any) -> None:
        if isinstance(body, (bytes, bytearray)):
            body = body.decode("utf-8")
        if isinstance(body, str):
            body = json.loads(body)
        self._entries[canon_context_url(url)] = body

    def get(self, url: str):
        return self._entries.get(canon_context_url(url))

    def __contains__(self, url: str) -> bool:
        return canon_context_url(url) in self._entries

    def __len__(self) -> int:
        return len(self._entries)


EMPTY_CACHE = ContextCache()

_JSON_CT_RE = re.compile(r"application/(\w[\w.-]*\+)?json$")


def _remote_entry_meta(entry: dict):
    """Shared unwrap of a wrapped RemoteDocument cache entry → (content
    type with parameters stripped, normalized Link-context list, raw
    document).  Both loaders (`_resolve_remote_document` for contexts,
    `load_api_input` for API inputs) go through here so content-type and
    Link-header normalization cannot drift apart; each caller applies
    its own at-most-one-Link validation (the reference raises only in
    the branch that would USE the link, api.rb:646-658)."""
    ct = entry.get("contentType", "application/ld+json")
    if isinstance(ct, str):
        # strip media-type parameters ("application/ld+json; charset=…")
        # before matching — loaders record them verbatim
        ct = ct.split(";", 1)[0].strip()
    links = entry.get("contextUrl") or []
    if isinstance(links, str):
        links = [links]
    return ct, links, entry.get("document")


def _at_most_one_link(links, url: str):
    if len(links) > 1:
        raise err.MultipleContextLinkHeaders(
            f"expected at most 1 Link header with rel=jsonld:context, "
            f"got {len(links)} at {url}"
        )


def _resolve_remote_document(
    body, ctx_url: str, cache: ContextCache, _seen: frozenset = frozenset()
):
    """loadRemoteDocument content-negotiation semantics over the offline
    cache (reference api.rb:645-690).  A cache entry may be a wrapped
    RemoteDocument — ``{"@remote-document": true, "contentType": ...,
    "contextUrl": [...], "document": ...}`` — mirroring what an HTTP
    loader would return.  For a non-ld+json JSON content type: zero or
    one ``rel=http://www.w3.org/ns/json-ld#context`` link is followed
    (resolved against the document URL); more than one raises
    ``multiple context link headers`` exactly like the reference.
    ``_seen`` guards Link-header reference cycles (two wrapped entries
    pointing at each other) — a crafted cache must raise, not
    RecursionError."""
    if not (isinstance(body, dict) and body.get("@remote-document")):
        return body
    ct, links, doc = _remote_entry_meta(body)
    if ct != "application/ld+json" and _JSON_CT_RE.match(ct or ""):
        _at_most_one_link(links, ctx_url)
        if links:
            linked_url = resolve_iri(ctx_url, links[0])
            if linked_url in _seen:
                raise err.LoadingRemoteContextFailed(
                    f"context link header cycle at {linked_url}"
                )
            linked = cache.get(linked_url)
            if linked is None:
                raise err.LoadingRemoteContextFailed(linked_url)
            return _resolve_remote_document(
                linked, linked_url, cache, _seen | {linked_url}
            )
    elif ct != "application/ld+json" and ct is not None:
        # Neither ld+json nor any +json type (e.g. text/html): the
        # reference's loader fails with "loading document failed"
        # (api.rb:660-668) rather than silently treating the body as
        # JSON-LD.
        raise err.LoadingRemoteContextFailed(
            f"{ctx_url}: unsupported content type {ct!r}"
        )
    return doc


def _json_parse_validating(text: str, validate: bool):
    """Parse JSON text; under ``validate`` (reference ``validate: true``,
    backed by jsonlint) duplicate object keys raise LoadingDocumentFailed
    (api_spec.rb "detects invalid JSON")."""
    if not validate:
        return json.loads(text)

    def hook(pairs):
        d: dict = {}
        for k, v in pairs:
            if k in d:
                raise err.LoadingDocumentFailed(f"duplicate key {k!r}")
            d[k] = v
        return d

    return json.loads(text, object_pairs_hook=hook)


def load_api_input(
    input_,
    cache: "ContextCache | None" = None,
    base: str | None = None,
    validate: bool = False,
):
    """API#initialize input resolution (reference api.rb:117-160).

    - a parsed dict/list passes through unchanged;
    - a file-like (``.read()``) is JSON-parsed (validate-mode duplicate
      keys raise LoadingDocumentFailed);
    - a string URL is fetched through the offline loader (the broadcast
      cache).  A wrapped RemoteDocument entry surfaces its
      ``documentUrl`` (new base — unless the caller passed an explicit
      ``base``, which WINS, mirroring api.rb:690
      ``remote_doc.documentUrl = base if base``) and ``contextUrl`` —
      the Link-header context the loader recorded, which initialize
      uses as the DEFAULT active context (``context ||= context_ref``,
      api.rb:156); a RELATIVE contextUrl resolves against the effective
      final base.

    → ``(document, base, context_ref)``; ``context_ref`` is the
    contextUrl string or None.

    Validate-mode duplicate-key detection applies wherever TEXT reaches
    this parser: file-like inputs and wrapped RemoteDocument string
    bodies.  Unwrapped cache entries are already-parsed JSON (the
    broadcast cache ships parsed values cluster-wide by design), so
    their duplicates were collapsed last-wins at cache build time.
    """
    cache = cache if cache is not None else EMPTY_CACHE
    context_ref = None
    doc_base = base
    if isinstance(input_, (dict, list)):
        return input_, doc_base, None
    if hasattr(input_, "read"):
        text = input_.read()
        if isinstance(text, (bytes, bytearray)):
            text = text.decode("utf-8")
        try:
            return _json_parse_validating(text, validate), doc_base, None
        except ValueError as e:
            raise err.LoadingDocumentFailed(str(e)) from e
    if not isinstance(input_, str):
        raise err.LoadingDocumentFailed(f"unsupported input {type(input_).__name__}")
    entry = cache.get(input_)
    if entry is None:
        raise err.LoadingDocumentFailed(input_)
    doc_base = base or input_
    if isinstance(entry, dict) and entry.get("@remote-document"):
        ct, links, doc = _remote_entry_meta(entry)
        if ct != "application/ld+json" and not _JSON_CT_RE.match(ct or ""):
            raise err.LoadingDocumentFailed(
                f"{input_}: unsupported content type {ct!r}"
            )
        # a loader can only have recorded >1 rel=jsonld:context header
        # from a response loadRemoteDocument itself rejects — defensive
        _at_most_one_link(links, input_)
        # explicit base wins over the loader's documentUrl (api.rb:690)
        if base is None:
            doc_base = entry.get("documentUrl") or doc_base
        if links:
            # a relative Link context resolves against the EFFECTIVE
            # final base (api.rb:133-134 set documentUrl before
            # Context.parse sees the ref)
            context_ref = resolve_iri(doc_base, links[0])
        if isinstance(doc, str):
            try:
                doc = _json_parse_validating(doc, validate)
            except ValueError as e:
                raise err.LoadingDocumentFailed(str(e)) from e
        return doc, doc_base, context_ref
    return entry, doc_base, None


class TermDefinition:
    """One term's mappings (reference: context.rb:2103-2357)."""

    __slots__ = (
        "term",
        "iri_mapping",
        "prefix",
        "protected",
        "reverse_property",
        "base_url",
        "local_context",
        "container_mapping",
        "direction_mapping",
        "index_mapping",
        "language_mapping",
        "nest_value",
        "type_mapping",
        "simple",
        "explicit_prefix",
    )

    def __init__(self, term: str):
        self.term = term
        self.iri_mapping: str | None = None
        self.prefix = False
        self.protected = False
        self.reverse_property = False
        self.base_url: str | None = None
        self.local_context: Any = UNSET  # scoped @context (kept raw, parsed lazily)
        self.container_mapping: frozenset[str] = frozenset()
        self.direction_mapping: Any = UNSET  # UNSET | None | "ltr" | "rtl"
        self.index_mapping: str | None = None
        self.language_mapping: Any = UNSET  # UNSET | None | str
        self.nest_value: str | None = None
        self.type_mapping: str | None = None
        # serialization bookkeeping (context.rb TermDefinition@simple /
        # explicit @prefix): whether the term was defined by a plain
        # string, and whether @prefix appeared in the definition dict
        self.simple = False
        self.explicit_prefix = False

    # slots the reference's TermDefinition#== compares (context.rb:2317)
    # — NOT the bookkeeping slots (simple, explicit_prefix, base_url):
    # {"@protected": true, "foo": "iri"} then {"foo": {"@id": "iri"}} is
    # an ACCEPTED identical redefinition even though `simple` differs
    # container_mapping here includes @set, covering the reference's
    # separate as_set? comparison
    _SPEC_SLOTS = (
        "iri_mapping",
        "term",
        "type_mapping",
        "container_mapping",
        "nest_value",
        "language_mapping",
        "direction_mapping",
        "reverse_property",
        "index_mapping",
        "local_context",
        "prefix",
    )

    def same_mappings(self, other: "TermDefinition") -> bool:
        """Equality ignoring ``protected`` and non-spec bookkeeping —
        used by the protected-term redefinition check."""
        return all(
            getattr(self, s, None) == getattr(other, s, None)
            for s in self._SPEC_SLOTS
        )

    def clone(self) -> "TermDefinition":
        td = TermDefinition(self.term)
        for s in self.__slots__:
            if s != "term":
                setattr(td, s, getattr(self, s))
        return td

    def __eq__(self, other):
        return isinstance(other, TermDefinition) and all(
            getattr(self, s) == getattr(other, s) for s in self.__slots__
        )

    def __repr__(self):  # pragma: no cover
        return f"<TermDefinition {self.term!r} -> {self.iri_mapping!r}>"


class Context:
    """Active context. Treat as immutable once parsed; ``parse`` returns a
    new Context."""

    __slots__ = (
        "term_definitions",
        "base",
        "original_base",
        "vocab",
        "default_language",
        "default_direction",
        "previous_context",
        "processing_mode",
        "cache",
        "validate",
        "explicit_version",
        "_inverse",
        "_iri_memo",
        "_iri_memo_vocab",
    )

    def __init__(
        self,
        base: str | None = None,
        processing_mode: str = JSON_LD_1_1,
        cache: ContextCache | None = None,
        validate: bool = False,
    ):
        self.term_definitions: dict[str, TermDefinition] = {}
        self.base = base
        self.original_base = base
        self.vocab: str | None = None
        self.default_language: str | None = None
        self.default_direction: str | None = None
        self.previous_context: Context | None = None
        self.processing_mode = processing_mode
        self.cache = cache if cache is not None else EMPTY_CACHE
        # strict spec validation (reference ``validate: true``): extra
        # checks the API default skips, e.g. rejecting the empty term
        self.validate = validate
        # True once a parsed context carried an explicit @version —
        # serialize() re-emits @version only then (matching the
        # reference's observed output, context_spec #serialize)
        self.explicit_version = False
        self._inverse: dict | None = None
        self._iri_memo: dict = {}
        self._iri_memo_vocab: dict = {}

    # -- plumbing ------------------------------------------------------------

    def clone(self) -> "Context":
        c = Context(self.base, self.processing_mode, self.cache, self.validate)
        c.explicit_version = self.explicit_version
        c.term_definitions = dict(self.term_definitions)
        c.original_base = self.original_base
        c.vocab = self.vocab
        c.default_language = self.default_language
        c.default_direction = self.default_direction
        c.previous_context = self.previous_context
        return c

    def term(self, name) -> TermDefinition | None:
        if isinstance(name, str):
            return self.term_definitions.get(name)
        return None

    def has_terms(self) -> bool:
        return bool(
            self.term_definitions
            or self.vocab
            or self.default_language
            or self.default_direction
        )

    # -- 4.1 Context Processing ----------------------------------------------

    def parse(
        self,
        local_context,
        base_url: str | None = None,
        remote_contexts: tuple[str, ...] = (),
        override_protected: bool = False,
        propagate: bool = True,
        validate_scoped: bool = True,
    ) -> "Context":
        result = self.clone()
        result._inverse = None

        if (
            isinstance(local_context, dict)
            and "@propagate" in local_context
        ):
            prop = local_context["@propagate"]
            if not isinstance(prop, bool):
                raise err.InvalidPropagateValue(repr(prop))
            propagate = prop

        if not propagate and result.previous_context is None:
            prev = self.clone()
            result.previous_context = prev

        items = local_context if isinstance(local_context, list) else [local_context]
        if not items:
            return result

        for context in items:
            if context is None:
                # null → reset (keep base per API option; spec resets to a
                # context with only original base)
                if not override_protected and any(
                    td.protected for td in result.term_definitions.values()
                ):
                    raise err.InvalidContextNullification(
                        "attempt to clear a context with protected terms"
                    )
                fresh = Context(
                    self.original_base, self.processing_mode, self.cache
                )
                if not propagate:
                    fresh.previous_context = result.previous_context
                result = fresh
                continue

            if isinstance(context, str):
                # remote context
                ctx_url = resolve_iri(base_url, context)
                if len(remote_contexts) >= MAX_CONTEXTS_LOADED:
                    raise err.ContextOverflow(ctx_url)
                if canon_context_url(ctx_url) in {
                    canon_context_url(u) for u in remote_contexts
                }:
                    # already being processed → cycle; spec says error unless
                    # validate_scoped is False
                    if validate_scoped:
                        raise err.ContextOverflow(f"cyclic context {ctx_url}")
                    continue
                body = result.cache.get(ctx_url)
                if body is None:
                    raise err.LoadingRemoteContextFailed(ctx_url)
                body = _resolve_remote_document(body, ctx_url, result.cache)
                if not isinstance(body, dict) or "@context" not in body:
                    # allow a bare context object in the cache
                    if isinstance(body, dict):
                        loaded = body
                    else:
                        raise err.InvalidRemoteContext(ctx_url)
                else:
                    loaded = body["@context"]
                result = result.parse(
                    loaded,
                    base_url=ctx_url,
                    remote_contexts=remote_contexts + (ctx_url,),
                    override_protected=override_protected,
                    validate_scoped=validate_scoped,
                )
                continue

            if not isinstance(context, dict):
                raise err.InvalidLocalContext(repr(context))

            # @version
            if "@version" in context:
                v = context["@version"]
                if v != 1.1:
                    raise err.InvalidVersionValue(repr(v))
                if self.processing_mode == JSON_LD_1_0:
                    raise err.ProcessingModeConflict("@version: 1.1 in 1.0 mode")
                result.explicit_version = True

            # @propagate: validated per context object (context.rb:993);
            # the effective flag is read from the top-level dict above
            if "@propagate" in context:
                if result.processing_mode == JSON_LD_1_0:
                    raise err.InvalidContextEntry("@propagate in 1.0 mode")
                if not isinstance(context["@propagate"], bool):
                    raise err.InvalidPropagateValue(repr(context["@propagate"]))

            # @import
            if "@import" in context:
                if result.processing_mode == JSON_LD_1_0:
                    raise err.InvalidContextEntry("@import in 1.0 mode")
                imp = context["@import"]
                if not isinstance(imp, str):
                    raise err.InvalidImportValue(repr(imp))
                imp_url = resolve_iri(base_url, imp)
                body = result.cache.get(imp_url)
                if body is None:
                    raise err.LoadingRemoteContextFailed(imp_url)
                body = _resolve_remote_document(body, imp_url, result.cache)
                imported = body.get("@context", body) if isinstance(body, dict) else None
                if not isinstance(imported, dict):
                    raise err.InvalidRemoteContext(imp_url)
                if "@import" in imported:
                    raise err.InvalidContextEntry("@import inside imported context")
                merged = dict(imported)
                merged.update(context)
                context = merged

            # @base (ignored for remote contexts per spec — remote signalled
            # by non-empty remote_contexts)
            if "@base" in context and not remote_contexts:
                value = context["@base"]
                if value is None:
                    result.base = None
                elif isinstance(value, str) and is_absolute_iri(value):
                    result.base = value
                elif isinstance(value, str) and result.base is not None:
                    result.base = resolve_iri(result.base, value)
                else:
                    raise err.InvalidBaseIRI(repr(value))

            # @direction
            if "@direction" in context:
                if result.processing_mode == JSON_LD_1_0:
                    raise err.InvalidContextEntry("@direction in 1.0 mode")
                value = context["@direction"]
                if value is None:
                    result.default_direction = None
                elif value in ("ltr", "rtl"):
                    result.default_direction = value
                else:
                    raise err.InvalidBaseDirection(repr(value))

            # @vocab
            if "@vocab" in context:
                value = context["@vocab"]
                if value is None:
                    result.vocab = None
                elif isinstance(value, str):
                    if value == "":
                        result.vocab = result.base
                    elif is_blank_node_id(value):
                        result.vocab = value
                    elif is_absolute_iri(value):
                        result.vocab = value
                    elif result.processing_mode != JSON_LD_1_0:
                        # 1.1: relative @vocab resolved against vocab/base
                        if result.vocab:
                            result.vocab = result.vocab + value
                        elif result.base is not None:
                            result.vocab = resolve_iri(result.base, value)
                        else:
                            raise err.InvalidVocabMapping(repr(value))
                    else:
                        raise err.InvalidVocabMapping(repr(value))
                else:
                    raise err.InvalidVocabMapping(repr(value))

            # @language
            if "@language" in context:
                value = context["@language"]
                if value is None:
                    result.default_language = None
                elif isinstance(value, str):
                    # case PRESERVED (context.rb:788 lowercases only under
                    # the lowercaseLanguage option); matching lowercases
                    # at inverse-context/compaction time instead
                    result.default_language = value
                else:
                    raise err.InvalidDefaultLanguage(repr(value))

            protected = context.get("@protected", False)
            if not isinstance(protected, bool):
                raise err.InvalidProtectedValue(repr(context.get("@protected")))
            if protected and result.processing_mode == JSON_LD_1_0:
                raise err.InvalidContextEntry("@protected in 1.0 mode")

            defined: dict[str, bool] = {}
            for key in context:
                if key in (
                    "@base",
                    "@direction",
                    "@import",
                    "@language",
                    "@propagate",
                    "@protected",
                    "@version",
                    "@vocab",
                ):
                    continue
                create_term_definition(
                    result,
                    context,
                    key,
                    defined,
                    base_url=base_url,
                    protected=protected,
                    override_protected=override_protected,
                    remote_contexts=remote_contexts,
                    validate_scoped=validate_scoped,
                )
        return result

    # -- 4.2 invoked per term ------------------------------------------------

    # (module-level function below; method alias for convenience)

    # -- 5.2 IRI Expansion -----------------------------------------------------

    def expand_iri(
        self,
        value,
        document_relative: bool = False,
        vocab: bool = False,
        local_context: dict | None = None,
        defined: dict | None = None,
        base: str | None = None,
    ):
        if not isinstance(value, str) or is_keyword(value):
            return value
        if local_context is None:
            # hot path (38k calls per 2k docs in profiling) — memoize.
            # document_relative=False results depend only on term
            # definitions + vocab → shared across clones of a memoized
            # template context (parse_initial_cached); doc-relative
            # results depend on base → per-instance memo.
            if document_relative:
                memo = self._iri_memo
                key = (value, vocab, base)
            else:
                memo = self._iri_memo_vocab
                key = (value, vocab)
            hit = memo.get(key, UNSET)
            if hit is not UNSET:
                return hit
            result = self._expand_iri_uncached(value, document_relative, vocab, base)
            if len(memo) >= IRI_MEMO_MAX:
                memo.clear()
            memo[key] = result
            return result
        return self._expand_iri_full(
            value, document_relative, vocab, local_context, defined, base
        )

    def expand_key(self, value: str):
        """Hot-path ``expand_iri(value, vocab=True)`` for dict KEYS (always
        str — JSON object keys).  One dict probe on the shared vocab memo
        (plain-string keys can't collide with the tuple keys expand_iri
        uses); keywords memoize to themselves."""
        memo = self._iri_memo_vocab
        hit = memo.get(value, UNSET)
        if hit is not UNSET:
            return hit
        result = (
            value
            if value in KEYWORDS
            else self._expand_iri_uncached(value, False, True, None)
        )
        if len(memo) >= IRI_MEMO_MAX:
            memo.clear()
        memo[value] = result
        return result

    def _expand_iri_uncached(self, value, document_relative, vocab, base):
        return self._expand_iri_full(value, document_relative, vocab, None, None, base)

    def _expand_iri_full(
        self, value, document_relative, vocab, local_context, defined, base
    ):
        if has_keyword_form(value):
            # looks like a keyword but isn't → warn & return None (dropped)
            return None
        if local_context is not None and value in local_context and not defined.get(value):
            create_term_definition(self, local_context, value, defined)
        td = self.term_definitions.get(value)
        if td is not None and (is_keyword(td.iri_mapping) or vocab):
            return td.iri_mapping
        if len(value) > 1 and ":" in value[1:]:
            prefix, suffix = value.split(":", 1)
            if prefix == "_" or suffix.startswith("//"):
                return value  # bnode or already-absolute w/ authority
            if local_context is not None and prefix in local_context and not defined.get(prefix):
                create_term_definition(self, local_context, prefix, defined)
            ptd = self.term_definitions.get(prefix)
            if ptd is not None and ptd.iri_mapping and ptd.prefix:
                return ptd.iri_mapping + suffix
            if is_absolute_iri(value):
                return value
        if vocab and self.vocab is not None:
            return self.vocab + value
        if document_relative:
            b = base if base is not None else self.base
            if b is not None:
                return resolve_iri(b, value)
        return value

    # -- 5.3 Value Expansion ---------------------------------------------------

    def expand_value(self, active_property, value, base: str | None = None):
        td = self.term_definitions.get(active_property)
        type_mapping = td.type_mapping if td else None
        if type_mapping == "@id" and isinstance(value, str):
            return {"@id": self.expand_iri(value, document_relative=True, base=base)}
        if type_mapping == "@vocab" and isinstance(value, str):
            return {
                "@id": self.expand_iri(
                    value, vocab=True, document_relative=True, base=base
                )
            }
        result: dict[str, Any] = {"@value": value}
        if type_mapping not in (None, "@id", "@vocab", "@none"):
            result["@type"] = type_mapping
        elif isinstance(value, str):
            language = (
                td.language_mapping
                if td is not None and td.language_mapping is not UNSET
                else self.default_language
            )
            direction = (
                td.direction_mapping
                if td is not None and td.direction_mapping is not UNSET
                else self.default_direction
            )
            if language is not None:
                result["@language"] = language
            if direction is not None:
                result["@direction"] = direction
        return result

    # -- inverse context (compaction) — built lazily -------------------------

    def inverse(self) -> dict:
        if self._inverse is None:
            self._inverse = _create_inverse_context(self)
        return self._inverse

    def reverse_term(self, term):
        """→ the TermDefinition that REVERSES ``term`` (same IRI mapping,
        opposite ``reverse_property``), or None — the writer-side helper
        for picking a reverse term over emitting ``@reverse`` maps
        (reference context.rb:1267-1281).  ``term`` may be a term name,
        a TermDefinition, or an IRI."""
        if isinstance(term, str) and term in self.term_definitions:
            term = self.term_definitions[term]
        if not isinstance(term, TermDefinition):
            td = next(
                (t for t in self.term_definitions.values() if t.iri_mapping == str(term)),
                None,
            )
            if td is None:
                td = TermDefinition(str(term))
                td.iri_mapping = self.expand_iri(str(term), vocab=True)
            term = td
        return next(
            (
                t
                for t in self.term_definitions.values()
                if t.iri_mapping == term.iri_mapping
                and t.reverse_property != term.reverse_property
            ),
            None,
        )

    # -- Context#serialize (reference context.rb:1010-1043) ------------------

    def serialize(self, provided_context=None) -> dict:
        """→ ``{"@context": ...}`` re-serializing this active context —
        the writer-side API (Writer#write_epilogue embeds it in compacted
        output).  ``provided_context`` short-circuits with a
        caller-supplied context exactly like the reference.  ``@version``
        is emitted only when an explicitly-parsed context carried it;
        ``@base`` only when a context (not the API option) set it."""
        if isinstance(provided_context, str):
            use = provided_context
        elif isinstance(provided_context, dict):
            use = provided_context.get("@context", provided_context)
        elif isinstance(provided_context, list):
            use = provided_context
        else:
            ctx: dict = {}
            if self.explicit_version:
                ctx["@version"] = 1.1
            if self.base is not None and self.base != self.original_base:
                ctx["@base"] = self.base
            if self.default_direction is not None:
                ctx["@direction"] = self.default_direction
            if self.default_language is not None:
                ctx["@language"] = self.default_language
            if self.vocab is not None:
                ctx["@vocab"] = self.vocab
            for term, td in self.term_definitions.items():
                d = self._term_to_context_definition(term, td)
                if d is not None:
                    ctx[term] = d
            use = ctx
        if use is None or use == {} or use == []:
            return {}
        return {"@context": use}

    def _term_to_context_definition(self, term: str, td: TermDefinition):
        """TermDefinition#to_context_definition (context.rb:2251-2287):
        the term definition as it would appear in a context document,
        IRIs compacted against this context."""
        tid = td.iri_mapping
        if self.vocab and isinstance(tid, str) and tid.startswith(self.vocab):
            cid = self.vocab if tid == self.vocab else tid[len(self.vocab):]
        else:
            cid = tid
            if isinstance(tid, str):
                for other_term, otd in self.term_definitions.items():
                    oiri = otd.iri_mapping
                    if (
                        isinstance(oiri, str)
                        and oiri
                        and tid.startswith(oiri)
                        and oiri != tid
                        and other_term != term
                    ):
                        cid = f"{other_term}:{tid[len(oiri):]}"
                        break
        if td.simple:
            if cid == term and self.vocab:
                return None
            return cid
        defn: dict = {}
        if not (cid == term and not td.reverse_property):
            defn["@reverse" if td.reverse_property else "@id"] = cid
        if td.type_mapping is not None:
            if is_keyword(td.type_mapping):
                defn["@type"] = td.type_mapping
            else:
                from .compact import compact_iri

                defn["@type"] = compact_iri(self, td.type_mapping, vocab=True)
        cm = sorted(set(td.container_mapping) - {"@set"})
        if "@set" in td.container_mapping:
            cm.append("@set")
        if cm:
            defn["@container"] = cm[0] if len(cm) == 1 else cm
        if td.language_mapping is not UNSET:
            defn["@language"] = td.language_mapping
        if td.direction_mapping is not UNSET:
            defn["@direction"] = td.direction_mapping
        if td.local_context is not UNSET:
            defn["@context"] = td.local_context
        if td.nest_value is not None:
            defn["@nest"] = td.nest_value
        if td.index_mapping is not None:
            defn["@index"] = td.index_mapping
        if td.explicit_prefix:
            defn["@prefix"] = td.prefix
        return defn


def _base_independent(local_ctx) -> bool:
    """Conservative static check: parsing this context yields identical
    term definitions regardless of the document base IRI.  True for the
    dominant crawl shapes (inline contexts with absolute IRIs, absolute
    remote context URLs) — exactly the cases worth memoizing."""
    if local_ctx is None:
        return True
    if isinstance(local_ctx, str):
        return is_absolute_iri(local_ctx)
    if isinstance(local_ctx, list):
        return all(_base_independent(c) for c in local_ctx)
    if isinstance(local_ctx, dict):
        if "@base" in local_ctx or "@import" in local_ctx:
            return False
        v = local_ctx.get("@vocab")
        if isinstance(v, str) and not (is_absolute_iri(v) or v.startswith("_:")):
            return False
        for tv in local_ctx.values():
            if isinstance(tv, dict) and "@context" in tv:
                if not _base_independent(tv["@context"]):
                    return False
        return True
    return True


def parse_initial_cached(
    base: str | None,
    processing_mode: str,
    cache: ContextCache,
    local_ctx,
    base_url: str | None,
) -> Context:
    """Parse ``local_ctx`` against a PRISTINE active context, memoizing
    base-independent contexts process-wide (keyed by canonical JSON).

    This is the per-document hot path in the crawl pipeline: millions of
    pages share a handful of context templates, so the full
    create_term_definition walk runs once per template per executor —
    the in-UDF analog of the reference's preloaded-context registry
    (context.rb:34-44)."""
    try:
        # processing_mode is part of the key: a 1.0-mode parse raises on
        # 1.1 constructs that a memoized 1.1 parse would silently allow
        key = processing_mode + "\x00" + json.dumps(local_ctx, sort_keys=True)
    except (TypeError, ValueError):
        key = None
    if key is not None and _base_independent(local_ctx):
        hit = cache._parse_memo.get(key)
        if hit is None:
            probe = Context(None, processing_mode, cache)
            hit = probe.parse(local_ctx, base_url=base_url)
            if len(cache._parse_memo) > 10_000:
                cache._parse_memo.clear()
            cache._parse_memo[key] = hit
        ctx = hit.clone()
        ctx.base = base
        ctx.original_base = base
        # share the base-independent IRI memo with the cached template
        ctx._iri_memo_vocab = hit._iri_memo_vocab
        return ctx
    return Context(base, processing_mode, cache).parse(local_ctx, base_url=base_url)


def _validate_container(container, processing_mode: str) -> frozenset:
    """Validate @container per 1.1 rules; returns the normalized set."""
    vals = container if isinstance(container, list) else [container]
    if any(not isinstance(v, str) for v in vals):
        raise err.InvalidContainerMapping(repr(container))
    s = frozenset(vals)
    if not s <= _CONTAINER_VALUES:
        raise err.InvalidContainerMapping(repr(container))
    if processing_mode == JSON_LD_1_0:
        if isinstance(container, list) or s & {"@graph", "@id", "@type"}:
            raise err.InvalidContainerMapping(f"{container!r} not allowed in 1.0")
        return s
    if "@list" in s:
        if s != {"@list"}:
            raise err.InvalidContainerMapping(repr(container))
    elif "@graph" in s:
        if not s <= {"@graph", "@id", "@index", "@set"} or (
            "@id" in s and "@index" in s
        ):
            raise err.InvalidContainerMapping(repr(container))
    elif len(s - {"@set"}) > 1:
        raise err.InvalidContainerMapping(repr(container))
    return s


def create_term_definition(
    active: Context,
    local_context: dict,
    term: str,
    defined: dict,
    base_url: str | None = None,
    protected: bool = False,
    override_protected: bool = False,
    remote_contexts: tuple[str, ...] = (),
    validate_scoped: bool = True,
) -> None:
    """W3C 4.2 Create Term Definition (reference: context.rb:512-855)."""
    state = defined.get(term)
    if state is True:
        return
    if state is False:
        raise err.CyclicIRIMapping(term)
    if term == "" and active.validate:
        # W3C 4.2 step 2 treats the empty string as an invalid term; the
        # reference raises only under ``validate: true`` (context.rb:548,
        # term_valid? at 1789) and its API default accepts it — the
        # suite's test-6 fixture RELIES on the lenient default, while
        # context_spec.rb's 'invalid term definitions' runs validating.
        raise err.InvalidTermDefinition("empty term")
    defined[term] = False

    value = local_context.get(term)
    mode11 = active.processing_mode != JSON_LD_1_0

    if term == "@type":
        if not mode11:
            raise err.KeywordRedefinition("@type")
        if not isinstance(value, dict):
            raise err.KeywordRedefinition("@type")
        ok_keys = {"@container", "@protected"}
        if not set(value) <= ok_keys or value.get("@container", "@set") != "@set":
            raise err.KeywordRedefinition(f"@type: {value!r}")
    elif is_keyword(term):
        raise err.KeywordRedefinition(term)
    elif has_keyword_form(term):
        # looks like a keyword → ignored with warning
        defined[term] = True
        return

    previous = active.term_definitions.get(term)
    active.term_definitions.pop(term, None)

    simple_term = isinstance(value, str) or value is None
    if value is None or (isinstance(value, dict) and set(value) == {"@id"} and value["@id"] is None):
        value = {"@id": None}
    elif isinstance(value, str):
        value = {"@id": value}
    elif not isinstance(value, dict):
        raise err.InvalidTermDefinition(f"{term}: {value!r}")

    definition = TermDefinition(term)
    definition.prefix = False
    definition.simple = simple_term
    definition.explicit_prefix = "@prefix" in value
    if "@protected" in value:
        if not isinstance(value["@protected"], bool):
            raise err.InvalidProtectedValue(repr(value["@protected"]))
        if not mode11:
            raise err.InvalidTermDefinition("@protected in 1.0 mode")
        definition.protected = value["@protected"]
    else:
        definition.protected = protected

    allowed = {
        "@id",
        "@reverse",
        "@type",
        "@language",
        "@container",
        "@context",
        "@direction",
        "@index",
        "@nest",
        "@prefix",
        "@protected",
    }
    if not mode11:
        allowed = {"@id", "@reverse", "@type", "@language", "@container"}
    extra = set(value) - allowed
    if extra:
        raise err.InvalidTermDefinition(f"{term}: unexpected keys {sorted(extra)}")

    # @type mapping
    if "@type" in value:
        t = value["@type"]
        if not isinstance(t, str):
            raise err.InvalidTypeMapping(repr(t))
        t_exp = active.expand_iri(
            t, vocab=True, local_context=local_context, defined=defined
        )
        if t_exp in ("@json", "@none"):
            if not mode11:
                raise err.InvalidTypeMapping(f"{t_exp} in 1.0 mode")
        elif t_exp not in ("@id", "@vocab") and not (
            isinstance(t_exp, str) and is_absolute_iri(t_exp)
        ):
            raise err.InvalidTypeMapping(repr(t))
        definition.type_mapping = t_exp

    # @reverse
    if "@reverse" in value:
        if "@id" in value or "@nest" in value:
            raise err.InvalidReverseProperty(term)
        rev = value["@reverse"]
        if not isinstance(rev, str):
            raise err.InvalidIRIMapping(repr(rev))
        if has_keyword_form(rev) and not is_keyword(rev):
            defined[term] = True
            return
        mapped = active.expand_iri(
            rev, vocab=True, local_context=local_context, defined=defined
        )
        if not is_iri(mapped):
            raise err.InvalidIRIMapping(repr(rev))
        definition.iri_mapping = mapped
        if (term[1:-1].find(":") >= 0) or ("/" in term):
            # compound (CURIE-shaped) term must round-trip to the same
            # IRI — same consistency rule as the @id branch
            # (context_spec.rb 'IRI term expands to different IRI
            # (reverse)')
            defined[term] = True
            reexp = active.expand_iri(
                term, vocab=True, local_context=local_context, defined=defined
            )
            if reexp != definition.iri_mapping:
                raise err.InvalidIRIMapping(f"{term} inconsistent with {rev!r}")
        if "@container" in value:
            c = value["@container"]
            if c not in ("@set", "@index", None):
                raise err.InvalidReverseProperty(term)
            if c is not None:
                definition.container_mapping = frozenset({c})
        definition.reverse_property = True
        active.term_definitions[term] = definition
        defined[term] = True
        return

    # @id / derived IRI mapping
    if "@id" in value and value["@id"] != term:
        idv = value["@id"]
        if idv is None:
            definition.iri_mapping = None  # explicitly decouples term
        else:
            if not isinstance(idv, str):
                raise err.InvalidIRIMapping(repr(idv))
            if not is_keyword(idv) and has_keyword_form(idv):
                defined[term] = True
                return
            mapped = active.expand_iri(
                idv, vocab=True, local_context=local_context, defined=defined
            )
            if not (is_keyword(mapped) or is_iri(mapped)):
                raise err.InvalidIRIMapping(f"{term} -> {idv!r}")
            if mapped == "@context":
                raise err.InvalidKeywordAlias("@context")
            definition.iri_mapping = mapped
            if (term[1:-1].find(":") >= 0) or ("/" in term):
                # compound term must round-trip
                defined[term] = True
                reexp = active.expand_iri(
                    term, vocab=True, local_context=local_context, defined=defined
                )
                if reexp != definition.iri_mapping:
                    raise err.InvalidIRIMapping(f"{term} inconsistent with {idv!r}")
            if ":" not in term and "/" not in term and simple_term and (
                isinstance(mapped, str)
                and (mapped[-1:] in (":", "/", "?", "#", "[", "]", "@") or is_blank_node_id(mapped))
            ):
                definition.prefix = True
    elif len(term) > 1 and ":" in term[1:]:
        prefix, suffix = term.split(":", 1)
        if prefix in local_context and not defined.get(prefix):
            create_term_definition(active, local_context, prefix, defined)
        ptd = active.term_definitions.get(prefix)
        if ptd is not None and ptd.iri_mapping and not suffix.startswith("//"):
            definition.iri_mapping = ptd.iri_mapping + suffix
        elif is_absolute_iri(term) or is_blank_node_id(term):
            definition.iri_mapping = term
        else:
            raise err.InvalidIRIMapping(term)
    elif "/" in term:
        mapped = active.expand_iri(term, vocab=True)
        definition.iri_mapping = mapped
        if not is_absolute_iri(definition.iri_mapping or ""):
            raise err.InvalidIRIMapping(term)
    elif term == "@type":
        definition.iri_mapping = "@type"
    else:
        if active.vocab is None:
            raise err.InvalidIRIMapping(f"{term}: no @vocab and no @id")
        definition.iri_mapping = active.vocab + term

    # @container
    if "@container" in value:
        definition.container_mapping = _validate_container(
            value["@container"], active.processing_mode
        )
        if "@type" in definition.container_mapping:
            if definition.type_mapping is None:
                definition.type_mapping = "@id"
            elif definition.type_mapping not in ("@id", "@vocab"):
                raise err.InvalidTypeMapping(
                    f"@container: @type with @type: {definition.type_mapping}"
                )

    # @index
    if "@index" in value:
        if not mode11 or "@index" not in definition.container_mapping:
            raise err.InvalidTermDefinition(
                f"{term}: @index requires @container: @index"
            )
        idx = value["@index"]
        if not isinstance(idx, str) or idx.startswith("@"):
            raise err.InvalidTermDefinition(f"{term}: bad @index {idx!r}")
        definition.index_mapping = idx

    # scoped @context
    if "@context" in value:
        if not mode11:
            raise err.InvalidTermDefinition("@context in 1.0 mode")
        ctx = value["@context"]
        if validate_scoped:
            # validate now, but store raw for lazy use
            try:
                active.parse(
                    ctx,
                    base_url=base_url,
                    remote_contexts=remote_contexts,
                    override_protected=True,
                    validate_scoped=False,
                )
            except err.JsonLdError as e:
                raise err.InvalidScopedContext(f"{term}: {e}") from e
        definition.local_context = ctx
        definition.base_url = base_url

    # @language
    if "@language" in value and "@type" not in value:
        lang = value["@language"]
        if lang is None:
            definition.language_mapping = None
        elif isinstance(lang, str):
            # case preserved (context.rb:890 — lowercaseLanguage only)
            definition.language_mapping = lang
        else:
            raise err.InvalidLanguageMapping(repr(lang))

    # @direction
    if "@direction" in value and "@type" not in value:
        d = value["@direction"]
        if d is None:
            definition.direction_mapping = None
        elif d in ("ltr", "rtl"):
            definition.direction_mapping = d
        else:
            raise err.InvalidBaseDirection(repr(d))

    # @nest
    if "@nest" in value:
        if not mode11:
            raise err.InvalidTermDefinition("@nest in 1.0 mode")
        nest = value["@nest"]
        if not isinstance(nest, str) or (nest != "@nest" and is_keyword(nest)) or (
            has_keyword_form(nest) and nest != "@nest"
        ):
            raise err.InvalidNestValue(repr(nest))
        definition.nest_value = nest

    # @prefix
    if "@prefix" in value:
        if not mode11 or ":" in term or "/" in term:
            raise err.InvalidTermDefinition(f"{term}: @prefix not allowed")
        p = value["@prefix"]
        if not isinstance(p, bool):
            raise err.InvalidPrefixValue(repr(p))
        definition.prefix = p
        if definition.prefix and is_keyword(definition.iri_mapping):
            raise err.InvalidTermDefinition(f"{term}: keyword cannot be prefix")

    # protected-term redefinition check
    if (
        previous is not None
        and previous.protected
        and not override_protected
        and not definition.same_mappings(previous)
    ):
        raise err.ProtectedTermRedefinition(term)
    if previous is not None and previous.protected and not override_protected:
        definition.protected = True  # keep protection

    active.term_definitions[term] = definition
    defined[term] = True


def _create_inverse_context(ctx: Context) -> dict:
    """W3C 4.3 Inverse Context Creation (reference: context.rb:1878-1935)."""
    result: dict = {}
    default_language = (ctx.default_language or "@none").lower()
    for term in sorted(ctx.term_definitions, key=lambda t: (len(t), t)):
        td = ctx.term_definitions[term]
        if td is None or td.iri_mapping is None:
            continue
        container = "".join(sorted(td.container_mapping)) or "@none"
        container_map = result.setdefault(td.iri_mapping, {})
        type_lang_map = container_map.setdefault(
            container, {"@language": {}, "@type": {}, "@any": {}}
        )
        type_lang_map["@any"].setdefault("@none", term)
        if td.reverse_property:
            type_lang_map["@type"].setdefault("@reverse", term)
        elif td.type_mapping == "@none":
            type_lang_map["@language"].setdefault("@any", term)
            type_lang_map["@type"].setdefault("@any", term)
        elif td.type_mapping is not None:
            type_lang_map["@type"].setdefault(td.type_mapping, term)
        elif td.language_mapping is not UNSET and td.direction_mapping is not UNSET:
            if td.language_mapping and td.direction_mapping:
                key = f"{td.language_mapping}_{td.direction_mapping}".lower()
            elif td.language_mapping:
                key = td.language_mapping.lower()
            elif td.direction_mapping:
                key = f"_{td.direction_mapping}"
            else:
                key = "@null"
            type_lang_map["@language"].setdefault(key, term)
        elif td.language_mapping is not UNSET:
            key = (td.language_mapping or "@null").lower() if isinstance(td.language_mapping, str) else "@null"
            type_lang_map["@language"].setdefault(key, term)
        elif td.direction_mapping is not UNSET:
            key = f"_{td.direction_mapping}" if td.direction_mapping else "@none"
            type_lang_map["@language"].setdefault(key, term)
        elif ctx.default_direction:
            # reference registers the language-less "_<direction>" key
            # (context.rb:1924); lstrip("@none") was a char-set strip bug
            # that mangled real lang tags ("nl_ltr" → "l_ltr")
            type_lang_map["@language"].setdefault(
                f"_{ctx.default_direction}", term
            )
            type_lang_map["@language"].setdefault("@none", term)
            type_lang_map["@type"].setdefault("@none", term)
        else:
            type_lang_map["@language"].setdefault(default_language, term)
            type_lang_map["@language"].setdefault("@none", term)
            type_lang_map["@type"].setdefault("@none", term)
    return result
