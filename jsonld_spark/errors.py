"""JSON-LD 1.1 error codes.

Mirrors the error taxonomy of the JSON-LD 1.1 API spec (the reference
enumerates the same codes at /root/reference/lib/json/ld.rb:118-181).
In the Spark pipeline a raised :class:`JsonLdError` never kills an
executor: the per-document UDFs catch it and emit an error-status row.
"""

from __future__ import annotations


class JsonLdError(Exception):
    """Base error; ``code`` is the spec's camel-case error string."""

    code: str = "jsonld error"

    def __init__(self, message: str = "", code: str | None = None):
        super().__init__(message)
        if code is not None:
            self.code = code

    def __str__(self) -> str:  # pragma: no cover - repr helper
        base = super().__str__()
        return f"{self.code}: {base}" if base else self.code


def _err(name: str, code: str) -> type[JsonLdError]:
    return type(name, (JsonLdError,), {"code": code})


CollidingKeywords = _err("CollidingKeywords", "colliding keywords")
ConflictingIndexes = _err("ConflictingIndexes", "conflicting indexes")
ContextOverflow = _err("ContextOverflow", "context overflow")
CyclicIRIMapping = _err("CyclicIRIMapping", "cyclic IRI mapping")
InvalidAnnotation = _err("InvalidAnnotation", "invalid annotation")
InvalidBaseIRI = _err("InvalidBaseIRI", "invalid base IRI")
InvalidBaseDirection = _err("InvalidBaseDirection", "invalid base direction")
InvalidContainerMapping = _err("InvalidContainerMapping", "invalid container mapping")
InvalidContextEntry = _err("InvalidContextEntry", "invalid context entry")
InvalidContextNullification = _err(
    "InvalidContextNullification", "invalid context nullification"
)
InvalidDefaultLanguage = _err("InvalidDefaultLanguage", "invalid default language")
InvalidIdValue = _err("InvalidIdValue", "invalid @id value")
InvalidImportValue = _err("InvalidImportValue", "invalid @import value")
InvalidIncludedValue = _err("InvalidIncludedValue", "invalid @included value")
InvalidIndexValue = _err("InvalidIndexValue", "invalid @index value")
InvalidIRIMapping = _err("InvalidIRIMapping", "invalid IRI mapping")
InvalidJsonLiteral = _err("InvalidJsonLiteral", "invalid JSON literal")
InvalidKeywordAlias = _err("InvalidKeywordAlias", "invalid keyword alias")
InvalidLanguageMapValue = _err("InvalidLanguageMapValue", "invalid language map value")
InvalidLanguageMapping = _err("InvalidLanguageMapping", "invalid language mapping")
InvalidLanguageTaggedString = _err(
    "InvalidLanguageTaggedString", "invalid language-tagged string"
)
InvalidLanguageTaggedValue = _err(
    "InvalidLanguageTaggedValue", "invalid language-tagged value"
)
InvalidLocalContext = _err("InvalidLocalContext", "invalid local context")
InvalidNestValue = _err("InvalidNestValue", "invalid @nest value")
InvalidPrefixValue = _err("InvalidPrefixValue", "invalid @prefix value")
InvalidPropagateValue = _err("InvalidPropagateValue", "invalid @propagate value")
InvalidProtectedValue = _err("InvalidProtectedValue", "invalid @protected value")
InvalidRemoteContext = _err("InvalidRemoteContext", "invalid remote context")
InvalidReverseProperty = _err("InvalidReverseProperty", "invalid reverse property")
InvalidReversePropertyMap = _err(
    "InvalidReversePropertyMap", "invalid reverse property map"
)
InvalidReversePropertyValue = _err(
    "InvalidReversePropertyValue", "invalid reverse property value"
)
InvalidReverseValue = _err("InvalidReverseValue", "invalid @reverse value")
InvalidScopedContext = _err("InvalidScopedContext", "invalid scoped context")
InvalidScriptElement = _err("InvalidScriptElement", "invalid script element")
InvalidSetOrListObject = _err("InvalidSetOrListObject", "invalid set or list object")
InvalidTermDefinition = _err("InvalidTermDefinition", "invalid term definition")
InvalidTypeMapping = _err("InvalidTypeMapping", "invalid type mapping")
InvalidTypeValue = _err("InvalidTypeValue", "invalid type value")
InvalidTypedValue = _err("InvalidTypedValue", "invalid typed value")
InvalidValueObject = _err("InvalidValueObject", "invalid value object")
InvalidValueObjectValue = _err("InvalidValueObjectValue", "invalid value object value")
InvalidVersionValue = _err("InvalidVersionValue", "invalid @version value")
InvalidVocabMapping = _err("InvalidVocabMapping", "invalid vocab mapping")
IRIConfusedWithPrefix = _err("IRIConfusedWithPrefix", "IRI confused with prefix")
InvalidFrame = _err("InvalidFrame", "invalid frame")
# reference subclasses InvalidEmbedValue under InvalidFrame (ld.rb:180-181)
InvalidEmbedValue = type(
    "InvalidEmbedValue", (InvalidFrame,), {"code": "invalid @embed value"}
)
# RDF-star embedded nodes (expand.rb:333-338): under ``rdfstar=True``
# expansion raises it for an embedded node with @reverse or not exactly
# one statement
InvalidEmbeddedNode = _err("InvalidEmbeddedNode", "invalid embedded node")
# key-order rule of the reference's one-pass streaming reader
# (streaming_reader.rb); the bounded reader takes parsed documents and
# has no key-order requirement, the class exists for taxonomy parity
InvalidStreamingKeyOrder = _err(
    "InvalidStreamingKeyOrder", "invalid streaming key order"
)
MissingIncludedReferent = _err(
    "MissingIncludedReferent", "missing @included referent"
)
# engine guard, not a spec code: a document whose quads exceed the
# batch UDF's per-document budget (udfs.MAX_QUADS_PER_DOC)
DocumentTooLarge = _err("DocumentTooLarge", "document too large")
KeywordRedefinition = _err("KeywordRedefinition", "keyword redefinition")
LoadingDocumentFailed = _err("LoadingDocumentFailed", "loading document failed")
LoadingRemoteContextFailed = _err(
    "LoadingRemoteContextFailed", "loading remote context failed"
)
MultipleContextLinkHeaders = _err(
    "MultipleContextLinkHeaders", "multiple context link headers"
)
ProcessingModeConflict = _err("ProcessingModeConflict", "processing mode conflict")
ProtectedTermRedefinition = _err(
    "ProtectedTermRedefinition", "protected term redefinition"
)
