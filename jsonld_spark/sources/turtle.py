"""Minimal Turtle reader (documented subset) → Quads.

Covers the subset the reference's round-trip fixtures use
(/root/reference/spec/test-files/test-N-rdf.ttl): @prefix/@base, IRIs,
prefixed names (empty local parts allowed), ``a``, string/numeric/bool
literals with optional ``^^``/``@lang``, predicate-object lists ``;``,
object lists ``,``, blank-node property lists ``[ ... ]``, collections
``( ... )``, comments, and (round 4) TriG graph blocks
``[name] { triples }`` — the reference's writer specs feed TriG.  Not a
full Turtle implementation — good enough
as a golden-file reader and a secondary ingest format for small vocab
files; crawl-scale inputs stay parquet/Iceberg.
"""

from __future__ import annotations

import re

from ..rdf_model import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    XSD_BOOLEAN,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_NS,
    XSD_STRING,
    Quad,
)

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|\#[^\n]*)
  | (?P<iri><[^>]*>)
  | (?P<string>"(?:[^"\\]|\\.)*")
    # lookahead so '@baseball'/'@prefixed' tokenize as LANGTAGs, not
    # directives ('@base' is a strict prefix of valid language tags)
  | (?P<prefix_decl>(?:@prefix|@base|PREFIX|BASE)(?![A-Za-z0-9-]))
  | (?P<lang>@[a-zA-Z][a-zA-Z0-9-]*)
  | (?P<dtype>\^\^)
    # BEFORE pname: '_:' must tokenize as a blank-node label, never as a
    # pname with prefix '_'; dots allowed inside a label, not trailing
  | (?P<bnode_label>_:[\w](?:[\w.-]*[\w-])?)
    # Turtle numeric grammar: a trailing '.' belongs to the statement
    # (DECIMAL needs digits after the dot; a dot-no-digits form is legal
    # only with an exponent) — '5.' is INTEGER 5 + terminator
  | (?P<num>[+-]?(?:\d+\.\d*[eE][+-]?\d+|\.\d+(?:[eE][+-]?\d+)?|\d+\.\d+|\d+(?:[eE][+-]?\d+)?))
    # PN_PREFIX / PN_LOCAL may contain dots but cannot END with one —
    # 'ex:o.' is pname ex:o + statement terminator
  | (?P<pname>(?:[A-Za-z_](?:[\w.-]*[\w-])?)?:(?:[\w](?:[\w.-]*[\w-])?)?)
  | (?P<kw_a>\ba\b)
  | (?P<bool>\btrue\b|\bfalse\b)
  | (?P<punct>[\[\](){};,.])
    """,
    re.VERBOSE,
)


class TurtleError(ValueError):
    pass


class TurtleParser:
    def __init__(self, text: str, base: str | None = None):
        self.tokens = self._tokenize(text)
        self.pos = 0
        self.prefixes: dict[str, str] = {}
        self.base = base
        self.graph: str | None = None  # current TriG graph block name
        self.quads: list[Quad] = []
        self._bn = 0

    @staticmethod
    def _tokenize(text: str):
        tokens = []
        i = 0
        while i < len(text):
            m = _TOKEN_RE.match(text, i)
            if m is None:
                raise TurtleError(f"bad syntax at {text[i:i + 30]!r}")
            i = m.end()
            kind = m.lastgroup
            if kind == "ws":
                continue
            tokens.append((kind, m.group()))
        return tokens

    # -- token helpers ---------------------------------------------------------

    def _peek(self):
        return self.tokens[self.pos] if self.pos < len(self.tokens) else (None, None)

    def _next(self):
        t = self._peek()
        self.pos += 1
        return t

    def _expect_punct(self, ch: str):
        kind, val = self._next()
        if kind != "punct" or val != ch:
            raise TurtleError(f"expected {ch!r}, got {val!r}")

    def _new_bnode(self) -> str:
        self._bn += 1
        return f"_:t{self._bn}"

    # -- grammar ---------------------------------------------------------------

    def parse(self) -> list[Quad]:
        while self.pos < len(self.tokens):
            kind, val = self._peek()
            if kind == "prefix_decl":
                self._next()
                if val.lower().lstrip("@") == "prefix":
                    pk, pv = self._next()
                    if pk != "pname":
                        raise TurtleError(f"bad prefix name {pv!r}")
                    prefix = pv[:-1]
                    ik, iv = self._next()
                    if ik != "iri":
                        raise TurtleError("expected IRI in @prefix")
                    self.prefixes[prefix] = _unescape_iri(iv[1:-1])
                else:
                    ik, iv = self._next()
                    if ik != "iri":
                        raise TurtleError("expected IRI in @base")
                    self.base = _unescape_iri(iv[1:-1])
                if val.startswith("@"):
                    self._expect_punct(".")
                continue
            if kind == "punct" and val == "{":
                self._next()
                self._graph_block(None)
                continue
            if self._triples():
                continue  # consumed a named graph block — no '.'
            self._expect_punct(".")
        return self.quads

    def _graph_block(self, name: str | None):
        prev = self.graph
        self.graph = name
        while True:
            kind, val = self._peek()
            if kind == "punct" and val == "}":
                self._next()
                break
            self._triples()
            kind, val = self._peek()
            if kind == "punct" and val == ".":
                self._next()
        self.graph = prev

    def _triples(self) -> bool:
        """Parse one triples clause; → True when a NAMED GRAPH BLOCK
        (``<name> { ... }``) was consumed instead (no trailing dot)."""
        kind, val = self._peek()
        if kind == "punct" and val == "[":
            subj = self._bnode_property_list()
            kind, val = self._peek()
            # predicateObjectList is OPTIONAL after a bnode property
            # list; it may be followed by '.', a graph block's '}', or
            # EOF (kind None) — only a further predicate continues it
            if not (kind is None or (kind == "punct" and val in (".", "}"))):
                self._predicate_object_list(subj)
        elif kind == "punct" and val == "(":
            # collection in subject position (valid Turtle; its quads
            # emit here and the head bnode becomes the subject)
            subj = self._collection()
            self._predicate_object_list(subj)
        else:
            subj = self._resource()
            kind, val = self._peek()
            if kind == "punct" and val == "{":
                self._next()
                self._graph_block(subj)
                return True
            self._predicate_object_list(subj)
        return False

    def _predicate_object_list(self, subj: str):
        while True:
            pred = self._predicate()
            while True:
                obj = self._object()
                self.quads.append(Quad(subj, pred, *obj, self.graph))
                kind, val = self._peek()
                if kind == "punct" and val == ",":
                    self._next()
                    continue
                break
            kind, val = self._peek()
            if kind == "punct" and val == ";":
                self._next()
                kind, val = self._peek()
                # a trailing ';' is legal before any list terminator —
                # including a TriG graph block's '}'
                if kind == "punct" and val in (".", "]", "}"):
                    return
                continue
            return

    def _predicate(self) -> str:
        kind, val = self._next()
        if kind == "kw_a":
            return RDF_TYPE
        if kind == "iri":
            return self._abs(_unescape_iri(val[1:-1]))
        if kind == "pname":
            return self._resolve_pname(val)
        raise TurtleError(f"bad predicate {val!r}")

    def _resource(self) -> str:
        kind, val = self._next()
        if kind == "iri":
            return self._abs(_unescape_iri(val[1:-1]))
        if kind == "pname":
            return self._resolve_pname(val)
        if kind == "bnode_label":
            return val
        raise TurtleError(f"bad subject {val!r}")

    def _object(self):
        """Returns the object term tuple (obj, is_literal, datatype,
        lang); nested [ ] / ( ) structures emit their own quads and
        return their node."""
        kind, val = self._peek()
        if kind == "punct" and val == "[":
            node = self._bnode_property_list()
            return (node, False, None, None)
        if kind == "punct" and val == "(":
            node = self._collection()
            return (node, False, None, None)
        self._next()
        if kind == "iri":
            return (self._abs(_unescape_iri(val[1:-1])), False, None, None)
        if kind == "pname":
            return (self._resolve_pname(val), False, None, None)
        if kind == "bnode_label":
            return (val, False, None, None)
        if kind == "string":
            lex = _unescape(val[1:-1])
            nk, nv = self._peek()
            if nk == "dtype":
                self._next()
                dk, dv = self._next()
                dt = (
                    self._abs(_unescape_iri(dv[1:-1])) if dk == "iri" else self._resolve_pname(dv)
                )
                return (lex, True, dt, None)
            if nk == "lang":
                self._next()
                return (lex, True, "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString", nv[1:])
            return (lex, True, XSD_STRING, None)
        if kind == "num":
            if "." in val or "e" in val.lower():
                dt = XSD_DOUBLE if "e" in val.lower() else XSD_NS + "decimal"
                return (val, True, dt, None)
            return (val, True, XSD_INTEGER, None)
        if kind == "bool":
            return (val, True, XSD_BOOLEAN, None)
        raise TurtleError(f"bad object {val!r}")

    def _bnode_property_list(self) -> str:
        self._expect_punct("[")
        node = self._new_bnode()
        kind, val = self._peek()
        if not (kind == "punct" and val == "]"):
            self._predicate_object_list(node)
        self._expect_punct("]")
        return node

    def _collection(self) -> str:
        self._expect_punct("(")
        items = []
        while True:
            kind, val = self._peek()
            if kind == "punct" and val == ")":
                self._next()
                break
            items.append(self._object())
        if not items:
            return RDF_NIL
        head = self._new_bnode()
        current = head
        for i, it in enumerate(items):
            self.quads.append(Quad(current, RDF_FIRST, *it, self.graph))
            nxt = self._new_bnode() if i < len(items) - 1 else RDF_NIL
            self.quads.append(
                Quad(current, RDF_REST, nxt, False, None, None, self.graph)
            )
            current = nxt
        return head

    def _resolve_pname(self, pname: str) -> str:
        prefix, _, local = pname.partition(":")
        if prefix not in self.prefixes:
            raise TurtleError(f"unknown prefix {prefix!r}")
        return self.prefixes[prefix] + local

    def _abs(self, iri: str) -> str:
        if self.base and not re.match(r"\A[A-Za-z][A-Za-z0-9+.-]*:", iri):
            from ..iri import resolve_iri

            return resolve_iri(self.base, iri)
        return iri


_ESC = {"\\n": "\n", "\\t": "\t", "\\r": "\r", '\\"': '"', "\\\\": "\\",
        "\\b": "\b", "\\f": "\f", "\\'": "'"}


def _unescape(s: str) -> str:
    return re.sub(
        r"\\U[0-9A-Fa-f]{8}|\\u[0-9A-Fa-f]{4}|\\.",
        lambda m: (
            chr(int(m.group()[2:], 16))
            if m.group()[1] in "uU"
            else _ESC.get(m.group(), m.group()[1:])
        ),
        s,
    )


def _unescape_iri(s: str) -> str:
    """IRIREF allows only \\uXXXX / \\UXXXXXXXX numeric escapes."""
    if "\\" not in s:
        return s
    return re.sub(
        r"\\U[0-9A-Fa-f]{8}|\\u[0-9A-Fa-f]{4}",
        lambda m: chr(int(m.group()[2:], 16)),
        s,
    )


def parse_turtle(text: str, base: str | None = None) -> list[Quad]:
    return TurtleParser(text, base).parse()
