"""RFC 3986 IRI parsing / resolution and JSON-LD keyword predicates.

Implements strict reference-resolution (merge + remove_dot_segments)
rather than ``urllib.parse.urljoin`` — urljoin special-cases known URL
schemes and mishandles e.g. ``tag:`` or ``urn:`` bases, which the W3C
JSON-LD suite exercises.  (The reference delegates the same job to
``RDF::URI.join``; see /root/reference/lib/json/ld/context.rb:296.)
"""

from __future__ import annotations

import re

# --- JSON-LD 1.1 keywords ---------------------------------------------------

KEYWORDS = frozenset(
    {
        "@annotation",
        "@base",
        "@container",
        "@context",
        "@default",
        "@direction",
        "@embed",
        "@explicit",
        "@first",
        "@graph",
        "@id",
        "@import",
        "@included",
        "@index",
        "@json",
        "@language",
        "@list",
        "@nest",
        "@none",
        "@omitDefault",
        "@prefix",
        "@preserve",
        "@propagate",
        "@protected",
        "@requireAll",
        "@reverse",
        "@set",
        "@type",
        "@value",
        "@version",
        "@vocab",
    }
)

# "has the form of a keyword": @ followed by one or more ALPHA
_KEYWORD_FORM_RE = re.compile(r"\A@[a-zA-Z]+\Z")


def is_keyword(value) -> bool:
    return isinstance(value, str) and value in KEYWORDS


def has_keyword_form(value) -> bool:
    """True for strings like ``@foo`` that *look* like keywords.

    Per JSON-LD 1.1, terms of this form that are not actual keywords are
    ignored (with a warning) wherever a keyword could appear.
    """
    return isinstance(value, str) and _KEYWORD_FORM_RE.match(value) is not None


# --- IRI grammar ------------------------------------------------------------

# RFC 3986 appendix B regex, fragment split included.
_RFC3986_RE = re.compile(
    r"\A(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?\Z",
    re.DOTALL,
)

_SCHEME_RE = re.compile(r"\A[A-Za-z][A-Za-z0-9+.-]*\Z")

# An "absolute IRI" for JSON-LD purposes: scheme ':' then no whitespace/ctrl.
_ABSOLUTE_IRI_RE = re.compile(r"\A[A-Za-z][A-Za-z0-9+.-]*:[^\s<>\"{}|\\^`]*\Z")


def split_iri(iri: str):
    """→ (scheme, authority, path, query, fragment); absent parts are None
    (path is always a string, possibly empty)."""
    m = _RFC3986_RE.match(iri)
    assert m is not None  # the regex matches any string
    scheme, authority, path, query, fragment = m.groups()
    if scheme is not None and not _SCHEME_RE.match(scheme):
        # "a:b" where a is not a valid scheme — treat whole thing as path
        return None, None, iri.split("?")[0].split("#")[0], query, fragment
    return scheme, authority, path, query, fragment


def is_absolute_iri(value) -> bool:
    """Scheme-qualified IRI (fragments allowed — JSON-LD treats IRIs with
    fragments as absolute)."""
    if not isinstance(value, str):
        return False
    if not _ABSOLUTE_IRI_RE.match(value):
        return False
    return True


def is_blank_node_id(value) -> bool:
    return isinstance(value, str) and value.startswith("_:")


def is_iri(value) -> bool:
    return is_absolute_iri(value) or is_blank_node_id(value)


def remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    output: list[str] = []
    while path:
        if path.startswith("../"):
            path = path[3:]
        elif path.startswith("./"):
            path = path[2:]
        elif path.startswith("/./"):
            path = "/" + path[3:]
        elif path == "/.":
            path = "/"
        elif path.startswith("/../"):
            path = "/" + path[4:]
            if output:
                output.pop()
        elif path == "/..":
            path = "/"
            if output:
                output.pop()
        elif path in (".", ".."):
            path = ""
        else:
            # move first segment (incl. leading '/') to output
            if path.startswith("/"):
                idx = path.find("/", 1)
            else:
                idx = path.find("/")
            if idx == -1:
                output.append(path)
                path = ""
            else:
                output.append(path[:idx])
                path = path[idx:]
    return "".join(output)


def _merge_paths(base_authority, base_path: str, ref_path: str) -> str:
    """RFC 3986 §5.3 merge."""
    if base_authority is not None and base_path == "":
        return "/" + ref_path
    idx = base_path.rfind("/")
    if idx == -1:
        return ref_path
    return base_path[: idx + 1] + ref_path


def resolve_iri(base: str | None, ref: str) -> str:
    """RFC 3986 §5.2 strict reference resolution (no backward-compat
    same-scheme special case). ``base=None`` returns ``ref`` unchanged."""
    if base is None or base == "":
        return ref
    r_scheme, r_auth, r_path, r_query, r_frag = split_iri(ref)
    if r_scheme is not None:
        t = (r_scheme, r_auth, remove_dot_segments(r_path), r_query, r_frag)
    else:
        b_scheme, b_auth, b_path, b_query, _b_frag = split_iri(base)
        if r_auth is not None:
            t = (b_scheme, r_auth, remove_dot_segments(r_path), r_query, r_frag)
        elif r_path == "":
            t = (b_scheme, b_auth, b_path, r_query if r_query is not None else b_query, r_frag)
        elif r_path.startswith("/"):
            t = (b_scheme, b_auth, remove_dot_segments(r_path), r_query, r_frag)
        else:
            merged = _merge_paths(b_auth, b_path, r_path)
            t = (b_scheme, b_auth, remove_dot_segments(merged), r_query, r_frag)
    scheme, authority, path, query, fragment = t
    out = []
    if scheme is not None:
        out.append(scheme + ":")
    if authority is not None:
        out.append("//" + authority)
    out.append(path)
    if query is not None:
        out.append("?" + query)
    if fragment is not None:
        out.append("#" + fragment)
    return "".join(out)


def remove_base(base: str | None, iri: str) -> str:
    """Make ``iri`` base-relative when possible (used by compaction)."""
    if not base:
        return iri
    b_scheme, b_auth, b_path, b_query, _ = split_iri(base)
    i_scheme, i_auth, i_path, i_query, i_frag = split_iri(iri)
    if b_scheme != i_scheme or b_auth != i_auth:
        return iri
    if i_path == "" and b_path != "":
        # authority-only IRI (http://e) under a pathed base: any
        # relative form ('../') re-resolves with a trailing slash and
        # fails to round-trip — keep it absolute
        return iri
    # exact match up to fragment/query
    suffix = ""
    if i_query is not None:
        suffix += "?" + i_query
    if i_frag is not None:
        suffix += "#" + i_frag
    if i_path == b_path:
        if suffix:
            return suffix
        # iri == base exactly: the reference relativizes against the
        # base's PARENT (context.rb remove_base @base_and_parents) —
        # 'http://e/a/foo' under base 'http://e/a/foo' → 'foo', and a
        # directory base 'http://e/a/' under itself → './'
        if b_path.endswith("/"):
            return "./"
        seg = i_path.rsplit("/", 1)[-1]
        return seg if seg else iri
    b_segs = b_path.split("/")
    i_segs = i_path.split("/")
    b_dir = b_segs[:-1]
    # shared prefix of directories
    k = 0
    while k < len(b_dir) and k < len(i_segs) - 1 and b_dir[k] == i_segs[k]:
        k += 1
    ups = len(b_dir) - k
    rel = "../" * ups + "/".join(i_segs[k:])
    if rel == "":
        rel = "./"
    return rel + suffix


# BCP47-ish language tag check (well-formedness, not registry validity)
_LANG_RE = re.compile(
    r"\A[a-zA-Z]{1,8}(-[a-zA-Z0-9]{1,8})*\Z"
)


def is_well_formed_language(tag) -> bool:
    return isinstance(tag, str) and _LANG_RE.match(tag) is not None
