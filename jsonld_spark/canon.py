"""URDNA2015-style per-document blank-node canonicalization.

The pipeline's global bnode identity is ``sha256(url ‖ script ‖ label)``.
With traversal-order labels, the SAME content serialized with different
JSON key order yields different labels → different global IDs → phantom
duplicate entities across re-crawls.  Canonical labeling makes the
label a function of the GRAPH, not the serialization (the north star's
"URDNA2015-style per-document labeling").

Algorithm (RDF Dataset Canonicalization shape, sized for per-document
graphs): first-degree neighborhood hashing, iterative label gossip
(1-WL color refinement), then — where ties remain — URDNA2015-style
individualization-refinement: pick the smallest tied orbit, try
individualizing EACH member, recurse, and keep the branch whose final
canonical serialization is lexicographically least.  Candidate choice
therefore depends only on graph structure, never on the input's bnode
labels or element order (cf. the reference's companion RDF::Normalize
gem's hash-N-degree-quads step).  True automorphic orbits tie exactly
(equal serializations) and any member yields the identical canonical
quad set.

Like URDNA2015 itself, the exploration is exponential on adversarial
"poison" graphs; ``_BUDGET`` caps total branches explored.  Beyond it,
a POLYNOMIAL greedy fallback individualizes one orbit member at a time
without branch search, choosing the member whose individualization
yields the lexicographically least refined-hash multiset — a score
that depends only on graph structure, so the fallback stays
label-independent too (round 4; previously the fallback order was
serialization-dependent).  Only candidates that are score-tied yet
NOT truly automorphic (CFI-style constructions), or graphs whose
greedy phase exhausts ``_greedy_refine_cap`` (a size-scaled cap on
total refinement passes ≈ constant hashing work), fall back to a
serialization-dependent order — so a hostile crawled document cannot
pin an executor no matter its shape.
"""

from __future__ import annotations

import hashlib
import re

from .rdf_model import Quad

_SELF = "\x01self"
_OTHER = "\x01blank"

# label charset MUST match rdf_model._NQ_BNODE — a narrower token regex
# tokenizes '_:x-1' as phantom '_:x' and corrupts quoted-term relabeling
_BNODE_TOKEN_RE = re.compile(r"_:[A-Za-z0-9_.\-]+")


def _string_segments(term: str):
    """Escape-aware split of an N-Triples-star term into
    ``(text, outside)`` segments — a regex lookbehind misreads a closing
    quote preceded by an ESCAPED backslash (literal ending in ``\\\\``)
    and flips string parity for the rest of the term."""
    segs = []
    i = 0
    start = 0
    in_str = False
    n = len(term)
    while i < n:
        c = term[i]
        if in_str:
            if c == "\\":
                i += 2
                continue
            if c == '"':
                segs.append((term[start : i + 1], False))
                start = i + 1
                in_str = False
        elif c == '"':
            segs.append((term[start:i], True))
            start = i
            in_str = True
        i += 1
    segs.append((term[start:], not in_str))
    return segs


def _map_quoted(term: str, fn) -> str:
    """Apply ``fn`` to every bnode token of an N-Triples-star quoted term
    (``<< … >>``), quote-aware so string-literal content is untouched."""
    return "".join(
        _BNODE_TOKEN_RE.sub(lambda m: fn(m.group(0)), text) if outside else text
        for text, outside in _string_segments(term)
    )


def _quoted_bnodes(term: str) -> list[str]:
    out: list[str] = []
    for text, outside in _string_segments(term):
        if outside:
            out.extend(_BNODE_TOKEN_RE.findall(text))
    return out

# Max individualization branches explored per document before falling
# back to the greedy (branchless) order.  Real documents have small
# automorphic orbits (twin list chains, symmetric @graph islands);
# 512 branches covers orbits far beyond anything non-adversarial.
_BUDGET = 512

# Work cap for the greedy fallback: total _refine passes it may spend
# (scoring + per-step), scaled inversely with graph size because one
# refine pass costs O(n·deg) hashing — a fixed pass count would still
# let a ~4k-bnode single-orbit poison graph burn hours.  2^17/n passes
# ≈ a constant ~1.3e5-node-hash budget (seconds): n=75 → 1747 passes
# (plenty for full scoring), n=4096 → 64 passes (greedy runs unscored
# and briefly).  Beyond the cap the order falls back to
# refined-hash-then-label — the only remaining serialization-dependent
# path, reachable only by a single document with thousands of
# mutually-symmetric anonymous nodes.
def _greedy_refine_cap(n: int) -> int:
    return max(64, (1 << 17) // max(1, n))


def _term_repr(term: str, me: str, labels: dict[str, str] | None):
    if term.startswith("<<"):
        # quoted triple: mask inner bnode tokens exactly like direct ones
        # so input labels never leak into canonical hashing
        return _map_quoted(term, lambda b: _term_repr(b, me, labels))
    if not term.startswith("_:"):
        return term
    if term == me:
        return _SELF
    if labels is not None:
        return _OTHER + labels.get(term, "")
    return _OTHER


def _incident_map(quads, bnodes) -> dict[str, list]:
    """bnode → the quads it touches (computed ONCE; every refinement
    round and every individualization branch reuses it).  Bnode tokens
    inside quoted triples count as incidence too."""
    inc: dict[str, list] = {b: [] for b in bnodes}
    for q in quads:
        seen = set()
        if q.subj in inc:
            seen.add(q.subj)
        elif q.subj.startswith("<<"):
            seen.update(b for b in _quoted_bnodes(q.subj) if b in inc)
        if q.pred in inc:  # generalized-RDF bnode predicate
            seen.add(q.pred)
        if not q.obj_is_literal:
            if q.obj in inc:
                seen.add(q.obj)
            elif q.obj.startswith("<<"):
                seen.update(b for b in _quoted_bnodes(q.obj) if b in inc)
        if q.graph and q.graph in inc:
            seen.add(q.graph)
        for b in seen:
            inc[b].append(q)
    return inc


def _hash_neighborhood(bnode: str, incident, labels=None) -> str:
    lines = []
    for q in incident:
        lines.append(
            "|".join(
                (
                    _term_repr(q.subj, bnode, labels),
                    # generalized RDF permits bnode predicates — mask them
                    # like any other position (IRIs pass through unchanged)
                    _term_repr(q.pred, bnode, labels),
                    _term_repr(q.obj, bnode, labels)
                    if not q.obj_is_literal
                    else f"L{q.obj}\x02{q.obj_datatype}\x02{q.obj_lang}",
                    _term_repr(q.graph, bnode, labels) if q.graph else "",
                )
            )
        )
    lines.sort()
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _refine(hashes: dict[str, str], inc: dict[str, list], bnodes) -> dict[str, str]:
    """Gossip (1-WL) until the partition into hash-equal groups is stable
    or discrete.  Returns the refined hash map (values churn each round —
    stability is judged on the PARTITION, not the hash values)."""

    def partition(h):
        groups: dict[str, list[str]] = {}
        for b in bnodes:
            groups.setdefault(h[b], []).append(b)
        return frozenset(frozenset(g) for g in groups.values())

    part = partition(hashes)
    for _ in range(len(bnodes)):
        if all(len(g) == 1 for g in part):
            break
        new_hashes = {
            b: hashlib.sha256(
                (hashes[b] + "|" + _hash_neighborhood(b, inc[b], hashes)).encode()
            ).hexdigest()
            for b in bnodes
        }
        new_part = partition(new_hashes)
        hashes = new_hashes
        if new_part == part:
            break
        part = new_part
    return hashes


def _apply_labels(term: str, labels: dict[str, str]) -> str:
    if term.startswith("<<"):
        return _map_quoted(term, lambda b: labels.get(b, b))
    return labels.get(term, term)


def _serialize(quads, labels: dict[str, str]) -> str:
    """Canonical text of the quad set under a full bnode→rank mapping.
    Label-independent once ``labels`` is (only ranks appear)."""
    lines = []
    for q in quads:
        lines.append(
            "|".join(
                (
                    _apply_labels(q.subj, labels),
                    q.pred,
                    _apply_labels(q.obj, labels)
                    if not q.obj_is_literal
                    else f"L{q.obj}\x02{q.obj_datatype}\x02{q.obj_lang}",
                    (labels.get(q.graph, q.graph) if q.graph else ""),
                )
            )
        )
    lines.sort()
    return "\n".join(lines)


class _Budget:
    __slots__ = ("left",)

    def __init__(self, n: int):
        self.left = n

    def spend(self) -> bool:
        if self.left <= 0:
            return False
        self.left -= 1
        return True


def _solve(hashes, quads, inc, bnodes, budget) -> tuple[list[str], str] | None:
    """Individualization-refinement: return (ordered bnodes, canonical
    serialization) minimizing the serialization, or None on budget
    exhaustion.  The order — and hence the final labels — depends only
    on graph structure."""
    hashes = _refine(hashes, inc, bnodes)
    groups: dict[str, list[str]] = {}
    for b in bnodes:
        groups.setdefault(hashes[b], []).append(b)
    tied = sorted((h for h, g in groups.items() if len(g) > 1))
    if not tied:
        order = sorted(bnodes, key=lambda b: hashes[b])
        ranks = {b: f"_:r{i:06d}" for i, b in enumerate(order)}
        return order, _serialize(quads, ranks)
    # Explore the tied group with the least hash (smallest-first keeps
    # the search canonical and the branching factor minimal early).
    group = groups[tied[0]]
    mark = hashlib.sha256((tied[0] + "\x03pick").encode()).hexdigest()
    best: tuple[list[str], str] | None = None
    for cand in group:
        if not budget.spend():
            return None
        h2 = dict(hashes)
        h2[cand] = mark
        sub = _solve(h2, quads, inc, bnodes, budget)
        if sub is None:
            return None
        if best is None or sub[1] < best[1]:
            best = sub
    return best


def canonical_bnode_labels(quads: list[Quad]) -> dict[str, str]:
    """→ {old_label: canonical label} with labels ``_:c0.._:cn`` assigned
    in canonical (content-determined) order: invariant under bnode
    relabeling AND quad/element reordering of the same graph."""
    bnodes = set()
    for q in quads:
        if q.subj.startswith("_:"):
            bnodes.add(q.subj)
        elif q.subj.startswith("<<"):
            bnodes.update(_quoted_bnodes(q.subj))
        if q.pred.startswith("_:"):  # generalized-RDF bnode predicate
            bnodes.add(q.pred)
        if not q.obj_is_literal:
            if q.obj.startswith("_:"):
                bnodes.add(q.obj)
            elif q.obj.startswith("<<"):
                bnodes.update(_quoted_bnodes(q.obj))
        if q.graph and q.graph.startswith("_:"):
            bnodes.add(q.graph)
    if not bnodes:
        return {}
    if len(bnodes) == 1:
        # fast path: a single bnode needs no canonical ordering — the
        # common crawl case (one anonymous node per doc)
        return {next(iter(bnodes)): "_:c0"}

    inc = _incident_map(quads, bnodes)
    # round 0: first-degree hashes (labels=None → no input labels leak)
    hashes = {b: _hash_neighborhood(b, inc[b]) for b in bnodes}

    solved = _solve(hashes, quads, inc, bnodes, _Budget(_BUDGET))
    if solved is not None:
        ordered = solved[0]
    else:
        # Poison-graph fallback: polynomial greedy individualization —
        # still label-independent (see module docstring)
        ordered = _greedy_order(hashes, inc, bnodes)
    return {b: f"_:c{i}" for i, b in enumerate(ordered)}


def _greedy_order(hashes, inc, bnodes) -> list[str]:
    """Branchless individualization-refinement: refine, then repeatedly
    individualize ONE member of the least tied orbit — the member whose
    individualization yields the lexicographically least refined-hash
    multiset, a purely structural score.  Polynomial: ≤n
    individualizations, each scoring ≤|orbit| refinement passes, the
    WHOLE phase capped at ``_greedy_refine_cap(n)`` refine passes so an
    adversarial single-orbit graph cannot pin an executor (the module's
    contract).

    Automorphic orbit members score identically and are interchangeable
    (either pick produces the same canonical serialization); score-tied
    non-automorphic members (CFI-style adversarial graphs), and any
    graph that exhausts the refine cap mid-phase, fall back to
    refined-hash-then-label order — deterministic per input, the one
    remaining serialization-dependent corner."""
    ordered_bnodes = sorted(bnodes)  # deterministic iteration everywhere
    refine_budget = _Budget(_greedy_refine_cap(len(bnodes)))
    step = 0
    while True:
        if not refine_budget.spend():
            return sorted(ordered_bnodes, key=lambda b: (hashes[b], b))
        hashes = _refine(hashes, inc, bnodes)
        groups: dict[str, list[str]] = {}
        for b in ordered_bnodes:
            groups.setdefault(hashes[b], []).append(b)
        tied = sorted(h for h, g in groups.items() if len(g) > 1)
        if not tied:
            return sorted(ordered_bnodes, key=lambda b: hashes[b])
        group = groups[tied[0]]
        mark = hashlib.sha256((tied[0] + f"\x03greedy{step}").encode()).hexdigest()
        step += 1
        pick = group[0]
        if refine_budget.left >= len(group):
            best_sig = None
            for cand in group:
                refine_budget.spend()
                h2 = dict(hashes)
                h2[cand] = mark
                sig = tuple(sorted(_refine(h2, inc, bnodes).values()))
                if best_sig is None or sig < best_sig:
                    pick, best_sig = cand, sig
        hashes = dict(hashes)
        hashes[pick] = mark


def canonicalize_quads(quads: list[Quad]) -> list[Quad]:
    """Relabel all bnodes canonically (order of quads preserved)."""
    mapping = canonical_bnode_labels(quads)
    if not mapping:
        return quads
    out = []
    for q in quads:
        out.append(
            Quad(
                _apply_labels(q.subj, mapping),
                mapping.get(q.pred, q.pred),
                q.obj if q.obj_is_literal else _apply_labels(q.obj, mapping),
                q.obj_is_literal,
                q.obj_datatype,
                q.obj_lang,
                mapping.get(q.graph, q.graph) if q.graph else q.graph,
            )
        )
    return out
