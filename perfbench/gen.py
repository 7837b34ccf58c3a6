"""Seeded input generator for the benchmark workloads.

Independent of ``jsonld_spark.sources.pages`` on purpose: an edit to the
engine's own fixture generator must not be able to move the benchmark's
inputs.  Everything here is a pure function of (workload, size, seed).

Every workload plants the same page-level failures: exactly
``BAD_JSON_FRAC`` of the scripted pages carry one malformed script and
exactly ``ABSENT_CTX_FRAC`` carry one script whose remote context is not
in the broadcast cache.  The failed-page fraction is therefore fixed by
construction, and the generator returns the set of failing urls so the
benchmark can check the engine reports exactly those pages.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import shutil
import zlib
from dataclasses import dataclass, field

CTX_PEOPLE = "https://contexts.perfbench.example/people.jsonld"
CTX_SHOP = "https://contexts.perfbench.example/shop.jsonld"
CTX_EVENTS = "https://contexts.perfbench.example/events.jsonld"
CTX_ABSENT = "https://unreachable.perfbench.example/never-cached.jsonld"

V = "https://vocab.perfbench.example/"
SCHEMA = "http://schema.org/"
XSD = "http://www.w3.org/2001/XMLSchema#"

BAD_JSON_FRAC = 0.02
ABSENT_CTX_FRAC = 0.01

HUB_DOMAINS = [f"https://hub{i}.perfbench-crawl.example" for i in range(6)]
LANGS = ["en", "en", "en", "de", "fr", "ja", "es"]


def context_entries() -> dict:
    """Remote contexts the pipeline broadcasts (url → document)."""
    return {
        CTX_PEOPLE: {
            "@context": {
                "@vocab": V,
                "knows": {"@id": V + "knows", "@type": "@id"},
                "born": {"@id": V + "born", "@type": XSD + "date"},
            }
        },
        CTX_SHOP: {
            "@context": {
                "@vocab": SCHEMA,
                "price": {"@id": SCHEMA + "price", "@type": XSD + "decimal"},
                "sameAs": {"@id": SCHEMA + "sameAs", "@type": "@id"},
            }
        },
        CTX_EVENTS: {
            "@context": {
                "@protected": True,
                "@vocab": V,
                "Event": {
                    "@id": V + "Event",
                    "@context": {"title": "https://events.perfbench.example/title"},
                },
            }
        },
    }


# --- the nine script templates -------------------------------------------------


def _person(rng, ent):
    # two blank nodes (address, geo) → canonical labelling reaches its solver
    return {
        "@context": {"@vocab": V, "knows": {"@id": V + "knows", "@type": "@id"}},
        "@id": ent,
        "@type": "Person",
        "name": f"Person {rng.randrange(100_000)}",
        "knows": ent + "/friend",
        "address": {
            "street": f"{rng.randrange(1, 999)} Elm Road",
            "geo": {"lat": round(rng.uniform(-80, 80), 4), "lon": round(rng.uniform(-170, 170), 4)},
        },
    }


def _product(rng, ent):
    return {
        "@context": CTX_SHOP,
        "@id": ent,
        "@type": "Product",
        "name": f"Gadget {rng.randrange(100_000)}",
        "price": f"{rng.uniform(1, 900):.2f}",
        "offers": {"@type": "Offer", "seller": f"Shop {rng.randrange(300)}"},
    }


def _article(rng, ent):
    return {
        "@context": {"@vocab": V, "byline": {"@id": V + "byline", "@container": "@list"}},
        "@id": ent,
        "@type": "Article",
        "byline": [f"Writer {rng.randrange(80)}" for _ in range(rng.randrange(1, 5))],
    }


def _labels(rng, ent):
    return {
        "@context": {"@vocab": V, "label": {"@id": V + "label", "@container": "@language"}},
        "@id": ent,
        "label": {"en": "river", "de": "Fluss", "fr": "rivière", "ja": "川"},
    }


def _indexed(rng, ent):
    return {
        "@context": {"@vocab": V, "editions": {"@id": V + "editions", "@container": "@index"}},
        "@id": ent,
        "editions": {
            "first": {"headline": f"Edition {rng.randrange(500)}"},
            "second": {"headline": f"Edition {rng.randrange(500)}"},
        },
    }


def _reverse(rng, ent):
    return {
        "@context": {"@vocab": V, "parts": {"@reverse": V + "partOf"}},
        "@id": ent,
        "parts": [{"@id": ent + "/part-a"}, {"@id": ent + "/part-b"}],
    }


def _graph(rng, ent):
    return {
        "@context": CTX_EVENTS,
        "@id": ent + "/claims",
        "@graph": [
            {"@id": ent, "@type": "Event", "title": f"Meetup {rng.randrange(1000)}"},
            {"@id": ent + "/venue", "capacity": rng.randrange(10, 5000)},
        ],
    }


def _typed(rng, ent):
    return {
        "@context": {"@vocab": V, "raw": {"@id": V + "raw", "@type": "@json"}},
        "@id": ent,
        "score": rng.random(),
        "huge": 10.0 ** rng.randrange(21, 25),
        "views": rng.randrange(10_000_000),
        "active": rng.random() < 0.5,
        "raw": {"z": [1, 2], "a": None},
    }


def _same_as(rng, ent):
    twin = f"https://canonical.perfbench.example/item/{zlib.crc32(ent.encode()) % 1500}"
    return {
        "@context": CTX_SHOP,
        "@id": ent,
        "@type": "Product",
        "name": "Mirrored listing",
        "sameAs": twin,
    }


TEMPLATES = [_person, _product, _article, _labels, _indexed, _reverse, _graph, _typed, _same_as]


# --- pages -----------------------------------------------------------------------


@dataclass
class Corpus:
    """One workload's generated input."""

    rows: list = field(default_factory=list)  # (url, warc_ts, html, text, lang)
    failed_urls: set = field(default_factory=set)


def _script(body: str) -> str:
    return f'<script type="application/ld+json">{body}</script>'


def _page_html(title, head_scripts, body_text, base=None, filler=""):
    base_tag = f'<base href="{base}">' if base else ""
    return (
        f"<!DOCTYPE html><html><head>{base_tag}<title>{title}</title>"
        + "".join(head_scripts)
        + f"</head><body><p>{body_text}</p>{filler}</body></html>"
    ).encode("utf-8")


def _url_for(rng, i):
    domain = HUB_DOMAINS[rng.randrange(len(HUB_DOMAINS))] if rng.random() < 0.3 else f"https://site{i}.perfbench-crawl.example"
    return domain, f"{domain}/doc/{i}", f"{domain}/thing/{i}"


def _plant(rng, scripted: list[int]) -> tuple[set, set]:
    """Disjoint page sets for the two planted failure kinds."""
    n_bad = round(BAD_JSON_FRAC * len(scripted))
    n_absent = round(ABSENT_CTX_FRAC * len(scripted))
    chosen = rng.sample(scripted, n_bad + n_absent)
    return set(chosen[:n_bad]), set(chosen[n_bad:])


def _scripted_page(rng, i, bad, absent, extra_docs=()):
    domain, url, ent = _url_for(rng, i)
    n = rng.choices([1, 2, 3], weights=[55, 33, 12])[0]
    bodies = list(extra_docs)
    for s in range(n - len(bodies)):
        tmpl = TEMPLATES[rng.randrange(len(TEMPLATES))]
        bodies.append(json.dumps(tmpl(rng, ent if s == 0 else f"{ent}/s{s}")))
    if i in bad:
        bodies[rng.randrange(len(bodies))] = '{"@context": {"@vocab": "' + V + '"}, "name": '
    elif i in absent:
        bodies[rng.randrange(len(bodies))] = json.dumps({"@context": CTX_ABSENT, "@id": ent, "x": 1})
    base = f"{domain}/base/" if rng.random() < 0.1 else None
    text = f"Text of document {i}."
    return url, _page_html(f"Doc {i}", [_script(b) for b in bodies], text, base), text


def _finish(rows_spec, rng) -> list:
    t0 = datetime.datetime(2025, 3, 1)
    return [
        (url, t0 + datetime.timedelta(seconds=7 * i), html, text, LANGS[rng.randrange(len(LANGS))])
        for i, (url, html, text) in enumerate(rows_spec)
    ]


def _crawl(n, seed, scriptless_frac, bulky):
    """A crawl where ``scriptless_frac`` of the pages carry no JSON-LD.
    ``bulky`` scriptless pages are ~10 KB of prose, the crawl-realistic
    size; otherwise they are a few hundred bytes."""
    rng = random.Random(seed)
    paragraphs = [
        "<p>" + " ".join(rng.choice(_WORDS) for _ in range(80)) + "</p>" for _ in range(48)
    ]
    is_scripted = [rng.random() >= scriptless_frac for _ in range(n)]
    scripted = [i for i in range(n) if is_scripted[i]]
    bad, absent = _plant(rng, scripted)
    spec, failed = [], set()
    for i in range(n):
        if is_scripted[i]:
            url, html, text = _scripted_page(rng, i, bad, absent)
            if i in bad or i in absent:
                failed.add(url)
        else:
            _, url, _ = _url_for(rng, i)
            text = f"Plain document {i}."
            filler = "".join(rng.choice(paragraphs) for _ in range(20)) if bulky else ""
            html = _page_html(f"Doc {i}", [], text, filler=filler)
        spec.append((url, html, text))
    return Corpus(_finish(spec, rng), failed)


def _linked(n, seed):
    """Pages whose sameAs links form alias chains of 2–12 ~100-byte IRIs.
    Each chain member's page links it to the next member, and the
    lexicographic minimum sits at the far end of the chain, so the
    min-label propagation of connected components needs several rounds."""
    rng = random.Random(seed)
    links, g = [], 0
    while len(links) < n:
        k = rng.randint(2, 12)
        members = [
            f"https://registry.perfbench-linked.example/catalogue/region-{g % 17:02d}/entities/"
            f"group-{g:07d}/alias-{k - j:02d}/record"
            for j in range(k)
        ]
        for a, b in zip(members, members[1:]):
            links.append((a, b))
        g += 1
    links = links[:n]
    bad, absent = _plant(rng, list(range(n)))
    spec, failed = [], set()
    for i, (a, b) in enumerate(links):
        link_doc = json.dumps(
            {"@context": CTX_SHOP, "@id": a, "@type": "Product", "name": f"Listing {i}", "sameAs": b}
        )
        url, html, text = _scripted_page(rng, i, bad, absent, extra_docs=[link_doc])
        if i in bad or i in absent:
            failed.add(url)
        spec.append((url, html, text))
    rng.shuffle(spec)
    return Corpus(_finish(spec, rng), failed)


def _dump(rng, i, n_nodes):
    """One giant page: a dataset dump, a single @graph of ``n_nodes``
    sibling entities (the shape the bounded streaming reader exists for)."""
    _, url, ent = _url_for(rng, i)
    doc = {
        "@context": {"@vocab": V},
        "@graph": [
            {"@id": f"{ent}/row/{j}", "@type": "Row", "cell": f"v{rng.randrange(1_000_000)}"}
            for j in range(n_nodes)
        ],
    }
    return url, _page_html(f"Dump {i}", [_script(json.dumps(doc))], f"Dump {i}."), f"Dump {i}."


def _dumps(n, seed, n_giant, giant_nodes):
    """Giant page j sits at position ``j * n // n_giant``, not at a seeded
    one: which part file, task and micro-batch a giant lands in sets the
    job's critical path, and must not change with the seed."""
    rng = random.Random(seed)
    giant = {j * n // n_giant for j in range(n_giant)}
    scripted = [i for i in range(n) if i not in giant]
    bad, absent = _plant(rng, scripted)
    spec, failed = [], set()
    for i in range(n):
        if i in giant:
            spec.append(_dump(rng, i, giant_nodes))
            continue
        url, html, text = _scripted_page(rng, i, bad, absent)
        if i in bad or i in absent:
            failed.add(url)
        spec.append((url, html, text))
    return Corpus(_finish(spec, rng), failed)


_WORDS = (
    "the of and to in is was for on that with as by at from this which be are an or his "
    "her it had not but have they were been their has one all would there more when who "
    "will can said out up about into them than then some could these two other time only "
    "new after first also over any where such most very through between market harbour "
    "council weather season library river station garden museum report"
).split()


def generate(kind: str, n: int, seed: int, **kw) -> Corpus:
    """Build one workload's pages.  ``kind`` is the corpus shape."""
    mixed = zlib.crc32(kind.encode()) ^ seed
    if kind == "scripted":
        return _crawl(n, mixed, scriptless_frac=0.05, bulky=False)
    if kind == "sparse":
        return _crawl(n, mixed, scriptless_frac=0.70, bulky=True)
    if kind == "linked":
        return _linked(n, mixed)
    if kind == "dump":
        return _dumps(n, mixed, kw["n_giant"], kw["giant_nodes"])
    raise ValueError(f"unknown corpus kind {kind!r}")


def write_parquet(corpus: Corpus, path: str, n_files: int) -> None:
    """Write the pages as ``n_files`` part files (one scan split each),
    atomically: a half-written directory is never reused."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per = -(-len(corpus.rows) // n_files)
    for k in range(n_files):
        chunk = corpus.rows[k * per:(k + 1) * per]
        if not chunk:
            break
        cols = list(zip(*chunk))
        table = pa.table(
            {
                "url": pa.array(cols[0], pa.string()),
                "warc_ts": pa.array(cols[1], pa.timestamp("us")),
                "html": pa.array(cols[2], pa.binary()),
                "text": pa.array(cols[3], pa.string()),
                "lang": pa.array(cols[4], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(tmp, f"part-{k:05d}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
