"""The output frame bound of the fused mapInPandas loop (``udfs.pages_fn``)
on every page stage (batch UDF, bounded reader, doc API): frames of at
most ``udfs.CHUNK_ROWS`` rows, the same rows in the same order as the
unbounded loop, and a first frame that leaves before the page's later
rows are built."""

import json

import pandas as pd
import pytest
from pyspark import cloudpickle

from jsonld_spark import udfs
from jsonld_spark.context import EMPTY_CACHE
from jsonld_spark.functions.doc_api import doc_op_fn
from jsonld_spark.streaming.reader import make_streaming_pages_to_triples

CTX = {"@vocab": "http://v.e/", "name": {"@language": "en"}}
URL = "http://s.e/big"


def _big_page(n_entities: int) -> pd.DataFrame:
    """One page of ``n_entities`` entities, five rows each (one of them
    through an anonymous blank node)."""
    graph = [
        {
            "@id": f"http://e.com/{i}",
            "@type": "Thing",
            "name": f"thing {i}",
            "n": i,
            "child": {"p": f"c{i}"},
        }
        for i in range(n_entities)
    ]
    doc = {"@context": CTX, "@graph": graph}
    html = f'<script type="application/ld+json">{json.dumps(doc)}</script>'
    return pd.DataFrame({"url": [URL], "html": [html.encode()]})


def _frames(fn, batch: pd.DataFrame) -> list[pd.DataFrame]:
    return list(fn(iter([batch])))


def _rows(frames: list[pd.DataFrame]) -> list[tuple]:
    return [r for f in frames for r in f.itertuples(index=False, name=None)]


# enough entities that one page yields more than CHUNK_ROWS rows
N_BIG = udfs.CHUNK_ROWS // 5 + 200


def test_batch_udf_frames_are_bounded():
    batch = _big_page(N_BIG)
    frames = _frames(udfs.make_pages_to_triples(None), batch)
    want = udfs.page_to_rows(URL, batch["html"][0], EMPTY_CACHE)
    assert len(want) > udfs.CHUNK_ROWS
    assert len(frames) >= 2
    assert all(len(f) <= udfs.CHUNK_ROWS for f in frames)
    assert _rows(frames) == want


def test_reader_udf_frames_are_bounded(monkeypatch):
    bound = udfs.CHUNK_ROWS
    batch = _big_page(N_BIG)
    frames = _frames(make_streaming_pages_to_triples(None), batch)
    monkeypatch.setattr(udfs, "CHUNK_ROWS", 10**9)
    want = _rows(_frames(make_streaming_pages_to_triples(None), batch))
    assert len(want) > bound
    assert len(frames) >= 2
    assert all(len(f) <= bound for f in frames)
    assert _rows(frames) == want


def test_reader_udf_first_frame_leaves_before_the_page_is_built(monkeypatch):
    """The reader's UDF hands its first frame over after building at most
    CHUNK_ROWS rows of a bigger page, so the JVM can consume it while the
    worker builds the rest (counted in rows built, not timed)."""
    built = 0
    salt_row = udfs.salt_quad_to_row

    def counting(*args):
        nonlocal built
        built += 1
        return salt_row(*args)

    monkeypatch.setattr(udfs, "salt_quad_to_row", counting)
    frames = make_streaming_pages_to_triples(None)(iter([_big_page(N_BIG)]))
    first = next(frames)
    at_first = built
    rest = list(frames)
    assert len(first) == at_first <= udfs.CHUNK_ROWS
    assert at_first < built == len(first) + sum(len(f) for f in rest)


PAGE_STAGE_FNS = {
    "batch": lambda: udfs.make_pages_to_triples(None),
    "reader": lambda: make_streaming_pages_to_triples(None),
    "doc_api": lambda: doc_op_fn(lambda doc, base, cache: doc, None),
}


@pytest.mark.parametrize("make_fn", PAGE_STAGE_FNS.values(), ids=PAGE_STAGE_FNS)
def test_frame_bound_travels_in_the_pickled_function(monkeypatch, make_fn):
    """On every page stage the bound is read when the function is built,
    so a worker that unpickles it keeps that bound whatever its own
    module says: a page of 20 scripts (one doc-API row each) leaves in
    frames of at most 7 rows, with the unbounded loop's rows in order."""
    scripts = "".join(
        f'<script type="application/ld+json">'
        f'{json.dumps({"@context": CTX, "@id": f"http://e.com/{i}", "name": str(i)})}'
        f"</script>"
        for i in range(20)
    )
    batch = pd.DataFrame({"url": [URL], "html": [scripts.encode()]})
    monkeypatch.setattr(udfs, "CHUNK_ROWS", 7)
    payload = cloudpickle.dumps(make_fn())
    monkeypatch.setattr(udfs, "CHUNK_ROWS", 10**9)
    want = _rows(_frames(make_fn(), batch))
    frames = _frames(cloudpickle.loads(payload), batch)
    assert len(want) >= 20
    assert len(frames) > 1
    assert all(len(f) <= 7 for f in frames)
    assert _rows(frames) == want
