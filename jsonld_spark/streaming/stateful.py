"""Custom stateful streaming operators via ``applyInPandasWithState``.

``first_seen_pages``: exactly-one-emission per URL across ALL
micro-batches (unbounded lookback), unlike
``dropDuplicatesWithinWatermark`` whose memory of a URL expires with
the watermark.  State is one boolean per URL key, sharded by Spark's
state store — at crawl scale this is the dedup-across-resume register;
the batch pipeline's equivalent is the lineage left-anti join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..udfs import release_launch_zip_finders

_STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("n_occurrences", T.LongType()),
    ]
)


def _first_seen_fn(key, pdfs, state: GroupState):
    import pandas as pd

    try:
        if state.exists:
            # already emitted in an earlier batch → swallow re-crawls WITHOUT
            # scanning this batch's chunks (the steady-state majority of a
            # recrawl-heavy stream is already-seen keys)
            (seen,) = state.get
            if seen:
                return iter(())
        n = 0
        first_ts = None
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                # a key's rows arrive as an ITERATOR of chunks (Arrow batch
                # splits): the true first-seen ts is the min over ALL of
                # them, not the first non-empty chunk's min
                m = pdf["warc_ts"].min()
                # Series.min skips NaN, so an all-null chunk yields NaT —
                # never let it become (or stay) the running min: 'm < NaT'
                # is always False and would poison first_ts for the key
                if not pd.isna(m) and (first_ts is None or m < first_ts):
                    first_ts = m
        state.update((True,))
        return iter(
            [pd.DataFrame([(key[0], first_ts, n)], columns=["url", "warc_ts", "n_occurrences"])]
        )
    finally:
        release_launch_zip_finders()


def first_seen_pages(pages: DataFrame) -> DataFrame:
    """Streaming pages → one row per URL, ever (custom stateful op)."""
    return (
        pages.select("url", "warc_ts")
        .groupBy("url")
        .applyInPandasWithState(
            _first_seen_fn,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# --- streaming near-duplicate detection (stateful LSH band registry) --------

_ND_STATE_SCHEMA = T.StructType([T.StructField("first_url", T.StringType())])

_ND_OUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("dup_of", T.StringType()),
        T.StructField("band_id", T.IntegerType()),
    ]
)


def _near_dup_fn(key, pdfs, state: GroupState):
    import pandas as pd

    try:
        urls: set[str] = set()
        for pdf in pdfs:
            urls.update(pdf["url"].tolist())
        if not urls:
            return iter(())
        ordered = sorted(urls)
        if state.exists:
            (first,) = state.get
        else:
            # first holder of this band bucket, ever — deterministic keeper
            first = ordered[0]
            state.update((first,))
            ordered = ordered[1:]
        out = [(u, first, int(key[0])) for u in ordered if u != first]
        if not out:
            return iter(())
        return iter([pd.DataFrame(out, columns=["url", "dup_of", "band_id"])])
    finally:
        release_launch_zip_finders()


def streaming_near_dup_pages(pages: DataFrame) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidates across ALL micro-batches.

    Each page's text produces 4 LSH band keys (JVM-side minhash exprs,
    functions/text.py); state keyed by (band_id, band_hash) remembers the
    FIRST url ever seen in that bucket.  Later pages landing in the same
    bucket stream out as ``(url, dup_of, band_id)`` candidates — the
    crawl-time analog of ``minhash_candidate_pairs`` with the quadratic
    pair join replaced by a state-store lookup.  Candidates are per-band
    (a url sharing several bands with its keeper emits once per band);
    exact re-rank/dedup happens downstream, as in the batch path."""
    from ..functions.text import minhash_bands

    bands = minhash_bands(pages.select("url", "text"), id_col="url")
    return bands.groupBy("band_id", "band_hash").applyInPandasWithState(
        _near_dup_fn,
        outputStructType=_ND_OUT_SCHEMA,
        stateStructType=_ND_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
