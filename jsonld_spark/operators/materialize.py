"""Graph materialization: triples DataFrame → JSON-LD documents.

The genuinely relational inverse scan (SURVEY.md §2.6): node assembly is
``groupBy(graph, subj) + collect_list`` — pure JVM aggregation — while
full fromRdf semantics (rdf:first/rest list folding, which crosses
subjects) run per-graph via ``applyInPandas`` over the grouped quads.

At 100 TB: named graphs in crawl data are page-scoped (small), so the
per-graph grouped-map never sees unbounded groups — EXCEPT the default
graph (graph IS NULL), which aggregates the whole corpus into one group.
``default_graph_per_subject=True`` splits that group per subject (one
document per default-graph subject; cross-subject rdf list folding is
forfeited there — lists spanning the default graph of a 10^12-triple
corpus are not a thing a sane pipeline folds globally).  The default
(False) keeps whole-graph folding for Writer-parity outputs at
page/test scale.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, functions as F, types as T

from ..from_rdf import from_quads
from ..rdf_model import Quad
from ..udfs import release_launch_zip_finders

MATERIALIZED_SCHEMA = T.StructType(
    [
        T.StructField("graph", T.StringType(), True),
        T.StructField("jsonld", T.StringType(), True),
        T.StructField("n_nodes", T.LongType(), True),
    ]
)


def node_stats(triples: DataFrame) -> DataFrame:
    """Relational node assembly stats: one row per (graph, subj)."""
    return (
        triples.groupBy("graph", "subj")
        .agg(
            F.countDistinct("pred").alias("n_preds"),
            F.count("*").alias("n_triples"),
        )
        .orderBy("graph", "subj")
    )


def materialize_graphs(
    triples: DataFrame,
    ordered: bool = True,
    use_native_types: bool = False,
    default_graph_per_subject: bool = False,
    post: Callable | None = None,
) -> DataFrame:
    """Per-graph fromRdf via applyInPandas: (graph, JSON, n_nodes).

    ``post`` (optional) transforms the expanded document list INSIDE the
    same grouped-map pass (e.g. compaction/framing) — nothing extra
    crosses the Arrow boundary.  ``n_nodes`` counts the expanded nodes
    before ``post``."""
    import pandas as pd

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        try:
            g = pdf["graph"].iloc[0] if len(pdf) else None
            if g is not None and not isinstance(g, str):
                g = None
            quads = [
                Quad(
                    subj,
                    pred,
                    obj,
                    bool(lit),
                    ("http://www.w3.org/2001/XMLSchema#string"
                     if lit and dt is None and lang is None
                     else dt),
                    lang,
                    None,
                )
                for subj, pred, obj, lit, dt, lang in zip(
                    pdf["subj"], pdf["pred"], pdf["obj"],
                    pdf["obj_is_literal"], pdf["obj_datatype"], pdf["obj_lang"],
                )
            ]
            docs = from_quads(quads, ordered=ordered, use_native_types=use_native_types)
            n = len(docs)
            out_doc = post(docs) if post is not None else docs
            return pd.DataFrame(
                [(g, json.dumps(out_doc, sort_keys=True), n)],
                columns=["graph", "jsonld", "n_nodes"],
            )
        finally:
            release_launch_zip_finders()

    sel = triples.select(
        "graph", "subj", "pred", "obj", "obj_is_literal", "obj_datatype", "obj_lang"
    )
    if default_graph_per_subject:
        # named graphs keep whole-graph folding; the default graph splits
        # into one bounded group per subject (split key NULL elsewhere)
        keyed = sel.withColumn(
            "_split", F.when(F.col("graph").isNull(), F.col("subj"))
        )
        return keyed.groupBy("graph", "_split").applyInPandas(
            fold, MATERIALIZED_SCHEMA
        )
    return sel.groupBy("graph").applyInPandas(fold, MATERIALIZED_SCHEMA)


def materialize_compacted(
    triples: DataFrame,
    context,
    ordered: bool = True,
    use_native_types: bool = False,
    default_graph_per_subject: bool = False,
) -> DataFrame:
    """Writer parity: per-graph fromRdf + compaction against ``context``
    → (graph, jsonld, n_nodes) with ``jsonld`` a COMPACTED document (the
    reference's Writer emits compacted JSON-LD when given a context,
    writer.rb).  The context is closed over (tiny) — compaction runs
    inside the same grouped-map pass via ``post``, so nothing extra
    crosses the Arrow boundary."""
    from ..compact import compact_document

    return materialize_graphs(
        triples,
        ordered=ordered,
        use_native_types=use_native_types,
        default_graph_per_subject=default_graph_per_subject,
        post=lambda docs: compact_document(docs, context),
    )


def materialize_framed(
    triples: DataFrame,
    frame: dict,
    ordered: bool = True,
    use_native_types: bool = False,
    default_graph_per_subject: bool = False,
) -> DataFrame:
    """Writer frame parity: per-graph fromRdf + framing against ``frame``
    (the reference Writer frames serialization output when given one,
    writer.rb:350-357) → (graph, jsonld, n_nodes) with ``jsonld`` the
    FRAMED document — framed in the same grouped-map pass via ``post``."""
    from ..frame import frame_document

    return materialize_graphs(
        triples,
        ordered=ordered,
        use_native_types=use_native_types,
        default_graph_per_subject=default_graph_per_subject,
        post=lambda docs: frame_document(docs, frame),
    )
