"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``: flagship KG-construction path — documents →
Common-Crawl-style pages → fused JSON-LD extract/expand/toRdf UDF →
triples DataFrame.

``queries()``/``oracle_sql()``: per-operator checks.  The JSON-LD spine
is oracle-checkable because pages are derived from ``documents`` with a
fixed ld+json template (sources/doc_pages.py) — DuckDB can predict the
exact triples.  Text/dedup/similarity ops use integer-scaled arithmetic
and md5-derived hashes that are bit-identical across Spark and DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from jsonld_spark.pipeline import KGPipeline
from jsonld_spark.sources.doc_pages import (
    CANON_NS,
    DOC_NS,
    SAME_AS,
    VOCAB,
    pages_from_documents,
)
from jsonld_spark.functions import multimodal, similarity, text as textops

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _doc_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_from_documents(_docs(spark, sf_dir))
    # derived pages are 100% ld+json by construction: the crawl
    # pre-filter would be pure decode overhead here (bench-measured)
    return KGPipeline(spark).triples(pages, skip_scriptless=False)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _doc_triples(spark, "/root/testdata/sf0.001")


# --- JSON-LD spine queries (full UDF path, SQL-predictable output) ----------


def _q_jsonld_rdfstar(spark, sf_dir):
    """JSON-LD-star pipeline: annotated `linked` edges emit one asserted
    triple + one quoted-term (<< s p o >>) annotation triple per doc."""
    from jsonld_spark.sources.doc_pages import pages_from_documents_annotated

    pages = pages_from_documents_annotated(_docs(spark, sf_dir))
    return (
        KGPipeline(spark, rdfstar=True)
        .triples(pages, skip_scriptless=False)
        .select("subj", "pred", "obj", "obj_datatype")
        .orderBy("subj", "pred")
    )


def _q_jsonld_lang(spark, sf_dir):
    t = _doc_triples(spark, sf_dir)
    return (
        t.filter(F.col("pred") == VOCAB + "lang")
        .select("subj", "obj", "obj_datatype")
        .orderBy("subj")
    )


def _q_jsonld_nchars(spark, sf_dir):
    t = _doc_triples(spark, sf_dir)
    return (
        t.filter(F.col("pred") == VOCAB + "n_chars")
        .select("subj", "obj", "obj_datatype")
        .orderBy("subj")
    )


def _q_jsonld_types(spark, sf_dir):
    t = _doc_triples(spark, sf_dir)
    return (
        t.filter(F.col("pred") == RDF_TYPE)
        .select("subj", "obj")
        .orderBy("subj")
    )


def _q_jsonld_pred_counts(spark, sf_dir):
    t = _doc_triples(spark, sf_dir)
    return t.groupBy("pred").agg(F.count("*").alias("n")).orderBy("pred")


def _q_jsonld_sameas_canonical(spark, sf_dir):
    from jsonld_spark.operators.graph import canonical_mapping, sameas_edges

    t = _doc_triples(spark, sf_dir)
    return canonical_mapping(sameas_edges(t)).orderBy("iri")


def _q_jsonld_nquads(spark, sf_dir):
    from jsonld_spark.operators.nquads import nquad_col

    t = _doc_triples(spark, sf_dir)
    return (
        t.filter(F.col("pred") == VOCAB + "source")
        .select(nquad_col().alias("nquad"))
        .orderBy("nquad")
    )


def _q_nquads_roundtrip(spark, sf_dir):
    """Writer→reader round-trip of the N-Quads interop surface: serialize
    the source triples with the JVM nquad_col expression, parse the lines
    back with the distributed reader (operators/nquads.py
    parse_nquads_lines — Arrow-batched, no shuffle), and project the
    recovered terms.  The oracle reads the same values straight off the
    documents table, so any asymmetry between the two serializer/parser
    halves (escaping, datatype convention, term markup) breaks the
    hash."""
    from jsonld_spark.operators.nquads import nquad_col, parse_nquads_lines

    t = _doc_triples(spark, sf_dir)
    lines = (
        t.filter(F.col("pred") == VOCAB + "source")
        .select(nquad_col().alias("value"))
    )
    back = parse_nquads_lines(lines)
    return back.select("subj", "obj", "obj_datatype").orderBy("subj")


def _q_jsonld_stream_triples(spark, sf_dir):
    """Same lang-triple projection as jsonld_lang_triples but through the
    bounded-memory streaming reader (streaming/reader.py) — gives the
    generator path its own oracle-checked row."""
    from jsonld_spark.pipeline import page_stage
    from jsonld_spark.streaming.reader import make_streaming_pages_to_triples

    pages = pages_from_documents(_docs(spark, sf_dir))
    t = page_stage(
        pages, make_streaming_pages_to_triples(None), skip_scriptless=False
    )
    return (
        t.filter(F.col("error").isNull())
        .filter(F.col("pred") == VOCAB + "lang")
        .select("subj", "obj", "obj_datatype")
        .orderBy("subj")
    )


def _q_trig_named_graphs(spark, sf_dir):
    """TriG ingest (round 4): a named-graph TriG document derived from
    the documents table round-trips through the Turtle/TriG reader into
    (graph, subj, obj) triples.  The TriG text is built driver-side
    from a BOUNDED slice (first 500 doc_ids — the parse is a driver-side
    golden-file/vocab-ingest path, never a crawl-scale scan)."""
    from jsonld_spark.sources.turtle import parse_turtle

    rows = (
        _docs(spark, sf_dir)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
        .limit(500)
        .collect()
    )
    trig = "\n".join(
        f'<urn:g:{r.doc_id}> {{ <urn:d:{r.doc_id}> <{VOCAB}n_chars> "{r.n_chars}" . }}'
        for r in rows
    )
    quads = parse_turtle(trig)
    return spark.createDataFrame(
        [(q.graph, q.subj, q.obj) for q in quads],
        "graph string, subj string, obj string",
    ).orderBy("subj")


# --- relational operators over driver tables --------------------------------


def _q_tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cents = lambda c: F.expr(f"cast(round({c} * 100) as bigint)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .withColumn("qty_c", cents("l_quantity"))
        .withColumn("price_c", cents("l_extendedprice"))
        .withColumn(
            "disc_price_c",
            F.expr(
                "cast(round(l_extendedprice * 100) as bigint) * cast(round((1 - l_discount) * 100) as bigint)"
            ),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty_c").alias("sum_qty_x100"),
            F.sum("price_c").alias("sum_price_x100"),
            F.sum("disc_price_c").alias("sum_disc_price_x10000"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _q_top_revenue_join(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = (
        li.withColumn(
            "rev_c",
            F.expr(
                "cast(round(l_extendedprice * 100) as bigint) * cast(round((1 - l_discount) * 100) as bigint)"
            ),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("rev_c").alias("revenue_x10000"))
    )
    return (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("revenue_x10000").alias("segment_revenue_x10000"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


def _q_events_first_per_user(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


def _q_events_json_props(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# --- per-document API stages (expand/flatten/compact/frame UDFs) ------------


def _doc_pages(spark, sf_dir):
    return pages_from_documents(_docs(spark, sf_dir))


def _q_jsonld_node_stats(spark, sf_dir):
    from jsonld_spark.operators.materialize import node_stats

    return node_stats(_doc_triples(spark, sf_dir))


def _q_jsonld_expand_nodes(spark, sf_dir):
    from jsonld_spark.functions.doc_api import expand_docs

    out = expand_docs(_doc_pages(spark, sf_dir))
    return (
        out.filter(F.col("error").isNull())
        .select("url", F.expr("json_array_length(result)").alias("n_nodes"))
        .orderBy("url")
    )


def _q_jsonld_flatten_nodes(spark, sf_dir):
    from jsonld_spark.functions.doc_api import flatten_docs

    out = flatten_docs(_doc_pages(spark, sf_dir))
    return (
        out.filter(F.col("error").isNull())
        .select("url", F.expr("json_array_length(result)").alias("n_nodes"))
        .orderBy("url")
    )


def _q_jsonld_compact_keys(spark, sf_dir):
    from jsonld_spark.functions.doc_api import compact_docs

    out = compact_docs(_doc_pages(spark, sf_dir))
    return (
        out.filter(F.col("error").isNull())
        .select(
            "url",
            F.expr("size(json_object_keys(result))").cast("bigint").alias("n_keys"),
        )
        .orderBy("url")
    )


def _q_jsonld_frame_documents(spark, sf_dir):
    from jsonld_spark.functions.doc_api import frame_docs

    frame = {"@context": {"@vocab": VOCAB}, "@type": "Document"}
    out = frame_docs(_doc_pages(spark, sf_dir), frame)
    return (
        out.filter(F.col("error").isNull())
        .select(
            "url",
            F.get_json_object("result", "$['@id']").alias("framed_id"),
        )
        .orderBy("url")
    )


def _q_jsonld_materialize(spark, sf_dir):
    from jsonld_spark.operators.materialize import materialize_graphs

    t = _doc_triples(spark, sf_dir)
    return (
        materialize_graphs(t)
        .select("graph", "n_nodes")
        .orderBy("graph")
    )


def _q_events_sessions(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    # FRACTIONAL epoch seconds (cast to double), matching
                    # the oracle's epoch(): per-timestamp long truncation
                    # would disagree on gaps whose truncated diff is
                    # exactly 1800 but true diff is not
                    F.col("ts").cast("timestamp").cast("double")
                    - F.col("prev_ts").cast("timestamp").cast("double")
                    > 1800
                ),
                1,
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


def _q_revenue_by_nation(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    rev = li.withColumn(
        "rev_c",
        F.expr(
            "cast(round(l_extendedprice * 100) as bigint) * cast(round((1 - l_discount) * 100) as bigint)"
        ),
    )
    return (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("rev_c").alias("revenue_x10000"))
        .orderBy("r_name", "n_name")
    )


# --- text / dedup / similarity / multimodal ---------------------------------


def _q_parts_by_brand(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    return (
        part.filter(F.col("p_type") == "ECONOMY")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.expr("sum(cast(round(p_retailprice * 100) as bigint))").alias(
                "retail_x100"
            ),
            F.max("p_size").alias("max_size"),
        )
        .crossJoin(F.broadcast(supplier.agg(F.count("*").alias("n_suppliers"))))
        .orderBy("p_brand")
    )


def _q_events_hourly(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("bucket"), "event_type", "n")
        .orderBy("bucket", "event_type")
    )


def _q_orders_no_lineitem(spark, sf_dir):
    """Anti join: orders with no lineitem rows, counted per status."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderstatus")
    )


def _q_multi_type_users(spark, sf_dir):
    """Set op: users present in BOTH 'click' and 'view' event streams
    (INTERSECT of the two user sets)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    return clicks.intersect(views).orderBy("user_id")


def _q_token_count_bpe(spark, sf_dir):
    return textops.token_count_bpe(_docs(spark, sf_dir))


def _q_dedup_exact(spark, sf_dir):
    return textops.exact_dedup(_docs(spark, sf_dir))


def _q_token_stats(spark, sf_dir):
    return textops.token_stats(_docs(spark, sf_dir))


def _q_quality(spark, sf_dir):
    return textops.quality_score(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    return textops.lang_id(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return textops.fingerprint(_docs(spark, sf_dir))


def _q_top_tokens(spark, sf_dir):
    return textops.top_tokens(_docs(spark, sf_dir))


def _q_sample_by_hash(spark, sf_dir):
    return textops.sample_by_hash(_docs(spark, sf_dir))


def _q_pii_scrub(spark, sf_dir):
    return textops.pii_scrub(_docs(spark, sf_dir))


def _q_c4_clean(spark, sf_dir):
    return textops.c4_clean(_docs(spark, sf_dir))


def _q_pack_chunks(spark, sf_dir):
    return textops.pack_chunks(_docs(spark, sf_dir))


def _q_dedup_groups(spark, sf_dir):
    return textops.dedup_groups(_docs(spark, sf_dir))


def _q_minhash(spark, sf_dir):
    # string projection of the signature: array columns crash the
    # driver's canonical sort (pandas factorize on lists)
    return textops.minhash_signature_str(_docs(spark, sf_dir))


def _q_simhash(spark, sf_dir):
    return textops.simhash(_docs(spark, sf_dir))


def _q_jaccard_pairs(spark, sf_dir):
    return textops.jaccard_pairs(_docs(spark, sf_dir))


def _q_passage_dedup(spark, sf_dir):
    return textops.passage_dedup(_docs(spark, sf_dir))


def _q_decontaminate(spark, sf_dir):
    return textops.decontaminate(_docs(spark, sf_dir))


def _q_decontaminate_fuzzy(spark, sf_dir):
    """MinHash-LSH fuzzy benchmark decontamination: training docs that
    share any LSH band bucket with the held-out split — the
    paraphrase-robust complement to the exact 8-gram filter."""
    return textops.decontaminate_fuzzy(_docs(spark, sf_dir))


def _q_quota_sample(spark, sf_dir):
    return textops.quota_sample(_docs(spark, sf_dir))


def _q_repetition_stats(spark, sf_dir):
    return textops.repetition_stats(_docs(spark, sf_dir))


def _q_top_ngram_stats(spark, sf_dir):
    return textops.top_ngram_stats(_docs(spark, sf_dir))


def _q_minhash_candidates(spark, sf_dir):
    return textops.minhash_candidate_pairs(_docs(spark, sf_dir))


def _q_cosine_topk(spark, sf_dir):
    return similarity.cosine_topk(_emb(spark, sf_dir))


def _q_near_dup_embeddings(spark, sf_dir):
    return similarity.near_dup_embeddings(_emb(spark, sf_dir))


def _q_ann_lsh(spark, sf_dir):
    return similarity.ann_topk_lsh(_emb(spark, sf_dir))


def _q_ann_ivf(spark, sf_dir):
    return similarity.ann_topk_ivf(_emb(spark, sf_dir))


def _q_ann_recall(spark, sf_dir):
    """ANN QA: recall@5 of the LSH index vs brute-force exact top-5,
    per query — integer fixed-point, both rankings already mirrored."""
    return similarity.ann_recall(_emb(spark, sf_dir), method="lsh")


def _q_semdedup(spark, sf_dir):
    return similarity.semdedup(_emb(spark, sf_dir))


# --- KG graph-query operators ------------------------------------------------


def _q_bgp_bindings(spark, sf_dir):
    """SPARQL-style BGP over the full extract→toRdf triple output: four
    patterns (one ground-constant-heavy, three variable) compile to a
    Catalyst join tree; the source constant acts as a semi-join filter.

    Each pattern is a separate scan of its input: over a MATERIALIZED
    triples table (parquet/Iceberg — the production shape) every
    pattern's constants push down to the scan (plan-asserted in
    tests/test_graph_queries.py); over this derived DataFrame Catalyst
    recomputes the extract UDF per pattern, so real BGP workloads run
    against the pipeline's written triples, not the live extraction."""
    from jsonld_spark.operators.bgp import bgp_match

    t = _doc_triples(spark, sf_dir)
    return bgp_match(
        t,
        [
            ("?d", RDF_TYPE, VOCAB + "Document"),
            ("?d", VOCAB + "lang", "?lang"),
            ("?d", SAME_AS, "?canon"),
            ("?d", VOCAB + "source", "src3"),
        ],
    ).orderBy("d", "lang", "canon")


def _q_bgp_filter_expr(spark, sf_dir):
    """SPARQL FILTER + expression layer over bind_meta bindings:
    langMatches(lang(?ttl), 'en') — RFC 4647 prefix matching must
    accept the '-us'-extended tags — AND a numeric range on the
    xsd:integer n_chars binding; the projection exercises lang() and
    datatype().  All whole-stage-codegen Column expressions; the
    pipeline runs on language-TAGGED pages so obj_lang is real."""
    from jsonld_spark.operators.bgp import (
        bgp_filter, bgp_match, datatype, lang, lang_matches, num,
    )
    from jsonld_spark.sources.doc_pages import pages_from_documents_tagged

    t = KGPipeline(spark).triples(
        pages_from_documents_tagged(_docs(spark, sf_dir)),
        skip_scriptless=False,
    )
    b = bgp_match(
        t,
        [("?d", VOCAB + "title", "?ttl"), ("?d", VOCAB + "n_chars", "?n")],
        bind_meta=True,
    )
    b = bgp_filter(
        b,
        lang_matches(lang("ttl"), "en")
        & (num("n") >= 100)
        & (num("n") < 300),
    )
    return b.select(
        "d",
        F.col("ttl").alias("title"),
        lang("ttl").alias("title_lang"),
        F.col("n").alias("n_chars_lex"),
        datatype("n").alias("n_dt"),
    ).orderBy("d")


def _q_bgp_aggregate_langs(spark, sf_dir):
    """SPARQL GROUP BY over a binding table: per language tag of the
    tagged-title KG, solution count + MIN-sample title + average
    n_chars — the documented aggregate mapping (partial-agg groupBy,
    one exchange on the tag)."""
    from jsonld_spark.operators.bgp import (
        bgp_aggregate, bgp_match, lang, num,
    )
    from jsonld_spark.sources.doc_pages import pages_from_documents_tagged

    t = KGPipeline(spark).triples(
        pages_from_documents_tagged(_docs(spark, sf_dir)),
        skip_scriptless=False,
    )
    b = bgp_match(
        t,
        [("?d", VOCAB + "title", "?ttl"), ("?d", VOCAB + "n_chars", "?n")],
        bind_meta=True,
    ).withColumn("tag", lang("ttl"))
    return bgp_aggregate(
        b,
        "tag",
        {
            "n_docs": F.count("*"),
            "sample_title": F.min("ttl"),
            "avg_chars": F.round(F.avg(num("n")), 3),
        },
    ).orderBy("tag")


def _q_bgp_minus_exists(spark, sf_dir):
    """SPARQL MINUS + FILTER EXISTS over the extracted KG: Documents
    with a lang binding, FILTER EXISTS { ?d sameAs ?c } (semi-join —
    every doc has one, so it proves the join keeps rather than
    multiplies), MINUS { ?d source 'src3' } (anti-join)."""
    from jsonld_spark.operators.bgp import bgp_exists, bgp_match, bgp_minus

    t = _doc_triples(spark, sf_dir)
    b = bgp_match(
        t,
        [("?d", RDF_TYPE, VOCAB + "Document"), ("?d", VOCAB + "lang", "?lang")],
    )
    b = bgp_exists(b, t, [("?d", SAME_AS, "?c")])
    return bgp_minus(b, t, [("?d", VOCAB + "source", "src3")]).orderBy("d")


def _q_bgp_optional_lang(spark, sf_dir):
    """SPARQL OPTIONAL over the extracted triples: every Document with
    its canon, plus the lang binding ONLY where the optional
    source='src3' group matches — NULL (SPARQL unbound) elsewhere.
    The optional group is one extra left equi-join in the plan."""
    from jsonld_spark.operators.bgp import bgp_optional

    t = _doc_triples(spark, sf_dir)
    return bgp_optional(
        t,
        [
            ("?d", RDF_TYPE, VOCAB + "Document"),
            ("?d", SAME_AS, "?canon"),
        ],
        [
            [
                ("?d", VOCAB + "source", "src3"),
                ("?d", VOCAB + "lang", "?l3"),
            ]
        ],
    ).orderBy("d")  # d unique -> total order, no NULL-order divergence


def _q_bgp_union_sources(spark, sf_dir):
    """SPARQL UNION over the extracted triples: src1 docs bind ?lang,
    src2 docs bind ?nch (the n_chars lexical form) — each branch an
    independent join tree, unioned with NULL for the other branch's
    variable."""
    from jsonld_spark.operators.bgp import bgp_union

    t = _doc_triples(spark, sf_dir)
    return bgp_union(
        t,
        [
            [
                ("?d", VOCAB + "source", "src1"),
                ("?d", VOCAB + "lang", "?lang"),
            ],
            [
                ("?d", VOCAB + "source", "src2"),
                ("?d", VOCAB + "n_chars", "?nch"),
            ],
        ],
    ).orderBy("d")  # each doc in exactly one branch -> d unique


CLASS_NS = "http://class.example/"
PRED_NS = "http://prop.example/"


def _q_type_inference(spark, sf_dir):
    """RDFS subClassOf entailment (rdfs9): docs typed Class{doc_id%100}
    under the ontology Class{c} ⊑ Class{c div 2} — the closure runs on
    the tiny ontology, ONE join materializes inherited types, and the
    per-class instance counts come out of a partial-agg groupBy."""
    from jsonld_spark.operators.graph import infer_types

    docs = _docs(spark, sf_dir)
    typed = docs.select(
        F.concat(F.lit(DOC_NS), F.col("doc_id").cast("string")).alias("subj"),
        F.concat(
            F.lit(CLASS_NS), F.pmod(F.col("doc_id"), F.lit(100)).cast("string")
        ).alias("cls"),
    )
    cs = (
        docs.select(F.pmod(F.col("doc_id"), F.lit(100)).alias("c"))
        .distinct()
        .filter(F.col("c") > 0)
    )
    subclass = cs.select(
        F.concat(F.lit(CLASS_NS), F.col("c").cast("string")).alias("src"),
        F.concat(F.lit(CLASS_NS), F.expr("c div 2").cast("string")).alias("dst"),
    )
    return (
        infer_types(typed, subclass)
        .groupBy("cls")
        .agg(F.count("*").alias("n_instances"))
        .orderBy("cls")
    )


def _q_domain_quality(spark, sf_dir):
    """Domain-level curation rollup: per-source doc/pass counts,
    integer-scaled mean stopword ratio, pass ratio + low_quality flag."""
    return textops.domain_quality(_docs(spark, sf_dir))


def _q_corpus_stats(spark, sf_dir):
    """One-row dataset-card summary (counts, chars, tokens, metadata
    cardinalities) in a single partial-agg pass."""
    return textops.corpus_stats(_docs(spark, sf_dir))


def _q_canonical_urls(spark, sf_dir):
    """URL canonicalization: messy urls synthesized from the documents
    table (upper-case scheme/host, explicit :80, unsorted params,
    fragment) must normalize to the oracle's INDEPENDENTLY constructed
    canonical form — pure JVM regexp/array map stage."""
    from jsonld_spark.functions.text import canonical_urls

    messy = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "concat('HTTP://Docs.EXAMPLE:80/', source, '/', cast(doc_id as string), "
            "'?b=', cast(doc_id % 7 as string), '&a=', cast(doc_id % 3 as string), '#sec')"
        ).alias("url"),
    )
    return canonical_urls(messy).select("doc_id", "canonical_url").orderBy(
        "doc_id"
    )


def _q_boilerplate_lines(spark, sf_dir):
    """Cross-document boilerplate: lines repeating in >=2 distinct docs,
    flagged per doc with an integer ratio — exchanges carry digests,
    never line text."""
    return textops.boilerplate_lines(_docs(spark, sf_dir), min_df=2)


def _q_tfidf_top_terms(spark, sf_dir):
    """Integer-exact tf·idf keyword extraction: top-3 terms per doc,
    ranked by the decimal(38,0) product tf * ((N*1000) div df)."""
    return textops.tfidf_top_terms(_docs(spark, sf_dir), k=3)


def _q_extract_text(spark, sf_dir):
    """Heuristic HTML->text extraction (the canonical first stage of a
    crawl text pipeline) over the derived doc pages: script/comment
    blocks drop, tags become spaces, the 5 ubiquitous entities
    unescape, whitespace collapses - all one JVM codegen projection.
    The fixed page template makes the output exactly predictable from
    the raw text column (the '<'-escape round-trips; the entity
    replaces apply identically to raw text on the oracle side)."""
    from jsonld_spark.sources.html_jsonld import html_to_text

    pages = pages_from_documents(_docs(spark, sf_dir))
    return html_to_text(pages).orderBy("url")


def _q_extract_links(spark, sf_dir):
    """Crawl link-graph extraction: pages synthesized with one
    root-relative, one absolute, one path-relative and one
    commented-out anchor each; the oracle constructs the three
    resolved targets directly (the hidden one must NOT appear)."""
    from jsonld_spark.sources.html_jsonld import extract_links

    pages = _docs(spark, sf_dir).select(
        F.expr(
            "concat('http://h', cast(doc_id % 4 as string), "
            "'.example/dir/page', cast(doc_id as string))"
        ).alias("url"),
        F.encode(
            F.expr(
                "concat('<html><body><a href=\"/p/', cast(doc_id % 10 as string), "
                "'\">x</a><a href=', chr(39), 'https://ex.com/', "
                "cast(doc_id % 5 as string), chr(39), '>y</a>"
                "<a href=\"r/', cast(doc_id % 3 as string), '\">z</a>"
                "<!-- <a href=\"/hidden\">n</a> --></body></html>')"
            ),
            "utf-8",
        ).alias("html"),
    )
    return extract_links(pages).orderBy("url", "href")


def _q_host_graph(spark, sf_dir):
    """Domain-level web graph from the extracted links: hosts
    lowercased, host-less targets dropped, weighted by link count."""
    from jsonld_spark.sources.html_jsonld import extract_links, host_graph

    pages = _docs(spark, sf_dir).select(
        F.expr(
            "concat('http://h', cast(doc_id % 4 as string), "
            "'.example/dir/page', cast(doc_id as string))"
        ).alias("url"),
        F.encode(
            F.expr(
                "concat('<html><body><a href=\"/p/', cast(doc_id % 10 as string), "
                "'\">x</a><a href=', chr(39), 'https://ex.com/', "
                "cast(doc_id % 5 as string), chr(39), '>y</a>"
                "<a href=\"r/', cast(doc_id % 3 as string), '\">z</a>"
                "<!-- <a href=\"/hidden\">n</a> --></body></html>')"
            ),
            "utf-8",
        ).alias("html"),
    )
    return host_graph(extract_links(pages))


def _q_sample_frames(spark, sf_dir):
    """Frame-sampling plumbing: mapInPandas explode (1 payload row ->
    4 frame rows); digests over the hex form are byte-true and
    SQL-mirrorable."""
    return multimodal.sample_frames(
        multimodal.attach_payload(_docs(spark, sf_dir)), n_frames=4
    ).orderBy("doc_id", "frame_idx")


def _q_negative_samples(spark, sf_dir):
    """Deterministic KG-embedding negative sampling over the resource
    triples (type + sameAs): md5-indexed entity draws, filtered
    setting — the oracle replays the dense-id entity table and the
    draw arithmetic exactly."""
    from jsonld_spark.operators.graph import negative_samples

    t = _doc_triples(spark, sf_dir)
    return negative_samples(t, k=2)


def _q_graph_diff(spark, sf_dir):
    """Recrawl delta: old snapshot = lang+source triples of even docs,
    new = lang triples of all docs → '+' rows are odd docs' lang
    triples, '-' rows even docs' source triples."""
    from jsonld_spark.operators.graph import graph_diff

    t = _doc_triples(spark, sf_dir)
    even = F.expr(
        f"cast(substring(subj, {len(DOC_NS) + 1}) as bigint) % 2 = 0"
    )
    old = t.filter(
        F.col("pred").isin(VOCAB + "lang", VOCAB + "source") & even
    )
    new = t.filter(F.col("pred") == VOCAB + "lang")
    return graph_diff(old, new)


def _q_component_stats(spark, sf_dir):
    """Component-size histogram of the sameAs link graph: each canon
    entity's component = its docs + the canon node itself, so the
    histogram is derivable from the doc_id % 100 group sizes."""
    from jsonld_spark.operators.graph import (
        component_stats,
        connected_components,
        sameas_edges,
    )

    t = _doc_triples(spark, sf_dir)
    labels = connected_components(sameas_edges(t))
    return component_stats(labels)


def _q_ifp_links(spark, sf_dir):
    """IFP entity-link candidates on the n_chars property: documents
    sharing a value form one group with a min-subject canonical —
    groups not pairs (k-1 edges, never k²), junk keys bounded by
    max_group."""
    from jsonld_spark.operators.graph import ifp_link_candidates

    t = _doc_triples(spark, sf_dir)
    return ifp_link_candidates(t, VOCAB + "n_chars")


def _q_describe_src1(spark, sf_dir):
    """SPARQL DESCRIBE (concise bounded description) of every src1
    document entity: seed set = a DataFrame of subjects (semi-join into
    the triples scan, broadcast); the synthetic KG has no bnode
    objects, so the CBD is exactly the seeds' own triples — which the
    oracle can enumerate predicate by predicate."""
    from jsonld_spark.operators.bgp import describe

    t = _doc_triples(spark, sf_dir)
    seeds = t.filter(
        (F.col("pred") == VOCAB + "source") & (F.col("obj") == "src1")
    ).select("subj")
    return describe(t, seeds).select("subj", "pred", "obj").orderBy(
        "subj", "pred", "obj"
    )


def _q_shacl_validate(spark, sf_dir):
    """SHACL-lite validation of the extracted KG: DocumentShape
    (lang minCount/maxCount/pattern, n_chars xsd:integer datatype +
    minInclusive range facet, sameAs nodeKind iri) — the firing
    constraints on the synthetic corpus are the lang pattern, the
    sh:class anti-join and the n_chars range, with every other
    constraint proven green by the zero rows it contributes."""
    from jsonld_spark.operators.shacl import validate_shapes

    t = _doc_triples(spark, sf_dir)
    shapes = [
        {
            "name": "DocumentShape",
            "target_class": VOCAB + "Document",
            "properties": [
                {"path": VOCAB + "lang", "min_count": 1, "max_count": 1,
                 "pattern": "^(en|es)"},
                {"path": VOCAB + "n_chars", "datatype": XSD_INTEGER,
                 "min_inclusive": 100},
                {"path": SAME_AS, "node_kind": "iri",
                 # canon entities carry no rdf:type -> every doc
                 # violates, exercising the sh:class anti-join
                 "cls": VOCAB + "Entity"},
            ],
        }
    ]
    return validate_shapes(t, shapes)


def _q_rule_materialization(spark, sf_dir):
    """Forward-chaining saturation (semi-naive datalog): broader-
    transitivity + rdfs9 type inheritance as two rules over the
    Class{c} ⊑ Class{c div 2} ontology; output = per-predicate triple
    counts of the saturated graph."""
    from jsonld_spark.operators.bgp import forward_chain

    docs = _docs(spark, sf_dir)
    typed = docs.select(
        F.concat(F.lit(DOC_NS), F.col("doc_id").cast("string")).alias("subj"),
        F.lit(RDF_TYPE).alias("pred"),
        F.concat(
            F.lit(CLASS_NS), F.pmod(F.col("doc_id"), F.lit(100)).cast("string")
        ).alias("obj"),
    )
    cs = (
        docs.select(F.pmod(F.col("doc_id"), F.lit(100)).alias("c"))
        .distinct()
        .filter(F.col("c") > 0)
    )
    broader = cs.select(
        F.concat(F.lit(CLASS_NS), F.col("c").cast("string")).alias("subj"),
        F.lit(VOCAB + "broader").alias("pred"),
        F.concat(F.lit(CLASS_NS), F.expr("c div 2").cast("string")).alias("obj"),
    )
    rules = [
        (
            [("?a", VOCAB + "broader", "?b"), ("?b", VOCAB + "broader", "?c")],
            [("?a", VOCAB + "broader", "?c")],
        ),
        (
            [("?i", RDF_TYPE, "?c"), ("?c", VOCAB + "broader", "?d")],
            [("?i", RDF_TYPE, "?d")],
        ),
    ]
    sat = forward_chain(typed.union(broader), rules)
    return sat.groupBy("pred").agg(F.count("*").alias("n")).orderBy("pred")


def _q_path_canon_langs(spark, sf_dir):
    """SPARQL property path ^sameAs/lang over the extracted triples:
    canon entity → the languages of the documents linked to it —
    inverse step (column swap) then sequence step (one equi-join),
    distinct pairs (path solutions are set-valued)."""
    from jsonld_spark.operators.paths import property_path

    t = _doc_triples(spark, sf_dir)
    return property_path(
        t, ("seq", ("inv", SAME_AS), VOCAB + "lang")
    ).orderBy("src", "dst")


def _q_property_inference(spark, sf_dir):
    """RDFS subPropertyOf entailment (rdfs7): doc facts asserted under
    Pred{doc_id%50} lift through the ontology Pred{p} \u2291 Pred{p div 3}
    \u2014 the property closure runs on the tiny vocabulary, ONE join lifts
    the instance triples, per-pred counts from a partial-agg groupBy."""
    from jsonld_spark.operators.graph import infer_properties

    docs = _docs(spark, sf_dir)
    t = docs.select(
        F.concat(F.lit(DOC_NS), F.col("doc_id").cast("string")).alias("subj"),
        F.concat(
            F.lit(PRED_NS), F.pmod(F.col("doc_id"), F.lit(50)).cast("string")
        ).alias("pred"),
        F.col("lang").alias("obj"),
    )
    ps = (
        docs.select(F.pmod(F.col("doc_id"), F.lit(50)).alias("p"))
        .distinct()
        .filter(F.col("p") > 0)
    )
    subprop = ps.select(
        F.concat(F.lit(PRED_NS), F.col("p").cast("string")).alias("src"),
        F.concat(F.lit(PRED_NS), F.expr("p div 3").cast("string")).alias("dst"),
    )
    return (
        infer_properties(t, subprop)
        .groupBy("pred")
        .agg(F.count("*").alias("n_facts"))
        .orderBy("pred")
    )


def _q_void_stats(spark, sf_dir):
    """VoID property-partition statistics of the extracted KG: per
    predicate, triple count + exact distinct subject/object counts —
    one multi-distinct groupBy (expand + two-phase partial agg)."""
    from jsonld_spark.operators.graph import void_stats

    return void_stats(_doc_triples(spark, sf_dir))


def _q_pagerank_links(spark, sf_dir):
    """PageRank (integer-scaled, bit-deterministic) over a synthetic
    ring+skip graph derived from doc_ids: i → (i+1) % n and
    i → (2i+1) % n."""
    from jsonld_spark.operators.graph import pagerank

    docs = _docs(spark, sf_dir)
    n = F.broadcast(docs.agg(F.count("*").alias("_n")))
    ring = docs.crossJoin(n).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") + 1, F.col("_n")).alias("dst"),
    )
    skip = docs.crossJoin(n).select(
        F.col("doc_id").alias("src"),
        F.pmod(F.col("doc_id") * 2 + 1, F.col("_n")).alias("dst"),
    )
    return pagerank(ring.union(skip), iters=5).orderBy("id")


def _q_subclass_closure(spark, sf_dir):
    """Transitive closure (iterative doubling) of the canon-entity
    'broader' hierarchy c → c div 2 — the rdfs:subClassOf/skos:broader
    shape that feeds type inference."""
    from jsonld_spark.operators.graph import transitive_closure

    canon = (
        _docs(spark, sf_dir)
        .select(F.pmod(F.col("doc_id"), F.lit(100)).alias("c"))
        .distinct()
        .filter(F.col("c") > 0)
    )
    edges = canon.select(
        F.concat(F.lit(CANON_NS), F.col("c").cast("string")).alias("src"),
        F.concat(
            F.lit(CANON_NS), F.expr("c div 2").cast("string")
        ).alias("dst"),
    )
    return transitive_closure(edges).orderBy("src", "dst")


def _q_payload_meta(spark, sf_dir):
    return multimodal.payload_meta(_docs(spark, sf_dir))


def _q_multimodal_features(spark, sf_dir):
    return multimodal.extract_features(
        multimodal.attach_payload(_docs(spark, sf_dir))
    ).orderBy("doc_id")


def _q_image_dims(spark, sf_dir):
    """Round-trip oracle for the pure-Python image-header parser:
    VALID PNG/GIF/JPEG/WEBP headers are synthesized JVM-side from
    doc_id arithmetic, parsed back by parse_image_dims inside the
    mapInPandas feature stage, and the oracle predicts the dims
    directly from doc_id — any mis-read byte layout breaks the hash."""
    return (
        multimodal.extract_features(
            multimodal.synth_image_payloads(_docs(spark, sf_dir))
        )
        .select("doc_id", "format", "width", "height")
        .orderBy("doc_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver's oracle harness verifies the FIRST
    # 50 entries in insertion order (CORRECTNESS_r05 == queries()[:50]).
    # Rounds 1-5 left the 27 newest ops (KG query layer, round-5 text /
    # similarity / multimodal ops) past the cap, so they lead here;
    # a representative previously-driver-green spine fills the rest of
    # the first 50, and the remaining green queries follow.  Every
    # entry is ALSO verified in-repo at sf0.01 AND sf0.1 by
    # tests/test_oracle_parity.py regardless of position.
    return {
        # --- never driver-checked before round 6: KG query layer ---
        "rule_materialization": _q_rule_materialization,
        "pagerank_links": _q_pagerank_links,
        "shacl_validate": _q_shacl_validate,
        "describe_src1": _q_describe_src1,
        "type_inference": _q_type_inference,
        "property_inference": _q_property_inference,
        "subclass_closure": _q_subclass_closure,
        "void_stats": _q_void_stats,
        "ifp_links": _q_ifp_links,
        "graph_diff": _q_graph_diff,
        "component_stats": _q_component_stats,
        "negative_samples": _q_negative_samples,
        "path_canon_langs": _q_path_canon_langs,
        # --- never driver-checked: similarity / text / crawl / multimodal ---
        "semdedup": _q_semdedup,
        "ann_topk_lsh": _q_ann_lsh,
        "ann_topk_ivf": _q_ann_ivf,
        "cosine_topk": _q_cosine_topk,
        "near_dup_embeddings": _q_near_dup_embeddings,
        "ann_recall_lsh": _q_ann_recall,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "boilerplate_lines": _q_boilerplate_lines,
        "extract_links": _q_extract_links,
        "extract_text": _q_extract_text,
        "host_graph": _q_host_graph,
        "canonical_urls": _q_canonical_urls,
        "domain_quality": _q_domain_quality,
        "corpus_stats": _q_corpus_stats,
        "multimodal_features": _q_multimodal_features,
        "image_dims": _q_image_dims,
        "sample_frames": _q_sample_frames,
        "payload_meta": _q_payload_meta,
        # --- representative spine (driver-green in r1-r5) to slot 50 ---
        "jsonld_pred_counts": _q_jsonld_pred_counts,
        "jsonld_sameas_canonical": _q_jsonld_sameas_canonical,
        "jsonld_nquads": _q_jsonld_nquads,
        "nquads_roundtrip": _q_nquads_roundtrip,
        "jsonld_stream_triples": _q_jsonld_stream_triples,
        "jsonld_expand_nodes": _q_jsonld_expand_nodes,
        "jsonld_flatten_nodes": _q_jsonld_flatten_nodes,
        "jsonld_compact_keys": _q_jsonld_compact_keys,
        "jsonld_frame_documents": _q_jsonld_frame_documents,
        "jsonld_materialize": _q_jsonld_materialize,
        "jsonld_rdfstar_annotations": _q_jsonld_rdfstar,
        "trig_named_graphs": _q_trig_named_graphs,
        "tpch_q1": _q_tpch_q1,
        "top_revenue_join": _q_top_revenue_join,
        "events_sessions": _q_events_sessions,
        "decontaminate_fuzzy": _q_decontaminate_fuzzy,
        "bgp_filter_expr": _q_bgp_filter_expr,
        "bgp_aggregate_langs": _q_bgp_aggregate_langs,
        "bgp_minus_exists": _q_bgp_minus_exists,
        # --------------- slot 50 boundary (r5 harness cap) ---------------
        "multi_type_users": _q_multi_type_users,
        "dedup_exact": _q_dedup_exact,
        "passage_dedup": _q_passage_dedup,
        "decontaminate": _q_decontaminate,
        "minhash_candidate_pairs": _q_minhash_candidates,
        "bgp_bindings": _q_bgp_bindings,
        "bgp_optional_lang": _q_bgp_optional_lang,
        "jsonld_lang_triples": _q_jsonld_lang,
        "jsonld_nchars_triples": _q_jsonld_nchars,
        "jsonld_type_triples": _q_jsonld_types,
        "jsonld_node_stats": _q_jsonld_node_stats,
        "revenue_by_nation": _q_revenue_by_nation,
        "events_first_per_user": _q_events_first_per_user,
        "events_json_props": _q_events_json_props,
        "events_hourly": _q_events_hourly,
        "parts_by_brand": _q_parts_by_brand,
        "orders_no_lineitem": _q_orders_no_lineitem,
        "quota_sample": _q_quota_sample,
        "repetition_stats": _q_repetition_stats,
        "top_ngram_stats": _q_top_ngram_stats,
        "token_stats": _q_token_stats,
        "token_count_bpe": _q_token_count_bpe,
        "quality_score": _q_quality,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "top_tokens": _q_top_tokens,
        "sample_by_hash": _q_sample_by_hash,
        "pii_scrub": _q_pii_scrub,
        "c4_clean": _q_c4_clean,
        "pack_chunks": _q_pack_chunks,
        "minhash_signature": _q_minhash,
        "simhash": _q_simhash,
        "jaccard_pairs": _q_jaccard_pairs,
        "dedup_groups": _q_dedup_groups,
        "bgp_union_sources": _q_bgp_union_sources,
    }


def _pagerank_oracle_sql(iters: int = 5) -> str:
    """Unrolled-CTE DuckDB replay of ``graph.pagerank`` on the ring+skip
    doc_id graph: every step is bigint (``//`` == Spark ``div``; sums
    cast back from HUGEINT), so ranks are bit-identical by construction."""
    base = "((1000000000000 // (SELECT n FROM nn)) * 15) // 100"
    ctes = [
        """nc AS (SELECT count(*) AS n FROM documents),
e AS (
  SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nc) AS dst FROM documents
  UNION
  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT n FROM nc) AS dst FROM documents
),
nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
r0 AS (SELECT id, 1000000000000 // (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT nodes.id, {base} + (COALESCE(s.inc, 0) * 85) // 100 AS rank
  FROM nodes LEFT JOIN (
    SELECT e.dst, CAST(SUM(r.rank // deg.d) AS BIGINT) AS inc
    FROM r{i - 1} r JOIN e ON r.id = e.src JOIN deg ON deg.src = e.src
    GROUP BY e.dst) s ON nodes.id = s.dst)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(rank AS BIGINT) AS rank_x1e12 FROM r{iters} ORDER BY id"
    )


def oracle_sql() -> dict[str, str]:
    doc_subj = "'" + DOC_NS + "' || CAST(doc_id AS VARCHAR)"
    return {
        "jsonld_lang_triples": f"""
            SELECT {doc_subj} AS subj, lang AS obj,
                   CAST(NULL AS VARCHAR) AS obj_datatype
            FROM documents ORDER BY subj""",
        "jsonld_nchars_triples": f"""
            SELECT {doc_subj} AS subj, CAST(n_chars AS VARCHAR) AS obj,
                   '{XSD_INTEGER}' AS obj_datatype
            FROM documents ORDER BY subj""",
        "jsonld_type_triples": f"""
            SELECT {doc_subj} AS subj, '{VOCAB}Document' AS obj
            FROM documents ORDER BY subj""",
        "jsonld_pred_counts": f"""
            WITH preds AS (
              SELECT unnest(['{RDF_TYPE}', '{VOCAB}lang', '{VOCAB}source',
                             '{VOCAB}n_chars', '{SAME_AS}']) AS pred)
            SELECT pred, (SELECT count(*) FROM documents) AS n
            FROM preds ORDER BY pred""",
        "jsonld_sameas_canonical": f"""
            SELECT {doc_subj} AS iri,
                   '{CANON_NS}' || CAST(doc_id % 100 AS VARCHAR) AS canon
            FROM documents ORDER BY iri""",
        "jsonld_nquads": f"""
            SELECT '<{DOC_NS}' || CAST(doc_id AS VARCHAR) || '> <{VOCAB}source> "'
                   || source || '" .' AS nquad
            FROM documents ORDER BY nquad""",
        "nquads_roundtrip": f"""
            SELECT {doc_subj} AS subj, source AS obj,
                   CAST(NULL AS VARCHAR) AS obj_datatype
            FROM documents ORDER BY subj""",
        "jsonld_stream_triples": f"""
            SELECT {doc_subj} AS subj, lang AS obj,
                   CAST(NULL AS VARCHAR) AS obj_datatype
            FROM documents ORDER BY subj""",
        "trig_named_graphs": """
            SELECT 'urn:g:' || CAST(doc_id AS VARCHAR) AS graph,
                   'urn:d:' || CAST(doc_id AS VARCHAR) AS subj,
                   CAST(n_chars AS VARCHAR) AS obj
            FROM (SELECT doc_id, n_chars FROM documents
                  ORDER BY doc_id LIMIT 500)
            ORDER BY subj""",
        "jsonld_node_stats": f"""
            SELECT CAST(NULL AS VARCHAR) AS graph, {doc_subj} AS subj,
                   CAST(5 AS BIGINT) AS n_preds, CAST(5 AS BIGINT) AS n_triples
            FROM documents ORDER BY graph, subj""",
        "jsonld_expand_nodes": """
            SELECT 'http://docs.example/' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
                   CAST(1 AS BIGINT) AS n_nodes
            FROM documents ORDER BY url""",
        "jsonld_flatten_nodes": """
            SELECT 'http://docs.example/' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
                   CAST(1 AS BIGINT) AS n_nodes
            FROM documents ORDER BY url""",
        "jsonld_compact_keys": """
            SELECT 'http://docs.example/' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
                   CAST(7 AS BIGINT) AS n_keys
            FROM documents ORDER BY url""",
        "jsonld_rdfstar_annotations": f"""
            WITH base AS (
              SELECT '{DOC_NS}' || CAST(doc_id AS VARCHAR) AS doc,
                     '{CANON_NS}' || CAST(doc_id % 100 AS VARCHAR) AS canon,
                     CAST(doc_id % 7 AS VARCHAR) AS conf
              FROM documents)
            SELECT doc AS subj, '{VOCAB}linked' AS pred, canon AS obj,
                   CAST(NULL AS VARCHAR) AS obj_datatype FROM base
            UNION ALL
            SELECT '<< <' || doc || '> <{VOCAB}linked> <' || canon || '> >>',
                   '{VOCAB}confidence', conf, '{XSD_INTEGER}' FROM base
            ORDER BY subj, pred""",
        "jsonld_frame_documents": f"""
            SELECT 'http://docs.example/' || source || '/' || CAST(doc_id AS VARCHAR) AS url,
                   {doc_subj} AS framed_id
            FROM documents ORDER BY url""",
        "jsonld_materialize": """
            SELECT CAST(NULL AS VARCHAR) AS graph,
                   CAST(count(*) AS BIGINT) AS n_nodes
            FROM documents""",
        # DuckDB sum(BIGINT) returns HUGEINT, which lands in pandas as
        # float64 and loses digits ≳2^53 — CAST every sum back to BIGINT
        # so the driver's value hash matches Spark's int64 exactly.
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_x100,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_x100,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_price_x10000,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""",
        "top_revenue_join": """
            WITH rev AS (
              SELECT l_orderkey,
                     CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                         * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_x10000
              FROM lineitem GROUP BY 1)
            SELECT c_mktsegment,
                   CAST(sum(revenue_x10000) AS BIGINT) AS segment_revenue_x10000,
                   count(DISTINCT o_orderkey) AS n_orders
            FROM rev
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment""",
        "events_first_per_user": """
            WITH r AS (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts ASC, event_id ASC) AS rn
              FROM events)
            SELECT user_id, event_id, event_type FROM r WHERE rn = 1
            ORDER BY user_id""",
        "revenue_by_nation": """
            SELECT r_name, n_name,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_x10000
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name ORDER BY r_name, n_name""",
        "events_sessions": """
            WITH g AS (
              SELECT user_id, ts, event_id,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
              FROM events)
            SELECT user_id,
                   CAST(sum(CASE WHEN prev_ts IS NULL
                            OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id ORDER BY user_id""",
        "events_json_props": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   count(*) AS n,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type""",
        "events_hourly": """
            SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
                   count(*) AS n
            FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""",
        "parts_by_brand": """
            WITH s AS (SELECT count(*) AS n_suppliers FROM supplier)
            SELECT p_brand, count(*) AS n_parts,
                   CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS retail_x100,
                   max(p_size) AS max_size, s.n_suppliers
            FROM part, s WHERE p_type = 'ECONOMY'
            GROUP BY p_brand, s.n_suppliers ORDER BY p_brand""",
        "orders_no_lineitem": """
            SELECT o_orderstatus, count(*) AS n_orders
            FROM orders ANTI JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_orderstatus ORDER BY o_orderstatus""",
        "multi_type_users": """
            SELECT user_id FROM events WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'view'
            ORDER BY user_id""",
        "token_count_bpe": textops.TOKEN_COUNT_BPE_SQL,
        "dedup_exact": textops.EXACT_DEDUP_SQL,
        "passage_dedup": textops.passage_dedup_sql(),
        "decontaminate": textops.decontaminate_sql(),
        "decontaminate_fuzzy": textops.decontaminate_fuzzy_sql(),
        "quota_sample": textops.quota_sample_sql(),
        "repetition_stats": textops.REPETITION_STATS_SQL,
        "top_ngram_stats": textops.top_ngram_stats_sql(),
        "token_stats": textops.TOKEN_STATS_SQL,
        "quality_score": textops.QUALITY_SCORE_SQL,
        "lang_id": textops.LANG_ID_SQL,
        "fingerprint": textops.FINGERPRINT_SQL,
        "top_tokens": textops.top_tokens_sql(),
        "sample_by_hash": textops.sample_by_hash_sql(),
        "pii_scrub": textops.pii_scrub_sql(),
        "c4_clean": textops.C4_CLEAN_SQL,
        "pack_chunks": textops.pack_chunks_sql(),
        "minhash_signature": textops.MINHASH_STR_SQL,
        "simhash": textops.SIMHASH_SQL,
        "jaccard_pairs": textops.jaccard_pairs_sql(),
        "minhash_candidate_pairs": textops.minhash_candidate_pairs_sql(),
        "dedup_groups": textops.dedup_groups_sql(),
        "bgp_minus_exists": f"""
            SELECT {doc_subj} AS d, lang
            FROM documents WHERE source <> 'src3'
            ORDER BY d""",
        "bgp_filter_expr": f"""
            SELECT {doc_subj} AS d,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   lang || CASE WHEN doc_id % 3 = 0 THEN '-us' ELSE '' END
                       AS title_lang,
                   CAST(n_chars AS VARCHAR) AS n_chars_lex,
                   '{XSD_INTEGER}' AS n_dt
            FROM documents
            WHERE lang = 'en' AND n_chars >= 100 AND n_chars < 300
            ORDER BY d""",
        "bgp_aggregate_langs": f"""
            SELECT lang || CASE WHEN doc_id % 3 = 0 THEN '-us' ELSE '' END
                       AS tag,
                   count(*)::BIGINT AS n_docs,
                   min('Doc ' || CAST(doc_id AS VARCHAR)) AS sample_title,
                   round(avg(n_chars), 3) AS avg_chars
            FROM documents GROUP BY tag ORDER BY tag""",
        "bgp_bindings": f"""
            SELECT {doc_subj} AS d, lang,
                   '{CANON_NS}' || CAST(doc_id % 100 AS VARCHAR) AS canon
            FROM documents WHERE source = 'src3'
            ORDER BY d, lang, canon""",
        "bgp_optional_lang": f"""
            SELECT {doc_subj} AS d,
                   '{CANON_NS}' || CAST(doc_id % 100 AS VARCHAR) AS canon,
                   CASE WHEN source = 'src3' THEN lang END AS l3
            FROM documents
            ORDER BY d""",
        "bgp_union_sources": f"""
            SELECT {doc_subj} AS d, lang, CAST(NULL AS VARCHAR) AS nch
            FROM documents WHERE source = 'src1'
            UNION
            SELECT {doc_subj} AS d, CAST(NULL AS VARCHAR) AS lang,
                   CAST(n_chars AS VARCHAR) AS nch
            FROM documents WHERE source = 'src2'
            ORDER BY d""",
        "type_inference": f"""
            WITH RECURSIVE inst AS (
              SELECT doc_id, doc_id % 100 AS c FROM documents),
            e AS (SELECT DISTINCT c AS s, c // 2 AS d FROM inst WHERE c > 0),
            cl AS (
              SELECT s, d FROM e
              UNION
              SELECT cl.s, e.d FROM cl JOIN e ON cl.d = e.s),
            types AS (
              SELECT doc_id, c AS cls FROM inst
              UNION
              SELECT i.doc_id, cl.d AS cls FROM inst i JOIN cl ON cl.s = i.c)
            SELECT '{CLASS_NS}' || CAST(cls AS VARCHAR) AS cls,
                   count(*)::BIGINT AS n_instances
            FROM types GROUP BY 1 ORDER BY cls""",
        "property_inference": f"""
            WITH RECURSIVE inst AS (
              SELECT doc_id, doc_id % 50 AS p, lang FROM documents),
            e AS (SELECT DISTINCT p AS s, p // 3 AS d FROM inst WHERE p > 0),
            cl AS (
              SELECT s, d FROM e
              UNION
              SELECT cl.s, e.d FROM cl JOIN e ON cl.d = e.s),
            facts AS (
              SELECT doc_id, p AS pred, lang FROM inst
              UNION
              SELECT i.doc_id, cl.d AS pred, i.lang
              FROM inst i JOIN cl ON cl.s = i.p)
            SELECT '{PRED_NS}' || CAST(pred AS VARCHAR) AS pred,
                   count(*)::BIGINT AS n_facts
            FROM facts GROUP BY 1 ORDER BY pred""",
        "tfidf_top_terms": textops.tfidf_top_terms_sql(),
        "boilerplate_lines": textops.boilerplate_lines_sql(),
        "domain_quality": textops.domain_quality_sql(),
        "corpus_stats": textops.CORPUS_STATS_SQL,
        "canonical_urls": """
            SELECT doc_id,
                   'http://docs.example/' || source || '/' ||
                   CAST(doc_id AS VARCHAR) ||
                   '?a=' || CAST(doc_id % 3 AS VARCHAR) ||
                   '&b=' || CAST(doc_id % 7 AS VARCHAR) AS canonical_url
            FROM documents ORDER BY doc_id""",
        "extract_text": """
            SELECT 'http://docs.example/' || source || '/' ||
                   CAST(doc_id AS VARCHAR) AS url,
                   trim(regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       text,
                       '&lt;', '<'), '&gt;', '>'), '&quot;', chr(34)),
                       '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&'),
                     '\\s+', ' ', 'g')) AS text
            FROM documents ORDER BY url""",
        "host_graph": """
            WITH p AS (
              SELECT 'h' || CAST(doc_id % 4 AS VARCHAR) || '.example'
                     AS src_host, doc_id
              FROM documents),
            e AS (
              -- /p/k and r/k links stay on the page's own host (2 links),
              -- the absolute link goes to ex.com (1 link)
              SELECT src_host, src_host AS dst_host, 2 AS w FROM p
              UNION ALL
              SELECT src_host, 'ex.com', 1 FROM p)
            SELECT src_host, dst_host, CAST(sum(w) AS BIGINT) AS n_links
            FROM e GROUP BY src_host, dst_host
            ORDER BY src_host, dst_host""",
        "extract_links": """
            WITH p AS (
              SELECT 'http://h' || CAST(doc_id % 4 AS VARCHAR) ||
                     '.example/dir/page' || CAST(doc_id AS VARCHAR) AS url,
                     doc_id
              FROM documents)
            SELECT url, href FROM (
              SELECT url, 'http://h' || CAST(doc_id % 4 AS VARCHAR) ||
                     '.example/p/' || CAST(doc_id % 10 AS VARCHAR) AS href
              FROM p
              UNION ALL
              SELECT url, 'https://ex.com/' || CAST(doc_id % 5 AS VARCHAR)
              FROM p
              UNION ALL
              SELECT url, 'http://h' || CAST(doc_id % 4 AS VARCHAR) ||
                     '.example/dir/r/' || CAST(doc_id % 3 AS VARCHAR)
              FROM p)
            ORDER BY url, href""",
        "negative_samples": f"""
            WITH res AS (
              SELECT {doc_subj} AS subj, '{RDF_TYPE}' AS pred,
                     '{VOCAB}Document' AS obj FROM documents
              UNION ALL
              SELECT {doc_subj}, '{SAME_AS}',
                     '{CANON_NS}' || CAST(doc_id % 100 AS VARCHAR)
              FROM documents),
            ents AS (
              SELECT iri, row_number() OVER (ORDER BY iri) AS vid
              FROM (SELECT subj AS iri FROM res
                    UNION SELECT obj FROM res)),
            n AS (SELECT count(*) AS n FROM ents),
            draws AS (
              SELECT subj, pred, obj, CAST(i AS INTEGER) AS sample_idx,
                     (CAST(('0x' || substr(md5(subj || chr(0) || pred ||
                       chr(0) || obj || chr(0) || CAST(i AS VARCHAR)), 1, 8))
                       AS BIGINT) % n) + 1 AS did
              FROM res, (SELECT unnest(range(2)) AS i), n),
            neg AS (
              SELECT d.subj, d.pred, d.obj, e.iri AS neg_obj, d.sample_idx
              FROM draws d JOIN ents e ON e.vid = d.did
              WHERE e.iri <> d.obj)
            SELECT * FROM neg
            WHERE NOT EXISTS (
              SELECT 1 FROM res r
              WHERE r.subj = neg.subj AND r.pred = neg.pred
                AND r.obj = neg.neg_obj)
            ORDER BY subj, pred, obj, sample_idx""",
        "graph_diff": f"""
            SELECT op, subj, pred, obj FROM (
              SELECT '+' AS op, {doc_subj} AS subj,
                     '{VOCAB}lang' AS pred, lang AS obj
              FROM documents WHERE doc_id % 2 = 1
              UNION ALL
              SELECT '-', {doc_subj}, '{VOCAB}source', source
              FROM documents WHERE doc_id % 2 = 0)
            ORDER BY op, subj, pred, obj""",
        "component_stats": """
            WITH g AS (
              SELECT doc_id % 100 AS c, count(*) AS n
              FROM documents GROUP BY 1)
            SELECT CAST(n + 1 AS BIGINT) AS size,
                   count(*)::BIGINT AS n_components
            FROM g GROUP BY 1 ORDER BY size""",
        "ifp_links": f"""
            WITH v AS (
              SELECT DISTINCT {doc_subj} AS subj,
                     CAST(n_chars AS VARCHAR) AS val
              FROM documents)
            SELECT val, count(*)::BIGINT AS n_subjects,
                   min(subj) AS canonical_subj
            FROM v GROUP BY val
            HAVING count(*) BETWEEN 2 AND 1024
            ORDER BY val""",
        "describe_src1": f"""
            WITH s1 AS (SELECT * FROM documents WHERE source = 'src1')
            SELECT subj, pred, obj FROM (
              SELECT {doc_subj} AS subj, '{RDF_TYPE}' AS pred,
                     '{VOCAB}Document' AS obj FROM s1
              UNION ALL
              SELECT {doc_subj}, '{VOCAB}lang', lang FROM s1
              UNION ALL
              SELECT {doc_subj}, '{VOCAB}source', source FROM s1
              UNION ALL
              SELECT {doc_subj}, '{VOCAB}n_chars',
                     CAST(n_chars AS VARCHAR) FROM s1
              UNION ALL
              SELECT {doc_subj}, '{SAME_AS}',
                     '{CANON_NS}' || CAST(doc_id % 100 AS VARCHAR) FROM s1)
            ORDER BY subj, pred, obj""",
        "shacl_validate": f"""
            SELECT focus, shape, path, "constraint", value FROM (
              SELECT {doc_subj} AS focus,
                     'DocumentShape' AS shape,
                     '{VOCAB}lang' AS path,
                     'pattern ^(en|es)' AS "constraint",
                     lang AS value
              FROM documents
              WHERE NOT regexp_matches(lang, '^(en|es)')
              UNION ALL
              SELECT {doc_subj}, 'DocumentShape', '{SAME_AS}',
                     'class {VOCAB}Entity',
                     '{CANON_NS}' || CAST(doc_id % 100 AS VARCHAR)
              FROM documents
              UNION ALL
              SELECT {doc_subj}, 'DocumentShape', '{VOCAB}n_chars',
                     'minInclusive 100', CAST(n_chars AS VARCHAR)
              FROM documents WHERE n_chars < 100)
            ORDER BY focus, shape, path, "constraint", value""",
        "rule_materialization": f"""
            WITH RECURSIVE inst AS (
              SELECT doc_id, doc_id % 100 AS c FROM documents),
            e AS (SELECT DISTINCT c AS s, c // 2 AS d FROM inst WHERE c > 0),
            cl AS (
              SELECT s, d FROM e
              UNION
              SELECT cl.s, e.d FROM cl JOIN e ON cl.d = e.s),
            types AS (
              SELECT doc_id, c AS cls FROM inst
              UNION
              SELECT i.doc_id, cl.d AS cls FROM inst i JOIN cl ON cl.s = i.c)
            SELECT pred, n FROM (
              SELECT '{RDF_TYPE}' AS pred, count(*)::BIGINT AS n FROM types
              UNION ALL
              SELECT '{VOCAB}broader' AS pred, count(*)::BIGINT AS n FROM cl)
            ORDER BY pred""",
        "path_canon_langs": f"""
            SELECT DISTINCT
                   '{CANON_NS}' || CAST(doc_id % 100 AS VARCHAR) AS src,
                   lang AS dst
            FROM documents
            ORDER BY src, dst""",
        "void_stats": f"""
            SELECT '{RDF_TYPE}' AS pred, count(*) AS n_triples,
                   count(DISTINCT doc_id) AS n_subjects,
                   CAST(1 AS BIGINT) AS n_objects
            FROM documents
            UNION ALL
            SELECT '{SAME_AS}', count(*), count(DISTINCT doc_id),
                   count(DISTINCT doc_id % 100)
            FROM documents
            UNION ALL
            SELECT '{VOCAB}lang', count(*), count(DISTINCT doc_id),
                   count(DISTINCT lang)
            FROM documents
            UNION ALL
            SELECT '{VOCAB}n_chars', count(*), count(DISTINCT doc_id),
                   count(DISTINCT n_chars)
            FROM documents
            UNION ALL
            SELECT '{VOCAB}source', count(*), count(DISTINCT doc_id),
                   count(DISTINCT source)
            FROM documents
            ORDER BY pred""",
        "pagerank_links": _pagerank_oracle_sql(iters=5),
        "subclass_closure": f"""
            WITH RECURSIVE cs AS (
              SELECT DISTINCT doc_id % 100 AS c FROM documents
              WHERE doc_id % 100 > 0),
            e AS (SELECT c AS s, c // 2 AS d FROM cs),
            cl AS (
              SELECT s, d FROM e
              UNION
              SELECT cl.s, e.d FROM cl JOIN e ON cl.d = e.s)
            SELECT '{CANON_NS}' || CAST(s AS VARCHAR) AS src,
                   '{CANON_NS}' || CAST(d AS VARCHAR) AS dst
            FROM cl ORDER BY src, dst""",
        "cosine_topk": similarity.cosine_topk_sql(),
        "near_dup_embeddings": similarity.near_dup_embeddings_sql(),
        "ann_topk_lsh": similarity.ann_topk_lsh_sql(),
        "ann_recall_lsh": similarity.ann_recall_sql(),
        # the deterministic k-means quantizer is replayed in SQL (4
        # unrolled assign/update rounds, 1e-6-quantized centroids)
        "ann_topk_ivf": similarity.ann_topk_ivf_sql(),
        # same quantizer replay + within-cell lower-id pair threshold
        "semdedup": similarity.semdedup_sql(),
        "payload_meta": multimodal.PAYLOAD_META_SQL,
        "multimodal_features": multimodal.MULTIMODAL_FEATURES_SQL,
        "image_dims": multimodal.IMAGE_DIMS_SQL,
        "sample_frames": multimodal.sample_frames_sql(),
    }
