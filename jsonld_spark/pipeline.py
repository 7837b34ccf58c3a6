"""End-to-end KG-construction pipeline: pages → triples (north rule).

Stages (SURVEY.md §3.1 re-trace):

1. scan ``pages(url, warc_ts, html, text, lang)`` — column pruning means
   only (url, html) are read for extraction;
2. fused pandas stage (udfs.make_pages_to_triples): extract ld+json →
   expand → node map → emit quads → salt bnodes; ONE Arrow crossing per
   document;
3. deterministic bucketing ``part_id = pmod(xxhash64(url), N)`` — the
   salted shuffle key (url-hash, NOT subject) so mega-domain subject
   skew cannot concentrate a partition.  It is derived once, on the
   extract's rows; the pages get it too only on a resume, to skip the
   completed buckets before the extract;
4. optional sameAs entity linking (operators.graph): connected
   components over the sameAs edges — one driver-side union-find when
   the edges fit under ``spark.sql.autoBroadcastJoinThreshold``,
   checkpointed pointer-jumping rounds otherwise — then the alias join,
   which broadcasts a driver-labeled mapping;
5. partitioned write + per-partition lineage rows → idempotent resume
   (buckets any earlier run on the out_dir completed are skipped;
   dynamic partition overwrite makes bucket re-runs exactly-once).
   The write runs one task per core
   (``min(num_buckets, defaultParallelism)`` hash partitions of
   ``part_id``, one file per bucket directory).  The run never re-reads
   its own output: ``_lineage`` is read once, before the extract and
   only when it exists; the new lineage rows and the run totals come
   from one collected per-bucket aggregate; ``written_triples`` is a
   row count observed during a write into a fresh directory.

Executors never touch the network: remote contexts come only from the
broadcast cache dict (north-star requirement).
"""

from __future__ import annotations

import logging
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .udfs import TRIPLES_SCHEMA, make_pages_to_triples

log = logging.getLogger(__name__)

# JVM pre-filter in front of the Arrow crossing: only pages whose html
# contains the case-folded ``ld+json`` substring reach Python.  NULL
# html fails it — the same zero rows as the Python path.  CAST, not
# decode(): Spark 4's decode() throws MALFORMED_CHARACTER_CODING on
# invalid UTF-8 — and a real crawl (this filter's whole target) always
# contains such pages — while binary→string cast is validation-free and
# byte-preserving, so the ASCII 'ld+json' substring test sees exactly
# the raw bytes (the Python scanner decodes with errors='replace', which
# can never CREATE ascii letters, so cast-contains never false-negatives
# against it).
LDJSON_PREFILTER = "contains(lower(cast(html as string)), 'ld+json')"

# a triple row's identity: rows equal on these columns are one fact
TRIPLE_KEY = (
    "url", "subj", "pred", "obj", "obj_is_literal", "obj_datatype",
    "obj_lang", "graph",
)

SMALL_INPUT_BYTES_PER_CORE = 1_000_000

LINEAGE_SCHEMA = (
    "run_id string not null, part_id bigint, url_min string, url_max string, "
    "context_cache_version string not null, triple_count bigint, "
    "error_count bigint, warning_count bigint, status string not null"
)


def _completed(lineage: list) -> set[int]:
    """Complete buckets of this engine's cache version among
    ``KGPipeline._read_lineage`` rows, whichever run completed them."""
    return {r.part_id for r in lineage if r.current}


def default_session(
    cores: int | str = "*",
    shuffle_partitions: int = 32,
    app_name: str = "jsonld_spark",
    extra_conf: dict | None = None,
) -> SparkSession:
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def parallelize_small_input(df: DataFrame, min_bytes: int = 0) -> DataFrame:
    """Round-robin repartition a SMALL input up to the session's default
    parallelism before an expensive per-row (Python/Arrow) stage.

    Scan SPLIT count lies about row parallelism for small inputs: a
    parquet split only yields rows if it contains a row-group midpoint,
    so a one-row-group file "plans" as N splits of which N-1 are empty
    (measured on the sf0.1 spine: 33 splits, ALL 5000 rows in one task
    — the whole Python stage serial on one of 32 cores).  The gate is
    therefore SIZE-based: when the optimizer's estimated input size is
    at most ``defaultParallelism * SMALL_INPUT_BYTES_PER_CORE`` the
    frame is round-robined across the cores — the shuffle moves at most
    a few MB per core by construction, two orders of magnitude cheaper
    than the serial Python stage it prevents.  A crawl-scale input fails
    the gate immediately and never pays the shuffle (at 100 TB this is
    a no-op by construction).  Keyless repartition is deterministic under
    retry (sort-before-repartition is on by default, SPARK-23207).

    ``min_bytes``: floor below which the input is left alone — for ops
    whose per-byte work is light (a token explode, a line split) the
    extra exchange + stage costs more than the serial stage it replaces
    when the input is truly tiny (measured: tfidf 0.75→1.28 s at 0.9 MB
    with an unconditional repartition), while the same op at 10× the
    input is dominated by the serial stage.  Heavy per-row ops (the
    JSON-LD Python stage, shingle+collect_list) keep the default 0."""
    if df.isStreaming:  # no size estimate; asking throws (~10 ms)
        return df
    # imported here, not at module top: a module-level pyspark.errors
    # import ahead of pyspark.sql can deadlock-break pyspark's package
    # import when another thread imports pyspark.sql at the same time
    from py4j.protocol import Py4JError
    from pyspark.errors import AnalysisException

    spark = df.sparkSession
    para = spark.sparkContext.defaultParallelism
    try:
        size = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except (Py4JError, AnalysisException) as e:
        # stats are advisory: an analysis error surfaces at the action
        log.debug("parallelize_small_input: no size estimate (%s), left as is", e)
        return df
    max_bytes = para * SMALL_INPUT_BYTES_PER_CORE
    spread = min_bytes <= size <= max_bytes
    log.debug(
        "parallelize_small_input: estimated %d bytes, window %d..%d: %s",
        size, min_bytes, max_bytes,
        "round-robin" if spread else "left as is",
    )
    return df.repartition(para) if spread else df


def page_stage(
    pages: DataFrame, fn, schema=TRIPLES_SCHEMA, skip_scriptless: bool = True
) -> DataFrame:
    """Every page-level Python stage: ``fn`` (a ``udfs.pages_fn`` loop)
    as one ``mapInPandas`` over the url and html columns of ``pages``,
    behind the ``LDJSON_PREFILTER`` when ``skip_scriptless`` (see
    ``KGPipeline.extract``) and ``parallelize_small_input``."""
    src = pages.select("url", "html")
    if skip_scriptless:
        src = src.filter(F.expr(LDJSON_PREFILTER))
    return parallelize_small_input(src).mapInPandas(fn, schema)


class KGPipeline:
    def __init__(
        self,
        spark: SparkSession,
        cache_entries: dict | None = None,
        cache_version: str = "v1",
        rdf_direction: str | None = None,
        produce_generalized_rdf: bool = False,
        canonical_bnodes: bool = True,
        num_buckets: int = 64,
        rdfstar: bool = False,
    ):
        self.spark = spark
        self.cache_version = cache_version
        self.rdf_direction = rdf_direction
        self.produce_generalized_rdf = produce_generalized_rdf
        self.canonical_bnodes = canonical_bnodes
        self.num_buckets = num_buckets
        self.rdfstar = rdfstar
        self.cache_bc = (
            spark.sparkContext.broadcast(cache_entries) if cache_entries else None
        )

    # -- stage 2: fused extraction ------------------------------------------

    def extract(
        self, pages: DataFrame, skip_scriptless: bool = True
    ) -> DataFrame:
        """pages → (url, subj, …, graph, error) — triple rows + error rows:
        the batch UDF (``udfs.make_pages_to_triples``) in ``page_stage``.

        ``skip_scriptless`` (default on) puts a whole-stage-codegen JVM
        pre-filter in front of the Arrow crossing: a page whose html
        lacks the (case-folded) ``ld+json`` substring cannot produce a
        single row from the scanner (sources/html_jsonld.py requires
        ``type="application/ld+json"``, case-insensitive, and a page
        with no script block yields zero rows — udfs.iter_page_rows),
        so filtering it JVM-side is semantically transparent while
        deleting the dominant cost at crawl scale: most real pages
        carry no JSON-LD, and without the filter every one of them pays
        Arrow serialization + a Python scan.  The substring test is
        deliberately conservative (commented-out or text-only
        occurrences still cross — the Python scanner then emits zero
        rows as before).  One documented divergence: a page LARGER than
        ``udfs.MAX_HTML_BYTES`` with no ld+json substring no longer emits
        its ``document too large`` error row (it is skipped before the
        size gate); pass ``skip_scriptless=False`` for byte-identical
        observability on such pages."""
        fn = make_pages_to_triples(
            self.cache_bc,
            self.cache_version,
            self.rdf_direction,
            self.produce_generalized_rdf,
            self.canonical_bnodes,
            rdfstar=self.rdfstar,
        )
        return page_stage(pages, fn, skip_scriptless=skip_scriptless)

    def triples(
        self, pages: DataFrame, skip_scriptless: bool = True
    ) -> DataFrame:
        """``skip_scriptless``: pass ``False`` when the input is KNOWN
        to be all-JSON-LD (derived/synthetic page frames) — there the
        pre-filter's decode+contains pass is pure overhead (measured
        +8-14% on the all-scripted oracle corpora) while on a raw crawl
        it wins big (see extract)."""
        return (
            self.extract(pages, skip_scriptless=skip_scriptless)
            .filter(F.col("error").isNull())
            .drop("error")
        )

    def errors(self, pages: DataFrame) -> DataFrame:
        """Error-row observability view.  Runs the extract without the
        ``ld+json`` pre-filter (unlike extract/triples): the pre-filter
        would drop oversized scriptless pages before their 'document
        too large' row, and the error view is cold-path — byte-identical
        observability matters more there than the pre-filter win
        (ADVICE r6)."""
        return (
            self.extract(pages, skip_scriptless=False)
            .filter(F.col("error").isNotNull())
            .select("url", "error")
        )

    @staticmethod
    def drop_failed_pages(extracted: DataFrame) -> DataFrame:
        """Batch-equivalent strictness over an ``extract``-schema frame
        (quads + error rows): drop EVERY quad from any url that also has
        an error row.  The bounded-memory streaming reader emits
        at-least-partial output on mid-document failure (quads already
        streamed for earlier spine elements stay — see
        streaming/reader.py's error-semantics note); url is the identity
        quads and error rows share, so the anti-join retracts a failed
        document's partial quads page-wide.  ``warning:`` rows are NOT
        failures — the page loop (udfs.iter_page_rows) emits them after
        a script's triples as observability (dropped keys, malformed
        tags), and warnings never suppress output; only real error
        rows put a url in the failed set.  The error-side projection is
        thin (url only) and typically broadcasts."""
        failed = (
            extracted.filter(
                F.col("error").isNotNull()
                & ~F.col("error").startswith("warning:")
            )
            .select("url")
            .distinct()
        )
        return (
            extracted.filter(F.col("error").isNull())
            .join(failed, "url", "left_anti")
            .drop("error")
        )

    # -- stage 1.5: recrawl dedup (batch analog of the streaming
    #    watermark dedup) ------------------------------------------------------

    @staticmethod
    def dedup_pages(pages: DataFrame) -> DataFrame:
        """Drop recrawled duplicates BEFORE the expensive Python stage:
        keep one deterministic page (min url) per identical html.

        Scale shape: the html bytes never ride the keeper shuffle.  A
        thin ``(url, md5(html))`` projection — 32-char digest + url per
        page — shuffles to elect keepers, and the full pages side then
        joins the keeper set on ``url`` alone, keeping the join key on
        the storage bucketing key (write_pages_parquet / with_bucket):
        on a url-bucketed pages table the join runs with no exchange on
        the pages side at all.  Digest equality is enforced AFTER the
        join by a map-side filter, so a url that recrawled with CHANGED
        content keeps only the payloads actually elected — a url-only
        semi-join would resurrect its duplicate-html rows whenever any
        one of its payloads won a hash group.  The keeper digests are
        carried as a per-url SET and matched with ``array_contains``
        rather than a digest equality: Catalyst extracts an equi-filter
        ``md5(html) == h`` into the join keys, which would put
        md5(html) back on the pages-side exchange — the exact shuffle
        this plan exists to avoid (the digest set per url is tiny: one
        entry per distinct elected payload).

        The election key is ``min(struct(url, warc_ts))`` per content
        hash, so SAME-url recrawls of unchanged content (the most common
        duplicate: a second snapshot of the same page) also collapse to
        one row — a url-only election would re-admit every same-url copy
        of the winning payload.  Byte-identical FULL duplicates (same
        url, html AND warc_ts) still both pass — discriminating them
        needs a full-row shuffle that would put html on an exchange, and
        the downstream 8-tuple dropDuplicates absorbs their triples.

        NULL-html rows (fetch failures) have no content to dedup and
        pass through untouched — md5(NULL) would otherwise silently
        drop them from the keeper election."""
        # NULL-safe ts: struct equality with a NULL field would silently
        # drop the row at the probe below.  Frames without a warc_ts
        # column (the schema is url+html minimum) elect on url alone —
        # same-url same-content duplicates then rely on the downstream
        # triple dedup, exactly the pre-round-5 behavior.
        epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
        ts = (
            F.coalesce(F.col("warc_ts"), epoch)
            if "warc_ts" in pages.columns
            else epoch
        )
        with_html = pages.filter(F.col("html").isNotNull())
        null_html = pages.filter(F.col("html").isNull())
        keepers = (
            with_html.select(
                "url", F.md5("html").alias("h"), ts.alias("ts")
            )
            .groupBy("h")
            .agg(F.min(F.struct("url", "ts")).alias("k"))
            .groupBy(F.col("k.url").alias("url"))
            .agg(F.collect_set(F.struct("h", F.col("k.ts").alias("ts"))).alias("hts"))
        )
        deduped = (
            with_html.join(keepers, "url", "inner")
            .filter(
                F.array_contains(
                    F.col("hts"),
                    F.struct(F.md5("html").alias("h"), ts.alias("ts")),
                )
            )
            .select(*pages.columns)
        )
        return deduped.unionByName(null_html)

    # -- stage 3: deterministic bucketing ------------------------------------

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "part_id", F.pmod(F.xxhash64(F.col("url")), F.lit(self.num_buckets))
        )

    # -- stage 4: entity linking ---------------------------------------------

    def linked_triples(
        self,
        triples: DataFrame,
        ifp_preds: tuple = (),
        edge_bytes: int | None = None,
    ) -> DataFrame:
        """``triples`` with subjects and resource objects rewritten to
        their component's canonical IRI and the degenerate ``x sameAs
        x`` rows dropped.  Rows that canonicalization makes equal are
        NOT deduped here: ``run`` dedups once, on the bucket layout it
        writes (``dropDuplicates`` over ``part_id`` + ``TRIPLE_KEY``).

        ``ifp_preds``: inverse-functional predicates (foaf:mbox-like
        literal keys) whose shared values add link edges alongside the
        explicit sameAs ones — k-1 star edges per value group, junk
        keys bounded by ``ifp_sameas_edges``' ``max_group``
        (operators/graph.py); one connected-components pass merges both
        evidence kinds and dedups their union once.

        ``edge_bytes``: an upper bound on the symmetric sameAs edge
        bytes of ``triples`` (``connected_components``' caller bound);
        it does not cover IFP edges, so it is dropped with ``ifp_preds``."""
        # resolved at call time, so a rebinding of
        # graph.canonical_mapping (perfbench's phase names) applies
        from .operators.graph import (
            SAME_AS_PREDICATES,
            canonical_mapping,
            ifp_sameas_edges,
            link_entities,
            sameas_edges,
        )

        edges = sameas_edges(triples)
        for p in ifp_preds:
            edges = edges.union(ifp_sameas_edges(triples, p))
        mapping = canonical_mapping(
            edges, edge_bytes=None if ifp_preds else edge_bytes
        )
        # canonicalization makes sameAs rows degenerate (x sameAs x)
        return link_entities(triples, mapping).filter(
            ~(F.col("pred").isin(*SAME_AS_PREDICATES) & (F.col("subj") == F.col("obj")))
        )

    def write_bucketed_table(
        self, triples: DataFrame, table_name: str, buckets: int = 64
    ) -> None:
        """Persist triples as a subject-bucketed, subject-sorted table.

        Downstream graph workloads join the triples table to itself on
        ``subj`` constantly (fromRdf assembly, framing embeds, path
        queries).  Bucketing co-locates equal subjects at WRITE time, so
        those joins run with NO exchange on either side (verified by
        plan in tests) — at 100 TB that deletes the dominant recurring
        shuffle instead of re-paying it per query."""
        (
            triples.write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, "subj")
            .sortBy("subj")
            .saveAsTable(table_name)
        )

    # -- stage 5: partitioned write + lineage + resume -----------------------

    def _lineage_path(self, out_dir: str) -> str:
        return os.path.join(out_dir, "_lineage")

    def _exists(self, path: str) -> bool:
        jpath = self.spark._jvm.org.apache.hadoop.fs.Path(path)
        conf = self.spark._jsparkSession.sessionState().newHadoopConf()
        return jpath.getFileSystem(conf).exists(jpath)

    def _read_lineage(self, out_dir: str, run_id: str | None) -> list:
        """The complete lineage rows a run needs, in ONE read — none
        when ``_lineage`` does not exist: distinct ``(part_id, current,
        mine, triple_count, error_count, warning_count)``, where
        ``current`` marks this engine's ``context_cache_version`` and
        ``mine`` marks ``run_id``'s rows (both may be NULL, i.e. false).
        The counts are kept on ``mine`` rows only, so every other run
        collapses to one row per bucket: a few rows per bucket reach
        the driver, however many runs the out_dir has seen."""
        path = self._lineage_path(out_dir)
        if not self._exists(path):
            return []
        try:
            # mergeSchema: lineage schema may evolve across engine versions
            lin = self.spark.read.option("mergeSchema", "true").parquet(path)
        except Exception:  # noqa: BLE001 — a directory with no lineage files
            return []
        current = F.col("context_cache_version") == self.cache_version
        mine = F.col("run_id") == run_id
        counts = ("triple_count", "error_count", "warning_count")
        return (
            lin.filter((F.col("status") == "complete") & (current | mine))
            .select(
                "part_id",
                current.alias("current"),
                mine.alias("mine"),
                *[F.when(mine, F.col(c)).alias(c) for c in counts],
            )
            .distinct()
            .collect()
        )

    def run(
        self,
        pages: DataFrame,
        out_dir: str,
        run_id: str = "run-0",
        resume: bool = True,
        link_entities: bool = False,
        dedup: bool = False,
        table_format: str = "parquet",
    ) -> dict:
        """Execute the pipeline; returns run stats.

        ``resume`` skips every bucket that ANY earlier run on this
        out_dir completed under this engine's ``cache_version`` — the
        crash-retry pattern, where each re-submission carries a fresh
        run_id.  The caller contract that makes this safe is ``new
        input ⇒ new out_dir``: every input covers all url-hash buckets,
        so a new crawl pointed at an old out_dir would skip its buckets.
        The contract also covers linking: a linked run links the
        buckets it runs against their own alias graph only, so resumed
        over buckets that an earlier run on a PARTIAL input completed,
        it can write other canonical IRIs than one fresh run over the
        whole input.

        ``table_format`` selects the sink data source.  The sandbox ships
        no Iceberg runtime jar, so the default (and all tests) use
        parquet with the same layout; on a cluster with
        iceberg-spark-runtime on the classpath pass
        ``table_format="iceberg"`` and the identical plan writes the
        partitioned Iceberg table the north rule names.  Dynamic
        partition overwrite is wired per source: parquet honors the
        per-writer ``partitionOverwriteMode`` option; Iceberg ignores
        that file-datasource option, so the Iceberg branch sets its own
        ``overwrite-mode=dynamic`` write option AND pins the session
        conf ``spark.sql.sources.partitionOverwriteMode=dynamic`` for
        the write — without both, a resumed run on a default-configured
        session would full-truncate the triples table (the exact loss
        resume exists to prevent).

        What is read and how each stat is computed:

        * ``_lineage`` is read ONCE, before the extract, and only when
          the directory exists (never on a fresh ``out_dir``): it gives
          the buckets to skip and this run_id's earlier complete rows.
        * the lineage rows of this run are one collected per-bucket
          aggregate of the extracted rows (at most ``num_buckets``
          rows), appended to ``_lineage`` after the triples write from
          a driver-local frame.  The aggregate is the run's first
          action, so it materializes the persisted extract; it also
          sums the sameAs edge bytes (``2 × Σ(octet_length(subj) +
          octet_length(obj))`` over the rows ``graph.sameas_edges``
          keeps, repeats counted), the bound under which linking
          collects its alias graph straight from the extract
          (``connected_components``' driver path).
        * ``triples`` / ``errors`` / ``warnings`` sum those rows,
          merged over this run_id's earlier rows for the buckets this
          run did not write (a resume under the same run_id counts the
          buckets it skipped; a same-run_id re-run counts each bucket
          once).  They count EXTRACTED rows.
        * ``written_triples`` (``link_entities`` only) is the row count
          on disk after linking's dedup: the count observed in the
          write's result stage when the triples directory did not
          exist before the run, else a metadata-only parquet
          ``count()`` of the directory (older buckets included)."""
        t0 = time.time()
        if dedup:
            pages = self.dedup_pages(pages)
        # the only lineage read of the run, before the extract: the
        # buckets to skip and this run_id's earlier rows for the totals
        lineage = self._read_lineage(out_dir, run_id)
        done = _completed(lineage) if resume else set()
        if done:
            pages = (
                self.with_bucket(pages)
                .filter(~F.col("part_id").isin(*done))
                .drop("part_id")
            )

        # the bucket is derived from url after the UDF (deterministic —
        # part_id never crosses the Arrow boundary), and rides unchanged
        # through linking, which rewrites only subj and obj
        raw = self.with_bucket(self.extract(pages))
        # the lineage aggregation, the sameAs edge collect and the write
        # all consume this stage — persist so the Python UDF runs ONCE
        # (triples are far smaller than the input html)
        from pyspark import StorageLevel

        from .operators.graph import is_sameas_edge, local_frame

        raw = raw.persist(StorageLevel.MEMORY_AND_DISK)

        # the first action, so it materializes the persist: at most
        # num_buckets rows, aggregated on the cluster, appended after the
        # write from the driver as a local frame (no Python task).  Its
        # sameAs byte sum bounds the symmetric alias-graph bytes (repeated
        # rows counted), which lets connected components skip its edge
        # checkpoint when the graph is broadcast-sized.
        is_triple = F.col("error").isNull()
        buckets = (
            raw.groupBy("part_id")
            .agg(
                F.min("url").alias("url_min"),
                F.max("url").alias("url_max"),
                F.sum(F.when(is_triple, 1).otherwise(0)).alias("triple_count"),
                F.sum(
                    F.when(
                        ~is_triple & ~F.col("error").startswith("warning:"), 1
                    ).otherwise(0)
                ).alias("error_count"),
                F.sum(
                    F.when(F.col("error").startswith("warning:"), 1).otherwise(0)
                ).alias("warning_count"),
                F.sum(
                    F.when(
                        is_triple & is_sameas_edge(),
                        F.octet_length("subj") + F.octet_length("obj"),
                    )
                ).alias("sameas_bytes"),
            )
            .collect()
        )
        sameas_bytes = 2 * sum(b.sameas_bytes or 0 for b in buckets)

        triples = raw.filter(is_triple).drop("error")
        # an explicit partition count, which AQE does not coalesce: the
        # write runs one task per core instead of one task writing every
        # bucket.  Each part_id still lands in one partition, so each
        # bucket directory gets one file.
        n_parts = min(self.num_buckets, self.spark.sparkContext.defaultParallelism)
        if link_entities:
            # dedup AFTER the bucket repartition, with part_id leading
            # the key: part_id is a pure function of url (a dedup-key
            # column), so equal rows are already co-located and the
            # hash(part_id) layout satisfies the dedup's clustering
            # requirement — ONE full shuffle of the linked triples
            # instead of two (dropDuplicates' 8-column exchange followed
            # by the bucket repartition).
            linked = self.linked_triples(triples, edge_bytes=sameas_bytes)
            out = linked.repartition(n_parts, "part_id").dropDuplicates(
                ("part_id", *TRIPLE_KEY)
            )
        else:
            out = triples.repartition(n_parts, "part_id")

        triples_path = os.path.join(out_dir, "triples")
        written = None
        if link_entities and not self._exists(triples_path):
            # into a fresh directory the rows written ARE the rows on
            # disk: count them in the write's result stage, where each
            # partition's metrics are applied once
            written = Observation()
            out = out.observe(written, F.count(F.lit(1)).alias("rows"))
        writer = (
            # part_id LEADS the sort: the dynamic-partition writer
            # requires its input ordered by the partition column and
            # plans its own Sort(part_id) otherwise — sorting once on
            # (part_id, subj, pred) satisfies that requirement AND
            # guarantees the intended subj/pred order inside each file
            # (the writer's own added sort does not)
            out.sortWithinPartitions("part_id", "subj", "pred")
            .write.mode("overwrite")
            # per-writer option, NOT session conf: under Spark's default
            # static overwrite a resumed run would truncate the whole
            # triples dir (completed buckets are excluded from the plan,
            # yet lineage still marks them complete → permanent loss).
            # Dynamic mode overwrites only the part_id dirs being written,
            # regardless of how the session was built (e.g. spark-submit).
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("part_id")
            .format(table_format)
        )
        if table_format == "iceberg":
            # Iceberg IGNORES the file-datasource partitionOverwriteMode
            # option above; it honors its own write option plus the
            # session conf.  Set both so a default-configured session
            # (static overwrite) cannot full-truncate the table on
            # resume.  NOT thread-safe: the session conf is global, so a
            # concurrent write on the same SparkSession during this
            # window inherits dynamic-overwrite semantics; the pipeline
            # is single-writer by design (one run_id per invocation).
            # The default when previously unset is already "static", so
            # the restore below is value-preserving either way.
            writer = writer.option("overwrite-mode", "dynamic")
            spark = triples.sparkSession
            prev_pom = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                writer.save(triples_path)
            finally:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev_pom
                )
        else:
            writer.save(triples_path)

        raw.unpersist()
        rows = [
            (run_id, b.part_id, b.url_min, b.url_max, self.cache_version,
             b.triple_count, b.error_count, b.warning_count, "complete")
            for b in buckets
        ]
        # one lineage file per run (a local relation splits up to one per core)
        local_frame(self.spark, rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self._lineage_path(out_dir))

        # lineage is append-only: re-running the SAME run_id without
        # resume appends a second complete row per part_id while dynamic
        # overwrite REPLACED the data — so the totals take this run's
        # row for every bucket it wrote and one earlier row of this
        # run_id for every bucket it did not (identical re-runs agree
        # exactly; a re-run over changed input should use a new run_id)
        per_part = {r.part_id: r for r in lineage if r.mine}
        per_part.update((b.part_id, b) for b in buckets)
        stats = {
            "run_id": run_id,
            "seconds": time.time() - t0,
            "triples": sum(r.triple_count or 0 for r in per_part.values()),
            "errors": sum(r.error_count or 0 for r in per_part.values()),
            "warnings": sum(r.warning_count or 0 for r in per_part.values()),
            "skipped_buckets": len(done),
            "out": triples_path,
        }
        if link_entities:
            # lineage counts EXTRACTED rows (provenance); linking dedups
            # and drops degenerate sameAs rows, so report what is
            # actually on disk too: observed during a write into a fresh
            # directory, else a (metadata-only) parquet count()
            stats["written_triples"] = (
                written.get["rows"]
                if written is not None
                else self.spark.read.format(table_format).load(triples_path).count()
            )
        return stats
