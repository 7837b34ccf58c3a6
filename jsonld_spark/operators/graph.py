"""Distributed graph operators: connected components for sameAs merge.

The reference has no cross-document operations at all; entity linking is
new engineering required by the north rule (SURVEY.md §4 item 2).
Hand-rolled (no GraphFrames dependency).  Connected components is gated
on size: an alias graph whose edge bytes fit under the session's
``spark.sql.autoBroadcastJoinThreshold`` is labeled by one union-find on
the driver.  The bytes come from the caller when it already knows a
bound (``KGPipeline.run`` sums one over its persisted extract, so its
edges are collected straight from there), else from metrics observed
while the deduped edges are checkpointed.  A larger graph runs min-label
propagation with pointer jumping, which converges in O(log diameter)
rounds, with a reliable ``checkpoint()`` per round to truncate lineage —
NOT ``localCheckpoint``, whose executor-memory-backed partitions become
unrecoverable when an executor is lost, failing the whole job on a real
cluster.  Mega-component skew on the ``groupBy(id)`` min is left to AQE
skew handling plus the two-stage partial aggregation Spark already
performs for ``min``.  Both paths label the vertex values themselves
(IRIs, or long doc ids): dense-long dictionary encoding measured a wash
on the distributed path (BENCH.md round 3) and would only put a sort, a
checkpoint and two decode joins in front of the driver union-find."""

from __future__ import annotations

import atexit
import logging
import shutil
import tempfile
import warnings

from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

log = logging.getLogger(__name__)

OWL_SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
SCHEMA_SAME_AS = "http://schema.org/sameAs"
SAME_AS_PREDICATES = (OWL_SAME_AS, SCHEMA_SAME_AS, "https://schema.org/sameAs")


def is_sameas_edge():
    """The triples rows ``sameas_edges`` keeps: a sameAs predicate, a
    resource object, and a subject other than the object."""
    return (
        F.col("pred").isin(*SAME_AS_PREDICATES)
        & ~F.col("obj_is_literal")
        & (F.col("subj") != F.col("obj"))
    )


def sameas_edges(triples: DataFrame) -> DataFrame:
    """Alias edges from the triples table: (src, dst) where pred is a
    sameAs predicate and the object is a resource.  A repeated triple
    repeats its edge: ``connected_components`` ignores repeats on the
    driver and dedups them once before the distributed rounds."""
    return triples.filter(is_sameas_edge()).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )


def _ensure_checkpoint_dir(df: DataFrame) -> None:
    """Reliable checkpoints need a checkpoint dir.  Production sets a
    durable SHARED one (HDFS/object store) via setCheckpointDir; fall
    back to a driver-local temp dir so local runs work out of the box —
    but warn loudly off local masters, where a non-shared path would
    make executor checkpoint READS fail at runtime (the reliability the
    checkpoint was meant to add).  The temp dir is removed at interpreter
    exit so per-round checkpoint files don't leak across jobs."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        if not sc.master.startswith("local"):
            warnings.warn(
                "connected_components: no spark checkpoint dir set and "
                f"master is {sc.master!r} — falling back to a DRIVER-LOCAL "
                "temp dir that executors cannot read. Call "
                "sparkContext.setCheckpointDir(<shared path>) before "
                "running entity linking on a cluster.",
                RuntimeWarning,
                stacklevel=3,
            )
        ckpt_dir = tempfile.mkdtemp(prefix="jsonld_spark_ckpt_")
        atexit.register(shutil.rmtree, ckpt_dir, ignore_errors=True)
        sc.setCheckpointDir(ckpt_dir)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    edge_bytes: int | None = None,
) -> DataFrame:
    """→ DataFrame(id, comp): every vertex labeled with the lexicographic
    minimum IRI of its component (the canonical representative).  The
    labels keep the type of the edge columns (IRIs, or the long doc ids
    of ``text.dedup_groups``).  ``edges`` may repeat an edge.

    Two paths, gated on ``spark.sql.autoBroadcastJoinThreshold``
    (``-1`` turns the driver path off, like the broadcast):

    * driver: the edges are collected and labeled by ONE union-find on
      the driver, rooted at each component's least vertex, and returned
      as a local relation (which a downstream join then broadcasts).
      The threshold bounds what the driver holds: below it, the
      broadcast of the mapping in ``link_entities`` already puts that
      much data on the driver.  At that size the rounds' joins,
      group-bys, checkpoints and convergence probes are job-scheduling
      cost, not data movement.  Edges with a NULL endpoint contribute
      no vertex here.  The gate is read one of two ways:

      - a caller bound: ``edge_bytes``, an upper bound on the symmetric
        edge bytes the observed gate would measure (``KGPipeline.run``
        sums it in the aggregate it already runs over its extract).
        When it is under the threshold, ``edges`` is collected as it
        is: no checkpoint, no exchange, and repeated edges stay, since
        the union-find ignores them;
      - observed, without a bound or above it: the edges are deduped,
        their symmetric frame is checkpointed, and its bytes ride that
        job as observed metrics (the only time ``edges`` is evaluated).
    * distributed: min-label propagation with pointer jumping over the
      checkpointed frame, one reliable checkpoint per round
      (every-round checkpointing beat every 2nd round in an interleaved
      A/B on an 800k-page crawl, 22.4/22.5/24.8 s vs 23.8/26.0/27.0 s)."""
    spark = edges.sparkSession
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    vertex = edges.schema[src].dataType
    schema = StructType([StructField("id", vertex), StructField("comp", vertex)])
    if edge_bytes is not None and 0 <= edge_bytes <= threshold:
        log.debug(
            "connected_components: driver path, caller bound %d bytes, "
            "autoBroadcastJoinThreshold %d", edge_bytes, threshold,
        )
        pairs = edges.select(src, dst).dropna().collect()
        return local_frame(spark, _min_root_labels(pairs), schema)

    _ensure_checkpoint_dir(edges)
    # the one dedup of the edges (a caller's own distinct on the same
    # columns collapses into it)
    edges = edges.select(src, dst).distinct()
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    # the size rides the checkpoint job as observed metrics: no extra
    # job, and a retried task can only over-count (→ distributed path)
    size = Observation()
    sym = (
        sym.observe(
            size,
            F.count(F.lit(1)).alias("rows"),
            F.sum(_value_bytes(sym, "a") + _value_bytes(sym, "b")).alias("bytes"),
        )
        .repartition("a")
        .checkpoint()
    )
    observed = size.get
    n_rows, n_bytes = observed["rows"], observed["bytes"] or 0
    on_driver = n_bytes <= threshold
    log.debug(
        "connected_components: %s path, %d symmetric edge rows, %d bytes, "
        "autoBroadcastJoinThreshold %d",
        "driver" if on_driver else "distributed", n_rows, n_bytes, threshold,
    )
    if on_driver:
        # each undirected edge once (a self-loop too, so its vertex
        # stays); the comparison drops NULL endpoints
        pairs = sym.filter(F.col("a") <= F.col("b")).collect()
        return local_frame(spark, _min_root_labels(pairs), schema)

    # no init checkpoint: round 0 consumes labels twice (message join +
    # union) under ONE action, so the distinct's exchange is computed
    # once and runtime-reused; the round-0 checkpoint then truncates the
    # lineage anyway, and the fused probe below never re-reads this
    # frame — the init checkpoint was one whole job of pure overhead
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )

    for _ in range(max_iter):
        # 1. neighbor-min message passing.  The PREVIOUS label rides
        # along as ``_old`` (unique per id, so max() recovers it through
        # the min-aggregation; message rows carry NULL, which max
        # ignores) — the convergence probe then reads comp != _old off
        # the round's own checkpoint instead of re-joining two full
        # label tables (one join job per round deleted).
        msgs = sym.join(labels, sym.a == labels.id).select(
            F.col("b").alias("id"),
            F.col("comp"),
            # typed to comp (CC also labels text.dedup_groups' long doc ids)
            F.lit(None).cast(labels.schema["comp"].dataType).alias("_old"),
        )
        new_labels = (
            labels.select("id", "comp", F.col("comp").alias("_old"))
            .union(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.max("_old").alias("_old"))
        )
        # 2. pointer jumping: comp ← comp(comp), halves chain length
        jump = new_labels.select(
            F.col("id").alias("jid"), F.col("comp").alias("jcomp")
        )
        # truncate lineage where we also probe convergence — the
        # checkpointed result feeds both the probe and the next round
        new_labels = new_labels.join(
            jump, new_labels.comp == jump.jid, "left"
        ).select(
            "id", F.coalesce("jcomp", "comp").alias("comp"), "_old"
        ).checkpoint()
        changed = (
            new_labels.filter(F.col("comp") != F.col("_old")).limit(1).count()
        )
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    return labels


def _value_bytes(df: DataFrame, col: str):
    """Bytes one value of ``col`` holds: UTF-8/binary length for
    variable-width columns, 8 for fixed-width ids."""
    if isinstance(df.schema[col].dataType, (StringType, BinaryType)):
        return F.octet_length(col)
    return F.lit(8)


def _min_root_labels(pairs) -> list[tuple]:
    """Union-find over ``(a, b)`` pairs whose root is always the least
    vertex of its set (a union hangs the larger root under the smaller),
    with path halving.  → [(vertex, least vertex of its component)].
    Python orders str by code point, which is Spark's UTF-8 byte order."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(v, find(v)) for v in parent]


def local_frame(spark, rows, schema: StructType | str) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` order; a DDL string or
    a ``StructType``) as a frame built from an Arrow table: a
    ``LocalRelation`` while under
    ``spark.sql.execution.arrow.localRelationThreshold``, so the
    planner sizes it exactly (joins broadcast it) and reading it starts
    no Python task.  ``createDataFrame`` over a Python list is
    RDD-backed instead and pays Python tasks on every action (a 16-row
    frame measured ~0.31 s per action against ~0.05 s); going through
    Arrow directly, not pandas, also keeps an empty ``rows`` and a
    session with ``spark.sql.execution.arrow.pyspark.enabled`` off
    local."""
    import pyarrow as pa

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.table({f.name: list(c) for f, c in zip(schema.fields, cols)})
    return spark.createDataFrame(table, schema)


def ranged_partition_offsets(df: DataFrame, order_cols, weight: str | None = None):
    """Two-phase zipWithIndex scaffolding shared by ``dense_ids_by_sorted_
    order`` (per-row ranks) and ``text.pack_chunks`` (running token sums):
    range-repartition on ``order_cols`` (partition ids ascend with key
    ranges), pin that SAMPLED assignment with a checkpoint (the offsets
    job and the caller's window job must see one consistent ``_pid``),
    aggregate each partition's ``weight`` (row count when None), and
    return ``(ranged, off_df)`` where ``off_df(_pid, _off)`` carries the
    cumulative total over all preceding partitions — a tiny collect (one
    row per partition) broadcast back.  No single-partition stage
    anywhere."""
    spark = df.sparkSession
    _ensure_checkpoint_dir(df)  # public helper: callable standalone
    ranged = (
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .checkpoint()
    )
    agg = (F.count("*") if weight is None else F.sum(weight)).alias("_w")
    counts = ranged.groupBy("_pid").agg(agg).collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["_w"]
    off_df = local_frame(spark, offsets or [(0, 0)], "_pid int, _off long")
    return ranged, off_df


def dense_ids_by_sorted_order(df: DataFrame, col: str = "iri") -> DataFrame:
    """→ DataFrame(col, vid): dense longs 1..n in ascending ``col`` order,
    with NO single-partition stage — the two-phase zipWithIndex pattern in
    DataFrame ops (``ranged_partition_offsets``) plus a per-partition rank.
    Byte-identical to ``row_number().over(Window.orderBy(col))`` — which
    would funnel ALL rows through one task at scale — while every stage
    here parallelizes across the cluster."""
    from pyspark.sql import Window

    ranged, off_df = ranged_partition_offsets(df, [col])
    rank = F.row_number().over(Window.partitionBy("_pid").orderBy(col))
    return (
        ranged.withColumn("_rn", rank)
        .join(F.broadcast(off_df), "_pid")
        .select(col, (F.col("_off") + F.col("_rn")).cast("long").alias("vid"))
    )


def canonical_mapping(edges: DataFrame, edge_bytes: int | None = None) -> DataFrame:
    """→ DataFrame(iri, canon) for IRIs whose canonical form differs.
    ``edge_bytes`` is ``connected_components``' caller bound."""
    labels = connected_components(edges, edge_bytes=edge_bytes)
    return labels.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias("iri"), F.col("comp").alias("canon")
    )


def link_entities(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the canonical-IRI mapping.

    The mapping (alias table) is small relative to the triples at crawl
    scale; sizing the join is left to the planner — no eager driver-side
    count during plan construction (a ``mapping.count()`` here would run
    the whole CC job just to pick a join strategy).  A mapping from a
    broadcast-sized alias graph is a local relation of known size, so
    the join broadcasts it up front; a larger one comes off the CC
    round checkpoints, and AQE sizes it at runtime.
    """
    subj_map = mapping.select(
        F.col("iri").alias("s_iri"), F.col("canon").alias("s_canon")
    )
    obj_map = mapping.select(
        F.col("iri").alias("o_iri"), F.col("canon").alias("o_canon")
    )

    out = (
        triples.join(subj_map, triples.subj == subj_map.s_iri, "left")
        .join(
            obj_map,
            (~triples.obj_is_literal) & (triples.obj == obj_map.o_iri),
            "left",
        )
        .withColumn("subj", F.coalesce("s_canon", "subj"))
        .withColumn("obj", F.coalesce("o_canon", "obj"))
        .drop("s_iri", "s_canon", "o_iri", "o_canon")
    )
    return out


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """→ DataFrame(src, dst): all (x, y) with a directed path x →⁺ y.

    Iterative DOUBLING, not one-hop growth: after round k the path set
    holds every path of length ≤ 2^k, so a graph of diameter d converges
    in ⌈log2 d⌉ joins — the property that keeps the round count (each a
    full shuffle) tractable at crawl scale, exactly like
    ``connected_components``' pointer jumping.  Each round checkpoints
    (reliable, not ``localCheckpoint`` — see module docstring) to
    truncate lineage, and stops when a round adds no new pair.

    Intended for ontology-sized relations (rdfs:subClassOf, skos:broader
    — the closure feeds type inference); a social-graph-dense closure is
    quadratic in OUTPUT and no algorithm fixes that.
    """
    _ensure_checkpoint_dir(edges)
    paths = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .checkpoint()
    )
    n = paths.count()
    for _ in range(max_iter):
        hop = paths.select(F.col("src").alias("_m"), F.col("dst").alias("_d"))
        grown = (
            paths.join(hop, paths.dst == hop._m)
            .select("src", F.col("_d").alias("dst"))
            .union(paths)
            .distinct()
            .checkpoint()
        )
        grown_n = grown.count()
        paths = grown
        if grown_n == n:
            break
        n = grown_n
    else:
        warnings.warn(
            f"transitive_closure: not converged after {max_iter} doubling "
            "rounds (diameter > 2^max_iter or growing output)"
        )
    return paths


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping_x100: int = 85,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """→ DataFrame(id, rank_x1e12): PageRank over directed edges with
    ALL arithmetic in scaled bigints — ``rank ≈ rank_x1e12 / 1e12``.

    Why integers: bigint sums are associative/commutative EXACTLY, so
    the result is bit-identical regardless of partitioning, shuffle
    order, or cluster size — the property that makes an iterative
    numeric algorithm value-hash-checkable against a SQL oracle (and
    reproducible across reruns, which float accumulation order is not).

    Per iteration: every node sends ``rank div out_degree`` along each
    out-edge; ``new_rank = base + (sum(in_contribs) * damping) div 100``
    with ``base = ((scale div N) * (100 - damping)) div 100``.  Dangling
    nodes absorb (simplified PageRank: their mass leaks, identically in
    any engine running this recurrence).

    100-TB shape: the edge table and out-degrees are computed once and
    cached; every round is one shuffle-on-src join + one groupBy(dst)
    partial-agg sum + one broadcast-sized left join against the node
    list — no driver-side state beyond the node count. Ranks checkpoint
    every 4 rounds to truncate lineage.
    """
    _ensure_checkpoint_dir(edges)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .checkpoint()  # also materializes e's lineage for the loop
    )
    nodes.cache()
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank_x1e12", F.lit(0).cast("long"))
    outdeg = e.groupBy("src").agg(F.count("*").alias("_deg"))
    sends = e.join(outdeg, "src").select(
        "src", "dst", "_deg"
    )
    sends.cache()

    init = scale // n_nodes
    base = ((scale // n_nodes) * (100 - damping_x100)) // 100
    ranks = nodes.select("id", F.lit(init).cast("long").alias("rank_x1e12"))
    for i in range(iters):
        contrib = (
            ranks.join(sends, ranks.id == sends.src)
            .select(
                "dst",
                F.expr("rank_x1e12 div _deg").alias("_c"),
            )
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contrib, nodes.id == contrib.dst, "left")
            .select(
                "id",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"coalesce(_in, 0L) * {damping_x100} div 100"
                    ).cast("long")
                ).alias("rank_x1e12"),
            )
        )
        if (i + 1) % 4 == 0 and i + 1 < iters:
            ranks = ranks.checkpoint()
    # materialize the final ranks so the loop's cached inputs can be
    # released — in a long-lived session the edge/node caches must not
    # outlive the call (executor storage memory is a shared resource)
    ranks = ranks.checkpoint()
    sends.unpersist()
    nodes.unpersist()
    return ranks


def void_stats(triples: DataFrame) -> DataFrame:
    """VoID-style property-partition statistics (W3C VoID — the dataset
    descriptions the reference ecosystem publishes for RDF datasets):
    one row per predicate with its triple count and exact distinct
    subject / object counts, i.e. ``void:propertyPartition`` with
    ``void:triples`` / ``void:distinctSubjects`` / ``void:distinctObjects``.

    → (pred, n_triples, n_subjects, n_objects), ordered by pred.

    100-TB shape: a single groupBy(pred) with count + two exact
    count-distincts — Catalyst expands multi-distinct into an expand +
    two-phase partial aggregation (map-side partials before the
    shuffle), and the output is one row per predicate (the vocabulary,
    thousands at web scale, never the corpus).  Mega-predicate skew
    (rdf:type is ~1/5 of any crawl KG) is absorbed by the partial aggs:
    what shuffles is per-(pred, value) partials, not raw triples."""
    return (
        triples.groupBy("pred")
        .agg(
            F.count("*").alias("n_triples"),
            F.countDistinct("subj").alias("n_subjects"),
            F.countDistinct("obj").alias("n_objects"),
        )
        .orderBy("pred")
    )


def infer_types(
    typed: DataFrame,
    subclass: DataFrame,
    *,
    subj: str = "subj",
    cls: str = "cls",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """RDFS subClassOf type inference (rdfs9 entailment: ``type(x, C) ∧
    subClassOf⁺(C, D) → type(x, D)``): materialize every inherited type
    alongside the asserted ones.  → (subj, cls) DISTINCT.

    The closure of the ontology runs FIRST (iterative doubling — the
    ontology is tiny next to the instance data), then ONE join of the
    instance type table against the closure (broadcast when the closure
    fits, which at web scale it essentially always does: ontologies are
    thousands of classes, instances are trillions) — never an iterative
    walk over instances."""
    t = typed.select(F.col(subj).alias("subj"), F.col(cls).alias("cls"))
    clo = transitive_closure(
        subclass.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
        max_iter=max_iter,
    )
    inherited = t.join(clo, t.cls == clo.src).select(
        "subj", F.col("dst").alias("cls")
    )
    return t.union(inherited).distinct()


def infer_properties(
    triples: DataFrame,
    subprop: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """RDFS subPropertyOf inference (rdfs7 entailment: ``p(x, y) ∧
    subPropertyOf⁺(p, q) → q(x, y)``): materialize every triple under
    its super-properties alongside the asserted ones.  → (subj, pred,
    obj) DISTINCT.

    Same shape as :func:`infer_types` (rdfs9): the property hierarchy
    closes FIRST (iterative doubling over a vocabulary-sized edge set),
    then ONE join of the triples scan against the closure — broadcast
    in practice (property vocabularies are thousands; triples are
    trillions), never an iterative walk over instances."""
    t = triples.select("subj", "pred", "obj")
    clo = transitive_closure(
        subprop.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
        max_iter=max_iter,
    )
    lifted = t.join(clo, t.pred == clo.src).select(
        "subj", F.col("dst").alias("pred"), "obj"
    )
    return t.union(lifted).distinct()


def ifp_link_candidates(
    triples: DataFrame, pred: str, *, max_group: int = 1024
) -> DataFrame:
    """Inverse-functional-property entity linking: two resources that
    share a value of an IFP (foaf:mbox, schema:isbn, …) denote the
    same entity (owl:InverseFunctionalProperty semantics) — the
    literal-key complement to explicit sameAs links.  → one row per
    shared value: (val, n_subjects, canonical_subj), canonical =
    min(subj), GROUPS not pairs (a k-subject group is k-1 edges, never
    k² pairs).

    ``max_group`` drops junk keys — at crawl scale the classic IFP
    poison is a placeholder value ('', 'unknown', 'n/a') shared by
    millions of pages; a group that size is never a real entity, and
    dropping it also bounds the downstream join fan-out.

    100-TB shape: distinct (subj, val) projection → one partial-agg
    groupBy(val) with count + min; output is the shared-value list,
    feeding :func:`connected_components` via :func:`ifp_sameas_edges`."""
    vals = (
        triples.filter(F.col("pred") == pred)
        .select("subj", F.col("obj").alias("val"))
        .distinct()
    )
    return (
        vals.groupBy("val")
        .agg(
            F.count("*").alias("n_subjects"),
            F.min("subj").alias("canonical_subj"),
        )
        .filter(
            (F.col("n_subjects") >= 2) & (F.col("n_subjects") <= max_group)
        )
        .orderBy("val")
    )


def ifp_sameas_edges(
    triples: DataFrame, pred: str, *, max_group: int = 1024
) -> DataFrame:
    """IFP groups → (src, dst) star edges to the group's canonical
    subject, union-able with explicit sameAs edges into the same
    connected-components pass (k-1 edges per k-subject group)."""
    groups = ifp_link_candidates(triples, pred, max_group=max_group)
    vals = (
        triples.filter(F.col("pred") == pred)
        .select("subj", F.col("obj").alias("val"))
        .distinct()
    )
    return (
        vals.join(groups.select("val", "canonical_subj"), "val")
        .filter(F.col("subj") != F.col("canonical_subj"))
        .select(
            F.col("subj").alias("src"),
            F.col("canonical_subj").alias("dst"),
        )
        .distinct()
    )


def component_stats(labels: DataFrame, comp: str = "comp") -> DataFrame:
    """Entity-linking QA: the component-size distribution of a
    connected-components labeling → (size, n_components), ordered by
    size.  The shape of this histogram is the first thing to check
    after a linking run — a giant component signals alias-graph
    poisoning (a hub value gluing unrelated entities), a flat
    all-singletons histogram signals broken edge extraction.

    Two partial-agg groupBys (per-component count, then per-size
    count); output is the histogram, never the corpus."""
    sizes = labels.groupBy(comp).agg(F.count("*").alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count("*").alias("n_components"))
        .orderBy("size")
    )


def graph_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """KG snapshot delta → (op, subj, pred, obj) with op ∈ {'+', '-'}:
    the triples to publish when a recrawl updates the graph — '+' rows
    are in ``new`` only, '-' rows in ``old`` only (RDF set semantics;
    unchanged triples emit nothing).  Incremental downstream consumers
    (index updates, cache invalidation, entailment maintenance via
    ``forward_chain`` on the delta) read this instead of re-scanning
    the snapshot.

    Two left-anti joins on (subj, pred, obj) — each a single hash
    exchange; over subject-bucketed snapshots written by
    ``write_bucketed_table`` the anti joins co-locate like any other
    subject-keyed join."""
    o = old.select("subj", "pred", "obj").distinct()
    n = new.select("subj", "pred", "obj").distinct()
    added = n.join(o, ["subj", "pred", "obj"], "left_anti").select(
        F.lit("+").alias("op"), "subj", "pred", "obj"
    )
    removed = o.join(n, ["subj", "pred", "obj"], "left_anti").select(
        F.lit("-").alias("op"), "subj", "pred", "obj"
    )
    return added.union(removed).orderBy("op", "subj", "pred", "obj")


def negative_samples(triples: DataFrame, k: int = 1) -> DataFrame:
    """KG-embedding training prep (TransE-family): for every triple
    whose object is a resource, emit ``k`` corrupted variants — the
    object replaced by a DETERMINISTICALLY drawn entity — in the
    'filtered setting' (Bordes et al. 2013): a corruption that happens
    to be a true triple is dropped, not trained on as a negative.

    Determinism: the replacement is ``entities[h32(md5(s‖p‖o‖i)) mod
    n]`` over the lexicographically-indexed entity table — the sample
    set is a pure function of the graph, bit-identical at any
    parallelism (and therefore value-hash-checkable / reproducible
    across epochs without storing the draws).  Self-corruptions
    (draw == true object) are also dropped.

    → (subj, pred, obj, neg_obj, sample_idx), sample_idx ∈ [0, k).

    100-TB shape: the entity index uses the two-phase dense-id
    assignment (NO single-partition window); each draw is one equi-join
    against the entity table on the drawn id + one left-anti against
    the graph for the filtered setting — all AQE-sized."""
    if k < 1:
        raise ValueError("negative_samples: k must be >= 1")
    res = triples.filter(~F.col("obj_is_literal")) if (
        "obj_is_literal" in triples.columns
    ) else triples
    res = res.select("subj", "pred", "obj")
    ents = dense_ids_by_sorted_order(
        res.select(F.col("subj").alias("iri"))
        .union(res.select(F.col("obj").alias("iri")))
        .distinct()
    ).select(F.col("iri").alias("_ent"), F.col("vid").alias("_eid"))
    # the count is one eager (narrow) job at plan-construction time —
    # unavoidable: the draw expression needs the literal modulus.  It
    # also guards the degenerate no-resource-triples graph, where
    # `pmod(x, 0)` would otherwise be silent NULLs (ANSI off) or a
    # DIVIDE_BY_ZERO crash (ANSI on)
    n = ents.count()
    if n == 0:
        raise ValueError(
            "negative_samples: graph has no resource-object triples "
            "(nothing to corrupt)"
        )
    out = None
    for i in range(k):
        # dense ids are 1..n — the +1 keeps every draw in range (a
        # plain mod n would silently drop draws landing on 0)
        h = (
            f"pmod(cast(conv(substr(md5(concat(subj, chr(0), pred, "
            f"chr(0), obj, chr(0), '{i}')), 1, 8), 16, 10) as bigint), {n}) + 1"
        )
        drawn = res.withColumn("_did", F.expr(h)).join(
            ents, F.col("_did") == F.col("_eid")
        ).select(
            "subj", "pred", "obj",
            F.col("_ent").alias("neg_obj"),
            F.lit(i).alias("sample_idx"),
        )
        out = drawn if out is None else out.union(drawn)
    # filtered setting: drop corruptions that are REAL triples, and
    # degenerate draws equal to the true object
    out = out.filter(F.col("neg_obj") != F.col("obj"))
    real = res.select(
        F.col("subj").alias("_s"), F.col("pred").alias("_p"),
        F.col("obj").alias("_o"),
    )
    out = out.join(
        real,
        (out.subj == real._s) & (out.pred == real._p)
        & (out.neg_obj == real._o),
        "left_anti",
    )
    return out.orderBy("subj", "pred", "obj", "sample_idx")
