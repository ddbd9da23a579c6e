"""Vertex (re)ordering suite: A-order balanced interleave, SlashBurn-style
iterated hub extraction, and the BSR compression-ratio diagnostic.

Reference parity (SURVEY.md G4/O5/A11):
- balanced interleave  -> vertex_ordering/A-order/A-order-v2.cpp:102-150
  (method 2: degree-sorted order split into mix_ratio chunks, re-read
  round-robin so every window of mix_ratio consecutive new ids holds one
  vertex from each degree band — the defense against degree skew INSIDE a
  partition range).
- SlashBurn            -> vertex_ordering/other_order/porder.cpp:1009-1114
  (`slashburn_order`; algorithm is public: Kang & Faloutsos, ICDM'11):
  repeatedly pull the k highest-degree vertices to the FRONT of the
  ordering, push all non-giant components of the remainder to the BACK,
  recurse into the giant component.
- compression ratio    -> porder.cpp:295-351 `comp_ratio` (+ BSR packing,
  bitpack_triangle_count.cpp): mean number of distinct 64-bit base words
  per adjacency list entry — the quality metric an ordering optimizes for
  bitmap/BSR execution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ranking import dense_rank_ids
from . import components, prep, supersteps

_PACK_SHIFT = 6  # 64-bit words (BSR PACK_WIDTH, reference util.hpp:21-29)


def balanced_interleave_relabel(
    canonical: DataFrame, mix_ratio: int = 40
) -> tuple[DataFrame, DataFrame]:
    """Relabel vertices by the A-order-v2 round-robin interleave.

    rank r (by degree desc, id) with chunk_size = n // mix_ratio maps to
      new_id = (r mod chunk_size) * mix_ratio + (r div chunk_size)
    for r < mix_ratio * chunk_size; the tail keeps its rank (reference
    leftover loop). Bijective by construction. Returns (relabeled_edges,
    mapping(vertex, new_id)).
    """
    deg = prep.degrees(canonical)
    ranked = dense_rank_ids(deg, [F.desc("degree"), F.asc("vertex")], id_col="r")
    n = ranked.count()
    chunk_size = max(n // mix_ratio, 1)
    body = mix_ratio * chunk_size
    r = F.col("r")
    new_id = F.when(r < body, (r % chunk_size) * mix_ratio + (r / chunk_size).cast("long")).otherwise(r)
    mapping = ranked.select("vertex", new_id.cast("long").alias("new_id"))
    relabeled = (
        canonical.join(
            mapping.withColumnRenamed("vertex", "src").withColumnRenamed("new_id", "new_src"),
            "src",
        )
        .join(
            mapping.withColumnRenamed("vertex", "dst").withColumnRenamed("new_id", "new_dst"),
            "dst",
        )
        .select(
            F.least("new_src", "new_dst").alias("src"),
            F.greatest("new_src", "new_dst").alias("dst"),
        )
    )
    return relabeled, mapping


def slashburn_order(
    spark: SparkSession,
    canonical: DataFrame,
    k: int | None = None,
    max_rounds: int = 20,
) -> DataFrame:
    """(vertex, new_id): SlashBurn ordering — hubs first, fringe last.

    Each round: the k highest-degree unassigned vertices take the next
    front ids (degree desc, id asc); components of the remainder are found
    (pointer-jump CC); every NON-giant component's vertices take ids from
    the back (ordered by component, id); the giant component recurses.
    Stops when the remainder is smaller than k or max_rounds is hit; the
    leftover takes front ids in vertex order (reference leftover loop).

    Deviations from the reference, documented: components are computed on
    the WHOLE remainder (the reference only discovers components adjacent
    to this round's hubs — a discovery-order optimization, not semantics),
    and back-id order within a round is (component, vertex) rather than
    BFS encounter order (the reference's is scheduling-dependent).
    """
    n_total = (
        canonical.select(F.col("src").alias("v"))
        .union(canonical.select(F.col("dst").alias("v")))
        .distinct()
        .count()
    )
    if k is None:
        k = max(1, min(n_total // 64, 1024))
    front, back = 0, n_total - 1
    assignments: list[DataFrame] = []
    # LineageCutter bounds the per-round cut chain: max_rounds=20 chained
    # localCheckpoints reaches the measured Spark 4.1 cliff (BENCH.md §6a —
    # geometric per-round degradation); every CUT_CHAIN_BOUND-th cut is a
    # parquet round-trip instead. The assignments list holds lazy refs to
    # cut states, so cleanup happens once via close(out) at the end.
    cutter = supersteps.LineageCutter(spark)
    with cutter:
        out = _slashburn_rounds(
            spark, canonical, cutter, assignments, k, max_rounds, front, back
        )
        return cutter.close(out)


def _slashburn_rounds(
    spark: SparkSession,
    canonical: DataFrame,
    cutter: "supersteps.LineageCutter",
    assignments: list[DataFrame],
    k: int,
    max_rounds: int,
    front: int,
    back: int,
) -> DataFrame:
    remaining = cutter.cut(canonical)

    for _ in range(max_rounds):
        n_remaining = back - front + 1
        if n_remaining < k:
            break
        deg = prep.degrees(remaining)
        hubs = deg.orderBy(F.desc("degree"), F.asc("vertex")).limit(k)
        n_hubs = hubs.count()
        if n_hubs == 0:  # no edges left; leftover loop assigns the rest
            break
        hub_ids = dense_rank_ids(hubs, [F.desc("degree"), F.asc("vertex")], id_col="r")
        assignments.append(hub_ids.select("vertex", (F.col("r") + front).alias("new_id")))
        front += n_hubs

        hub_v = hubs.select("vertex")
        remainder = (
            remaining.join(hub_v.withColumnRenamed("vertex", "src"), "src", "left_anti")
            .join(hub_v.withColumnRenamed("vertex", "dst"), "dst", "left_anti")
            .select("src", "dst")
        )
        # vertices that lost all edges become singleton components
        verts_left = (
            deg.select("vertex")
            .join(hub_v, "vertex", "left_anti")
        )
        cc_edges = components.connected_components(spark, remainder)
        cc = verts_left.join(cc_edges, "vertex", "left").select(
            "vertex", F.coalesce("component", F.col("vertex")).alias("component")
        )
        sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
        giant = sizes.orderBy(F.desc("sz"), F.asc("component")).limit(1)
        non_giant = cc.join(giant.select("component"), "component", "left_anti")
        n_non_giant = non_giant.count()
        if n_non_giant > 0:
            ng_ranked = dense_rank_ids(
                non_giant, [F.asc("component"), F.asc("vertex")], id_col="r"
            )
            assignments.append(
                ng_ranked.select(
                    "vertex", (F.lit(back) - F.lit(n_non_giant - 1) + F.col("r")).alias("new_id")
                )
            )
            back -= n_non_giant
        giant_v = cc.join(giant.select("component"), "component", "left_semi").select("vertex")
        remaining = cutter.cut(
            remainder.join(giant_v.withColumnRenamed("vertex", "src"), "src", "left_semi")
            .join(giant_v.withColumnRenamed("vertex", "dst"), "dst", "left_semi")
        )

    # leftover: everything unassigned, front ids in vertex order
    assigned = (
        assignments[0].select("vertex")
        if assignments
        else canonical.select(F.col("src").alias("vertex")).where(F.lit(False))
    )
    for a in assignments[1:]:
        assigned = assigned.union(a.select("vertex"))
    all_v = (
        canonical.select(F.col("src").alias("vertex"))
        .union(canonical.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    leftover = all_v.join(assigned, "vertex", "left_anti")
    if leftover.limit(1).count() > 0:
        lo = dense_rank_ids(leftover, ["vertex"], id_col="r")
        assignments.append(lo.select("vertex", (F.col("r") + front).alias("new_id")))

    out = assignments[0]
    for a in assignments[1:]:
        out = out.union(a)
    return out.select("vertex", F.col("new_id").cast("long").alias("new_id"))


def bfs_order(
    spark: SparkSession, canonical: DataFrame, max_rounds: int = 64
) -> DataFrame:
    """(vertex, new_id): BFS-level ordering (reference POrder bfsr family,
    porder.cpp `bfsr_bisection` — the traversal-locality member of the
    reorder suite). Sources are each component's minimum vertex id; new ids
    rank by (BFS level, vertex id), so neighbors cluster by distance from
    the source — the locality property BFS reorderings optimize.

    Distributed frontier expansion: each round is one join + one aggregate;
    rounds = graph diameter (bounded by max_rounds; unreached vertices get
    the max level and sort last).
    """
    sym = prep.symmetrize(canonical).repartition(
        spark.sparkContext.defaultParallelism, "src"
    ).cache()
    comps = components.connected_components(spark, canonical)
    # level 0: each component's min vertex (its component label).
    # LineageCutter bounds the per-level cut chain: rounds = diameter can
    # reach max_rounds=64 — far past the localCheckpoint-chain Spark 4.1
    # cliff (BENCH.md §6a) — so every CUT_CHAIN_BOUND-th cut is a parquet
    # round-trip.
    cutter = supersteps.LineageCutter(spark)
    with cutter:
        state = cutter.cut(
            comps.select(
                "vertex",
                F.when(F.col("vertex") == F.col("component"), F.lit(0))
                .otherwise(F.lit(None))
                .cast("long")
                .alias("level"),
            )
        )
        for lvl in range(1, max_rounds + 1):
            frontier = state.where(F.col("level") == lvl - 1).select("vertex")
            if frontier.limit(1).count() == 0:
                break
            reached = (
                sym.join(frontier.withColumnRenamed("vertex", "src"), "src")
                .select(F.col("dst").alias("vertex"))
                .distinct()
            )
            state = cutter.cut(
                state.join(
                    reached.withColumn("_r", F.lit(True)), "vertex", "left"
                ).select(
                    "vertex",
                    F.when(F.col("level").isNotNull(), F.col("level"))
                    .when(F.col("_r").isNotNull(), F.lit(lvl))
                    .cast("long")
                    .alias("level"),
                )
            )
        filled = state.select(
            "vertex", F.coalesce("level", F.lit(max_rounds + 1)).alias("level")
        )
        out = cutter.close(
            dense_rank_ids(filled, [F.asc("level"), F.asc("vertex")]).select(
                "vertex", "new_id"
            )
        )
        sym.unpersist()
        return out


# A-order v1 measured-bandwidth model (vertex_ordering/A-order/A-order.cpp:20-36):
# per-adjacency-length effective bandwidth, measured by the reference authors
# on their hardware; kept verbatim as the default cost model, overridable.
_BW_TABLE = [0.0, 0.0, 271.0, 310.0, 399.0, 419.0, 458.0, 478.0, 524.0, 539.0]
_LAMBDA_TABLE = [0.0, 0.0, 145.51, 121.98, 53.26, 23.92, 16.0, 14.0, 12.94, 10.24]


def _bandwidth_cols(deg: Column) -> tuple[Column, Column]:
    """(bandwidth, equal_bandwidth) JVM expressions of a degree column —
    the reference's getBandwidth/getEqualBandWidth lookup + power-law tail."""
    bw_small = F.element_at(F.lit(_BW_TABLE), (deg + 1).cast("int"))
    bw = F.when(deg < 10, bw_small).otherwise(
        384.1 * F.pow(deg.cast("double"), F.lit(0.1491))
    )
    lam_small = F.element_at(F.lit(_LAMBDA_TABLE), (deg + 1).cast("int"))
    lam = F.when(deg < 10, lam_small).otherwise(F.lit(12.0))
    eq_bw = lam * F.sqrt(bw) / F.sqrt(deg.cast("double"))
    return bw, eq_bw


def bandwidth_pack_relabel(
    canonical: DataFrame, bucket_size: int = 40
) -> tuple[DataFrame, DataFrame]:
    """A-order v1: pack vertices into fixed-size buckets with balanced
    memory-superiority cost (A-order.cpp:126-181, BUCKETSIZE=40).

    The reference runs a per-node greedy heap (always drop the next node
    into the currently cheapest unfinished bucket) — inherently sequential.
    Spark-first re-expression: nodes of equal runtime degree carry an
    IDENTICAL cost delta, so the greedy's choices only matter between
    degree classes; processing slots in the reference's phase order
    (memory-dominated degrees >=5 descending, then degrees 2-4) and
    striding them round-robin across buckets yields per-bucket cost sums
    within one node-delta of the heap greedy, with no driver loop. The
    slot rank is computed by the distributed ranking kernel, the
    slot->bucket->new_id map is pure JVM arithmetic. Degree<=1 vertices go
    to the back, degree-desc, exactly as the reference appends bucket[1]
    then bucket[0].

    Returns (relabeled_edges, mapping(vertex, new_id, bucket, degree));
    bucket is -1 for the unbucketed degree<=1 tail, degree is the oriented
    runtime degree the cost model prices. Quality is judged by
    `compression_ratio` / `bucket_costs`, not output parity (the reference
    emits one of many equally-costed optima).
    """
    oriented = prep.orient_by_degree(canonical)
    rt_deg = oriented.groupBy(F.col("src").alias("vertex")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    # vertices never on the oriented src side have runtime degree 0
    all_verts = prep.degrees(canonical).select("vertex")
    deg = all_verts.join(rt_deg, "vertex", "left").select(
        "vertex", F.coalesce("degree", F.lit(0)).alias("degree")
    )
    body = deg.where(F.col("degree") >= 2)
    tail = deg.where(F.col("degree") <= 1)
    # phase 1 slots first (degree>=5 desc), then phase 2 (degrees 2-4 asc —
    # the reference walks id_rtDegree upward from twoDegreeNodePos)
    phase = F.when(F.col("degree") >= 5, F.lit(0)).otherwise(F.lit(1))
    slot_order = [
        F.asc("phase"),
        F.when(F.col("phase") == 0, -F.col("degree")).otherwise(F.col("degree")).asc(),
        F.asc("vertex"),
    ]
    slotted = dense_rank_ids(
        body.withColumn("phase", phase), slot_order, id_col="slot"
    )
    n_eff = slotted.count()
    n_buckets = max(int(n_eff // bucket_size), 1)
    q, rem = divmod(int(n_eff), n_buckets)
    s = F.col("slot")
    bucket = (s % n_buckets).cast("long")
    intra = (s / n_buckets).cast("long")
    # bucket b holds q (+1 if b < rem) slots; new ids are bucket-contiguous
    new_id = bucket * q + F.least(bucket, F.lit(rem)) + intra
    body_map = slotted.select(
        "vertex", "degree", new_id.alias("new_id"), bucket.alias("bucket")
    )
    tail_ranked = dense_rank_ids(
        tail, [F.desc("degree"), F.asc("vertex")], id_col="r"
    )
    tail_map = tail_ranked.select(
        "vertex",
        "degree",
        (F.col("r") + n_eff).alias("new_id"),
        F.lit(-1).cast("long").alias("bucket"),
    )
    mapping = body_map.unionByName(tail_map)
    relabeled = (
        canonical.join(
            mapping.select(F.col("vertex").alias("src"), F.col("new_id").alias("ns")),
            "src",
        )
        .join(
            mapping.select(F.col("vertex").alias("dst"), F.col("new_id").alias("nd")),
            "dst",
        )
        .select(F.least("ns", "nd").alias("src"), F.greatest("ns", "nd").alias("dst"))
    )
    return relabeled, mapping.select("vertex", "new_id", "bucket", "degree")


def bucket_costs(mapping_with_degree: DataFrame) -> DataFrame:
    """Per-bucket memory-superiority sums for a bandwidth_pack_relabel
    mapping (vertex, new_id, bucket, degree) — the quantity the
    reference's greedy balances. One row per bucket: (bucket, n_vertices,
    cost); the packing is good when max(cost)-min(cost) is ~one node delta."""
    bw, eq_bw = _bandwidth_cols(F.col("degree"))
    delta = F.when(F.col("degree") >= 2, bw - eq_bw).otherwise(F.lit(0.0))
    return (
        mapping_with_degree.where(F.col("bucket") >= 0)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vertices"), F.sum(delta).alias("cost"))
    )


def compression_ratio(canonical: DataFrame, mapping: DataFrame | None = None) -> DataFrame:
    """A11: BSR compression-ratio diagnostic (reference comp_ratio,
    porder.cpp:295-351) — distinct 64-value base words per adjacency entry,
    for the forward (src->dst) and reverse lists; lower = denser bitmaps =
    better ordering. One row: (out_comp_ratio, in_comp_ratio, comp_ratio).
    Optionally relabels through mapping(vertex, new_id) first."""
    edges = canonical
    if mapping is not None:
        edges = (
            canonical.join(
                mapping.withColumnRenamed("vertex", "src").withColumnRenamed("new_id", "ns"), "src"
            )
            .join(
                mapping.withColumnRenamed("vertex", "dst").withColumnRenamed("new_id", "nd"), "dst"
            )
            .select(
                F.least("ns", "nd").alias("src"), F.greatest("ns", "nd").alias("dst")
            )
        )
    m = edges.count()
    out_bases = (
        edges.groupBy("src")
        .agg(F.count_distinct(F.shiftright("dst", _PACK_SHIFT)).alias("b"))
        .agg(F.sum("b").alias("t"))
        .first()["t"]
    )
    in_bases = (
        edges.groupBy("dst")
        .agg(F.count_distinct(F.shiftright("src", _PACK_SHIFT)).alias("b"))
        .agg(F.sum("b").alias("t"))
        .first()["t"]
    )
    spark = canonical.sparkSession
    out_r = out_bases / m if m else 0.0
    in_r = in_bases / m if m else 0.0
    return spark.createDataFrame(
        [(round(out_r, 6), round(in_r, 6), round((out_r + in_r) / 2, 6))],
        "out_comp_ratio double, in_comp_ratio double, comp_ratio double",
    )
