"""A-direction threshold peeling — the reference repo's headline edge-
orientation algorithm (reference edge_directing/A-direction.cpp:36-160
``peel`` + :268-285 orientation output; serial variant
A-direction-seri.cpp:79-128; SURVEY.md G2).

Semantics (re-expressed, deterministic batch form):
- threshold starts at the average degree; every unpeeled vertex whose
  RUNTIME degree (degree minus peeled neighbors) is <= threshold is peeled
  into the current priority level;
- newly peeled vertices decrement their unpeeled neighbors' runtime
  degrees; vertices crossing the threshold form the next frontier level
  (up to ``inner_rounds`` frontier waves per threshold, the reference's
  ``innerLoop <= 5``);
- when a threshold is exhausted, it increases by
  avg_degree * thre_param / 5 (reference ``threshold +=
  threshold_old*thre_param/5``) and the outer round repeats until every
  vertex holds a priority.
- edges orient low priority -> high priority, ties by vertex id
  (reference output loop: ``priorities[ngb] > priorities[i] || (== && i <
  ngb)``). The level ORDER is what matters; the reference's exact level
  numerals depend on OpenMP scheduling races and frontier-size heuristics
  (fIndex > nodeNum/5000) that are engine tuning, not semantics — this
  implementation is the deterministic batch fixpoint of the same rule, and
  tests pin it against an independent python oracle.

Spark shape: the symmetrized edge table is hash-partitioned once and
cached; every wave is one frontier join + one per-neighbor count aggregate
+ a lineage cut through supersteps.LineageCutter, which bounds the cut
chain like every other loop's (levels can run into the hundreds; BENCH.md
§6a). Total work across all waves is O(|E|): each edge's decrement fires
exactly once, when its first endpoint peels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import prep, supersteps


def peel_priorities(
    spark: SparkSession,
    canonical: DataFrame,
    thre_param: float = 1.0,
    inner_rounds: int = 5,
    max_levels: int = 100000,
) -> DataFrame:
    """(vertex, priority, runtime_degree) — peel level per vertex.

    Lower priority = peeled earlier = lower degree pressure. Guaranteed
    total: the threshold grows every outer round, so every vertex is
    eventually peeled.
    """
    n_part = spark.sparkContext.defaultParallelism
    sym = prep.symmetrize(canonical).repartition(n_part, "src").cache()
    deg = prep.degrees(canonical)
    avg = deg.agg(F.avg("degree")).first()[0] or 1.0
    threshold = float(avg)
    step = float(avg) * thre_param / 5.0

    def assign(st: DataFrame, thr: float, lvl: int) -> DataFrame:
        return st.select(
            "vertex",
            "rdeg",
            F.when(
                F.col("priority").isNull() & (F.col("rdeg") <= F.lit(thr)), F.lit(lvl)
            )
            .otherwise(F.col("priority"))
            .cast("long")
            .alias("priority"),
        )

    def decrement(st: DataFrame, frontier_level: int) -> DataFrame:
        # unpeeled vertices lose one runtime degree per neighbor peeled at
        # `frontier_level`
        frontier = st.where(F.col("priority") == frontier_level).select("vertex")
        dec = (
            sym.join(frontier.withColumnRenamed("vertex", "src"), "src")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(F.count(F.lit(1)).alias("_dec"))
        )
        return st.join(dec, "vertex", "left").select(
            "vertex",
            F.when(
                F.col("priority").isNull(),
                F.col("rdeg") - F.coalesce("_dec", F.lit(0)),
            )
            .otherwise(F.col("rdeg"))
            .alias("rdeg"),
            "priority",
        )

    with supersteps.LineageCutter(spark) as cutter:
        state = cutter.cut(
            deg.select(
                "vertex",
                F.col("degree").alias("rdeg"),
                F.lit(None).cast("long").alias("priority"),
            )
        )
        level = 0
        while level < max_levels:
            # outer wave: peel everything at-or-under the current threshold
            state = cutter.cut(assign(state, threshold, level))
            n_frontier = state.where(F.col("priority") == level).count()
            level += 1
            inner = 0
            while n_frontier > 0 and inner < inner_rounds and level < max_levels:
                state = cutter.cut(assign(decrement(state, level - 1), threshold, level))
                n_frontier = state.where(F.col("priority") == level).count()
                level += 1
                inner += 1
            if n_frontier > 0:
                # inner cap hit with a live frontier: the final wave's peeled
                # vertices still owe their unpeeled neighbors their decrements —
                # apply them (without opening a new wave at this threshold) so
                # runtime degrees stay exact across the threshold bump and the
                # "every edge decrements exactly once" invariant holds
                state = cutter.cut(decrement(state, level - 1))
            if state.where(F.col("priority").isNull()).count() == 0:
                break
            threshold += step

        # the cut state no longer reads `sym`; close() re-anchors it if it
        # reads a scratch slot
        sym.unpersist()
        return cutter.close(
            state.select("vertex", "priority", F.col("rdeg").alias("runtime_degree"))
        )


def orient_by_peel(canonical: DataFrame, priorities: DataFrame) -> DataFrame:
    """Orient each edge low-priority -> high-priority, ties by id (the
    reference's output rule, A-direction.cpp:268-285). The (priority, id)
    order is total, so the orientation is acyclic — triangle counts under
    it equal counts under any other acyclic orientation."""
    p_src = priorities.select(F.col("vertex").alias("src"), F.col("priority").alias("p_s"))
    p_dst = priorities.select(F.col("vertex").alias("dst"), F.col("priority").alias("p_d"))
    joined = canonical.join(p_src, "src").join(p_dst, "dst")
    keep = (F.col("p_s") < F.col("p_d")) | (
        (F.col("p_s") == F.col("p_d")) & (F.col("src") < F.col("dst"))
    )
    return joined.select(
        F.when(keep, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(keep, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )


def peel_oracle_sql(
    edges_cte: str, thre_param: float = 2.0, n_waves: int = 10
) -> str:
    """Unrolled ANSI-SQL threshold peel for the DuckDB oracle — the
    same output row as `peel_vs_degree_balance`.

    The Spark loop (outer threshold rounds + capped inner frontier waves +
    the cap-hit decrement flush) is EQUIVALENT to a uniform wave
    recurrence, which is what unrolls cleanly: wave w first decrements
    unassigned runtime degrees by the wave w-1 frontier's edges, then
    assigns priority w-1 to unassigned vertices with rdeg <= thr_w. The
    threshold schedule is carried as a one-row params CTE: thr bumps by
    step = avg_degree * thre_param / 5 when a wave assigns nothing or a
    6-wave run at one threshold ends (outer assign + the reference's
    innerLoop <= 5); the cap-hit decrement flush is exactly the decrement
    half of the next uniform wave. Once every vertex holds a priority,
    further waves are no-ops, so unrolling with margin is safe and an
    under-unroll surfaces as the driver-visible hash mismatch."""
    parts = [
        edges_cte,
        """
, sym AS MATERIALIZED (
  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
)
, s0 AS MATERIALIZED (
  SELECT src AS vertex, COUNT(*)::BIGINT AS rdeg, NULL::BIGINT AS priority
  FROM sym GROUP BY src
)
, p1 AS MATERIALIZED (
  SELECT (SELECT AVG(rdeg) FROM s0) AS thr,
"""
        + f"         (SELECT AVG(rdeg) FROM s0) * {thre_param} / 5.0 AS step,\n"
        + """         1::BIGINT AS runlen
)
""",
    ]
    for w in range(1, n_waves + 1):
        parts.append(
            f"""
, f{w} AS MATERIALIZED (SELECT vertex FROM s{w - 1} WHERE priority = {w - 2})
, d{w} AS (
  SELECT e.dst AS vertex, COUNT(*)::BIGINT AS dec
  FROM sym e JOIN f{w} f ON f.vertex = e.src GROUP BY e.dst
)
, s{w} AS MATERIALIZED (
  SELECT vertex, rdeg,
         (CASE WHEN priority IS NULL AND rdeg <= (SELECT thr FROM p{w})
               THEN {w - 1} ELSE priority END)::BIGINT AS priority
  FROM (
    SELECT s.vertex,
           CASE WHEN s.priority IS NULL THEN s.rdeg - COALESCE(d.dec, 0)
                ELSE s.rdeg END AS rdeg,
           s.priority
    FROM s{w - 1} s LEFT JOIN d{w} d ON d.vertex = s.vertex
  )
)
, p{w + 1} AS MATERIALIZED (
  SELECT CASE WHEN (SELECT COUNT(*) FROM s{w} WHERE priority = {w - 1}) = 0
                OR (SELECT runlen FROM p{w}) >= 6
              THEN (SELECT thr FROM p{w}) + (SELECT step FROM p1)
              ELSE (SELECT thr FROM p{w}) END AS thr,
         (SELECT step FROM p1) AS step,
         (CASE WHEN (SELECT COUNT(*) FROM s{w} WHERE priority = {w - 1}) = 0
                 OR (SELECT runlen FROM p{w}) >= 6
               THEN 1 ELSE (SELECT runlen FROM p{w}) + 1 END)::BIGINT AS runlen
)"""
        )
    parts.append(
        f"""
, pri AS MATERIALIZED (SELECT vertex, priority FROM s{n_waves})
, peel_or AS (
  SELECT CASE WHEN ps.priority < pd.priority
                OR (ps.priority = pd.priority AND e.src < e.dst)
              THEN e.src ELSE e.dst END AS osrc
  FROM edges e
  JOIN pri ps ON ps.vertex = e.src
  JOIN pri pd ON pd.vertex = e.dst
)
, pod AS (SELECT osrc, COUNT(*)::DOUBLE AS out_degree FROM peel_or GROUP BY osrc)
, degs AS (SELECT src AS vertex, COUNT(*) AS degree FROM sym GROUP BY src)
, deg_or AS (
  SELECT CASE WHEN ds.degree < dd.degree
                OR (ds.degree = dd.degree AND e.src < e.dst)
              THEN e.src ELSE e.dst END AS osrc
  FROM edges e
  JOIN degs ds ON ds.vertex = e.src
  JOIN degs dd ON dd.vertex = e.dst
)
, dod AS (SELECT osrc, COUNT(*)::DOUBLE AS out_degree FROM deg_or GROUP BY osrc)
SELECT
  (SELECT ROUND(SUM(ABS(out_degree - (SELECT AVG(out_degree) FROM pod))), 6) FROM pod)
    AS peel_balance_cost,
  (SELECT ROUND(SUM(ABS(out_degree - (SELECT AVG(out_degree) FROM dod))), 6) FROM dod)
    AS degree_balance_cost,
  (SELECT (MAX(priority) + 1)::BIGINT FROM pri) AS n_levels
"""
    )
    return "".join(parts)


def peel_vs_degree_balance(
    spark: SparkSession, canonical: DataFrame, thre_param: float = 2.0
) -> DataFrame:
    """One row: the reference's orientation-balance metric
    (tools/verification.cpp:25-60 — sum |outdeg - avg outdeg|) for the peel
    orientation next to the degree orientation, plus the peel level count."""
    pr = peel_priorities(spark, canonical, thre_param=thre_param)
    peel_or = orient_by_peel(canonical, pr)
    deg_or = prep.orient_by_degree(canonical)
    pb = prep.orientation_balance_cost(peel_or).select(
        F.round("balance_cost", 6).alias("peel_balance_cost")
    )
    db = prep.orientation_balance_cost(deg_or).select(
        F.round("balance_cost", 6).alias("degree_balance_cost")
    )
    levels = pr.agg((F.max("priority") + 1).alias("n_levels"))
    return pb.crossJoin(db).crossJoin(levels)
