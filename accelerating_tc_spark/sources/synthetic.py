"""Deterministic synthetic graph generators (test fixtures, FIXTURES.md §1).

Mirrors the reference's randomized-input posture: a PLOD-style power-law
generator (reference edge_directing/A-direction.cpp:185-193 uses boost PLOD)
and hand-written tiny graphs with known exact triangle counts. Everything is
seeded — no external data.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_EDGE_SCHEMA = "src long, dst long"


def edges_df(spark: SparkSession, pairs) -> DataFrame:
    pdf = pd.DataFrame(pairs, columns=["src", "dst"], dtype="int64")
    if pdf.empty:
        pdf = pd.DataFrame({"src": pd.Series(dtype="int64"), "dst": pd.Series(dtype="int64")})
    return spark.createDataFrame(pdf, schema=_EDGE_SCHEMA)


# ---- tiny graphs with known answers (FIXTURES.md edges_tiny_known) ----

TINY_GRAPHS: dict[str, tuple[list[tuple[int, int]], int]] = {
    # name: (edge list, exact triangle count)
    "triangle": ([(0, 1), (1, 2), (0, 2)], 1),
    "k4": ([(a, b) for a in range(4) for b in range(a + 1, 4)], 4),
    "k5": ([(a, b) for a in range(5) for b in range(a + 1, 5)], 10),
    "star10": ([(0, i) for i in range(1, 11)], 0),
    "path10": ([(i, i + 1) for i in range(9)], 0),
    "two_triangles": ([(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)], 2),
    # dirty: self-loops, duplicates, both directions — cleaned count is 1
    "dirty_triangle": ([(0, 0), (0, 1), (1, 0), (1, 2), (1, 2), (2, 0), (5, 5)], 1),
}


def tiny_graph(spark: SparkSession, name: str) -> tuple[DataFrame, int]:
    pairs, tri = TINY_GRAPHS[name]
    return edges_df(spark, pairs), tri


# ---- seeded power-law generator (PLOD-style) ----

def powerlaw_edge_pairs(
    n_vertices: int, n_edges: int, alpha: float = 2.0, seed: int = 42
) -> np.ndarray:
    """Seeded power-law multigraph edges (may contain loops/dupes on purpose —
    the engine must clean them). Degree-propensity ~ (rank+1)^(-1/alpha)."""
    rng = np.random.default_rng(seed)
    weights = (np.arange(1, n_vertices + 1, dtype=np.float64)) ** (-1.0 / alpha)
    weights /= weights.sum()
    src = rng.choice(n_vertices, size=n_edges, p=weights)
    dst = rng.choice(n_vertices, size=n_edges, p=weights)
    return np.stack([src, dst], axis=1).astype(np.int64)


def powerlaw_edges(
    spark: SparkSession, n_vertices: int = 1000, n_edges: int = 5000, seed: int = 42
) -> DataFrame:
    pairs = powerlaw_edge_pairs(n_vertices, n_edges, seed=seed)
    return edges_df(spark, pairs.tolist())


def hub_edges(spark: SparkSession, n_vertices: int = 200, seed: int = 42) -> DataFrame:
    """One vertex adjacent to 50% of the rest + a random sprinkle — the
    Bisson big-row case, exercising every plan under a planted hub
    (FIXTURES.md edges_skewed_hub)."""
    rng = np.random.default_rng(seed)
    hub_nbrs = rng.choice(np.arange(1, n_vertices), size=n_vertices // 2, replace=False)
    pairs = [(0, int(v)) for v in hub_nbrs]
    extra = rng.integers(1, n_vertices, size=(n_vertices, 2))
    pairs += [(int(a), int(b)) for a, b in extra]
    return edges_df(spark, pairs)


# ---- distributed deterministic Zipf generator (bench-scale inputs) ----

def zipf_edges_distributed(
    spark: SparkSession,
    n_vertices: int,
    n_edges: int,
    seed: int = 42,
    partitions: int | None = None,
    s: float = 1.0,
) -> DataFrame:
    """Seeded power-law edge table generated ON THE CLUSTER (no driver data).

    Each endpoint is drawn Zipf(s≈1)-like via inverse-CDF over a uniform
    derived from xxhash64(edge_id, seed) — deterministic for any partitioning
    and any parallelism, so two runs at different core counts see the SAME
    graph. Used by bench --scaling, where the input must be big enough that
    compute dominates scheduling overhead.
    """
    from pyspark.sql import functions as F

    partitions = partitions or spark.sparkContext.defaultParallelism
    ids = spark.range(0, n_edges, 1, partitions)

    def uniform(salt: int):
        h = F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt))
        return (F.pmod(h, F.lit(1 << 30)).cast("double") + 0.5) / float(1 << 30)

    def zipf_vertex(u):
        # inverse CDF of P(v) ~ (v+1)^(-s); s=1 uses the log form.
        if abs(s - 1.0) < 1e-9:
            return F.floor(F.pow(F.lit(float(n_vertices + 1)), u) - 1).cast("long")
        p = 1.0 - s
        scale = float((n_vertices + 1) ** p - 1.0)
        return F.floor(F.pow(u * F.lit(scale) + F.lit(1.0), F.lit(1.0 / p)) - 1).cast("long")

    return ids.select(
        zipf_vertex(uniform(1)).alias("src"),
        zipf_vertex(uniform(2)).alias("dst"),
    )


# ---- numpy triangle-count oracle for small graphs (no external libs) ----

def numpy_triangle_count(pairs) -> int:
    """Exact triangle count via trace(A^3)/6 on the cleaned dense adjacency.

    Independent of all Spark code paths — the cross-implementation oracle
    (reference posture, SURVEY.md §5). Only for graphs small enough to
    densify (tests use <= ~2000 vertices).
    """
    arr = np.asarray(list(pairs), dtype=np.int64)
    if arr.size == 0:
        return 0
    arr = arr[arr[:, 0] != arr[:, 1]]
    if arr.size == 0:
        return 0
    n = int(arr.max()) + 1
    a = np.zeros((n, n), dtype=np.int64)
    a[arr[:, 0], arr[:, 1]] = 1
    a[arr[:, 1], arr[:, 0]] = 1
    return int(np.trace(a @ a @ a) // 6)
