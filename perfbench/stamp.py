"""Run stamps: what a result was measured on, so that results taken under
different conditions are never compared.

A stamp records the workload, size, seed, trace mode, cores, driver heap,
RAM, Spark version, canonical edge count, the broadcast budgets the run
set, and a single-thread CPU calibration taken before and after the run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

# Same probe as bench.py: single-threaded numpy matmul GFLOP/s in a fresh
# subprocess with BLAS pinned to one thread.
_CAL_SNIPPET = """
import numpy as np, time
n = 1024
rng = np.random.default_rng(7)
a = rng.random((n, n)); b = rng.random((n, n))
a @ b
best = float("inf")
for _ in range(5):
    t0 = time.perf_counter(); a @ b
    best = min(best, time.perf_counter() - t0)
print(round(2 * n**3 / best / 1e9, 1))
"""

# Stamp keys that must be equal for two results to be comparable.
IDENTITY = (
    "workload",
    "size",
    "seed",
    "trace",
    "cores",
    "driver_memory",
    "mem_total_mb",
    "spark_version",
    "canonical_edges",
    "budgets",
)
# Largest relative difference between two runs' calibrations that still
# counts as the same box condition.
CALIBRATION_TOLERANCE = 0.15


def cpu_calibration() -> float:
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    out = subprocess.run(
        [sys.executable, "-c", _CAL_SNIPPET], capture_output=True, text=True, env=env, timeout=120
    )
    try:
        return float(out.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return -1.0


def make_stamp(*, machine: dict, cal_pre: float, cal_post: float, **fields) -> dict:
    return {
        **fields,
        "cores": machine["cores"],
        "driver_memory": machine["driver_memory"],
        "mem_total_mb": machine["mem_total_mb"],
        "calibration_gflops": {"pre": cal_pre, "post": cal_post},
    }


def write_record(path: str, stamp: dict, result: dict, table: dict) -> None:
    with open(path, "w") as fh:
        json.dump({"stamp": stamp, "result": result, "table": table}, fh, indent=1, sort_keys=True)


def mismatches(a: dict, b: dict) -> list[str]:
    """Reasons two stamps are not comparable; empty when they are."""
    out = [f"{k}: {a.get(k)!r} != {b.get(k)!r}" for k in IDENTITY if a.get(k) != b.get(k)]
    cals = [a["calibration_gflops"], b["calibration_gflops"]]
    values = [c[k] for c in cals for k in ("pre", "post")]
    if min(values) <= 0:
        out.append(f"calibration missing: {values}")
    elif (max(values) - min(values)) / min(values) > CALIBRATION_TOLERANCE:
        out.append(
            f"calibration drift: {values} GFLOP/s differ by more than "
            f"{CALIBRATION_TOLERANCE:.0%}"
        )
    return out
