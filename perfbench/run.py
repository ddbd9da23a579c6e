#!/usr/bin/env python3
"""End-to-end link-graph benchmark: from a parquet input table to every
answer collected, one workload per process at local[<cores>].

    python3 perfbench/run.py --workload copurchase --seed 1 --seconds 15 --trace 0

Workloads (sizes and runtime-gate sides are recorded in BENCHMARK.json):

- copurchase: TPC-H lineitem (part keys relabeled by the seed) -> part
  co-purchase graph -> orient -> triangle count, PageRank(10),
  connected components, label propagation(5). Its traced passes also
  measure the write path: the canonical edges committed as a snapshot,
  checkpointed supersteps over it, and link extraction and the composed
  pipeline (run, then resume) over a small generated page corpus.
- zipf: seeded Zipf(s=0.5) edge table -> canonicalize -> orient ->
  triangle count, connected components, with both broadcast budgets set
  below the graph so the cogroup and classic state-shuffle plans run.
- web_pipeline: a generated page corpus (site numbers relabeled by the
  seed) -> plans.pipeline.web_graph_pipeline into a fresh work dir, then a
  second call on the same dir whose corpus thunk must never be called.

A run does its set-up (session start plus one cold pass), then repeats
warm passes for --seconds (at least three) and reports their median.
With --trace 1 the session also writes a Spark event log, and every third
warm pass, from the third on, is traced: it sets a job group around every
layer call, and the log is folded per group into the per-layer table.

Every answer is checked, outside the timed regions, against expected
answers that perfbench/inputs.py derives without the engine. The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; the lines before it are a readable table and the run's stamp.
`--out FILE` also writes the stamped record that perfbench/compare.py reads.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs as inputs_mod  # noqa: E402
import eventlog  # noqa: E402
import stamp as stamp_mod  # noqa: E402

ANALYTICS = {
    "copurchase": ("tc", "pagerank", "cc", "lp"),
    "zipf": ("tc", "cc"),
    "web_pipeline": ("pipeline", "resume"),
}
# driver_*_growth_mb: how far the driver process's peak RSS (VmHWM) rose
# after session start. The JVM's heap is committed and touched at start,
# so its growth is native memory; the Python side holds every collected
# answer and the broadcast CSR built on the driver.
END_TO_END = {
    "e2e_s": "s",
    "setup_s": "s",
    "driver_py_growth_mb": "MB",
    "driver_jvm_growth_mb": "MB",
}
# printed in the readable table where the workload has them
PHASES = {
    "tc_s": "triangles.tc",
    "pagerank_s": "supersteps.pagerank",
    "cc_s": "supersteps.cc",
    "lp_s": "supersteps.lp",
    "resume_s": "pipeline.resume",
}
SUPERSTEP_OPS = ("pagerank", "cc", "lp")
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "sources.graph_build.wall_s": "s",
    "sources.graph_build.cpu_s": "s",
    "sources.graph_build.input_mb": "MB",
    "sources.graph_build.shuffle_write_mb": "MB",
    "sources.extract_links.wall_s": "s",
    "sources.extract_links.cpu_s": "s",
    "sources.extract_links.links": "count",
    "sources.commit.wall_s": "s",
    "sources.commit.write_mb": "MB",
    "prep.orient.wall_s": "s",
    "prep.orient.cpu_s": "s",
    "prep.orient.shuffle_write_mb": "MB",
    "triangles.tc.wall_s": "s",
    "triangles.tc.cpu_s": "s",
    "triangles.tc.task_s": "s",
    "triangles.tc.shuffle_write_mb": "MB",
    "triangles.tc.n_jobs": "count",
    "triangles.tc.n_tasks": "count",
    "triangles.tc.peak_task_mem_mb": "MB",
    "triangles.tc.spill_mb": "MB",
    "triangles.broadcast_mb.computed": "MB",
    "triangles.boundary_share": "ratio",
    "blocking.n_blocks": "count",
    "blocking.task_skew": "ratio",
    "csr.build_s": "s",
    "csr.kernel_s": "s",
    "csr.probes": "count",
    "csr.bytes.computed": "MB",
    **{
        f"supersteps.{op}.{k}": u
        for op in SUPERSTEP_OPS
        for k, u in (
            ("wall_s", "s"),
            ("rounds", "count"),
            ("n_jobs", "count"),
            ("cpu_s", "s"),
            ("shuffle_write_mb", "MB"),
            ("round_wall_s.median", "s"),
            ("lazy_rounds", "count"),
            ("checkpoint_mb", "MB"),
        )
    },
    "pipeline.run_s": "s",
    "pipeline.resume_s": "s",
    "trace.overhead_s": "s",
}
# A superstep round reporting under this share of its run's slowest round
# ran no job: its work was left lazy and lands on the next lineage cut.
LAZY_ROUND_SHARE = 0.2


def box() -> dict:
    """Cores, RAM and the driver heap sized to them."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    # a sixth of RAM, 1-6 GiB: the box is shared, and the largest driver
    # collect here (the broadcast CSR) is tens of MB
    heap_mb = min(6144, max(1024, mem_kb // 1024 // 6))
    return {"cores": cores, "mem_total_mb": mem_kb // 1024, "driver_memory": f"{heap_mb}m"}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def du_mb(path: Path) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def summarize(values: list[float]) -> dict:
    """Median plus the highest percentile with at least ten samples beyond
    it (the max when there are too few samples for any)."""
    n = len(values)
    out = {"median": statistics.median(values), "n": n}
    for p in (99.9, 99, 90):
        if n * (1 - p / 100) >= 10:
            out[f"p{p:g}"] = statistics.quantiles(values, n=1000, method="inclusive")[
                int(p * 10) - 1
            ]
            return out
    out["max"] = max(values)
    return out


class Bench:
    """One workload in one process: session lifecycle, passes, checks."""

    def __init__(self, args, work: Path, params: dict, machine: dict):
        self.args = args
        self.workload = args.workload
        self.work = work
        self.params = params
        self.machine = machine
        self.spark = None
        self.inp = work / "data" / "input"
        self.log_dir = work / "eventlog"
        self.n_pass = 0
        self.app_id = None

    # ------------------------------------------------------------ session

    def start_session(self) -> float:
        from accelerating_tc_spark.session import get_spark

        # The whole heap, committed and touched from the start: collections
        # happen at the same points in every run, and the driver's RSS
        # growth after session start is off-heap and Python memory, not how
        # far GC timing let the heap spread (measured: 1.9 or 2.4 GB at
        # random).
        # No hsperfdata file, which would land in /tmp whatever
        # java.io.tmpdir says.
        heap = self.machine["driver_memory"]
        java_opts = (
            f"-XX:+UseParallelGC -Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={self.work / 'tmp'}"
        )
        conf = {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_opts,
        }
        if self.args.trace:
            conf.update(eventlog.event_log_conf(str(self.log_dir)))
        cores = self.machine["cores"]
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}", cores=cores, shuffle_partitions=cores, extra_conf=conf
        )
        self.app_id = self.spark.sparkContext.applicationId
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and gw.proc is not None else None

    def shutdown_jvm(self) -> None:
        """Stop the gateway JVM and wait for it; Python workers exit with it."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is None or gw.proc is None:
            return
        proc = gw.proc
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ------------------------------------------------------------- passes

    def run_pass(self, traced: bool) -> dict:
        """One pass from the input table to collected answers. Returns the
        e2e wall, per-span walls, answers, errors and extra layer numbers."""
        k = self.n_pass
        self.n_pass += 1
        res = {"pass": k, "traced": traced, "times": {}, "answers": {}, "errors": {}, "runs": {}}
        sc = self.spark.sparkContext

        @contextmanager
        def span(name: str):
            if traced:
                sc.setJobGroup(f"p{k}:{name}", name)
            t0 = time.perf_counter()
            try:
                yield
            finally:
                res["times"][name] = time.perf_counter() - t0
                if traced:
                    sc.setJobGroup(f"p{k}:idle", "between spans")

        pass_fn = web_pass if self.workload == "web_pipeline" else graph_pass
        pass_fn(self, res, span, traced)
        self.spark.catalog.clearCache()
        if traced:
            sc.setJobGroup("idle", "between passes")
        return res


def _guard(res: dict, name: str, fn) -> None:
    """Run one analytic; an exception counts it failed and the pass goes on."""
    try:
        fn()
    except Exception:
        res["errors"][name] = traceback.format_exc()
        print(f"[perfbench] {name} raised:\n{res['errors'][name]}", file=sys.stderr)


def _build_graph(b: Bench, span, raw_fn):
    from accelerating_tc_spark.operators import prep

    spark = b.spark
    with span("sources.graph_build"):
        canonical = (
            prep.canonicalize_edges(raw_fn())
            .repartition(spark.sparkContext.defaultParallelism, "src")
            .cache()
        )
        n_edges = canonical.count()
    with span("prep.orient"):
        oriented = prep.orient_by_degree(canonical).cache()
        oriented.count()
    return canonical, oriented, n_edges


def _superstep_run(b: Bench, op: str, canonical, checkpoint_dir: str | None = None):
    from accelerating_tc_spark.operators import components, labelprop, pagerank

    spark, p = b.spark, b.params
    if op == "pagerank":
        return pagerank.pagerank_run(
            spark, canonical, n_iterations=p["pr_iterations"], checkpoint_dir=checkpoint_dir
        )
    if op == "cc":
        return components.connected_components_run(spark, canonical, checkpoint_dir=checkpoint_dir)
    return labelprop.label_propagation_run(
        spark, canonical, n_iterations=p["lp_iterations"], checkpoint_dir=checkpoint_dir
    )


def _analytics(b: Bench, res: dict, span, canonical, oriented, n_edges) -> None:
    from accelerating_tc_spark.operators import triangles

    ans = res["answers"]

    def tc():
        with span("triangles.tc"):
            ans["tc"] = (n_edges, triangles.triangle_count_blocked(oriented).first()["triangles"])

    def superstep(op):
        def go():
            with span(f"supersteps.{op}"):
                run = _superstep_run(b, op, canonical)
                ans[op] = run.state.toArrow()
            res["runs"][op] = run

        return go

    for op in ANALYTICS[b.workload]:
        _guard(res, op, tc if op == "tc" else superstep(op))


def _layer_extras(b: Bench, res: dict, span, oriented) -> None:
    """Traced-pass layer numbers taken outside the e2e window: the CSR
    build and kernel timed in process on the collected oriented edges, and
    the cogroup plan's per-task skew."""
    import numpy as np
    from accelerating_tc_spark.functions.csr import CsrShard, intersect_count_csr
    from accelerating_tc_spark.operators import triangles

    extra = res.setdefault("extra", {})
    with span("csr.collect"):
        tbl = oriented.select("src", "dst").toArrow()
    src = np.asarray(tbl.column("src").to_numpy(zero_copy_only=False), dtype=np.int64)
    dst = np.asarray(tbl.column("dst").to_numpy(zero_copy_only=False), dtype=np.int64)
    builds, kernels = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        shard = CsrShard.from_flat(src, dst)
        t1 = time.perf_counter()
        total = int(intersect_count_csr(shard, src, dst).sum())
        builds.append(t1 - t0)
        kernels.append(time.perf_counter() - t1)
    extra["csr.build_s"] = statistics.median(builds)
    extra["csr.kernel_s"] = statistics.median(kernels)
    extra["csr.probes"] = len(src)
    extra["csr.bytes.computed"] = (
        sum(a.nbytes for a in (shard.vertices, shard.starts, shard.ends, shard.flat)) / 1e6
    )
    extra["csr.triangles"] = total
    extra["triangles.broadcast_mb.computed"] = 16 * len(src) / 1e6
    # the engine's own route rule (triangles._blocked_partials): the
    # broadcast-CSR route, reported as one block, when 16|E| fits the budget
    if 16 * len(src) <= triangles._TC_BROADCAST_MAX_BYTES:
        extra["blocking.n_blocks"] = 1
    with span("blocking.stats"):
        row = triangles.blocked_task_stats(oriented).first()
    extra.setdefault("blocking.n_blocks", row["n_blocks"])
    med = row["median_task_s"] or 0.0
    extra["blocking.task_skew"] = (row["max_task_s"] / med) if med > 0 else 0.0


def graph_pass(b: Bench, res: dict, span, traced: bool) -> None:
    from accelerating_tc_spark.sources import tpch_graph

    spark, inp = b.spark, str(b.inp)
    if b.workload == "copurchase":
        raw_fn = lambda: tpch_graph.copurchase_edges(spark, inp)  # noqa: E731
    else:
        raw_fn = lambda: spark.read.parquet(os.path.join(inp, "edges.parquet"))  # noqa: E731
    t0 = time.perf_counter()
    try:
        canonical, oriented, n_edges = _build_graph(b, span, raw_fn)
    except Exception:
        res["e2e_s"] = time.perf_counter() - t0
        for op in ANALYTICS[b.workload]:
            res["errors"][op] = "graph build raised:\n" + traceback.format_exc()
        print(res["errors"][ANALYTICS[b.workload][0]], file=sys.stderr)
        return
    _analytics(b, res, span, canonical, oriented, n_edges)
    res["e2e_s"] = time.perf_counter() - t0
    try:
        if traced:
            _layer_extras(b, res, span, oriented)
            if b.workload == "copurchase":
                _write_path(
                    b, res, span, lambda: {"edges": canonical}, ("pagerank", "cc", "lp"),
                    b.params["pages"]["pr_iterations"],
                )
    finally:
        oriented.unpersist()
        canonical.unpersist()


def _pipeline_calls(b: Bench, res: dict, span, pr_iterations: int) -> None:
    """plans.pipeline.web_graph_pipeline over the page corpus into a fresh
    work dir, then again on that dir with a corpus thunk that must never
    be called."""
    from accelerating_tc_spark.plans import pipeline

    spark = b.spark
    pages_path = str(b.inp / "pages.parquet")
    work_dir = b.work / "pipeline" / f"p{res['pass']}"
    shutil.rmtree(work_dir.parent, ignore_errors=True)
    called = []

    def must_not_run():
        called.append(True)
        raise RuntimeError("resume re-read the page corpus")

    def run():
        with span("pipeline.run"):
            res["answers"]["pipeline"] = pipeline.web_graph_pipeline(
                spark,
                lambda: spark.read.parquet(pages_path),
                str(work_dir),
                pr_iterations=pr_iterations,
            ).toArrow()

    def resume():
        with span("pipeline.resume"):
            res["answers"]["resume"] = pipeline.web_graph_pipeline(
                spark, must_not_run, str(work_dir), pr_iterations=pr_iterations
            ).toArrow()
        res["answers"]["resume_called"] = bool(called)

    _guard(res, "pipeline", run)
    _guard(res, "resume", resume)
    shutil.rmtree(work_dir.parent, ignore_errors=True)


def web_pass(b: Bench, res: dict, span, traced: bool) -> None:
    from accelerating_tc_spark.sources import pages as pages_mod

    t0 = time.perf_counter()
    _pipeline_calls(b, res, span, b.params["pr_iterations"])
    res["e2e_s"] = time.perf_counter() - t0
    if traced:
        corpus = lambda: b.spark.read.parquet(str(b.inp / "pages.parquet"))  # noqa: E731
        _write_path(
            b, res, span,
            lambda: dict(zip(("edges", "url_mapping"), pages_mod.pages_to_edges(corpus()))),
            ("pagerank", "cc"), None,
        )


def _write_path(b: Bench, res: dict, span, tables_fn, ops, pipeline_pr: int | None) -> None:
    """Traced-pass layers of the write path, outside the e2e window: link
    extraction over the page corpus; the tables from `tables_fn` committed
    as snapshots; the `ops` supersteps over the committed edges read back,
    checkpointing every round; with `pipeline_pr`, the composed pipeline's
    run and resume over the page corpus."""
    from accelerating_tc_spark.operators import prep
    from accelerating_tc_spark.sources import pages as pages_mod
    from accelerating_tc_spark.sources import snapshots

    spark = b.spark
    extra = res.setdefault("extra", {})
    layer_dir = b.work / "layers"
    shutil.rmtree(layer_dir, ignore_errors=True)
    with span("sources.extract_links"):
        corpus = spark.read.parquet(str(b.inp / "pages.parquet"))
        extra["sources.extract_links.links"] = pages_mod.extract_links(corpus).count()
    with span("sources.commit"):
        for name, df in tables_fn().items():
            snapshots.write_table(df, str(layer_dir / name))
    extra["sources.commit.write_mb"] = du_mb(layer_dir)
    committed = prep.canonicalize_edges(
        snapshots.read_table(spark, str(layer_dir / "edges"))
    ).cache()
    try:
        for op in ops:
            ckpt = layer_dir / f"{op}_ckpt"

            def go(op=op, ckpt=ckpt):
                with span(f"supersteps.{op}.checkpointed"):
                    run = _superstep_run(b, op, committed, str(ckpt))
                    res["answers"][f"{op}_ckpt"] = run.state.toArrow()

            _guard(res, f"{op}_ckpt", go)
            extra[f"supersteps.{op}.checkpoint_mb"] = du_mb(ckpt)
        if pipeline_pr is not None:
            _pipeline_calls(b, res, span, pipeline_pr)
    finally:
        committed.unpersist()
        shutil.rmtree(layer_dir, ignore_errors=True)


# ---------------------------------------------------------------- checks

class Expected:
    def __init__(self, exp_dir: Path):
        import pyarrow.parquet as pq

        with open(exp_dir / "expected.json") as fh:
            self.scalars = json.load(fh)
        self.vectors = {
            p.stem: pq.read_table(p).sort_by("vertex") for p in exp_dir.glob("*.parquet")
        }

    def triangles_ok(self, n_edges: int, tri: int) -> bool:
        s = self.scalars
        return (
            n_edges == s["n_edges"]
            and tri == s["triangles"]
            and tri == s.get("triangles_unrelabeled", tri)
        )

    def vector_ok(self, name: str, got, column: str, tol: float | None = None) -> bool:
        import numpy as np

        want = self.vectors[name]
        got = got.sort_by("vertex")
        if got.num_rows != want.num_rows:
            return False
        gv = got.column("vertex").to_numpy()
        if not np.array_equal(gv, want.column("vertex").to_numpy()):
            return False
        a = got.column(column).to_numpy()
        w = want.column(want.column_names[1]).to_numpy()
        return bool(np.allclose(a, w, rtol=0, atol=tol)) if tol else bool(np.array_equal(a, w))


# the oracle rounds ranks to 6 places; a correct rank is within half a
# unit of that, plus float reassociation slack
RANK_TOL = 1e-6


def check_pass(res: dict, exp: Expected, pages_exp: Expected, workload: str) -> dict[str, bool]:
    """{analytic: answer correct} for one pass (False when it raised): the
    workload's analytics and whatever else the pass answered. Checkpointed
    supersteps (`<op>_ckpt`) must equal the expected `<op>` vector; the
    pipeline is checked against the page corpus's expected answers."""
    ans, out = res["answers"], {}
    ops = [*ANALYTICS[workload], *res["errors"], *(k for k in ans if k != "resume_called")]
    for op in dict.fromkeys(ops):
        base = op.removesuffix("_ckpt")
        if op in res["errors"] or op not in ans:
            out[op] = False
        elif op == "tc":
            out[op] = exp.triangles_ok(*ans["tc"])
        elif base == "pagerank":
            out[op] = exp.vector_ok("pagerank", ans[op], "rank", RANK_TOL)
        elif base == "cc":
            out[op] = exp.vector_ok("cc", ans[op], "component")
        elif base == "lp":
            out[op] = exp.vector_ok("lp", ans[op], "label")
        elif op == "pipeline":
            out[op] = _summary_ok(ans[op], pages_exp)
        elif op == "resume":
            out[op] = (
                not ans["resume_called"]
                and "pipeline" in ans
                and ans[op].sort_by("vertex").equals(ans["pipeline"].sort_by("vertex"))
            )
    return out


def _summary_ok(summary, exp: Expected) -> bool:
    import numpy as np

    s = exp.scalars
    n_edges = summary.column("n_edges").to_numpy()
    tri = summary.column("triangles").to_numpy()
    return (
        summary.num_rows > 0
        and bool((n_edges == s["n_edges"]).all())
        and bool((tri == s["triangles"]).all())
        and bool((tri == s["triangles_unrelabeled"]).all())
        and exp.vector_ok("pagerank", summary.select(["vertex", "rank"]), "rank", RANK_TOL)
        and exp.vector_ok("cc", summary.select(["vertex", "component"]), "component")
        and np.unique(summary.column("component").to_numpy()).size == s["n_components"]
    )


# ------------------------------------------------------------- per layer

def layer_metrics(res: dict, groups: dict, session_s: float) -> dict[str, float]:
    """Per-layer numbers for one traced pass from its spans, its event-log
    groups and its extras. Layers the workload does not run read 0."""
    k, times, extra = res["pass"], res["times"], res.get("extra", {})
    zero = dict.fromkeys(eventlog.FIELDS, 0.0)

    def g(name: str) -> dict:
        return groups.get(f"p{k}:{name}", zero)

    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.start_s"] = session_s
    for layer in ("sources.graph_build", "sources.extract_links", "prep.orient", "triangles.tc"):
        m[f"{layer}.wall_s"] = times.get(layer, 0.0)
        m[f"{layer}.cpu_s"] = g(layer)["cpu_s"]
    m["sources.graph_build.input_mb"] = g("sources.graph_build")["input_mb"]
    m["sources.graph_build.shuffle_write_mb"] = g("sources.graph_build")["shuffle_write_mb"]
    m["sources.commit.wall_s"] = times.get("sources.commit", 0.0)
    m["prep.orient.shuffle_write_mb"] = g("prep.orient")["shuffle_write_mb"]
    tc = g("triangles.tc")
    m["triangles.tc.task_s"] = tc["run_s"]
    for f in ("shuffle_write_mb", "n_jobs", "n_tasks", "peak_task_mem_mb", "spill_mb"):
        m[f"triangles.tc.{f}"] = tc[f]
    for key in (
        "sources.extract_links.links",
        "sources.commit.write_mb",
        "csr.build_s",
        "csr.kernel_s",
        "csr.probes",
        "csr.bytes.computed",
        "triangles.broadcast_mb.computed",
        "blocking.n_blocks",
        "blocking.task_skew",
    ):
        m[key] = extra.get(key, 0.0)
    if tc["run_s"] > 0:
        m["triangles.boundary_share"] = 1.0 - extra.get("csr.kernel_s", 0.0) / tc["run_s"]
    for op in SUPERSTEP_OPS:
        m[f"supersteps.{op}.checkpoint_mb"] = extra.get(f"supersteps.{op}.checkpoint_mb", 0.0)
        run = res["runs"].get(op)
        if run is None:
            continue
        walls = [it.wall_s for it in run.metrics]
        grp = g(f"supersteps.{op}")
        m[f"supersteps.{op}.wall_s"] = times.get(f"supersteps.{op}", 0.0)
        m[f"supersteps.{op}.rounds"] = run.iterations
        m[f"supersteps.{op}.n_jobs"] = grp["n_jobs"]
        m[f"supersteps.{op}.cpu_s"] = grp["cpu_s"]
        m[f"supersteps.{op}.shuffle_write_mb"] = grp["shuffle_write_mb"]
        m[f"supersteps.{op}.round_wall_s.median"] = statistics.median(walls) if walls else 0.0
        m[f"supersteps.{op}.lazy_rounds"] = sum(
            w < LAZY_ROUND_SHARE * max(walls) for w in walls
        )
    m["pipeline.run_s"] = times.get("pipeline.run", 0.0)
    m["pipeline.resume_s"] = times.get("pipeline.resume", 0.0)
    return m


# ------------------------------------------------------------------ main

def generate_inputs(args, work: Path) -> None:
    cmd = [
        sys.executable,
        str(HERE / "inputs.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--size", args.size,
        "--out", str(work / "data"),
    ]
    subprocess.run(cmd, check=True, timeout=300, stdout=sys.stderr)


def configure_env(args, work: Path, machine: dict, params: dict) -> None:
    """Process-wide settings read by the engine at import or session
    start: everything the run writes stays under `work`."""
    for d in ("tmp", "local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.update(
        {
            "TMPDIR": str(work / "tmp"),
            "SPARK_GRAFT_LOCAL_DIR": str(work / "local"),
            "SPARK_GRAFT_DRIVER_MEM": machine["driver_memory"],
            "SPARK_GRAFT_CPUS": str(machine["cores"]),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    for var, key in (
        ("SPARK_GRAFT_TC_BROADCAST_MAX_MB", "tc_broadcast_mb"),
        ("SPARK_GRAFT_STATE_BROADCAST_MAX_MB", "state_broadcast_mb"),
    ):
        if key in params:
            os.environ[var] = str(params[key])
        else:
            os.environ.pop(var, None)


def _log_pass(res: dict, what: str) -> None:
    spans = " ".join(f"{k}={v:.2f}" for k, v in res["times"].items())
    print(f"[perfbench] pass {res['pass']} {what} e2e={res['e2e_s']:.2f}s {spans}", file=sys.stderr)


def measure(b: Bench, args) -> dict:
    """Set-up, then warm passes until args.seconds have passed: at least
    three, with --trace 1 at least five and every third one traced."""
    t = time.time()
    generate_inputs(args, b.work)
    cal_pre = stamp_mod.cpu_calibration()
    excluded = time.time() - t  # input generation and calibration

    session_s = b.start_session()
    # driver peaks from here on are the program's; before, they are the
    # interpreter's imports and the pre-touched JVM heap
    pid = b.jvm_pid()
    py0, jvm0 = vm_hwm_mb("self"), vm_hwm_mb(pid)
    cold = b.run_pass(traced=False)
    setup_s = time.time() - T_START - excluded
    _log_pass(cold, f"setup {setup_s:.2f}s")

    # JIT and Python-worker warm-up still run through the first warm pass
    # (copurchase on a 4-vCPU VM: 8.2 s, then 6.9, 6.7, 6.1 s): the median
    # of at least three passes discounts it, and one pass stalled by the
    # shared host
    warm = []
    min_passes = 5 if args.trace else 3
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(warm) < min_passes:
        # with --trace 1: untraced, untraced, traced, untraced, untraced, ...
        traced = bool(args.trace) and len(warm) % 3 == 2
        warm.append(b.run_pass(traced=traced))
        _log_pass(warm[-1], "warm")
    py_mb, jvm_mb = vm_hwm_mb("self"), vm_hwm_mb(pid)
    print(f"[perfbench] peak RSS: driver JVM {jvm_mb:.1f} MB, Python {py_mb:.1f} MB", file=sys.stderr)
    groups = {}
    if args.trace:
        b.stop_session()  # flushes the event log
        log = eventlog.find_log(str(b.log_dir), b.app_id)
        if log is None:
            raise RuntimeError(f"no event log for {b.app_id} under {b.log_dir}")
        groups = eventlog.fold(log)
    return {
        "setup_s": setup_s,
        "session_s": session_s,
        "cold": cold,
        "warm": warm,
        "py_growth_mb": py_mb - py0,
        "jvm_growth_mb": jvm_mb - jvm0,
        "groups": groups,
        "cal_pre": cal_pre,
    }


def report(b: Bench, args, samples: dict, exp: Expected, pages_exp: Expected) -> tuple[dict, dict]:
    passes = [samples["cold"], *samples["warm"]]
    attempted = failed = 0
    bad = {}
    for res in passes:
        for op, ok in check_pass(res, exp, pages_exp, b.workload).items():
            attempted += 1
            if not ok:
                failed += 1
                bad[op] = bad.get(op, 0) + 1
    csr_ok = all(
        r["extra"]["csr.triangles"] == exp.scalars["triangles"]
        for r in passes
        if "csr.triangles" in r.get("extra", {})
    )
    untraced = [r for r in samples["warm"] if not r["traced"]]
    table: dict[str, tuple[float, str, dict | None]] = {}
    e2e = [r["e2e_s"] for r in untraced]
    table["e2e_s"] = (statistics.median(e2e), "s", summarize(e2e))
    table["setup_s"] = (samples["setup_s"], "s", None)
    table["driver_py_growth_mb"] = (samples["py_growth_mb"], "MB", None)
    table["driver_jvm_growth_mb"] = (samples["jvm_growth_mb"], "MB", None)
    for name, span_name in PHASES.items():
        vals = [r["times"][span_name] for r in untraced if span_name in r["times"]]
        if vals:
            table[name] = (statistics.median(vals), "s", summarize(vals))
    table["failed_frac"] = (failed / attempted if attempted else 1.0, "ratio", None)

    if args.trace:
        traced = [r for r in samples["warm"] if r["traced"]]
        per_pass = [layer_metrics(r, samples["groups"], samples["session_s"]) for r in traced]
        layers = {k: statistics.median(m[k] for m in per_pass) for k in PER_LAYER}
        # baseline: every untraced warm pass but the first, whose JIT
        # warm-up would count as tracing cost
        baseline = [r["e2e_s"] for r in untraced[1:]]
        layers["trace.overhead_s"] = statistics.median(
            r["e2e_s"] for r in traced
        ) - statistics.median(baseline)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": table[k][0], "unit": u} for k, u in END_TO_END.items()}

    for name, (value, unit, summ) in table.items():
        extra = ""
        if summ:
            extra = "  " + " ".join(
                f"{k}={v:.4f}" if isinstance(v, float) else f"{k}={v}" for k, v in summ.items()
            )
        print(f"{b.workload:>13} {name:<34} {value:>12.4f} {unit:<6}{extra}")
    if args.trace:
        for name, unit in PER_LAYER.items():
            print(f"{b.workload:>13} {name:<34} {metrics[name]['value']:>12.4f} {unit}")
    if bad:
        print(f"[perfbench] wrong or failed answers: {bad}", file=sys.stderr)
    if not csr_ok:
        print("[perfbench] in-process CSR kernel disagrees with the expected count", file=sys.stderr)
    result = {
        "correct": failed == 0 and csr_ok and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, table


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="End-to-end link-graph benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(ANALYTICS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default", choices=sorted(inputs_mod.SIZES))
    ap.add_argument("--out", help="also write the stamped record to this JSON file")
    args = ap.parse_args(argv)

    if not (ROOT / "accelerating_tc_spark" / "session.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    machine = box()
    params = inputs_mod.SIZES[args.size][args.workload]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    configure_env(args, work, machine, params)
    b = Bench(args, work, params, machine)
    try:
        samples = measure(b, args)
        b.shutdown_jvm()
        exp_dir = work / "data" / "expected"
        exp = Expected(exp_dir)
        pages_exp = Expected(exp_dir / "pages") if args.workload == "copurchase" else exp
        result, table = report(b, args, samples, exp, pages_exp)
        import pyspark

        first = samples["cold"]["answers"]
        n_edges = first["tc"][0] if "tc" in first else exp.scalars["n_edges"]
        stamp = stamp_mod.make_stamp(
            workload=args.workload,
            size=args.size,
            seed=args.seed,
            trace=args.trace,
            machine=machine,
            spark_version=pyspark.__version__,
            canonical_edges=n_edges,
            budgets={k: v for k, v in params.items() if k.endswith("_mb")},
            cal_pre=samples["cal_pre"],
            cal_post=stamp_mod.cpu_calibration(),
        )
    finally:
        b.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print("stamp " + json.dumps(stamp, sort_keys=True))
    if args.out:
        stamp_mod.write_record(
            args.out, stamp, result, {k: {"value": v, "unit": u} for k, (v, u, _) in table.items()}
        )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
