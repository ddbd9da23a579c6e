"""Seeded benchmark inputs and their expected answers, built without Spark.

Run as a subprocess of ``perfbench/run.py`` before the measured process
starts its Spark session, so input generation neither warms the JVM nor
counts toward set-up time, and DuckDB's memory never shows in the driver's
peak RSS. Every expected answer comes from a route independent of the
engine's operators: edge and triangle counts from DuckDB SQL, and the
vertex vectors from numpy: a min-label fixpoint for connected components,
and PageRank and label propagation by the rules of the repo's
``*_oracle_sql`` queries (perfbench/test_smoke.py checks that they agree).

    python3 perfbench/inputs.py --workload zipf --seed 7 --size default --out DIR

writes the input parquet under DIR/input and the expected answers under
DIR/expected (``expected.json`` plus one parquet per vertex vector). The
copurchase workload also writes a small page corpus, with its expected
answers under DIR/expected/pages.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent

# Workload sizes. "default" is what the benchmark measures; "tiny" is the
# smoke-test scale (perfbench/test_smoke.py).
SIZES: dict[str, dict[str, dict]] = {
    "default": {
        # "pages": the page corpus that the traced passes' write path
        # (link extraction, composed pipeline) runs over
        "copurchase": {
            "sf": 0.01,
            "pr_iterations": 10,
            "lp_iterations": 5,
            "pages": {"n_sites": 20, "pages_per_site": 5, "pr_iterations": 3},
        },
        # both broadcast budgets scaled below the graph (16|E| and 32|E|
        # bytes), as 64 MiB sits below a 6M-edge graph
        "zipf": {
            "n_vertices": 20_000,
            "n_edges": 200_000,
            "s": 0.5,
            "tc_broadcast_mb": 2,
            "state_broadcast_mb": 2,
        },
        "web_pipeline": {"n_sites": 600, "pages_per_site": 10, "pr_iterations": 10},
    },
    "tiny": {
        "copurchase": {
            "sf": 0.001,
            "pr_iterations": 3,
            "lp_iterations": 2,
            "pages": {"n_sites": 10, "pages_per_site": 5, "pr_iterations": 2},
        },
        # 0 turns both broadcast routes off: no budget sits below 20k edges
        "zipf": {
            "n_vertices": 2_000,
            "n_edges": 20_000,
            "s": 0.5,
            "tc_broadcast_mb": 0,
            "state_broadcast_mb": 0,
        },
        "web_pipeline": {"n_sites": 100, "pages_per_site": 10, "pr_iterations": 3},
    },
}


def _duck(tmp_dir: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def triangle_count_sql(edges: str) -> str:
    """Triangles of the undirected simple graph in table `edges(src, dst)`
    (src < dst, distinct), degree-oriented so the wedge join stays small."""
    return f"""
WITH deg AS (
  SELECT v, COUNT(*) AS d FROM (
    SELECT src AS v FROM {edges} UNION ALL SELECT dst AS v FROM {edges}
  ) GROUP BY v
), o AS (
  SELECT CASE WHEN (ds.d, e.src) < (dd.d, e.dst) THEN e.src ELSE e.dst END AS a,
         CASE WHEN (ds.d, e.src) < (dd.d, e.dst) THEN e.dst ELSE e.src END AS b
  FROM {edges} e JOIN deg ds ON ds.v = e.src JOIN deg dd ON dd.v = e.dst
)
SELECT COUNT(*) FROM o x JOIN o y ON x.b = y.a JOIN o z ON z.a = x.a AND z.b = y.b
"""


def components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(vertex, component = min vertex id of its component), by min-label
    propagation with pointer jumping over dense indices."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src) :]
    lab = np.arange(len(verts))
    while True:
        new = lab.copy()
        np.minimum.at(new, s, lab[d])
        np.minimum.at(new, d, lab[s])
        new = new[new]
        if np.array_equal(new, lab):
            return verts, verts[lab]
        lab = new


def _dense_sym(src: np.ndarray, dst: np.ndarray):
    """Sorted vertex ids and both directions of every edge as dense indices."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src) :]
    return verts, np.concatenate([s, d]), np.concatenate([d, s])


def pagerank(src: np.ndarray, dst: np.ndarray, n_iterations: int, damping: float = 0.85):
    """(vertex, rank): the unrolled rule of pagerank.pagerank_oracle_sql."""
    verts, a, b = _dense_sym(src, dst)
    n = len(verts)
    out_deg = np.bincount(a, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(n_iterations):
        rank = (1.0 - damping) / n + damping * np.bincount(
            b, weights=rank[a] / out_deg[a], minlength=n
        )
    return verts, rank


def label_propagation(src: np.ndarray, dst: np.ndarray, n_iterations: int):
    """(vertex, label): each round takes the most frequent neighbor label,
    ties to the smallest (labelprop.label_propagation_oracle_sql)."""
    verts, a, b = _dense_sym(src, dst)
    label = verts.copy()
    for _ in range(n_iterations):
        nbr = label[a]
        order = np.lexsort((nbr, b))
        bb, ll = b[order], nbr[order]
        starts = np.flatnonzero(np.r_[True, (bb[1:] != bb[:-1]) | (ll[1:] != ll[:-1])])
        counts = np.diff(np.r_[starts, len(bb)])
        gv, gl = bb[starts], ll[starts]
        best = np.lexsort((gl, -counts, gv))
        first = np.r_[True, gv[best][1:] != gv[best][:-1]]
        label = label.copy()
        label[gv[best][first]] = gl[best][first]
    return verts, label


def _write_vector(path: Path, vertex: np.ndarray, name: str, values: np.ndarray) -> None:
    pq.write_table(pa.table({"vertex": vertex, name: values}), path)


def _graph_answers(con, edges: str, out: Path, sizes: dict, analytics: tuple[str, ...]) -> dict:
    """Expected answers over the canonical edge table `edges` in `con`:
    triangles by SQL, the vertex vectors by numpy."""
    exp: dict = {"n_edges": con.execute(f"SELECT COUNT(*) FROM {edges}").fetchone()[0]}
    exp["triangles"] = con.execute(triangle_count_sql(edges)).fetchone()[0]
    arr = con.execute(f"SELECT src, dst FROM {edges}").fetchnumpy()
    src, dst = arr["src"].astype(np.int64), arr["dst"].astype(np.int64)
    vertex, comp = components(src, dst)
    _write_vector(out / "cc.parquet", vertex, "component", comp)
    exp["n_components"] = int(len(np.unique(comp)))
    if "pagerank" in analytics:
        vertex, rank = pagerank(src, dst, sizes["pr_iterations"])
        _write_vector(out / "pagerank.parquet", vertex, "rank", rank)
    if "lp" in analytics:
        vertex, label = label_propagation(src, dst, sizes["lp_iterations"])
        _write_vector(out / "lp.parquet", vertex, "label", label)
    return exp


def make_copurchase(seed: int, sizes: dict, inp: Path, out: Path, tmp: Path) -> dict:
    """TPC-H lineitem from DuckDB's dbgen with part keys relabeled by a
    seeded bijection: the co-purchase graph is the same up to relabeling."""
    from accelerating_tc_spark.sources import tpch_graph

    con = _duck(tmp)
    con.execute(f"CALL dbgen(sf={sizes['sf']})")
    n_parts = con.execute("SELECT COUNT(*) FROM part").fetchone()[0]
    perm = np.random.default_rng(seed).permutation(n_parts).astype(np.int64) + 1
    relabel = pd.DataFrame({"old": np.arange(1, n_parts + 1, dtype=np.int64), "new": perm})
    con.register("relabel", relabel)
    path = inp / "lineitem.parquet"
    con.execute(
        f"""COPY (
          SELECT li.* REPLACE (r.new AS l_partkey)
          FROM lineitem li JOIN relabel r ON li.l_partkey = r.old
          ORDER BY li.l_orderkey, li.l_linenumber
        ) TO '{path}' (FORMAT parquet)"""
    )
    # the triangle count must not depend on the seed: it is also taken
    # from the un-relabeled graph
    con.execute(f"CREATE TABLE base_edges AS {tpch_graph.COPURCHASE_EDGES_SQL}")
    base_tri = con.execute(triangle_count_sql("base_edges")).fetchone()[0]
    con.execute("DROP TABLE lineitem")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    con.execute(f"CREATE TABLE graph AS {tpch_graph.COPURCHASE_EDGES_SQL}")
    exp = _graph_answers(con, "graph", out, sizes, ("pagerank", "lp"))
    exp["triangles_unrelabeled"] = base_tri
    con.close()
    pages_out = out / "pages"
    pages_out.mkdir(exist_ok=True)
    _write_expected(pages_out, make_web(seed, sizes["pages"], inp, pages_out, tmp))
    return exp


def zipf_pairs(seed: int, n_vertices: int, n_edges: int, s: float) -> np.ndarray:
    """Raw Zipf(s) endpoint pairs (loops and duplicates kept on purpose),
    the inverse-CDF rule of sources.synthetic.zipf_edges_distributed drawn
    from numpy's seeded generator."""
    rng = np.random.default_rng(seed)
    u = rng.random((n_edges, 2))
    p = 1.0 - s
    scale = (n_vertices + 1) ** p - 1.0
    return np.floor((u * scale + 1.0) ** (1.0 / p) - 1.0).astype(np.int64)


def make_zipf(seed: int, sizes: dict, inp: Path, out: Path, tmp: Path) -> dict:
    pairs = zipf_pairs(seed, sizes["n_vertices"], sizes["n_edges"], sizes["s"])
    raw = pa.table({"src": pairs[:, 0], "dst": pairs[:, 1]})
    pq.write_table(raw, inp / "edges.parquet")
    con = _duck(tmp)
    con.register("raw", raw)
    con.execute(
        "CREATE TABLE graph AS SELECT DISTINCT LEAST(src, dst) AS src, "
        "GREATEST(src, dst) AS dst FROM raw WHERE src <> dst"
    )
    exp = _graph_answers(con, "graph", out, sizes, ())
    con.close()
    return exp


def site_labels(seed: int, n_sites: int) -> np.ndarray:
    return np.random.default_rng(seed).permutation(n_sites)


def page_links(n_sites: int, pages_per_site: int, labels: np.ndarray):
    """(url, html, [linked urls]) per page: the link structure of
    sources.pages.generate_pages_distributed (ring next-link twice, site
    root, cross-site root, fragment, bare-relative self link, '../' link on
    ~30% of pages), with site s printed as site<labels[s]>."""
    for s in range(n_sites):
        host = f"http://site{labels[s]}.example"
        cross = f"http://site{labels[(s + 1) % n_sites]}.example/p0"
        for p in range(pages_per_site):
            nxt = (p + 1) % pages_per_site
            rel = (s * 7 + p * 3) % pages_per_site
            has_rel = (s * 31 + p) % 10 < 3
            html = (
                f"<html><head><title>Site {labels[s]} page {p}</title>"
                f"<script>var x = {p};</script></head><body>"
                f"<h1>Page {p} of site {labels[s]}</h1>"
                f'<a href="/p{nxt}">next</a><a href="/p{nxt}">next again</a>'
                f'<a href="/p0">root</a><a href="{cross}">cross</a>'
                f'<a href="#frag">frag</a><a href="p{p}">self</a>'
                + (f'<a href="../p{rel}">rand</a>' if has_rel else "")
                + f"<p>Lorem ipsum &amp; dolor {labels[s]}-{p}.</p></body></html>"
            )
            targets = [f"{host}/p{nxt}", f"{host}/p0", cross]
            if has_rel:
                targets.append(f"{host}/p{rel}")
            yield f"{host}/p{p}", html, targets


def web_edges(n_sites: int, pages_per_site: int, labels: np.ndarray) -> pd.DataFrame:
    """Canonical dense-id edges the pipeline must derive: ids are the rank
    of each url in sorted order, self links dropped, undirected, distinct."""
    pairs = [(u, t) for u, _, ts in page_links(n_sites, pages_per_site, labels) for t in ts if t != u]
    urls = sorted({u for pair in pairs for u in pair})
    ids = {u: i for i, u in enumerate(urls)}
    a = np.array([ids[u] for u, _ in pairs], dtype=np.int64)
    b = np.array([ids[t] for _, t in pairs], dtype=np.int64)
    e = pd.DataFrame({"src": np.minimum(a, b), "dst": np.maximum(a, b)})
    return e.drop_duplicates().reset_index(drop=True)


def make_web(seed: int, sizes: dict, inp: Path, out: Path, tmp: Path) -> dict:
    n_sites, per_site = sizes["n_sites"], sizes["pages_per_site"]
    labels = site_labels(seed, n_sites)
    rows = list(page_links(n_sites, per_site, labels))
    pages = pa.table(
        {
            "url": [u for u, _, _ in rows],
            "warc_ts": pa.array(
                [pd.Timestamp("2026-01-01")] * len(rows), type=pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array([h.encode() for _, h, _ in rows], type=pa.binary()),
            "text": pa.nulls(len(rows), type=pa.string()),
            "lang": ["en"] * len(rows),
        }
    )
    pq.write_table(pages, inp / "pages.parquet", row_group_size=max(1, len(rows) // 8))
    con = _duck(tmp)
    con.register("edges_df", web_edges(n_sites, per_site, labels))
    con.execute("CREATE TABLE graph AS SELECT * FROM edges_df")
    exp = _graph_answers(con, "graph", out, sizes, ("pagerank",))
    # the base (identity-labeled) corpus gives the seed-independent counts
    con.register("base_df", web_edges(n_sites, per_site, np.arange(n_sites)))
    exp["triangles_unrelabeled"] = con.execute(triangle_count_sql("base_df")).fetchone()[0]
    con.close()
    return exp


def _write_expected(exp_dir: Path, exp: dict) -> None:
    with open(exp_dir / "expected.json", "w") as fh:
        json.dump({k: int(v) for k, v in exp.items()}, fh)


MAKERS = {"copurchase": make_copurchase, "zipf": make_zipf, "web_pipeline": make_web}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(MAKERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="default", choices=sorted(SIZES))
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, str(ROOT))
    out = Path(args.out)
    inp, exp_dir, tmp = out / "input", out / "expected", out / "duck_tmp"
    for d in (inp, exp_dir, tmp):
        d.mkdir(parents=True, exist_ok=True)
    exp = MAKERS[args.workload](args.seed, SIZES[args.size][args.workload], inp, exp_dir, tmp)
    _write_expected(exp_dir, exp)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
