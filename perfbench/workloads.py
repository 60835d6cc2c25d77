"""The benchmark's two workloads.

Each workload writes its input from the seed with the engine's own
generators (`sources.synthgraph`, `sources.pages`), then runs its timed
steps as calls into the engine. Every step reads its input from files,
so the engine sees only the generated inputs, and every output is
compared with an oracle from `oracles.py` computed from those files.

Sizes are small because a run, JVM start and a warm-up pass included,
has to stay near a minute on 4 cores; at these sizes the engine's
per-job driver cost dominates every step, so the workloads differ mostly
in which driver loop and which data path they exercise:

- webgraph-spmv: the SpMV loops (gather-scatter joins under
  `iterative_conf`): pagerank, connected components and label
  propagation over one power-law graph;
- crawl-rsb: the Arrow-UDF link extraction, dense ids, URL joins and a
  table write (no iterative loop), one wedge join for triangles, then
  RSB on the ingested graph: grouped Lanczos, rank split and durable
  checkpoints, whose cost is per-iteration planning on the driver.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import oracles

MASK = (1 << 64) - 1


class CheckFailed(Exception):
    pass


def _mix64(x: np.ndarray) -> np.ndarray:
    """Murmur3 fmix64 finalizer over uint64 (wraps mod 2**64)."""
    x = x ^ (x >> np.uint64(33))
    x = x * np.uint64(0xFF51AFD7ED558CCD)
    x = x ^ (x >> np.uint64(33))
    x = x * np.uint64(0xC4CEB9FE1A85EC53)
    return x ^ (x >> np.uint64(33))


def edge_fingerprint(src: np.ndarray, dst: np.ndarray) -> str:
    """Order-independent hash of an edge list: sum of per-row hashes."""
    with np.errstate(over="ignore"):
        h = _mix64(src.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) ^ _mix64(dst.astype(np.uint64)))
        return f"{int(h.sum(dtype=np.uint64)):016x}"


def rows_fingerprint(rows) -> str:
    total = 0
    for r in rows:
        digest = hashlib.blake2b(repr(r).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "big")) & MASK
    return f"{total:016x}"


def frame_digest(pdf) -> str:
    """Digest of a result frame, independent of row order."""
    cols = sorted(pdf.columns)
    return rows_fingerprint(zip(*(pdf[c].tolist() for c in cols)))


def read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path, columns=["src", "dst"])
    return t.column("src").to_numpy().astype(np.int64), t.column("dst").to_numpy().astype(np.int64)


def dir_bytes(path: str) -> int:
    """Bytes of a file, or of the data files under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class Workload:
    """Inputs, timed steps and output checks of one workload."""

    name = ""
    steps: tuple[str, ...] = ()

    def __init__(self, ctx, spec: dict):
        self.ctx = ctx
        self.spec = spec
        self.seed = ctx.seed
        self._oracle: dict = {}

    @property
    def spark(self):
        return self.ctx.spark

    def span(self, name: str):
        return self.ctx.tracer.span(name)

    def generate(self, path: str) -> None:
        raise NotImplementedError

    def fingerprint(self, path: str) -> dict:
        raise NotImplementedError

    def input_rows(self) -> int:
        raise NotImplementedError

    def oracle(self, key: str, fn):
        if key not in self._oracle:
            self._oracle[key] = fn()
        return self._oracle[key]

    def run(self, step: str):
        return getattr(self, "step_" + step)()

    def check(self, step: str, out) -> str:
        """Raise CheckFailed on a wrong output; return the output digest."""
        return getattr(self, "check_" + step)(out)

    def release(self, step: str, out) -> None:
        """Delete the files a step wrote, after its check."""

    def layer_probes(self) -> dict:
        return {}


class GraphWorkload(Workload):
    """Input: a `sources.synthgraph` power-law edge table in parquet."""

    def generate(self, path: str) -> None:
        from parrsb_spark.sources import synthgraph

        with self.span("sources.synthgraph.materialize_parquet"):
            synthgraph.materialize_parquet(path, n=self.spec["n"], m=self.spec["m"], seed=self.seed)
        self.path = path

    def fingerprint(self, path: str) -> dict:
        src, dst = read_edges(path)
        return {"rows": int(len(src)), "hash": edge_fingerprint(src, dst)}

    def edges(self):
        return self.spark.read.parquet(self.path)

    def np_edges(self):
        return self.oracle("edges", lambda: read_edges(self.path))

    def input_rows(self) -> int:
        return len(self.np_edges()[0])


def graph_probes(wl: Workload, path: str) -> dict:
    """One gather-scatter round and one symmetrize over the cached edges
    (noop sink), plus the size of the edge table."""
    from pyspark.sql import functions as F

    from parrsb_spark.functions.spmv import gather_scatter, symmetrize

    spark = wl.spark
    e = spark.read.parquet(path).cache()
    rows = e.count()
    state = (
        e.select(F.col("src").alias("vid")).union(e.select(F.col("dst").alias("vid")))
        .distinct().withColumn("x", F.lit(1.0)).cache()
    )
    verts = state.count()

    def gs():
        with wl.span("functions.gather_scatter"):
            gather_scatter(e, state).write.format("noop").mode("overwrite").save()

    def sym():
        with wl.span("functions.symmetrize"):
            symmetrize(e).write.format("noop").mode("overwrite").save()

    out = {
        "functions.gather_scatter_s": min_time(gs),
        "functions.symmetrize_s": min_time(sym),
        "sources.edge_rows": rows,
        "sources.vertex_rows": verts,
        "sources.bytes_per_edge": dir_bytes(path) / max(rows, 1),
    }
    state.unpersist()
    e.unpersist()
    return out


def min_time(fn, reps: int = 2) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return min(times)


class WebgraphSpmv(GraphWorkload):
    name = "webgraph-spmv"
    steps = ("pagerank", "cc", "labelprop")

    def step_pagerank(self):
        from parrsb_spark.operators.pagerank import pagerank

        with self.span("operators.pagerank"):
            return pagerank(self.edges(), fixed_iters=self.spec["pagerank_iters"]).toPandas()

    def step_cc(self):
        from parrsb_spark.operators.components import connected_components

        with self.span("operators.connected_components"):
            return connected_components(self.edges()).toPandas()

    def step_labelprop(self):
        from parrsb_spark.operators.labelprop import label_propagation

        with self.span("operators.label_propagation"):
            return label_propagation(self.edges(), n_iter=self.spec["labelprop_rounds"]).toPandas()

    def _compare(self, pdf, col: str, vids, ref, exact: bool) -> str:
        pdf = pdf.sort_values("vid")
        got_v = pdf["vid"].to_numpy()
        if len(got_v) != len(vids) or not np.array_equal(got_v, vids):
            raise CheckFailed(f"{col}: vertex set differs ({len(got_v)} rows vs {len(vids)})")
        got = pdf[col].to_numpy()
        ok = np.array_equal(got, ref) if exact else np.allclose(got, ref, rtol=1e-6, atol=1e-12)
        if not ok:
            bad = int((got != ref).sum()) if exact else int((~np.isclose(got, ref, rtol=1e-6, atol=1e-12)).sum())
            raise CheckFailed(f"{col}: {bad} of {len(ref)} values differ from the oracle")
        # float sums may differ in the last bits between runs (shuffle fetch
        # order), so only exact columns enter the digest
        return frame_digest(pdf[["vid", col]] if exact else pdf[["vid"]])

    def layer_probes(self) -> dict:
        from parrsb_spark.operators.pagerank import pagerank

        def setup():
            with self.span("operators.pagerank"):
                pagerank(self.edges(), fixed_iters=0).toPandas()

        return {**graph_probes(self, self.path), "pagerank.setup_s": min_time(setup)}

    def check_pagerank(self, pdf) -> str:
        vids, ref = self.oracle(
            "pr", lambda: oracles.pagerank(*self.np_edges(), iters=self.spec["pagerank_iters"])
        )
        return self._compare(pdf, "pr", vids, ref, exact=False)

    def check_cc(self, pdf) -> str:
        vids, ref = self.oracle("cc", lambda: oracles.components(*self.np_edges()))
        return self._compare(pdf, "comp", vids, ref, exact=True)

    def check_labelprop(self, pdf) -> str:
        vids, ref = self.oracle(
            "lp",
            lambda: oracles.label_propagation(*self.np_edges(), rounds=self.spec["labelprop_rounds"]),
        )
        return self._compare(pdf, "label", vids, ref, exact=True)


def lineage_phases(path: str) -> dict:
    """Phase walls summed over RSB levels, and Lanczos iteration counts,
    from the phase rows `rsb_partition` writes to its LineageLog."""
    t = pq.read_table(path).to_pandas()
    out = {}
    for kernel, g in t.groupby("kernel"):
        if "/" in kernel:
            out[kernel] = {"wall_s": float(g["wall_s"].sum()), "rows": int(g["rows"].fillna(0).sum())}
    return out


class RsbStep:
    """`rsb_partition` with a durable checkpoint dir and a lineage log,
    then the partition-quality stats, over `self.edges()`."""

    def step_rsb(self):
        from parrsb_spark.config import EngineOptions
        from parrsb_spark.operators.rsb import rsb_partition
        from parrsb_spark.operators.stats import edge_cut, partition_sizes
        from parrsb_spark.plans.lineage import LineageLog

        ckpt = self.ctx.fresh_dir("ckpt")
        lineage_dir = self.ctx.fresh_dir("lineage")
        opts = EngineOptions(
            rsb_max_iter=self.spec["rsb_max_iter"],
            rsb_max_passes=1,
            rsb_tol=self.spec["rsb_tol"],
            verbose=0,
        )
        edges = self.edges()
        with self.span("operators.rsb_partition"):
            parts = rsb_partition(
                edges, self.spec["k"], opts=opts, ckpt_dir=ckpt,
                lineage=LineageLog(self.spark, lineage_dir),
            )
            parts_pdf = parts.toPandas()
        with self.span("operators.stats.edge_cut"):
            cut = edge_cut(edges, parts)
        with self.span("operators.stats.partition_sizes"):
            sizes = partition_sizes(parts).toPandas()
        return {"parts": parts_pdf, "cut": cut, "sizes": sizes, "ckpt": ckpt, "lineage": lineage_dir}

    def check_rsb(self, out) -> str:
        k = self.spec["k"]
        src, dst = self.np_edges()
        vids = self.oracle("vids", lambda: np.unique(np.concatenate([src, dst])))
        parts = out["parts"].sort_values("vid")
        got_v, part = parts["vid"].to_numpy(), parts["part"].to_numpy()
        if not np.array_equal(got_v, vids):
            raise CheckFailed("rsb: not every vertex is in exactly one part")
        if part.min() < 0 or part.max() >= k:
            raise CheckFailed(f"rsb: part ids outside [0, {k})")
        sizes = np.bincount(part, minlength=k)
        if sizes.max() - sizes.min() > 1:
            raise CheckFailed(f"rsb: part sizes {sizes.tolist()} not within 1 of each other")
        reported = dict(zip(out["sizes"]["part"].tolist(), out["sizes"]["n"].tolist()))
        if reported != {p: int(n) for p, n in enumerate(sizes) if n}:
            raise CheckFailed("rsb: partition_sizes disagrees with the part map")
        cut = oracles.edge_cut(src, dst, got_v, part)
        if cut != out["cut"]:
            raise CheckFailed(f"rsb: stats.edge_cut {out['cut']} != recomputed {cut}")
        out["cut_frac"] = cut / len(src)
        out["imbalance"] = float(sizes.max() / sizes.mean())
        return frame_digest(parts)

    def release_rsb(self, out) -> None:
        out["ckpt_bytes"] = dir_bytes(os.path.join(out["ckpt"], "state"))
        out["lineage_rows"] = sum(
            pq.read_table(os.path.join(d, "lineage")).num_rows for d in (out["ckpt"], out["lineage"])
        )
        out["phases"] = lineage_phases(os.path.join(out["lineage"], "lineage"))
        shutil.rmtree(out["ckpt"], ignore_errors=True)
        shutil.rmtree(out["lineage"], ignore_errors=True)
        del out["parts"], out["sizes"]


class CrawlRsb(RsbStep, Workload):
    """Input: a `sources.pages.synth_pages` table written to parquet. The
    link graph ingested from it is then partitioned and its triangles
    counted."""

    name = "crawl-rsb"
    steps = ("ingest", "triangles", "rsb")

    def generate(self, path: str) -> None:
        from parrsb_spark.sources import synth_pages

        with self.span("sources.synth_pages"):
            synth_pages(self.spark, self.spec["n"], m=self.spec["m"], seed=self.seed).write.parquet(path)
        self.path = path

    def fingerprint(self, path: str) -> dict:
        t = pq.read_table(path)
        rows = zip(*(t.column(c).to_pylist() for c in ("url", "warc_ts", "html", "text", "lang")))
        return {"rows": t.num_rows, "hash": rows_fingerprint(rows)}

    def pages(self):
        return self.spark.read.parquet(self.path)

    def input_rows(self) -> int:
        return self.spec["n"]

    def oracle_edges(self):
        def build():
            t = pq.read_table(self.path, columns=["url", "html"])
            e = oracles.crawl_edges(t.column("url").to_pylist(), t.column("html").to_pylist())
            return e[:, 0], e[:, 1]

        return self.oracle("edges", build)

    def step_ingest(self):
        from parrsb_spark.sources import edges_from_pages
        from parrsb_spark.sources.io import write_table

        out = self.ctx.fresh_dir("edges")
        with self.span("sources.edges_from_pages"):
            edges, _ = edges_from_pages(self.pages())
        with self.span("sources.io.write_table"):
            write_table(edges, out)
        self.last_edges = out
        return out

    def step_triangles(self):
        from parrsb_spark.operators.triangles import triangle_total
        from parrsb_spark.sources.io import read_table

        with self.span("sources.io.read_table"):
            edges = read_table(self.spark, self.last_edges)
        with self.span("operators.triangle_total"):
            return triangle_total(edges)

    def check_ingest(self, out) -> str:
        src, dst = read_edges(out)
        got = np.stack([src, dst], 1)
        want = np.stack(self.oracle_edges(), 1)
        if len(np.unique(got, axis=0)) != len(got):
            raise CheckFailed("ingest: duplicate edge rows")
        if len(got) != len(want) or not np.array_equal(np.unique(got, axis=0), want):
            raise CheckFailed(f"ingest: {len(got)} edges, oracle has {len(want)} (or different pairs)")
        return edge_fingerprint(src, dst)

    def check_triangles(self, n) -> str:
        want = self.oracle("tri", lambda: oracles.triangles(*self.oracle_edges()))
        if n != want:
            raise CheckFailed(f"triangles: {n} != oracle {want}")
        return str(n)

    def edges(self):
        return self.spark.read.parquet(self.last_edges)

    def np_edges(self):
        return self.oracle_edges()

    def release(self, step: str, out) -> None:
        if step == "rsb":
            self.release_rsb(out)
            shutil.rmtree(self.last_edges, ignore_errors=True)

    def layer_probes(self) -> dict:
        from pyspark.sql import functions as F

        from parrsb_spark.functions.ids import dense_ids
        from parrsb_spark.sources import edges_from_pages
        from parrsb_spark.sources.edges import links_from_pages
        from parrsb_spark.sources.io import write_table

        pages = self.pages()

        def extract():
            with self.span("sources.links_from_pages"):
                links_from_pages(pages).write.format("noop").mode("overwrite").save()

        links = links_from_pages(pages).localCheckpoint(eager=True)
        urls = pages.select("url").union(links.select(F.col("dst_url").alias("url")))

        def ids():
            with self.span("functions.dense_ids"):
                dense_ids(urls, key_col="url", out_col="vid").write.format("noop").mode("overwrite").save()

        out = {"sources.extract_links_s": min_time(extract), "functions.dense_ids_s": min_time(ids)}
        edges = self.ctx.fresh_dir("probe_edges")
        write_table(edges_from_pages(pages)[0], edges)
        out.update(graph_probes(self, edges))
        shutil.rmtree(edges, ignore_errors=True)
        return out


WORKLOADS = {w.name: w for w in (WebgraphSpmv, CrawlRsb)}
