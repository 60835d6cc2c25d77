"""Lineage + checkpoint/resume protocol.

North-rule requirement: intermediate vertex-state is checkpointed with
per-partition lineage rows (partition id, iteration, residual, row
counts) so any run resumes mid-iteration. The reference's analogue is
its per-level metric stack (ref /root/reference/src/metrics.c:10-48)
and the partition-geometry lineage sink
(ref /root/reference/src/statistics.c:127-222).

Storage layout (parquet; Iceberg would add atomic commits — the jars
are not in this container, so the writer is format-pluggable):

    <dir>/lineage/           append-only metric rows
    <dir>/state/iter=<k>/    full vertex-state snapshot at iteration k

The snapshot write and its lineage row are ordered write-state-then-log,
so `latest_checkpoint` only trusts iterations whose lineage row exists —
a crash between the two leaves a resumable previous iteration.

FIXTURES.md §5 schema:
    run_id, kernel, partition_id, iteration, residual, rows, wall_s

Phase rows (the metric_rsb_print analogue, ref
/root/reference/src/metrics.c:68-106) reuse the same schema with
kernel = "<kernel>/<phase>" and wall_s = the phase DURATION (not the
run offset ordinary rows carry); `iteration` is the RSB level. They are
buffered driver-side and flushed, together with the cut's per-group size
rows, as ONE parquet append per cut — a write job per phase row would
itself distort the timings it records.

Every append is one parquet file built from a JVM-local frame
(`session.local_frame`): no Python worker runs behind a lineage write.
"""

from __future__ import annotations

import contextlib
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parrsb_spark.session import local_frame

LINEAGE_SCHEMA = (
    "run_id string, kernel string, partition_id int, iteration int, "
    "residual double, rows bigint, wall_s double"
)


class LineageLog:
    def __init__(self, spark: SparkSession, base_dir: str, run_id: str | None = None):
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self._t0 = time.monotonic()
        self._phase_buf: list[tuple] = []

    @property
    def lineage_path(self) -> str:
        return f"{self.base_dir}/lineage"

    def record(
        self,
        kernel: str,
        iteration: int,
        partition_id: int = 0,
        residual: float | None = None,
        rows: int | None = None,
    ) -> None:
        self.record_many([(kernel, iteration, partition_id, residual, rows)])

    def record_many(
        self, entries: list[tuple[str, int, int, float | None, int | None]]
    ) -> None:
        """Append a BATCH of (kernel, iteration, partition_id, residual,
        rows) entries as ONE write job / one parquet file. Per-group and
        per-partition lineage must go through here, not a `record` loop:
        one write job per row is a driver round-trip and a small-file per
        row — at k=1024 the last RSB cut has 512 groups, i.e. 512
        sequential jobs and 512 files per cut the batch form collapses
        to one. Durability ordering (write-state-then-log) is preserved:
        the whole batch lands atomically after the state it describes."""
        self._append(self._entry_rows(entries))

    def _entry_rows(self, entries) -> list[tuple]:
        t = time.monotonic() - self._t0
        return [
            (
                self.run_id,
                kernel,
                int(partition_id),
                int(iteration),
                float(residual) if residual is not None else None,
                int(nrows) if nrows is not None else None,
                t,
            )
            for kernel, iteration, partition_id, residual, nrows in entries
        ]

    def _append(self, rows: list[tuple]) -> None:
        if rows:
            local_frame(self.spark, rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self.lineage_path)

    @contextlib.contextmanager
    def phase(self, kernel: str, name: str, iteration: int = 0):
        """Time a driver-side phase and buffer one row (kernel/<name>,
        wall_s = duration). Laziness caveat: a phase is charged the jobs
        that MATERIALIZE inside it — a transformation built here but
        collected later is billed to the later phase, exactly like the
        reference's metric_tic/toc around comm-synchronized regions
        (ref /root/reference/src/metrics.c:27-48)."""
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.phase_mark(kernel, name, iteration, time.monotonic() - t0)

    def phase_mark(
        self,
        kernel: str,
        name: str,
        iteration: int,
        wall_s: float = 0.0,
        rows: int | None = None,
    ) -> None:
        """Buffer a phase row directly — for counter metrics like the
        reference's RSB_FIEDLER_CALC_NITER (rows = the count)."""
        self._phase_buf.append(
            (
                self.run_id,
                f"{kernel}/{name}",
                0,
                int(iteration),
                None,
                int(rows) if rows is not None else None,
                float(wall_s),
            )
        )

    def flush_phases(self, entries=()) -> None:
        """ONE append job for the `record_many`-style `entries` (written
        first, stamped now) and every buffered phase row."""
        rows = self._entry_rows(entries) + self._phase_buf
        self._phase_buf = []
        self._append(rows)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path)


def phase_report(lin: DataFrame, kernel: str = "rsb") -> DataFrame:
    """Per-(level, phase) wall-time table from phase rows: columns
    (iteration, phase, min_s, avg_s, max_s, n). min/avg/max aggregate
    across runs sharing the lineage dir (the reference aggregates across
    MPI ranks, ref metrics.c:50-58 comm_allreduce min/sum/max; a grouped
    Spark cut is one driver wall, so the spread shows only with repeated
    runs — n carries how many)."""
    return (
        lin.filter(F.col("kernel").startswith(kernel + "/"))
        .withColumn("phase", F.expr(f"substring(kernel, {len(kernel) + 2})"))
        .groupBy("iteration", "phase")
        .agg(
            F.min("wall_s").alias("min_s"),
            F.avg("wall_s").alias("avg_s"),
            F.max("wall_s").alias("max_s"),
            F.count("*").alias("n"),
            F.avg("rows").alias("count_avg"),
        )
        .orderBy("iteration", "phase")
    )


# display order + indent mirroring metric_rsb_print's tree
# (ref /root/reference/src/metrics.c:68-106)
_PHASE_TREE = [
    ("pre", 1),
    ("fiedler", 1),
    ("fiedler_setup", 2),
    ("lanczos", 3),
    ("tqli", 3),
    ("niter", 2),
    ("sort", 1),
    ("components", 1),
    ("balance", 1),
    ("checkpoint", 1),
]


def format_phase_report(lin: DataFrame, kernel: str = "rsb") -> str:
    """The parrsb profile printout (`metric_rsb_print`): one block per
    level, phases in tree order, min/avg/max seconds."""
    rows = phase_report(lin, kernel).collect()
    by_level: dict[int, dict[str, tuple]] = {}
    for r in rows:
        by_level.setdefault(int(r["iteration"]), {})[r["phase"]] = (
            r["min_s"], r["avg_s"], r["max_s"], r["count_avg"],
        )
    order = {p: i for i, (p, _) in enumerate(_PHASE_TREE)}
    indent = dict(_PHASE_TREE)
    out = []
    for lvl in sorted(by_level):
        out.append(f"level={lvl:02d}")
        phases = by_level[lvl]
        for p in sorted(phases, key=lambda x: order.get(x, 99)):
            mn, av, mx, cnt = phases[p]
            pad = "  " * indent.get(p, 1)
            if p == "niter":
                # counter metric (RSB_FIEDLER_CALC_NITER): a count, not a wall
                out.append(f"{pad}{p.upper():<24}: {cnt:e}")
            else:
                out.append(f"{pad}{p.upper():<24}: {mn:e}/{av:e}/{mx:e}")
    return "\n".join(out)


def checkpoint_state(
    state: DataFrame, log: LineageLog, kernel: str, iteration: int, residual: float | None = None
) -> DataFrame:
    """Durably snapshot the vertex-state DF and log per-partition lineage
    rows. Returns the re-read state (lineage truncated to the files)."""
    path = f"{log.base_dir}/state/{kernel}/iter={iteration}"
    state.write.mode("overwrite").parquet(path)
    reread = log.spark.read.parquet(path)
    per_part = reread.withColumn("_pid", F.spark_partition_id()).groupBy("_pid").count().collect()
    log.record_many(
        [(kernel, iteration, r["_pid"], residual, r["count"]) for r in per_part]
    )
    return reread


def latest_checkpoint(
    spark: SparkSession, base_dir: str, kernel: str
) -> tuple[int, DataFrame] | None:
    """(iteration, state) of the newest snapshot that has lineage rows, or
    None. The resume entry point: kernels continue from iteration+1.

    A lineage dir that does not exist or holds no committed file (names
    starting with `_` or `.` are Spark's own bookkeeping) means no
    checkpoint; one that exists but cannot be read raises rather than
    silently restarting the run from iteration 0."""
    base_dir = base_dir.rstrip("/")
    jpath = spark._jvm.org.apache.hadoop.fs.Path(f"{base_dir}/lineage")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath) or not any(
        not st.getPath().getName().startswith(("_", ".")) for st in fs.listStatus(jpath)
    ):
        return None
    lin = spark.read.parquet(f"{base_dir}/lineage")
    rows = (
        lin.filter(F.col("kernel") == kernel)
        .agg(F.max("iteration").alias("m"))
        .collect()
    )
    if not rows or rows[0]["m"] is None:
        return None
    it = int(rows[0]["m"])
    state = spark.read.parquet(f"{base_dir}/state/{kernel}/iter={it}")
    return it, state


def pagerank_resumable(
    spark: SparkSession,
    edges: DataFrame,
    ckpt_dir: str,
    total_iters: int,
    damping: float = 0.85,
    snapshot_every: int = 2,
) -> DataFrame:
    """PageRank with durable checkpoint/resume: picks up mid-run from the
    newest snapshot; an interrupted run then a resumed run produce exactly
    the uninterrupted result (tested in tests/test_lineage.py)."""
    from parrsb_spark.sources.edges import vertices_from_edges

    log = LineageLog(spark, ckpt_dir)
    e = edges.select("src", "dst").cache()
    verts = vertices_from_edges(e)
    outdeg = e.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("outdeg"))
    state0 = verts.join(outdeg, "vid", "left").select(
        "vid", F.coalesce("outdeg", F.lit(0)).alias("outdeg")
    )
    n = state0.count()
    resume = latest_checkpoint(spark, ckpt_dir, "pagerank")
    if resume is not None:
        start_iter, ranks = resume
        start_iter += 1
    else:
        start_iter = 0
        ranks = state0.withColumn("pr", F.lit(1.0 / n))
    for it in range(start_iter, total_iters):
        # dangling mass stays cluster-side as a broadcast 1-row aggregate
        # (same pattern as operators/pagerank.py — no driver collect per
        # iteration, so non-snapshot iterations chain lazily into the
        # snapshot job)
        dang = F.broadcast(
            ranks.agg(
                F.coalesce(
                    F.sum(F.when(F.col("outdeg") == 0, F.col("pr"))), F.lit(0.0)
                ).alias("_dang")
            )
        )
        contribs = (
            e.join(
                ranks.filter(F.col("outdeg") > 0).select(
                    F.col("vid").alias("src"), (F.col("pr") / F.col("outdeg")).alias("c")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("c").alias("g"))
        )
        ranks = (
            ranks.join(contribs, "vid", "left")
            .crossJoin(dang)
            .select(
                "vid",
                "outdeg",
                (
                    (F.lit(1.0 - damping) + F.lit(damping) * F.col("_dang")) / F.lit(float(n))
                    + F.lit(damping) * F.coalesce("g", F.lit(0.0))
                ).alias("pr"),
            )
        )
        if (it + 1) % snapshot_every == 0 or it == total_iters - 1:
            ranks = checkpoint_state(ranks, log, "pagerank", it)
        else:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("vid", "pr")
