"""SparkSession factory tuned for iterative link-graph workloads.

Design notes for scale (the 1000-executor / 100 TB target):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting is
  what replaces the reference's hand-rolled histogram/hypercube range
  partitioning (ref /root/reference/src/sort-bin.c, src/sort-hypercube.c).
- Arrow on: every Python-side kernel is an Arrow-batched pandas UDF; no
  row-at-a-time Python anywhere.
- UTC session TZ pinned so results compare bit-stably against the
  DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """48g, capped at half the machine's physical memory: in local mode
    the driver heap holds every executor's data, and a heap sized past
    the machine grows until the OS kills the JVM instead of collecting
    (measured: a 48g heap on a 15 GB box was OOM-killed at 15.6 GB)."""
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{max(1, min(48, phys_gb // 2))}g"


def get_spark(
    master: str | None = None,
    app_name: str = "parrsb_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        # local[N] → N-ish shuffle partitions; a real cluster would use
        # 2-3× total cores and let AQE coalesce.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(4, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # iterative kernels localCheckpoint every burst; the superseded
        # RDD blocks are only dropped after a DRIVER JVM GC notices the
        # dead references (ContextCleaner is weak-ref driven), and with a
        # large driver heap that can take tens of minutes — meanwhile the
        # block manager carries dead iteration state. Default periodicGC
        # is 30min; round 5 ran 2min to keep long Lanczos/PageRank
        # drives from accumulating stale blocks. Round 6 re-measured: on
        # the 48g local heap each periodic System.gc() is a full STW
        # collection, and at a 2min cadence it fired INSIDE the later
        # bench kernels (minhash 49.7 → 34.7s, rsb_k4 29.1 → 26.9s with
        # the cadence moved out of the way). 10min still bounds stale-
        # block accumulation on multi-hour drives while a full bench
        # pass fits inside one interval.
        .config("spark.cleaner.periodicGC.interval", "10min")
        # Spark's generated-class cache (CodeGenerator.cache) defaults to
        # 100 entries — ONE fiedler solve plans ~114 distinct codegen
        # units, so every Lanczos/CG iteration evicts the previous
        # iteration's classes and re-runs sequential Janino compiles on
        # the driver, forever. Measured (BASELINE.md "Round-4 deep-k RSB",
        # item 5; sf0.1, identical second solve in a warm JVM): cache=100 →
        # 87-109 recompiles; cache=8192 → **0** recompiles. The compile
        # COUNT is the deterministic, reproducible signal; the wall win
        # is real but modest on the bench box and partially masked by
        # its documented JVM noise (fresh-JVM min-to-min A/B, 3× each:
        # 62.0s → 50.6s; one warm-JVM pair measured 111.5s → 26.5s, a
        # later identical pair 29.4s vs 67.9s — spreads exceed the
        # delta). The generated sources are iteration-invariant on BOTH
        # group-scalar paths (literal doubles compile by value into
        # cached classes keyed on source text — same BASELINE.md
        # section), so a big-enough cache turns
        # every iteration after the first into pure execution and, on a
        # shared driver, stops the per-iteration compile stalls that
        # serialize job submission. Entries hold source + compiled class
        # (~10-100 KB); 4096 ≈ ≤400 MB on a 48g driver, paid once
        # per JVM.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


from contextlib import contextmanager


def loop_partitions(n_rows: int, n_shuffle: int, rows_per_task: int | None = None) -> int:
    """Scale-adaptive parallelism for a driver-loop kernel (guide §2.2):
    enough partitions that every task carries ~`rows_per_task` edge
    rows, CAPPED at the session's configured shuffle parallelism.

    On a cluster-sized input the cap wins and this is exactly the
    session conf (no behavior change at scale); on a small input it
    stops a 25-iteration loop from paying 3 stages × n_shuffle tasks of
    scheduling latency per iteration for sub-millisecond tasks —
    measured at sf0.1 (587k edges, local[32]): fiedler 24.4 → 10.9s,
    pagerank 6.3 → 2.5s warm when the loop runs at 8 partitions
    instead of 32. The AQE partition-coalescing that would normally do
    this is deliberately OFF inside iterative loops (see
    iterative_conf), so loops size their exchanges explicitly from the
    row count their setup already collects (functions/loop.py)."""
    if rows_per_task is None:
        from parrsb_spark.config import default_options

        rows_per_task = default_options().loop_rows_per_task
    want = (int(n_rows) + rows_per_task - 1) // rows_per_task
    return max(1, min(int(n_shuffle), want))


@contextmanager
def iterative_conf(
    spark: SparkSession,
    disable_aqe: bool = False,
    no_auto_broadcast: bool = False,
    shuffle_partitions: int | None = None,
):
    """Tune the session for a driver-loop iterative kernel.

    AQE's post-shuffle partition coalescing targets bytes-per-partition,
    which for the small-but-latency-critical per-iteration shuffles of
    PageRank/CC/Lanczos collapses task counts below the core count and
    idles executors (measured 2x slowdown at 8 executors on a 16M-edge
    graph). Inside iterative loops we keep AQE (skew-join splitting is
    still valuable) but disable coalescing; restored on exit.

    `disable_aqe=True` turns AQE off ENTIRELY inside the loop. AQE's
    runtime re-planning costs extra scheduler jobs per materialized
    stage — measured on the 587k-edge bench graph: a 25-iteration
    Lanczos solve is 278 Spark jobs with AQE vs 97 without, 61s vs 36s
    best-of-3, and far lower variance. The only AQE feature an
    iterative kernel's plans can use is skew-join splitting (joins are
    pre-hash-partitioned, broadcasts are explicit), so callers gate this
    on measured degree skew (functions/loop.py). Restored on exit.

    Constraint propagation is also disabled: Catalyst's constraint
    inference is super-linear in chained join/alias depth, and per-
    iteration localCheckpoint plans re-derive constraints every loop —
    measured as a DRIVER-side hang (>20 min at 100% on one core in
    LogicalRDD.rewriteStatsAndConstraints) for the CSR-SpMV Lanczos at
    sf0.1. Constraints only power optimizations (extra filters/join
    pruning) that per-iteration kernel plans don't need.
    """
    keys = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
    }
    if disable_aqe:
        keys["spark.sql.adaptive.enabled"] = "false"
    if shuffle_partitions is not None:
        # loop exchanges sized from the DATA (see loop_partitions), not
        # the session constant; restored on exit like every other key
        keys["spark.sql.shuffle.partitions"] = str(int(shuffle_partitions))
    if no_auto_broadcast:
        # SpMV-loop kernels opt in (pagerank/CC/fiedler — measured):
        # their per-iteration join pairs a CACHED edge table (accurate
        # size stats) with a checkpointed state (unknown stats), so
        # below the threshold the planner broadcasts the EDGE SIDE and
        # rebuilds that broadcast EVERY iteration — a driver collect +
        # hash-relation build per iteration for a loop-invariant table
        # (broadcast-exchange reuse does not span queries). The
        # co-partitioned sort-merge join the kernels lay out (edges
        # hash-partitioned+sorted on the join key once, at cache time)
        # is both the 100 TB plan and the faster local plan (measured:
        # fiedler 25.5 → 21.8s, pagerank 7.2 → 6.1s, CC 5.6 → 4.6s warm
        # at sf0.1). Explicit F.broadcast() hints (dangling mass, group
        # scalars, split maps) are unaffected by the threshold.
        keys["spark.sql.autoBroadcastJoinThreshold"] = "-1"
    # capture the EFFECTIVE value (conf.get with a fallback returns the
    # fallback whenever the key is merely unset — restoring a "true"
    # fallback into a bytes-typed conf like autoBroadcastJoinThreshold
    # poisons the session; caught by tools/run_submit_smoke.sh)
    old: dict[str, str | None] = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    for k, v in keys.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def hard_truncate(df, eager: bool = True):
    """Materialize AND fully sever a DataFrame's logical plan.

    `localCheckpoint` keeps the original plan's STATISTICS on the new
    LogicalRDD, and Catalyst's size-in-bytes estimate for a join is the
    PRODUCT of its children's sizes. A driver loop that checkpoints a
    plan where the state DF appears on BOTH sides of a join therefore
    SQUARES the carried sizeInBytes every iteration — the BigInt's digit
    count doubles, and after ~18 iterations each checkpoint spends its
    time in BigInteger.multiply (measured: geometric stage-submit
    latency; plans with one state branch only grow digits linearly and
    stay flat for any realistic iteration count).

    Rebuilding the DataFrame from the checkpointed InternalRow RDD drops
    originStats/originConstraints and resets sizeInBytes to the session
    default. Trade-off: output-partitioning metadata is lost (callers
    pay one re-shuffle next use), so reach for this only in loops whose
    plans square the state (both-sides joins, pandas cogroups).

    Implementation note: the fast path uses classic-mode PySpark
    internals (`_jdf.localCheckpoint` / `internalCreateDataFrame`),
    which do not exist under Spark Connect and may shift across minor
    PySpark versions. The guard is NARROW (ImportError/AttributeError —
    the two ways the internals can be absent) so a genuine classic-path
    failure surfaces instead of silently demoting to the fallback; the
    fallback itself is the plain eager localCheckpoint (Connect-safe —
    `.rdd` is also unavailable there), which truncates the plan but
    keeps origin stats: loops that square the state should cap their
    iteration count under Connect (none of the built-in kernels hit
    this — Connect is not a supported deployment of the hot loops,
    just a don't-crash path).

    `eager=False` defers materialization to the FIRST consumer's action
    (the checkpoint-marked RDD is created immediately, so every consumer
    still reads the same physical blocks — the determinism guarantee is
    identical); callers whose next step is itself an action (grouped_rank:
    the offsets broadcast build) use it to fold the materialization job
    into work they already pay for."""
    spark = df.sparkSession
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        jdf = df._jdf.localCheckpoint(bool(eager))
        jrdd = jdf.queryExecution().toRdd()
        jdf2 = spark._jsparkSession.internalCreateDataFrame(jrdd, jdf.schema(), False)
        return _CDF(jdf2, spark)
    except (ImportError, AttributeError):
        return df.localCheckpoint(eager=eager)
