"""SparkSession factory tuned for iterative link-graph workloads.

Design notes for scale (the 1000-executor / 100 TB target):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting is
  what replaces the reference's hand-rolled histogram/hypercube range
  partitioning (ref /root/reference/src/sort-bin.c, src/sort-hypercube.c).
  Driver-loop kernels scope their own conf (functions/loop.py).
- Arrow on: every Python-side kernel is an Arrow-batched pandas UDF.
  Frames built from driver-side Python rows (split targets, part
  remaps, lineage appends, test fixtures) go through `local_frame`, an
  Arrow table parallelized in the JVM: no Python worker ever unpickles
  them row by row.
- UTC session TZ pinned so results compare bit-stably against the
  DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


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


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A DataFrame over driver-side Python rows (tuples, lists or Rows)
    whose lineage stays in the JVM; the one way the engine builds a frame
    from Python rows.

    `spark.createDataFrame(list, schema)` pickles the rows into a
    PythonRDD, so every action that reads the frame starts Python worker
    tasks (a 3-row frame in a warm local[4] session: collect 306 ms vs
    16 ms here, parquet append 353 vs 90 ms). Here the rows are
    column-built into a `pyarrow.Table` against `schema` (DDL string or
    StructType); createDataFrame turns that into a local relation that
    the JVM parallelizes itself.

    Every row is first checked with the verifier createDataFrame uses, so
    a value that does not fit its declared type raises `PySparkTypeError`
    / `PySparkValueError` as it would there (Arrow alone truncates 1.5
    into a bigint 1)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _make_type_verifier, _parse_datatype_string

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    rows = list(rows)
    verify = _make_type_verifier(struct)
    for r in rows:
        verify(r)
    cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=to_arrow_type(f.dataType)) for c, f in zip(cols, struct.fields)],
        names=struct.names,
    )
    return spark.createDataFrame(table, schema=struct)
