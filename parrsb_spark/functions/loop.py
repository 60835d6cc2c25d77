"""The loop driver every iterative kernel runs through (the reference's
one primitive, gslib gs(), is the join-driven gather-scatter here).

This module decides the whole loop policy; no kernel opens its own:

- Cache layout. `spmv_loop` caches the edges hash-partitioned and
  sorted on the join key and runs one setup aggregate over them (edge
  rows, max degree, plus any kernel extras).
- Parallelism. The cache is re-keyed to `loop_partitions` of the row
  count: ~`EngineOptions.loop_rows_per_task` edge rows per task, capped
  at the session's shuffle partitions. On a cluster-sized input the cap
  wins and this is exactly the session conf; on a small input it stops a
  25-iteration loop from paying 3 stages × n_shuffle tasks of scheduling
  latency per iteration for sub-millisecond tasks (measured at sf0.1,
  587k edges, local[32]: fiedler 24.4 → 10.9s, pagerank 6.3 → 2.5s warm
  at 8 partitions instead of 32).
- AQE gate. AQE is off inside the loop unless the max degree passes
  `EngineOptions.salt_degree_threshold`. AQE's runtime re-planning costs
  extra scheduler jobs per materialized stage (measured on the 587k-edge
  bench graph: a 25-iteration Lanczos solve is 278 Spark jobs with AQE vs
  97 without, 61s vs 36s best-of-3), and its partition coalescing
  targets bytes per partition, which for small latency-critical
  per-iteration shuffles collapses task counts below the core count
  (measured 2x slowdown at 8 executors on a 16M-edge graph). The only
  AQE feature a loop's plans can use is skew-join splitting (joins are
  pre-hash-partitioned, broadcasts are explicit), which only pays past a
  hub. Coalescing stays off even then.
- Conf scope. `iterative_conf` sets these keys, plus constraint
  propagation off and, per kernel, auto-broadcast off, for the loop's
  duration and restores the effective values on exit, error included.
- Release. Every cache the loop owns is released on exit, error
  included; a result the body leaves lazy is then recomputed from its
  lineage.
- Round counts. `counted_checkpoint` is how a loop learns that a round
  is empty or converged: the eager checkpoint that materializes the
  round observes its row count and changed rows, at no job of its own.
  It is eager only: read through a lazy checkpoint, an observation came
  back as `{'n': 0}` (measured), a missing count passing silently as
  "empty/converged". A count that does not come back raises.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F

from parrsb_spark.config import default_options
from parrsb_spark.session import hard_truncate


def loop_partitions(n_rows: int, n_shuffle: int, rows_per_task: int) -> int:
    """Loop parallelism: enough partitions that every task carries
    ~`rows_per_task` edge rows, capped at `n_shuffle`."""
    want = (int(n_rows) + rows_per_task - 1) // rows_per_task
    return max(1, min(int(n_shuffle), want))


@contextmanager
def iterative_conf(
    spark: SparkSession,
    disable_aqe: bool = False,
    no_auto_broadcast: bool = False,
    shuffle_partitions: int | None = None,
):
    """Scope the loop conf on `spark`; restored on exit.

    Constraint propagation is always off: Catalyst's constraint
    inference is super-linear in chained join/alias depth, and
    per-iteration localCheckpoint plans re-derive constraints every loop
    (measured as a driver-side hang, >20 min at 100% on one core in
    LogicalRDD.rewriteStatsAndConstraints, for a CSR-SpMV Lanczos at
    sf0.1). Constraints only power optimizations (extra filters, join
    pruning) that per-iteration kernel plans don't need.
    """
    keys = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.constraintPropagation.enabled": "false",
    }
    if disable_aqe:
        keys["spark.sql.adaptive.enabled"] = "false"
    if shuffle_partitions is not None:
        keys["spark.sql.shuffle.partitions"] = str(int(shuffle_partitions))
    if no_auto_broadcast:
        # the per-iteration join pairs a CACHED edge table (accurate size
        # stats) with a checkpointed state (unknown stats), so below the
        # threshold the planner broadcasts the EDGE SIDE and rebuilds
        # that broadcast EVERY iteration (broadcast-exchange reuse does
        # not span queries). The co-partitioned sort-merge join is both
        # the 100 TB plan and the faster local one for pagerank, CC and
        # fiedler (measured: fiedler 25.5 → 21.8s, pagerank 7.2 → 6.1s,
        # CC 5.6 → 4.6s warm at sf0.1); hits and anf lose, so it is per
        # kernel. Explicit F.broadcast() hints are unaffected.
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


def key_degrees(edges: DataFrame, *keys: str) -> DataFrame:
    """The default setup aggregate: `rows` (edge rows) and `max_degree`
    (most rows on one vertex, counted over the endpoint columns `keys`)."""
    ends = reduce(lambda a, b: a.unionAll(b), [edges.select(F.col(k).alias("_v")) for k in keys])
    deg = ends.groupBy("_v").agg(F.count("*").alias("_d"))
    return deg.agg((F.sum("_d") / len(keys)).alias("rows"), F.max("_d").alias("max_degree"))


@dataclass
class SpmvLoop:
    """The body's handle: cached `edges`, the setup aggregate's `stats`
    row, loop `partitions`, and the `hub_threshold` that gates AQE."""

    hub_threshold: int
    edges: DataFrame | None = None
    stats: Row | None = None
    partitions: int | None = None
    _owned: list[DataFrame] = field(default_factory=list)

    def cache(self, df: DataFrame) -> DataFrame:
        """Cache `df` until the loop exits."""
        df = df.cache()
        self._owned.append(df)
        return df


@contextmanager
def spmv_loop(
    edges: DataFrame,
    key: str = "src",
    *,
    auto_broadcast: bool = True,
    probe: Callable[[SpmvLoop], DataFrame] | None = None,
    opts=None,
):
    """Yield an `SpmvLoop` over `edges` joined on `key`.

    `probe(loop)` replaces `key_degrees`: a one-row frame over
    `loop.edges` with `rows`, `max_degree` and any extras the kernel
    reads from `loop.stats`, so they cost no second job.
    `auto_broadcast=False` stops the planner from rebuilding an
    edge-side broadcast every iteration (measured: pagerank and CC gain,
    hits and anf lose)."""
    spark = edges.sparkSession
    opts = opts or default_options()
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop = SpmvLoop(opts.salt_degree_threshold)
    try:
        # a cache's physical plan is fixed by the conf in force when it is
        # declared, so each cache is declared inside the scope it runs in;
        # the probe is one aggregate, where AQE would only add jobs
        with iterative_conf(spark, disable_aqe=True):
            loop.edges = loop.cache(edges.repartition(n_shuffle, key).sortWithinPartitions(key))
            loop.stats = (probe or (lambda lp: key_degrees(lp.edges, key)))(loop).collect()[0]
        loop.partitions = loop_partitions(
            int(loop.stats["rows"] or 0), n_shuffle, opts.loop_rows_per_task
        )
        with iterative_conf(
            spark,
            disable_aqe=(loop.stats["max_degree"] or 0) <= loop.hub_threshold,
            no_auto_broadcast=not auto_broadcast,
            shuffle_partitions=loop.partitions,
        ):
            if loop.partitions != n_shuffle:
                # fill the re-keyed copy from the probed one, then free the
                # probed one: only one edge copy stays cached in the loop
                probed = loop.edges
                loop.edges = loop.cache(
                    probed.repartition(loop.partitions, key).sortWithinPartitions(key)
                )
                loop.edges.count()
                probed.unpersist()
            yield loop
    finally:
        for df in loop._owned:
            df.unpersist()


def counted_checkpoint(
    df: DataFrame, *, hard: bool = False, changed: Column | None = None
) -> tuple[DataFrame, int, int | None]:
    """(checkpoint, n, n_changed): `df` checkpointed eagerly
    (`session.hard_truncate` if `hard`, else `localCheckpoint`), its row
    count, and the rows where the boolean `changed` holds (None without
    it), both observed on the checkpoint's own job."""
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("n")]
    if changed is not None:
        metrics.append(F.coalesce(F.sum(changed.cast("long")), F.lit(0)).alias("changed"))
    seen = df.observe(obs, *metrics)
    out = hard_truncate(seen) if hard else seen.localCheckpoint(eager=True)
    got = obs.get
    if got.get("n") is None:
        raise RuntimeError("counted_checkpoint: the row count was not observed on its job")
    return out, got["n"], got.get("changed")
