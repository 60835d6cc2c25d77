"""The loop driver every SpMV kernel runs through (the reference's one
primitive, gslib gs(), is the join-driven gather-scatter here).

`spmv_loop` caches the edges hash-partitioned and sorted on the join
key, runs one setup aggregate (edge rows, max degree, plus any kernel
extras), re-keys the cache to `session.loop_partitions` of the row
count, and scopes `session.iterative_conf` around the loop: AQE only
past the hub threshold, shuffle partitions at the loop count,
auto-broadcast per kernel. Every cache it owns is released on exit; a
result the body leaves lazy is then recomputed from its lineage, as it
was when each kernel unpersisted its own edge side.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from parrsb_spark.config import default_options
from parrsb_spark.session import iterative_conf, loop_partitions


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
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    loop = SpmvLoop((opts or default_options()).salt_degree_threshold)
    try:
        # a cache's physical plan is fixed by the conf in force when it is
        # declared, so each cache is declared inside the scope it runs in;
        # the probe is one aggregate, where AQE would only add jobs
        with iterative_conf(spark, disable_aqe=True):
            loop.edges = loop.cache(edges.repartition(n_shuffle, key).sortWithinPartitions(key))
            loop.stats = (probe or (lambda lp: key_degrees(lp.edges, key)))(loop).collect()[0]
        loop.partitions = loop_partitions(int(loop.stats["rows"] or 0), n_shuffle)
        with iterative_conf(
            spark,
            # AQE's skew-join split only helps past a hub; below it AQE
            # is pure per-iteration re-planning
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
