"""PageRank — damped power iteration as a join-driven SpMV loop.

Semantics (classic, matching the SQL oracle exactly):
    pr_0(v)   = 1/N
    pr_t+1(v) = (1-d)/N + d * [ Σ_{u→v} pr_t(u)/outdeg(u)  +  dangling_t/N ]
with dangling_t = Σ_{outdeg(u)=0} pr_t(u) redistributed uniformly.

Dataflow per iteration (ONE gather-scatter, SURVEY.md §2 B5):
    state ⋈ edges on src → groupBy(dst).sum → join back to state.

Scale design:
- `edges` is the loop-invariant side: hash-partitioned on src once and
  cached; the per-iteration join then only exchanges the (small) state.
- the dangling mass stays ON THE CLUSTER as a broadcast one-row
  aggregate (no driver round-trip per iteration); every iteration ends
  in a LAZY localCheckpoint, and the NEXT iteration's dangling
  broadcast job is what materializes it — so each SpMV executes exactly
  once and the logical plan stays flat. (Round 5 checkpointed only at
  `chain`-burst boundaries; inside a burst the broadcast subtree
  re-derived the previous iteration's whole gather-scatter, because
  ReuseExchange does not collapse duplicate subtrees across a broadcast
  boundary — measured ~1.5× SpMV compute per iteration. The lazy
  per-iteration checkpoint keeps burst-mode's job count at one
  materializing job per iteration with zero recompute.)
- `chain` now only sets the cadence of convergence CHECKS (the delta
  join is a full extra pass; every 2 iterations is the measured
  sweet spot), not the checkpoint cadence.
- hub skew: AQE skew-join splits oversized src partitions; the groupBy
  is already map-side combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import key_degrees, spmv_loop


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 40,
    tol: float = 1e-8,
    fixed_iters: int | None = None,
    vertices: DataFrame | None = None,
    chain: int = 2,
    opts=None,
    weight_col: str | None = None,
) -> DataFrame:
    """Returns (vid, pr). `fixed_iters` runs exactly that many iterations
    with no convergence checks (oracle-parity mode); otherwise iterate to
    L1 delta < tol or max_iter, testing convergence every `chain` steps.

    `weight_col` names an edge weight column (e.g. the link multiplicity
    of the host-level rollup, sources/edges.host_edges_from_pages):
    contributions become pr(u)·w(u,v)/wout(u) with wout = Σ out-weights.
    Unweighted (the default) is the w ≡ 1 special case and produces
    IDENTICAL values through the identical plan — outdeg below is
    sum(1) per src either way.

    Hub salting is armed BY DEFAULT: when the max in-degree exceeds the
    loop's hub threshold (functions/loop.py; from `opts` or the env-
    overridable defaults), the per-iteration contribution aggregation
    runs as the explicit two-stage salted form (functions/spmv.py `salted_agg`).
    Spark's map-side partial aggregation already combines hub keys per
    map task; the salted path covers the residual funnel where ONE
    reduce key still receives a partial from each of ~10⁵ map tasks.
    The in-degree probe is folded into the degree aggregation the setup
    already pays (one union-groupBy computes out- AND in-degree) — zero
    extra jobs, so it no longer hides behind an opts gate."""
    d = damping

    # the weight column is carried ONLY when weighted — a materialized
    # constant would bloat the cached edge table at 10^12-edge scale
    ecols = ["src", "dst"] + (
        [F.col(weight_col).cast("long").alias("_w")] if weight_col else []
    )
    out_w = F.col("_w") if weight_col else F.lit(1)
    state = None

    def setup(lp) -> DataFrame:
        # out- and in-degree from ONE union aggregate over the cached
        # edges, cached as the loop state; the loop's setup aggregate
        # then reads n, max in-degree and |E| from it in the same job
        nonlocal state
        e = lp.edges
        deg = (
            e.select(F.col("src").alias("vid"), out_w.alias("_o"), F.lit(0).alias("_i"))
            .unionAll(e.select(F.col("dst").alias("vid"), F.lit(0).alias("_o"), F.lit(1).alias("_i")))
            .groupBy("vid")
            .agg(F.sum("_o").alias("outdeg"), F.sum("_i").alias("indeg"))
        )
        if vertices is not None:
            deg = vertices.select("vid").join(deg, "vid", "left").select(
                "vid",
                F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
                F.coalesce("indeg", F.lit(0)).alias("indeg"),
            )
        # with no `vertices`, the degree aggregate's key set IS the
        # endpoint vertex set — deriving vertices separately would pay a
        # second full 2|E| distinct exchange for the identical rows
        state = lp.cache(deg.repartition("vid"))
        return state.agg(
            F.count("*").alias("n"),
            # max OUT-degree is the per-src edge-row concentration the
            # loop's skew-join gate is about; max IN-degree is the
            # reduce funnel salting exists for; |E| (indeg sums 1 per
            # edge row even when weighted) sizes the loop
            F.max("outdeg").alias("max_degree"),
            F.max("indeg").alias("mi"),
            F.sum("indeg").alias("rows"),
        )

    def one_iter(r: DataFrame) -> DataFrame:
        # dangling mass as a broadcast 1-row aggregate — no driver round-trip
        dang = F.broadcast(
            r.agg(
                F.coalesce(
                    F.sum(F.when(F.col("outdeg") == 0, F.col("pr"))), F.lit(0.0)
                ).alias("_dang")
            )
        )
        joined = e.join(
            r.filter(F.col("outdeg") > 0).select(
                F.col("vid").alias("src"), (F.col("pr") / F.col("outdeg")).alias("_c")
            ),
            "src",
        ).select(
            F.col("dst").alias("vid"),
            (
                (F.col("_c") * F.col("_w")) if weight_col else F.col("_c")
            ).alias("c"),
        )
        if use_salt:
            from parrsb_spark.functions.spmv import salted_agg

            contribs = salted_agg(joined, "vid", "c", "sum", "g")
        else:
            contribs = joined.groupBy("vid").agg(F.sum("c").alias("g"))
        # same association order as the SQL oracle:
        # (0.15 + 0.85*dang)/n + 0.85*gather
        return (
            r.join(contribs, "vid", "left")
            .crossJoin(dang)
            .select(
                "vid",
                "outdeg",
                (
                    (F.lit(1.0 - d) + F.lit(d) * F.col("_dang")) / F.lit(float(n))
                    + F.lit(d) * F.coalesce("g", F.lit(0.0))
                ).alias("pr"),
            )
        )

    with spmv_loop(
        edges.select(*ecols), "src", auto_broadcast=False, probe=setup, opts=opts
    ) as lp:
        e = lp.edges
        n = lp.stats["n"]
        if n == 0:
            return state.select("vid", F.lit(0.0).alias("pr"))
        use_salt = float(lp.stats["mi"] or 0) > lp.hub_threshold
        ranks = state.select("vid", "outdeg").withColumn("pr", F.lit(1.0 / n))

        iters = fixed_iters if fixed_iters is not None else max_iter
        done = 0
        while done < iters:
            burst = min(chain, iters - done)
            prev = ranks
            for _ in range(burst):
                # LAZY checkpoint after EVERY iteration: iteration t+1's
                # dangling-mass broadcast job is the action that
                # materializes iteration t's blocks, so each SpMV runs
                # exactly ONCE. Round 5 checkpointed only at burst ends;
                # inside a burst the broadcast subtree re-derived the
                # previous iteration's ENTIRE gather-scatter (guide §2.4
                # — ReuseExchange does not reach across the broadcast
                # boundary), i.e. ~1.5 SpMVs of compute per iteration.
                ranks = one_iter(ranks).localCheckpoint(eager=False)
            done += burst
            if fixed_iters is None:
                delta = (
                    ranks.join(prev.select("vid", F.col("pr").alias("_old")), "vid")
                    .agg(F.sum(F.abs(F.col("pr") - F.col("_old"))))
                    .collect()[0][0]
                )
                # L1 movement across the whole burst below tol ⇒ converged
                if delta is not None and delta < tol:
                    break
        # materialize the tail of the lazy chain INSIDE the loop conf
        # (fixed-iters mode otherwise defers every job to the caller's
        # first action, outside the iterative session tuning)
        ranks.count()
    return ranks.select("vid", "pr")


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    fixed_iters: int = 8,
    vertices: DataFrame | None = None,
    chain: int = 2,
) -> DataFrame:
    """Random walk with restart: the teleport vector is uniform over the
    seed set S instead of over all vertices —

        pr_0(v)   = tele(v)
        pr_t+1(v) = ((1-d) + d·dangling_t)·tele(v) + d·Σ_{u→v} pr_t(u)/od(u)

    with tele(v) = 1/|S| for v ∈ S else 0 (dangling mass restarts at the
    seeds, keeping Σpr = 1 exactly like the global kernel). Same scale
    shape as `pagerank`: loop-invariant cached edges, broadcast one-row
    dangling aggregate, `chain`-burst localCheckpoints. `seeds` is a
    (vid) DataFrame; it is broadcast onto the state ONCE at setup (seed
    sets are tiny relative to V — that is the point of personalization).

    Returns (vid, pr) after exactly `fixed_iters` iterations (oracle-
    parity mode; the entry row unrolls the same count in SQL).
    """
    d = damping
    seed_set = seeds.select("vid").distinct()

    def setup(lp) -> DataFrame:
        # the seed count rides the loop's setup aggregate: one job
        return key_degrees(lp.edges, "src").crossJoin(
            seed_set.agg(F.count("*").alias("n_seeds"))
        )

    def one_iter(r: DataFrame) -> DataFrame:
        dang = F.broadcast(
            r.agg(
                F.coalesce(
                    F.sum(F.when(F.col("outdeg") == 0, F.col("pr"))), F.lit(0.0)
                ).alias("_dang")
            )
        )
        contribs = (
            e.join(
                r.filter(F.col("outdeg") > 0).select(
                    F.col("vid").alias("src"), (F.col("pr") / F.col("outdeg")).alias("c")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("c").alias("g"))
        )
        # association order mirrors the SQL oracle:
        # ((1-d) + d*dang)*tele + d*gather
        return (
            r.join(contribs, "vid", "left")
            .crossJoin(dang)
            .select(
                "vid",
                "outdeg",
                "tele",
                (
                    (F.lit(1.0 - d) + F.lit(d) * F.col("_dang")) * F.col("tele")
                    + F.lit(d) * F.coalesce("g", F.lit(0.0))
                ).alias("pr"),
            )
        )

    with spmv_loop(
        edges.select("src", "dst"), "src", auto_broadcast=False, probe=setup
    ) as lp:
        e = lp.edges
        if vertices is None:
            # one union aggregate yields the vertex set AND outdeg together —
            # no separate 2|E| vertex distinct (see pagerank)
            verts_deg = (
                e.select(F.col("src").alias("vid"), F.lit(1).alias("_o"))
                .unionAll(e.select(F.col("dst").alias("vid"), F.lit(0).alias("_o")))
                .groupBy("vid")
                .agg(F.sum("_o").alias("outdeg"))
            )
        else:
            outdeg = e.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("outdeg"))
            verts_deg = (
                vertices.select("vid")
                .join(outdeg, "vid", "left")
                .select("vid", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
            )
        n_seeds = lp.stats["n_seeds"]
        if n_seeds == 0:
            return verts_deg.select("vid", F.lit(0.0).alias("pr"))
        state = lp.cache(
            verts_deg
            .join(F.broadcast(seed_set.withColumn("_s", F.lit(1))), "vid", "left")
            .select(
                "vid",
                F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
                F.when(F.col("_s").isNotNull(), F.lit(1.0 / n_seeds))
                .otherwise(F.lit(0.0))
                .alias("tele"),
            )
            .repartition(lp.partitions, "vid")
        )
        ranks = state.withColumn("pr", F.col("tele"))
        done = 0
        while done < fixed_iters:
            burst = min(chain, fixed_iters - done)
            for _ in range(burst):
                # lazy per-iteration checkpoint — one SpMV per iteration,
                # materialized by the next iteration's dangling broadcast
                # (see `pagerank`)
                ranks = one_iter(ranks).localCheckpoint(eager=False)
            done += burst
        ranks.count()
    return ranks.select("vid", "pr")
