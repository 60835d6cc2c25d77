"""Strongly connected components of a DIRECTED graph.

The webgraph analysis the undirected kernels can't express: the bowtie
decomposition (Broder et al., "Graph structure in the Web", WWW 2000)
needs SCCs, and link graphs are directed. Sibling of the undirected
min-label kernel (`operators/components.py`, the get_components_v2
analogue, ref /root/reference/src/components.c:160-328) — same
gather-scatter fixpoint machinery, composed per the FW-BW / coloring
algorithm (Orzan 2004; Slota-Rajamanickam-Madduri IPDPS 2014):

  round:
    1. TRIM — vertices with no in-edge or no out-edge inside the active
       set are singleton SCCs; peel to fixpoint. At webgraph scale this
       is the workhorse: it dissolves the IN/OUT tendrils cheaply so
       the expensive phases only see the cyclic core.
    2. FORWARD COLORING — propagate min vid along DIRECTED edges to
       fixpoint: color(v) = min vid that can reach v. Roots are
       vertices with color(v) == v.
    3. BACKWARD CONTAINMENT — multi-seed frontier expansion from ALL
       roots at once along REVERSED edges, restricted to equal color:
       the vertices of color r that can also reach r are exactly
       SCC(r). Emit them, remove them, repeat.

Every phase is a plain DataFrame fixpoint (joins + groupBy-min — no
windows, no per-row Python), so AQE/salting apply as in the sibling
kernels. Each outer round removes every current color-class root's
SCC, so rounds = nesting depth of the condensation's min-vid chains —
small on real graphs (the giant SCC falls out of round 1; trims absorb
the chains that would otherwise serialize the coloring variant).

Scale notes: per-iteration cost is one shuffle join + one groupBy-min
(forward) or one semi-join frontier hop (backward) — the exact shape
the 16M-edge below-knee pairs measure for cc/bfs. Active-set edges are
re-materialized once per outer round (semi-joins against the shrinking
vertex set), so later rounds run on the small cyclic residue only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parrsb_spark.functions.loop import counted_checkpoint, spmv_loop
from parrsb_spark.session import hard_truncate, local_frame
from parrsb_spark.sources.edges import vertices_from_edges


def _simple_edges(edges: DataFrame) -> DataFrame:
    """(src, dst) without self-loops or duplicates."""
    return edges.filter(F.col("src") != F.col("dst")).select("src", "dst").distinct()


def _tarjan_local(edge_rows: list, vert_rows: list) -> list[tuple]:
    """Exact iterative Tarjan on a driver-local residue (bounded by
    `local_threshold` — see caller). Returns [(vid, scc_min_vid)]."""
    from collections import defaultdict

    adj = defaultdict(list)
    verts = {r[0] for r in vert_rows}
    for s, d in edge_rows:
        adj[s].append(d)
    index: dict = {}
    low: dict = {}
    onstk: set = set()
    stk: list = []
    comp: dict = {}
    cnt = [0]

    def run(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = cnt[0]
                cnt[0] += 1
                stk.append(v)
                onstk.add(v)
            descend = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    descend = True
                    break
                if w in onstk:
                    low[v] = min(low[v], index[w])
            if descend:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m
            work.pop()
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])

    for v in sorted(verts):
        if v not in index:
            run(v)
    return sorted(comp.items())


def strongly_connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 60,
    max_iter: int = 200,
    chain: int = 2,
    local_threshold: int = 0,
) -> DataFrame:
    """Returns (vid, scc) with scc = min vid of the strongly connected
    component (exact; singletons included). `edges` is directed (src,
    dst); self-loops are ignored.

    `local_threshold` > 0 arms the FB-Trim phase-3 escape (Hong,
    Rodia & Olukotun, "On fast parallel detection of strongly connected
    components", 2013): once the ACTIVE residue has ≤ that many edges,
    finish it exactly with driver-local Tarjan instead of more
    distributed rounds. On webgraphs the residue after the first
    trim+FB round (giant SCC + tendrils gone) is orders of magnitude
    smaller than the input, while its condensation chains are exactly
    what serializes the distributed rounds — the bounded collect is the
    scale-correct trade (the IVF trainer's bounded-sample precedent,
    operators/similarity.py). 0 (default) = never collect; pure
    distributed fixpoints."""
    if max_iter < 1:
        # the coloring loop's unconverged guard needs at least one pass
        raise ValueError(f"scc: max_iter must be >= 1, got {max_iter}")
    spark = edges.sparkSession
    verts = (vertices or vertices_from_edges(edges)).select("vid")
    active, n_active, _ = counted_checkpoint(verts, hard=True)
    done: DataFrame | None = None

    def emit(piece: DataFrame) -> None:
        nonlocal done
        done = piece if done is None else done.union(piece)

    with spmv_loop(_simple_edges(edges), "src") as lp:
        e_cur = lp.edges  # shrinks with active: each filter starts from
        # the previous survivor set, so trim-iteration cost tracks the
        # residue, not the full input
        for _ in range(max_rounds):
            # --- 1. trim to fixpoint: no in-edge or no out-edge ⇒ singleton
            while True:
                eact = (
                    e_cur.join(active.withColumnRenamed("vid", "src"), "src", "left_semi")
                    .join(active.withColumnRenamed("vid", "dst"), "dst", "left_semi")
                )
                eact = hard_truncate(eact.select("src", "dst"))
                e_cur = eact
                both = (
                    eact.select(F.col("src").alias("vid"))
                    .intersect(eact.select(F.col("dst").alias("vid")))
                )
                trivial, n_trim, _ = counted_checkpoint(
                    active.join(both, "vid", "left_anti"), hard=True
                )
                if n_trim == 0:
                    break
                emit(trivial.withColumn("scc", F.col("vid")))
                active, n_active, _ = counted_checkpoint(
                    active.join(trivial, "vid", "left_anti"), hard=True
                )
            if n_active == 0:
                break
            # pin the post-trim edge set hash-partitioned on src and cached:
            # every forward-coloring iteration joins on src, so the edge-side
            # exchange is paid once per outer round, not once per iteration
            # (hard_truncate drops partitioning metadata — see session.py)
            eact = lp.cache(eact.repartition(lp.partitions, "src"))

            # --- phase-3 escape: bounded residue → exact driver-local Tarjan
            if local_threshold and eact.count() <= local_threshold:
                pairs = _tarjan_local(
                    [(r[0], r[1]) for r in eact.collect()],
                    [(r[0],) for r in active.collect()],
                )
                emit(local_frame(spark, pairs, "vid long, scc long"))
                # vertices of the residue with no surviving edge are
                # already trimmed above, so `pairs` covers all of active
                eact.unpersist()
                break

            # --- 2. forward min-vid coloring over the directed active edges
            color = active.withColumn("color", F.col("vid")).repartition(lp.partitions, "vid")
            color = hard_truncate(color)
            it = 0
            while it < max_iter:
                # carry the burst's starting color as `_old`: the burst's
                # checkpoint counts the labels that moved
                color = color.select("vid", "color", F.col("color").alias("_old"))
                for _ in range(min(chain, max_iter - it)):
                    nbr = (
                        eact.join(
                            color.select(F.col("vid").alias("src"), "color"), "src"
                        )
                        .groupBy(F.col("dst").alias("vid"))
                        .agg(F.min("color").alias("nbr"))
                    )
                    color = color.join(nbr, "vid", "left").select(
                        "vid", F.least("color", F.coalesce("nbr", "color")).alias("color"), "_old"
                    )
                color, _, changed = counted_checkpoint(
                    color, hard=True, changed=F.col("color") < F.col("_old")
                )
                it += chain
                if changed == 0:
                    break
            else:
                # unconverged colors would feed the backward sweep and
                # silently split one SCC across labels/rounds (a plain
                # directed cycle longer than max_iter hops) — fail loudly
                # like the outer-round guard instead
                raise RuntimeError(
                    f"scc: forward coloring did not converge in {max_iter} "
                    f"iterations ({changed} labels still moving); raise max_iter"
                )

            # --- 3. backward multi-seed sweep from every root, same color only
            # the converged color table is joined once per backward hop;
            # pin it hash-partitioned on vid so each hop pays only the
            # candidate-side exchange
            color = lp.cache(color.select("vid", "color").repartition(lp.partitions, "vid"))
            visited = hard_truncate(
                color.filter(F.col("color") == F.col("vid")).select("vid", "color")
            )
            frontier = visited
            while True:
                preds = (
                    eact.join(
                        frontier.select(F.col("vid").alias("dst"), F.col("color").alias("_fc")),
                        "dst",
                    )
                    .select(F.col("src").alias("vid"), "_fc")
                    .distinct()
                    .join(color, "vid")
                    .filter(F.col("color") == F.col("_fc"))
                    .select("vid", "color")
                    .join(visited, "vid", "left_anti")
                )
                preds, n_preds, _ = counted_checkpoint(preds, hard=True)
                if n_preds == 0:
                    break
                visited = hard_truncate(visited.union(preds))
                frontier = preds
            emit(visited.select("vid", F.col("color").alias("scc")))
            active, n_active, _ = counted_checkpoint(
                active.join(visited, "vid", "left_anti"), hard=True
            )
            eact.unpersist()
            color.unpersist()
            if n_active == 0:
                break
        else:
            if n_active:
                raise RuntimeError(
                    f"scc: {n_active} vertices unresolved after {max_rounds} rounds"
                )
    if done is None:  # empty vertex set
        return verts.withColumn("scc", F.col("vid"))
    return done


def condensation_levels(
    edges: DataFrame,
    scc: DataFrame | None = None,
    max_levels: int = 10_000,
) -> DataFrame:
    """Topological layering of the condensation DAG: returns
    (vid, scc, level) with level = longest path (in edges) from any
    source SCC to the vertex's SCC — the webgraph stratification depth.

    Composition pipeline: SCC labels → condensation edges (two keyed
    joins + distinct) → synchronous source-peel (each wave removes every
    current in-degree-0 condensation node; a node leaves at
    1 + max(level of predecessors), i.e. its longest-path depth). Rounds
    = condensation depth; each round is two anti/semi-joins on the
    SHRINKING condensation — orders smaller than the vertex set."""
    labels = scc if scc is not None else strongly_connected_components(edges)
    out: DataFrame | None = None
    with spmv_loop(_simple_edges(edges), "src") as lp:
        labels = lp.cache(labels)
        ce = (
            lp.edges.join(
                labels.select(F.col("vid").alias("src"), F.col("scc").alias("_sa")), "src"
            )
            .join(labels.select(F.col("vid").alias("dst"), F.col("scc").alias("_sb")), "dst")
            .filter(F.col("_sa") != F.col("_sb"))
            .select(F.col("_sa").alias("csrc"), F.col("_sb").alias("cdst"))
            .distinct()
        )
        ce = hard_truncate(ce)
        remaining, n_remaining, _ = counted_checkpoint(
            labels.select("scc").distinct().withColumnRenamed("scc", "node"), hard=True
        )
        for lvl in range(max_levels):
            if n_remaining == 0:
                break
            dsts = ce.select(F.col("cdst").alias("node")).distinct()
            roots = hard_truncate(remaining.join(dsts, "node", "left_anti"))
            piece = roots.select(F.col("node").alias("scc"), F.lit(lvl).alias("level"))
            out = piece if out is None else out.union(piece)
            remaining, n_remaining, _ = counted_checkpoint(
                remaining.join(roots, "node", "left_anti"), hard=True
            )
            ce = hard_truncate(
                ce.join(remaining.withColumnRenamed("node", "csrc"), "csrc", "left_semi")
            )
        else:
            raise RuntimeError(f"condensation_levels: not a DAG within {max_levels} levels")
    levels = out if out is not None else labels.select("scc").distinct().withColumn(
        "level", F.lit(0)
    )
    return labels.join(levels, "scc").select("vid", "scc", "level")


def bowtie_classes(
    edges: DataFrame,
    scc: DataFrame | None = None,
    max_iter: int = 200,
) -> DataFrame:
    """Bowtie decomposition relative to the LARGEST SCC (Broder et al.):
    returns (vid, cls) with cls ∈ {'core', 'in', 'out', 'other'}.

    core = largest SCC; in = reaches core (not core); out = reachable
    from core (not core); other = the rest (tendrils + disconnected).
    Ties on largest-SCC size break toward the smaller scc id
    (deterministic). Reachability = multi-seed frontier fixpoints, one
    forward and one backward — O(diameter) shuffle rounds each.
    """
    labels = scc if scc is not None else strongly_connected_components(edges)

    def reach_fixpoint(e: DataFrame, seed: DataFrame, forward: bool) -> DataFrame:
        src, dst = ("src", "dst") if forward else ("dst", "src")
        visited = seed
        frontier = seed
        for _ in range(max_iter):
            nxt, n_nxt, _ = counted_checkpoint(
                e.join(frontier.withColumnRenamed("vid", src), src, "left_semi")
                .select(F.col(dst).alias("vid"))
                .distinct()
                .join(visited, "vid", "left_anti"),
                hard=True,
            )
            if n_nxt == 0:
                break
            visited = hard_truncate(visited.union(nxt))
            frontier = nxt
        else:
            # a silently truncated reachability set misclassifies IN/OUT
            # for paths longer than max_iter hops — same loud-failure
            # contract as the SCC coloring guard above
            raise RuntimeError(
                f"bowtie: {'forward' if forward else 'backward'} reachability "
                f"did not reach fixpoint in {max_iter} hops; raise max_iter"
            )
        return visited

    with spmv_loop(_simple_edges(edges), "src") as lp:
        labels = lp.cache(labels)
        top = (
            labels.groupBy("scc")
            .agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("scc").asc())
            .limit(1)
        )
        core = hard_truncate(labels.join(F.broadcast(top), "scc", "left_semi").select("vid"))
        fwd = reach_fixpoint(lp.edges, core, forward=True)  # core ∪ OUT
        bwd = reach_fixpoint(lp.edges, core, forward=False)  # core ∪ IN
    out = (
        labels.select("vid")
        .join(core.withColumn("_c", F.lit(1)), "vid", "left")
        .join(fwd.withColumn("_f", F.lit(1)), "vid", "left")
        .join(bwd.withColumn("_b", F.lit(1)), "vid", "left")
        .select(
            "vid",
            F.when(F.col("_c").isNotNull(), F.lit("core"))
            .when(F.col("_b").isNotNull(), F.lit("in"))
            .when(F.col("_f").isNotNull(), F.lit("out"))
            .otherwise(F.lit("other"))
            .alias("cls"),
        )
    )
    return out
