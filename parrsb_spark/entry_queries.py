"""Driver-contract query registry: Spark queries + DuckDB oracle SQL.

Every operator from SURVEY.md §2 that is SQL-expressible gets BOTH a
Spark callable (spark, sf_dir) → DataFrame and an ANSI-SQL string that
DuckDB runs on the same parquet tables. Column names and float rounding
match exactly on both sides (the driver value-hashes sorted columns).

Graph queries derive a deterministic graph from the TPC-H-ish tables:
- bipartite customer→supplier edges via orders ⨝ lineitem
  (src = o_custkey, dst = 100000 + l_suppkey)
- co-purchase part graph (parts sharing an order) for triangle-bearing
  kernels.
Iterative kernels (PageRank / CC / label propagation) get *unrolled*
iteration CTEs in SQL — identical fixed-point semantics, fixed K.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parrsb_spark.functions.hashing import (
    HASH_SALT_A,
    HASH_SALT_B,
    MOD_P,
    MOD_X,
)

# Iterative float kernels (pagerank/ppr/hits) gate at round-8: their
# per-vertex sums reduce in shuffle-arrival order on Spark and CTE-eval
# order on DuckDB, so the engines agree only up to reassociation noise
# (~1e-14). 8 digits keeps the gate 100x stricter than the 1e-6
# contract while making a boundary flip ~1e-6-probable per board
# instead of the round-10 near-miss that bit graph_linkpred (whose fix
# was exact ordered folds — impossible for a recursive-CTE oracle).
DAMPING = 0.85
PR_ITERS = 8
CC_ITERS = 16
LP_ITERS = 3
HITS_ITERS = 6
PPR_ITERS = 8
PPR_N_SEEDS = 5
KCORE_K = 80
KCORE_ROUNDS = 16
BFS_N_SEEDS = 3
BFS_HOPS = 12
SSSP_N_SEEDS = 3
SSSP_ROUNDS = 16

# ---------------------------------------------------------------------------
# shared derivations


def _tune(spark: SparkSession) -> None:
    """Defensive session conf for harness-owned sessions: UTC timestamps
    (oracle parity) and sane shuffle parallelism (Spark's 200 default
    makes the iterative kernels latency-bound at these scales)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", "32")


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _tune(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _load(spark, sf_dir, "orders")
    l = _load(spark, sf_dir, "lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("src"), (F.lit(100000) + F.col("l_suppkey")).alias("dst"))
        .distinct()
    )


EDGES_SQL = (
    "SELECT DISTINCT o_orderkey, o_custkey AS src, 100000 + l_suppkey AS dst "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
)
EG_CTE = (
    "eg AS MATERIALIZED (SELECT DISTINCT o_custkey AS src, 100000 + l_suppkey AS dst "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"
)
VERTS_CTE = "verts AS MATERIALIZED (SELECT src AS vid FROM eg UNION SELECT dst FROM eg)"
SYM_CTE = "sym AS MATERIALIZED (SELECT src, dst FROM eg UNION SELECT dst AS src, src AS dst FROM eg)"


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = l.withColumnRenamed("l_partkey", "src")
    b = l.withColumnRenamed("l_partkey", "dst")
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


CP_CTE = (
    "cp AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst "
    "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
    "AND a.l_partkey < b.l_partkey)"
)
CP_SYM_CTE = "cpsym AS MATERIALIZED (SELECT src, dst FROM cp UNION SELECT dst, src FROM cp)"
CP_VERTS_CTE = "cpverts AS MATERIALIZED (SELECT src AS vid FROM cp UNION SELECT dst FROM cp)"


# ---------------------------------------------------------------------------
# graph queries


def q_graph_edges(spark, sf_dir):
    return bipartite_edges(spark, sf_dir)


def sql_graph_edges():
    return f"WITH {EG_CTE} SELECT src, dst FROM eg"


def q_graph_degree(spark, sf_dir):
    from parrsb_spark.functions.spmv import degrees

    return degrees(bipartite_edges(spark, sf_dir)).select("vid", "deg")


def sql_graph_degree():
    return (
        f"WITH {EG_CTE}, {SYM_CTE} "
        "SELECT src AS vid, count(*) AS deg FROM (SELECT DISTINCT src, dst FROM sym WHERE src <> dst) GROUP BY src"
    )


def q_graph_pagerank(spark, sf_dir):
    from parrsb_spark.operators.pagerank import pagerank

    e = bipartite_edges(spark, sf_dir)
    pr = pagerank(e, damping=DAMPING, fixed_iters=PR_ITERS)
    return pr.select("vid", F.round("pr", 8).alias("pr_r"))


def sql_graph_pagerank(iters: int = PR_ITERS) -> str:
    d = DAMPING
    parts = [
        EG_CTE,
        VERTS_CTE,
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM verts)",
        "outdeg AS (SELECT src AS vid, CAST(count(*) AS DOUBLE) AS od FROM eg GROUP BY src)",
        "pr0 AS (SELECT vid, 1.0/(SELECT cnt FROM n) AS pr FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = f"pr{k - 1}"
        parts.append(
            f"pr{k} AS MATERIALIZED (SELECT v.vid, "
            f"( {1 - d} + {d} * (SELECT coalesce(sum(p.pr), 0) FROM {p} p "
            f"LEFT JOIN outdeg o ON p.vid = o.vid WHERE o.vid IS NULL) ) / (SELECT cnt FROM n) "
            f"+ {d} * coalesce(g.gath, 0) AS pr "
            f"FROM verts v LEFT JOIN ("
            f"SELECT e.dst AS vid, sum(p.pr / o.od) AS gath "
            f"FROM eg e JOIN {p} p ON e.src = p.vid JOIN outdeg o ON e.src = o.vid "
            f"GROUP BY e.dst) g ON v.vid = g.vid)"
        )
    return (
        "WITH " + ", ".join(parts) + f" SELECT vid, round(pr, 8) AS pr_r FROM pr{iters}"
    )


def q_graph_hits(spark, sf_dir):
    from parrsb_spark.operators.hits import hits

    e = bipartite_edges(spark, sf_dir)
    h = hits(e, n_iter=HITS_ITERS)
    return h.select(
        "vid", F.round("hub", 8).alias("hub_r"), F.round("auth", 8).alias("auth_r")
    )


def sql_graph_hits(iters: int = HITS_ITERS) -> str:
    parts = [
        EG_CTE,
        VERTS_CTE,
        "h0 AS (SELECT vid, 1.0 AS h FROM verts)",
    ]
    for k in range(1, iters + 1):
        p = f"h{k - 1}"
        parts += [
            # authority half-step: gather hub along edges onto dst, L2-normalize
            f"ar{k} AS MATERIALIZED (SELECT e.dst AS vid, sum(h.h) AS s "
            f"FROM eg e JOIN {p} h ON e.src = h.vid GROUP BY e.dst)",
            f"an{k} AS (SELECT sqrt(sum(s * s)) AS nrm FROM ar{k})",
            f"a{k} AS MATERIALIZED (SELECT v.vid, CASE WHEN (SELECT nrm FROM an{k}) > 0 "
            f"THEN coalesce(r.s, 0) / (SELECT nrm FROM an{k}) ELSE 0.0 END AS a "
            f"FROM verts v LEFT JOIN ar{k} r ON v.vid = r.vid)",
            # hub half-step: gather the FRESH auth back onto src, L2-normalize
            f"hr{k} AS MATERIALIZED (SELECT e.src AS vid, sum(a.a) AS s "
            f"FROM eg e JOIN a{k} a ON e.dst = a.vid GROUP BY e.src)",
            f"hn{k} AS (SELECT sqrt(sum(s * s)) AS nrm FROM hr{k})",
            f"h{k} AS MATERIALIZED (SELECT v.vid, CASE WHEN (SELECT nrm FROM hn{k}) > 0 "
            f"THEN coalesce(r.s, 0) / (SELECT nrm FROM hn{k}) ELSE 0.0 END AS h "
            f"FROM verts v LEFT JOIN hr{k} r ON v.vid = r.vid)",
        ]
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT h.vid, round(h.h, 8) AS hub_r, round(a.a, 8) AS auth_r "
        f"FROM h{iters} h JOIN a{iters} a ON h.vid = a.vid"
    )


def q_graph_ppr(spark, sf_dir):
    from parrsb_spark.operators.pagerank import personalized_pagerank
    from parrsb_spark.sources.edges import vertices_from_edges

    e = bipartite_edges(spark, sf_dir)
    seeds = vertices_from_edges(e).orderBy("vid").limit(PPR_N_SEEDS)
    pr = personalized_pagerank(e, seeds, damping=DAMPING, fixed_iters=PPR_ITERS)
    return pr.select("vid", F.round("pr", 8).alias("pr_r"))


def sql_graph_ppr(iters: int = PPR_ITERS) -> str:
    d = DAMPING
    parts = [
        EG_CTE,
        VERTS_CTE,
        f"seeds AS MATERIALIZED (SELECT vid FROM verts ORDER BY vid LIMIT {PPR_N_SEEDS})",
        "ns AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM seeds)",
        "tele AS MATERIALIZED (SELECT v.vid, CASE WHEN s.vid IS NOT NULL "
        "THEN 1.0 / (SELECT cnt FROM ns) ELSE 0.0 END AS t "
        "FROM verts v LEFT JOIN seeds s ON v.vid = s.vid)",
        "pod AS (SELECT src AS vid, CAST(count(*) AS DOUBLE) AS od FROM eg GROUP BY src)",
        "pp0 AS (SELECT vid, t AS pr FROM tele)",
    ]
    for k in range(1, iters + 1):
        p = f"pp{k - 1}"
        parts.append(
            f"pp{k} AS MATERIALIZED (SELECT t.vid, "
            f"( {1 - d} + {d} * (SELECT coalesce(sum(p.pr), 0) FROM {p} p "
            f"LEFT JOIN pod o ON p.vid = o.vid WHERE o.vid IS NULL) ) * t.t "
            f"+ {d} * coalesce(g.gath, 0) AS pr "
            f"FROM tele t LEFT JOIN ("
            f"SELECT e.dst AS vid, sum(p.pr / o.od) AS gath "
            f"FROM eg e JOIN {p} p ON e.src = p.vid JOIN pod o ON e.src = o.vid "
            f"GROUP BY e.dst) g ON t.vid = g.vid)"
        )
    return (
        "WITH " + ", ".join(parts) + f" SELECT vid, round(pr, 8) AS pr_r FROM pp{iters}"
    )


def q_graph_kcore(spark, sf_dir):
    from parrsb_spark.operators.kcore import kcore

    return kcore(
        copurchase_edges(spark, sf_dir), k=KCORE_K, max_rounds=KCORE_ROUNDS
    ).select("vid", "core_deg")


def sql_graph_kcore(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    # synchronous peel unrolled to the operator's max_rounds: converged
    # rounds are no-ops (the survivor set only shrinks), so the fixed
    # point the Spark side early-exits at equals round `rounds` exactly
    parts = [CP_CTE, CP_VERTS_CTE, CP_SYM_CTE, "kc0 AS (SELECT vid FROM cpverts)"]
    for r in range(1, rounds + 1):
        p = f"kc{r - 1}"
        parts.append(
            f"kc{r} AS MATERIALIZED (SELECT s.src AS vid, count(*) AS cd "
            f"FROM cpsym s JOIN {p} a ON s.src = a.vid JOIN {p} b ON s.dst = b.vid "
            f"GROUP BY s.src HAVING count(*) >= {k})"
        )
    return (
        "WITH " + ", ".join(parts) + f" SELECT vid, cd AS core_deg FROM kc{rounds}"
    )


KATZ_ALPHA = 0.01
KATZ_ROUNDS = 6


def q_graph_katz(spark, sf_dir):
    """Round-6 truncated Katz centrality over the co-purchase graph.
    Walk counts are exact decimal(38,0) integers; α^k enters once per
    round in a fixed per-vertex scalar accumulation, so the row is
    BITWISE deterministic — no round-8 float gate (the determinism
    upgrade the truncated-polynomial form allows over the
    pagerank/hits recursive oracles)."""
    from parrsb_spark.operators.katz import katz_centrality

    return katz_centrality(
        copurchase_edges(spark, sf_dir), alpha=KATZ_ALPHA, rounds=KATZ_ROUNDS
    ).select("vid", "katz")


def sql_graph_katz(alpha: float = KATZ_ALPHA, rounds: int = KATZ_ROUNDS) -> str:
    # katz.py replayed verbatim: exact integer walk-count gathers in
    # decimal(38,0), ascending-k scalar accumulation with the SAME
    # double literals (repr round-trips bitwise)
    parts = [
        CP_CTE,
        CP_VERTS_CTE,
        CP_SYM_CTE,
        "kz0 AS MATERIALIZED (SELECT vid, CAST(1 AS DECIMAL(38,0)) AS w, "
        "0.0 AS katz FROM cpverts)",
    ]
    for k in range(1, rounds + 1):
        p = f"kz{k - 1}"
        coef = repr(alpha ** k)
        parts += [
            f"kg{k} AS (SELECT s.dst AS vid, CAST(sum(e.w) AS DECIMAL(38,0)) AS wn "
            f"FROM cpsym s JOIN {p} e ON s.src = e.vid GROUP BY s.dst)",
            f"kz{k} AS MATERIALIZED (SELECT e.vid, "
            f"coalesce(g.wn, CAST(0 AS DECIMAL(38,0))) AS w, "
            f"e.katz + {coef} * CAST(coalesce(g.wn, CAST(0 AS DECIMAL(38,0))) AS DOUBLE) AS katz "
            f"FROM {p} e LEFT JOIN kg{k} g ON e.vid = g.vid)",
        ]
    return "WITH " + ", ".join(parts) + f" SELECT vid, katz FROM kz{rounds}"


CORENESS_ROUNDS = 16


def q_graph_coreness(spark, sf_dir):
    """Full core decomposition of the co-purchase graph — every
    vertex's exact core number via Montresor h-index iteration
    (monotone integer estimates; the `graph_kcore` row samples one k,
    this row is the whole profile). Converged rounds are no-ops, so
    the fixed point equals the CORENESS_ROUNDS-round unrolling."""
    from parrsb_spark.operators.coreness import coreness

    return coreness(
        copurchase_edges(spark, sf_dir), max_rounds=CORENESS_ROUNDS
    ).select("vid", "core")


def sql_graph_coreness(rounds: int = CORENESS_ROUNDS) -> str:
    # coreness.py recurrence verbatim: est0 = degree; per round the
    # h-index of the neighbour-estimate multiset via distinct-value
    # counts + a per-vid DESC cumulative (no ties within a vid — the
    # rows are grouped by (vid, est)), est' = min(est, h)
    parts = [
        CP_CTE,
        CP_SYM_CTE,
        "ce0 AS MATERIALIZED (SELECT src AS vid, CAST(count(*) AS INTEGER) AS est "
        "FROM cpsym GROUP BY src)",
    ]
    for r in range(1, rounds + 1):
        p = f"ce{r - 1}"
        parts += [
            f"cct{r} AS (SELECT s.dst AS vid, e.est, count(*) AS c "
            f"FROM cpsym s JOIN {p} e ON s.src = e.vid GROUP BY s.dst, e.est)",
            f"chx{r} AS (SELECT vid, CAST(max(least(est, c_ge)) AS INTEGER) AS h FROM ("
            f"SELECT vid, est, sum(c) OVER (PARTITION BY vid ORDER BY est DESC) AS c_ge "
            f"FROM cct{r}) GROUP BY vid)",
            f"ce{r} AS MATERIALIZED (SELECT e.vid, least(e.est, h.h) AS est "
            f"FROM {p} e JOIN chx{r} h ON e.vid = h.vid)",
        ]
    return "WITH " + ", ".join(parts) + f" SELECT vid, est AS core FROM ce{rounds}"


TRUSS_K = 6
TRUSS_ROUNDS = 4


def q_graph_truss(spark, sf_dir):
    """Edges of the 6-truss of the co-purchase graph after ≤4
    synchronous peel rounds, with exact in-subgraph support. Every
    quantity is an integer count, so the row is exact; the oracle
    unrolls the identical recurrence (converged rounds are no-ops, so
    Spark's fixed-point early exit equals round TRUSS_ROUNDS)."""
    from parrsb_spark.operators.truss import truss

    return truss(
        copurchase_edges(spark, sf_dir), k=TRUSS_K, max_rounds=TRUSS_ROUNDS
    ).select("u", "v", "support")


def sql_graph_truss(k: int = TRUSS_K, rounds: int = TRUSS_ROUNDS) -> str:
    # per-round: triangles of the survivor set (canonical u<v edges,
    # each triangle once via u<v<w joins) materialized ONCE, 3-way edge
    # explode, count, filter support >= k-2 — the truss.py recurrence
    def tri_sup(r: int, src: str) -> list[str]:
        return [
            f"tri{r} AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c "
            f"FROM {src} e1 JOIN {src} e2 ON e1.u = e2.u AND e1.v < e2.v "
            f"JOIN {src} e3 ON e3.u = e1.v AND e3.v = e2.v)",
            f"sup{r} AS MATERIALIZED (SELECT t.u, t.v, count(*) AS support FROM "
            f"(SELECT a AS u, b AS v FROM tri{r} "
            f"UNION ALL SELECT a, c FROM tri{r} "
            f"UNION ALL SELECT b, c FROM tri{r}) t GROUP BY t.u, t.v)",
        ]

    parts = [
        CP_CTE,
        "t0 AS MATERIALIZED (SELECT src AS u, dst AS v FROM cp WHERE src < dst "
        "UNION SELECT dst, src FROM cp WHERE dst < src)",
    ]
    for r in range(1, rounds + 1):
        parts += tri_sup(r, f"t{r - 1}")
        parts.append(
            f"t{r} AS MATERIALIZED (SELECT e.u, e.v FROM t{r - 1} e "
            f"JOIN sup{r} s ON e.u = s.u AND e.v = s.v "
            f"WHERE s.support >= {k - 2})"
        )
    parts += tri_sup(rounds + 1, f"t{rounds}")
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT e.u, e.v, coalesce(s.support, 0) AS support "
        f"FROM t{rounds} e LEFT JOIN sup{rounds + 1} s "
        "ON e.u = s.u AND e.v = s.v"
    )


MIS_ROUNDS = 10
MATCHING_ROUNDS = 12


def q_graph_mis(spark, sf_dir):
    """Luby-style maximal independent set of the co-purchase graph:
    (vid, in_mis, round). Priorities are the exact-integer Knuth hash
    totally ordered by (p, vid), so every round's winner set is
    bitwise partition-independent; the oracle unrolls the identical
    recurrence (measured convergence: round 7 at sf0.01 — converged
    rounds are no-ops)."""
    from parrsb_spark.operators.mis import mis

    # local_threshold arms the driver-local tail replay (bitwise the
    # same rows — tests/test_mis_matching.py proves parity round by
    # round): once the live edge set collapses under 100k rows the
    # remaining near-empty rounds finish in one bounded collect instead
    # of ~5 driver-latency jobs each (r5 VERDICT: 0.29 efficiency tail)
    return mis(
        copurchase_edges(spark, sf_dir), max_rounds=MIS_ROUNDS, local_threshold=100_000
    ).select("vid", "in_mis", "round")


def sql_graph_mis(rounds: int = MIS_ROUNDS) -> str:
    # mis.py recurrence verbatim: strict struct(p, vid) local minimum
    # wins, undecided neighbours of winners leave, repeat on the
    # shrunken undecided set. DuckDB struct comparison is lexicographic
    # by field order, matching Spark's struct(p, vid) order.
    parts = [
        CP_CTE,
        CP_VERTS_CTE,
        CP_SYM_CTE,
        "u0 AS MATERIALIZED (SELECT CAST(vid AS BIGINT) AS vid, "
        "(CAST(vid AS BIGINT) * 2654435761) % 2147483648 AS p FROM cpverts)",
    ]
    decided = []
    for r in range(1, rounds + 1):
        pu = f"u{r - 1}"
        parts += [
            # live edges (both endpoints undecided) with dst priority
            f"l{r} AS MATERIALIZED (SELECT s.src, s.dst, b.p AS pd FROM cpsym s "
            f"JOIN {pu} a ON s.src = a.vid JOIN {pu} b ON s.dst = b.vid)",
            f"n{r} AS (SELECT src, min({{'p': pd, 'vid': CAST(dst AS BIGINT)}}) AS mn "
            f"FROM l{r} GROUP BY src)",
            f"w{r} AS MATERIALIZED (SELECT a.vid FROM {pu} a "
            f"LEFT JOIN n{r} n ON a.vid = n.src "
            f"WHERE n.mn IS NULL OR {{'p': a.p, 'vid': a.vid}} < n.mn)",
            f"x{r} AS MATERIALIZED (SELECT DISTINCT CAST(l.dst AS BIGINT) AS vid "
            f"FROM l{r} l JOIN w{r} w ON l.src = w.vid)",
            f"u{r} AS MATERIALIZED (SELECT a.vid, a.p FROM {pu} a "
            f"WHERE a.vid NOT IN (SELECT vid FROM w{r}) "
            f"AND a.vid NOT IN (SELECT vid FROM x{r}))",
        ]
        decided += [
            f"SELECT vid, 1 AS in_mis, {r} AS round FROM w{r}",
            f"SELECT vid, 0 AS in_mis, {r} AS round FROM x{r}",
        ]
    decided.append(f"SELECT vid, -1 AS in_mis, -1 AS round FROM u{rounds}")
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(decided)


def q_graph_matching(spark, sf_dir):
    """Israeli–Itai maximal matching of the co-purchase graph:
    (u, v, round). Per-round re-randomized exact-integer priorities
    (measured: 8 rounds at sf0.01 vs 27 with fixed priorities),
    handshake winners only — bitwise partition-independent; the
    oracle unrolls the identical recurrence."""
    from parrsb_spark.operators.matching import maximal_matching

    return maximal_matching(
        copurchase_edges(spark, sf_dir), max_rounds=MATCHING_ROUNDS
    ).select("u", "v", "round")


def sql_graph_matching(rounds: int = MATCHING_ROUNDS) -> str:
    # matching.py recurrence verbatim: per-round priority
    # ((u·K + v·M2 mod 2^31) + r)·K mod 2^31, per-vertex min over the
    # 2-role explode, handshake equality at both endpoints.
    parts = [
        CP_CTE,
        "t0 AS MATERIALIZED (SELECT CAST(src AS BIGINT) AS u, "
        "CAST(dst AS BIGINT) AS v FROM cp)",
    ]
    decided = []
    for r in range(1, rounds + 1):
        pt = f"t{r - 1}"
        parts += [
            f"lv{r} AS MATERIALIZED (SELECT u, v, "
            f"((u * 2654435761 + v * 40503) % 2147483648 + {r}) * 2654435761 "
            f"% 2147483648 AS p FROM {pt})",
            f"vm{r} AS (SELECT vid, min(s) AS mn FROM ("
            f"SELECT u AS vid, {{'p': p, 'u': u, 'v': v}} AS s FROM lv{r} "
            f"UNION ALL SELECT v, {{'p': p, 'u': u, 'v': v}} FROM lv{r}) "
            f"GROUP BY vid)",
            f"w{r} AS MATERIALIZED (SELECT l.u, l.v FROM lv{r} l "
            f"JOIN vm{r} a ON l.u = a.vid AND {{'p': l.p, 'u': l.u, 'v': l.v}} = a.mn "
            f"JOIN vm{r} b ON l.v = b.vid AND {{'p': l.p, 'u': l.u, 'v': l.v}} = b.mn)",
            f"t{r} AS MATERIALIZED (SELECT e.u, e.v FROM {pt} e "
            f"WHERE e.u NOT IN (SELECT u FROM w{r} UNION SELECT v FROM w{r}) "
            f"AND e.v NOT IN (SELECT u FROM w{r} UNION SELECT v FROM w{r}))",
        ]
        decided.append(f"SELECT u, v, {r} AS round FROM w{r}")
    return "WITH " + ", ".join(parts) + " " + " UNION ALL ".join(decided)


COLORING_ROUNDS = 40


def q_graph_coloring(spark, sf_dir):
    """Speculative greedy coloring (Gebremedhin–Manne conflict-retry)
    of the co-purchase graph: (vid, color, round). Exact-integer
    priorities make every round's commit set bitwise
    partition-independent; measured convergence round 38 at sf0.01
    (rounds track the largest color on clique-heavy graphs), so the
    40-round unroll covers the fixed point with margin — and by the
    any-round-bound contract the row would stay exact even if it
    didn't (leftovers are (-1, -1) on both sides)."""
    from parrsb_spark.operators.coloring import greedy_coloring

    return greedy_coloring(
        copurchase_edges(spark, sf_dir), max_rounds=COLORING_ROUNDS
    ).select("vid", "color", "round")


def sql_graph_coloring(rounds: int = COLORING_ROUNDS) -> str:
    # coloring.py "spec" recurrence verbatim: per-round hub-safe mex
    # (candidates {0} ∪ {c+1}, min not present), same-tentative-color
    # conflict resolution by strict struct(p, vid) minimum.
    parts = [
        CP_CTE,
        CP_VERTS_CTE,
        CP_SYM_CTE,
        "cu0 AS MATERIALIZED (SELECT CAST(vid AS BIGINT) AS vid, "
        "(CAST(vid AS BIGINT) * 2654435761) % 2147483648 AS p FROM cpverts)",
        "ccol0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS vid, "
        "CAST(NULL AS INTEGER) AS color, CAST(NULL AS INTEGER) AS round WHERE 1=0)",
    ]
    for r in range(1, rounds + 1):
        pu, pc = f"cu{r - 1}", f"ccol{r - 1}"
        parts += [
            # distinct committed-neighbour colors of each uncolored vertex
            f"cpr{r} AS MATERIALIZED (SELECT DISTINCT s.src AS vid, c.color "
            f"FROM cpsym s JOIN {pu} t ON s.src = t.vid "
            f"JOIN {pc} c ON s.dst = c.vid)",
            # hub-safe mex: candidates {0} ∪ {c+1}, min not present
            f"cmx{r} AS MATERIALIZED (SELECT a.vid, min(a.cand) AS color FROM ("
            f"SELECT vid, 0 AS cand FROM {pu} "
            f"UNION ALL SELECT vid, color + 1 FROM cpr{r}) a "
            f"WHERE NOT EXISTS (SELECT 1 FROM cpr{r} p "
            f"WHERE p.vid = a.vid AND p.color = a.cand) GROUP BY a.vid)",
            # tentative picks with priorities
            f"ctx{r} AS MATERIALIZED (SELECT m.vid, u.p, m.color "
            f"FROM cmx{r} m JOIN {pu} u ON m.vid = u.vid)",
            # strict struct(p, vid) min over same-color tentative neighbours
            f"ccl{r} AS MATERIALIZED (SELECT ta.vid, "
            f"min({{'p': tb.p, 'vid': tb.vid}}) AS mn "
            f"FROM cpsym s JOIN ctx{r} ta ON s.src = ta.vid "
            f"JOIN ctx{r} tb ON s.dst = tb.vid AND ta.color = tb.color "
            f"GROUP BY ta.vid)",
            f"cwn{r} AS MATERIALIZED (SELECT ta.vid, ta.color FROM ctx{r} ta "
            f"LEFT JOIN ccl{r} c ON ta.vid = c.vid "
            f"WHERE c.mn IS NULL OR {{'p': ta.p, 'vid': ta.vid}} < c.mn)",
            f"ccol{r} AS MATERIALIZED (SELECT vid, color, round FROM {pc} "
            f"UNION ALL SELECT vid, color, {r} AS round FROM cwn{r})",
            f"cu{r} AS MATERIALIZED (SELECT u.vid, u.p FROM {pu} u "
            f"WHERE u.vid NOT IN (SELECT vid FROM cwn{r}))",
        ]
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT vid, color, round FROM ccol{rounds} "
        f"UNION ALL SELECT vid, -1 AS color, -1 AS round FROM cu{rounds}"
    )


def q_graph_bfs(spark, sf_dir):
    from parrsb_spark.operators.bfs import bfs_distances
    from parrsb_spark.sources.edges import vertices_from_edges

    e = bipartite_edges(spark, sf_dir)
    seeds = vertices_from_edges(e).orderBy("vid").limit(BFS_N_SEEDS)
    return bfs_distances(e, seeds, max_hops=BFS_HOPS).select("vid", "dist")


def sql_graph_bfs(hops: int = BFS_HOPS) -> str:
    # frontier BFS unrolled: settled distances never change, so the
    # Spark side's empty-frontier early exit equals exactly `hops` rounds
    parts = [
        EG_CTE,
        VERTS_CTE,
        SYM_CTE,
        f"bseeds AS MATERIALIZED (SELECT vid FROM verts ORDER BY vid LIMIT {BFS_N_SEEDS})",
        "b0 AS (SELECT vid, CAST(0 AS BIGINT) AS dist FROM bseeds)",
    ]
    for h in range(1, hops + 1):
        p = f"b{h - 1}"
        parts.append(
            f"b{h} AS MATERIALIZED (SELECT vid, dist FROM {p} UNION ALL "
            f"SELECT r.vid, CAST({h} AS BIGINT) AS dist FROM "
            f"(SELECT DISTINCT s.dst AS vid FROM sym s JOIN {p} f "
            f"ON s.src = f.vid AND f.dist = {h - 1}) r "
            f"LEFT JOIN {p} q ON r.vid = q.vid WHERE q.vid IS NULL)"
        )
    return "WITH " + ", ".join(parts) + f" SELECT vid, dist FROM b{hops}"


BC_N_SOURCES = 4
BC_HOPS = 8


def q_graph_betweenness(spark, sf_dir):
    """k-source exact Brandes betweenness over the bipartite graph
    (sources = the 4 lowest vids — the Brandes-Pich estimator shape,
    exact over the source set). σ path counts are exact integers;
    every δ reduce is an ordered fold (the linkpred determinism
    discipline), so the row is bitwise partition-independent; forward
    AND backward run the fixed BC_HOPS levels with empty levels as
    no-ops (the sssp any-round-bound contract)."""
    from parrsb_spark.operators.betweenness import betweenness
    from parrsb_spark.sources.edges import vertices_from_edges

    e = bipartite_edges(spark, sf_dir)
    srcs = vertices_from_edges(e).orderBy("vid").limit(BC_N_SOURCES)
    return betweenness(e, srcs, max_hops=BC_HOPS).select("vid", "bc")


def q_graph_edge_betweenness(spark, sf_dir):
    """Girvan–Newman edge betweenness over the bipartite graph, same
    source set and discipline as `graph_betweenness` — every BFS-DAG
    edge's dependency term folded per canonical edge in ascending
    (source, orientation) order; bitwise partition-independent."""
    from parrsb_spark.operators.betweenness import edge_betweenness
    from parrsb_spark.sources.edges import vertices_from_edges

    e = bipartite_edges(spark, sf_dir)
    srcs = vertices_from_edges(e).orderBy("vid").limit(BC_N_SOURCES)
    return edge_betweenness(e, srcs, max_hops=BC_HOPS).select("u", "v", "ebc")


def sql_graph_edge_betweenness(hops: int = BC_HOPS) -> str:
    parts = _bc_cte_parts(hops)
    allet = " UNION ALL ".join(f"SELECT * FROM et{h}" for h in range(1, hops + 1))
    parts.append(f"allet AS MATERIALIZED ({allet})")
    return (
        "WITH "
        + ", ".join(parts)
        + " SELECT e.u, e.v, coalesce(f.ebc, 0.0) AS ebc FROM "
        "(SELECT src AS u, dst AS v FROM sym WHERE src < dst) e LEFT JOIN ("
        "SELECT least(u, v) AS a, greatest(u, v) AS b, "
        "list_reduce(list_prepend(0.0, list(term ORDER BY s, u, term)), "
        "(x, y) -> x + y) AS ebc FROM allet GROUP BY a, b) f "
        "ON e.u = f.a AND e.v = f.b"
    )


def sql_graph_betweenness(hops: int = BC_HOPS) -> str:
    parts = _bc_cte_parts(hops)
    alld = " UNION ALL ".join(f"SELECT * FROM dl{h}" for h in range(0, hops + 1))
    parts.append(f"alld AS MATERIALIZED ({alld})")
    return (
        "WITH "
        + ", ".join(parts)
        + " SELECT v.vid, coalesce(b.bc, 0.0) AS bc FROM verts v LEFT JOIN ("
        "SELECT vid, list_reduce(list_prepend(0.0, list(delta ORDER BY s)), "
        "(x, y) -> x + y) AS bc FROM alld WHERE s <> vid GROUP BY vid) b "
        "ON v.vid = b.vid"
    )


def _bc_cte_parts(hops: int) -> list[str]:
    # betweenness.py replayed verbatim: forward σ accumulation per
    # level, backward per-DAG-edge terms (et) + ordered-fold vertex
    # dependency (dl) per level — shared by the vertex and edge rows
    parts = [
        EG_CTE,
        VERTS_CTE,
        SYM_CTE,
        f"bcsrc AS MATERIALIZED (SELECT vid AS s FROM verts ORDER BY vid LIMIT {BC_N_SOURCES})",
        "w0 AS (SELECT s, s AS vid, 0 AS dist, CAST(1 AS BIGINT) AS sigma FROM bcsrc)",
    ]
    for h in range(1, hops + 1):
        p = f"w{h - 1}"
        parts += [
            f"wn{h} AS MATERIALIZED (SELECT f.s, e.dst AS vid, {h} AS dist, "
            f"sum(f.sigma) AS sigma FROM {p} f "
            f"JOIN sym e ON f.vid = e.src AND f.dist = {h - 1} "
            f"WHERE NOT EXISTS (SELECT 1 FROM {p} q WHERE q.s = f.s AND q.vid = e.dst) "
            f"GROUP BY f.s, e.dst)",
            f"w{h} AS MATERIALIZED (SELECT * FROM {p} UNION ALL SELECT * FROM wn{h})",
        ]
    W = f"w{hops}"
    parts.append(
        f"dl{hops} AS (SELECT s, vid, CAST(0 AS DOUBLE) AS delta "
        f"FROM {W} WHERE dist = {hops})"
    )
    for h in range(hops, 0, -1):
        parts += [
            f"et{h} AS MATERIALIZED (SELECT p.s, p.u, p.v, "
            f"CAST(p.su AS DOUBLE) / CAST(p.sv AS DOUBLE) * "
            f"(1.0 + coalesce(d.delta, 0.0)) AS term "
            f"FROM (SELECT lo.s, lo.vid AS u, lo.sigma AS su, hi.vid AS v, hi.sigma AS sv "
            f"FROM {W} lo JOIN sym e ON lo.vid = e.src AND lo.dist = {h - 1} "
            f"JOIN {W} hi ON hi.s = lo.s AND hi.vid = e.dst AND hi.dist = {h}) p "
            f"LEFT JOIN dl{h} d ON d.s = p.s AND d.vid = p.v)",
            f"dn{h} AS (SELECT s, u, list_reduce(list_prepend(0.0, "
            f"list(term ORDER BY v)), (x, y) -> x + y) AS delta "
            f"FROM et{h} GROUP BY s, u)",
            f"dl{h - 1} AS MATERIALIZED (SELECT t.s, t.vid, "
            f"coalesce(f.delta, 0.0) AS delta "
            f"FROM (SELECT s, vid FROM {W} WHERE dist = {h - 1}) t "
            f"LEFT JOIN dn{h} f ON f.s = t.s AND f.u = t.vid)",
        ]
    return parts


def q_graph_sssp(spark, sf_dir):
    from parrsb_spark.operators.sssp import sssp
    from parrsb_spark.sources.edges import vertices_from_edges

    e = bipartite_edges(spark, sf_dir)
    # deterministic positive integer weights derived from the endpoints;
    # symmetric under direction reversal, so the undirected expansion is
    # well-defined and dist stays an exact long end to end
    we = e.withColumn("w", (F.col("src") + F.col("dst")) % 7 + 1)
    seeds = vertices_from_edges(e).orderBy("vid").limit(SSSP_N_SEEDS)
    return sssp(we, seeds, max_rounds=SSSP_ROUNDS).select("vid", "dist")


def sql_graph_sssp(rounds: int = SSSP_ROUNDS) -> str:
    # full Bellman-Ford relaxation unrolled: after round h BOTH sides
    # hold exactly the best distance over paths of <= h edges (the
    # Spark kernel's delta pruning only skips provably no-op
    # relaxations), so equality holds at every h — converged or not
    parts = [
        EG_CTE,
        VERTS_CTE,
        "we AS MATERIALIZED (SELECT src, dst, (src + dst) % 7 + 1 AS w FROM eg "
        "UNION ALL SELECT dst AS src, src AS dst, (src + dst) % 7 + 1 AS w FROM eg)",
        f"wseeds AS MATERIALIZED (SELECT vid FROM verts ORDER BY vid LIMIT {SSSP_N_SEEDS})",
        "s0 AS (SELECT vid, CAST(0 AS BIGINT) AS dist FROM wseeds)",
    ]
    for h in range(1, rounds + 1):
        p = f"s{h - 1}"
        parts.append(
            f"s{h} AS MATERIALIZED (SELECT vid, min(dist) AS dist FROM ("
            f"SELECT vid, dist FROM {p} UNION ALL "
            f"SELECT e.dst AS vid, f.dist + e.w AS dist FROM we e JOIN {p} f "
            f"ON e.src = f.vid) GROUP BY vid)"
        )
    return "WITH " + ", ".join(parts) + f" SELECT vid, dist FROM s{rounds}"


def q_graph_cc(spark, sf_dir):
    from parrsb_spark.operators.components import connected_components

    return connected_components(bipartite_edges(spark, sf_dir)).select("vid", "comp")


def sql_graph_cc(iters: int = CC_ITERS) -> str:
    parts = [EG_CTE, VERTS_CTE, SYM_CTE, "l0 AS (SELECT vid, vid AS comp FROM verts)"]
    for k in range(1, iters + 1):
        p = f"l{k - 1}"
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT v.vid, least(v.comp, coalesce(m.mn, v.comp)) AS comp "
            f"FROM {p} v LEFT JOIN (SELECT s.dst AS vid, min(l.comp) AS mn "
            f"FROM sym s JOIN {p} l ON s.src = l.vid GROUP BY s.dst) m ON v.vid = m.vid)"
        )
    return "WITH " + ", ".join(parts) + f" SELECT vid, comp FROM l{iters}"


def q_graph_labelprop(spark, sf_dir):
    from parrsb_spark.operators.labelprop import label_propagation

    return label_propagation(copurchase_edges(spark, sf_dir), n_iter=LP_ITERS).select(
        "vid", "label"
    )


def sql_graph_labelprop(iters: int = LP_ITERS) -> str:
    parts = [CP_CTE, CP_VERTS_CTE, CP_SYM_CTE, "lp0 AS (SELECT vid, vid AS label FROM cpverts)"]
    for k in range(1, iters + 1):
        p = f"lp{k - 1}"
        parts.append(
            f"lp{k} AS MATERIALIZED (SELECT v.vid, coalesce(pick.new_label, v.label) AS label FROM {p} v "
            f"LEFT JOIN (SELECT vid, label AS new_label FROM ("
            f"SELECT t.vid, t.label, row_number() OVER (PARTITION BY t.vid ORDER BY t.cnt DESC, t.label ASC) AS rn "
            f"FROM (SELECT s.dst AS vid, l.label, count(*) AS cnt "
            f"FROM cpsym s JOIN {p} l ON s.src = l.vid GROUP BY s.dst, l.label) t) z "
            f"WHERE rn = 1) pick ON v.vid = pick.vid)"
        )
    return "WITH " + ", ".join(parts) + f" SELECT vid, label FROM lp{iters}"


def q_graph_triangles(spark, sf_dir):
    from parrsb_spark.operators.triangles import triangle_counts

    return triangle_counts(copurchase_edges(spark, sf_dir)).select("vid", "tri")


def sql_graph_triangles():
    return (
        f"WITH {CP_CTE}, {CP_VERTS_CTE}, "
        "tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w "
        "FROM cp e1 JOIN cp e2 ON e1.src = e2.src AND e1.dst < e2.dst "
        "JOIN cp e3 ON e3.src = e1.dst AND e3.dst = e2.dst), "
        "x AS (SELECT u AS vid FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri), "
        "cnts AS (SELECT vid, count(*) AS tri FROM x GROUP BY vid) "
        "SELECT cv.vid, coalesce(c.tri, 0) AS tri FROM cpverts cv LEFT JOIN cnts c ON cv.vid = c.vid"
    )


def q_graph_lcc(spark, sf_dir):
    from parrsb_spark.operators.triangles import clustering_coefficients

    return clustering_coefficients(copurchase_edges(spark, sf_dir)).select(
        "vid", "tri", "deg", "lcc"
    )


def sql_graph_lcc() -> str:
    # same triangle CTE as sql_graph_triangles + the symmetrized degree;
    # lcc = 2*tri/(deg*(deg-1)) is ONE double division on exact integer
    # operands, so Spark and DuckDB agree bitwise
    return (
        f"WITH {CP_CTE}, {CP_SYM_CTE}, {CP_VERTS_CTE}, "
        "tri AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w "
        "FROM cp e1 JOIN cp e2 ON e1.src = e2.src AND e1.dst < e2.dst "
        "JOIN cp e3 ON e3.src = e1.dst AND e3.dst = e2.dst), "
        "x AS (SELECT u AS vid FROM tri UNION ALL SELECT v FROM tri UNION ALL SELECT w FROM tri), "
        "cnts AS (SELECT vid, count(*) AS tri FROM x GROUP BY vid), "
        "dg AS (SELECT src AS vid, count(*) AS deg FROM cpsym GROUP BY src) "
        "SELECT cv.vid, coalesce(c.tri, 0) AS tri, coalesce(d.deg, 0) AS deg, "
        "CASE WHEN coalesce(d.deg, 0) >= 2 "
        "THEN 2.0 * coalesce(c.tri, 0) / (CAST(d.deg AS DOUBLE) * CAST(d.deg - 1 AS DOUBLE)) "
        "ELSE 0.0 END AS lcc "
        "FROM cpverts cv LEFT JOIN cnts c ON cv.vid = c.vid "
        "LEFT JOIN dg d ON cv.vid = d.vid"
    )


def q_graph_assortativity(spark, sf_dir):
    """Degree assortativity of the co-purchase graph — one row of
    exact integer sums (m, s_x, s_xy, s_xx as decimal/hugeint) plus
    the Pearson degree-degree correlation r, a single rational
    expression over those exact operands (no sqrt — the symmetric
    edge list collapses the two variance terms). Bitwise-deterministic
    by design; see operators/graphstats.py."""
    from parrsb_spark.operators.graphstats import degree_assortativity

    out = degree_assortativity(copurchase_edges(spark, sf_dir))
    # Engine-boundary type parity (round-5 driver red row): the kernel
    # accumulates the sums as decimal(38,0) (overflow-safe at 10^12
    # edges), but DuckDB's HUGEINT comes back to Python as int while
    # Spark's decimal comes back as Decimal — same VALUE, different
    # repr, and the driver hashes stricter than the 9-digit normalizer.
    # At the correctness scale factors every sum fits comfortably in
    # int64 (s_xy < 10^15 at sf0.1), so the QUERY SURFACE casts to
    # bigint; the kernel itself keeps the exact decimal arithmetic.
    return out.select("m", *[checked_long(c) for c in ("s_x", "s_xy", "s_xx")], "r")


def checked_long(name: str):
    """Column `name` cast to bigint, raising when the value lies outside
    int64 under either ANSI setting (ANSI off would otherwise return
    NULL). NULL stays NULL."""
    c = F.col(name)
    return (
        F.when(
            ~c.between(F.lit(-(1 << 63)), F.lit((1 << 63) - 1)),
            F.raise_error(F.lit(f"{name} is outside the bigint range")),
        )
        .otherwise(c.cast("long"))
        .alias(name)
    )


def sql_graph_assortativity() -> str:
    md = "CAST(m AS DOUBLE)"
    sxd = "CAST(s_x AS DOUBLE)"
    return (
        f"WITH {CP_CTE}, {CP_SYM_CTE}, "
        "dg AS MATERIALIZED (SELECT src AS vid, count(*) AS deg FROM cpsym GROUP BY src), "
        "pr AS (SELECT d1.deg AS dx, d2.deg AS dy "
        "FROM cpsym e JOIN dg d1 ON e.src = d1.vid JOIN dg d2 ON e.dst = d2.vid), "
        "ag AS (SELECT count(*) AS m, "
        "sum(CAST(dx AS HUGEINT)) AS s_x, "
        "sum(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS s_xy, "
        "sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS s_xx FROM pr) "
        "SELECT m, s_x, s_xy, s_xx, "
        f"CASE WHEN {md} * CAST(s_xx AS DOUBLE) - {sxd} * {sxd} != 0 "
        f"THEN ({md} * CAST(s_xy AS DOUBLE) - {sxd} * {sxd}) "
        f"/ ({md} * CAST(s_xx AS DOUBLE) - {sxd} * {sxd}) END AS r "
        "FROM ag"
    )


def q_graph_reciprocity(spark, sf_dir):
    """Edge reciprocity of the directed chain-digraph — (m, recip, r):
    reciprocal-edge count over directed edge count, exact integers
    plus one exact division. The digraph's md5-gated back edges make
    r land strictly inside (0, 1)."""
    from parrsb_spark.operators.graphstats import reciprocity

    return reciprocity(scc_digraph_edges(spark, sf_dir))


def sql_graph_reciprocity() -> str:
    return (
        f"WITH {_SCC_EDGE_CTES}, "
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM de WHERE src != dst), "
        "mm AS (SELECT count(*) AS m FROM e), "
        "rr AS (SELECT count(*) AS recip FROM e a "
        "WHERE EXISTS (SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src)) "
        "SELECT mm.m, rr.recip, "
        "CAST(rr.recip AS DOUBLE) / CAST(mm.m AS DOUBLE) AS r "
        "FROM mm CROSS JOIN rr"
    )


LOUVAIN_ROUNDS = 3


def q_graph_louvain(spark, sf_dir):
    """Three synchronous Louvain-sweep rounds (modularity-gain label
    moves, Blondel et al. 2008 phase 1 in its data-parallel form) on
    the co-purchase graph — per-vertex community ids. Every gain
    operand is an exact integer aggregate, so the float gains and the
    struct-argmax replay identically in the unrolled oracle."""
    from parrsb_spark.operators.community import louvain_moves

    return louvain_moves(copurchase_edges(spark, sf_dir), n_rounds=LOUVAIN_ROUNDS)


def sql_graph_louvain(rounds: int = LOUVAIN_ROUNDS) -> str:
    m2 = "(SELECT CAST(sum(deg) AS DOUBLE) FROM dg)"
    parts = [
        CP_CTE,
        CP_VERTS_CTE,
        CP_SYM_CTE,
        "dg AS MATERIALIZED (SELECT src AS vid, count(*) AS deg FROM cpsym GROUP BY src)",
        "lb0 AS (SELECT vid, vid AS lab FROM cpverts)",
    ]
    for r in range(1, rounds + 1):
        p = f"lb{r - 1}"
        parts += [
            f"cd{r} AS (SELECT l.lab, sum(d.deg) AS dc FROM {p} l "
            f"JOIN dg d ON l.vid = d.vid GROUP BY l.lab)",
            f"kv{r} AS (SELECT s.src AS vid, l.lab AS cand, count(*) AS kin "
            f"FROM cpsym s JOIN {p} l ON s.dst = l.vid GROUP BY s.src, l.lab)",
            # the louvain_moves gain expression verbatim
            f"gn{r} AS (SELECT k.vid, k.cand, CAST(k.kin AS DOUBLE) "
            f"- CAST(d.deg AS DOUBLE) * (CAST(c.dc AS DOUBLE) "
            f"- CASE WHEN k.cand = o.lab THEN CAST(d.deg AS DOUBLE) ELSE 0.0 END) "
            f"/ {m2} AS g "
            f"FROM kv{r} k JOIN dg d ON k.vid = d.vid "
            f"JOIN cd{r} c ON k.cand = c.lab JOIN {p} o ON k.vid = o.vid)",
            # struct-max twin: max gain, then smallest community id
            # among EXACT-equal maxima (identical doubles both engines)
            f"mx{r} AS (SELECT vid, max(g) AS mg FROM gn{r} GROUP BY vid)",
            f"lb{r} AS MATERIALIZED (SELECT g.vid, min(g.cand) AS lab "
            f"FROM gn{r} g JOIN mx{r} x ON g.vid = x.vid AND g.g = x.mg "
            f"GROUP BY g.vid)",
        ]
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT vid, lab AS community FROM lb{rounds}"
    )


def q_graph_modularity(spark, sf_dir):
    """Newman modularity decomposition of the label-propagation
    communities on the co-purchase graph — the quality gate that
    completes the community pipeline (pattern of the reference's
    partition audit). Per-community aggregates are exact integers;
    `contrib` is one float expression written identically in the
    oracle, so the hash comparison is bitwise."""
    from parrsb_spark.operators.community import modularity_by_community
    from parrsb_spark.operators.labelprop import label_propagation

    edges = copurchase_edges(spark, sf_dir)
    labels = label_propagation(edges, n_iter=LP_ITERS).select("vid", "label")
    return modularity_by_community(edges, labels)


def sql_graph_modularity(iters: int = LP_ITERS) -> str:
    lp = sql_graph_labelprop(iters)
    # reuse the unrolled labelprop chain verbatim as the label map
    body = lp[len("WITH ") :]
    half = "(CAST(ds.deg_sum AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE)))"
    return (
        "WITH "
        + body.replace(f" SELECT vid, label FROM lp{iters}", "")
        + f", lab AS MATERIALIZED (SELECT vid, label FROM lp{iters})"
        ", ein AS (SELECT ls.label AS label, count(*) AS edges_in "
        "FROM cp e JOIN lab ls ON e.src = ls.vid JOIN lab ld ON e.dst = ld.vid "
        "WHERE ls.label = ld.label GROUP BY ls.label), "
        "dg AS (SELECT src AS vid, count(*) AS deg FROM cpsym GROUP BY src), "
        "ds AS (SELECT l.label, count(*) AS members, CAST(sum(d.deg) AS BIGINT) AS deg_sum "
        "FROM lab l JOIN dg d ON l.vid = d.vid GROUP BY l.label), "
        "mm AS (SELECT count(*) AS m FROM cp) "
        "SELECT ds.label, ds.members, CAST(coalesce(ein.edges_in, 0) AS BIGINT) AS edges_in, "
        "ds.deg_sum, "
        "CAST(coalesce(ein.edges_in, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE) "
        f"- {half} * {half} AS contrib "
        "FROM ds LEFT JOIN ein ON ds.label = ein.label CROSS JOIN mm"
    )


ANF_HOPS = 4
ANF_SKETCHES = 4


def q_graph_anf(spark, sf_dir):
    """ANF (Flajolet-Martin) reachability sketch after a fixed number
    of bit_or merge hops over the symmetrized bipartite graph. The
    sketch arithmetic is engine-portable integer math, so the oracle
    replays the distributed merge BIT-IDENTICALLY — masks and the
    least-zero-bit sum are exact; the float ball-size estimate derived
    from them is pytest-checked against exact BFS ball sizes."""
    from parrsb_spark.operators.anf import anf_masks

    return anf_masks(
        bipartite_edges(spark, sf_dir), n_hops=ANF_HOPS, n_sketches=ANF_SKETCHES
    )


def sql_graph_anf(hops: int = ANF_HOPS, k: int = ANF_SKETCHES) -> str:
    from parrsb_spark.operators.anf import _fm_mask_sql, _lzb_sql

    mask_cols = ", ".join(f"{_fm_mask_sql('vid', j)} AS s{j}" for j in range(k))
    parts = [EG_CTE, VERTS_CTE, SYM_CTE, f"m0 AS (SELECT vid, {mask_cols} FROM verts)"]
    for h in range(1, hops + 1):
        p = f"m{h - 1}"
        sel = ", ".join(f"v.s{j} | coalesce(n.o{j}, 0) AS s{j}" for j in range(k))
        ag = ", ".join(f"bit_or(m.s{j}) AS o{j}" for j in range(k))
        parts.append(
            f"m{h} AS MATERIALIZED (SELECT v.vid, {sel} FROM {p} v "
            f"LEFT JOIN (SELECT s.dst AS vid, {ag} FROM sym s JOIN {p} m "
            f"ON s.src = m.vid GROUP BY s.dst) n ON v.vid = n.vid)"
        )
    lzb = " + ".join(_lzb_sql(f"s{j}") for j in range(k))
    scols = ", ".join(f"s{j}" for j in range(k))
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT vid, {scols}, CAST({lzb} AS BIGINT) AS lzb_sum FROM m{hops}"
    )


def q_graph_nf_diameter(spark, sf_dir):
    """Per-hop neighborhood function N(h) (ANF, h = 0..ANF_HOPS) plus
    the interpolated 0.9-effective diameter (Palmer/Gibbons/Faloutsos
    KDD'02) — the standard webgraph distance summary. The per-hop
    totals are histogram-then-ordered-fold reductions over the exact
    integer sketch histograms (see anf.neighborhood_function), so the
    distributed part is order-independent; the oracle replays the
    identical mask hops, histogram fold, and interpolation. Gated at
    round-4 (pow ULP parity across engines, the graph_harmonic
    precedent — N is an estimate with ~1e-12 relative engine noise)."""
    from parrsb_spark.operators.anf import effective_diameter, neighborhood_function

    nf = neighborhood_function(
        bipartite_edges(spark, sf_dir), max_hops=ANF_HOPS, n_sketches=ANF_SKETCHES
    )
    # Fixed point before max_hops ⇒ N is constant from there; the pad
    # IS the mathematical continuation and equals the oracle's value
    # for those hops bitwise (the masks it would merge are identical).
    while len(nf) < ANF_HOPS + 1:
        nf.append((len(nf), nf[-1][1]))
    d = effective_diameter(nf, q=0.9)
    return spark.createDataFrame(
        [(h, est, d) for h, est in nf], "h bigint, nf_est double, d_eff double"
    ).select(
        "h",
        F.round("nf_est", 4).alias("nf_est"),
        F.round("d_eff", 4).alias("d_eff"),
    )


def sql_graph_nf_diameter(hops: int = ANF_HOPS, k: int = ANF_SKETCHES) -> str:
    from parrsb_spark.operators.anf import FM_PHI, _fm_mask_sql, _lzb_sql

    mask_cols = ", ".join(f"{_fm_mask_sql('vid', j)} AS s{j}" for j in range(k))
    parts = [EG_CTE, VERTS_CTE, SYM_CTE, f"m0 AS (SELECT vid, {mask_cols} FROM verts)"]
    for h in range(1, hops + 1):
        p = f"m{h - 1}"
        sel = ", ".join(f"v.s{j} | coalesce(n.o{j}, 0) AS s{j}" for j in range(k))
        ag = ", ".join(f"bit_or(m.s{j}) AS o{j}" for j in range(k))
        parts.append(
            f"m{h} AS MATERIALIZED (SELECT v.vid, {sel} FROM {p} v "
            f"LEFT JOIN (SELECT s.dst AS vid, {ag} FROM sym s JOIN {p} m "
            f"ON s.src = m.vid GROUP BY s.dst) n ON v.vid = n.vid)"
        )
    lzb = " + ".join(_lzb_sql(f"s{j}") for j in range(k))
    # per-hop: exact integer histogram of lzb_sum, then the SAME
    # ascending-s fold and single /phi the Spark driver performs
    for h in range(hops + 1):
        parts.append(
            f"nf{h} AS (SELECT list_reduce(list_prepend(0.0, "
            f"list(CAST(cnt AS DOUBLE) * pow(2.0, CAST(s AS DOUBLE) / CAST({k} AS DOUBLE)) ORDER BY s)), "
            f"(x, y) -> x + y) / {FM_PHI!r} AS nf "
            f"FROM (SELECT CAST({lzb} AS BIGINT) AS s, count(*) AS cnt FROM m{h} GROUP BY 1))"
        )
    nfs_union = " UNION ALL ".join(
        f"SELECT CAST({h} AS BIGINT) AS h, nf FROM nf{h}" for h in range(hops + 1)
    )
    parts.append(f"nfs AS MATERIALIZED ({nfs_union})")
    parts.append(f"tgt AS (SELECT 0.9 * nf AS t FROM nfs WHERE h = {hops})")
    parts.append(
        "crossh AS (SELECT min(h) AS h FROM nfs CROSS JOIN tgt WHERE nfs.nf >= tgt.t)"
    )
    parts.append(
        "deff AS (SELECT CASE WHEN c.h = 0 THEN 0.0 "
        "WHEN cur.nf = prv.nf THEN CAST(c.h AS DOUBLE) "
        "ELSE CAST(c.h - 1 AS DOUBLE) + (tgt.t - prv.nf) / (cur.nf - prv.nf) * CAST(1 AS DOUBLE) END AS d "
        "FROM crossh c JOIN nfs cur ON cur.h = c.h "
        "LEFT JOIN nfs prv ON prv.h = c.h - 1 CROSS JOIN tgt)"
    )
    return (
        "WITH "
        + ", ".join(parts)
        + " SELECT nfs.h, round(nfs.nf, 4) AS nf_est, round(deff.d, 4) AS d_eff "
        "FROM nfs CROSS JOIN deff"
    )


def q_graph_harmonic(spark, sf_dir):
    """FM-sketch harmonic centrality (Boldi-Vigna) after ANF_HOPS ball
    merges — the distance-based centrality for disconnected webgraphs.
    The sketch merge is bit-identical across engines (graph_anf); the
    per-hop estimate 2^(lzb/k)/phi and the Σ growth/h accumulator are
    the same expression text on both sides, so the only cross-engine
    noise is pow/ULP at ~1e-12 relative — far below the round-6
    parity. The estimates themselves are pytest-checked against exact
    BFS harmonic sums (tests/test_community_anf.py)."""
    from parrsb_spark.operators.anf import harmonic_centrality_estimates

    hc = harmonic_centrality_estimates(
        bipartite_edges(spark, sf_dir), max_hops=ANF_HOPS, n_sketches=ANF_SKETCHES
    )
    return hc.select("vid", F.round("harmonic_est", 6).alias("harmonic_est"))


def sql_graph_harmonic(hops: int = ANF_HOPS, k: int = ANF_SKETCHES) -> str:
    from parrsb_spark.operators.anf import FM_PHI, _fm_mask_sql, _lzb_sql

    def est() -> str:
        lzb = " + ".join(_lzb_sql(f"s{j}") for j in range(k))
        return f"(pow(2.0, ({lzb}) / {float(k)}) / {FM_PHI})"

    scols = ", ".join(f"s{j}" for j in range(k))
    mask_cols = ", ".join(f"{_fm_mask_sql('vid', j)} AS s{j}" for j in range(k))
    parts = [
        EG_CTE,
        VERTS_CTE,
        SYM_CTE,
        f"h0 AS (SELECT vid, {mask_cols} FROM verts)",
        f"e0 AS MATERIALIZED (SELECT vid, {scols}, {est()} AS prev_est, "
        "CAST(0.0 AS DOUBLE) AS harmonic_est FROM h0)",
    ]
    for h in range(1, hops + 1):
        p = f"e{h - 1}"
        sel = ", ".join(f"v.s{j} | coalesce(n.o{j}, 0) AS s{j}" for j in range(k))
        ag = ", ".join(f"bit_or(m.s{j}) AS o{j}" for j in range(k))
        parts.append(
            f"g{h} AS (SELECT v.vid, {sel}, v.prev_est, v.harmonic_est "
            f"FROM {p} v LEFT JOIN (SELECT s.dst AS vid, {ag} FROM sym s "
            f"JOIN {p} m ON s.src = m.vid GROUP BY s.dst) n ON v.vid = n.vid)"
        )
        parts.append(
            f"e{h} AS MATERIALIZED (SELECT vid, {scols}, {est()} AS prev_est, "
            f"harmonic_est + greatest({est()} - prev_est, 0.0) / {float(h)} "
            f"AS harmonic_est FROM g{h})"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT vid, round(harmonic_est, 6) AS harmonic_est FROM e{hops}"
    )


WALK_LEN = 4


def q_graph_walks(spark, sf_dir):
    """DeepWalk-style corpus: one deterministic hash-ranked random walk
    per vertex over the symmetrized bipartite graph. The pseudo-random
    step is portable integer math, so the oracle replays every walk
    BIT-IDENTICALLY — the distributed simulation is checked exactly."""
    from parrsb_spark.operators.walks import random_walks

    return random_walks(bipartite_edges(spark, sf_dir), walk_length=WALK_LEN).select(
        "walk_id", F.col("step").cast("long").alias("step"), "vid"
    )


def sql_graph_walks(walk_len: int = WALK_LEN) -> str:
    from parrsb_spark.operators.walks import _pick_hash_sql

    parts = [
        EG_CTE,
        VERTS_CTE,
        SYM_CTE,
        # rank-indexed adjacency, exactly the operator's setup: rnk =
        # 1-based position in src's dst-sorted neighbor list
        "adj AS MATERIALIZED (SELECT src, dst, "
        "row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk, "
        "count(*) OVER (PARTITION BY src) AS deg FROM sym)",
        "w0 AS MATERIALIZED (SELECT vid AS walk_id, vid FROM verts)",
    ]
    for k in range(1, walk_len + 1):
        p = f"w{k - 1}"
        h = _pick_hash_sql("w.walk_id", k, "w.vid")
        parts.append(
            f"w{k} AS MATERIALIZED (SELECT w.walk_id, coalesce(a.dst, w.vid) AS vid "
            f"FROM {p} w LEFT JOIN adj a ON a.src = w.vid "
            f"AND a.rnk = 1 + ({h} % a.deg))"
        )
    steps = " UNION ALL ".join(
        f"SELECT walk_id, CAST({k} AS BIGINT) AS step, vid FROM w{k}"
        for k in range(walk_len + 1)
    )
    return "WITH " + ", ".join(parts) + " " + steps


def q_graph_mirror_pairs(spark, sf_dir):
    from parrsb_spark.operators.checks import mirror_pairs

    return mirror_pairs(bipartite_edges(spark, sf_dir), min_shared=40).select("u", "v", "shared")


def sql_graph_mirror_pairs():
    return (
        f"WITH {EG_CTE}, {SYM_CTE} "
        "SELECT a.dst AS u, b.dst AS v, count(*) AS shared "
        "FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst "
        "GROUP BY a.dst, b.dst HAVING count(*) >= 40"
    )


LINKPRED_MIN_CN = 3


def q_graph_linkpred(spark, sf_dir):
    """Link-prediction scores (common-neighbors / Jaccard / Adamic-Adar
    / resource-allocation) for non-adjacent co-purchase pairs with ≥3
    shared neighbors. The co-purchase graph has triangles, so the
    existing-edge anti-join is genuinely exercised. Integer columns are
    exact; the float scores are ORDERED folds over (degree, count)
    terms on BOTH engines (ascending degree, same init, same term
    expression), so they agree bitwise and round-10 is safe. A plain
    sum was not: double addition follows shuffle arrival order, and
    one of three otherwise-identical boards flipped a hash at a
    round-10 boundary — see operators/linkpred.py."""
    from parrsb_spark.operators.linkpred import link_prediction_scores

    s = link_prediction_scores(
        copurchase_edges(spark, sf_dir), min_common=LINKPRED_MIN_CN
    )
    return s.select(
        "u",
        "v",
        "cn",
        F.round("jaccard", 10).alias("jaccard"),
        F.round("adamic_adar", 10).alias("adamic_adar"),
        F.round("resource_alloc", 10).alias("resource_alloc"),
    )


def sql_graph_linkpred(min_common: int = LINKPRED_MIN_CN) -> str:
    return (
        f"WITH {CP_CTE}, {CP_SYM_CTE}, "
        "dg AS MATERIALIZED (SELECT src AS vid, count(*) AS deg FROM cpsym GROUP BY src), "
        "wdg AS (SELECT a.src AS c, a.dst AS u, b.dst AS v "
        "FROM cpsym a JOIN cpsym b ON a.src = b.src AND a.dst < b.dst), "
        "tg AS (SELECT w.u, w.v, d.deg AS d, count(*) AS k "
        "FROM wdg w JOIN dg d ON w.c = d.vid GROUP BY w.u, w.v, d.deg), "
        "sc AS (SELECT u, v, CAST(sum(k) AS BIGINT) AS cn, "
        "list_reduce(list_prepend(0.0, list(CAST(k AS DOUBLE) / ln(CAST(d AS DOUBLE)) ORDER BY d)), (x, y) -> x + y) AS aa, "
        "list_reduce(list_prepend(0.0, list(CAST(k AS DOUBLE) / CAST(d AS DOUBLE) ORDER BY d)), (x, y) -> x + y) AS ra "
        f"FROM tg GROUP BY u, v HAVING sum(k) >= {min_common}) "
        "SELECT s.u, s.v, s.cn, "
        "round(CAST(s.cn AS DOUBLE) / CAST(du.deg + dv.deg - s.cn AS DOUBLE), 10) AS jaccard, "
        "round(s.aa, 10) AS adamic_adar, "
        "round(s.ra, 10) AS resource_alloc "
        "FROM sc s JOIN dg du ON s.u = du.vid JOIN dg dv ON s.v = dv.vid "
        "WHERE NOT EXISTS (SELECT 1 FROM cpsym e WHERE e.src = s.u AND e.dst = s.v)"
    )


SCC_CUST_MOD = 2  # keep every 2nd customer → ~750 vertices at sf0.01
SCC_BLOCK = 16  # independent chain blocks (bounds condensation depth)
SCC_BACK_DENS = 3  # back-edge density: (h//span) % 10 < 3 → ~30% of vertices
SCC_BACK_SPAN = 5  # back-edge span: 1 + h % 5 hops (clamped to block start)


def scc_digraph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DIRECTED test graph with rich SCC structure, derived
    from the customer table: dense-rank the kept custkeys to rid 0..n-1,
    partition rids into independent blocks of 16, wire a forward chain
    (rid→rid+1 within block) plus md5-gated back edges
    (rid → rid-(1+h%5), clamped to the block start, for ~30% of
    vertices). Back edges open cyclic windows on the chain; overlapping
    windows merge — at sf0.01: 750 vertices, 928 edges, 304 SCCs,
    largest 16. Blocks are deliberately NOT cross-linked: the FB-Trim
    SCC kernel's round count is the condensation's min-vid chain depth,
    so blocks bound it at 16 while every block resolves concurrently —
    a single global chain would serialize ANY multi-source SCC
    algorithm of this family. The bipartite/pages graphs can't serve
    here (one-way bipartite and copy-model DAGs have only trivial
    SCCs). Portable to the oracle via row_number + md5 modular
    arithmetic (functions/hashing.py)."""
    from parrsb_spark.functions.hashing import md5_long_col
    from parrsb_spark.functions.ids import dense_ids
    from parrsb_spark.functions.loop import counted_checkpoint

    c = _load(spark, sf_dir, "customer").filter(F.col("c_custkey") % SCC_CUST_MOD == 0)
    ids = dense_ids(c.select("c_custkey"), key_col="c_custkey", out_col="rid1")
    # one setup scalar (the oracle's count(*) twin), observed on the
    # checkpoint's job; a checkpoint, unlike a cache, leaves nothing to release
    cust, n, _ = counted_checkpoint(ids.select(
        (F.col("rid1") - 1).cast("bigint").alias("rid"),
        md5_long_col(F.col("c_custkey").cast("string")).alias("h"),
    ))
    fwd1 = cust.filter(
        (F.col("rid") + 1 < n) & ((F.col("rid") + 1) % SCC_BLOCK != 0)
    ).select(F.col("rid").alias("src"), (F.col("rid") + 1).alias("dst"))
    back = (
        cust.filter(
            (F.expr(f"h div {SCC_BACK_SPAN}") % 10 < SCC_BACK_DENS)
            & (F.col("rid") % SCC_BLOCK != 0)
        ).select(
            F.col("rid").alias("src"),
            F.greatest(
                F.col("rid") - (F.lit(1) + F.col("h") % SCC_BACK_SPAN),
                F.expr(f"(rid div {SCC_BLOCK}) * {SCC_BLOCK}"),
            ).alias("dst"),
        )
    )
    return fwd1.union(back).distinct()


# shared oracle CTE text: the same digraph + its transitive closure +
# per-vertex SCC ids (scc(v) = min u with v→u AND u→v, else v itself).
# Edge-generation prefix (cust/nn/de) reused standalone by the
# reciprocity row, which needs the digraph but not the reachability
# closure.
_SCC_EDGE_CTES = (
    "cust AS MATERIALIZED ("
    "  SELECT row_number() OVER (ORDER BY c_custkey) - 1 AS rid,"
    "         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h"
    f"  FROM customer WHERE c_custkey % {SCC_CUST_MOD} = 0), "
    "nn AS (SELECT count(*) AS n FROM cust), "
    "de AS MATERIALIZED ("
    "  SELECT rid AS src, rid + 1 AS dst FROM cust"
    f"  WHERE rid + 1 < (SELECT n FROM nn) AND (rid + 1) % {SCC_BLOCK} != 0"
    f"  UNION SELECT rid, greatest(rid - (1 + h % {SCC_BACK_SPAN}), (rid // {SCC_BLOCK}) * {SCC_BLOCK}) FROM cust"
    f"  WHERE (h // {SCC_BACK_SPAN}) % 10 < {SCC_BACK_DENS} AND rid % {SCC_BLOCK} != 0)"
)

_SCC_CTES = (
    f"{_SCC_EDGE_CTES}, "
    "dverts AS MATERIALIZED (SELECT rid AS vid FROM cust), "
    "reach(a, b) AS ("
    "  SELECT src, dst FROM de"
    "  UNION"
    "  SELECT r.a, e.dst FROM reach r JOIN de e ON r.b = e.src), "
    "sccm AS MATERIALIZED ("
    "  SELECT v.vid,"
    "         least(v.vid, coalesce(min(CASE WHEN r2.a IS NOT NULL THEN r1.b END), v.vid)) AS scc"
    "  FROM dverts v"
    "  LEFT JOIN reach r1 ON r1.a = v.vid"
    "  LEFT JOIN reach r2 ON r2.a = r1.b AND r2.b = v.vid"
    "  GROUP BY v.vid)"
)


def q_graph_scc(spark, sf_dir):
    """Strongly connected components of the directed chain-digraph —
    exact per-vertex SCC ids (min vid of the component)."""
    from parrsb_spark.operators.scc import strongly_connected_components

    e = scc_digraph_edges(spark, sf_dir)
    return strongly_connected_components(e).select("vid", "scc")


def sql_graph_scc() -> str:
    return f"WITH RECURSIVE {_SCC_CTES} SELECT vid, scc FROM sccm"


def q_graph_condensation(spark, sf_dir):
    """Condensation-DAG topological layering of the chain-digraph:
    per-vertex (scc, level) with level = longest path from any source
    SCC — the webgraph stratification depth."""
    from parrsb_spark.operators.scc import condensation_levels

    e = scc_digraph_edges(spark, sf_dir)
    return condensation_levels(e).select("vid", "scc", "level")


def sql_graph_condensation() -> str:
    return (
        f"WITH RECURSIVE {_SCC_CTES}, "
        "cde AS MATERIALIZED (SELECT DISTINCT a.scc AS src, b.scc AS dst "
        "FROM de e JOIN sccm a ON e.src = a.vid JOIN sccm b ON e.dst = b.vid "
        "WHERE a.scc != b.scc), "
        "paths(a, b, d) AS ("
        "  SELECT src, dst, 1 FROM cde"
        "  UNION"
        "  SELECT p.a, e.dst, p.d + 1 FROM paths p JOIN cde e ON p.b = e.src), "
        "lvl AS (SELECT s.scc, coalesce(max(p.d), 0) AS level "
        "FROM (SELECT DISTINCT scc FROM sccm) s "
        "LEFT JOIN paths p ON p.b = s.scc GROUP BY s.scc) "
        "SELECT m.vid, m.scc, l.level FROM sccm m JOIN lvl l ON m.scc = l.scc"
    )


def q_graph_bowtie(spark, sf_dir):
    """Bowtie decomposition (Broder et al., WWW 2000) of the directed
    chain-digraph relative to its largest SCC: per-vertex class in
    {core, in, out, other}."""
    from parrsb_spark.operators.scc import bowtie_classes

    e = scc_digraph_edges(spark, sf_dir)
    return bowtie_classes(e).select("vid", "cls")


def sql_graph_bowtie() -> str:
    return (
        f"WITH RECURSIVE {_SCC_CTES}, "
        "top AS (SELECT scc FROM (SELECT scc, count(*) AS c FROM sccm GROUP BY scc "
        "ORDER BY c DESC, scc ASC LIMIT 1)), "
        "core AS MATERIALIZED (SELECT vid FROM sccm WHERE scc = (SELECT scc FROM top)), "
        "fwd AS (SELECT vid FROM core UNION "
        "        SELECT r.b FROM reach r JOIN core c ON r.a = c.vid), "
        "bwd AS (SELECT vid FROM core UNION "
        "        SELECT r.a FROM reach r JOIN core c ON r.b = c.vid) "
        "SELECT v.vid, CASE "
        "WHEN EXISTS (SELECT 1 FROM core c WHERE c.vid = v.vid) THEN 'core' "
        "WHEN EXISTS (SELECT 1 FROM bwd b WHERE b.vid = v.vid) THEN 'in' "
        "WHEN EXISTS (SELECT 1 FROM fwd f WHERE f.vid = v.vid) THEN 'out' "
        "ELSE 'other' END AS cls FROM dverts v"
    )


# spectral queries. The eigensolver's raw per-vertex values are not
# SQL-expressible (pytest verifies them against numpy at 1e-6 —
# tests/test_spectral.py; entry() exercises the raw outputs end-to-end),
# but their CONTRACTS are: unit norm, 1-orthogonality and the sign
# convention for the Fiedler vector; the closed-form halving sizes and
# the genmap --test comm-volume gate for the RSB part map. Each contract
# below is a DuckDB-checkable oracle row — no rows-only entries remain.


def q_graph_fiedler(spark, sf_dir):
    """Raw Fiedler vector (library surface; used by entry() and pytest)."""
    from parrsb_spark.operators.fiedler import fiedler
    from parrsb_spark.config import EngineOptions

    e = bipartite_edges(spark, sf_dir)
    opts = EngineOptions(rsb_max_iter=20, rsb_max_passes=1, rsb_tol=1e-4)
    return fiedler(e, opts=opts).select("vid", "fiedler")


def q_graph_rsb_parts(spark, sf_dir):
    """Raw RSB part map (library surface; used by entry() and pytest)."""
    from parrsb_spark.operators.rsb import rsb_partition
    from parrsb_spark.config import EngineOptions

    e = bipartite_edges(spark, sf_dir)
    opts = EngineOptions(rsb_max_iter=15, rsb_max_passes=1, rsb_tol=1e-4)
    return rsb_partition(e, 2, opts=opts).select("vid", "part")


def q_graph_fiedler_qa(spark, sf_dir):
    """Fiedler-vector contract row: n vertices, unit norm (rounded),
    1-orthogonality (Σf ≈ 0, the constant-vector deflation, ref
    fiedler.c:20-30), and the deterministic sign convention (entry at
    the smallest vid with |f| > 1e-9 is positive, D13)."""
    f = q_graph_fiedler(spark, sf_dir)
    m = f.groupBy().agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.col("fiedler") ** 2), 6).alias("norm2_r"),
        (F.abs(F.sum("fiedler")) < 1e-6).alias("ortho_ok"),
        F.min(
            F.struct(
                (F.abs(F.col("fiedler")) < 1e-9).cast("int").alias("z"),
                F.col("vid").alias("v"),
                F.col("fiedler").alias("f"),
            )
        ).alias("m"),
    )
    return m.select("n", "norm2_r", "ortho_ok", (F.col("m.f") > 0).alias("sign_ok"))


def sql_graph_fiedler_qa():
    return (
        f"WITH {EG_CTE}, {VERTS_CTE} "
        "SELECT count(*) AS n, CAST(1.0 AS DOUBLE) AS norm2_r, "
        "TRUE AS ortho_ok, TRUE AS sign_ok FROM verts"
    )


def q_graph_rsb_sizes(spark, sf_dir):
    """RSB balance contract (part, n): the rank-exact median cut makes
    every bisection split n_g into ⌈n_g·⌈np/2⌉/np⌉ / remainder (ref
    get_bin, src/rsb.c:231-242) — so the k=4 part sizes are a CLOSED
    FORM of the vertex count, reproducible in SQL."""
    from parrsb_spark.operators.rsb import rsb_partition
    from parrsb_spark.operators.stats import partition_sizes
    from parrsb_spark.config import EngineOptions

    e = bipartite_edges(spark, sf_dir)
    opts = EngineOptions(rsb_max_iter=15, rsb_max_passes=1, rsb_tol=1e-4)
    return partition_sizes(rsb_partition(e, 4, opts=opts)).select("part", "n")


def sql_graph_rsb_sizes():
    return (
        f"WITH {EG_CTE}, {VERTS_CTE}, "
        "nn AS (SELECT count(*) AS n FROM verts), "
        "h AS (SELECT n, CAST(ceil(n / 2.0) AS BIGINT) AS a FROM nn), "
        "h2 AS (SELECT a, n - a AS b FROM h) "
        "SELECT CAST(0 AS BIGINT) AS part, CAST(ceil(a / 2.0) AS BIGINT) AS n FROM h2 "
        "UNION ALL SELECT CAST(1 AS BIGINT), a - CAST(ceil(a / 2.0) AS BIGINT) FROM h2 "
        "UNION ALL SELECT CAST(2 AS BIGINT), CAST(ceil(b / 2.0) AS BIGINT) FROM h2 "
        "UNION ALL SELECT CAST(3 AS BIGINT), b - CAST(ceil(b / 2.0) AS BIGINT) FROM h2"
    )


def q_graph_rsb_gate(spark, sf_dir):
    """The genmap --test quality gate as an oracle row (ref
    examples/genmap.c:75-78): RSB comm volume must not exceed the input
    layout's (the contiguous-vid block distribution), and part sizes
    must sit in {⌊n/k⌋, ⌈n/k⌉}. Booleans computed cluster-side,
    asserted by SQL.

    The fixture is the reference's own domain — a deterministic 40×40
    MESH (graphs.grid2d), where vid order = row-major layout, exactly
    the "before" side genmap --test compares against. (The TPC-H-derived
    bipartite graph is an expander whose vid-block layout is already
    near-optimal — the gate is not a meaningful invariant there; RSB on
    the mesh must and does reach the optimal 4-way cut of 80 edges.)"""
    from parrsb_spark import graphs
    from parrsb_spark.operators.rsb import rsb_partition
    from parrsb_spark.operators.stats import partition_sizes, quality_gate
    from parrsb_spark.config import EngineOptions

    k, nx, ny = 4, 40, 40
    e = graphs.to_df(spark, graphs.grid2d(nx, ny)[0]).localCheckpoint(eager=True)
    opts = EngineOptions(rsb_max_iter=30, rsb_max_passes=1, rsb_tol=1e-5)
    parts = rsb_partition(e, k, opts=opts).localCheckpoint(eager=True)
    sz = {r["part"]: r["n"] for r in partition_sizes(parts).collect()}
    n = sum(sz.values())
    balanced = max(sz.values()) <= -(-n // k) and min(sz.values()) >= n // k
    gate = quality_gate(e, parts, k)
    return spark.createDataFrame(
        [(k, n, bool(balanced), bool(gate["ok"]))],
        schema="k bigint, n bigint, balanced boolean, gate_ok boolean",
    )


def sql_graph_rsb_gate():
    return (
        "SELECT CAST(4 AS BIGINT) AS k, CAST(1600 AS BIGINT) AS n, "
        "TRUE AS balanced, TRUE AS gate_ok"
    )


def q_graph_rsb_two_level(spark, sf_dir):
    """Node-aware two-level hierarchy contract row (B8, ref
    src/parrsb.c:186-234 initialize_levels + src/rsb.c:231-262 level
    binning): a 24×12 mesh partitioned onto 2 nodes × 2 ranks. Asserted
    cluster-side, constants-checked by SQL: part = node·rpn + local
    everywhere (hier_ok), every part ±1-balanced, and the hierarchical
    cuts reach the straight-line optimum — inter-node cut = one 12-edge
    column (the expensive network cut), intra-node = two 12-edge cuts
    (the cheap in-node cuts). The fixture is a mesh, not the TPC-H
    expander, for the same reason as `graph_rsb_gate`: on a mesh the
    optimum is known in closed form."""
    from parrsb_spark import graphs
    from parrsb_spark.config import EngineOptions
    from parrsb_spark.operators.hierarchy import rsb_partition_two_level, two_level_stats
    from parrsb_spark.operators.stats import partition_sizes

    nodes, rpn, nx, ny = 2, 2, 24, 12
    e = graphs.to_df(spark, graphs.grid2d(nx, ny)[0]).localCheckpoint(eager=True)
    opts = EngineOptions(rsb_max_iter=40, rsb_max_passes=2, rsb_tol=1e-6)
    two = rsb_partition_two_level(e, nodes, rpn, opts=opts).localCheckpoint(eager=True)
    hier_ok = two.filter(F.col("node") != (F.col("part") / rpn).cast("long")).count() == 0
    sz = sorted(r["n"] for r in partition_sizes(two).collect())
    n = sum(sz)
    balanced = len(sz) == nodes * rpn and sz[-1] - sz[0] <= 1
    st = two_level_stats(e, two, rpn)
    return spark.createDataFrame(
        [(n, bool(balanced), bool(hier_ok), st["cut_internode"], st["cut_intranode"])],
        schema="n bigint, balanced boolean, hier_ok boolean, "
        "cut_internode bigint, cut_intranode bigint",
    )


def sql_graph_rsb_two_level():
    # 24×12 grid: optimal node bisection = the 12-edge column at x=12;
    # each 12×12 node then bisects at a 12-edge line → 24 intra-node
    return (
        "SELECT CAST(288 AS BIGINT) AS n, TRUE AS balanced, TRUE AS hier_ok, "
        "CAST(12 AS BIGINT) AS cut_internode, CAST(24 AS BIGINT) AS cut_intranode"
    )


def q_mesh_periodic(spark, sf_dir):
    """Geometric periodic-face matching contract row (ref
    src/con-periodic.c:107-193 + the gs-min fixpoint :64-105): an 8×5
    quad mesh with the left edge periodic to the right; the matcher's
    cyclic-alignment search + strict tolerance gate run cluster-side,
    the alias pairs are contracted via the min-label CC kernel, and the
    invariants (pair count = ny+1 shared columns; contracted vertex
    count = nx·(ny+1), the cylinder) are asserted by SQL constants.
    Boundary faces list vertices bottom-up on BOTH sides, so the
    reversed-winding shift search is exercised, not bypassed."""
    from parrsb_spark import graphs
    from parrsb_spark.operators.contraction import contract_aliases
    from parrsb_spark.operators.periodic import match_periodic_faces

    nx, ny = 8, 5
    faces = spark.createDataFrame(
        graphs.grid2d_periodic_faces(nx, ny), schema=graphs.FACES_SCHEMA
    )
    pairs = match_periodic_faces(faces, nvf=2, ndim=2)  # strict: raises on misalign
    npairs = pairs.count()
    e = graphs.to_df(spark, graphs.grid2d(nx + 1, ny + 1)[0])
    _, mapping = contract_aliases(e, pairs)
    ncanon = mapping.select("canon").distinct().count()
    return spark.createDataFrame(
        [(npairs, ncanon)], schema="n_pairs bigint, n_canon bigint"
    )


def sql_mesh_periodic():
    # 8×5 elements → 6 shared columns of vertices; cylinder has 8·6 vertices
    return "SELECT CAST(6 AS BIGINT) AS n_pairs, CAST(48 AS BIGINT) AS n_canon"


# ---------------------------------------------------------------------------
# relational coverage (scan/filter/join/agg/window/rollup/top-k/as-of)


def q_pricing_summary(spark, sf_dir):
    l = _load(spark, sf_dir, "lineitem")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def sql_pricing_summary():
    return (
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 4) AS sum_qty, "
        "round(sum(l_extendedprice), 4) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price, "
        "round(avg(l_quantity), 6) AS avg_qty, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus"
    )


def q_top_revenue_orders(spark, sf_dir):
    o = _load(spark, sf_dir, "orders")
    l = _load(spark, sf_dir, "lineitem")
    c = _load(spark, sf_dir, "customer")
    rev = (
        l.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )
    joined = o.join(rev, o.o_orderkey == rev.l_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    # distributed top-k (TakeOrderedAndProject — per-partition heads merged
    # on the driver), then rank the 10 survivors; a global no-partition
    # row_number window would sort every order in ONE task
    top = (
        joined.select("o_orderkey", "c_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("o_orderkey"))
    return top.withColumn("rk", F.row_number().over(w))


def sql_top_revenue_orders():
    return (
        "WITH rev AS (SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue "
        "FROM lineitem GROUP BY l_orderkey) "
        "SELECT o_orderkey, c_name, revenue, rk FROM ("
        "SELECT o.o_orderkey, c.c_name, r.revenue, "
        "row_number() OVER (ORDER BY r.revenue DESC, o.o_orderkey ASC) AS rk "
        "FROM orders o JOIN rev r ON o.o_orderkey = r.l_orderkey "
        "JOIN customer c ON o.o_custkey = c.c_custkey) WHERE rk <= 10"
    )


def q_nation_rollup(spark, sf_dir):
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_cust"), F.round(F.sum("c_acctbal"), 4).alias("sum_bal")
    )


def sql_nation_rollup():
    return (
        "SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 4) AS sum_bal "
        "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "GROUP BY ROLLUP (r_name, n_name)"
    )


def q_topk_parts_per_brand(spark, sf_dir):
    p = _load(spark, sf_dir, "part")
    # two-phase grouped top-k: local prune within each physical partition
    # (no pre-shuffle), then the per-brand rank over ≤ 3·P survivors — a
    # brand's full row set never funnels through one task
    wl = Window.partitionBy("_pid", "p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    pruned = (
        p.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(wl))
        .filter(F.col("_lr") <= 3)
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        pruned.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
    )


def sql_topk_parts_per_brand():
    return (
        "SELECT p_brand, p_partkey, p_retailprice, rk FROM ("
        "SELECT p_brand, p_partkey, p_retailprice, "
        "row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rk "
        "FROM part) WHERE rk <= 3"
    )


def q_events_window_agg(spark, sf_dir):
    ev = _load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def sql_events_window_agg():
    return (
        "SELECT date_trunc('hour', ts) AS window_start, event_type, "
        "count(*) AS n_events, round(sum(value), 6) AS sum_value, "
        "count(DISTINCT user_id) AS n_users FROM events GROUP BY 1, 2"
    )


def q_events_sessionize(spark, sf_dir):
    from parrsb_spark.streaming.events import sessionize_batch

    return sessionize_batch(_load(spark, sf_dir, "events"), gap_minutes=30)


def sql_events_sessionize():
    return (
        "WITH marked AS (SELECT user_id, event_id, ts, "
        "CASE WHEN lag(ts) OVER w IS NULL "
        "OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        "sess AS (SELECT user_id, sum(new_session) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id "
        "FROM marked), "
        "per AS (SELECT user_id, session_id, count(*) AS n FROM sess GROUP BY 1, 2) "
        "SELECT user_id, count(*) AS n_sessions, max(n) AS max_session_events "
        "FROM per GROUP BY user_id"
    )


def q_events_asof_last_click(spark, sf_dir):
    """For every 'purchase' event: ts of the user's most recent 'click' ≤ ts.
    The as-of join, expressed as a carry-forward window (Spark lacks a
    native as-of join; this form scales as one sort per user)."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    carried = ev.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True).over(w),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "last_click_ts"
    )


def sql_events_asof_last_click():
    return (
        "SELECT event_id, user_id, ts, last_click_ts FROM ("
        "SELECT event_id, user_id, ts, event_type, "
        "max(CASE WHEN event_type = 'click' THEN ts END) OVER "
        "(PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS last_click_ts "
        "FROM events) WHERE event_type = 'purchase'"
    )


# ---------------------------------------------------------------------------
# documents / text-pipeline queries


def q_docs_token_count(spark, sf_dir):
    from parrsb_spark.operators.textops import token_count

    return token_count(_load(spark, sf_dir, "documents"))


def sql_docs_token_count():
    return (
        "SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 ELSE "
        "len(string_split_regex(trim(text), '\\s+')) END AS n_tokens FROM documents"
    )


def q_docs_lang_id(spark, sf_dir):
    from parrsb_spark.operators.textops import lang_id

    return lang_id(_load(spark, sf_dir, "documents"))


def sql_docs_lang_id():
    from parrsb_spark.operators.textops import STOPWORDS

    vals = ", ".join(f"('{l}', '{w}')" for l, ws in STOPWORDS.items() for w in ws)
    return (
        f"WITH sw(sw_lang, word) AS (SELECT * FROM (VALUES {vals})), "
        "toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word "
        "FROM documents WHERE trim(text) <> ''), "
        "hits AS (SELECT t.doc_id, s.sw_lang, count(*) AS hits FROM toks t JOIN sw s USING (word) "
        "GROUP BY 1, 2), "
        "best AS (SELECT doc_id, sw_lang FROM (SELECT doc_id, sw_lang, "
        "row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, sw_lang ASC) AS rn FROM hits) "
        "WHERE rn = 1) "
        "SELECT d.doc_id, coalesce(b.sw_lang, 'unknown') AS pred_lang "
        "FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id"
    )


def q_docs_quality(spark, sf_dir):
    from parrsb_spark.operators.textops import quality_score

    return quality_score(_load(spark, sf_dir, "documents"))


def sql_docs_quality():
    return (
        "WITH base AS (SELECT doc_id, text, length(text) AS n_chars_m, "
        "CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens, "
        "CASE WHEN length(text) > 0 THEN "
        "CAST(length(text) - length(regexp_replace(text, '[^0-9A-Za-z\\s]', '', 'g')) AS DOUBLE) / length(text) "
        "ELSE 0.0 END AS punct_ratio, "
        "CASE WHEN trim(text) = '' THEN 0.0 ELSE "
        "CAST(list_sum(list_transform(string_split_regex(trim(text), '\\s+'), x -> length(x))) AS DOUBLE) "
        "/ len(string_split_regex(trim(text), '\\s+')) END AS avg_word_len "
        "FROM documents) "
        "SELECT doc_id, n_chars_m, n_tokens, round(punct_ratio, 6) AS punct_ratio, "
        "round(avg_word_len, 6) AS avg_word_len, "
        "round(0.4 * least(n_tokens / 50.0, 1.0) + 0.3 * (1.0 - punct_ratio) "
        "+ 0.3 * least(avg_word_len / 8.0, 1.0), 6) AS score FROM base"
    )


def q_docs_exact_dedup(spark, sf_dir):
    from parrsb_spark.operators.dedup import exact_dedup

    return exact_dedup(_load(spark, sf_dir, "documents"))


def sql_docs_exact_dedup():
    return (
        "WITH keyed AS (SELECT doc_id, md5(text) AS digest FROM documents), "
        "canon AS (SELECT digest, min(doc_id) AS canonical_id FROM keyed GROUP BY digest) "
        "SELECT k.doc_id, c.canonical_id, k.doc_id <> c.canonical_id AS is_dup "
        "FROM keyed k JOIN canon c ON k.digest = c.digest"
    )


def q_docs_fingerprint_bag(spark, sf_dir):
    from parrsb_spark.operators.textops import fingerprint_bag

    # Match the oracle's empty-text handling: split(trim(''), '\s+') yields
    # [''] in Spark, so an empty/whitespace-only doc would produce an fp row
    # the oracle omits.
    return fingerprint_bag(
        _load(spark, sf_dir, "documents").filter(F.trim("text") != "")
    )


def sql_docs_fingerprint_bag():
    return (
        "WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word "
        "FROM documents WHERE trim(text) <> '') "
        # CAST: DuckDB sum(BIGINT) yields HUGEINT (int128); the driver's value
        # normalizer stringifies int128 differently, so cast the (< 2^60,
        # lossless) result back to BIGINT to keep the hash comparison typed.
        f"SELECT doc_id, CAST(sum(('0x' || substr(md5(word), 1, 15))::BIGINT % {MOD_P}) % {MOD_P} AS BIGINT) AS fp "
        "FROM toks GROUP BY doc_id"
    )


def q_docs_fingerprint_rolling(spark, sf_dir):
    from parrsb_spark.operators.textops import fingerprint_rolling

    return fingerprint_rolling(
        _load(spark, sf_dir, "documents").filter(F.trim("text") != "")
    )


def sql_docs_fingerprint_rolling():
    from parrsb_spark.operators.textops import ROLLING_BASE

    return (
        "SELECT doc_id, list_reduce("
        "list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split_regex(trim(text), '\\s+'), "
        f"x -> ('0x' || substr(md5(x), 1, 15))::BIGINT % {MOD_P})), "
        f"(acc, x) -> (acc * {ROLLING_BASE} % {MOD_P} + x) % {MOD_P}) AS fp "
        "FROM documents WHERE trim(text) <> ''"
    )


def q_docs_minhash(spark, sf_dir):
    from parrsb_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_load(spark, sf_dir, "documents"), k=8)


def sql_docs_minhash(k: int = 8):
    mins = ", ".join(
        f"min((th * {HASH_SALT_A[i]} + {HASH_SALT_B[i]}) % {MOD_P}) AS h{i}" for i in range(k)
    )
    return (
        "WITH sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(length(text) - 2, 0) + 1), g -> substr(text, g, 3))) AS sh FROM documents), "
        f"hashed AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % {MOD_X} AS th FROM sh) "
        f"SELECT doc_id, {mins} FROM hashed GROUP BY doc_id"
    )


def q_docs_ngram_jaccard(spark, sf_dir):
    from parrsb_spark.operators.dedup import ngram_jaccard_pairs

    # max_doc_frac=None: the contract query keeps RAW exact semantics so
    # it matches the uncapped SQL oracle by construction; the stop-shingle
    # cap is the (guarded) production default for web-scale corpora
    return ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"), threshold=0.6, max_doc_frac=None
    )


def sql_docs_ngram_jaccard(threshold: float = 0.6):
    return (
        "WITH sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(length(text) - 2, 0) + 1), g -> substr(text, g, 3))) AS sh FROM documents), "
        "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
        "common AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common "
        "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT c.a, c.b, round(CAST(c.common AS DOUBLE) / (sa.sz + sb.sz - c.common), 6) AS jaccard "
        "FROM common c JOIN sizes sa ON c.a = sa.doc_id JOIN sizes sb ON c.b = sb.doc_id "
        f"WHERE CAST(c.common AS DOUBLE) / (sa.sz + sb.sz - c.common) >= {threshold}"
    )


DUP_CC_ITERS = 6


def q_docs_dup_clusters(spark, sf_dir):
    """End-to-end duplicate-cluster assignment — the composition a
    training-data pipeline actually ships: MinHash signatures → banded
    LSH buckets → exact-Jaccard verify (≥ 0.5) → connected components
    over the verified pair graph → (doc_id, cluster_id, is_dup) for
    EVERY document (singletons keep their own id). All-integer until
    one exact IEEE division; cluster ids are min-doc_id per component,
    so the row is bitwise deterministic."""
    from parrsb_spark.operators.components import connected_components
    from parrsb_spark.operators.dedup import minhash_lsh_pairs

    docs = _load(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5, k=8, bands=4)
    comps = connected_components(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    return (
        docs.select("doc_id")
        .join(comps, docs.doc_id == comps.vid, "left")
        .select(
            "doc_id",
            F.coalesce("comp", "doc_id").alias("cluster_id"),
            F.col("comp").isNotNull().alias("is_dup"),
        )
    )


def sql_docs_dup_clusters(k: int = 8, bands: int = 4, cc_iters: int = DUP_CC_ITERS) -> str:
    # replay of the full pipeline: shingle → K minhash minima (the
    # docs_minhash machinery) → banded md5 bucket keys → bucket join →
    # exact-verify 3·common ≥ |A|+|B| (the integer form of
    # jaccard ≥ 0.5) → min-label CC unrolled (near-dup clusters are
    # shallow; converged rounds are no-ops)
    rpb = k // bands
    mins = ", ".join(
        f"min((th * {HASH_SALT_A[i]} + {HASH_SALT_B[i]}) % {MOD_P}) AS h{i}"
        for i in range(k)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS bnd, md5('{b}' || '_' || "
        + " || '_' || ".join(f"CAST(h{b * rpb + r} AS VARCHAR)" for r in range(rpb))
        + ") AS bh FROM sig"
        for b in range(bands)
    )
    parts = [
        "sh AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(list_transform("
        "range(1, greatest(length(text) - 2, 0) + 1), g -> substr(text, g, 3))) AS sh "
        "FROM documents)",
        f"hashed AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % {MOD_X} AS th FROM sh)",
        f"sig AS MATERIALIZED (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)",
        f"banded AS MATERIALIZED ({band_rows})",
        "cand AS MATERIALIZED (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b "
        "FROM banded x JOIN banded y ON x.bnd = y.bnd AND x.bh = y.bh "
        "AND x.doc_id < y.doc_id)",
        "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)",
        "pairs AS MATERIALIZED (SELECT c.a, c.b FROM ("
        "SELECT c.a, c.b, count(*) AS common FROM cand c "
        "JOIN sh p ON c.a = p.doc_id JOIN sh q ON c.b = q.doc_id AND p.sh = q.sh "
        "GROUP BY c.a, c.b) c "
        "JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id "
        "WHERE 3 * c.common >= sa.sz + sb.sz)",
        "pv AS MATERIALIZED (SELECT a AS vid FROM pairs UNION SELECT b FROM pairs)",
        "psym AS MATERIALIZED (SELECT a AS src, b AS dst FROM pairs "
        "UNION ALL SELECT b, a FROM pairs)",
        "pl0 AS (SELECT vid, vid AS comp FROM pv)",
    ]
    for i in range(1, cc_iters + 1):
        p = f"pl{i - 1}"
        parts.append(
            f"pl{i} AS MATERIALIZED (SELECT v.vid, least(v.comp, coalesce(m.mn, v.comp)) AS comp "
            f"FROM {p} v LEFT JOIN (SELECT s.dst AS vid, min(l.comp) AS mn "
            f"FROM psym s JOIN {p} l ON s.src = l.vid GROUP BY s.dst) m ON v.vid = m.vid)"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT d.doc_id, coalesce(l.comp, d.doc_id) AS cluster_id, "
        f"l.vid IS NOT NULL AS is_dup "
        f"FROM documents d LEFT JOIN pl{cc_iters} l ON d.doc_id = l.vid"
    )


def q_docs_simhash(spark, sf_dir):
    from parrsb_spark.operators.dedup import simhash

    return simhash(_load(spark, sf_dir, "documents").filter(F.trim("text") != ""))


def sql_docs_simhash(bits: int = 32):
    return (
        "WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word "
        "FROM documents WHERE trim(text) <> ''), "
        "wcnt AS (SELECT doc_id, word, count(*) AS cnt FROM toks GROUP BY 1, 2), "
        "hashed AS (SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS th, cnt FROM wcnt), "
        f"bitsx AS (SELECT doc_id, th, cnt, unnest(range(0, {bits})) AS bit FROM hashed), "
        "votes AS (SELECT doc_id, bit, sum(CASE WHEN (th >> bit) & 1 = 1 THEN cnt ELSE -cnt END) AS v "
        "FROM bitsx GROUP BY 1, 2) "
        # CAST: avoid DuckDB HUGEINT in the outer sum (see sql_docs_fingerprint_bag).
        "SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash "
        "FROM votes GROUP BY doc_id"
    )


# ---------------------------------------------------------------------------
# embeddings


def q_emb_cosine_topk(spark, sf_dir):
    from parrsb_spark.operators.similarity import cosine_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    return cosine_topk(emb, q, k=5).select("q_id", "vec_id", "cos", "rank")


def sql_emb_cosine_topk(k: int = 5):
    return (
        "WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5), "
        "scored AS (SELECT q.q_id, c.vec_id, "
        "round(list_dot_product(c.v, q.qv) / "
        "(sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))), 9) AS cos "
        "FROM c CROSS JOIN q) "
        "SELECT q_id, vec_id, cos, rank FROM (SELECT q_id, vec_id, cos, "
        "row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rank FROM scored) "
        f"WHERE rank <= {k}"
    )


def q_emb_ann_lsh(spark, sf_dir):
    """Multi-table LSH ANN contract row (the approximate sibling of
    emb_cosine_topk; same style as the spectral CONTRACT rows — the
    bucket assignment itself is md5-hyperplane arithmetic, not
    SQL-expressible, so the oracle asserts the deterministic contract):
    a query that IS a corpus vector shares its own signature in EVERY
    table, survives the cross-table candidate dedup exactly once, and
    must come back at rank 1 with cos = 1.0. Exercises the full
    n_tables=4 × n_probes=2 path — per-table bucket joins with
    query-side probe fan-out, candidate union + dedup, exact rerank,
    two-phase top-k (the base bucket is always probe 0, so the
    self-match contract is unconditional). Recall-lift behavior for
    both knobs is measured in tests/test_round5.py on a clustered
    fixture."""
    from parrsb_spark.operators.similarity import ann_lsh_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    ann = ann_lsh_topk(emb, q, k=5, n_planes=8, n_tables=4, n_probes=2)
    return ann.filter(F.col("rank") == 1).select("q_id", "vec_id", "cos", "rank")


def sql_emb_ann_lsh():
    return (
        "SELECT vec_id AS q_id, vec_id, CAST(1.0 AS DOUBLE) AS cos, 1 AS rank "
        "FROM embeddings WHERE vec_id < 5"
    )


def q_emb_ivf_topk(spark, sf_dir):
    """IVF ANN contract row (the coarse-quantizer sibling of emb_ann_lsh;
    same CONTRACT style — centroid training is driver-side numpy k-means
    on an md5-ordered sample, not SQL-expressible, so the oracle asserts
    the deterministic contract): a query that IS a corpus vector probes
    its own nearest-centroid list first (identical vector -> identical
    argmax), so it must return itself at rank 1 with cos = 1.0 at ANY
    n_probe. Exercises train -> one-list-per-vector corpus index ->
    multi-list query probe -> disjoint-list candidate join -> exact
    rerank -> two-phase top-k. Recall-lift behavior is measured in
    tests/test_round5.py on a clustered fixture."""
    from parrsb_spark.operators.similarity import ivf_topk

    emb = _load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    ann = ivf_topk(emb, q, k=5, n_lists=16, n_probe=2)
    return ann.filter(F.col("rank") == 1).select("q_id", "vec_id", "cos", "rank")


def sql_emb_ivf_topk():
    return (
        "SELECT vec_id AS q_id, vec_id, CAST(1.0 AS DOUBLE) AS cos, 1 AS rank "
        "FROM embeddings WHERE vec_id < 5"
    )


def q_emb_neardup(spark, sf_dir):
    """Banded hyperplane-LSH bucket join → exact cosine verify — the
    scale path (no crossJoin in the plan). The brute-force all-pairs SQL
    below is its oracle. KNOWN GATE SEMANTICS: LSH recall is
    probabilistic — at τ=0.45 the banded params (r=2, B=32) give
    per-pair miss probability ≈ 3e-8 at the threshold (falling fast
    above it), so oracle equality holds with overwhelming probability
    but is not guaranteed by construction; a mismatch on this row on an
    adversarial corpus would indicate an unlucky miss, not a logic bug
    (the exact brute-force path, `embedding_neardup_pairs`, is the
    deterministic fallback and the pytest cross-check)."""
    from parrsb_spark.operators.dedup import embedding_neardup_lsh

    return embedding_neardup_lsh(_load(spark, sf_dir, "embeddings"), threshold=0.45)


def sql_emb_neardup(threshold: float = 0.45):
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) "
        "SELECT a.vec_id AS a, b.vec_id AS b, "
        "round(list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos "
        "FROM e a JOIN e b ON a.vec_id < b.vec_id "
        "WHERE list_dot_product(a.v, b.v) / "
        f"(sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= {threshold}"
    )


# ---------------------------------------------------------------------------
# multimodal (md5-based fake decode so the oracle can replay it)


def q_mm_image_meta(spark, sf_dir):
    """Binary-column plumbing: payload = utf-8 bytes of text; metadata via
    mapInPandas (schema/batching real, codec stubbed — multimodal.py)."""
    from parrsb_spark.operators.multimodal import media_from_documents
    import pandas as pd
    from collections.abc import Iterator
    import hashlib as _hl

    media = media_from_documents(_load(spark, sf_dir, "documents"))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                dig = _hl.md5(b).hexdigest()
                h = int(dig[:8], 16)
                outs.append((mid, len(b), dig, 16 + h % 1024, 16 + (h >> 10) % 1024))
            yield pd.DataFrame(
                outs, columns=["media_id", "n_bytes", "md5", "width", "height"]
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        op, schema="media_id bigint, n_bytes int, md5 string, width int, height int"
    )


def sql_mm_image_meta():
    return (
        "SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes, md5(text) AS md5, "
        "16 + ('0x' || substr(md5(text), 1, 8))::BIGINT % 1024 AS width, "
        "16 + (('0x' || substr(md5(text), 1, 8))::BIGINT >> 10) % 1024 AS height "
        "FROM documents WHERE doc_id % 3 = 0"
    )


# ---------------------------------------------------------------------------
# registry


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pages_edges": q_pages_edges,
        "pages_text_digest": q_pages_text_digest,
        "pages_host_graph": q_pages_host_graph,
        "host_pagerank": q_host_pagerank,
        "graph_edges": q_graph_edges,
        "graph_degree": q_graph_degree,
        "graph_pagerank": q_graph_pagerank,
        "graph_hits": q_graph_hits,
        "graph_ppr": q_graph_ppr,
        "graph_kcore": q_graph_kcore,
        "graph_coreness": q_graph_coreness,
        "graph_katz": q_graph_katz,
        "graph_truss": q_graph_truss,
        "graph_mis": q_graph_mis,
        "graph_matching": q_graph_matching,
        "graph_coloring": q_graph_coloring,
        "graph_bfs": q_graph_bfs,
        "graph_betweenness": q_graph_betweenness,
        "graph_edge_betweenness": q_graph_edge_betweenness,
        "graph_sssp": q_graph_sssp,
        "graph_cc": q_graph_cc,
        "graph_cc_dense": q_graph_cc_dense,
        "graph_labelprop": q_graph_labelprop,
        "graph_triangles": q_graph_triangles,
        "graph_lcc": q_graph_lcc,
        "graph_assortativity": q_graph_assortativity,
        "graph_reciprocity": q_graph_reciprocity,
        "graph_louvain": q_graph_louvain,
        "graph_modularity": q_graph_modularity,
        "graph_anf": q_graph_anf,
        "graph_nf_diameter": q_graph_nf_diameter,
        "graph_harmonic": q_graph_harmonic,
        "graph_walks": q_graph_walks,
        "graph_mirror_pairs": q_graph_mirror_pairs,
        "graph_linkpred": q_graph_linkpred,
        "graph_scc": q_graph_scc,
        "graph_condensation": q_graph_condensation,
        "graph_bowtie": q_graph_bowtie,
        "graph_fiedler_qa": q_graph_fiedler_qa,
        "graph_rsb_sizes": q_graph_rsb_sizes,
        "graph_rsb_gate": q_graph_rsb_gate,
        "graph_rsb_two_level": q_graph_rsb_two_level,
        "mesh_periodic": q_mesh_periodic,
        "pricing_summary": q_pricing_summary,
        "top_revenue_orders": q_top_revenue_orders,
        "nation_rollup": q_nation_rollup,
        "topk_parts_per_brand": q_topk_parts_per_brand,
        "events_window_agg": q_events_window_agg,
        "events_sessionize": q_events_sessionize,
        "events_asof_last_click": q_events_asof_last_click,
        "docs_token_count": q_docs_token_count,
        "docs_lang_id": q_docs_lang_id,
        "docs_quality": q_docs_quality,
        "docs_exact_dedup": q_docs_exact_dedup,
        "docs_fingerprint_bag": q_docs_fingerprint_bag,
        "docs_fingerprint_rolling": q_docs_fingerprint_rolling,
        "docs_minhash": q_docs_minhash,
        "docs_ngram_jaccard": q_docs_ngram_jaccard,
        "docs_dup_clusters": q_docs_dup_clusters,
        "docs_simhash": q_docs_simhash,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_ann_lsh": q_emb_ann_lsh,
        "emb_ivf_topk": q_emb_ivf_topk,
        "emb_neardup": q_emb_neardup,
        "mm_image_meta": q_mm_image_meta,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pages_edges": sql_pages_edges(),
        "pages_text_digest": sql_pages_text_digest(),
        "pages_host_graph": sql_pages_host_graph(),
        "host_pagerank": sql_host_pagerank(),
        "graph_edges": sql_graph_edges(),
        "graph_degree": sql_graph_degree(),
        "graph_pagerank": sql_graph_pagerank(),
        "graph_hits": sql_graph_hits(),
        "graph_ppr": sql_graph_ppr(),
        "graph_kcore": sql_graph_kcore(),
        "graph_coreness": sql_graph_coreness(),
        "graph_katz": sql_graph_katz(),
        "graph_truss": sql_graph_truss(),
        "graph_mis": sql_graph_mis(),
        "graph_matching": sql_graph_matching(),
        "graph_coloring": sql_graph_coloring(),
        "graph_bfs": sql_graph_bfs(),
        "graph_betweenness": sql_graph_betweenness(),
        "graph_edge_betweenness": sql_graph_edge_betweenness(),
        "graph_sssp": sql_graph_sssp(),
        "graph_cc": sql_graph_cc(),
        "graph_cc_dense": sql_graph_cc_dense(),
        "graph_labelprop": sql_graph_labelprop(),
        "graph_triangles": sql_graph_triangles(),
        "graph_lcc": sql_graph_lcc(),
        "graph_assortativity": sql_graph_assortativity(),
        "graph_reciprocity": sql_graph_reciprocity(),
        "graph_louvain": sql_graph_louvain(),
        "graph_modularity": sql_graph_modularity(),
        "graph_anf": sql_graph_anf(),
        "graph_nf_diameter": sql_graph_nf_diameter(),
        "graph_harmonic": sql_graph_harmonic(),
        "graph_walks": sql_graph_walks(),
        "graph_mirror_pairs": sql_graph_mirror_pairs(),
        "graph_linkpred": sql_graph_linkpred(),
        "graph_scc": sql_graph_scc(),
        "graph_condensation": sql_graph_condensation(),
        "graph_bowtie": sql_graph_bowtie(),
        # spectral CONTRACT rows (unit norm / orthogonality / sign, the
        # closed-form halving sizes, the genmap --test gate) — each SQL-
        # checkable; the raw eigenvector values are numpy-verified in pytest
        "graph_fiedler_qa": sql_graph_fiedler_qa(),
        "graph_rsb_sizes": sql_graph_rsb_sizes(),
        "graph_rsb_gate": sql_graph_rsb_gate(),
        "graph_rsb_two_level": sql_graph_rsb_two_level(),
        "mesh_periodic": sql_mesh_periodic(),
        "pricing_summary": sql_pricing_summary(),
        "top_revenue_orders": sql_top_revenue_orders(),
        "nation_rollup": sql_nation_rollup(),
        "topk_parts_per_brand": sql_topk_parts_per_brand(),
        "events_window_agg": sql_events_window_agg(),
        "events_sessionize": sql_events_sessionize(),
        "events_asof_last_click": sql_events_asof_last_click(),
        "docs_token_count": sql_docs_token_count(),
        "docs_lang_id": sql_docs_lang_id(),
        "docs_quality": sql_docs_quality(),
        "docs_exact_dedup": sql_docs_exact_dedup(),
        "docs_fingerprint_bag": sql_docs_fingerprint_bag(),
        "docs_fingerprint_rolling": sql_docs_fingerprint_rolling(),
        "docs_minhash": sql_docs_minhash(),
        "docs_ngram_jaccard": sql_docs_ngram_jaccard(),
        "docs_dup_clusters": sql_docs_dup_clusters(),
        "docs_simhash": sql_docs_simhash(),
        "emb_cosine_topk": sql_emb_cosine_topk(),
        "emb_ann_lsh": sql_emb_ann_lsh(),
        "emb_ivf_topk": sql_emb_ivf_topk(),
        "emb_neardup": sql_emb_neardup(),
        "mm_image_meta": sql_mm_image_meta(),
    }


# ---------------------------------------------------------------------------
# flagship extraction pipeline (pages → edges) — oracle is a VALUES literal
# computed by the independent pure-Python generator (no Spark, no DuckDB
# table): evidences byte-identical extraction + dense-id assignment.

PAGES_N, PAGES_M, PAGES_SEED = 192, 3, 42


def q_pages_edges(spark, sf_dir):
    from parrsb_spark.sources.edges import edges_from_pages
    from parrsb_spark.sources.pages import synth_pages

    pages = synth_pages(spark, PAGES_N, m=PAGES_M, seed=PAGES_SEED)
    edges, _ = edges_from_pages(pages)
    return edges.select("src", "dst")


def sql_pages_edges():
    from parrsb_spark.sources.pages import page_links, page_url

    urls = {page_url(i) for i in range(PAGES_N)}
    for i in range(PAGES_N):
        urls.update(page_links(i, PAGES_N, PAGES_M, PAGES_SEED))
    vid = {u: k + 1 for k, u in enumerate(sorted(urls))}
    pairs = set()
    for i in range(PAGES_N):
        for t in page_links(i, PAGES_N, PAGES_M, PAGES_SEED):
            pairs.add((vid[page_url(i)], vid[t]))
    vals = ", ".join(f"({a}, {b})" for a, b in sorted(pairs))
    return f"SELECT * FROM (VALUES {vals}) t(src, dst)"


def q_pages_text_digest(spark, sf_dir):
    """The north rule's per-row invariant, driver-gated: extracted
    text must be BYTE-IDENTICAL per url. The distributed mapInPandas
    extraction's md5(text) per url is hash-compared against a
    VALUES-table oracle enumerated by the SAME pure-Python extractor
    the reference contract names — any single-byte extraction drift
    on any url fails the row."""
    from parrsb_spark.sources.pages import synth_pages

    return synth_pages(spark, PAGES_N, m=PAGES_M, seed=PAGES_SEED).select(
        "url", F.md5(F.col("text").cast("binary")).alias("text_md5")
    )


def sql_pages_text_digest():
    import hashlib

    from parrsb_spark.sources.pages import page_text, page_url

    vals = ", ".join(
        f"('{page_url(i)}', '{hashlib.md5(page_text(i, PAGES_N, PAGES_M, PAGES_SEED).encode()).hexdigest()}')"
        for i in range(PAGES_N)
    )
    return f"SELECT * FROM (VALUES {vals}) t(url, text_md5)"


def q_pages_host_graph(spark, sf_dir):
    """Host-level contraction of the page link graph (CommonCrawl-style
    webgraph rollup): hosts as supernodes, weight = page-level link
    count between them (duplicates and intra-host self-links counted —
    multigraph semantics, matching the Python enumerator)."""
    from parrsb_spark.sources.edges import host_edges_from_pages
    from parrsb_spark.sources.pages import synth_pages

    pages = synth_pages(spark, PAGES_N, m=PAGES_M, seed=PAGES_SEED)
    return host_edges_from_pages(pages).select("src_host", "dst_host", "weight")


def sql_pages_host_graph():
    from collections import Counter

    from parrsb_spark.sources.pages import page_links, page_url

    def host(u: str) -> str:
        return u.split("://", 1)[1].split("/", 1)[0]

    w: Counter = Counter()
    for i in range(PAGES_N):
        for t in page_links(i, PAGES_N, PAGES_M, PAGES_SEED):
            w[(host(page_url(i)), host(t))] += 1
    vals = ", ".join(f"('{a}', '{b}', {c})" for (a, b), c in sorted(w.items()))
    return f"SELECT * FROM (VALUES {vals}) t(src_host, dst_host, weight)"


def q_host_pagerank(spark, sf_dir):
    """Weighted PageRank over the host-level rollup — domain ranking,
    the canonical Common-Crawl webgraph computation: the contracted
    host graph's edge weights (page-level link multiplicities) steer
    the walk, pr(u)·w(u,v)/wout(u) per edge. Same round-8 gate as the
    other iterative float kernels."""
    from parrsb_spark.operators.pagerank import pagerank
    from parrsb_spark.sources.edges import host_edges_from_pages
    from parrsb_spark.sources.pages import synth_pages

    he = host_edges_from_pages(
        synth_pages(spark, PAGES_N, m=PAGES_M, seed=PAGES_SEED)
    ).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        "weight",
    )
    pr = pagerank(he, damping=DAMPING, fixed_iters=PR_ITERS, weight_col="weight")
    return pr.select(F.col("vid").alias("host"), F.round("pr", 8).alias("pr_r"))


def sql_host_pagerank(iters: int = PR_ITERS) -> str:
    from collections import Counter

    from parrsb_spark.sources.pages import page_links, page_url

    def host(u: str) -> str:
        return u.split("://", 1)[1].split("/", 1)[0]

    w: Counter = Counter()
    for i in range(PAGES_N):
        for t in page_links(i, PAGES_N, PAGES_M, PAGES_SEED):
            w[(host(page_url(i)), host(t))] += 1
    vals = ", ".join(f"('{a}', '{b}', {c})" for (a, b), c in sorted(w.items()))
    d = DAMPING
    parts = [
        f"he AS (SELECT * FROM (VALUES {vals}) t(src, dst, w))",
        "hverts AS (SELECT src AS vid FROM he UNION SELECT dst FROM he)",
        "hn AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM hverts)",
        "hout AS (SELECT src AS vid, CAST(sum(w) AS DOUBLE) AS od FROM he GROUP BY src)",
        "hp0 AS (SELECT vid, 1.0/(SELECT cnt FROM hn) AS pr FROM hverts)",
    ]
    for k in range(1, iters + 1):
        p = f"hp{k - 1}"
        parts.append(
            f"hp{k} AS MATERIALIZED (SELECT v.vid, "
            f"( {1 - d} + {d} * (SELECT coalesce(sum(p.pr), 0) FROM {p} p "
            f"LEFT JOIN hout o ON p.vid = o.vid WHERE o.vid IS NULL) ) / (SELECT cnt FROM hn) "
            f"+ {d} * coalesce(g.gath, 0) AS pr "
            f"FROM hverts v LEFT JOIN ("
            f"SELECT e.dst AS vid, sum(p.pr / o.od * CAST(e.w AS DOUBLE)) AS gath "
            f"FROM he e JOIN {p} p ON e.src = p.vid JOIN hout o ON e.src = o.vid "
            f"GROUP BY e.dst) g ON v.vid = g.vid)"
        )
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT vid AS host, round(pr, 8) AS pr_r FROM hp{iters}"
    )


def q_graph_cc_dense(spark, sf_dir):
    """CC labels densely renumbered 1..K (C8 dense-renumber surface)."""
    from parrsb_spark.operators.components import connected_components
    from parrsb_spark.operators.contraction import dense_renumber

    cc = connected_components(bipartite_edges(spark, sf_dir))
    return dense_renumber(cc, col="comp", out_col="dense").select("vid", "dense")


def sql_graph_cc_dense():
    inner = sql_graph_cc()
    return (
        f"WITH base AS ({inner}) "
        "SELECT vid, dense_rank() OVER (ORDER BY comp) AS dense FROM base"
    )
