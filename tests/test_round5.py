"""Round-5 regressions: hub-safe labelprop argmax, multi-table ANN
recall. The spectral/RSB cases live in test_spectral.py."""

from pyspark.sql import functions as F

from parrsb_spark import graphs
from parrsb_spark.operators.labelprop import label_propagation
from tests.oracles import labelprop_np


# ---------------------------------------------------------------------------
# labelprop: struct-max argmax (no per-vid window funnel)


def test_labelprop_star_hub_matches_oracle(spark):
    """A star's center sees every leaf label at once — the shape whose
    count rows would all land on ONE window task under the old
    row_number pick. The struct-max pick must reproduce the oracle's
    count-desc / label-asc semantics exactly."""
    edges = graphs.star_hub(60)
    df = graphs.to_df(spark, edges)
    got = {r["vid"]: r["label"] for r in label_propagation(df, n_iter=3).collect()}
    assert got == labelprop_np(edges, n_iter=3)


# ---------------------------------------------------------------------------
# ANN: multi-table recall lift


def _ann_fixture(spark):
    """Deterministic CLUSTERED corpus (24 clusters × 5 members) +
    OFF-corpus queries (perturbed cluster centers, fresh q_ids): each
    query's true top-5 is exactly its cluster's 5 members — genuinely
    high-cosine neighbors LSH can miss per-table but recovers across
    tables. Off-corpus queries matter: a query that IS a corpus vector
    always shares its own bucket, making recall@1 a tautology."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(24, 16))
    base = np.concatenate([c + 0.08 * rng.normal(size=(5, 16)) for c in centers])
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(len(base))],
        schema="vec_id long, embedding array<double>",
    )
    qs = centers[:8] + 0.08 * rng.normal(size=(8, 16))
    queries = spark.createDataFrame(
        [(1000 + i, [float(x) for x in qs[i]]) for i in range(len(qs))],
        schema="q_id long, embedding array<double>",
    )
    return corpus, queries


def _recall_at_k(exact, approx, k):
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    return hits / (len(exact) * k)


def test_ann_multi_table_recall_lift(spark):
    """n_tables=4 must recover top-k neighbors the single table misses:
    recall@k strictly rises, reaching ≥0.9 at 4 tables on this fixture,
    and every returned pair is exact-verified (cos values match the
    brute-force oracle — multi-table changes candidate COVERAGE, never
    scoring)."""
    from parrsb_spark.operators.similarity import ann_lsh_topk, cosine_topk

    corpus, queries = _ann_fixture(spark)
    k = 5
    exact_rows = cosine_topk(corpus, queries, k=k).collect()
    exact = {}
    true_cos = {}
    for r in exact_rows:
        exact.setdefault(r["q_id"], set()).add(r["vec_id"])
        true_cos[(r["q_id"], r["vec_id"])] = r["cos"]

    recalls = {}
    for nt in (1, 4):
        rows = ann_lsh_topk(corpus, queries, k=k, n_planes=12, n_tables=nt).collect()
        approx = {}
        for r in rows:
            approx.setdefault(r["q_id"], set()).add(r["vec_id"])
            if (r["q_id"], r["vec_id"]) in true_cos:
                assert abs(r["cos"] - true_cos[(r["q_id"], r["vec_id"])]) < 1e-9
        recalls[nt] = _recall_at_k(exact, approx, k)
    assert recalls[1] < 1.0, "fixture must leave headroom for the lift"
    assert recalls[4] > recalls[1], recalls
    assert recalls[4] >= 0.9, recalls


def test_ann_multi_table_dedups_candidates(spark):
    """A pair colliding in several tables is scored ONCE: the result has
    no duplicate (q_id, vec_id) rows and rank stays a 1..k permutation."""
    from parrsb_spark.operators.similarity import ann_lsh_topk

    corpus, queries = _ann_fixture(spark)
    rows = ann_lsh_topk(corpus, queries, k=3, n_planes=4, n_tables=6).collect()
    seen = {}
    for r in rows:
        assert (r["q_id"], r["vec_id"]) not in seen
        seen[(r["q_id"], r["vec_id"])] = r["rank"]
    by_q = {}
    for (q, _), rank in seen.items():
        by_q.setdefault(q, []).append(rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), (q, ranks)


def test_ann_multi_probe_recall_lift(spark):
    """Single table, probing: flipping the lowest-|margin| sign bits must
    recover neighbors the base bucket misses — recall@k strictly rises
    from n_probes=1 to n_probes=4, reaching ≥0.9 on this fixture WITHOUT
    re-hashing the corpus (the query-side-only recall lever), and every
    returned pair is exact-verified against the brute-force oracle."""
    from parrsb_spark.operators.similarity import ann_lsh_topk, cosine_topk

    corpus, queries = _ann_fixture(spark)
    k = 5
    exact_rows = cosine_topk(corpus, queries, k=k).collect()
    exact = {}
    true_cos = {}
    for r in exact_rows:
        exact.setdefault(r["q_id"], set()).add(r["vec_id"])
        true_cos[(r["q_id"], r["vec_id"])] = r["cos"]

    recalls = {}
    for np_ in (1, 4):
        # n_tables=2 keeps the pairs path for BOTH arms so the A/B
        # isolates the probe knob (np_=1 base buckets only)
        rows = ann_lsh_topk(
            corpus, queries, k=k, n_planes=12, n_tables=2, n_probes=np_
        ).collect()
        approx = {}
        for r in rows:
            approx.setdefault(r["q_id"], set()).add(r["vec_id"])
            if (r["q_id"], r["vec_id"]) in true_cos:
                assert abs(r["cos"] - true_cos[(r["q_id"], r["vec_id"])]) < 1e-9
        recalls[np_] = _recall_at_k(exact, approx, k)
    assert recalls[1] < 1.0, "fixture must leave headroom for the lift"
    assert recalls[4] > recalls[1], recalls
    assert recalls[4] >= 0.9, recalls


def test_probe_buckets_base_matches_signatures(spark):
    """n_probes=1 probe_buckets IS lsh_signatures (same planes, same
    packing): the multi-probe path degenerates exactly to the base path,
    and n_probes=2 is a strict superset containing every base bucket."""
    from parrsb_spark.operators.similarity import lsh_signatures, probe_buckets

    corpus, _ = _ann_fixture(spark)
    base = {(r["id"], r["bucket"]) for r in lsh_signatures(corpus, 12, 7).collect()}
    p1 = {(r["id"], r["bucket"]) for r in probe_buckets(corpus, 12, 7, id_col="vec_id").collect()}
    assert p1 == base
    p2 = {
        (r["id"], r["bucket"])
        for r in probe_buckets(corpus, 12, 7, id_col="vec_id", n_probes=2).collect()
    }
    assert base < p2 and len(p2) == 2 * len(base)


def test_labelprop_plan_has_no_window(spark):
    """The loop plan must contain NO window node: the argmax is a
    map-side-combinable aggregate (AQE can split a skewed aggregate;
    it cannot split a window key)."""
    df = graphs.to_df(spark, graphs.grid2d(4, 3)[0])
    out = label_propagation(df, n_iter=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition" not in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# IVF ANN: second scale path


def test_ivf_topk_recall_lift_and_exact_scores(spark):
    """Probing more lists must recover neighbors the nearest list misses:
    recall@k rises n_probe 1→8 and reaches ≥0.9 at 8 of 16 lists on the
    clustered fixture; every returned pair's cos matches the brute-force
    oracle (IVF changes candidate coverage, never scoring)."""
    from parrsb_spark.operators.similarity import cosine_topk, ivf_topk, ivf_train_centroids

    corpus, queries = _ann_fixture(spark)
    k = 5
    exact_rows = cosine_topk(corpus, queries, k=k).collect()
    exact, true_cos = {}, {}
    for r in exact_rows:
        exact.setdefault(r["q_id"], set()).add(r["vec_id"])
        true_cos[(r["q_id"], r["vec_id"])] = r["cos"]

    cents = ivf_train_centroids(corpus, n_lists=16, seed=3)
    recalls = {}
    for np_ in (1, 8):
        rows = ivf_topk(corpus, queries, k=k, n_lists=16, n_probe=np_,
                        seed=3, centroids=cents).collect()
        approx = {}
        for r in rows:
            approx.setdefault(r["q_id"], set()).add(r["vec_id"])
            if (r["q_id"], r["vec_id"]) in true_cos:
                assert abs(r["cos"] - true_cos[(r["q_id"], r["vec_id"])]) < 1e-9
        recalls[np_] = _recall_at_k(exact, approx, k)
    assert recalls[8] >= recalls[1], recalls
    assert recalls[8] >= 0.9, recalls


def test_ivf_self_query_rank1_and_deterministic_assignment(spark):
    """A query that IS a corpus vector probes its own list first (same
    vector → same argmax centroid), so it must return itself at rank 1
    with cos = 1.0 even at n_probe=1; and the corpus index is
    deterministic across calls (same centroids → same list per vector)."""
    from pyspark.sql import functions as F

    from parrsb_spark.operators.similarity import ivf_assign, ivf_topk, ivf_train_centroids

    corpus, _ = _ann_fixture(spark)
    qs = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cents = ivf_train_centroids(corpus, n_lists=8, seed=5)
    top1 = {
        r["q_id"]: (r["vec_id"], r["cos"])
        for r in ivf_topk(corpus, qs, k=3, n_probe=1, centroids=cents)
        .filter(F.col("rank") == 1).collect()
    }
    assert set(top1) == {0, 1, 2, 3}
    for q, (v, cos) in top1.items():
        assert v == q and abs(cos - 1.0) < 1e-9
    a1 = sorted(map(tuple, ivf_assign(corpus, cents).collect()))
    a2 = sorted(map(tuple, ivf_assign(corpus, cents).collect()))
    assert a1 == a2
    assert len(a1) == corpus.count()  # exactly one list per corpus vector


# ---------------------------------------------------------------------------
# ANN structural properties (beyond the fixed recall fixtures)


def test_probe_buckets_hamming_and_prefix(spark):
    """Structural contract of multi-probe: every extra bucket differs
    from the base bucket in EXACTLY one bit (single-plane flips only),
    all of a vector's probes are distinct, and the probe set GROWS as a
    chain (the flip order is the fixed |margin| ranking, so raising
    n_probes only appends buckets — recall is monotone in the knob by
    construction, not by luck)."""
    from parrsb_spark.operators.similarity import lsh_signatures, probe_buckets

    corpus, _ = _ann_fixture(spark)
    base = {r["id"]: r["bucket"] for r in lsh_signatures(corpus, 10, 3).collect()}
    prev = {vid: {b} for vid, b in base.items()}
    for np_ in (2, 5, 11):  # 11 = n_planes + 1, the maximum
        rows = probe_buckets(corpus, 10, 3, id_col="vec_id", n_probes=np_).collect()
        got = {}
        for r in rows:
            got.setdefault(r["id"], []).append(r["bucket"])
        assert set(got) == set(base)
        for vid, buckets in got.items():
            assert len(buckets) == np_ == len(set(buckets))
            assert base[vid] in buckets
            for b in buckets:
                x = b ^ base[vid]
                assert x == 0 or (x & (x - 1)) == 0, (vid, bin(x))
            assert prev[vid] <= set(buckets)
        prev = {vid: set(bs) for vid, bs in got.items()}


def test_topk_two_phase_matches_global_window(spark):
    """The identity the two-phase distributed top-k rests on: partition-
    local prune (≤ k per (partition, q_id)) followed by the global rank
    must equal the naive single-window global top-k — on a many-partition
    random table with DUPLICATE cos values, so the vec_id tie-break is
    genuinely exercised across partition boundaries."""
    import numpy as np

    from pyspark.sql import Window

    from parrsb_spark.operators.similarity import _topk_per_query

    rng = np.random.default_rng(7)
    rows = [
        (int(q), int(v), float(rng.integers(0, 40)) / 10.0)
        for q in range(6)
        for v in rng.choice(500, size=80, replace=False)
    ]
    scored = spark.createDataFrame(
        rows, schema="q_id long, vec_id long, cos double"
    ).repartition(13)
    k = 7
    got = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in _topk_per_query(scored, k).collect()
    }
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    want = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .collect()
    }
    assert got == want and len(want) == 6 * k


def test_ivf_assign_range_and_distinct_probes(spark):
    """Query-side IVF probing emits exactly n_probe DISTINCT in-range
    list ids per vector (the candidate-volume budget ≈ n_probe/n_lists
    holds only if probes never repeat a list)."""
    from parrsb_spark.operators.similarity import ivf_assign, ivf_train_centroids

    corpus, queries = _ann_fixture(spark)
    cents = ivf_train_centroids(corpus, n_lists=8, seed=2)
    rows = ivf_assign(queries, cents, id_col="q_id", n_probe=5).collect()
    got = {}
    for r in rows:
        got.setdefault(r["id"], []).append(r["list_id"])
    assert len(got) == queries.count()
    for q, ls in got.items():
        assert len(ls) == 5 == len(set(ls)), (q, ls)
        assert all(0 <= li < 8 for li in ls), (q, ls)


def test_signatures_partition_invariant(spark):
    """Signatures are a pure per-row function of (embedding, seed): any
    repartitioning of the input must reproduce every signature bit — the
    reproducibility contract that lets a 100 TB corpus index be built
    incrementally on whatever partitioning the scan provides."""
    from parrsb_spark.operators.similarity import lsh_signatures

    corpus, _ = _ann_fixture(spark)
    a = {r["id"]: r["bucket"] for r in lsh_signatures(corpus, 12, 9).collect()}
    b = {
        r["id"]: r["bucket"]
        for r in lsh_signatures(corpus.repartition(17), 12, 9).collect()
    }
    assert a == b


def test_ivf_degenerate_corpus_reseeds_and_self_match(spark):
    """n_lists far above the corpus' natural cluster count forces the
    empty-list reseed path every Lloyd iteration; the reseeds must be
    DISTINCT sample points (a single shared pick would leave exact
    duplicate centroids that first-max assignment can never separate),
    an all-zero embedding must not NaN-poison training, and the rank-1
    self-match contract must survive near/exact centroid ties at
    n_probe > 1 (the lexsort selection keeps the corpus-side argmax
    list in every probe set)."""
    import numpy as np

    from parrsb_spark.operators.similarity import ivf_topk, ivf_train_centroids

    rng = np.random.default_rng(4)
    centers = rng.normal(size=(3, 8))
    base = np.concatenate([c + 0.05 * rng.normal(size=(10, 8)) for c in centers])
    rows = [(i, [float(x) for x in base[i]]) for i in range(len(base))]
    rows.append((len(base), [0.0] * 8))  # zero vector in the corpus
    corpus = spark.createDataFrame(rows, schema="vec_id long, embedding array<double>")
    cents = ivf_train_centroids(corpus, n_lists=12, seed=9, sample_per_list=8)
    assert cents.shape == (12, 8) and np.isfinite(cents).all()
    qs = corpus.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    top1 = {
        r["q_id"]: (r["vec_id"], r["cos"])
        for r in ivf_topk(corpus, qs, k=3, n_probe=4, centroids=cents)
        .filter(F.col("rank") == 1)
        .collect()
    }
    assert set(top1) == {0, 1, 2, 3, 4, 5}
    for q, (v, cos) in top1.items():
        assert v == q and abs(cos - 1.0) < 1e-9, (q, v, cos)


def test_zero_vector_never_outranks(spark):
    """Spark orders NaN LARGER than any double, so an unguarded 0/0
    cosine would put a zero-norm corpus vector at rank 1 of EVERY query.
    With the norm floor it scores cos = 0 and ranks below all genuine
    matches — in the exact path and in the near-dup threshold filter."""
    import math

    from parrsb_spark.operators.dedup import embedding_neardup_pairs
    from parrsb_spark.operators.similarity import cosine_topk

    corpus, queries = _ann_fixture(spark)
    zero = spark.createDataFrame(
        [(9999, [0.0] * 16)], schema="vec_id long, embedding array<double>"
    )
    rows = cosine_topk(corpus.unionByName(zero), queries, k=5).collect()
    assert rows, "top-k must be non-empty"
    for r in rows:
        assert not math.isnan(r["cos"])
        assert r["vec_id"] != 9999, "zero vector must not reach any top-5"
    dup = embedding_neardup_pairs(
        zero.unionByName(
            spark.createDataFrame(
                [(1, [1.0] * 16), (2, [1.0] * 16)],
                schema="vec_id long, embedding array<double>",
            )
        ),
        threshold=0.9,
    ).collect()
    assert {(r["a"], r["b"]) for r in dup} == {(1, 2)}
