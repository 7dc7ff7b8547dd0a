"""Late round-9 statistical tier: KS drift, EWMA smoothing,
Kaplan-Meier survival, Cramér's V, HHI concentration, one-way ANOVA,
Jensen-Shannon divergence, Cohen's kappa, and edit-distance pair
verification — hand-computed small cases plus structural invariants."""

import math

import pyspark.sql.functions as F
import pytest

from conftest import cc_path
from yelp_data_pipeline_spark.operators import aggregates as agg
from yelp_data_pipeline_spark.operators import dedup as dd
from yelp_data_pipeline_spark.operators import quality as dq
from yelp_data_pipeline_spark.operators import textops as tx
from yelp_data_pipeline_spark.operators import timeseries as ts


def test_ks_drift_disjoint_and_identical(spark):
    # Disjoint supports: D = 1. Identical samples: D = 0.
    early = [("2024-01-10 00:00:00", float(v)) for v in (1, 2, 3, 4)]
    late = [("2024-01-20 00:00:00", float(v)) for v in (10, 11, 12, 13)]
    df = spark.createDataFrame(early + late, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    row = ts.ks_drift(df, "ts", "value", "2024-01-16").collect()[0]
    assert row["n_a"] == 4 and row["n_b"] == 4
    assert row["d"] == pytest.approx(1.0)
    same = [("2024-01-10 00:00:00", float(v)) for v in (1, 2, 3)] + [
        ("2024-01-20 00:00:00", float(v)) for v in (1, 2, 3)
    ]
    df2 = spark.createDataFrame(same, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    row2 = ts.ks_drift(df2, "ts", "value", "2024-01-16").collect()[0]
    assert row2["d"] == pytest.approx(0.0)
    # Smirnov critical value: 1.36*sqrt((3+3)/(3*3))
    assert row2["d_crit"] == pytest.approx(round(1.36 * math.sqrt(6 / 9), 6))


def test_ewma_hand_case(spark):
    # Three days, counts 2, 0 (gap day), 4. Weights 2^-(j+1) truncated.
    rows = [
        ("2024-01-01 01:00:00",),
        ("2024-01-01 02:00:00",),
        ("2024-01-03 01:00:00",),
    ] + [("2024-01-03 02:00:00",)] * 3
    df = spark.createDataFrame(rows, "ts string").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    out = {str(r["date"]): r for r in ts.ewma_daily_counts(df, "ts").collect()}
    assert len(out) == 3
    # Day 1: only itself available -> ewma == cnt.
    assert out["2024-01-01"]["ewma"] == pytest.approx(2.0)
    # Day 2 (gap, cnt 0): (0*128 + 2*64)/(128+64) = 128/192.
    assert out["2024-01-02"]["cnt"] == 0
    assert out["2024-01-02"]["ewma"] == pytest.approx(round(128 / 192, 6))
    # Day 3: (4*128 + 0*64 + 2*32)/(128+64+32) = 576/224.
    assert out["2024-01-03"]["ewma"] == pytest.approx(round(576 / 224, 6))


def test_kaplan_meier_hand_case(spark):
    # Customer A orders on d0, d2, d5 -> gaps 2, 3 (events) + censored
    # wait 0 from d5 to end (end = global max date d5).
    # Customer B orders on d0 only -> censored wait 5.
    rows = [
        (1, "2024-01-01"),
        (1, "2024-01-03"),
        (1, "2024-01-06"),
        (2, "2024-01-01"),
    ]
    df = spark.createDataFrame(rows, "k long, d string").select(
        "k", F.col("d").cast("date").alias("d")
    )
    out = {r["t_days"]: r for r in ts.kaplan_meier_gaps(df, "k", "d").collect()}
    # Event times: 2 and 3. Durations: {0 censored, 2 event, 3 event,
    # 5 censored}. At t=2: at risk 3 (0-censored row already left), 1
    # event -> S = 2/3. At t=3: at risk 2, 1 event -> S = 2/3 * 1/2.
    assert set(out) == {2, 3}
    assert out[2]["n_at_risk"] == 3 and out[2]["n_events"] == 1
    assert out[2]["survival"] == pytest.approx(2 / 3, abs=1e-5)
    assert out[3]["n_at_risk"] == 2
    assert out[3]["survival"] == pytest.approx(1 / 3, abs=1e-5)


def test_kaplan_meier_exhausted_risk_set(spark):
    # Single customer, two orders -> one event gap, one 0-day censored
    # wait. The event time exhausts the remaining risk set -> S = 0.
    rows = [(1, "2024-01-01"), (1, "2024-01-04")]
    df = spark.createDataFrame(rows, "k long, d string").select(
        "k", F.col("d").cast("date").alias("d")
    )
    out = {r["t_days"]: r for r in ts.kaplan_meier_gaps(df, "k", "d").collect()}
    assert out[3]["survival"] == pytest.approx(0.0)


def test_cramers_v_extremes(spark):
    # Perfect association (b determined by a) -> V = 1.
    rows = [("a", "x")] * 5 + [("b", "y")] * 5
    df = spark.createDataFrame(rows, "u string, w string")
    row = agg.cramers_v(df, "u", "w").collect()[0]
    assert row["levels_a"] == 2 and row["levels_b"] == 2
    assert row["v"] == pytest.approx(1.0)
    # Independence -> chi2 = 0, V = 0.
    rows = [("a", "x")] * 3 + [("a", "y")] * 3 + [("b", "x")] * 3 + [("b", "y")] * 3
    df = spark.createDataFrame(rows, "u string, w string")
    row = agg.cramers_v(df, "u", "w").collect()[0]
    assert row["chi2"] == pytest.approx(0.0)
    assert row["v"] == pytest.approx(0.0)
    # Single-level column -> NULL V, not a crash.
    rows = [("a", "x")] * 4
    row = agg.cramers_v(
        spark.createDataFrame(rows, "u string, w string"), "u", "w"
    ).collect()[0]
    assert row["v"] is None


def test_hhi_extremes(spark):
    rows = (
        [("g1", 1, 10.0)]  # monopoly -> HHI 1
        + [("g2", i, 5.0) for i in range(4)]  # uniform 4 -> HHI 1/4
        + [("g3", 1, 0.0)]  # zero total -> NULLs
    )
    df = spark.createDataFrame(rows, "g string, e long, v double")
    out = {r["g"]: r for r in agg.hhi_by_group(df, "g", "e", "v").collect()}
    assert out["g1"]["hhi"] == pytest.approx(1.0)
    assert out["g1"]["hhi_normalized"] is None  # single entity
    assert out["g2"]["hhi"] == pytest.approx(0.25)
    assert out["g2"]["effective_n"] == pytest.approx(4.0)
    assert out["g2"]["hhi_normalized"] == pytest.approx(0.0)
    assert out["g3"]["hhi"] is None


def test_anova_f_hand_case(spark):
    # Two groups with equal means -> SSB 0, F 0; separated means -> F large.
    rows = [("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    row = agg.anova_f(df, "g", "v").collect()[0]
    assert row["ss_between"] == pytest.approx(0.0)
    assert row["eta_sq"] == pytest.approx(0.0)
    rows = [("a", 1.0), ("a", 1.0), ("b", 9.0), ("b", 9.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    row = agg.anova_f(df, "g", "v").collect()[0]
    # Zero within-group variance -> F undefined (NULL), eta^2 = 1.
    assert row["f_stat"] is None
    assert row["eta_sq"] == pytest.approx(1.0)
    # A real mixed case: a={1,2}, b={5,6}: SSB=16, SSW=1, F=32, eta=16/17.
    rows = [("a", 1.0), ("a", 2.0), ("b", 5.0), ("b", 6.0)]
    row = agg.anova_f(
        spark.createDataFrame(rows, "g string, v double"), "g", "v"
    ).collect()[0]
    assert row["ss_between"] == pytest.approx(16.0)
    assert row["ss_within"] == pytest.approx(1.0)
    assert row["f_stat"] == pytest.approx(32.0)
    assert row["eta_sq"] == pytest.approx(16 / 17, abs=1e-5)


def test_jsd_identical_vs_disjoint(spark):
    # A group whose unigram distribution equals the corpus mixture has
    # small JSD; a disjoint-vocabulary group has a much larger one.
    rows = (
        [("s1", "alpha beta gamma")] * 3
        + [("s2", "alpha beta gamma")] * 3
        + [("s3", "delta epsilon zeta")] * 3
    )
    df = spark.createDataFrame(rows, "source string, text string")
    out = {
        r["source"]: r
        for r in tx.unigram_jsd_to_corpus(df, "source", "text").collect()
    }
    assert set(out) == {"s1", "s2", "s3"}
    for r in out.values():
        assert 0.0 <= r["jsd_bits"] <= 1.0 + 1e-9
    assert out["s3"]["jsd_bits"] > out["s1"]["jsd_bits"]
    assert out["s1"]["jsd_bits"] == pytest.approx(out["s2"]["jsd_bits"])


def test_kappa_extremes(spark):
    # Perfect agreement -> kappa 1; independent gates -> kappa ~ 0.
    rows = [(True, True)] * 6 + [(False, False)] * 6
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    row = dq.gate_agreement_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert row["kappa"] == pytest.approx(1.0)
    rows = (
        [(True, True)] * 3
        + [(True, False)] * 3
        + [(False, True)] * 3
        + [(False, False)] * 3
    )
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    row = dq.gate_agreement_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert row["kappa"] == pytest.approx(0.0)
    # Constant gates -> p_e = 1 -> NULL kappa.
    rows = [(True, True)] * 4
    row = dq.gate_agreement_kappa(
        spark.createDataFrame(rows, "a boolean, b boolean"),
        F.col("a"),
        F.col("b"),
    ).collect()[0]
    assert row["kappa"] is None
    # NULL predicate values count as False.
    rows = [(None, True), (True, True), (False, False), (True, None)]
    row = dq.gate_agreement_kappa(
        spark.createDataFrame(rows, "a boolean, b boolean"),
        F.col("a"),
        F.col("b"),
    ).collect()[0]
    assert row["n_both"] == 1 and row["n_only_b"] == 1 and row["n_only_a"] == 1


def test_edit_distance_verify_planted_typos(spark):
    attrs = spark.createDataFrame(
        [
            (1, "jonathan smith"),
            (2, "jonathan smyth"),   # dist 1 from 1
            (3, "jonathon smith"),   # dist 1 from 1, 2 from 2
            (4, "completely different"),
        ],
        "id long, name string",
    )
    pairs = dd.sorted_neighborhood_pairs(
        attrs, "id", F.col("name"), window=3
    ).select("doc_a", "doc_b")
    out = dd.edit_distance_verify(pairs, attrs, "id", "name", 2).collect()
    got = {(r["doc_a"], r["doc_b"]): r["edit_dist"] for r in out}
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(2, 3)] == 2
    assert all(k[1] != 4 and k[0] != 4 for k in got)


def test_cohens_d_hand_case(spark):
    # a = {1, 2, 3}, b = {3, 4, 5}: means 2 and 4, pooled s^2 = 1
    # (ssa = ssb = 2, df = 4) -> d = -2. Hedges J = 1 - 3/15 = 0.8.
    rows = [("2024-01-10 00:00:00", float(v)) for v in (1, 2, 3)] + [
        ("2024-01-20 00:00:00", float(v)) for v in (3, 4, 5)
    ]
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    row = ts.cohens_d_drift(df, "ts", "value", "2024-01-16").collect()[0]
    assert row["mean_a"] == pytest.approx(2.0)
    assert row["mean_b"] == pytest.approx(4.0)
    assert row["cohens_d"] == pytest.approx(-2.0)
    assert row["hedges_g"] == pytest.approx(-1.6)
    # Degenerate: all values equal -> zero pooled variance -> NULL.
    rows = [("2024-01-10 00:00:00", 2.0)] * 3 + [
        ("2024-01-20 00:00:00", 2.0)
    ] * 3
    df = spark.createDataFrame(rows, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    assert (
        ts.cohens_d_drift(df, "ts", "value", "2024-01-16").collect()[0][
            "cohens_d"
        ]
        is None
    )


def test_chao1_hand_case(spark):
    # Tokens: a a b c -> counts {a:2, b:1, c:1}: d=3, N=4, f1=2, f2=1.
    # chao1 = 3 + 2*1/(2*2) = 3.5; unseen = 2/4.
    df = spark.createDataFrame([("a a b c",)], "text string")
    row = tx.chao1_richness(df, "text").collect()[0]
    assert row["n_tokens"] == 4 and row["n_vocab"] == 3
    assert row["f1"] == 2 and row["f2"] == 1
    assert row["chao1"] == pytest.approx(3.5)
    assert row["unseen_mass"] == pytest.approx(0.5)
    assert row["coverage"] == pytest.approx(0.5)


def test_transition_entropy_extremes(spark):
    from yelp_data_pipeline_spark.operators import behavior as bh

    # Deterministic chain a->b->a->b...: every row has ONE successor
    # -> entropy 0.
    rows = [
        (1, i, "2024-01-01 00:00:%02d" % i, "a" if i % 2 == 0 else "b")
        for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, event_type string"
    ).select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    row = bh.transition_entropy(df).collect()[0]
    assert row["entropy_rate"] == pytest.approx(0.0)
    assert row["n_transitions"] == 9
    # Uniform 2-state chain: entropy ~ ln 2 = max_entropy.
    seq = ["a", "a", "b", "b", "a", "b", "a", "a", "b", "b", "a", "b"]
    rows = [
        (1, i, "2024-01-01 00:00:%02d" % i, t) for i, t in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, event_type string"
    ).select(
        "user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    row = bh.transition_entropy(df).collect()[0]
    assert 0 < row["entropy_rate"] <= row["max_entropy"] + 1e-9


def test_partial_corr_confounder_collapse(spark):
    # x and y both driven by z (x = z, y = z plus a tiny wiggle):
    # r_xy ~ 1 but partial r_xy.z collapses toward 0.
    import itertools

    rows = []
    wx = itertools.cycle([0.02, -0.01, -0.01])
    wy = itertools.cycle([-0.01, 0.02, -0.01])
    for i in range(42):
        z = float(i)
        rows.append((z + next(wx), z + next(wy), z))
    df = spark.createDataFrame(rows, "x double, y double, z double")
    row = agg.partial_corr(df, "x", "y", "z").collect()[0]
    assert row["r_xy"] > 0.99
    assert abs(row["partial_r"]) < 0.5
    # Perfectly collinear x == z -> r_xz = 1 -> NULL partial.
    rows = [(float(i), float(2 * i), float(i)) for i in range(10)]
    row = agg.partial_corr(
        spark.createDataFrame(rows, "x double, y double, z double"),
        "x", "y", "z",
    ).collect()[0]
    assert row["partial_r"] is None


def test_levene_bf_spread_difference(spark):
    # Equal spreads -> F ~ 0; one wide group -> large F.
    tight = [("a", float(v)) for v in (10, 11, 12, 13)]
    same = [("b", float(v)) for v in (20, 21, 22, 23)]
    row = agg.levene_bf(
        spark.createDataFrame(tight + same, "g string, v double"), "g", "v"
    ).collect()[0]
    assert row["f_stat"] == pytest.approx(0.0)
    wide = [("b", float(v)) for v in (0, 14, 28, 42)]
    row = agg.levene_bf(
        spark.createDataFrame(tight + wide, "g string, v double"), "g", "v"
    ).collect()[0]
    assert row["f_stat"] > 5.0


def test_word_burstiness_shapes(spark):
    # "even" appears once in every doc (Fano < 1, sub-Poisson);
    # "bursty" appears 4x in one doc only (Fano > 1).
    rows = [
        (1, "even bursty bursty bursty bursty"),
        (2, "even filler"),
        (3, "even filler"),
        (4, "even filler"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["word"]: r
        for r in tx.word_burstiness_topk(df, "doc_id", "text", k=10).collect()
    }
    # even: c=1 in 4/4 docs -> var 0 -> fano 0.
    assert out["even"]["fano"] == pytest.approx(0.0)
    assert out["even"]["doc_freq"] == 4
    # bursty: T=4, Q=16, D=4 -> (4*16-16)/(4*4) = 3.
    assert out["bursty"]["fano"] == pytest.approx(3.0)


def test_doc_length_moments_symmetric(spark):
    # Symmetric lengths {1,2,3}x2 -> skewness 0; uniform-ish kurtosis.
    rows = [(1,), (2,), (3,), (1,), (2,), (3,)]
    df = spark.createDataFrame(rows, "n long")
    row = tx.doc_length_moments(df, "n").collect()[0]
    assert row["mean_len"] == pytest.approx(2.0)
    assert row["skewness"] == pytest.approx(0.0)
    # Population m2 = 2/3, m4 = 2/3*... for {-1,0,1}: m2=2/3, m4=2/3
    # kurt = (2/3)/(4/9) - 3 = 1.5 - 3 = -1.5
    assert row["excess_kurtosis"] == pytest.approx(-1.5)
    # Constant lengths -> NULL shape stats.
    row = tx.doc_length_moments(
        spark.createDataFrame([(5,)] * 4, "n long"), "n"
    ).collect()[0]
    assert row["sd_len"] is None and row["skewness"] is None


def test_global_clustering_triangle_vs_path(spark):
    from yelp_data_pipeline_spark.operators import graph as g

    # A triangle: 3 wedges, 1 triangle -> C = 1.
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a long, b long"
    )
    row = g.global_clustering(tri, "a", "b").collect()[0]
    assert row["n_triangles"] == 1 and row["n_wedges"] == 3
    assert row["c"] == pytest.approx(1.0)
    # A path a-b-c: 1 wedge, 0 triangles -> C = 0.
    path = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    row = g.global_clustering(path, "a", "b").collect()[0]
    assert row["n_triangles"] == 0 and row["n_wedges"] == 1
    assert row["c"] == pytest.approx(0.0)
    # A single edge: no wedges -> NULL.
    edge = spark.createDataFrame([(1, 2)], "a long, b long")
    assert g.global_clustering(edge, "a", "b").collect()[0]["c"] is None


def test_pareto_by_group_hand_case(spark):
    # g1: spends 80, 10, 5, 5 -> top-1 covers exactly 80% -> n_top80=1.
    # Top decile k = ceil(4/10) = 1 -> share 0.8.
    rows = [
        ("g1", 1, 80.0), ("g1", 2, 10.0), ("g1", 3, 5.0), ("g1", 4, 5.0),
        # g2: uniform 4x25 -> n_top80 = 4 (cum hits 80% only at rank 4
        # since 75 < 80), decile share 0.25.
        ("g2", 1, 25.0), ("g2", 2, 25.0), ("g2", 3, 25.0), ("g2", 4, 25.0),
    ]
    df = spark.createDataFrame(rows, "g string, e long, v double")
    out = {
        r["g"]: r for r in agg.pareto_by_group(df, "g", "e", "v").collect()
    }
    assert out["g1"]["n_top80"] == 1
    assert out["g1"]["top80_fraction"] == pytest.approx(0.25)
    assert out["g1"]["top_decile_share"] == pytest.approx(0.8)
    assert out["g2"]["n_top80"] == 4
    assert out["g2"]["top_decile_share"] == pytest.approx(0.25)


def test_interarrival_burstiness_shapes(spark):
    from yelp_data_pipeline_spark.operators import behavior as bh

    # Periodic gaps (all equal) -> sigma 0 -> B = -1.
    rows = [
        ("tick", 1, i, "2024-01-01 00:00:%02d" % (i * 10)) for i in range(6)
    ]
    # Bursty: five events in 1s then one 50s later (one user).
    rows += [
        ("burst", 2, i, "2024-01-01 00:00:%02d" % s)
        for i, s in enumerate((0, 1, 2, 3, 4, 54))
    ]
    df = spark.createDataFrame(
        rows, "event_type string, user_id long, event_id long, ts string"
    ).select(
        "event_type", "user_id", "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    out = {
        r["event_type"]: r
        for r in bh.interarrival_burstiness(df).collect()
    }
    assert out["tick"]["burstiness"] == pytest.approx(-1.0)
    assert out["tick"]["mean_gap_s"] == pytest.approx(10.0)
    # gaps {1,1,1,1,50}: mu=10.8, sigma=19.6 -> B = 8.8/30.4 ~ 0.289
    assert out["burst"]["burstiness"] == pytest.approx(0.289474, abs=1e-5)


def test_quantile_shift_uniform_location(spark):
    # Late window = early + 10 exactly: every decile shifts by 10.
    early = [("2024-01-10 00:00:00", float(v)) for v in range(1, 21)]
    late = [("2024-01-20 00:00:00", float(v + 10)) for v in range(1, 21)]
    df = spark.createDataFrame(early + late, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = ts.quantile_shift_profile(df, "ts", "value", "2024-01-16").collect()
    assert len(out) == 9
    for r in out:
        assert r["shift"] == pytest.approx(10.0)
    # Decile 5 of 1..20 at rank ceil(0.5*20)=10 -> value 10.
    d5 = {r["decile"]: r for r in out}[5]
    assert d5["q_early"] == pytest.approx(10.0)
    assert d5["q_late"] == pytest.approx(20.0)


def test_centroid_margin_audit_separated_clusters(spark):
    from yelp_data_pipeline_spark.operators import similarity as sim

    # Two orthogonal tight clusters -> cohesion ~1, second-best ~0,
    # margin ~1 for both labels.
    rows = []
    for i in range(4):
        rows.append((i, "a", [1.0, 0.0, 0.0, 0.0]))
    for i in range(4, 8):
        rows.append((i, "b", [0.0, 1.0, 0.0, 0.0]))
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    cents = sim.train_centroids_by_label(df, dim=4)
    out = {
        r["label"]: r
        for r in sim.centroid_margin_audit(df, cents).collect()
    }
    assert set(out) == {"a", "b"}
    for r in out.values():
        assert r["mean_cohesion"] == pytest.approx(1.0)
        assert r["mean_second_best"] == pytest.approx(0.0)
        assert r["mean_margin"] == pytest.approx(1.0)
    # Single centroid -> NULL separation.
    one = df.where(F.col("label") == "a")
    c1 = sim.train_centroids_by_label(one, dim=4)
    row = sim.centroid_margin_audit(one, c1).collect()[0]
    assert row["mean_second_best"] is None and row["mean_margin"] is None


def test_hurst_trend_vs_alternating(spark):
    # A monotone ramp is maximally persistent (H -> 1); a strict
    # alternation is anti-persistent (H well below 0.5).
    def mk(counts):
        rows = []
        for day, c in enumerate(counts, 1):
            for i in range(c):
                rows.append(("2024-01-%02d 00:00:%02d" % (day, i % 60),))
        return spark.createDataFrame(rows, "ts string").select(
            F.col("ts").cast("timestamp").alias("ts")
        )

    ramp = mk([d for d in range(1, 29)])
    row = ts.hurst_rs_daily(ramp, "ts", sizes=(4, 7, 14)).collect()[0]
    assert row["n_days"] == 28 and row["n_sizes"] == 3
    assert row["hurst"] > 0.85
    alt = mk([1 if d % 2 else 5 for d in range(1, 29)])
    row = ts.hurst_rs_daily(alt, "ts", sizes=(4, 7, 14)).collect()[0]
    assert row["hurst"] < 0.35


def test_mutual_info_extremes(spark):
    # Perfect dependence: MI = H_a = H_b, U = 1.
    rows = [("a", "x")] * 5 + [("b", "y")] * 5
    df = spark.createDataFrame(rows, "u string, w string")
    row = agg.mutual_info(df, "u", "w").collect()[0]
    assert row["mi"] == pytest.approx(row["h_a"], abs=1e-5)
    assert row["theils_u"] == pytest.approx(1.0, abs=1e-5)
    # Independence: MI ~ 0, U ~ 0.
    rows = [("a", "x")] * 3 + [("a", "y")] * 3 + [("b", "x")] * 3 + [("b", "y")] * 3
    row = agg.mutual_info(
        spark.createDataFrame(rows, "u string, w string"), "u", "w"
    ).collect()[0]
    assert row["mi"] == pytest.approx(0.0, abs=1e-5)
    assert row["theils_u"] == pytest.approx(0.0, abs=1e-5)
    assert row["h_a"] == pytest.approx(math.log(2), abs=1e-5)
    # Constant columns -> zero entropies -> NULL U.
    rows = [("a", "x")] * 4
    row = agg.mutual_info(
        spark.createDataFrame(rows, "u string, w string"), "u", "w"
    ).collect()[0]
    assert row["theils_u"] is None


def test_benford_conformity_perfect_vs_flat(spark):
    # A sample drawn exactly at Benford proportions (x1000) scores
    # chi2 ~ 0 and tiny MAD; a uniform-digit sample scores far worse.
    import math as _m

    benford = []
    for d in range(1, 10):
        n = round(1000 * _m.log10(1 + 1 / d))
        benford += [(float(d),)] * n  # value d.00 -> first digit d
    df = spark.createDataFrame(benford, "v double")
    good = dq.benford_conformity(df, "v").collect()[0]
    flat = dq.benford_conformity(
        spark.createDataFrame([(float(d),) for d in range(1, 10)] * 100, "v double"),
        "v",
    ).collect()[0]
    assert good["chi2"] < flat["chi2"]
    assert good["mad"] < 0.006 < flat["mad"]


def test_runs_test_alternating_vs_monotone(spark):
    def mk(counts):
        rows = []
        for day, c in enumerate(counts, 1):
            rows += [("2024-01-%02d 00:00:00" % day,)] * c
        return spark.createDataFrame(rows, "ts string").select(
            F.col("ts").cast("timestamp").alias("ts")
        )

    # Strict alternation -> every change is a new run -> z > 0.
    alt = mk([1 if d % 2 else 5 for d in range(1, 21)])
    row = ts.daily_runs_test(alt, "ts").collect()[0]
    assert row["n_runs"] == row["n_up"] + row["n_down"]
    assert row["z"] > 2.0
    # Monotone ramp -> a single run of ups -> NULL (no downs).
    ramp = mk(list(range(1, 21)))
    row = ts.daily_runs_test(ramp, "ts").collect()[0]
    assert row["n_down"] == 0 and row["n_runs"] == 1
    assert row["z"] is None


def test_tfidf_doc_similarity_topical_pair(spark):
    # Docs 1 and 2 share the distinctive bigram-free vocabulary
    # (df-banded terms); doc 3 is unrelated. Terms must appear in
    # >= 2 docs to count, so the shared pair dominates.
    rows = [
        (1, "quantum entanglement spooky action"),
        (2, "quantum entanglement bell inequality"),
        (3, "sourdough starter hydration ratio"),
        (4, "sourdough starter flour blend"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tx.tfidf_doc_similarity_topk(df, "doc_id", "text", k=5).collect()
    got = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in got and (3, 4) in got
    assert got[(1, 2)]["n_shared_terms"] == 2
    assert got[(1, 2)]["cosine"] > 0.5
    assert (1, 3) not in got and (2, 4) not in got


def test_ann_rank_quality_exact_ivf_agreement(spark):
    from yelp_data_pipeline_spark.operators import similarity as sim

    # Tight orthogonal clusters: IVF with nprobe=1 routes to the true
    # cell, so the approximate list IS the exact list -> nDCG 1, RR 1.
    rows = []
    for i in range(6):
        v = [0.0] * 8
        v[0] = 1.0 + 0.001 * i
        rows.append((i, "a", v))
    for i in range(6, 12):
        v = [0.0] * 8
        v[1] = 1.0 + 0.001 * i
        rows.append((i, "b", v))
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    corpus = df.withColumnRenamed("label", "cell")
    cents = sim.train_centroids_by_label(df, dim=8)
    qs = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = sim.ann_rank_quality_eval(corpus, cents, qs, k=4, nprobe=1)
    for r in out.collect():
        assert r["ndcg_at_4"] == pytest.approx(1.0)
        assert r["reciprocal_rank"] == pytest.approx(1.0)


def test_score_label_auc_extremes(spark):
    # Perfectly separating score -> AUC 1; anti-separating -> 0;
    # constant labels -> NULL.
    rows = [(0.9, True), (0.8, True), (0.2, False), (0.1, False)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    row = dq.score_label_auc(df, "s", F.col("y")).collect()[0]
    assert row["auc"] == pytest.approx(1.0)
    assert row["gini"] == pytest.approx(1.0)
    rows = [(0.1, True), (0.2, True), (0.8, False), (0.9, False)]
    row = dq.score_label_auc(
        spark.createDataFrame(rows, "s double, y boolean"), "s", F.col("y")
    ).collect()[0]
    assert row["auc"] == pytest.approx(0.0)
    # All-tied scores -> AUC 0.5 by the average-rank convention.
    rows = [(0.5, True), (0.5, False), (0.5, True), (0.5, False)]
    row = dq.score_label_auc(
        spark.createDataFrame(rows, "s double, y boolean"), "s", F.col("y")
    ).collect()[0]
    assert row["auc"] == pytest.approx(0.5)
    rows = [(0.5, True)] * 3
    row = dq.score_label_auc(
        spark.createDataFrame(rows, "s double, y boolean"), "s", F.col("y")
    ).collect()[0]
    assert row["auc"] is None


def test_score_lift_table_hand_case(spark):
    # 20 rows, scores descending, positives all in the top 4 ->
    # decile 1 (top 2 rows) and 2 catch them; lift in decile 1 = 5x.
    rows = [(i, 1.0 - i * 0.01, i < 4) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, s double, y boolean")
    out = {r["decile"]: r for r in dq.score_lift_table(df, "id", "s", F.col("y")).collect()}
    assert len(out) == 10 and all(out[d]["n_rows"] == 2 for d in out)
    assert out[1]["n_pos"] == 2 and out[2]["n_pos"] == 2
    assert out[1]["pos_rate"] == pytest.approx(1.0)
    assert out[1]["lift"] == pytest.approx(5.0)
    assert out[2]["cum_recall"] == pytest.approx(1.0)
    assert out[10]["cum_recall"] == pytest.approx(1.0)
    assert out[3]["n_pos"] == 0


def test_event_drift_report_matches_members(spark):
    # The one-row dashboard must agree cell-for-cell with the four
    # standalone drift operators it composes (same split, same data).
    from yelp_data_pipeline_spark.queries import queries

    qs = queries()
    sf = "/root/testdata/sf0.001"
    rep = qs["event_drift_report"](spark, sf).collect()[0]
    psi = qs["event_value_psi"](spark, sf).collect()[0]
    ks = qs["event_value_ks_drift"](spark, sf).collect()[0]
    rs = qs["event_value_ranksum_drift"](spark, sf).collect()[0]
    cd = qs["event_value_cohens_d"](spark, sf).collect()[0]
    wd = qs["event_value_wasserstein"](spark, sf).collect()[0]
    assert rep["n_a"] == psi["n_a"] and rep["n_b"] == psi["n_b"]
    assert rep["psi"] == psi["psi"]
    assert rep["ks_d"] == ks["d"] and rep["ks_crit"] == ks["d_crit"]
    assert rep["auc"] == rs["auc"] and rep["z"] == rs["z"]
    assert rep["cohens_d"] == cd["cohens_d"]
    assert rep["w1"] == wd["w1"]
    assert 0.0 <= rep["auc"] <= 1.0 and 0.0 <= rep["ks_d"] <= 1.0


def test_score_calibration_table_hand_case(spark):
    # Bin edges: half-open width-0.1 bins, top-closed. s=0.1 -> bin 2,
    # s=0.0 -> bin 1, s=1.0 -> bin 10.
    rows = [(0.0, False), (0.1, False), (1.0, True)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    out = {r["bin"]: r for r in dq.score_calibration_table(df, "s", F.col("y")).collect()}
    assert set(out) == {1, 2, 10}
    assert out[10]["pos_rate"] == pytest.approx(1.0)
    assert out[10]["mean_score"] == pytest.approx(1.0)
    # Perfectly calibrated bin: four 0.25-scored rows, one positive.
    rows = [(0.25, i == 0) for i in range(4)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    row = dq.score_calibration_table(df, "s", F.col("y")).collect()[0]
    assert row["bin"] == 3 and row["n_rows"] == 4 and row["n_pos"] == 1
    assert row["mean_score"] == pytest.approx(0.25)
    assert row["pos_rate"] == pytest.approx(0.25)
    assert row["gap"] == pytest.approx(0.0)


def test_score_brier_hand_cases(spark):
    # Oracle forecaster: s=1 on positives, s=0 on negatives.
    rows = [(1.0, True), (1.0, True), (0.0, False), (0.0, False)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    row = dq.score_brier(df, "s", F.col("y")).collect()[0]
    assert row["brier"] == pytest.approx(0.0)
    assert row["brier_skill"] == pytest.approx(1.0)
    assert row["ece"] == pytest.approx(0.0)
    # Calibrated-but-unsharp: constant s = base rate 0.25 -> Brier
    # equals BS_ref = 0.1875, skill 0, ECE 0.
    rows = [(0.25, i == 0) for i in range(4)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    row = dq.score_brier(df, "s", F.col("y")).collect()[0]
    assert row["brier"] == pytest.approx(0.1875)
    assert row["brier_skill"] == pytest.approx(0.0)
    assert row["ece"] == pytest.approx(0.0)
    # Confidently wrong single-class: skill NULL, ECE = mean score.
    rows = [(0.9, False), (0.9, False)]
    df = spark.createDataFrame(rows, "s double, y boolean")
    row = dq.score_brier(df, "s", F.col("y")).collect()[0]
    assert row["brier"] == pytest.approx(0.81)
    assert row["brier_skill"] is None
    assert row["ece"] == pytest.approx(0.9)


def test_wasserstein_drift_hand_cases(spark):
    def mk(early_vals, late_vals):
        rows = [("2024-01-10 00:00:00", float(v)) for v in early_vals] + [
            ("2024-01-20 00:00:00", float(v)) for v in late_vals
        ]
        return spark.createDataFrame(rows, "ts_s string, value double").select(
            F.col("ts_s").cast("timestamp").alias("ts"), "value"
        )

    cutoff = "2024-01-16"
    # Point masses 1.00 vs 3.50: mass travels exactly 2.50.
    row = ts.wasserstein_drift(mk([1, 1, 1], [3.5, 3.5]), "ts", "value", cutoff).collect()[0]
    assert (row["n_a"], row["n_b"]) == (3, 2)
    assert row["w1"] == pytest.approx(2.5)
    # Identical samples: zero transport.
    row = ts.wasserstein_drift(mk([1, 2, 3], [1, 2, 3]), "ts", "value", cutoff).collect()[0]
    assert row["w1"] == pytest.approx(0.0)
    # Uniform +1 shift: every unit of mass moves exactly 1.
    row = ts.wasserstein_drift(mk([1, 2, 3], [2, 3, 4]), "ts", "value", cutoff).collect()[0]
    assert row["w1"] == pytest.approx(1.0)
    # W1 is magnitude-aware where KS is not: same D=1 for both
    # disjoint splits, but 10x the transport distance.
    near = ts.wasserstein_drift(mk([1], [2]), "ts", "value", cutoff).collect()[0]
    far = ts.wasserstein_drift(mk([1], [11]), "ts", "value", cutoff).collect()[0]
    assert near["w1"] == pytest.approx(1.0) and far["w1"] == pytest.approx(10.0)


def test_golden_records_planted_duplicates(spark):
    # Three records of the same entity (1-char name typos, adjacent
    # after the name sort) + one distinct singleton. Survivorship:
    # rep = max acctbal (tie min key); segment = mode with
    # (count desc, value asc) tie-break; balance rules exact.
    from yelp_data_pipeline_spark.queries import _golden_records

    rows = [
        (1, "Customer#aaa01", 5, 100.10, "AUTO"),
        (2, "Customer#aab01", 7, 300.30, "STEEL"),
        (3, "Customer#aac01", 9, 200.20, "AUTO"),
        (50, "Zebra#zzz", 3, 50.05, "FURN"),
    ]
    c = spark.createDataFrame(
        rows,
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    out = {r["cluster_id"]: r for r in _golden_records(c).collect()}
    assert set(out) == {1, 50}
    g = out[1]
    assert g["n_members"] == 3
    assert g["rep_custkey"] == 2 and g["rep_name"] == "Customer#aab01"
    assert g["rep_nationkey"] == 7
    assert g["top_segment"] == "AUTO"  # 2 AUTO vs 1 STEEL
    assert g["max_acctbal"] == pytest.approx(300.30)
    assert g["total_acctbal"] == pytest.approx(600.60)
    s = out[50]
    assert s["n_members"] == 1 and s["rep_custkey"] == 50
    assert s["top_segment"] == "FURN"
    # Invariant: every source row lands in exactly one golden record.
    assert sum(r["n_members"] for r in out.values()) == len(rows)


def test_bfs_hops_path_and_disconnected(spark):
    from yelp_data_pipeline_spark.operators import graph as gr

    # Path 1-2-3-4-5 plus a disconnected pair 10-11. Max degree is 2,
    # shared by nodes 2,3,4,10?No: 10 has degree 1 — tie-break min id
    # picks node 2. Hops from 2: {2}=0, {1,3}=1, {4}=2, {5}=3; the
    # pair is unreached -> hop -1 with 2 nodes.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "a long, b long"
    )
    tri = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "a long, b long")
    for path in ("driver", "distributed"):
        with cc_path(spark, path):
            out = {r["hop"]: r["n_nodes"] for r in gr.bfs_hops(edges).collect()}
            assert out == {-1: 2, 0: 1, 1: 2, 2: 1, 3: 1}, path
            # Fully connected triangle: no -1 row.
            out = {r["hop"]: r["n_nodes"] for r in gr.bfs_hops(tri).collect()}
            assert out == {0: 1, 1: 2}, path


def test_prefix_dim_fidelity_structure_and_zero_suffix(spark):
    from yelp_data_pipeline_spark.operators import similarity as sim
    from yelp_data_pipeline_spark.queries import queries

    # Registry query shape: one row per query vector, overlap in [0,10].
    rows = queries()["prefix_dim_fidelity"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["qid"] for r in rows] == list(range(20))
    for r in rows:
        assert 0 <= r["n_overlap"] <= 10
        assert r["overlap_at_10"] == pytest.approx(r["n_overlap"] / 10.0)

    # When all information lives in the prefix (zero suffix), the
    # 32-dim arm must reproduce the full 64-dim top-k exactly.
    import random

    rnd = random.Random(7)
    corpus = [
        (i, [rnd.uniform(-1, 1) for _ in range(32)] + [0.0] * 32)
        for i in range(30)
    ]
    df = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
    qs = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    full = sim.cosine_topk_batch(df, qs, k=5)
    pre = sim.cosine_topk_batch(
        df.select("vec_id", F.slice("embedding", 1, 32).alias("embedding")),
        qs.select("qid", F.slice("qv", 1, 32).alias("qv")),
        k=5,
    )
    a = sorted(map(tuple, full.select("qid", "vec_id").collect()))
    b = sorted(map(tuple, pre.select("qid", "vec_id").collect()))
    assert a == b and len(a) == 15


def test_quantile_sketch_error_bound_and_exact_hand_case(spark):
    from yelp_data_pipeline_spark.operators import aggregates as ag

    # 10 values 100..1000 in one group, width 200. Exact type-1
    # quantiles: p50 -> rank 5 -> 500; p90 -> rank 9 -> 900.
    rows = [("g", float(v)) for v in range(100, 1001, 100)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["q"]: r
        for r in ag.quantile_sketch_error(
            df, ["g"], "v", width=200.0, quantiles=[0.5, 0.9]
        ).collect()
    }
    assert out[0.5]["exact_q"] == pytest.approx(500.0)
    assert out[0.9]["exact_q"] == pytest.approx(900.0)
    for r in out.values():
        assert r["within_bucket"] is True
        assert r["abs_err"] <= 200.0
    # Registry shape: every row honors the width-5000 bound.
    from yelp_data_pipeline_spark.queries import queries

    rows = queries()["quantile_sketch_error"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 20
    assert all(r["within_bucket"] for r in rows)


def test_split_leakage_audit_cluster_keyed_is_leak_free(spark):
    from yelp_data_pipeline_spark.queries import queries

    rows = queries()["split_leakage_audit"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    # Full 2-strategy x 3-pair spine, always 6 rows.
    assert len(rows) == 6
    by = {(r["strategy"], r["split_a"], r["split_b"]): r for r in rows}
    pairs_ = [("train", "val"), ("train", "test"), ("val", "test")]
    assert set(by) == {
        (s, a, b)
        for s in ("naive_hash", "cluster_keyed")
        for a, b in pairs_
    }
    # The constructional claim: cluster-keyed splitting leaks ZERO
    # verified near-dup pairs across any split boundary.
    for a, b in pairs_:
        r = by[("cluster_keyed", a, b)]
        assert r["leaking_pairs"] == 0 and r["leaked_docs"] == 0
    for r in rows:
        assert r["leaked_docs"] <= r["leaking_pairs"]


def test_fd_audit_hand_case(spark):
    # k -> v holds (k unique); v -> k violated (v=1 maps to two ks).
    rows = [(1, 10, "a"), (2, 10, "b"), (3, 20, "a")]
    df = spark.createDataFrame(rows, "k long, v long, s string")
    out = {
        (r["lhs"], r["rhs"]): r
        for r in dq.fd_audit(df, "t", [("k", "v"), ("v", "k"), ("v", "s")]).collect()
    }
    assert out[("k", "v")]["holds"] is True
    assert out[("k", "v")]["violating_lhs"] == 0
    # v=10 -> {1,2} (2 distinct ks), v=20 -> {3}: 1 violating value,
    # surplus = (2+1) - 2 = 1.
    r = out[("v", "k")]
    assert r["n_lhs"] == 2 and r["violating_lhs"] == 1
    assert r["surplus_rhs"] == 1 and r["holds"] is False
    # v -> s: v=10 -> {a,b} violated, v=20 -> {a} fine.
    assert out[("v", "s")]["violating_lhs"] == 1


def test_heavy_hitter_error_report_one_sided(spark):
    # The CMS one-sided-error guarantee: est >= exact on every row.
    from yelp_data_pipeline_spark.queries import queries

    rows = queries()["heavy_hitter_error_report"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["overcount"] >= 0
        assert r["est_cnt"] == r["exact_cnt"] + r["overcount"]
    # At least one reported hitter should be a true top-k member.
    assert any(r["in_exact_topk"] for r in rows)


def test_hll_error_report_sane(spark):
    from yelp_data_pipeline_spark.queries import queries

    rows = queries()["hll_error_report"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["exact_users"] > 0
        # The raw harmonic-mean estimator (no linear-counting branch
        # — determinism over small-range accuracy) is WAY off when
        # n ~ m at sf0.001: the eval exists precisely to expose that.
        # Pin the arithmetic, not a bound the estimator can't meet.
        got = abs(r["approx_users"] - r["exact_users"]) / r["exact_users"]
        assert r["rel_err"] == pytest.approx(round(got, 6), abs=1e-9)
    # At sf0.01 the groups leave the small-range regime and the m=64
    # error settles near its ~13% standard error.
    rows = queries()["hll_error_report"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    for r in rows:
        assert r["rel_err"] < 0.5


def test_hybrid_rrf_ranking_properties(spark):
    from yelp_data_pipeline_spark.queries import queries

    rows = queries()["hybrid_rrf_ranking"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert 0 < len(rows) <= 20
    # Fused score equals its definition from the two ranks.
    for r in rows:
        want = 0.0
        if r["lex_rank"] is not None:
            want += 1.0 / (60.0 + r["lex_rank"])
        if r["sem_rank"] is not None:
            want += 1.0 / (60.0 + r["sem_rank"])
        assert r["rrf"] == pytest.approx(round(want, 6), abs=1e-9)
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
    # Descending fused order; a doc ranked #1 in BOTH arms would top
    # any single-arm doc — monotonicity sanity.
    scores = [r["rrf"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_ann_prefilter_vs_postfilter_invariants(spark):
    from yelp_data_pipeline_spark.queries import queries

    rows = queries()["ann_prefilter_vs_postfilter"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert [r["qid"] for r in rows] == list(range(10))
    for r in rows:
        # Post-filter survivors are a prefix of the pre-filter ranking:
        # never MORE results, never more than k.
        assert 0 <= r["n_post_found"] <= r["n_pre_found"] <= 5
        # The query vector itself matches its own label and ranks #1
        # in both arms -> at least one result each.
        assert r["n_pre_found"] >= 1 and r["n_post_found"] >= 1


def test_mmr_diversify_hand_case(spark):
    from yelp_data_pipeline_spark.operators import similarity as sim

    # Corpus: the top hit (1), a near-copy of it (2), and a diverse
    # vector (3). The query must NOT be parallel to pick 1 (else
    # rel == sim-to-picked and every MMR score degenerates to 0):
    # rel: 1 -> 0.954, 2 -> 0.944, 3 -> 0.902, but sim(2,1) ~ 0.999
    # vs sim(3,1) ~ 0.731 — MMR (lambda=0.5) prefers the DIVERSE 3
    # over the near-copy 2 at pos 2.
    rows = [
        (1, [0.95, 0.3, 0.0, 0.0]),
        (2, [0.94, 0.33, 0.0, 0.0]),
        (3, [0.9, -0.43, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "qid long, qv array<float>"
    )
    out = {r["pos"]: r for r in sim.mmr_diversify(df, qs, k=3, pool=3).collect()}
    assert out[1]["vec_id"] == 1 and out[1]["max_sim"] is None
    assert out[2]["vec_id"] == 3  # diversity beats the near-copy
    assert out[3]["vec_id"] == 2
    # The penalized pick's max_sim reflects its similarity to pick 1.
    assert out[3]["max_sim"] > out[2]["max_sim"]
    # Registry shape: 10 queries x 5 positions, pos-1 seeds NULL.
    from yelp_data_pipeline_spark.queries import queries

    rows = queries()["mmr_diversified_topk"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 50
    for r in rows:
        if r["pos"] == 1:
            assert r["max_sim"] is None and r["mmr"] is None
        else:
            assert r["max_sim"] is not None and r["mmr"] is not None


def test_retrieval_health_report_matches_members(spark):
    from yelp_data_pipeline_spark.queries import queries

    qs = queries()
    sf = "/root/testdata/sf0.001"
    rep = qs["retrieval_health_report"](spark, sf).collect()[0]
    rq = qs["ann_rank_quality"](spark, sf).collect()
    pf = qs["prefix_dim_fidelity"](spark, sf).collect()
    pp = qs["ann_prefilter_vs_postfilter"](spark, sf).collect()
    assert rep["n_queries"] == len(rq)
    assert rep["mean_ndcg_at_10"] == pytest.approx(
        round(sum(r["ndcg_at_10"] for r in rq) / len(rq), 6), abs=1e-6
    )
    assert rep["mean_prefix_overlap_at_10"] == pytest.approx(
        round(sum(r["overlap_at_10"] for r in pf) / len(pf), 6), abs=1e-6
    )
    want_pr = sum(r["n_post_found"] for r in pp) / sum(
        r["n_pre_found"] for r in pp
    )
    assert rep["postfilter_recall"] == pytest.approx(round(want_pr, 6))
    for k in (
        "mean_ndcg_at_10",
        "mean_mrr",
        "mean_pq_recall_at_10",
        "mean_prefix_overlap_at_10",
        "postfilter_recall",
    ):
        assert 0.0 <= rep[k] <= 1.0 + 1e-9
