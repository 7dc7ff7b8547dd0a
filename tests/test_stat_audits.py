"""Round-9 statistical/forensic audit tier: Benford digit audit,
contingency association (lift/PMI), Gini concentration, and
log-odds distinctive terms — fixture-based invariants plus hand-
computed small-case checks."""

import math

import pyspark.sql.functions as F
import pytest

from yelp_data_pipeline_spark.operators import aggregates as agg
from yelp_data_pipeline_spark.operators import quality as dq
from yelp_data_pipeline_spark.operators import textops as tx
from yelp_data_pipeline_spark.operators import timeseries as ts


def test_benford_hand_case(spark):
    # values with known first digits of exact cents: 1.00->100 (1),
    # 19.99->1999 (1), 2.50->250 (2), 0.30->30 (3), 9.99->999 (9);
    # zero/negative/null rows are excluded.
    rows = [(1.00,), (19.99,), (2.50,), (0.30,), (9.99,), (0.0,), (-5.0,), (None,)]
    df = spark.createDataFrame(rows, "v double")
    out = {r["digit"]: r for r in dq.benford_first_digit(df, "v").collect()}
    assert set(out) == {1, 2, 3, 9}
    assert out[1]["n_obs"] == 2 and out[2]["n_obs"] == 1
    assert out[1]["obs_share"] == pytest.approx(0.4)
    assert out[1]["benford_share"] == pytest.approx(
        round(math.log10(2.0), 6), abs=1e-9
    )
    # shares over emitted digits sum to 1
    assert sum(r["obs_share"] for r in out.values()) == pytest.approx(1.0, abs=1e-5)


def test_contingency_assoc_independent_and_marginals(spark):
    # Perfectly independent 2x2 design: every lift == 1, every PMI == 0.
    rows = [("a", "x")] * 4 + [("a", "y")] * 4 + [("b", "x")] * 4 + [("b", "y")] * 4
    df = spark.createDataFrame(rows, "u string, w string")
    out = agg.contingency_assoc(df, "u", "w").collect()
    assert len(out) == 4
    for r in out:
        assert r["n_total"] == 16 and r["n_a"] == 8 and r["n_b"] == 8
        assert r["lift"] == pytest.approx(1.0)
        assert r["pmi"] == pytest.approx(0.0)
    # Dependent case: PMI positive on the diagonal, negative off it.
    rows = [("a", "x")] * 6 + [("b", "y")] * 6 + [("a", "y")] * 1 + [("b", "x")] * 1
    df = spark.createDataFrame(rows, "u string, w string")
    got = {(r["u"], r["w"]): r["pmi"] for r in agg.contingency_assoc(df, "u", "w").collect()}
    assert got[("a", "x")] > 0 and got[("b", "y")] > 0
    assert got[("a", "y")] < 0 and got[("b", "x")] < 0


def test_gini_extremes(spark):
    # Equal values -> Gini ~ 0 (exactly (n-1)/n deviation-free form:
    # 2*S1/(n*S)-(n+1)/n with x_i=c gives 0 for any n).
    rows = [("g1", i, 10.0) for i in range(8)]
    # One key owns everything -> Gini -> (n-1)/n = 0.875
    rows += [("g2", 0, 80.0)] + [("g2", i, 0.0) for i in range(1, 8)]
    df = spark.createDataFrame(rows, "seg string, k long, v double")
    out = {r["seg"]: r for r in agg.gini_by_group(df, "seg", "k", "v").collect()}
    assert out["g1"]["gini"] == pytest.approx(0.0)
    assert out["g2"]["gini"] == pytest.approx(0.875)
    assert out["g1"]["total_cents"] == 8000
    assert out["g2"]["n_keys"] == 8


def test_gini_scale_invariance(spark):
    # Gini is scale-free: multiplying every value by 3 leaves it unchanged.
    base = [("g", i, float(i + 1)) for i in range(10)]
    scaled = [("g", i, 3.0 * (i + 1)) for i in range(10)]
    g1 = agg.gini_by_group(
        spark.createDataFrame(base, "seg string, k long, v double"), "seg", "k", "v"
    ).collect()[0]["gini"]
    g2 = agg.gini_by_group(
        spark.createDataFrame(scaled, "seg string, k long, v double"), "seg", "k", "v"
    ).collect()[0]["gini"]
    assert g1 == pytest.approx(g2, abs=2e-6)


def test_log_odds_planted_distinctive_term(spark):
    # 'zebra' appears only in source s1; 'common' everywhere. The
    # planted term must rank top for s1 with positive z.
    rows = [(1, "zebra zebra common word", "s1"),
            (2, "zebra common other word", "s1"),
            (3, "common word filler text", "s2"),
            (4, "common other filler text", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tx.distinctive_terms_log_odds(df, "source", "text", k=2).collect()
    s1_top = [r for r in out if r["source"] == "s1"][0]
    assert s1_top["word"] == "zebra"
    assert s1_top["z_score"] > 0
    assert s1_top["n_in_group"] == 3
    # k bound respected per group
    per = {}
    for r in out:
        per[r["source"]] = per.get(r["source"], 0) + 1
    assert all(v <= 2 for v in per.values())


def test_ranksum_drift_textbook_case(spark):
    # A = {1,2,3} (early), B = {4,5,6} (late): complete separation.
    # R_a = 6 -> U_a = 0 -> u2 = 0; tie-free variance
    # sigma^2 = (9/12)*7 = 5.25; z = (0 - 9) / (2*sqrt(5.25)).
    from datetime import datetime

    from yelp_data_pipeline_spark.operators.timeseries import ranksum_drift

    early = datetime(2024, 1, 10)
    late = datetime(2024, 1, 20)
    rows = [(early, 1.0), (early, 2.0), (early, 3.0),
            (late, 4.0), (late, 5.0), (late, 6.0)]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    r = ranksum_drift(df, "ts", "v", "2024-01-16").collect()[0]
    assert (r["n_a"], r["n_b"], r["u2"]) == (3, 3, 0)
    assert r["auc"] == pytest.approx(0.0)  # early never exceeds late
    assert r["z"] == pytest.approx(-9.0 / (2.0 * math.sqrt(5.25)), abs=1e-6)

    # All ties: every value equal -> U = n_a*n_b/2 -> z numerator 0,
    # variance 0 -> z is NULL/NaN-free guard not needed here because
    # numerator hits 0 first; assert u2 == n_a*n_b.
    rows = [(early, 5.0)] * 3 + [(late, 5.0)] * 2
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    r = ranksum_drift(df, "ts", "v", "2024-01-16").collect()[0]
    assert r["u2"] == r["n_a"] * r["n_b"]
    assert r["auc"] == pytest.approx(0.5)  # all ties: no superiority


def test_daily_acf_weekly_pattern(spark):
    # 14-day series with period-7 spikes: ACF must peak at lag 7 and
    # match the exact cleared-denominator formula computed in Python.
    from datetime import datetime, timedelta

    from yelp_data_pipeline_spark.operators.timeseries import daily_count_acf

    counts = [10, 1, 1, 1, 1, 1, 1] * 2
    rows = []
    d0 = datetime(2024, 3, 1)
    for i, c in enumerate(counts):
        rows += [(d0 + timedelta(days=i),)] * c
    df = spark.createDataFrame(rows, "ts timestamp")
    got = {r["lag"]: r["r"] for r in daily_count_acf(df, "ts", max_lag=7).collect()}

    n, s = len(counts), sum(counts)
    ce = [n * x - s for x in counts]
    den = sum(c * c for c in ce)

    def acf(k):
        return round(sum(ce[t] * ce[t + k] for t in range(n - k)) / den, 6)

    for k in range(1, 8):
        assert got[k] == pytest.approx(acf(k), abs=1e-9), k
    assert got[7] == max(got.values())
    assert got[7] > 0 > got[1]


def test_rand_index_hand_cases(spark):
    from yelp_data_pipeline_spark.operators.graph import clustering_rand_index

    def labels(d):
        return spark.createDataFrame(
            [(k, v) for k, v in d.items()], "doc_id long, cluster_id long"
        )

    # Identical clusterings: RI = ARI = 1.
    a = {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}
    r = clustering_rand_index(labels(a), labels(a)).collect()[0]
    assert r["rand_index"] == pytest.approx(1.0)
    assert r["adjusted_rand"] == pytest.approx(1.0)
    assert r["n_docs"] == 5 and r["n_clusters_a"] == r["n_clusters_b"] == 3

    # Textbook contingency: A = {1,2,3},{4,5,6}; B = {1,2},{3,4,5},{6}.
    # Pairs agreeing: n=6, P=15; Sij = C(2,2)+C(2,2)... cells:
    # (A1,B1)=2,(A1,B2)=1,(A2,B2)=2,(A2,B3)=1 -> Sij = 1+0+1+0 = 2;
    # Sa = 2*C(3,2)=6; Sb = C(2,2)+C(3,2)+0 = 1+3 = 4.
    # RI = (15 + 2*2 - 6 - 4)/15 = 9/15 = 0.6
    # ARI = (2 - 6*4/15)/((6+4)/2 - 6*4/15) = (2-1.6)/(5-1.6) = 0.117647
    a = {1: 10, 2: 10, 3: 10, 4: 20, 5: 20, 6: 20}
    b = {1: 7, 2: 7, 3: 8, 4: 8, 5: 8, 6: 9}
    r = clustering_rand_index(labels(a), labels(b)).collect()[0]
    assert r["rand_index"] == pytest.approx(0.6)
    assert r["adjusted_rand"] == pytest.approx(round(0.4 / 3.4, 6), abs=1e-6)

    # Degenerate: both all-singletons -> ARI denominator 0 -> NULL,
    # RI = 1 (every pair agrees: separated in both).
    a = {i: i for i in range(1, 5)}
    r = clustering_rand_index(labels(a), labels(a)).collect()[0]
    assert r["rand_index"] == pytest.approx(1.0)
    assert r["adjusted_rand"] is None


def test_wilson_rate_confidence(spark):
    from yelp_data_pipeline_spark.operators.quality import (
        rate_confidence_by_group,
    )

    rows = [("s1", 1)] * 8 + [("s1", 0)] * 2 + [("s2", 0)] * 5
    df = spark.createDataFrame(rows, "src string, ok int")
    out = {
        r["src"]: r
        for r in rate_confidence_by_group(df, "src", F.col("ok") == 1).collect()
    }
    # Hand-replication of the Wilson formula for s1: k=8, n=10.
    z, n, p = 1.96, 10.0, 0.8
    z2 = z * z
    center = p + z2 / (2.0 * n)
    margin = z * math.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
    denom = 1.0 + z2 / n
    assert out["s1"]["rate"] == pytest.approx(0.8)
    assert out["s1"]["ci_low"] == pytest.approx(round((center - margin) / denom, 6), abs=1e-9)
    assert out["s1"]["ci_high"] == pytest.approx(round((center + margin) / denom, 6), abs=1e-9)
    assert 0.0 <= out["s1"]["ci_low"] <= 0.8 <= out["s1"]["ci_high"] <= 1.0
    # k = 0: Wilson lower bound is exactly 0, upper stays inside [0,1].
    assert out["s2"]["rate"] == 0.0
    assert out["s2"]["ci_low"] == pytest.approx(0.0)
    assert 0.0 < out["s2"]["ci_high"] < 1.0


def test_psi_drift_cases(spark):
    from datetime import datetime

    from yelp_data_pipeline_spark.operators.timeseries import psi_drift

    early, late = datetime(2024, 1, 10), datetime(2024, 1, 20)
    # Identical distributions with equal n -> every smoothed p_i == q_i
    # -> PSI exactly 0.
    rows = [(early, float(v)) for v in (10, 30, 30, 60)] + [
        (late, float(v)) for v in (10, 30, 30, 60)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    r = psi_drift(df, "ts", "v", "2024-01-16").collect()[0]
    assert (r["n_a"], r["n_b"]) == (4, 4)
    assert r["psi"] == pytest.approx(0.0)

    # Fully shifted mass -> large positive PSI; replicate the exact
    # spine-smoothed formula in Python.
    rows = [(early, 10.0)] * 6 + [(late, 460.0)] * 4
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    r = psi_drift(df, "ts", "v", "2024-01-16").collect()[0]
    ca = {0: 6}
    cb = {18: 4}
    na, nb = 6, 4
    psi = 0.0
    for b in range(20):
        p = (ca.get(b, 0) + 1.0) / (na + 20.0)
        q = (cb.get(b, 0) + 1.0) / (nb + 20.0)
        psi += round((p - q) * math.log(p / q), 6)
    assert r["psi"] == pytest.approx(round(psi, 6), abs=1e-9)
    assert r["psi"] > 0.25  # "shifted" by the standard reading


def test_median_ci_hand_cases(spark):
    from yelp_data_pipeline_spark.operators.aggregates import median_ci

    # Odd n: 1..9 -> median 5; l = floor((9-1.96*3)/2) = 1 -> CI =
    # (x_(1), x_(9)) = (1, 9).
    df = spark.createDataFrame([(float(i),) for i in range(1, 10)], "v double")
    r = median_ci(df, "v").collect()[0]
    assert r["n_values"] == 9
    assert r["median"] == pytest.approx(5.0)
    assert r["ci_low"] == pytest.approx(1.0)
    assert r["ci_high"] == pytest.approx(9.0)

    # Even n: 1..10 -> median (5+6)/2 = 5.5; l = floor((10-1.96*sqrt(10))/2)
    l = int(math.floor((10 - 1.96 * math.sqrt(10)) / 2.0))
    df = spark.createDataFrame([(float(i),) for i in range(1, 11)], "v double")
    r = median_ci(df, "v").collect()[0]
    assert r["median"] == pytest.approx(5.5)
    assert r["ci_low"] == pytest.approx(float(l))
    assert r["ci_high"] == pytest.approx(float(11 - l))

    # Duplicates/ties collapse into cells but ranks still resolve:
    # [2,2,2,7] -> median (2+2)/2 = 2.
    df = spark.createDataFrame([(2.0,), (2.0,), (2.0,), (7.0,)], "v double")
    r = median_ci(df, "v").collect()[0]
    assert r["median"] == pytest.approx(2.0)
    assert r["n_values"] == 4


def test_spearman_hand_cases(spark):
    from yelp_data_pipeline_spark.operators.aggregates import spearman_corr

    # Perfect monotone (nonlinear!) relation -> rho = 1 even though
    # Pearson would be < 1: y = x^3.
    rows = [(float(x), float(x**3)) for x in range(1, 9)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = spearman_corr(df, "x", "y").collect()[0]
    assert r["n_rows"] == 8
    assert r["rho"] == pytest.approx(1.0)

    # Perfect inverse -> rho = -1.
    rows = [(float(x), float(-x)) for x in range(1, 9)]
    df = spark.createDataFrame(rows, "x double, y double")
    assert spearman_corr(df, "x", "y").collect()[0]["rho"] == pytest.approx(-1.0)

    # Ties: average-rank convention, cross-check against scipy-free
    # hand computation of Pearson on average ranks.
    rows = [(1.0, 10.0), (1.0, 20.0), (2.0, 20.0), (3.0, 30.0)]
    xs = [r[0] for r in rows]
    ys = [r[1] for r in rows]

    def avg_ranks(vals):
        out = []
        for v in vals:
            below = sum(1 for u in vals if u < v)
            ties = sum(1 for u in vals if u == v)
            out.append(below + (ties + 1) / 2.0)
        return out

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(rows)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(sum((a - mx) ** 2 for a in rx)) * math.sqrt(
        sum((b - my) ** 2 for b in ry)
    )
    df = spark.createDataFrame(rows, "x double, y double")
    got = spearman_corr(df, "x", "y").collect()[0]["rho"]
    assert got == pytest.approx(round(num / den, 6), abs=1e-6)


def test_kendall_hand_cases(spark):
    from yelp_data_pipeline_spark.operators.aggregates import kendall_tau_b

    # Perfect concordance -> tau_b = 1.
    rows = [(float(i), float(i * 10)) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = kendall_tau_b(df, "x", "y").collect()[0]
    assert r["tau_b"] == pytest.approx(1.0)
    assert r["discordant2"] == 0
    assert r["concordant2"] == 2 * 15  # C(6,2) pairs, all concordant

    # Perfect inversion -> tau_b = -1.
    rows = [(float(i), float(-i)) for i in range(1, 7)]
    df = spark.createDataFrame(rows, "x double, y double")
    assert kendall_tau_b(df, "x", "y").collect()[0]["tau_b"] == pytest.approx(-1.0)

    # Tied case cross-checked by brute force over all pairs.
    rows = [(1.0, 1.0), (1.0, 2.0), (2.0, 1.0), (2.0, 2.0), (3.0, 1.0)]
    n = len(rows)
    c = d = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = rows[j][0] - rows[i][0]
            dy = rows[j][1] - rows[i][1]
            if dx == 0 and dy == 0:
                tx += 1
                ty += 1
            elif dx == 0:
                tx += 1
            elif dy == 0:
                ty += 1
            elif dx * dy > 0:
                c += 1
            else:
                d += 1
    t0 = n * (n - 1) / 2
    expect = (c - d) / math.sqrt((t0 - tx) * (t0 - ty))
    df = spark.createDataFrame(rows, "x double, y double")
    got = kendall_tau_b(df, "x", "y").collect()[0]
    assert got["tau_b"] == pytest.approx(round(expect, 6), abs=1e-6)
    assert got["concordant2"] == 2 * c and got["discordant2"] == 2 * d


def test_zipf_fit_synthetic_law(spark):
    from yelp_data_pipeline_spark.operators.textops import zipf_fit

    # Build a corpus whose word frequencies follow freq(r) = C/r
    # exactly: slope of ln f on ln r must be ~ -1.
    words = [f"w{r:03d}" for r in range(1, 21)]
    text = " ".join(
        " ".join([w] * (240 // r)) for r, w in enumerate(words, start=1)
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = zipf_fit(df, "text", top_k=20).collect()[0]
    assert r["n_points"] == 20
    assert r["slope"] == pytest.approx(-1.0, abs=0.05)

    # Uniform frequencies -> slope ~ 0 (flat, boilerplate signature).
    text = " ".join(" ".join([w] * 5) for w in words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = zipf_fit(df, "text", top_k=20).collect()[0]
    assert abs(r["slope"]) < 1e-6


def test_readability_hand_case(spark):
    from yelp_data_pipeline_spark.operators.textops import readability_scores

    rows = [
        (1, "The cat sat. The dog ran!"),   # 6 words, 2 sentences
        (2, ""),                             # degenerate
        (3, "no terminator here"),           # 3 words, 1 sentence
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in readability_scores(df, "doc_id", "text").collect()}
    assert out[1]["n_words"] == 6 and out[1]["n_sentences"] == 2
    # vowel groups: the(1) cat(1) sat(1) the(1) dog(1) ran(1) = 6
    assert out[1]["n_syllables"] == 6
    assert out[1]["fk_grade"] == pytest.approx(
        round(0.39 * (6 / 2) + 11.8 * (6 / 6) - 15.59, 6), abs=1e-9
    )
    assert out[2]["fk_grade"] is None and out[2]["n_sentences"] is None
    assert out[3]["n_sentences"] == 1


def test_burstiness_poisson_vs_bursty(spark):
    from datetime import datetime, timedelta

    from yelp_data_pipeline_spark.operators.timeseries import (
        burstiness_by_group,
    )

    d0 = datetime(2024, 5, 1)
    rows = []
    # "steady": exactly 5/day for 8 days -> variance 0 -> fano 0.
    for i in range(8):
        rows += [("steady", d0 + timedelta(days=i))] * 5
    # "bursty": 40 on one day, 0 elsewhere (absent days don't enter the
    # daily relation): counts [40] over 1 day -> var 0 too; instead use
    # alternating 1 and 9 over 8 days: mean 5, pop var 16 -> fano 3.2.
    for i in range(8):
        rows += [("bursty", d0 + timedelta(days=i))] * (1 if i % 2 == 0 else 9)
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {r["event_type"]: r for r in burstiness_by_group(df, "ts", "event_type").collect()}
    assert out["steady"]["fano"] == pytest.approx(0.0)
    assert out["steady"]["mean_daily"] == pytest.approx(5.0)
    assert out["bursty"]["fano"] == pytest.approx(16.0 / 5.0)


def test_assortativity_hand_cases(spark):
    from yelp_data_pipeline_spark.operators.graph import degree_assortativity

    # Star graph (hub 0 to leaves 1..5): maximally disassortative.
    # Newman r for a star = -1.
    edges = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(edges, "a long, b long")
    r = degree_assortativity(df).collect()[0]
    assert r["n_edges"] == 5
    assert r["assortativity"] == pytest.approx(-1.0)

    # Two disjoint triangles: 3-regular-ish (every degree 2) ->
    # zero degree variance -> NULL (undefined), not 0/0.
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)]
    df = spark.createDataFrame(edges, "a long, b long")
    r = degree_assortativity(df).collect()[0]
    assert r["assortativity"] is None

    # Path 1-2-3-4: brute-force Newman r over both orientations.
    edges = [(1, 2), (2, 3), (3, 4)]
    deg = {1: 1, 2: 2, 3: 2, 4: 1}
    pts = []
    for a, b in edges:
        pts += [(deg[a], deg[b]), (deg[b], deg[a])]
    n = len(pts)
    sx = sum(p[0] for p in pts); sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] ** 2 for p in pts); syy = sum(p[1] ** 2 for p in pts)
    expect = (n * sxy - sx * sy) / (
        math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
    )
    df = spark.createDataFrame(edges, "a long, b long")
    got = degree_assortativity(df).collect()[0]["assortativity"]
    assert got == pytest.approx(round(expect, 6), abs=1e-6)


def test_grouped_ranksum_guards_and_direction(spark):
    # Type "up" shifts upward late (auc < 0.5 means a below b);
    # type "onesided" has no late rows -> NULL auc/z.
    rows = (
        [("up", "2024-01-10 00:00:00", float(v)) for v in (1, 2, 3)]
        + [("up", "2024-01-20 00:00:00", float(v)) for v in (10, 11, 12)]
        + [("onesided", "2024-01-10 00:00:00", 5.0)] * 3
    )
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).select(
        "event_type", F.col("ts").cast("timestamp").alias("ts"), "value"
    )
    out = {
        r["event_type"]: r
        for r in ts.ranksum_drift(
            df, "ts", "value", "2024-01-16", group_col="event_type"
        ).collect()
    }
    assert out["up"]["auc"] == pytest.approx(0.0)  # complete separation
    assert out["up"]["z"] < 0
    assert out["onesided"]["n_b"] == 0
    assert out["onesided"]["auc"] is None and out["onesided"]["z"] is None


def test_wasserstein_by_group_hand_cases(spark):
    rows = (
        # Type A: +1 uniform shift -> W1 = 1. Type B: identical -> 0.
        # Type C: single distinct value both sides -> 0. Type D: empty
        # late side -> NULL.
        [("A", "2024-01-10 00:00:00", v) for v in (1.0, 2.0)]
        + [("A", "2024-01-20 00:00:00", v) for v in (2.0, 3.0)]
        + [("B", "2024-01-10 00:00:00", 5.0), ("B", "2024-01-20 00:00:00", 5.0),
           ("B", "2024-01-10 00:00:00", 7.0), ("B", "2024-01-20 00:00:00", 7.0)]
        + [("C", "2024-01-10 00:00:00", 4.0), ("C", "2024-01-20 00:00:00", 4.0)]
        + [("D", "2024-01-10 00:00:00", 9.0)]
    )
    df = spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    out = {
        r["event_type"]: r
        for r in ts.wasserstein_drift(
            df, "ts", "value", "2024-01-16", group_col="event_type"
        ).collect()
    }
    assert out["A"]["w1"] == pytest.approx(1.0)
    assert out["B"]["w1"] == pytest.approx(0.0)
    assert out["C"]["w1"] == pytest.approx(0.0)
    assert out["D"]["w1"] is None and out["D"]["n_b"] == 0
    # Grouped result must agree with the global operator run per type.
    solo = ts.wasserstein_drift(
        df.where(F.col("event_type") == "A"), "ts", "value", "2024-01-16"
    ).collect()[0]
    assert out["A"]["w1"] == solo["w1"]


_BIGINT, _DOUBLE = "bigint", "double"
# (name, type, nullable) of each drift statistic's output: global,
# then per group.
_DRIFT_SCHEMAS = {
    "ranksum": (
        [("n_a", _BIGINT, True), ("n_b", _BIGINT, True), ("u2", _BIGINT, True),
         ("auc", _DOUBLE, True), ("z", _DOUBLE, True)],
        [("g", "string", True), ("n_a", _BIGINT, True), ("n_b", _BIGINT, True),
         ("auc", _DOUBLE, True), ("z", _DOUBLE, True)],
    ),
    "wasserstein": (
        [("n_a", _BIGINT, True), ("n_b", _BIGINT, True), ("w1", _DOUBLE, True)],
        [("g", "string", True), ("n_a", _BIGINT, True), ("n_b", _BIGINT, True),
         ("w1", _DOUBLE, True)],
    ),
}


@pytest.mark.parametrize("stat", ["ranksum", "wasserstein"])
def test_drift_global_equals_single_group(spark, stat):
    """``group_col=None`` is the one-group case of the grouped scan:
    same numbers (the global ranksum row also carries ``u2``), the
    pinned schemas, and the two empty-input contracts — one all-NULL
    row globally, no row per group."""
    fn = {"ranksum": ts.ranksum_drift, "wasserstein": ts.wasserstein_drift}[stat]
    rows = (
        [("x", "2024-01-10 00:00:00", v) for v in (1.0, 2.5, 2.5, 4.0, None)]
        + [("x", "2024-01-20 00:00:00", v) for v in (2.5, 3.0, 6.25)]
    )
    df = spark.createDataFrame(rows, "g string, ts_s string, value double").select(
        "g", F.col("ts_s").cast("timestamp").alias("ts"), "value"
    )
    cut = "2024-01-16"
    glob = fn(df, "ts", "value", cut)
    grouped = fn(df, "ts", "value", cut, group_col="g")
    fields = lambda d: [  # noqa: E731
        (f.name, f.dataType.simpleString(), f.nullable) for f in d.schema
    ]
    assert (fields(glob), fields(grouped)) == _DRIFT_SCHEMAS[stat]

    (g_row,) = glob.collect()
    (x_row,) = grouped.collect()
    assert x_row["g"] == "x" and x_row["n_a"] == 4 and x_row["n_b"] == 3
    assert [g_row[c] for c in grouped.columns[1:]] == list(x_row)[1:]

    empty = df.limit(0)
    assert [tuple(r) for r in fn(empty, "ts", "value", cut).collect()] == [
        (None,) * len(glob.columns)
    ]
    assert fn(empty, "ts", "value", cut, group_col="g").collect() == []
