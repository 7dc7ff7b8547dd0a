"""Round-6 operators: degree-ordered triangle counting, ANALYZE-style
column profiling, Count-Min-Sketch heavy hitters — correctness pinned
against independent Python replays (brute-force triangle enumeration,
dict-based profiling, a literal CMS grid)."""

import hashlib
from collections import Counter
from itertools import combinations

import pyspark.sql.functions as F

from conftest import cc_path
from yelp_data_pipeline_spark.operators.aggregates import cms_heavy_hitters
from yelp_data_pipeline_spark.operators.graph import triangle_counts
from yelp_data_pipeline_spark.operators.quality import column_profile


def _brute_triangles(edges):
    adj = {}
    und = set()
    for a, b in edges:
        if a == b:
            continue
        lo, hi = min(a, b), max(a, b)
        und.add((lo, hi))
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = Counter()
    for trio in combinations(sorted(adj), 3):
        a, b, c = trio
        if b in adj[a] and c in adj[a] and c in adj[b]:
            counts[a] += 1
            counts[b] += 1
            counts[c] += 1
    return dict(counts)


def test_triangle_counts_matches_bruteforce(spark):
    # K4 plus a pendant and a disconnected edge: K4 has 4 triangles,
    # each node in 3 of them; pendant/extra-edge nodes in none.
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"), ("x", "y"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == _brute_triangles(edges)


def test_triangle_counts_dedups_and_ignores_direction(spark):
    # Same triangle given as duplicates, reversed edges, and a
    # self-loop — still exactly one triangle.
    edges = [
        ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
        ("a", "b"), ("c", "c"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_counts_hub_graph(spark):
    # A star (hub h with 20 spokes) plus one spoke-spoke edge: exactly
    # one triangle; the degree orientation must not blow up or
    # miscount around the hub.
    edges = [("h", f"s{i}") for i in range(20)] + [("s0", "s1")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {"h": 1, "s0": 1, "s1": 1}


def test_column_profile_long_format(spark):
    rows = [
        (1, "x", 2.5),
        (2, "y", None),
        (3, None, 1.0),
        (4, "x", 4.0),
    ]
    df = spark.createDataFrame(rows, ["k", "s", "v"])
    prof = {
        r["column"]: r
        for r in column_profile(df, num_cols=["k", "v"], str_cols=["s"]).collect()
    }
    assert set(prof) == {"k", "s", "v"}
    k = prof["k"]
    assert (k["n_rows"], k["n_nulls"], k["n_distinct"]) == (4, 0, 4)
    assert (k["min_num"], k["max_num"]) == ("1000000", "4000000")
    assert k["min_str"] is None and k["max_str"] is None
    v = prof["v"]
    assert (v["n_nulls"], v["n_distinct"]) == (1, 3)
    assert (v["min_num"], v["max_num"]) == ("1000000", "4000000")
    s = prof["s"]
    assert (s["n_nulls"], s["n_distinct"]) == (1, 2)
    assert (s["min_str"], s["max_str"]) == ("x", "y")
    assert s["min_num"] is None and s["max_num"] is None


def test_column_profile_approx_path_runs(spark):
    # The 100 TB path (HLL++ NDV) must produce the same shape; exact
    # equality of NDV is not guaranteed, so assert bounds only.
    df = spark.createDataFrame([(i % 5, str(i % 3)) for i in range(100)], ["n", "s"])
    prof = {
        r["column"]: r
        for r in column_profile(
            df, num_cols=["n"], str_cols=["s"], exact_ndv=False
        ).collect()
    }
    assert prof["n"]["n_rows"] == 100
    assert 4 <= prof["n"]["n_distinct"] <= 6
    assert 2 <= prof["s"]["n_distinct"] <= 4


def _cms_python(values, depth, width):
    grid = Counter()
    for v in values:
        h = hashlib.md5(str(v).encode()).hexdigest()
        h1, h2 = int(h[:15], 16), int(h[15:28], 16)
        for i in range(depth):
            grid[(i, (h1 + i * h2) % width)] += 1
    est = {}
    for v in set(values):
        h = hashlib.md5(str(v).encode()).hexdigest()
        h1, h2 = int(h[:15], 16), int(h[15:28], 16)
        est[v] = min(grid[(i, (h1 + i * h2) % width)] for i in range(depth))
    return est


def test_cms_heavy_hitters_matches_python_grid(spark):
    # Zipf-ish stream over few keys + roomy grid: estimates must equal
    # the literal Python CMS (same md5 family), and with no collisions
    # they equal exact counts.
    values = [j for j in range(10) for _ in range(j + 1)]
    df = spark.createDataFrame([(v,) for v in values], ["k"])
    got = {
        r["k"]: r["est_cnt"]
        for r in cms_heavy_hitters(df, "k", depth=4, width=512, k=10).collect()
    }
    want = _cms_python(values, 4, 512)
    assert got == want
    exact = Counter(values)
    assert got == dict(exact)


def test_cms_never_undercounts_under_collisions(spark):
    # width=4 forces heavy collisions: estimates may overcount but can
    # NEVER undercount (the CMS guarantee), and the Python grid must
    # agree cell-for-cell.
    values = [j % 23 for j in range(400)]
    df = spark.createDataFrame([(v,) for v in values], ["k"])
    got = {
        r["k"]: r["est_cnt"]
        for r in cms_heavy_hitters(df, "k", depth=3, width=4, k=23).collect()
    }
    want = _cms_python(values, 3, 4)
    exact = Counter(values)
    for k, est in got.items():
        assert est >= exact[k]
        assert est == want[k]


def test_frequent_pairs_counts_and_lift(spark):
    # Baskets: {A,B,C}, {A,B}, {A,B,D}, {C,D} -> support(A,B)=3,
    # support(A,C)=support(B,C)=1 (dropped at min_support=2), etc.
    rows = [
        (1, "A"), (1, "B"), (1, "C"),
        (2, "A"), (2, "B"),
        (3, "A"), (3, "B"), (3, "D"),
        (4, "C"), (4, "D"),
        (3, "A"),  # duplicate item in basket: must not double-count
    ]
    from yelp_data_pipeline_spark.operators.aggregates import frequent_pairs

    df = spark.createDataFrame(rows, ["basket", "item"])
    got = {
        (r["a"], r["b"]): (r["support"], r["lift"])
        for r in frequent_pairs(df, "basket", "item", min_support=2).collect()
    }
    assert set(got) == {("A", "B")}
    support, lift = got[("A", "B")]
    assert support == 3
    # lift = support*nb / (supp_A*supp_B) = 3*4/(3*3)
    assert lift == round(3 * 4 / 9, 6)


def test_frequent_pairs_drops_oversized_baskets(spark):
    from yelp_data_pipeline_spark.operators.aggregates import frequent_pairs

    rows = [(1, f"i{j}") for j in range(10)] + [(2, "i0"), (2, "i1")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    got = frequent_pairs(
        df, "basket", "item", min_support=1, max_basket=5
    ).collect()
    # Basket 1 (10 items) dropped; only basket 2's single pair remains.
    assert [(r["a"], r["b"], r["support"]) for r in got] == [("i0", "i1", 1)]


def test_grouped_ols_trend_exact_line(spark):
    from yelp_data_pipeline_spark.operators.timeseries import grouped_ols_trend

    # g1: y = 2x + 1 exactly; g2: constant y (slope 0); g3: single
    # point (den=0 -> NULL slope, never divided).
    rows = (
        [("g1", x, 2.0 * x + 1.0) for x in range(5)]
        + [("g2", x, 7.0) for x in range(4)]
        + [("g3", 3, 9.0)]
    )
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = {r["g"]: r for r in grouped_ols_trend(df, "g", "x", "y").collect()}
    assert (got["g1"]["slope"], got["g1"]["intercept"]) == (2.0, 1.0)
    assert (got["g2"]["slope"], got["g2"]["intercept"]) == (0.0, 7.0)
    assert got["g3"]["slope"] is None and got["g3"]["intercept"] is None
    assert got["g3"]["n_points"] == 1


def test_prefix_jaccard_equals_exact_variant(spark):
    # Lossless claim: identical pair set + values as the full shingle
    # join, on docs engineered with shared boilerplate (hot shingles),
    # near-dups, and the float-ceil trap sizes (0.8*55 -> 44.000..01).
    from yelp_data_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard_pairs,
    )

    boiler = "terms of service apply to all content"
    docs = []
    for i in range(30):
        body = " ".join(f"w{i}_{j}" for j in range(40))
        docs.append((i, f"{body} {boiler}"))
        # near-dup: same long body, one token changed (J ≈ 0.875)
        docs.append((100 + i, f"{body} {boiler}".replace(f"w{i}_9 ", "zzz ")))
    # 57-token doc (55 distinct 3-shingles) and an exact twin: the
    # prefix length must use integer ceil or this pair is dropped.
    long_doc = " ".join(f"t{j}" for j in range(57))
    docs += [(500, long_doc), (501, long_doc)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in prefix_filtered_jaccard_pairs(df, "doc_id", "text").collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.8, max_doc_freq=None
        ).collect()
    }
    assert got == want
    assert (500, 501) in got and got[(500, 501)] == 1.0
    assert len(got) > 30  # the near-dup pairs actually qualify


def test_kmv_set_estimates_exact_small_and_accurate_large(spark):
    from yelp_data_pipeline_spark.operators.aggregates import kmv_set_estimates

    # A = 0..99, B = 50..149: union 150, intersection 50 — all below
    # k=256, so every path is the m<k EXACT branch.
    a = spark.createDataFrame([(i,) for i in range(100)], ["x"])
    b = spark.createDataFrame([(i,) for i in range(50, 150)], ["y"])
    r = kmv_set_estimates(a, "x", b, "y", k=256).collect()[0]
    assert (r["est_a"], r["est_b"], r["est_union"]) == (100, 100, 150)
    # rho over an m<k union sketch: ci counts true intersection hashes
    # -> round(50 * 150 / 256) deviates; recompute expectation:
    # union sketch holds all 150 hashes, ci = 50, est = round(50*150/256)
    assert r["est_intersection"] == round(50 * 150 / 256)

    # Large side: 5000 distinct values, k=256 -> estimator branch; the
    # estimate must land within 15% of truth.
    big = spark.createDataFrame([(i,) for i in range(5000)], ["x"])
    r2 = kmv_set_estimates(big, "x", b, "y", k=256).collect()[0]
    assert abs(r2["est_a"] - 5000) / 5000 < 0.15


def test_sorted_neighborhood_pairs_match_python(spark):
    from yelp_data_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    docs = [(i, f"doc number {i % 7} body {i}") for i in range(40)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    key = F.lower(F.col("text"))
    got = {
        (r["doc_a"], r["doc_b"], r["dist"])
        for r in sorted_neighborhood_pairs(df, "doc_id", key, window=2).collect()
    }
    order = sorted(docs, key=lambda t: (t[1].lower(), t[0]))
    want = set()
    for i in range(len(order)):
        for o in (1, 2):
            if i + o < len(order):
                a, b = order[i][0], order[i + o][0]
                want.add((min(a, b), max(a, b), o))
    assert got == want


def test_kcore_peel_cascades(spark):
    from yelp_data_pipeline_spark.operators.graph import kcore_peel

    # 4-clique {1,2,3,4} plus a pendant chain 4-5-6: node 6 falls in
    # round 1, which drops 5 to degree 1 so it falls in round 2 —
    # the cascade that distinguishes peeling from a one-shot degree
    # filter. The 2-core is exactly the clique, each with core deg 3.
    edges = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    edges += [(4, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for path in ("driver", "distributed"):
        with cc_path(spark, path):
            got = {(r["node"], r["core_deg"]) for r in kcore_peel(df, k=2).collect()}
            assert got == {(1, 3), (2, 3), (3, 3), (4, 3)}, path
            # One-shot degree filter would have kept node 5 (initial degree 2).

            # k above the max degree empties the graph.
            assert kcore_peel(df, k=5).count() == 0, path


def test_kcore_peel_round_limit_is_anytime(spark):
    from yelp_data_pipeline_spark.operators.graph import kcore_peel

    # Long chain into a triangle: with k=2, each round peels one chain
    # node. rounds=2 must return the partially-peeled (anytime) state:
    # after round 1 nodes {2..c}, after round 2 nodes {3..c}.
    c = 10
    edges = [(i, i + 1) for i in range(1, c)] + [(c, 1 + c), (c, 2 + c), (1 + c, 2 + c)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    for path in ("driver", "distributed"):
        with cc_path(spark, path):
            got2 = {r["node"] for r in kcore_peel(df, k=2, rounds=2).collect()}
            assert got2 == set(range(3, c + 3)), path
            full = {r["node"] for r in kcore_peel(df, k=2, rounds=25).collect()}
            assert full == {c, c + 1, c + 2}, path


def test_mad_outliers_flags_tail_and_guards_degenerate(spark):
    from yelp_data_pipeline_spark.operators.quality import mad_outliers

    # med=5.5, MAD=2.5 -> only the 1000 crosses 3.5 robust-z units.
    vals = [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], ["id", "v"]
    )
    got = mad_outliers(df, "id", "v").collect()
    assert [(r["id"], r["v"]) for r in got] == [(9, 1000.0)]
    assert abs(got[0]["robust_z"] - round(0.6745 * (1000 - 5.5) / 2.5, 6)) < 1e-9

    # >50% identical values -> MAD == 0 -> empty, not a crash and not
    # "everything else is an outlier".
    degen = spark.createDataFrame(
        [(i, 10.0) for i in range(7)] + [(99, 100.0)], ["id", "v"]
    )
    assert mad_outliers(degen, "id", "v").count() == 0


def test_histogram_drift_zero_for_identical_and_positive_for_shift(spark):
    from yelp_data_pipeline_spark.operators.timeseries import histogram_drift
    import datetime as dt

    a_ts = dt.datetime(2024, 1, 5)
    b_ts = dt.datetime(2024, 1, 25)
    same = [("g", t, float(v)) for t in (a_ts, b_ts) for v in (10, 40, 40, 90)]
    df = spark.createDataFrame(same, ["grp", "ts", "v"])
    r = histogram_drift(df, "ts", "v", "grp", "2024-01-16").collect()[0]
    assert (r["n_a"], r["n_b"], r["tv"], r["max_dev"]) == (4, 4, 0.0, 0.0)

    # Period B shifts every value by one bin: hand-replayed smoothed TV.
    shifted = [("g", a_ts, float(v)) for v in (10, 40, 40, 90)] + [
        ("g", b_ts, float(v)) for v in (35, 65, 65, 115)
    ]
    df2 = spark.createDataFrame(shifted, ["grp", "ts", "v"])
    r2 = histogram_drift(df2, "ts", "v", "grp", "2024-01-16").collect()[0]
    # bins (width 25): A -> {0:1, 1:2, 3:1}; B -> {1:1, 2:2, 4:1}
    B, na, nb = 20, 4, 4
    ac = {0: 1, 1: 2, 3: 1}
    bc = {1: 1, 2: 2, 4: 1}
    tv = 0.5 * sum(
        abs((ac.get(i, 0) + 1) / (na + B) - (bc.get(i, 0) + 1) / (nb + B))
        for i in range(B)
    )
    md = max(
        abs((ac.get(i, 0) + 1) / (na + B) - (bc.get(i, 0) + 1) / (nb + B))
        for i in range(B)
    )
    assert abs(r2["tv"] - round(tv, 6)) < 1e-9
    assert abs(r2["max_dev"] - round(md, 6)) < 1e-9


def test_diversity_by_group_hand_checked(spark):
    from yelp_data_pipeline_spark.operators.textops import diversity_by_group

    df = spark.createDataFrame(
        [("s1", "a a b"), ("s2", "x y z")], ["source", "text"]
    )
    got = {r["source"]: r for r in diversity_by_group(df, "source", "text").collect()}
    r1 = got["s1"]  # counts {a:2, b:1}: N=3 V=2 same2=2
    assert (r1["n_tokens"], r1["n_types"]) == (3, 2)
    assert r1["ttr"] == round(2 / 3, 6)
    assert r1["gini_simpson"] == round(1 - 2 / 6, 6)
    assert r1["hapax_ratio"] == 0.5
    r2 = got["s2"]  # all hapax: gini = 1
    assert (r2["gini_simpson"], r2["hapax_ratio"]) == (1.0, 1.0)


def test_sequence_motifs_counts_contiguous_trigrams(spark):
    from yelp_data_pipeline_spark.operators.behavior import sequence_motifs
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for uid, seq in [("u1", "abcab"), ("u2", "abc")]:
        for i, ch in enumerate(seq):
            rows.append((uid, t0 + dt.timedelta(minutes=i), f"{uid}-{i}", ch))
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    got = {(r["motif"], r["cnt"]) for r in
           sequence_motifs(df, "user_id", "ts", "event_type", "event_id").collect()}
    # u1: abc, bca, cab; u2: abc -> abc twice, no cross-user trigrams.
    assert got == {("a>b>c", 2), ("b>c>a", 1), ("c>a>b", 1)}


def test_linkage_score_pairs_weights_and_null_policy(spark):
    from yelp_data_pipeline_spark.operators.dedup import linkage_score_pairs

    attrs = spark.createDataFrame(
        [(1, "US", 100.0), (2, "US", 120.0), (3, "DE", None), (4, "US", 500.0)],
        ["id", "country", "bal"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["doc_a", "doc_b"]
    )
    rules = {
        "country": (lambda a, b: a["country"] == b["country"], 10, -4),
        "bal": (lambda a, b: F.abs(a["bal"] - b["bal"]) <= 50, 6, -2),
    }
    got = {
        (r["doc_a"], r["doc_b"]): (r["country_match"], r["bal_match"], r["score"])
        for r in linkage_score_pairs(pairs, attrs, "id", rules).collect()
    }
    assert got[(1, 2)] == (1, 1, 16)
    # NULL bal -> unevaluable evidence counts as disagreement, not NULL score.
    assert got[(1, 3)] == (0, 0, -6)
    assert got[(1, 4)] == (1, 0, 8)

    filtered = linkage_score_pairs(pairs, attrs, "id", rules, min_score=10)
    assert {(r["doc_a"], r["doc_b"]) for r in filtered.collect()} == {(1, 2)}


def test_pq_encode_selfcoding_and_shape(spark):
    from yelp_data_pipeline_spark.operators.similarity import pq_encode
    import hashlib

    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(12)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in
           pq_encode(df, m=4, k=4, dim=16).collect()}
    assert len(out) == 12
    for r in out.values():
        codes = [int(c) for c in r["codes"].split(",")]
        assert len(codes) == 4 and all(0 <= c < 4 for c in codes)
    # The 4 smallest-md5(vec_id) vectors ARE the codebook: they encode
    # to themselves with zero reconstruction error.
    hexes = sorted(
        (int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16), i)
        for i in range(12)
    )
    seeds = [i for _, i in hexes[:4]]
    for s in seeds:
        assert out[s]["recon_err"] == 0.0
    # Non-seed vectors (random in 16-d) almost surely do not coincide.
    assert any(out[i]["recon_err"] > 0 for i in range(12) if i not in seeds)


def test_pq_adc_query_row_scores_its_own_quantization_error(spark):
    from yelp_data_pipeline_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
    )
    import math
    import random

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(12)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = pq_adc_topk(df, query_id=5, m=4, k_codes=4, dim=16, k=12).collect()
    assert len(top) == 12
    # Ascending approximate distance.
    ds = [r["adc_d2"] for r in top]
    assert ds == sorted(ds)
    # The query's ADC distance equals its own quantization error
    # (same codes, same lookup table): adc_d2 = recon_err².
    err = {
        r["vec_id"]: r["recon_err"]
        for r in pq_encode(df, m=4, k=4, dim=16).collect()
    }
    adc5 = next(r["adc_d2"] for r in top if r["vec_id"] == 5)
    assert math.isclose(adc5, err[5] ** 2, rel_tol=1e-4)


def test_adaptive_quality_filter_cuts_per_source_not_globally(spark):
    from yelp_data_pipeline_spark.operators.textops import (
        adaptive_quality_filter,
        quality_score_col,
    )

    # Source A: long clean docs (high scores). Source B: short noisy
    # docs (low scores). A global p25 would drop most of B and none of
    # A; the per-source gate drops the bottom quartile of EACH.
    a = [(f"a{i}", "A", "the and is of " * (10 + i)) for i in range(8)]
    b = [(f"b{i}", "B", "#!? " * (1 + i)) for i in range(8)]
    df = spark.createDataFrame(a + b, ["doc_id", "source", "text"])
    out = adaptive_quality_filter(df, "doc_id", "source", "text").collect()
    by_src = {"A": 0, "B": 0}
    for r in out:
        by_src[r["source"]] += 1
    # Both sources keep their own top ~75% (exact count depends on
    # score ties, but neither source is wiped out or untouched).
    assert 4 <= by_src["A"] <= 7
    assert 4 <= by_src["B"] <= 7

    scores = {
        r["doc_id"]: r["quality_score"]
        for r in df.select(
            "doc_id", quality_score_col(F.col("text")).alias("quality_score")
        ).collect()
    }
    kept = {r["doc_id"] for r in out}
    # Survivors within each source all score >= every dropped doc there.
    for src, prefix in (("A", "a"), ("B", "b")):
        kept_s = [scores[d] for d in kept if d.startswith(prefix)]
        drop_s = [scores[d] for d in scores if d.startswith(prefix) and d not in kept]
        if kept_s and drop_s:
            assert min(kept_s) >= max(drop_s)


def test_doc_novelty_attribution_by_min_doc(spark):
    from yelp_data_pipeline_spark.operators.dedup import doc_novelty_scores

    docs = [
        (1, "a b c d"),            # shingles: abc, bcd -> both novel
        (2, "a b c d e"),          # abc, bcd seen in 1; cde novel
        (3, "x y z"),              # xyz novel (single shingle)
        (4, "a b c"),              # abc seen in 1 -> novelty 0
        (5, "a b"),                # < 3 tokens -> no shingles, excluded
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in doc_novelty_scores(df, "doc_id", "text").collect()}
    assert set(got) == {1, 2, 3, 4}
    assert (got[1]["n_shingles"], got[1]["n_novel"], got[1]["novelty"]) == (2, 2, 1.0)
    assert (got[2]["n_shingles"], got[2]["n_novel"]) == (3, 1)
    assert got[2]["novelty"] == round(1 / 3, 6)
    assert got[3]["novelty"] == 1.0
    assert got[4]["novelty"] == 0.0


def test_pq_recall_eval_perfect_when_codes_separate_clusters(spark):
    from yelp_data_pipeline_spark.operators.similarity import pq_recall_eval

    # Two far-apart tight clusters: ADC ranks every same-cluster
    # vector above every cross-cluster vector, so recall@k within a
    # cluster of size k is 1.0 regardless of codebook quality.
    import random

    rnd = random.Random(3)
    rows = []
    for i in range(8):
        base = 0.0 if i < 4 else 50.0
        rows.append((i, [base + rnd.uniform(-0.1, 0.1) for _ in range(16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["qid"]: r for r in
           pq_recall_eval(df, [0, 5], m=4, k_codes=4, dim=16, k=4).collect()}
    assert out[0]["recall_at_4"] == 1.0
    assert out[5]["recall_at_4"] == 1.0
    assert out[0]["n_hits"] == 4


def test_loo_target_encoding_excludes_own_row(spark):
    from yelp_data_pipeline_spark.operators.aggregates import (
        loo_target_encoding,
    )

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0), (4, "b", 7.0)],
        ["id", "cat", "y"],
    )
    got = {r["id"]: r["loo_mean"]
           for r in loo_target_encoding(df, ["id"], "cat", "y").collect()}
    assert got[1] == 25.0   # (20+30)/2
    assert got[2] == 20.0   # (10+30)/2
    assert got[3] == 15.0   # (10+20)/2
    assert got[4] is None   # singleton category


def test_quantile_bins_put_ties_in_same_bin(spark):
    from yelp_data_pipeline_spark.operators.aggregates import quantile_bins

    # 8 identical values + 2 outliers: ntile() would smear the ties
    # across buckets; value-bound binning must give all ties ONE bin.
    rows = [(i, 5.0) for i in range(8)] + [(8, 1.0), (9, 9.0)]
    df = spark.createDataFrame(rows, ["id", "v"])
    got = {r["id"]: r["bin"] for r in quantile_bins(df, ["id"], "v", 4).collect()}
    tie_bins = {got[i] for i in range(8)}
    assert len(tie_bins) == 1
    assert got[8] < min(tie_bins) <= got[9]


def test_isotonic_minimax_matches_pava_and_hand_case(spark):
    from yelp_data_pipeline_spark.operators.timeseries import (
        isotonic_fit_by_group,
        isotonic_fit_pandas,
    )

    # Hand case: means by x are [3, 1, 2, 5] (weights 1) -> PAVA pools
    # {3,1,2} -> 2.0, leaves 5: fit [2, 2, 2, 5].
    rows = [("g", 0, 3.0), ("g", 1, 1.0), ("g", 2, 2.0), ("g", 3, 5.0)]
    df = spark.createDataFrame(rows, ["grp", "x", "y"])
    mm = {r["x"]: r["y_iso"]
          for r in isotonic_fit_by_group(df, "grp", "x", "y").collect()}
    assert mm == {0: 2.0, 1: 2.0, 2: 2.0, 3: 5.0}

    # Weighted + multi-group case: minimax and PAVA must agree.
    import random

    rnd = random.Random(5)
    rows2 = [
        (g, x, round(rnd.uniform(0, 10), 2))
        for g in ("a", "b")
        for x in range(12)
        for _ in range(rnd.randint(1, 4))
    ]
    df2 = spark.createDataFrame(rows2, ["grp", "x", "y"])
    mm2 = {(r["grp"], r["x"]): (r["n"], r["y_mean"], r["y_iso"])
           for r in isotonic_fit_by_group(df2, "grp", "x", "y").collect()}
    pv2 = {(r["grp"], r["x"]): (r["n"], r["y_mean"], r["y_iso"])
           for r in isotonic_fit_pandas(df2, "grp", "x", "y").collect()}
    assert set(mm2) == set(pv2)
    for key in mm2:
        assert mm2[key][0] == pv2[key][0]
        assert abs(mm2[key][1] - pv2[key][1]) < 1e-6
        assert abs(mm2[key][2] - pv2[key][2]) < 1e-6
    # Monotone non-decreasing within each group.
    for g in ("a", "b"):
        seq = [mm2[(g, x)][2] for x in range(12)]
        assert all(a <= b + 1e-9 for a, b in zip(seq, seq[1:]))


def test_cdc_chunks_resync_after_insertion(spark):
    from yelp_data_pipeline_spark.operators.textops import cdc_chunk_documents
    import random

    rnd = random.Random(17)
    words = [f"w{rnd.randint(0, 5000)}" for _ in range(400)]
    orig = " ".join(words)
    edited = " ".join(words[:5] + ["INSERTED"] + words[5:])
    df = spark.createDataFrame(
        [(1, orig), (2, edited)], ["doc_id", "text"]
    )
    out = cdc_chunk_documents(df, "doc_id", "text").collect()
    h1 = [r["chunk_hash"] for r in sorted(
        (r for r in out if r["doc_id"] == 1), key=lambda r: r["chunk_idx"])]
    h2 = [r["chunk_hash"] for r in sorted(
        (r for r in out if r["doc_id"] == 2), key=lambda r: r["chunk_idx"])]
    # The insertion perturbs only the prefix: the SUFFIX chunk streams
    # re-synchronize (identical trailing hashes) — the property
    # fixed-width chunking lacks (there, every later chunk shifts).
    common_tail = 0
    while (common_tail < min(len(h1), len(h2))
           and h1[-1 - common_tail] == h2[-1 - common_tail]):
        common_tail += 1
    assert common_tail >= max(len(h1) - 3, 1), (common_tail, len(h1), len(h2))

    # Chunks tile the doc exactly: contiguous spans, full coverage.
    for doc in (1, 2):
        spans = sorted(
            ((r["start_tok"], r["end_tok"]) for r in out if r["doc_id"] == doc)
        )
        assert spans[0][0] == 1
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 == e1 + 1


def test_quantile_bins_and_drift_null_policy(spark):
    from yelp_data_pipeline_spark.operators.aggregates import quantile_bins
    from yelp_data_pipeline_spark.operators.timeseries import histogram_drift
    import datetime as dt

    df = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (2, 3.0), (3, 4.0), (4, None)], ["id", "v"]
    )
    got = {r["id"]: r["bin"] for r in quantile_bins(df, ["id"], "v", 4).collect()}
    assert got[4] is None  # missing stays visible, never "lowest decile"
    assert all(got[i] is not None for i in range(4))

    # NULL values are excluded from drift histograms, not binned high.
    a, b = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 25)
    rows = [("g", t, v) for t in (a, b) for v in (10.0, 40.0)] + [("g", b, None)]
    r = histogram_drift(
        spark.createDataFrame(rows, ["grp", "ts", "v"]), "ts", "v", "grp",
        "2024-01-16",
    ).collect()[0]
    assert (r["n_a"], r["n_b"], r["tv"]) == (2, 2, 0.0)


def test_histogram_quantiles_error_bound_and_merge(spark):
    """The fixed-boundary histogram quantile must sit within one
    bucket width of the exact quantile, and per-shard histograms must
    merge (sum of bucket counts) to the same estimates as one pass —
    the mergeability that makes it the sketch-tier quantile."""
    import pyspark.sql.functions as F

    from yelp_data_pipeline_spark.operators.aggregates import (
        histogram_quantiles,
    )

    rows = [("g", float(v)) for v in range(1, 1001)]  # 1..1000
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {
        (r["g"], r["q"]): (r["quantile_est"], r["n_rows"])
        for r in histogram_quantiles(
            df, ["g"], "v", width=10.0, quantiles=[0.25, 0.5, 0.99]
        ).collect()
    }
    assert got[("g", 0.5)][1] == 1000
    # exact quantiles of 1..1000 at rank ceil(q*n)
    for q, exact in [(0.25, 250.0), (0.5, 500.0), (0.99, 990.0)]:
        est = got[("g", q)][0]
        assert abs(est - exact) <= 10.0, (q, est)

    # merge property: two shards' histograms == one pass (the
    # operator's groupBy IS the merge; re-partitioning must not
    # change a single output value)
    re = df.repartition(7, "v")
    got2 = {
        (r["g"], r["q"]): (r["quantile_est"], r["n_rows"])
        for r in histogram_quantiles(
            re, ["g"], "v", width=10.0, quantiles=[0.25, 0.5, 0.99]
        ).collect()
    }
    assert got == got2

    # NULLs are excluded, not imputed
    dfn = spark.createDataFrame(
        [("g", 1.0), ("g", None), ("g", 3.0)], ["g", "v"]
    )
    out = histogram_quantiles(dfn, ["g"], "v", 1.0, [0.5]).collect()
    assert out[0]["n_rows"] == 2


def test_kmv_daily_merge_equals_direct(spark):
    """Union of per-day k-min sets re-taken to k must equal the direct
    global sketch EXACTLY (every global k-min member is in its own
    day's k-min set) — the associativity that lets date-range distinct
    queries run over O(days*k) sketch rows."""
    import datetime as dt

    from yelp_data_pipeline_spark.operators.aggregates import kmv_daily_merge

    rows = []
    for d in range(5):
        day = dt.datetime(2024, 3, 1 + d)
        for u in range(40):  # heavy overlap across days
            rows.append((day, f"user{(u * 7 + d) % 60}"))
    df = spark.createDataFrame(rows, ["ts", "user_id"])
    got = {
        r["day"]: r["est_distinct"]
        for r in kmv_daily_merge(df, "ts", "user_id", k=16).collect()
    }
    assert got["__merged__"] == got["__direct__"]
    assert len(got) == 5 + 2
    # per-day sets have 40 distinct users > k=16: estimator engaged,
    # estimates must be positive and finite
    for d, v in got.items():
        assert v > 0


def test_seasonal_decomposition_recovers_planted_pattern(spark):
    """counts = 100 + day + s[weekday] with sum(s)=0 over the week:
    the centered 7-day MA recovers the linear trend exactly, the
    weekday means recover s, and residuals are exactly 0 on every
    full-window day; edge days emit NULL components."""
    import datetime as dt

    from yelp_data_pipeline_spark.operators.timeseries import (
        seasonal_decompose_daily,
    )

    s = [3, -2, 5, -1, -4, 1, -2]  # sums to 0
    rows = []
    base = dt.date(2024, 1, 1)
    for d in range(28):
        day = base + dt.timedelta(days=d)
        cnt = 100 + d + s[day.weekday()]
        rows.extend(
            (dt.datetime.combine(day, dt.time(1, 0)),) for _ in range(cnt)
        )
    df = spark.createDataFrame(rows, ["ts"])
    out = {r["date"]: r for r in seasonal_decompose_daily(df, "ts").collect()}
    assert len(out) == 28
    for d in range(28):
        day = base + dt.timedelta(days=d)
        r = out[day]
        assert r["cnt"] == 100 + d + s[day.weekday()]
        if 3 <= d <= 24:  # full centered window
            assert r["trend"] == float(100 + d)
            assert r["seasonal"] == float(s[day.weekday()])
            assert r["residual"] == 0.0
        else:
            assert r["trend"] is None and r["residual"] is None


def test_cusum_finds_planted_level_shift(spark):
    """A clean level shift (20/day for 10 days, then 50/day for 10)
    must peak the CUSUM at the last low day, with segment means
    recovered exactly."""
    import datetime as dt

    from yelp_data_pipeline_spark.operators.timeseries import (
        cusum_changepoint_daily,
    )

    rows = []
    base = dt.date(2024, 5, 1)
    for d in range(20):
        cnt = 20 if d < 10 else 50
        day = dt.datetime.combine(base + dt.timedelta(days=d), dt.time(2))
        rows.extend((day,) for _ in range(cnt))
    df = spark.createDataFrame(rows, ["ts"])
    r = cusum_changepoint_daily(df, "ts").collect()[0]
    assert r["change_date"] == base + dt.timedelta(days=9)
    assert r["n_days"] == 20
    assert r["mean_before"] == 20.0
    assert r["mean_after"] == 50.0


def test_referential_integrity_audit_counts_orphans(spark):
    from yelp_data_pipeline_spark.operators.quality import (
        referential_integrity_audit,
    )

    left = spark.createDataFrame(
        [(1,), (2,), (3,), (3,), (4,)], ["doc_id"]  # dup key collapses
    )
    right = spark.createDataFrame([(3,), (4,), (5,)], ["vec_id"])
    r = referential_integrity_audit(left, right, "doc_id", "vec_id").collect()[0]
    assert (
        r["n_left_keys"],
        r["n_right_keys"],
        r["n_matched"],
        r["n_left_orphans"],
        r["n_right_orphans"],
    ) == (4, 3, 2, 2, 1)


def test_key_skew_report_flags_hot_key(spark):
    from yelp_data_pipeline_spark.operators.quality import key_skew_report

    rows = [("hot",)] * 80 + [(f"k{i}",) for i in range(20)]
    df = spark.createDataFrame(rows, ["k"])
    r = key_skew_report(df, "k").collect()[0]
    assert r["n_rows"] == 100 and r["n_keys"] == 21
    assert r["top_key"] == "hot" and r["top_share"] == 0.8
    assert r["max_cnt"] == 80 and r["p50_cnt"] == 1.0
