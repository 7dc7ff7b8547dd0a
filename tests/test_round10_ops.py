"""Round-10 operator tests: bipartite HITS, normal-equations OLS,
conformal intervals, quantile normalization, cross-source dedup
analytics, token-budget allocation."""

import pyspark.sql.functions as F

from yelp_data_pipeline_spark.operators import graph, timeseries as ts


class TestHitsBipartite:
    def test_two_round_authority_hand_computed(self, spark):
        # parts p1..p3, suppliers s1..s2:
        #   p1-{s1}, p2-{s1,s2}, p3-{s2}
        # h1(l) = deg(l): p1=1, p2=2, p3=1
        # a1(r) = sum h1 over adj parts: s1 = 1+2 = 3, s2 = 2+1 = 3
        # h2(l) = sum a1: p1=3, p2=6, p3=3
        # a2(r) = sum h2: s1 = 3+6 = 9, s2 = 6+3 = 9
        e = spark.createDataFrame(
            [(1, 10), (2, 10), (2, 20), (3, 20)], ["p", "s"]
        )
        rows = graph.hits_bipartite(e, "p", "s", rounds=2, top_k=10).collect()
        got = {r["node"]: (r["degree"], r["authority"], r["rank"]) for r in rows}
        assert got == {10: (2, 9, 1), 20: (2, 9, 2)}  # tie -> node asc

    def test_duplicate_edges_ignored(self, spark):
        e = spark.createDataFrame(
            [(1, 10), (1, 10), (1, 10), (2, 20)], ["p", "s"]
        )
        rows = graph.hits_bipartite(e, "p", "s", rounds=1).collect()
        # dedup -> both suppliers symmetric: a1 = deg(l) = 1 each
        assert {(r["node"], r["authority"]) for r in rows} == {(10, 1), (20, 1)}

    def test_authority_prefers_hub_connected(self, spark):
        # s1 touches the 3-degree hub part; s2 touches three 1-degree parts.
        # a1(s1) = 3 (one hub of degree 3); a1(s2) = 1+1+1 = 3 — tie at
        # round 1; round 2 breaks it: h2(hub) = 3*... compute via op.
        e = spark.createDataFrame(
            [(1, 10), (1, 20), (1, 30), (2, 40), (3, 40), (4, 40)],
            ["p", "s"],
        )
        rows = graph.hits_bipartite(e, "p", "s", rounds=2, top_k=10).collect()
        by_node = {r["node"]: r["authority"] for r in rows}
        # all exact ints, rank deterministic
        assert all(isinstance(v, int) for v in by_node.values())
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


class TestOlsMultifeature:
    def test_exact_plane_recovered(self, spark):
        # y = 7 + 2*x1 + 5*x2 exactly -> coefficients recovered, r2 = 1
        data = [
            (g, x1, x2, 7 + 2 * x1 + 5 * x2)
            for g in ["a", "b"]
            for x1 in range(1, 7)
            for x2 in range(0, 5)
        ]
        df = spark.createDataFrame(data, ["g", "x1", "x2", "y"])
        rows = ts.ols_multifeature_fit(df, ["g"], "y", "x1", "x2").collect()
        assert len(rows) == 2
        for r in rows:
            assert abs(r["b0"] - 7.0) < 1e-6
            assert abs(r["b1"] - 2.0) < 1e-6
            assert abs(r["b2"] - 5.0) < 1e-6
            assert abs(r["r2"] - 1.0) < 1e-6

    def test_collinear_features_null_not_crash(self, spark):
        # x2 = 2*x1 -> singular Gram matrix -> NULL coefficients
        data = [("a", x, 2 * x, 3 * x) for x in range(1, 10)]
        df = spark.createDataFrame(data, ["g", "x1", "x2", "y"])
        r = ts.ols_multifeature_fit(df, ["g"], "y", "x1", "x2").collect()[0]
        assert r["b0"] is None and r["b1"] is None and r["b2"] is None
        assert r["n_rows"] == 9

    def test_noise_r2_below_one(self, spark):
        data = [("a", x, x * x % 7, (x * 13) % 11) for x in range(1, 40)]
        df = spark.createDataFrame(data, ["g", "x1", "x2", "y"])
        r = ts.ols_multifeature_fit(df, ["g"], "y", "x1", "x2").collect()[0]
        assert r["r2"] is not None and r["r2"] < 1.0


class TestConformalIntervals:
    def _frame(self, spark):
        # group 'a': calib values 100..1000 step 100 (mean 550);
        # test values chosen so coverage is hand-checkable.
        rows = []
        for i, v in enumerate(range(100, 1100, 100)):
            rows.append(("a", 1000 + i, v, True))
        for i, v in enumerate([500, 600, 550, 50, 1050]):
            rows.append(("a", 2000 + i, v, False))
        return spark.createDataFrame(
            rows, ["g", "rid", "v", "is_calib"]
        )

    def test_rank_and_coverage_hand_computed(self, spark):
        from yelp_data_pipeline_spark.operators import quality as dq

        out = dq.conformal_intervals(
            self._frame(spark), "g", "v", "is_calib", "rid"
        ).collect()
        assert len(out) == 1
        r = out[0]
        # n_calib = 10, rank = ceil(11 * 0.9) = 10 -> qhat = max resid
        # residuals vs mean 550: 450,350,...,50,50,...,450 -> max 450
        assert r["n_calib"] == 10
        assert abs(r["qhat"] - 4.5) < 1e-9  # 450 cents / 100
        # test resids: 50,50,0,500,500 -> covered 3 of 5
        assert r["n_test"] == 5
        assert abs(r["coverage"] - 0.6) < 1e-9

    def test_rank_capped_at_n(self, spark):
        from yelp_data_pipeline_spark.operators import quality as dq

        df = spark.createDataFrame(
            [("a", 1, 100, True), ("a", 2, 200, True), ("a", 3, 150, False)],
            ["g", "rid", "v", "is_calib"],
        )
        r = dq.conformal_intervals(df, "g", "v", "is_calib", "rid").collect()[0]
        # ceil(3 * 0.9) = 3 > n_calib = 2 -> capped at 2 -> qhat = 50c
        assert r["n_calib"] == 2
        assert abs(r["qhat"] - 0.5) < 1e-9
        assert r["coverage"] == 1.0  # |150 - 150| = 0 <= 50


class TestQuantileNormalize:
    def test_identical_distributions_after(self, spark):
        from yelp_data_pipeline_spark.operators import quality as dq

        # source A skews small, source B skews large
        rows = [("A", i, v) for i, v in enumerate([1, 2, 3, 4])] + [
            ("B", 10 + i, v) for i, v in enumerate([100, 200, 300, 400])
        ]
        df = spark.createDataFrame(rows, ["src", "rid", "val"])
        out = dq.quantile_normalize(df, "src", "val", "rid").collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r["src"], []).append(r["norm_val"])
        # same within-group quantiles -> identical normalized multisets
        assert sorted(by_src["A"]) == sorted(by_src["B"])
        # rank preserved within group
        a = sorted((r["val"], r["norm_val"]) for r in out if r["src"] == "A")
        assert [x[1] for x in a] == sorted(x[1] for x in a)

    def test_single_group_is_near_identity(self, spark):
        from yelp_data_pipeline_spark.operators import quality as dq

        rows = [("A", i, v) for i, v in enumerate([5, 7, 7, 9, 11])]
        df = spark.createDataFrame(rows, ["src", "rid", "val"])
        out = {r["rid"]: r["norm_val"] for r in dq.quantile_normalize(
            df, "src", "val", "rid"
        ).collect()}
        # one group: pooled == group -> each row maps to a value at its
        # own quantile; distinct ranks land back on the sorted values
        assert sorted(out.values()) == [5, 7, 7, 9, 11]


class TestDedupAnalytics:
    def test_cross_source_matrix_invariants(self, spark):
        from yelp_data_pipeline_spark.queries import (
            q_cross_source_dup_matrix,
        )
        from yelp_data_pipeline_spark.operators import dedup as dd
        from yelp_data_pipeline_spark.tables import load_table

        sf = "/root/testdata/sf0.001"
        rows = q_cross_source_dup_matrix(spark, sf).collect()
        n_sources = load_table(spark, sf, "documents").select(
            "source"
        ).distinct().count()
        # full unordered spine incl. diagonal
        assert len(rows) == n_sources * (n_sources + 1) // 2
        total_pairs = dd.minhash_lsh_pairs(
            load_table(spark, sf, "documents"),
            "doc_id", "text", k=12, bands=4, threshold=0.8,
        ).count()
        assert sum(r["dup_pairs"] for r in rows) == total_pairs
        for r in rows:
            assert r["docs_involved"] <= 2 * r["dup_pairs"]
            assert 0.0 <= r["dup_rate"] <= 1.0
            assert r["src_a"] <= r["src_b"]

    def test_composition_shift_conserves_mass(self, spark):
        from yelp_data_pipeline_spark.queries import (
            q_dedup_composition_shift,
        )

        rows = q_dedup_composition_shift(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert sum(r["n_before"] for r in rows) == 500
        assert all(r["n_after"] <= r["n_before"] for r in rows)
        assert all(r["removed"] == r["n_before"] - r["n_after"] for r in rows)
        # shares each sum to ~1, so shifts sum to ~0
        assert abs(sum(r["share_shift"] for r in rows)) < 1e-4


class TestTokenBudgetAllocation:
    def _alloc(self, spark, rows, **kw):
        from yelp_data_pipeline_spark.operators import sampling as smp

        df = spark.createDataFrame(rows, ["src", "tokens", "weight"])
        return {
            r["src"]: r
            for r in smp.token_budget_allocation(
                df, "src", "tokens", "weight", **kw
            ).collect()
        }

    def test_uncapped_is_weight_proportional(self, spark):
        # budget 1000*3//2 = 1500, weights 1:2, caps 4000 each -> no cap
        out = self._alloc(
            spark,
            [("a", 500, 1), ("b", 500, 2)],
            budget_num=3, budget_den=2, repeat_cap=8, rounds=3,
        )
        assert not out["a"]["capped"] and not out["b"]["capped"]
        assert out["a"]["alloc_tokens"] == 500   # 1500*1//3
        assert out["b"]["alloc_tokens"] == 1000  # 1500*2//3

    def test_cap_binds_and_surplus_redistributes(self, spark):
        # budget = 2000*2 = 4000? use num/den 2/1 -> B = 4000.
        # weights 9:1 -> a provisionally 3600 > cap 2*1000 = 2000 ->
        # capped; b then gets the rest: min(2000, (4000-2000)*1//1)
        out = self._alloc(
            spark,
            [("a", 1000, 9), ("b", 1000, 1)],
            budget_num=2, budget_den=1, repeat_cap=2, rounds=3,
        )
        assert out["a"]["capped"] and out["a"]["alloc_tokens"] == 2000
        assert out["a"]["epochs"] == 2.0
        # b's recomputed share caps too (2000 >= 2000)
        assert out["b"]["alloc_tokens"] == 2000

    def test_budget_never_exceeded(self, spark):
        rows = [(f"s{i}", 100 * (i + 1), (i * 7) % 5 + 1) for i in range(8)]
        out = self._alloc(
            spark, rows, budget_num=9, budget_den=5, repeat_cap=2, rounds=3
        )
        total_alloc = sum(r["alloc_tokens"] for r in out.values())
        total_t = sum(r[1] for r in rows)
        assert total_alloc <= 9 * total_t // 5
        for r in out.values():
            assert r["alloc_tokens"] <= r["cap_tokens"]

    def test_zero_weight_gets_zero(self, spark):
        out = self._alloc(
            spark,
            [("a", 1000, 0), ("b", 1000, 5)],
            budget_num=1, budget_den=1, repeat_cap=3, rounds=3,
        )
        assert out["a"]["alloc_tokens"] == 0
        assert out["b"]["alloc_tokens"] == 2000  # B=2000 all to b, < cap 3000


class TestBloomFprStats:
    def test_no_false_negatives_and_counts(self, spark):
        from yelp_data_pipeline_spark.operators import joins

        small = spark.createDataFrame([(i,) for i in range(50)], ["k"])
        big = spark.createDataFrame([(i,) for i in range(200)], ["k"])
        r = joins.bloom_prefilter_fpr_stats(
            big, small, "k", "k", m_bits=256, k=2
        ).collect()[0]
        assert r["n_build_keys"] == 50
        assert r["n_probe_keys"] == 200
        assert r["n_members"] == 50
        assert r["n_missed_members"] == 0          # no false negatives
        assert r["n_pass"] == 50 + r["n_false_pos"]
        assert 0.0 <= r["fpr"] <= 1.0

    def test_bigger_filter_fewer_false_positives(self, spark):
        from yelp_data_pipeline_spark.operators import joins

        small = spark.createDataFrame([(i,) for i in range(50)], ["k"])
        big = spark.createDataFrame([(i,) for i in range(2000)], ["k"])
        fp = {}
        for m in (256, 1 << 14):
            fp[m] = joins.bloom_prefilter_fpr_stats(
                big, small, "k", "k", m_bits=m, k=2
            ).collect()[0]["n_false_pos"]
        assert fp[1 << 14] < fp[256]


class TestMinhashBandTuning:
    def test_more_bands_more_candidates_and_recall(self, spark):
        from yelp_data_pipeline_spark.queries import (
            q_minhash_band_tuning_curve,
        )

        rows = q_minhash_band_tuning_curve(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert [r["bands"] for r in rows] == [2, 3, 4, 6]
        assert all(r["bands"] * r["rows_per_band"] == 12 for r in rows)
        cands = [r["n_candidates"] for r in rows]
        recalls = [r["recall"] for r in rows]
        # shorter band keys -> candidate volume is non-decreasing
        assert cands == sorted(cands)
        assert recalls == sorted(recalls)
        # candidates always cover the verified truth hits
        assert all(r["n_common"] <= r["n_candidates"] for r in rows)
        assert all(r["n_common"] <= r["n_truth"] for r in rows)


class TestIvfNprobeCurve:
    def test_recall_monotone_in_nprobe(self, spark):
        from yelp_data_pipeline_spark.queries import (
            q_ivf_nprobe_recall_curve,
        )

        rows = q_ivf_nprobe_recall_curve(
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert [r["nprobe"] for r in rows] == [1, 2, 4]
        recalls = [r["mean_recall_at_10"] for r in rows]
        # probing more cells can only add candidates -> recall monotone
        assert recalls == sorted(recalls)
        for r in rows:
            assert 0.0 <= r["mean_recall_at_10"] <= 1.0
            assert r["total_hits"] <= r["n_queries"] * 10


class TestLayoutPruningEval:
    def test_zorder_beats_single_column_layouts(self, spark):
        from yelp_data_pipeline_spark.queries import q_layout_pruning_eval

        rows = {
            r["layout"]: r
            for r in q_layout_pruning_eval(
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
        assert set(rows) == {"zorder", "price_sorted", "qty_sorted"}
        for r in rows.values():
            # touched files must cover every matching row
            assert r["rows_scanned"] >= r["rows_matching"]
            assert r["files_touched"] <= r["n_files"]
        z = rows["zorder"]["scan_efficiency"]
        assert z >= rows["price_sorted"]["scan_efficiency"]
        assert z >= rows["qty_sorted"]["scan_efficiency"]


class TestTokenBudgetProperties:
    def test_waterfill_invariants_random_frames(self, spark):
        # deterministic pseudo-random exploration of the input space
        # (hypothesis-style, but seeds fixed so CI is stable)
        import random

        rng = random.Random(10)
        from yelp_data_pipeline_spark.operators import sampling as smp

        for trial in range(6):
            k = rng.randint(1, 12)
            rows = [
                (f"s{i}", rng.randint(1, 10_000), rng.randint(0, 50))
                for i in range(k)
            ]
            num, den = rng.choice([(1, 1), (3, 2), (9, 5), (2, 1), (3, 1)])
            cap = rng.choice([1, 2, 3])
            df = spark.createDataFrame(rows, ["src", "tokens", "weight"])
            out = smp.token_budget_allocation(
                df, "src", "tokens", "weight",
                budget_num=num, budget_den=den, repeat_cap=cap, rounds=3,
            ).collect()
            total_t = sum(r[1] for r in rows)
            budget = num * total_t // den
            total_alloc = sum(r["alloc_tokens"] for r in out)
            assert total_alloc <= budget, (trial, rows, num, den, cap)
            for r in out:
                assert 0 <= r["alloc_tokens"] <= r["cap_tokens"]
                if r["weight"] == 0:
                    assert r["alloc_tokens"] == 0


class TestPretrainingDataReport:
    def test_members_consistent(self, spark):
        from yelp_data_pipeline_spark.queries import (
            q_dedup_composition_shift,
            q_pretraining_data_report,
            q_token_budget_allocation,
        )

        sf = "/root/testdata/sf0.001"
        r = q_pretraining_data_report(spark, sf).collect()[0]
        # cluster-keyed split leaks nothing, by construction
        assert r["clusterkeyed_leaked_pairs"] == 0
        assert 0 < r["n_survivors"] <= r["n_docs"]
        comp = q_dedup_composition_shift(spark, sf).collect()
        assert r["n_docs"] == sum(x["n_before"] for x in comp)
        assert r["n_survivors"] == sum(x["n_after"] for x in comp)
        bud = q_token_budget_allocation(spark, sf).collect()
        assert r["total_tokens"] == sum(x["tokens_available"] for x in bud)
        assert r["alloc_tokens"] == sum(x["alloc_tokens"] for x in bud)
        assert r["n_sources_capped"] == sum(1 for x in bud if x["capped"])


class TestTimeWeightedMean:
    def test_burst_robustness_hand_computed(self, spark):
        from yelp_data_pipeline_spark.operators import timeseries as ts

        # value 100 holds 10s, then a 1s burst of 10 readings at 2000,
        # then back to 100 for 10s: naive mean is inflated by the
        # burst; time-weighted is not.
        rows = [("a", 1, "2024-01-01 00:00:00", 100)]
        for i in range(10):
            rows.append(("a", 10 + i, f"2024-01-01 00:00:{10 + i // 10}.{i % 10}", 2000))
        rows.append(("a", 99, "2024-01-01 00:00:11", 100))
        rows.append(("a", 100, "2024-01-01 00:00:21", 100))
        df = spark.createDataFrame(
            rows, "g string, rid long, ts_s string, v long"
        ).select("g", "rid", F.col("ts_s").cast("timestamp").alias("ts"), "v")
        r = ts.time_weighted_mean(df, "g", "ts", "v", "rid").collect()[0]
        assert r["n_points"] == 13
        # naive mean heavily pulled toward 2000 by the burst rows
        assert r["naive_mean"] > 15.0
        # time-weighted: 2000 held only ~1s of the 21s span
        assert r["time_weighted_mean"] < 3.0
        assert r["span_us"] == 21_000_000

    def test_constant_value_twa_equals_value(self, spark):
        from yelp_data_pipeline_spark.operators import timeseries as ts

        rows = [("a", i, f"2024-01-01 00:00:{i:02d}", 500) for i in range(5)]
        df = spark.createDataFrame(
            rows, "g string, rid long, ts_s string, v long"
        ).select("g", "rid", F.col("ts_s").cast("timestamp").alias("ts"), "v")
        r = ts.time_weighted_mean(df, "g", "ts", "v", "rid").collect()[0]
        assert r["time_weighted_mean"] == 5.0
        assert r["naive_mean"] == 5.0


class TestInt8RecallEval:
    def test_high_fidelity_at_64_dims(self, spark):
        from yelp_data_pipeline_spark.queries import q_int8_recall_eval

        r = q_int8_recall_eval(spark, "/root/testdata/sf0.001").collect()[0]
        # int8 symmetric quantization at 64 dims is near-lossless
        assert r["mean_recon_cosine"] > 0.999
        assert r["mean_recall_at_10"] > 0.9
        assert r["total_hits"] <= r["n_queries"] * 10
        assert r["n_vectors"] > 0


class TestImageDhashDedup:
    def _bmp_df(self, spark, images):
        """images: list of (id, w, h, pixel_fn(y, x) -> (r, g, b))."""
        from yelp_data_pipeline_spark.operators.multimodal import build_bmp

        rows = []
        for did, w, h, fn in images:
            px = bytearray()
            for y in range(h):
                for x in range(w):
                    px.extend(fn(y, x))
            rows.append((did, build_bmp(bytes(px), w, h)))
        return spark.createDataFrame(rows, "doc_id long, payload binary")

    def test_planted_neardup_found_unrelated_not(self, spark):
        from yelp_data_pipeline_spark.operators import multimodal as mm

        grad = lambda y, x: (x * 12 % 256,) * 3          # noqa: E731
        def grad_dot(y, x):                              # one edited patch
            if (y, x) == (3, 3):
                return ((x * 12 + 40) % 256,) * 3
            return grad(y, x)
        rev = lambda y, x: ((255 - x * 12) % 256,) * 3   # noqa: E731
        df = self._bmp_df(
            spark,
            [(1, 18, 14, grad), (2, 18, 14, grad_dot), (3, 18, 14, rev)],
        )
        sigs = mm.image_dhash(df)
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in mm.image_neardup_pairs(sigs).collect()
        }
        assert (1, 2) in pairs            # one-patch edit stays near
        assert pairs[(1, 2)] <= 3
        assert (1, 3) not in pairs        # reversed gradient is far
        assert (2, 3) not in pairs

    def test_brightness_shift_invariance(self, spark):
        # dHash compares neighbors, so a uniform brightness shift that
        # does not wrap produces the IDENTICAL hash.
        from yelp_data_pipeline_spark.operators import multimodal as mm

        base = lambda y, x: (10 + x * 9, 10 + x * 9, 10 + x * 9)  # noqa: E731
        brighter = lambda y, x: (50 + x * 9, 50 + x * 9, 50 + x * 9)  # noqa: E731
        df = self._bmp_df(
            spark, [(1, 20, 7, base), (2, 20, 7, brighter)]
        )
        hs = {r["doc_id"]: r["dhash"] for r in mm.image_dhash(df).collect()}
        assert hs[1] == hs[2]


class TestAudioFingerprint:
    def _wav_df(self, spark, clips):
        from yelp_data_pipeline_spark.operators.multimodal import build_wav

        rows = [
            (did, build_wav(bytes(pcm), sample_rate=8000, n_channels=1))
            for did, pcm in clips
        ]
        return spark.createDataFrame(rows, "doc_id long, payload binary")

    def test_planted_edit_pairs_different_waveform_does_not(self, spark):
        from yelp_data_pipeline_spark.operators import multimodal as mm

        rising = [min(255, i) for i in range(300)]
        edited = list(rising)
        edited[150] = 0                       # one-sample glitch
        falling = [max(0, 255 - i) for i in range(300)]
        df = self._wav_df(spark, [(1, rising), (2, edited), (3, falling)])
        sigs = mm.audio_fingerprint(df).select(
            "doc_id", F.col("afp").alias("dhash")
        )
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in mm.hamming_neardup_pairs(sigs).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] <= 2
        assert (1, 3) not in pairs
        assert (2, 3) not in pairs

    def test_fingerprint_uses_data_chunk_only(self, spark):
        # identical PCM behind different container layouts (INFO chunk
        # present or not) must fingerprint identically
        from yelp_data_pipeline_spark.operators.multimodal import build_wav
        from yelp_data_pipeline_spark.operators import multimodal as mm

        pcm = bytes([(i * 13) % 256 for i in range(200)])
        rows = [
            (1, build_wav(pcm, 8000, 1, with_info_chunk=False)),
            (2, build_wav(pcm, 8000, 1, with_info_chunk=True)),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        hs = {r["doc_id"]: r["afp"] for r in mm.audio_fingerprint(df).collect()}
        assert hs[1] == hs[2]
