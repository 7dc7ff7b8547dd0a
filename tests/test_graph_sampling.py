"""Graph operators on both of their paths, deterministic sampling, and
the text ops (TF-IDF / PII scrub / inverted index / curation
composite)."""

import math

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR, cc_path, jobs_during
from yelp_data_pipeline_spark.operators import graph, sampling as smp
from yelp_data_pipeline_spark.operators import textops as tx
from yelp_data_pipeline_spark.session import release_tracked


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = graph.connected_components(df, "doc_a", "doc_b")
    return {r["node"]: r["cluster"] for r in out.collect()}


def test_cc_chain_star_disjoint(spark):
    # chain 1-2-3-4 (diameter > 1 round), star 10-{11,12,13}, pair 20-21
    labels = _cc(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)],
    )
    assert labels == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
    }


def test_cc_long_chain_converges(spark):
    # 13-node chain: diameter 12.
    labels = _cc(spark, [(i, i + 1) for i in range(100, 112)])
    assert set(labels.values()) == {100}
    assert len(labels) == 13


def test_dedup_clusters_labels_all_docs_and_survivors(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    pairs = spark.createDataFrame([(2, 5), (5, 7)], "doc_a long, doc_b long")
    clusters = graph.dedup_clusters(docs, pairs)
    got = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert got == {1: 1, 2: 2, 3: 3, 4: 4, 5: 2, 6: 6, 7: 2}
    surv = {r["doc_id"]: r["n_members"] for r in graph.dedup_survivors(clusters).collect()}
    assert surv == {1: 1, 2: 3, 3: 1, 4: 1, 6: 1}


def test_hash_sample_deterministic_and_disjoint_salts(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r["k"] for r in smp.hash_sample(df, "k", 0.2, salt="s1").collect()}
    b = {r["k"] for r in smp.hash_sample(df, "k", 0.2, salt="s1").collect()}
    c = {r["k"] for r in smp.hash_sample(df, "k", 0.2, salt="s2").collect()}
    assert a == b  # rerun-stable
    assert a != c  # independent draw per salt
    assert 0.15 < len(a) / 2000 < 0.25  # rate in the right ballpark
    # nested property: a 10% sample with the same salt is a subset
    sub = {r["k"] for r in smp.hash_sample(df, "k", 0.1, salt="s1").collect()}
    assert sub <= a


def test_stratified_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "zh") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = smp.stratified_hash_sample(
        df, "k", "lang", {"en": 0.05, "zh": 0.8}, default_fraction=0.0
    )
    by_lang = {
        r["lang"]: r["cnt"]
        for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    assert 20 <= by_lang["en"] <= 90  # ~50 of 1000
    assert 720 <= by_lang["zh"] <= 880  # ~800 of 1000


def test_scrub_pii_replaces_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@corp.example.com or call +1 (555) 123-4567"),
            (2, "see https://example.com/a?b=1 and http://foo.bar twice"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.scrub_pii(df, "doc_id", "text").collect()}
    assert "<EMAIL>" in out[1]["scrubbed_text"]
    assert "<PHONE>" in out[1]["scrubbed_text"]
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert out[2]["n_urls"] == 2
    assert "@" not in out[1]["scrubbed_text"]
    assert out[3]["scrubbed_text"] == "nothing sensitive here"


def test_tfidf_rare_term_outranks_common(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta common common"),
            (2, "gamma beta common"),
            (3, "delta common common beta"),
        ],
        "doc_id long, text string",
    )
    out = tx.tfidf_top_terms(df, "doc_id", "text", top_n=1).collect()
    top = {r["doc_id"]: r["term"] for r in out}
    # the doc-unique term beats terms shared across all docs
    assert top == {1: "alpha", 2: "gamma", 3: "delta"}
    # idf of an everywhere-term is ln(1) = 0
    all_rows = tx.tfidf_top_terms(df, "doc_id", "text", top_n=10).collect()
    assert all(r["tfidf"] == 0.0 for r in all_rows if r["term"] in ("common", "beta"))


def test_inverted_index_postings_sorted_capped(spark):
    df = spark.createDataFrame(
        [(i, "shared unique%d" % i) for i in range(30)], "doc_id long, text string"
    )
    out = {r["term"]: r for r in tx.inverted_index(df, "doc_id", "text", min_df=2, max_postings=5).collect()}
    assert list(out) == ["shared"]  # hapaxes dropped
    assert out["shared"]["df"] == 30
    assert out["shared"]["postings"] == [0, 1, 2, 3, 4]  # sorted, capped


def test_pivot_missing_combo_is_zero_and_unpivot_roundtrip(spark):
    from yelp_data_pipeline_spark.operators import aggregates as agg

    df = spark.createDataFrame(
        [("hi", "F"), ("hi", "F"), ("lo", "O")], "prio string, status string"
    )
    wide = agg.pivot_counts(df, "prio", "status", ["F", "O", "P"])
    rows = {r["prio"]: r for r in wide.collect()}
    assert rows["hi"]["cnt_f"] == 2 and rows["hi"]["cnt_o"] == 0  # NULL→0
    assert rows["lo"]["cnt_p"] == 0
    long = agg.unpivot_counts(wide, "prio", ["F", "O", "P"])
    got = {(r["prio"], r["status"]): r["cnt"] for r in long.collect()}
    assert got[("hi", "F")] == 2 and got[("hi", "P")] == 0 and len(got) == 6


def test_cc_raises_when_max_iter_exhausted(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "doc_a long, doc_b long"
    )
    with cc_path(spark, "distributed"), pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(chain, "doc_a", "doc_b", max_iter=1)


def _cc_star(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with cc_path(spark, "distributed"):
        out = graph.connected_components(df, "doc_a", "doc_b")
    return {r["node"]: r["cluster"] for r in out.collect()}


def test_star_cc_matches_hashmin_on_mixed_graph(spark):
    # The distributed path agrees with the driver path.
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (20, 21)]
    assert _cc_star(spark, edges) == _cc(spark, edges)


def test_star_cc_handles_chain_beyond_hashmin_budget(spark):
    # 60-node chain: diameter 59; alternating star needs ~log2(60)
    # rounds of its default 50.
    labels = _cc_star(spark, [(i, i + 1) for i in range(100, 160)])
    assert set(labels.values()) == {100}
    assert len(labels) == 61


def test_star_cc_raises_when_max_iter_exhausted(spark):
    chain = [(i, i + 1) for i in range(100, 160)]
    df = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with cc_path(spark, "distributed"), pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(df, "doc_a", "doc_b", max_iter=1)


def test_star_cc_rejects_nonpositive_max_iter(spark):
    df = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with cc_path(spark, "distributed"), pytest.raises(ValueError, match="max_iter"):
        graph.connected_components(df, "doc_a", "doc_b", max_iter=0)


@pytest.mark.parametrize(
    "edges, ddl",
    [
        ([(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13), (20, 21)],
         "doc_a long, doc_b long"),
        ([(i, i + 1) for i in range(100, 159)], "doc_a long, doc_b long"),
        ([(1, 2), (2, 1), (1, 2), (3, 2), (7, 8), (8, 7)], "doc_a long, doc_b long"),
        ([(1, 2), (2, 2), (5, 5), (3, 3), (3, 4), (None, 6)], "doc_a long, doc_b long"),
        ([], "doc_a long, doc_b long"),
        # NaN is one node and -0.0 is 0.0 in Spark; float ids stay on
        # the distributed path (union-find on the driver never returned
        # on a NaN endpoint).
        ([(1.0, math.nan), (math.nan, 4.0), (-0.0, 2.0), (0.0, 3.0)],
         "doc_a double, doc_b double"),
    ],
    ids=["mixed", "chain60", "dup_reversed", "self_loop_null", "empty",
         "double_nan_negzero"],
)
def test_cc_paths_agree(spark, edges, ddl):
    df = spark.createDataFrame(edges, ddl)
    out = {}
    for path in ("driver", "distributed"):
        with cc_path(spark, path):
            got = graph.connected_components(df, "doc_a", "doc_b")
        out[path] = (got.schema, sorted(map(repr, got.collect())))
    assert out["driver"] == out["distributed"]
    id_type = df.schema[0].dataType.simpleString()
    assert [(f.dataType.simpleString(), f.nullable) for f in out["driver"][0]] == [
        (id_type, True), (id_type, True)]


def test_mixture_resampling_hits_target_proportions(spark):
    # 1000 web, 300 code, 50 books; targets 50/30/20. books is the
    # binding source: T = 50/0.2 = 250 -> keep 125 web, 75 code, all 50.
    rows = (
        [(i, "web") for i in range(1000)]
        + [(1000 + i, "code") for i in range(300)]
        + [(1300 + i, "books") for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = smp.resample_to_mixture(
        df, "doc_id", "source", {"web": 0.5, "code": 0.3, "books": 0.2}
    )
    got = {r["source"]: r["cnt"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    # Binding source kept whole; others within hash-sampling tolerance.
    assert got["books"] == 50
    assert abs(got["web"] - 125) <= 30
    assert abs(got["code"] - 75) <= 25


def test_weighted_sample_extremes(spark):
    df = spark.createDataFrame(
        [(i, 1.0) for i in range(50)] + [(100 + i, 0.0) for i in range(50)],
        "doc_id long, wgt double",
    )
    kept = smp.weighted_hash_sample(df, "doc_id", "wgt").collect()
    ids = {r["doc_id"] for r in kept}
    assert all(i < 100 for i in ids)      # weight-0 rows never survive
    assert len(ids) == 50                 # weight-1 rows always survive


def test_cc_rejects_nonpositive_max_iter(spark):
    df = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    for path in ("driver", "distributed"):
        with cc_path(spark, path), pytest.raises(ValueError, match="max_iter"):
            graph.connected_components(df, "doc_a", "doc_b", max_iter=0)


def test_mixture_resampling_absent_source_yields_empty(spark):
    # A targeted source with zero corpus rows binds T to 0: the only
    # corpus honoring the requested mixture is the empty one — the
    # proportions must NOT silently renormalize over present sources.
    rows = [(i, "web") for i in range(100)] + [(100 + i, "code") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = smp.resample_to_mixture(
        df, "doc_id", "source", {"web": 0.5, "code": 0.3, "books": 0.2}
    )
    assert out.count() == 0


def test_temperature_weights_upsamples_rare_source(spark):
    from yelp_data_pipeline_spark.operators.sampling import temperature_weights

    rows = [("big", 10_000), ("big", 6_000), ("small", 100)]
    df = spark.createDataFrame(rows, "source string, n_units long")
    got = {r["source"]: r for r in
           temperature_weights(df, "source", F.col("n_units")).collect()}
    assert got["big"]["n_units"] == 16_000 and got["small"]["n_units"] == 100
    # shares each sum to ~1
    assert abs(got["big"]["raw_share"] + got["small"]["raw_share"] - 1.0) < 1e-5
    assert abs(got["big"]["temp_share"] + got["small"]["temp_share"] - 1.0) < 1e-5
    # sqrt scaling damps the dominant source, raises the rare one
    assert got["big"]["rate_mult"] < 1.0 < got["small"]["rate_mult"]
    # T=2 exact ratio: temp_share(small) = sqrt(100)/(sqrt(16000)+sqrt(100))
    import math
    expect = math.sqrt(100) / (round(math.sqrt(16000), 6) + 10.0)
    assert abs(got["small"]["temp_share"] - expect) < 1e-5


def test_curriculum_order_stages_and_positions(spark):
    from yelp_data_pipeline_spark.operators.sampling import curriculum_order

    df = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(40)], "doc_id long, score double"
    )
    out = curriculum_order(df, "doc_id", "score", stages=4).collect()
    assert len(out) == 40
    by_stage = {}
    for r in out:
        by_stage.setdefault(r["stage"], []).append(r)
    # 4 balanced stages; best scores (lowest ids) land in stage 1
    assert sorted(by_stage) == [1, 2, 3, 4]
    assert all(len(v) == 10 for v in by_stage.values())
    assert {r["doc_id"] for r in by_stage[1]} == set(range(10))
    # positions are a permutation of 1..10 and not the sorted id order
    for s, rows in by_stage.items():
        assert sorted(r["stage_pos"] for r in rows) == list(range(1, 11))
    # determinism across recomputation
    again = curriculum_order(df, "doc_id", "score", stages=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_global_shuffle_shards_deterministic_partition(spark):
    from yelp_data_pipeline_spark.operators.sampling import global_shuffle_shards

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = global_shuffle_shards(df, "doc_id", n_shards=8).collect()
    assert len(out) == 200
    shards = {}
    for r in out:
        assert 0 <= r["shard"] < 8
        shards.setdefault(r["shard"], []).append(r["shard_pos"])
    # every shard's positions are contiguous from 1
    for poss in shards.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # repartitioning the input must not change any assignment
    again = global_shuffle_shards(df.repartition(13), "doc_id", n_shards=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_mixture_zero_count_source_yields_empty_not_crash(spark):
    """A targeted source with no corpus rows drives T to 0: the result
    is EMPTY (the only corpus honoring the mixture), and under an ANSI
    session the zero-count source's own 0/0 rate row must be guarded,
    not crash the job."""
    from yelp_data_pipeline_spark.operators.sampling import (
        resample_to_mixture,
    )

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(
            [(i, "web") for i in range(20)], ["doc_id", "source"]
        )
        out = resample_to_mixture(
            df, "doc_id", "source", {"web": 0.5, "code": 0.5}
        )
        assert out.count() == 0
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)

    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        resample_to_mixture(df, "doc_id", "source", {})
    with pytest.raises(ValueError, match="> 0"):
        resample_to_mixture(df, "doc_id", "source", {"web": 0.0})


def test_priority_sample_unbiased_total_and_small_table(spark):
    """Priority sampling invariants: (1) a table with <= k positive
    rows is returned whole with est_weight == weight (tau absent);
    (2) for k < n the HT total sum(est_weight) approximates the true
    weight total; (3) zero/negative weights never sampled."""
    from yelp_data_pipeline_spark.operators.sampling import priority_sample

    small = spark.createDataFrame(
        [(1, 5.0), (2, 3.0), (3, 0.0), (4, -2.0)], ["id", "w"]
    )
    got = {
        r["id"]: (r["weight"], r["est_weight"])
        for r in priority_sample(small, "id", "w", k=10).collect()
    }
    assert got == {1: (5.0, 5.0), 2: (3.0, 3.0)}

    big = spark.createDataFrame(
        [(i, float(1 + i % 13)) for i in range(400)], ["id", "w"]
    )
    rows = priority_sample(big, "id", "w", k=64).collect()
    assert len(rows) == 64
    true_total = sum(1 + i % 13 for i in range(400))
    est_total = sum(r["est_weight"] for r in rows)
    # HT estimator: unbiased; for this size the realized estimate
    # lands within ~25% of truth (deterministic given the hash).
    assert abs(est_total - true_total) / true_total < 0.25


# chain 1-2-3-4-5 (multi-round propagation), star 10-(11,12,13),
# pair 20-21.
MIXED_GRAPH = [(1, 2), (2, 3), (3, 4), (4, 5),
               (10, 11), (10, 12), (10, 13), (20, 21)]


class TestConnectedComponentsLazyCheckpoint:
    def test_labels_exact_and_checkpoint_rooted(self, spark):
        edges = spark.createDataFrame(MIXED_GRAPH, "a long, b long")
        want = {n: 1 for n in (1, 2, 3, 4, 5)}
        want.update({n: 10 for n in (10, 11, 12, 13)})
        want.update({20: 20, 21: 20})
        for path in ("driver", "distributed"):
            with cc_path(spark, path):
                labels = graph.connected_components(edges, "a", "b")
            got = {r["node"]: r["cluster"] for r in labels.collect()}
            assert got == want, path
            # The returned relation reads collected rows or the label
            # checkpoint, not a re-derivation of the input's lineage.
            plan = labels._jdf.queryExecution().analyzed().toString()
            assert "Join" not in plan and "Exchange" not in plan, path

    def test_non_convergence_still_raises(self, spark):
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 12)], "a long, b long"
        )
        with cc_path(spark, "distributed"), pytest.raises(
            RuntimeError, match="did not converge"
        ):
            graph.connected_components(edges, "a", "b", max_iter=2)


def _pagerank(df, scale=10**12):
    edges = df.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    return graph.pagerank_integer(edges, iters=3, scale=scale)


def _ppr(df, scale=10**12):
    edges = df.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    seeds = edges.select(F.col("src").alias("node")).where(F.col("node").isNotNull())
    return graph.pagerank_personalized(edges, seeds, iters=3, scale=scale)


# Each graph operator on an (a, b) edge relation; the second argument
# is True on the overflow case, whose ranks/authorities leave long.
GRAPH_OPS = {
    "cc": lambda df, big: graph.connected_components(df, "a", "b"),
    "kcore": lambda df, big: graph.kcore_peel(df, k=2, rounds=8, src="a", dst="b"),
    "bfs": lambda df, big: graph.bfs_hops(df, "a", "b", rounds=8),
    "pagerank": lambda df, big: _pagerank(df, 2**62 if big else 10**12),
    "ppr": lambda df, big: _ppr(df, 2**62 if big else 10**12),
    "hits": lambda df, big: graph.hits_bipartite(df, "a", "b", rounds=16 if big else 2),
}

GRAPH_CASES = {
    "mixed": (MIXED_GRAPH, "a long, b long"),
    # 30-node chain: k-core (k=2) peels one node off each end per round
    # and BFS reaches 8 hops of 28, so both stop on the round bound.
    "chain": ([(i, i + 1) for i in range(100, 129)], "a long, b long"),
    "dup_reversed": ([(1, 2), (2, 1), (1, 2), (3, 2), (3, 1), (7, 8), (8, 7)], "a long, b long"),
    "self_loop_null": (
        [(1, 2), (2, 2), (5, 5), (3, 3), (3, 4), (None, 6), (1, None), (2, 3), (3, 1)],
        "a long, b long",
    ),
    "empty": ([], "a long, b long"),
    "string_ids": (
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "b"), ("x", "y")],
        "a string, b string",
    ),
    "double_nan_negzero": (
        [(1.0, math.nan), (math.nan, 4.0), (-0.0, 2.0), (0.0, 3.0), (2.0, 3.0), (3.0, 1.0)],
        "a double, b double",
    ),
    # K(4,4): 85 * rank overflows at scale 2**62; authority 4**32 > 2**63.
    "overflow": ([(l, r) for l in range(1, 5) for r in range(11, 15)], "a long, b long"),
}


def _on_driver(case, op):
    """Whether the default session finishes ``op`` on ``case`` on the
    driver: float ids and out-of-range values keep it distributed (HITS
    casts its ids to long first)."""
    if case == "double_nan_negzero":
        return op == "hits"
    return not (case == "overflow" and op in ("pagerank", "ppr", "hits"))


@pytest.mark.parametrize(
    "op, case",
    [
        pytest.param(op, case, id=f"{op}-{case}")
        for op in GRAPH_OPS
        for case in GRAPH_CASES
        if case != "overflow" or op in ("pagerank", "ppr", "hits")
    ],
)
def test_graph_paths_agree(spark, op, case):
    rows, ddl = GRAPH_CASES[case]
    df = spark.createDataFrame(rows, ddl)
    out = {}
    for path in ("driver", "distributed"):
        with cc_path(spark, path):
            got = GRAPH_OPS[op](df, case == "overflow")
            root = got._jdf.queryExecution().analyzed().getClass().getSimpleName()
            collected = got.collect()
        assert (root == "LocalRelation") == (path == "driver" and _on_driver(case, op))
        if op == "bfs":
            assert [r["hop"] for r in collected] == sorted(r["hop"] for r in collected)
        out[path] = (
            [(f.name, f.dataType.simpleString(), f.nullable) for f in got.schema],
            sorted(map(repr, collected)),
        )
    assert out["driver"] == out["distributed"]


@pytest.mark.parametrize("op", ["pagerank", "ppr", "hits"])
def test_graph_overflow_raises_under_ansi(spark, op):
    # A value past long hands over to the distributed path, so ANSI
    # raises there as Spark defines it instead of the driver loop
    # returning an exact Python int.
    df = spark.createDataFrame(*GRAPH_CASES["overflow"])
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for path in ("driver", "distributed"):
            with cc_path(spark, path), pytest.raises(Exception, match="OVERFLOW"):
                GRAPH_OPS[op](df, True).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.mark.parametrize("path", ["driver", "distributed"])
def test_graph_round_bounds_rejected(spark, path):
    df = spark.createDataFrame(MIXED_GRAPH, "a long, b long")
    with cc_path(spark, path):
        for op in (
            lambda: graph.connected_components(df, "a", "b", max_iter=0),
            lambda: graph.kcore_peel(df, k=2, rounds=0, src="a", dst="b"),
            lambda: graph.bfs_hops(df, "a", "b", rounds=0),
        ):
            with pytest.raises(ValueError, match="must be >= 1"):
                op()


# Spark jobs each operator submits while building its result on
# MIXED_GRAPH (local[4], 4 shuffle partitions). On the driver path
# that is the one bounded edge collect (and the seed collect of
# personalized PageRank). On the forced distributed path, under AQE a
# round's one action runs each shuffle stage as its own job, so these
# are not round counts; they pin the per-round plans and the
# one-action-per-round discipline, and that the size rule submits no
# job when the threshold is -1 (the counts equal those of the loops
# before the rule existed, run at -1). An extra action per round, or a
# lost checkpoint, moves them.
@pytest.mark.parametrize(
    "op, path, jobs",
    [
        ("cc", "driver", 1),
        ("cc", "distributed", 38),
        ("kcore", "distributed", 17),
        ("bfs", "distributed", 15),
        ("kcore", "driver", 1),
        ("bfs", "driver", 1),
        ("pagerank", "driver", 1),
        ("ppr", "driver", 2),
        ("hits", "driver", 1),
    ],
    ids=["driver_cc", "star_cc", "kcore", "bfs", "driver_kcore", "driver_bfs",
         "driver_pagerank", "driver_ppr", "driver_hits"],
)
def test_fixpoint_build_job_count(spark, op, path, jobs):
    edges = spark.createDataFrame(MIXED_GRAPH, "a long, b long")
    run = {
        "cc": lambda: graph.connected_components(edges, "a", "b"),
        "kcore": lambda: graph.kcore_peel(edges, k=1, src="a", dst="b"),
        "bfs": lambda: graph.bfs_hops(edges, "a", "b"),
    }.get(op, lambda: GRAPH_OPS[op](edges, False))
    # k-core's edge list persists via track_persist: a cached copy from
    # an earlier call would skip its build jobs.
    release_tracked()
    with cc_path(spark, path):
        _, n = jobs_during(spark, run)
    assert n == jobs


def test_supplier_kcore_build_jobs(spark):
    # The registry's k-core over the supplier k-NN graph, built warm
    # (the first build also reads parquet footers): the one bounded
    # collect of the edge build, whose shuffle stages AQE runs as jobs
    # of their own; no peel-round jobs (the round loop cost 20).
    from yelp_data_pipeline_spark.queries import queries

    build = queries()["supplier_kcore"]
    build(spark, SF_DIR)
    release_tracked()
    _, n = jobs_during(spark, lambda: build(spark, SF_DIR))
    assert n == 5
