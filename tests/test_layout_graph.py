"""Round-5 operators: Bloom-prefiltered semi-join, integer PageRank,
BPE pair counting, Z-order interleave — correctness pinned against
independent Python replays, and for the Bloom filter, exactness under
forced false positives."""

import hashlib

import pyspark.sql.functions as F
import pytest

from conftest import cc_path
from yelp_data_pipeline_spark.operators.graph import pagerank_integer
from yelp_data_pipeline_spark.operators.joins import bloom_prefilter_semi_join
from yelp_data_pipeline_spark.operators.textops import bpe_pair_counts


def _md5_pair(s: str):
    h = hashlib.md5(s.encode()).hexdigest()
    return int(h[:15], 16), int(h[15:28], 16)


def test_bloom_prefilter_equals_plain_semi_join(spark):
    big = spark.createDataFrame(
        [(i, f"v{i}") for i in range(500)], ["k", "payload"]
    )
    small = spark.createDataFrame([(i * 7,) for i in range(30)], ["sk"])
    got = sorted(
        (r["k"], r["payload"])
        for r in bloom_prefilter_semi_join(big, small, "k", "sk").collect()
    )
    want = sorted((i * 7, f"v{i * 7}") for i in range(30) if i * 7 < 500)
    assert got == want


def test_bloom_prefilter_exact_despite_false_positives(spark):
    # m_bits=64 with 30 keys * 2 hashes saturates the filter — nearly
    # every probe is a (false) positive; the exact verify join must
    # still produce the precise semi-join result.
    big = spark.createDataFrame([(i,) for i in range(300)], ["k"])
    small = spark.createDataFrame([(i * 9,) for i in range(30)], ["sk"])
    got = sorted(
        r["k"]
        for r in bloom_prefilter_semi_join(
            big, small, "k", "sk", m_bits=64, k=2
        ).collect()
    )
    want = sorted(i * 9 for i in range(30) if i * 9 < 300)
    assert got == want


def test_bloom_stage_actually_prunes(spark):
    # With a roomy filter, the candidate count after the Bloom stage
    # should be far below |big| — assert the pre-filter itself prunes
    # (not just the final join), by replaying membership in Python.
    m_bits, k = 1 << 17, 2
    keys = [i * 7 for i in range(30)]
    bits = set()
    for key in keys:
        h1, h2 = _md5_pair(str(key))
        for i in range(k):
            bits.add((h1 + i * h2) % m_bits)
    survivors = 0
    for probe in range(500):
        h1, h2 = _md5_pair(str(probe))
        if all((h1 + i * h2) % m_bits in bits for i in range(k)):
            survivors += 1
    # ~30 true members + a handful of false positives out of 500.
    assert survivors < 60


def test_pagerank_integer_matches_python_replay(spark):
    edges_py = [("a", "x"), ("a", "y"), ("b", "y"), ("c", "y"), ("y", "a")]
    edges = spark.createDataFrame(edges_py, ["src", "dst"])
    scale, damping, iters = 10**12, 85, 3

    nodes = sorted({n for e in edges_py for n in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges_py:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: scale // n for v in nodes}
    teleport_mass = (100 - damping) * scale // 100
    for _ in range(iters):
        c = {v: 0 for v in nodes}
        for s, d in edges_py:
            c[d] += r[s] // outdeg[s]
        r = {v: teleport_mass // n + (damping * c[v]) // 100 for v in nodes}

    for path in ("driver", "distributed"):
        with cc_path(spark, path):
            got = {
                row["node"]: row["rank_scaled"]
                for row in pagerank_integer(edges, iters=iters, scale=scale).collect()
            }
        assert got == r, path
    # Ranks are meaningful: the hub 'y' (3 in-edges) outranks sources.
    assert got["y"] > got["b"]


def test_bpe_pair_counts_hand_checked(spark):
    docs = spark.createDataFrame(
        [(1, "abab ab"), (2, "Abab  cd")], ["doc_id", "text"]
    )
    got = {
        (r["pair"], r["cnt"]) for r in bpe_pair_counts(docs, top=10).collect()
    }
    # words: abab, ab, abab, cd (lowercased, whitespace split)
    # abab -> ab, ba, ab (×2 words); ab -> ab; cd -> cd
    assert got == {("ab", 5), ("ba", 2), ("cd", 1)}


def test_zorder_interleave_bit_exact(spark):
    # Morton interleave of (3, 5) = x bits 11, y bits 101
    # -> z = y2<<5 | x2<<4 | y1<<3 | x1<<2 | y0<<1 | x0
    #      = 1<<5 | 0<<4 | 0<<3 | 1<<2 | 1<<1 | 1 = 39
    from yelp_data_pipeline_spark.queries import _morton8

    df = spark.createDataFrame([(3, 5)], ["qx", "qy"])
    z = df.select(
        F.expr(_morton8("qx", "qy", "spark")).alias("z")
    ).collect()[0]["z"]
    assert z == 39


def test_dq_quarantine_routes_failing_rows(spark):
    from yelp_data_pipeline_spark.operators.quality import dq_quarantine

    df = spark.createDataFrame(
        [(1, 10.0, "F"), (2, -5.0, "F"), (3, 10.0, "X"), (4, -1.0, None)],
        ["id", "price", "status"],
    )
    out = {
        (r["id"], r["violations"])
        for r in dq_quarantine(
            df,
            {
                "bad_status": ~F.col("status").isin("F", "O"),
                "nonpositive_price": F.col("price") <= 0,
            },
            id_cols=["id"],
        ).collect()
    }
    # NULL status counts as a violation (unevaluable check fails);
    # names join in sorted order.
    assert out == {
        (2, "nonpositive_price"),
        (3, "bad_status"),
        (4, "bad_status;nonpositive_price"),
    }


def _count_imts(df):
    """InMemoryTableScan count in the executed plan — how many
    consumers read a persisted relation instead of recomputing it."""
    jqe = df._jdf.queryExecution()
    jqe.executedPlan().executeCollect()
    return jqe.executedPlan().toString().count("InMemoryTableScan")


def test_minhash_self_join_reads_persisted_relations(spark):
    """The LSH self-join + verify must consume cached relations (the
    round-5 fix: shingling ran once per JOIN SIDE before). Five cached
    reads: banded ×2 (self-join) + shingles ×2 (verify) + the hash
    pipeline's own read of the shingle cache."""
    from yelp_data_pipeline_spark.operators import dedup as dd
    from yelp_data_pipeline_spark.session import release_tracked

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta %d" % (i % 4,))
         for i in range(40)],
        "doc_id long, text string",
    )
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", "text", k=8, bands=4)
    assert _count_imts(pairs) >= 5
    release_tracked()


def test_simhash_self_join_reads_persisted_relation(spark):
    from yelp_data_pipeline_spark.operators import dedup as dd
    from yelp_data_pipeline_spark.session import release_tracked

    docs = spark.createDataFrame(
        [(i, "one two three four five six %d" % (i % 3,)) for i in range(30)],
        "doc_id long, text string",
    )
    pairs = dd.simhash_pairs(docs, "doc_id", "text")
    # banded signature cached: both self-join sides read it.
    assert _count_imts(pairs) >= 2
    release_tracked()


def test_ngram_self_join_reads_persisted_relation(spark):
    from yelp_data_pipeline_spark.operators import dedup as dd
    from yelp_data_pipeline_spark.session import release_tracked

    docs = spark.createDataFrame(
        [(i, "red green blue yellow purple %d" % (i % 3,)) for i in range(30)],
        "doc_id long, text string",
    )
    pairs = dd.ngram_jaccard_pairs(docs, "doc_id", "text")
    assert _count_imts(pairs) >= 2
    release_tracked()


def test_dq_quarantine_oracle_pins_multi_violation_order(spark):
    """The fixture has no row violating >=2 rules, so the registered
    oracle's concat_ws arm order was unexercised — pin it here: the
    operator joins rule names in sorted() order, and the oracle must
    list its CASE arms identically (ADVICE r5)."""
    import duckdb

    from yelp_data_pipeline_spark.operators.quality import dq_quarantine
    from yelp_data_pipeline_spark.queries import oracle_sql

    rows = [
        # violates all three: bad status, out-of-range date, negative price
        (1, "X", -5.0, "2025-01-01"),
        # violates date + price only
        (2, "F", 0.0, "1980-06-01"),
        # clean
        (3, "O", 10.0, "1995-06-01"),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({k}, '{s}', {p}, DATE '{d}')" for k, s, p, d in rows
        )
        + ") t(o_orderkey, o_orderstatus, o_totalprice, o_orderdate)"
    )
    oracle = {
        tuple(r)
        for r in con.execute(oracle_sql()["orders_dq_quarantine"]).fetchall()
    }
    df = spark.createDataFrame(
        [(k, s, p, d) for k, s, p, d in rows],
        "o_orderkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    got = {
        (r["o_orderkey"], r["violations"])
        for r in dq_quarantine(
            df,
            {
                "bad_status": ~F.col("o_orderstatus").isin("F", "O", "P"),
                "nonpositive_price": F.col("o_totalprice") <= 0,
                "date_out_of_range": (
                    F.col("o_orderdate") < F.lit("1990-01-01").cast("date")
                )
                | (F.col("o_orderdate") > F.lit("2000-01-01").cast("date")),
            },
            id_cols=["o_orderkey"],
        ).collect()
    }
    assert got == oracle == {
        (1, "bad_status;date_out_of_range;nonpositive_price"),
        (2, "date_out_of_range;nonpositive_price"),
    }


def test_personalized_pagerank_matches_python_replay(spark):
    from yelp_data_pipeline_spark.operators.graph import pagerank_personalized

    edges_py = [("a", "x"), ("a", "y"), ("b", "y"), ("c", "y"), ("y", "a")]
    edges = spark.createDataFrame(edges_py, ["src", "dst"])
    # Seeds: {a, ghost} — 'ghost' is not in the graph and must be
    # dropped BEFORE |S| is computed (else the two engines disagree
    # on the teleport share and mass silently leaks).
    seeds = spark.createDataFrame([("a",), ("ghost",)], ["node"])
    scale, damping, iters = 10**12, 85, 3

    nodes = sorted({n for e in edges_py for n in e})
    seedset = {"a"}
    ns = len(seedset)
    outdeg = {}
    for s, _ in edges_py:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {v: (scale // ns if v in seedset else 0) for v in nodes}
    teleport_mass = (100 - damping) * scale // 100
    for _ in range(iters):
        c = {v: 0 for v in nodes}
        for s, d in edges_py:
            c[d] += r[s] // outdeg[s]
        r = {
            v: (teleport_mass // ns if v in seedset else 0)
            + (damping * c[v]) // 100
            for v in nodes
        }
    for path in ("driver", "distributed"):
        with cc_path(spark, path):
            got = {
                row["node"]: row["rank_scaled"]
                for row in pagerank_personalized(
                    edges, seeds, iters=iters, scale=scale
                ).collect()
            }
        assert got == r, path
    # Personalization: a's neighborhood (x, y) outranks c, which only
    # global centrality would reward.
    assert got["x"] > got["c"] and got["y"] > got["c"]


def test_personalized_pagerank_raises_on_disjoint_seeds(spark):
    from yelp_data_pipeline_spark.operators.graph import pagerank_personalized

    edges = spark.createDataFrame([("a", "b")], ["src", "dst"])
    ghosts = spark.createDataFrame([("zz",)], ["node"])
    for path in ("driver", "distributed"):
        with cc_path(spark, path), pytest.raises(ValueError, match="no seed intersects"):
            pagerank_personalized(edges, ghosts)
