"""Property-based invariants (hypothesis) — randomized inputs, one
Spark job per example, few examples (Spark round-trips are the cost).
"""

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import cc_path
from yelp_data_pipeline_spark.operators import dedup as dd
from yelp_data_pipeline_spark.operators.joins import asof_join
from yelp_data_pipeline_spark.operators.upsert import merge_upsert_df
from yelp_data_pipeline_spark.operators.textops import winnow_fingerprints

SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.lists(st.integers(0, 20), min_size=1, max_size=12, unique=True)


@given(target=keys, updates=keys)
@settings(**SETTINGS)
def test_merge_upsert_key_algebra(spark, target, updates):
    t = spark.createDataFrame([(k, "old") for k in target], "k long, v string")
    u = spark.createDataFrame([(k, "new") for k in updates], "k long, v string")
    got = {r["k"]: r["v"] for r in merge_upsert_df(t, u, ["k"]).collect()}
    assert set(got) == set(target) | set(updates)          # keys = union
    for k in updates:
        assert got[k] == "new"                             # updates win
    for k in set(target) - set(updates):
        assert got[k] == "old"                             # untouched survive


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 1_000_000), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_dedup_exact_min_survivor(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["text"]: r["doc_id"] for r in dd.dedup_exact(df, ["text"], "doc_id").collect()}
    want = {}
    for i, t in rows:
        want[t] = min(want.get(t, i), i)
    assert got == want


@given(
    left=st.lists(st.integers(0, 100), min_size=1, max_size=15),
    right=st.lists(st.tuples(st.integers(0, 100), st.integers(0, 99)), max_size=15),
)
@settings(**SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right):
    # single key; times are integers mapped to timestamps
    l = spark.createDataFrame(
        [(i, t) for i, t in enumerate(left)], "event_id long, t long"
    ).withColumn("ts", F.timestamp_seconds("t")).withColumn("k", F.lit(1))
    r = spark.createDataFrame(
        [(t, float(v)) for t, v in right] or [(None, None)],
        "rt long, val double",
    ).dropna().withColumn("rts", F.timestamp_seconds("rt")).withColumn("k", F.lit(1))
    got = {
        row["event_id"]: row["val"]
        for row in asof_join(l, r, "k", "k", "ts", "rts", ["val"]).collect()
    }
    cleaned = [(t, float(v)) for t, v in right]
    for i, t in enumerate(left):
        eligible = [(rt, v) for rt, v in cleaned if rt <= t]
        if eligible:
            best_rt = max(rt for rt, _ in eligible)
            candidates = {v for rt, v in eligible if rt == best_rt}
            assert got[i] in candidates     # tie among equal rt is free
        else:
            assert got[i] is None


@given(
    prefix=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=8),
    shared=st.lists(st.sampled_from("stuvwxyz"), min_size=6, max_size=10),
    suffix=st.lists(st.sampled_from("ijklmnop"), min_size=0, max_size=8),
)
@settings(**SETTINGS)
def test_winnowing_shared_substring_guarantee(spark, prefix, shared, suffix):
    # two docs sharing a run of >= w+k-1 = 6 tokens must share a fingerprint
    d1 = " ".join(prefix + shared)
    d2 = " ".join(shared + suffix)
    df = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    fps = {r["doc_id"]: set(r["fingerprints"]) for r in
           winnow_fingerprints(df, "doc_id", "text", k=3, w=4).collect()}
    assert fps[1] & fps[2], f"no shared fingerprint for shared run {shared}"


@pytest.mark.parametrize("path", ["driver", "distributed"])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_connected_components_match_union_find(spark, path, edges):
    from yelp_data_pipeline_spark.operators.graph import connected_components

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    with cc_path(spark, path):
        got = {
            r["node"]: r["cluster"]
            for r in connected_components(df, "doc_a", "doc_b").collect()
        }

    # reference: each component's min member, found by a walk over
    # the adjacency lists (independent of the driver path's union-find)
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want: dict = {}
    for start in sorted(adj):
        if start in want:
            continue
        stack = [start]
        want[start] = start
        while stack:
            for m in adj[stack.pop()]:
                if m not in want:
                    want[m] = start
                    stack.append(m)
    assert got == want


@given(
    docs=st.lists(
        st.integers(1, 30),  # token counts per doc
        min_size=1,
        max_size=12,
    )
)
@settings(**SETTINGS)
def test_pack_offsets_partition_the_stream(spark, docs):
    from yelp_data_pipeline_spark.operators.packing import pack_sequences

    rows = [(i, " ".join(f"t{i}_{j}" for j in range(n))) for i, n in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        pack_sequences(df, seq_len=16, n_shards=1).collect(),
        key=lambda r: r["doc_id"],
    )
    # offsets are the exclusive prefix sums: the doc stream tiles
    # [0, total) with no holes and no overlaps
    expect = 0
    for r in out:
        assert r["start_offset"] == expect
        assert r["pack_id"] == expect // 16
        expect += r["n_tokens"]
    assert expect == sum(docs)


@given(
    n_tokens=st.integers(1, 60),
    chunk=st.integers(2, 12),
    data=st.data(),
)
@settings(**SETTINGS)
def test_chunks_cover_every_token(spark, n_tokens, chunk, data):
    from yelp_data_pipeline_spark.operators.textops import chunk_documents

    overlap = data.draw(st.integers(0, chunk - 1))
    words = " ".join(f"w{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, words)], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect(),
        key=lambda r: r["chunk_idx"],
    )
    stride = chunk - overlap
    covered = set()
    for r in rows:
        assert r["start_tok"] == r["chunk_idx"] * stride
        toks = r["chunk_text"].split()
        assert len(toks) == r["n_toks"] <= chunk
        covered |= set(range(r["start_tok"], r["start_tok"] + r["n_toks"]))
    assert covered == set(range(n_tokens))  # no token missed


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 5),                 # user
            st.integers(0, 50),                # minute offset
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_funnel_counts_monotone_nonincreasing(spark, events):
    import datetime as dt

    from yelp_data_pipeline_spark.operators.behavior import funnel_counts

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), u, t, 0.0)
        for i, (u, m, t) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        r["step_idx"]: r["users"]
        for r in funnel_counts(df, ["view", "click", "purchase"]).collect()
    }
    assert got[1] >= got[2] >= got[3]  # a funnel can only narrow


@given(
    vals=st.lists(st.integers(0, 6), min_size=2, max_size=40),
)
@settings(**SETTINGS)
def test_scalable_ranks_equals_global_window(spark, vals):
    from pyspark.sql import Window

    from yelp_data_pipeline_spark.operators.windows import scalable_ranks
    from yelp_data_pipeline_spark.session import release_tracked

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "k long, v double"
    )
    got = sorted(map(tuple, scalable_ranks(df, "v", "k", n_tiles=3).collect()))
    w = Window.orderBy("v")
    wt = Window.orderBy("v", "k")
    want = sorted(
        map(
            tuple,
            df.select(
                "k",
                "v",
                F.round(F.percent_rank().over(w), 6).alias("pr"),
                F.round(F.cume_dist().over(w), 6).alias("cd"),
                F.ntile(3).over(wt).alias("quartile"),
            ).collect(),
        )
    )
    release_tracked()
    assert got == want


@given(
    log=st.lists(
        st.tuples(
            st.integers(1, 3),          # key
            st.integers(0, 20),         # day offset (ties allowed)
            st.sampled_from(["A", "B", None]),  # attribute incl. NULL
        ),
        min_size=1,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_scd2_intervals_partition_history(spark, log):
    import datetime as dt

    from yelp_data_pipeline_spark.operators.upsert import scd2_versions

    rows = [
        (k, dt.date(2020, 1, 1) + dt.timedelta(days=d), a, i)
        for i, (k, d, a) in enumerate(log)
    ]
    df = spark.createDataFrame(rows, "k long, ts date, attr string, seq long")
    out = scd2_versions(
        df, ["k"], "ts", ["attr"], tiebreak_cols=["seq"]
    ).collect()

    by_key = {}
    for r in out:
        by_key.setdefault(r["k"], []).append(r)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: r["version_seq"])
        # version ids are 1..n dense
        assert [r["version_seq"] for r in versions] == list(
            range(1, len(versions) + 1)
        )
        # exactly one current version, and it is the last
        assert [r["is_current"] for r in versions].count(True) == 1
        assert versions[-1]["is_current"]
        # intervals chain: valid_to == next valid_from; non-decreasing
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["valid_from"] <= b["valid_from"]
        # adjacent versions genuinely differ in the attribute
        for a, b in zip(versions, versions[1:]):
            assert a["attr"] != b["attr"]

        # replay: run-length encoding of the ordered change log
        mine = sorted(
            ((r[0], r[1], r[2], r[3]) for r in rows if r[0] == k),
            key=lambda t: (t[1], t[3]),
        )
        runs = []
        for _, ts, attr, _seq in mine:
            if not runs or runs[-1][0] != attr:
                runs.append((attr, ts))
        assert [(r["attr"], r["valid_from"]) for r in versions] == runs


@given(
    ys=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False), min_size=2, max_size=12
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_isotonic_fit_is_monotone_and_mean_preserving(spark, ys):
    from yelp_data_pipeline_spark.operators.timeseries import isotonic_fit_by_group

    rows = [("g", i, round(y, 2)) for i, y in enumerate(ys)]
    df = spark.createDataFrame(rows, ["grp", "x", "y"])
    out = sorted(
        isotonic_fit_by_group(df, "grp", "x", "y").collect(),
        key=lambda r: r["x"],
    )
    fit = [r["y_iso"] for r in out]
    # Monotone non-decreasing.
    assert all(a <= b + 1e-9 for a, b in zip(fit, fit[1:]))
    # Mean-preserving: PAVA pools average, so Σŷ·w == Σy·w.
    assert abs(sum(fit) - sum(r["y_mean"] for r in out)) < 1e-4
    # Fit within data range.
    lo, hi = min(r["y_mean"] for r in out), max(r["y_mean"] for r in out)
    assert all(lo - 1e-9 <= v <= hi + 1e-9 for v in fit)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=30,
    ),
    k=st.integers(1, 4),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kcore_matches_sequential_peel(spark, edges, k):
    from yelp_data_pipeline_spark.operators.graph import kcore_peel

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not und:
        return
    df = spark.createDataFrame(sorted(und), ["src", "dst"])

    # Reference: sequential peel to fixpoint.
    adj = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    while True:
        drop = {n for n in alive if len(adj[n] & alive) < k}
        if not drop:
            break
        alive -= drop
    want = {(n, len(adj[n] & alive)) for n in alive}
    for path in ("driver", "distributed"):
        with cc_path(spark, path):
            got = {(r["node"], r["core_deg"]) for r in kcore_peel(df, k=k, rounds=25).collect()}
        assert got == want, path


@given(
    vals=st.lists(
        st.floats(min_value=0, max_value=500, allow_nan=False),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_histogram_drift_identical_periods_have_zero_tv(spark, vals):
    from yelp_data_pipeline_spark.operators.timeseries import histogram_drift
    import datetime as dt

    a, b = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 25)
    rows = [("g", t, float(v)) for t in (a, b) for v in vals]
    r = histogram_drift(
        spark.createDataFrame(rows, ["grp", "ts", "v"]), "ts", "v", "grp",
        "2024-01-16",
    ).collect()[0]
    # Identical distributions with equal counts: every num_i == 0.
    assert (r["tv"], r["max_dev"]) == (0.0, 0.0)
    assert r["n_a"] == r["n_b"] == len(vals)


@given(
    va=st.lists(st.floats(min_value=0, max_value=500, allow_nan=False),
                min_size=1, max_size=15),
    vb=st.lists(st.floats(min_value=0, max_value=500, allow_nan=False),
                min_size=1, max_size=15),
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_histogram_drift_metrics_are_bounded(spark, va, vb):
    from yelp_data_pipeline_spark.operators.timeseries import histogram_drift
    import datetime as dt

    a, b = dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 25)
    rows = [("g", a, float(v)) for v in va] + [("g", b, float(v)) for v in vb]
    r = histogram_drift(
        spark.createDataFrame(rows, ["grp", "ts", "v"]), "ts", "v", "grp",
        "2024-01-16",
    ).collect()[0]
    assert 0.0 <= r["tv"] <= 1.0
    assert 0.0 <= r["max_dev"] <= 1.0
    # max single-bin deviation can never exceed twice the TV distance.
    assert r["max_dev"] <= 2 * r["tv"] + 1e-9


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=60),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cdc_chunks_tile_every_document(spark, texts):
    from yelp_data_pipeline_spark.operators.textops import cdc_chunk_documents

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = cdc_chunk_documents(df, "doc_id", "text").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, text in rows:
        toks = [t for t in text.strip().lower().split() if t]
        if not text.strip():
            assert did not in by_doc  # blank docs skipped
            continue
        spans = sorted(
            ((r["start_tok"], r["end_tok"]) for r in by_doc[did])
        )
        # Chunks tile [1, n_tokens] contiguously with no overlap.
        assert spans[0][0] == 1
        assert spans[-1][1] == len(toks)
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 == e1 + 1
        assert all(s <= e for s, e in spans)


@given(
    words=st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_vocab_coverage_is_monotone_and_saturates(spark, words):
    from yelp_data_pipeline_spark.operators.textops import vocab_coverage_curve

    df = spark.createDataFrame([(0, " ".join(words))], ["doc_id", "text"])
    out = sorted(
        vocab_coverage_curve(df, "text", checkpoints=(1, 2, 5, 10)).collect(),
        key=lambda r: r["vocab_size"],
    )
    covs = [r["coverage"] for r in out]
    assert covs == sorted(covs)           # monotone in vocab size
    assert all(0 < c <= 1.0 for c in covs)
    # A checkpoint >= the true vocab size covers everything.
    assert covs[-1] == 1.0
    assert all(r["total_tokens"] == len(words) for r in out)


@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=12).map(
            lambda cs: " ".join(cs)
        ),
        min_size=1,
        max_size=6,
    ),
    L=st.integers(2, 4),
)
@settings(**SETTINGS)
def test_duplicate_substring_spans_match_bruteforce(spark, docs, L):
    """Spans must equal the brute-force reference: maximal runs of
    token positions covered by an L-gram occurring >=2 times in the
    corpus (tiny two-letter alphabet forces plenty of collisions)."""
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok"])
        for r in dd.duplicate_substring_spans(
            df, "doc_id", "text", min_tokens=L
        ).collect()
    }

    # brute force
    from collections import Counter

    toks = {i: t.split() for i, t in rows}
    grams = Counter()
    for i, ts in toks.items():
        for s in range(len(ts) - L + 1):
            grams[tuple(ts[s : s + L])] += 1
    want = set()
    for i, ts in toks.items():
        starts = [
            s + 1  # 1-based
            for s in range(len(ts) - L + 1)
            if grams[tuple(ts[s : s + L])] >= 2
        ]
        run = []
        for s in starts:
            if run and s - run[-1] <= L:
                run.append(s)
            else:
                if run:
                    want.add((i, run[0], run[-1] + L - 1))
                run = [s]
        if run:
            want.add((i, run[0], run[-1] + L - 1))
    assert got == want


@given(
    words=st.lists(
        st.lists(st.sampled_from("ab"), min_size=1, max_size=5).map("".join),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_unigram_viterbi_matches_bruteforce_enumeration(spark, words):
    """The DP's per-piece EM counts must equal a brute-force Viterbi
    that enumerates EVERY segmentation of every word and applies the
    identical (prob desc, earliest-boundary, piece-lex) tiebreak."""
    from itertools import combinations

    from yelp_data_pipeline_spark.operators.textops import (
        unigram_lm_piece_scores,
    )

    P, MINF = 3, 2
    text = " ".join(words)
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    got = {
        r["piece"]: r["em_count"]
        for r in unigram_lm_piece_scores(
            df, "text", max_word_len=6, max_piece_len=P, min_freq=MINF, k=1000
        ).collect()
    }

    # brute force: seed freqs
    from collections import Counter

    wcnt = Counter(w[:6] for w in words)
    freq = Counter()
    for w, c in wcnt.items():
        for s in range(len(w)):
            for l in range(1, min(P, len(w) - s) + 1):
                freq[w[s : s + l]] += c
    pieces = {p: f for p, f in freq.items() if f >= MINF or len(p) == 1}
    # DOUBLE probabilities, not Fractions: the DP scores candidates as
    # IEEE double products (identically associated on both engines),
    # and exact-probability ties can be SPLIT by double rounding —
    # e.g. p(a)² vs p(aa) equal as fractions but 1 ulp apart as
    # doubles. The oracle must model the engine's arithmetic, not
    # idealized arithmetic.
    total = float(sum(pieces.values()))
    prob = {p: f / total for p, f in pieces.items()}

    def segmentations(w):
        n = len(w)
        for r in range(n):  # r = number of cuts
            for cuts in combinations(range(1, n), r):
                bounds = [0, *cuts, n]
                segs = [w[bounds[i] : bounds[i + 1]] for i in range(len(bounds) - 1)]
                if all(len(s) <= P and s in prob for s in segs):
                    yield segs

    em = Counter()
    for w, c in wcnt.items():
        # replicate the DP's tiebreak: compare (prob, then the DP's
        # backward path order). The DP breaks ties per cell on
        # (smaller predecessor j, then piece asc); enumerate and sort
        # by (-prob, path-from-the-END with (j asc, piece asc)).
        best = None
        for segs in segmentations(w):
            pr = 1.0  # dp[0]=1.0, then left-to-right — the DP's order
            for s in segs:
                pr *= prob[s]
            # backward-walk signature: from the end, each step's
            # (start_j asc, piece asc)
            sig = []
            pos = len(w)
            for s in reversed(segs):
                sig.append((pos - len(s), s))
                pos -= len(s)
            key = (-pr, sig)
            if best is None or key < best[0]:
                best = (key, segs)
        for s in best[1]:
            em[s] += c
    want = dict(em)
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 27),                      # day offset within Jan
            st.sampled_from(["click", "view", "buy"]),
            st.floats(-1e6, 1e6, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=40,
    ),
    cut=st.integers(1, 28),
)
@settings(**SETTINGS)
def test_incremental_state_merge_monoid_any_cutoff(spark, rows, cut):
    """Monoid law under randomization: for ANY base/delta split day,
    the merged per-key state equals the direct recompute — counts,
    exact DECIMAL sums, min/max, and the derived avg."""
    from yelp_data_pipeline_spark.operators.aggregates import (
        incremental_state_merge_demo,
    )

    data = [
        (f"2024-01-{d + 1:02d} 12:00:00", k, float(v)) for d, k, v in rows
    ]
    df = spark.createDataFrame(data, "ts string, event_type string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "event_type", "value"
    )
    out = incremental_state_merge_demo(
        df, "ts", "event_type", "value", f"2024-01-{cut:02d}"
    ).collect()
    merged = {
        r["event_type"]: (r["n_events"], r["total_value"], r["min_value"],
                          r["max_value"], r["avg_value"])
        for r in out if r["src"] == "__merged__"
    }
    direct = {
        r["event_type"]: (r["n_events"], r["total_value"], r["min_value"],
                          r["max_value"], r["avg_value"])
        for r in out if r["src"] == "__direct__"
    }
    assert merged == direct and len(merged) >= 1


@given(
    vals=st.lists(
        st.tuples(
            st.booleans(),                      # early/late window
            st.integers(0, 49_999),            # value in cents
        ),
        min_size=2,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_psi_nonnegative_and_gini_bounded(spark, vals):
    """PSI is an f-divergence: every smoothed term (p-q)ln(p/q) >= 0,
    so PSI >= 0 on ANY split — and 0 only when the smoothed
    distributions coincide. Gini of nonnegative totals lies in
    [0, 1 - 1/n] (up to 6dp rounding)."""
    from datetime import datetime

    from yelp_data_pipeline_spark.operators.aggregates import gini_by_group
    from yelp_data_pipeline_spark.operators.timeseries import psi_drift

    early, late = datetime(2024, 1, 10), datetime(2024, 1, 20)
    rows = [(early if a else late, c / 100.0) for a, c in vals]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    r = psi_drift(df, "ts", "v", "2024-01-16").collect()[0]
    assert r["psi"] >= -1e-5
    assert r["n_a"] + r["n_b"] == len(vals)

    grows = [("g", i, c / 100.0) for i, (_, c) in enumerate(vals)]
    gdf = spark.createDataFrame(grows, "seg string, k long, v double")
    g = gini_by_group(gdf, "seg", "k", "v").collect()[0]
    n = g["n_keys"]
    if g["total_cents"] == 0:
        assert g["gini"] is None  # concentration of nothing: undefined
    else:
        assert -1e-5 <= g["gini"] <= 1.0 - 1.0 / n + 1e-5


@given(
    counts=st.lists(st.integers(0, 50), min_size=9, max_size=20)
)
@settings(**SETTINGS)
def test_acf_bounded(spark, counts):
    """Sample ACF with the overall mean is a normalized inner product
    of centered slices: |r_k| <= 1 by Cauchy-Schwarz (up to rounding),
    for any daily count series that is not constant."""
    from datetime import datetime, timedelta

    from yelp_data_pipeline_spark.operators.timeseries import daily_count_acf

    if len(set(counts)) == 1:
        counts = counts + [counts[0] + 1]  # avoid zero denominator
    rows = []
    d0 = datetime(2024, 3, 1)
    for i, c in enumerate(counts):
        rows += [(d0 + timedelta(days=i),)] * (c + 1)  # >=1 row per day
    df = spark.createDataFrame(rows, "ts timestamp")
    for r in daily_count_acf(df, "ts", max_lag=5).collect():
        assert abs(r["r"]) <= 1.0 + 1e-6, r


@given(
    early=st.lists(st.integers(0, 400), min_size=1, max_size=15),
    late=st.lists(st.integers(0, 400), min_size=1, max_size=15),
    shift=st.integers(1, 50),
)
@settings(**SETTINGS)
def test_wasserstein_metric_properties(spark, early, late, shift):
    from yelp_data_pipeline_spark.operators.timeseries import (
        wasserstein_drift,
    )

    def mk(e, l):
        rows = [("2024-01-10 00:00:00", float(v)) for v in e] + [
            ("2024-01-20 00:00:00", float(v)) for v in l
        ]
        return spark.createDataFrame(rows, "t string, value double").select(
            F.col("t").cast("timestamp").alias("ts"), "value"
        )

    cut = "2024-01-16"
    w = wasserstein_drift(mk(early, late), "ts", "value", cut).collect()[0]
    assert w["w1"] >= 0.0
    # Identity: same multiset on both sides -> 0.
    wid = wasserstein_drift(mk(early, early), "ts", "value", cut).collect()[0]
    assert wid["w1"] == 0.0
    # Symmetry: swapping the sides leaves W1 unchanged.
    ws = wasserstein_drift(mk(late, early), "ts", "value", cut).collect()[0]
    assert ws["w1"] == w["w1"]
    # Bound: mass can travel at most the union's value span.
    span = max(early + late) - min(early + late)
    assert w["w1"] <= span + 1e-9
    # Pure translation of one side by c moves exactly |c| per unit
    # mass when sizes match (use equal-size prefix).
    m = min(len(early), 8)
    base = early[:m]
    wt = wasserstein_drift(
        mk(base, [v + shift for v in base]), "ts", "value", cut
    ).collect()[0]
    assert wt["w1"] == round(float(shift), 6)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 1000000), st.booleans()
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_brier_and_calibration_match_bruteforce(spark, rows):
    from yelp_data_pipeline_spark.operators.quality import (
        score_brier,
        score_calibration_table,
    )

    data = [(k / 1e6, y) for k, y in rows]
    df = spark.createDataFrame(data, "s double, y boolean")
    got = score_brier(df, "s", F.col("y")).collect()[0]
    n = len(data)
    brute = sum((s - (1 if y else 0)) ** 2 for s, y in data) / n
    assert got["n"] == n
    assert abs(got["brier"] - brute) < 1e-5
    assert 0.0 <= got["brier"] <= 1.0
    assert 0.0 <= got["ece"] <= 1.0 + 1e-9
    # Calibration table partitions the rows.
    tab = score_calibration_table(df, "s", F.col("y")).collect()
    assert sum(r["n_rows"] for r in tab) == n
    assert sum(r["n_pos"] for r in tab) == sum(1 for _, y in data if y)
    for r in tab:
        assert 1 <= r["bin"] <= 10
        assert abs(r["gap"] - round(r["mean_score"] - r["pos_rate"], 6)) < 2e-6


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_bfs_hops_match_bruteforce(spark, edges):
    from collections import deque

    from yelp_data_pipeline_spark.operators import graph as gr

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    df = spark.createDataFrame(edges, "a long, b long")

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {u: len(vs) for u, vs in adj.items()}
    src = min(sorted(deg), key=lambda u: (-deg[u], u))
    dist = {src: 0}
    dq_ = deque([src])
    while dq_:
        u = dq_.popleft()
        for v in adj[u]:
            if v not in dist and dist[u] < 8:
                dist[v] = dist[u] + 1
                dq_.append(v)
    want: dict[int, int] = {}
    for h in dist.values():
        want[h] = want.get(h, 0) + 1
    unreached = len(adj) - len(dist)
    if unreached:
        want[-1] = unreached
    for path in ("driver", "distributed"):
        with cc_path(spark, path):
            got = {r["hop"]: r["n_nodes"] for r in gr.bfs_hops(df, rounds=8).collect()}
        assert got == want, path


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 3)),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_fd_audit_matches_bruteforce(spark, rows):
    from yelp_data_pipeline_spark.operators.quality import fd_audit

    df = spark.createDataFrame(rows, "k long, v long")
    r = fd_audit(df, "t", [("k", "v")]).collect()[0]
    seen: dict[int, set[int]] = {}
    for k, v in rows:
        seen.setdefault(k, set()).add(v)
    assert r["n_lhs"] == len(seen)
    assert r["violating_lhs"] == sum(1 for s in seen.values() if len(s) > 1)
    assert r["surplus_rhs"] == sum(len(s) - 1 for s in seen.values())
    assert r["holds"] == (r["violating_lhs"] == 0)


@given(
    vals=st.lists(st.integers(-50, 50), min_size=1, max_size=40),
)
@settings(**SETTINGS)
def test_scalable_unique_ranks_equals_global_window(spark, vals):
    """The distributed rank (range partition + offsets + tie windows)
    must equal row_number over a global window for ANY multiset,
    including heavy ties and negative values; the attached literal
    total must equal the row count."""
    from pyspark.sql import Window

    from yelp_data_pipeline_spark.operators.windows import (
        scalable_unique_ranks,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "rid long, v long")
    got = {
        r["rid"]: (r["rn"], r["n"])
        for r in scalable_unique_ranks(
            df, "v", "rid", attach_total_col="n"
        ).collect()
    }
    w = Window.orderBy("v", "rid")
    want = {
        r["rid"]: r["rn"]
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert {k: v[0] for k, v in got.items()} == want
    assert all(n == len(vals) for _, n in got.values())


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=1, max_size=12
        ),
        min_size=1,
        max_size=4,
    ),
    spans=st.lists(
        st.tuples(
            st.integers(0, 3),      # doc index
            st.integers(1, 12),     # start_tok
            st.integers(0, 5),      # extra length
        ),
        max_size=6,
    ),
)
@settings(**SETTINGS)
def test_apply_span_surgery_python_replay(spark, docs, spans):
    """Surgery equals the obvious sequential cut: for random token
    docs and random (possibly overlapping, possibly out-of-range)
    spans, clean_text == tokens with any position inside any span
    removed, and the count columns agree."""
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sp_rows = [
        (d, s, s + ln, ln + 1)
        for (d, s, ln) in spans
        if d < len(docs)
    ]
    sp = spark.createDataFrame(
        sp_rows or [(99, 1, 1, 1)],
        "doc_id long, start_tok int, end_tok int, span_tokens int",
    )
    got = {
        r["doc_id"]: r
        for r in dd.apply_span_surgery(df, sp).collect()
    }
    for i, toks in enumerate(docs):
        cover = {
            p
            for (d, s, ln) in spans
            if d == i
            for p in range(s, s + ln + 1)
        }
        kept = [t for j, t in enumerate(toks, start=1) if j not in cover]
        r = got[i]
        assert r["clean_text"] == " ".join(kept)
        assert r["n_tokens"] == len(toks)
        assert r["n_removed_tokens"] == len(toks) - len(kept)


@given(
    codes=st.lists(
        st.integers(0, (1 << 56) - 1), min_size=2, max_size=14, unique=True
    ),
    radius=st.integers(0, 12),
)
@settings(**SETTINGS)
def test_mih_generic_ball_equals_brute_force(spark, codes, radius):
    """Multi-index hashing with the generic Hamming-ball enumeration
    (ball radius floor(r/4) = 0..3 over this radius range) emits
    EXACTLY the brute-force pair set at every radius — the pigeonhole
    losslessness property, randomized."""
    from yelp_data_pipeline_spark.operators.multimodal import (
        hamming_neardup_pairs_mih,
    )

    sigs = spark.createDataFrame(
        [(i, c) for i, c in enumerate(codes)], "doc_id long, dhash long"
    )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in hamming_neardup_pairs_mih(
            sigs, max_hamming=radius
        ).collect()
    }
    want = {
        (a, b, bin(ca ^ cb).count("1"))
        for a, ca in enumerate(codes)
        for b, cb in enumerate(codes)
        if a < b and bin(ca ^ cb).count("1") <= radius
    }
    assert got == want


@given(
    codes=st.lists(
        st.integers(0, (1 << 120) - 1), min_size=2, max_size=10, unique=True
    ),
    radius=st.integers(0, 15),
)
@settings(**SETTINGS)
def test_mih_wide_ball_equals_brute_force(spark, codes, radius):
    """The 120-bit two-long MIH join equals brute force at every
    radius up to 15 (ball stays <= 1 over 8 chunks) — including the
    hi/lo split arithmetic on random codes."""
    from yelp_data_pipeline_spark.operators.multimodal import (
        hamming_neardup_pairs_mih_wide,
    )

    lo_mask = (1 << 60) - 1
    sigs = spark.createDataFrame(
        [(i, c >> 60, c & lo_mask) for i, c in enumerate(codes)],
        "doc_id long, dh_hi long, dh_lo long",
    )
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in hamming_neardup_pairs_mih_wide(
            sigs, max_hamming=radius
        ).collect()
    }
    want = {
        (a, b, bin(ca ^ cb).count("1"))
        for a, ca in enumerate(codes)
        for b, cb in enumerate(codes)
        if a < b and bin(ca ^ cb).count("1") <= radius
    }
    assert got == want


@given(
    frames=st.lists(
        st.tuples(
            st.integers(1, 4),      # video id
            st.integers(0, 9),      # frame idx
            st.integers(0, 3),      # content id -> spread code
        ),
        min_size=2,
        max_size=20,
    ),
    min_frames=st.integers(1, 3),
)
@settings(**SETTINGS)
def test_video_offset_modal_delta_python_replay(spark, frames, min_frames):
    """video_neardup_pairs_offset equals a direct python replay of
    the spec: exact-match frame pairs vote for idx deltas, the modal
    delta wins with the (frames desc, |delta| asc, delta asc)
    tiebreak, pairs below min_matched_frames drop."""
    from collections import Counter

    from yelp_data_pipeline_spark.operators.multimodal import (
        video_neardup_pairs_offset,
    )

    # distinct-content codes pairwise > 6 bits apart, so only equal
    # content ids match at hamming <= 6
    code = [0, 0x3FFF, 0x3FFF << 14, 0x3FFF << 28]
    rows = {(v, i): code[c] for v, i, c in frames}  # last content wins
    sigs = spark.createDataFrame(
        [(v, i, h) for (v, i), h in rows.items()],
        "doc_id long, frame_idx int, dhash long",
    )
    got = {
        (r["video_a"], r["video_b"]): (
            r["idx_delta"], r["matched_frames"], r["min_hamming"]
        )
        for r in video_neardup_pairs_offset(
            sigs, min_matched_frames=min_frames
        ).collect()
    }

    votes = Counter()
    for (va, ia), ha in rows.items():
        for (vb, ib), hb in rows.items():
            if va < vb and ha == hb:
                votes[(va, vb, ib - ia)] += 1
    want = {}
    for (va, vb, d), n in votes.items():
        cur = want.get((va, vb))
        cand = (n, -abs(d), -d)
        if cur is None or cand > cur[0]:
            want[(va, vb)] = (cand, d)
    want = {
        k: (d, cand[0], 0)
        for k, (cand, d) in want.items()
        if cand[0] >= min_frames
    }
    assert got == want


@given(
    lens=st.lists(st.integers(1, 40), min_size=1, max_size=25),
)
@settings(**SETTINGS)
def test_packing_assignment_partitions_docs(spark, lens):
    """Random doc lengths: the assignment is a PARTITION of the input
    (every doc exactly once), no pack exceeds the context, positions
    are dense 0..k-1 within each pack, and the boundary-loss eval's
    closed form matches the brute-force pair count on every pack."""
    from yelp_data_pipeline_spark.operators import packing as pk

    rows = [
        (i, " ".join(f"t{j}" for j in range(n)))
        for i, n in enumerate(lens)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    asg = pk.length_bucketed_packing(
        docs, context=32, bucket_step=8, n_shards=2
    ).collect()
    assert sorted(r["doc_id"] for r in asg) == sorted(r[0] for r in rows)
    by_pack = {}
    for r in asg:
        by_pack.setdefault(r["pack_id"], []).append(r)
    for members in by_pack.values():
        caps = {m["bucket_cap"] for m in members}
        assert len(caps) == 1                       # packs never mix buckets
        assert sum(m["eff_tok"] for m in members) <= 32
        assert len(members) * caps.pop() <= 32      # padded load fits too
        assert sorted(m["position"] for m in members) == list(
            range(len(members))
        )

    stats = pk.packing_boundary_stats(
        pk.length_bucketed_packing(docs, context=32, bucket_step=8, n_shards=2),
        context=32,
    ).collect()
    # closed form vs brute force, aggregated per bucket
    import collections

    agg = collections.defaultdict(lambda: [0.0, 0.0])
    for members in by_pack.values():
        ls = [m["eff_tok"] for m in members]
        cap = members[0]["bucket_cap"]
        L = sum(ls)
        agg[cap][0] += (L * L - sum(x * x for x in ls)) / 2.0
        agg[cap][1] += L * (L - 1) / 2.0
    for r in stats:
        cross, total = agg[r["bucket_cap"]]
        if total > 0:
            assert r["crossdoc_pair_frac"] == round(cross / total, 6)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "bravo", "charlie", "delta", "echo"]),
            min_size=3,
            max_size=10,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_hashed_embeddings_norm_bounds(spark, texts):
    """Random token sequences: the hashed embedding's |mass| is
    bounded by the gram count (collisions can only cancel), identical
    texts get identical vectors, and the vector is integral."""
    from yelp_data_pipeline_spark.operators import textops as tx

    rows = [(i, " ".join(t)) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["vec_id"]: r["embedding"]
        for r in tx.hashed_text_embeddings(docs).collect()
    }
    by_text = {}
    for i, t in enumerate(texts):
        n_grams = len(t) - 2
        emb = got[i]
        assert len(emb) == 64
        assert sum(abs(v) for v in emb) <= n_grams
        assert all(v == int(v) for v in emb)
        key = " ".join(t)
        if key in by_text:
            assert emb == by_text[key]
        by_text[key] = emb
