"""Dedup-family invariants on tiny corpora (SURVEY.md §5.2/§5.4)."""

import pyspark.sql.functions as F
import pytest

from yelp_data_pipeline_spark.operators import dedup as dd


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact_deterministic_survivor(spark):
    df = _docs(spark, [(3, "same"), (1, "same"), (2, "other"), (9, "same")])
    got = {r["text"]: r["doc_id"] for r in dd.dedup_exact(df, ["text"], "doc_id").collect()}
    assert got == {"same": 1, "other": 2}


def test_fingerprint_normalization_invariance(spark):
    df = _docs(spark, [(1, "Hello,  World!"), (2, "hello world"), (3, "unrelated")])
    fp = df.select("doc_id", dd.fingerprint(F.col("text")).alias("f")).collect()
    by_id = {r["doc_id"]: r["f"] for r in fp}
    assert by_id[1] == by_id[2] != by_id[3]


def test_word_shingles_short_doc_guard(spark):
    df = _docs(spark, [(1, "a b"), (2, "a b c d")])
    out = dd.with_shingles(df, "text", n=3).collect()
    by_id = {r["doc_id"]: r["shingles"] for r in out}
    assert by_id[1] == []          # fewer tokens than n → no shingles
    assert sorted(by_id[2]) == ["a b c", "b c d"]


def test_ngram_jaccard_identical_docs(spark):
    df = _docs(spark, [(1, "w x y z q"), (2, "w x y z q"), (3, "totally different text here now")])
    pairs = dd.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.8).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_minhash_lsh_finds_identical_pair(spark):
    df = _docs(spark, [(1, "p q r s t u"), (2, "p q r s t u"), (3, "alpha beta gamma delta eps zeta")])
    pairs = dd.minhash_lsh_pairs(df, "doc_id", "text", k=12, bands=4, threshold=0.8).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in pairs] == [(1, 2, 1.0)]


def test_simhash_banding_is_lossless_at_radius(spark):
    """The round-1 recall hole: a pair whose hamming distance spreads
    across bands must still be found (pigeonhole over 7 bands)."""
    corpus = [
        (1, " ".join(f"tok{i}" for i in range(40))),
        (2, " ".join(f"tok{i}" for i in range(37)) + " aaa bbb ccc"),
        (3, "completely different vocabulary over here entirely"),
    ]
    df = _docs(spark, corpus)
    sigs = {r["doc"]: r["simhash"] for r in dd.simhash(df, "doc_id", "text").collect()}
    # brute-force ground truth at radius 6
    expected = sorted(
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 6
    )
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in dd.simhash_pairs(df, "doc_id", "text", max_hamming=6).collect()
    )
    assert got == expected
    assert (1, 2) in got, "near-dup pair must be within radius on this corpus"


def test_simhash_respects_max_radius_guard(spark):
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError, match="max_hamming=7"):
        dd.simhash_pairs(df, "doc_id", "text", max_hamming=7)


@pytest.mark.parametrize("band_bits", [7, 16])
def test_simhash_pairs_rejects_band_width_out_of_range(spark, band_bits):
    """A ValueError, not an assert: ``python -O`` strips asserts, and a
    band width outside [8, 15] would then build a lossy banding."""
    df = _docs(spark, [(1, "a b")])
    with pytest.raises(ValueError, match=f"band_bits={band_bits}"):
        dd.simhash_pairs(df, "doc_id", "text", band_bits=band_bits)


def test_ngram_stop_shingle_cap_reduces_candidates(spark):
    # Skewed fixture: every doc shares one boilerplate sentence (its
    # shingles are in ALL docs), while real near-dups share unique text.
    boiler = "all rights reserved copyright two thousand twenty four"
    rows = [(i, f"unique text number {i} about topic {i} " + boiler)
            for i in range(20)]
    rows += [(100, "the quick brown fox jumps over the lazy sleeping dog"),
             (101, "the quick brown fox jumps over the lazy sleeping dog")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # threshold=0 emits every candidate pair that shares >=1 surviving
    # shingle — a direct view of join fan-out.
    uncapped = dd.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.0, max_doc_freq=None
    ).count()
    capped = dd.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.0, max_doc_freq=5
    ).count()
    # Boilerplate shingles (df=20) pair all 20 docs: C(20,2)=190
    # candidates the cap must eliminate.
    assert uncapped >= 190
    assert capped < uncapped - 150

    # The genuine near-dup pair shares only low-df shingles — it must
    # survive the cap with full Jaccard.
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dd.ngram_jaccard_pairs(
                 docs, "doc_id", "text", n=3, threshold=0.8, max_doc_freq=5
             ).collect()}
    assert pairs.get((100, 101)) == 1.0


def test_dedup_keep_best_picks_max_score_min_id(spark):
    rows = [
        (1, "g1", 0.5),
        (2, "g1", 0.9),   # winner: highest score
        (3, "g1", 0.9),   # same score, higher id → loses the tiebreak
        (7, "g2", 0.1),   # singleton group
    ]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score double")
    got = {
        r["grp"]: (r["doc_id"], r["score"], r["group_size"])
        for r in dd.dedup_keep_best(df, "grp", "score", "doc_id").collect()
    }
    assert got == {"g1": (2, 0.9, 3), "g2": (7, 0.1, 1)}


def test_adaptive_simhash_band_bits_integer_rule():
    from yelp_data_pipeline_spark.operators.dedup import (
        adaptive_simhash_band_bits,
    )

    assert adaptive_simhash_band_bits(500) == 8       # fixture scale
    assert adaptive_simhash_band_bits(32768) == 8     # 128<<8 boundary
    assert adaptive_simhash_band_bits(32769) == 9
    assert adaptive_simhash_band_bits(125_000) == 10  # the 25x corpus
    assert adaptive_simhash_band_bits(10**7) == 15    # capped at max
    assert adaptive_simhash_band_bits(10**9) == 15


def test_simhash_wide_bands_equal_all_pairs(spark):
    """Width-independence of the lossless guarantee: at a forced
    10-bit band width (70-bit two-word signature), the banded join
    must return EXACTLY the pairs the brute-force hamming query finds
    over the same wide signature — including pairs whose differing
    bits straddle the lo/hi word split."""
    corpus = [(i, " ".join(f"tok{j}" for j in range(40 - (i % 4)))
               + f" extra{i % 5}") for i in range(20)]
    corpus.append((100, " ".join(f"tok{j}" for j in range(40))))
    df = _docs(spark, corpus)

    sigs = {
        r["doc"]: (r["sig_lo"], r["sig_hi"])
        for r in dd._simhash_wide(df, "doc_id", "text", 60, 10).collect()
    }
    expected = sorted(
        (a, b)
        for a in sigs
        for b in sigs
        if a < b
        and bin(sigs[a][0] ^ sigs[b][0]).count("1")
        + bin(sigs[a][1] ^ sigs[b][1]).count("1")
        <= 6
    )
    got = sorted(
        (r["doc_a"], r["doc_b"])
        for r in dd.simhash_pairs(
            df, "doc_id", "text", max_hamming=6, band_bits=10
        ).collect()
    )
    assert got == expected
    assert expected, "fixture must produce at least one near-dup pair"


def test_simhash_adaptive_default_matches_fixed_8bit_at_small_n(spark):
    """At fixture corpus sizes the adaptive rule instantiates 8-bit
    bands — the registered query's result (and its 56-bit oracle)
    must be bit-identical to the pre-adaptive operator."""
    corpus = [
        (1, " ".join(f"tok{i}" for i in range(40))),
        (2, " ".join(f"tok{i}" for i in range(37)) + " aaa bbb ccc"),
        (3, "completely different vocabulary over here entirely"),
    ]
    df = _docs(spark, corpus)
    adaptive = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dd.simhash_pairs(df, "doc_id", "text", 6).collect()
    )
    fixed = sorted(
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dd.simhash_pairs(df, "doc_id", "text", 6, band_bits=8).collect()
    )
    assert adaptive == fixed


def test_duplicate_substring_spans_exact_boundaries(spark):
    """A 6-token run shared by two docs must surface as one span per
    doc with exact 1-based inclusive boundaries; unique text must not."""
    from yelp_data_pipeline_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    shared = "the quick brown fox jumps high"
    docs = [
        ("a", f"alpha beta {shared} gamma delta epsilon"),
        ("b", f"{shared} zeta eta theta iota kappa"),
        ("c", "totally unique words that never repeat anywhere at all"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["start_tok"], r["end_tok"], r["span_tokens"])
        for r in duplicate_substring_spans(
            df, "doc_id", "text", min_tokens=6
        ).collect()
    }
    # doc a: shared run at tokens 3-8; doc b: tokens 1-6. Exactly one
    # duplicated 6-gram each (the run itself), so span == the run.
    assert got == {"a": (3, 8, 6), "b": (1, 6, 6)}


def test_duplicate_substring_spans_island_merge(spark):
    """Overlapping duplicated windows inside one doc merge into a
    single maximal span (the gaps-and-islands step), and a repeat
    WITHIN one document counts as duplication."""
    from yelp_data_pipeline_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    run = "one two three four"  # 4 tokens, repeated twice in one doc
    df = spark.createDataFrame(
        [("d", f"{run} x y z {run} tail words here")], ["doc_id", "text"]
    )
    got = sorted(
        (r["start_tok"], r["end_tok"])
        for r in duplicate_substring_spans(
            df, "doc_id", "text", min_tokens=4
        ).collect()
    )
    # Token layout: run@1-4, x y z @5-7, run@8-11, tail...@12-14.
    # The only duplicated 4-grams start at 1 and 8 -> two islands
    # (gap 7 > L=4), each exactly the 4-token run.
    assert got == [(1, 4), (8, 11)]


def test_contamination_spans_planted_overlap(spark):
    """A train doc quoting a 5-token eval passage must surface exactly
    that token range; train-train duplication alone must NOT flag
    (contamination is train-vs-EVAL, not corpus-wide dedup)."""
    from yelp_data_pipeline_spark.operators.dedup import contamination_spans

    quote = "what is the capital of"
    train = spark.createDataFrame(
        [
            ("t1", f"intro words {quote} france asked twice"),
            ("t2", "common boilerplate run here common boilerplate run here"),
            ("t3", "common boilerplate run here common boilerplate run here"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [("e1", f"{quote} spain answer madrid")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["start_tok"], r["end_tok"], r["span_tokens"])
        for r in contamination_spans(
            train, ev, "doc_id", "text", min_tokens=5
        ).collect()
    }
    # t1 tokens: intro@1 words@2 what@3 is@4 the@5 capital@6 of@7
    # france@8 ... — the only 5-gram shared with eval starts at 3.
    assert got == {"t1": (3, 7, 5)}


def test_dedup_corpus_lines_first_occurrence(spark):
    """Duplicate lines survive only at their lexicographically first
    (doc_id, pos); docs rebuild in order; a fully-duplicate doc rows
    out with n_kept=0 and empty text."""
    from yelp_data_pipeline_spark.operators.textops import dedup_corpus_lines

    docs = [
        (1, "alpha one\nshared boiler plate\nbeta two"),
        (2, "shared boiler plate\ngamma three"),
        (3, "shared boiler plate"),
        (4, "shared boiler plate\nshared boiler plate"),  # in-doc repeat
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept_text"])
        for r in dedup_corpus_lines(df).collect()
    }
    assert got[1] == (3, 3, "alpha one\nshared boiler plate\nbeta two")
    assert got[2] == (2, 1, "gamma three")
    assert got[3] == (1, 0, "")
    assert got[4] == (2, 0, "")


def test_simhash_recall_eval_proves_banding_equivalence(spark):
    """The registry eval (two independent implementations — sampled
    brute-force all-pairs vs 7-band LSH — full-outer joined) must
    report identical pair sets: recall = precision = 1.0 with a
    non-empty ground truth on the fixture corpus."""
    from yelp_data_pipeline_spark.queries import q_simhash_recall_eval

    row = q_simhash_recall_eval(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["n_exact"] > 0
    assert row["n_exact"] == row["n_banded"] == row["n_common"]
    assert row["recall"] == 1.0 and row["precision"] == 1.0


def test_apply_span_surgery_cuts_exact_ranges(spark):
    """Surgery removes exactly the 1-based inclusive span ranges and
    recomposes the survivors with single spaces; docs without spans
    pass through verbatim; a fully-covered doc becomes empty text."""
    from yelp_data_pipeline_spark.operators.dedup import apply_span_surgery

    docs = spark.createDataFrame(
        [
            (1, "A B C D E F G H"),
            (2, "x y z"),
            (3, "p q r s"),
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 2, 4, 3), (1, 7, 8, 2), (3, 1, 4, 4)],
        "doc_id long, start_tok int, end_tok int, span_tokens int",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_spans"],
            r["n_removed_tokens"],
            r["clean_text"],
        )
        for r in apply_span_surgery(docs, spans).collect()
    }
    # Tokens are lowercased by the span producers' tokenizer.
    assert got[1] == (8, 2, 5, "a e f")
    assert got[2] == (3, 0, 0, "x y z")
    assert got[3] == (4, 1, 4, "")


def test_apply_span_surgery_destroys_planted_eval_grams(spark):
    """End-to-end decontamination invariant: compose
    contamination_spans -> apply_span_surgery and assert NO eval
    L-gram survives in the rewritten train corpus (every original
    occurrence lies inside a merged span, so the cut destroys it)."""
    from yelp_data_pipeline_spark.operators.dedup import (
        apply_span_surgery,
        contamination_spans,
    )

    quote = "what is the capital of france"
    train = spark.createDataFrame(
        [
            (1, f"intro words {quote} asked the teacher loudly"),
            (2, f"prefix {quote} suffix and {quote} again twice"),
            (3, "totally clean document with no quoted benchmark text"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, f"q: {quote} a: paris")], "doc_id long, text string"
    )
    L = 4
    spans = contamination_spans(train, ev, "doc_id", "text", min_tokens=L)
    out = apply_span_surgery(train, spans)
    rows = {r["doc_id"]: r for r in out.collect()}
    # Clean doc untouched; contaminated docs lost tokens.
    assert rows[3]["n_removed_tokens"] == 0
    assert rows[1]["n_removed_tokens"] >= 6
    assert rows[2]["n_removed_tokens"] >= 12  # two occurrences cut

    def grams(text, L):
        t = text.lower().split()
        return {tuple(t[i : i + L]) for i in range(len(t) - L + 1)}

    eval_grams = grams(f"q: {quote} a: paris", L)
    for r in rows.values():
        assert not (grams(r["clean_text"], L) & eval_grams), (
            r["doc_id"],
            r["clean_text"],
        )


def test_dedup_span_surgery_cut_all_policy(spark):
    """Self-dedup surgery (cut-all policy): a 4-token run shared by
    two docs is excised from BOTH (the Lee et al. ExactSubstr quirk —
    twice-duplicated text vanishes entirely); unique text survives."""
    from yelp_data_pipeline_spark.operators.dedup import (
        apply_span_surgery,
        duplicate_substring_spans,
    )

    run = "the quick brown fox"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {run} gamma delta"),
            (2, f"{run} zeta eta theta iota"),
            (3, "all words here are said once only"),
        ],
        "doc_id long, text string",
    )
    spans = duplicate_substring_spans(docs, "doc_id", "text", min_tokens=4)
    got = {
        r["doc_id"]: (r["n_removed_tokens"], r["clean_text"])
        for r in apply_span_surgery(docs, spans).collect()
    }
    assert got[1] == (4, "alpha beta gamma delta")
    assert got[2] == (4, "zeta eta theta iota")
    assert got[3][0] == 0
    # Cut-all: NO occurrence of the duplicated run survives anywhere.
    for _, text in got.values():
        assert run not in text


def test_apply_span_surgery_null_text_keeps_contract(spark):
    """NULL text must not degrade to (n_tokens=-1, clean_text=NULL):
    it coalesces to '' (the span producers can never emit a span for
    it), so the (n_tokens, clean_text) contract holds."""
    from yelp_data_pipeline_spark.operators.dedup import apply_span_surgery

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(2, 1, 2, 2)],
        "doc_id long, start_tok int, end_tok int, span_tokens int",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_spans"],
            r["n_removed_tokens"],
            r["clean_text"],
        )
        for r in apply_span_surgery(docs, spans).collect()
    }
    # split('') yields [''] — one (empty) token, never -1 / NULL.
    assert got[1] == (1, 0, 0, "")
    assert got[2] == (3, 1, 2, "c")
