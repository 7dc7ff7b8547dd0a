"""Deduplication operators (north-star extension — BASELINE.json; not in
the reference, which only dedups via ``distinct()`` on tiny dims,
silver_to_gold_on_minio.py:23,72-75).

Five strategies, cheapest → most recall, all shuffle-conscious:

- exact       : hash groupBy on the raw key. One shuffle, map-side combine.
- fingerprint : exact dedup on a normalized md5 fingerprint (casing /
                punctuation / whitespace invariant).
- n-gram Jaccard : shingle-explode + bucket join on shingle — the join
                key is the shingle, so only docs *sharing* a shingle
                ever meet; no O(n²) cross join.
- MinHash+LSH : k md5 minhashes folded map-side per doc (array_min over
                transform — no explode shuffle), banded; candidates =
                self-join on (band, band_key); verified with exact
                Jaccard. The scale path: candidate count is governed by
                band collisions, not n².
- SimHash     : 32-bit signature; near-dup pairs via byte-banding +
                hamming ≤ radius. Cheapest signature, weakest recall.

Embedding-cosine near-dup lives in similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.hashing import md5_long, md5_pair
from ..session import ensure_min_parallelism

# ---------------------------------------------------------------- exact


def dedup_exact(df: DataFrame, keys: list[str], keep_min_of: str) -> DataFrame:
    """Keep one row per key group — the row with the minimal
    ``keep_min_of`` value (deterministic winner, unlike dropDuplicates
    whose survivor is partition-order-dependent).

    Shuffle hygiene: the groupBy key is ``md5`` of each key column, not
    the raw value — at 100 TB the keys are whole documents, and hashing
    keeps the shuffle key 16 bytes instead of the full payload. The
    payload columns ride along as ``min`` aggregates (collapsed map-side
    by partial aggregation, and equal within a group anyway — md5
    collisions are ignorable at any realistic corpus size).
    """
    hashed = [F.md5(F.col(k).cast("string")).alias(f"__h_{k}") for k in keys]
    aggs = [F.min(k).alias(k) for k in keys] + [
        F.min(keep_min_of).alias(keep_min_of)
    ]
    return (
        df.groupBy(*hashed).agg(*aggs).select(*keys, keep_min_of)
    )


def dedup_keep_best(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
) -> DataFrame:
    """Exact-dup survivor selection by QUALITY: one row per
    ``group_col`` group — the row with the maximal ``score_col``
    (ties → minimal ``id_col``) — plus the group size. The curation
    variant of :func:`dedup_exact`: instead of an arbitrary minimal
    id, near-identical crawls keep the best-scoring copy.

    Single hash groupBy with a struct-argmax aggregate — map-side
    combinable (unlike a row_number window, which must shuffle every
    row THEN discard), so at 100 TB the shuffle carries one candidate
    row per (partition, group), not the whole corpus. max(struct(s,
    -id)) realizes "max score, then min id" as one total order.
    """
    pick = F.max(
        F.struct(
            F.col(score_col).alias("s"),
            (-F.col(id_col)).alias("negid"),
        )
    ).alias("pick")
    return (
        df.groupBy(group_col)
        .agg(pick, F.count(F.lit(1)).alias("group_size"))
        .select(
            group_col,
            (-F.col("pick.negid")).alias(id_col),
            F.col("pick.s").alias(score_col),
            "group_size",
        )
    )


def normalize_text(col) -> F.Column:
    """Casing/punct/whitespace-invariant canonical form."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    return F.trim(c)


def fingerprint(col) -> F.Column:
    """Document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(col))


# ------------------------------------------------------------- shingles


def word_shingles(tokens_col, n: int = 3) -> F.Column:
    """Distinct word n-grams from a token array — built with
    transform(sequence(...)) so the whole thing is one map-side
    expression (no explode until the operator chooses to)."""
    t = tokens_col
    # sequence(1, 0) would generate a *descending* [1, 0] — guard short docs.
    idx = F.when(F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))
    return F.array_distinct(grams)


def with_shingles(df: DataFrame, text_col: str, n: int = 3) -> DataFrame:
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return ensure_min_parallelism(df).withColumn("shingles", word_shingles(toks, n))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = 5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs above ``threshold``.

    Plan: shingle-explode → self-join on the shingle (docs only meet on
    shared shingles) → per-pair intersection counts → Jaccard from set
    sizes. The shuffle key is the shingle; hot shingles are the skew
    risk at scale (AQE skew-join splits them).

    ``max_doc_freq`` is the stop-shingle cap, the manual escape hatch
    for that skew: shingles appearing in more than ``max_doc_freq``
    documents are dropped BEFORE the self-join (one count-distinct agg;
    the hot set is tiny, so the exclusion is a broadcast anti-join). A
    shingle in d docs contributes d·(d-1)/2 candidate rows, so capping
    df bounds per-key join fan-out quadratically. Semantics with the
    cap on: ``common`` counts only non-stop shingles while ``na``/
    ``nb`` stay full set sizes — surviving pairs get a conservative
    (under-estimated) Jaccard, and pairs sharing ONLY stop-shingles are
    missed; boilerplate-heavy corpora want exactly that.

    The cap is ON by default (``max_doc_freq=5``) as of round 6: the
    25× doc scale point (BASELINE.md) measured the exact variant at
    12.3× time for 25× data vs 2.7× capped — candidate growth with
    shared-shingle density is the family's worst scaler, and the
    default must be the variant that survives it. Pass ``None`` for
    the exact, bit-parity query (``ngram_jaccard_exact`` in the
    registry).
    """
    sh = (
        with_shingles(df, text_col, n)
        .select(F.col(id_col).alias("doc"), "shingles")
        .withColumn("n_sh", F.size("shingles"))
    )
    from ..session import track_persist

    # The join/aggregate key is xxhash64(shingle), not the ~20-byte
    # shingle string: the self-join shuffles 8-byte keys (measured
    # 4.86s → 4.27s at sf0.1). Purely internal — xxhash64 never
    # reaches the output, so the DuckDB oracle still joins strings; a
    # 64-bit collision would merely merge two shingles' buckets
    # (P ≈ n²/2^65 — irrelevant at any realistic shingle count).
    exploded = sh.select(
        "doc", "n_sh", F.explode("shingles").alias("s")
    ).select("doc", "n_sh", F.xxhash64("s").alias("s"))
    if max_doc_freq is not None:
        # Two consumers of the exploded subtree (df agg + anti-join) —
        # persist so shingling runs once. Shingle arrays are
        # array_distinct per doc, so a plain count IS the document
        # frequency (no count_distinct expand needed).
        exploded = track_persist(exploded)
        hot = (
            exploded.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("s")
        )
        exploded = exploded.join(F.broadcast(hot), "s", "left_anti")
    else:
        # The self-join consumes the exploded subtree twice; persist so
        # the tokenize/shingle/explode pass runs once, not per side.
        exploded = track_persist(exploded)
    a, b = exploded.alias("a"), exploded.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    ).cast("double")
    return (
        common.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 8,
    n: int = 3,
    band_shingles: int = 2,
) -> DataFrame:
    """Fuzzy-duplicate pairs by EXACT Levenshtein distance, with LSH-ish
    blocking so no all-pairs comparison ever happens.

    Blocking: docs sharing any of their first ``band_shingles``
    lexicographically-smallest word shingles become candidates (shared
    rare shingles ⇒ likely near-identical text; using the smallest k
    mirrors minhash's min-wise sampling with zero extra hashing). The
    expensive ``levenshtein`` — O(len²) per pair, JVM codegen — runs
    only on candidates. Near-identical docs share almost all shingles,
    so their min-shingles coincide; recall decays gracefully with edit
    distance, and the exact verify guarantees no false positives.

    Output: (doc_a, doc_b, distance) with distance ≤ max_distance.

    ``id_col`` must be unique in ``df``: the texts join back onto the
    candidate pairs by id, so a repeated id fans each of its pairs out
    once per text carrying that id (duplicate output rows, and
    distances between whichever texts share the id).
    """
    # SLIM blocking relation: (doc, min-shingle) only. The full text
    # previously rode along through BOTH self-join sides and the
    # candidate dropDuplicates — three shuffles of every document's
    # body (r18, guide §2.2 shuffle fewer bytes). Texts now join back
    # onto the DEDUPLICATED id pairs just before the levenshtein
    # verify, so the wide column crosses the wire once per side.
    sh = (
        with_shingles(df, text_col, n)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.slice(F.array_sort("shingles"), 1, band_shingles)
            ).alias("s"),
        )
    )
    # Self-join: persist the blocked relation so the shingle+sort+slice
    # pass runs once, not per join side.
    from ..session import track_persist

    sh = track_persist(sh)
    a, b = sh.alias("a"), sh.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # The slim id-pair relation is a few bytes per row, so AQE
    # coalesces the dropDuplicates shuffle to ONE partition — which
    # would serialize the O(len²) levenshtein verify on one core
    # (measured: 23.6s single-task stage at sf0.1). An explicit
    # numPartitions repartition is exempt from AQE coalescing and the
    # broadcast text joins below preserve it, so the verify runs wide
    # (guide §2.5; with sort-merge text joins at scale the verify
    # width comes from the join shuffle instead and this repartition
    # of slim ids is noise).
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # Both text fetches read one persisted slim projection of the
    # input (scan + select runs once, not per join side).
    txt = track_persist(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("txt"))
    )
    pairs = cand.join(
        txt.select(F.col("doc").alias("doc_a"), F.col("txt").alias("ta")),
        "doc_a",
    ).join(
        txt.select(F.col("doc").alias("doc_b"), F.col("txt").alias("tb")),
        "doc_b",
    )
    return (
        pairs.withColumn("distance", F.levenshtein("ta", "tb"))
        .filter(F.col("distance") <= max_distance)
        .select("doc_a", "doc_b", "distance")
    )


# -------------------------------------------------------------- minhash


def _minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n: int,
    persist_shingles: bool = True,
):
    """Shared MinHash signature construction (shingles + k minima).

    Two persisted relations instead of one joined signature frame:
    - sh (doc, n_sh, shingles): the shingling pass feeds the hash
      pipeline AND the verify joins — persisting it runs tokenize/
      shingle/distinct ONCE (a joined sh⋈mins formulation re-shingles
      the corpus for the join-back and pays a doc-keyed join nobody
      consumes: band keys need only the minima, verify needs only the
      shingles).
    - mins (doc, k longs): slim; feeds band-key construction.
    MEMORY_AND_DISK persists registered with session.track_persist so
    the session driver releases them after the consuming action
    (release_tracked) instead of leaking cached blocks.

    ``persist_shingles=False`` skips the sh persist for callers that
    only consume the slim minima (the band-candidates path discards
    sh): caching the heavy shingle arrays with no verify consumer
    would burn block-manager memory as a pure side effect.
    """
    from ..session import track_persist

    sh = with_shingles(df, text_col, n).select(
        F.col(id_col).alias("doc"),
        F.size("shingles").alias("n_sh"),
        "shingles",
    )
    if persist_shingles:
        sh = track_persist(sh)
    ex = sh.select("doc", F.explode("shingles").alias("s"))
    h1, h2 = md5_pair(F.col("hx"))
    mins = (
        ex.withColumn("hx", F.md5(F.col("s")))
        .select("doc", h1.alias("h1"), h2.alias("h2"))
        .select(
            "doc",
            *[(F.col("h1") + i * F.col("h2")).alias(f"f{i}") for i in range(k)],
        )
        .groupBy("doc")
        .agg(*[F.min(f"f{i}").alias(f"mh{i}") for i in range(k)])
    )
    return sh, mins


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + LSH banding + exact-Jaccard verification.

    bands × rows = k. A pair collides in a band iff that band's minhash
    rows all match; candidates are verified with true Jaccard on the
    shingle sets (array_intersect on already-distinct arrays), so the
    output has no false positives — LSH only bounds recall.
    """
    from ..session import track_persist

    sh, mins = _minhash_signatures(df, id_col, text_col, k, n)
    # Candidate generation over SLIM rows (doc, band_id, key) — the
    # shingle arrays stay out of the banded explode and its self-join
    # shuffle (they'd otherwise ship 2×bands copies of every array).
    # Persisted because the LSH self-join consumes it twice. Band-key
    # construction is the SHARED _band_keys_long (the streaming gate's
    # frozen index must produce identical keys).
    bands_long = track_persist(_band_keys_long(mins, k, bands))
    a, b_ = bands_long.alias("a"), bands_long.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Exact-Jaccard verify (shared tail): arrays fetched per candidate
    # via two doc-keyed joins against the persisted shingle relation
    # (candidates ≪ n).
    return jaccard_verify_pairs(
        cand, sh, sh, "doc_a", "doc_b", threshold
    ).select("doc_a", "doc_b", "jaccard")


def minhash_index_relations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands: int = 4,
    n: int = 3,
) -> tuple:
    """(keys, shingles) relations for a corpus near-dup INDEX — the
    freeze/probe halves of the streaming dedup gate: ``keys`` is the
    slim (doc, band_id, key) banded relation with band keys computed
    EXACTLY as minhash_lsh_pairs computes them (same md5 family, same
    concat), ``shingles`` is (doc, n_sh, shingles) for the exact-
    Jaccard verify. Kept as two relations so the stored index never
    duplicates a shingle array per band.

    BOTH returned relations are consumed (keys feed the bucket join,
    shingles the verify — and the minima under keys derive FROM the
    shingles), so the shared shingle subtree stays persisted
    (persist_shingles=True); callers release via release_tracked."""
    sh, mins = _minhash_signatures(df, id_col, text_col, k, n)
    keys = _band_keys_long(mins, k, bands)
    return keys, sh


def neardup_gate_log(
    incoming: DataFrame,
    ikeys: DataFrame,
    ish: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 12,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """THE gate probe: incoming documents against a FROZEN corpus
    index — band keys of the incoming batch bucket-join the index
    keys (candidates), candidates verify with exact Jaccard on the
    shingle sets (LSH only bounds recall; the log is false-positive-
    free). This is the single construction behind BOTH faces of the
    ingestion gate: the streaming ``neardup_gate_batch`` calls it per
    micro-batch against the on-disk index, and the batch registry
    twin (`neardup_gate_quarantine`) calls it with in-plan index
    relations — the two cannot drift because there is one copy.

    Because the index is frozen, gating a stream batch-by-batch emits
    exactly the union of the per-batch logs — order-insensitive, so
    one batch-checkable relation verifies the streaming semantics.

    ``ikeys``/``ish`` are the (doc, band_id, key) / (doc, n_sh,
    shingles) halves from :func:`minhash_index_relations`. Output:
    (doc_in, doc_ref, jaccard)."""
    bkeys, bsh = minhash_index_relations(
        incoming, id_col, text_col, k=k, bands=bands, n=n
    )
    cand = (
        bkeys.alias("a")
        .join(
            ikeys.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .select(
            F.col("a.doc").alias("doc_in"), F.col("b.doc").alias("doc_ref")
        )
        .dropDuplicates(["doc_in", "doc_ref"])
    )
    return jaccard_verify_pairs(
        cand, bsh, ish, "doc_in", "doc_ref", threshold
    ).select("doc_in", "doc_ref", "jaccard")


def _band_keys_long(mins: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc, band_id, key) banded relation from a minima frame — THE
    band-key construction (md5 over '|'-joined row minima), shared by
    minhash_lsh_pairs and the frozen streaming index so the on-disk
    index can never drift from the batch operator's keys."""
    rows = k // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    return mins.select("doc", *band_cols).select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col(f"band{b}").alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc", F.col("bk.band_id"), F.col("bk.key"))


def jaccard_verify_pairs(
    cand: DataFrame,
    sh_left: DataFrame,
    sh_right: DataFrame,
    left_col: str,
    right_col: str,
    threshold: float,
) -> DataFrame:
    """THE exact-Jaccard verification tail (array_intersect over
    distinct shingle arrays, 6dp round, >= threshold), shared by
    minhash_lsh_pairs and the streaming gate: candidates carry
    (left_col, right_col) doc keys; shingle relations are
    (doc, n_sh, shingles). Output: candidates + ``jaccard``,
    false-positive-free."""
    pairs = (
        cand.join(
            sh_left.select(
                F.col("doc").alias(left_col),
                F.col("n_sh").alias("__na"),
                F.col("shingles").alias("__sh_a"),
            ),
            left_col,
        )
        .join(
            sh_right.select(
                F.col("doc").alias(right_col),
                F.col("n_sh").alias("__nb"),
                F.col("shingles").alias("__sh_b"),
            ),
            right_col,
        )
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    jac = inter.cast("double") / (
        F.col("__na") + F.col("__nb") - inter
    ).cast("double")
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .drop("__na", "__nb", "__sh_a", "__sh_b")
    )


def minhash_band_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 12,
    bands_list: tuple = (2, 3, 4, 6),
    n: int = 3,
) -> DataFrame:
    """CANDIDATE pairs (pre-verification) for several LSH bandings of
    the SAME k-hash MinHash signature — the raw material of the
    banding S-curve: more bands ⇒ shorter band keys ⇒ more collisions
    ⇒ higher recall AND more verification work. minhash_lsh_pairs
    verifies candidates so its precision is 1.0 by construction; what
    a banding choice actually trades is CANDIDATE volume vs recall,
    and that is only measurable pre-verify.

    Signatures are computed ONCE (the persisted relation is shared by
    every banding — the whole point of evaluating bandings of a fixed
    k); each banding contributes one slim (doc, band_id, key)
    self-join, bucketed by band key, never n².

    Returns (bands, doc_a, doc_b), one row per candidate pair per
    banding.
    """
    _, mins = _minhash_signatures(
        df, id_col, text_col, k, n, persist_shingles=False
    )
    # Eager lineage cut, not a lazy persist: the slim (doc, 12 longs)
    # signature relation is embedded 2·|bands_list| times (both sides
    # of every banding's self-join) — lazily persisted, each embedding
    # re-plans the whole shingle+hash subtree (minhash_band_tuning_curve
    # audited 94 exchanges round 12; 18 after the cut).
    from ..session import cut_lineage

    mins = cut_lineage(mins)
    out = None
    for bands in bands_list:
        rows = k // bands
        band_cols = [
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
                )
            ).alias(f"band{b}")
            for b in range(bands)
        ]
        bands_long = mins.select(F.col("doc"), *band_cols).select(
            "doc",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.col(f"band{b}").alias("key"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bk"),
        ).select("doc", F.col("bk.band_id"), F.col("bk.key"))
        a, b_ = bands_long.alias("a"), bands_long.alias("b")
        cand = (
            a.join(
                b_,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(
                F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
            )
            .dropDuplicates(["doc_a", "doc_b"])
            .select(
                F.lit(bands).cast("int").alias("bands"), "doc_a", "doc_b"
            )
        )
        out = cand if out is None else out.unionByName(cand)
    return out


# -------------------------------------------------------------- simhash

# 56 = 7 bands × 8 bits: wide enough that unrelated docs rarely fall
# within small hamming radii (32 bits was too correlated on a shared
# vocabulary), and 8-bit bands give 256 buckets per band so the
# candidate join is bucketed, not near-cartesian.
SIMHASH_BITS = 56


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash over distinct tokens.

    Each token's md5-derived integer votes ±1 on each of ``bits`` bit
    positions; the signature takes the sign of each vote total.
    ``bits`` ≤ 60 (the md5_long hash width).

    Plan shape: explode distinct tokens → hash each token ONCE →
    ``bits`` literal-shift vote columns (plain long arithmetic, inside
    WholeStageCodegen) → groupBy(doc) sum. The earlier formulation —
    one ``F.aggregate`` fold per bit over the token array — was
    interpreted (higher-order functions don't codegen) and re-computed
    the md5 transform per bit: 56× redundant hashing. The groupBy here
    shuffles one 56-long row per doc at most (partial aggregation
    collapses each doc's votes map-side, since a doc's exploded tokens
    stay in its input partition).
    """
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    tok = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc"), F.explode_outer(toks).alias("t")
    )
    # Materialized in its own projection: CollapseProject keeps a
    # non-cheap alias referenced `bits` times from being re-inlined.
    hashed = tok.withColumn("h", md5_long(F.col("t")))
    h = F.col("h")
    votes = hashed.select(
        "doc",
        *[
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{b}")
            for b in range(bits)
        ],
    )
    summed = votes.groupBy("doc").agg(
        *[F.sum(f"v{b}").alias(f"v{b}") for b in range(bits)]
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return summed.select("doc", sig.alias("simhash"))


SIMHASH_BANDS = 7
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 7 bands × 8 bits
SIMHASH_TARGET_BUCKET = 128
# band width caps at 15: the low word (h1, 60 bits) holds 60 // bb
# bands and the high word (h2, 52 bits) must hold the remaining
# (7 - 60 // bb) · bb bits — 15 is the largest width where both fit.
SIMHASH_MAX_BAND_BITS = 15


def adaptive_simhash_band_bits(
    n_rows: int,
    target_bucket_size: int = SIMHASH_TARGET_BUCKET,
    min_bits: int = SIMHASH_BAND_BITS,
    max_bits: int = SIMHASH_MAX_BAND_BITS,
) -> int:
    """Corpus-adaptive SimHash band width: the smallest ``b`` in
    [min_bits, max_bits] with ``target_bucket_size · 2^b ≥ n_rows`` —
    the same integer rule as similarity.adaptive_lsh_bits, for the
    same reason: fixed 256-bucket bands hit an occupancy wall (the 25×
    doc scale point measured 25.3× time for 25× data — per-bucket
    pairs grow n² once buckets saturate). The BAND COUNT stays 7, so
    the pigeonhole guarantee (lossless at hamming ≤ 6) is unaffected;
    only bucket granularity grows. Past max_bits (n ≳ 4M at the
    default target) hand off to MinHash-LSH or shard the corpus."""
    bits = min_bits
    while bits < max_bits and (target_bucket_size << bits) < n_rows:
        bits += 1
    return bits


def _simhash_wide(
    df: DataFrame, id_col: str, text_col: str, lo_bits: int, hi_bits: int
) -> DataFrame:
    """Two-word SimHash signature: ``lo_bits`` (≤60) vote bits from
    md5's h1 component and ``hi_bits`` (≤52) from h2 — same vote
    scheme as :func:`simhash`, widened past a single long's hash
    width. Returns (doc, sig_lo, sig_hi); hamming distance is
    bit_count(xor lo) + bit_count(xor hi). With hi_bits = 0 and
    lo_bits = 56 this is bit-identical to :func:`simhash`."""
    from ..functions.hashing import md5_pair

    toks = F.array_distinct(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"))
    tok = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc"), F.explode_outer(toks).alias("t")
    )
    h1, h2 = md5_pair(F.md5(F.col("t")))
    hashed = tok.withColumn("h1", h1).withColumn("h2", h2)
    votes = hashed.select(
        "doc",
        *[
            (F.shiftright(F.col("h1"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(
                f"v{b}"
            )
            for b in range(lo_bits)
        ],
        *[
            (F.shiftright(F.col("h2"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(
                f"w{b}"
            )
            for b in range(hi_bits)
        ],
    )
    summed = votes.groupBy("doc").agg(
        *[F.sum(f"v{b}").alias(f"v{b}") for b in range(lo_bits)],
        *[F.sum(f"w{b}").alias(f"w{b}") for b in range(hi_bits)],
    )

    def fold(prefix: str, nbits: int):
        sig = F.lit(0).cast("long")
        for b in range(nbits):
            sig = sig + F.when(
                F.col(f"{prefix}{b}") > 0, F.lit(2**b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return sig

    return summed.select(
        "doc", fold("v", lo_bits).alias("sig_lo"), fold("w", hi_bits).alias("sig_hi")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    band_bits: int | None = None,
    target_bucket_size: int = SIMHASH_TARGET_BUCKET,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, via 7-band LSH with
    CORPUS-ADAPTIVE band width (round 6 — the fixed 8-bit bands hit
    their 256-bucket occupancy wall at ~125k docs, measured 25.3× time
    for 25× data in BASELINE.md).

    Pigeonhole guarantee: with 7 bands, a pair at hamming distance d
    has at most d dirty bands, so any pair with d ≤ 6 shares at least
    one identical band — the banding is *lossless* for the default
    ``max_hamming`` = 6 at ANY band width; widening bands only grows
    bucket granularity (2^bits buckets/band, occupancy ≤ target) and
    the signature itself (7·bits vote bits, split across two hash
    words past 60). Candidates join on (band_id, band value); the
    exact hamming filter removes false positives, so output = exactly
    every pair with hamming ≤ max_hamming over the instantiated
    signature. ``band_bits=None`` derives the width from df.count()
    via :func:`adaptive_simhash_band_bits` (one cheap count job, the
    same anytime pattern as the embedding family); at the fixtures'
    corpus sizes the rule instantiates 8 bits = the original 56-bit
    signature, which is what the registry oracle unrolls.
    """
    # Not asserts: under ``python -O`` an assert is stripped and a bad
    # radius or band width would silently LOSE pairs.
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} must be < {SIMHASH_BANDS} bands: "
            "banding is lossy beyond bands-1 bits"
        )
    from ..session import track_persist

    if band_bits is None:
        band_bits = adaptive_simhash_band_bits(
            df.count(), target_bucket_size
        )
    if not SIMHASH_BAND_BITS <= band_bits <= SIMHASH_MAX_BAND_BITS:
        raise ValueError(
            f"band_bits={band_bits} must be in "
            f"[{SIMHASH_BAND_BITS}, {SIMHASH_MAX_BAND_BITS}]"
        )
    bands_lo = min(60 // band_bits, SIMHASH_BANDS)
    bands_hi = SIMHASH_BANDS - bands_lo
    lo_bits, hi_bits = bands_lo * band_bits, bands_hi * band_bits

    sig = _simhash_wide(df, id_col, text_col, lo_bits, hi_bits)
    mask = F.lit((1 << band_bits) - 1)
    band_exprs = [
        F.struct(
            F.lit(i).alias("band_id"),
            F.shiftright("sig_lo", i * band_bits).bitwiseAND(mask).alias("band"),
        )
        for i in range(bands_lo)
    ] + [
        F.struct(
            F.lit(bands_lo + i).alias("band_id"),
            F.shiftright("sig_hi", i * band_bits).bitwiseAND(mask).alias("band"),
        )
        for i in range(bands_hi)
    ]
    bands = sig.select(
        "doc",
        "sig_lo",
        "sig_hi",
        F.explode(F.array(*band_exprs)).alias("bb"),
    ).select("doc", "sig_lo", "sig_hi", F.col("bb.band_id"), F.col("bb.band"))
    # The LSH self-join consumes the banded relation twice; without
    # materialization BOTH sides re-run the full tokenize→hash→vote
    # pipeline. Slim rows (doc, sig_lo, sig_hi, band_id, band),
    # tracked for release by the session driver.
    bands = track_persist(bands)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sig_lo").alias("lo_a"),
            F.col("a.sig_hi").alias("hi_a"),
            F.col("b.sig_lo").alias("lo_b"),
            F.col("b.sig_hi").alias("hi_b"),
        )
    )
    # Filter BEFORE dropDuplicates: the hamming test is a few long ops,
    # while the distinct is a shuffle — shrink its input first. A
    # surviving pair appears once per colliding band (≤ 7×).
    ham = F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    ) + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: drop every corpus document sharing a
    word n-gram with the (held-out) eval set — the standard guard
    against test-set leakage into pretraining data.

    The eval side is bounded (benchmark suites are MBs, not TBs), so
    its distinct shingles broadcast; the corpus side is one explode →
    broadcast-hash semi probe → distinct of hit ids → left_anti. No
    shuffle touches the full corpus payload — only hit doc-ids. For a
    blocklist too big to broadcast, drop the hint and let AQE pick a
    shuffle join on the shingle key.

    Returns the surviving corpus rows (all columns).
    """
    ev = (
        with_shingles(eval_docs, text_col, n)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    hits = (
        with_shingles(corpus, text_col, n)
        .select(F.col(id_col), F.explode("shingles").alias("s"))
        .join(F.broadcast(ev), "s", "left_semi")
        .select(id_col)
        .distinct()
    )
    return corpus.join(hits, id_col, "left_anti")


def dedup_incremental(
    incoming: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental (batch-over-corpus) dedup: from an incoming batch,
    keep one survivor (min id) per fingerprint that has never been
    seen in the existing corpus — the daily-ingest counterpart of the
    one-shot dedup_exact.

    Both sides reduce to md5 fingerprints before any join, so the
    anti-join shuffles 16-byte keys, never document payloads; at scale
    the ``seen`` side is the pre-aggregated fingerprint ledger the
    pipeline maintains between runs (not a rescan of the corpus).
    Output: (fingerprint, surviving id).
    """
    seen_fp = seen.select(fingerprint(F.col(text_col)).alias("fp")).distinct()
    return (
        incoming.select(
            fingerprint(F.col(text_col)).alias("fp"), F.col(id_col)
        )
        .join(seen_fp, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )


def cross_dup_rate_by_source(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source exact-duplicate contamination report: for each
    source, the number and share of its documents whose normalized
    fingerprint also appears in at least one OTHER source — the
    first question asked of any multi-source pretraining mix (is the
    crawl already inside the curated set?).

    Two shuffles, both on the 32-hex fingerprint (uniform, unskewed):
    one to find fingerprints spanning >= 2 distinct sources, one
    semi-join back (broadcast when the cross-dup set is small, which
    it is in healthy corpora). Output: (source, n_docs, n_cross_dup,
    cross_dup_rate).
    """
    fp = df.select(
        F.col(source_col).alias("src"),
        fingerprint(F.col(text_col)).alias("fp"),
    )
    spanning = (
        fp.groupBy("fp")
        .agg(F.count_distinct("src").alias("ns"))
        .where(F.col("ns") >= 2)
        .select("fp")
    )
    flagged = fp.join(F.broadcast(spanning), "fp", "left_semi")
    totals = fp.groupBy("src").agg(F.count(F.lit(1)).alias("n_docs"))
    dups = flagged.groupBy("src").agg(F.count(F.lit(1)).alias("n_cross_dup"))
    return (
        totals.join(dups, "src", "left")
        .select(
            F.col("src").alias(source_col),
            "n_docs",
            F.coalesce(F.col("n_cross_dup"), F.lit(0)).alias("n_cross_dup"),
            F.round(
                F.coalesce(F.col("n_cross_dup"), F.lit(0)).cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("cross_dup_rate"),
        )
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs ≥ t via PREFIX FILTERING (the
    PPJoin family: Chaudhuri et al. ICDE'06, Xiao et al. WWW'08) — the
    third point in the exact-set-similarity design space alongside the
    full shingle join (``ngram_jaccard_pairs(max_doc_freq=None)``) and
    the stop-shingle cap (lossy): LOSSLESS like the former, with
    candidate generation bounded like the latter.

    Theorem: order every doc's tokens by one global total order; two
    sets with Jaccard ≥ t must share ≥1 token within each other's
    first ``p = |x| − ⌈t·|x|⌉ + 1`` tokens. So only prefixes join —
    at t = 0.8 that's ~20% of each doc's tokens — and ordering
    rarest-first (by global document frequency) makes those the
    lowest-fan-out join keys in the corpus: the hot boilerplate
    shingles that blow up the full join sit at the END of every
    ordering and never enter it. Candidates then verify with ONE exact
    intersection per pair (array_intersect on the two shingle arrays —
    slim prefix rows generate, payload arrays travel per-candidate).

    The threshold is a RATIONAL (num/den) so the prefix length uses
    exact integer ceil — a float ⌈0.8·n⌉ mis-rounds for some n (e.g.
    0.8·55 → 44.000…01), silently shortening the prefix and DROPPING
    qualifying pairs. The length pre-filter (t·max ≤ min, also exact
    integer form) prunes cross-size candidates before the verify.

    Scale: shuffles are the df-count, the sort-key join, the prefix
    self-join (bounded by prefix length × token rarity), and the
    verify join. No all-pairs stage anywhere; skewed prefix tokens are
    rare by construction (rarest-first), the opposite of the full
    join's hot-shingle skew.

    Returns (doc_a, doc_b, jaccard) — bit-identical to the exact
    variant's output.
    """
    from ..session import track_persist

    t_float = threshold_num / threshold_den
    sh = (
        with_shingles(df, text_col, n)
        .select(
            F.col(id_col).alias("doc"),
            "shingles",
            F.size("shingles").alias("n_sh"),
        )
    )
    sh = track_persist(sh)
    ex = sh.select("doc", "n_sh", F.explode("shingles").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("dfc"))
    # One global total order: (document frequency ASC, token ASC).
    ordered = (
        ex.join(dfreq, "s")
        .groupBy("doc", "n_sh")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dfc"), F.col("s")))
            ).alias("ord")
        )
    )
    # p = n - ceil(num*n/den) + 1, exact integer ceil: (a + b - 1) div b.
    p = (
        F.col("n_sh")
        - F.expr(
            f"(({threshold_num} * n_sh + {threshold_den} - 1)) div {threshold_den}"
        ).cast("int")
        + F.lit(1)
    )
    prefixes = ordered.select(
        "doc",
        "n_sh",
        F.explode(
            F.slice(F.transform(F.col("ord"), lambda x: x["s"]), 1, p)
        ).alias("s"),
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    # Length filter in exact integers: t·na ≤ nb  ⇔  num·na ≤ den·nb.
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (threshold_num * F.col("a.n_sh") <= threshold_den * F.col("b.n_sh"))
            & (threshold_num * F.col("b.n_sh") <= threshold_den * F.col("a.n_sh")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    A = sh.select(
        F.col("doc").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_sh").alias("na"),
    )
    B = sh.select(
        F.col("doc").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_sh").alias("nb"),
    )
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = F.round(
        common.cast("double")
        / (F.col("na") + F.col("nb") - common).cast("double"),
        6,
    )
    return (
        cand.join(A, "doc_a")
        .join(B, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= t_float)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key: F.Column,
    window: int = 3,
) -> DataFrame:
    """Sorted-Neighborhood Method blocking (Hernández & Stolfo,
    SIGMOD'95) — the third classic candidate-generation strategy next
    to LSH banding and shingle-bucket joins: sort the corpus by a
    blocking key and pair every record with its ``window`` successors
    in that order. Linear output (n·w pairs), no hash-collision
    tuning, and it catches near-dups whose similarity lives at the
    FRONT of the key (sorted adjacency) that token-bucket methods can
    miss when edits fall in every shingle.

    Distribution: the global order comes from
    ``windows.global_row_numbers`` (range-partitioned local
    row_numbers + broadcast prefix offsets — never a single-reducer
    global window), and neighbor pairing is an equi-join on rn after a
    w-way offset explode: shuffle keys are unique integers, perfectly
    uniform, no skew by construction. Verification (exact Jaccard,
    edit distance) is the caller's next stage, as with every blocking
    operator here.

    Returns (doc_a, doc_b, dist): ids canonically ordered, dist = rank
    distance 1..window.
    """
    from .windows import global_row_numbers

    keyed = df.select(F.col(id_col).alias("__id"), key.alias("__k"))
    rn = global_row_numbers(keyed, ["__k", "__id"], out="rn")
    a = rn.select(
        F.col("__id").alias("ida"),
        F.explode(
            F.array(*[F.lit(o) for o in range(1, window + 1)])
        ).alias("dist"),
        F.col("rn"),
    ).select("ida", "dist", (F.col("rn") + F.col("dist")).alias("rn2"))
    b = rn.select(F.col("__id").alias("idb"), F.col("rn").alias("rn2"))
    return (
        a.join(b, "rn2")
        .select(
            F.least(F.col("ida"), F.col("idb")).alias("doc_a"),
            F.greatest(F.col("ida"), F.col("idb")).alias("doc_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def linkage_score_pairs(
    pairs: DataFrame,
    attrs: DataFrame,
    id_col: str,
    rules,
    min_score: int | None = None,
) -> DataFrame:
    """Fellegi-Sunter-style record-linkage scoring: given blocked
    candidate pairs (from ANY blocking stage here — SNM, LSH bands,
    shingle buckets) and a record-attribute relation, score each pair
    by summing per-field agreement weights and subtracting
    disagreement penalties, then keep pairs at or above ``min_score``.
    This is the *comparison* stage of the classic ER pipeline
    (Fellegi & Sunter 1969): blocking bounds the candidate set,
    scoring ranks it, a threshold splits match / possible / non-match.

    ``rules`` maps field name → (predicate, w_agree, w_disagree),
    where predicate is a fn(a, b) over the two attribute-struct
    columns returning a boolean Column. Weights are INTEGERS by
    design — in real deployments they are rounded log-likelihood
    ratios log(m/u), and integer totals keep the score exact,
    order-free, and cross-engine identical (the same reason
    pagerank_integer scales its ranks).

    Plan: the attribute relation joins the pair list twice on the id
    (equi-joins Catalyst plans as broadcast/shuffled hash; the pair
    list is the big side and arrives pre-bounded by blocking —
    linear in n for SNM). A NULL field on either side counts as
    disagreement (unevaluable evidence is not evidence).

    Returns (doc_a, doc_b, one int flag per rule, score).
    """
    a = attrs.select(
        F.col(id_col).alias("doc_a"), F.struct(*attrs.columns).alias("__a")
    )
    b = attrs.select(
        F.col(id_col).alias("doc_b"), F.struct(*attrs.columns).alias("__b")
    )
    out = pairs.join(a, "doc_a").join(b, "doc_b")
    score = F.lit(0)
    flag_cols = []
    for name, (pred, w_agree, w_disagree) in rules.items():
        agree = F.coalesce(pred(F.col("__a"), F.col("__b")), F.lit(False))
        out = out.withColumn(f"{name}_match", agree.cast("int"))
        flag_cols.append(f"{name}_match")
        score = score + F.when(agree, F.lit(w_agree)).otherwise(
            F.lit(w_disagree)
        )
    out = out.withColumn("score", score.cast("int"))
    if min_score is not None:
        out = out.where(F.col("score") >= min_score)
    return out.select("doc_a", "doc_b", *flag_cols, "score")


def doc_novelty_scores(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct word
    n-gram shingles that are FIRST seen in this doc, attributing each
    shingle to the minimum doc_id containing it — the contribution
    score a curation pipeline uses to rank near-boilerplate documents
    (novelty → 0 as a doc's content is already covered by earlier
    corpus), complementing pairwise dedup: a doc can evade every
    near-dup pair yet contribute almost nothing new.

    Deterministic by construction (min-attribution, integer counts,
    one final division). Plan: ONE shingle-keyed shuffle — the
    first-seen owner is a whole-partition window min over the SAME
    exchange the rollup needs anyway (a groupBy(s)+join-back shape
    would shuffle the exploded relation on s twice and need a
    persist) — then the per-doc rollup. Docs shorter than ``n``
    tokens have no shingles and are excluded (mirrors the oracle's
    unnest of an empty list).

    Returns (doc_id, n_shingles, n_novel, novelty 6dp).
    """
    from pyspark.sql import Window

    sh = (
        with_shingles(df.select(F.col(id_col), F.col(text_col)), text_col, n)
        .select(F.col(id_col), F.explode("shingles").alias("s"))
        # 8-byte xxhash64 window key instead of the shingle string —
        # the same shuffle-slimming as ngram_jaccard_pairs (measured
        # 4.14s → 3.77s at sf0.1); a collision merges two shingles'
        # first-seen attribution (P ≈ n²/2^65, immaterial).
        .select(F.col(id_col), F.xxhash64("s").alias("s"))
    )
    w = Window.partitionBy("s")
    per = (
        sh.withColumn("fd", F.min(id_col).over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("fd") == F.col(id_col), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
    )
    return per.select(
        id_col,
        "n_shingles",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
            6,
        ).alias("novelty"),
    )


def _positioned_grams(
    df: DataFrame, id_col: str, text_col: str, min_tokens: int
) -> DataFrame:
    """(id, pos, g): every L-token window as a positioned 60-bit md5
    gram — one map-side expression (transform(sequence) + posexplode);
    8 bytes shuffle per window, never the text. Shared by
    duplicate_substring_spans and contamination_spans."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = ensure_min_parallelism(df).select(F.col(id_col), toks.alias("t"))
    idx = F.when(
        F.size("t") >= min_tokens,
        F.sequence(F.lit(1), F.size("t") - (min_tokens - 1)),
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    md5_long(
                        F.concat_ws(" ", F.slice("t", i, min_tokens))
                    ).alias("g"),
                ),
            )
        ).alias("x"),
    ).select(id_col, F.col("x.pos").alias("pos"), F.col("x.g").alias("g"))


def _merge_spans(hits: DataFrame, id_col: str, min_tokens: int) -> DataFrame:
    """Gaps-and-islands merge of flagged window starts into maximal
    covered token runs — one doc-keyed window pass."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    # lag NULL ⇒ pos − NULL ⇒ NULL ⇒ when() false ⇒ new island (both
    # engines' CASE treats NULL conditions as false — same first row).
    flagged = hits.select(
        F.col(id_col),
        "pos",
        F.when(
            F.col("pos") - F.lag("pos", 1).over(w) <= min_tokens, F.lit(0)
        )
        .otherwise(F.lit(1))
        .alias("new"),
    )
    isl = flagged.withColumn(
        "island",
        F.sum("new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + F.lit(min_tokens - 1)).alias("end_tok"),
        )
        .select(
            id_col,
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok") + 1).alias("span_tokens"),
        )
    )


def duplicate_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
) -> DataFrame:
    """Exact long-duplicate-substring spans — the suffix-array dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), re-expressed for Spark's shuffle model: for each document,
    the maximal token ranges covered by a substring of ≥ ``min_tokens``
    tokens that occurs ≥ 2 times anywhere in the corpus (the spans that
    pipeline's next stage cuts out of the training text).

    Why no suffix array: a substring of length ≥ L occurs twice IFF
    some L-token window occurs twice — so for the fixed-threshold
    question the suffix-sort + adjacent-LCP scan reduces EXACTLY to
    duplicated-L-gram detection (sorting truncated suffixes to length
    L groups equal L-grams; adjacent LCP ≥ L means equal L-grams).
    That reduction swaps an order-dependent global sort for two
    key-partitioned shuffles — the shape that scales:

    1. Positioned L-grams per doc (:func:`_positioned_grams`) — grams
       carried as 60-bit md5 hashes; the oracle replays the family
       bit-exactly.
    2. Duplicated grams via groupBy(g).count() ≥ 2 — fully map-side
       combinable (each task emits each gram once), then an inner
       shuffle join of positions against the duplicated-gram keys.
       A join, not a count-window over partition-by-gram: the join
       lets AQE split a pathological hot gram (boilerplate headers at
       100 TB) across reducers, where a window's partition is
       irreducibly single-reducer.
    3. Per-doc island merge (:func:`_merge_spans`) — one doc-keyed
       window pass; the partition key is the document, maximally
       spread.

    Returns (id, start_tok, end_tok, span_tokens): 1-based inclusive
    token positions of each maximal duplicated run.
    """
    grams = _positioned_grams(df, id_col, text_col, min_tokens)
    dup_keys = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("g")
    )
    hits = grams.join(dup_keys, "g").select(id_col, "pos")
    return _merge_spans(hits, id_col, min_tokens)


def contamination_spans(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 8,
) -> DataFrame:
    """SPAN-LEVEL eval decontamination: for each training document,
    the maximal token ranges covered by a ≥ ``min_tokens``-token
    substring that also appears ANYWHERE in the eval set — the ranges
    a pipeline CUTS, keeping the rest of the document, where the
    doc-level tier (:func:`decontaminate`) would drop the whole doc.
    Span surgery preserves the ~99% of a long document that is not
    contaminated — the difference between losing a book and losing a
    quoted benchmark question.

    Same reduction as :func:`duplicate_substring_spans` (shared
    substring ⟺ shared L-gram), but the duplicated-gram set is the
    DISTINCT eval gram relation: typically small enough to broadcast
    (eval suites are ≪ training corpora), making the marking pass a
    map-side semi-join — zero shuffle of the training grams beyond
    the island merge.

    Returns (id, start_tok, end_tok, span_tokens) on TRAIN docs.
    """
    tg = _positioned_grams(train, id_col, text_col, min_tokens)
    eg = (
        _positioned_grams(eval_df, id_col, text_col, min_tokens)
        .select("g")
        .distinct()
    )
    hits = tg.join(F.broadcast(eg), "g", "left_semi").select(id_col, "pos")
    return _merge_spans(hits, id_col, min_tokens)


def apply_span_surgery(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SPAN SURGERY — the APPLY stage the span tier was missing:
    :func:`duplicate_substring_spans` / :func:`contamination_spans`
    locate the token ranges a dedup/decontamination pipeline cuts
    (Lee et al. 2022's next stage); this operator EMITS the rewritten
    corpus with those ranges excised, keeping the rest of each
    document — the difference between losing a book and losing a
    quoted benchmark question.

    Token semantics match the span producers exactly: tokens are
    ``split(trim(lower(text)), '\\s+')`` and span positions are
    1-based inclusive over that sequence, so cutting [start_tok,
    end_tok] removes precisely the flagged windows. Every ORIGINAL
    occurrence of a flagged ≥min_tokens gram is destroyed by
    construction (each such gram lies inside a merged span); the
    recomposition joins surviving tokens with single spaces.

    All Catalyst, no UDF: spans collapse to ONE array per doc
    (collect_list of (start,end) structs — bounded: merged spans are
    disjoint and each covers ≥ min_tokens tokens, so a doc holds at
    most n_tokens/min_tokens of them), broadcast-joined back to the
    corpus, and the cut is a higher-order ``filter`` with the
    positional lambda testing membership against the span array
    (``exists``) — per-row vectorized codegen, zero Python. Docs
    without spans pass through verbatim (left join + empty-array
    coalesce). At 100 TB the doc-keyed span aggregate and the join
    shuffle only (id, spans) — never the text.

    Returns (id, n_tokens, n_spans, n_removed_tokens, clean_text):
    original token count, spans applied, tokens excised, and the
    rewritten text (empty string when a doc is fully covered).

    NULL ``text`` is coalesced to ``''`` before tokenizing (matching
    the span producers, which can never emit a span for it), so the
    (n_tokens, clean_text) contract holds instead of degrading to
    ``(-1, NULL)`` via ``F.size(NULL)``.
    """
    sp = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("start_tok").alias("s"), F.col("end_tok").alias("e")
            )
        ).alias("__spans")
    )
    toks = F.split(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    j = docs.select(F.col(id_col), toks.alias("__t")).join(
        sp, id_col, "left"
    )
    empty = F.array().cast("array<struct<s:int,e:int>>")
    covered = lambda i: F.exists(  # noqa: E731  (1-based position i)
        F.col("__sp"), lambda r: (r["s"] <= i) & (i <= r["e"])
    )
    kept = F.filter(
        F.col("__t"),
        lambda x, i: ~covered(i + F.lit(1)),
    )
    return (
        j.select(
            F.col(id_col),
            F.col("__t"),
            F.coalesce(F.col("__spans"), empty).alias("__sp"),
        )
        .select(
            F.col(id_col),
            F.size("__t").alias("n_tokens"),
            F.size("__sp").alias("n_spans"),
            kept.alias("__kept"),
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("n_spans"),
            (F.col("n_tokens") - F.size("__kept")).alias(
                "n_removed_tokens"
            ),
            F.array_join("__kept", " ").alias("clean_text"),
        )
    )


def edit_distance_verify(
    pairs: DataFrame,
    attrs: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int,
) -> DataFrame:
    """Levenshtein verification stage over blocked candidate pairs —
    the exact-comparison step the classic ER pipeline runs AFTER
    blocking (SNM windows, LSH bands, shingle buckets) and BEFORE
    clustering: edit distance is O(len^2) per pair, affordable only
    because blocking bounded the candidate set to ~n*w pairs, and on
    short identity strings (names, codes, normalized addresses) it
    is the verifier of record — token methods cannot see
    single-character typos that fall inside every shingle.

    Deterministic by construction: the distance is an exact integer
    (Spark's levenshtein and ANSI engines implement the same classic
    Wagner-Fischer recurrence), the threshold is an integer compare,
    no floats anywhere.

    Plan: the attribute relation joins the pair list twice on the id
    — equi-joins on unique keys, broadcast when attrs is small,
    shuffled-hash otherwise; the pair list arrives pre-bounded by
    blocking, so the join is linear in candidates, never all-pairs.

    Returns (doc_a, doc_b, edit_dist) for pairs at or under
    ``max_dist``, ordered (doc_a, doc_b).
    """
    a = attrs.select(
        F.col(id_col).alias("doc_a"), F.col(text_col).alias("__sa")
    )
    b = attrs.select(
        F.col(id_col).alias("doc_b"), F.col(text_col).alias("__sb")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein(F.col("__sa"), F.col("__sb")).alias(
                "edit_dist"
            ),
        )
        .where(F.col("edit_dist") <= F.lit(max_dist))
        .orderBy("doc_a", "doc_b")
    )
