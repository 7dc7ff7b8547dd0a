"""Graph operators: connected components for dedup clustering
(north-star extension — not in the reference, which has no graph ops).

Near-dup *pairs* (dedup.py, similarity.py) are only half of
deduplication: to drop duplicates you need the transitive closure —
if A~B and B~C, then {A,B,C} is one group and one survivor should be
kept. ``connected_components`` turns a pair list into (node, cluster)
labels; ``dedup_survivors`` picks min-id survivors per cluster.

Scale posture: one size rule for every iterative graph operator
(``connected_components``, ``kcore_peel``, ``bfs_hops``, both
PageRanks and ``hits_bipartite``). ``_small_graph`` collects the edge
columns once, through Arrow, when they fit under the session's
``spark.sql.autoBroadcastJoinThreshold`` — the size Spark would ship
to every executor for a broadcast join. The operator then runs its own
loop in Python and returns a local relation with the distributed
path's schema: on graphs of hundreds to hundreds of thousands of edges
the cost of a Spark round loop is per-job coordination, not data (the
Dremel argument, VLDB'20). A threshold of ``-1``, float or double ids,
or an edge list over the threshold keep the distributed path, which is
unchanged: large-star/small-star CC (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) halves the diameter per
round, and the converge-tested loops (star CC, k-core, BFS) share one
round discipline, ``_fixpoint``: a lazy localCheckpoint per round keeps
plans flat and one count per round both materializes it and tests
convergence.
"""

from __future__ import annotations

from typing import Callable

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.storagelevel import StorageLevel

_LONG_MAX = 2**63 - 1


def _at_least_one(n: int, arg: str) -> None:
    if n < 1:
        raise ValueError(f"{arg} must be >= 1, got {n}")


def _small_graph(
    edges: DataFrame, *cols: str | Column
) -> tuple[list[tuple], StructType] | None:
    """``(rows, schema)`` of ``edges.select(*cols)`` when the graph is
    small enough to finish on the driver, else ``None``.

    Small means at most ``cap = threshold // (8 + row default size)``
    rows, Spark's own row-size estimate against the session's
    ``spark.sql.autoBroadcastJoinThreshold``. One bounded
    ``limit(cap + 1)`` collect through Arrow decides it and fetches the
    rows in the same job; the Arrow columns decode to exact Python
    values. ``None`` without any job when the threshold is ``-1`` (as
    it turns broadcast off), when the columns differ in type, or when
    they are float or double: Python orders and hashes NaN and -0.0
    unlike Spark, which groups NaN with NaN and folds -0.0 into 0.0.
    """
    proj = edges.select(*cols)
    threshold = proj.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    types = {f.dataType for f in proj.schema}
    if threshold < 0 or len(types) != 1 or isinstance(types.pop(), (FloatType, DoubleType)):
        return None
    cap = threshold // (8 + proj._jdf.schema().defaultSize())
    table = proj.limit(cap + 1).toArrow()
    if table.num_rows > cap:
        return None
    return list(zip(*(c.to_pylist() for c in table.columns))), proj.schema


def _id_field(schema: StructType, name: str) -> StructField:
    """The node column a distributed path builds from the endpoint
    columns of ``schema``: their type, nullable if either one is."""
    return StructField(name, schema[0].dataType, any(f.nullable for f in schema))


def _local(edges: DataFrame, rows: list[tuple], schema: StructType) -> DataFrame:
    """``rows`` as a relation with ``schema``, built as an Arrow table:
    Spark turns it into a LocalRelation that the JVM scans directly. A
    list of tuples, or an empty pandas frame, would become a Python RDD
    that starts Python workers on every scan; a pandas frame would also
    turn a long column with NULLs into float64."""
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return edges.sparkSession.createDataFrame(table, schema)


def _fixpoint(
    step: Callable[[DataFrame | None], DataFrame],
    count: Callable[[DataFrame, DataFrame | None], int],
    max_rounds: int,
    first: DataFrame | None = None,
    stop: Callable[[int, int | None], bool] = lambda n, prev_n: n == 0,
) -> tuple[DataFrame, int, int]:
    """Run ``step`` rounds to a fixpoint; ``(last, n, rounds)``.

    Round i builds ``step(prev)``, where ``prev`` is round i-1's
    relation (``first`` in round 1), and cuts its lineage with a LAZY
    ``localCheckpoint``. ``count(rel, prev)`` is the round's one action:
    it materializes the checkpoint blocks (MEMORY_AND_DISK, lineage
    truncated when the job completes) and its result ``n`` answers
    convergence. The loop stops after the first round where
    ``stop(n, previous round's n)`` holds (default: ``n == 0``) or after
    ``max_rounds`` rounds (callers check it is >= 1 before any work);
    ``last`` and ``n`` are the final round's relation and count, so
    ``stop`` failing on them means the bound was hit.

    Why this shape: without the cut, each round's logical plan nests
    the previous one (hash-min CC measured 9.5 MB plan strings / 798
    nested references after ~6 rounds; star CC references its input ~6
    times per round and OOMed the driver generating plan strings). An
    eager checkpoint followed by the convergence count paid a second
    full job per round for the same rows. Under AQE the one action can
    still be several Spark jobs, one per shuffle stage. The blocks are
    RDD-owned: the context cleaner frees them once the round's frame is
    dropped (the ``cut_lineage`` trade, fine for slim label, edge and
    frontier relations).

    Not routed through here: ``_pagerank_loop`` and ``hits_bipartite``
    run a fixed number of rounds with no probe, so they would gain a
    count job per round or a branch in this helper; the perceptron, MMR
    and power-iteration loops elsewhere are not lineage-cut Spark
    fixpoints.
    """
    prev, prev_n = first, None
    for rounds in range(1, max_rounds + 1):
        rel = step(prev).localCheckpoint(eager=False)
        n = count(rel, prev)
        if stop(n, prev_n):
            break
        prev, prev_n = rel, n
    return rel, n, rounds


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the
    minimum node id reachable from it (= component id).

    Returns (node, cluster) for every node of an edge ``(u, v)`` with
    ``u != v``: self-loop-only nodes and NULL endpoints get no row, so
    callers left-join the labels and coalesce a missing node to its own
    id. Both columns have the input's id type.

    No caller guesses the graph's diameter; the size rule
    (``_small_graph``) picks the algorithm:

    - If the edge list fits under the session's
      ``spark.sql.autoBroadcastJoinThreshold``, the one bounded collect
      feeds union-find with the smaller id as root on the driver. On
      dedup graphs (hundreds to tens of thousands of edges) that
      replaces dozens of small Spark jobs with one collect.
    - Otherwise (also for a threshold of ``-1`` and for float or double
      ids, where NaN and -0.0 group as Spark defines) the edges are
      deduplicated, persisted and counted once, and the alternating
      large-star/small-star algorithm (Kiveris et al., "Connected
      Components in MapReduce and Beyond", SoCC'14) runs through
      ``_fixpoint`` in O(log d) rounds. Per round (plain
      joins/aggregates, edge-keyed shuffles) large-star links every
      node's LARGER neighbors to m = min(neighborhood ∪ {u}), then
      small-star links its smaller-or-equal neighbors (and itself) to
      their min. The fixpoint is reached when the edge set stops
      changing, leaving depth-1 stars centered at component minima;
      the test is ONE full-outer-join count (a row with either side
      NULL ⇒ the edge sets differ).

    Either way the returned relation carries none of the input's
    lineage: a local relation, or an eager checkpoint of the label map.

    Raises ``ValueError`` if ``max_iter < 1`` and ``RuntimeError`` if
    the distributed path spends ``max_iter`` rounds without reaching
    the fixpoint.
    """
    _at_least_one(max_iter, "max_iter")
    small = _small_graph(edges, F.col(src).alias("u"), F.col(dst).alias("v"))
    if small is not None:
        rows, schema = small
        node = _id_field(schema, "node")
        labels = _union_find(
            (u, v) for u, v in rows if u is not None and v is not None and u != v
        )
        cluster = StructField("cluster", node.dataType, node.nullable)
        return _local(edges, labels, StructType([node, cluster]))
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        e.count()  # dedup once; the first star round scans the cache
        all_nodes = e.select(F.col("u").alias("node")).union(e.select("v")).distinct()
        return _star_labels(e, all_nodes, max_iter)
    finally:
        e.unpersist()


def _union_find(pairs) -> list[tuple]:
    """(node, min id of its component) for every endpoint of ``pairs``:
    union-find with path compression, the smaller root winning each
    union, so every root is its set's minimum."""
    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(x, find(x)) for x in parent]


def _star_labels(e: DataFrame, all_nodes: DataFrame, max_iter: int) -> DataFrame:
    """The distributed path of ``connected_components`` on its prelude's
    persisted edge set ``e`` (u, v) and node set ``all_nodes``."""

    def star_round(cur: DataFrame) -> DataFrame:
        # ---- large-star ----
        sym = cur.select("u", "v").union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # ---- small-star (on the large-star output) ----
        oriented = large.select(
            F.greatest("u", "v").alias("a"), F.least("u", "v").alias("b")
        ).where(F.col("a") != F.col("b"))
        smins = oriented.groupBy("a").agg(F.min("b").alias("m"))
        return (
            oriented.join(smins, "a")
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("a").alias("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def edges_changed(new_e: DataFrame, old_e: DataFrame) -> int:
        # Any full-outer row with a NULL side is an edge present in
        # exactly one of the two sets. (A bare left-anti count is NOT
        # sufficient — new_e ⊂ old_e gives 0.)
        return (
            new_e.withColumn("__a", F.lit(1))
            .join(old_e.withColumn("__b", F.lit(1)), ["u", "v"], "full_outer")
            .where(F.col("__a").isNull() | F.col("__b").isNull())
            .count()
        )

    stars, changed, rounds = _fixpoint(star_round, edges_changed, max_iter, first=e)
    if changed != 0:
        raise RuntimeError(f"alternating star did not converge in {rounds} rounds")
    # Stars: (u → center). Centers and isolated-after-dedup nodes
    # label themselves. Eagerly checkpoint the (tiny: one row per
    # node) label map before the caller releases the edges: without
    # the cut, every consumer of the returned frame embeds the full
    # blocking/verify lineage of the ORIGINAL edge relation in its
    # plan — customer_golden_records' three survivorship arms
    # audited at 550 joins / 224 exchanges before this (round-10
    # plan audit), ~30 after.
    return (
        all_nodes.join(stars, all_nodes["node"] == stars["u"], "left")
        .select("node", F.coalesce("v", F.col("node")).alias("cluster"))
        .localCheckpoint(eager=True)
    )


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, cluster_id) for EVERY document: docs in a near-dup
    component share the component's min doc_id; untouched docs are
    their own singleton cluster."""
    comp = connected_components(pairs, "doc_a", "doc_b")
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster", F.col("doc_id")).alias("cluster_id")
        )
    )


def dedup_survivors(clusters: DataFrame) -> DataFrame:
    """One surviving doc_id per cluster (the min = the cluster id
    itself under min-labeling) plus the member count — the row a
    curation pipeline keeps."""
    return clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    ).select(F.col("cluster_id").alias("doc_id"), "n_members")


def clustering_rand_index(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    label_col: str = "cluster_id",
) -> DataFrame:
    """Rand index and adjusted Rand index between two clusterings of
    the same id universe (Rand 1971; Hubert & Arabie 1985) — the
    cluster-LEVEL agreement eval that the pair-level recall evals
    (minhash_recall_eval, simhash_recall_eval) can't express: two
    clusterings can share most candidate pairs yet cut the transitive
    closure differently, and it is the CLOSURE that decides which
    documents a dedup pass deletes.

    Pair-counting form from the label contingency table, exact
    integers throughout: with n_ij = |cluster i of A ∩ cluster j of B|
    and T2(x) = Σ x·(x−1) (twice the pair count),

        RI  = (n(n−1) + 2·T2(n_ij) − T2(a_i) − T2(b_j)) / (n(n−1))
        ARI = (S_ij − S_a·S_b/P) / ((S_a+S_b)/2 − S_a·S_b/P),
              S = T2/2, P = n(n−1)/2

    T2 sums accumulate in DECIMAL(38,0) (n(n−1) ≈ 10²⁴ at 10¹²
    docs — int64 is long gone); the final RI/ARI are fixed IEEE
    sequences on exact parts, rounded 6dp. ARI is NULL when its
    denominator is 0 (both clusterings all-singletons or all-one-
    cluster — agreement is undefined, not 1.0).

    Plan: one id-keyed join of the two label relations, one combinable
    groupBy to the contingency CELLS, then every statistic is an
    aggregate of that bounded relation (≤ clusters_A × clusters_B
    rows) combined via broadcast 1-row cross joins.

    Returns ONE row: (n_docs, n_clusters_a, n_clusters_b, rand_index,
    adjusted_rand).
    """
    la = a.select(F.col(id_col).alias("__id"), F.col(label_col).alias("__ca"))
    lb = b.select(F.col(id_col).alias("__id"), F.col(label_col).alias("__cb"))
    cells = (
        la.join(lb, "__id")
        .groupBy("__ca", "__cb")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    from ..session import track_persist

    cells = track_persist(cells)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    def t2(col):
        return F.sum(dec(F.col(col)) * (dec(F.col(col)) - F.lit(1)))

    tot = cells.agg(
        F.sum("nij").cast("long").alias("n_docs"),
        t2("nij").alias("t2ij"),
    )
    pa = (
        cells.groupBy("__ca")
        .agg(F.sum("nij").alias("ai"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters_a"), t2("ai").alias("t2a"))
    )
    pb = (
        cells.groupBy("__cb")
        .agg(F.sum("nij").alias("bj"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters_b"), t2("bj").alias("t2b"))
    )
    j = tot.crossJoin(F.broadcast(pa)).crossJoin(F.broadcast(pb))
    n = F.col("n_docs").cast("double")
    nn = n * (n - F.lit(1.0))
    t2ij = F.col("t2ij").cast("double")
    t2a = F.col("t2a").cast("double")
    t2b = F.col("t2b").cast("double")
    sij, sa, sb = t2ij / F.lit(2.0), t2a / F.lit(2.0), t2b / F.lit(2.0)
    pp = nn / F.lit(2.0)
    ari_den = (sa + sb) / F.lit(2.0) - sa * sb / pp
    # A single document has no pairs (nn = 0): NULL indices via SQL
    # 0/0 semantics, never an ANSI crash — the ari_den probe itself
    # divides by pp, so it only evaluates inside the n > 1 branch.
    return j.select(
        "n_docs",
        "n_clusters_a",
        "n_clusters_b",
        F.when(
            nn > 0,
            F.round((nn + F.lit(2.0) * t2ij - t2a - t2b) / nn, 6),
        ).alias("rand_index"),
        F.when(
            nn > 0,
            F.round(
                F.when(
                    ari_den != F.lit(0.0), (sij - sa * sb / pp) / ari_den
                ),
                6,
            ),
        ).alias("adjusted_rand"),
    )


def degree_assortativity(
    edges: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Degree assortativity coefficient of an undirected graph
    (Newman 2002): the Pearson correlation of endpoint degrees over
    edges — positive means hubs link to hubs (social-network shape),
    negative means hubs link to leaves (hub-and-spoke
    infrastructure). For a dedup/co-occurrence graph it reads whether
    duplication is one giant hub or a mesh.

    ``edges`` must be the UNIQUE undirected pair set; each edge enters
    the correlation in BOTH orientations (the standard symmetric
    formulation). Exact construction: integer degrees from one
    combinable groupBy over the symmetrized endpoints; the five
    Pearson moments accumulate in DECIMAL(38,0)/HUGEINT (deg^2 over
    1e12 edges passes int64); ONE fixed IEEE tail, rounded 6dp. A
    degree-regular graph (zero variance) yields NULL, not 0/0.

    Plan: symmetrize with one explode, one degree groupBy, two
    map-side joins of the slim degree relation, one combinable moment
    aggregate. Returns ONE row: (n_edges, assortativity).
    """
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
    )
    from ..session import track_persist

    sym = track_persist(sym)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u").alias("__u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("__v"), F.col("d").alias("dy"))
    pairs = (
        sym.join(du, sym["u"] == du["__u"])
        .join(dv, sym["v"] == dv["__v"])
        .select("dx", "dy")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    m = pairs.agg(
        F.count(F.lit(1)).alias("n2"),
        F.sum(dec(F.col("dx"))).alias("sx"),
        F.sum(dec(F.col("dy"))).alias("sy"),
        F.sum(dec(F.col("dx")) * dec(F.col("dy"))).alias("sxy"),
        F.sum(dec(F.col("dx")) * dec(F.col("dx"))).alias("sxx"),
        F.sum(dec(F.col("dy")) * dec(F.col("dy"))).alias("syy"),
    )
    n = F.col("n2").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    den1 = n * sxx - sx * sx
    den2 = n * syy - sy * sy
    r = (n * sxy - sx * sy) / (F.sqrt(den1) * F.sqrt(den2))
    return m.select(
        (F.col("n2") / F.lit(2)).cast("long").alias("n_edges"),
        F.when((den1 > 0) & (den2 > 0), F.round(r, 6)).alias(
            "assortativity"
        ),
    )


def pagerank_integer(
    edges: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic.

    Floating-point PageRank is not reproducible across engines (or even
    across partition counts — FP addition is not associative, so the
    shuffle's reduce order changes low bits). Here ranks are integers
    scaled by ``scale`` and every step uses only integer div/multiply/
    add, which are exact and order-independent:

        r0(v)     = scale div n
        C_t(v)    = sum over in-edges (u,v) of  r_t(u) div outdeg(u)
        r_{t+1}(v)= ((100-damping_pct)*scale div 100) div n
                    + (damping_pct * C_t(v)) div 100

    so any engine (the DuckDB oracle replays it with unrolled CTEs and
    ``//``) produces bit-identical ranks. Dangling mass (nodes with no
    out-edges) is dropped rather than redistributed — acceptable for
    ranking use and keeps each iteration one join + one aggregate.

    Scale posture: per iteration ONE shuffle join (edges ⋈ ranks on
    src — edges can be pre-partitioned by src once and reused every
    round) + ONE groupBy(dst) aggregate with map-side partial sums.
    The node count is ONE driver scalar (the same one-count budget CC
    and k-core spend per round), then a literal in the integer
    expressions. iters is fixed (anytime algorithm), not
    converge-tested: each iteration contracts the error by the damping
    factor, so ~20 rounds reach 1e-3 of stationary; 3 suffice for a
    deterministic cross-engine fixture.

    Overflow: ranks sum to ≤ scale, so damping_pct * C_t ≤ 85·10^12,
    comfortably inside int64.

    An edge list under the broadcast threshold (``_small_graph``) runs
    the same integer steps on the driver in Python ints; a value that
    leaves the ``long`` range there hands the graph to the distributed
    path, so overflow behaves as Spark defines it (an error under ANSI,
    wrap-around without it). A threshold of ``-1`` and float or double
    ids run the distributed loop directly.

    edges: (src: string, dst: string), pre-deduplicated.
    Returns (node: string, rank_scaled: long).
    """
    # Global PageRank IS the personalized variant with S = V: the
    # shared loop runs it with is_seed ≡ 1, ns = |V|, so the per-round
    # join/aggregate/lineage discipline exists once.
    return _pagerank_loop(edges, None, iters, scale, damping_pct)


def kcore_peel(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core extraction by iterative peeling: repeatedly drop nodes
    whose degree among *surviving* nodes is < k; what remains is the
    k-core (Seidman 1983) — the standard density screen for graph-side
    curation (spam rings, bot cliques, tightly co-occurring entities).

    Anytime contract (the pagerank_integer pattern): BOTH engines run
    exactly ``rounds`` peel rounds, so results agree even if the peel
    has not reached its fixpoint — and because peeling is monotone
    (survivor sets only shrink, and a converged round is a no-op),
    early convergence before ``rounds`` yields the true k-core on both
    sides. The Spark loop early-exits on a converged round (one
    distributed count per round, the only driver scalar); extra
    oracle rounds past convergence change nothing.

    Scale posture: an edge list under the broadcast threshold
    (``_small_graph``) peels on the driver (same rounds, same early
    exit) and returns a local relation. Otherwise (also at a threshold
    of ``-1`` or for float or double ids), per round ONE semi-join of the symmetrized edge list
    against the survivor set (edge-keyed shuffle) + ONE groupBy(node)
    degree count with map-side partials; each round's survivors are
    lazily checkpointed and materialized by the convergence count
    (``_fixpoint``). Edges symmetrize + dedup once up front and stay
    persisted across rounds. Either way self-loops and edges with a
    NULL endpoint are dropped.

    Returns (node, core_deg): surviving nodes with their within-core
    degree after ``rounds`` rounds. Raises ``ValueError`` if ``k < 1``
    or ``rounds < 1``.
    """
    _at_least_one(k, "k")
    _at_least_one(rounds, "rounds")
    small = _small_graph(edges, F.col(src).alias("u"), F.col(dst).alias("v"))
    if small is not None:
        rows, schema = small
        adj: dict = {}
        for u, v in rows:
            if u is not None and v is not None and u != v:
                adj.setdefault(u, set()).add(v)
                adj.setdefault(v, set()).add(u)
        alive, prev_n = adj, None
        for _ in range(rounds):
            deg = {u: sum(v in alive for v in adj[u]) for u in alive}
            core = {u: d for u, d in deg.items() if d >= k}
            if len(core) == prev_n:
                break
            alive, prev_n = core, len(core)
        out = StructType(
            [_id_field(schema, "node"), StructField("core_deg", LongType(), False)]
        )
        return _local(edges, list(core.items()), out)
    from ..session import track_persist

    sym = track_persist(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def peel(survivors: DataFrame | None) -> DataFrame:
        alive = (
            sym.select(F.col("u").alias("node")).distinct()
            if survivors is None
            else survivors.select(F.col("u").alias("node"))
        )
        deg = (
            sym.join(alive, sym["u"] == alive["node"], "left_semi")
            .join(
                alive.select(F.col("node").alias("__vn")),
                sym["v"] == F.col("__vn"),
                "left_semi",
            )
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )
        return deg.where(F.col("core_deg") >= k)

    # Converged once a round keeps as many nodes as the one before; the
    # last pass (converged or round-limited) carries the final degrees.
    survivors, _, _ = _fixpoint(
        peel,
        lambda rel, _: rel.count(),
        rounds,
        stop=lambda n, prev_n: n == prev_n,
    )
    return survivors.select(F.col("u").alias("node"), "core_deg")


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation counts via degree-ordered edge
    orientation ("compact-forward", Latapy 2008; the MapReduce variant
    is Suri & Vassilvitskii, WWW'11) — north-star graph extension, no
    reference counterpart.

    The naive wedge join explodes on hubs: a degree-d node contributes
    O(d²) wedges, and real co-occurrence graphs are heavy-tailed.
    Orienting every undirected edge from its lower-(degree, id) endpoint
    to its higher one bounds EVERY out-degree by O(sqrt(m)) — a node of
    degree d only keeps out-edges to neighbors of degree ≥ d, and there
    can be at most ~sqrt(2m) such neighbors — so the wedge join is
    O(m^1.5) worst-case instead of hub-quadratic. Each triangle is then
    enumerated exactly once: its three nodes form a total-order chain
    u < v < w (by (deg, id)), the wedge (u→v, u→w) is built only at the
    minimum node, and the closing edge lookup is an equi-join on (v, w)
    against the oriented edge set itself.

    Distribution: 3 shuffles total past the degree computation — the
    wedge self-join on the low endpoint, the closing-edge join on
    (v, w), and the final explode+count. No driver collects; the total
    order is (degree, node-id), both engine-portable (the DuckDB oracle
    replays it verbatim).

    edges: undirected pair list; duplicates / reversed duplicates /
    self-loops tolerated. Returns (node, n_triangles) for nodes in ≥1
    triangle.

    ``und`` and ``oriented`` are each referenced 2-3 times downstream;
    lineage is cut (localCheckpoint, the pagerank/CC lesson) rather
    than persisted, because nested multi-reference makes the *plan*
    grow geometrically even when the cache executes once — the
    checkpoint keeps both the execution AND the plan linear.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    und = und.localCheckpoint(eager=False)
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    # Orient low-(deg, id) -> high-(deg, id); keep the head's rank key so
    # the wedge can order its two spokes without another degree join.
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(
                    F.col("a").alias("u"),
                    F.col("b").alias("v"),
                    F.col("db").alias("dv"),
                ),
            )
            .otherwise(
                F.struct(
                    F.col("b").alias("u"),
                    F.col("a").alias("v"),
                    F.col("da").alias("dv"),
                )
            )
            .alias("e")
        )
        .select("e.u", "e.v", "e.dv")
    )
    oriented = oriented.localCheckpoint(eager=False)
    e1 = oriented.select(
        F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("dv1")
    )
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("dv2")
    )
    wedges = e1.join(e2, "u").where(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tri = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    return (
        tri.select(
            F.explode(F.array(F.col("u"), F.col("v1"), F.col("v2"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    scale: int = 10**12,
    damping_pct: int = 85,
) -> DataFrame:
    """Personalized PageRank in exact integer arithmetic: the teleport
    mass returns to a SEED SET instead of all nodes, so ranks measure
    proximity to the seeds (Page et al. 1999 §6 'personalized'; the
    random walker restarts at the seeds). The workhorse of
    seed-expansion retrieval — "entities related to THESE" — where
    global PageRank only answers "globally central".

        r0(v)      = scale div |S|                   if v ∈ S else 0
        r_{t+1}(v) = [v ∈ S] · (teleport div |S|)
                     + damping · C_t(v) div 100

    Seeds are intersected with the graph's node set FIRST (both
    engines must agree on |S|; teleporting to absent nodes would
    silently leak mass). Same determinism/scale posture as
    pagerank_integer: integer-only steps replay bit-identically in
    the unrolled DuckDB oracle; per iteration ONE edges⋈ranks shuffle
    + ONE dst aggregate; the seed flag is attached to the node
    relation once and persists across rounds; lineage cut per round.

    seeds: DataFrame with a ``node`` column. Returns
    (node, rank_scaled). Raises ``ValueError`` when no seed is a node
    of a non-empty graph. Small graphs and seed sets finish on the
    driver as in ``pagerank_integer``.
    """
    return _pagerank_loop(edges, seeds, iters, scale, damping_pct)


_NO_SEED = (
    "pagerank_personalized: no seed intersects the graph's node set — "
    "ranks would be uniformly zero. Check the seed ids."
)


def _pagerank_loop(
    edges: DataFrame,
    seeds: DataFrame | None,
    iters: int,
    scale: int,
    damping_pct: int,
) -> DataFrame:
    """Shared integer-PageRank iteration: ``seeds`` ``None`` is global
    PageRank (is_seed ≡ 1, ns = |V|), so the join/aggregate/lineage
    discipline cannot drift between the global and personalized
    variants. Duplicate edges count in ``outdeg`` and in the
    contributions; NULL ids are nodes that never pass or receive
    mass."""
    local = _pagerank_on_driver(edges, seeds, iters, scale, damping_pct)
    if local is not None:
        return local
    from ..session import track_persist

    teleport_mass = (100 - damping_pct) * scale // 100
    # Loop invariants persist ONCE: without this, every iteration's plan
    # re-executes the edge build (and its dedup shuffle) from source —
    # measured 59 exchanges for 3 rounds vs 12 with reuse. On a real
    # cluster, additionally repartition edges by src so the per-round
    # ranks join reuses the exchange.
    edges = track_persist(edges)
    # deg joins by src every round; computing it pre-attached to edges
    # would denormalize — keep it a slim (src, outdeg) relation instead.
    deg = track_persist(edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")))
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    # ONE driver scalar per run (the budget CC and k-core spend per
    # ROUND), then a literal in the integer expressions: |V| for global
    # PageRank; |S∩V| for the personalized one, where it must be
    # validated — with zero surviving seeds every teleport branch is
    # dead and the loop would SILENTLY return all-zero ranks (a typo'd
    # seed prefix reads as "nothing is related").
    if seeds is None:
        nodes = track_persist(nodes)
        ns = nn = nodes.count()
        flagged = nodes.withColumn("is_seed", F.lit(1))
    else:
        flagged = track_persist(
            nodes.join(
                seeds.select("node").distinct().withColumn("__seed", F.lit(1)),
                "node",
                "left",
            ).select("node", F.coalesce("__seed", F.lit(0)).alias("is_seed"))
        )
        ns, nn = flagged.agg(F.sum("is_seed"), F.count(F.lit(1))).first()
    if nn == 0:
        # Empty graph: an empty rank relation, not a crash (an upstream
        # filter that drops every edge must not kill the stage; scale //
        # 0 would) — distinct from the typo'd-seed case below, which
        # only makes sense when there ARE nodes the seeds could have hit.
        return flagged.select("node", F.lit(None).cast("long").alias("rank_scaled"))
    if not ns:
        raise ValueError(_NO_SEED)
    ns = int(ns)
    ranks = flagged.select(
        "node",
        F.when(
            F.col("is_seed") == 1, F.lit(scale // ns)
        ).otherwise(F.lit(0)).alias("r"),
    )
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .join(deg, "src")
            .select(F.col("dst"), F.expr("r div outdeg").alias("c"))
        )
        agg = contrib.groupBy("dst").agg(F.sum("c").alias("c"))
        ranks = (
            flagged.join(agg, flagged["node"] == agg["dst"], "left")
            .select(
                "node",
                (
                    F.when(
                        F.col("is_seed") == 1, F.lit(teleport_mass // ns)
                    ).otherwise(F.lit(0))
                    + F.expr(f"({damping_pct} * coalesce(c, 0)) div 100")
                ).alias("r"),
            )
        )
        ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.col("r").alias("rank_scaled"))


def _pagerank_on_driver(
    edges: DataFrame,
    seeds: DataFrame | None,
    iters: int,
    scale: int,
    damping_pct: int,
) -> DataFrame | None:
    """``_pagerank_loop`` on the driver, or ``None`` to hand over.

    It hands over when ``_small_graph`` does (for the edges or the
    seeds), when the seed ids' type is not the edges', when
    ``iters < 1``, when the parameters could make a rank negative (Python
    ``//`` floors where Spark's ``div`` truncates) or when any value
    leaves the ``long`` range. Otherwise every rank is the exact value
    Spark computes."""
    if not (
        iters >= 1
        and type(scale) is int and 0 <= scale <= _LONG_MAX
        and type(damping_pct) is int and 0 <= damping_pct <= 100
    ):
        return None
    small = _small_graph(edges, "src", "dst")
    if small is None:
        return None
    rows, schema = small
    out_schema = StructType(
        [_id_field(schema, "node"), StructField("rank_scaled", LongType(), True)]
    )
    nodes = {x for edge in rows for x in edge}
    if not nodes:
        return _local(edges, [], out_schema)
    if seeds is None:
        seedset = nodes
    else:
        got = _small_graph(seeds, "node")
        if got is None or got[1][0].dataType != schema[0].dataType:
            return None
        # A NULL id never joins, so it is a node but never a seed.
        seedset = nodes.intersection(s for (s,) in got[0] if s is not None)
        if not seedset:
            raise ValueError(_NO_SEED)
    ns = len(seedset)
    teleport = (100 - damping_pct) * scale // 100 // ns
    out: dict = {}
    for src, dst in rows:
        if src is not None:  # a NULL src never joins its rank
            out.setdefault(src, []).append(dst)
    r = {v: scale // ns if v in seedset else 0 for v in nodes}
    for _ in range(iters):
        c: dict = {}
        for src, dsts in out.items():
            share = r[src] // len(dsts)
            for dst in dsts:
                c[dst] = c.get(dst, 0) + share
        # Spark sums the NULL dst group too, then never joins it.
        if max(c.values(), default=0) * max(damping_pct, 1) > _LONG_MAX:
            return None
        c.pop(None, None)
        r = {
            v: (teleport if v in seedset else 0) + damping_pct * c.get(v, 0) // 100
            for v in nodes
        }
        if max(r.values()) > _LONG_MAX:
            return None
    return _local(edges, list(r.items()), out_schema)


def global_clustering(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Global clustering coefficient (transitivity) of an undirected
    graph: C = 3*triangles / wedges — the one-number cohesion summary
    over the per-node triangle counts: C near a random graph's p
    means co-occurrence is incidental; C >> random means the graph
    has real community structure, which decides whether dedup
    clustering will produce meaningful groups or hairballs. Pairs
    with degree_assortativity the way variance pairs with mean.

    Exact: triangle mass reuses triangle_counts (degree-ordered
    compact-forward, O(m^1.5) worst-case — each triangle lands on
    its 3 corners, so sum/3 is the count, an exact integer);
    wedge mass is sum over nodes of d*(d-1)/2 from the degree
    relation, exact in DECIMAL(38,0) (hub degrees square past int64
    at 100 TB graph scale). C is ONE double division of exact
    integers, 6dp; a wedge-free graph yields NULL.

    Returns ONE row: (n_nodes, n_edges, n_triangles, n_wedges, c).
    """
    und = edges.select(
        F.least(F.col(a), F.col(b)).alias("u"),
        F.greatest(F.col(a), F.col(b)).alias("v"),
    ).distinct()
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    wedges = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum(dec(F.col("d")) * dec(F.col("d")) - dec(F.col("d"))) / F.lit(2))
        .cast("decimal(38,0)")
        .alias("n_wedges_d"),
    )
    ecount = und.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    tri = triangle_counts(und, "u", "v").agg(
        (F.coalesce(F.sum("n_triangles"), F.lit(0)) / F.lit(3))
        .cast("long")
        .alias("n_triangles")
    )
    j = wedges.crossJoin(F.broadcast(ecount)).crossJoin(F.broadcast(tri))
    return j.select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        F.col("n_wedges_d").cast("long").alias("n_wedges"),
        F.when(
            F.col("n_wedges_d") > 0,
            F.round(
                F.lit(3.0) * F.col("n_triangles").cast("double")
                / F.col("n_wedges_d").cast("double"),
                6,
            ),
        ).alias("c"),
    )


def bfs_hops(
    edges: DataFrame, src: str = "a", dst: str = "b", rounds: int = 8
) -> DataFrame:
    """Breadth-first hop-distance histogram from the graph's
    max-degree node (tie: min id) — the traversal primitive the graph
    tier lacked next to PageRank/k-core/triangles: the hop profile is
    the empirical diameter/reach read ("how many hops until the
    component is covered"), the number that decides how many rounds
    iterative algorithms on this graph actually need.

    An edge list under the broadcast threshold (``_small_graph``) runs
    the same levels on the driver and returns a local relation.
    Otherwise (also at a threshold of ``-1`` or for float or double
    ids): level-synchronous
    frontier expansion, the canonical distributed BFS: each round is
    one key-shuffled join frontier->edges plus an anti-join against the
    settled set, so a node enters `dist` at its FIRST (minimal) hop —
    no min() reduction needed. Each round's frontier is lazily
    checkpointed and its count (the emptiness probe) materializes it
    (``_fixpoint``), so lineage stays linear (the plan-fan-in lesson
    from the unigram-LM DP). `rounds` bounds the levels on both paths
    (the k-core/pagerank anytime contract: fixed rounds, exact
    integers, deterministic regardless of scheduling); nodes not
    reached within `rounds` report as hop -1. Self-loops count toward
    degree; a NULL endpoint is a node that joins nothing, so it is only
    ever reached from a neighbor or reported unreached, as Spark's
    joins treat NULL keys.

    Returns (hop, n_nodes) ordered by hop; the -1 row only when
    unreached nodes exist. Raises ``ValueError`` if ``rounds < 1``.
    """
    _at_least_one(rounds, "rounds")
    schema = StructType(
        [StructField("hop", IntegerType(), False), StructField("n_nodes", LongType(), False)]
    )
    small = _small_graph(edges, F.col(src).alias("u"), F.col(dst).alias("v"))
    if small is not None:
        return _local(edges, _bfs_levels(small[0], rounds), schema)
    half = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # Materialize the symmetric edge list ONCE: every round joins
    # against it, and without this the (potentially expensive)
    # edge-build lineage re-executes per round — measured 17s -> ~4s
    # on the co-supply graph at sf0.1 (the build is the shared
    # kcore/triangles self-join).
    sym = (
        half.union(
            half.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    seed = (
        deg.orderBy(F.desc("deg"), F.asc("u"))
        .limit(1)
        .select(F.col("u").alias("node"), F.lit(0).cast("int").alias("hop"))
    )
    seed = seed.localCheckpoint(eager=True)
    # The settled set is kept as a LIST of per-round checkpointed
    # frontiers; each anti-join unions those flat scans (linear plan,
    # no per-round union checkpoint job).
    levels: list[DataFrame] = []

    def expand(frontier: DataFrame) -> DataFrame:
        levels.append(frontier)
        settled = levels[0].select("node")
        for lv in levels[1:]:
            settled = settled.union(lv.select("node"))
        return (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(settled, "node", "left_anti")
            .withColumn("hop", F.lit(len(levels)).cast("int"))
        )

    last, n_new, _ = _fixpoint(
        expand, lambda rel, _: rel.count(), rounds, first=seed
    )
    if n_new:  # round-limited: the last, non-empty frontier is a level too
        levels.append(last)
    dist = levels[0]
    for lv in levels[1:]:
        dist = dist.union(lv)
    hist = dist.groupBy("hop").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    unreach = (
        sym.select("u")
        .distinct()
        .join(dist.select(F.col("node").alias("u")), "u", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .where(F.col("n_nodes") > 0)
        .select(F.lit(-1).cast("int").alias("hop"), "n_nodes")
    )
    return hist.unionByName(unreach).orderBy("hop")


def _bfs_levels(rows: list[tuple], rounds: int) -> list[tuple[int, int]]:
    """``bfs_hops``'s (hop, n_nodes) rows on the driver, with Spark's
    NULL rules: a NULL id is a node and a degree group, sorts first
    among equal degrees, never joins as a key, and so passes every
    anti-join (it is never settled, and always counts as unreached)."""
    adj: dict = {}
    for u, v in rows:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    if not adj:
        return []
    seed = min(adj, key=lambda u: (-len(adj[u]), u is not None, u))
    levels, settled = [[seed]], {seed}
    for _ in range(rounds):
        reached = {v for x in levels[-1] if x is not None for v in adj[x]}
        frontier = [v for v in reached if v is None or v not in settled]
        if not frontier:
            break
        levels.append(frontier)
        settled.update(frontier)
    unreached = sum(u is None or u not in settled for u in adj)
    hist = [(hop, len(level)) for hop, level in enumerate(levels)]
    return ([(-1, unreached)] if unreached else []) + hist


def hits_bipartite(
    edges: DataFrame,
    left_col: str,
    right_col: str,
    rounds: int = 2,
    top_k: int = 10,
) -> DataFrame:
    """Unnormalized HITS (Kleinberg 1999, "Authoritative sources in a
    hyperlinked environment") on a bipartite graph — hub scores on the
    left partition, authority scores on the right, returned as the
    top-k right nodes by final authority.

    Recurrence with a(r) initialized to 1:

        h_i(l) = Σ_{r adjacent to l} a_{i-1}(r)
        a_i(r) = Σ_{l adjacent to r} h_i(l)

    The textbook L2 normalization between rounds only rescales every
    score by the same scalar — it cannot change the RANKING, which is
    what this operator returns — so it is dropped and the whole
    computation stays in EXACT integer arithmetic (round 1's hub score
    is the left degree; round 2's authority is a degree-weighted
    two-hop mass). Scores are accumulated in DECIMAL(38,0): they grow
    like edges·deg^(2·rounds−1), which exits int64 long before it
    exits 38 digits; the final projection casts to BIGINT (exact while
    the true value < 2⁶³ — fine at any realistic catalog size, and the
    cast would error loudly under ANSI rather than wrap).

    Anytime contract (same as pagerank/bfs here): a FIXED round count
    is part of the operator's definition — the oracle replays the same
    unrolled recurrence, so any engine agrees bit-for-bit.

    Scale: an edge list under the broadcast threshold
    (``_small_graph``; ids are cast to long first, so float ids qualify)
    runs the recurrence on the driver in Python ints and returns a
    local relation; if an authority leaves the ``long`` range there,
    the distributed path runs instead, so the cast fails or turns NULL
    as Spark defines it. Otherwise (also at a threshold of ``-1``) the
    deduped edge list is persisted and reused by all
    2·rounds joins; each half-round is one key-partitioned
    shuffle-join + one combinable groupBy (map-side partials), never a
    global sort. The final top-k is a TakeOrdered (per-partition heap
    + driver merge of k rows), and the rank window runs on the ≤k-row
    result, not the graph. Both paths drop duplicate edges and edges
    with a NULL endpoint.
    """
    lr = (F.col(left_col).cast("long").alias("l"), F.col(right_col).cast("long").alias("r"))
    small = _small_graph(edges, *lr)
    if small is not None:
        top = _hits_top(small[0], rounds, top_k)
        if top is not None:
            schema = StructType([
                StructField("node", LongType(), small[1]["r"].nullable),
                StructField("degree", LongType(), False),
                StructField("authority", LongType(), True),
                StructField("rank", IntegerType(), False),
            ])
            return _local(edges, top, schema)
    e = (
        edges.select(*lr)
        .where(F.col("l").isNotNull() & F.col("r").isNotNull())
        .distinct()
    )
    from ..session import track_persist

    e = track_persist(e)
    a = e.select("r").distinct().withColumn(
        "s", F.lit(1).cast("decimal(38,0)")
    )
    for _ in range(rounds):
        h = e.join(a, "r").groupBy("l").agg(F.sum("s").alias("s"))
        a = e.join(h, "l").groupBy("r").agg(F.sum("s").alias("s"))
    deg = e.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    top = (
        a.join(deg, "r")
        .select(
            F.col("r").alias("node"),
            "degree",
            F.col("s").cast("long").alias("authority"),
        )
        .orderBy(F.desc("authority"), F.asc("node"))
        .limit(top_k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("authority"), F.asc("node"))
    return top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).orderBy("rank")


def _hits_top(rows: list[tuple], rounds: int, top_k: int) -> list[tuple] | None:
    """``hits_bipartite``'s (node, degree, authority, rank) rows on the
    driver, or ``None`` when an authority leaves the ``long`` range.
    Every earlier score is at most some final authority (each h(l) is
    a term of a(r) for each r adjacent to l), so the final check covers
    the rounds too."""
    e = {(l, r) for l, r in rows if l is not None and r is not None}
    a = {r: 1 for _, r in e}
    for _ in range(rounds):
        h: dict = {}
        for l, r in e:
            h[l] = h.get(l, 0) + a[r]
        a = {}
        for l, r in e:
            a[r] = a.get(r, 0) + h[l]
    if max(a.values(), default=0) > _LONG_MAX:
        return None
    deg: dict = {}
    for _, r in e:
        deg[r] = deg.get(r, 0) + 1
    top = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    return [(r, deg[r], s, rank) for rank, (r, s) in enumerate(top, 1)]
