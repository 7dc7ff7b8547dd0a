"""Round-18 optimization pins.

Each optimization this round changed HOW something is computed while
claiming the WHAT is bit-identical; these tests pin those equivalence
claims so a later refactor cannot silently break them:

- `_lit_vector` / `_dot_lit_expr` build literal-vector expressions via
  one SQL parse instead of 2·dim py4j calls — claimed bit-identical to
  the element-wise ``F.lit`` / ``F.zip_with``+``F.aggregate`` forms.
- `jl_project` builds each component's dot-fold as one ``F.expr``.
- `cosine_neardup_pairs(use_pandas_projection=True)` claims exact sign
  bits on INTEGER-valued vectors (the hashed-text-embedding rows wired
  in registry/warehouse_b.py rely on this).
- `_top_pc_state` mirrors Spark SQL's NULL / NaN / div-by-zero
  semantics in its driver-side power iteration (advisor r17 items).
- `ensure_min_parallelism` probes (not skips) LogicalRDD-rooted plans.
"""

import math
import struct

from pyspark.sql import functions as F

from yelp_data_pipeline_spark.functions.vectors import dot
from yelp_data_pipeline_spark.operators import similarity as sim
from yelp_data_pipeline_spark.session import ensure_min_parallelism

# Exact-round-trip stress values: negative zero, subnormal, huge,
# repeating binary fractions, and shortest-repr corner cases.
TRICKY = [
    0.0, -0.0, 1.0, -1.0, 0.1, 1.0 / 3.0, math.pi, -math.e,
    5e300, -5e300, 5e-324, 2.2250738585072014e-308,
    123456789.123456789, 1e16 + 1.0, -7.062999999999999,
]


def _bits(x):
    """Bit pattern of a double (distinguishes -0.0, exact subnormals)."""
    return None if x is None else struct.pack("<d", x)


class TestLitVector:
    def test_bit_identical_to_elementwise(self, spark):
        fast = sim._lit_vector(TRICKY)
        slow = F.array(*[F.lit(float(x)).cast("double") for x in TRICKY])
        row = spark.range(1).select(
            fast.alias("a"), slow.alias("b")
        ).first()
        assert [_bits(x) for x in row["a"]] == [_bits(x) for x in row["b"]]
        assert [_bits(x) for x in row["a"]] == [_bits(x) for x in TRICKY]

    def test_nonfinite_fallback(self, spark):
        vec = [1.5, math.inf, -math.inf, math.nan]
        row = spark.range(1).select(sim._lit_vector(vec).alias("a")).first()
        got = row["a"]
        assert got[0] == 1.5 and got[1] == math.inf and got[2] == -math.inf
        assert math.isnan(got[3])

    def test_dot_lit_expr_matches_python_built_fold(self, spark):
        w = TRICKY[:8]
        df = spark.createDataFrame(
            [([1.0, -2.5, 0.1, 1 / 3, 4e10, -0.0, 7.7, 1e-300],)],
            "u array<double>",
        )
        slow = dot(F.col("u"), F.array(*[F.lit(x) for x in w]))
        row = df.select(
            sim._dot_lit_expr("u", w).alias("fast"), slow.alias("slow")
        ).first()
        assert _bits(row["fast"]) == _bits(row["slow"])


    def test_dot_lit_expr_nonfinite_fallback(self, spark):
        assert sim._lit_vector_sql([1.0, math.nan]) is None
        assert sim._lit_vector_sql([1.0, -math.inf]) is None
        df = spark.createDataFrame([([2.0, 0.5],)], "u array<double>")
        row = df.select(
            sim._dot_lit_expr("u", [1.0, math.nan]).alias("n"),
            sim._dot_lit_expr("u", [1.0, math.inf]).alias("i"),
        ).first()
        assert math.isnan(row["n"]) and row["i"] == math.inf


class TestJlProjectExprFold:
    def test_matches_zipwith_lambda_path(self, spark):
        out_dim, in_dim = 4, 6
        df = spark.createDataFrame(
            [(1, [0.5, -1.5, 2.25, 1 / 3, -0.1, 9.0]),
             (2, [0.0, -0.0, 1e150, -1e150, 5e-324, 1.0])],
            "id int, v array<double>",
        )
        got = sim.jl_project(df, "v", out_dim, in_dim).select(
            "id", F.col("projected").alias("v_jl")
        )
        # The pre-r18 element-wise construction, verbatim.
        m = sim.jl_matrix(out_dim, in_dim)
        scale = 1.0 / math.sqrt(out_dim)
        comps = []
        for j in range(out_dim):
            signs = F.array(*[F.lit(s) for s in m[j]])
            prods = F.zip_with(
                F.col("v"), signs, lambda x, s: x.cast("double") * s
            )
            comps.append(
                F.aggregate(prods, F.lit(0.0), lambda a, x: a + x)
                * F.lit(scale)
            )
        ref = df.withColumn("v_jl", F.array(*comps)).select("id", "v_jl")
        g = {r["id"]: r["v_jl"] for r in got.collect()}
        r = {r["id"]: r["v_jl"] for r in ref.collect()}
        assert {
            k: [_bits(x) for x in v] for k, v in g.items()
        } == {k: [_bits(x) for x in v] for k, v in r.items()}


class TestPandasProjectionExactOnIntegerVectors:
    def test_pair_sets_identical(self, spark):
        # Integer-valued doubles (sums of ±1, like hashed text
        # embeddings): every plane dot is a sum of exact small ints in
        # float64, so BLAS accumulation order cannot perturb the sign.
        import random

        rng = random.Random(18)
        dim = 16
        rows = []
        for i in range(40):
            v = [float(rng.randint(-9, 9)) for _ in range(dim)]
            rows.append((i, v))
            rows.append((i + 1000, list(v)))  # exact dup → pairs exist
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        kw = dict(threshold=0.8, dim=dim, n_planes=16, bands=4)
        expr_pairs = sorted(
            map(tuple, sim.cosine_neardup_pairs(df, **kw).collect())
        )
        arrow_pairs = sorted(
            map(
                tuple,
                sim.cosine_neardup_pairs(
                    df, use_pandas_projection=True, **kw
                ).collect(),
            )
        )
        assert expr_pairs == arrow_pairs
        assert len(expr_pairs) >= 40  # the planted dups were found


class TestTopPcDegenerateInputs:
    """Advisor r17: the driver-side power iteration must mirror the old
    in-plan Spark semantics on degenerate corpora instead of raising
    ZeroDivisionError / TypeError at plan-build time."""

    def test_single_row_zero_covariance(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 2.0, 3.0, 4.0])], "vec_id int, embedding array<double>"
        )
        out = sim.embedding_top_pc(df, dim=4).collect()
        # dim rows + Rayleigh (0) + trace (-1); zero covariance → the
        # iteration divides by a zero norm, which is NULL in Spark SQL
        # (non-ANSI Divide) and DuckDB alike.
        assert len(out) == 6
        by_dim = {r["dim"]: r["loading"] for r in out}
        assert by_dim[-1] == 0.0  # trace of the zero matrix
        for d in (1, 2, 3, 4):
            assert by_dim[d] is None

    def test_short_vectors_propagate_null(self, spark):
        # Vectors shorter than dim: element_at → NULL, every covariance
        # cell NULL; must propagate NULL (old in-plan fold), not crash.
        df = spark.createDataFrame(
            [(1, [1.0]), (2, [2.0])], "vec_id int, embedding array<double>"
        )
        out = sim.embedding_top_pc(df, dim=4).collect()
        assert len(out) == 6
        by_dim = {r["dim"]: r["loading"] for r in out}
        for d in (2, 3, 4):
            assert by_dim[d] is None


class TestEnsureMinParallelismLogicalRdd:
    def test_checkpointed_single_partition_is_widened(self, spark):
        df = (
            spark.range(100)
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
        assert df.rdd.getNumPartitions() == 1
        out = ensure_min_parallelism(df, min_parts=4)
        assert out.rdd.getNumPartitions() >= 4
        assert sorted(r["id"] for r in out.collect()) == list(range(100))

    def test_wide_checkpoint_returned_unchanged(self, spark):
        df = spark.range(100).repartition(8).localCheckpoint(eager=True)
        out = ensure_min_parallelism(df, min_parts=4)
        assert out is df
