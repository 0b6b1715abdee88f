"""Distributed linear algebra over the embedding corpus: the
building blocks of PCA/LSA-style pipelines at 100 TB.

`embedding_gram_matrix` is the canonical "X^T X in one pass" shape:
the d x d Gram matrix of an N x d embedding corpus never materializes
N^2 anything — each row contributes its d^2 outer-product cells to a
partial aggregate, so the shuffle carries at most d^2 keys per task
regardless of N.  `embedding_top_pc` then extracts the top principal
direction by FIXED-count power iteration over the COLLECTED
(model-sized) d x d matrix on the driver — the kmeans_fit
fold-locally template — which stays fully oracle-checkable by CTE
unrolling.

Reference parity note: the reference ETL (addresses.js) has no
embedding concept; this module belongs to the mandated
training-data-pipeline extension surface (SURVEY.md §2.11), next to
the ANN and SemDeDup families that consume the same table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_addresses_spark.functions.vector import dot
from etl_addresses_spark.sources.tables import fan_out, load_table

EMB_DIM = 64
PI_ITERS = 8


def _gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unrounded Gram matrix (i, j, g) with 0-based indices.

    Plan shape: ONE narrow pass — the nested transform emits the d^2
    per-row products as a FLAT double array (no per-cell structs:
    the struct variant measured 2.3x slower — 3.0 s vs 1.35 s at
    sf0.1 — pure allocation cost), posexplode pipelines straight
    into the partial HashAggregate inside the same whole-stage-
    codegen span with (i, j) recovered arithmetically from the
    position, and the only shuffle is the final d^2-key exchange.
    (A per-partition array pre-agg via collect_list benched the same
    but buffers rows-per-partition * d^2 doubles — rejected as a
    memory hazard at scale.)  Double sums, not decimal: the matrix
    feeds iterative numerics (see `embedding_top_pc`), the published
    tier rounds to 6 digits, and the decimal path would pay ~40x on
    the d^2-per-row hot loop (stats_correlation's measured ratio) for
    precision five orders below the publication quantum.
    """
    # fan_out: the d^2 expansion is ~4096 multiplies per 64-float row;
    # without it a dense single-split input serializes the whole pass
    # on one core (measured 31x at the 10x scale run, pre-fix)
    emb = fan_out(load_table(spark, sf_dir, "embeddings"), spark)
    flat = F.expr(
        "flatten(transform(embedding, x -> "
        "transform(embedding, y -> cast(x as double) * cast(y as double))))"
    )
    return (
        emb.select(F.posexplode(flat).alias("pos", "p"))
        .select(
            F.expr(f"cast(pos div {EMB_DIM} as bigint)").alias("i"),
            F.expr(f"cast(pos % {EMB_DIM} as bigint)").alias("j"),
            "p",
        )
        .groupBy("i", "j")
        .agg(F.sum("p").alias("g"))
    )


def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X^T X over the embedding corpus: (i, j, gram) for all d^2 index
    pairs, published at 6 decimal digits (double-sum drift between
    engines/partitionings is ~1e-11 absolute here, five orders below
    the quantum — the stats_correlation_double contract)."""
    return _gram(spark, sf_dir).select(
        "i", "j", F.round(F.col("g"), 6).alias("gram")
    )


GRAM_CELLS_DUCK = f"""
SELECT i.i - 1 AS i, j.j - 1 AS j,
  sum(CAST(embedding[i.i] AS DOUBLE) * CAST(embedding[j.j] AS DOUBLE)) AS g
FROM embeddings,
  generate_series(1, {EMB_DIM}) AS i(i),
  generate_series(1, {EMB_DIM}) AS j(j)
GROUP BY 1, 2
"""

EMBEDDING_GRAM_SQL = f"""
WITH g AS ({GRAM_CELLS_DUCK})
SELECT i, j, round(g, 6) AS gram FROM g
"""


def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-direction ESTIMATOR: exactly {PI_ITERS} power
    iterations v <- normalize(G v) on the d x d Gram table, starting
    from the exact-representable uniform vector 1/sqrt(d)
    (d={EMB_DIM} -> 0.125, exact in binary).  Output: (i, loading)
    at 6 digits.

    Semantics, stated precisely: the value is the FIXED-BUDGET
    iterate, not "the converged eigenvector" — convergence count is
    a data property ((lambda2/lambda1)^k).  On a real embedding
    corpus the spectrum is anisotropic and ~{PI_ITERS}-20 steps
    converge; THIS synthetic corpus is near-isotropic
    (lambda2/lambda1 = 0.98, measured — ~400 steps to 1e-3), so the
    test contract is the algorithm itself: the Spark iterate matches
    a dense NumPy replica of the same 8 steps elementwise, the
    Rayleigh quotient is non-decreasing, and the iteration machinery
    is count-agnostic (PI_ITERS is the only knob).

    The distributed part is the ONE corpus pass in `_gram`; the d x d
    Gram result (d^2 = {EMB_DIM ** 2} cells) is MODEL-SIZED, so the
    iteration runs on the driver over the collected matrix — the
    kmeans_fit / embedding_pc_scores precedent (collect the
    model-sized aggregate, fold it locally, ship the d-number result
    back as a literal frame).  Until r14 the 8 rounds ran as
    DataFrame ops (join + groupBy-sum + scalar-norm crossJoin, one
    eager localCheckpoint per round): 8 extra Spark jobs + block
    writes on a 64-row iterate, ~1 s of pure scheduling floor at any
    corpus size — and an r6 experiment showed the lazy single-plan
    alternative was WORSE (Catalyst planning blew up to 16.9 s vs
    3.5 s on the nested scalar-aggregate tree), so driver-side folding
    is the only shape that removes both costs.  The driver mat-vec
    sums in FIXED ascending-j order (run-to-run deterministic, which
    the partition-order-dependent groupBy sum never was); engine
    drift vs the oracle's own sum order stays ~1e-12, five orders
    below the 6-digit publication quantum — the same contract as
    before.  Fixed iteration count -> unrolled-CTE oracle
    (`top_pc_oracle_sql`), the pagerank/kmeans technique."""
    cells = _gram(spark, sf_dir).collect()  # d^2 rows, model-sized
    g: dict[tuple[int, int], float] = {(r["i"], r["j"]): r["g"] for r in cells}
    dims = sorted({j for (_, j) in g})
    v = {j: 1.0 / EMB_DIM ** 0.5 for j in dims}
    for _ in range(PI_ITERS):
        w = {
            i: sum(g[(i, j)] * v[j] for j in dims)  # ascending-j fold
            for i in dims
        }
        nrm = sum(w[i] * w[i] for i in dims) ** 0.5
        v = {i: w[i] / nrm for i in dims}
    return spark.createDataFrame(
        [(i, _round6(v[i])) for i in dims], "i bigint, loading double"
    )


def _round6(x: float) -> float:
    """Spark's round(col, 6) on DOUBLE: HALF_UP on the shortest
    round-trip decimal repr (java BigDecimal.valueOf + setScale) —
    replicated exactly so the literal frame carries the same bits the
    old in-plan F.round produced.

    JVM-version assumption (r14 advice): Python repr() matches Java
    Double.toString only where Double.toString emits the SHORTEST
    round-trip decimal, which the JDK guarantees from JDK 19
    (JDK-4511638).  Spark 4 runs on Java 17+/21 and this repo's
    runtime is Java 21, satisfying it; a Java 17 deployment could
    void the bit-for-bit parity claim (test_round6 pins only the
    current JVM)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def top_pc_oracle_sql(iters: int = PI_ITERS, dim: int = EMB_DIM) -> str:
    """DuckDB replica of `embedding_top_pc`: the power-iteration loop
    unrolled into chained MATERIALIZED CTEs (v0..v{iters}), mat-vec
    as join + group-sum, per-step norm as a scalar subquery — same
    association as the Spark expressions."""
    inv = 1.0 / dim ** 0.5
    sql = f"""
WITH g AS MATERIALIZED ({GRAM_CELLS_DUCK}),
v0 AS MATERIALIZED (
  SELECT DISTINCT j AS vj, {inv!r} AS val FROM g
)"""
    for k in range(1, iters + 1):
        sql += f""",
w{k} AS MATERIALIZED (
  SELECT g.i, sum(g.g * v.val) AS w
  FROM g JOIN v{k - 1} v ON g.j = v.vj GROUP BY g.i
),
v{k} AS MATERIALIZED (
  SELECT i AS vj, w / (SELECT sqrt(sum(w * w)) FROM w{k}) AS val FROM w{k}
)"""
    sql += f"""
SELECT vj AS i, round(val, 6) AS loading FROM v{iters}
"""
    return sql


def embedding_pc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-apply at scale: score every corpus vector against the
    PUBLISHED top-PC direction (the 6-digit loadings from
    `embedding_top_pc` — both engines consume identical weights, so
    the only engine delta is dot-product sum order, ~1e-15).

    This is the canonical inference shape for 100 TB: the learned
    model is d numbers — collect it (the kmeans k-row precedent),
    inline it as an array LITERAL, and the scoring pass is
    one vector.dot fold inside one projection: ZERO shuffles, zero
    joins, the corpus is read once and never moves.  (The join
    formulation — posexplode + broadcast join + re-group — would pay
    a d-fold row expansion and a groupBy shuffle for nothing.)"""
    loadings = {
        r["i"]: r["loading"] for r in embedding_top_pc(spark, sf_dir).collect()
    }
    w = F.array(*[F.lit(loadings[i]) for i in range(EMB_DIM)])
    score = dot(F.col("embedding").cast("array<double>"), w)
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.round(score, 6).alias("pc_score"))
    )


def pc_scores_oracle_sql(iters: int = PI_ITERS, dim: int = EMB_DIM) -> str:
    """DuckDB replica: the same unrolled power-iteration CTEs feed a
    per-vector dot product over the SAME 6-digit-rounded loadings."""
    inner = top_pc_oracle_sql(iters, dim).rstrip()
    # reuse the full unrolled query as a CTE-producing subquery
    return f"""
WITH pc AS MATERIALIZED ({inner})
SELECT e.vec_id,
  round(sum(CAST(e.embedding[g.i] AS DOUBLE) * pc.loading), 6) AS pc_score
FROM embeddings e,
  generate_series(1, {dim}) AS g(i)
  JOIN pc ON pc.i = g.i - 1
GROUP BY e.vec_id
"""


QUERIES_LINALG = {
    "embedding_gram_matrix": (embedding_gram_matrix, EMBEDDING_GRAM_SQL),
    "embedding_top_pc": (embedding_top_pc, top_pc_oracle_sql()),
    "embedding_pc_scores": (embedding_pc_scores, pc_scores_oracle_sql()),
}
