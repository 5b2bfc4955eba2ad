"""Iterative ML operators over the embedding corpus.

Training-data pipelines cluster and project embeddings constantly —
corpus topic balancing (cluster-then-sample), dedup-aware curriculum
mixes, and drift dashboards all start from k-means and PCA. Both are
ITERATIVE; since round 3 every cross-iteration aggregate runs in
exact scaled-long arithmetic (``EMB_SCALE``), so the model state is
bit-identical across engines and partitionings and the fixed
iteration counts UNROLL into generated DuckDB oracle SQL — k-means,
the SemDeDup pairs and the logistic probe are value-hash-checked;
correctness is additionally pinned by pytest recomputation against
numpy on the same data (tests/test_ops.py).

Execution shape — the same one MLlib's ``KMeans``/``RowMatrix`` use
(``treeAggregate``): work inside each partition, reduce only the small
result. Every iteration of the three parameter-server loops
(``kmeans_lloyd``, ``pca_power_topcomp``, ``logreg_probe``) is ONE
Spark job through one kernel, :func:`_partial_sums`:

* the corpus NEVER shuffles: one ``mapInArrow`` pass over the
  persisted ``emb`` frame runs the iteration's numpy step per Arrow
  batch (one (batch × dim) @ (dim × k) GEMM, zero corpus movement)
  and folds it, inside the partition, to one row per key — ``(key,
  n, s array<bigint>)``, the exact scaled-long sums of that
  partition's terms;
* no exchange and no per-dimension aggregate plan: the driver
  collects O(partitions × keys × (dim + 2)) longs per iteration —
  the model state a parameter server would hold, independent of
  corpus size — folds them in exact integer arithmetic and ships the
  updated state in the next iteration's closure.

At 100 TB with 1000 executors this iterates at scan speed; the driver
traffic per iteration is kilobytes. ``.persist()`` on the parsed
corpus amortizes the parquet decode across iterations; the cache is
released before returning.

Reference parity note: the reference engine (duckdb_gsheets) has no ML
surface; this module is part of the beyond-reference training-data
layer (SURVEY.md §2.3) alongside dedup/similarity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from duckdb_gsheets_spark.functions.vectors import dot_np, norm_np, to_double
from duckdb_gsheets_spark.operators.determinism import round_half_away
from duckdb_gsheets_spark.operators.registry import QueryDef
from duckdb_gsheets_spark.plans.catalog import fan_out, load_table

#: Embedding dimensionality of the test corpus (embeddings.parquet).
DIM = 64

#: Spherical k-means parameters: cluster count, Lloyd iterations, and
#: the deterministic strided-id init (every 29th vec_id, first K).
KMEANS_K = 8
KMEANS_ITERS = 3
KMEANS_INIT_STRIDE = 29

#: Power-iteration count for the top principal component. The test
#: corpus has a nearly degenerate top spectral band (λ₁/λ₂ ≈ 1.07), so
#: convergence to ONE eigenvector is slow by nature; 8 iterations put
#: the Rayleigh quotient ≥ 0.9·λ₁, which is the useful contract (a
#: high-variance direction), at 8 corpus passes.
PCA_ITERS = 8


def _init_centroids(sf_dir: str, spark: SparkSession | None = None) -> np.ndarray:
    """The K strided init vectors — the model seed a production job
    would load as an artifact. Delegates to the shared quantizer-input
    collector (similarity._collect_quantizer_inputs: arithmetic
    candidate grid + pushdown IN filter, never a full id-column scan,
    distributed strided fallback for sparse id spaces) and discards
    its query batch."""
    from duckdb_gsheets_spark.operators.similarity import (
        _collect_quantizer_inputs,
        _driver_vec_rows,
    )

    if spark is not None:
        rows, _ = _collect_quantizer_inputs(
            spark, sf_dir, KMEANS_INIT_STRIDE, KMEANS_K
        )
        return np.array([[float(x) for x in r.emb] for r in rows])
    # Session-less callers (pure driver-side seed read): bounded grid
    # probe only — same semantics when the grid covers the id space.
    grid = [KMEANS_INIT_STRIDE * i for i in range(KMEANS_K * 8)]
    rows = sorted(
        (r.vec_id, r.emb) for r in _driver_vec_rows(sf_dir, grid)
    )[:KMEANS_K]
    return np.array([[float(x) for x in e] for _, e in rows])


def _assign_np(centroids: np.ndarray):
    """``(batch × dim) matrix → (cluster, sim)``: argmax cosine against
    the centroid matrix, one GEMM per Arrow batch. Ties resolve to the
    lowest cluster index; sims round to 6 decimals before the argmax
    so float noise can't flip assignments between runs (same contract
    as vectors.centroid_assign_np)."""
    unit = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    def assign(M: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        norms = np.sqrt(np.einsum("ij,ij->i", M, M))
        sims = np.round((M @ unit.T) / norms[:, None], 6)
        return sims.argmax(axis=1).astype("int64"), sims.max(axis=1)

    return assign


def _assign_sim_np(centroids: np.ndarray):
    """pandas_udf: embedding → struct(cluster, sim) — :func:`_assign_np`
    as a column expression, for the lazy cluster-blocked plans."""
    assign_np = _assign_np(centroids)

    @pandas_udf(
        StructType(
            [
                StructField("cluster", LongType()),
                StructField("sim", DoubleType()),
            ]
        )
    )
    def assign(emb: pd.Series) -> pd.DataFrame:
        if len(emb) == 0:
            return pd.DataFrame({"cluster": [], "sim": []})
        cluster, sim = assign_np(np.stack(emb.to_numpy()))
        return pd.DataFrame({"cluster": cluster, "sim": sim})

    return assign


#: Fixed-point scale for cross-engine-exact aggregate state (centroid
#: sums, gradients, projections). A float32 embedding value times 1e6
#: is an EXACT float64 product (24-bit mantissa × 20 bits < 53), so
#: the rounded long is identical in Spark, numpy and DuckDB, and the
#: integer sum is partition-order-independent — the iterative model
#: state never accumulates float drift. Long bound: |Σ x·1e6| < 2^63
#: ⇒ ~9.2e12 in column units per group — comfortable through sf100;
#: beyond that widen to DECIMAL (determinism.dsum_decimal shape).
#: Past the bound every sum here RAISES, as ANSI ``sum(bigint)`` does.
EMB_SCALE = 1_000_000

_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def _dim_scaled_sums() -> list:
    """Exact scaled-long per-dimension sums over the ``emb`` column:
    Σ round(x·1e6) as long — the column-expression form of
    :func:`_scaled_long`, for the lazy single-plan queries (same
    contract as determinism.dsum)."""
    return [
        F.sum(
            F.round(F.element_at(F.col("emb"), d + 1) * EMB_SCALE).cast("long")
        ).alias(f"s{d}")
        for d in range(DIM)
    ]


def _scaled_long(x: np.ndarray) -> np.ndarray:
    """``cast(round(x * EMB_SCALE) as bigint)`` as Spark evaluates it
    on doubles: one double product, HALF_UP (ties away from zero) on
    the exact value — ``y − trunc(y)`` is exact, so there is no
    ``+0.5`` carry to round wrongly — then an overflow-checked cast
    that raises (NaN too), as ANSI does."""
    y = x * float(EMB_SCALE)
    t = np.trunc(y)
    r = t + np.where(np.abs(y - t) >= 0.5, np.sign(y), 0.0)
    if not np.all((r >= -(2.0**63)) & (r < 2.0**63)):
        raise ArithmeticError("scaled term overflows bigint")
    return r.astype(np.int64)


def _exact_colsum(terms: np.ndarray) -> list[int]:
    """Column sums of an int64 matrix as exact Python ints: numpy's
    int64 sum when no running sum can leave the long range, Python
    ints otherwise (numpy would wrap silently)."""
    bound = float(np.abs(terms.astype(np.float64)).max(initial=0.0))
    if bound * len(terms) < 2.0**62:
        return [int(v) for v in terms.sum(axis=0)]
    return [sum(map(int, col)) for col in terms.T]


def _fold(acc: dict, key: int, n: int, sums) -> None:
    """Add one ``(n, sums)`` partial into ``acc[key]``, in Python ints."""
    n0, s0 = acc.get(key, (0, [0] * len(sums)))
    acc[key] = (n0 + n, [a + b for a, b in zip(s0, sums)])


def _check_long(acc: dict) -> None:
    for _, sums in acc.values():
        if not all(_LONG_MIN <= v <= _LONG_MAX for v in sums):
            raise ArithmeticError("scaled sum overflows bigint")


def _emb_matrix(batch: pa.RecordBatch) -> np.ndarray:
    """The batch's ``emb`` list column as a (rows × dim) float64
    matrix — one zero-copy view of the flattened values."""
    col = batch.column("emb")
    return col.flatten().to_numpy().reshape(len(col), -1)


def _partial_sums(frame: DataFrame, step) -> dict[int, tuple[int, list[int]]]:
    """THE per-iteration action of the parameter-server loops: one
    ``mapInArrow`` job, no exchange.

    ``step(batch) -> (keys, terms)`` is the iteration's numpy step on
    one Arrow batch: an int64 key per row and a (rows × w) float64
    term matrix. Each partition folds its batches to one row per key
    — ``(key, n, s)`` with ``s[j] = Σ _scaled_long(terms[:, j])`` —
    and the driver folds those partial rows in Python ints. Returns
    ``{key: (n, s)}`` for every key with members; empty partitions
    emit nothing. Every sum is exact and partition-order-independent
    (bit-equal to Spark's ``sum(cast(round(t * 1e6) as bigint))``),
    and any term, partition sum or total outside the long range
    raises ArithmeticError, as ANSI ``sum(bigint)`` does."""

    def partials(batches):
        acc: dict = {}
        for batch in batches:
            if batch.num_rows == 0:
                continue
            keys, terms = step(batch)
            scaled = _scaled_long(terms)
            for k in np.unique(keys).tolist():
                rows = keys == k
                _fold(acc, k, int(rows.sum()), _exact_colsum(scaled[rows]))
        _check_long(acc)
        if acc:
            yield pa.RecordBatch.from_pydict(
                {
                    "key": list(acc),
                    "n": [n for n, _ in acc.values()],
                    "s": [s for _, s in acc.values()],
                }
            )

    out: dict = {}
    for r in frame.mapInArrow(partials, "key long, n long, s array<long>").collect():
        _fold(out, r.key, r.n, r.s)
    _check_long(out)
    return out


def _lloyd_update(emb: DataFrame, centroids: np.ndarray) -> np.ndarray:
    """One Lloyd iteration over a persisted ``(emb)`` frame: assign,
    sum each cluster's members in one :func:`_partial_sums` job, and
    move every non-empty cluster to its mean. An empty cluster keeps
    its old centroid (the oracle's COALESCE carry-through)."""
    assign = _assign_np(centroids)

    def step(batch):
        M = _emb_matrix(batch)
        return assign(M)[0], M

    new = centroids.copy()
    for k, (n, s) in _partial_sums(emb, step).items():
        # Exact longs / (n·scale): the new centroid is two
        # correctly-rounded ops away from integers — bit-equal to the
        # oracle's CAST(s AS DOUBLE)/(n*1e6).
        new[k] = np.array(s, dtype=np.float64) / (n * float(EMB_SCALE))
    return new


def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means (cosine Lloyd) over the embedding corpus:
    ``KMEANS_ITERS`` iterations from a deterministic strided-id seed,
    returning one row per cluster (size, mean member cosine to the
    final centroid, centroid norm).

    Per iteration ONE job (:func:`_lloyd_update`): a partition-local
    GEMM assignment folded to K partial ``(cluster, n, Σ x·1e6)`` rows
    per partition, collected and summed on the driver into the next
    closure's K × 64 centroids. The final stats pass is one more
    :func:`_partial_sums` job. The returned 8-row frame is
    driver-materialized, exactly like a fitted model's summary.

    Oracle-checked since round 3: the centroid state is EXACT
    (scaled-long sums, two correctly-rounded float ops per
    coordinate), so the fixed iteration count unrolls into generated
    DuckDB SQL (one assignment + one update CTE pair per iteration)
    that replays the model bit-identically; assignment sims compare
    after a round-6, the same drift bar as the IVF/LSH oracles. Also
    pinned by numpy recomputation in pytest.
    """
    centroids = _init_centroids(sf_dir, spark)
    # No fan_out: parameter-server loops pay per-TASK Python worker
    # overhead EVERY iteration, so widening a tiny frame to core-count
    # partitions multiplies the per-iteration wall. The scan's own
    # partitioning is the scale-adaptive width — at 100 TB the file
    # splits already exceed core count. Exact-long partial sums are
    # partition-count invariant, so results are unchanged.
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(to_double(F.col("embedding")).alias("emb"))
        .persist()
    )
    try:
        for _ in range(KMEANS_ITERS):
            centroids = _lloyd_update(emb, centroids)
        assign = _assign_np(centroids)

        def stats_step(batch):
            cluster, sim = assign(_emb_matrix(batch))
            # Exact integer sum of the 6-decimal-rounded sims.
            return cluster, sim[:, None]

        stats = _partial_sums(emb, stats_step)
    finally:
        emb.unpersist()
    out = [
        (
            k,
            n,
            round_half_away(s[0] / 1e6 / n, 6),
            round_half_away(float(np.linalg.norm(centroids[k])), 6),
        )
        for k, (n, s) in sorted(stats.items())
    ]
    return spark.createDataFrame(
        out,
        "cluster_id long, size long, avg_cos_sim double, centroid_norm double",
    )


def pca_power_topcomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration on the (never materialized) covariance matrix:
    ``v ← normalize(Σᵢ (xᵢ−m)((xᵢ−m)·v))``.

    One :func:`_partial_sums` job for the exact mean, then one per
    iteration: each partition projects ``s = (x−m)·v`` (closure-shipped
    m, v) and folds the 64 sums ``Σ s·(x_d−m_d)`` — the matrix-free
    C·v product — to one partial row. Driver state is two 64-vectors.

    Output: 64 rows (dim, loading, eigenvalue), sign-fixed so the
    largest-magnitude loading is positive. Oracle-checked since
    round 3: mean and iteration sums are exact scaled longs, so the
    power-iteration trajectory unrolls into generated DuckDB SQL
    (per-iteration norm divisions carry ≤1e-15 cross-engine drift,
    absorbed by the scaled-long/round-6 boundaries — the ANN-oracle
    bar). Also pinned by an identical-recipe numpy recomputation in
    pytest.
    """
    # No fan_out — the kmeans_lloyd per-iteration-overhead note.
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(to_double(F.col("embedding")).alias("emb"))
        .persist()
    )
    try:
        def mean_step(batch):
            M = _emb_matrix(batch)
            return np.zeros(len(M), dtype=np.int64), M

        n, s = _partial_sums(emb, mean_step)[0]
        # Exact scaled-long mean — bit-equal to the oracle's replay.
        m = np.array(s, dtype=np.float64) / (n * float(EMB_SCALE))
        v = np.ones(DIM) / np.sqrt(DIM)
        for _ in range(PCA_ITERS):
            def proj_step(batch, v=v):
                C = _emb_matrix(batch) - m
                # (s·(x_d − m_d))·1e6: the oracle's operation order.
                return np.zeros(len(C), dtype=np.int64), (C @ v)[:, None] * C

            _, zs = _partial_sums(emb, proj_step)[0]
            z = np.array(zs, dtype=np.float64) / float(EMB_SCALE)
            eigenvalue = float(np.linalg.norm(z)) / n
            v = z / np.linalg.norm(z)
    finally:
        emb.unpersist()
    if v[np.abs(v).argmax()] < 0:
        v = -v
    return spark.createDataFrame(
        [(d, round_half_away(float(v[d]), 6), round_half_away(eigenvalue, 6)) for d in range(DIM)],
        "dim long, loading double, eigenvalue double",
    )


#: Cosine threshold for semantic near-dup pairs — same bar as the
#: LSH-blocked embedding near-dup query (similarity.py) so the two
#: blocking strategies are comparable.
SEMDEDUP_THRESHOLD = 0.95


def semantic_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.
    2023, arXiv:2303.09540 — public): coarse-cluster the corpus with
    the deterministic quantizer, then compare pairs ONLY within a
    cluster; pairs at cosine ≥ ``SEMDEDUP_THRESHOLD`` are semantic
    duplicates.

    Third blocking strategy alongside LSH buckets
    (similarity.embedding_neardup_pairs) and IVF lists: cluster
    blocking trades recall at cluster boundaries for a candidate set
    bounded by Σ_c |c|² — at 100 TB you raise K so clusters stay
    ~10³-10⁴ docs (SemDeDup used K=11k on LAION), keeping each
    within-cluster join node-local after one shuffle on cluster id.
    The assignment itself is the usual narrow GEMM (no corpus
    shuffle before the cluster-keyed join).

    Oracle: the seed-centroid assignment is deterministic (strided-id
    quantizer, round-6 sims, lowest-index ties — the same recipe the
    hash-checked IVF oracle replays), so DuckDB recomputes the
    clustering AND the within-cluster cosine join from the table with
    no literals; pytest additionally pins precision (every emitted
    pair is in the exact O(n²) pair set) and recall within clusters.
    """
    centroids = _init_centroids(sf_dir, spark)
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", to_double(F.col("embedding")).alias("emb")
    )
    return semantic_neardup_pairs_frame(emb, centroids)


def semantic_neardup_pairs_frame(
    emb: DataFrame, centroids: np.ndarray
) -> DataFrame:
    """Cluster-blocked near-dup pair core over any ``(vec_id, emb)``
    frame + centroid seed — shared by the registered corpus query and
    the seeded-synthetic pytest (the real fixture corpus has no pair
    at the 0.95 bar, so a synthetic frame with pairs straddling the
    threshold keeps the precision/recall assertions non-vacuous)."""
    assigned = emb.withColumn(
        "a", _assign_sim_np(centroids)("emb")
    ).select("vec_id", "emb", F.col("a.cluster").alias("cluster"))
    a = assigned.select(
        "cluster",
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"),
    )
    b = assigned.select(
        "cluster",
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"),
    )
    cos = F.round(
        dot_np(F.col("emb_a"), F.col("emb_b"))
        / (norm_np(F.col("emb_a")) * norm_np(F.col("emb_b"))),
        6,
    )
    return (
        a.join(b, "cluster")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("cluster", "vec_a", "vec_b", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= SEMDEDUP_THRESHOLD)
    )


#: Logistic-probe hyperparameters: full-batch gradient-descent
#: iterations and learning rate. The probe target is label parity
#: (y = label mod 2) — a linear probe of how much label structure the
#: embedding space exposes, the standard representation-quality check.
LOGREG_ITERS = 5
LOGREG_LR = 2.0


def _sigmoid_np(M: np.ndarray, w: np.ndarray, b: float) -> np.ndarray:
    """σ(x·w + b) per row, one GEMV per Arrow batch."""
    return 1.0 / (1.0 + np.exp(-(M @ w + b)))


def logreg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed linear probe: full-batch gradient-descent logistic
    regression predicting label parity from the embedding, returning
    the confusion matrix with mean predicted probability per cell.

    Same parameter-server shape as :func:`kmeans_lloyd`: per
    iteration ONE :func:`_partial_sums` job — each partition computes
    residuals ``r = σ(x·w + b) − y`` with a GEMV (zero corpus
    movement) and folds the 65 sums (Σ rᵢ·xᵢ per dimension + Σ rᵢ for
    the bias) plus its row count to one partial row; the driver
    applies the update and ships the weights in the next closure. The
    confusion matrix is one more job, keyed by cell. At 100 TB each
    iteration is a scan-speed pass; driver traffic is kilobytes.

    Oracle-checked since round 3: gradients accumulate as exact
    scaled longs, so the weight trajectory is bit-identical across
    engines and the fixed iteration count unrolls into generated
    DuckDB SQL (σ recomputed per row — EXP ulp drift is absorbed by
    the round-6/scaled-long boundaries, the same bar as the ANN
    oracles). Also pinned by an exact-shape numpy recompute in
    pytest.
    """
    # No fan_out — the kmeans_lloyd per-iteration-overhead note.
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            (F.col("label") % 2).cast("double").alias("y"),
            to_double(F.col("embedding")).alias("emb"),
        )
        .persist()
    )
    try:
        w = np.zeros(DIM)
        b = 0.0
        for _ in range(LOGREG_ITERS):
            def grad_step(batch, w=w, b=b):
                M = _emb_matrix(batch)
                r = _sigmoid_np(M, w, b) - batch.column("y").to_numpy()
                # (x_d·r)·1e6 per dimension (the oracle's order), then
                # r·1e6 for the bias.
                return (
                    np.zeros(len(M), dtype=np.int64),
                    np.hstack([M * r[:, None], r[:, None]]),
                )

            sums = _partial_sums(emb, grad_step)
            if not sums:  # empty corpus: no gradient, no confusion cells
                break
            n, g = sums[0]
            denom = n * float(EMB_SCALE)
            # Exact scaled-long gradient state; ×2 and the single
            # division are correctly rounded, so w/b are bit-equal to
            # the oracle's replay.
            w = w - LOGREG_LR * np.array(g[:DIM], dtype=np.float64) / denom
            b = b - LOGREG_LR * float(g[DIM]) / denom

        def cell_step(batch):
            p = _sigmoid_np(_emb_matrix(batch), w, b)
            y = batch.column("y").to_numpy().astype(np.int64)
            # Cell key 2·y_true + y_pred; exact integer sum of the
            # 6-decimal-rounded probabilities.
            return 2 * y + (p >= 0.5), p[:, None]

        cells = _partial_sums(emb, cell_step)
    finally:
        emb.unpersist()
    out = [
        (*divmod(k, 2), n, round_half_away(s[0] / 1e6 / n, 6))
        for k, (n, s) in sorted(cells.items())
    ]
    return spark.createDataFrame(
        out, "y_true long, y_pred long, n long, avg_prob double"
    )


def _materialize_ctes(sql: str) -> str:
    """Mark every CTE ``MATERIALIZED``: DuckDB's default inlining
    re-evaluates multiply-referenced CTEs, which turns an unrolled
    iteration chain into exponential work — materializing pins each
    iteration to one evaluation (0.1 s vs >500 s for the 8-iteration
    PCA oracle at sf0.01)."""
    return sql.replace(" AS (", " AS MATERIALIZED (")


def _kmeans_oracle() -> str:
    """DuckDB oracle for :func:`kmeans_lloyd`: the strided seed, every
    Lloyd iteration (round-6 argmax assignment → exact scaled-long
    per-dimension sums → centroid = s/(n·1e6)) and the final stats
    pass unroll into one generated CTE chain. Long-form state:
    ``c{t}(k, i, c)`` holds iteration ``t``'s centroids, so each
    iteration is two CTEs regardless of dimensionality. Empty
    clusters COALESCE back to their previous centroid, matching the
    driver loop's ``centroids.copy()`` carry-through."""
    parts = [
        f"""
WITH v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), norms AS (
  SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM v GROUP BY vec_id
), km_seed AS (
  SELECT vec_id AS cid,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS k
  FROM embeddings
  WHERE vec_id % {KMEANS_INIT_STRIDE} = 0
  ORDER BY vec_id LIMIT {KMEANS_K}
), c0 AS (
  SELECT s.k, v.i, v.x AS c FROM km_seed s JOIN v ON v.vec_id = s.cid
)"""
    ]
    # One assignment CTE (a{t}) + one update CTE (c{t+1}) per
    # iteration; the final assignment reuses the same shape.
    def assign_cte(name: str, cfrm: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, k, s FROM (
    SELECT v.vec_id, cu.k, ROUND(SUM(v.x * cu.u) / n.nrm, 6) AS s
    FROM v
    JOIN (SELECT c.k, c.i, c.c / cn.cnrm AS u
          FROM {cfrm} c
          JOIN (SELECT k, SQRT(SUM(c * c)) AS cnrm
                FROM {cfrm} GROUP BY k) cn ON cn.k = c.k) cu
      ON cu.i = v.i
    JOIN norms n ON n.vec_id = v.vec_id
    GROUP BY v.vec_id, cu.k, n.nrm)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, k) = 1
)"""

    for t in range(KMEANS_ITERS):
        parts.append(assign_cte(f"a{t}", f"c{t}"))
        parts.append(
            f"""s{t} AS (
  SELECT a.k, v.i,
         SUM(CAST(ROUND(v.x * {EMB_SCALE}.0) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM a{t} a JOIN v ON v.vec_id = a.vec_id
  GROUP BY a.k, v.i
), c{t + 1} AS (
  SELECT p.k, p.i,
         COALESCE(CAST(st.s AS DOUBLE) / (st.n * {EMB_SCALE}.0), p.c) AS c
  FROM c{t} p LEFT JOIN s{t} st ON st.k = p.k AND st.i = p.i
)"""
        )
    last = f"c{KMEANS_ITERS}"
    parts.append(assign_cte("fa", last))
    parts.append(
        f"""fstats AS (
  SELECT k, COUNT(*) AS size,
         SUM(CAST(ROUND(s * {EMB_SCALE}.0) AS BIGINT)) AS ss
  FROM fa GROUP BY k
), fnorm AS (
  SELECT k, SQRT(SUM(c * c)) AS cn FROM {last} GROUP BY k
)
SELECT st.k AS cluster_id, st.size,
       ROUND(CAST(st.ss AS DOUBLE) / {EMB_SCALE}.0 / st.size, 6)
         AS avg_cos_sim,
       ROUND(fn.cn, 6) AS centroid_norm
FROM fstats st JOIN fnorm fn ON fn.k = st.k"""
    )
    return _materialize_ctes(",\n".join(parts))


def _pca_oracle() -> str:
    """DuckDB oracle for :func:`pca_power_topcomp`: exact scaled-long
    mean, then ``PCA_ITERS`` unrolled power iterations (projection →
    scaled-long z sums → unit-normalize), the final sign fix and the
    round-6 report. ``pv{t}(d, v)`` is the long-form iteration
    state."""
    parts = [
        f"""
WITH v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), cnt AS (
  SELECT COUNT(*) AS n FROM embeddings
), m AS (
  SELECT v.i,
         CAST(SUM(CAST(ROUND(v.x * {EMB_SCALE}.0) AS BIGINT)) AS DOUBLE)
           / (cnt.n * {EMB_SCALE}.0) AS m
  FROM v CROSS JOIN cnt
  GROUP BY v.i, cnt.n
), pv0 AS (
  SELECT unnest(generate_series(1, {DIM})) AS d, 0.125 AS v
)"""
    ]
    for t in range(PCA_ITERS):
        parts.append(
            f"""p{t} AS (
  SELECT v.vec_id, SUM((v.x - m.m) * w.v) AS s
  FROM v JOIN m ON m.i = v.i JOIN pv{t} w ON w.d = v.i
  GROUP BY v.vec_id
), zz{t} AS (
  SELECT v.i AS d,
         SUM(CAST(ROUND(p.s * (v.x - m.m) * {EMB_SCALE}.0) AS BIGINT)) AS sz
  FROM v JOIN m ON m.i = v.i JOIN p{t} p ON p.vec_id = v.vec_id
  GROUP BY v.i
), zn{t} AS (
  SELECT SQRT(SUM(z * z)) AS nz
  FROM (SELECT CAST(sz AS DOUBLE) / {EMB_SCALE}.0 AS z FROM zz{t})
), pv{t + 1} AS (
  SELECT d, (CAST(sz AS DOUBLE) / {EMB_SCALE}.0) / zn.nz AS v
  FROM zz{t} CROSS JOIN zn{t} zn
)"""
        )
    T = PCA_ITERS
    parts.append(
        f"""ev AS (
  SELECT zn.nz / cnt.n AS ev FROM zn{T - 1} zn CROSS JOIN cnt
), sgn AS (
  SELECT CASE WHEN (SELECT v FROM pv{T}
                    ORDER BY ABS(v) DESC, d LIMIT 1) < 0
              THEN -1.0 ELSE 1.0 END AS sg
)
SELECT CAST(p.d - 1 AS BIGINT) AS dim,
       ROUND(p.v * s.sg, 6) AS loading,
       ROUND(e.ev, 6) AS eigenvalue
FROM pv{T} p CROSS JOIN sgn s CROSS JOIN ev e"""
    )
    return _materialize_ctes(",\n".join(parts))


def _logreg_oracle() -> str:
    """DuckDB oracle for :func:`logreg_probe`: w/b start at zero and
    every gradient step replays through exact scaled-long sums; per
    iteration one CTE computes per-row z, one the residuals, two the
    scaled gradient/bias sums, and two the updated parameters.
    Operation order mirrors the numpy driver exactly (×LR first, one
    division, one subtraction)."""
    parts = [
        f"""
WITH v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), ey AS (
  SELECT vec_id, CAST(label % 2 AS DOUBLE) AS y FROM embeddings
), cnt AS (
  SELECT COUNT(*) AS n FROM embeddings
), w0 AS (
  SELECT unnest(generate_series(1, {DIM})) AS d, 0.0 AS w
), b0 AS (
  SELECT 0.0 AS b
)"""
    ]
    for t in range(LOGREG_ITERS):
        parts.append(
            f"""z{t} AS (
  SELECT v.vec_id, SUM(v.x * w.w) AS zz
  FROM v JOIN w{t} w ON w.d = v.i
  GROUP BY v.vec_id
), r{t} AS (
  SELECT z.vec_id,
         (1.0 / (1.0 + EXP(-(z.zz + b.b)))) - ey.y AS r
  FROM z{t} z
  CROSS JOIN b{t} b
  JOIN ey ON ey.vec_id = z.vec_id
), g{t} AS (
  SELECT v.i AS d,
         SUM(CAST(ROUND(v.x * r.r * {EMB_SCALE}.0) AS BIGINT)) AS g
  FROM v JOIN r{t} r ON r.vec_id = v.vec_id
  GROUP BY v.i
), gb{t} AS (
  SELECT SUM(CAST(ROUND(r * {EMB_SCALE}.0) AS BIGINT)) AS g FROM r{t}
), w{t + 1} AS (
  SELECT w.d,
         w.w - ({LOGREG_LR} * CAST(g.g AS DOUBLE))
               / (cnt.n * {EMB_SCALE}.0) AS w
  FROM w{t} w JOIN g{t} g ON g.d = w.d CROSS JOIN cnt
), b{t + 1} AS (
  SELECT b.b - ({LOGREG_LR} * CAST(gb.g AS DOUBLE))
               / (cnt.n * {EMB_SCALE}.0) AS b
  FROM b{t} b CROSS JOIN gb{t} gb CROSS JOIN cnt
)"""
        )
    T = LOGREG_ITERS
    parts.append(
        f"""zf AS (
  SELECT v.vec_id, SUM(v.x * w.w) AS zz
  FROM v JOIN w{T} w ON w.d = v.i
  GROUP BY v.vec_id
), pf AS (
  SELECT z.vec_id, ey.y,
         1.0 / (1.0 + EXP(-(z.zz + b.b))) AS p
  FROM zf z
  CROSS JOIN b{T} b
  JOIN ey ON ey.vec_id = z.vec_id
)
SELECT CAST(y AS BIGINT) AS y_true,
       CAST(p >= 0.5 AS BIGINT) AS y_pred,
       COUNT(*) AS n,
       ROUND(CAST(SUM(CAST(ROUND(p * {EMB_SCALE}.0) AS BIGINT)) AS DOUBLE)
             / {EMB_SCALE}.0 / COUNT(*), 6) AS avg_prob
FROM pf
GROUP BY 1, 2"""
    )
    return _materialize_ctes(",\n".join(parts))


def _semdedup_oracle() -> str:
    """DuckDB oracle for :func:`semantic_neardup_pairs`: replay the
    strided seed-centroid selection (multiples of
    ``KMEANS_INIT_STRIDE``, first K by vec_id — the same grid
    ``_init_centroids`` probes), unit-normalize, assign every vector
    to its round-6 argmax centroid (ties to the lowest cluster
    index), then score within-cluster pairs exactly.

    Cross-engine float note: numpy GEMM vs SQL SUM accumulate in
    different orders; every comparison happens AFTER a round-6 — the
    same drift argument that underwrites the hash-checked IVF/LSH
    oracles (similarity.py)."""
    return _materialize_ctes(f"""
WITH v AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
), norms AS (
  SELECT vec_id, SQRT(SUM(x * x)) AS nrm FROM v GROUP BY vec_id
), sem_cids AS (
  SELECT vec_id AS cid,
         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster
  FROM embeddings
  WHERE vec_id % {KMEANS_INIT_STRIDE} = 0
  ORDER BY vec_id LIMIT {KMEANS_K}
), sem_cnorm AS (
  SELECT c.cluster, SQRT(SUM(v.x * v.x)) AS cnrm
  FROM sem_cids c JOIN v ON v.vec_id = c.cid
  GROUP BY c.cluster
), sem_cu AS (
  SELECT c.cluster, v.i, v.x / n.cnrm AS u
  FROM sem_cids c
  JOIN v ON v.vec_id = c.cid
  JOIN sem_cnorm n ON n.cluster = c.cluster
), sem_sims AS (
  SELECT v.vec_id, cu.cluster, ROUND(SUM(v.x * cu.u) / n.nrm, 6) AS s
  FROM v JOIN sem_cu cu ON cu.i = v.i
  JOIN norms n ON n.vec_id = v.vec_id
  GROUP BY v.vec_id, cu.cluster, n.nrm
), sem_assign AS (
  SELECT vec_id, cluster FROM sem_sims
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY s DESC, cluster) = 1
), sem_pairs AS (
  SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sem_assign a
  JOIN sem_assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)
SELECT p.cluster, p.vec_a, p.vec_b,
       ROUND(SUM(qa.x * qb.x) / (na.nrm * nb.nrm), 6) AS cos_sim
FROM sem_pairs p
JOIN v qa ON qa.vec_id = p.vec_a
JOIN v qb ON qb.vec_id = p.vec_b AND qb.i = qa.i
JOIN norms na ON na.vec_id = p.vec_a
JOIN norms nb ON nb.vec_id = p.vec_b
GROUP BY p.cluster, p.vec_a, p.vec_b, na.nrm, nb.nrm
HAVING ROUND(SUM(qa.x * qb.x) / (na.nrm * nb.nrm), 6)
       >= {SEMDEDUP_THRESHOLD}
""")


def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space DRIFT matrix: the exact per-label centroid of
    the embedding corpus and the cosine similarity between every
    label pair — the dashboard behind "are these two slices converging
    / did the new crawl shift a topic's center of mass". Low
    inter-centroid cosine means well-separated slices; a pair drifting
    toward 1.0 is a merge candidate (or a labeling bug).

    Determinism: centroid sums accumulate as exact scaled longs
    (``EMB_SCALE`` — partition-order-independent). Cosine is
    SCALE-INVARIANT, so it is computed directly on the integer sum
    vectors (each exactly representable as a double at any count the
    long bound admits) — no per-component division or intermediate
    rounding for engines to disagree on; the unrolled left-to-right
    64-term dot/norm sums are generated from the same Python loop on
    both engines (bit-identical IEEE evaluation), rounded to 6 once.

    Shapes: the corpus never shuffles — the per-label aggregate
    map-side-combines to |labels| × dim longs; the pairwise step is a
    self-join of the |labels|-row centroid table (bounded by
    construction — allowlisted as a bounded broadcast in the
    unbounded-join sweep). At 100 TB this is one scan.
    """
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "label", to_double(F.col("embedding")).alias("emb")
    )
    cent = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), *_dim_scaled_sums()
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        F.col("n").alias("n_a"),
        *[F.col(f"s{d}").cast("double").alias(f"a{d}") for d in range(DIM)],
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("n").alias("n_b"),
        *[F.col(f"s{d}").cast("double").alias(f"b{d}") for d in range(DIM)],
    )
    dot = " + ".join(f"(a{d} * b{d})" for d in range(DIM))
    na = " + ".join(f"(a{d} * a{d})" for d in range(DIM))
    nb = " + ".join(f"(b{d} * b{d})" for d in range(DIM))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.expr(
                f"ROUND(({dot}) / (SQRT({na}) * SQRT({nb})), 6)"
            ).alias("cos_sim"),
        )
    )


def _centroid_similarity_oracle() -> str:
    # NB: the element must be cast to DOUBLE BEFORE scaling — DuckDB
    # evaluates FLOAT * INTEGER in float32, which rounds differently
    # than Spark's double arithmetic (same contract as the k-means
    # oracle's CAST(unnest(embedding) AS DOUBLE)).
    sums = ",\n    ".join(
        f"CAST(SUM(CAST(ROUND(CAST(embedding[{d + 1}] AS DOUBLE)"
        f" * {EMB_SCALE}) AS BIGINT)) AS DOUBLE) AS s{d}"
        for d in range(DIM)
    )
    dot = " + ".join(f"(a.s{d} * b.s{d})" for d in range(DIM))
    na = " + ".join(f"(a.s{d} * a.s{d})" for d in range(DIM))
    nb = " + ".join(f"(b.s{d} * b.s{d})" for d in range(DIM))
    return f"""
WITH cs_sums AS (
  SELECT label, COUNT(*) AS n,
    {sums}
  FROM embeddings GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
       a.n AS n_a, b.n AS n_b,
       ROUND(({dot}) / (SQRT({na}) * SQRT({nb})), 6) AS cos_sim
FROM cs_sums a JOIN cs_sums b ON a.label < b.label
"""


#: Outliers reported per label by the centroid-distance audit.
OUTLIER_TOPK = 5


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit: per label, the ``OUTLIER_TOPK`` vectors
    FARTHEST from their label's centroid (lowest cosine) — the
    mislabeled/noisy-embedding candidates a curation pass reviews
    first. Complements :func:`label_centroid_similarity` (which
    compares labels to each other; this compares members to their own
    label).

    Determinism: the centroid is the exact scaled-long sum vector
    (cosine is scale-invariant, so no normalization step exists to
    diverge); the per-row cosine is an unrolled left-to-right 64-term
    expression generated identically for both engines, rounded to 6
    BEFORE ranking so the rank order (cos asc, vec_id) is defined on
    engine-identical values.

    Shapes: one map-side-combined label aggregate, centroids
    BROADCAST back onto the scan (the corpus never shuffles with its
    embedding payload — the ranking window's input is projected to
    (label, vec_id, cos) first), one label-keyed window for the
    per-label top-K.
    """
    emb = fan_out(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", to_double(F.col("embedding")).alias("emb")
    )
    cent = emb.groupBy("label").agg(*_dim_scaled_sums())
    dot = " + ".join(
        f"(emb[{d}] * CAST(s{d} AS DOUBLE))" for d in range(DIM)
    )
    nv = " + ".join(f"(emb[{d}] * emb[{d}])" for d in range(DIM))
    ns = " + ".join(
        f"(CAST(s{d} AS DOUBLE) * CAST(s{d} AS DOUBLE))" for d in range(DIM)
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        F.expr(
            f"ROUND(({dot}) / (SQRT({nv}) * SQRT({ns})), 6)"
        ).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy("cos_centroid", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= OUTLIER_TOPK)
        .select("label", "rank", "vec_id", "cos_centroid")
    )


def _embedding_outliers_oracle() -> str:
    sums = ",\n    ".join(
        f"SUM(CAST(ROUND(CAST(embedding[{d + 1}] AS DOUBLE)"
        f" * {EMB_SCALE}) AS BIGINT)) AS s{d}"
        for d in range(DIM)
    )
    dot = " + ".join(
        f"(CAST(e.embedding[{d + 1}] AS DOUBLE) * CAST(c.s{d} AS DOUBLE))"
        for d in range(DIM)
    )
    nv = " + ".join(
        f"(CAST(e.embedding[{d + 1}] AS DOUBLE)"
        f" * CAST(e.embedding[{d + 1}] AS DOUBLE))"
        for d in range(DIM)
    )
    ns = " + ".join(
        f"(CAST(c.s{d} AS DOUBLE) * CAST(c.s{d} AS DOUBLE))"
        for d in range(DIM)
    )
    return f"""
WITH eo_sums AS (
  SELECT label,
    {sums}
  FROM embeddings GROUP BY label
), eo_scored AS (
  SELECT e.label, e.vec_id,
         ROUND(({dot}) / (SQRT({nv}) * SQRT({ns})), 6) AS cos_centroid
  FROM embeddings e JOIN eo_sums c ON e.label = c.label
), eo_ranked AS (
  SELECT label, vec_id, cos_centroid,
         CAST(ROW_NUMBER() OVER (PARTITION BY label
              ORDER BY cos_centroid, vec_id) AS INTEGER) AS rank
  FROM eo_scored
)
SELECT label, rank, vec_id, cos_centroid
FROM eo_ranked WHERE rank <= {OUTLIER_TOPK}
"""


QUERIES: list[QueryDef] = [
    QueryDef(
        "kmeans_lloyd",
        kmeans_lloyd,
        _kmeans_oracle(),
        "spherical k-means over embeddings (narrow GEMM + k×dim aggregate)",
    ),
    QueryDef(
        "pca_power_topcomp",
        pca_power_topcomp,
        _pca_oracle(),
        "top principal component via matrix-free power iteration",
    ),
    QueryDef(
        "semantic_neardup_pairs",
        semantic_neardup_pairs,
        _semdedup_oracle(),
        "SemDeDup cluster-blocked semantic near-dup pairs",
    ),
    QueryDef(
        "logreg_probe",
        logreg_probe,
        _logreg_oracle(),
        "full-batch GD logistic linear probe (parameter-server shape)",
    ),
    QueryDef(
        "label_centroid_similarity",
        label_centroid_similarity,
        _centroid_similarity_oracle(),
        "exact per-label centroids + pairwise cosine drift matrix",
    ),
    QueryDef(
        "embedding_outliers",
        embedding_outliers,
        _embedding_outliers_oracle(),
        "per-label farthest-from-centroid outliers (label-quality audit)",
    ),
]
