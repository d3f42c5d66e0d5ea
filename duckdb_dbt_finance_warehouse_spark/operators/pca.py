"""Exact top-principal-component extraction over an embedding column —
fixed-round power iteration on the integer covariance matrix, the
fourth iterative house pattern (after connected components, k-means,
and PageRank).

Why a pipeline wants it: embedding-space diagnostics. The explained-
variance share of the top component is the cheapest collapse detector
there is — a healthy encoder spreads variance across dimensions
(share ~ 1/d); a collapsed or rank-deficient one concentrates it
(share → 1), and the component vector itself shows WHICH dimensions
dominate. Run it per ingest batch next to ``similarity.centroid_drift``
and alert on jumps.

Determinism stack (same contract as operators/kmeans):
- components quantized to the 2^-18 grid (``similarity._np_quant`` /
  ``round(x * 262144.0)``) — every Gram cell is an exact integer;
- the covariance NUMERATOR ``A[i][j] = n·Σ(q_i·q_j) − Σq_i·Σq_j`` is
  exact (integer cross-multiplication, never a mean subtraction — the
  corr_matrix discipline applied to a matrix);
- power iteration runs on A in UNBOUNDED integers (Python bigints /
  DuckDB HUGEINT): ``w = A·v``, then rescale ``v' = sign(w)·
  (|w|·v_scale div max|w|)`` — truncation toward zero, identical in
  both engines; the start vector is the axis of the largest diagonal
  entry (ties to the lowest index);
- the only floats are the final Rayleigh/trace divisions, fixed IEEE
  expressions over exactly-computed integers.

Execution shape: ONE Arrow stage over the corpus (int64 BLAS partial
Gram per batch — d(d+1)/2 cells, already combined in-batch), a tiny
(i, j)-keyed sum, and a driver-side iteration on the d×d integer
matrix (the documented driver-model boundary — KBs, constant in the
corpus). The corpus is scanned once and NEVER shuffled. At 100 TB the
cost is the scan; validity bound: n·(QUANT_SCALE²) < 2^63 per Gram
cell keeps the SPARK-side int64 partial sums exact for n < 2^27 rows
per batch-sum path (the d×d driver math is unbounded-int and never
overflows); past that, coarsen the quantization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import QUANT_SCALE, _np_quant, _np_round6


def _gram_kernel(dim: int):
    """mapInPandas kernel: per-batch exact partial sums — the upper
    Gram triangle (i <= j), the per-dimension sums (j = -1), and the
    row count (i = j = -1). float64 holds the int sums exactly while
    batch_rows · QUANT_SCALE² < 2^53 (~128 rows at full scale — Arrow
    batches are larger, so accumulate in object-dtype Python ints when
    the bound is at risk; here embeddings are unit-ish so cells stay
    far below it, and we guard anyway)."""
    import numpy as np
    import pandas as pd

    iu, ju = np.triu_indices(dim)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["_vec"].to_numpy()).astype(np.float64)
            if V.shape[1] != dim:
                raise ValueError(
                    f"pca: expected {dim}-dim vectors, got {V.shape[1]}"
                )
            Vq = _np_quant(V)
            G = Vq.T @ Vq  # exact while cells < 2^53
            if np.abs(G).max() >= 2.0**53:
                raise ValueError(
                    "pca: Gram partial exceeds exact float64 range — "
                    "coarsen QUANT_SCALE or shrink Arrow batches"
                )
            s = Vq.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": np.concatenate(
                        [iu, np.arange(dim), [-1]]
                    ).astype(np.int32),
                    "j": np.concatenate(
                        [ju, np.full(dim, -1), [-1]]
                    ).astype(np.int32),
                    "s": np.concatenate(
                        [G[iu, ju], s, [float(len(pdf))]]
                    ).astype(np.int64),
                }
            )

    return kernel


def top_component(
    corpus: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    rounds: int = 8,
    v_scale: int = 1 << 12,
) -> DataFrame:
    """Top principal component + explained-variance share. Returns one
    row per dimension: (dim, v_q, n_rows, explained_share) where v_q is
    the component on the ±``v_scale`` integer grid (sign fixed by the
    deterministic start axis) and explained_share = vᵀAv / (vᵀv·trA) —
    the top eigenvalue's share of total variance (rounds > 0 assumed
    converged enough for diagnostics; raise ``rounds`` for tighter
    eigenpairs, every round replays exactly)."""
    from pyspark.sql import types as T

    spark = corpus.sparkSession
    src = corpus.select(F.col(vec_col).alias("_vec"))
    cells_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("s", T.LongType()),
        ]
    )
    cells = (
        src.mapInPandas(_gram_kernel(dim), cells_schema)
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    n = 0
    svec = [0] * dim
    M = [[0] * dim for _ in range(dim)]
    for r in cells:
        i, j, sv = r["i"], r["j"], int(r["s"])
        if i == -1:
            n = sv
        elif j == -1:
            svec[i] = sv
        else:
            M[i][j] = sv
            M[j][i] = sv
    if n == 0:
        raise ValueError("pca: empty corpus")
    A = [
        [n * M[i][j] - svec[i] * svec[j] for j in range(dim)]
        for i in range(dim)
    ]
    trace = sum(A[i][i] for i in range(dim))
    if trace == 0:
        raise ValueError("pca: zero total variance (constant corpus)")
    # start axis: largest diagonal entry, ties to the lowest index
    start = max(range(dim), key=lambda i: (A[i][i], -i))
    v = [v_scale if i == start else 0 for i in range(dim)]
    for _ in range(rounds):
        w = [sum(A[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(abs(x) for x in w)
        if m == 0:
            raise ValueError("pca: power iteration hit the null space")
        # truncation toward zero — Python // floors, so divide magnitudes
        v = [
            (abs(x) * v_scale // m) * (1 if x >= 0 else -1) for x in w
        ]
    vav = sum(v[i] * A[i][j] * v[j] for i in range(dim) for j in range(dim))
    vv = sum(x * x for x in v)
    share = float(_np_round6(float(vav) / (float(vv) * float(trace))))
    return spark.createDataFrame(
        [(i, v[i], n, share) for i in range(dim)],
        T.StructType(
            [
                T.StructField("dim", T.IntegerType(), False),
                T.StructField("v_q", T.LongType(), False),
                T.StructField("n_rows", T.LongType(), False),
                T.StructField("explained_share", T.DoubleType(), False),
            ]
        ),
    )


def pca_oracle_sql(
    src: str = "embeddings",
    vec_col: str = "embedding",
    dim: int = 64,
    rounds: int = 8,
    v_scale: int = 1 << 12,
    id_col: str = "vec_id",
) -> str:
    """DuckDB SQL replaying the full extraction: quantized components,
    exact integer covariance numerator, ``rounds`` matvec+rescale
    rounds in HUGEINT (``//`` truncates like the Python magnitude
    division), the same Rayleigh/trace share."""
    qs = f"{int(QUANT_SCALE)}.0"
    parts = [
        # MATERIALIZED: the q frame self-joins d-ways downstream — left
        # inline, DuckDB re-opens the parquet per reference and can
        # exhaust the process fd limit (shared with the Spark JVM)
        f"""q AS MATERIALIZED (
      SELECT {id_col} AS vid, CAST(i AS INT) AS i,
             CAST(round(CAST({vec_col}[CAST(i AS INT) + 1] AS DOUBLE) * {qs})
                  AS BIGINT) AS qv
      FROM {src}, unnest(generate_series(0, {dim - 1})) AS u(i)),
    nr AS MATERIALIZED (SELECT CAST(count(*) AS HUGEINT) AS n FROM {src}),
    sv AS MATERIALIZED (SELECT i, CAST(sum(qv) AS HUGEINT) AS s FROM q GROUP BY 1),
    mm AS MATERIALIZED (SELECT a.i AS i, b.i AS j, CAST(sum(a.qv * b.qv) AS HUGEINT) AS m
           FROM q a JOIN q b ON b.vid = a.vid GROUP BY 1, 2),
    a AS MATERIALIZED (SELECT mm.i, mm.j, (SELECT n FROM nr) * mm.m - sa.s * sb.s AS av
          FROM mm JOIN sv sa ON sa.i = mm.i JOIN sv sb ON sb.i = mm.j),
    tr AS (SELECT CASE WHEN sum(av) = 0
                  THEN error('pca: zero total variance') ELSE sum(av) END AS t
           FROM a WHERE i = j),
    st AS (SELECT i FROM a WHERE i = j ORDER BY av DESC, i ASC LIMIT 1),
    v0 AS (SELECT i, CAST(CASE WHEN i = (SELECT i FROM st)
                          THEN {v_scale} ELSE 0 END AS HUGEINT) AS v
           FROM sv)"""
    ]
    for t in range(rounds):
        nxt = t + 1
        parts.append(
            f"""w{nxt} AS MATERIALIZED (SELECT a.i, sum(a.av * v.v) AS w
           FROM a JOIN v{t} v ON v.i = a.j GROUP BY 1),
    mx{nxt} AS (SELECT CASE WHEN max(abs(w)) = 0
                  THEN error('pca: power iteration hit the null space')
                  ELSE max(abs(w)) END AS m FROM w{nxt}),
    v{nxt} AS MATERIALIZED (SELECT i, CASE WHEN w >= 0
                  THEN (abs(w) * {v_scale}) // (SELECT m FROM mx{nxt})
                  ELSE -((abs(w) * {v_scale}) // (SELECT m FROM mx{nxt}))
             END AS v FROM w{nxt})"""
        )
    R = rounds
    parts.append(
        f"""ray AS (SELECT sum(va.v * a.av * vb.v) AS vav
           FROM a JOIN v{R} va ON va.i = a.i JOIN v{R} vb ON vb.i = a.j),
    nrm AS (SELECT sum(v * v) AS vv FROM v{R})"""
    )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT v.i AS dim, CAST(v.v AS BIGINT) AS v_q,
           CAST((SELECT n FROM nr) AS BIGINT) AS n_rows,
           round(CAST((SELECT vav FROM ray) AS DOUBLE)
                 / (CAST((SELECT vv FROM nrm) AS DOUBLE)
                    * CAST((SELECT t FROM tr) AS DOUBLE)), 6)
             AS explained_share
    FROM v{R} v
    """
