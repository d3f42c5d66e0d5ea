"""Similarity search over embedding columns (SURVEY §7.6).

- ``cosine_topk``  : exact brute-force top-k — the correctness baseline.
  Cosine is computed with zip_with/aggregate (JVM-side higher-order
  functions, float accumulated in double); per-query top-k via a window.
- ``lsh_ann_topk`` : the scale path — sign-random-projection bucketing.
  Hyperplanes are ±1 vectors derived deterministically from md5 on the
  DRIVER (no RNG, no stored model) and embedded as array literals in the
  plan, so the identical planes can be replayed by any engine (the
  DuckDB oracle replays them verbatim). Candidates = same-(table,bucket)
  vectors; exact cosine within candidates.
- ``ivf_ann_topk`` : inverted-file ANN — one broadcast-centroid pass
  assigns corpus AND queries (union), probe lists joined by centroid.
- ``embedding_near_dup_pairs_lsh`` : embedding-level dedup at scale —
  LSH bucket candidates + exact-cosine verify, never all-pairs.

Every vector kernel here, in operators/kmeans and in operators/pq keeps
one quantized-exact contract, written once in the ``_np_*`` helpers
below: components quantized to ``QUANT_SCALE``, exact integer dots,
ROUND(·, 6) half away from zero, ties to the lowest id, and one rank
window per top-k output (``_query_topk``).

Scale notes: brute force is O(|Q| x |C|) — fine for |Q| small (probe
queries) but not for all-pairs; LSH turns it into per-bucket work. The
corpus side is never collected; queries/centroids broadcast.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..state import persist, shared, stored

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
NORM = (
    "sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)


def cosine_expr(a: str, b: str) -> F.Column:
    return F.expr(
        f"{DOT.format(a=a, b=b)} / ({NORM.format(a=a)} * {NORM.format(a=b)})"
    )


# ---------------------------------------------------------------------------
# the quantized-exact contract (shared with operators/kmeans and pq)
# ---------------------------------------------------------------------------

# Quantization scale for every vector metric: components are rounded to
# integer multiples of 2^-18. A power of two makes v * SCALE exact in
# float64, and every quantized product / partial sum is an integer far
# below 2^53 — so dots and squared norms are EXACT in float64 regardless
# of summation order. BLAS np.dot, a JVM fold, and DuckDB's list_sum all
# produce the same bits by construction; no round-before-compare is
# needed anywhere in an assignment.
QUANT_SCALE = float(1 << 18)

MAX_SEED_COLLECT = 4096
MAX_QUERY_COLLECT = 1 << 17
# cosine_topk scores its probe panel against each Arrow batch this many
# queries at a time, so one float64 block x batch score matrix stays
# bounded (1024 x 10,000 rows = 82 MB) however large the panel is.
TOPK_QUERY_BLOCK = 1024

_INTEGRAL = ("byte", "short", "integer", "long")


def _np_half_away(X):
    """Round to an integer half away from zero, as SQL round() does in
    both engines (numpy's own rounding is half-to-even)."""
    return np.sign(X) * np.floor(np.abs(X) + 0.5)


def _np_quant(V):
    """V * QUANT_SCALE rounded half away from zero; V * QUANT_SCALE is
    exact, so both engines round the same value."""
    return _np_half_away(V * QUANT_SCALE)


def _np_round6(X):
    """ROUND(x, 6) half away from zero — every published cosine."""
    return _np_half_away(X * 1e6) / 1e6


def _np_norms(Xq):
    """Row L2 norms of a quantized matrix: sqrt of an exact-integer sum."""
    return np.sqrt((Xq * Xq).sum(axis=1))


def _np_quant_rows(vecs, dim: int = 0):
    """(Vq, norms) for a batch of vectors — an Arrow list column or
    collected lists. An empty batch gives (0, ``dim``) and (0,) arrays,
    so the panel math downstream needs no special case."""
    if len(vecs) == 0:
        Vq = np.zeros((0, dim))
    else:
        Vq = _np_quant(np.stack(list(vecs)).astype(np.float64))
    return Vq, _np_norms(Vq)


def _np_cos(Xq, xn, Cq, cn):
    """Quantized-cosine matrix, rows of Xq by rows of Cq: exact-integer
    dots (BLAS, any summation order) over exact-integer norms, then one
    IEEE multiply and one divide — bit-identical to any SQL replay of
    the same quantized expression."""
    return (Xq @ Cq.T) / (xn[:, None] * cn[None, :])


def _np_nearest(Xq, xn, Cq, cn):
    """Index of each row's nearest centroid by quantized cosine. argmax
    returns the FIRST max and models are cid-sorted, so exact ties go
    to the lowest cid (the oracle's min(cid) WHERE cos = max(cos))."""
    return np.argmax(_np_cos(Xq, xn, Cq, cn), axis=1)


def _np_probe_order(Qq, qn, Cq, cn, n_probes: int):
    """Indexes of each query's ``n_probes`` nearest centroids, nearest
    first; the stable sort on -cos keeps cid-ascending order among
    ties."""
    return np.argsort(-_np_cos(Qq, qn, Cq, cn), axis=1, kind="stable")[:, :n_probes]


def _np_pairs(qids, cids, S, score: str = "cosine"):
    """One (query_id, cand_id, ``score``) row per cell of the probe x
    candidate score matrix ``S``, self matches (query_id == cand_id)
    dropped. Ids keep their native dtype; the output schema casts."""
    import pandas as pd

    qi, ci = np.nonzero(qids[:, None] != cids[None, :])
    return pd.DataFrame({"query_id": qids[qi], "cand_id": cids[ci], score: S[qi, ci]})


def _np_cos_pairs(q_vecs, qids, x_vecs, cids):
    """``_np_pairs`` over ROUND(quantized cosine, 6) of every probe
    against every candidate — the scoring of one co-located group."""
    if len(qids) == 0 or len(cids) == 0:
        S = np.zeros((len(qids), len(cids)))
    else:
        Qq, qn = _np_quant_rows(q_vecs)
        Xq, xn = _np_quant_rows(x_vecs)
        S = _np_round6(_np_cos(Qq, qn, Xq, xn))
    return _np_pairs(qids, cids, S)


def _np_triu_pairs(vecs, ids, threshold: float):
    """Every unordered pair of one group at ROUND(quantized cosine, 6)
    >= ``threshold``, as (id_a, id_b, cosine) with id_a < id_b."""
    import pandas as pd

    Xq, xn = _np_quant_rows(vecs)
    C = _np_round6(_np_cos(Xq, xn, Xq, xn))
    ia, ib = np.triu_indices(len(ids), k=1)
    keep = C[ia, ib] >= threshold
    ia, ib = ia[keep], ib[keep]
    a, b = ids[ia], ids[ib]
    return pd.DataFrame(
        {"id_a": np.minimum(a, b), "id_b": np.maximum(a, b), "cosine": C[ia, ib]}
    )


def _np_cell_sums(V, labels):
    """Map-side combine of one Lloyd round: for each label present, the
    exact component sums of its rows (dim 0..d-1) and its row count
    (dim -1), as long-form (label, dim, s) arrays."""
    d = V.shape[1]
    keys = np.unique(labels)
    sums = []
    for key in keys:
        rows = V[labels == key]
        sums.append(np.append(rows.sum(axis=0), len(rows)))  # exact ints in f64
    return (
        np.repeat(keys, d + 1),
        np.tile(np.append(np.arange(d), -1), len(keys)).astype(np.int32),
        np.concatenate(sums).astype(np.int64),
    )


def _np_sub_d2(V, C, m: int, n_subspaces: int):
    """Squared L2 distances between the m-th subvectors of V's rows and
    of C's rows, as |v|² - 2·v·c + |c|²: every term an exact integer
    for quantized V and C, so the sum is exact too."""
    dsub = C.shape[1] // n_subspaces
    Vm = V[:, m * dsub : (m + 1) * dsub]
    Cm = C[:, m * dsub : (m + 1) * dsub]
    return (
        (Vm * Vm).sum(axis=1)[:, None]
        - 2.0 * (Vm @ Cm.T)
        + (Cm * Cm).sum(axis=1)[None, :]
    )


def _np_pq_encode(V, C, n_subspaces: int):
    """(n, M) int32 PQ codes of quantized rows: per subspace the nearest
    codeword, ties to the lowest code id (argmin's first occurrence ==
    SQL min(code) WHERE d2 = min_d2)."""
    return np.stack(
        [np.argmin(_np_sub_d2(V, C, m, n_subspaces), axis=1) for m in range(n_subspaces)],
        axis=1,
    ).astype(np.int32)


def _np_pq_luts(Q, C, n_subspaces: int):
    """(M, nq, K) ADC lookup tables: the exact squared distance from each
    query's subvector m to every codeword's."""
    return np.stack([_np_sub_d2(Q, C, m, n_subspaces) for m in range(n_subspaces)])


def _np_adc(luts, codes):
    """(nq, n) int64 approximate distances of coded rows (an Arrow list
    column): the sum of M exact LUT lookups."""
    Cd = np.array(list(codes), dtype=np.int64).reshape(len(codes), len(luts))
    S = np.zeros((luts.shape[1], len(Cd)))
    for m in range(len(luts)):
        S += luts[m][:, Cd[:, m]]
    return S.astype(np.int64)


def _pair_schema(qid_type, cid_type, score: str = "cosine"):
    """Output schema of a pair-scoring kernel: (query_id, cand_id,
    cosine DOUBLE), or (…, adist BIGINT) for the PQ ADC kernels."""
    score_type = T.LongType() if score == "adist" else T.DoubleType()
    return T.StructType(
        [
            T.StructField("query_id", qid_type),
            T.StructField("cand_id", cid_type),
            T.StructField(score, score_type),
        ]
    )


def _query_topk(
    scored: DataFrame,
    k: int,
    by: str = "query_id",
    score: str = "cosine",
    asc: bool = False,
    dense: bool = False,
) -> DataFrame:
    """Per-``by`` top-k under the total order (``score`` best first,
    cand_id ASC) — the one rank window of every top-k output here and
    in operators/pq; WindowGroupLimit pushdown applies to both rank
    functions.

    ``dense``: for a RAW stream of collision-duplicated pairs (LSH
    multi-table hits). Exact duplicates carry identical (score,
    cand_id) keys, so ``dense_rank`` gives them one rank — dense_rank
    <= k over the raw stream equals row_number <= k over the deduped
    stream — and the leftover duplicates (at most n_tables x k per
    query) go in a DISTINCT that is output-sized, never a pair-sized
    dedup exchange before the window."""
    order = F.asc(score) if asc else F.desc(score)
    w = Window.partitionBy(by).orderBy(order, F.asc("cand_id"))
    rank = (F.dense_rank() if dense else F.row_number()).over(w)
    top = scored.withColumn("rank", rank).filter(F.col("rank") <= k)
    return (top.distinct() if dense else top).select(*scored.columns, "rank")


def _integral_id(df: DataFrame, id_col: str, caller: str) -> None:
    """Raise unless ``id_col`` is integral: stride seeding (id % mod)
    and the int64 id arrays of the model and LUT kernels need it."""
    kind = df.schema[id_col].dataType.typeName()
    if kind not in _INTEGRAL:
        raise TypeError(
            f"{caller} requires an integral {id_col!r} (models are seeded "
            f"by id stride and carry int64 ids); got {kind}"
        )


def _query_panel(queries, id_col, vec_col, caller: str, table_variant: str, dim: int = 0):
    """Driver-side probe panel for the small-probe serving paths:
    (qids, Qq, qnorms), ids int64 for an integral id column and native
    objects otherwise; an empty panel gives (0, ``dim``) arrays.
    Capped (via limit(cap+1) — the probe job never pulls the runaway
    set): a query side big enough to trip this is a TABLE, and the
    ``*_probe_table`` operators serve it without any driver collect."""
    rows = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .limit(MAX_QUERY_COLLECT + 1)
        .collect()
    )
    if len(rows) > MAX_QUERY_COLLECT:
        raise ValueError(
            f"{caller}: >{MAX_QUERY_COLLECT} query vectors is a probe TABLE, "
            f"not a driver-side probe set — use {table_variant} (bucket- or "
            "centroid-keyed serving, no driver collect)"
        )
    integral = queries.schema[id_col].dataType.typeName() in _INTEGRAL
    qids = np.array(
        [r["query_id"] for r in rows], dtype=np.int64 if integral else object
    )
    return (qids, *_np_quant_rows([r["q_vec"] for r in rows], dim))


def _seed_centroids(corpus, id_col, vec_col, seed_mod, caller: str):
    """Driver-side stride seeding — every ``id % seed_mod == 0`` row,
    cid-sorted, quantized: the untrained IVF quantizer, the PQ seed
    codebooks and k-means' initial centroids. The seed count grows
    linearly with the corpus, so it is hard-capped at
    ``MAX_SEED_COLLECT`` (checked via ``limit(cap+1)`` — the job scans
    at most cap+1 rows, never the runaway set). Past the cap, raise the
    stride or train centroids distributed (operators/kmeans.kmeans_fit —
    the x_ann_ivf_trained flow) and pass them as ``model=``; seeding by
    id stride was only ever a deterministic stand-in for training."""
    _integral_id(corpus, id_col, caller)
    rows = (
        corpus.filter((F.col(id_col) % seed_mod) == 0)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy("cid")
        .limit(MAX_SEED_COLLECT + 1)
        .collect()
    )
    if len(rows) > MAX_SEED_COLLECT:
        raise ValueError(
            f"{caller}: stride seeding would collect >{MAX_SEED_COLLECT} "
            f"rows to the driver (corpus/{seed_mod} grows with the corpus). "
            "Raise seed_mod so k stays model-sized, or train centroids with "
            "operators/kmeans.kmeans_fit and pass model=(ids, vectors) — "
            "see the x_ann_ivf_trained suite entry."
        )
    cids = np.array([r["cid"] for r in rows], dtype=np.int64)
    return cids, _np_quant_rows([r["cvec"] for r in rows])[0]


def _model3(model):
    """A frozen centroid model as (cids int64, Cq float64, cnorms):
    ``model`` is (cids, Cq) — kmeans_fit, the stride seeding, a loaded
    index model — or already that triple."""
    if len(model) == 3:
        return model
    Cq = np.asarray(model[1], dtype=np.float64)
    return np.asarray(model[0], dtype=np.int64), Cq, _np_norms(Cq)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by QUANTIZED cosine for each query vector (excluding
    self-match) — the brute-force correctness baseline every ANN path
    is audited against.

    The probe panel is collected driver-side (model-sized state, capped
    by ``_query_panel`` — a panel past the cap is a probe TABLE and
    takes a ``*_probe_table`` operator) and broadcast into ONE numpy
    map stage over the corpus: dense vector math through the interpreted
    higher-order-function route paid ~5x (CodegenFallback per element;
    the CLAUDE.md slow path — measured 1.6 s vs 0.3 s for 20k x 16 x 64
    at sf1). Components are quantized (``QUANT_SCALE``) so every dot
    and norm is an exact float64 integer — addition-order-free, which
    is exactly what lets a numpy BLAS sum replace the left-to-right SQL
    sum with bit-identical scores — and the DuckDB oracle replays the
    same quantized expression. Each Arrow batch emits only its LOCAL
    top-k per query under the total order (cosine DESC, cand_id ASC)
    — no ties possible, ids are unique — so the global window's input
    is (batches x panel x k), never corpus-sized: the 100 TB shape."""
    import pandas as pd

    qids, Qq, qn = _query_panel(
        queries, id_col, vec_col, "cosine_topk",
        "ivf_ann_topk_probe_table / lsh_ann_topk_probe_table",
    )
    bc = corpus.sparkSession.sparkContext.broadcast((qids, Qq, qn))
    id_type = corpus.schema[id_col].dataType
    block = TOPK_QUERY_BLOCK  # read here: the kernel runs in Python workers

    def score(batches):
        qids_, Qq_, qn_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if len(pdf) == 0 or nq == 0:
                continue
            X, xn = _np_quant_rows(pdf["_vec"])
            cids = pdf["_cid"].to_numpy()
            out_q, out_c, out_s = [], [], []
            kk = min(k, len(cids))
            # each query's row of scores is exact integer math, so
            # scoring the panel block by block gives the same bits
            for b0 in range(0, nq, block):
                C = _np_round6(
                    _np_cos(Qq_[b0 : b0 + block], qn_[b0 : b0 + block], X, xn)
                )
                for qi in range(b0, min(b0 + block, nq)):
                    mask = cids != qids_[qi]  # self-match drop
                    c_ids = cids[mask]
                    s = C[qi - b0][mask]
                    if len(c_ids) == 0:
                        continue
                    # exact local top-k under (cosine DESC, cand_id ASC):
                    # lexsort is a total order (ids unique), so merging
                    # per-batch top-k equals the global top-k
                    order = np.lexsort((c_ids, -s))[:kk]
                    out_q.append(np.repeat(qids_[qi], len(order)))
                    out_c.append(c_ids[order])
                    out_s.append(s[order])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "cand_id": np.concatenate(out_c),
                    "cosine": np.concatenate(out_s),
                }
            )

    scored = corpus.select(
        F.col(id_col).alias("_cid"), F.col(vec_col).alias("_vec")
    ).mapInPandas(score, _pair_schema(id_type, id_type))
    return _query_topk(scored, k)


# ---------------------------------------------------------------------------
# sign-random-projection LSH (portable, literal hyperplanes)
# ---------------------------------------------------------------------------


@lru_cache(maxsize=None)
def plane_signs(table: int, plane: int, dim: int) -> tuple[float, ...]:
    """Deterministic ±1 hyperplane components from md5(table:plane:dim
    index), computed driver-side. Pure data — the same literals are
    embedded in the Spark plan AND the DuckDB oracle SQL, so bucket
    assignment is engine-portable by construction (no engine hash
    function involved at all)."""
    return tuple(
        1.0 if hashlib.md5(f"{table}:{plane}:{d}".encode()).digest()[0] % 2 == 0
        else -1.0
        for d in range(dim)
    )


def _sign_matrix(n_tables: int, n_planes: int, dim: int):
    """(n_tables*n_planes, dim) ±1 matrix from ``plane_signs``, row
    t*n_planes+p = plane p of table t."""
    return np.array(
        [
            plane_signs(t, p, dim)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )


def _np_bucket_ids(Vq, S, n_tables: int, n_planes: int):
    """(B, n_tables) bucket ids of QUANTIZED rows ``Vq``: bit p of table
    t set iff the dot with plane (t, p) is positive. Quantized
    components make every plane dot an exact float64 integer (products
    are ±quantized values, partial sums integers << 2^53), so the sign —
    and therefore the bucket — is engine-independent with no rounding
    rule at all."""
    P = Vq @ S.T  # exact integers
    bits = (P > 0).astype(np.int64).reshape(len(Vq), n_tables, n_planes)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    return (bits * weights[None, None, :]).sum(axis=2)


def lsh_buckets_oracle_sql(
    src: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB SQL computing the identical (id, tbl, bucket) assignment:
    the same literal ±1 planes over the same quantized components —
    exact integer dots, so the sign test needs no rounding rule."""
    qs = f"{int(QUANT_SCALE)}.0"
    selects = []
    for t in range(n_tables):
        bits = []
        for p in range(n_planes):
            arr = "[" + ", ".join(
                "1.0" if s > 0 else "-1.0" for s in plane_signs(t, p, dim)
            ) + "]"
            dot = (
                f"list_sum(list_transform(list_zip({vec_col}, {arr}),"
                f" z -> round(CAST(z[1] AS DOUBLE) * {qs}) * CAST(z[2] AS DOUBLE)))"
            )
            bits.append(f"(CASE WHEN {dot} > 0 THEN {2 ** p} ELSE 0 END)")
        selects.append(
            f"SELECT {id_col}, {t} AS tbl,"
            f" CAST({' + '.join(bits)} AS BIGINT) AS bucket FROM {src}"
        )
    return "(" + "\nUNION ALL\n".join(selects) + ")"


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids_mod: int = 32,
    n_probes: int = 2,
    model=None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k.

    ``model``: optional trained quantizer ``(cids, C_scaled)`` as
    returned by ``operators.kmeans.kmeans_fit`` — centroid ids plus the
    QUANT_SCALE-scaled centroid matrix. When given, it replaces the
    deterministic id-sample seeding below; the probing plan is
    unchanged.

    Coarse quantizer: a deterministic sample of corpus vectors acts as
    centroids (every ``n_centroids_mod``-th id — reproducible without a
    trained model; swap in k-means centroids at deployment, the plan is
    unchanged). The centroid table IS the model: it is collected to the
    driver (documented collect, bounded at |corpus|/n_centroids_mod
    rows — a trained quantizer would be loaded the same way) and
    broadcast to executors. The probe QUERIES are likewise driver-side —
    in a real search API they arrive at the driver; their n_probes
    nearest centroids are picked locally at zero Spark cost.

    Everything distance-related uses the QUANTIZED cosine
    (``QUANT_SCALE``): exact-integer dots and norms make every score
    bit-identical across numpy/BLAS, the JVM, and DuckDB regardless of
    summation order — the oracle replays the whole pipeline verbatim
    with no float hazards.

    Execution is ONE narrow Arrow stage over the corpus (mapInPandas —
    the one place in this module where the DataFrame API expresses the
    semantics but not the performance: higher-order functions are
    CodegenFallback, interpreted per row, ~8x slower than vectorized
    batch math; an expression-unrolled GetArrayItem chain is slower
    still). Each batch assigns its rows to centroids (BLAS matmul
    against the broadcast model), keeps only rows landing in a probed
    centroid, and emits (query_id, cand_id, cosine) directly — no join
    stage, no broadcast job. Only the ~n_probes/|cents| matched
    candidates leave the stage, into one tiny top-k window shuffle.

    At 100 TB you would persist the inverted lists (partitioned by
    centroid_id) once and let query batches prune to their probed
    partitions; the per-batch scoring kernel is unchanged."""
    import pandas as pd

    # centroid seeding is `id % n_centroids_mod` and probe_map keys on
    # int(cid): this operator structurally requires an integral id column
    # (unlike lsh_ann_topk / embed_near_dup_pairs, which are id-agnostic)
    cids, Cq, cnorms = _ivf_model(
        corpus, id_col, vec_col, n_centroids_mod, model, "ivf_ann_topk"
    )
    qids, Qq, qn = _query_panel(
        queries, id_col, vec_col, "ivf_ann_topk", "ivf_ann_topk_probe_table",
        Cq.shape[1],
    )
    # probe map: centroid_id -> indexes of the queries probing that list
    probe_map: dict[int, list[int]] = {}
    for qi, probed in enumerate(_np_probe_order(Qq, qn, Cq, cnorms, n_probes)):
        for j in probed:
            probe_map.setdefault(int(cids[j]), []).append(qi)
    probe_map = {cid: np.array(qs) for cid, qs in probe_map.items()}
    bc = corpus.sparkSession.sparkContext.broadcast(
        (cids, Cq, cnorms, qids, Qq, qn, probe_map)
    )
    id_type = corpus.schema[id_col].dataType

    def score_batches(batches):
        cids_, Cq_, cn_, qids_, Qq_, qn_, pm_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Xq, xn = _np_quant_rows(pdf["c_vec"])
            assigned = cids_[_np_nearest(Xq, xn, Cq_, cn_)]
            ids = pdf["cand_id"].to_numpy()
            out = []
            for cid, qs in pm_.items():
                rows = np.nonzero(assigned == cid)[0]
                if rows.size:
                    S = _np_round6(_np_cos(Qq_[qs], qn_[qs], Xq[rows], xn[rows]))
                    out.append(_np_pairs(qids_[qs], ids[rows], S))
            if out:
                yield pd.concat(out)

    pair_scored = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_vec")
    ).mapInPandas(score_batches, _pair_schema(id_type, id_type))
    return _query_topk(pair_scored, k)


def _pair_score_cogroup(cands, probes):
    """Cogroup scoring kernel of the IVF probe-table paths: for one
    co-located group (an inverted list), block-matmul the quantized
    cosine of every (probe, candidate) pair, drop self-matches, and
    emit rounded scores. All arithmetic is
    quantized-exact (``QUANT_SCALE``), so the DuckDB oracle replays it
    bit-for-bit."""
    return _np_cos_pairs(
        probes["_vec"], probes["query_id"].to_numpy(),
        cands["_vec"], cands["cand_id"].to_numpy(),
    )


def _ivf_model(corpus, id_col, vec_col, n_centroids_mod, model, caller):
    """Resolve the frozen coarse-quantizer model: ``model`` as given
    (trained k-means or a loaded index model), else the deterministic
    id-sample seeding. Returns (cids, Cq, cnorms) ready to broadcast —
    KB-scale, the only thing these paths ever collect."""
    _integral_id(corpus, id_col, caller)
    if model is None:
        model = _seed_centroids(corpus, id_col, vec_col, n_centroids_mod, caller)
    return _model3(model)


def ivf_build_lists(
    corpus: DataFrame,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF INDEX BUILD: one narrow Arrow pass assigns every corpus row
    to its nearest centroid under the FROZEN broadcast ``model``
    (cids, Cq — e.g. from ``kmeans.kmeans_fit`` or ``_seed_centroids``)
    and emits the inverted-list rows (centroid_id, cand_id, _vec).
    This frame IS the serving index: store it partitioned by
    centroid_id (Warehouse.write / write_staged) and probe batches
    prune to their probed lists. Assignment is per-vector against a
    frozen model, so appending a new batch's lists to a stored index
    is EXACTLY equivalent to a full rebuild — the invariant
    ``ivf_incremental_topk`` serves under and tests pin."""
    import pandas as pd

    bc = corpus.sparkSession.sparkContext.broadcast(_model3(model))
    cand_schema = T.StructType(
        [
            T.StructField("centroid_id", T.LongType()),
            T.StructField("cand_id", corpus.schema[id_col].dataType),
            T.StructField("_vec", corpus.schema[vec_col].dataType),
        ]
    )

    def assign_corpus(batches):
        cids_, Cq_, cn_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Xq, xn = _np_quant_rows(pdf["_vec"])
            yield pd.DataFrame(
                {
                    "centroid_id": cids_[_np_nearest(Xq, xn, Cq_, cn_)],
                    "cand_id": pdf["cand_id"].to_numpy(),
                    "_vec": pdf["_vec"].to_numpy(),
                }
            )

    return corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_vec")
    ).mapInPandas(assign_corpus, cand_schema)


def _ivf_probe_frame(
    queries: DataFrame, model, id_col: str, vec_col: str, n_probes: int
) -> DataFrame:
    """IVF probe fan-out: one Arrow stage emits (centroid_id, query_id,
    _vec) for each probe's ``n_probes`` nearest centroids under the
    frozen ``model`` — the probe side of the centroid_id cogroup, for
    raw-vector and PQ-code lists alike."""
    import pandas as pd

    bc = queries.sparkSession.sparkContext.broadcast(_model3(model))
    probe_schema = T.StructType(
        [
            T.StructField("centroid_id", T.LongType()),
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("_vec", queries.schema[vec_col].dataType),
        ]
    )

    def assign_probes(batches):
        cids_, Cq_, cn_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Qq, qn = _np_quant_rows(pdf["_vec"])
            order = _np_probe_order(Qq, qn, Cq_, cn_, n_probes)
            idx = np.repeat(np.arange(len(pdf)), order.shape[1])
            yield pd.DataFrame(
                {
                    "centroid_id": cids_[order.ravel()],
                    "query_id": pdf["query_id"].to_numpy()[idx],
                    "_vec": pdf["_vec"].to_numpy()[idx],
                }
            )

    return queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_vec")
    ).mapInPandas(assign_probes, probe_schema)


def ivf_probe_lists_topk(
    lists: DataFrame,
    queries: DataFrame,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probes: int = 2,
) -> DataFrame:
    """IVF SERVING over pre-built inverted ``lists`` (centroid_id,
    cand_id, _vec — from ``ivf_build_lists`` or a stored index table):
    one Arrow stage fans each probe out to its ``n_probes`` nearest
    centroids under the same frozen model, both sides co-shuffle ONCE
    on centroid_id, and the cogroup kernel block-matmuls each list
    against exactly the probes that probe it. When ``lists`` is a
    stored table partitioned by centroid_id, the probed lists prune at
    the scan."""
    probes = _ivf_probe_frame(queries, model, id_col, vec_col, n_probes)
    out_schema = _pair_schema(
        queries.schema[id_col].dataType, lists.schema["cand_id"].dataType
    )
    scored = (
        lists.groupBy("centroid_id")
        .cogroup(probes.groupBy("centroid_id"))
        .applyInPandas(_pair_score_cogroup, out_schema)
    )
    # (query, cand) appears at most once: a candidate lives in exactly
    # one inverted list and a probe visits each list at most once — no
    # distinct needed before the top-k window.
    return _query_topk(scored, k)


def ivf_ann_topk_probe_table(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids_mod: int = 32,
    n_probes: int = 2,
    model=None,
) -> DataFrame:
    """IVF top-k where the PROBE SIDE IS A DATAFRAME of arbitrary size —
    the serving path for batch/offline query tables. Unlike
    ``ivf_ann_topk`` (which collects a handful of driver-origin probe
    vectors), nothing data-sized touches the driver here: only the
    centroid MODEL is collected/broadcast (bounded at
    |corpus|/n_centroids_mod rows — KB-scale, same as loading a trained
    quantizer).

    Shape (see ``ivf_build_lists`` / ``ivf_probe_lists_topk``): one
    Arrow stage assigns each corpus row to its nearest centroid; a
    second Arrow stage fans each probe out to its ``n_probes`` nearest
    centroids; both sides then co-shuffle ONCE on ``centroid_id`` and a
    cogroup kernel block-matmuls each inverted list against exactly the
    probes that probe it. Shuffle volume is |corpus| + n_probes x
    |queries| vectors — pairs never ride a shuffle. Per-list work is
    |list| x |probes(list)|; a hot list is the residual skew risk (same
    mitigation as any skewed key: raise n_centroids_mod so lists
    shrink).

    Scores are quantized-exact (``QUANT_SCALE``) and the DuckDB oracle
    replays seeding, assignment, probing, and top-k bit-for-bit."""
    model3 = _ivf_model(
        corpus, id_col, vec_col, n_centroids_mod, model, "ivf_ann_topk_probe_table"
    )
    # the serving index is the memoized stored lists frame — repeat
    # probe batches over the same (corpus, frozen model) read one build
    lists = ivf_lists_frame(corpus, model3, id_col, vec_col)
    return ivf_probe_lists_topk(
        lists, queries, model3, id_col, vec_col, k=k, n_probes=n_probes
    )


def ivf_incremental_topk(
    base: DataFrame,
    batch: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids_mod: int = 32,
    n_probes: int = 2,
    model=None,
) -> DataFrame:
    """INCREMENTAL IVF index maintenance — the nightly production mode
    for ANN serving (the x_hll_merge / x_dedup_incremental lifecycle
    pattern applied to the vector index): the expensive part at 100 TB
    is the index BUILD, so the stored inverted lists are never rebuilt
    from the full corpus. A NEW embedding batch is assigned against the
    FROZEN centroid model (the model must not drift, or old list
    placements go stale) and its list rows are APPENDED to the
    persisted index; probes then serve from stored + appended lists in
    one plan.

    Because assignment is per-vector against a frozen model, the merged
    index is EXACTLY the index a full rebuild would produce — probe
    results are bit-identical (pinned by
    tests/test_operators.py::test_ivf_incremental_*; the suite oracle
    replays the full-rebuild form for the same reason). Retraining the
    quantizer (kmeans_fit on base+batch) is the rebuild event, not the
    nightly path.

    The MERGED lists are ``persist``-ed: after the append, the stored
    index table contains base + batch rows, and every probe batch
    serves from THAT table — persisting the merged frame (not just the
    base) is the in-memory model of the post-append stored table
    (Warehouse.write(partition_by=["centroid_id"]) + mode="append" for
    the batch — the on-disk lifecycle a pytest drives end-to-end).
    Without it the whole index assignment would recompute per probe
    batch."""
    model3 = _ivf_model(
        base, id_col, vec_col, n_centroids_mod, model, "ivf_incremental_topk"
    )
    # the BASE lists are the stored index (memoized — repeat appends
    # over the same stored index read one build); only the NEW batch is
    # assigned fresh, which is the append's real cost at scale
    merged = persist(
        ivf_lists_frame(base, model3, id_col, vec_col).unionByName(
            ivf_build_lists(batch, model3, id_col, vec_col)
        )
    )
    return ivf_probe_lists_topk(
        merged, queries, model3, id_col, vec_col, k=k, n_probes=n_probes
    )


def lsh_planes_for(corpus_rows: int, target_bucket_rows: int = 4096) -> int:
    """The LSH scale lever as code: n_planes sized so the expected
    bucket holds ~``target_bucket_rows`` vectors (buckets per table =
    2^n_planes). Per-bucket serving cost is probes_in_bucket x
    cands_in_bucket — at FIXED planes that grows quadratically with the
    corpus (measured 10x data -> ~19x time at n_planes=4); holding
    bucket size constant keeps cost-per-probe flat and recall is tuned
    back with n_tables. Clamped to [1, 62] (bucket ids pack into a
    signed long)."""
    import math

    if corpus_rows <= 0 or target_bucket_rows <= 0:
        raise ValueError("lsh_planes_for: row counts must be positive")
    return max(1, min(62, math.ceil(math.log2(max(2, corpus_rows / target_bucket_rows)))))


def lsh_ann_topk_probe_table(
    corpus: DataFrame,
    probe_pred,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """LSH ANN top-k for a probe panel of any size drawn from the corpus
    — the serving path when queries arrive as a table, not a handful of
    driver-origin vectors. ``probe_pred`` is a boolean Column over the
    index frame's ``cand_id`` that marks the panel. Nothing data-sized
    is collected: the only broadcast is the ±1 sign matrix (n_tables x
    n_planes x dim literals).

    Shape: the probes' bucket rows are read straight out of the
    memoized stored index (``lsh_index_frame``) — their hashes already
    exist there — and ONE (tbl, bucket) groupBy splits probes from
    candidates inside the flagged kernel (``_lsh_flagged_scores``). A
    pair colliding in several tables is emitted per collision with an
    identical quantized-exact score, so the dense rank window dedupes
    it after the rank filter — the same invariant
    ``embedding_near_dup_pairs_lsh`` relies on.

    SCALE LEVER — ``n_planes`` must grow with the corpus: a table has
    2^n_planes buckets, so at FIXED planes the expected bucket size is
    n/2^n_planes and per-bucket probe x candidate scoring is O(n^2) in
    corpus size (measured: 10x data -> ~19x time at n_planes=4). Size
    n_planes ~ log2(n / target_bucket_rows) to hold bucket volume —
    and therefore cost per probe — constant; recall is then tuned back
    with ``n_tables``. The suite entry sizes n_planes from the corpus
    row count (``lsh_planes_for``, parquet-footer stat) and pins the
    resulting plane LITERALS per sf, so the oracle replays exactly at
    every scale."""
    buckets = lsh_index_frame(corpus, id_col, vec_col, n_tables, n_planes, dim)
    return _query_topk(_lsh_flagged_scores(buckets, probe_pred), k, dense=True)


def lsh_build_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """LSH INDEX BUILD: one narrow Arrow pass hashes every vector into
    its bucket in each of the ``n_tables`` hash tables under the
    deterministic ±1 plane matrix (``_sign_matrix`` — a pure function of
    (n_tables, n_planes, dim), i.e. the planes are FROZEN by
    construction, the LSH analogue of the frozen IVF centroid model)
    and emits the index rows (tbl, bucket, cand_id, _vec).

    This frame IS the serving index: store it partitioned by ``tbl``
    (or (tbl, bucket-range) at scale) via Warehouse.write and probe
    batches prune to their probed buckets. Hashing is per-vector under
    frozen planes, so appending a new batch's bucket rows to a stored
    index is EXACTLY equivalent to a full rebuild — the invariant
    ``lsh_incremental_topk`` serves under and tests pin."""
    import pandas as pd

    S = _sign_matrix(n_tables, n_planes, dim)
    bc = df.sparkSession.sparkContext.broadcast(S)
    schema = T.StructType(
        [
            T.StructField("tbl", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
            T.StructField("cand_id", df.schema[id_col].dataType),
            T.StructField("_vec", df.schema[vec_col].dataType),
        ]
    )

    def assign(batches):
        S_ = bc.value
        tbls = np.arange(n_tables, dtype=np.int32)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = _np_bucket_ids(_np_quant_rows(pdf["_vec"])[0], S_, n_tables, n_planes)
            n = len(pdf)
            idx = np.repeat(np.arange(n), n_tables)
            yield pd.DataFrame(
                {
                    "tbl": np.tile(tbls, n),
                    "bucket": B.ravel(),
                    "cand_id": pdf["cand_id"].to_numpy()[idx],
                    "_vec": pdf["_vec"].to_numpy()[idx],
                }
            )

    return df.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_vec")
    ).mapInPandas(assign, schema)


# (corpus-plan, params) -> persisted bucket-index memo. A mapInPandas
# plan embeds a FRESH Python closure per construction, so two
# invocations of lsh_build_buckets over the same corpus NEVER
# cache-match in CacheManager (unlike pure-Column plans) — persisting
# per invocation just piles up non-deduped copies of a corpus-sized
# cache (measured: the recall audit's first run ballooned to 37 s under
# the eviction pressure). The memo keys on the INPUT plan's semantics +
# the index parameters and returns the same DataFrame object, which IS
# cache-hittable (state.stored).


def lsh_index_frame(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """``lsh_build_buckets`` as STORED state: persisted (the frame is
    the serving index — same lifecycle as the bloom words frame and the
    IVF centroid tables) and memoized by input-plan semantics so repeat
    constructions over the same corpus reuse one cached copy."""
    return stored(
        "similarity.buckets",
        df,
        (id_col, vec_col, n_tables, n_planes, dim),
        lambda: lsh_build_buckets(df, id_col, vec_col, n_tables, n_planes, dim),
    )


def _model_digest(*arrays) -> str:
    """md5 over a frozen model's exact bytes (dtype + shape + data) —
    the model-identity component of a stored-index memo key.  Two equal
    models hash equal, so consumers share one stored build; a retrained
    or drifted model can never alias a stale index (the digest changes
    with any single centroid bit)."""
    h = hashlib.md5()
    for a in arrays:
        a = np.ascontiguousarray(np.asarray(a))
        h.update(str(a.dtype).encode())
        h.update(str(a.shape).encode())
        h.update(a.tobytes())
    return h.hexdigest()


# stored inverted-list frames — the IVF serving index's stored-table
# lifecycle, exactly the lsh_index_frame argument: the assignment Arrow
# pass over the corpus is the index BUILD event, and every
# probe/serving invocation over the same (corpus, frozen model) reads
# the one materialized build.


def ivf_lists_frame(
    corpus: DataFrame,
    model3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``ivf_build_lists`` as STORED state: persisted and memoized by
    (corpus plan semantics, frozen-model digest)."""
    return stored(
        "similarity.lists",
        corpus,
        (id_col, vec_col, _model_digest(model3[0], model3[1]), "ivf_lists"),
        lambda: ivf_build_lists(corpus, model3, id_col, vec_col),
    )


def _pair_score_flagged_fn(probes_are_candidates: bool = True):
    """LSH bucket kernel for probe panels that are INDEXED SUBSETS: one
    group's rows carry an ``_is_probe`` flag, the kernel splits probes
    out and scores them against the group (``_np_cos_pairs`` — the same
    quantized-exact math and self-match drop as the IVF cogroup
    kernel). The serving plan pays ONE (tbl, bucket) exchange — the
    probe rows already ride the index stream.

    ``probes_are_candidates``: True (ANN serving — a probe is also a
    corpus member other probes may retrieve) scores probes against the
    WHOLE group; False (decontamination — eval examples must never be
    reported as contaminated corpus docs) scores probes against the
    non-probe rows only."""

    def score(pdf):
        pr = pdf[pdf["_is_probe"]]
        if not probes_are_candidates:
            pdf = pdf[~pdf["_is_probe"]]
        return _np_cos_pairs(
            pr["_vec"], pr["cand_id"].to_numpy(),
            pdf["_vec"], pdf["cand_id"].to_numpy(),
        )

    return score


def _lsh_flagged_scores(
    buckets: DataFrame,
    probe_pred,
    probes_are_candidates: bool = True,
    pred_col: str = "cand_id",
) -> DataFrame:
    """Score an INDEXED-SUBSET probe panel straight from the index
    stream (the CLAUDE.md indexed-subset probe rule shared by the
    incremental/decontaminate/probe-table/recall-audit entries): flag
    the panel's rows with ``probe_pred`` (a boolean Column over
    ``pred_col``, which the index carries as ``cand_id``), pay ONE
    (tbl, bucket) exchange, and let the flagged kernel split probes
    from candidates inside the group — no second exchange, no probe
    re-hash Arrow stage. Returns the raw per-collision
    (query_id, cand_id, cosine) stream; callers add top-k or threshold
    semantics (and the output-sized dedup — never a pair-sized one)."""
    flagged = (
        # rename around the flag so ONE predicate serves the index frame
        # and the caller's own ``pred_col`` frames (a same-name rename
        # is free: the projections collapse)
        buckets.withColumnRenamed("cand_id", pred_col)
        # coalesce: a NULL predicate result (nullable id column) must
        # mean "not a probe", not a NaN that breaks the kernel's pandas
        # boolean mask
        .withColumn("_is_probe", F.coalesce(probe_pred.cast("boolean"), F.lit(False)))
        .withColumnRenamed(pred_col, "cand_id")
    )
    id_type = buckets.schema["cand_id"].dataType
    return flagged.groupBy("tbl", "bucket").applyInPandas(
        _pair_score_flagged_fn(probes_are_candidates),
        _pair_schema(id_type, id_type),
    )


def lsh_incremental_topk(
    base: DataFrame,
    batch: DataFrame,
    probe_pred,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """INCREMENTAL LSH index maintenance — the ``ivf_incremental_topk``
    lifecycle applied to the hash-bucket index: the stored bucket rows
    are never rebuilt from the full corpus. A NEW embedding batch is
    hashed under the FROZEN plane matrix (deterministic in the index
    parameters, so it cannot drift) and its bucket rows are APPENDED to
    the persisted index; probes then serve from stored + appended
    buckets in one plan. Because hashing is per-vector, the merged
    index is EXACTLY the index a full rebuild would produce — probe
    results are bit-identical (pinned by
    tests/test_operators.py::test_lsh_incremental_*; the suite oracle
    replays the full-rebuild form for the same reason).

    The MERGED buckets are ``persist``-ed: after the append, the
    stored index table contains base + batch rows and every probe batch
    serves from THAT table — persisting the merged frame models the
    post-append stored table (Warehouse.write(partition_by=["tbl"]) +
    mode="append" for the batch — the on-disk lifecycle a pytest drives
    end-to-end). Without it the whole index hashing would recompute per
    probe batch.

    ``probe_pred`` (a boolean Column over ``cand_id``) marks the probe
    panel among the merged index rows; its bucket rows are served
    straight out of the persisted index, as in
    ``lsh_ann_topk_probe_table``."""
    # the BASE index is the stored table (lsh_index_frame — memoized by
    # corpus plan + params, so repeat appends over the same stored index
    # read one persisted build); only the NEW batch is hashed fresh,
    # which is the append's real cost at scale
    merged = persist(
        lsh_index_frame(base, id_col, vec_col, n_tables, n_planes, dim)
        .unionByName(
            lsh_build_buckets(batch, id_col, vec_col, n_tables, n_planes, dim)
        )
    )
    return _query_topk(_lsh_flagged_scores(merged, probe_pred), k, dense=True)


def semantic_decontaminate(
    corpus: DataFrame,
    eval_pred,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space companion to
    ``text.decontaminate``'s n-gram scan: flag corpus documents whose
    embedding sits within ``threshold`` cosine of ANY eval example.
    Paraphrased or translated eval leakage shares no 8-gram with the
    eval set (the n-gram scan misses it) but lands next to it in
    embedding space — every serious eval-hygiene pass runs both.

    ``corpus`` is the whole embeddings table, eval examples included;
    ``eval_pred`` (a boolean Column over the index frame's ``cand_id``)
    marks the eval set. A held-out eval set is unioned into the corpus
    frame first.

    Output: one row per FLAGGED corpus doc — (id, n_eval_hits,
    max_cosine). Drop or quarantine the flagged ids; unflagged docs
    don't appear (the common case — keep the output contamination-
    sized, not corpus-sized). Eval examples are never reported as
    contaminated docs.

    Shape: the bucket rows come from ``lsh_index_frame`` — the memoized
    persisted STORED index, the same serving index the recall audit
    audits — and ONE (tbl, bucket) groupBy splits eval from corpus
    inside the flagged kernel (``probes_are_candidates=False``),
    followed by a threshold filter and a cand-keyed aggregate. Nothing
    collects. Recall is the LSH recall — raise ``n_tables`` for a
    tighter sweep or run the exact ``cosine_topk`` on the (tiny)
    flagged closure. Same ``n_planes`` scale lever as
    ``lsh_ann_topk_probe_table``."""
    buckets = lsh_index_frame(corpus, id_col, vec_col, n_tables, n_planes, dim)
    scored = (
        _lsh_flagged_scores(buckets, eval_pred, probes_are_candidates=False)
        # a pair colliding in several tables has identical quantized
        # scores everywhere — dedup the contamination-sized remainder
        # AFTER the threshold filter, never the full pair stream
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )
    return (
        scored
        .groupBy("cand_id")
        .agg(
            F.count("*").alias("n_eval_hits"),
            F.max("cosine").alias("max_cosine"),
        )
        .select(F.col("cand_id").alias(id_col), "n_eval_hits", "max_cosine")
    )


def embedding_near_dup_pairs_lsh(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup pairs at scale: candidates share an LSH
    (table, bucket); quantized cosine verifies candidates only — never
    all-pairs across the corpus.

    Shape: ONE Arrow bucket-assignment stage (vectors ride along), one
    shuffle on (tbl, bucket), then per-bucket vectorized all-pairs
    scoring via ``applyInPandas`` and a global DISTINCT (a pair can
    collide in several tables; its quantized cosine is identical
    everywhere, so exact dedup is safe). Per-bucket work is O(|bucket|²)
    — n_planes controls expected bucket size (|C|/2^planes per table);
    raise it for denser corpora. The DuckDB oracle replays bucket
    assignment, pairing, and scoring bit-for-bit (exact-integer
    quantized arithmetic, ``QUANT_SCALE``)."""
    id_type = corpus.schema[id_col].dataType
    # the bucket rows come from the memoized STORED index
    # (lsh_index_frame — the same persisted build the serving and
    # decontamination entries read); re-running the corpus Arrow hash
    # pass per dedup invocation mis-models the index lifecycle. The
    # rename is a zero-cost projection over the cached frame.
    buckets = lsh_index_frame(
        corpus, id_col, vec_col, n_tables, n_planes, dim
    ).withColumnRenamed("cand_id", id_col)
    pair_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def bucket_pairs(pdf):
        return _np_triu_pairs(pdf["_vec"], pdf[id_col].to_numpy(), threshold)

    return (
        buckets.groupBy("tbl", "bucket")
        .applyInPandas(bucket_pairs, pair_schema)
        .distinct()
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing a (table, bucket)
    with the query in ANY of the ``n_tables`` hash tables; quantized
    cosine + window rank within candidates. With b planes/table and L
    tables a neighbor at angle θ is found w.p. 1-(1-(1-θ/π)^b)^L.

    Same execution shape as ``ivf_ann_topk``: query buckets are computed
    driver-side (probe queries are small and driver-origin); ONE narrow
    Arrow stage buckets each corpus batch (a single BLAS matmul against
    the broadcast ±1 sign matrix), masks rows colliding with any query
    bucket, scores only those, and emits (query_id, cand_id, cosine) —
    the bucket join replaces the |Q| x |C| cross product with per-bucket
    work (~|C| * L / 2^b candidates per query in expectation), and only
    those candidates reach the final top-k window shuffle. All scores
    are quantized-exact (``QUANT_SCALE``), replayed verbatim by the
    DuckDB oracle."""
    import pandas as pd

    S = _sign_matrix(n_tables, n_planes, dim)
    qids, Qq, qn = _query_panel(
        queries, id_col, vec_col, "lsh_ann_topk", "lsh_ann_topk_probe_table", dim
    )
    qbuckets = _np_bucket_ids(Qq, S, n_tables, n_planes)
    bc = corpus.sparkSession.sparkContext.broadcast((S, qids, Qq, qn, qbuckets))
    id_type = corpus.schema[id_col].dataType

    def score(batches):
        S_, qids_, Qq_, qn_, qb_ = bc.value
        for pdf in batches:
            if len(pdf) == 0 or len(qids_) == 0:
                continue
            Xq, xn = _np_quant_rows(pdf["_vec"])
            B = _np_bucket_ids(Xq, S_, n_tables, n_planes)
            ids = pdf["cand_id"].to_numpy()
            out = []
            for qi in range(len(qids_)):
                # candidate iff the row shares qi's bucket in ANY table
                rows = np.nonzero((B == qb_[qi][None, :]).any(axis=1))[0]
                q = slice(qi, qi + 1)
                S = _np_round6(_np_cos(Qq_[q], qn_[q], Xq[rows], xn[rows]))
                out.append(_np_pairs(qids_[q], ids[rows], S))
            yield pd.concat(out)

    scored = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_vec")
    ).mapInPandas(score, _pair_schema(id_type, id_type))
    return _query_topk(scored, k)


def semantic_dedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_mod: int = 32,
    n_iter: int = 3,
    threshold: float = 0.4,
    model=None,
):
    """SemDeDup-style semantic near-dup pairs: cluster the embedding
    space with the fixed-round quantized k-means
    (operators/kmeans.kmeans_fit), then score all pairs WITHIN each
    cluster and keep those at quantized cosine >= threshold — semantic
    duplicates (paraphrases, re-renderings) that exact/MinHash dedup
    cannot see. Clustering makes the quadratic local: k clusters cut
    candidate pairs from N^2/2 to ~N^2/(2k), and at 100 TB the
    per-cluster work is an embarrassingly parallel Arrow stage (one
    BLAS gram matrix per cluster batch).

    Pass ``model=(cids, C)`` from a prior ``kmeans_fit`` to skip
    refitting (the production shape: the quantizer is trained once and
    reused across dedup runs — same contract as ``ivf_ann_topk``).

    Shape: broadcast centroid model -> one narrow mapInPandas
    assignment pass, one key join to re-attach vectors, one shuffle on
    cluster_id, per-cluster vectorized scoring via applyInPandas.
    Quantized-exact arithmetic (``QUANT_SCALE``) end to end, so the
    DuckDB oracle (kmeans CTE replay + pairwise quantized cosine)
    matches bit-for-bit. Returns (cluster_id, id_a, id_b, cosine),
    id_a < id_b."""
    from .kmeans import _assignments, kmeans_fit

    if model is None:
        model = kmeans_fit(corpus, id_col, vec_col, seed_mod, n_iter)
    id_type = corpus.schema[id_col].dataType
    members = _assignments(corpus, model, id_col, vec_col).join(
        corpus.select(
            F.col(id_col).alias("member_id"), F.col(vec_col).alias("_vec")
        ),
        "member_id",
    )
    pair_schema = T.StructType(
        [
            T.StructField("cluster_id", T.LongType()),
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def cluster_pairs(pdf):
        out = _np_triu_pairs(pdf["_vec"], pdf["member_id"].to_numpy(), threshold)
        out.insert(0, "cluster_id", np.full(len(out), pdf["cluster_id"].iloc[0]))
        return out

    return members.groupBy("cluster_id").applyInPandas(cluster_pairs, pair_schema)


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-k most-cosine-similar corpus vectors with a DIFFERENT label —
    the near-misses that make the loss informative. Same plan shape as
    cosine_topk (broadcast anchors, streamed corpus, per-anchor window
    top-k with WindowGroupLimit pushdown); the label filter runs before
    scoring so agreeing-label rows never pay the dot product."""
    q = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        F.col(vec_col).alias("q_vec"),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(label_col).alias("cand_label"),
        F.col(vec_col).alias("c_vec"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "cand_id",
            "cand_label",
            F.round(cosine_expr("q_vec", "c_vec"), 6).alias("cosine"),
        )
    )
    return _query_topk(scored, k, by="anchor_id")


def projection_signs(out_dim: int, dim: int):
    """±1 sparse-free sign matrix for random projection, md5-derived
    (namespace 'proj' — independent of the LSH planes). Pure literal
    data: the same matrix is embedded in the Spark kernel AND the
    DuckDB oracle, so the projection is engine-portable by
    construction."""
    return [
        [
            1 if hashlib.md5(f"proj:{i}:{j}".encode()).digest()[0] % 2 == 0 else -1
            for j in range(dim)
        ]
        for i in range(out_dim)
    ]


def random_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Signed random projection (Achlioptas ±1 variant): reduce
    ``dim``-d embeddings to ``out_dim`` components y_i = Σ_j s_ij x_j
    — the cheap JL-style dimensionality reduction a 100 TB pipeline
    runs before clustering / near-dup passes to cut vector bytes 4x.

    Exactness: inputs quantize to integers (QUANT_SCALE), the sign
    matrix is ±1, so every output is an exact integer in float64
    regardless of summation order — divided once by QUANT_SCALE into
    the emitted double. Output is EXPLODED to (id, out_i, component)
    rows: portable to hash-compare (array column reprs differ across
    engines) and the shape downstream bucketing wants anyway.

    Shape: ONE narrow Arrow stage (mapInPandas, broadcast 16x64 sign
    matrix, BLAS matmul per batch — higher-order functions are
    CodegenFallback and ~8x slower); no shuffle at all. At 100 TB this
    is a pure map over the corpus partitions."""
    import pandas as pd

    S = np.array(projection_signs(out_dim, dim), dtype=np.float64)
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_type),
            T.StructField("out_i", T.IntegerType()),
            T.StructField("component", T.DoubleType()),
        ]
    )

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Y = _np_quant_rows(pdf["_v"])[0] @ S.T  # exact integers < 2^26 * dim
            ids = pdf["_id"].to_numpy()
            n = len(ids)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, out_dim),
                    "out_i": np.tile(np.arange(out_dim, dtype=np.int32), n),
                    "component": Y.reshape(-1) / QUANT_SCALE,
                }
            )

    return df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(project, out_schema)


def random_project_oracle_sql(
    src: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    dim: int = 64,
) -> str:
    """DuckDB replay of ``random_project``: same literal sign rows over
    the same quantized components — exact integer sums, one division."""
    qs = f"{int(QUANT_SCALE)}.0"
    signs = projection_signs(out_dim, dim)
    selects = []
    for i in range(out_dim):
        arr = "[" + ", ".join("1.0" if s > 0 else "-1.0" for s in signs[i]) + "]"
        dot = (
            f"list_sum(list_transform(list_zip({vec_col}, {arr}),"
            f" z -> round(CAST(z[1] AS DOUBLE) * {qs}) * CAST(z[2] AS DOUBLE)))"
        )
        selects.append(
            f"SELECT {id_col}, {i} AS out_i,"
            f" CAST({dot} / {qs} AS DOUBLE) AS component FROM {src}"
        )
    return "(" + "\nUNION ALL\n".join(selects) + ")"


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization audit — the 4x storage
    cut a 100 TB embedding store takes before ANN indexing: scale =
    max|x_j|, q_j = round(x_j / scale * 127), and the summary a
    quantization rollout reviews per vector: the scale, the exact
    integer code sum (a cheap content fingerprint of the codes), and
    the worst reconstruction error max|x_j − q_j·scale/127|.

    Determinism: float components widen to double identically in both
    engines, every expression tree is spelled identically in the
    oracle, and round() is half-away-from-zero in both. Zero vectors
    quantize to all-zero codes (scale 0 guarded). Higher-order
    functions are acceptable here — per-element maps with no BLAS
    shape, output is one row per vector, and the op is audit-grade,
    not a scoring hot path (those use the broadcast-numpy kernels
    above).

    Shape: narrow single scan, no shuffle at any corpus size."""
    x = F.expr(f"transform({vec_col}, v -> CAST(v AS DOUBLE))")
    scale = F.array_max(F.expr(f"transform({vec_col}, v -> abs(CAST(v AS DOUBLE)))"))
    base = df.select(
        F.col(id_col), x.alias("_x"), scale.alias("scale")
    )
    q = F.expr(
        "CASE WHEN scale = 0 THEN transform(_x, v -> CAST(0 AS BIGINT)) "
        "ELSE transform(_x, v -> CAST(round(v / scale * 127) AS BIGINT)) END"
    )
    withq = base.withColumn("_q", q)
    recon_err = F.expr(
        "CASE WHEN scale = 0 THEN CAST(0 AS DOUBLE) ELSE "
        "array_max(zip_with(_x, _q, (v, c) -> abs(v - c * scale / 127))) END"
    )
    return withq.select(
        id_col,
        F.size("_x").alias("n_dims"),
        F.col("scale"),
        F.expr(
            "aggregate(_q, CAST(0 AS BIGINT), (a, c) -> a + c)"
        ).alias("sum_q"),
        F.round(recon_err, 9).alias("max_abs_err"),
    )


def centroid_drift(
    df: DataFrame, vec_col: str, slice_col, scale: int = int(QUANT_SCALE)
) -> DataFrame:
    """Embedding-space drift between two corpus slices: the cosine
    between the slices' centroid vectors — the numeric complement of
    the lexical/KS drift gates (a new crawl snapshot whose embedding
    centroid swings away from the reference slice changes the training
    distribution even when token stats look stable).

    Exactness: components quantize to the ``scale`` grid (half-up,
    exact float→double product), per-dim sums are exact bigints, the
    per-dim MEAN re-lands on the quantized grid via a shift-then-
    truncate division (numerator made nonnegative first, so Spark's
    ``div`` and DuckDB's ``//`` agree), and dot/norms over the d-entry
    mean vectors are exact bigints (bounded by d·(2·scale)² — 2^44 for
    d=64 at the default grid, independent of corpus size). One IEEE
    division + sqrt at the end; the oracle replays bit-for-bit at ANY
    row count (sums stay exact while n·scale < 2^63 — ~3·10^13 rows).

    Shape: ``spread_input`` then ONE posexplode + grouped partial-agg
    pass — the d× row expansion collapses to the (2·d)-row grid inside
    the map stage (map-side combine), so the exchange carries ~2·d
    rows regardless of corpus size; everything after is grid-sized.

    ``slice_col``: boolean Column; False = slice a, True = slice b.
    Output (1 row): n_a, n_b, n_dims, dot_q, centroid_cosine."""
    from .dedup import spread_input

    e = spread_input(df.select(slice_col.cast("boolean").alias("_sb"), vec_col))
    exploded = e.select(
        "_sb", F.posexplode(vec_col).alias("_pos", "_x")
    ).select(
        "_sb",
        (F.col("_pos") + 1).alias("dim"),
        F.round(F.col("_x").cast("double") * F.lit(float(scale)))
        .cast("long")
        .alias("_q"),
    )
    per = exploded.groupBy("_sb", "dim").agg(
        F.sum("_q").alias("_s"), F.count("*").alias("_n")
    )
    m = per.select(
        "_sb",
        "dim",
        "_n",
        F.expr(f"((_s + _n * {scale}L) div _n) - {scale}L").alias("_m"),
    )
    a = m.filter(~F.col("_sb")).select(
        "dim", F.col("_m").alias("_ma"), F.col("_n").alias("_na")
    )
    b = m.filter(F.col("_sb")).select(
        "dim", F.col("_m").alias("_mb"), F.col("_n").alias("_nb")
    )
    j = a.join(b, "dim")
    return (
        j.agg(
            F.min("_na").alias("n_a"),
            F.min("_nb").alias("n_b"),
            F.count("*").cast("int").alias("n_dims"),
            F.sum(F.col("_ma") * F.col("_mb")).alias("dot_q"),
            F.sum(F.col("_ma") * F.col("_ma")).alias("_aa"),
            F.sum(F.col("_mb") * F.col("_mb")).alias("_bb"),
        )
        .select(
            "n_a",
            "n_b",
            "n_dims",
            "dot_q",
            F.when(
                (F.col("_aa") > 0) & (F.col("_bb") > 0),
                F.round(
                    F.col("dot_q").cast("double")
                    / F.sqrt(
                        F.col("_aa").cast("double") * F.col("_bb").cast("double")
                    ),
                    6,
                ),
            ).alias("centroid_cosine"),  # NULL when a centroid is zero
        )
    )


def ann_recall_audit(
    corpus: DataFrame,
    probe_pred,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """ANN quality measurement — recall@k of the LSH probe-table path
    against the exact brute-force ground truth, per probe. This is the
    number that DECIDES n_tables/n_planes before anyone trusts the
    approximate index at 100 TB: tuning blind is how silent recall
    collapse ships. Run it on a small fixed probe panel per ingest
    batch and alert on drops (the same discipline as the drift gates).
    ``probe_pred`` (a boolean Column over ``id_col``) marks the panel
    among the corpus rows.

    Output: (query_id, n_exact, n_hits, recall_ppm) where recall_ppm =
    (hits·10⁶) div |exact top-k| — exact integers, engine-identical;
    both sides use deterministic (score DESC, id) tie-breaks, so the
    id sets — and therefore the audit — replay bit-for-bit.

    Shape: the exact side broadcasts the (constant-size) probe panel
    over one corpus stream + a WindowGroupLimit top-k. The approximate
    side reads the audited bucket index from ``lsh_index_frame`` (it IS
    the stored index being audited; rebuilding it per audit run
    mis-models the lifecycle), drops never-probed buckets map-side by a
    broadcast semi join on the panel's own (tbl, bucket) keys, and
    scores through the flagged one-exchange kernel. The comparison is a
    semi join at top-k volume. Keep the panel fixed-size (it rides a
    broadcast nested-loop by design); the corpus side scales freely."""
    probes = corpus.filter(probe_pred)
    # the hit semi join and the n_exact denominator both read the brute-force scan
    exact = shared(cosine_topk(corpus, probes, id_col, vec_col, k).select("query_id", "cand_id"))
    buckets = lsh_index_frame(corpus, id_col, vec_col, n_tables, n_planes, dim)
    # probed (tbl, bucket) keys from the panel's own index rows — one
    # tiny Arrow stage over the filtered panel scan, the price of
    # dropping never-probed buckets map-side before the exchange
    probe_keys = (
        lsh_build_buckets(probes, id_col, vec_col, n_tables, n_planes, dim)
        .select("tbl", "bucket")
        .distinct()
    )
    # probe_pred is written over ``id_col`` (it also filters the corpus
    # for the exact side)
    scored = _lsh_flagged_scores(
        buckets.join(F.broadcast(probe_keys), ["tbl", "bucket"], "left_semi"),
        probe_pred,
        pred_col=id_col,
    )
    approx = _query_topk(scored, k, dense=True).select("query_id", "cand_id")
    hits = exact.join(approx, ["query_id", "cand_id"], "left_semi")
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    n_hits = hits.groupBy("query_id").agg(F.count("*").alias("n_hits"))
    return (
        n_exact.join(n_hits, "query_id", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.expr("(n_hits * 1000000) div n_exact").alias("recall_ppm"),
        )
    )
