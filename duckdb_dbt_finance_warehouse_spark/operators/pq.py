"""Product quantization (PQ) — compressed-domain ANN serving.

At 100 TB the raw embedding table is the cost: a 64-dim float array is
256+ bytes/row, and every ANN scan (brute force, IVF list scoring,
recall audits) pays to move it. PQ stores each vector as M small CODE
IDS instead — split the vector into M subvectors, quantize each against
a per-subspace codebook, keep only the code ids (M bytes at K<=256).
Serving runs ASYMMETRIC DISTANCE COMPUTATION (ADC): per query, build a
(M x K) lookup table of exact subspace distances once, then every
corpus row's approximate distance is M table lookups — a narrow scan
over the 30-60x smaller codes table, no vector math per row. This is
the FAISS IVF-PQ serving shape (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011), re-expressed as DataFrame +
Arrow stages.

Determinism contract (same stack as operators/similarity and
operators/kmeans, so the DuckDB oracle replays everything bit-for-bit):
- components quantized to the 2^-18 grid (``similarity._np_quant``) — every
  subspace squared distance is an exact integer; the full ADC sum is
  bounded by dim·(2·|x|·2^18)², so it stays exact in float64 while
  |x| <= ~15 at dim=64 (the embeddings here are |x| <= ~1 — ample
  headroom; larger component ranges need a smaller QUANT_SCALE or an
  int64 ADC accumulator);
- codebooks are stride-seeded (``vec_id % seed_mod == 0``), cid-sorted,
  code id = rank in that order — the IVF seeding convention; swap in
  per-subspace ``kmeans.kmeans_fit`` codebooks at deployment for a
  FIXED K (the seeded K grows with the corpus and carries the same
  MAX_SEED_COLLECT cap);
- encode ties go to the LOWEST code id (np.argmin first occurrence ==
  SQL ``min(code) WHERE d2 = min_d2``);
- ADC ranks ascending by exact-integer distance, ties to the lowest
  cand_id.

Scale shape: ``pq_encode`` is one narrow Arrow pass (broadcast
codebooks, int64 BLAS), no shuffle — the codes frame IS the stored
index (append new batches under the frozen codebooks exactly like
``similarity.ivf_build_lists``; frozen codebooks make append ==
rebuild). ``pq_adc_topk`` broadcasts the (bounded) probe panel's LUT,
streams the codes table once, and pays one query-keyed window for the
top-k — the same envelope as the exact ``cosine_topk`` but over codes
instead of vectors.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..state import stored
from . import similarity
from .similarity import (
    QUANT_SCALE,
    _model_digest,
    _np_adc,
    _np_cell_sums,
    _np_half_away,
    _np_nearest,
    _np_pairs,
    _np_pq_encode,
    _np_pq_luts,
    _np_quant_rows,
    _pair_schema,
    _query_topk,
)


def pq_seed_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    seed_mod: int = 32,
):
    """Stride-seeded PQ model: (code_vids, Cq) where Cq is the (K x dim)
    QUANT_SCALE-quantized seed matrix, cid-sorted — code id m for
    subspace s is row m's s-th subvector. K = corpus/seed_mod rows on
    the driver (the model, not the data) — capped like every seeding
    collect; train per-subspace k-means for a fixed K in production."""
    cids, Cq = similarity._seed_centroids(
        corpus, id_col, vec_col, seed_mod, "pq_seed_codebooks"
    )
    _check_subspaces(Cq, n_subspaces)
    return cids, Cq


def _check_subspaces(Cq, n_subspaces: int) -> None:
    if Cq.shape[1] % n_subspaces != 0:
        raise ValueError(
            f"pq: dim {Cq.shape[1]} not divisible into {n_subspaces} subspaces"
        )


def pq_train_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
    seed_mod: int = 32,
    n_iter: int = 2,
):
    """TRAINED PQ codebooks — per-subspace EUCLIDEAN Lloyd rounds (ADC
    ranks by squared L2, so the codebooks must be trained in that
    metric, not the spherical-cosine one ``kmeans.kmeans_fit`` uses for
    the coarse quantizer). Seeded from the same deterministic stride as
    ``pq_seed_codebooks``; each round runs ONE Arrow pass over the
    corpus that assigns EVERY subspace (argmin exact-integer d2, ties
    to the lowest code id) and emits per-(subspace, code) component
    sums, map-combined per batch — the shuffle carries at most
    M x K x (dsub+1) rows per batch and the corpus is never shuffled.
    The driver-side update re-quantizes each mean half-away-from-zero
    (one IEEE division of exact ints per component — bit-replayable in
    SQL); empty codes keep their previous codeword.

    Returns (code_vids, Cq) in the exact ``pq_seed_codebooks`` shape —
    row r of Cq concatenates code r's codeword in every subspace — so
    the model drops into ``pq_encode`` / ``pq_adc_topk`` / ``ivf_pq_build``
    unchanged, and the model stays FROZEN afterwards (append == rebuild,
    the index lifecycle invariant). At 100 TB: n_iter linear scans, a
    KB-scale model on the driver.  Memoized by (corpus plan semantics,
    params) — training is the frozen model's build event; repeat fits
    return the stored codebooks (treat as immutable; the PQ and IVF-PQ
    trained entries fit identical codebooks over the same corpus)."""
    return stored(
        "pq.codebooks",
        corpus,
        (id_col, vec_col, n_subspaces, seed_mod, n_iter, "pq_codebooks"),
        lambda: _train_codebooks(
            corpus, id_col, vec_col, n_subspaces, seed_mod, n_iter
        ),
    )


def _train_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_subspaces: int,
    seed_mod: int,
    n_iter: int,
):
    import pandas as pd

    cids, Cq = pq_seed_codebooks(corpus, id_col, vec_col, n_subspaces, seed_mod)
    spark = corpus.sparkSession
    K, dim = Cq.shape
    dsub = dim // n_subspaces
    src = corpus.select(F.col(vec_col).alias("_vec"))
    sums_schema = T.StructType(
        [
            T.StructField("m", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("d", T.IntegerType()),
            T.StructField("s", T.LongType()),
        ]
    )

    def make_kernel(bc):
        def kernel(batches):
            C = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = _np_quant_rows(pdf["_vec"])[0]
                codes = _np_pq_encode(V, C, n_subspaces)
                parts = []
                for m in range(n_subspaces):
                    code, d, s = _np_cell_sums(
                        V[:, m * dsub : (m + 1) * dsub], codes[:, m]
                    )
                    m_col = np.full(len(code), m, dtype=np.int32)
                    parts.append(pd.DataFrame({"m": m_col, "code": code, "d": d, "s": s}))
                yield pd.concat(parts)

        return kernel

    for _ in range(n_iter):
        bc = spark.sparkContext.broadcast(Cq)
        cells = (
            src.mapInPandas(make_kernel(bc), sums_schema)
            .groupBy("m", "code", "d")
            .agg(F.sum("s").alias("s"))
            .collect()
        )
        # the round's scan is complete and the next round rebinds bc —
        # release this codebook's driver+executor copies now, or a
        # 65-query single-JVM bench accumulates one per round (r8 ADVICE)
        bc.destroy()
        counts: dict[tuple[int, int], int] = {}
        sums: dict[tuple[int, int], np.ndarray] = {}
        for r in cells:
            key = (r["m"], r["code"])
            if r["d"] == -1:
                counts[key] = r["s"]
            else:
                sums.setdefault(key, np.zeros(dsub))[r["d"]] = r["s"]
        newC = Cq.copy()  # empty codes keep their previous codeword
        for m in range(n_subspaces):
            for c in range(K):
                n = counts.get((m, c))
                if n:
                    mean = sums[(m, c)].astype(np.float64) / float(n)
                    newC[c, m * dsub : (m + 1) * dsub] = _np_half_away(mean)
        Cq = newC
    # freeze the memoized arrays: every later hit returns these SAME
    # objects, and an in-place mutation by one consumer would corrupt
    # all of them (and desync _model_digest-keyed stored indexes) —
    # enforce immutability instead of documenting it (r13 ADVICE)
    cids.setflags(write=False)
    Cq.setflags(write=False)
    return cids, Cq


def pq_encode(
    corpus: DataFrame,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
) -> DataFrame:
    """Encode every vector as its per-subspace nearest-code ids under
    the FROZEN ``model`` (code_vids, Cq): one narrow Arrow pass,
    broadcast codebooks, exact-integer squared distances, ties to the
    lowest code id. Output (cand_id, codes array<int> length M) — the
    stored PQ index; 30-60x smaller than the vector table."""
    import pandas as pd

    bc = corpus.sparkSession.sparkContext.broadcast(np.asarray(model[1], np.float64))
    out_schema = T.StructType(
        [
            T.StructField("cand_id", corpus.schema[id_col].dataType),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        C = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = _np_pq_encode(_np_quant_rows(pdf["_vec"])[0], C, n_subspaces)
            yield pd.DataFrame(
                {"cand_id": pdf["_id"].to_numpy(), "codes": list(codes)}
            )

    return corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).mapInPandas(encode, out_schema)


# stored code/list frames (state.stored — the stored-index lifecycle
# shared with similarity.lsh_index_frame / ivf_lists_frame): the
# encode/assign Arrow pass over the corpus is the index BUILD event;
# every ADC/probe invocation over the same (corpus, frozen model(s))
# reads the one materialized build.


def pq_codes_frame(
    corpus: DataFrame,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
) -> DataFrame:
    """``pq_encode`` as STORED state: persisted and memoized by
    (corpus plan semantics, frozen-codebook digest)."""
    return stored(
        "pq.codes",
        corpus,
        (id_col, vec_col, n_subspaces, _model_digest(model[1]), "pq_codes"),
        lambda: pq_encode(corpus, model, id_col, vec_col, n_subspaces),
    )


def ivf_pq_lists_frame(
    corpus: DataFrame,
    ivf_model,
    pq_model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
) -> DataFrame:
    """``ivf_pq_build`` as STORED state: persisted and memoized by
    (corpus plan semantics, both frozen-model digests)."""
    key = (
        id_col,
        vec_col,
        n_subspaces,
        _model_digest(ivf_model[0], ivf_model[1]),
        _model_digest(pq_model[1]),
        "ivf_pq_lists",
    )
    return stored(
        "pq.codes",
        corpus,
        key,
        lambda: ivf_pq_build(
            corpus, ivf_model, pq_model, id_col, vec_col, n_subspaces
        ),
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_subspaces: int = 4,
) -> DataFrame:
    """ADC serving over a pre-built (possibly stored) ``codes`` table:
    collect the bounded probe panel (capped — a table-sized query side
    belongs on the IVF/LSH cogroup paths), build each query's exact
    (M x K) subspace-distance LUT driver-side, broadcast the LUTs, and
    stream the codes once — each row costs M integer lookups. One
    query-keyed window ranks ascending by the exact-integer approximate
    distance (ties to lowest cand_id). Output (query_id, cand_id,
    adist, rank)."""
    # the LUT/kernel paths carry ids as int64 numpy arrays
    similarity._integral_id(queries, id_col, "pq_adc_topk")
    C = np.asarray(model[1], np.float64)
    # an empty query frame (an upstream filter matching nothing in a
    # scheduled job) is a (0, dim) panel and degrades to an empty
    # result with the serving schema, not a hard failure (r8 ADVICE)
    qids, Q, _ = similarity._query_panel(
        queries, id_col, vec_col, "pq_adc_topk", "ivf_ann_topk_probe_table",
        C.shape[1],
    )
    bc = codes.sparkSession.sparkContext.broadcast(
        (qids, _np_pq_luts(Q, C, n_subspaces))
    )

    def score(batches):
        qids_, luts_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            S = _np_adc(luts_, pdf["codes"])
            yield _np_pairs(qids_, pdf["cand_id"].to_numpy(), S, "adist")

    out_schema = _pair_schema(
        queries.schema[id_col].dataType, codes.schema["cand_id"].dataType, "adist"
    )
    scored = codes.mapInPandas(score, out_schema)
    return _query_topk(scored, k, score="adist", asc=True)


def pq_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_subspaces: int = 4,
    seed_mod: int = 32,
    model=None,
) -> DataFrame:
    """End-to-end PQ ANN: seed (or take) the codebook model, encode the
    corpus, ADC-rank the probe panel. ``model=None`` uses the stride
    seeding; pass per-subspace-trained codebooks in production."""
    if model is None:
        model = pq_seed_codebooks(corpus, id_col, vec_col, n_subspaces, seed_mod)
    codes = pq_codes_frame(corpus, model, id_col, vec_col, n_subspaces)
    return pq_adc_topk(
        codes, queries, model, id_col, vec_col, k, n_subspaces
    )


def ivf_pq_build(
    corpus: DataFrame,
    ivf_model,
    pq_model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 4,
) -> DataFrame:
    """IVF-PQ INDEX BUILD — the full FAISS serving stack's stored form:
    ONE narrow Arrow pass assigns each vector to its nearest coarse
    centroid (same argmax-cosine/lowest-cid contract as
    ``similarity.ivf_build_lists``) AND product-quantizes it, emitting
    (centroid_id, cand_id, codes). The inverted lists carry CODE IDS
    instead of raw vectors — 30-60x smaller, which is what makes the
    list scan affordable at 100 TB. Both models are frozen, so batch
    append == full rebuild, same as every index here."""
    import pandas as pd

    bc = corpus.sparkSession.sparkContext.broadcast(
        (*similarity._model3(ivf_model), np.asarray(pq_model[1], np.float64))
    )
    out_schema = T.StructType(
        [
            T.StructField("centroid_id", T.LongType()),
            T.StructField("cand_id", corpus.schema[id_col].dataType),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def build(batches):
        cids_, Cq_, cn_, PQC_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V, vn = _np_quant_rows(pdf["_vec"])
            yield pd.DataFrame(
                {
                    "centroid_id": cids_[_np_nearest(V, vn, Cq_, cn_)],
                    "cand_id": pdf["_id"].to_numpy(),
                    "codes": list(_np_pq_encode(V, PQC_, n_subspaces)),
                }
            )

    return corpus.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")
    ).mapInPandas(build, out_schema)


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids_mod: int = 32,
    n_probes: int = 2,
    n_subspaces: int = 4,
    seed_mod: int = 32,
    ivf_model=None,
    pq_model=None,
) -> DataFrame:
    """IVF-PQ serving with an UNBOUNDED probe table — coarse pruning to
    ``n_probes`` inverted lists per query, then ADC scoring of each
    list's CODES against exactly the probes that probe it, via one
    (centroid_id) cogroup. Unlike ``pq_adc_topk`` (bounded panel +
    broadcast LUTs) nothing data-sized touches the driver: probe
    vectors ride the cogroup shuffle and each kernel call builds its
    probes' LUTs locally against the broadcast codebook (K x dim ints).
    Shuffle volume is |codes| + n_probes x |queries| — with codes 30-60x
    narrower than vectors, this is the cheapest serving exchange in the
    family. Ranks ascend by exact-integer approximate distance, ties to
    the lowest cand_id; the oracle replays both quantizers end to end."""
    ivf3 = similarity._ivf_model(
        corpus, id_col, vec_col, n_centroids_mod, ivf_model, "ivf_pq_topk"
    )
    if pq_model is None:
        if ivf_model is None and seed_mod == n_centroids_mod:
            # both untrained models seed from the SAME stride rows —
            # reuse the ivf collect instead of scanning the seeds twice
            _check_subspaces(ivf3[1], n_subspaces)
            pq_model = (ivf3[0], ivf3[1])
        else:
            pq_model = pq_seed_codebooks(
                corpus, id_col, vec_col, n_subspaces, seed_mod
            )
    lists = ivf_pq_lists_frame(
        corpus, ivf3, pq_model, id_col, vec_col, n_subspaces
    )
    return ivf_pq_probe_lists_topk(
        lists, queries, ivf3, pq_model, id_col, vec_col, k, n_probes,
        n_subspaces,
    )


def ivf_pq_probe_lists_topk(
    lists: DataFrame,
    queries: DataFrame,
    ivf_model,
    pq_model,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probes: int = 2,
    n_subspaces: int = 4,
) -> DataFrame:
    """IVF-PQ SERVING over a pre-built (possibly STORED) codes index —
    the production read path for an index maintained by batch append
    (``ivf_pq_build`` + Warehouse append): ``lists`` is
    (centroid_id, cand_id, codes). Probe fan-out, per-list ADC, and the
    top-k window are identical to ``ivf_pq_topk``'s tail — both models
    must be the FROZEN pair the index was built under."""
    probes = similarity._ivf_probe_frame(queries, ivf_model, id_col, vec_col, n_probes)
    PQC = np.asarray(pq_model[1], np.float64)
    bc = queries.sparkSession.sparkContext.broadcast(PQC)
    dim = PQC.shape[1]
    out_schema = _pair_schema(
        queries.schema[id_col].dataType,
        lists.schema["cand_id"].dataType,
        "adist",
    )

    def score(cands, prbs):
        # each call builds its probes' LUTs locally against the
        # broadcast codebook; an empty side is a (0, dim) panel
        luts = _np_pq_luts(_np_quant_rows(prbs["_vec"], dim)[0], bc.value, n_subspaces)
        S = _np_adc(luts, cands["codes"])
        return _np_pairs(prbs["query_id"].to_numpy(), cands["cand_id"].to_numpy(), S, "adist")

    scored = (
        lists.groupBy("centroid_id")
        .cogroup(probes.groupBy("centroid_id"))
        .applyInPandas(score, out_schema)
    )
    return _query_topk(scored, k, score="adist", asc=True)


def _pq_base_ctes(
    src: str, id_col: str, vec_col: str, n_subspaces: int, dim: int
) -> str:
    """Shared oracle prefix: quantized component explode (q), the
    per-subspace component view (sub, kept for the training-round mean
    updates), and the per-(vector, subspace) VECTOR view (svec) every
    distance computation runs on — see ``_pq_serving_ctes``."""
    qs = f"{int(QUANT_SCALE)}.0"
    dsub = dim // n_subspaces
    return f"""q AS (
      SELECT {id_col} AS vid, CAST(i AS INT) AS dim,
             round(CAST({vec_col}[CAST(i AS INT) + 1] AS DOUBLE) * {qs}) AS qv
      FROM {src}, unnest(generate_series(0, {dim - 1})) AS u(i)),
    sub AS (SELECT vid, dim // {dsub} AS m, dim % {dsub} AS d, qv FROM q),
    svec AS (
      SELECT vid, m, v, list_inner_product(v, v) AS vv
      FROM (SELECT vid, m, list(qv ORDER BY d) AS v FROM sub GROUP BY 1, 2))"""


def _pq_cvec_cte(name: str, cb: str) -> str:
    """Vectorize a per-component codebook CTE ``cb`` (code, m, d, qc)
    into (code, m, c list, cc self-product) for the list-form distance."""
    return f"""{name} AS (
      SELECT code, m, c, list_inner_product(c, c) AS cc
      FROM (SELECT code, m, list(qc ORDER BY d) AS c FROM {cb} GROUP BY 1, 2))"""


# Exact-integer squared distance in vector form: every qv/qc is an
# exact integer in a DOUBLE, so vv - 2*<v,c> + cc == sum_d (qv-qc)^2
# with every product and sum below 2^53 — bit-identical to the r8
# component-summed form. The vector form exists because the summed
# form's GROUP BY (vid, m, code) built an N*K*M-group hash table
# (~300M groups at sf1) that exhausted DuckDB's spill disk; here the
# N*K join output streams through an N*M-group argmin instead.
_D2 = "s.vv - 2 * list_inner_product(s.v, c.c) + c.cc"


def _pq_serving_ctes(panel_pred: str, k: int) -> str:
    """Shared oracle suffix: encode -> LUT -> ADC -> top-k over a ``cb``
    CTE of shape (code, m, d, qc) — seeded or trained, same serving.
    Encode is a single streaming argmin (min over a (d2, code) struct:
    lexicographic, so ties go to the lowest code id, matching the r8
    window form and the Spark kernel)."""
    return f"""{_pq_cvec_cte("cvec", "cb")},
    enc AS (
      SELECT s.vid, s.m,
             struct_extract(min({{'d2': {_D2}, 'code': c.code}}), 'code') AS code
      FROM svec s JOIN cvec c USING (m)
      GROUP BY 1, 2),
    lut AS (
      SELECT s.vid AS qid, s.m, c.code, {_D2} AS d2
      FROM svec s JOIN cvec c USING (m)
      WHERE s.{panel_pred}),
    adc AS (
      SELECT l.qid AS query_id, e.vid AS cand_id,
             CAST(sum(l.d2) AS BIGINT) AS adist
      FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
      WHERE e.vid != l.qid GROUP BY 1, 2),
    ranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY adist ASC, cand_id) AS INT) AS rank
      FROM adc)
    SELECT query_id, cand_id, adist, rank FROM ranked WHERE rank <= {k}"""


def pq_oracle_sql(
    src: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    panel_pred: str = "vid < 16",
    k: int = 5,
    n_subspaces: int = 4,
    seed_mod: int = 32,
    dim: int = 64,
) -> str:
    """DuckDB SQL replaying seed -> encode -> ADC -> top-k bit-for-bit:
    same quantized grid, same exact-integer squared distances, same
    tie-breaks (lowest code id on encode, lowest cand_id on rank)."""
    return f"""
    WITH {_pq_base_ctes(src, id_col, vec_col, n_subspaces, dim)},
    cb AS (
      SELECT dense_rank() OVER (ORDER BY vid) - 1 AS code, m, d, qv AS qc
      FROM sub WHERE vid % {seed_mod} = 0),
    {_pq_serving_ctes(panel_pred, k)}
    """


def pq_trained_oracle_sql(
    src: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    panel_pred: str = "vid < 16",
    k: int = 5,
    n_subspaces: int = 4,
    seed_mod: int = 32,
    n_iter: int = 2,
    dim: int = 64,
) -> str:
    """DuckDB SQL replaying the TRAINED-codebook pipeline bit-for-bit:
    stride seed -> ``n_iter`` unrolled per-subspace Euclidean Lloyd
    rounds (argmin exact-int d2, ties to lowest code; mean re-quantized
    half-away-from-zero; empty codes keep the previous codeword) ->
    encode -> ADC -> top-k. Mirrors ``pq_train_codebooks`` +
    ``pq_ann_topk(model=...)``."""
    parts = [
        _pq_base_ctes(src, id_col, vec_col, n_subspaces, dim),
        *_pq_trained_cb_ctes(seed_mod, n_iter),
        _pq_serving_ctes(panel_pred, k),
    ]
    return "\n    WITH " + ",\n    ".join(parts) + "\n    "


def _pq_trained_cb_ctes(seed_mod: int, n_iter: int) -> list[str]:
    """The unrolled Lloyd-round CTE chain (stride seed cb0 ->
    cb{n_iter} -> final ``cb``) shared by the flat trained oracle and
    the IVF-PQ trained oracle. Expects ``sub``/``svec`` in scope
    (``_pq_base_ctes``)."""
    parts = [
        f"""cb0 AS (
      SELECT dense_rank() OVER (ORDER BY vid) - 1 AS code, m, d, qv AS qc
      FROM sub WHERE vid % {seed_mod} = 0)""",
    ]
    for t in range(n_iter):
        parts.append(
            f"""{_pq_cvec_cte(f"cvec{t}", f"cb{t}")},
    ta{t} AS (
      SELECT s.vid, s.m,
             struct_extract(min({{'d2': {_D2}, 'code': c.code}}), 'code') AS code
      FROM svec s JOIN cvec{t} c USING (m)
      GROUP BY 1, 2),
    tu{t} AS (
      SELECT a.m, a.code, s.d,
             CAST(sum(s.qv) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
      FROM ta{t} a JOIN sub s ON s.vid = a.vid AND s.m = a.m
      GROUP BY 1, 2, 3),
    cb{t + 1} AS (
      SELECT c.code, c.m, c.d,
             CASE WHEN u.mean IS NULL THEN c.qc
                  WHEN u.mean < 0 THEN -floor(-u.mean + 0.5)
                  ELSE floor(u.mean + 0.5)
             END AS qc
      FROM cb{t} c LEFT JOIN tu{t} u
        ON u.m = c.m AND u.code = c.code AND u.d = c.d)"""
        )
    parts.append(f"cb AS (SELECT code, m, d, qc FROM cb{n_iter})")
    return parts

