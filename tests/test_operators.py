"""Semantic tests for the extension operators: known-answer fixtures for
dedup/similarity/text/as-of, determinism of the hash-seeded operators,
and LSH-vs-exact agreement."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from duckdb_dbt_finance_warehouse_spark.operators import (
    asof,
    dedup,
    multimodal,
    sessionize,
    similarity,
    text,
)
from duckdb_dbt_finance_warehouse_spark.state import release_persisted

from .png_oracle import decode_png, decode_png_batch, encode_png

SF = "/root/testdata/sf0.001"

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
    (3, "completely different content about spark query engines and shuffles"),
    (4, "The  Quick Brown fox jumps over the lazy dog near the river bank today"),  # case/ws dup of 1
    (5, "el gato y el perro con la casa de la madre una manana"),  # spanish-ish
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_normalizes_case_and_whitespace(spark):
    out = {r["doc_id"]: r for r in dedup.exact_dedup(docs_df(spark), "doc_id", "text").collect()}
    assert out[4]["is_duplicate"] is True and out[4]["keep_id"] == 1
    assert out[1]["is_duplicate"] is False
    assert out[2]["is_duplicate"] is False  # near-dup, not exact


def test_minhash_lsh_finds_near_dup_and_is_deterministic(spark):
    run = lambda: sorted(
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_dedup_portable(
            docs_df(spark), "doc_id", "text", threshold=0.5
        ).collect()
    )
    pairs = run()
    assert (1, 2) in pairs and (1, 4) in pairs  # near-dup + normalized dup
    assert all(3 not in p for p in pairs)  # unrelated doc never pairs
    assert pairs == run()  # seeded hashes -> bit-stable across runs


def test_incremental_minhash_matches_full_recompute(spark):
    """Batch-2 dedup against the persisted batch-1 index must find
    exactly the pairs a full recompute finds that involve batch-2 docs —
    the O(batch) incremental path is semantics-preserving."""
    batch1 = spark.createDataFrame(DOCS, ["doc_id", "text"])
    batch2 = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog near the river bank todays"),  # near-dup of 1
            (12, "entirely novel content with no relatives anywhere in either batch"),
            (13, "entirely novel content with no relatives anywhere in either batch!!"),  # near-dup of 12
        ],
        ["doc_id", "text"],
    )
    idx_sigs = dedup.portable_signatures(batch1, "doc_id", "text")
    idx_bands = dedup.portable_bands(idx_sigs, "doc_id")
    inc_pairs, new_sigs, new_bands = dedup.minhash_lsh_dedup_incremental(
        batch2, idx_sigs, idx_bands, "doc_id", "text", threshold=0.5
    )
    got = {(r["id_a"], r["id_b"]) for r in inc_pairs.collect()}

    full = dedup.minhash_lsh_dedup_portable(
        batch1.unionByName(batch2), "doc_id", "text", threshold=0.5
    )
    new_ids = {11, 12, 13}
    want = set()
    for r in full.collect():
        a, b = r["id_a"], r["id_b"]
        if a in new_ids or b in new_ids:
            # incremental orients (new, index) pairs as (id_a=new, id_b=index)
            want.add((a, b) if a in new_ids else (b, a))
    assert got == want and (11, 1) in got and (12, 13) in got
    # appended index rows cover the new batch
    assert new_sigs.count() == 3 and new_bands.count() == 3 * 16
    release_persisted()


def test_dedup_index_lifecycle_lossless(spark):
    """Three batches, each deduped by ``minhash_lsh_dedup_incremental``
    against the ``portable_index_frames`` index of the batches before
    it, must together emit EXACTLY the full-corpus pair set — the
    invariant that makes the incremental mode a safe replacement for
    the nightly full pass (band collisions are a pure function of the
    signatures, which don't depend on batch boundaries). A re-run from
    empty stored state reproduces the same pairs (deterministic)."""
    from duckdb_dbt_finance_warehouse_spark.operators.dedup import (
        minhash_lsh_dedup_incremental,
        minhash_lsh_dedup_portable,
        portable_index_frames,
    )
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata
    from duckdb_dbt_finance_warehouse_spark.state import reset_stored_state

    docs = load_testdata(spark, SF, "documents")["documents"]
    cfg = dict(k=4, n_hashes=32, bands=8, threshold=0.5)
    index_cfg = {k: v for k, v in cfg.items() if k != "threshold"}

    def incremental_pairs() -> set[tuple]:
        got: set[tuple] = set()
        for m in (0, 1, 2):
            batch = docs.filter(F.col("doc_id") % 3 == m)
            indexed = docs.filter(F.col("doc_id") % 3 < m)
            sigs, bands = portable_index_frames(indexed, "doc_id", "text", **index_cfg)
            pairs, _, _ = minhash_lsh_dedup_incremental(
                batch, sigs, bands, "doc_id", "text", **cfg
            )
            got |= {tuple(sorted((r["id_a"], r["id_b"]))) for r in pairs.collect()}
        reset_stored_state()
        return got

    got = incremental_pairs()
    full = minhash_lsh_dedup_portable(docs, "doc_id", "text", **cfg)
    want = {tuple(sorted((r["id_a"], r["id_b"]))) for r in full.collect()}
    release_persisted()
    assert got and got == want
    assert incremental_pairs() == got


def test_dedup_clusters_transitive_closure(spark):
    """A~B and B~C must land in one cluster even though (A, C) was never
    a candidate pair; disjoint components stay separate. Chain length 4
    exercises multi-round label propagation."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    out = {r["member_id"]: r["cluster_id"] for r in dedup.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_long_chain_log_rounds(spark):
    """A 256-node path graph: min-label propagation would need ~256
    rounds; large-star/small-star contraction halves path distances each
    round and must close it inside 12 rounds (log-round convergence, incl.
    the signature-stability round), not return split clusters."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(255)], ["id_a", "id_b"])
    out = dedup.dedup_clusters(pairs, max_iterations=12)
    labels = {r["cluster_id"] for r in out.collect()}
    assert labels == {0}


def test_dedup_clusters_raises_when_not_converged(spark):
    """Exhausting the round budget must RAISE, never silently return
    split clusters that diverge from the recursive-CTE oracle."""
    import pytest

    pairs = spark.createDataFrame([(i, i + 1) for i in range(64)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dedup_clusters(pairs, max_iterations=1)


def test_simhash_distance_orders_similarity(spark):
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs_df(spark), "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert fp[1] == fp[4]  # normalization-identical docs
    assert ham(fp[1], fp[2]) < ham(fp[1], fp[3])  # near-dup closer than unrelated


def test_ngram_jaccard_known_values(spark):
    pairs = docs_df(spark).sparkSession.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"]
    )
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard(docs_df(spark), "doc_id", "text", pairs).collect()
    }
    assert out[(1, 4)] == 1.0  # identical after normalization
    assert 0.5 < out[(1, 2)] < 1.0
    assert out[(1, 3)] < 0.2


def test_cosine_topk_blocked_panel_equals_unblocked(spark, monkeypatch):
    """Scoring the probe panel in blocks of TOPK_QUERY_BLOCK queries is
    exact: with blocks of 2 over a 7-query panel (three blocks, the
    last one short) every (query, candidate, cosine) row is the same
    as with the whole panel in one block."""
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 7)
    whole = sorted(map(tuple, similarity.cosine_topk(emb, queries, k=5).collect()))
    monkeypatch.setattr(similarity, "TOPK_QUERY_BLOCK", 2)
    blocked = sorted(map(tuple, similarity.cosine_topk(emb, queries, k=5).collect()))
    assert len(whole) == 7 * 5
    assert blocked == whole


def test_lsh_ann_matches_exact_cosines_and_has_recall(spark):
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=5).collect()
    lsh = similarity.lsh_ann_topk(emb, queries, k=5, n_tables=8, n_planes=4, dim=64).collect()
    exact_scores = {(r["query_id"], r["cand_id"]): r["cosine"] for r in exact}
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["cand_id"])
    # LSH scores are the QUANTIZED cosine (2^-18 component grid) — they
    # must agree with the float cosine to quantization precision
    agree = [
        r for r in lsh if (r["query_id"], r["cand_id"]) in exact_scores
    ]
    assert agree
    assert all(
        abs(exact_scores[(r["query_id"], r["cand_id"])] - r["cosine"]) < 1e-4
        for r in agree
    )
    hits = sum(
        1 for r in lsh if r["cand_id"] in exact_sets.get(r["query_id"], set())
    )
    recall = hits / (5 * len(exact_sets))
    assert recall >= 0.5, f"LSH recall collapsed: {recall}"


def test_probe_table_ann_matches_driver_probe_paths(spark):
    """The serving variants (no driver collect of probes: IVF's
    cogrouped probe frame, LSH's indexed-subset panel) must return
    exactly the rows of the driver-probe paths on the same probe set —
    same candidates, same quantized scores, same ranks."""
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    probes = emb.filter(F.col("vec_id") % 7 == 0)

    ivf_old = sorted(map(tuple, similarity.ivf_ann_topk(emb, probes, k=5).collect()))
    ivf_new = sorted(
        map(tuple, similarity.ivf_ann_topk_probe_table(emb, probes, k=5).collect())
    )
    assert ivf_old == ivf_new and ivf_new

    lsh_old = sorted(map(tuple, similarity.lsh_ann_topk(emb, probes, k=5).collect()))
    lsh_new = sorted(
        map(
            tuple,
            similarity.lsh_ann_topk_probe_table(
                emb, F.col("cand_id") % 7 == 0, k=5
            ).collect(),
        )
    )
    assert lsh_old == lsh_new and lsh_new


def test_lsh_ann_and_near_dup_accept_string_ids(spark):
    """The generic id_col API must hold for non-integer ids: same
    vectors keyed by string ids must produce the same neighbor structure
    (no int64 coercion crash at Arrow conversion)."""
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"].limit(200)
    s_emb = emb.select(
        F.format_string("doc-%05d", F.col("vec_id")).alias("vec_id"), "embedding"
    )
    queries = s_emb.filter(F.col("vec_id") < "doc-00005")
    out = similarity.lsh_ann_topk(
        s_emb, queries, k=3, n_tables=8, n_planes=4, dim=64
    ).collect()
    assert out and all(isinstance(r["query_id"], str) for r in out)

    int_out = similarity.lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=3, n_tables=8, n_planes=4, dim=64
    ).collect()
    to_s = lambda i: f"doc-{i:05d}"
    assert {(r["query_id"], r["cand_id"]) for r in out} == {
        (to_s(r["query_id"]), to_s(r["cand_id"])) for r in int_out
    }

    pairs = similarity.embedding_near_dup_pairs_lsh(
        s_emb, "vec_id", "embedding", threshold=0.95, n_tables=8, n_planes=4, dim=64
    ).collect()
    assert all(isinstance(r["id_a"], str) and r["id_a"] < r["id_b"] for r in pairs)


def test_ivf_rejects_non_integral_ids(spark):
    import pytest

    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"].limit(50)
    s_emb = emb.select(F.col("vec_id").cast("string").alias("vec_id"), "embedding")
    with pytest.raises(TypeError, match="integral"):
        similarity.ivf_ann_topk(s_emb, s_emb.limit(1))


def test_ivf_untrained_seeding_caps_driver_collect(spark, monkeypatch):
    """The untrained path collects corpus/n_centroids_mod seed rows to
    the driver — linear in the corpus. Past MAX_SEED_COLLECT it must
    raise (pointing at the trained kmeans flow), and the probe job is
    limit(cap+1), never the runaway collect itself."""
    import pytest

    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    monkeypatch.setattr(similarity, "MAX_SEED_COLLECT", 3)
    with pytest.raises(ValueError, match="kmeans_fit"):
        similarity.ivf_ann_topk(emb, emb.limit(1), n_centroids_mod=1)
    with pytest.raises(ValueError, match="x_ann_ivf_trained"):
        similarity.ivf_ann_topk_probe_table(emb, emb.limit(1), n_centroids_mod=1)


def test_ivf_incremental_merged_equals_rebuild(spark):
    """The incremental-index invariant: appending a new batch's
    frozen-model list rows to the stored base lists must serve probe
    results BIT-IDENTICAL to a full index rebuild (same model). This is
    what makes the nightly append path a safe replacement for the
    rebuild — assignment is per-vector against a frozen model, so list
    membership can't depend on batch boundaries."""
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 1)
    batch = emb.filter(F.col("vec_id") % 4 == 1)
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    inc = similarity.ivf_incremental_topk(
        base, batch, probes, k=5, n_centroids_mod=16, n_probes=2
    )
    got = sorted(map(tuple, inc.collect()))
    release_persisted()
    # full rebuild over base+batch; seeds (vec_id % 16 == 0) all sit in
    # base (16 | id => id % 4 == 0), so the frozen model is identical
    rebuilt = similarity.ivf_ann_topk_probe_table(
        emb, probes, k=5, n_centroids_mod=16, n_probes=2
    )
    want = sorted(map(tuple, rebuilt.collect()))
    assert got and got == want


def test_ivf_incremental_warehouse_append_lifecycle(spark, tmp_path):
    """The on-disk form of the same lifecycle: base lists stored as a
    warehouse table PARTITIONED BY centroid_id, the new batch's lists
    appended as new files under the same partition layout (no rewrite
    of existing list files), and probes served from the read-back table
    match the full rebuild bit-for-bit. This is the 100 TB shape — the
    index build cost is paid once per corpus, then per-batch."""
    import os

    from duckdb_dbt_finance_warehouse_spark.sources.tables import (
        Warehouse,
        load_testdata,
    )

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 1)
    batch = emb.filter(F.col("vec_id") % 4 == 1)
    probes = emb.filter(F.col("vec_id") % 25 == 0)
    model = similarity._ivf_model(
        base, "vec_id", "embedding", 16, None, "test_lifecycle"
    )
    wh = Warehouse(spark, str(tmp_path))
    wh.write(
        similarity.ivf_build_lists(base, model),
        "index", "ivf_lists", partition_by=["centroid_id"],
    )
    before = {
        os.path.join(d, f)
        for d, _, fs in os.walk(wh.path("index", "ivf_lists"))
        for f in fs if f.endswith(".parquet")
    }
    wh.write(
        similarity.ivf_build_lists(batch, model),
        "index", "ivf_lists", mode="append", partition_by=["centroid_id"],
    )
    after = {
        os.path.join(d, f)
        for d, _, fs in os.walk(wh.path("index", "ivf_lists"))
        for f in fs if f.endswith(".parquet")
    }
    # append-only: every base list file survives untouched
    assert before <= after and len(after) > len(before)

    lists = wh.read("index", "ivf_lists").select("centroid_id", "cand_id", "_vec")
    served = similarity.ivf_probe_lists_topk(lists, probes, model, k=5, n_probes=2)
    got = sorted(map(tuple, served.collect()))
    rebuilt = similarity.ivf_ann_topk_probe_table(
        emb, probes, k=5, n_centroids_mod=16, n_probes=2
    )
    want = sorted(map(tuple, rebuilt.collect()))
    assert got and got == want


def test_lsh_incremental_merged_equals_rebuild(spark):
    """The LSH twin of the incremental-index invariant: appending a new
    batch's frozen-plane bucket rows to the stored base index must
    serve probe results BIT-IDENTICAL to a full index rebuild. The
    plane matrix is a pure function of (n_tables, n_planes, dim), so
    bucket membership can't depend on batch boundaries."""
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 1)
    batch = emb.filter(F.col("vec_id") % 4 == 1)
    probes = F.col("cand_id") % 25 == 0
    inc = similarity.lsh_incremental_topk(
        base, batch, probes, k=5, n_tables=4, n_planes=4, dim=64
    )
    got = sorted(map(tuple, inc.collect()))
    release_persisted()
    rebuilt = similarity.lsh_ann_topk_probe_table(
        emb, probes, k=5, n_tables=4, n_planes=4, dim=64
    )
    want = sorted(map(tuple, rebuilt.collect()))
    assert got and got == want


def test_lsh_incremental_warehouse_append_lifecycle(spark, tmp_path):
    """On-disk form: base bucket rows stored as a warehouse table
    PARTITIONED BY tbl, the new batch's rows appended as new files
    under the same layout (no rewrite of existing index files), and
    probes served from the read-back table match the full rebuild
    bit-for-bit."""
    import os

    from duckdb_dbt_finance_warehouse_spark.sources.tables import (
        Warehouse,
        load_testdata,
    )

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    base = emb.filter(F.col("vec_id") % 4 != 1)
    batch = emb.filter(F.col("vec_id") % 4 == 1)
    probes = F.col("cand_id") % 25 == 0
    wh = Warehouse(spark, str(tmp_path))
    wh.write(
        similarity.lsh_build_buckets(base, n_tables=4, n_planes=4, dim=64),
        "index", "lsh_buckets", partition_by=["tbl"],
    )
    before = {
        os.path.join(d, f)
        for d, _, fs in os.walk(wh.path("index", "lsh_buckets"))
        for f in fs if f.endswith(".parquet")
    }
    wh.write(
        similarity.lsh_build_buckets(batch, n_tables=4, n_planes=4, dim=64),
        "index", "lsh_buckets", mode="append", partition_by=["tbl"],
    )
    after = {
        os.path.join(d, f)
        for d, _, fs in os.walk(wh.path("index", "lsh_buckets"))
        for f in fs if f.endswith(".parquet")
    }
    assert before <= after and len(after) > len(before)

    buckets = wh.read("index", "lsh_buckets").select(
        "tbl", "bucket", "cand_id", "_vec"
    )
    # serve the read-back index exactly as the operators serve theirs:
    # the flagged kernel, then the dense top-k window
    served = similarity._query_topk(
        similarity._lsh_flagged_scores(buckets, probes), 5, dense=True
    )
    got = sorted(map(tuple, served.collect()))
    rebuilt = similarity.lsh_ann_topk_probe_table(
        emb, probes, k=5, n_tables=4, n_planes=4, dim=64
    )
    want = sorted(map(tuple, rebuilt.collect()))
    assert got and got == want


def test_driver_probe_collects_are_capped(spark, monkeypatch):
    """The small-probe serving paths collect query vectors to the
    driver; past MAX_QUERY_COLLECT they must refuse and point at
    table-probe operators that exist (and the probe job itself is
    limit(cap+1), never the runaway collect)."""
    import pytest

    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    monkeypatch.setattr(similarity, "MAX_QUERY_COLLECT", 3)
    with pytest.raises(ValueError, match="ivf_ann_topk_probe_table"):
        similarity.ivf_ann_topk(emb, emb.limit(10))
    with pytest.raises(ValueError, match="lsh_ann_topk_probe_table"):
        similarity.lsh_ann_topk(emb, emb.limit(10))
    table_ops = ("ivf_ann_topk_probe_table", "lsh_ann_topk_probe_table")
    assert all(callable(getattr(similarity, op, None)) for op in table_ops)
    with pytest.raises(ValueError, match=" / ".join(table_ops)):
        similarity.cosine_topk(emb, emb.limit(10))


def test_kmeans_seed_collect_capped(spark, monkeypatch):
    import pytest

    from duckdb_dbt_finance_warehouse_spark.operators import kmeans
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    monkeypatch.setattr(similarity, "MAX_SEED_COLLECT", 3)
    with pytest.raises(ValueError, match="seed_mod"):
        kmeans.kmeans_fit(emb, "vec_id", "embedding", seed_mod=1, n_iter=1)


def test_lsh_planes_for_holds_bucket_size():
    """n_planes grows with log2(corpus) so expected bucket volume — and
    per-probe serving cost — stays constant instead of quadratic."""
    import pytest

    assert similarity.lsh_planes_for(50_000) == 4
    assert similarity.lsh_planes_for(500_000) == 7  # 10x data -> +~3 planes
    assert similarity.lsh_planes_for(10**12) == 28
    assert similarity.lsh_planes_for(100) == 1
    with pytest.raises(ValueError):
        similarity.lsh_planes_for(0)


def test_lsh_probe_suite_entry_sizes_planes_per_sf():
    """The probe-table suite entry must derive n_planes from the
    CORPUS (parquet-footer row count), and the static driver oracle
    must be the sf0.01 instantiation of the per-sf oracle — otherwise
    driver parity and local sweeps check different indexes."""
    from duckdb_dbt_finance_warehouse_spark.suite import REGISTRY
    from duckdb_dbt_finance_warehouse_spark.suite.extensions import (
        _lsh_probe_planes,
    )

    p001 = _lsh_probe_planes("/root/testdata/sf0.01")
    p01 = _lsh_probe_planes("/root/testdata/sf0.1")
    assert p01 > p001  # bigger corpus -> more buckets
    spec = REGISTRY["x_ann_lsh_probe_table"]
    assert spec.oracle_for is not None
    # lazy resolution (ADVICE r6): importing the registry must not read
    # testdata, so the static field stays None and the driver-facing
    # oracle resolves on first access to the sf0.01 instantiation
    assert spec.oracle is None
    assert spec.resolved_oracle() == spec.oracle_for("/root/testdata/sf0.01")
    assert spec.resolved_oracle() != spec.oracle_for("/root/testdata/sf0.1")


def embedding_near_dup_pairs(corpus, id_col="vec_id", vec_col="embedding", threshold=0.9):
    """Test-local oracle: embedding-cosine near-duplicate pairs (id_a <
    id_b, cosine >= threshold), brute-force all-pairs over the float
    cosine. O(N²), so small fixtures only."""
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(similarity.cosine_expr("va", "vb"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def test_embed_near_dup_lsh_subset_of_exact_with_recall(spark):
    """The scale path (LSH bucket candidates + exact verify) must emit a
    subset of the all-pairs baseline with identical cosines, and recall
    high enough to be useful."""
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    # exact baseline at a slightly lower threshold: LSH scores are the
    # quantized cosine, which can differ from the float cosine by ~1e-5
    # right at the threshold boundary
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb, threshold=0.399).collect()
    }
    strict = {p for p, c in exact.items() if c >= 0.401}
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.embedding_near_dup_pairs_lsh(emb, threshold=0.4).collect()
    }
    assert set(lsh) <= set(exact)  # verify stage is exact -> no false positives
    assert all(abs(exact[p] - lsh[p]) < 1e-4 for p in lsh)
    assert strict, "fixture produced no near-dup pairs"
    hits = len(strict & set(lsh))
    assert hits / len(strict) >= 0.5, f"LSH near-dup recall: {hits}/{len(strict)}"


def test_language_id_votes(spark):
    out = {r["doc_id"]: r["pred_lang"] for r in text.language_id(docs_df(spark), "doc_id", "text").collect()}
    assert out[1] == "en" and out[5] == "es"


def merge_asof_pandas(left, right, key, left_ts, right_ts, payload_cols):
    """Test-local oracle for ``asof_nearest_prior``: per-key backward
    ``pd.merge_asof`` through a cogrouped applyInPandas."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    out_schema = StructType(
        list(left.schema.fields)
        + [StructField(f"asof_{c}", right.schema[c].dataType, True) for c in payload_cols]
    )

    def merge(l_pdf, r_pdf):
        r_sorted = (
            r_pdf.sort_values(right_ts)[[right_ts, *payload_cols]]
            .rename(columns={c: f"asof_{c}" for c in payload_cols})
            .rename(columns={right_ts: "_rts"})  # avoid colliding with left ts
        )
        out = pd.merge_asof(
            l_pdf.sort_values(left_ts), r_sorted,
            left_on=left_ts, right_on="_rts", direction="backward",
        )
        return out.drop(columns=["_rts"])

    r_small = right.select(key, right_ts, *payload_cols)
    return left.groupBy(key).cogroup(r_small.groupBy(key)).applyInPandas(merge, out_schema)


def test_asof_window_equals_pandas_merge_asof(spark):
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    e = load_testdata(spark, SF, "events")["events"]
    left = e.filter("event_type = 'purchase'").select("event_id", "user_id", "ts", "value")
    right = e.filter("event_type = 'signup'").select("event_id", "user_id", "ts")
    a = asof.asof_nearest_prior(left, right, "user_id", "ts", "ts", ["event_id"])
    b = merge_asof_pandas(left, right, "user_id", "ts", "ts", ["event_id"])
    ka = sorted((r["event_id"], r["asof_event_id"]) for r in a.collect())
    kb = sorted((r["event_id"], r["asof_event_id"]) for r in b.collect())
    assert ka == kb


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, 100, datetime(2024, 1, 1, 10, 0, 0)),
        (2, 100, datetime(2024, 1, 1, 10, 10, 0)),   # same session (10 min)
        (3, 100, datetime(2024, 1, 1, 11, 0, 0)),    # 50 min gap -> new session
        (4, 200, datetime(2024, 1, 1, 10, 5, 0)),    # other user
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    out = sessionize.session_stats(df, gap_minutes=30).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[100]) == 2
    sizes = sorted(r["n_events"] for r in by_user[100])
    assert sizes == [1, 2]
    assert len(by_user[200]) == 1


def test_resample_locf_gapfill_semantics(spark):
    rows = [
        (1, 100, datetime(2024, 1, 1, 10, 5), 1.0),
        (2, 100, datetime(2024, 1, 1, 10, 50), 2.0),  # same bucket: latest wins
        (3, 100, datetime(2024, 1, 1, 13, 0), 9.0),   # 2 empty buckets before
        (4, 200, datetime(2024, 1, 1, 10, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
    out = {
        (r["user_id"], r["bucket_ts"].hour): (r["value_locf"], r["is_gap"])
        for r in sessionize.resample_locf(df).collect()
    }
    assert out[(100, 10)] == (2.0, False)  # latest value in the bucket
    assert out[(100, 11)] == (2.0, True)   # gap carries forward
    assert out[(100, 12)] == (2.0, True)
    assert out[(100, 13)] == (9.0, False)
    assert out[(200, 10)] == (5.0, False)
    assert len(out) == 5  # grid spans only each user's own range


def test_sessionize_without_tiebreak_column(spark):
    """Frames lacking the default tiebreak column must still sessionize
    (the tiebreak is advisory, not a schema requirement)."""
    rows = [
        (100, datetime(2024, 1, 1, 10, 0, 0)),
        (100, datetime(2024, 1, 1, 11, 0, 0)),  # 60 min gap -> new session
        (200, datetime(2024, 1, 1, 10, 5, 0)),
    ]
    df = spark.createDataFrame(rows, ["account", "seen_at"])
    out = sessionize.session_stats(
        df, user_col="account", ts_col="seen_at", gap_minutes=30
    ).collect()
    assert sorted(r["session_id"] for r in out) == ["100-1", "100-2", "200-1"]


def test_lsh_build_buckets_index_workflow(spark):
    """lsh_build_buckets is the persisted-index building block (at
    100 TB you materialize (tbl, bucket, id) once and join query buckets
    against it): assignments must be rerun-stable and joining a vector's
    own buckets back must find it (same vector -> same buckets)."""
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    b1, b2 = (
        similarity.lsh_build_buckets(emb, "vec_id", n_tables=4, n_planes=4).select(
            "tbl", "bucket", "cand_id"
        )
        for _ in range(2)
    )
    rows1 = sorted(map(tuple, b1.collect()))
    assert rows1 == sorted(map(tuple, b2.collect()))
    n = emb.count()
    assert len(rows1) == n * 4  # one row per (vector, table)
    # self-join on (tbl, bucket): every vector collides with itself in
    # all tables -> at least n*4 matched pairs
    a = b1.withColumnRenamed("cand_id", "a")
    assert a.join(b2.withColumnRenamed("cand_id", "b"), ["tbl", "bucket"]).filter(
        "a = b"
    ).count() == n * 4


def test_sampling_determinism_and_mix(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import sampling
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    docs = load_testdata(spark, SF, "documents")["documents"]
    s1 = {r["doc_id"] for r in sampling.hash_sample(docs, "doc_id", 0.2).collect()}
    s2 = {r["doc_id"] for r in sampling.hash_sample(docs, "doc_id", 0.2).collect()}
    assert s1 == s2 and s1  # rerun-stable, non-empty
    # smaller fraction is a strict subset (uniforms are per-row constants)
    s_small = {r["doc_id"] for r in sampling.hash_sample(docs, "doc_id", 0.05).collect()}
    assert s_small <= s1
    # a different salt draws a different sample
    s_salt = {r["doc_id"] for r in sampling.hash_sample(docs, "doc_id", 0.2, salt="s1").collect()}
    assert s_salt != s1
    # quotas are exact per stratum (enough rows per lang in the fixture)
    q = sampling.stratified_quota_sample(docs, "doc_id", "lang", 3).collect()
    per = {}
    for r in q:
        per[r["lang"]] = per.get(r["lang"], 0) + 1
    assert all(n == 3 for n in per.values()) and len(per) >= 3


def test_leakage_safe_split_cluster_coherent(spark):
    """Chained near-dups (A~B, B~C) must land on ONE side even though
    A~C was never a pair; unclustered docs split independently; the
    assignment is rerun-stable and fraction is roughly honored."""
    import pytest

    from duckdb_dbt_finance_warehouse_spark.operators import sampling

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], ["id_a", "id_b"]
    )
    out = sampling.leakage_safe_split(docs, pairs, "doc_id", 0.25)
    rows = {r["doc_id"]: (r["split_group"], r["split"]) for r in out.collect()}
    assert len(rows) == 200
    # transitive chain 0-1-2 shares group and side
    assert rows[0] == rows[1] == rows[2]
    assert rows[10] == rows[11]
    assert rows[0][0] == 0 and rows[10][0] == 10
    # unclustered docs get their own id as the group
    assert rows[50][0] == 50
    # rerun-stable
    out2 = sampling.leakage_safe_split(docs, pairs, "doc_id", 0.25)
    assert rows == {r["doc_id"]: (r["split_group"], r["split"]) for r in out2.collect()}
    # both sides populated at n=200, p=0.25
    sides = {s for _, s in rows.values()}
    assert sides == {"train", "val"}
    n_val = sum(1 for _, s in rows.values() if s == "val")
    assert 20 <= n_val <= 80
    with pytest.raises(ValueError, match="val_fraction"):
        sampling.leakage_safe_split(docs, pairs, "doc_id", 1.5)


def test_vocab_coverage_known_answers(spark):
    """Counts, deterministic tie order (count desc, token asc), and a
    cumulative share that ends at 1.0 when k covers the whole vocab."""
    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "b a  d")], ["doc_id", "text"]
    )
    rows = text.vocab_coverage(docs, "doc_id", "text", top_k=10).collect()
    got = [(r["rank"], r["token"], r["n_occurrences"], r["cum_share"]) for r in rows]
    # totals: a=4 b=3 c=1 d=1 (whitespace collapses); total 9
    assert got == [
        (1, "a", 4, round(4 / 9, 6)),
        (2, "b", 3, round(7 / 9, 6)),
        (3, "c", 1, round(8 / 9, 6)),
        (4, "d", 1, 1.0),
    ]
    # top_k truncates but shares stay relative to the FULL stream
    top2 = text.vocab_coverage(docs, "doc_id", "text", top_k=2).collect()
    assert [(r["rank"], r["token"]) for r in top2] == [(1, "a"), (2, "b")]
    assert top2[-1]["cum_share"] == round(7 / 9, 6)


def test_decontaminate_flags_ngram_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "totally unrelated words that never appear in the benchmark text"),
        ],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame(
        [(100, "QUESTION: alpha beta gamma delta epsilon zeta eta theta ANSWER")],
        ["eval_id", "text"],
    )
    out = text.decontaminate(corpus, evals, "doc_id", "text", "eval_id", "text", n=8)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 1 in rows and rows[1]["first_eval_id"] == 100  # shares an 8-gram
    assert 2 not in rows  # clean doc not flagged


def test_scrub_pii_known_answers(spark):
    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+spam@mail-host.co.uk or +1 (555) 010-9999 ok"),
            (2, "no pii here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.scrub_pii(df, "doc_id", "text").collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert "<EMAIL>" in out[1]["text_scrubbed"] and "<PHONE>" in out[1]["text_scrubbed"]
    assert "jane" not in out[1]["text_scrubbed"] and "555" not in out[1]["text_scrubbed"]
    assert out[2]["text_scrubbed"] == "no pii here"
    assert out[2]["n_emails"] == 0 and out[2]["n_phones"] == 0


def test_scrub_pii_mixed_case_email(spark):
    """Redaction must be case-insensitive — 'Jane.Doe@Example.COM' is as
    much PII as its lowercase twin ((?i) honored by Java regex and RE2
    alike, so the oracle replays it)."""
    df = spark.createDataFrame([(1, "mail Jane.Doe@Example.COM today")], ["doc_id", "text"])
    row = text.scrub_pii(df, "doc_id", "text").collect()[0]
    assert row["n_emails"] == 1
    assert row["text_scrubbed"] == "mail <EMAIL> today"


def test_interval_overlap_join_lossless_vs_naive(spark):
    """The bucketized equi-join rewrite must produce exactly the pairs
    the naive theta join produces — including intervals that only
    overlap across a month boundary."""
    from datetime import date

    from duckdb_dbt_finance_warehouse_spark.operators import intervals

    rows = [
        ("K", 1, date(2024, 1, 10), date(2024, 2, 5)),   # crosses month edge
        ("K", 2, date(2024, 2, 1), date(2024, 2, 20)),   # overlaps 1 in Feb only
        ("K", 3, date(2024, 3, 1), date(2024, 3, 10)),   # no overlap
        ("K2", 4, date(2024, 1, 15), date(2024, 1, 20)), # other key
    ]
    df = spark.createDataFrame(rows, ["custkey", "id", "start", "end"])
    left, right = df, df.select(df.columns)
    got = {
        (r["id_a"], r["id_b"], r["overlap_start"], r["overlap_end"])
        for r in intervals.interval_overlap_join(left, right, ["custkey"]).collect()
        if r["id_a"] < r["id_b"]
    }
    assert got == {(1, 2, date(2024, 2, 1), date(2024, 2, 5))}
    # first-shared-bucket dedup (r11): a pair overlapping across MANY
    # buckets must still emit exactly once, at every grain
    long_rows = [
        ("K", 1, date(2024, 1, 1), date(2024, 6, 30)),
        ("K", 2, date(2024, 2, 15), date(2024, 5, 15)),
    ]
    ldf = spark.createDataFrame(long_rows, ["custkey", "id", "start", "end"])
    for grain in ("day", "week", "month"):
        out = intervals.interval_overlap_join(ldf, ldf, ["custkey"], grain=grain)
        pairs = [r for r in out.collect() if r["id_a"] == 1 and r["id_b"] == 2]
        assert len(pairs) == 1, f"grain={grain}: {pairs}"
        assert pairs[0]["overlap_start"] == date(2024, 2, 15)
        assert pairs[0]["overlap_end"] == date(2024, 5, 15)
    # plan stays an equi join — no nested loop
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        intervals.interval_overlap_join(left, right, ["custkey"]).explain("formatted")
    assert "BroadcastNestedLoopJoin" not in buf.getvalue()
    assert "CartesianProduct" not in buf.getvalue()


def test_hll_accuracy_and_mergeability(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import sketch
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    ev = load_testdata(spark, SF, "events")["events"]
    exact = ev.select("user_id").distinct().count()
    est = sketch.hll_distinct(ev, "user_id").first()["hll_estimate"]
    # 256 buckets -> ~1.04/sqrt(256) = 6.5% std error; allow 3 sigma
    assert abs(est - exact) / exact < 0.2, f"estimate {est} vs exact {exact}"
    # defining HLL property: sketch(A ∪ B) == bucketwise max of sketches
    a = ev.filter("user_id % 2 = 0")
    b = ev.filter("user_id % 2 = 1")
    merged = (
        sketch.hll_registers(a, "user_id")
        .unionByName(sketch.hll_registers(b, "user_id"))
        .groupBy("bucket")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    whole = sketch.hll_registers(ev, "user_id")
    got = {r["bucket"]: r["max_rank"] for r in merged.collect()}
    want = {r["bucket"]: r["max_rank"] for r in whole.collect()}
    assert got == want


def test_png_codec_hand_built_decodes_to_known_pixels():
    """The decoder is a real PNG decoder: a PNG assembled BY HAND here
    (explicit signature, chunk lengths, CRCs, one Up-filtered and one
    Sub-filtered scanline) decodes to independently hand-computed
    pixels; corrupting one payload byte trips the CRC check."""
    import struct
    import zlib

    import pytest

    from duckdb_dbt_finance_warehouse_spark.operators import png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    # 2x2 greyscale: row 0 Sub-filtered (raw 10, +5 -> 10, 15),
    # row 1 Up-filtered (deltas 20, 30 over row 0 -> 30, 45)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    scanlines = bytes([1, 10, 5]) + bytes([2, 20, 30])
    data = (
        png.SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )
    want = (2, 2, 1, bytes([10, 15, 30, 45]))
    assert decode_png(data) == want
    assert decode_png_batch([data]) == [want]
    corrupt = bytearray(data)
    corrupt[-18] ^= 0xFF  # flip a byte inside the IDAT body
    with pytest.raises(ValueError, match="CRC"):
        decode_png_batch([bytes(corrupt)])


def test_png_codec_round_trips_every_filter_type():
    """encode_png_batch assigns filter y % 5, so a >=5-row image
    exercises None/Sub/Up/Average/Paeth; decode must invert all of them
    exactly. Gradient + pseudo-random pixels hit the Paeth/Average
    carry paths."""
    from duckdb_dbt_finance_warehouse_spark.operators import png

    w, h, c = 6, 7, 3
    px = bytes((x * 37 + 11 * (x % 13) * (x % 7)) % 256 for x in range(w * h * c))
    (data,) = png.encode_png_batch([px], w, h, c)
    assert data[:8] == png.SIGNATURE
    assert decode_png_batch([data]) == [(w, h, c, px)]
    # greyscale and RGBA too (different channel strides in the filters)
    for cc in (1, 4):
        pxc = bytes((x * 53 + 29 * (x % 11)) % 256 for x in range(w * h * cc))
        blobs = png.encode_png_batch([pxc], w, h, cc)
        assert decode_png_batch(blobs) == [(w, h, cc, pxc)]


def test_png_batch_codec_bit_identical_to_scalar():
    """The numpy batch codec (r11: filters vectorized across the image
    stack) must be BIT-IDENTICAL to the scalar codec — same y%5 filter
    cycle, same zlib level, same CRC validation — across shapes,
    channel counts, and degenerate rasters. Property-tested with
    hypothesis so the uint8 wraparound / Paeth tie paths get adversarial
    pixels, plus a mixed-shape batch (grouped decode must restore input
    order) and the error-path parity pins."""
    import pytest as _pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from duckdb_dbt_finance_warehouse_spark.operators import png

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 11),
        c=st.sampled_from([1, 3, 4]),
        seed=st.integers(0, 2**31 - 1),
        n=st.integers(1, 4),
    )
    def roundtrip(w, h, c, seed, n):
        import random

        rng = random.Random(seed)
        rasters = [
            bytes(rng.randrange(256) for _ in range(w * h * c)) for _ in range(n)
        ]
        blobs = png.encode_png_batch(rasters, w, h, c)
        assert blobs == [encode_png(r, w, h, c) for r in rasters]
        assert decode_png_batch(blobs) == [decode_png(b) for b in blobs]

    roundtrip()

    # mixed shapes/channels in ONE batch: grouped decode restores order
    mixed = [
        encode_png(bytes(range(48)), 4, 4, 3),
        encode_png(bytes(16), 4, 4, 1),
        encode_png(bytes(range(48)), 2, 6, 4),
        encode_png(bytes([255] * 48), 4, 4, 3),
    ]
    assert decode_png_batch(mixed) == [decode_png(b) for b in mixed]
    assert png.encode_png_batch([], 4, 4, 3) == []
    assert decode_png_batch([]) == []

    # error paths match the scalar codec
    with _pytest.raises(ValueError, match="bad signature"):
        decode_png_batch([b"nope" + bytes(20)])
    corrupt = bytearray(mixed[0])
    corrupt[-6] ^= 0xFF  # flip a bit inside IEND's CRC
    with _pytest.raises(ValueError, match="CRC mismatch"):
        decode_png_batch([bytes(corrupt)])
    with _pytest.raises(ValueError, match="channels must be"):
        png.encode_png_batch([bytes(4)], 2, 2, 2)
    # per-raster length validation: two wrong lengths summing to a
    # multiple of the raster size must NOT silently shift pixels
    with _pytest.raises(ValueError, match="got 47 bytes"):
        png.encode_png_batch([bytes(47), bytes(49)], 4, 4, 3)


def test_wav_codec_hand_built_decodes_to_known_samples():
    """The decoder is a real RIFF walker: a WAV assembled BY HAND here
    (explicit RIFF length, an unknown LIST chunk with odd length that
    must be skipped word-aligned, fmt after it) decodes to the expected
    int16 samples; a length-lying RIFF header and a non-PCM fmt raise."""
    import struct

    import pytest

    from duckdb_dbt_finance_warehouse_spark.operators import wav

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = struct.pack("<3h", -5, 0, 1234)
    body = (
        b"WAVE"
        + b"LIST" + struct.pack("<I", 3) + b"odd" + b"\x00"  # word-aligned skip
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    assert wav.decode_wav(blob) == (8000, 1, [-5, 0, 1234])
    with pytest.raises(ValueError, match="RIFF length"):
        wav.decode_wav(blob[:-2])
    bad_fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # float32
    body2 = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(NotImplementedError, match="16-bit PCM"):
        wav.decode_wav(b"RIFF" + struct.pack("<I", len(body2)) + body2)


def test_wav_codec_round_trips():
    from duckdb_dbt_finance_warehouse_spark.operators import wav

    samples = [((x * 1103 + 7) % 65536) - 32768 for x in range(300)]
    blob = wav.encode_wav(samples, sample_rate=44100)
    assert wav.decode_wav(blob) == (44100, 1, samples)
    stereo = samples[:64]
    assert wav.decode_wav(wav.encode_wav(stereo, 8000, channels=2)) == (
        8000,
        2,
        stereo,
    )


def test_y4m_codec_hand_built_decodes_to_known_frames():
    """The decoder is a real YUV4MPEG2 parser: a stream assembled BY
    HAND (header with an X-extension tag that must be skipped, two 2x2
    mono frames, one carrying frame-level parameters) decodes to the
    expected planes; a truncated frame, a bad FRAME marker, and a wrong
    magic all raise; an unsupported colorspace raises
    NotImplementedError."""
    import pytest

    from duckdb_dbt_finance_warehouse_spark.operators import y4m

    f0, f1 = bytes([0, 50, 100, 200]), bytes([255, 1, 2, 3])
    blob = (
        b"YUV4MPEG2 W2 H2 F30000:1001 Ip A1:1 Cmono Xcustom\n"
        + b"FRAME\n" + f0
        + b"FRAME Xnote\n" + f1
    )
    assert y4m.decode_y4m(blob) == (2, 2, "mono", [f0, f1])
    with pytest.raises(ValueError, match="truncated frame"):
        y4m.decode_y4m(blob[:-2])
    with pytest.raises(ValueError, match="FRAME marker"):
        y4m.decode_y4m(blob[: len(blob) - len(f1) - 12] + b"FRUME\n" + f1)
    with pytest.raises(ValueError, match="magic"):
        y4m.decode_y4m(b"YUV4MPEG3 W2 H2\n" + b"FRAME\n" + f0)
    with pytest.raises(NotImplementedError, match="C411"):
        y4m.decode_y4m(b"YUV4MPEG2 W2 H2 C411\n")
    # garbled / bare / negative dimension tags raise WITH codec context
    # (not a naked int() ValueError, not a misleading truncated-frame)
    for bad in (b"YUV4MPEG2 W H2\n", b"YUV4MPEG2 Wabc H2\n",
                b"YUV4MPEG2 W-2 H2\n", b"YUV4MPEG2 W2 H0\n"):
        with pytest.raises(ValueError, match="decode_y4m: bad"):
            y4m.decode_y4m(bad + b"FRAME\n" + f0)


def test_y4m_codec_round_trips_all_colorspaces():
    """encode -> decode is identity for mono, 444 and 420jpeg,
    including the round-UP chroma dims on odd sizes (3x3 C420jpeg has
    2x2 chroma planes)."""
    from duckdb_dbt_finance_warehouse_spark.operators import y4m

    for w, h, cs in [(4, 3, "mono"), (2, 2, "444"), (3, 3, "420jpeg")]:
        fsz = y4m.frame_size(w, h, cs)
        frames = [bytes((i * 37 + f * 11) % 256 for i in range(fsz)) for f in range(3)]
        blob = y4m.encode_y4m(frames, w, h, cs)
        assert y4m.decode_y4m(blob) == (w, h, cs, frames)
    assert y4m.frame_size(3, 3, "420jpeg") == 9 + 2 * 4


def test_multimodal_real_video_frames(spark):
    """synthesize_y4m_blobs emits VALID y4m streams and
    extract_video_frames returns true decoded luma stats: 'ab' cycled
    across a 2-frame 2x2 stream gives per-frame planes 'abab'/'abab'
    (two distinct levels); frame_stride=2 keeps only frame 0; empty
    text gives black frames."""
    from duckdb_dbt_finance_warehouse_spark.operators import multimodal, y4m

    df = spark.createDataFrame([(1, "ab"), (2, "")], ["doc_id", "text"])
    blobs = multimodal.synthesize_y4m_blobs(df, "doc_id", "text", 2, 2, n_frames=2)
    raw = {r["doc_id"]: bytes(r["payload"]) for r in blobs.collect()}
    assert y4m.decode_y4m(raw[1]) == (2, 2, "mono", [b"abab", b"abab"])
    out = {
        (r["doc_id"], r["frame_idx"]): r
        for r in multimodal.extract_video_frames(blobs, frame_stride=2).collect()
    }
    assert set(out) == {(1, 0), (2, 0)}
    r1 = out[(1, 0)]
    assert r1["y_mean"] == (ord("a") + ord("b")) / 2
    assert r1["y_max"] == ord("b") and r1["distinct_y"] == 2
    r2 = out[(2, 0)]
    assert r2["y_mean"] == 0.0 and r2["y_max"] == 0 and r2["distinct_y"] == 1


def test_multimodal_real_audio_features(spark):
    """synthesize_wav_blobs emits VALID WAVs (RIFF magic, decodable)
    and extract_audio_features returns the true decoded waveform stats:
    'ab' cycled over 256 samples maps to exactly two amplitude levels;
    empty text gives silence."""
    import math

    df = spark.createDataFrame([(1, "ab"), (2, "")], ["doc_id", "text"])
    blobs = multimodal.synthesize_wav_blobs(df, "doc_id", "text")
    raw = {r["doc_id"]: bytes(r["payload"]) for r in blobs.collect()}
    assert all(p.startswith(b"RIFF") for p in raw.values())
    feats = {
        r["doc_id"]: r for r in multimodal.extract_audio_features(blobs).collect()
    }
    f1 = feats[1]
    a, b = 97 * 256 - 32768, 98 * 256 - 32768
    assert (f1["n_samples"], f1["sample_rate"]) == (256, 8000)
    assert f1["amp_mean"] == (a + b) / 2 and f1["amp_max"] == b
    assert f1["rms"] == math.sqrt((a * a + b * b) / 2)
    f2 = feats[2]
    assert f2["amp_mean"] == 0.0 and f2["amp_max"] == 0 and f2["rms"] == 0.0


def test_multimodal_real_image_features(spark):
    """synthesize_png_blobs emits VALID PNGs (magic bytes, decodable)
    and extract_image_features returns the true decoded pixel stats:
    'ab' cycled over an 8x8 RGB raster gives exactly the byte stats of
    the cycle; empty text gives a black image."""
    df = spark.createDataFrame([(1, "ab"), (2, "")], ["doc_id", "text"])
    blobs = multimodal.synthesize_png_blobs(df, "doc_id", "text")
    raw = {r["doc_id"]: bytes(r["payload"]) for r in blobs.collect()}
    assert all(p.startswith(b"\x89PNG") for p in raw.values())
    assert {r["doc_id"]: r["media_meta"]["mime"] for r in blobs.collect()} == {
        1: "image/png",
        2: "image/png",
    }
    feats = {
        r["doc_id"]: r for r in multimodal.extract_image_features(blobs).collect()
    }
    f1 = feats[1]
    assert (f1["width"], f1["height"], f1["channels"]) == (8, 8, 3)
    assert f1["px_mean"] == (97 + 98) / 2  # 'a','b' cycled over 192 samples
    assert f1["px_max"] == 98 and f1["distinct_px"] == 2
    f2 = feats[2]
    assert f2["px_mean"] == 0.0 and f2["px_max"] == 0 and f2["distinct_px"] == 1


def cms_sketch(df, col):
    """Test-local oracle: the count-min cells sketched item by item —
    each non-null item adds 1 to its bucket in each of the CMS_D rows."""
    from duckdb_dbt_finance_warehouse_spark.operators import sketch

    items = df.filter(F.col(col).isNotNull()).select(F.col(col).alias("_item"))
    cells = items.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        sketch._cms_bucket(F.col("_item"), r).alias("bucket"),
                    )
                    for r in range(sketch.CMS_D)
                ]
            )
        ).alias("c")
    ).select("c.row", "c.bucket")
    return cells.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))


def test_cms_sketch_bounds_and_estimates(spark):
    """Sketching pre-aggregated counts gives the item-by-item cells;
    count-min guarantees: est >= true count for every item, and the
    sketch never exceeds d*w cells no matter the cardinality."""
    from duckdb_dbt_finance_warehouse_spark.operators import sketch

    rows = [(f"t{i % 7}",) for i in range(700)] + [("rare",), (None,)]
    df = spark.createDataFrame(rows, "item STRING")
    counts = df.groupBy("item").agg(F.count("*").alias("n"))
    cms = sketch.cms_sketch_from_counts(counts, "item", "n")
    assert sorted(map(tuple, cms.collect())) == sorted(
        map(tuple, cms_sketch(df, "item").collect())
    )
    assert cms.count() <= sketch.CMS_D * sketch.CMS_W
    probes = df.dropna().distinct()
    est = {r["item"]: r["cms_est"] for r in sketch.cms_estimate(cms, probes, "item").collect()}
    truth = {r["item"]: r["count"] for r in df.dropna().groupBy("item").count().collect()}
    assert set(est) == set(truth)
    assert all(est[t] >= truth[t] for t in truth)
    # with 8 distinct items in 4x4096 cells, collisions are ~impossible:
    # estimates are exact
    assert est == truth


def test_repetition_stats_known_answers(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import text

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z w")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in text.repetition_stats(df, "doc_id", "text", n=2).collect()}
    # doc 1 grams: "a a", "a a", "a b" -> 3 total, 2 distinct
    assert out[1]["n_grams"] == 3 and out[1]["n_distinct"] == 2
    assert abs(out[1]["dup_frac"] - (1 - 2 / 3)) < 1e-6
    assert abs(out[1]["top_gram_frac"] - 2 / 3) < 1e-6
    # doc 2: all distinct
    assert out[2]["dup_frac"] == 0.0 and abs(out[2]["top_gram_frac"] - 1 / 3) < 1e-6


def test_bloom_contains_no_false_negatives(spark):
    """Every true member must pass (Bloom has no false negatives); the
    flags are a deterministic superset of the exact semi-join."""
    from duckdb_dbt_finance_warehouse_spark.operators import bloom

    keys = spark.createDataFrame([(i,) for i in range(0, 100, 3)], ["k"])
    probe = spark.createDataFrame([(i,) for i in range(100)], ["p"])

    def passed():
        flags = bloom.bloom_contains(probe, keys, "p", "k").collect()
        return {r["p"] for r in flags if r["in_bloom"]}

    first = passed()
    assert set(range(0, 100, 3)) <= first  # no false negatives
    assert passed() == first  # deterministic decisions


def bloom_m_for(n_keys: int) -> int:
    """Test-local oracle for the filter size: the smallest power of two
    >= BLOOM_BITS_PER_KEY * n_keys, never below BLOOM_M."""
    from duckdb_dbt_finance_warehouse_spark.operators import bloom

    m = bloom.BLOOM_M
    while m < bloom.BLOOM_BITS_PER_KEY * n_keys:
        m <<= 1
    return m


def test_bloom_words_frame_sizes_like_bloom_m_for(spark):
    """The stored words frame sizes the filter in-plan; it must pick
    ``bloom_m_for``'s size at each power-of-two boundary and raise the
    BLOOM_M_MAX error when the build side is too large."""
    import pytest

    from duckdb_dbt_finance_warehouse_spark.operators import bloom

    try:
        for n in (0, 1, 4096, 4097, 65536):
            keys = spark.range(n).withColumnRenamed("id", "k")
            got = bloom.bloom_words_frame(keys, "k").select("_bloom_m").first()[0]
            assert got == bloom_m_for(n), n
        too_many = spark.range(65537).withColumnRenamed("id", "k")
        with pytest.raises(Exception, match="BLOOM_M_MAX"):
            bloom.bloom_words_frame(too_many, "k").collect()
    finally:
        release_persisted()


def test_dedup_clusters_random_graphs_match_union_find(spark):
    """Seeded random graphs (varying density, incl. chains + isolated
    pairs): large-star/small-star must agree exactly with a driver-side
    union-find on every node's min-reachable label."""
    import random

    for seed, n_nodes, n_edges in [(7, 40, 20), (11, 60, 80), (13, 50, 49)]:
        rng = random.Random(seed)
        edges = {
            tuple(sorted((rng.randrange(n_nodes), rng.randrange(n_nodes))))
            for _ in range(n_edges)
        }
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes_in_edges = {x for e in edges for x in e}
        want = {x: find(x) for x in nodes_in_edges}
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r["member_id"]: r["cluster_id"]
            for r in dedup.dedup_clusters(pairs).collect()
        }
        assert got == want, f"seed {seed}: mismatch"


def test_histogram_sketch_merge_and_accuracy(spark):
    """Fixed-grid sketches must merge by cell-wise sum (the defining
    property), and interpolated estimates must land within one bin width
    of the exact percentile."""
    from duckdb_dbt_finance_warehouse_spark.operators import sketch

    vals = [(float(v),) for v in range(1, 2001)]
    df = spark.createDataFrame(vals, ["v"])
    a, b = df.filter("v <= 700"), df.filter("v > 700")
    merged = (
        sketch.histogram_sketch(a, "v", 100.0)
        .unionByName(sketch.histogram_sketch(b, "v", 100.0))
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = sketch.histogram_sketch(df, "v", 100.0)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))
    est = {
        r["q"]: r["est_value"]
        for r in sketch.histogram_quantiles(whole, 100.0, [0.5, 0.9]).collect()
    }
    assert abs(est[0.5] - 1000.5) <= 100 and abs(est[0.9] - 1800.5) <= 100


def test_salted_join_equals_plain_join(spark):
    """Salting must not change join results — including on a skewed key
    (90% of rows share one key) and with keys missing from either side."""
    from duckdb_dbt_finance_warehouse_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1 if i % 10 else 2, i) for i in range(1000)] + [(99, -1)], ["k", "v"]
    )
    small = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "tag"])
    got = sorted(map(tuple, salted_join(big, small, ["k"], n_salts=4).collect()))
    want = sorted(map(tuple, big.join(small, "k").collect()))
    assert got == want


def test_kmeans_deterministic_and_total(spark):
    """Two independent fits must agree exactly (no RNG anywhere), and
    every corpus row lands in exactly one cluster."""
    from duckdb_dbt_finance_warehouse_spark.operators import kmeans
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    a = sorted(map(tuple, kmeans.kmeans_cluster_stats(emb, n_iter=2).collect()))
    b = sorted(map(tuple, kmeans.kmeans_cluster_stats(emb, n_iter=2).collect()))
    assert a == b
    assert sum(r[1] for r in a) == emb.count()


def test_kmeans_improves_cohesion_over_seeds(spark):
    """After Lloyd rounds the mean quantized cosine to the assigned
    centroid must be at least the seed assignment's (monotone objective,
    up to re-quantization noise)."""
    import numpy as np

    from duckdb_dbt_finance_warehouse_spark.operators import kmeans
    from duckdb_dbt_finance_warehouse_spark.operators.similarity import _np_quant
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    rows = emb.collect()
    V = _np_quant(np.array([r["embedding"] for r in rows], dtype=np.float64))
    vn = np.sqrt((V * V).sum(axis=1))

    def cohesion(C):
        cn = np.sqrt((C * C).sum(axis=1))
        cos = (V @ C.T) / (vn[:, None] * cn[None, :])
        return cos.max(axis=1).mean()

    _, C0 = kmeans.kmeans_fit(emb, n_iter=0)
    _, C3 = kmeans.kmeans_fit(emb, n_iter=3)
    assert cohesion(C3) >= cohesion(C0) - 1e-9


def test_pack_sequences_invariants(spark):
    """Conservation, head-per-doc, and budget invariants of the
    concat-and-chunk packer: every sequence except a stream's last is
    exactly the budget, nothing is lost, nothing is duplicated."""
    from collections import defaultdict

    from duckdb_dbt_finance_warehouse_spark.operators import packing

    toks = [5, 10, 3, 7, 12, 1, 9, 4, 20, 2]
    df = spark.createDataFrame(list(enumerate(toks)), ["id", "toks"])
    out = packing.pack_sequences(df, "id", "toks", budget=8, n_streams=2).collect()

    assert sum(r["piece_tokens"] for r in out) == sum(toks)
    assert sorted(r["id"] for r in out if r["is_head"]) == list(range(len(toks)))
    assert all(r["piece_tokens"] > 0 for r in out)

    seq_tot: dict[tuple, int] = defaultdict(int)
    for r in out:
        seq_tot[(r["stream"], r["seq_id"])] += r["piece_tokens"]
    by_stream: dict[int, list] = defaultdict(list)
    for (s, q), tot in seq_tot.items():
        by_stream[s].append((q, tot))
    for lst in by_stream.values():
        lst.sort()
        assert [q for q, _ in lst] == list(range(len(lst)))  # contiguous seqs
        assert all(tot == 8 for _, tot in lst[:-1])  # full but the tail
        assert 0 < lst[-1][1] <= 8

    eff = packing.pack_efficiency(df, "id", "toks", budget=8, n_streams=2).collect()
    assert sum(r["total_tokens"] for r in eff) == sum(toks)
    assert sum(r["n_sequences"] for r in eff) == len(seq_tot)


def test_compaction_plan_groups_adjacent_partitions(spark):
    """compaction_plan groups adjacent partitions by the prefix-sum rule."""
    from duckdb_dbt_finance_warehouse_spark.operators import maintenance

    df = spark.range(1000).withColumn("part", F.col("id") % 10)
    plan = sorted(
        maintenance.compaction_plan(df, "part", target_rows=250).collect(),
        key=lambda r: r["part"],
    )
    assert [r["n_rows"] for r in plan] == [100] * 10
    # cum starts 0..900 step 100 -> floor(start/250)
    assert [r["compaction_group"] for r in plan] == [0, 0, 0, 1, 1, 2, 2, 2, 3, 3]


# ---------------------------------------------------------------------------
# round-5 operators: passage dedup, simhash pairs, temperature mix,
# collocations, quality classifier, semantic dedup
# ---------------------------------------------------------------------------


def test_passage_dedup_removes_cross_doc_passages(spark):
    shared = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (1, shared + " unique tail of document one here now"),
            (2, shared + " another distinct ending for doc two there"),
            (3, "totally different words without any shared passage at all ok"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.passage_dedup(df, "doc_id", "text", w=8).collect()}
    assert out[1]["n_passages"] == 2 and out[1]["n_dup_passages"] == 1
    assert out[1]["dedup_text"] == "unique tail of document one here now"
    assert out[2]["dedup_text"] == "another distinct ending for doc two there"
    assert out[3]["n_dup_passages"] == 0
    assert out[3]["dedup_text"] == out[3]["dedup_text"].strip() != ""


def test_passage_dedup_fully_duplicated_doc_empties(spark):
    t = "a b c d e f g h"
    df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
    rows = dedup.passage_dedup(df, "doc_id", "text", w=8).collect()
    assert all(r["dedup_text"] == "" and r["dup_ratio"] == 1.0 for r in rows)


def test_simhash_near_dup_finds_exact_dups_and_guards(spark):
    df = docs_df(spark)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dedup.simhash_near_dup(df, "doc_id", "text").collect()}
    assert pairs[(1, 4)] == 0  # case/ws dup -> identical fingerprint
    assert all(h <= 3 for h in pairs.values())
    import pytest
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_dup(df, "doc_id", "text", bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divisible"):
        dedup.simhash_near_dup(df, "doc_id", "text", bits=50, bands=4, max_hamming=3)


def test_temperature_resample_upsamples_small_strata(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)], ["id", "src"]
    )
    out = sampling.temperature_resample(df, "id", "src", target_total=200)
    rates = {r["src"]: r["keep_fraction"] for r in
             out.select("src", "keep_fraction").distinct().collect()}
    # alpha=0.5: keep fraction of the small stratum must exceed the big one's
    assert rates["small"] > rates["big"]
    # and the expected total stays near the target: sum(n_s * f_s) ~ 200
    assert abs(900 * rates["big"] + 100 * rates["small"] - 200) < 1e-6
    import pytest
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_resample(df, "id", "src", target_total=200, alpha=0.7)


def test_quality_classifier_deterministic_and_exact(spark):
    df = docs_df(spark)
    a = {r["doc_id"]: r for r in text.quality_classifier(df, "doc_id", "text").collect()}
    b = {r["doc_id"]: r for r in text.quality_classifier(df, "doc_id", "text").collect()}
    assert a == b
    for r in a.values():
        assert r["quality_logit"] == r["w_sum"] / (r["n_tokens"] * 1000)
        assert r["keep"] == (r["quality_logit"] >= 0.0)


def test_collocations_ranks_frequent_pair_first(spark):
    rows = [(i, "new york " + " ".join(f"w{j}x{i}" for j in range(6))) for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    top = text.collocations(df, "doc_id", "text", min_count=5, top_k=5).collect()
    assert (top[0]["w1"], top[0]["w2"]) == ("new", "york")
    assert top[0]["c_xy"] == 20


def test_semantic_dedup_pairs_finds_planted_near_dups(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 8)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # plant a near-dup of vector 3 as id 40 (tiny perturbation)
    rows.append((40, [float(x) for x in base[3] + 0.001]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = similarity.semantic_dedup_pairs(
        df, seed_mod=8, n_iter=2, threshold=0.99
    ).collect()
    assert any(r["id_a"] == 3 and r["id_b"] == 40 for r in pairs)
    # trained-model reuse path returns the identical pair set
    from duckdb_dbt_finance_warehouse_spark.operators.kmeans import kmeans_fit

    model = kmeans_fit(df, "vec_id", "embedding", seed_mod=8, n_iter=2)
    again = similarity.semantic_dedup_pairs(
        df, seed_mod=8, n_iter=2, threshold=0.99, model=model
    ).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in again) == sorted(
        (r["id_a"], r["id_b"]) for r in pairs
    )


def test_funnel_requires_strict_order_and_deadline(spark):
    ts = lambda d, h=0: datetime(2024, 1, d, h)
    rows = [
        # u1 completes in order: view d1 -> click d2 -> purchase d3
        (1, ts(1), "view"), (1, ts(2), "click"), (1, ts(3), "purchase"),
        # u2 purchase BEFORE click: step 3 must not count
        (2, ts(1), "view"), (2, ts(3), "click"), (2, ts(2), "purchase"),
        # u3 converts but outside the 7-day cap
        (3, ts(1), "view"), (3, ts(2), "click"), (3, ts(20), "purchase"),
        # u4 never views: excluded entirely
        (4, ts(1), "click"), (4, ts(2), "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {
        r["user_id"]: r
        for r in sessionize.funnel(
            df, ["view", "click", "purchase"], max_days=7
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["converted"] and out[1]["reached_step"] == 3
    assert out[1]["secs_to_convert"] == 2 * 86400
    assert not out[2]["converted"] and out[2]["reached_step"] == 2
    assert not out[3]["converted"] and out[3]["reached_step"] == 2
    assert out[3]["step_3_ts"] is None


def test_cohort_retention_offsets_and_ppm(spark):
    ts = lambda d: datetime(2024, 1, d)  # 2024-01-01 is a Monday
    rows = [
        (1, ts(1)), (1, ts(8)),   # cohort day 1, active offset 0 and 1
        (2, ts(1)),               # cohort day 1, offset 0 only
        (3, ts(9)), (3, ts(10)),  # cohort day 9, both rows offset 0
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (str(r["cohort_start"]), r["period_offset"]): r
        for r in sessionize.cohort_retention(df, unit="week").collect()
    }
    assert out[("2024-01-01", 0)]["n_active"] == 2
    assert out[("2024-01-01", 1)]["n_active"] == 1
    assert out[("2024-01-01", 1)]["retention_ppm"] == 500000
    assert out[("2024-01-09", 0)]["cohort_size"] == 1
    assert ("2024-01-09", 1) not in out


def test_bm25_ranks_term_dense_doc_first(spark):
    rows = [
        (1, "spark spark spark engine"),
        (2, "spark engine engine engine"),
        (3, "window hash join"),
        (4, "nothing relevant here at all " + "filler " * 20),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.bm25_search(df, "doc_id", "text", ["spark", "window"], top_k=3)
    got = out.collect()
    ids = [r["doc_id"] for r in got]
    assert set(ids) == {1, 2, 3}  # doc 4 matches nothing
    # same term, same doc length: tf=3 must outrank tf=1
    scores = {r["doc_id"]: r["bm25"] for r in got}
    assert scores[1] > scores[2]
    assert all(r["bm25"] > 0 for r in got)


def test_bigram_lm_scores_flag_outlier_doc(spark):
    common = [(i, "the cat sat on the mat and the dog sat too") for i in range(10)]
    rows = common + [(99, "zq xv qqk wplj zzv mmo qqk zax")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.bigram_lm_scores(df, "doc_id", "text").collect()}
    # the garbled doc's bigrams are corpus-rare -> much lower avg log-prob
    assert out[99]["avg_logprob"] < out[0]["avg_logprob"]
    # repeated docs share identical scores (determinism across partitions)
    assert out[0]["sum_logprob_q"] == out[5]["sum_logprob_q"]


def test_bigram_lm_frame_is_memoized_stored_state(spark):
    # range-derived plans canonicalize equal across constructions (the
    # same property parquet scans have — how the memo hits across suite
    # entries); createDataFrame local frames do NOT, so build from range
    def corpus():
        return spark.range(4).selectExpr(
            "id AS doc_id", "'the cat sat on the mat' AS text"
        )

    a = text.bigram_lm_frame(corpus(), "doc_id", "text")
    b = text.bigram_lm_frame(corpus(), "doc_id", "text")
    # memo keyed on plan semantics: same corpus -> the SAME stored frame
    assert a is b
    assert a.storageLevel.useMemory


def test_bigram_lm_incremental_count_merge_equals_rebuild(spark):
    """The LM's append==rebuild form: c1/c2 are plain sums, so merging a
    batch's count tables into the stored counts and re-deriving the
    log-prob table equals retraining on the unioned corpus — the same
    frozen-lifecycle invariant the ANN indexes pin."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(3)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, "the dog sat on the rug"), (11, "a cat and a dog")],
        ["doc_id", "text"],
    )
    full = base.unionByName(batch)
    want = {
        r["gram"]: r["q"]
        for r in text.bigram_lm_frame(full, "doc_id", "text").collect()
    }

    def counts(df):
        c2 = text.word_ngrams_all(df, "doc_id", "text", 2).groupBy("gram").agg(
            F.count("*").alias("c2")
        )
        c1 = text.tokens(df, "doc_id", "text").groupBy("tok").agg(
            F.count("*").alias("c1")
        )
        return c2, c1

    b2, b1 = counts(base)
    n2, n1 = counts(batch)
    m2 = b2.unionByName(n2).groupBy("gram").agg(F.sum("c2").alias("c2"))
    m1 = b1.unionByName(n1).groupBy("tok").agg(F.sum("c1").alias("c1"))
    vocab = m1.agg(F.count("*").alias("v"))
    lnp = F.log((F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v")))
    got = {
        r["gram"]: r["q"]
        for r in m2.withColumn("w1", F.split("gram", " ")[0])
        .join(m1.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(vocab)
        .select(
            "gram",
            F.floor(lnp * 1000000 + F.lit(0.5)).cast("bigint").alias("q"),
        )
        .collect()
    }
    assert got == want


def test_minhash_pairs_and_clusters_frames_are_memoized_stored_state(spark):
    # same discipline as the bigram-LM memo test: range-derived plans
    # canonicalize equal across constructions, like parquet scans do
    def corpus():
        return spark.range(6).selectExpr(
            "id AS doc_id",
            "CASE WHEN id % 3 = 0 THEN 'aaaa bbbb cccc dddd' "
            "ELSE concat('doc ', id, ' unique text body here') END AS text",
        )

    a = dedup.minhash_pairs_frame(corpus(), "doc_id", "text", k=4, n_hashes=32, bands=8, threshold=0.5)
    b = dedup.minhash_pairs_frame(corpus(), "doc_id", "text", k=4, n_hashes=32, bands=8, threshold=0.5)
    assert a is b  # memo keyed on plan semantics + params
    assert a.storageLevel.useMemory
    # different params -> different stored frame
    c = dedup.minhash_pairs_frame(corpus(), "doc_id", "text", k=4, n_hashes=32, bands=8, threshold=0.6)
    assert c is not a
    # the stored frame computes exactly what the raw chain computes
    want = sorted(
        map(tuple, dedup.minhash_lsh_dedup_portable(
            corpus(), "doc_id", "text", k=4, n_hashes=32, bands=8, threshold=0.5
        ).collect())
    )
    assert sorted(map(tuple, a.collect())) == want
    # cluster map memoized on the pair frame; hit guaranteed via the
    # shared pair frame object, and equal to the raw contraction
    ca = dedup.dedup_clusters_frame(a)
    cb = dedup.dedup_clusters_frame(b)
    assert ca is cb
    raw = sorted(map(tuple, dedup.dedup_clusters(a).collect()))
    assert sorted(map(tuple, ca.collect())) == raw
    release_persisted()


def test_kmeans_fit_is_memoized_frozen_model(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import kmeans as km

    def corpus():
        return spark.range(64).selectExpr(
            "id AS vec_id",
            "transform(sequence(1, 8), j -> CAST((id * j) % 97 - 48 AS DOUBLE))"
            " AS embedding",
        )

    a = km.kmeans_fit(corpus(), "vec_id", "embedding", seed_mod=8, n_iter=2)
    b = km.kmeans_fit(corpus(), "vec_id", "embedding", seed_mod=8, n_iter=2)
    # memo hit: the SAME model object, not a retrain
    assert a is b
    # different params retrain
    c = km.kmeans_fit(corpus(), "vec_id", "embedding", seed_mod=8, n_iter=1)
    assert c is not a


def test_zvalue_interleaves_bits(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import maintenance

    df = spark.createDataFrame([(0b101, 0b011)], ["x", "y"])
    z = df.select(
        maintenance.zvalue_expr("x", "y", 3).alias("z")
    ).collect()[0]["z"]
    # x bits at even positions (1,0,1 -> 1+16), y bits at odd (1,1,0 -> 2+8)
    assert z == 0b011011


def test_zorder_buckets_are_local_in_both_dims(spark):
    rows = [(i % 100, i // 100) for i in range(10000)]
    df = spark.createDataFrame(rows, ["x", "y"])
    out = maintenance_mod().zorder_layout(
        df, "x", "y", bits=8, bucket_bits=4
    ).collect()
    assert sum(r["n_rows"] for r in out) == 10000
    for r in out:
        # each of the 16 z-buckets spans at most half of each dimension
        assert r["max_x"] - r["min_x"] <= 50
        assert r["max_y"] - r["min_y"] <= 50


def maintenance_mod():
    from duckdb_dbt_finance_warehouse_spark.operators import maintenance

    return maintenance


def test_incremental_rollup_equals_full_recompute(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import maintenance

    rows = [
        (datetime(2024, 1, d, h), "t%d" % (d % 3), float(d) + h / 100)
        for d in range(1, 20)
        for h in range(4)
    ]
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    day = F.date_trunc("day", F.col("ts")).cast("date")
    inc = maintenance.incremental_rollup(
        df, ["event_type"], day, "value", cutoff=F.lit("2024-01-10").cast("date")
    )
    full = df.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        (F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")) / 10000.0)
        .cast("double").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    a = {r["event_type"]: r for r in inc.collect()}
    b = {r["event_type"]: r for r in full.collect()}
    assert set(a) == set(b)
    for k in a:
        assert a[k]["n_rows"] == b[k]["n_rows"]
        assert a[k]["sum_value"] == b[k]["sum_value"]
        assert a[k]["min_value"] == b[k]["min_value"]
        assert a[k]["max_value"] == b[k]["max_value"]
    release_persisted()


def test_bpe_train_known_corpus(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import bpe

    # 'ab' is the dominant adjacent pair: 3 'abab' + 2 'ab'
    df = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "abab ab xy")], ["doc_id", "text"]
    )
    merges = {r["merge_round"]: r for r in bpe.bpe_train(df, "text", 2).collect()}
    assert (merges[1]["lhs"], merges[1]["rhs"]) == ("a", "b")
    # 3+2 = 5 words contain 'a b'; abab has it twice -> 3*2 + 2*1 = 8
    assert merges[1]["pair_count"] == 8
    # round 2 sees 'ab' as one symbol: (ab, </w>) closes both 'abab'
    # (wc 3) and 'ab' (wc 2) words -> 5, beating (ab, ab) at 3
    assert (merges[2]["lhs"], merges[2]["rhs"]) == ("ab", "</w>")
    assert merges[2]["pair_count"] == 5


def test_bpe_batched_batch1_equals_sequential(spark):
    """bpe_train_batched(batch=1) must reproduce bpe_train verbatim on
    ANY corpus: each round's greedy pick of one is exactly the global
    (count DESC, lhs, rhs) argmax with a full recount between merges."""
    from duckdb_dbt_finance_warehouse_spark.operators import bpe

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat the cat ran"),
            (2, "a cat and a mat and a hat"),
            (3, "the hat sat on a cat"),
        ],
        ["doc_id", "text"],
    )
    seq = sorted(map(tuple, bpe.bpe_train(df, "text", n_merges=4).collect()))
    b1 = sorted(
        map(tuple, bpe.bpe_train_batched(df, "text", n_rounds=4, batch=1).collect())
    )
    assert seq == b1


def test_bpe_batched_non_interacting_merges_match_sequential(spark):
    """For frequency-separated DISJOINT pairs, one batched round equals
    the sequential rounds: merging a pair only perturbs counts of pairs
    sharing its symbols, so disjoint merges see the same counts a
    recount would show. The dominant pairs sit MID-word with varied
    neighbors so neither the end-marker pairs nor any merged-created
    pair ((ab,x) etc. stays at the neighbor count) can reach them:
    (a,b)=12 > (c,d)=9 > (e,f)=6 > everything else <= 4."""
    from duckdb_dbt_finance_warehouse_spark.operators import bpe

    text1 = " ".join(
        ["abx"] * 4 + ["aby"] * 4 + ["abz"] * 4
        + ["cdu"] * 3 + ["cdv"] * 3 + ["cdw"] * 3
        + ["efg"] * 3 + ["efh"] * 3
    )
    df = spark.createDataFrame([(1, text1)], ["doc_id", "text"])
    seq = bpe.bpe_train(df, "text", n_merges=3).collect()
    bat = bpe.bpe_train_batched(df, "text", n_rounds=1, batch=3).collect()
    key = lambda r: (r["merge_round"], r["lhs"], r["rhs"], r["merged"], r["pair_count"])
    assert sorted(map(key, seq)) == sorted(map(key, bat))


def test_bpe_batched_blocks_interacting_candidates(spark):
    """Within one round no two kept merges may share a symbol (or a
    merged token): the greedy filter must defer the conflicting
    candidate to a later round, where it is re-counted."""
    from duckdb_dbt_finance_warehouse_spark.operators import bpe

    # (a,b) dominates; (b,c) interacts with it via 'b'
    text = " ".join(["abc"] * 10 + ["ab"] * 5)
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    # one round, selected before any recount: symbols never repeat
    first = bpe.bpe_train_batched(df, "text", n_rounds=1, batch=4).collect()
    seen: set[str] = set()
    for r in sorted(first, key=lambda r: r["merge_round"]):
        tri = {r["lhs"], r["rhs"], r["merged"]}
        assert not (tri & seen), f"interacting merges in one batch: {first}"
        seen |= tri


def test_bpe_segment_matches_training_vocab(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import bpe

    df = spark.createDataFrame(
        [(1, "hello hello world"), (2, "held world word")], ["doc_id", "text"]
    )
    merges = bpe.bpe_train(df, "text", 3)
    seg = bpe.bpe_segment(df, "doc_id", "text", merges)
    out = {(r["doc_id"], r["token"]): r["n"] for r in seg.collect()}
    # every token ends a word at </w> or is an intermediate symbol;
    # totals must conserve: sum of n*len(token without marker) == chars
    total_chars = sum(len(w) for t in ["hellohelloworld", "heldworldword"] for w in [t])
    got_chars = sum(
        n * len(tok.replace("</w>", "")) for (_, tok), n in out.items()
    )
    assert got_chars == total_chars
    # determinism
    again = {(r["doc_id"], r["token"]): r["n"] for r in seg.collect()}
    assert out == again


def bpe_segment_hof(df, id_col, text_col, merges):
    """Reference BPE encode: the pure-Column HOF fold of every merge (in
    rank order) over each word OCCURRENCE's symbols, then per-doc token
    counts."""
    from duckdb_dbt_finance_warehouse_spark.operators import bpe

    words = df.select(
        F.col(id_col),
        F.explode(dedup.words(text_col)).alias("word"),
    )
    mt = merges.orderBy("merge_round").agg(
        F.collect_list(F.struct("lhs", "rhs")).alias("_merges")
    )
    apply_all = (
        "aggregate(_merges, concat(split(word, ''), array('%s')), (acc, m) -> "
        "aggregate(acc, CAST(array() AS array<string>), (a, x) -> "
        "CASE WHEN size(a) > 0 AND element_at(a, -1) = m.lhs AND x = m.rhs "
        "THEN concat(slice(a, 1, size(a) - 1), array(concat(m.lhs, m.rhs))) "
        "ELSE concat(a, array(x)) END))" % bpe.END_MARKER
    )
    return (
        words.crossJoin(F.broadcast(mt))
        .select(F.col(id_col), F.explode(F.expr(apply_all)).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("n"))
    )


def test_bpe_segment_arrow_kernel_matches_hof_fold(spark):
    """The Arrow kernel (r13) must be byte-identical to the pure-Column
    HOF fold — same greedy left-to-right non-overlapping merge,
    including single-letter words that fully merge and words no merge
    touches."""
    from duckdb_dbt_finance_warehouse_spark.operators import bpe

    df = spark.createDataFrame(
        [
            (1, "hello hello world a ab abab"),
            (2, "held world word b aa hello"),
        ],
        ["doc_id", "text"],
    )
    merges = bpe.bpe_train(df, "text", 4)
    fast = {
        (r["doc_id"], r["token"]): r["n"]
        for r in bpe.bpe_segment(df, "doc_id", "text", merges).collect()
    }
    slow = {
        (r["doc_id"], r["token"]): r["n"]
        for r in bpe_segment_hof(df, "doc_id", "text", merges).collect()
    }
    assert fast == slow


def test_chunk_overlap_covers_and_overlaps(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import packing

    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "short doc")], ["doc_id", "text"])
    out = packing.chunk_overlap(df, "doc_id", "text", chunk_tokens=64, overlap=16)
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_tok"], r["chunk_len"])
        for r in out.collect()
    )
    # doc 1: starts 1 and 49 (stride 48, last start <= 100-16)
    assert [(d, i, s, l) for d, i, s, l in rows if d == 1] == [
        (1, 0, 1, 64),
        (1, 1, 49, 52),
    ]
    # short doc -> exactly one whole-doc chunk
    assert [(d, i, s, l) for d, i, s, l in rows if d == 2] == [(2, 0, 1, 2)]
    # consecutive chunks share exactly `overlap` tokens
    texts = {r["chunk_idx"]: r["chunk_text"].split(" ")
             for r in out.collect() if r["doc_id"] == 1}
    assert texts[0][-16:] == texts[1][:16]
    import pytest
    with pytest.raises(ValueError, match="overlap"):
        packing.chunk_overlap(df, "doc_id", "text", chunk_tokens=16, overlap=16)


def test_negative_pairs_labels_differ_and_deterministic(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, i % 3) for i in range(60)], ["vec_id", "label"]
    )
    anchors = df.filter(F.col("vec_id") < 6)
    run = lambda: sorted(
        (r["anchor_id"], r["cand_id"], r["rank"])
        for r in sampling.negative_pairs(
            df, "vec_id", "label", anchors, k=3, buckets=4
        ).collect()
    )
    out = run()
    assert out == run()  # pure function of (salt, ids)
    by_anchor = {}
    for a, c, rank in out:
        by_anchor.setdefault(a, []).append((c, rank))
        assert c % 3 != a % 3  # labels always differ
    for a, pairs in by_anchor.items():
        assert len(pairs) == 3 and sorted(r for _, r in pairs) == [1, 2, 3]


def test_hard_negatives_excludes_same_label_and_ranks(spark):
    import numpy as np
    from duckdb_dbt_finance_warehouse_spark.operators import similarity

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(30, 8)).astype("float32")
    # vec 29: near-copy of anchor 0 but with a DIFFERENT label -> must rank 1
    vecs[29] = vecs[0] + 0.001
    rows = [(i, [float(x) for x in vecs[i]], i % 2) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = similarity.hard_negatives(df, df.filter(F.col("vec_id") == 0), k=3)
    got = sorted((r["rank"], r["cand_id"], r["cand_label"]) for r in out.collect())
    assert all(lbl != 0 for _, _, lbl in got)  # anchor 0 has label 0
    assert got[0][1] == 29  # the planted near-copy is the hardest negative


# ---------------------------------------------------------------------------
# round-5: substring dedup, dataset overlap, zipf, length buckets,
# random projection, fertility, merge upsert
# ---------------------------------------------------------------------------


def test_substring_dup_spans_flags_shared_boilerplate(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.text import substring_dup_spans

    boiler = "this exact boilerplate sentence is repeated verbatim across documents "
    df = spark.createDataFrame(
        [
            (1, boiler * 3),
            (2, boiler * 3),  # identical -> every window duplicated
            (3, "a completely unique document with no repeated spans at all here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in substring_dup_spans(df, "doc_id", "text").collect()}
    assert out[1]["dup_fraction"] == 1.0 and out[2]["dup_fraction"] == 1.0
    assert out[3]["n_dup_windows"] == 0 and out[3]["dup_fraction"] == 0.0


def test_dataset_overlap_identical_vs_disjoint_sources(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.dedup import dataset_overlap

    df = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("b", "the quick brown fox jumps over the lazy dog"),
            ("c", "zq xv wk jm completely disjoint shingle material pq rz"),
        ],
        ["source", "text"],
    )
    out = {
        (r["src_a"], r["src_b"]): r["est_jaccard"]
        for r in dataset_overlap(df, "source", "text").collect()
    }
    assert out[("a", "b")] == 1.0  # identical slices -> identical signatures
    assert out[("a", "c")] < 0.3 and out[("b", "c")] < 0.3


def test_zipf_rank_stats_perfect_zipf_has_zero_dev(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.text import zipf_rank_stats

    # freq(rank r) = 12/r for terms a(12), b(6), c(4), d(3): fr constant=12
    words = ["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3
    df = spark.createDataFrame([("s", 1, " ".join(words))], ["source", "doc_id", "text"])
    row = zipf_rank_stats(df, "source", "doc_id", "text", top_ranks=4).collect()[0]
    assert row["n_ranks"] == 4 and row["top_freq"] == 12
    assert row["sum_fr"] == 48 and row["zipf_dev"] == 0.0


def test_length_bucket_stats_boundaries_and_overflow(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.packing import (
        LENGTH_BUCKET_CAPS,
        length_bucket_stats,
    )

    top = LENGTH_BUCKET_CAPS[-1]
    df = spark.createDataFrame(
        [(1, 16), (2, 17), (3, 32), (4, top + 100), (5, 0)],
        ["doc_id", "n_tok"],
    )
    out = {r["bucket_cap"]: r for r in length_bucket_stats(df, "doc_id", "n_tok").collect()}
    assert out[16]["n_docs"] == 1          # exact power stays in its bucket
    assert out[32]["n_docs"] == 2          # 17 rounds up; 32 stays
    assert out[top]["n_overflow"] == 1     # clamp + flag, kept_tokens truncates
    assert out[top]["kept_tokens"] == top and out[top]["fill_rate"] == 1.0
    assert 0 not in out and sum(r["n_docs"] for r in out.values()) == 4  # zero-len dropped


def test_random_project_matches_numpy_and_is_shuffle_free(spark):
    import numpy as np

    from duckdb_dbt_finance_warehouse_spark.operators.similarity import (
        QUANT_SCALE,
        _np_quant,
        projection_signs,
        random_project,
    )

    rng = [[((i * 37 + j * 11) % 19 - 9) / 9.0 for j in range(8)] for i in range(5)]
    df = spark.createDataFrame(
        [(i, rng[i]) for i in range(5)], ["vec_id", "embedding"]
    )
    out = random_project(df, "vec_id", "embedding", out_dim=4, dim=8)
    rows = {(r["vec_id"], r["out_i"]): r["component"] for r in out.collect()}
    assert len(rows) == 20
    S = np.array(projection_signs(4, 8), dtype=np.float64)
    Y = _np_quant(np.array(rng)) @ S.T / QUANT_SCALE
    for i in range(5):
        for o in range(4):
            assert rows[(i, o)] == Y[i, o]
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_fertility_by_lang_groups_by_predicted_language(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.text import fertility_by_lang

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat with the mat in the sun"),
            (2, "el gato es la casa de los perros con una manana"),
            (3, "zz yy xx ww vv"),  # no stopwords -> und
        ],
        ["doc_id", "text"],
    )
    out = {r["pred_lang"]: r for r in fertility_by_lang(df, "doc_id", "text").collect()}
    assert set(out) == {"en", "es", "und"}
    en = out["en"]
    assert en["n_docs"] == 1 and en["sum_ws_tokens"] == 12
    assert en["ws_tokens_per_100_chars"] > 0


def test_merge_upsert_semantics(spark):
    from duckdb_dbt_finance_warehouse_spark.sources.tables import merge_upsert

    target = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], ["k", "v"]
    )
    source = spark.createDataFrame(
        [(2, "new2", False), (3, "gone", True), (4, "new4", False)],
        ["k", "v", "is_delete"],
    )
    out = {r["k"]: r["v"] for r in merge_upsert(target, source, ["k"], "is_delete").collect()}
    assert out == {1: "old1", 2: "new2", 4: "new4"}  # 3 deleted, 2 updated, 4 inserted
    assert "is_delete" not in merge_upsert(target, source, ["k"], "is_delete").columns


def test_event_transitions_counts_and_probabilities(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.sessionize import event_transitions

    rows = [
        (1, datetime(2026, 1, 1, 0, 0, i), 10, t)
        for i, t in enumerate(["view", "view", "click", "view", "click", "purchase"])
    ]
    df = spark.createDataFrame(
        [(i, ts, u, t) for i, (ignored, ts, u, t) in enumerate(rows)],
        ["event_id", "ts", "user_id", "event_type"],
    )
    out = {(r["from_type"], r["to_type"]): r for r in event_transitions(df).collect()}
    # sequence: view->view->click->view->click->purchase
    assert out[("view", "view")]["n"] == 1
    assert out[("view", "click")]["n"] == 2
    assert out[("click", "view")]["n"] == 1
    assert out[("click", "purchase")]["n"] == 1
    assert out[("view", "click")]["row_total"] == 3
    assert out[("view", "click")]["p"] == round(2 / 3, 6)


def test_inverted_index_blocks_cap_posting_arrays(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.text import inverted_index

    df = spark.createDataFrame(
        [(i, "common " + ("rare" if i == 7 else "filler")) for i in range(10)],
        ["doc_id", "text"],
    )
    out = inverted_index(df, "doc_id", "text", block_size=4).collect()
    common = sorted(
        [r for r in out if r["tok"] == "common"], key=lambda r: r["block"]
    )
    assert [r["block"] for r in common] == [0, 1, 2]
    assert common[0]["postings"] == [0, 1, 2, 3]  # capped at block_size
    assert common[2]["postings"] == [8, 9]
    rare = [r for r in out if r["tok"] == "rare"]
    assert len(rare) == 1 and rare[0]["postings"] == [7]
    # the driver-facing scalar form x_inverted_index emits: same
    # information, comma-joined
    s = inverted_index(df, "doc_id", "text", block_size=4).withColumn(
        "postings", F.array_join("postings", ",")
    )
    assert dict(s.dtypes)["postings"] == "string"
    s0 = {(r["tok"], r["block"]): r["postings"] for r in s.collect()}
    assert s0[("common", 0)] == "0,1,2,3" and s0[("rare", 1)] == "7"


def test_hll_merge_equals_direct_estimate_of_union(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import sketch

    df = spark.range(0, 5000).selectExpr(
        "id AS user_id", "id % 4 AS batch"
    )
    inc = {
        r["part"]: r for r in sketch.hll_incremental_estimate(df, "user_id", "batch").collect()
    }
    direct = sketch.hll_distinct(df, "user_id").collect()[0]
    # register max-merge across batches == registers of the full data
    assert inc["merged"]["hll_estimate"] == direct["hll_estimate"]
    assert inc["merged"]["buckets_used"] == direct["buckets_used"]
    assert set(inc) == {"0", "1", "2", "3", "merged"}


def test_fuzzy_string_join_matches_perturbed_to_source(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.dedup import fuzzy_string_join

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over"),
            (2, "a completely different sentence here"),
            (3, "spark shuffles partition data fast"),
        ],
        ["corpus_id", "s"],
    )
    probes = spark.createDataFrame(
        [(10, "the quck brown fox jumps over")],  # one char dropped
        ["probe_id", "s"],
    )
    out = fuzzy_string_join(
        probes, corpus, "probe_id", "s", "corpus_id", "s", n=3, threshold=0.4
    ).collect()
    assert [(r["probe_id"], r["corpus_id"]) for r in out] == [(10, 1)]
    assert out[0]["jaccard"] > 0.7


def test_fuzzy_join_gram_df_cap_prunes_viral_grams(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.dedup import fuzzy_string_join

    # every corpus string shares the viral token; with the cap at 1 the
    # only candidates come from rarer grams, but scores stay exact
    corpus = spark.createDataFrame(
        [(i, f"common prefix unique{i}") for i in range(5)], ["corpus_id", "s"]
    )
    probes = spark.createDataFrame([(0, "common prefix unique3")], ["probe_id", "s"])
    out = fuzzy_string_join(
        probes, corpus, "probe_id", "s", "corpus_id", "s",
        n=3, threshold=0.9, max_gram_df=1,
    ).collect()
    assert len(out) == 1 and out[0]["corpus_id"] == 3 and out[0]["jaccard"] == 1.0


def test_corr_matrix_exact_endpoints(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.stats import corr_matrix

    df = spark.range(1, 101).selectExpr(
        "CAST(id AS DOUBLE) AS x",
        "CAST(2 * id + 3 AS DOUBLE) AS y",   # perfectly linear -> 1.0
        "CAST(-id AS DOUBLE) AS z",          # anti-correlated -> -1.0
    )
    out = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in corr_matrix(df, [("x", 1), ("y", 1), ("z", 1)]).collect()
    }
    assert out[("x", "y")] == 1.0
    assert out[("x", "z")] == -1.0
    assert out[("y", "z")] == -1.0


def test_rolling_zscore_flags_planted_spike(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.stats import (
        rolling_zscore_anomalies,
    )

    # steady 10.0 +- 0.2 baseline, then a 100.0 spike at i=12
    rows = [
        (1, i, 100.0 if i == 12 else 10.0 + (0.2 if i % 2 else -0.2))
        for i in range(15)
    ]
    df = spark.createDataFrame(rows, ["user_id", "seq", "value"])
    out = {r["seq"]: r for r in rolling_zscore_anomalies(
        df, "user_id", ["seq"], "value", window=10, min_points=5
    ).collect()}
    assert out[12]["is_anomaly"] is True and abs(out[12]["z"]) > 100
    assert out[3]["z"] is None and out[3]["is_anomaly"] is False  # cold start
    assert out[11]["is_anomaly"] is False
    # the spike then inflates the NEXT row's baseline but must not flag it
    assert out[13]["is_anomaly"] is False


def test_spread_input_guard(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.dedup import spread_input

    target = spark.sparkContext.defaultParallelism
    one = spark.range(100).coalesce(1)
    assert spread_input(one).rdd.getNumPartitions() == target
    wide = spark.range(100).repartition(target)
    # well-partitioned input: no-op, no extra shuffle inserted
    assert spread_input(wide) is wide


def test_pagerank_hub_ranks_highest_and_is_deterministic(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.graph import PR_SCALE, pagerank

    # star: 1..5 -> 0, plus 0 -> 1 so the hub has an out-edge
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 6)] + [(0, 1)], ["src", "dst"]
    )
    out = {r["node"]: r for r in pagerank(edges, iterations=3).collect()}
    hub = out[0]["rank_q"]
    assert hub > out[1]["rank_q"] > out[2]["rank_q"]  # 1 gets the hub's mass
    assert out[2]["rank_q"] == out[5]["rank_q"]       # leaves tie exactly
    assert all(0 < r["rank_q"] < PR_SCALE for r in out.values())
    again = {r["node"]: r["rank_q"] for r in pagerank(edges, iterations=3).collect()}
    assert again == {k: v["rank_q"] for k, v in out.items()}


def test_pagerank_empty_edges_returns_empty_frame(spark):
    """An empty edge frame must return an empty (node, rank_q, rank)
    frame, not raise ZeroDivisionError at plan-build time (the scalar
    n_nodes model state introduced in r9 divides by the node count)."""
    from duckdb_dbt_finance_warehouse_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src LONG, dst LONG")
    out = pagerank(empty, iterations=3)
    assert out.columns == ["node", "rank_q", "rank"]
    assert out.count() == 0


def test_quantize_embeddings_known_values_and_zero_vector(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale 0, codes 0
        ],
        ["vec_id", "embedding"],
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    r1 = out[1]
    assert r1["scale"] == 1.0 and r1["n_dims"] == 4
    # codes: 127, -64 (round(-63.5) away from zero), 32, 0
    assert r1["sum_q"] == 127 - 64 + 32 + 0
    assert 0 < r1["max_abs_err"] < 1.0 / 127
    r2 = out[2]
    assert r2["scale"] == 0.0 and r2["sum_q"] == 0 and r2["max_abs_err"] == 0.0


def test_cooccurrence_and_triangles_known_graph(spark):
    """Hand-computed fixture: baskets {A,B,C}, {A,B,C,D}, {B,C} give
    edges AB, AC, BC, AD, BD, CD (AB/AC/BC support 2, others 1).
    The full edge set is K4 = 4 triangles; wedges = 4*C(3,2) = 12;
    clustering = 3*4/12 = 1.0. The support>=2 subgraph is the single
    triangle ABC."""
    from duckdb_dbt_finance_warehouse_spark.operators import graph

    rows = [(1, x) for x in "ABC"] + [(2, x) for x in "ABCD"] + [(3, x) for x in "BC"]
    df = spark.createDataFrame(rows, ["g", "item"])

    edges = graph.cooccurrence_edges(df, "g", "item")
    got = {(r["a"], r["b"]): r["n_groups"] for r in edges.collect()}
    assert got == {
        ("A", "B"): 2, ("A", "C"): 2, ("B", "C"): 3,
        ("A", "D"): 1, ("B", "D"): 1, ("C", "D"): 1,
    }

    pairs = graph.cooccurrence_pairs(df, "g", "item")
    assert sorted(map(tuple, pairs.collect())) == sorted(got)

    full = graph.triangle_stats(pairs).first()
    assert full["n_edges"] == 6 and full["n_triangles"] == 4
    assert full["n_wedges"] == 12 and full["clustering_coeff"] == 1.0

    sup2 = graph.triangle_stats(
        graph.cooccurrence_edges(df, "g", "item", min_groups=2).select("a", "b")
    ).first()
    assert sup2["n_edges"] == 3 and sup2["n_triangles"] == 1


def test_triangle_stats_default_routes_closing_join_by_count(spark, monkeypatch):
    """The closing-join strategy must MEASURE the oriented edge count
    against MAX_CENSUS_EDGES, read at call time: a triangle_stats call
    on a past-budget graph degrades to the shuffle_hash closing join
    instead of attempting the broadcast (r11 VERDICT #4 — the old True
    default trusted the caller). Pinned by shrinking the budget below
    a K4 graph and reading the plan."""
    from duckdb_dbt_finance_warehouse_spark.operators import graph

    rows = [(1, x) for x in "ABCD"]
    df = spark.createDataFrame(rows, ["g", "item"])
    pairs = graph.cooccurrence_pairs(df, "g", "item")  # K4: 6 edges

    def closing_plan(stats_df) -> str:
        return stats_df._sc._jvm.PythonSQLUtils.explainString(
            stats_df._jdf.queryExecution(), "formatted"
        )

    # past-budget: closing join must NOT broadcast the edge set
    monkeypatch.setattr(graph, "MAX_CENSUS_EDGES", 2)
    over = graph.triangle_stats(pairs)
    p_over = closing_plan(over)
    assert "ShuffledHashJoin" in p_over
    assert over.first()["n_triangles"] == 4  # result identical either way

    # within budget: the packed-long broadcast path is kept
    monkeypatch.setattr(graph, "MAX_CENSUS_EDGES", 20_000_000)
    under = graph.triangle_stats(pairs)
    assert under.first()["n_triangles"] == 4


def test_triangle_degree_ordering_kills_star_wedges(spark):
    """The wedge hot spot on power-law graphs: a star's center is the
    middle vertex of C(n, 2) wedges under id ordering (center id in
    the middle of the leaf ids), but under degree ordering every edge
    points INTO the hub (leaves order below it), so its out-degree is
    0 and the oriented wedge frame is EMPTY — per-vertex wedge work no
    longer concentrates. The census itself stays exact: bolting a
    triangle onto one leaf is still counted once."""
    from pyspark.sql import functions as F

    from duckdb_dbt_finance_warehouse_spark.operators import graph

    n = 40
    center = n // 2  # mid-range id: worst case for plain id ordering
    leaves = [i for i in range(n) if i != center]
    star = [(min(v, center), max(v, center)) for v in leaves]
    e0 = spark.createDataFrame(star, ["a", "b"])
    deg = (
        e0.select(F.col("a").alias("v"))
        .unionByName(e0.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    oriented = graph._degree_oriented(e0, deg)
    # rank space: the hub carries the top (degree, id) rank, so every
    # star edge must point leaf -> hub (one distinct rb = the hub's
    # rank |V|), each leaf's out-degree is 1 and the hub's 0 — no
    # vertex has TWO out-neighbors and the out-pair wedge frame is
    # empty
    assert dict(oriented.dtypes) == {"ra": "int", "rb": "int"}
    rbs = oriented.select("rb").distinct().collect()
    assert len(rbs) == 1 and rbs[0]["rb"] == n  # |V| = n vertices
    assert oriented.groupBy("ra").count().filter(F.col("count") >= 2).count() == 0
    wedge_rows = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.ra") == F.col("y.ra"))
        .filter(F.col("x.rb") < F.col("y.rb"))
        .count()
    )
    assert wedge_rows == 0
    stats = graph.triangle_stats(e0).first()
    assert stats["n_triangles"] == 0
    assert stats["n_wedges"] == (n - 1) * (n - 2) // 2  # undirected count

    # exactness survives the relabeling: one triangle hung off a leaf
    tri_edges = star + [(leaves[0], n), (n, n + 1), (leaves[0], n + 1)]
    withtri = graph.triangle_stats(
        spark.createDataFrame(tri_edges, ["a", "b"])
    ).first()
    assert withtri["n_triangles"] == 1


def test_triangle_sample_unbiased_form_and_determinism(spark):
    """k=1 sampling keeps every edge — the estimate must equal the
    exact census scaled by 1; k must be a power of two; the k=4 sample
    is deterministic across invocations."""
    import pytest as _pytest

    from duckdb_dbt_finance_warehouse_spark.operators import graph

    rows = [(1, x) for x in "ABCDE"] + [(2, x) for x in "ABC"]
    df = spark.createDataFrame(rows, ["g", "item"])
    pairs = graph.cooccurrence_pairs(df, "g", "item")

    exact = graph.triangle_stats(pairs).first()
    k1 = graph.triangle_sample_stats(pairs, k=1).first()
    assert k1["n_triangles_sampled"] == exact["n_triangles"]
    assert k1["est_n_triangles"] == exact["n_triangles"]

    s1 = graph.triangle_sample_stats(pairs, k=4).first()
    s2 = graph.triangle_sample_stats(pairs, k=4).first()
    assert s1 == s2

    with _pytest.raises(ValueError, match="power of two"):
        graph.triangle_sample_stats(pairs, k=3)


def test_triangle_auto_routes_census_vs_doulion(spark, monkeypatch):
    """triangle_stats_auto (one entry point): within the WEDGE bound
    MAX_CENSUS_WEDGES, read at call time (the census cost driver — r13
    routing), it must return the EXACT census values under
    method='census'; past the bound it must return the DOULION estimate
    (n_triangles_sampled·k³, the unbiased scale-up) under
    method='doulion_k<k>' with a NULL clustering coefficient; a census
    past the broadcast budget still counts exactly."""
    from duckdb_dbt_finance_warehouse_spark.operators import graph

    rows = [(1, x) for x in "ABCDE"] + [(2, x) for x in "ABC"]
    df = spark.createDataFrame(rows, ["g", "item"])
    pairs = graph.cooccurrence_pairs(df, "g", "item")
    exact = graph.triangle_stats(pairs).first()

    auto = graph.triangle_stats_auto(pairs).first()
    assert auto["method"] == "census"
    assert auto["n_edges"] == exact["n_edges"]
    assert auto["n_triangles_est"] == exact["n_triangles"]
    assert auto["clustering_coeff"] == exact["clustering_coeff"]

    census_dtypes = dict(graph.triangle_stats_auto(pairs).dtypes)
    sampled = graph.triangle_sample_stats(pairs, k=4).first()
    monkeypatch.setattr(graph, "MAX_CENSUS_WEDGES", 0)
    routed_df = graph.triangle_stats_auto(pairs, k=4)
    # both routes must share ONE schema (ADVICE r7: the sampled path's
    # lit(n_edges) inferred IntegerType; census counts are LongType)
    assert dict(routed_df.dtypes) == census_dtypes
    routed = routed_df.first()
    assert routed["method"] == "doulion_k4"
    assert routed["n_edges"] == exact["n_edges"]  # full count, pre-sampling
    assert routed["n_triangles_est"] == sampled["n_triangles_sampled"] * 64
    assert routed["clustering_coeff"] is None

    # within the wedge bound but past the broadcast budget: the census
    # must degrade its closing join, never attempt the broadcast
    monkeypatch.setattr(graph, "MAX_CENSUS_WEDGES", 400_000_000)
    monkeypatch.setattr(graph, "MAX_CENSUS_EDGES", 0)
    over_df = graph.triangle_stats_auto(pairs)
    plan = over_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    over = over_df.first()
    assert over["method"] == "census"
    assert over["n_triangles_est"] == exact["n_triangles"]


def test_triangle_closing_join_broadcast_budget(spark, monkeypatch):
    """r10 ADVICE (medium): 1/k of an unbounded graph is still
    unbounded, so the packed-long broadcast closing join must degrade
    to shuffle_hash past the broadcast budget MAX_CENSUS_EDGES — on
    BOTH the census and the sampled path (survivor count over budget)
    — with bit-identical counts either way."""
    from duckdb_dbt_finance_warehouse_spark.operators import graph

    rows = [(1, x) for x in "ABCDE"] + [(2, x) for x in "ABC"]
    df = spark.createDataFrame(rows, ["g", "item"])
    pairs = graph.cooccurrence_pairs(df, "g", "item")

    # the budget flips the plan: broadcast build vs shuffled hash join
    bcast = graph.triangle_stats(pairs)
    s_b = graph.triangle_sample_stats(pairs, k=4).first()
    monkeypatch.setattr(graph, "MAX_CENSUS_EDGES", 0)
    shuf = graph.triangle_stats(pairs)
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()
    assert (
        "BroadcastHashJoin"
        not in shuf._jdf.queryExecution().executedPlan().toString()
    )
    assert bcast.first() == shuf.first()

    # standalone sampled path: past-budget survivors == in-budget
    # (broadcast) survivors — values identical
    s_s = graph.triangle_sample_stats(pairs, k=4).first()
    assert s_b == s_s


def test_hopping_window_known_counts(spark):
    """Events at :05, :20, :50 of one hour land in the epoch-aligned
    60/15 windows covering them: each event is in exactly 4 windows;
    counts per window are hand-checked."""
    from datetime import datetime as dt

    from duckdb_dbt_finance_warehouse_spark.operators import sessionize

    rows = [
        (1, dt(2024, 1, 1, 10, 5), 100, "click"),
        (2, dt(2024, 1, 1, 10, 20), 100, "click"),
        (3, dt(2024, 1, 1, 10, 50), 200, "click"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = {
        r["window_start"]: (r["n_events"], r["n_users"])
        for r in sessionize.hopping_window(df, size_minutes=60, slide_minutes=15).collect()
    }
    # event@10:05 -> windows starting 09:15..10:00; @10:20 -> 09:30..10:15;
    # @10:50 -> 10:00..10:45
    assert out[dt(2024, 1, 1, 9, 15)] == (1, 1)
    assert out[dt(2024, 1, 1, 9, 30)] == (2, 1)
    assert out[dt(2024, 1, 1, 10, 0)] == (3, 2)
    assert out[dt(2024, 1, 1, 10, 15)] == (2, 2)
    assert out[dt(2024, 1, 1, 10, 45)] == (1, 1)
    assert len(out) == 7  # 09:15..10:45 inclusive on the 15-min grid
    with _raises_value_error():
        sessionize.hopping_window(df, size_minutes=50, slide_minutes=15)


def _raises_value_error():
    import pytest as _pytest

    return _pytest.raises(ValueError)


def test_table_fingerprint_order_independent_and_mergeable(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import maintenance

    rows = [(1, "a"), (2, "b"), (3, None), (4, "d")]
    df = spark.createDataFrame(rows, ["k", "v"])
    full = maintenance.table_fingerprint(df).first()
    # row order / partitioning must not matter
    shuffled = maintenance.table_fingerprint(
        df.orderBy(F.desc("k")).repartition(7)
    ).first()
    assert full == shuffled
    # shard fingerprints add up to the whole (the merge property)
    a = maintenance.table_fingerprint(df.filter("k <= 2")).first()
    b = maintenance.table_fingerprint(df.filter("k > 2")).first()
    assert (a["n_rows"] + b["n_rows"], a["h1_sum"] + b["h1_sum"],
            a["h2_sum"] + b["h2_sum"]) == tuple(full)
    # any single-row change flips the fingerprint
    changed = maintenance.table_fingerprint(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, None), (4, "D")], ["k", "v"])
    ).first()
    assert (changed["h1_sum"], changed["h2_sum"]) != (full["h1_sum"], full["h2_sum"])


def test_kfold_split_cluster_coherent_and_uniform(spark):
    """Leakage-aware k-fold: every member of a near-dup cluster lands in
    the SAME fold; folds are deterministic and cover [0, k)."""
    from duckdb_dbt_finance_warehouse_spark.operators import sampling

    docs = spark.range(200).withColumnRenamed("id", "doc_id")
    # chain 0-1-2 one cluster; 10-11 another
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], ["id_a", "id_b"]
    )
    out = sampling.kfold_split(docs, "doc_id", k=4, pairs=pairs)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["fold"] == rows[1]["fold"] == rows[2]["fold"]
    assert rows[10]["fold"] == rows[11]["fold"]
    folds = {r["fold"] for r in rows.values()}
    assert folds == {0, 1, 2, 3}
    # deterministic across invocations
    again = {r["doc_id"]: r["fold"] for r in
             sampling.kfold_split(docs, "doc_id", k=4, pairs=pairs).collect()}
    assert again == {d: r["fold"] for d, r in rows.items()}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="k must be"):
        sampling.kfold_split(docs, "doc_id", k=1)


def test_cluster_splits_work_with_string_ids(spark):
    """String-id corpora must NOT silently collapse into one hash group
    (the cast('long') NULL trap): folds spread, and cluster members
    still share fold/split."""
    from duckdb_dbt_finance_warehouse_spark.operators import sampling

    docs = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(120)], ["doc_id"]
    )
    pairs = spark.createDataFrame(
        [("doc-0", "doc-1"), ("doc-1", "doc-2")], ["id_a", "id_b"]
    )
    out = {r["doc_id"]: r["fold"] for r in
           sampling.kfold_split(docs, "doc_id", k=4, pairs=pairs).collect()}
    assert out["doc-0"] == out["doc-1"] == out["doc-2"]
    assert len(set(out.values())) == 4  # unclustered ids spread, no collapse

    sp = sampling.leakage_safe_split(docs, pairs, "doc_id", 0.3)
    rows = {r["doc_id"]: r for r in sp.collect()}
    assert rows["doc-0"]["split"] == rows["doc-1"]["split"] == rows["doc-2"]["split"]
    assert {r["split"] for r in rows.values()} == {"train", "val"}


def test_frame_sample_rejects_bad_params(spark):
    import pytest as _pytest

    from duckdb_dbt_finance_warehouse_spark.operators import multimodal

    df = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    for kw in ({"max_frames": 0}, {"stride": 0}, {"frame_chars": 0}):
        with _pytest.raises(ValueError, match="must all be >= 1"):
            multimodal.frame_sample(df, "doc_id", "text", **kw)


# ---------------------------------------------------------------------------
# stats: exact AUC / KS drift / two-pass prefix sums; maintenance: rendezvous
# ---------------------------------------------------------------------------


def test_ordered_prefix_sums_matches_global_cumsum(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.stats import (
        ordered_prefix_sums,
    )

    rows = [(v, v % 7, (v * 3) % 5) for v in range(0, 200, 3)]
    df = spark.createDataFrame(rows, "v long, a long, b long")
    got = {
        r["v"]: (r["cum_a"], r["cum_b"])
        for r in ordered_prefix_sums(df, "v", ["a", "b"], buckets=5).collect()
    }
    ca = cb = 0
    for v, a, b in sorted(rows):
        ca, cb = ca + a, cb + b
        assert got[v] == (ca, cb), v


def test_auc_exact_matches_pairwise_bruteforce(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.stats import auc_exact

    # scores with heavy ties across both classes
    rows = [((i * i) % 13, i % 3 == 0) for i in range(120)]
    df = spark.createDataFrame(rows, "score long, label boolean")
    r = auc_exact(df, "score", "label").collect()[0]
    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    u2 = sum(2 if p > n else (1 if p == n else 0) for p in pos for n in neg)
    assert r["n_pos"] == len(pos) and r["n_neg"] == len(neg)
    assert r["u2"] == u2
    assert r["auc"] == u2 / (2 * len(pos) * len(neg))


def test_auc_exact_perfect_and_random_separation(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.stats import auc_exact

    perfect = spark.createDataFrame(
        [(i, i >= 50) for i in range(100)], "score long, label boolean"
    )
    assert auc_exact(perfect, "score", "label").collect()[0]["auc"] == 1.0
    constant = spark.createDataFrame(
        [(7, i % 2 == 0) for i in range(100)], "score long, label boolean"
    )
    # all ties -> half credit everywhere -> 0.5
    assert auc_exact(constant, "score", "label").collect()[0]["auc"] == 0.5


def test_ks_drift_matches_ecdf_bruteforce(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.stats import ks_drift

    va = [(v * 7) % 40 for v in range(90)]
    vb = [(v * 11) % 40 + 5 for v in range(70)]
    rows = [(v, "a") for v in va] + [(v, "b") for v in vb]
    df = spark.createDataFrame(rows, "v long, grp string")
    r = ks_drift(df, "v", "grp", "a", "b").collect()[0]
    na, nb = len(va), len(vb)
    grid = sorted(set(va) | set(vb))
    best, best_at = -1, None
    for g in grid:
        gap = abs(sum(1 for v in va if v <= g) * nb - sum(1 for v in vb if v <= g) * na)
        if gap > best:
            best, best_at = gap, g
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["d_num"] == best
    assert r["ks_at"] == best_at
    assert r["ks"] == best / (na * nb)


def test_ks_drift_identical_slices_is_zero(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.stats import ks_drift

    rows = [(v % 20, g) for v in range(80) for g in ("a", "b")]
    df = spark.createDataFrame(rows, "v long, grp string")
    r = ks_drift(df, "v", "grp", "a", "b").collect()[0]
    assert r["d_num"] == 0 and r["ks"] == 0.0


def test_rendezvous_growth_moves_only_into_new_shard(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.maintenance import (
        rendezvous_shard,
        reshard_audit,
    )
    from pyspark.sql import functions as F

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    audit = {r["shard_after"]: r for r in reshard_audit(df, "k", 8, 9).collect()}
    assert set(audit) == set(range(9))
    # rendezvous invariant: growing N -> N+1 moves keys ONLY into the
    # new shard; every surviving shard keeps all its keys
    for s in range(8):
        assert audit[s]["n_moved"] == 0, s
    assert audit[8]["n_moved"] == audit[8]["n_rows"] > 0
    # expected movement ~ 1/9 of keys; allow generous spread
    assert 5000 // 20 < audit[8]["n_rows"] < 5000 // 4
    # assignment is a pure row expression: stable under repartitioning
    a1 = df.select("k", rendezvous_shard("k", 8).alias("s")).collect()
    a2 = (
        df.repartition(13)
        .select("k", rendezvous_shard("k", 8).alias("s"))
        .collect()
    )
    assert {r["k"]: r["s"] for r in a1} == {r["k"]: r["s"] for r in a2}
    # every shard in range
    assert all(0 <= r["s"] < 8 for r in a1)


def test_centroid_drift_identical_slices_cosine_one(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.similarity import (
        centroid_drift,
    )
    from pyspark.sql import functions as F

    # two slices with IDENTICAL vector multisets -> identical centroids
    # (0.1 offset keeps the centroid away from the zero vector, where
    # the cosine is defined as NULL)
    vecs = [[0.1 + 0.25 * ((i + j) % 5 - 2) for j in range(8)] for i in range(40)]
    rows = [(i, vecs[i % 40]) for i in range(80)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    r = centroid_drift(df, "v", F.col("id") % 2 == 1).collect()[0]
    assert (r["n_a"], r["n_b"], r["n_dims"]) == (40, 40, 8)
    assert r["centroid_cosine"] == 1.0


def test_centroid_drift_matches_bruteforce(spark):
    import math

    from duckdb_dbt_finance_warehouse_spark.operators.similarity import (
        QUANT_SCALE,
        centroid_drift,
    )
    from pyspark.sql import functions as F

    Q = int(QUANT_SCALE)
    rows = [
        (i, [((i * 7 + j * 13) % 11 - 5) / 7.0 for j in range(6)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    r = centroid_drift(df, "v", F.col("id") >= 30).collect()[0]

    import struct as _struct

    def f32(x):  # replicate float storage then double cast
        return _struct.unpack("f", _struct.pack("f", x))[0]

    def quant(x):  # half away from zero, like SQL round()
        y = f32(x) * Q
        return int(math.floor(y + 0.5)) if y >= 0 else -int(math.floor(-y + 0.5))

    a = [v for i, v in rows if i < 30]
    b = [v for i, v in rows if i >= 30]

    def mean_q(vs, d):
        s = sum(quant(v[d]) for v in vs)
        n = len(vs)
        return (s + n * Q) // n - Q

    ma = [mean_q(a, d) for d in range(6)]
    mb = [mean_q(b, d) for d in range(6)]
    dot = sum(x * y for x, y in zip(ma, mb))
    cos = round(dot / math.sqrt(sum(x * x for x in ma) * sum(y * y for y in mb)), 6)
    assert (r["n_a"], r["n_b"], r["n_dims"]) == (30, 20, 6)
    assert r["dot_q"] == dot
    assert r["centroid_cosine"] == cos


def test_lexical_drift_matches_bruteforce(spark):
    from collections import Counter

    from duckdb_dbt_finance_warehouse_spark.operators.text import lexical_drift
    from pyspark.sql import functions as F

    docs_a = ["alpha beta gamma alpha", "beta beta delta", "alpha delta delta"]
    docs_b = ["omega beta omega", "omega gamma gamma omega", "beta omega"]
    rows = [(t, False) for t in docs_a * 4] + [(t, True) for t in docs_b * 4]
    df = spark.createDataFrame(rows, "text string, sb boolean")
    out = lexical_drift(df, "text", F.col("sb"), top_k=10, min_count=1).collect()

    ca = Counter(w for t in docs_a * 4 for w in t.split())
    cb = Counter(w for t in docs_b * 4 for w in t.split())
    ta, tb = sum(ca.values()), sum(cb.values())
    exp = {}
    for tok in set(ca) | set(cb):
        a, b = ca[tok], cb[tok]
        piv = a * tb - b * ta
        chi2 = round(
            (ta + tb) * float(piv) * float(piv)
            / ((a + b) * ((ta - a) + (tb - b)) * ta * tb),
            6,
        )
        exp[tok] = (a, b, "a" if piv >= 0 else "b", chi2)
    assert len(out) == len(exp)
    for r in out:
        assert exp[r["tok"]] == (r["n_a"], r["n_b"], r["enriched_in"], r["chi2"]), r
    # ordering: chi2 desc then tok asc
    scores = [(-r["chi2"], r["tok"]) for r in out]
    assert scores == sorted(scores)


def test_centroid_drift_zero_centroid_is_null(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.similarity import (
        centroid_drift,
    )
    from pyspark.sql import functions as F

    # slice a sums to the zero vector -> cosine NULL, counts still real
    rows = [(0, [1.0, -1.0]), (1, [-1.0, 1.0]), (2, [0.5, 0.25]), (3, [0.5, 0.25])]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    r = centroid_drift(df, "v", F.col("id") >= 2).collect()[0]
    assert r["centroid_cosine"] is None
    assert (r["n_a"], r["n_b"]) == (2, 2)


def test_importance_resample_prefers_target_vocabulary(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.sampling import (
        importance_resample,
    )
    from pyspark.sql import functions as F

    # target docs speak "alpha beta", background docs "gamma delta":
    # target-vocabulary docs must score strictly higher
    rows = [(i, "alpha beta alpha beta", True) for i in range(20)] + [
        (i + 100, "gamma delta gamma delta", False) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = importance_resample(df, "doc_id", "text", F.col("tgt")).collect()
    tgt_scores = {r["imp_q"] for r in out if r["doc_id"] < 100}
    bg_scores = {r["imp_q"] for r in out if r["doc_id"] >= 100}
    assert len(tgt_scores) == 1 and len(bg_scores) == 1
    assert tgt_scores.pop() > bg_scores.pop()
    # keep decision is the exact integer rule on (id, imp_q): recompute
    import hashlib

    for r in out:
        u32 = int(
            hashlib.md5(f"ir0:{r['doc_id']}".encode()).hexdigest()[:8], 16
        )
        assert r["keep"] == (u32 * 4096 < r["imp_q"] * ((1 << 32) // 4)), r


def test_importance_resample_stable_under_partitioning(spark):
    from duckdb_dbt_finance_warehouse_spark.operators.sampling import (
        importance_resample,
    )
    from pyspark.sql import functions as F

    rows = [
        (i, f"tok{i % 7} tok{(i * 3) % 11} common word", i % 4 == 0)
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    a = {
        r["doc_id"]: (r["imp_q"], r["keep"])
        for r in importance_resample(df, "doc_id", "text", F.col("tgt")).collect()
    }
    b = {
        r["doc_id"]: (r["imp_q"], r["keep"])
        for r in importance_resample(
            df.repartition(11), "doc_id", "text", F.col("tgt")
        ).collect()
    }
    assert a == b and len(a) == 80


def test_containment_pairs_finds_quote_inside_article(spark):
    # doc 11 is a 6-word excerpt reproduced verbatim inside doc 10's
    # longer text: Jaccard is low (size skew) but containment is 1.0.
    rows = [
        (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon"),
        (11, "delta epsilon zeta eta theta iota"),
        (12, "totally unrelated words about warehouses and parquet files here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.containment_pairs(
            df, "doc_id", "text", n=3, threshold=0.5, max_gram_df=10
        ).collect()
    }
    assert (10, 11) in out
    r = out[(10, 11)]
    # every 3-gram of the excerpt (6 words -> 4 grams) is inside doc 10
    assert r["n_inter"] == r["n_b"] == 4
    assert r["containment"] == 1.0
    assert r["jaccard"] < 0.5  # the pair LSH-on-Jaccard would miss
    assert not any(12 in k for k in out)


def test_containment_pairs_frequency_filter_blocks_boilerplate(spark):
    # the shared gram appears in every doc; with max_gram_df=2 it cannot
    # generate candidates, so no pairs are reported at all
    rows = [(i, "common shared boilerplate footer text") for i in range(1, 5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.1, max_gram_df=2
    ).collect()
    assert out == []


def test_perplexity_buckets_terciles_and_order(spark):
    # 9 docs: three repeat a common phrase (familiar -> head), three are
    # mixed, three use each-unique vocabulary (surprising -> tail)
    rows = (
        [(i, "the cat sat on the mat") for i in (1, 2, 3)]
        + [(i, "the cat sat on a chair") for i in (4, 5, 6)]
        + [(7, "zyx wvu tsr qpo nml kji"),
           (8, "abc def ghi jkl mno pqr"),
           (9, "one two three four five six")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.perplexity_buckets(df, "doc_id", "text").collect()}
    assert len(out) == 9
    # buckets are terciles: 3 docs each
    from collections import Counter
    c = Counter(r["ppl_bucket"] for r in out.values())
    assert c == {"head": 3, "middle": 3, "tail": 3}
    # identical docs share a score, hence a bucket
    assert out[1]["ppl_bucket"] == out[2]["ppl_bucket"] == out[3]["ppl_bucket"]
    # the repeated-phrase docs score strictly higher than the unique-vocab docs
    assert out[1]["score_q"] > out[7]["score_q"]
    # the unique-vocabulary docs are the surprising tercile
    assert {out[7]["ppl_bucket"], out[8]["ppl_bucket"], out[9]["ppl_bucket"]} == {"tail"}


def test_pca_top_component_finds_dominant_axis(spark):
    # variance concentrated on axis 2 (values spread widely), tiny
    # noise on axis 5: the top component must align with axis 2
    from duckdb_dbt_finance_warehouse_spark.operators import pca

    rows = []
    for k in range(40):
        v = [0.0] * 8
        v[2] = (k - 20) / 20.0        # dominant spread
        v[5] = ((k * 7) % 5 - 2) / 400.0  # faint noise
        rows.append((k, v))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["dim"]: r for r in pca.top_component(df, "embedding", dim=8, rounds=8).collect()}
    assert len(out) == 8
    mags = {d: abs(out[d]["v_q"]) for d in out}
    assert mags[2] == max(mags.values()) and mags[2] == 4096
    # everything else is orders of magnitude smaller
    assert all(m <= 40 for d, m in mags.items() if d != 2)
    # nearly all variance on one axis
    assert out[2]["explained_share"] > 0.99
    assert out[2]["n_rows"] == 40


def test_pca_constant_corpus_raises(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import pca

    df = spark.createDataFrame(
        [(i, [0.25, -0.5, 0.125]) for i in range(10)], ["vec_id", "embedding"]
    )
    try:
        pca.top_component(df, "embedding", dim=3, rounds=4).collect()
        assert False, "expected zero-variance raise"
    except ValueError as e:
        assert "zero total variance" in str(e)


def test_mad_outliers_flags_extreme_and_resists_masking(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import stats

    # 20 values near 10.0, one extreme at 1000: classic case where the
    # sigma z-score is inflated by the outlier but MAD is not
    rows = [(i, 10.0 + (i % 5) * 0.1) for i in range(20)] + [(99, 1000.0)]
    df = spark.createDataFrame(rows, ["event_id", "value"])
    out = {r["event_id"]: r for r in stats.mad_outliers(df, "event_id", "value").collect()}
    assert out[99]["is_outlier"] is True and out[99]["robust_z"] > 1000
    assert all(not out[i]["is_outlier"] for i in range(20))
    # signed z: values below the median are negative
    assert out[0]["robust_z"] < 0


def test_mad_outliers_constant_majority_yields_null_z(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import stats

    # >50% identical values -> MAD = 0 -> NULL z, nothing flagged
    rows = [(i, 5.0) for i in range(8)] + [(100, 9.0), (101, 1.0)]
    df = spark.createDataFrame(rows, ["event_id", "value"])
    out = stats.mad_outliers(df, "event_id", "value").collect()
    assert all(r["robust_z"] is None and r["is_outlier"] is False for r in out)


def test_semantic_decontaminate_flags_planted_paraphrase(spark):
    # corpus doc 7 is (near-)identical in embedding space to eval doc
    # 100; corpus doc 8 is orthogonal to everything in the eval set
    base = [0.1] * 16
    near = [0.1] * 16
    near[0] = 0.11
    ortho = [0.0] * 16
    ortho[15] = 1.0
    evrow = [0.0] * 16
    evrow[7] = 1.0
    corpus = spark.createDataFrame(
        [(7, base), (8, ortho)], ["vec_id", "embedding"]
    )
    ev = spark.createDataFrame(
        [(100, near), (101, evrow)], ["vec_id", "embedding"]
    )
    # a held-out eval set joins the corpus frame and is marked by eval_pred
    out = {
        r["vec_id"]: r
        for r in similarity.semantic_decontaminate(
            corpus.unionByName(ev), F.col("cand_id") >= 100,
            threshold=0.9, n_tables=8, n_planes=2, dim=16,
        ).collect()
    }
    assert 7 in out and out[7]["max_cosine"] > 0.99
    assert 8 not in out
    # eval examples are never reported as contaminated docs
    assert not {100, 101} & set(out)


def test_boilerplate_grams_finds_site_furniture(spark):
    # source A: every doc shares a footer; source B: no repeats
    rows = (
        [(i, f"unique words number {i} here since footer follows subscribe to our newsletter", "A")
         for i in range(10)]
        + [(100 + i, " ".join(f"w{i}x{j}" for j in range(8)), "B")
           for i in range(10)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = text.boilerplate_grams(
        df, "doc_id", "text", "source", n=3, min_share_ppm=500_000, top_k=5
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # the footer trigrams are in 100% of A's docs
    assert "A" in by_src
    top = by_src["A"][0]
    assert top["n_docs"] == 10 and top["share_ppm"] == 1_000_000
    assert all(r["share_ppm"] >= 500_000 for r in by_src["A"])
    assert "subscribe to our" in {r["gram"] for r in by_src["A"]}
    # source B has no gram in >=50% of its docs
    assert "B" not in by_src


def test_skew_report_ranks_hot_keys_exactly(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import skew

    # key 'hot' holds 60 of 100 rows; 'warm' 30; ten singleton keys
    rows = (
        [(i, "hot") for i in range(60)]
        + [(100 + i, "warm") for i in range(30)]
        + [(200 + i, f"cold{i}") for i in range(10)]
    )
    df = spark.createDataFrame(rows, ["id", "k"])
    out = skew.skew_report(df, "k", top_k=3).collect()
    assert [r["key"] for r in out] == ["hot", "warm", "cold0"]
    hot = out[0]
    assert hot["n_rows_key"] == 60 and hot["share_ppm"] == 600_000
    assert hot["n_keys"] == 12
    # heaviest key is 60 / (100/12) = 7.2x the mean key
    assert hot["skew_x_mean_ppm"] == 7_200_000
    # the ratio is global: identical on every row
    assert len({r["skew_x_mean_ppm"] for r in out}) == 1


def test_ann_recall_audit_perfect_when_lsh_finds_all(spark):
    # clustered vectors: with 8 tables the LSH path recovers the exact
    # neighbors of every probe, so recall must be exactly 1e6 ppm
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(40):
        base = [0.0] * 16
        base[i % 4] = 1.0
        rows.append((i, [b + rnd.uniform(-0.05, 0.05) for b in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = similarity.ann_recall_audit(
        df, F.col("vec_id") < 4, k=3, n_tables=8, n_planes=2, dim=16
    ).collect()
    assert len(out) == 4
    for r in out:
        assert r["n_exact"] == 3
        assert 0 <= r["n_hits"] <= 3
        assert r["recall_ppm"] == (r["n_hits"] * 1_000_000) // 3
    # clustered geometry: the bucketed path finds every exact neighbor
    assert all(r["recall_ppm"] == 1_000_000 for r in out)


def test_dedup_precision_audit_on_known_corpus(spark):
    # two near-identical docs (one token differs) and two unrelated docs:
    # the LSH pass reports the near-dup pair; its true Jaccard clears the
    # bar, so precision is 1e6 ppm and the signature error is small
    rows = [
        (1, "the quick brown fox jumps over the lazy dog by the river"),
        (2, "the quick brown fox jumps over the lazy dog by the shore"),
        (3, "completely unrelated text about parquet files and shuffles"),
        (4, "another disjoint document mentioning warehouses and joins"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    r = dedup.dedup_precision_audit(
        df, "doc_id", "text", k=5, n_hashes=64, bands=16,
        est_threshold=0.5, true_threshold=0.5,
    ).first()
    release_persisted()
    assert r["n_pairs"] >= 1 and r["n_true"] == r["n_pairs"]
    assert r["precision_ppm"] == 1_000_000
    assert 0.0 <= r["mean_abs_err"] < 0.2


def test_dedup_precision_audit_empty_corpus_pairs(spark):
    # fully disjoint docs -> no reported pairs -> NULL rates, zero counts
    rows = [(i, f"doc {i} " + " ".join(f"tok{i}{j}" for j in range(8))) for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    r = dedup.dedup_precision_audit(df, "doc_id", "text").first()
    release_persisted()
    assert r["n_pairs"] == 0 and r["n_true"] == 0
    assert r["precision_ppm"] is None and r["mean_abs_err"] is None


def test_hll_error_audit_known_cardinality(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import sketch

    df = spark.range(0, 5000).selectExpr("id % 1000 AS k")
    r = sketch.hll_error_audit(df, "k").first()
    assert r["exact_distinct"] == 1000
    # 256-bucket HLL: standard error ~6.5%; assert within 3 sigma
    assert abs(r["hll_estimate"] - 1000) / 1000 < 0.2
    assert r["err_ppm"] == int(abs(r["hll_estimate"] - 1000.0) / 1000.0 * 1e6 + 0.5)


def test_ewma_truncated_known_values(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import stats

    rows = [(1, i, float(v)) for i, v in enumerate([10.0, 20.0, 30.0])]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = {r["t"]: r for r in stats.ewma_truncated(df, "k", ["t"], "v", window=8).collect()}
    # cold start: first row's ewma is its own value
    assert out[0]["ewma"] == 10.0 and out[0]["n_window"] == 1
    # second row: a=1/4 -> (1/4*20 + 3/16*10)/(1/4 + 3/16) = 115/4 / (7/4) ... compute integer-exact
    # w0=16384, w1=12288: (20*16384 + 10*12288)/(16384+12288) = 450560/28672
    assert out[1]["ewma"] == round(450560 / 28672 / 1.0, 6)
    assert out[1]["n_window"] == 2
    # more recent values weigh more: ewma at t=2 is between mean and latest
    assert out[1]["ewma"] < out[2]["ewma"] < 30.0


def test_max_concurrency_known_intervals(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import intervals

    # [0,10) [5,15) [9,12) overlap at t=9 -> 3; [20,25) alone
    rows = [(0, 10), (5, 15), (9, 12), (20, 25)]
    df = spark.createDataFrame(rows, ["st", "en"])
    r = intervals.max_concurrency(df, "st", "en").first()
    assert r["n_intervals"] == 4
    assert r["peak_concurrency"] == 3
    assert r["peak_at"] == 9


def test_max_concurrency_end_frees_before_start(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import intervals

    # half-open: [0,5) and [5,10) never overlap -> peak 1
    df = spark.createDataFrame([(0, 5), (5, 10)], ["st", "en"])
    r = intervals.max_concurrency(df, "st", "en").first()
    assert r["peak_concurrency"] == 1 and r["peak_at"] == 0


def test_group_quantiles_match_exact_on_fine_grid(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import sketch

    # width 1 on integer values -> interpolated estimates land inside
    # the right unit bin for each group
    rows = [("a", float(v)) for v in range(100)] + [("b", float(v * 10)) for v in range(10)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {(r["g"], r["q"]): r for r in sketch.group_quantiles(df, "g", "v", 1.0, [0.5, 0.9]).collect()}
    assert out[("a", 0.5)]["n"] == 100 and out[("b", 0.5)]["n"] == 10
    # group a: uniform 0..99 -> p50 ~ 49-50, p90 ~ 89-90
    assert 49.0 <= out[("a", 0.5)]["est_value"] <= 50.0
    assert 89.0 <= out[("a", 0.9)]["est_value"] <= 90.0
    # group b: 0,10,..,90 -> p50 within the bin holding the 5th value
    assert 40.0 <= out[("b", 0.5)]["est_value"] <= 41.0


def test_join_size_estimate_matches_actual_join(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import skew

    left = spark.createDataFrame(
        [(k,) for k in [1, 1, 1, 2, 2, 3, 9]], ["k"]
    )
    right = spark.createDataFrame(
        [(k,) for k in [1, 1, 2, 3, 3, 3, 8]], ["k"]
    )
    r = skew.join_size_estimate(left, right, "k", "k").first()
    actual = left.join(right, "k").count()
    assert r["join_rows"] == actual == 3 * 2 + 2 * 1 + 1 * 3
    assert r["n_left"] == 7 and r["n_right"] == 7
    assert r["n_join_keys"] == 3
    assert r["worst_key"] == "1" and r["worst_key_rows"] == 6
    assert r["worst_share_ppm"] == 6 * 1_000_000 // 11


def test_event_paths_counts_sliding_windows(spark):
    from datetime import datetime

    rows = [
        (i, datetime(2024, 1, 1, 0, i), 1, e)
        for i, e in enumerate(["view", "click", "buy", "view", "click", "buy"])
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = {r["path"]: r for r in sessionize.event_paths(df, depth=3, top_k=10).collect()}
    # sliding windows over the 6-event stream: 4 complete 3-paths
    assert out["view>click>buy"]["n"] == 2
    assert out["click>buy>view"]["n"] == 1
    assert out["buy>view>click"]["n"] == 1
    assert sum(r["n"] for r in out.values()) == 4
    assert out["view>click>buy"]["share_ppm"] == 500_000


def test_event_paths_null_step_disqualifies_whole_window(spark):
    """A NULL event_type anywhere in a window must drop that starting
    position entirely — concat_ws would otherwise silently emit the
    too-short 'a>c' for an 'a>NULL>c' window (wrong depth, and
    divergent from a ||-chain engine)."""
    from datetime import datetime

    rows = [
        (i, datetime(2024, 1, 1, 0, i), 1, e)
        for i, e in enumerate(["a", None, "c", "a", "b", "c"])
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    out = {r["path"]: r["n"] for r in sessionize.event_paths(df, depth=3).collect()}
    # windows: (a,NULL,c) x, (NULL,c,a) x, (c,a,b) ok, (a,b,c) ok
    assert out == {"c>a>b": 1, "a>b>c": 1}
    assert "a>c" not in out


def test_last_touch_attribution_credits_most_recent_channel(spark):
    from datetime import datetime

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: view -> click -> purchase(10) => click credited
        (1, datetime(2024, 1, 1, 0, 1), 1, "view", 0.0),
        (2, datetime(2024, 1, 1, 0, 2), 1, "click", 0.0),
        (3, datetime(2024, 1, 1, 0, 3), 1, "purchase", 10.0),
        # user 1 again: error then purchase(5) => still click (errors skip)
        (4, datetime(2024, 1, 1, 0, 4), 1, "error", 0.0),
        (5, datetime(2024, 1, 1, 0, 5), 1, "purchase", 5.0),
        # user 2: purchase with no preceding channel => unattributed
        (6, datetime(2024, 1, 1, 0, 1), 2, "purchase", 7.5),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    out = {r["channel"]: r for r in sessionize.last_touch_attribution(df).collect()}
    assert out["click"]["n_conversions"] == 2
    assert out["click"]["attributed_value_q"] == 1500
    assert out["click"]["attributed_value"] == 15.0
    assert out["unattributed"]["n_conversions"] == 1
    assert out["unattributed"]["attributed_value_q"] == 750
    assert "view" not in out  # click superseded it


def test_rfm_segments_terciles_and_conservation(spark):
    from datetime import datetime

    # 9 users with increasing recency, frequency, and spend together:
    # user u's last event lands on DAY u (recency is day-grain), with
    # u+1 purchases of value 10
    rows = []
    eid = 0
    for u in range(9):
        for j in range(u + 1):
            rows.append((eid, datetime(2024, 1, 1 + u, 0, 0, j), u, "purchase", 10.0))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    out = sessionize.rfm_segments(df).collect()
    assert sum(r["n_users"] for r in out) == 9
    # metrics are perfectly correlated: only diagonal segments appear
    assert all(r["r_score"] == r["f_score"] == r["m_score"] for r in out)
    by_score = {r["r_score"]: r for r in out}
    assert {1, 2, 3} == set(by_score)
    assert by_score[1]["n_users"] == by_score[2]["n_users"] == by_score[3]["n_users"] == 3
    # monetary conserves: user u spent (u+1)*10 -> scaled by 100
    assert sum(r["monetary_q"] for r in out) == sum((u + 1) * 1000 for u in range(9))


def test_rfm_recency_grid_is_calendar_bounded(spark):
    """The r tercile grid must be bounded by CALENDAR DAYS of history,
    never by user count: 500 users whose last events all land inside
    the same 3 days collapse to ≤3 distinct r_val grid rows (the
    broadcast-join-back is only sound under that bound), and users
    sharing a day share an r_score even when their raw timestamps
    differ at sub-day grain."""
    from datetime import datetime

    rows = []
    for u in range(500):
        # distinct raw timestamp per user (second u % 60, minute u//60),
        # but only 3 distinct DAYS across the population
        rows.append(
            (u, datetime(2024, 3, 1 + u % 3, 12, u // 60, u % 60), u,
             "purchase", 5.0)
        )
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    grain = 86400
    per_user_r = df.groupBy("user_id").agg(
        F.expr(f"max(cast(ts as long)) div {grain}").alias("r_val")
    )
    assert per_user_r.select("r_val").distinct().count() <= 3
    out = sessionize.rfm_segments(df).collect()
    assert sum(r["n_users"] for r in out) == 500
    # 3 days over 500 users -> at most 3 distinct r_scores, and the
    # day boundary (not the per-user timestamp) decides the score
    assert len({r["r_score"] for r in out}) <= 3


def test_ab_conversion_known_2x2(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import stats

    # variant a: 4 users, 3 converted; variant b: 4 users, 1 converted
    rows = []
    for u in range(8):
        v = "a" if u < 4 else "b"
        conv = (v == "a" and u < 3) or (v == "b" and u == 4)
        rows.append((u, v, "purchase" if conv else "view"))
        rows.append((u, v, "view"))  # extra non-converting row per user
    df = spark.createDataFrame(rows, ["user_id", "variant", "event_type"])
    r = stats.ab_conversion_test(
        df, "variant", F.col("event_type") == "purchase"
    ).first()
    assert (r["n_a"], r["n_b"], r["conv_a"], r["conv_b"]) == (4, 4, 3, 1)
    assert r["rate_a_ppm"] == 750_000 and r["rate_b_ppm"] == 250_000
    # chi2 = 8*(3*3-1*1)^2/(4*4*4*4) = 8*64/256 = 2.0
    assert r["chi2"] == 2.0


def test_ab_conversion_degenerate_and_mixed_guard(spark):
    from duckdb_dbt_finance_warehouse_spark.operators import stats

    # everyone converted -> chi2 NULL, counts still exact
    df = spark.createDataFrame(
        [(1, "a", "purchase"), (2, "b", "purchase")],
        ["user_id", "variant", "event_type"],
    )
    r = stats.ab_conversion_test(df, "variant", F.col("event_type") == "purchase").first()
    assert r["chi2"] is None and r["conv_a"] == r["conv_b"] == 1
    # an entity appearing in both variants raises
    bad = spark.createDataFrame(
        [(1, "a", "view"), (1, "b", "view"), (2, "b", "view")],
        ["user_id", "variant", "event_type"],
    )
    try:
        stats.ab_conversion_test(bad, "variant", F.col("event_type") == "purchase").collect()
        assert False, "expected mixed-variant raise"
    except Exception as e:
        assert "exactly two variant values" in str(e)
    # 3+ variants: entities in MIDDLE variants would silently drop out
    # of the 2x2 -> must raise, not return wrong statistics
    three = spark.createDataFrame(
        [(1, "a", "purchase"), (2, "b", "view"), (3, "c", "view")],
        ["user_id", "variant", "event_type"],
    )
    try:
        stats.ab_conversion_test(three, "variant", F.col("event_type") == "purchase").collect()
        assert False, "expected 3-variant raise"
    except Exception as e:
        assert "exactly two variant values" in str(e)


def test_pq_encode_and_adc_invariants(spark):
    """PQ invariants: a SEED vector encodes to its own code in every
    subspace (exact zero subspace distance to itself); an exact
    duplicate of a corpus vector gets ADC distance 0 and rank 1 when
    probed; codes are M ints in [0, K)."""
    import numpy as np

    from duckdb_dbt_finance_warehouse_spark.operators import pq
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    model = pq.pq_seed_codebooks(emb, n_subspaces=4, seed_mod=32)
    cids, Cq = model
    K = len(cids)
    codes = pq.pq_encode(emb, model, n_subspaces=4)
    rows = {r["cand_id"]: r["codes"] for r in codes.collect()}
    assert all(len(c) == 4 and all(0 <= x < K for x in c) for c in rows.values())
    # every seed's nearest code in every subspace is itself (d2 = 0)
    rank_of = {int(v): i for i, v in enumerate(cids)}
    for vid, idx in rank_of.items():
        assert rows[vid] == [idx] * 4, (vid, rows[vid])

    # ADC is CODE-based: a duplicate of a SEED vector encodes to the
    # seed's own code in every subspace, and the seed-query's LUT entry
    # for its own code is exactly 0 — so the twin surfaces at adist 0.
    # (A twin of a NON-seed vector lands at the quantization residual,
    # not 0 — that asymmetry is the 'A' in ADC.)
    seed_q = emb.filter(F.col("vec_id") == 0)  # 0 % 32 == 0 -> a seed
    twin = seed_q.withColumn("vec_id", F.lit(1_000_000).cast("long"))
    out = pq.pq_ann_topk(
        emb.unionByName(twin), seed_q, k=5, n_subspaces=4, seed_mod=32
    ).collect()
    hits = {r["cand_id"]: r["adist"] for r in out}
    assert hits[1_000_000] == 0
    # ranks follow (adist asc, cand_id asc) exactly
    assert [r["rank"] for r in sorted(out, key=lambda r: (r["adist"], r["cand_id"]))] == [1, 2, 3, 4, 5]


def test_pq_trained_codebooks_append_equals_rebuild(spark):
    """Trained-PQ lifecycle invariants: (1) the trained model keeps the
    seed shape (same code ids, same matrix shape, quantized-int
    entries) so it drops into every PQ consumer; (2) training moves the
    codebooks off the raw seeds (the Lloyd rounds actually update); (3)
    under the FROZEN trained model, encoding a base corpus and a new
    batch separately and appending equals encoding base+batch in one
    pass — the index-lifecycle invariant every stored index here pins."""
    import numpy as np

    from duckdb_dbt_finance_warehouse_spark.operators import pq
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    seeded = pq.pq_seed_codebooks(emb, n_subspaces=4, seed_mod=32)
    trained = pq.pq_train_codebooks(emb, n_subspaces=4, seed_mod=32, n_iter=2)
    assert np.array_equal(seeded[0], trained[0])
    assert seeded[1].shape == trained[1].shape
    assert np.array_equal(trained[1], np.floor(trained[1]))  # quantized ints
    assert not np.array_equal(seeded[1], trained[1])  # rounds updated it

    base = emb.filter(F.col("vec_id") % 4 != 1)
    batch = emb.filter(F.col("vec_id") % 4 == 1)
    merged = (
        pq.pq_encode(base, trained, n_subspaces=4)
        .unionByName(pq.pq_encode(batch, trained, n_subspaces=4))
    )
    rebuilt = pq.pq_encode(emb, trained, n_subspaces=4)
    as_set = lambda df: sorted(
        (r["cand_id"], tuple(r["codes"])) for r in df.collect()
    )
    got = as_set(merged)
    assert got == as_set(rebuilt) and got


def test_ivf_pq_with_all_lists_probed_equals_flat_adc(spark):
    """Cross-validation of the two PQ serving paths: when every
    inverted list is probed (n_probes >= K), IVF-PQ pruning keeps the
    whole corpus, so its cogrouped per-list ADC must produce EXACTLY
    the flat broadcast-LUT ADC ranking — same codes, same exact-integer
    distances, same tie-breaks, different execution shapes."""
    from duckdb_dbt_finance_warehouse_spark.operators import pq
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    panel = emb.filter(F.col("vec_id") < 16)
    flat = pq.pq_ann_topk(emb, panel, k=5, n_subspaces=4, seed_mod=32)
    ivfpq = pq.ivf_pq_topk(
        emb, panel, k=5, n_centroids_mod=32, n_probes=10_000,
        n_subspaces=4, seed_mod=32,
    )
    got = sorted(map(tuple, ivfpq.collect()))
    assert got == sorted(map(tuple, flat.collect())) and got


def test_ivf_pq_trained_all_lists_probed_equals_flat_trained_adc(spark):
    """Same cross-validation for the TRAINED-codebook composition
    (x_ann_ivf_pq_trained's stack): with every list probed, IVF-PQ
    serving under a trained pq_model must equal flat trained ADC —
    and the trained model must actually change the ranking vs seeded
    (otherwise the composition silently ignored the model)."""
    from duckdb_dbt_finance_warehouse_spark.operators import pq
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    panel = emb.filter(F.col("vec_id") < 16)
    trained = pq.pq_train_codebooks(emb, n_subspaces=4, seed_mod=32, n_iter=2)
    flat = pq.pq_ann_topk(emb, panel, k=5, n_subspaces=4, model=trained)
    ivfpq = pq.ivf_pq_topk(
        emb, panel, k=5, n_centroids_mod=32, n_probes=10_000,
        n_subspaces=4, pq_model=trained,
    )
    got = sorted(map(tuple, ivfpq.collect()))
    assert got == sorted(map(tuple, flat.collect())) and got
    seeded = pq.ivf_pq_topk(
        emb, panel, k=5, n_centroids_mod=32, n_probes=10_000,
        n_subspaces=4, seed_mod=32,
    )
    assert got != sorted(map(tuple, seeded.collect()))


def test_ivf_pq_build_trained_append_equals_rebuild(spark):
    """Index lifecycle for the trained composition: both models frozen
    (collected centroids + trained codebooks), so building the IVF-PQ
    lists for a base corpus and a new batch separately and unioning
    them equals one full rebuild — the invariant that makes partition-
    append the production ingest path."""
    from duckdb_dbt_finance_warehouse_spark.operators import pq, similarity
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata

    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    ivf3 = similarity._ivf_model(emb, "vec_id", "embedding", 32, None, "t")
    trained = pq.pq_train_codebooks(emb, n_subspaces=4, seed_mod=32, n_iter=2)
    base = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    merged = (
        pq.ivf_pq_build(base, ivf3, trained, n_subspaces=4)
        .unionByName(pq.ivf_pq_build(batch, ivf3, trained, n_subspaces=4))
        .collect()
    )
    rebuilt = pq.ivf_pq_build(emb, ivf3, trained, n_subspaces=4).collect()
    key = lambda r: (r["centroid_id"], r["cand_id"], tuple(r["codes"]))
    assert sorted(map(key, merged)) == sorted(map(key, rebuilt)) and merged


def test_multimodal_resize_image_hand_computed(spark):
    """REAL resize (r10): decode -> nearest-neighbor pixel resample ->
    re-encode, pinned against a hand-computed raster. Source is a 4x2
    RGB image with pixel bytes 0..23; downsampling to 2x1 with
    src = (dst*src_dim)//dst_dim selects row 0, columns {0, 2} ->
    exactly bytes [0,1,2, 6,7,8]. Upsampling 2x1 -> 4x2 repeats each
    source pixel twice per axis. Metadata carries the true re-encoded
    byte length and a bumped version."""
    import pytest

    from duckdb_dbt_finance_warehouse_spark.operators import multimodal

    src = bytes(range(24))  # 4x2 RGB, row 0 = 0..11, row 1 = 12..23
    payload = encode_png(src, 4, 2, 3)
    blobs = spark.createDataFrame(
        [(1, bytearray(payload), ("image/png", len(payload), 1))],
        schema="doc_id LONG, payload BINARY, "
        "media_meta STRUCT<mime: STRING, n_bytes: INT, version: INT>",
    )
    (down,) = multimodal.resize_image(
        blobs, "doc_id", target_width=2, target_height=1
    ).collect()
    assert decode_png(bytes(down["payload"])) == (
        2, 1, 3, bytes([0, 1, 2, 6, 7, 8]),
    )
    assert down["media_meta"]["mime"] == "image/png"
    assert down["media_meta"]["version"] == 2
    assert down["media_meta"]["n_bytes"] == len(bytes(down["payload"]))

    (up,) = multimodal.resize_image(
        blobs, "doc_id", target_width=8, target_height=4
    ).collect()
    w, h, c, px = decode_png(bytes(up["payload"]))
    assert (w, h, c) == (8, 4, 3)
    # each source pixel repeats 2x per axis: row y of the output reads
    # source row (y*2)//4 = y//2, column (x*4)//8 = x//2
    expect = bytearray()
    for y in range(4):
        for x in range(8):
            s = ((y // 2) * 4 + (x // 2)) * 3
            expect += src[s : s + 3]
    assert px == bytes(expect)

    with pytest.raises(ValueError, match="target dims"):
        multimodal.resize_image(blobs, target_width=0)
