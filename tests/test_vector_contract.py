"""The quantized-exact vector contract lives in one set of helpers.

operators/similarity, kmeans, pq and pca share components quantized to
``QUANT_SCALE``, exact integer dots, ROUND(·, 6) half away from zero,
ties to the lowest id and one per-query rank window. A second copy of
any of those rules can drift from the DuckDB oracle on its own, so the
source scan below fails if one reappears outside its helper. The other
tests pin behaviour the helpers made uniform: an empty probe panel and
the release of each k-means round's broadcast model.
"""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import functions as F

from duckdb_dbt_finance_warehouse_spark.operators import kmeans, pq, similarity
from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata
from tests.test_operators import SF

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPS = os.path.join(ROOT, "duckdb_dbt_finance_warehouse_spark", "operators")
MODULES = ("similarity.py", "kmeans.py", "pq.py", "pca.py")

# (receiver, attribute) of a call -> the top-level functions allowed to
# make it
OWNERS = {
    ("np", "floor"): "_np_half_away",
    ("math", "floor"): None,
    ("math", "copysign"): None,
    ("np", "sqrt"): "_np_norms",
    ("np", "argmax"): "_np_nearest",
    ("np", "argmin"): "_np_pq_encode",
    ("np", "argsort"): "_np_probe_order",
    # pca's Gram kernel emits the upper triangle (i <= j) of one d x d
    # matrix: a different rule from pair emission above a threshold
    ("np", "triu_indices"): ("_np_triu_pairs", "_gram_kernel"),
    ("np", "meshgrid"): None,
    ("Window", "partitionBy"): "_query_topk",
    ("F", "row_number"): "_query_topk",
    ("F", "dense_rank"): "_query_topk",
}


def _stray_calls() -> list[str]:
    stray = []
    for mod in MODULES:
        path = os.path.join(OPS, mod)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for top in tree.body:
            if not isinstance(top, ast.FunctionDef):
                continue
            for node in ast.walk(top):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and isinstance(node.func.value, ast.Name)
                ):
                    continue
                key = (node.func.value.id, node.func.attr)
                if key not in OWNERS:
                    continue
                owners = OWNERS[key] if isinstance(OWNERS[key], tuple) else (OWNERS[key],)
                if top.name not in owners:
                    stray.append(f"{mod}:{node.lineno} {top.name} calls {'.'.join(key)}")
    return stray


def test_vector_contract_is_written_once():
    stray = _stray_calls()
    assert not stray, "use the shared similarity._np_* / _query_topk helper: " + "; ".join(stray)


@pytest.mark.parametrize("path", ["cosine", "ivf", "lsh", "pq_adc"])
def test_empty_probe_panel_gives_an_empty_result(spark, path):
    """A probe frame that matches nothing (an upstream filter in a
    scheduled job) yields an empty top-k with the serving columns on
    every driver-side panel path."""
    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    none = emb.filter(F.col("vec_id") < 0)
    if path == "cosine":
        out, score = similarity.cosine_topk(emb, none, k=5), "cosine"
    elif path == "ivf":
        out, score = similarity.ivf_ann_topk(emb, none, k=5), "cosine"
    elif path == "lsh":
        out, score = similarity.lsh_ann_topk(emb, none, k=5), "cosine"
    else:
        model = pq.pq_seed_codebooks(emb, n_subspaces=4, seed_mod=32)
        codes = pq.pq_encode(emb, model, n_subspaces=4)
        out, score = pq.pq_adc_topk(codes, none, model, k=5, n_subspaces=4), "adist"
    assert out.columns == ["query_id", "cand_id", score, "rank"]
    assert out.count() == 0


def test_kmeans_training_releases_each_round_broadcast(spark, monkeypatch):
    """Each Lloyd round broadcasts the current model; once the round's
    sums are collected the broadcast must be destroyed, or a long-lived
    session keeps one model copy per round on the driver and executors."""
    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def recording(value):
        bc = real(value)
        made.append(bc)
        return bc

    monkeypatch.setattr(sc, "broadcast", recording)
    emb = load_testdata(spark, SF, "embeddings")["embeddings"]
    kmeans._train_kmeans(emb, "vec_id", "embedding", 16, 3)
    assert len(made) == 3
    assert not any(bc._jbroadcast.isValid() for bc in made)
    assert not any(os.path.exists(bc._path) for bc in made)
