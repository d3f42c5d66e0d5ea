"""Pipeline CLI — plays the role of the reference's loader script +
``dbt build`` (SURVEY §3.1-3.2).

  python runner.py ingest --warehouse WH --data DIR [--mode replace|append]
                          [--batch-ts "2024-01-15 00:00:00"]
  python runner.py build  --warehouse WH [--full-refresh] [--vars JSON]
                          [--select model1,model2]
  python runner.py test   --warehouse WH
  python runner.py dag    [--select model1,model2]   # build-order listing
  python runner.py fingerprint --warehouse WH [--table mart.mart_mrr_waterfall_month]
  python runner.py curate --warehouse WH --docs-dir /root/testdata/sf0.001
                          [--val-fraction 0.2] [--min-quality 0.7] [--pack-budget 512]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from duckdb_dbt_finance_warehouse_spark.models import build_pipeline
from duckdb_dbt_finance_warehouse_spark.session import get_spark
from duckdb_dbt_finance_warehouse_spark.sources.csv import ingest_csv
from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse


def cmd_ingest(args) -> int:
    spark = get_spark("ingest")
    wh = Warehouse(spark, args.warehouse)
    batch_ts = (
        datetime.strptime(args.batch_ts, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
        if args.batch_ts
        else datetime.now(timezone.utc)
    )
    for path in sorted(glob.glob(os.path.join(args.data, "*.csv"))):
        table = os.path.splitext(os.path.basename(path))[0]
        df = ingest_csv(wh, path, table, mode=args.mode, batch_ts=batch_ts)
        print(f"raw.{table}: {df.count()} rows")
    return 0


def cmd_build(args) -> int:
    spark = get_spark("build")
    wh = Warehouse(spark, args.warehouse)
    variables = json.loads(args.vars) if args.vars else {}
    select = args.select.split(",") if args.select else None
    p = build_pipeline()
    p.run(spark, wh, variables=variables, full_refresh=args.full_refresh, select=select)
    for name in p.topo_order(select):
        m = p.models[name]
        if m.materialization != "view":
            print(f"{m.schema}.{m.name}: {wh.read(m.schema, m.name).count()} rows")
    return 0


def cmd_test(args) -> int:
    """Run every data test the reference declares (generic tests from
    models/*/schema.yml + singular tests from tests/) — one line per
    declared test; see plans/testing.declared_reference_tests for the
    matrix and its two documented deviations (A1/A3)."""
    from duckdb_dbt_finance_warehouse_spark.plans.testing import declared_reference_tests

    spark = get_spark("test")
    wh = Warehouse(spark, args.warehouse)
    checks = declared_reference_tests(wh)
    failed = 0
    for name, viol in checks.items():
        n = viol.count()
        status = "PASS" if n == 0 else f"FAIL ({n} violations)"
        if n:
            failed += 1
        print(f"{status}: {name}")
    print(f"{len(checks) - failed}/{len(checks)} tests passed")
    return 1 if failed else 0


def cmd_query(args) -> int:
    from duckdb_dbt_finance_warehouse_spark.sql import register_warehouse

    spark = get_spark("query")
    wh = Warehouse(spark, args.warehouse)
    register_warehouse(wh)
    spark.sql(args.sql).show(args.rows, truncate=False)
    return 0


def cmd_dag(args) -> int:
    """Print the model DAG in build order (the `dbt list`/docs analog):
    one line per model — schema.name, materialization, declared deps —
    without touching Spark or the warehouse (pure registry metadata)."""
    p = build_pipeline()
    select = args.select.split(",") if args.select else None
    for name in p.topo_order(select):
        m = p.models[name]
        deps = ", ".join(m.deps) if m.deps else "-"
        extras = []
        if m.unique_key:
            extras.append(f"unique_key={','.join(m.unique_key)}")
        if m.partition_by:
            extras.append(f"partition_by={','.join(m.partition_by)}")
        suffix = f"  [{'; '.join(extras)}]" if extras else ""
        print(f"{m.schema}.{m.name}  ({m.materialization})  <- {deps}{suffix}")
    return 0


def cmd_curate(args) -> int:
    """End-to-end corpus curation (the LLM-data analog of `build`):
    documents -> per-doc audit (language, quality, exact-dup, PII
    counts) -> near-dup pairs -> leakage-safe cluster-coherent
    train/val split -> token counts -> packed training sequences.
    Writes curated.document_audit, curated.documents (with split),
    curated.train_pieces. Every stage is an oracle-verified operator;
    this command just composes them into warehouse tables."""
    from duckdb_dbt_finance_warehouse_spark.operators import dedup as ddp
    from duckdb_dbt_finance_warehouse_spark.operators import packing, sampling, text
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata
    from duckdb_dbt_finance_warehouse_spark.state import release_persisted
    from pyspark.sql import functions as F

    spark = get_spark("curate")
    wh = Warehouse(spark, args.warehouse)
    docs = load_testdata(spark, args.docs_dir, "documents")["documents"]

    lang = text.language_id(docs, "doc_id", "text").select("doc_id", "pred_lang")
    qual = text.quality_score(docs, "doc_id", "text").select("doc_id", "quality_score")
    dup = ddp.exact_dedup(docs, "doc_id", "text").select("doc_id", "is_duplicate")
    pii = text.scrub_pii(docs, "doc_id", "text").select(
        "doc_id", "n_emails", "n_phones"
    )
    audit = (
        docs.select("doc_id", "source", "lang")
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .join(dup, "doc_id")
        .join(pii, "doc_id")
        .withColumn(
            "keep",
            ~F.col("is_duplicate") & (F.col("quality_score") >= args.min_quality),
        )
    )
    wh.write(audit, "curated", "document_audit")
    audit = wh.read("curated", "document_audit")

    kept = docs.join(audit.filter("keep").select("doc_id"), "doc_id")
    pairs = ddp.minhash_lsh_dedup_portable(
        kept, "doc_id", "text", k=4, n_hashes=32, bands=8, threshold=0.5
    )
    split = sampling.leakage_safe_split(
        kept, pairs, "doc_id", args.val_fraction
    ).select("doc_id", "text", "lang", "source", "n_chars", "split_group", "split")
    wh.write(split, "curated", "documents")
    release_persisted()
    split = wh.read("curated", "documents")

    toks = text.token_counts(split.filter("split = 'train'"), "doc_id", "text")
    pieces = packing.pack_sequences(
        toks, "doc_id", "n_ws_tokens", budget=args.pack_budget, n_streams=8
    )
    wh.write(pieces, "curated", "train_pieces")

    n_docs = docs.count()
    kept_stats = split.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("split") == "val", 1).otherwise(0)).alias("n_val"),
    ).first()
    n_kept, n_val = kept_stats["n"], kept_stats["n_val"]
    n_pieces = wh.read("curated", "train_pieces").count()
    print(
        f"curated: {n_docs} docs -> {n_kept} kept "
        f"({n_val} val / {n_kept - n_val} train) -> {n_pieces} packed pieces"
    )
    return 0


def cmd_fingerprint(args) -> int:
    """Order-independent checksum of warehouse tables
    (operators/maintenance.table_fingerprint) — compare two warehouses
    or a table before/after a migration without moving data. One line
    per table: schema.table n_rows h1_sum h2_sum."""
    from duckdb_dbt_finance_warehouse_spark.operators.maintenance import (
        table_fingerprint,
    )

    spark = get_spark("fingerprint")
    wh = Warehouse(spark, args.warehouse)
    targets = []
    if args.table:
        for t in args.table.split(","):
            if "." not in t:
                print(f"error: --table expects schema.table, got {t!r}", file=sys.stderr)
                return 2
            schema, name = t.split(".", 1)
            targets.append((schema, name))
    else:
        targets = wh.tables()
    for schema, name in targets:
        r = table_fingerprint(wh.read(schema, name)).first()
        print(f"{schema}.{name}  n_rows={r['n_rows']}  h1={r['h1_sum']}  h2={r['h2_sum']}")
    return 0


def cmd_audit(args) -> int:
    """Nightly corpus health report — the measurement family composed
    into one command: volume/skew by slice, lexical + length drift
    between the two largest slices, dedup-index precision, boilerplate
    templates, and robust length outliers. Every number comes from an
    oracle-verified operator; this command only formats them."""
    from duckdb_dbt_finance_warehouse_spark.operators import dedup as ddp
    from duckdb_dbt_finance_warehouse_spark.operators import skew as skw
    from duckdb_dbt_finance_warehouse_spark.operators import stats, text
    from duckdb_dbt_finance_warehouse_spark.sources.tables import load_testdata
    from duckdb_dbt_finance_warehouse_spark.state import release_persisted
    from pyspark.sql import functions as F

    spark = get_spark("audit")
    docs = load_testdata(spark, args.docs_dir, "documents")["documents"]
    slice_col = args.slice_col

    top = skw.skew_report(docs, slice_col, top_k=5).collect()
    print(f"slices by {slice_col}: " + ", ".join(
        f"{r['key']}={r['n_rows_key']} ({r['share_ppm'] / 10000:.1f}%)" for r in top
    ))
    if top:
        print(f"skew: heaviest slice is {top[0]['skew_x_mean_ppm'] / 1e6:.2f}x the mean slice")

    if len(top) >= 2:
        a, b = top[0]["key"], top[1]["key"]
        drift = text.lexical_drift(
            docs.filter(F.col(slice_col).isin(a, b)),
            "text", F.col(slice_col) == b, top_k=5,
        ).collect()
        terms = ", ".join(f"{r['tok']} (chi2={r['chi2']:.1f}, {r['enriched_in']})" for r in drift)
        print(f"lexical drift {a} vs {b}: {terms}")
        ks = stats.ks_drift(docs, "n_chars", slice_col, a, b).first()
        print(f"length KS drift {a} vs {b}: D={ks['ks']:.4f} at n_chars={ks['ks_at']}")

    prec = ddp.dedup_precision_audit(docs, "doc_id", "text").first()
    release_persisted()
    if prec["n_pairs"]:
        print(
            f"dedup index: {prec['n_pairs']} near-dup pairs, precision "
            f"{prec['precision_ppm'] / 10000:.1f}%, mean signature error "
            f"{prec['mean_abs_err']:.4f}"
        )
    else:
        print("dedup index: no near-dup pairs reported")

    bp = text.boilerplate_grams(docs, "doc_id", "text", slice_col, n=3).collect()
    print(f"boilerplate: {len(bp)} template grams at >=10% slice share"
          + (f" (worst: '{bp[0]['gram']}' in {bp[0]['share_ppm'] / 10000:.0f}% of {bp[0]['source']})" if bp else ""))

    mad = stats.mad_outliers(docs, "doc_id", "n_chars")
    n_out = mad.filter("is_outlier").count()
    print(f"length outliers (|modified z| >= 3.5): {n_out} of {docs.count()} docs")
    return 0


def cmd_shard(args) -> int:
    """Export a warehouse table into N rendezvous-assigned training
    shards plus a verifiable manifest. Rendezvous (highest-random-
    weight) assignment means growing to N+1 shards later rewrites only
    ~1/(N+1) of the data (reshard-as-append); the manifest carries a
    per-shard count + mergeable md5-word fingerprint, so each shard can
    be verified in isolation AND the summed manifest must equal the
    source table's fingerprint end to end."""
    from duckdb_dbt_finance_warehouse_spark.operators.maintenance import (
        rendezvous_shard,
        table_fingerprint,
        table_fingerprint_by,
    )
    from pyspark.sql import functions as F

    if "." not in args.table:
        print(f"error: --table expects schema.table, got {args.table!r}", file=sys.stderr)
        return 2
    schema, table = args.table.split(".", 1)
    spark = get_spark("shard")
    wh = Warehouse(spark, args.warehouse)
    df = wh.read(schema, table)
    if args.key not in df.columns:
        print(f"error: key column {args.key!r} not in {args.table}", file=sys.stderr)
        return 2
    cols = df.columns
    sharded = df.withColumn("shard", rendezvous_shard(args.key, args.shards))
    wh.write(sharded, "shards", table, partition_by=["shard"])
    back = wh.read("shards", table)
    manifest = table_fingerprint_by(back, "shard", cols).orderBy("shard")
    wh.write(manifest, "shards", f"{table}__manifest")
    total = table_fingerprint(df).first()
    rows = wh.read("shards", f"{table}__manifest").orderBy("shard").collect()
    ok = (
        sum(r["n_rows"] for r in rows) == total["n_rows"]
        and sum(r["h1_sum"] for r in rows) == total["h1_sum"]
        and sum(r["h2_sum"] for r in rows) == total["h2_sum"]
    )
    for r in rows:
        print(f"shard={r['shard']}  n_rows={r['n_rows']}  h1={r['h1_sum']}  h2={r['h2_sum']}")
    print(f"manifest_total_matches_source={ok}")
    return 0 if ok else 1


def cmd_vacuum(args) -> int:
    """Warehouse-wide staged-swap janitor (Warehouse.vacuum): removes
    orphaned staging siblings older than the 15-min in-flight grace
    window, heals or clears the old-state shadows of interrupted swaps.
    Safe to run any time (concurrent writers are protected by the age
    guard)."""
    spark = get_spark("vacuum")
    wh = Warehouse(spark, args.warehouse)
    counts = wh.vacuum()
    print(
        f"staging_removed={counts['staging_removed']}  "
        f"trash_restored={counts['trash_restored']}  "
        f"trash_removed={counts['trash_removed']}"
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    dag = sub.add_parser("dag")
    dag.add_argument("--select", default=None)
    for name in ("ingest", "build", "test", "query", "fingerprint", "curate", "vacuum", "shard", "audit"):
        s = sub.add_parser(name)
        s.add_argument("--warehouse", required=(name != "audit"))
        if name == "ingest":
            s.add_argument("--data", required=True)
            s.add_argument("--mode", default="append", choices=["replace", "append"])
            s.add_argument("--batch-ts", default=None)
        if name == "build":
            s.add_argument("--full-refresh", action="store_true")
            s.add_argument("--vars", default=None)
            s.add_argument("--select", default=None)
        if name == "query":
            s.add_argument("sql")
            s.add_argument("--rows", type=int, default=50)
        if name == "fingerprint":
            s.add_argument("--table", default=None, help="schema.table[,schema.table...]; default: all")
        if name == "audit":
            s.add_argument("--docs-dir", required=True)
            s.add_argument("--slice-col", default="source")
        if name == "shard":
            s.add_argument("--table", required=True, help="schema.table to export")
            s.add_argument("--key", required=True, help="rendezvous key column")
            s.add_argument("--shards", type=int, default=8)
        if name == "curate":
            s.add_argument("--docs-dir", required=True)
            s.add_argument("--val-fraction", type=float, default=0.2)
            s.add_argument("--min-quality", type=float, default=0.7)
            s.add_argument("--pack-budget", type=int, default=512)
    args = ap.parse_args()
    return {
        "ingest": cmd_ingest,
        "build": cmd_build,
        "test": cmd_test,
        "query": cmd_query,
        "dag": cmd_dag,
        "fingerprint": cmd_fingerprint,
        "curate": cmd_curate,
        "vacuum": cmd_vacuum,
        "shard": cmd_shard,
        "audit": cmd_audit,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
