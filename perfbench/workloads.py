"""The benchmark's workloads. Each one times calls into the program's
public functions from outside, one closed-loop client in this process.

``warehouse``: set-up ingests a seeded base feed and builds the whole
DAG, then ingests a late backdated correction, builds it incrementally
with ``reprocess_months`` covering all history and runs the declared
tests. The traced run then also fully refreshes the same raw data in a
fresh root and compares the two by fingerprint. Set-up is the untimed
warm pass: it runs the incremental build, the SCD2 merge and the 48
tests once before anything is timed. Then append batches are ingested,
built incrementally and tested back to back for ``--seconds``.

``suite_operators``: set-up writes the test tables and runs every entry
once, comparing each entry that has an oracle with DuckDB (the warm
pass). Then passes over the entries, in an order drawn from ``--seed``,
run back to back for ``--seconds``. The tables are the same for every
seed, as the project's test data is.

Each ``*_measure`` runs for ``run.seconds`` (at least one batch or three
passes), or exactly ``n_ops`` operations when given, and records one
sample per operation under the sample name ``WORKLOADS`` gives for the
workload.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import gen_raw
import gen_suite
from probes import Tracer, bytes_written, file_state, tree_cpu_s

from duckdb_dbt_finance_warehouse_spark.models import build_pipeline
from duckdb_dbt_finance_warehouse_spark.operators.dedup import release_persisted
from duckdb_dbt_finance_warehouse_spark.operators.maintenance import table_fingerprint
from duckdb_dbt_finance_warehouse_spark.plans import testing
from duckdb_dbt_finance_warehouse_spark.plans.materialize import materialize
from duckdb_dbt_finance_warehouse_spark.plans.registry import Context
from duckdb_dbt_finance_warehouse_spark.sources.csv import ingest_csv
from duckdb_dbt_finance_warehouse_spark.sources.tables import TESTDATA_TABLES, Warehouse

RAW_TABLES = ("accounts", "subscriptions", "support_tickets")
FACTS = ("fct_subscription_month", "fct_account_month")
REPROCESS_MONTHS = 2  # the pipeline's default incremental window
FULL_HISTORY = {**gen_raw.VARS, "reprocess_months": 120}

# Six extension entries, one per operator family (dedup, ANN, graph,
# events, text, sketches), none served from a PlanMemo. Chosen from a
# traced pass over all 129 extension entries on the generated tables so
# that together they come close to it: construction 42% of entry time
# (all 129: 41%), 6.2 Spark jobs per entry (6.8) of which 1.7 during
# construction (1.9), at 3.6% of its time.
SUITE_ENTRIES = (
    "x_dedup_exact",
    "x_ann_cosine_topk",
    "x_label_propagation",
    "x_event_paths",
    "x_inverted_index",
    "x_hll_merge",
)


@dataclass
class Run:
    """One benchmark run: its inputs, its checks and what it measured."""

    spark: object
    tracer: Tracer
    workdir: str
    seed: int
    seconds: float
    n_accounts: int
    fault: str | None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=dict)
    raw_bytes: int = 0
    wh_bytes: int = 0
    peak_rss_mb: float = 0.0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def cpu_s(self) -> float:
        return tree_cpu_s(os.getpid())

    def more(self, done: int, t_end: float, n_ops: int | None, least: int = 1) -> bool:
        """Whether the measuring loop issues another operation."""
        if n_ops is not None:
            return done < n_ops
        return done < least or time.perf_counter() < t_end


# ---------------------------------------------------------------- warehouse


def _ingest(run: Run, wh: Warehouse, csv_dir: str, mode: str, ts) -> None:
    with run.tracer.span("sources.ingest_csv"):
        for t in RAW_TABLES:
            ingest_csv(wh, os.path.join(csv_dir, f"{t}.csv"), t, mode=mode, batch_ts=ts)


def _build(run: Run, wh: Warehouse, pipe, variables: dict, full_refresh: bool) -> None:
    """``Pipeline.run``; traced, the same loop through ``topo_order`` and
    ``materialize`` with one span per model."""
    if run.tracer.counters is None:
        with run.tracer.span("plans.Pipeline.run"):
            pipe.run(run.spark, wh, variables=variables, full_refresh=full_refresh)
        return
    with run.tracer.span("plans.Pipeline.run"):
        ctx = Context(run.spark, wh, pipe, variables, full_refresh)
        for name in pipe.topo_order():
            m = pipe.models[name]
            path = wh.path(m.schema, m.name)
            before = file_state(path)
            with run.tracer.span(f"models.{name}") as c:
                materialize(ctx, m)
            c["bytes_written"] = bytes_written(before, file_state(path))


def _declared_tests(run: Run, wh: Warehouse) -> None:
    with run.tracer.span("plans.testing"):
        with run.tracer.span("plans.testing.construct"):
            checks = testing.declared_reference_tests(wh)
        with run.tracer.span("plans.testing.eval"):
            counts = {k: df.count() for k, df in checks.items()}
    for k, n in counts.items():
        run.check(f"declared test {k!r}", n == 0, f"{n} violating rows")


def _partitions(wh: Warehouse, table: str) -> dict[str, dict]:
    """month partition dir name -> file state of its files."""
    root = wh.path("mart", table)
    return {
        d: file_state(os.path.join(root, d))
        for d in sorted(os.listdir(root))
        if d.startswith("month_start_date=")
    }


def _check_untouched(run: Run, table: str, before: dict, after: dict) -> None:
    """Partitions older than the restatement window keep their files."""
    months = sorted(before)
    if len(months) <= REPROCESS_MONTHS:
        return
    last = months[-1].split("=", 1)[1]
    y, m = int(last[:4]), int(last[5:7]) - REPROCESS_MONTHS
    while m < 1:
        y, m = y - 1, m + 12
    cutoff = f"month_start_date={y:04d}-{m:02d}-01"
    changed = [d for d in months if d < cutoff and after.get(d) != before[d]]
    run.check(f"{table} partitions before {cutoff[17:]} untouched", not changed, f"rewritten: {changed[:3]}")


def _corrupt_mart(wh: Warehouse) -> None:
    """Injected fault: one mart row's end_mrr no longer ties out."""
    from pyspark.sql import functions as F

    mart = wh.read("mart", "mart_mrr_waterfall_month")
    first = mart.agg(F.min("month_start_date")).first()[0]
    bad = mart.withColumn(
        "end_mrr",
        F.when(F.col("month_start_date") == F.lit(first), F.col("end_mrr") + 1.0).otherwise(
            F.col("end_mrr")
        ),
    )
    wh.write_staged(bad, "mart", "mart_mrr_waterfall_month")


def _fingerprints(wh: Warehouse) -> dict[str, tuple]:
    """Fingerprints of the tables a full-history restatement must
    reproduce. SCD2 surrogate keys are left out: a full refresh keeps one
    version per entity, an incremental history keeps one per change."""
    out = {}
    for t in FACTS + ("mart_mrr_waterfall_month",):
        df = wh.read("mart", t)
        cols = sorted(c for c in df.columns if not c.endswith("_key"))
        out[t] = tuple(table_fingerprint(df, cols).first())
    return out


def _batch_to_mart(run: Run, wh: Warehouse, pipe, csv_dir: str, ts, variables, kind: str, sample: str) -> None:
    """Ingest one batch, build incrementally and run the declared tests;
    samples its wall time as ``sample`` and its CPU time as
    ``sample``_cpu. Partition and write-amplification bookkeeping is
    untimed."""
    before = {t: _partitions(wh, t) for t in FACTS}
    files0 = file_state(wh.root)
    run.tracer.new_run()
    with run.tracer.span(kind):
        c0, t0 = run.cpu_s(), time.perf_counter()
        _ingest(run, wh, csv_dir, "append", ts)
        _build(run, wh, pipe, variables, full_refresh=False)
        if run.fault == "mart_row":
            _corrupt_mart(wh)
        _declared_tests(run, wh)
        run.sample(f"{sample}_s", time.perf_counter() - t0)
        run.sample(f"{sample}_cpu_s", run.cpu_s() - c0)
    run.wh_bytes += bytes_written(files0, file_state(wh.root))
    if variables.get("reprocess_months", REPROCESS_MONTHS) == REPROCESS_MONTHS:
        for t in FACTS:
            _check_untouched(run, t, before[t], _partitions(wh, t))


def warehouse_setup(run: Run) -> dict:
    """The untimed warm pass, which also checks the restatement: seeded
    feeds, the base ingest and full build, a full-history restatement
    (ingest, incremental build, tests), and in the traced run a full
    refresh of the same raw data in a fresh root that the restated
    tables must match. That comparison costs a sixth of a run's time,
    which the untraced runs, made many times over, cannot spare."""
    csv = os.path.join(run.workdir, "csv")
    st, _ = gen_raw.write_base(os.path.join(csv, "base"), run.seed, run.n_accounts, 10)
    wh = Warehouse(run.spark, os.path.join(run.workdir, "wh"))
    pipe = build_pipeline()
    run.tracer.new_run()
    with run.tracer.span("setup.base_build"):
        _ingest(run, wh, os.path.join(csv, "base"), "replace", gen_raw.BASE_TS)
        _build(run, wh, pipe, gen_raw.VARS, full_refresh=True)

    d = os.path.join(csv, "restatement")
    run.raw_bytes += gen_raw.write_restatement(d, run.seed, st, max(1, run.n_accounts // 50))
    _batch_to_mart(run, wh, pipe, d, gen_raw.batch_ts(0), FULL_HISTORY, "setup.restatement", "restatement")
    state = {"csv": csv, "state": st, "wh": wh, "pipe": pipe, "next_batch": 1}
    if run.tracer.counters is None:
        return state
    restated = _fingerprints(wh)

    fresh = Warehouse(run.spark, os.path.join(run.workdir, "wh_full"))
    shutil.copytree(wh.path("raw", ""), fresh.path("raw", ""))
    run.tracer.new_run()
    with run.tracer.span("setup.full_refresh"):
        t0 = time.perf_counter()
        _build(run, fresh, pipe, gen_raw.VARS, full_refresh=True)
        run.sample("full_refresh_s", time.perf_counter() - t0)
    full = _fingerprints(fresh)
    for t in full:
        run.check(f"restatement fingerprint {t}", restated[t] == full[t], f"{restated[t]} != {full[t]}")
    shutil.rmtree(fresh.root)
    return state


def warehouse_measure(run: Run, s: dict, n_ops: int | None = None) -> None:
    csv, st, wh, pipe = s["csv"], s["state"], s["wh"], s["pipe"]
    n_new = max(1, run.n_accounts // 100)
    t_end = time.perf_counter() + run.seconds
    done = 0
    while run.more(done, t_end, n_ops):
        k = s["next_batch"]
        d = os.path.join(csv, f"batch{k}")
        run.raw_bytes += gen_raw.write_batch(d, run.seed, k, st, n_new, 2 * n_new)
        _batch_to_mart(run, wh, pipe, d, gen_raw.batch_ts(k), gen_raw.VARS, "op.batch", "batch_to_mart")
        s["next_batch"] = k + 1
        done += 1


# ---------------------------------------------------------------- suite


def _execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def suite_setup(run: Run) -> dict:
    """Seeded entry order, the test tables, and the warm pass, which is
    also the correctness check: every entry runs once and every entry
    with an oracle is compared with DuckDB through ``suite.parity``."""
    import duckdb

    from duckdb_dbt_finance_warehouse_spark.suite import REGISTRY
    from duckdb_dbt_finance_warehouse_spark.suite.parity import compare

    sf = os.path.join(run.workdir, "tables")
    gen_suite.write_tables(sf, gen_suite.TABLES_SEED)
    order = list(SUITE_ENTRIES)
    random.Random(f"order:{run.seed}").shuffle(order)
    run.tracer.new_run()
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{os.path.join(run.workdir, 'duckdb_tmp')}'")
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf, t)}.parquet'")
        with run.tracer.span("setup.warm_pass"):
            for name in order:
                spec = REGISTRY[name]
                try:
                    df = spec.fn(run.spark, sf)
                    srows, scols = df.collect(), df.columns
                except Exception as e:  # noqa: BLE001 - an entry failure is a measured outcome
                    run.check(f"entry {name}", False, f"{type(e).__name__}: {str(e)[:200]}")
                    continue
                release_persisted()
                if not spec.has_oracle:
                    continue
                res = con.execute(spec.resolved_oracle(sf))
                dcols = [d[0] for d in res.description]
                problems = compare(srows, scols, res.fetchall(), dcols)
                run.check(f"parity {name}", not problems, "; ".join(problems))
    finally:
        con.close()
    return {"sf": sf, "order": order, "registry": REGISTRY}


def _suite_entry(run: Run, name: str, fn, sf: str) -> float:
    run.tracer.new_run()
    with run.tracer.span(f"op.query.{name}"):
        t0 = time.perf_counter()
        with run.tracer.span("suite.construct"):
            df = fn(run.spark, sf)
        with run.tracer.span("suite.exec"):
            _execute(df)
        dt = time.perf_counter() - t0
    # untimed housekeeping between queries, as in bench.py
    release_persisted()
    return dt


def suite_measure(run: Run, s: dict, n_ops: int | None = None) -> None:
    sf, order, reg = s["sf"], s["order"], s["registry"]
    t_end = time.perf_counter() + run.seconds
    done = 0
    # the first timed pass still pays for JIT compilation in CPU time;
    # with three passes or more the median does not
    while run.more(done, t_end, n_ops, least=3):
        total, c0 = 0.0, run.cpu_s()
        for name in order:
            try:
                dt = _suite_entry(run, name, reg[name].fn, sf)
            except Exception as e:  # noqa: BLE001 - an entry failure is a measured outcome
                run.check(f"entry {name}", False, f"{type(e).__name__}: {str(e)[:200]}")
                continue
            run.check(f"entry {name}", True)
            run.sample("query_s", dt)
            total += dt
        run.sample("pass_s", total)
        run.sample("pass_cpu_s", run.cpu_s() - c0)
        done += 1


# name -> (setup, measure, the operation's sample name)
WORKLOADS = {
    "warehouse": (warehouse_setup, warehouse_measure, "batch_to_mart"),
    "suite_operators": (suite_setup, suite_measure, "pass"),
}
