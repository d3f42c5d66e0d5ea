"""Model registry + topological runner — the framework layer.

Replaces the reference's dbt constructs (SURVEY §2.10 D1-D4) with a thin
explicit Python design: a model is a function ``Context -> DataFrame``
with declared deps; the pipeline topo-sorts and materializes each model
per its policy. No Jinja, no manifest — the DAG is plain data.

Materializations (SURVEY §2.1 S8-S12):
- ``view``                      : never written; refs get the lazy DataFrame
  (Catalyst inlines it — same behavior as a SQL view).
- ``table``                     : full replace (``overwrite``, the staged
  swap).
- ``incremental_append``        : first run full; later runs the model fn
  filters by high-watermark (ctx.is_incremental) and the policy writes
  with ``append``.
- ``incremental_delete_insert`` : the model recomputes a rolling month
  window; the policy writes it with ``overwrite_partitions`` on the
  partition key (month_start_date), replacing exactly the restated
  months — the scale-correct translation of dbt's delete+insert.
  ``partition_by`` is required (materialize raises without it).
- ``snapshot``                  : SCD2 check-strategy merge (plans/snapshot.py),
  landed with ``overwrite``.

The three write modes are ``sources.tables.Warehouse.write``'s; a first
build or ``--full-refresh`` of an incremental model is an ``overwrite``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import Warehouse


@dataclass
class Model:
    name: str
    schema: str
    fn: Callable[["Context"], DataFrame]
    deps: tuple[str, ...] = ()
    materialization: str = "table"
    unique_key: tuple[str, ...] = ()
    partition_by: tuple[str, ...] = ()


class Context:
    """What a model function sees: refs, sources, vars, incremental state."""

    def __init__(
        self,
        spark: SparkSession,
        wh: Warehouse,
        pipeline: "Pipeline",
        variables: dict | None = None,
        full_refresh: bool = False,
    ) -> None:
        self.spark = spark
        self.wh = wh
        self.pipeline = pipeline
        self.vars = variables or {}
        self.full_refresh = full_refresh
        self._view_cache: dict[str, DataFrame] = {}

    def var(self, name: str, default=None):
        return self.vars.get(name, default)

    def source(self, schema: str, table: str) -> DataFrame:
        return self.wh.read(schema, table)

    def ref(self, name: str) -> DataFrame:
        """Resolve an upstream model: views compute lazily (cached plan),
        everything else reads its materialized parquet."""
        m = self.pipeline.models[name]
        if m.materialization == "view":
            if name not in self._view_cache:
                self._view_cache[name] = m.fn(self)
            return self._view_cache[name]
        return self.wh.read(m.schema, m.name)

    def is_incremental(self, name: str) -> bool:
        """dbt semantics: incremental iff the target exists and this is
        not a --full-refresh run (SURVEY §2.10 D3)."""
        m = self.pipeline.models[name]
        return (
            not self.full_refresh
            and m.materialization.startswith("incremental")
            and self.wh.exists(m.schema, m.name)
        )

    def this(self, name: str) -> DataFrame:
        m = self.pipeline.models[name]
        return self.wh.read(m.schema, m.name)


class Pipeline:
    def __init__(self) -> None:
        self.models: dict[str, Model] = {}

    def register(self, model: Model) -> None:
        if model.name in self.models:
            raise ValueError(f"duplicate model {model.name}")
        self.models[model.name] = model

    def topo_order(self, select: list[str] | None = None) -> list[str]:
        """Deterministic topological order (Kahn, name-tiebroken).
        ``select`` keeps the listed models + their ancestors."""
        wanted = set(self.models) if not select else set()
        if select:
            stack = list(select)
            while stack:
                n = stack.pop()
                if n in wanted:
                    continue
                wanted.add(n)
                stack.extend(self.models[n].deps)
        indeg = {n: 0 for n in wanted}
        for n in wanted:
            for d in self.models[n].deps:
                if d in wanted:
                    indeg[n] += 1
        order: list[str] = []
        ready = sorted(n for n, k in indeg.items() if k == 0)
        while ready:
            n = ready.pop(0)
            order.append(n)
            for m in sorted(wanted):
                if n in self.models[m].deps:
                    indeg[m] -= 1
                    if indeg[m] == 0:
                        ready.append(m)
            ready.sort()
        if len(order) != len(wanted):
            raise ValueError("cycle in model DAG")
        return order

    def run(
        self,
        spark: SparkSession,
        wh: Warehouse,
        variables: dict | None = None,
        full_refresh: bool = False,
        select: list[str] | None = None,
    ) -> Context:
        from .materialize import materialize

        ctx = Context(spark, wh, self, variables, full_refresh)
        for name in self.topo_order(select):
            materialize(ctx, self.models[name])
        return ctx
