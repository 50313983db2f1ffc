"""Model-DAG runner — the engine's dbt analog and the one way a pipeline
runs its models.

The reference's transformation layer is dbt models with ref()/source()
dependencies, each landing in a table that Soda/dbt tests then check; a
failing check stops the downstream tasks (include/dbt/models/**,
dags/retail.py:58-78). Here a model is a function from named input
DataFrames to one output DataFrame, declared with its dependencies and an
optional check suite. The runner orders the models topologically and, for
each one: builds its frame, writes it to the versioned store, runs its
suite in one aggregate pass over the WRITTEN version, hands that version
downstream, and stops at the first failing suite. Each model's lineage so
executes once (the write); checks and consumers scan the stored table.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter
from typing import Callable

from pyspark.sql import DataFrame

from ..checks.engine import Check, run_checks
from ..ops.formats import TableFormat


@dataclass
class Model:
    name: str
    fn: Callable[[dict[str, DataFrame]], DataFrame]
    deps: list[str] = field(default_factory=list)
    checks: list[Check] = field(default_factory=list)


class ModelDAG:
    def __init__(self, models: list[Model]):
        self.models = {m.name: m for m in models}
        if len(self.models) != len(models):
            raise ValueError("duplicate model names")

    def execution_order(self, sources: set[str]) -> list[str]:
        ts = TopologicalSorter()
        for m in self.models.values():
            unknown = [d for d in m.deps if d not in self.models and d not in sources]
            if unknown:
                raise ValueError(f"model {m.name}: unknown deps {unknown}")
            ts.add(m.name, *[d for d in m.deps if d in self.models])
        try:
            return list(ts.static_order())
        except CycleError as e:
            raise ValueError(f"model cycle: {e.args[1]}") from e

    def run(self, sources: dict[str, DataFrame], store: TableFormat) -> dict:
        """Write, then check, every model; returns {model: {'ok', 'checks'}}
        for the models that ran, the frames (sources and written versions)
        under '_frames' and, after a failing suite, its model under
        '_failed'. A failing model's version stays written; its downstream
        models do not run."""
        frames: dict[str, DataFrame] = dict(sources)
        results: dict = {"_frames": frames}
        for name in self.execution_order(set(sources)):
            m = self.models[name]
            store.write(name, m.fn({d: frames[d] for d in m.deps}))
            frames[name] = store.read(name)
            checks = run_checks(frames[name], m.checks) if m.checks else []
            ok = all(c["ok"] for c in checks)
            results[name] = {"ok": ok, "checks": checks}
            if not ok:
                results["_failed"] = name
                break
        return results
