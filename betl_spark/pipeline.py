"""Pipeline runner (reference betl/PipelineClass.py:16-420).

The reference builds an Airflow DAG (or executes immediately) over the
stage sequence Extract → Transform → Load → Summarise, with stage gating
flags and the hard ordering rule *dimensions before facts*
(PipelineClass.py:203-208). Here the same gating drives a plain-Python
topological runner; every task receives a fresh ``DataFlow`` bound to
the shared Conf/SparkSession, so tasks only communicate through staged
data — the same contract that lets the reference run each task in its
own Airflow worker.

``run`` (the gated stages) and ``schedule_dataflows`` (bespoke dataflows
with an upstream dict) both build a list of ``(task_id, fn, upstream)``
tasks that one executor runs and one exporter turns into a DAG spec or
an Airflow DAG, so a local run and a scheduler never disagree on order.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import SparkSession

from betl_spark.config import Conf
from betl_spark.schema.registry import SchemaRegistry
from betl_spark.session import build_spark

Task = tuple[str, Callable, list[str]]


class Pipeline:
    def __init__(
        self,
        conf: Conf,
        registry: SchemaRegistry | None = None,
        spark: SparkSession | None = None,
    ):
        self.conf = conf
        self.registry = registry or SchemaRegistry()
        self.spark = spark or build_spark()
        self.run_log: list[str] = []

    def dataflow(self, desc: str):
        from betl_spark.dataflow.core import DataFlow

        return DataFlow(self.conf, desc, spark=self.spark, registry=self.registry)

    def schedule_dataflows(
        self,
        dataflows: list[Callable],
        upstream: dict[str, list[str]] | None = None,
    ) -> list[str]:
        """Run bespoke dataflows honoring an ``upstream`` dependency dict
        (function name → names that must run first) — the reference's
        createAndScheduleDFOperators contract (PipelineClass.py:422-454),
        as a deterministic topological order instead of an Airflow DAG.

        Ties break in the given list order, so a run is reproducible.
        Returns the dataflow names in run order. Raises ValueError, before
        any dataflow runs, on duplicate names, unknown dependency names
        or cycles.
        """
        order = self._execute(self._dataflow_tasks(dataflows, upstream))
        return [fn.__name__ for _, fn, _ in order]

    def _run_task(self, name: str, fn: Callable) -> None:
        self.run_log.append(name)
        fn(self)

    @staticmethod
    def _dataflow_tasks(
        dataflows: list[Callable], upstream: dict[str, list[str]] | None
    ) -> list[Task]:
        """The plan of a ``schedule_dataflows`` workload, validated:
        dataflows are addressed by ``__name__``, so a repeated name (two
        closures from one factory) would make one of them unreachable."""
        upstream = upstream or {}
        names = [fn.__name__ for fn in dataflows]
        dups = sorted({n for n in names if names.count(n) > 1})
        if dups:
            raise ValueError(f"duplicate dataflow name(s): {dups}")
        unknown = [
            d for n, deps in upstream.items() for d in [n, *deps] if d not in names
        ]
        if unknown:
            raise ValueError(f"unknown dataflow(s) in upstream: {unknown}")
        tasks = [
            (f"dataflow_{n}", fn, [f"dataflow_{d}" for d in upstream.get(n, [])])
            for n, fn in zip(names, dataflows)
        ]
        Pipeline._order(tasks)  # raises on a cycle
        return tasks

    @staticmethod
    def _order(tasks: list[Task]) -> list[Task]:
        """Topological order, ties broken by list order. A task waits for
        every task that carries an id in its upstream, so a ``run`` plan
        in which two same-named callables share an id still runs."""
        left, order = list(tasks), []
        while left:
            blocked = {task_id for task_id, _, _ in left}
            ready = [i for i, (_, _, up) in enumerate(left) if blocked.isdisjoint(up)]
            if not ready:
                raise ValueError(f"dependency cycle among: {sorted(blocked)}")
            order.append(left.pop(ready[0]))
        return order

    def _execute(self, tasks: list[Task]) -> list[Task]:
        """Run each task exactly once, in ``_order``; returns that order."""
        order = self._order(tasks)
        for task_id, fn, _ in order:
            self._run_task(task_id, fn)
        return order

    @staticmethod
    def _export(tasks: list[Task]) -> list[dict]:
        """Tasks in list order as serializable {"task_id", "upstream"}."""
        return [{"task_id": t, "upstream": list(up)} for t, _, up in tasks]

    def _plan_groups(self) -> list[Task]:
        """The gated stage sequence (reference PipelineClass.py:66-420)
        as ordered barrier groups: tasks within a group are independent;
        every task depends on ALL tasks of the previous non-empty group.
        This preserves the hard rules — dims strictly before facts
        (PipelineClass.py:203-208), date/audit dims before bespoke
        transforms — while exposing the real parallelism (per-source
        extracts, per-dimension bulk loads) to any executor, Airflow
        included. Returns the groups flattened into one task list.
        """
        sched = self.conf.schedule
        from betl_spark import defaults

        def user(prefix: str, fns: list[Callable]) -> list[tuple[str, Callable]]:
            return [(f"{prefix}_{fn.__name__}", fn) for fn in fns]

        groups: list[list[tuple[str, Callable]]] = []
        if sched.run_extract:
            groups.append([
                (
                    f"bulkExtract_{src_id}",
                    lambda p, s=src_id: defaults.bulk_extract(p, s, sched.bulk_or_delta),
                )
                for src_id in (sched.src_system_ids if sched.default_extract else [])
            ] + user("extract", sched.extract_dataflows))

        if sched.run_transform:
            if sched.default_load:  # date/audit dims are load prerequisites
                groups.append([
                    ("transformDMDate", defaults.transform_dm_date),
                    ("transformDMAudit", defaults.transform_dm_audit),
                ])
            groups.append(user("transform", sched.transform_dataflows))

        if sched.run_load:
            # dims strictly before facts (reference PipelineClass.py:203-208)
            groups.append(user("loadDim", sched.load_dim_dataflows))
            if sched.default_load:
                groups.append([
                    (
                        f"bulkLoad_{dim.name}",
                        lambda p, d=dim: defaults.bulk_load_dimension(p, d),
                    )
                    for dim in self.registry.tables("BSE", "DIMENSION")
                ])
            groups.append(user("loadFactPrep", sched.load_fact_dataflows))
            if sched.default_load:
                groups.append([
                    (
                        f"bulkLoad_{fact.name}",
                        lambda p, t=fact: defaults.bulk_load_fact(p, t),
                    )
                    for fact in self.registry.tables("BSE", "FACT")
                ])

        if sched.run_summarise:
            if sched.default_summarise:
                groups.append([("summarisePrep", defaults.default_summarise_prep)])
            groups.append(user("summarise", sched.summarise_dataflows))

        tasks: list[Task] = []
        prev: list[str] = []
        for group in filter(None, groups):
            tasks.extend((task_id, fn, prev) for task_id, fn in group)
            prev = [task_id for task_id, _ in group]
        return tasks

    def run(self) -> list[str]:
        """Execute the gated stage sequence: extract → transform →
        load dims → load facts → summarise. User dataflows are
        callables taking the pipeline; default dataflows come from
        ``betl_spark.defaults``.
        """
        self._execute(self._plan_groups())
        return self.run_log

    def dataflows_dag_spec(
        self,
        dataflows: list[Callable],
        upstream: dict[str, list[str]] | None = None,
    ) -> dict:
        """The bespoke-dataflow counterpart of ``to_dag_spec``: export
        the ``schedule_dataflows`` workload (explicit upstream dict,
        the reference's createAndScheduleDFOperators contract) as the
        same serializable {"tasks": [...]} shape — validated with the
        scheduler's own rules, so a spec that exports is a spec that
        runs.
        """
        return {"tasks": self._export(self._dataflow_tasks(dataflows, upstream))}

    def to_dag_spec(self) -> dict:
        """The run plan as a serializable DAG spec — the engine's
        equivalent of the reference's Airflow mode (PipelineClass.py:
        456-514 builds PythonOperators with the same task ids and
        upstream chaining). Returns {"tasks": [{"task_id", "upstream":
        [...]}...]}; hand it to any scheduler, or use
        ``to_airflow_dag`` when the airflow package is installed.
        """
        return {"tasks": self._export(self._plan_groups())}

    def to_airflow_dag(self, dag):
        """Attach the run plan to an Airflow DAG as PythonOperators
        (one per task, upstream set per ``to_dag_spec``), mirroring the
        reference's createOp (PipelineClass.py:457-480). Import-gated:
        airflow is not a dependency of this engine; raises ImportError
        with a clear message when it isn't installed.
        """
        try:
            from airflow.operators.python import PythonOperator
        except ImportError as exc:  # pragma: no cover - env seam
            raise ImportError(
                "to_airflow_dag requires apache-airflow; use to_dag_spec() "
                "for a scheduler-agnostic plan"
            ) from exc
        tasks = self._plan_groups()
        ops: dict[str, object] = {}
        for (_, fn, _), spec in zip(tasks, self._export(tasks)):
            name = spec["task_id"]
            ops[name] = PythonOperator(
                task_id=name,
                python_callable=lambda p=self, f=fn, n=name: p._run_task(n, f),
                dag=dag,
            )
            for up in spec["upstream"]:
                ops[name].set_upstream(ops[up])
        return ops
