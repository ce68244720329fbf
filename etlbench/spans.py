"""Per-layer tracing for ``--trace 1`` runs.

Spans are recorded from the benchmark's side of each layer boundary:
``install`` replaces layer entry points with timing wrappers at the names
their callers resolve (module attributes such as
``betl_spark.defaults.bulk_load_dimension`` and
``betl_spark.defaults.load.write_staged``, and methods on ``Pipeline``,
``DataFlow`` and ``SchemaRegistry``). The package's own files are not
touched. Spans stay in memory and are written once, at exit.

Each span sets a Spark job group, and the event log (enabled only in
traced runs) attributes every Spark job, and the executor CPU, GC,
shuffle and spill of its tasks, to the innermost span and its layer.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import time
from dataclasses import asdict, dataclass

LAYERS = ("session", "pipeline", "dataflow", "io", "schema", "defaults", "operators")
GROUP_PREFIX = "etlbench-span-"
# DataFlow verbs that write; every other verb should only extend a plan
WRITE_VERBS = {"write", "prepForLoad", "writeTrainingShards"}
# layer -> {module: [function names]} wrapped wherever callers resolve them
FUNCTIONS = {
    "io": {
        "betl_spark.io.readers": ["read_staged", "read_source_table", "read_csv_all_string"],
        "betl_spark.io.writers": ["write_staged"],
    },
    "defaults": {
        "betl_spark.defaults.load": [
            "assign_surrogate_keys", "bulk_load_dimension", "bulk_load_fact",
            "resolve_fact_fks",
        ],
        "betl_spark.defaults.dm_date": ["transform_dm_date"],
        "betl_spark.defaults.dm_audit": ["transform_dm_audit"],
        "betl_spark.defaults.summarise": ["default_summarise_prep"],
    },
    "operators": {
        "betl_spark.operators.text": ["lang_id", "quality_filter"],
        "betl_spark.operators.dedup": ["minhash_near_dups", "duplicate_clusters"],
        "betl_spark.operators.sampling": ["hash_sample", "write_training_shards"],
    },
}
OPERATOR_FUNCS = [f for fns in FUNCTIONS["operators"].values() for f in fns]
DEFAULTS_TIMED = {
    "sk_assign": "assign_surrogate_keys",
    "bulk_load_dimension": "bulk_load_dimension",
    "bulk_load_fact": "bulk_load_fact",
    "dm_date": "transform_dm_date",
    "dm_audit": "transform_dm_audit",
}


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    batch: int
    start: float
    end: float = 0.0
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the time covered by child spans (children of
        one span never overlap: the pipeline runs tasks serially)."""
        return self.dur - self.child_s


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.enabled = False
        self.batch = -1
        self.sc = None

    # -- recording --------------------------------------------------------

    def begin_batch(self, i: int) -> None:
        self.batch = i

    def end_batch(self) -> None:
        self.batch = -1

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", f"{span.layer}.{span.name}")

    def wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            parent = tracer.stack[-1] if tracer.stack else None
            span = Span(len(tracer.spans), parent.id if parent else None, layer, name,
                        tracer.batch, time.perf_counter())
            tracer.spans.append(span)
            tracer.stack.append(span)
            tracer._set_group(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                tracer.stack.pop()
                if parent is not None:
                    parent.child_s += span.dur
                tracer._set_group(parent)

        traced.__etlbench_original__ = fn
        return traced

    def install(self, spark) -> None:
        """Wrap every layer entry point at the names callers resolve."""
        import importlib

        from betl_spark.dataflow.core import DataFlow
        from betl_spark.pipeline import Pipeline
        from betl_spark.schema.registry import SchemaRegistry, Table

        self.sc = spark.sparkContext
        originals: dict[int, object] = {}
        for layer, modules in FUNCTIONS.items():
            for mod_name, names in modules.items():
                mod = importlib.import_module(mod_name)
                for n in names:
                    fn = getattr(mod, n)
                    originals[id(fn)] = self.wrap(layer, n, fn)
        # rebind every module attribute that refers to a wrapped function
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("betl_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if callable(val) and id(val) in originals:
                    setattr(mod, attr, originals[id(val)])
        Pipeline._run_task = self.wrap("pipeline", "task", Pipeline._run_task)
        for attr in dir(DataFlow):
            val = getattr(DataFlow, attr)
            if not attr.startswith("_") and callable(val):
                setattr(DataFlow, attr, self.wrap("dataflow", attr, val))
        for cls, attr in ((SchemaRegistry, "get_table"), (SchemaRegistry, "tables"),
                          (Table, "ordered_write_columns")):
            setattr(cls, attr, self.wrap("schema", attr, getattr(cls, attr)))

    def persisted_rdds(self) -> int:
        return self.sc._jsc.sc().getPersistentRDDs().size()

    # -- reporting --------------------------------------------------------

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([dict(asdict(s), self_s=s.self_s) for s in self.spans], f)

    def per_layer(self, run, wl, event_log_dir: str) -> dict:
        traced = [b for b in run.batches if b["traced"]]
        plain = [b for b in run.batches if not b["traced"]]
        ids = {b["i"] for b in traced}
        n = max(len(traced), 1)
        spans = [s for s in self.spans if s.batch in ids]
        by_id = {s.id: s for s in spans}

        def of(layer, name=None):
            return [s for s in spans if s.layer == layer and (name is None or s.name == name)]

        def total(ss, attr="dur"):
            return sum(getattr(s, attr) for s in ss) / n

        def nearest_dataflow(s: Span | None) -> Span | None:
            while s is not None and s.layer != "dataflow":
                s = by_id.get(s.parent)
            return s

        m: dict[str, tuple[float, str]] = {}
        m["session.build_spark_s"] = (run.build_spark_s, "s")
        m["pipeline.tasks"] = (len(of("pipeline")) / n, "count")
        m["pipeline.task_self_s"] = (total(of("pipeline"), "self_s"), "s")
        ops = [s for s in of("dataflow") if s.name not in WRITE_VERBS]
        m["dataflow.op_calls"] = (len(ops) / n, "count")
        m["dataflow.op_s"] = (total(ops, "self_s"), "s")
        reads = [s for s in of("io") if s.name.startswith("read")]
        writes = [s for s in of("io") if s.name.startswith("write")]
        m["io.read_s"] = (total(reads), "s")
        m["io.write_calls"] = (len(writes) / n, "count")
        m["io.write_s"] = (total(writes), "s")
        written = statistics.median(b["written"] for b in traced)
        files = statistics.median(b["files"] for b in traced)
        m["io.bytes_written"] = (written, "B")
        m["io.files_written"] = (files, "count")
        m["io.bytes_per_file"] = (written / files if files else 0.0, "B")
        m["schema.calls"] = (len(of("schema")) / n, "count")
        m["schema.s"] = (total(of("schema")), "s")
        m["defaults.sk_assign_calls"] = (len(of("defaults", "assign_surrogate_keys")) / n, "count")
        for metric, fn in DEFAULTS_TIMED.items():
            m[f"defaults.{metric}_s"] = (total(of("defaults", fn)), "s")
        m["defaults.persisted_rdds"] = (run.persisted_rdds[-1], "count")
        m["defaults.persisted_rdds_growth"] = (
            (run.persisted_rdds[-1] - run.persisted_rdds[0]) / max(len(run.persisted_rdds) - 1, 1),
            "count",
        )
        for fn in OPERATOR_FUNCS:
            m[f"operators.{fn}_s"] = (total(of("operators", fn)), "s")
        docs_in = wl.rows_in if wl.name == "curation_docs" else 0
        docs_kept = getattr(wl, "docs_kept", 0)
        m["operators.docs_in"] = (docs_in, "count")
        m["operators.docs_kept"] = (docs_kept, "count")
        m["operators.keep_ratio"] = (docs_kept / docs_in if docs_in else 0.0, "ratio")

        jobs = event_log_jobs(event_log_dir)
        eager = 0
        agg = {layer: dict.fromkeys(("jobs", "cpu", "shuffle", "spill", "gc"), 0.0) for layer in LAYERS}
        for group, st in jobs.items():
            span = by_id.get(int(group[len(GROUP_PREFIX):]))
            if span is None:
                continue
            a = agg[span.layer]
            for k in a:
                a[k] += st[k]
            df = nearest_dataflow(span)
            if df is not None and df.name not in WRITE_VERBS:
                eager += st["jobs"]
        m["dataflow.eager_jobs"] = (eager / n, "count")
        for layer, a in agg.items():
            m[f"{layer}.jobs"] = (a["jobs"] / n, "count")
            m[f"{layer}.executor_cpu_s"] = (a["cpu"] / n, "s")
            m[f"{layer}.shuffle_bytes"] = (a["shuffle"] / n, "B")
            m[f"{layer}.spill_bytes"] = (a["spill"] / n, "B")
            m[f"{layer}.gc_s"] = (a["gc"] / n, "s")

        traced_s = statistics.median(b["time"] for b in traced)
        m["trace.batch_s"] = (traced_s, "s")
        # the cost of the span wrappers and job groups; the event log is on
        # for the untraced batches too, so its own cost is not included
        m["trace.overhead_s"] = (
            traced_s - statistics.median(b["time"] for b in plain) if plain else 0.0, "s"
        )
        return m


def event_log_jobs(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: job count, executor CPU seconds, shuffle bytes
    written, disk bytes spilled and JVM GC seconds of its tasks."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group or not group.startswith(GROUP_PREFIX):
                        continue
                    st = out.setdefault(group, dict.fromkeys(("jobs", "cpu", "shuffle", "spill", "gc"), 0.0))
                    st["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    st = out[group]
                    st["cpu"] += tm.get("Executor CPU Time", 0) / 1e9
                    st["gc"] += tm.get("JVM GC Time", 0) / 1e3
                    st["spill"] += tm.get("Disk Bytes Spilled", 0)
                    st["shuffle"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return out
