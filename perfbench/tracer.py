"""Outside-in span tracer for the benchmark's traced runs.

Nothing here is imported by the engine: ``install`` replaces the engine's
public functions and methods with wrappers, from the outside, for the
lifetime of one benchmark process. Each wrapper records a span (name, layer,
parent, start, end) and, for calls that may run Spark jobs, gives the span
its own Spark job group on entry and restores the caller's group on exit.
Every job therefore belongs to the innermost span that was open when it
ran: a lazy call (``engineer_features``, ``online_view``) shows plan
construction only, and its execution lands in the eager call that runs it.

Stage metrics are read once at the end, after the listener bus has
drained, from the status store (works with the Spark UI disabled): per
span the jobs, completed tasks, executor CPU and run time, GC time and
shuffle bytes written. Self time is a span's duration minus its children's.
The tracer times its own bookkeeping and reports it as overhead.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    phase: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.phase = "setup"
        self.overhead: dict[str, float] = {}  # phase -> seconds of bookkeeping
        self.sc = None
        self._stack: list[Span] = []

    def charge(self, seconds: float) -> None:
        """Book ``seconds`` of the tracer's own work to the current phase."""
        self.overhead[self.phase] = self.overhead.get(self.phase, 0.0) + seconds

    # -- spans ---------------------------------------------------------------
    def _enter(self, name: str, spark: bool) -> tuple[Span, float, tuple | None]:
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(
            id=len(self.spans), parent=parent.id if parent else None, name=name,
            layer=name.rsplit(".", 1)[0], phase=self.phase, start=0.0,
        )
        self.spans.append(span)
        self._stack.append(span)
        saved = None
        if spark and self.sc is not None:
            saved = tuple(self.sc.getLocalProperty(p) for p in _GROUP_PROPS)
            span.group = f"perfbench-span-{span.id}"
            self.sc.setJobGroup(span.group, name)
        span.start = time.perf_counter()
        self.charge(span.start - t_in)
        return span, t_in, saved

    def _exit(self, span: Span, t_in: float, saved: tuple | None) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if saved is not None:
            for prop, value in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(prop, value)
        t_out = time.perf_counter()
        if self._stack:
            self._stack[-1].child_s += t_out - t_in
        self.charge(t_out - span.end)

    def traced(self, fn, name: str, spark: bool = True, after=None):
        """``fn`` wrapped in a span; ``after(span, args, result)`` may record
        attributes and return a replacement result."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span, t_in, saved = tracer._enter(name, spark)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._exit(span, t_in, saved)
            if after is not None:
                t0 = time.perf_counter()
                result = after(span, args, result)
                tracer.charge(time.perf_counter() - t0)
            return result

        return wrapper

    def patch(self, owner, attr: str, name: str, spark: bool = True, after=None) -> None:
        """Wrap ``owner.attr``. For a module-level function every engine
        module that imported it by name gets the same wrapper."""
        orig = getattr(owner, attr)
        wrapper = self.traced(orig, name, spark, after)
        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for n, m in list(sys.modules.items())
                if n.startswith("feature_store_test_spark") and m is not owner
                and getattr(m, attr, None) is orig
            ]
        for t in targets:
            setattr(t, attr, wrapper)

    # -- stage metrics ---------------------------------------------------------
    def resolve(self) -> None:
        """Attribute jobs and stage metrics to spans (call once, at the end)."""
        if self.sc is None:
            return
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for span in self.spans:
            if span.group is None:
                continue
            span.jobs = sorted(tracker.getJobIdsForGroup(span.group))
            stages = set()
            for job in span.jobs:
                info = tracker.getJobInfo(job)
                if info is not None:
                    stages.update(info.stageIds)
            for sid in stages:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted from the store
                    continue
                span.tasks += sd.numCompleteTasks()
                span.executor_cpu_s += sd.executorCpuTime() / 1e9
                span.executor_run_s += sd.executorRunTime() / 1e3
                span.gc_s += sd.jvmGcTime() / 1e3
                span.shuffle_write_bytes += sd.shuffleWriteBytes()
        self.charge(time.perf_counter() - t0)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                d = dataclasses.asdict(s)
                d["dur_s"], d["self_s"] = s.dur, s.self_s
                f.write(json.dumps(d) + "\n")

    # -- per-layer metrics -----------------------------------------------------
    def inclusive_jobs(self) -> dict[int, int]:
        """Jobs per span including those of its descendants."""
        out = {s.id: len(s.jobs) for s in self.spans}
        for s in reversed(self.spans):  # children come after their parent
            if s.parent is not None:
                out[s.parent] += out[s.id]
        return out


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the benchmark drives."""
    from feature_store_test_spark import engineering, ml, registry, session
    from feature_store_test_spark.operators import latest
    from feature_store_test_spark.store import feature_group, serving, table
    from feature_store_test_spark.streaming import inference

    def after_session(span, args, spark):
        tracer.sc = spark.sparkContext
        return spark

    def after_registry(span, args, specs):
        return {
            name: dataclasses.replace(spec, fn=tracer.traced(spec.fn, f"queries.{name}"))
            for name, spec in specs.items()
        }

    def after_append(span, args, version):
        tbl = args[0]
        commit = tbl._load_commit(version)
        files = commit.get("files") or []
        span.attrs["files"] = len(files)
        span.attrs["rows"] = sum(f.get("rows") or 0 for f in files)
        span.attrs["bytes"] = sum(
            os.path.getsize(f["path"].removeprefix("file:")) for f in files
        )
        return version

    def after_refresh(span, args, refreshed):
        span.attrs["keys"] = len(args[0])
        return refreshed

    def after_records(span, args, records):
        span.attrs["keys"] = len(records)
        span.attrs["hits"] = sum(r is not None for r in records.values())
        return records

    def after_retry(span, args, log):
        span.attrs["dlq_rows"] = sum(
            f.get("rows") or 0 for c in args[0].dlq.commits() for f in c.get("files") or []
        )
        return log

    tracer.patch(session, "get_spark", "session.get_spark", spark=False, after=after_session)
    tracer.patch(registry, "all_queries", "registry.all_queries", spark=False,
                 after=after_registry)
    tracer.patch(engineering, "engineer_features", "engineering.engineer_features")
    tracer.patch(latest, "latest_per_key_agg", "operators.latest_per_key_agg")
    tracer.patch(latest, "latest_per_key", "operators.latest_per_key")
    tracer.patch(table.VersionedParquetTable, "append", "store.table.append", after=after_append)
    tracer.patch(table.VersionedParquetTable, "read", "store.table.read")
    FG = feature_group.FeatureGroup
    tracer.patch(FG, "ingest", "store.feature_group.ingest")
    tracer.patch(FG, "online_view", "store.feature_group.online_view")
    tracer.patch(FG, "training_dataset", "store.feature_group.training_dataset")
    tracer.patch(FG, "get_latest", "store.feature_group.get_latest")
    tracer.patch(serving.ServingSession, "refresh", "store.serving.refresh", after=after_refresh)
    tracer.patch(serving.ServingSession, "get_records", "store.serving.get_records",
                 spark=False, after=after_records)
    for fn in ("train_model", "save_model", "load_model", "to_linear_scorer"):
        tracer.patch(ml, fn, f"ml.{fn}")
    IP = inference.InferencePipeline
    tracer.patch(IP, "process_batch", "streaming.inference.process_batch")
    tracer.patch(IP, "retry_dlq", "streaming.inference.retry_dlq", after=after_retry)


# (metric name, unit) in BENCHMARK.json order; values come from layer_metrics
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("registry.all_queries_s", "s"),
    ("queries.q16_engineer_features.construct_s", "s"),
    ("queries.jobs", "count"),
    ("queries.tasks", "count"),
    ("engineering.construct_s", "s"),
    ("operators.construct_s", "s"),
    ("operators.calls", "count"),
    ("store.table.append_s", "s"),
    ("store.table.append_self_s", "s"),
    ("store.table.append_calls", "count"),
    ("store.table.commits", "count"),
    ("store.table.bytes_written", "bytes"),
    ("store.table.files_written", "count"),
    ("store.table.rows_written", "count"),
    ("store.table.read_construct_s", "s"),
    ("store.table.jobs", "count"),
    ("store.table.tasks", "count"),
    ("store.table.executor_cpu_s", "s"),
    ("store.feature_group.ingest_s", "s"),
    ("store.feature_group.online_view_construct_s", "s"),
    ("store.feature_group.training_dataset_s", "s"),
    ("store.feature_group.get_latest_s", "s"),
    ("store.feature_group.get_latest_calls", "count"),
    ("store.feature_group.get_latest_jobs", "count"),
    ("store.feature_group.executor_cpu_s", "s"),
    ("store.serving.refresh_s", "s"),
    ("store.serving.refresh_calls", "count"),
    ("store.serving.refresh_jobs", "count"),
    ("store.serving.snapshot_keys", "count"),
    ("store.serving.get_records_us", "us"),
    ("store.serving.get_records_calls", "count"),
    ("store.serving.hit_ratio", "ratio"),
    ("store.serving.executor_cpu_s", "s"),
    ("ml.train_model_s", "s"),
    ("ml.save_model_s", "s"),
    ("ml.load_model_s", "s"),
    ("ml.jobs", "count"),
    ("ml.executor_cpu_s", "s"),
    ("streaming.inference.process_batch_s", "s"),
    ("streaming.inference.process_batch_self_s", "s"),
    ("streaming.inference.process_batch_calls", "count"),
    ("streaming.inference.jobs_per_batch", "count"),
    ("streaming.inference.retry_dlq_s", "s"),
    ("streaming.inference.dlq_rows", "count"),
    ("streaming.inference.jobs", "count"),
    ("streaming.inference.executor_cpu_s", "s"),
    ("streaming.inference.shuffle_write_bytes", "bytes"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_cpu_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("trace.spans", "count"),
    ("trace.overhead_s", "s"),
    ("trace.overhead_pct", "%"),
]


def layer_metrics(tracer: Tracer, traced_window_s: float) -> dict[str, float]:
    """Per-layer numbers over the spans opened in the timed window (the
    session span, opened in set-up, is the one exception)."""
    incl = tracer.inclusive_jobs()
    session_spans = [s for s in tracer.spans if s.name == "session.get_spark"]
    spans = [s for s in tracer.spans if s.phase == "timed"]

    def named(name):
        return [s for s in spans if s.name == name]

    def layer(prefix):
        return [s for s in spans if s.layer == prefix or s.layer.startswith(prefix + ".")]

    def total(ss, attr="dur"):
        return float(sum(getattr(s, attr) for s in ss))

    appends = named("store.table.append")
    gets = named("store.feature_group.get_latest")
    refreshes = named("store.serving.refresh")
    records = named("store.serving.get_records")
    batches = named("streaming.inference.process_batch")
    retries = named("streaming.inference.retry_dlq")
    ops = named("operators.latest_per_key_agg") + named("operators.latest_per_key")
    queries = [s for s in spans if s.layer == "queries"]
    taken = [s for s in refreshes if "keys" in s.attrs]
    m = {
        "session.get_spark_s": total(session_spans),
        "registry.all_queries_s": total(named("registry.all_queries")),
        "queries.q16_engineer_features.construct_s":
            total(named("queries.q16_engineer_features")),
        "queries.jobs": sum(len(s.jobs) for s in queries),
        "queries.tasks": sum(s.tasks for s in queries),
        "engineering.construct_s": total(named("engineering.engineer_features")),
        "operators.construct_s": total(ops),
        "operators.calls": len(ops),
        "store.table.append_s": total(appends),
        "store.table.append_self_s": total(appends, "self_s"),
        "store.table.append_calls": len(appends),
        "store.table.commits": sum(1 for s in appends if "files" in s.attrs),
        "store.table.bytes_written": sum(s.attrs.get("bytes", 0) for s in appends),
        "store.table.files_written": sum(s.attrs.get("files", 0) for s in appends),
        "store.table.rows_written": sum(s.attrs.get("rows", 0) for s in appends),
        "store.table.read_construct_s": total(named("store.table.read")),
        "store.table.jobs": sum(len(s.jobs) for s in layer("store.table")),
        "store.table.tasks": sum(s.tasks for s in layer("store.table")),
        "store.table.executor_cpu_s": total(layer("store.table"), "executor_cpu_s"),
        "store.feature_group.ingest_s": total(named("store.feature_group.ingest")),
        "store.feature_group.online_view_construct_s":
            total(named("store.feature_group.online_view")),
        "store.feature_group.training_dataset_s":
            total(named("store.feature_group.training_dataset")),
        "store.feature_group.get_latest_s": total(gets),
        "store.feature_group.get_latest_calls": len(gets),
        "store.feature_group.get_latest_jobs":
            sum(incl[s.id] for s in gets) / max(1, len(gets)),
        "store.feature_group.executor_cpu_s":
            total(layer("store.feature_group"), "executor_cpu_s"),
        "store.serving.refresh_s": total(refreshes),
        "store.serving.refresh_calls": len(refreshes),
        "store.serving.refresh_jobs": sum(incl[s.id] for s in refreshes),
        "store.serving.snapshot_keys": taken[-1].attrs["keys"] if taken else 0,
        "store.serving.get_records_us":
            statistics.median(s.dur for s in records) * 1e6 if records else 0.0,
        "store.serving.get_records_calls": len(records),
        "store.serving.hit_ratio":
            sum(s.attrs["hits"] for s in records)
            / max(1, sum(s.attrs["keys"] for s in records)),
        "store.serving.executor_cpu_s": total(layer("store.serving"), "executor_cpu_s"),
        "ml.train_model_s": total(named("ml.train_model")),
        "ml.save_model_s": total(named("ml.save_model")),
        "ml.load_model_s": total(named("ml.load_model")),
        "ml.jobs": sum(len(s.jobs) for s in layer("ml")),
        "ml.executor_cpu_s": total(layer("ml"), "executor_cpu_s"),
        "streaming.inference.process_batch_s": total(batches),
        "streaming.inference.process_batch_self_s": total(batches, "self_s"),
        "streaming.inference.process_batch_calls": len(batches),
        "streaming.inference.jobs_per_batch":
            sum(incl[s.id] for s in batches) / max(1, len(batches)),
        "streaming.inference.retry_dlq_s": total(retries),
        "streaming.inference.dlq_rows": retries[-1].attrs["dlq_rows"] if retries else 0,
        "streaming.inference.jobs": sum(len(s.jobs) for s in layer("streaming")),
        "streaming.inference.executor_cpu_s":
            total(layer("streaming"), "executor_cpu_s"),
        "streaming.inference.shuffle_write_bytes":
            sum(s.shuffle_write_bytes for s in layer("streaming")),
        "spark.jobs": sum(len(s.jobs) for s in spans),
        "spark.tasks": sum(s.tasks for s in spans),
        "spark.executor_cpu_s": total(spans, "executor_cpu_s"),
        "spark.executor_run_s": total(spans, "executor_run_s"),
        "spark.gc_s": total(spans, "gc_s"),
        "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in spans),
        "trace.spans": len(spans),
        "trace.overhead_s": tracer.overhead.get("timed", 0.0),
        "trace.overhead_pct":
            100.0 * tracer.overhead.get("timed", 0.0) / max(traced_window_s, 1e-9),
    }
    return {k: float(v) for k, v in m.items()}
