"""Traced run: per-layer numbers from prefix materialisation.

For each traced load the layers' prefixes run one after another, each into a
``noop`` write (the last is the real load):

1. ``read_source``
2. ``read_source`` + ``apply_filter_chain``
3. ``compile_pipeline`` (adds the partition exchange, if any)
4. ``run_pipeline`` (adds the sink write and commit)

A layer's self time is what its prefix adds to the previous one. Every call
runs under its own Spark job group, and Spark's status store (which every
session keeps, traced or not) gives jobs, tasks, shuffle bytes and task times
per group. Spans are kept in memory and returned when the run ends.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from . import checks, stats

PREFIXES = ("read_source", "apply_filter_chain", "compile_pipeline", "run_pipeline")
#: more tasks than any stage of these loads runs (a stage skipped because
#: its shuffle output was reused lists none)
_MAX_TASKS = 100_000

#: the per-layer metrics and their units; ``perfbench/layers.json`` maps each
#: to its layer and to the end-to-end metric and workload it should move
UNITS = {
    "plans.compile_s": "s",
    "plans.jobs_per_load": "count",
    "plans.tasks_per_load": "count",
    "sources.scan_s": "s",
    "sources.rows_per_s": "1/s",
    "operators.filters_s": "s",
    "operators.partitioning.exchange_s": "s",
    "operators.partitioning.shuffle_bytes": "bytes",
    "operators.partitioning.task_skew": "ratio",
    "operators.partitioning.bucket_rows_max_over_mean": "ratio",
    "sinks.write_s": "s",
    "sinks.files_per_load": "count",
    "sinks.mean_file_kb": "KiB",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.merge.buckets_rewritten": "count",
    "sinks.merge.write_amp": "ratio",
    "sinks.merge.state_bytes_per_live_row": "bytes",
    "sinks.read_state_s": "s",
    "sinks.changes.table_changes_s": "s",
    "sinks.changes.rows": "count",
    "trace.overhead_s": "s",
}


class Tracer:
    """Spans ``{name, load, start, end, parent, group}`` held in memory."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, load: str, name: str, group: str | None = None):
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, name)
        rec = {"name": name, "load": load, "parent": parent, "group": group,
               "start": time.perf_counter() - self._t0, "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def seconds(self, load: str, name: str) -> float:
        (rec,) = [s for s in self.spans if s["load"] == load and s["name"] == name]
        return rec["end"] - rec["start"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_load(spark, tracer: Tracer, wl, i: int) -> tuple[dict, dict]:
    """Run load ``i`` as its four prefixes and read after it. Returns the load
    record the output checks take and the load's facts for ``per_layer``."""
    from embulk_executor_mapreduce_spark.operators.filters import apply_filter_chain
    from embulk_executor_mapreduce_spark.plans.compiler import compile_pipeline, run_pipeline
    from embulk_executor_mapreduce_spark.sources.readers import read_source
    from embulk_executor_mapreduce_spark.spec import load_spec

    doc, facts = wl.load(i)
    spec = load_spec(doc)
    retry = spec.execution.retry_tasks or spec.partitioning is not None
    lid = f"load{i}"
    version_before = checks.merge_version(wl.merge_state()) if wl.merge_state() else None

    with tracer.span(lid, "read_source", f"{lid}/read_source"):
        _noop(read_source(spark, spec.source, retry_tasks=retry))
    with tracer.span(lid, "apply_filter_chain", f"{lid}/apply_filter_chain"):
        _noop(apply_filter_chain(read_source(spark, spec.source, retry_tasks=retry), spec.filters))
    with tracer.span(lid, "compile_pipeline", f"{lid}/compile_pipeline"):
        with tracer.span(lid, "compile"):
            df = compile_pipeline(spark, spec)
        _noop(df)
    with tracer.span(lid, "run_pipeline", f"{lid}/run_pipeline") as span:
        report = run_pipeline(spark, spec)
    if not report.succeeded:
        raise RuntimeError(f"traced load {i} failed: {report.error}")
    if wl.merge_state():
        with tracer.span(lid, "read_state", f"{lid}/read_state"):
            agg = wl.read_state(spark)
        with tracer.span(lid, "table_changes", f"{lid}/table_changes"):
            changes = wl.read_changes(spark)
        read = (agg, changes)
        out = _merge_facts(wl.merge_state(), version_before)
        out.update(change_rows=len(changes), live_rows=len(wl.state.live))
    else:
        with tracer.span(lid, "read_state", f"{lid}/read_state"):
            read = wl.read(spark, i)
        out = _dir_facts(wl.out_dir(i))
    out.update(load=lid, rows_in=facts["rows"], bytes_in=facts["bytes"])
    rec = {"i": i, "out": wl.out_dir(i), "facts": facts, "ok": True, "read": read,
           "load_s": span["end"] - span["start"]}
    return rec, out


def _dir_stats(dirs: list[str]) -> dict:
    """Data files, their bytes, and max / mean rows per directory."""
    files, size, rows = 0, 0, []
    for d in dirs:
        parts = checks.parquet_files(d)
        files += len(parts)
        size += sum(os.path.getsize(f) for f in parts)
        rows.append(sum(pq.ParquetFile(f).metadata.num_rows for f in parts))
    skew = stats.ratio(max(rows), sum(rows) / len(rows)) if rows else 0.0
    return {"files": files, "bytes_out": size, "bucket_skew": skew}


def _dir_facts(out: str) -> dict:
    return _dir_stats(sorted({os.path.dirname(f) for f in checks.parquet_files(out)}))


def _merge_facts(state: str, version_before: int) -> dict:
    """What one merge commit wrote: the bucket directories whose manifest
    entry changed between the two versions; and the size of the new state."""
    old = checks.merge_manifest(state, version_before)["buckets"]
    new = checks.merge_manifest(state, checks.merge_version(state))["buckets"]
    rewritten = [os.path.join(state, rel) for b, rel in new.items() if old.get(b) != rel]
    current = _dir_stats([os.path.join(state, rel) for rel in new.values()])
    out = _dir_stats(rewritten)
    out.update(buckets_rewritten=len(rewritten), state_bytes=current["bytes_out"],
               bucket_skew=current["bucket_skew"])
    return out


def job_groups(spark) -> dict:
    """Per job group: jobs, tasks, shuffle bytes written, and per stage the
    task run times and shuffle bytes read, from the session's status store.
    Read before the session stops, once its listener has caught up."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    seq = spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    groups: dict[str, dict] = {}
    for job in seq(store.jobsList(None)):
        if not job.jobGroup().isDefined():
            continue
        g = groups.setdefault(job.jobGroup().get(), {"jobs": 0, "tasks": 0, "shuffle_write": 0, "stages": {}})
        g["jobs"] += 1
        for sid in seq(job.stageIds()):
            if sid in g["stages"]:
                continue
            stage = store.lastStageAttempt(sid)
            tasks = seq(store.taskList(sid, stage.attemptId(), _MAX_TASKS))
            times = [t.duration().get() for t in tasks if t.duration().isDefined()]
            g["tasks"] += len(times)
            g["shuffle_write"] += stage.shuffleWriteBytes()
            g["stages"][sid] = {"read": stage.shuffleReadBytes(), "times": times}
    return groups


def task_skew(group: dict | None) -> float:
    """max / median task time in the stage that read the most shuffle bytes
    (the stage after the exchange); 1.0 when the load has no exchange."""
    stages = [s for s in (group or {}).get("stages", {}).values() if s["read"] > 0]
    if not stages:
        return 1.0
    times = max(stages, key=lambda s: s["read"])["times"]
    return stats.ratio(max(times), stats.median(times))


def per_layer(tracer: Tracer, loads: list[dict], groups: dict,
              untraced_s: list[float], is_merge: bool) -> dict[str, float]:
    """Reduce the traced loads to the per-layer metrics (medians over loads).
    ``untraced_s`` are the times of the untraced loads between them; the
    tracing overhead is the traced ``run_pipeline`` median minus theirs."""
    med = stats.median
    rows = []
    for ld in loads:
        lid = ld["load"]
        pre = [tracer.seconds(lid, p) for p in PREFIXES]
        compile_s = tracer.seconds(lid, "compile")
        scan, filt, exch, write = stats.self_times(pre)
        # prefix 3 holds the compile_pipeline call as a child span: that is
        # plan building, not the exchange (prefix 4 compiles inside
        # run_pipeline too, so the sink's self time needs no such correction)
        exch -= compile_s
        g = {p: groups.get(f"{lid}/{p}", {}) for p in PREFIXES}
        rows.append({
            "plans.compile_s": compile_s,
            "plans.jobs_per_load": g["run_pipeline"].get("jobs", 0),
            "plans.tasks_per_load": g["run_pipeline"].get("tasks", 0),
            "sources.scan_s": scan,
            "sources.rows_per_s": stats.ratio(ld["rows_in"], pre[0]),
            "operators.filters_s": filt,
            "operators.partitioning.exchange_s": exch,
            "operators.partitioning.shuffle_bytes": g["compile_pipeline"].get("shuffle_write", 0)
            - g["apply_filter_chain"].get("shuffle_write", 0),
            "operators.partitioning.task_skew": task_skew(g["run_pipeline"]),
            "operators.partitioning.bucket_rows_max_over_mean": ld["bucket_skew"],
            "sinks.write_s": write,
            "sinks.files_per_load": ld["files"],
            "sinks.mean_file_kb": stats.ratio(ld["bytes_out"] / 1024, ld["files"]),
            "sinks.bytes_per_input_byte": stats.ratio(ld["bytes_out"], ld["bytes_in"]),
            "sinks.merge.buckets_rewritten": ld.get("buckets_rewritten", 0),
            "sinks.merge.write_amp": stats.ratio(ld["bytes_out"], ld["bytes_in"]) if is_merge else 0.0,
            "sinks.merge.state_bytes_per_live_row": stats.ratio(ld.get("state_bytes", 0), ld.get("live_rows", 0)),
            "sinks.read_state_s": tracer.seconds(lid, "read_state"),
            "sinks.changes.table_changes_s": tracer.seconds(lid, "table_changes") if is_merge else 0.0,
            "sinks.changes.rows": ld.get("change_rows", 0),
        })
    out = {k: float(med([r[k] for r in rows])) for k in rows[0]}
    out["trace.overhead_s"] = med([tracer.seconds(ld["load"], "run_pipeline") for ld in loads]) - med(untraced_s)
    return out

