"""Closed-loop load benchmark for the pipeline engine.

One client submits one pipeline load at a time through the public API
(``spec.load_spec`` -> ``plans.compiler.run_pipeline``), reads the committed
output once after each load, and after the timed loop checks every committed
output in DuckDB. Run from the root of a checkout:

    python3 perfbench/run.py --workload hourly_partitioned --seed 1 --seconds 15 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the separate
traced run (``perfbench/trace.py``) and prints the per-layer metrics. The last
stdout line is the result object; the line before it carries the run's
details (sample counts, tail percentile, host, spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

DRIVER_HEAP = "1g"
YOUNG_GEN = "256m"
E2E_UNITS = {
    "setup_s": "s",
    "load_s_p50": "s",
    "load_s_tail": "s",
    "rows_per_s": "1/s",
    "read_s_p50": "s",
    "peak_rss_mb": "MB",
}
#: the fewest traced loads in a traced run (it traces whole cycles)
TRACED_LOADS = 3
#: the fewest timed loads in a timed run (two merge_upsert cycles): in a slow
#: phase of the host the medians still come from as many loads, and the same
#: mix, as in a fast one
MIN_TIMED_LOADS = 8


def _ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _cpu_ticks() -> list[int]:
    """The machine's CPU time so far, by state, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of the machine's CPU time between two ``_cpu_ticks`` readings
    that the hypervisor gave to other guests (the 8th field, steal)."""
    delta = [b - a for a, b in zip(start, end)]
    return stats.ratio(delta[7], sum(delta))


def pin_host(work: str) -> dict:
    """Pin the session to this host: all cores, a fixed driver heap (the
    inputs need far less than ``DRIVER_HEAP``, and a fixed size keeps peak RSS
    comparable across hosts; the package default is 48g), and every scratch
    directory inside the run's work directory. The heap starts at its full
    size and the young generation is fixed, so the JVM's peak RSS does not
    hang on when its adaptive sizing happened to grow the heap."""
    cpus = len(os.sched_getaffinity(0))
    ram_gib = _ram_bytes() / 2**30
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_SUBMIT_OPTS": (os.environ.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Xms{DRIVER_HEAP} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={tmp}").strip(),
    })
    return {"nproc": cpus, "ram_gib": round(ram_gib, 2), "driver_heap": DRIVER_HEAP,
            "loadavg_start": os.getloadavg(), "cpu_ticks": _cpu_ticks()}


def _status_mb(pid: int | str, field: str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no {field} for pid {pid}")


def _reset_peak_rss() -> float:
    """Restart this process's peak-RSS mark and return the RSS it restarts
    from: the interpreter, its libraries and the generated inputs' model,
    which the peak figure leaves out."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")
    return _status_mb("self", "VmRSS")


@contextmanager
def session():
    """A started session (its first job done); on exit, stop Spark, then the
    JVM it runs in, and wait for that process to end."""
    from embulk_executor_mapreduce_spark.session import get_spark
    from pyspark import SparkContext

    spark = get_spark()
    try:
        spark.range(1).count()
        yield spark
    finally:
        gateway = SparkContext._gateway
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def check_outputs(wl, loads: list[dict]) -> int:
    from perfbench import checks

    con = checks.connect()
    try:
        return wl.check(con, loads)
    finally:
        con.close()


def one_load(spark, wl, i: int) -> dict:
    """Submit load ``i`` and read its output once. Input generation happens
    before either clock starts."""
    from embulk_executor_mapreduce_spark.plans.compiler import run_pipeline
    from embulk_executor_mapreduce_spark.spec import load_spec

    doc, facts = wl.load(i)
    rec = {"i": i, "out": wl.out_dir(i), "facts": facts, "ok": False, "read": None}
    t0 = time.perf_counter()
    try:
        report = run_pipeline(spark, load_spec(doc))
        rec["load_s"] = time.perf_counter() - t0
        if report.succeeded:
            t1 = time.perf_counter()
            rec["read"] = wl.read(spark, i)
            rec["read_s"] = time.perf_counter() - t1
            rec["ok"] = True
    except Exception:  # noqa: BLE001 — a failed load is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        rec.setdefault("load_s", time.perf_counter() - t0)
    return rec


def run_timed(wl, seconds: float) -> tuple[dict, dict]:
    """Set-up, warm-up, then loads until ``seconds`` have passed and at least
    ``MIN_TIMED_LOADS`` are done (at a cycle boundary); then every output is
    checked."""
    py_base_mb = _reset_peak_rss()
    t0 = time.perf_counter()
    with session() as spark:
        wl.prepare(spark)
        loads = [one_load(spark, wl, i) for i in range(wl.warmup)]
        setup_s = time.perf_counter() - t0
        start = time.perf_counter()
        while True:
            loads.append(one_load(spark, wl, len(loads)))
            timed = loads[wl.warmup:]
            if (time.perf_counter() - start >= seconds and len(timed) >= MIN_TIMED_LOADS
                    and len(timed) % wl.cycle == 0):
                break
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        jvm_peak_mb = _status_mb(jvm_pid, "VmHWM")
        py_growth_mb = _status_mb("self", "VmHWM") - py_base_mb
    wrong = check_outputs(wl, loads)

    ok = [ld for ld in timed if ld["ok"]]
    load_s = [ld["load_s"] for ld in ok]
    tail_s, tail_pct, n = stats.tail(load_s)
    failed = sum(not ld["ok"] for ld in loads)
    metrics = {
        "setup_s": setup_s,
        "load_s_p50": stats.median(load_s),
        "load_s_tail": tail_s,
        "rows_per_s": stats.ratio(sum(ld["facts"]["rows"] for ld in ok), sum(load_s)),
        "read_s_p50": stats.median([ld["read_s"] for ld in ok]),
        # the driver JVM's peak plus what the Python process grew by; that
        # growth still holds the client's own share (the merge model's new
        # keys, each increment the generator writes)
        "peak_rss_mb": jvm_peak_mb + py_growth_mb,
    }
    result = {
        "correct": wrong == 0,
        "attempted": len(loads),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()},
    }
    detail = {
        "warmup_loads": wl.warmup, "timed_loads": len(timed), "tail_percentile": tail_pct,
        "tail_samples": n, "failed_ratio": stats.ratio(failed, len(loads)),
        "wrong_outputs": wrong, "load_s": load_s,
        "read_s": [ld["read_s"] for ld in ok], "jvm_peak_rss_mb": jvm_peak_mb,
        "py_peak_rss_growth_mb": py_growth_mb, "py_base_rss_mb": py_base_mb,
    }
    return result, detail


def run_traced(wl, seconds: float) -> tuple[dict, dict]:
    """The traced run: after the same set-up and warm-up, alternate a cycle of
    untraced loads with a cycle of traced ones (each as its four prefixes), so
    both see the same mix and the same warm-up, until ``seconds`` have passed
    and at least ``TRACED_LOADS`` are traced; then check every output like
    the timed run does. Jobs, tasks and shuffle bytes come from Spark's own
    status store, which every session keeps, so the untraced loads pay for
    no tracing at all."""
    from perfbench import trace

    with session() as spark:
        wl.prepare(spark)
        loads = [one_load(spark, wl, i) for i in range(wl.warmup)]
        tracer = trace.Tracer(spark)
        traced, untraced_s = [], []
        start = time.perf_counter()
        while len(traced) < TRACED_LOADS or time.perf_counter() - start < seconds:
            spark.sparkContext.setJobGroup("untraced", "untraced")
            for _ in range(wl.cycle):
                rec = one_load(spark, wl, len(loads))
                loads.append(rec)
                if rec["ok"]:
                    untraced_s.append(rec["load_s"])
            for _ in range(wl.cycle):
                rec, facts = trace.traced_load(spark, tracer, wl, len(loads))
                loads.append(rec)
                traced.append(facts)
        groups = trace.job_groups(spark)
    wrong = check_outputs(wl, loads)
    layers = trace.per_layer(tracer, traced, groups, untraced_s, wl.merge_state() is not None)
    result = {
        "correct": wrong == 0,
        "attempted": len(loads),
        "failed": sum(not ld["ok"] for ld in loads),
        "metrics": {k: {"value": v, "unit": trace.UNITS[k]} for k, v in layers.items()},
    }
    return result, {"traced_loads": len(traced), "untraced_load_s": untraced_s,
                    "wrong_outputs": wrong, "spans": tracer.spans}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's own copy; without it there is
    # nothing to measure
    import embulk_executor_mapreduce_spark as program

    if os.path.dirname(os.path.dirname(os.path.abspath(program.__file__))) != ROOT:
        raise SystemExit(f"program imported from {program.__file__}, not from {ROOT}")

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        host = pin_host(work)
        wl = WORKLOADS[args.workload](work, args.seed)
        wl.generate()
        run = run_traced if args.trace else run_timed
        result, detail = run(wl, args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # flush this run's writes and deletions now, not during the next run
        os.sync()
    host["loadavg_end"] = os.getloadavg()
    host["cpu_steal_share"] = steal_share(host.pop("cpu_ticks"), _cpu_ticks())
    inputs = {k: v for k, v in wl.inputs.items() if k != "paths"}
    detail.update(workload=args.workload, seed=args.seed, host=host, params=wl.p,
                  inputs=inputs, wall_s=time.perf_counter() - T_START)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
