"""The repository's benchmark of record.

    python3 perfbench/run.py --workload cohort_explore --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root.  Each run generates its seeded inputs off
the clock (cached under ``.perfbench/data`` keyed by seed and size),
sets up once from a cold start (the JVM is launched inside the timed
set-up), runs one closed-loop client that starts whole sessions of
operations for ``--seconds`` (and at least a workload's minimum number), checks every output against DuckDB off the
clock, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` enables spans, py4j round-trip
counting and the Spark event log, and reports the per-layer metrics.
The line before it is a JSON report with input sizes, sample counts and
the per-operation metrics by name; the full report (with every span, in
traced mode) is written under ``.perfbench/out``.

``--workload all`` runs every workload untraced and then traced, each in
its own process, and prints a table of the named metrics and the
tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

from tracing import Tracer, event_log_files, parse_event_log, self_times  # noqa: E402

CORES = len(os.sched_getaffinity(0))

END_TO_END = {"setup_s": "s", "op_mean_ms": "ms"}
# per-layer metric -> (span name, scope, scale); the median of the span's
# per-operation total over the set-up ("setup"), the main operations
# ("primary") or every timed operation that opens the span ("ops")
SPAN_METRICS = {
    "session.start_s": ("session.start", "setup", 1),
    "catalog.init_s": ("catalog.init", "setup", 1),
    "catalog.schema_s": ("catalog.schema", "setup", 1),
    "catalog.numeric_ranges_s": ("catalog.numeric_ranges", "setup", 1),
    "plans.builder.build_ms": ("plans.builder.build", "primary", 1000),
    "spark.action_ms": ("spark.action", "primary", 1000),
    "operators.aggregations.filter_impact_report_ms":
        ("operators.aggregations.filter_impact_report", "ops", 1000),
    "operators.reshape.enwiden_s": ("operators.reshape.enwiden", "ops", 1),
    "operators.reshape.consolidate_baseline_ms": ("operators.reshape.consolidate_baseline", "ops", 1000),
    "sources.sinks.write_csv_s": ("sources.sinks.write_csv", "ops", 1),
    "operators.dedup.exact_dedup_s": ("operators.dedup.exact_dedup", "ops", 1),
    "operators.dedup.minhash_dedup_pairs_s": ("operators.dedup.minhash_dedup_pairs", "ops", 1),
    "operators.dedup.keep_best_per_cluster_s": ("operators.dedup.keep_best_per_cluster", "ops", 1),
    "operators.text.quality_score_s": ("operators.text.quality_score", "ops", 1),
    "operators.text.detect_language_s": ("operators.text.detect_language", "ops", 1),
    "caching.release_ms": ("caching.release_cached", "ops", 1000),
}
# per-operation Spark figures from the event log, over primary operations
SPARK_METRICS = {
    "spark.jobs_per_op": "jobs", "spark.stages_per_op": "stages", "spark.tasks_per_op": "tasks",
    "spark.input_bytes_per_op": "input_bytes", "spark.executor_run_ms_per_op": "run_ms",
    "spark.executor_cpu_ms_per_op": "cpu_ms", "spark.gc_ms_per_op": "gc_ms",
    "spark.shuffle_write_bytes_per_op": "shuffle_write_bytes",
    "spark.shuffle_read_bytes_per_op": "shuffle_read_bytes", "spark.spill_bytes_per_op": "spill_bytes",
}
OTHER_LAYER = {"py4j_fastpath.round_trips_per_op": "count", "spark.core_busy_ratio": "ratio",
               "sources.sinks.bytes_per_row": "bytes", "operators.dedup.lsh_candidates": "count",
               "operators.dedup.verified_pairs": "count", "operators.dedup.lsh_precision": "ratio",
               "caching.pinned_peak": "count", "jvm.heap_peak_mb": "MB", "peak_rss_mb": "MB",
               "trace.op_mean_ms": "ms"}
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "input_bytes": "bytes",
               "run_ms": "ms", "cpu_ms": "ms", "gc_ms": "ms", "shuffle_write_bytes": "bytes",
               "shuffle_read_bytes": "bytes", "spill_bytes": "bytes"}
PER_LAYER = {**{k: {1: "s", 1000: "ms"}[scale] for k, (_, _, scale) in SPAN_METRICS.items()},
             **{k: SPARK_UNITS[field] for k, field in SPARK_METRICS.items()}, **OTHER_LAYER}


class Env:
    """Everything a run writes lives under ``<root>/.perfbench``."""

    def __init__(self, root: str, tag: str):
        self.base = os.path.join(root, ".perfbench")
        self.data = os.path.join(self.base, "data")
        run = os.path.join(self.base, "run", f"{tag}-{os.getpid()}")
        self.out = os.path.join(run, "out")
        self.tmp = os.path.join(run, "tmp")
        self.eventlog = os.path.join(run, "eventlog")
        self.run = run
        self.reports = os.path.join(self.base, "out")
        for d in (self.data, self.out, self.tmp, self.eventlog, self.reports):
            os.makedirs(d, exist_ok=True)

    def spark_conf(self, trace: bool) -> dict:
        """Overrides of the engine's session defaults: local paths inside the
        checkout and, in traced mode, the event log.  The driver keeps the
        engine's own memory setting."""
        conf = {
            "spark.sql.shuffle.partitions": str(CORES),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        }
        if trace:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.eventlog,
                         "spark.eventLog.compress": "false"})
        return conf


ENGINE = os.path.join(ROOT, "basic_data_fusion_spark")


def find_engine() -> None:
    """Put this checkout's engine first on the import path; the import
    itself is part of the timed set-up."""
    if not os.path.isfile(os.path.join(ENGINE, "__init__.py")):
        raise ImportError(f"no engine package at {ENGINE}")
    sys.path.insert(0, ROOT)


def make_workload(name: str, env: Env, seed: int, tracer: Tracer):
    if name == "cohort_explore":
        from cohort import CohortExplore
        return CohortExplore(env, seed, tracer)
    from curate import CorpusCurate
    return CorpusCurate(env, seed, tracer)


def read_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times() -> dict:
    """Machine-wide CPU jiffies: busy (user, nice, system), steal and total."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": v[0] + v[1] + v[2], "steal": v[7] if len(v) > 7 else 0, "total": sum(v[:8])}


def jvm_heap_peak_mb(spark) -> float:
    """Sum of the peak used bytes of the driver JVM's heap pools."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if p.getType().toString() == "Heap memory") / 2**20


def reset_hwm() -> None:
    """Restart the Python process's peak-RSS counter (input generation
    happens before the measured part of the run)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def stop_session(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def measure(args, env: Env, tr: Tracer, wl) -> dict:
    """Set up once from a cold start (JVM launch, session, catalog and the
    first operation), run the closed loop for ``args.seconds`` and stop
    the JVM; every operation lands in ``records``."""
    trace = tr.enabled
    records: list[dict] = []
    spark, stopped = None, False

    def do_op(kind, spec, op_id, setup=False):
        tr.op = op_id
        if trace:
            spark.sparkContext.setJobGroup(op_id, kind)
        t0 = time.perf_counter()
        rec = {"id": op_id, "kind": kind, "spec": spec, "setup": setup, "error": False, "ok": False}
        try:
            with tr.span("op." + kind):
                rec["result"] = wl.run(kind, spec, op_id)
        except Exception:
            traceback.print_exc()
            rec["error"] = True
        rec["seconds"] = time.perf_counter() - t0
        records.append(rec)
        return rec

    try:
        tr.op = "setup"
        t0 = time.perf_counter()
        with tr.span("setup"):
            with tr.span("session.start"):
                from basic_data_fusion_spark.session import get_spark

                spark = get_spark("perfbench", master=f"local[{CORES}]",
                                  extra_conf=env.spark_conf(trace))
            wl.setup(spark)
            rec = do_op(*wl.first_op(), "setup", setup=True)
        setup_s = time.perf_counter() - t0
        if rec["error"]:
            raise RuntimeError("set-up failed")
        if not sys.modules["basic_data_fusion_spark"].__file__.startswith(ENGINE + os.sep):
            raise ImportError("basic_data_fusion_spark was not imported from this checkout")

        # whole sessions only: a session starts only before the deadline,
        # and at least ``wl.min_sessions`` run, so a slow machine still
        # times the same mix of operations
        cpu0 = cpu_times()
        deadline = time.perf_counter() + args.seconds
        i = 0
        for n, session in enumerate(wl.sessions(), 1):
            for kind, spec in session:
                do_op(kind, spec, f"op{i}")
                i += 1
            if n >= wl.min_sessions and time.perf_counter() >= deadline:
                break
        tr.op = None
        cpu1 = cpu_times()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"jvm": read_hwm_mb(jvm_pid), "python": read_hwm_mb("self")}
        out = {"records": records, "setup_s": setup_s, "rss_mb": rss,
               "extra": {"peak_rss_mb": rss["jvm"] + rss["python"],
                         "jvm.heap_peak_mb": jvm_heap_peak_mb(spark)},
               "cpu_window": {k: (cpu1[k] - cpu0[k]) / max(cpu1["total"] - cpu0["total"], 1)
                              for k in ("busy", "steal")}}
        if trace:
            spark.sparkContext.setJobGroup("offclock", "offclock")
            if hasattr(wl, "lsh_counts"):
                out["extra"].update(wl.lsh_counts())
            tr.py4j.uninstall()
            out["app_id"] = spark.sparkContext.applicationId
        stop_session(spark)
        stopped = True
        return out
    finally:
        if spark is not None and not stopped:
            stop_session(spark)


def run_one(args) -> int:
    find_engine()
    env = Env(ROOT, f"{args.workload}-s{args.seed}-t{args.trace}")
    try:
        os.environ["TMPDIR"] = env.tmp
        tempfile.tempdir = None
        tr = Tracer(bool(args.trace))
        wl = make_workload(args.workload, env, args.seed, tr)
        manifest = wl.prepare()
        reset_hwm()
        if tr.enabled:
            tr.py4j.install()
        run = measure(args, env, tr, wl)
        records = run["records"]
        extra = dict(run["extra"], **wl.check(records))
        spark_groups = (parse_event_log(event_log_files(env.eventlog, run["app_id"]))
                        if tr.enabled else {})
    finally:
        shutil.rmtree(env.run, ignore_errors=True)

    lat: dict[str, list[float]] = {}
    for r in records:
        if not r["setup"] and not r["error"]:
            lat.setdefault(r["kind"], []).append(r["seconds"])
    failed = sum(1 for r in records if r["error"] or not r["ok"])
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": CORES, "input_rows": manifest["input_rows"], "input_bytes": manifest["input_bytes"],
        "samples": {k: len(v) for k, v in lat.items()}, "setup_s": run["setup_s"],
        "error_rate": failed / len(records),
        "failed_ops": [[r["id"], r["kind"], "error" if r["error"] else "wrong"]
                       for r in records if r["error"] or not r["ok"]],
        "ops": [[r["kind"], r["seconds"]] for r in records if not r["setup"]],
        "peak_rss_mb": extra["peak_rss_mb"], "rss_mb": run["rss_mb"],
        "heap_peak_mb": extra["jvm.heap_peak_mb"], "cpu_window": run["cpu_window"],
        "named": {k: {"value": v, "unit": u} for k, (v, u) in wl.named(lat, manifest).items()},
    }
    if tr.enabled:
        metrics = layer_metrics(tr, records, wl, lat, extra, spark_groups)
        units = PER_LAYER
        report["self_s_by_span"] = self_by_name(tr.spans)
        report["spans"] = [dict(s, self=st) for s, st in zip(tr.spans, self_times(tr.spans))]
    else:
        metrics = {
            "setup_s": run["setup_s"],
            "op_mean_ms": float(np.mean(lat[wl.primary])) * 1000,
        }
        units = END_TO_END
    report["metrics"] = metrics
    with open(os.path.join(env.reports, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(report, f, default=float)

    summary = {k: v for k, v in report.items() if k not in ("spans", "metrics", "ops")}
    print(json.dumps(summary, default=float))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(records), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def layer_metrics(tr: Tracer, records, wl, lat, extra, spark_groups) -> dict:
    by_op: dict[str, dict[str, float]] = {}
    for s in tr.spans:
        d = by_op.setdefault(s["op"], {})
        d[s["name"]] = d.get(s["name"], 0.0) + (s["end"] - s["start"])
    setup_ids = [r["id"] for r in records if r["setup"]]
    op_ids = [r["id"] for r in records if not r["setup"] and not r["error"]]
    primary = [r for r in records if not r["setup"] and not r["error"] and r["kind"] == wl.primary]
    out = {}
    scopes = {"setup": setup_ids, "ops": op_ids, "primary": [r["id"] for r in primary]}
    for metric, (span, scope, scale) in SPAN_METRICS.items():
        ids = scopes[scope]
        vals = [by_op[i][span] for i in ids if span in by_op.get(i, {})]
        out[metric] = _median(vals) * scale
    roots = {s["op"]: s["py4j"] for s in tr.spans if s["name"].startswith("op.")}
    out["py4j_fastpath.round_trips_per_op"] = _median([roots[r["id"]] for r in primary])
    for metric, field in SPARK_METRICS.items():
        out[metric] = _median([spark_groups.get(r["id"], {}).get(field, 0) for r in primary])
    out["spark.core_busy_ratio"] = _median(
        [spark_groups.get(r["id"], {}).get("run_ms", 0) / (r["seconds"] * 1000 * CORES) for r in primary])
    out["caching.pinned_peak"] = float(getattr(wl, "pinned_peak", 0))
    out["trace.op_mean_ms"] = float(np.mean(lat[wl.primary])) * 1000
    for metric in OTHER_LAYER:
        out.setdefault(metric, float(extra.get(metric, 0.0)))
    return out


def self_by_name(spans) -> dict:
    acc: dict[str, list[float]] = {}
    for s, st in zip(spans, self_times(spans)):
        acc.setdefault(s["name"], []).append(st)
    return {k: {"n": len(v), "median_s": _median(v), "total_s": float(sum(v))} for k, v in acc.items()}


def run_all(args) -> int:
    """Every workload untraced, then traced; a table of named metrics."""
    rows = []
    for wl in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                sys.stderr.write(proc.stderr[-4000:])
                print(f"{wl} --trace {trace}: failed (exit {proc.returncode})", file=sys.stderr)
                return 1
            results[trace] = (json.loads(lines[-2]), json.loads(lines[-1]))
        (rep0, res0), (_, res1) = results[0], results[1]
        for name, m in res0["metrics"].items():
            rows.append((wl, name, m["value"], m["unit"]))
        for name, m in rep0["named"].items():
            rows.append((wl, name, m["value"], m["unit"]))
        rows.append((wl, "error_rate", rep0["error_rate"], "ratio"))
        for name, m in res1["metrics"].items():
            rows.append((wl, name, m["value"], m["unit"]))
        traced, plain = res1["metrics"]["trace.op_mean_ms"]["value"], res0["metrics"]["op_mean_ms"]["value"]
        rows.append((wl, "trace.overhead_ratio", traced / plain - 1.0, "ratio"))
    for wl, name, value, unit in rows:
        print(f"{wl:16s} {name:48s} {value:14.4f} {unit}")
    return 0


WORKLOADS = ["cohort_explore", "corpus_curate"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    try:
        return run_one(args)
    except ImportError as e:
        print(f"cannot run the benchmark: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
