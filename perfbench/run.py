"""Benchmark of the data-quality engine, run as a library.

Usage, from the root of the repository::

    python3 perfbench/run.py --workload dq_suite --seed 1 --seconds 10 --trace 0

One process is one closed loop: one client, sequential units of work, a
``local[nproc]`` session built through ``sources.session.build_session``.
The inputs and the expected outputs are made from ``--seed`` before timing
starts. The first unit runs in the fresh session (``cold_run_s``); then
measured units run until ``--seconds`` have passed, at least one
(``run_s`` is their median; a unit that takes longer than ``--seconds``
makes it a single sample, and the record says how many there were).
Every unit's outputs are checked outside the timed region; a unit whose
check fails counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
package's layers in spans (see ``spans.py``) and prints the per-layer
metrics. A traced run first runs one warm-up unit, then measured units
that alternate between traced and untraced ones (T U U T T U ...), at
least T U U T, so that a steady drift of the unit time cancels; the per-layer
metrics come from the traced units, and the tracing overhead
(``trace.overhead_ms``) is the median traced unit minus the median
untraced one. The last line of
standard output is one JSON object; a full record of the run (environment,
every unit, the per-layer table) goes to ``perfbench/results/``, keyed by
commit and cpu count, and never overwrites an earlier record.
"""

from __future__ import annotations

import argparse
import datetime
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pyspark_data_quality_spark"
#: Input generation and expectation building run this many times; setup_s
#: reports their median plus the session start.
SETUP_REPEATS = 3
#: Units a traced run runs after the cold one before measuring: the first
#: warm unit is still about 12 % slower than the ones after it (the JIT is
#: still compiling), which would bias the traced/untraced comparison.
#: Untraced runs measure from the first warm unit on.
TRACE_WARMUP_UNITS = 1
#: A traced run measures at least this many units (T U U T).
TRACE_MIN_UNITS = 4
#: No new unit starts after this many seconds of the process.
DEADLINE_S = 140.0
#: Driver heap, fixed (-Xms = -Xmx): a heap that grows and shrinks with GC
#: timing made the JVM's peak RSS vary 12 % across runs, a fixed one 3 %.
DRIVER_HEAP = "1g"

END_TO_END = {
    "setup_s": "s", "run_s": "s", "cold_run_s": "s", "rows_per_s": "1/s",
    "jvm_peak_rss_mb": "MiB",
}
_SPAN_COUNTERS = ("ms", "driver_ms", "jobs", "stages", "tasks", "scan_bytes",
                  "shuffle_write_bytes", "gc_ms")
_ENTRY_COUNTERS = ("ms", "driver_ms", "jobs", "stages", "shuffle_write_bytes")
_UNITS = {"ms": "ms", "driver_ms": "ms", "gc_ms": "ms", "jobs": "count", "stages": "count",
          "tasks": "count", "scan_bytes": "B", "shuffle_write_bytes": "B"}


def per_layer_metrics() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    from workloads import CORPUS_ENTRIES

    out = {"plans.config.ms": "ms"}
    for layer in ("plans.analysis", "sinks.metrics", "sinks.quarantine",
                  "pipelines.curation", "operators.dedup", "operators.text"):
        out.update({f"{layer}.{c}": _UNITS[c] for c in _SPAN_COUNTERS})
    out["result.ms"] = "ms"
    out["sinks.output_bytes"] = "B"
    out["functions.py_worker_cpu_s"] = "s"
    out["functions.arrow_bytes_to_python"] = "B"
    for name in CORPUS_ENTRIES:
        out.update({f"entry.{name}.{c}": _UNITS[c] for c in _ENTRY_COUNTERS})
    out.update({
        "sources.full_scans": "count", "spark.busy_ratio": "ratio",
        "spark.sched_delay_ms": "ms", "spark.spill_bytes": "B",
        "bench.ms": "ms", "trace.unit_ms": "ms", "trace.overhead_ms": "ms",
    })
    return out


def _parse(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(work: str, cpus: int):
    from pyspark_data_quality_spark.sources.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch file of Spark and PySpark stays inside the checkout; the
    # JVMs (the launcher's too) write no /tmp/hsperfdata
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp,
                       "SPARK_LAUNCHER_OPTS": jvm_opts,
                       "PYSPARK_PYTHON": sys.executable,
                       "PYSPARK_DRIVER_PYTHON": sys.executable})
    spark = build_session(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_confs={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"{jvm_opts} -Xms{DRIVER_HEAP}",
            "spark.ui.retainedJobs": "1000",
            "spark.ui.retainedStages": "1000",
            "spark.sql.ui.retainedExecutions": "200",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def code_identity() -> dict:
    """The git commit when the tree is a git checkout, and always a digest
    of the package sources (the checkout the benchmark runs in may not be
    a git repository)."""
    digest = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(base, f)
                digest.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, check=True,
                                    capture_output=True, text=True).stdout.strip()
        except (OSError, subprocess.CalledProcessError):
            commit = None
    return {"commit": commit, "source_sha256": digest.hexdigest()}


def _layers_of(tracer, iteration: int) -> dict[str, dict]:
    """Per-layer sums over the spans of one iteration."""
    out: dict[str, dict] = {}
    for s in tracer.spans:
        if s.iteration != iteration:
            continue
        acc = out.setdefault(s.name, {"ms": 0.0, "driver_ms": 0.0, "wall_ms": 0.0})
        acc["ms"] += s.self_ms
        acc["driver_ms"] += s.driver_ms
        if s.parent is None:
            acc["wall_ms"] += s.wall_ms
        for k, v in s.counters.items():
            acc[k] = acc.get(k, 0) + v
    return out


def _trace_metrics(traced: list[dict], untraced: list[dict], source_rows: int,
                   cpus: int) -> dict[str, float]:
    """Median over the measured traced units of every per-layer metric (a
    layer the workload does not use reads 0), and the tracing overhead."""
    def med(fn):
        return statistics.median(fn(u) for u in traced)

    def layer(name, key):
        return med(lambda u: u["layers"].get(name, {}).get(key, 0))

    out = {}
    for name in per_layer_metrics():
        head, _, key = name.rpartition(".")
        if name == "sinks.output_bytes":
            out[name] = layer("sinks.quarantine", "output_bytes")
        elif name == "functions.py_worker_cpu_s":
            out[name] = med(lambda u: u["py_worker_cpu_s"])
        elif name == "functions.arrow_bytes_to_python":
            out[name] = med(lambda u: u["arrow_bytes_to_python"])
        elif name == "sources.full_scans":
            out[name] = med(lambda u: sum(st["input_records"] >= source_rows
                                          for st in u["stages"]))
        elif name == "spark.busy_ratio":
            out[name] = med(lambda u: u["executor_run_ms"] / (u["seconds"] * 1000 * cpus))
        elif name == "spark.sched_delay_ms":
            out[name] = med(lambda u: u["sched_delay_ms"])
        elif name == "spark.spill_bytes":
            out[name] = med(lambda u: u["spill_bytes"])
        elif name == "trace.unit_ms":
            out[name] = layer("bench", "wall_ms")
        elif name == "trace.overhead_ms":
            out[name] = 1000.0 * (med(lambda u: u["seconds"])
                                  - statistics.median(u["seconds"] for u in untraced))
        else:
            out[name] = layer(head, key)
    return out


def _table(traced: list[dict]) -> str:
    """Per-layer self time and counters of the median traced unit."""
    unit = sorted(traced, key=lambda u: u["seconds"])[(len(traced) - 1) // 2]
    cols = ("ms", "driver_ms", "jobs", "stages", "tasks", "scan_bytes",
            "shuffle_write_bytes", "gc_ms")
    lines = [f"{'layer':<32}" + "".join(f"{c:>20}" for c in cols)]
    for name, acc in sorted(unit["layers"].items(), key=lambda kv: -kv[1]["ms"]):
        lines.append(f"{name:<32}" + "".join(f"{acc.get(c, 0):>20.1f}" for c in cols))
    total = sum(a["ms"] for a in unit["layers"].values())
    lines.append(f"{'sum of self ms':<32}{total:>20.1f}   unit wall ms "
                 f"{unit['layers']['bench']['wall_ms']:.1f}")
    return "\n".join(lines)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    args = _parse(argv)
    t_proc = time.perf_counter()

    import pyspark

    import spans as tr
    from workloads import WORKLOADS

    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    cpus = nproc
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    work = os.path.join(HERE, "_work", f"{args.workload}-{stamp}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, cpus)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](work, args.seed)
        prepare_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.prepare()
            prepare_s.append(time.perf_counter() - t0)
        wl.open(spark)
        setup_s = session_s + statistics.median(prepare_s)

        tracer = tr.Tracer(spark)
        units: list[dict] = []

        def run_unit(i: int, traced: bool) -> dict:
            wl.reset()
            spark.catalog.clearCache()
            tracer.enabled, tracer.iteration = traced, i
            if traced:
                tracer.install()
                cpu0 = tr.python_worker_cpu_s(tracer.jvm_pid)
                first_exec = tracer.next_execution_id()
            t = time.perf_counter()
            with tracer.span("bench"):
                wl.unit(spark, tracer, i)
            u = {"i": i, "traced": traced, "seconds": time.perf_counter() - t}
            tracer.enabled = False
            if traced:
                tracer.uninstall()
                u["py_worker_cpu_s"] = tr.python_worker_cpu_s(tracer.jvm_pid) - cpu0
                totals = tracer.collect_iteration(i, first_exec)
                u["arrow_bytes_to_python"] = tracer.python_bytes_sent(first_exec)
                u["executor_run_ms"] = totals["run_ms"]
                u["sched_delay_ms"] = totals["sched_ms"]
                u["spill_bytes"] = totals["spill"]
                u["stages"] = totals["stages"]
                u["layers"] = _layers_of(tracer, i)
            # collect this unit's garbage outside timing, so that the next
            # unit does not pay for it; the check gives Spark's cleaner
            # thread time to drop the shuffle files it frees
            gc.collect()
            spark.sparkContext._jvm.java.lang.System.gc()
            try:
                u["problems"] = wl.check(spark, i)
            except Exception as e:  # e.g. an output the unit never wrote
                u["problems"] = [f"check raised {e!r}"]
            units.append(u)
            return u

        trace = bool(args.trace)
        warmup = TRACE_WARMUP_UNITS if trace else 0
        for i in range(1 + warmup):
            run_unit(i, trace)
        cold = units[0]
        t_warm = time.perf_counter()
        k = 0
        while True:
            last = run_unit(i := i + 1, trace and k % 4 in (0, 3))
            k += 1
            now = time.perf_counter()
            if now - t_warm >= args.seconds and (not trace or k >= TRACE_MIN_UNITS):
                break
            # past the deadline a traced run still needs one untraced unit
            if now - t_proc + 1.5 * last["seconds"] > DEADLINE_S and (not trace or k >= 2):
                break
        rss = tr.peak_rss_mb(tracer.jvm_pid)

        measured = units[1 + warmup:]
        failed = sum(bool(u["problems"]) for u in units)
        plain = [u for u in measured if not u["traced"]]
        run_s = statistics.median(u["seconds"] for u in plain)
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "cpus": cpus, "nproc": nproc,
            "pyspark": pyspark.__version__, **code_identity(),
            "input_rows": wl.input_rows, "source_rows": wl.source_rows,
            "session_s": session_s, "prepare_s": prepare_s,
            "units": [{k: v for k, v in u.items() if k not in ("stages", "layers")}
                      for u in units],
        }
        if trace:
            traced = [u for u in measured if u["traced"]]
            metrics = _trace_metrics(traced, plain, wl.source_rows, cpus)
            units_of = per_layer_metrics()
            record["layers"] = [u["layers"] for u in traced]
            print(_table(traced))
        else:
            metrics = {"setup_s": setup_s, "run_s": run_s, "cold_run_s": cold["seconds"],
                       "rows_per_s": wl.input_rows / run_s, "jvm_peak_rss_mb": rss}
            units_of = END_TO_END
        record["metrics"] = metrics
        record["failed_ratio"] = failed / len(units)
        _save(record, tracer if args.trace else None, stamp)
        for u in units:
            for p in u["problems"]:
                print(f"perfbench: unit {u['i']} check failed: {p}", file=sys.stderr)
        shown = ("trace.unit_ms", "trace.overhead_ms") if trace else END_TO_END
        print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} cpus={cpus}: "
              + ", ".join(f"{k}={metrics[k]:.6g} {units_of[k]}" for k in shown)
              + f", measured units={len(measured)}, failed_ratio={failed}/{len(units)}"
              f"={failed / len(units):.3g}")
        result = {
            "correct": failed == 0, "attempted": len(units), "failed": failed,
            "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _save(record: dict, tracer, stamp: str) -> None:
    key = (record["commit"] or "src-" + record["source_sha256"][:12]) + f"_c{record['cpus']}"
    out = os.path.join(HERE, "results", key)
    os.makedirs(out, exist_ok=True)
    base = os.path.join(out, f"{record['workload']}_s{record['seed']}_t{record['trace']}"
                             f"_{stamp}_{os.getpid()}")
    with open(base + ".json", "x") as f:
        json.dump(record, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(base + "_spans.jsonl")


if __name__ == "__main__":
    sys.exit(main())
