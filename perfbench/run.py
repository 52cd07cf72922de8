#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
``--seed`` under ``.perfbench/`` in the checkout, starts the engine's own
session (``session.get_spark`` on ``local[4]``), times the workload for
``--seconds`` and checks every output outside the timed region. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "mapreduceframework_cpp_spark"
WORKLOADS = ("corpus_curation", "ingest_stream")

#: end-to-end metric → unit (reported with --trace 0)
END_TO_END = {"setup_s": "s", "wall_s": "s", "latency_s_p50": "s"}

#: engine settings the benchmark pins; any other value in the caller's
#: environment would change what is measured
_PINNED_ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SF_DIR")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str, cores: int, trace: bool) -> str:
    """Keep every file Spark and Python write inside ``work``; with
    tracing, have Spark write its event log there too. Returns the
    event-log directory."""
    events = os.path.join(work, "events")
    tmp = os.path.join(work, "tmp")
    for d in (events, tmp, os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    for k in _PINNED_ENV:
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    args = [
        "--driver-java-options",
        f"-Djava.io.tmpdir={tmp}",
        "--conf",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf",
            "spark.eventLog.enabled=true",
            "--conf",
            f"spark.eventLog.dir=file://{events}",
            "--conf",
            "spark.eventLog.compress=false",
            "--conf",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    tempfile.tempdir = None  # re-read TMPDIR
    return events


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_times() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat: user nice system idle iowait
    irq softirq steal …, in clock ticks."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _jvm_counters(jvm) -> tuple[float, float, int]:
    """Driver JVM's cumulative JIT compile seconds, GC seconds and
    loaded-class count (Spark compiles generated code into new classes)."""
    mf = jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    return jit / 1000.0, gc / 1000.0, mf.getClassLoadingMXBean().getTotalLoadedClassCount()


def _stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.nan


def run(args: argparse.Namespace, cfg: dict, work: str) -> dict:
    """One benchmark run. Returns the final JSON record, with the
    human-readable summary lines under ``"lines"``."""
    events_dir = _prepare_env(work, cfg["cores"], bool(args.trace))
    import workloads
    from spans import Tracer

    wcfg = cfg[args.workload]
    data_dir = os.path.join(work, "data")
    if args.workload == "ingest_stream":
        wl = workloads.IngestStream(wcfg)
        # every file is due inside the measuring window
        n_files = int(args.seconds // wcfg["interval_s"]) + 1
        sizes = wl.generate(data_dir, args.seed, n_files)
    else:
        wl = workloads.BatchQueries(wcfg)
        sizes = wl.generate(data_dir, args.seed)

    # Import the engine before any timing, so module import cost lands
    # in neither setup_s nor the timed passes, traced or not.
    from mapreduceframework_cpp_spark import registry, session
    from mapreduceframework_cpp_spark.streaming import ingest_dedup  # noqa: F401

    registry.all_queries()
    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install()
        tracer.enabled = True

    spark = None
    try:
        # Set-up, as a user meets it: JVM launch and session start, the
        # first scan of the inputs and one untimed warm-up pass.
        t0 = time.time()
        spark = session.get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        wl.warm(spark, data_dir)
        wl.warm_pass(spark, data_dir, work)
        setup = (t0, time.time())
        if tracer:
            tracer.enabled = False

        jvm = spark._jvm
        jvm.java.lang.System.gc()  # start timing from a collected heap
        cpu0, jvm0 = _cpu_times(), _jvm_counters(jvm)
        res = wl.measure(spark, data_dir, work, args.seconds, tracer)
        cpu = [b - a for a, b in zip(cpu0, _cpu_times())]
        jit_s, gc_s, classes = (b - a for a, b in zip(jvm0, _jvm_counters(jvm)))
        peak_rss = _vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid()) + _vm_hwm_mb("self")
        app_id = spark.sparkContext.applicationId
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
    wl.check(res, data_dir, work)

    ok = [op for op in res.ops if op.error is None]
    unit_s = [b - a for a, b, _ in res.units]
    per_op: dict[str, list[float]] = {}
    for op in ok:
        per_op.setdefault(op.name.split("-")[0], []).append(op.end - op.start)
    if args.workload == "ingest_stream":
        wall = res.span[1] - res.span[0]
        latency = _median(per_op.get("file", []))
    else:
        wall = _median(unit_s)
        # the median query's latency, each query taken at its median
        latency = _median([_median(v) for v in per_op.values()])
    e2e = {
        "setup_s": setup[1] - setup[0],
        "wall_s": wall,
        "latency_s_p50": latency,
    }
    failed = [op for op in res.ops if op.error is not None]
    lines = [
        f"workload={args.workload} seed={args.seed} sizes={json.dumps(sizes, sort_keys=True)}",
        f"units={len(res.units)} unit_s: " + ", ".join(f"{u:.3f}" for u in unit_s),
    ]
    for name, unit in END_TO_END.items():
        lines.append(f"{name} = {e2e[name]:.4f} {unit}")
    lines.append(
        f"host cpu while measuring: busy {1 - (cpu[3] + cpu[4]) / sum(cpu):.3f}, steal {cpu[7] / sum(cpu):.3f} (share of ticks)"
    )
    lines.append(f"driver JVM while measuring: jit {jit_s:.3f} s, gc {gc_s:.3f} s, {classes} classes loaded")
    lines.append(f"peak_rss_mb = {peak_rss:.1f} MB (JVM + driver VmHWM; reported, not gated)")
    lines.append(f"failed_ratio = {len(failed) / len(res.ops):.4f} ratio ({len(failed)} of {len(res.ops)})")
    if args.workload == "ingest_stream":
        docs = res.extra["input_rows"]
        lines.append(f"docs_per_s = {docs / e2e['wall_s']:.3f} 1/s ({docs} docs from the generator)")
        lines.append(f"generator_late_s_max = {res.extra['generator_late_s_max']:.4f} s")
        lines.append(
            "file queue wait / batch s: "
            + ", ".join(f"{op.build_end - op.start:.3f}/{op.end - op.build_end:.3f}" for op in res.ops)
        )
        lines.append(f"batch_cycle_s_p50 = {res.extra['batch_cycle_s_p50']:.4f} s (start to start)")
    lines.append("op latency p50: " + ", ".join(f"{k} {_median(v):.3f}s" for k, v in per_op.items()))
    for op in failed:
        lines.append(f"FAILED {op.name} (unit {op.unit}): {op.error.strip().splitlines()[-1]}")

    metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    selftest_ok = True
    if tracer:
        import layers

        values, more, selftest_ok = layers.per_layer(
            args.workload, wcfg, tracer, res, setup, events_dir, app_id, cfg["cores"]
        )
        units = len(res.units)
        values.update({"jvm.jit_s": jit_s / units, "jvm.gc_s": gc_s / units, "jvm.classes_loaded": classes / units})
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.PER_LAYER.items()}
        lines += more
    return {
        "lines": lines,
        "correct": selftest_ok and not failed,
        "attempted": len(res.ops),
        "failed": len(failed),
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE} package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    with open(os.path.join(HERE, "config.json"), encoding="utf-8") as f:
        cfg = json.load(f)
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    try:
        out = run(args, cfg, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)  # only when no other run is using it
    for line in out.pop("lines"):
        print(line)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
