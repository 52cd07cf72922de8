"""Per-layer metrics of a traced run, and the benchmark's self-test.

Span-derived values are averaged per *traced* unit of work (a pass of
the query list, or one micro-batch); set-up values come from the run's
one set-up; ``spark.*`` values come from the event log and
``jvm.*`` values from the driver JVM's management beans, both averaged
over every unit. A layer's ``.s`` is inclusive time of the
calls that enter it from outside; ``.calls`` counts those entries.
"""

from __future__ import annotations

import statistics

import eventlog
from spans import Tracer
from workloads import Result

PER_LAYER = {
    "session.start_s": "s",
    "sources.tbl.calls": "count",
    "sources.tbl.s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.eager_jobs": "count",
    "operators.dedup.s": "s",
    "operators.dedup.calls": "count",
    "operators.text.s": "s",
    "operators.text.calls": "count",
    "operators.similarity.s": "s",
    "operators.similarity.calls": "count",
    "operators.common.spread.s": "s",
    "operators.common.persisted": "count",
    "streaming.batch.s": "s",
    "streaming.batches": "count",
    "streaming.queue_wait_s": "s",
    "streaming.backlog_files_max": "count",
    "streaming.admit_ratio": "ratio",
    "streaming.corpus_rows_per_input_row": "ratio",
    "streaming.write_bytes_per_input_byte": "ratio",
    **eventlog.SPARK_METRICS,
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "jvm.classes_loaded": "count",
    "trace.overhead_ratio": "ratio",
    "trace.uncovered_ratio": "ratio",
}

#: layers whose time and entry count are reported as ``<layer>.s`` /
#: ``<layer>.calls``
_TIMED_LAYERS = ("operators.dedup", "operators.text", "operators.similarity")


def _named(tracer: Tracer, idx: list[int], name: str) -> list:
    """Spans called ``name`` not nested inside another span of that name."""
    out = []
    for i in idx:
        s = tracer.spans[i]
        if s.name == name and (s.parent < 0 or tracer.spans[s.parent].name != name):
            out.append(s)
    return out


def _uncovered_stream(res: Result) -> float:
    """Time inside the stream's wall clock when a file was due but no
    batch was running: trigger, listing and planning overhead that no
    batch span covers. Idle time with nothing due counts as covered
    (the stream waits for input)."""
    gap = 0.0
    prev_end = float("-inf")
    for op in res.ops:
        if op.build_end > 0:
            gap += max(0.0, op.build_end - max(op.start, prev_end))
            prev_end = op.end
    return gap


def per_layer(
    workload: str,
    wcfg: dict,
    tracer: Tracer,
    res: Result,
    setup: tuple[float, float],
    events_dir: str,
    app_id: str,
    cores: int,
) -> tuple[dict[str, float], list[str], bool]:
    """Returns (metric values, summary lines, self-test verdict)."""
    v: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    in_setup = tracer.within(*setup)
    v["session.start_s"] = sum(s.dur for s in _named(tracer, in_setup, "session.get_spark"))
    tbl = _named(tracer, in_setup, "sources.tbl")
    v["sources.tbl.calls"] = len(tbl)
    v["sources.tbl.s"] = sum(s.dur for s in tbl)

    traced = [(a, b) for a, b, t in res.units if t]
    untraced = [(a, b) for a, b, t in res.units if not t]
    n = len(traced)
    idx = [i for a, b in traced for i in tracer.within(a, b)]
    builds = _named(tracer, idx, "queries.build")
    execs = _named(tracer, idx, "queries.exec")
    v["queries.build_s"] = sum(s.dur for s in builds) / n
    v["queries.exec_s"] = sum(s.dur for s in execs) / n
    for layer in _TIMED_LAYERS:
        entries = tracer.layer_entries(idx, layer)
        v[f"{layer}.s"] = sum(s.dur for s in entries) / n
        v[f"{layer}.calls"] = len(entries) / n
    v["operators.common.spread.s"] = sum(s.dur for s in _named(tracer, idx, "operators.common.spread")) / n
    v["operators.common.persisted"] = len(_named(tracer, idx, "operators.common.persist_tracked")) / n

    events = eventlog.read_events(events_dir, app_id)
    submits = eventlog.job_submit_times(events)
    v["queries.eager_jobs"] = sum(1 for t in submits for s in builds if s.start <= t < s.end) / n
    v.update(eventlog.counters(events, [(a, b) for a, b, _ in res.units], cores))

    med = statistics.median
    mean = statistics.fmean
    v["trace.overhead_ratio"] = mean(b - a for a, b in traced) / mean(b - a for a, b in untraced)
    if workload == "ingest_stream":
        wall = res.span[1] - res.span[0]
        committed = [op for op in res.ops if op.build_end > 0]
        x = res.extra
        v["streaming.batch.s"] = med(b - a for a, b, _ in res.units)
        v["streaming.batches"] = len(res.units)
        v["streaming.queue_wait_s"] = med(op.build_end - op.start for op in committed)
        v["streaming.backlog_files_max"] = x["backlog_files_max"]
        v["streaming.admit_ratio"] = x["admitted_docs"] / x["input_rows"]
        v["streaming.corpus_rows_per_input_row"] = x["corpus_rows"] / x["input_rows"]
        v["streaming.write_bytes_per_input_byte"] = x["write_bytes"] / x["input_bytes"]
        uncovered = _uncovered_stream(res)
        v["trace.uncovered_ratio"] = uncovered / wall
        cover = f"streaming.batch + idle cover {wall - uncovered:.3f} of wall_s {wall:.3f} s"
    else:
        wall = sum(b - a for a, b in traced)
        top = sum(s.dur for s in builds) + sum(s.dur for s in execs)
        v["trace.uncovered_ratio"] = (wall - top) / wall
        cover = f"queries.build + queries.exec cover {top:.3f} of {wall:.3f} s over {n} traced passes"
    lines = [
        f"trace: {cover}; uncovered {v['trace.uncovered_ratio']:.2%}",
        f"trace: overhead_ratio {v['trace.overhead_ratio']:.4f} ({n} traced vs {len(untraced)} untraced units)",
    ]
    top_self = sorted(tracer.self_times(idx).items(), key=lambda kv: -kv[1])[:8]
    lines.append("trace: top self time per traced unit: " + ", ".join(f"{k} {t / n:.3f}s" for k, t in top_self))

    # Self-test: every layer the workload claims has calls > 0 over the
    # whole run; similarity is idle where the workload does not use it.
    every = list(range(len(tracer.spans)))
    calls = {layer: len(tracer.layer_entries(every, layer)) for layer in wcfg["claims"]}
    calls["operators.similarity"] = len(tracer.layer_entries(every, "operators.similarity"))
    ok = all(calls[layer] > 0 for layer in wcfg["claims"])
    if "operators.similarity" not in wcfg["claims"]:
        ok = ok and calls["operators.similarity"] == 0
    lines.append(f"selftest {'ok' if ok else 'FAILED'}: entries per layer {calls}")
    return v, lines, ok
