"""Per-layer metrics of the traced run.

Layers are the engine's modules. Layer times are reported as shares of
the traced wall time (``*_pct``), so a layer the workload never calls
reads 0 %; the absolute seconds, per query and per span, go to the
trace file. Counts are per pass. Spark counters sum every SQL
execution inside the measured passes. The tracing overhead is the time
the tracer itself spends recording spans and reading counters, which is
what a traced run does on top of an untraced one.
"""

from __future__ import annotations

import json
import os
import statistics

from spans import COUNTERS
from workloads import CURATION

#: share of the traced wall time -> the span names it sums, and whether
#: it sums self time (the span minus its children) or the whole span
SHARES = {
    "mysql_compat.translate_pct": (["mysql_compat.translate"], False),
    "runner.analyze_pct": (["runner.analyze"], False),
    "runner.self_pct": (["runner"], True),
    "guard.time_pct": (["guard"], False),
    "sinks_local.write_pct": (["sinks_local.write"], False),
    "sinks_sheets.self_pct": (["sinks_sheets.write"], True),
    "drive_http.list_pct": (["drive_http.list"], False),
    "drive_http.upload_pct": (["drive_http.upload"], False),
    "queries.build_pct": ([f"queries.{q}.build" for qs in CURATION.values() for q in qs], False),
    **{f"operators.{fam}.exec_pct": ([f"operators.{q}.exec" for q in qs], False)
       for fam, qs in CURATION.items()},
    "streaming.batch_pct": (["streaming.batch"], False),
}
COUNTS = [
    "mysql_compat.calls", "runner.files", "guard.spark_jobs", "guard.rows",
    "sinks_local.files", "drive_http.chunks", "drive_http.chunk_attempts",
    "streaming.batches", "streaming.index_rows",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
]
BYTES = [
    "sinks_local.bytes", "sinks_sheets.bytes", "spark.shuffle_write_bytes",
    "spark.broadcast_bytes", "spark.spill_bytes", "spark.peak_mem_bytes",
    "storage.held_bytes",
]
TIMES = ["session.build_s", "catalog.register_s", "trace.wall_s", "trace.overhead_s"]
NAMES = list(SHARES) + ["streaming.trigger_overhead_pct"] + COUNTS + BYTES + TIMES


def _sums(tracer):
    self_t = tracer.self_times()
    dur, self_sum, count = {}, {}, {}
    for s in tracer.spans:
        n = s["name"]
        dur[n] = dur.get(n, 0.0) + s["end"] - s["start"]
        self_sum[n] = self_sum.get(n, 0.0) + self_t[s["id"]]
        count[n] = count.get(n, 0) + 1
    return dur, self_sum, count, self_t


def per_layer(ctx, result, checked: dict) -> dict:
    tracer = ctx.tracer
    dur, self_sum, count, _ = _sums(tracer)
    passes = result["passes"]
    n = len(passes)
    wall = sum(p["s"] for p in passes)
    parts = [part for p in passes for part in p["parts"]]
    runner_parts = [p for p in parts if p["layer"] in ("analyst", "export")]
    ingest_ops = [o for p in parts if p["layer"] == "ingest" for o in p["ops"]
                  if o["status"] == "ok"]
    roots = [s for s in tracer.spans if s["name"] == "pass"]
    spark = {k: sum(tracer.counters_of(s)[k] for s in roots) for k in COUNTERS}
    guard_spans = [s for s in tracer.spans if s["name"] == "guard"]

    out = {}
    for name, (span_names, use_self) in SHARES.items():
        src = self_sum if use_self else dur
        out[name] = (100.0 * sum(src.get(s, 0.0) for s in span_names) / wall, "%")
    trigger = sum(o["s"] - o["callable_s"] for o in ingest_ops)
    out["streaming.trigger_overhead_pct"] = (100.0 * trigger / wall, "%")
    per_pass = {
        "mysql_compat.calls": count.get("mysql_compat.translate", 0),
        "runner.files": sum(len(p["ops"]) for p in runner_parts),
        "guard.spark_jobs": sum(tracer.counters_of(s)["spark.jobs"] for s in guard_spans),
        "guard.rows": sum(s.get("rows", 0) for s in guard_spans),
        "sinks_local.files": sum(1 for p in runner_parts if p["layer"] == "analyst"
                                 for o in p["ops"] if o["status"] == "ok"),
        "drive_http.chunks": ctx.client.chunks,
        "drive_http.chunk_attempts": ctx.client.attempts,
        "streaming.batches": len(ingest_ops),
        "streaming.index_rows": checked.get("index_rows", 0),
        "sinks_local.bytes": sum(p.get("bytes", 0) for p in runner_parts),
        "sinks_sheets.bytes": ctx.client.bytes,
        **spark,
    }
    for name in COUNTS + BYTES:
        if name == "storage.held_bytes":
            out[name] = (tracer.held_max, "B")
        else:
            out[name] = (per_pass[name] / n, "B" if name in BYTES else "count")
    out["session.build_s"] = (statistics.median(ctx.build_s), "s")
    out["catalog.register_s"] = (statistics.median(ctx.register_s), "s")
    out["trace.wall_s"] = (wall / n, "s")
    out["trace.overhead_s"] = (tracer.overhead_s / n, "s")
    return {k: {"value": out[k][0], "unit": out[k][1]} for k in NAMES}


def write_artifact(root: str, args, host: dict, ctx, result, metrics: dict) -> None:
    """Spans, absolute layer seconds and the self-time balance, written
    once at the end of the traced run."""
    tracer = ctx.tracer
    dur, self_sum, count, self_t = _sums(tracer)
    roots = [s for s in tracer.spans if s["name"] == "pass"]
    wall = sum(s["end"] - s["start"] for s in roots)
    below = sum(self_t[s["id"]] for s in tracer.spans if s["name"] != "pass")
    balance = {"traced_wall_s": wall, "self_sum_below_pass_s": below,
               "unattributed_s": wall - below, "tracing_overhead_s": tracer.overhead_s}
    t0 = min((s["start"] for s in tracer.spans), default=0.0)
    spans = [{k: (v - t0 if k in ("start", "end") else v) for k, v in s.items()
}
             | {"self_s": self_t[s["id"]], **tracer.counters_of(s)}
             for s in tracer.spans]
    doc = {
        "host": host, "metrics": metrics, "balance": balance,
        "layer_seconds": {n: {"total_s": dur[n], "self_s": self_sum[n], "calls": count[n]}
                          for n in sorted(dur)},
        "ops": [op for p in result["passes"] for part in p["parts"] for op in part["ops"]],
        "spans": spans,
    }
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, default=str)
    print(f"trace {path}")
    print(f"self-time balance: spans below the passes {below:.3f} s of traced wall "
          f"{wall:.3f} s (unattributed {wall - below:.3f} s); tracing overhead "
          f"{tracer.overhead_s:.3f} s")
    for n in sorted(dur):
        print(f"layer {n} total_s={dur[n]:.4f} self_s={self_sum[n]:.4f} calls={count[n]}")
