"""Turn a finished workload into the benchmark's metrics and report."""

from __future__ import annotations

import json
import math
import statistics
from collections import defaultdict

import numpy as np

import sparkstats
from spans import self_times

#: End-to-end metrics, measured with tracing off (name -> unit).
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "cpu_ms_per_op": "ms",
}
#: Reported beside them but not gated: error_rate and pinned_storage_mb
#: can read 0, a short run has too few samples for a tail, and peak RSS
#: follows the JVM's heap sizing (it spread over 20 % between runs).
REPORTED = {"latency_tail_ms": "ms", "error_rate": "fraction",
            "pinned_storage_mb": "MB", "peak_rss_mb": "MB"}

_CORPUS = ("dedup_minhash_lsh", "text_quality_features", "ann_brute_topk")

#: Per-layer metrics of the traced run (name -> unit), each the mean
#: over the traced operations that reached the layer. A layer a
#: workload never reaches reads 0.
LAYERS = {
    "session.get_spark_s": "s",
    "io.load_calls": "count",
    "io.load_ms": "ms",
    "telemetry.events_as_parameter_values_ms": "ms",
    "queryspec.evaluate_ms": "ms",
    "queryspec.evaluate_events_ms": "ms",
    "queryspec.evaluate_ms.hostile": "ms",
    "trades.events_as_option_trades_ms": "ms",
    "window_agg.option_window_agg_ms": "ms",
    "kafka_io.to_kafka_json_ms": "ms",
    "kafka_io.from_kafka_json_ms": "ms",
    "driver.py4j_calls": "count",
    "driver.build_ms": "ms",
    "catalyst.plan_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.busy_share": "fraction",
    "exec.input_bytes": "bytes",
    "exec.scan_share": "fraction",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_memory_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "stream.triggers_per_chunk": "count",
    "stream.trigger_wait_ms": "ms",
    "stream.trigger_ms": "ms",
    "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "state.instances": "count",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.rows_removed": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.updates_ms": "ms",
    "state.removals_ms": "ms",
    **{f"llmdata.{q}.{p}_ms": "ms" for q in _CORPUS for p in ("build", "exec")},
    "jobs.pipeline_ms": "ms",
    "jobs.stream_ms": "ms",
    "cache.persisted_rdds": "count",
    "cache.storage_bytes": "bytes",
}

#: Span name -> metric, by self time (the function's own work).
_SELF = {
    "io.load": "io.load_ms",
    "telemetry.events_as_parameter_values": "telemetry.events_as_parameter_values_ms",
    "queryspec.evaluate": "queryspec.evaluate_ms",
    "queryspec.evaluate_events": "queryspec.evaluate_events_ms",
    "trades.events_as_option_trades": "trades.events_as_option_trades_ms",
    "window_agg.option_window_agg": "window_agg.option_window_agg_ms",
    "kafka_io.to_kafka_json": "kafka_io.to_kafka_json_ms",
    "kafka_io.from_kafka_json": "kafka_io.from_kafka_json_ms",
}
#: Span name -> metric, by whole duration (a phase and all under it).
_TOTAL = {
    "driver.build": "driver.build_ms",
    "catalyst.plan": "catalyst.plan_ms",
    **{f"llmdata.{q}.{p}": f"llmdata.{q}.{p}_ms" for q in _CORPUS for p in ("build", "exec")},
}
#: Counters reported as their value after the last traced operation.
_LAST = ("cache.persisted_rdds", "cache.storage_bytes")


def tail_percentile(n: int, min_beyond: int = 10) -> int | None:
    """The highest whole percentile (at most 99) that leaves
    ``min_beyond`` samples above it, or None when that is not above
    the median."""
    if n <= 0:
        return None
    p = min(math.floor(100 * (1 - min_beyond / n)), 99)
    return p if p > 50 else None


def tail(values: list[float], min_beyond: int = 10) -> tuple[int | None, float | None]:
    p = tail_percentile(len(values), min_beyond)
    if p is None:
        return None, None
    return p, float(np.percentile(values, p, method="lower"))


def _layer_metrics(wl, ctx, get_spark_s: float) -> dict[str, float]:
    traced = [o for o in wl.layer_ops() if o["traced"]]
    selft = self_times(ctx.tracer.spans)
    totals: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in ctx.tracer.spans:
        totals[s["trace"]][s["name"]] += (s["end"] - s["start"]) * 1000.0
    samples: dict[str, list[float]] = defaultdict(list)
    for o in traced:
        t = o["trace"]
        for span, name in _SELF.items():
            if span in selft[t]:
                samples[name].append(selft[t][span])
        for span, name in _TOTAL.items():
            if span in totals[t]:
                samples[name].append(totals[t][span])
        if o.get("hostile") and "queryspec.evaluate" in selft[t]:
            samples["queryspec.evaluate_ms.hostile"].append(selft[t]["queryspec.evaluate"])
    out = {name: 0.0 for name in LAYERS}
    for name, xs in samples.items():
        out[name] = statistics.fmean(xs)
    counted = {n for o in traced for n in ctx.tracer.counts.get(o["trace"], {})}
    for name in counted:
        xs = [ctx.tracer.counts[o["trace"]][name] for o in traced
              if name in ctx.tracer.counts.get(o["trace"], {})]
        out[name] = xs[-1] if name in _LAST else statistics.fmean(xs)
    out["session.get_spark_s"] = get_spark_s
    for kind in ("pipeline", "stream"):
        xs = [o["latency_s"] * 1000.0 for o in traced if o.get("kind") == kind]
        if xs:
            out[f"jobs.{kind}_ms"] = statistics.median(xs)
    return {k: out[k] for k in LAYERS}


def account(checked: list[dict]) -> tuple[int, int]:
    """(attempted, failed): an operation fails if it raised or its
    output differs from the reference; it stays in the latency sample."""
    return len(checked), sum(1 for o in checked if o["error"])


def summarize(wl, ctx, *, setup_s: float, get_spark_s: float, window_s: float,
              cpu_s: float, spark) -> dict:
    ops = wl.ops
    checked = wl.checked_ops()
    attempted, failed = account(checked)
    lat_ms = [o["latency_s"] * 1000.0 for o in ops]
    p, tail_ms = tail(lat_ms)
    _, pinned_bytes = sparkstats.storage(spark.sparkContext)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(lat_ms) if lat_ms else 0.0,
        "ops_per_s": len(ops) / window_s if window_s else 0.0,
        "rows_per_s": sum(o["rows_in"] for o in ops) / window_s if window_s else 0.0,
        "cpu_ms_per_op": 1000.0 * cpu_s / len(ops) if ops else 0.0,
    }
    reported = {
        "latency_tail_ms": tail_ms,
        "error_rate": failed / attempted if attempted else 0.0,
        "pinned_storage_mb": pinned_bytes / 1e6,
        "peak_rss_mb": sparkstats.peak_rss_mb(spark.sparkContext),
    }
    layers = _layer_metrics(wl, ctx, get_spark_s) if ctx.trace else {}
    chosen = layers if ctx.trace else e2e
    units = LAYERS if ctx.trace else END_TO_END
    return {
        "e2e": e2e,
        "reported": reported,
        "layers": layers,
        "samples": len(lat_ms),
        "tail_percentile": p,
        "errors": sorted({o["error"] for o in checked if o["error"]})[:5],
        "ops": [(o.get("kind", ""), round(o["latency_s"] * 1000.0, 1)) for o in wl.layer_ops()],
        "contract": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
        },
    }


def report_lines(result: dict) -> list[str]:
    n = result["samples"]
    lines = []
    for k, v in result["e2e"].items():
        lines.append(f"# e2e {k} {v:.6g} {END_TO_END[k]} n={1 if k == 'setup_s' else n}")
    rep = result["reported"]
    p = result["tail_percentile"]
    if p is None:
        lines.append(f"# e2e latency_tail_ms none ms n={n} (needs 21 samples or more)")
    else:
        lines.append(f"# e2e latency_p{p}_ms {rep['latency_tail_ms']:.6g} ms n={n}")
    samples = {"error_rate": result["contract"]["attempted"]}
    for k in ("error_rate", "pinned_storage_mb", "peak_rss_mb"):
        lines.append(f"# e2e {k} {rep[k]:.6g} {REPORTED[k]} n={samples.get(k, 1)}")
    for k, v in result["layers"].items():
        lines.append(f"# layer {k} {v:.6g} {LAYERS[k]}")
    lines.append("# ops " + " ".join(f"{k}:{ms:g}" for k, ms in result["ops"]))
    for e in result["errors"]:
        lines.append(f"# error {e}")
    return lines


def parse_report(stdout: str) -> dict:
    out = {"info": {}, "e2e": {}, "layer": {}, "result": None}
    lines = stdout.strip().splitlines()
    for line in lines:
        if line.startswith("# info "):
            out["info"] = json.loads(line[len("# info "):])
        elif line.startswith("# e2e ") or line.startswith("# layer "):
            kind, name, value, unit, *rest = line[2:].split(" ")
            out[kind][name] = (value, unit, " ".join(rest))
    if lines:
        out["result"] = json.loads(lines[-1])
    return out


def table(rows) -> str:
    """One table: every workload's end-to-end metrics (untraced run),
    per-layer metrics (traced run) and the tracing overhead."""
    lines = []
    for name, reports in rows:
        for trace, rep in sorted(reports.items()):
            res = rep["result"]
            lines.append(
                f"== {name} ({'traced' if trace else 'untraced'}) correct={res['correct']} "
                f"attempted={res['attempted']} failed={res['failed']} "
                f"inputs={rep['info'].get('setup_inputs_hash')}"
            )
            section = rep["layer"] if trace else rep["e2e"]
            for metric, (value, unit, extra) in section.items():
                lines.append(f"  {metric:<44} {value:>14} {unit:<9} {extra}")
        if 0 in reports and 1 in reports:
            a = float(reports[0]["e2e"]["latency_p50_ms"][0])
            b = float(reports[1]["e2e"]["latency_p50_ms"][0])
            lines.append(f"  {'tracing overhead, p50 traced - untraced run':<44} {b - a:>14.4g} ms")
    return "\n".join(lines)
