"""Turns one run's JVM result into the benchmark's metrics.

summarize() returns two JSON objects: the result line
(end-to-end metrics untraced, per-layer metrics traced) and an info line
with the box stamp and the workload's own end-to-end metrics.
"""
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
SPAN_COUNTERS = [("s", "s"), ("jobs", "count"), ("task_ms", "ms"),
                 ("idle_ms", "ms"), ("shuffle_mb", "MB")]
PHASES = ["queryPlanning", "getBatch", "addBatch", "walCommit",
          "commitOffsets", "latestOffset"]


# each workload's own end-to-end metrics, printed on the stamp line
WORKLOAD_METRICS = {
    "chain_day_etl": [("fail_ratio", "ratio"), ("setup_s", "s"),
                      ("rss_peak_mb", "MB"), ("pass_cpu_s", "s"), ("day_s_p50", "s"),
                      ("raw_rows_per_s", "rows/s"), ("write_amp", "ratio")],
    "catalog_queries": [("fail_ratio", "ratio"), ("setup_s", "s"),
                        ("rss_peak_mb", "MB"), ("pass_cpu_s", "s"),
                        ("query_ms_p50", "ms"),
                        ("query_ms_tail", "ms"), ("queries_per_s", "1/s"),
                        ("trigger_ms_p50", "ms"), ("trigger_ms_tail", "ms"),
                        ("stream_rows_per_s", "rows/s")],
}


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def span_names(spec):
    """Span names, read off the per-layer metric names."""
    names = []
    for m in spec["per_layer"]:
        if m["name"].endswith(".idle_ms"):
            names.append(m["name"][: -len(".idle_ms")])
    return names


def tail(xs):
    """The highest percentile with at least ten samples beyond it; with
    fewer than eleven samples, the maximum."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def _m(value, unit, **extra):
    return dict({"value": value, "unit": unit}, **extra)


def workload_metrics(res, failed, attempted):
    """The workload's own end-to-end figures (WORKLOAD_METRICS)."""
    ops = res["ops"]
    op_s = [o["ms"] / 1000 for o in ops]
    v = {"fail_ratio": failed / attempted,
         "setup_s": statistics.median(res["setup_s"]),
         "rss_peak_mb": res["rss_peak_mb"],
         "pass_cpu_s": pass_s(res, "cpu_ms")}
    extra = {}
    if res["workload"] == "chain_day_etl":
        days = res["chain"]["days"]
        v["day_s_p50"] = statistics.median(op_s)
        extra["day_s_p50"] = {"samples": len(op_s)}
        v["raw_rows_per_s"] = sum(d["raw_rows"] for d in days) / sum(op_s)
        v["write_amp"] = (sum(d["written_bytes"] for d in days) /
                          sum(d["raw_bytes"] for d in days))
    else:
        ms = [o["ms"] for o in ops]
        v["query_ms_p50"] = statistics.median(ms)
        v["query_ms_tail"], pct, n = tail(ms)
        extra["query_ms_p50"] = {"samples": n}
        extra["query_ms_tail"] = {"percentile": pct, "samples": n}
        v["queries_per_s"] = len(ops) / sum(op_s)
        st = res["stream"]
        trig = st["trigger_ms"] or [0.0]
        v["trigger_ms_p50"] = statistics.median(trig)
        v["trigger_ms_tail"], pct, n = tail(trig)
        extra["trigger_ms_p50"] = {"samples": n}
        extra["trigger_ms_tail"] = {"percentile": pct, "samples": n}
        stream_s = sum(o["ms"] for o in ops if o["name"].startswith("q_stream_")) / 1000
        v["stream_rows_per_s"] = st["input_rows"] / stream_s if stream_s else 0.0
    return {n: _m(v[n], u, **extra.get(n, {}))
            for n, u in WORKLOAD_METRICS[res["workload"]]}


def pass_s(res, key="ms"):
    """Median over the timed passes of the ops' summed time."""
    per = {}
    for o in res["ops"]:
        per[o["pass"]] = per.get(o["pass"], 0.0) + o[key] / 1000
    return statistics.median(per.values())


def per_layer(res, spec, extra):
    passes = res["passes"]
    out = {}
    spans = res.get("spans", {})
    covered = 0.0
    for name in span_names(spec):
        got = spans.get(name, {})
        covered += got.get("s", 0.0)
        for key, unit in SPAN_COUNTERS:
            out[f"{name}.{key}"] = _m(got.get(key, 0.0) / passes, unit)
    st = res["stream"]
    for p in PHASES:
        out[f"streaming.{p}_ms"] = _m(st["phase_ms"].get(p, 0.0) / passes, "ms")
    out["streaming.batches"] = _m(st["batches"] / passes, "count")
    out["streaming.state_mb"] = _m(st["state_mb"], "MB")
    out["write.files"] = _m(res["write_files"] / passes, "count")
    out["write.output_mb"] = _m(res["write_mb"] / passes, "MB")
    out["parse.decode_yield"] = _m(extra.get("decode_yield", 0.0), "ratio")
    out["sources.input_mb"] = _m(res["input_mb"] / passes, "MB")
    out["core.session_s"] = _m(statistics.median(res["session_s"]), "s")
    out["core.scratch_mb"] = _m(res["scratch_mb"] / passes, "MB")
    out["core.gc_ms"] = _m(res["gc_ms"] / passes, "ms")
    out["core.failed_tasks"] = _m(res["failed_tasks"], "count")
    total = sum(o["ms"] for o in res["ops"]) / 1000
    out["bench.unattributed_s"] = _m((total - covered) / passes, "s")
    out["bench.trace_overhead_s"] = _m(pass_s(res) - res["untraced_pass_s"], "s")
    return out


def summarize(res, bad, trace, extra=None):
    spec = load_spec()
    failed_ops = {b["op"] for b in bad}
    ops = res["ops"]
    # warm-up and untraced passes are checked as well and count here
    attempted = len(ops) + res["untimed_ops"]
    failed = len(res["untimed_errors"]) + sum(
        1 for o in ops if o["error"] or o["name"] in failed_ops)
    # an expected op that never ran counts as attempted and failed
    ran = {o["name"] for o in ops}
    never = failed_ops - ran
    attempted += len(never)
    failed += len(never)
    if trace:
        metrics = per_layer(res, spec, extra or {})
    else:
        metrics = {"setup_s": _m(statistics.median(res["setup_s"]), "s"),
                   "pass_s": _m(pass_s(res), "s")}
    metrics = {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
               for m in spec["per_layer" if trace else "end_to_end"]}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}
    info = {"workload": res["workload"], "seed": res["seed"], "trace": trace,
            "passes": res["passes"], "box": res["box"],
            "op_ms": [[o["name"], round(o["ms"], 1)] for o in ops],
            "errors": (res["untimed_errors"] + [o["error"] for o in ops if o["error"]])[:5] + [
                f"{b['op']}: {b['msg']}" for b in bad][:5],
            "metrics": workload_metrics(res, failed, attempted)}
    return line, info
