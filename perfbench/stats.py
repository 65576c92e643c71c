"""Metric derivation from a run record: percentiles with their sample
counts, the end-to-end metrics, the per-layer metrics of a traced run, and
the validity fields every record carries."""
import json
import math
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
LAYERS = ["io", "norm", "enrich", "jats", "chunk", "embed", "vector", "ops.text",
          "ops.dedup", "ops.components", "ops.sampling", "streaming", "spark"]
# crawl_stream's ops are single files, so its p90 must rest on at least
# MIN_TAIL samples beyond it; the batch workloads' ops are whole
# repetitions and their percentiles are read over a handful of them
MIN_TAIL = 10


def benchmark_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def percentile(values, p):
    """Nearest-rank percentile and the number of samples strictly beyond it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1], len(s) - rank


def latencies(ops):
    """Per-op latency; an op that never completed has none."""
    return [o["end_ms"] - o["start_ms"] for o in ops if o["end_ms"] is not None]


def end_to_end(rec, ok):
    """End-to-end metrics from the untraced ops; `ok` flags each op."""
    ops = rec["ops"]
    lat = latencies(ops)
    units = sum(o["units"] for o, good in zip(ops, ok) if good)
    p50, _ = percentile(lat, 50)
    p90, _ = percentile(lat, 90)
    all_units = sum(o["units"] for o in ops)
    return {
        "setup_s": rec["session_s"] + statistics.median(rec["prep_s"]) + rec["warmup_s"],
        "ops_per_s": units / rec["measure_s"],
        "latency_p50_ms": p50,
        "latency_p90_ms": p90,
        "cpu_ms_per_op": rec["cpu_s"] * 1000.0 / max(all_units, 1),
    }


def validity(rec, traced):
    lat = latencies(rec["ops"])
    _, beyond50 = percentile(lat, 50)
    _, beyond90 = percentile(lat, 90)
    v = {
        "seed": rec["seed"],
        "nproc": rec["nproc"],
        "spark_conf": rec["spark_conf"],
        "samples": len(lat),
        "samples_beyond_p50": beyond50,
        "samples_beyond_p90": beyond90,
    }
    problems = []
    # a traced run reports no end-to-end latency, so its tail needs no samples
    if not traced and rec["workload"] == "crawl_stream" and beyond90 < MIN_TAIL:
        problems.append(f"p90 has {beyond90} samples beyond it, needs {MIN_TAIL}")
    if rec["workload"] == "crawl_stream":
        late = [o["dropped_ms"] - o["start_ms"] for o in rec["ops"]]
        v["generator_late_ms_p50"], _ = percentile(late, 50)
        v["generator_late_ms_max"] = max(late)
        # the schedule ends one inter-arrival gap after the last drop
        due_end = rec["ops"][-1]["start_ms"] + 1000.0 / rec["summary"]["rate_per_s"]
        v["backlog_end"] = sum(1 for o in rec["ops"]
                               if o["end_ms"] is None or o["end_ms"] > due_end)
    v["valid"] = not problems
    v["problems"] = problems
    return v


def per_layer(rec, truth, check_counters):
    """Per-layer metrics of a traced run, per traced op."""
    tr = rec["trace"]
    n = max(len(tr["ops"]), 1)
    c = tr["counters"]
    out = {}
    for layer in LAYERS:
        agg = tr["layers"].get(layer, {})
        if layer == "spark":
            self_s = tr["no_task_s"]
            rows_in = tr["spark"]["records_in"]
            rows_out = sum(v for k, v in c.items() if k.endswith(".rows_out"))
            cpu_s = tr["spark"]["cpu_s"]
            shuffle = tr["spark"]["shuffle_read_bytes"] + tr["spark"]["shuffle_write_bytes"]
        else:
            self_s = tr["self_s"].get(layer, 0.0)
            rows_in = c.get(f"{layer}.rows_in", 0.0)
            rows_out = c.get(f"{layer}.rows_out", 0.0)
            cpu_s = agg.get("cpu_s", 0.0)
            shuffle = agg.get("shuffle_bytes", 0.0)
        out[f"{layer}.self_s"] = self_s / n
        out[f"{layer}.rows_in"] = rows_in / n
        out[f"{layer}.rows_out"] = rows_out / n
        out[f"{layer}.cpu_s"] = cpu_s / n
        out[f"{layer}.shuffle_bytes"] = shuffle / n
    sp = tr["spark"]
    for k in ("plan_ms", "jobs", "tasks", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{k}"] = sp[k] / n
    out["spark.peak_exec_mem_bytes"] = sp["peak_exec_mem_bytes"]
    out["enrich.hit_ratio"] = c.get("enrich.hit_ratio", 0.0) / n
    out["jats.parse_failures"] = (truth.get("articles", 0) - out["jats.rows_out"]
                                  if out["jats.rows_out"] else 0.0)
    out["ops.dedup.candidate_pairs"] = c.get("ops.dedup.candidate_pairs", 0.0) / n
    out["ops.dedup.useful_ratio"] = c.get("ops.dedup.useful_ratio", 0.0) / n
    if rec["workload"] == "curate":
        out["ops.text.gate_pass_ratio"] = c.get("ops.text.gate_pass_ratio", 0.0) / n
    else:
        rin = c.get("ops.text.rows_in", 0.0)
        out["ops.text.gate_pass_ratio"] = c.get("ops.text.rows_out", 0.0) / rin if rin else 0.0
    stream = [s for s in tr["spans"] if s["name"] == "streaming"]
    out["streaming.batch_s"] = (statistics.mean((s["end_ns"] - s["start_ns"]) / 1e9 for s in stream)
                                if stream else 0.0)
    waits = [max(0.0, o["call_start_ms"] - o["start_ms"]) for o in tr["ops"] if "call_start_ms" in o]
    out["streaming.queue_wait_ms"] = statistics.mean(waits) if waits else 0.0
    out["streaming.backlog_end"] = float(validity(rec, True).get("backlog_end", 0))
    out["io.output_bytes"] = check_counters.get("output_bytes", 0.0)
    out["trace.overhead_ms"] = (statistics.median(latencies(tr["ops"]))
                                - statistics.median(latencies(rec["ops"])))
    return out
