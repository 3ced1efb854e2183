"""Turns one run's raw record (written by graft.perfbench.Main) into the
benchmark's metrics, and prints the result line."""
import json
import math
import statistics

SLOTS = 4  # the run's Spark master is local[4]
MB = 1048576.0


def load_spec(path):
    with open(path) as f:
        return json.load(f)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def counts(raw, failures):
    """(attempted, failed): every timed operation and every output check
    is one operation; a timed operation that threw, a failed check and a
    wrong output found by run.py (`failures`) each count as failed."""
    execs = [op for p in raw["passes"] for op in p["ops"]]
    thrown = [op for p in raw["passes"] for op in p["failed"]]
    checks = raw["checks"]
    attempted = len(execs) + len(checks) + len(raw.get("oracle", {}))
    failed = len(thrown) + sum(1 for c in checks if not c["ok"]) + len(failures)
    return attempted, failed


def op_times(raw):
    """Each operation's fastest time over the untraced timed passes: the
    estimate of its cost least disturbed by other load on the host, as
    `Bench` keeps the fastest of its reps."""
    return {op: min(p["ops"][op] for p in raw["passes"]) for op in raw["ops"]}


def end_to_end(raw, setup_s):
    """End-to-end metrics of the untimed-setup, timed-pass part of a run."""
    passes = raw["passes"]
    return {
        "setup_s": setup_s,
        "wall_s": min(p["wall_s"] for p in passes),
        "query_geomean_s": geomean(op_times(raw).values()),
        "heap_live_peak_mb": max(p["heap_live_mb"] for p in passes),
    }


def self_times(spans):
    """Span id -> its duration minus the part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end, s["start_ns"]), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
            end = max(end, c["end_ns"])
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def _dur(s):
    return (s["end_ns"] - s["start_ns"]) / 1e9


def per_layer(raw, names):
    """Per-layer metrics from the traced run's spans and direct values. A
    metric of a layer the workload never enters reads 0."""
    spans = raw["spans"]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    passes = by_name.get("pass", [])
    n = max(len(passes), 1)

    def pass_sum(key, scale=1.0):
        return sum(s["counters"][key] for s in passes) / n / scale

    wall = sum(_dur(s) for s in passes) / n
    run_s = sum(s["counters"]["task_run_ms"] for s in passes) / n / 1e3
    plain = [p["wall_s"] for p in raw["passes"]]
    traced = [p["wall_s"] for p in raw["traced_passes"]]
    scans = by_name.get("sources.scan", [])
    writes = by_name.get("sources.write", [])
    fixed = {
        "spark.jobs": pass_sum("jobs"),
        "spark.stages": pass_sum("stages"),
        "spark.tasks": pass_sum("tasks"),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": pass_sum("task_cpu_ns", 1e9),
        "spark.slot_util": run_s / (wall * SLOTS) if wall > 0 else 0.0,
        "spark.gc_s": pass_sum("gc_ms", 1e3),
        "spark.shuffle_write_mb": pass_sum("shuffle_write_b", MB),
        "spark.shuffle_read_mb": pass_sum("shuffle_read_b", MB),
        "spark.spill_mb": pass_sum("spill_b", MB),
        "spark.input_mb": pass_sum("input_b", MB),
        "spark.storage_mb_held": statistics.median(p["storage_mb"] for p in raw["traced_passes"])
        if raw["traced_passes"] else 0.0,
        "sources.scan_mb_per_s": (sum(s["attrs"]["bytes"] for s in scans) / MB
                                  / sum(_dur(s) for s in scans)) if scans else 0.0,
        "sources.written_mb": sum(s["counters"]["output_b"] for s in writes) / MB,
        "trace.overhead_s": statistics.median(traced) - statistics.median(plain) if traced else 0.0,
    }
    out = {}
    for name in names:
        if name in fixed:
            out[name] = fixed[name]
        elif name in raw["values"]:
            out[name] = raw["values"][name]
        else:
            out[name] = _from_spans(name, by_name)
    return out


def _med(spans, f):
    return statistics.median(f(s) for s in spans) if spans else 0.0


def _from_spans(name, by_name):
    if name.endswith("_ns_per_row"):
        # kernel time per row over the same job on the bare input column
        spans = by_name.get(name[: -len("_ns_per_row")], [])
        if not spans:
            return 0.0
        base = by_name.get("functions.baseline_emb" if spans[0]["attrs"].get("emb") else "functions.baseline", [])
        return (_med(spans, _dur) - _med(base, _dur)) * 1e9 / spans[0]["attrs"]["rows"]
    for suffix, f in (("_ms", lambda s: _dur(s) * 1e3),
                      ("_jobs", lambda s: s["counters"]["jobs"]),
                      ("_s", _dur)):
        if name.endswith(suffix):
            return _med(by_name.get(name[: -len(suffix)], []), f)
    return 0.0


def result_line(spec, values, correct, attempted, failed, trace):
    """The run's last output line: every metric of the chosen group, by
    name, with its unit."""
    group = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in group}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
