"""Turns one run's raw harness output into the benchmark's metrics."""
import collections

import selftime
from stats import percentile

MODULES = ["memory", "rag", "ann", "dedup", "text", "pipeline", "analytics"]


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def request_verdicts(h, verdicts):
    """Per measured call: (record, correct) where correct means the call
    succeeded and its (query, version) result matched the oracle."""
    out = []
    for r in h["requests"]:
        if r["kind"] != "call":
            continue
        v = verdicts.get((r["query"], r["version"], "warm"), {"ok": False})
        out.append((r, r["ok"] and v["ok"]))
    return out


def end_to_end(h, corpus_bytes):
    """Metrics a caller sees. `refresh_p50_ms` exists only on workloads
    that change their sources."""
    calls = [r for r in h["requests"] if r["kind"] == "call"]
    lat = [r["ms"] for r in calls]
    s = h["setup"]
    m = {
        # JVM start to the first timed request
        "setup_s": ((s["jvm_start_ms"] + s["total_ms"]) / 1000.0, "s"),
        "req_p50_ms": (percentile(lat, 50), "ms"),
        "req_p90_ms": (percentile(lat, 90), "ms"),
        "req_per_s": (len(calls) / (h["window"]["busy_ms"] / 1000.0), "1/s"),
        "stored_x": (h["stored"]["warehouse_bytes"] / corpus_bytes, "x"),
        # heap held after a full collection at the end of the window
        "live_heap_mb": (h["stored"]["live_heap_mb"], "MB"),
    }
    if h["refreshes"]:
        first = [r["ms"] for r in calls if r["first_after_change"]]
        m["refresh_p50_ms"] = (percentile(first, 50), "ms")
    return m


def per_layer(h, verdicts, spans):
    jobs = collections.defaultdict(list)
    for j in h.get("jobs", []):
        jobs[(j["req"], j["phase"])].append(j)

    def sum_jobs(req, phase, key):
        return sum(j[key] for j in jobs.get((str(req), phase), []))

    calls = [r for r in h["requests"] if r["kind"] == "call"]
    m = {}
    m["construct.ms"] = (_mean(r["construct_ms"] for r in calls), "ms")
    m["construct.jobs"] = (_mean(len(jobs.get((str(r["req"]), "construct"), [])) for r in calls), "count")
    # plan.ms is the planning inside the timed write; the query itself is
    # analyzed when its DataFrame is built, so plan.analysis_ms adds that
    # analysis, which construct.ms already contains
    m["plan.ms"] = (_mean(r.get("plan_ms", 0.0) for r in calls), "ms")
    m["plan.analysis_ms"] = (_mean(r.get("query_analysis_ms", 0.0) + r.get("plan_analysis_ms", 0.0)
                                   for r in calls), "ms")
    for k, name in (("optimization", "optimizer_ms"), ("planning", "physical_ms")):
        m[f"plan.{name}"] = (_mean(r.get(f"plan_{k}_ms", 0.0) for r in calls), "ms")
    m["exec.ms"] = (_mean(r["write_ms"] - r.get("plan_ms", 0.0) for r in calls), "ms")
    m["exec.jobs"] = (_mean(len(jobs.get((str(r["req"]), "exec"), [])) for r in calls), "count")
    for key, name, unit in (("stages", "stages", "count"), ("tasks", "tasks", "count"),
                            ("cpu_ms", "task_cpu_ms", "ms"), ("scan_bytes", "scan_bytes", "B"),
                            ("shuffle_write_bytes", "shuffle_write_bytes", "B"),
                            ("shuffle_read_bytes", "shuffle_read_bytes", "B"),
                            ("spill_bytes", "spill_bytes", "B")):
        m[f"exec.{name}"] = (_mean(sum_jobs(r["req"], "exec", key) for r in calls), unit)
    m["jvm.gc_ms"] = (_mean(r.get("gc_ms", 0) for r in calls), "ms")
    m["jvm.peak_rss_mb"] = (h["stored"]["peak_rss_mb"], "MB")

    # modules: mean per request over the measured calls and, for a module
    # the workload does not use, its coverage call (cold builds are the
    # `sources` layer's)
    for mod in MODULES:
        rs = [r for r in h["requests"] if r["module"] == mod and r["kind"] in ("call", "cover")]
        m[f"{mod}.construct_ms"] = (_mean(r["construct_ms"] for r in rs), "ms")
        m[f"{mod}.construct_jobs"] = (_mean(len(jobs.get((str(r["req"]), "construct"), [])) for r in rs), "count")
        m[f"{mod}.plan_ms"] = (_mean(r.get("plan_ms", 0.0) for r in rs), "ms")
        m[f"{mod}.exec_ms"] = (_mean(r["write_ms"] - r.get("plan_ms", 0.0) for r in rs), "ms")
        m[f"{mod}.task_cpu_ms"] = (_mean(sum_jobs(r["req"], "construct", "cpu_ms")
                                         + sum_jobs(r["req"], "exec", "cpu_ms") for r in rs), "ms")

    # artifacts the workload's own calls build: not the coverage calls
    arts = [a for a in h.get("artifacts", []) if a["kind"] != "cover"]
    built = [a for a in arts if a["built"] > 0]
    m["sources.load_ms"] = (h["loads"]["ms"], "ms")
    m["sources.load_jobs"] = (sum(1 for j in h.get("jobs", []) if j["phase"] == "load"), "count")
    m["sources.artifact_build_ms"] = (sum(a["ms"] for a in built), "ms")
    m["sources.artifacts_built"] = (sum(a["built"] for a in arts), "count")
    m["sources.artifact_files"] = (sum(a["files"] for a in arts), "count")
    m["sources.artifact_bytes"] = (sum(a["bytes"] for a in arts), "B")
    m["sources.tables_live"] = (h["stored"]["tables_live"], "count")
    m["sources.stale_results"] = (sum(1 for r, _ in request_verdicts(h, verdicts)
                                      if verdicts.get((r["query"], r["version"], "warm"), {}).get("stale")),
                                  "count")
    for k in ("session", "warmup", "build"):
        m[f"setup.{k}_ms"] = (h["setup"][f"{k}_ms"], "ms")

    # self time per layer from the spans, per measured call
    own = selftime.self_times(spans, only_calls=True)
    n = max(len(calls), 1)
    for layer in selftime.LAYERS:
        m[f"self.{layer}_ms"] = (own.get(layer, 0.0) / n, "ms")
    return m
