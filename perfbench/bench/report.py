"""Turns one run's raw records into the end-to-end and per-layer metrics."""
from . import metrics

# span name -> layer; "op" is the operation's root span
BUILD_SPANS = ("cypher.plan", "pipeline.build")
CATALYST_SPANS = ("catalyst.optimization", "catalyst.planning")
LAYER_SPANS = ("cypher.parse", "cypher.plan", "pipeline.build") + CATALYST_SPANS + (
    "exec", "store.commit", "store.load_version")
EXEC_COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "input_bytes",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def setup_s(summary):
    return (summary["spark_s"] + metrics.median(summary["materialize_s"])
            + summary["warm_s"])


def end_to_end(results, summary, rounds=None):
    """Latency, throughput and set-up figures over the untraced rounds.
    Failed or wrong operations count against `failed` and are never
    latency samples."""
    rs = [r for r in results if rounds is None or r["round"] in rounds]
    good = [r["latency_s"] for r in rs if r["correct"]]
    busy = sum(r["latency_s"] for r in rs)
    pct, tail_v, n = metrics.tail(good) if good else (100, 0.0, 0)
    return {
        "latency_p50_s": metrics.median(good),
        "latency_geomean_s": metrics.geomean(good),
        "latency_tail_s": tail_v,
        "tail_percentile": pct,
        "samples": n,
        "throughput_ops_s": len(good) / busy if busy > 0 else 0.0,
        "error_rate": (len(rs) - len(good)) / len(rs) if rs else 0.0,
        "setup_s": setup_s(summary),
    }


def per_layer(results, spans, summary):
    """Layer self times, Spark counters, and per-template medians from the
    traced rounds; `trace_overhead` compares them with the untraced rounds
    of the same run."""
    traced = [r for r in results if r["traced"]]
    ops = {r["id"] for r in traced}
    n = max(1, len(traced))
    st = [s for s in metrics.self_times(spans) if s["op"] in ops]
    out = {}

    def total(names, field="self_s"):
        return sum(s[field] for s in st if s["name"] in names)

    layer_s = {name: total((name,)) for name in LAYER_SPANS}
    out["cypher.parse_s"] = layer_s["cypher.parse"] / n
    out["cypher.plan_s"] = layer_s["cypher.plan"] / n
    out["pipeline.build_s"] = layer_s["pipeline.build"] / n
    out["plan.s"] = total(BUILD_SPANS) / n
    all_jobs = sum(s["jobs"] for s in st)
    plan_jobs = total(BUILD_SPANS, "jobs")
    out["plan.jobs"] = plan_jobs / n
    out["plan.job_share"] = plan_jobs / all_jobs if all_jobs else 0.0
    out["catalyst.s"] = total(CATALYST_SPANS) / n
    out["catalyst.optimization_s"] = layer_s["catalyst.optimization"] / n
    out["catalyst.planning_s"] = layer_s["catalyst.planning"] / n
    roots = [s for s in st if s["name"] == "op"]
    # analysis runs while the DataFrame is built (inside plan.s); its
    # duration comes from the final DataFrame's planning tracker
    out["catalyst.analysis_s"] = sum(s.get("catalyst_analysis", 0.0) for s in roots) / n
    out["exec.s"] = layer_s["exec"] / n
    ex = [s for s in st if s["name"] == "exec"]
    for c in EXEC_COUNTERS:
        out["exec." + c] = sum(s[c] for s in ex) / n
    commits = [r for r in traced if r["kind"] == "commit"]
    nc = max(1, len(commits))
    out["store.commit_s"] = layer_s["store.commit"] / nc
    out["store.load_version_s"] = layer_s["store.load_version"] / nc
    out["store.commit_bytes"] = (sum(r.get("extra", {}).get("store_bytes", 0) for r in commits)
                                 / nc)
    out["jvm.gc_s"] = summary["gc_s"] / max(1, len(results))
    out["jvm.cpu_s"] = sum(r["cpu_s"] for r in traced) / n
    out["jvm.heap_peak_mb"] = summary["heap_peak_mb"]
    out["setup.spark_s"] = summary["spark_s"]
    out["setup.warm_s"] = summary["warm_s"]
    out["setup.materialize_s"] = metrics.median(summary["materialize_s"])
    # layer coverage: the share of each operation's wall time its layer
    # spans account for; the rest is the harness between calls
    cover = [1.0 - s["self_s"] / s["wall_s"] for s in roots if s["wall_s"] > 0]
    out["trace.coverage_min"] = min(cover) if cover else 0.0
    # round 0 of a traced run is its warm-up round
    t_rounds = {r["round"] for r in traced}
    u_rounds = {r["round"] for r in results} - t_rounds - {0}
    t = end_to_end(results, summary, t_rounds)["throughput_ops_s"]
    u = end_to_end(results, summary, u_rounds)["throughput_ops_s"] if u_rounds else 0.0
    out["trace_overhead"] = t / u if u else 0.0
    by_t = {}
    for r in traced:
        if r["correct"]:
            by_t.setdefault(r["template"], []).append(r["latency_s"])
    ops_med = {"op.%s.s" % k: metrics.median(v) for k, v in sorted(by_t.items())}
    return out, ops_med
