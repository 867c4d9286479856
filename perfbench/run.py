#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness from the checkout's sources (cached in
`.bench_build/`), generates the input tables, plans the workload's
operations from the seed, runs them in a fresh JVM with one client and
checks every result against DuckDB or the expected-state model. The last
line of stdout is one JSON object: end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`. `--workload all` runs every workload
that BENCHMARK.json lists, in turn, and prints one such line for each.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import build, check, datagen, report, workloads  # noqa: E402

# a run ends within 180 s; the first run in a checkout may take longer,
# as it builds graft and the harness and dumps the class-data-sharing
# archive, so the run's own deadline starts once those exist
DEADLINE_S = 170
BUILD_DEADLINE_S = 600
SETUP_REPS = 2
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = [("throughput_ops_s", "1/s"), ("setup_s", "s")]
PER_LAYER = [
    ("plan.s", "s"), ("plan.jobs", "count"), ("plan.job_share", "ratio"),
    ("catalyst.s", "s"), ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("exec.s", "s"), ("exec.jobs", "count"),
    ("exec.stages", "count"), ("exec.tasks", "count"), ("exec.task_cpu_s", "s"),
    ("exec.input_bytes", "B"), ("exec.shuffle_read_bytes", "B"),
    ("exec.shuffle_write_bytes", "B"), ("exec.spill_bytes", "B"),
    ("store.commit_bytes", "B"), ("jvm.gc_s", "s"), ("jvm.cpu_s", "s"),
    ("jvm.heap_peak_mb", "MB"),
    ("setup.spark_s", "s"), ("setup.warm_s", "s"), ("setup.materialize_s", "s"),
    ("trace.coverage_min", "ratio"), ("trace_overhead", "ratio"),
]
# per-layer figures that only some workloads exercise: printed in the
# layer report and kept in the trace file, not in the result line
WORKLOAD_LAYER = [("cypher.parse_s", "s"), ("cypher.plan_s", "s"), ("pipeline.build_s", "s"),
                  ("store.commit_s", "s"), ("store.load_version_s", "s")]


def cpus():
    return len(os.sched_getaffinity(0))


def jvm_command(cp, work, share):
    opens = []
    for p in JVM_OPENS:
        opens += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    return (["java"] + opens + share +
            ["-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
             "-cp", cp, "graftbench.Harness", work])


def run_jvm(cmd, work, budget_s):
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("harness exceeded %.0f s" % budget_s)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log) as lf:
            lines = [l for l in lf.read().splitlines() if "WARN" not in l]
        raise RuntimeError("harness exited %d:\n%s" % (rc, "\n".join(lines[-40:])))


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def new_work_dir(prefix, ops, config):
    tmp_root = os.path.join(build.BUILD, "runs")
    os.makedirs(tmp_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=prefix, dir=tmp_root)
    with open(os.path.join(work, "ops.json"), "w") as f:
        json.dump(ops, f)
    with open(os.path.join(work, "config.json"), "w") as f:
        json.dump(dict(config, cpus=cpus()), f)
    return work


def class_data_sharing(cp, data, budget_s):
    """Return JVM flags that map the class-data-sharing archive for this
    class path, dumping it first with a set-up-only harness run when it
    does not exist yet, so no measured run pays for the dump."""
    path, exists = build.cds_archive(cp)
    if not exists:
        work = new_work_dir("cds-", {"warm": [], "rounds": []},
                            {"workload": "graph_analytics", "data_dir": data,
                             "trace": False, "setup_reps": 1})
        try:
            dump = os.path.join(work, "app.jsa")
            run_jvm(jvm_command(cp, work, ["-XX:ArchiveClassesAtExit=" + dump]), work,
                    budget_s)
            os.replace(dump, path)
            build.replace_old("cds-*.jsa", path)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return ["-XX:SharedArchiveFile=" + path]


def run_one(workload, seed, seconds, trace):
    t_build = time.monotonic()
    cp = build.classpath()
    data = build.data_dir()
    share = class_data_sharing(cp, data, BUILD_DEADLINE_S - (time.monotonic() - t_build))
    t_start = time.monotonic()
    oracle = check.Oracle(data, datagen.TABLES, os.path.join(build.BUILD, "oracle-cache"))
    facts = workloads.Facts(oracle.con)
    plan = workloads.plan(workload, seed, facts,
                          workloads.measured_rounds(seconds, trace))
    ops = [o for rnd in plan["rounds"] for o in rnd]
    budget = lambda: DEADLINE_S - (time.monotonic() - t_start) - 10
    strip = lambda o: {k: v for k, v in o.items() if k not in ("oracle", "expect")}
    work = new_work_dir("%s-%d-" % (workload, seed),
                        {"warm": [strip(o) for o in plan["warm"]],
                         "rounds": [[strip(o) for o in rnd] for rnd in plan["rounds"]]},
                        {"workload": workload, "data_dir": data, "trace": bool(trace),
                         "setup_reps": SETUP_REPS})
    try:
        run_jvm(jvm_command(cp, work, share), work, budget())
        results = read_jsonl(os.path.join(work, "results.jsonl"))
        with open(os.path.join(work, "summary.json")) as f:
            summary = json.load(f)
        spans = read_jsonl(os.path.join(work, "spans.jsonl"))
        if trace:
            keep = os.path.join(build.BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(keep, "%s-%d.spans.jsonl" % (workload, seed)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    t0 = time.monotonic()
    check.check_ops(ops, results, oracle)
    summary["check_s"] = time.monotonic() - t0
    return results, summary, spans


def emit(workload, seed, trace, results, summary, spans):
    failed = [r for r in results if not r["correct"]]
    for r in results:
        print("op %4d round %d %-20s %8.3f s %s%s" % (
            r["id"], r["round"], r["template"], r["latency_s"],
            "traced" if r["traced"] else "", "" if r["correct"] else
            " FAILED: " + r.get("why", "")))
    untraced_rounds = {r["round"] for r in results if not r["traced"]}
    e2e = report.end_to_end(results, summary, untraced_rounds)
    print("workload %s seed %d: %d operations in %d rounds, %.1f s loop, error_rate %.4f, "
          "latency_p50_s %.6f, latency_tail_s %.6f (p%d of %d samples), latency_geomean_s %.6f"
          % (workload, seed, len(results), summary["rounds"], summary["loop_s"],
             e2e["error_rate"], e2e["latency_p50_s"], e2e["latency_tail_s"],
             e2e["tail_percentile"], e2e["samples"], e2e["latency_geomean_s"]))
    print("setup: spark %.2f s, materialize %s s, warm-up %.2f s; result check %.2f s" % (
        summary["spark_s"], " ".join("%.2f" % x for x in summary["materialize_s"]),
        summary["warm_s"], summary["check_s"]))
    if trace:
        layers, ops_med = report.per_layer(results, spans, summary)
        for name, unit in WORKLOAD_LAYER:
            print("layer %-28s %.6f %s" % (name, layers[name], unit))
        for name, v in ops_med.items():
            print("layer %-28s %.6f s" % (name, v))
        metrics_out = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        for name, unit in END_TO_END:
            print("metric %-18s %.6f %s" % (name, e2e[name], unit))
        metrics_out = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": not failed, "attempted": len(results),
                      "failed": len(failed), "metrics": metrics_out}))
    sys.stdout.flush()


def main():
    # turn SIGTERM into SystemExit so the JVM is killed and the run's
    # temporary directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    names = workloads.WORKLOADS if a.workload == "all" else [a.workload]
    for name in names:
        try:
            results, summary, spans = run_one(name, a.seed, a.seconds, a.trace)
        except (build.BuildError, RuntimeError, OSError) as e:
            print("error: %s: %s" % (name, e), file=sys.stderr)
            return 2
        if not results:
            print("error: %s: no operation completed" % name, file=sys.stderr)
            return 2
        emit(name, a.seed, a.trace, results, summary, spans)
    return 0


if __name__ == "__main__":
    sys.exit(main())
