#!/usr/bin/env python3
"""graft benchmark: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and harness from source
if needed (``build.py``), generates the seed's inputs (``gen.py``), runs
the harness JVM, checks its outputs against DuckDB (``check.py``) and
prints one JSON object as the last line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it records the seed, the input layout, the query list and any failing
call by name. A traced run also writes its ledger to
``.bench_build/ledgers/<workload>-<seed>.json`` for ``diff.py``.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["warehouse", "load_commit"]
JVM_TIMEOUT_S = 150

END_TO_END = [("wall_s", "s"), ("query_p50_ms", "ms"), ("query_tail_ms", "ms"),
              ("cpu_s", "s"), ("setup_s", "s")]
PER_LAYER = [
    ("session.start_s", "s"), ("session.warmup_s", "s"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"),
    ("plans.planning_ms", "ms"), ("plans.executions", "count"),
    ("ops.build_ms", "ms"), ("ops.driver_self_ms", "ms"),
    ("driver.peak_heap_mb", "MB"), ("driver.gc_ms", "ms"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.job_ms", "ms"), ("sched.task_overhead_ms", "ms"),
    ("sched.core_util", "ratio"), ("sched.failed_tasks", "count"),
    ("storage.checkpoint_jobs", "count"), ("storage.checkpoint_ms", "ms"),
    ("storage.spill_mb", "MB"),
    ("exec.cpu_s", "s"), ("exec.run_s", "s"), ("exec.gc_ms", "ms"),
    ("exec.peak_mem_mb", "MB"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.records", "count"), ("shuffle.fetch_wait_ms", "ms"),
    ("sources.scan_mb", "MB"), ("sources.scan_rows", "count"),
    ("sources.scan_tasks", "count"), ("sources.rows_per_out_row", "ratio"),
    ("sources.commit_ms", "ms"), ("sources.index_append_ms", "ms"),
    ("sources.index_query_ms", "ms"), ("sources.vacuum_ms", "ms"),
    ("sources.write_mb", "MB"), ("sources.files_written", "count"),
    ("sources.write_amp", "ratio"), ("sources.space_amp", "ratio"),
    ("trace.overhead_frac", "ratio"),
] + [(f"self.{layer}_ms", "ms") for layer in
     ("plans", "ops", "sources", "sched", "exec", "storage")]
JAVA_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Xmx3g", "-Xss16m", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
    "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(args, work, data, load, ncores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(ncores)
    env["SPARK_GRAFT_CONF"] = ";".join([
        f"spark.local.dir={os.path.join(work, 'spark-local')}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "spark.driver.host=localhost",
    ])
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={work}", "-cp", build.classpath(), "graftbench.Main",
           "--workload", args.workload, "--data", data, "--load", load, "--work", work,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)])
    with open(os.path.join(work, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError(f"harness exceeded {JVM_TIMEOUT_S}s")
    if code != 0:
        raise RuntimeError(f"harness exited {code}; see {log.name}")
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    out = build.OUT
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.log"), "w") as log:
        build.build(log)

    ncores = cores()
    work = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    manifest = gen.generate(work, args.seed, ncores)
    data, load = os.path.join(work, "data"), os.path.join(work, "load")
    rec = run_harness(args, work, data, load, ncores)
    bad = check.check(rec, work, data, load, os.path.join(out, "oracle_cache"))

    # a failed output fails every call that produced it
    producers = {"doc_pairs": "doc_query_", "doc_labels": "doc_fold_"}
    failures = dict(rec["failures"])
    for name, why in bad.items():
        for call in rec["calls_by_name"]:
            if call == name or call.startswith(producers.get(name, "\0")):
                failures.setdefault(call, why)
    attempted = rec["attempted"]
    failed = sum(n for call, n in rec["calls_by_name"].items() if call in failures)

    if args.trace:
        layers = dict(rec["per_layer"])
        layers.update({f"self.{k}_ms": v for k, v in rec["self_ms"].items()})
        if args.workload == "load_commit":
            layers.update(write_layout(work, manifest, layers))
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
        ledger = {"workload": args.workload, "seed": args.seed, "cores": ncores,
                  "per_layer": {k: v["value"] for k, v in metrics.items()},
                  "self_ms": rec["self_ms"]}
        os.makedirs(os.path.join(out, "ledgers"), exist_ok=True)
        with open(os.path.join(out, "ledgers", f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
    else:
        metrics = {k: {"value": rec[k], "unit": u} for k, u in END_TO_END}

    info = {"workload": args.workload, "seed": args.seed, "cores": ncores,
            "tables": manifest["tables"], "load": manifest["load"],
            "queries": rec["queries"], "passes": rec["passes"], "setups_s": rec["setups_s"],
            "tail_percentile": rec["tail_percentile"], "tail_samples": rec["tail_samples"],
            "failed_frac": failed / max(1, attempted), "failures": failures,
            "self_ms": rec["self_ms"]}
    print(json.dumps(info, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def write_layout(work, manifest, layers):
    """Write and space amplification of ``load_commit``'s sinks.

    write_amp: bytes the sinks wrote per pass over the bytes of the loader
    batches themselves. space_amp: bytes left on disk by the last pass's
    versioned table over the bytes its latest snapshot references."""
    def size(path):
        if os.path.isfile(path):
            return os.path.getsize(path)
        return sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(path) for f in fs if not f.startswith("."))
    load = os.path.join(work, "load")
    batch_bytes = sum(size(os.path.join(load, f)) for f in os.listdir(load))
    sinks = os.path.join(work, "sinks")
    last = max(os.listdir(sinks), key=lambda p: int(p[1:]))
    table = os.path.join(sinks, last, "line")
    manifests = os.path.join(table, "manifest")
    latest = max((f for f in os.listdir(manifests) if f.endswith(".manifest")),
                 key=lambda f: int(f[1:-len(".manifest")]))
    live = 0
    with open(os.path.join(manifests, latest)) as f:
        for line in f:
            live += size(line.rstrip("\n").split("\t", 1)[1].replace("file:", ""))
    return {"sources.write_amp": layers.get("sources.write_mb", 0.0) * 1048576 / batch_bytes,
            "sources.space_amp": size(os.path.join(table, "data")) / max(1, live)}


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
