#!/usr/bin/env python3
"""graft gate benchmark: one command per workload run.

    python3 perfbench/run.py --workload stateless --seed 1 --seconds 20 --trace 0

Builds the harness (perfbench/build.py), takes each timed gate's expected
row count from its DuckDB oracle SQL, runs the workload's gates in a
closed loop with one client for `--seconds`, checks every execution's row
count, and prints every metric by name with its unit. The last line of
stdout is one JSON object: `correct`, `attempted`, `failed`, `metrics`
(end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`). The full per-execution record is written under the build
directory's `perfbench/records/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402  (perfbench/build.py)

HERE = Path(__file__).resolve().parent
DATA = HERE / "data" / "sf0.1"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
RUN_LIMIT_S = 170  # a run must end within 180 s, not counting a build of new sources
HEAP = "4g"  # fixed, so that runs compare; graft.Bench takes $SPARK_DRIVER_MEM


def load_workloads():
    """(families, workloads): the gate families partition every gate; a
    workload times a fixed sample of gates."""
    doc = json.loads((HERE / "workloads.json").read_text())
    return doc["families"], doc["workloads"]


def expected_counts(gates, oracle_sql, cache_path):
    """Row count of each gate's DuckDB oracle SQL over the benchmark's
    parquet files, cached by the SQL's digest. Never derived from graft."""
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    con = None
    counts = {}
    for g in gates:
        sql = oracle_sql[g].strip().rstrip(";")
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in cache:
            if con is None:
                import duckdb
                con = duckdb.connect()
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
            cache[key] = con.sql(f"SELECT count(*) FROM ({sql}) AS oracle").fetchone()[0]
        counts[g] = cache[key]
    if con is not None:  # write whole, then rename: runs may overlap
        tmp = cache_path.with_suffix(f".tmp-{os.getpid()}")
        tmp.write_text(json.dumps(cache, indent=1, sort_keys=True))
        os.replace(tmp, cache_path)
    return counts


def pass_count(seconds, pass_s, trace):
    """Timed passes that fill about `seconds` at the workload's nominal
    pass time. Fixed by the arguments, not by measured speed, so two
    versions of the program do the same work. A traced run takes at least
    three, so that its traced and untraced passes (see GateBench.isTraced)
    sit equally early on average: later passes run on a warmer JIT."""
    n = max(1, round(seconds / pass_s))
    return max(n, 3) if trace else n


def run_jvm(classes, gates, passes, args, work, out, deadline):
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spawn_ms = int(time.time() * 1000)
    cmd = ["java", *build.JAVA_OPTS, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", build.classpath(classes), "graft.perfbench.GateBench",
           "--data", str(DATA), "--gates", ",".join(gates), "--seed", str(args.seed),
           "--passes", str(passes), "--trace", str(args.trace),
           "--out", str(out), "--spawn-ms", str(spawn_ms), "--work", str(work)]
    if "SPARK_GRAFT_CPUS" in os.environ:
        cmd += ["--cpus", os.environ["SPARK_GRAFT_CPUS"]]
    log = work.with_suffix(".log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        tail = log.read_text().splitlines()[-30:]
        raise RuntimeError(f"harness JVM exited with {code}; {log}:\n" + "\n".join(tail))
    log.unlink()
    return json.loads(out.read_text())


def percentile(xs, q):
    """The q-th percentile (0 < q < 100), interpolated between order statistics."""
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def check(record, expected):
    """Mark every timed execution ok or failed. A failure is an exception
    or a row count that differs from the oracle's."""
    for p in record["passes"]:
        for e in p["execs"]:
            e["expected_rows"] = expected[e["gate"]]
            e["ok"] = not e["error"] and e["rows"] == e["expected_rows"]
    return record


def steal_share(passes):
    """Share of all CPU time on the host that the hypervisor gave to
    other tenants (`/proc/stat` steal) during `passes`."""
    steal = sum(p["host_after"]["steal_jiffies"] - p["host_before"]["steal_jiffies"] for p in passes)
    total = sum(p["host_after"]["total_jiffies"] - p["host_before"]["total_jiffies"] for p in passes)
    return steal / total if total else 0.0


def end_to_end(record):
    passes = [p for p in record["passes"] if not p["traced"]]
    execs = [e for p in passes for e in p["execs"]]
    ok = [e for e in execs if e["ok"]]
    wall = sum(p["end_ms"] - p["start_ms"] for p in passes) / 1e3
    lat = sorted(e["build_s"] + e["plan_s"] + e["action_s"] for e in ok) or [0.0]
    p90 = percentile(lat, 90) if len(lat) > 1 else lat[0]
    above = sum(1 for x in lat if x > p90)
    # printed, not a metric: a run has too few executions for ten to lie above it
    print(f"gate_p90_s: {p90:.6g} s ({above} executions above it)")
    print(f"peak_rss_mb: {record['peak_rss_mb']:.6g} MB (not gated; per-layer mem.peak_rss_mb)")
    setup = record["setup"]
    return {
        "gates_per_s": (len(ok) / wall if wall else 0.0, "1/s"),
        "gate_p50_s": (statistics.median(lat), "s"),
        "setup_s": ((setup["first_timed_ms"] - setup["spawn_ms"]) / 1e3, "s"),
    }


def per_layer(record):
    traced = [p for p in record["passes"] if p["traced"]]
    plain = [p for p in record["passes"] if not p["traced"]]
    ex = [e for p in traced for e in p["execs"]]
    n = len(ex) or 1

    def mean(key):
        return sum(e.get(key, 0) for e in ex) / n

    def gps(ps):
        wall = sum(p["end_ms"] - p["start_ms"] for p in ps) / 1e3
        return sum(e["ok"] for p in ps for e in p["execs"]) / wall if wall else 0.0

    wall = sum(p["end_ms"] - p["start_ms"] for p in traced) / 1e3
    runs = sum(e.get("graft_rule_runs", 0) for e in ex)
    hits = sum(e.get("file_cache_hits", 0) for e in ex)
    found = sum(e.get("files_discovered", 0) for e in ex)
    restart = [s for s in record["restart_s"].values() if s >= 0]
    hosts = [h for p in traced for h in (p["host_before"], p["host_after"])]
    setup = record["setup"]
    untraced_gps, traced_gps = gps(plain), gps(traced)
    m = {
        "entry.build_s": (mean("build_s"), "s/exec"),
        "entry.build_jobs": (mean("build_jobs"), "count/exec"),
        "plan.analysis_s": (mean("analysis_s"), "s/exec"),
        "plan.optimization_s": (mean("optimization_s"), "s/exec"),
        "plan.planning_s": (mean("planning_s"), "s/exec"),
        "rules.graft_s": (mean("graft_rules_s"), "s/exec"),
        "rules.graft_effective_ratio": (
            sum(e.get("graft_rule_effective", 0) for e in ex) / runs if runs else 0.0, "ratio"),
        "codegen.compile_s": (mean("compile_s"), "s/exec"),
        "codegen.compiles": (mean("compiles"), "count/exec"),
        "codegen.setup_compile_s": (setup["compile_s"], "s"),
        "codegen.setup_compiles": (setup["compiles"], "count"),
        "sched.jobs": (mean("jobs"), "count/exec"),
        "sched.stages": (mean("stages"), "count/exec"),
        "sched.tasks": (mean("tasks"), "count/exec"),
        "sched.task_overhead_s": (mean("task_overhead_s"), "s/exec"),
        "sched.driver_gap_s": (mean("driver_gap_s"), "s/exec"),
        "exec.run_s": (mean("run_s"), "s/exec"),
        "exec.cpu_s": (mean("cpu_s"), "s/exec"),
        "exec.gc_s": (mean("gc_s"), "s/exec"),
        "exec.core_busy_share": (
            sum(e.get("run_s", 0) for e in ex) / (wall * record["cpus"]) if wall else 0.0, "share"),
        "shuffle.write_bytes": (mean("shuffle_write_bytes"), "B/exec"),
        "shuffle.read_bytes": (mean("shuffle_read_bytes"), "B/exec"),
        "shuffle.fetch_wait_s": (mean("fetch_wait_s"), "s/exec"),
        "spill.disk_bytes": (mean("spill_disk_bytes"), "B/exec"),
        "io.input_bytes": (mean("input_bytes"), "B/exec"),
        "io.output_bytes": (mean("output_bytes"), "B/exec"),
        "io.files_discovered": (mean("files_discovered"), "count/exec"),
        "io.file_cache_hit_ratio": (hits / (hits + found) if hits + found else 0.0, "ratio"),
        "sweep.time_s": (mean("sweep_s"), "s/exec"),
        "sweep.scratch_bytes": (mean("scratch_bytes"), "B/exec"),
        "stream.batches": (mean("batches"), "count/exec"),
        "stream.trigger_s": (mean("trigger_s"), "s/exec"),
        "stream.commit_s": (mean("commit_s"), "s/exec"),
        "stream.restart_s": (statistics.median(restart) if restart else 0.0, "s"),
        "mem.peak_rss_mb": (record["peak_rss_mb"], "MB"),
        "host.steal_share": (steal_share(traced), "share"),
        "host.load1": (statistics.mean(h["load1"] for h in hosts) if hosts else 0.0, "load"),
        "trace.gates_per_s": (traced_gps, "1/s"),
        "trace.overhead_share": (1 - traced_gps / untraced_gps if untraced_gps else 0.0, "share"),
    }
    for span in ("build", "plan", "action", "sweep"):
        m[f"span.{span}_self_s"] = (
            sum(e.get("self_s", {}).get(span, 0) for e in ex) / n, "s/exec")
    return m


def summarize(record, trace):
    """The result line: every timed execution counts as attempted; one
    whose row count or exception failed the check counts as failed."""
    execs = [e for p in record["passes"] for e in p["execs"]]
    failed = [e for e in execs if not e["ok"]]
    for e in failed:
        print(f"FAILED {e['gate']}: rows {e['rows']} expected {e['expected_rows']} {e['error']}")
    print(f"executions: {len(execs)}  failed: {len(failed)}  "
          f"fail_share: {len(failed) / len(execs):.4f}")
    # steal slows every gate alike: a run with a high share is the host, not the program
    print(f"host steal_share: {steal_share(record['passes']):.4f} of CPU time over the timed passes")
    metrics = per_layer(record) if trace else end_to_end(record)
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    return {"correct": not failed, "attempted": len(execs), "failed": len(failed),
            "metrics": record["metrics"]}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    families, workloads = load_workloads()
    if args.workload not in workloads:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    gates = workloads[args.workload]["timed"]
    try:
        classes, oracle_file = build.build()
    except build.BuildError as e:
        sys.exit(f"build: {e}")
    deadline = time.time() + RUN_LIMIT_S
    oracle = json.loads(oracle_file.read_text())
    if sorted(g for f in families.values() for g in f) != oracle["gates"]:
        print(f"warning: the families do not partition the {len(oracle['gates'])} gates",
              file=sys.stderr)
    out_dir = build.build_dir() / "records"
    out_dir.mkdir(parents=True, exist_ok=True)
    expected = expected_counts(gates, oracle["oracle_sql"], build.build_dir() / "oracle_counts.json")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    raw = out_dir / f"{name}.raw.json"
    try:
        passes = pass_count(args.seconds, workloads[args.workload]["pass_s"], args.trace)
        work = build.build_dir() / f"work-{os.getpid()}"  # runs may overlap
        record = check(run_jvm(classes, gates, passes, args, work, raw, deadline), expected)
    except RuntimeError as e:
        sys.exit(str(e))
    raw.unlink()
    print("config: " + json.dumps(record["config"], sort_keys=True))
    result = summarize(record, args.trace)
    (out_dir / f"{name}.json").write_text(json.dumps(record))
    print(f"record: {out_dir / (name + '.json')}")
    for k, m in result["metrics"].items():
        print(f"{k}: {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))

if __name__ == "__main__":
    main()
