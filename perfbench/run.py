#!/usr/bin/env python3
"""Benchmark of the engine's three user-facing paths.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the checkout root. The engine and `graft.perfbench.Main` are built from
source on first use (perfbench/build.sh). Workloads (see README.md):

  cpi_ingest     CPI files land in a watched dir; op = landed -> report CSV written
  cdc_apply      change files streamed into a manifested table; op = landed -> visible
  analytics_mix  6 read-only gates over generated tables; op = one query

Each is a closed loop with one client. The inputs come from --seed. Once
the timed loop is over, every op's output is checked (models in gen.py,
DuckDB oracle for analytics). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics and --trace 1 the per-layer ones, from a run with
Spark/streaming listeners and a counting filesystem installed.
--workload all runs every workload untraced and traced and reports the
tracing overhead.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen    # noqa: E402

ROOT = HERE.parent
WORKLOADS = ["cpi_ingest", "cdc_apply", "analytics_mix"]
DEADLINE_S = 170        # a run must end within 180 s, build excluded
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
STREAM_PHASES = {"latestOffset": "latest_offset", "queryPlanning": "query_planning",
                 "addBatch": "add_batch", "walCommit": "wal_commit",
                 "triggerExecution": "trigger"}
FS_CALLS = ["list", "status", "open", "create", "mkdirs", "rename", "delete"]
SPARK_SUMS = ["stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes"]


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def build():
    proc = subprocess.run(["bash", str(HERE / "build.sh")], cwd=ROOT,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(2)


def generate(workload, seed, dest):
    if workload == "cpi_ingest":
        gen.write_cpi(seed, dest)
    elif workload == "cdc_apply":
        gen.write_cdc(seed, dest)
    else:
        gen.write_analytics(seed, dest)
        (Path(dest) / "gates.txt").write_text("\n".join(ANALYTICS_GATES) + "\n")


def run_jvm(workload, inputs, work, seconds, trace, deadline):
    # build.sh writes the classpath relative to the checkout root
    cp = os.pathsep.join(str(ROOT / p) for p in
                         (build_dir() / "classes" / "classpath").read_text().strip().split(":"))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", workload, str(inputs), str(work),
            str(seconds), str(trace)]
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(3)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
            signal.signal(signal.SIGINT, signal.SIG_DFL)
    if code != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        raise RuntimeError(f"{workload}: engine run failed ({code})")
    return json.loads((work / "result.json").read_text())


def cpu_jiffies():
    """The host's aggregate CPU times from /proc/stat (user .. steal), or
    None where there is none."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def op_rows(workload, seed, result, inputs):
    """Rows each op fed the engine: CSV data rows landed (ingest), change
    events applied (cdc), rows of the tables the gate reads (analytics)."""
    if workload == "cpi_ingest":
        ops = gen.cpi_ops(seed)
        return [sum(len(f["rows"]) for f in ops[o["file"]]["files"]
                    if not f["name"].startswith("converted"))
                for o in result["ops"]]
    if workload == "cdc_apply":
        return [gen.CDC_EVENTS for _ in result["ops"]]
    import pyarrow.parquet as pq
    sizes = {p.stem: pq.ParquetFile(p).metadata.num_rows
             for p in Path(inputs).glob("*.parquet")}
    return [sum(sizes[t] for t in ANALYTICS_GATES[o["name"]])
            for o in result["ops"]]


# The read-only mix: gate -> the generated tables it reads. Gates that build
# artifacts under SparkEntry.artifactBase are left out: that root is a fixed
# path outside the checkout and keeps build-once state from run to run.
ANALYTICS_GATES = {
    "q1_pricing_summary": ["lineitem"],
    "q5_local_supplier": ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    "a29_basket_pairs": ["lineitem"],
    "x_dedup_ngram_prefix": ["documents"],
    "x_text_tfidf": ["documents"],
    "j8_salted_join": ["lineitem", "orders"],
}


def judge(workload, seed, result, work, inputs):
    out = work / "out"
    if workload == "cpi_ingest":
        flags, errors = check.check_cpi(seed, result, out)
    elif workload == "cdc_apply":
        flags, errors = check.check_cdc(seed, result, out)
    else:
        flags, errors = check.check_analytics(
            result, out, inputs, ROOT / "tools" / "check_correctness.py")
    return flags, errors


def med(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def kind_p50(samples):
    """Median over op kinds (each gate, or the one kind of a streaming
    workload) of each kind's median latency, so every kind weighs the
    same however many of its ops fit in a run. `samples` maps a kind to
    its ops' (latency, rows) pairs."""
    return check.percentile([med([t for t, _ in v]) for v in samples.values()], 50)[0]


def e2e_metrics(result, flags, rows):
    """End-to-end metrics, plus the latency percentiles for the summary.
    rows_per_s is the kinds' median input rows over their median
    latencies, summed. A 20 s run holds 10-20 ops, too few for a
    percentile above the median to have ten samples beyond it, so p75 is
    printed with its sample count but is not an end-to-end metric."""
    kinds = {}
    for o, ok, r in zip(result["ops"], flags, rows):
        if ok:
            kinds.setdefault(o["name"], []).append((o["latency_s"], r))
    n = sum(len(v) for v in kinds.values())
    p75, _ = check.percentile([t for v in kinds.values() for t, _ in v], 75)
    return {
        "setup_s": (med(result["setup_s"]), "s"),
        "latency_p50_s": (kind_p50(kinds), "s"),
        "rows_per_s": (sum(med([r for _, r in v]) for v in kinds.values())
                       / sum(med([t for t, _ in v]) for v in kinds.values()), "1/s"),
        "retained_heap_mb": (result["retained_heap_mb"], "MB"),
    }, {"latency_samples": n, "latency_p75_s": p75}


def layer_metrics(result, spans):
    ops = [o for o in result["ops"] if o["ok"]]
    m = {}

    def per_op(key):
        return mean([o.get(key, 0) for o in ops])
    m["spark.jobs_per_op"] = (per_op("jobs"), "count")
    m["spark.driver_gap_s_per_op"] = (per_op("driver_gap_s"), "s")
    for k in SPARK_SUMS:
        unit = "s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count"
        m[f"spark.{k}_per_op"] = (per_op(k), unit)
    m["jvm.gc_s_per_op"] = (per_op("gc_s"), "s")
    batches = [b for o in ops for b in o.get("batches", [])]
    for src, name in STREAM_PHASES.items():
        xs = [b[src] for b in batches if src in b]
        m[f"streaming.{name}_ms_p50"] = (med(xs), "ms")
    m["upsert.jobs_per_op"] = (per_op("upsert_jobs"), "count")
    m["upsert.task_run_s_per_op"] = (per_op("upsert_task_run_s"), "s")
    live = result.get("live_bytes", 0)
    m["upsert.stored_bytes_per_live_byte"] = (
        result["stored_bytes"] / live if live else 0.0, "ratio")
    report = {s["op"]: s["dur_s"] for s in spans if s["name"] == "pipeline.report"}
    m["pipeline.report_s_p50"] = (med(list(report.values())), "s")
    loads = [sum(b.get("addBatch", 0) for b in o.get("batches", [])) / 1e3
             - report[o["idx"]] for o in ops if o["idx"] in report]
    m["pipeline.load_s_p50"] = (med(loads), "s")
    for call in FS_CALLS:
        m[f"fs.{call}_per_op"] = (mean([o.get("fs", {}).get(call, 0) for o in ops]), "count")
    reads = [o for o in ops if "read_s" in o]
    if reads:   # only cdc_apply reads between ops
        m["upsert.read_s_p50"] = (med([o["read_s"] for o in reads]), "s")
        m["manifest.leaves_per_read"] = (mean([o["leaves"] for o in reads]), "count")
    m["analytics.pass_s"] = (med(result.get("passes_s", [])), "s")
    for g in ANALYTICS_GATES:
        q = [o for o in ops if o["name"] == g]
        m[f"analytics.q.{g}.s_p50"] = (med([o["latency_s"] for o in q]), "s")
        m[f"analytics.q.{g}.task_cpu_s"] = (mean([o["task_cpu_s"] for o in q]), "s")
        m[f"analytics.q.{g}.shuffle_bytes"] = (
            mean([o["shuffle_read_bytes"] + o["shuffle_write_bytes"] for o in q]), "bytes")
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], []).append((o["latency_s"], 0))
    # the e2e latency statistic, measured with tracing on
    m["trace.latency_p50_s"] = (kind_p50(kinds), "s")
    return m


def run_one(workload, seed, seconds, trace, deadline):
    work = build_dir() / "runs" / f"{workload}-s{seed}-t{trace}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    inputs = work / "in"
    t0 = time.monotonic()
    generate(workload, seed, inputs)
    t1 = time.monotonic()
    try:
        cpu0 = cpu_jiffies()
        result = run_jvm(workload, inputs, work, seconds, trace, deadline)
        t2 = time.monotonic()
        cpu1 = cpu_jiffies()
        flags, errors = judge(workload, seed, result, work, inputs)
        t3 = time.monotonic()
        spans = (json.loads((work / "out" / "spans.json").read_text())
                 if trace else [])
        attempted = len(result["ops"])
        failed = sum(not f for f in flags)
        if errors:
            failed = max(failed, 1)
        rows = op_rows(workload, seed, result, inputs)
        e2e, lat = e2e_metrics(result, flags, rows)
        summary = {
            "workload": workload, "seed": seed, "traced": bool(trace),
            "ops": attempted, **lat,
            "error_rate": failed / attempted if attempted else 1.0,
            "errors": errors,
            "setup_s_each": [round(x, 3) for x in result["setup_s"]],
            "measured_s": round(result["measured_s"], 3),
            "loop": "closed, 1 client",
            "wall_s": {"generate": round(t1 - t0, 2), "jvm": round(t2 - t1, 2),
                       "check": round(t3 - t2, 2),
                       **{k: round(v, 2) for k, v in result["phases"].items()}},
        }
        if cpu0 and cpu1 and sum(cpu1) > sum(cpu0):
            # CPU time the hypervisor gave to other guests while the engine
            # ran: every wall-clock metric slows with it
            summary["host_steal_share"] = round(
                (cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0)), 3)
        layers = layer_metrics(result, spans) if trace else {}
        if workload == "cdc_apply":
            summary["read_p50_s"] = med([o["read_s"] for o in result["ops"] if "read_s" in o])
        if workload in ("cpi_ingest", "cdc_apply"):
            summary["stored_bytes_per_live_byte"] = round(
                result["stored_bytes"] / result["live_bytes"], 4)
        if workload == "analytics_mix":
            summary["pass_s"] = med(result["passes_s"])
        if trace:
            summary["note"] = ("fs.* counts Hadoop FileSystem and FileContext "
                               "(streaming checkpoint) calls; java.nio calls "
                               "(link(2) publish, lease files) are not counted")
        return attempted, failed, e2e, layers, summary
    finally:
        shutil.rmtree(work, ignore_errors=True)


def fmt(metrics):
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    build()
    if args.workload != "all":
        deadline = time.monotonic() + DEADLINE_S
        attempted, failed, e2e, layers, summary = run_one(
            args.workload, args.seed, args.seconds, args.trace, deadline)
        print(json.dumps(summary), file=sys.stderr)
        for k, (v, u) in (layers if args.trace else e2e).items():
            print(f"{args.workload} {k} = {v:.6g} {u}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed,
                          "metrics": fmt(layers if args.trace else e2e)}))
        sys.exit(0 if failed == 0 else 1)
    total_att = total_failed = 0
    combined = {}
    for w in WORKLOADS:
        plain = run_one(w, args.seed, args.seconds, 0, time.monotonic() + DEADLINE_S)
        traced = run_one(w, args.seed, args.seconds, 1, time.monotonic() + DEADLINE_S)
        for att, failed, e2e, layers, summary in (plain, traced):
            total_att += att
            total_failed += failed
            print(json.dumps(summary))
        e2e, layers = plain[2], traced[3]
        base = e2e["latency_p50_s"][0]
        over = layers["trace.latency_p50_s"][0] - base
        layers["trace.overhead_s"] = (over, "s")
        layers["trace.overhead_share"] = (over / base, "ratio")
        for k, (v, u) in list(e2e.items()) + list(layers.items()):
            print(f"{w} {k} = {v:.6g} {u}")
            combined[f"{w}.{k}"] = (v, u)
    print(json.dumps({"correct": total_failed == 0, "attempted": total_att,
                      "failed": total_failed, "metrics": fmt(combined)}))
    sys.exit(0 if total_failed == 0 else 1)


if __name__ == "__main__":
    main()
