#!/usr/bin/env python3
"""The repository benchmark: one command per workload.

    python3 perfbench/run.py --workload loop|sweep \
        --seed N --seconds S --trace 0|1

Builds the program and the harness from source (perfbench/build.py), runs
one JVM with a pinned Spark session (local[nproc], shuffle partitions =
nproc, UTC, no UI, the test suite's driver-memory formula) and measures
closed-loop ops for --seconds: queries of a sweep, or cycles of the
medallion loop. Spark's log goes to a file under the build dir; stdout
carries one line per metric and, last, the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(spans with Spark listener counters attributed to them). Every run also
writes its full record — one line per op with spans, counters and a
pass/fail flag — to <build dir>/records/. See perfbench/NOTES.md.
"""
import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
WORKLOADS = ("loop", "sweep")
FAMILIES = ("rel", "mars", "td", "emb", "mm", "txt")
LOOP_SPANS = ("ingest_stage", "load_stage", "transform_stage")
SPAN_MEASURES = ("wall_s", "jobs", "tasks", "task_cpu_s", "task_gc_s", "driver_s",
                 "shuffle_mb", "input_rows", "output_rows")
FAMILY_MEASURES = ("build_s", "build_jobs", "build_jobs_frac", "plan_s", "exec_s", "jobs",
                   "tasks", "task_cpu_s", "task_gc_s", "driver_s", "shuffle_mb", "spill_mb",
                   "stored_peak_mb")
JVM_TIMEOUT_S = 170

UNITS = {"setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s", "throughput_per_s": "1/s",
         "queries_per_s": "1/s", "photos_per_s": "1/s", "freshness_p50_s": "s",
         "failed_frac": "ratio", "stored_peak_mb": "MB", "warehouse_mb": "MB"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    leaf = name.rsplit(".", 1)[-1]
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_frac", "ratio")):
        if leaf.endswith(suffix):
            return unit
    if leaf in ("growth", "rows_read_per_photo", "tasks_per_photo"):
        return "ratio"
    return "count"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(latencies):
    """Highest percentile with at least ten samples beyond it."""
    n = len(latencies)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        beyond = int(math.floor(n * (1 - p / 100.0) + 1e-9))
        if beyond >= 10:
            qs = statistics.quantiles(latencies, n=1000, method="inclusive")
            return qs[int(round(p * 10)) - 1], p, beyond
    return None


def mem_gb():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classpath, args, work, log_path, jvm_flags=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), *jvm_flags]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{mem_gb()}g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-cp", os.pathsep.join(classpath), "perfbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               GRAFT_MARS_FIXTURES=os.path.join(ROOT, "src", "test", "resources", "mars", "bronze"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)

        handlers = {sig: signal.signal(sig, stop) for sig in (signal.SIGTERM, signal.SIGINT)}
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S}s; log: {log_path}")
        finally:
            for sig, handler in handlers.items():
                signal.signal(sig, handler)
    if rc != 0:
        with open(log_path) as f:
            tail_lines = f.read()[-3000:]
        raise RuntimeError(f"JVM exited {rc}; log {log_path}:\n{tail_lines}")


def class_archive(classpath, data, queries):
    """JVM flags that load classes from the archive of a training run (made
    once per build): without it a fresh JVM spends 10 s more in its first
    set-up loading and verifying Spark's classes."""
    jsa = build.archive_path()
    if not os.path.exists(jsa):
        work = os.path.join(build.build_dir(), "work", "train")
        print("[perfbench] archiving classes", file=sys.stderr, flush=True)
        run_jvm(classpath, ["train", "--data", data, "--work", work, "--queries", queries], work,
                os.path.join(build.build_dir(), "logs", "train.log"),
                [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
        if os.path.exists(f"{jsa}.tmp"):
            os.replace(f"{jsa}.tmp", jsa)
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def end_to_end(workload, summary, ops):
    done = [o for o in ops if o["latency_s"] is not None]
    lat = [o["latency_s"] for o in done]
    m = {"setup_s": median(summary["setup_s"]) + summary["warmup_s"],
         "latency_p50_s": median(lat),
         "stored_peak_mb": max([o["stored_peak_mb"] for o in ops] or [0.0]),
         "failed_frac": sum(1 for o in ops if not o["ok"]) / max(1, len(ops))}
    if workload == "loop":
        photos = sum(o["facts"]["photos_landed"] for o in done)
        m["photos_per_s"] = photos / sum(lat) if lat else 0.0
        m["throughput_per_s"] = m["photos_per_s"]
        fresh = [o["facts"]["freshness_s"] for o in done if o["facts"].get("freshness_s") is not None]
        m["freshness_p50_s"] = median(fresh)
        m["warehouse_mb"] = summary["warehouse_mb"]
    else:
        m["queries_per_s"] = len(done) / sum(lat) if lat else 0.0
        m["throughput_per_s"] = m["queries_per_s"]
    t = tail(lat)
    extra = {}
    if t:
        m["latency_tail_s"] = t[0]
        extra["latency_tail_s"] = {"percentile": t[1], "samples_beyond": t[2]}
    return m, extra


def per_layer(ops, summary):
    m = {}
    cycles = [o for o in ops if o["kind"] == "cycle"]
    queries = [o for o in ops if o["kind"] == "query"]

    def spans_named(op, name):
        return [s for s in op["spans"] if s["name"] == name]

    for span in LOOP_SPANS:
        for meas in SPAN_MEASURES:
            vals = [sum(s[meas] for s in spans_named(c, span)) for c in cycles]
            m[f"{span}.{meas}"] = median(vals)
    for fact in ("gap_rows", "tasks_scheduled", "photos_landed"):
        m[f"cycle.{fact}"] = median([c["facts"][fact] for c in cycles])
    photos = sum(c["facts"]["photos_landed"] for c in cycles)

    def total(span, meas):
        return sum(s[meas] for c in cycles for s in spans_named(c, span))

    m["transform_stage.rows_read_per_photo"] = total("transform_stage", "input_rows") / photos if photos else 0.0
    m["ingest_stage.tasks_per_photo"] = total("ingest_stage", "tasks") / photos if photos else 0.0
    walls = [sum(s["wall_s"] for s in spans_named(c, "transform_stage")) for c in cycles]
    q = max(1, len(walls) // 4)
    m["transform_stage.growth"] = (statistics.mean(walls[-q:]) / statistics.mean(walls[:q])
                                   if walls and statistics.mean(walls[:q]) > 0 else 0.0)

    for fam in FAMILIES:
        fops = [o for o in queries if o["family"] == fam and o["latency_s"] is not None]
        n = max(1, len(fops))

        def per_query(span, meas):
            return sum(s[meas] for o in fops for s in spans_named(o, span)) / n

        build_jobs = per_query("build", "jobs")
        all_jobs = build_jobs + per_query("plan", "jobs") + per_query("exec", "jobs")
        m[f"{fam}.build_s"] = per_query("build", "wall_s")
        m[f"{fam}.build_jobs"] = build_jobs
        m[f"{fam}.build_jobs_frac"] = build_jobs / all_jobs if all_jobs else 0.0
        m[f"{fam}.plan_s"] = per_query("plan", "wall_s")
        m[f"{fam}.exec_s"] = per_query("exec", "wall_s")
        m[f"{fam}.jobs"] = per_query("exec", "jobs")
        for meas in ("tasks", "task_cpu_s", "task_gc_s", "shuffle_mb", "spill_mb"):
            m[f"{fam}.{meas}"] = per_query("exec", meas)
        m[f"{fam}.driver_s"] = sum(per_query(span, "driver_s") for span in ("build", "plan", "exec"))
        m[f"{fam}.stored_peak_mb"] = max([o["stored_peak_mb"] for o in fops] or [0.0])
    m["machine.cpu_control_s"] = summary["cpu_control_s"] or 0.0
    lat = [o["latency_s"] for o in ops if o["latency_s"] is not None]
    m["trace.latency_p50_s"] = median(lat)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    data = os.path.join(HERE, "data", "sf0.1")
    if not os.path.isdir(data):
        raise build.BuildError(f"input tables missing: {data}")
    queries = os.path.join(HERE, "queries", "sweep.txt")
    classpath = build.build()
    bdir = build.build_dir()
    os.makedirs(os.path.join(bdir, "logs"), exist_ok=True)
    jvm_flags = class_archive(classpath, data, queries)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(bdir, "work", a.workload)
    out = os.path.join(bdir, "records", tag)
    os.makedirs(work, exist_ok=True)
    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--out", out]
    if a.workload != "loop":
        args += ["--queries", queries, "--expected", os.path.join(HERE, "expected.json")]
    run_jvm(classpath, args, work, os.path.join(bdir, "logs", f"{tag}.log"), jvm_flags)

    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(line) for line in f if line.strip()]
    with open(os.path.join(HERE, "known_defects.json")) as f:
        known = json.load(f)

    failed = [o for o in ops if not o["ok"]]
    unexpected = [o for o in failed if o["name"] not in known]
    for o in failed:
        kind = "known defect" if o["name"] in known else "FAILED"
        print(f"[perfbench] {kind}: {o['name']}: {o['error']}", file=sys.stderr)

    e2e, extra = end_to_end(a.workload, summary, ops)
    record = {"summary": summary, "end_to_end": e2e, "end_to_end_detail": extra}
    if a.trace:
        layers = per_layer(ops, summary)
        record["per_layer"] = layers
        untraced = os.path.join(bdir, "records", f"{a.workload}-seed{a.seed}-trace0", "result.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["latency_p50_s"]
            record["trace_overhead_s"] = layers["trace.latency_p50_s"] - base
        metrics = layers
    else:
        metrics = {k: e2e[k] for k in ("setup_s", "latency_p50_s", "throughput_per_s")}
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(record, f, indent=1)

    shown = dict(e2e) if not a.trace else dict(metrics)
    if a.trace and "trace_overhead_s" in record:
        shown["trace.overhead_s"] = record["trace_overhead_s"]
    for k in sorted(shown):
        note = ""
        if k in extra:
            note = f"  (p{extra[k]['percentile']:g}, {extra[k]['samples_beyond']} samples beyond)"
        print(f"{k} {shown[k]:.6g} {unit_of(k)}{note}")
    print(f"record {os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": not unexpected and len(ops) > 0,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    try:
        main()
    except (build.BuildError, RuntimeError, OSError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
