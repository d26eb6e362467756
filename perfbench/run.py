#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (cached until a source file changes),
generates the workload's inputs from the seed (cached per seed), runs the
workload in a fresh JVM, checks every op's output against DuckDB, prints a
readable report and, as the last line of standard output, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics of a traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

# ingest_llm is ingest_copy and llm_pipeline in one JVM: one set-up of
# both, then passes over the ops of both.
WORKLOADS = ("ingest_copy", "olap_scaled", "llm_pipeline", "ingest_llm")
# The base corpus (ingest_copy's single-file inputs), the scaled corpus:
# COPIES key-shifted lineitem/orders replicas of a corpus at SCALED_SF
# (olap_scaled, and ingest_copy's multi-file input), and the small corpus
# the LLM-pipeline packs read (SMALL_SF: their set-up is mostly fixed
# per-job cost, which a larger corpus adds little to but time).
SF = 0.01
SCALED_SF = 0.0025
SMALL_SF = 0.002
COPIES = 8
HEAP = "4g"
DEADLINE_S = 170
KEEP_CORPORA = 4

END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "cpu_s_per_op": "s"}
PACKS = ["Relational", "Ingest", "Fn", "Analytic", "Windowed", "Text", "Dedup",
         "Sim", "Udf", "Multimodal", "Sample", "Reshape", "Flow", "Bucketed",
         "Sql", "Train", "Graph", "Layout"]
PER_LAYER = {
    "ingest.scan_s": "s", "ingest.encode_s": "s", "ingest.write_s": "s",
    "ingest.recount_s": "s", "ingest.copy_into_s": "s", "ingest.copy_batches": "count",
    "ingest.jobs_per_import": "count", "ingest.output_files": "count",
    "ingest.rows_per_s": "1/s", "ingest.bytes_out_per_in": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.task_wait_s": "s", "sched.core_busy_frac": "fraction",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.failed_tasks": "count", "scan.input_mb": "MB", "scan.input_rows": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "setup.context_s": "s", "setup.tables_s": "s", "setup.bucketed_s": "s",
    "setup.layout_s": "s", "setup.dedup_s": "s", "setup.sim_s": "s",
    "setup.graph_s": "s", "cache.blocks": "count", "cache.mb": "MB",
    "trace.ops_per_s_delta": "1/s", "trace.op_p50_s_delta": "s",
    "trace.cpu_s_per_op_delta": "s", "ops.fail_frac": "fraction",
}
for _p in PACKS:
    PER_LAYER.update({f"op.{_p}.build_s": "s", f"op.{_p}.run_s": "s",
                      f"op.{_p}.jobs": "count", f"op.{_p}.shuffle_mb": "MB"})

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_stamp(root):
    """Hash of everything the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    paths = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, top)):
            paths += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    for p in sorted(paths):
        h.update(p.encode())
        with open(os.path.join(root, p), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_child(cmd, timeout, log_path, **kw):
    """Run `cmd` in its own process group with output to `log_path`; return
    its exit code, or None on timeout. The whole group is killed on the way
    out, so no process outlives the benchmark."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def tail(path, n=6000):
    with open(path, errors="replace") as f:
        return f.read()[-n:]


def build(root, out):
    """Compile the program and the benchmark driver with sbt; return the
    runtime classpath."""
    stamp_file = os.path.join(out, "classpath.json")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"]
    log("building with sbt")
    t0 = time.time()
    log_path = os.path.join(out, "build.log")
    rc = run_child(["sbt", "-batch", "-Dsbt.server.autostart=false",
                    "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                   840, log_path, cwd=os.path.join(root, "perfbench"))
    with open(log_path, errors="replace") as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(tail(log_path))
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def corpus(out, seed, sf, copies):
    """The cached corpus for (seed, sf, copies); older corpora beyond
    KEEP_CORPORA are removed."""
    data = os.path.join(out, "data")
    os.makedirs(data, exist_ok=True)
    path = os.path.join(data, f"seed{seed}-sf{sf}-x{copies}")
    gen.generate(path, seed, sf, copies)
    os.utime(path)
    kept = sorted((os.path.join(data, d) for d in os.listdir(data)
                   if not d.endswith(".tmp")), key=os.path.getmtime, reverse=True)
    for d in kept[3 * KEEP_CORPORA:]:
        shutil.rmtree(d, ignore_errors=True)
    return path


def input_sizes(data_dir):
    out = {}
    for t in gen.TABLES:
        files = gen.parquet_files(data_dir, t)
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        out[t] = {"rows": rows, "bytes": sum(os.path.getsize(f) for f in files),
                  "files": len(files)}
    return out


def run_jvm(cp, args, work, budget):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby", "-Dspark.ui.enabled=false"]
           + opens + ["-cp", cp, "perfbench.Main"] + args)
    # the program reads GRAFT_* switches, and Spark would put its scratch
    # space in SPARK_LOCAL_DIRS instead of the run's own directory
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    log_path = os.path.join(work, "jvm.log")
    rc = run_child(cmd, budget, log_path, env=env, cwd=work)
    if rc != 0:
        sys.stderr.write(tail(log_path))
        fail("timed out" if rc is None else f"JVM exited with {rc}")


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    # a terminated run still kills its children and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("run from the repository root: the program's sources are missing")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)
    t_build = time.time()

    base = corpus(out, a.seed, SF, 1)
    scaled = corpus(out, a.seed, SCALED_SF, COPIES)
    small = corpus(out, a.seed, SMALL_SF, 1)
    t_gen = time.time()

    ticks0 = cpu_ticks()
    work = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "derby", "check", "sink"):
        os.makedirs(os.path.join(work, d))
    try:
        budget = DEADLINE_S - (time.time() - t_build)
        run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                     base, scaled, small, work], work, budget)
        t_jvm = time.time()
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        import oracle  # imports the repository's scripts/check.py
        check_dir = os.path.join(work, "check")
        ingest = [o for o in res["ops"] if o["pack"] == "ingest"]
        inputs = {o["name"][len("import_"):]: gen.table_files(o["source"])
                  for o in ingest if o["name"].startswith("import_")}
        verdict = oracle.check_ingest(inputs, ingest, check_dir)
        verdict.update(oracle.check_queries(
            [o for o in res["ops"] if o["pack"] != "ingest"], check_dir))
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            spans = os.path.join(out, "spans")
            os.makedirs(spans, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(spans, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    t_oracle = time.time()
    bad = {k: v for k, v in verdict.items() if v}
    attempted = res["attempted"]
    failed = res["failed"] + sum(o["attempted"] - o["failed"] for o in res["ops"]
                                 if o["name"] in bad)
    m = res["metrics"]
    m["ops.fail_frac"] = failed / attempted if attempted else 1.0

    cond = res["conditions"]
    cond["inputs"] = {"base": input_sizes(base), f"x{COPIES}": input_sizes(scaled),
                      "small": input_sizes(small)}
    cond["build_s"] = round(t_build - t_start, 3)
    cond["generate_s"] = round(t_gen - t_build, 3)
    cond["jvm_s"] = round(t_jvm - t_gen, 3)
    cond["oracle_s"] = round(t_oracle - t_jvm, 3)
    # CPU time the hypervisor gave to other guests while this run wanted it
    ticks1 = cpu_ticks()
    cond["steal_frac"] = round((ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]), 4)
    print(f"== {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"{attempted} ops attempted, {failed} failed")
    print("conditions: " + json.dumps(cond, sort_keys=True))
    for name, msg in sorted(bad.items()):
        print(f"FAIL {name}: {msg}")
    report = [
        ("setup_s", m["setup_s"], "s"), ("ops_per_s", m["ops_per_s"], "1/s"),
        ("op_p50_s", m["op_p50_s"], "s"),
        (f"op_tail_s (p{m['op_tail_pct']:.1f} of {m['op_samples']:.0f})", m["op_tail_s"], "s"),
        ("fail_frac", m["ops.fail_frac"], "fraction"),
        ("cpu_s_per_op", m["cpu_s_per_op"], "s"), ("cache_mb", m["cache.mb"], "MB")]
    if ingest:
        report += [("ingest_rows_per_s", m["ingest_rows_per_s"], "1/s"),
                   ("ingest_bytes_out_per_in", m["ingest_bytes_out_per_in"], "ratio")]
    for name, v, unit in report:
        print(f"  {name:<32} {fmt(v):>12} {unit}")
    if a.trace:
        for name, unit in PER_LAYER.items():
            print(f"  {name:<32} {fmt(m.get(name, 0.0)):>12} {unit}")
    for o in res["ops"]:
        busy = f"  cores busy {o['core_busy_frac']:.2f}" if a.trace else ""
        runs = " ".join(f"{x:.4f}" for x in o["samples_s"])
        cpu = " ".join(f"{x:.4f}" for x in o["cpu_s"])
        print(f"  op {o['name']:<34} {o['pack']:<11} x{o['attempted']:<4} "
              f"latency {fmt(o['latency_s'])} s{busy}  check {o['check_s']:.3f} s  "
              f"[{runs}]  cpu [{cpu}]")

    names = PER_LAYER if a.trace else END_TO_END
    metrics = {k: {"value": m.get(k, 0.0), "unit": u} for k, u in names.items()}
    print(json.dumps({"correct": failed == 0 and not bad, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
