#!/usr/bin/env python3
"""Benchmark driver: builds the engine and the harness, generates a
workload's inputs from a seed, runs the harness in one JVM, checks the
outputs against independent computations, and prints one JSON result.

Usage (from the repository root):
  python3 perfbench/run.py --workload notion_etl --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --selftest

--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones.
The last line of standard output is the result object; the lines before
it describe the run (machine conditions, session configuration, sample
counts). Every run is also appended to .bench_build/perfbench/runs.jsonl.
Exits non-zero when an output is wrong or the run fails.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("notion_etl", "table_commits", "table_scans", "corpus_dedup")
BATCH = ("notion_etl", "corpus_dedup")   # per-layer values are totals per pass
SPANS = ["notion.normalize", "notion.derive.fact", "notion.derive.occupancy",
         "notion.derive.throughput", "sinks.group.publish",
         "sinks.manifest.append", "sinks.manifest.upsert",
         "sinks.manifest.delete", "sinks.manifest.maintain", "sinks.mv.refresh",
         "sources.v2.read", "sources.v2.time_travel", "operators.dedup",
         "operators.corpus_quality"]
MEASURES = [("wall_ms", "ms"), ("catalyst_ms", "ms"), ("jobs", "count"),
            ("job_ms", "ms"), ("task_ms", "ms"), ("shuffle_bytes", "bytes"),
            ("gap_ms", "ms"), ("fs_ops", "count")]
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 160
SBT_TIMEOUT_S = 840

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_DIR = os.path.join(HERE, "jvm")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of everything the build compiles: the engine and the harness."""
    m = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(JVM_DIR, "build.sbt"),
            os.path.join(JVM_DIR, "project", "build.properties"),
            os.path.join(JVM_DIR, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(r, f) for r, ds, fs in os.walk(top)
            if "target" not in r.split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")) or \
                    "resources" in p.split(os.sep):
                m.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    m.update(f.read())
    return m.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Builds (when sources changed) and returns the harness classpath."""
    fp = source_fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and \
            open(fp_file).read().strip() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=JVM_DIR, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, timeout=SBT_TIMEOUT_S, text=True)
    lines = p.stdout.strip().splitlines()
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(p.stdout)
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        raise RuntimeError("sbt build failed; see .bench_build/perfbench/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    log(f"build took {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, main, args, work, logfile):
    cmd = ["java", *[f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS],
           f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/jvm-tmp",
           "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main, *args]
    os.makedirs(f"{work}/jvm-tmp", exist_ok=True)
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def percentile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(res, gen_s):
    return {
        "setup_s": (gen_s + res["session_s"] + statistics.median(res["setup_s"])
                    + res["warmup_s"], "s"),
        "pipeline_s": (statistics.median(res["pass_s"]), "s"),
        "write_amp": (write_amp(res), "ratio"),
        "space_amp": (res["root_bytes"] / max(1, res["compact_bytes"]), "ratio"),
        "driver_heap_mb": (res["driver_heap_mb"], "MB"),
    }


def write_amp(res):
    """Bytes the passes write per user byte they land; for a read-only
    workload, whose passes land nothing, the same ratio of its set-up."""
    if res["user_bytes"]:
        return res["bytes_written"] / res["user_bytes"]
    return res["setup_bytes_written"] / max(1, res["setup_user_bytes"])


def latencies(res):
    """Median and 90th percentile of each call kind, for the stamp line."""
    return {f"{kind}_ms": {"n": len(xs), "p50": percentile(xs, 0.5), "p90": percentile(xs, 0.9)}
            for kind, xs in res["op_ms"].items() if xs}


def untraced_pipeline_s(workload, fingerprint):
    """Median pass time of this checkout's correct untraced runs of the
    same sources, or None when there is none."""
    path = os.path.join(BUILD, "runs.jsonl")
    xs = []
    if os.path.exists(path):
        for line in open(path):
            r = json.loads(line)
            if (r["workload"] == workload and r["trace"] == 0 and r["correct"]
                    and r.get("fingerprint") == fingerprint):
                xs.append(r["metrics"]["pipeline_s"]["value"])
    return statistics.median(xs) if xs else None


def per_layer(workload, res, reference_s):
    spans = res.get("spans", [])
    passes = len(res["pass_s"])
    out = {}
    for name in SPANS:
        inst = [s for s in spans if s["name"] == name]
        denom = passes if workload in BATCH else max(1, len(inst))
        for m, unit in MEASURES:
            out[f"{name}.{m}"] = (sum(s[m] for s in inst) / denom, unit)
    reads = [s for s in spans if s["name"].startswith("sources.v2.")]
    examined = sum(s["records_read"] for s in reads)
    out["sources.v2.rows_read_per_row"] = (
        examined / res["rows_returned"] if res["rows_returned"] else 0.0, "ratio")
    c = res.get("counters", {})
    out["operators.dedup.pairs_per_candidate"] = (
        c["pairs"] / c["minhash_candidates"] if c.get("minhash_candidates") else 0.0,
        "ratio")
    # the traced run's pass time over the untraced runs' (same sources)
    out["trace_overhead"] = (statistics.median(res["pass_s"]) / reference_s, "ratio")
    return out


def selftest():
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    work = os.path.join(BUILD, "selftest")
    os.makedirs(work, exist_ok=True)
    rc = run_jvm(classpath(), "perfbench.SelfTest", [], work,
                 os.path.join(work, "selftest.log"))
    print(open(os.path.join(work, "selftest.log")).read())
    return 0 if ok and rc == 0 else 1


def execute(workload, seed, seconds, trace, keep=False):
    """One run; returns (exit code, stamp, result, run directory)."""
    import check
    import gen
    cp = classpath()
    fingerprint = source_fingerprint()
    reference_s = None
    if trace:
        # the tracing overhead needs an untraced reference of the same
        # sources: make one first when this checkout has none
        reference_s = untraced_pipeline_s(workload, fingerprint)
        if reference_s is None:
            execute(workload, seed, seconds, 0)
            reference_s = untraced_pipeline_s(workload, fingerprint)
        if reference_s is None:
            log("no correct untraced reference run for the tracing overhead")
            return 1, None, None, None
    cores = min(4, os.cpu_count() or 1)
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work, out = (os.path.join(run_dir, d) for d in ("input", "work", "out"))
    tpch = os.path.join(BUILD, "tpch-sf0.1")
    gen.ensure_tpch(tpch)
    t0 = time.time()
    truth = gen.generate(workload, seed, tpch, inp)
    gen_s = time.time() - t0

    rc = run_jvm(cp, "perfbench.Main", [
        "--workload", workload, "--input", inp, "--work", work, "--out", out,
        "--seconds", str(seconds), "--trace", str(trace),
        "--cores", str(cores)],
        work, os.path.join(run_dir, "jvm.log"))
    res_path = os.path.join(out, "result.json")
    if not os.path.exists(res_path):
        log(f"harness exited {rc} without a result; see {run_dir}/jvm.log")
        return 1, None, None, run_dir
    res = json.load(open(res_path))
    if rc != 0 or "fatal" in res:
        log(f"harness failed (exit {rc}): {res.get('fatal') or res.get('errors')}")
        return 1, None, None, run_dir
    problems = check.check(workload, inp, out, truth)
    correct = not problems and res["failed"] == 0
    for p in problems[:20]:
        log(f"INCORRECT: {p}")

    metrics = per_layer(workload, res, reference_s) if trace else end_to_end(res, gen_s)
    stamp = {
        "workload": workload, "seed": seed, "trace": trace, "fingerprint": fingerprint,
        "conditions": res["conditions"], "cores": res["cores"], "conf": res["conf"],
        "samples": {"passes": len(res["pass_s"]),
                    "setup_reps": len(res["setup_s"])},
        "latency": latencies(res),
        "setup_parts_s": {"generate": gen_s, "session": res["session_s"],
                          "setup_reps": res["setup_s"], "warmup": res["warmup_s"]},
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    result = {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(BUILD, "runs.jsonl"), "a") as f:
        f.write(json.dumps({**stamp, **result}) + "\n")
    if trace:
        span_dir = os.path.join(BUILD, "spans")
        os.makedirs(span_dir, exist_ok=True)
        with open(os.path.join(span_dir, f"{workload}-{seed}.json"), "w") as f:
            json.dump(res["spans"], f)
    if not keep:
        shutil.rmtree(run_dir, ignore_errors=True)
    return (0 if correct else 1), stamp, result, run_dir


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no engine sources next to the benchmark (build.sbt, src/main/scala/graft)")
        return 2
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    code, stamp, result, _ = execute(a.workload, a.seed, a.seconds, a.trace)
    if result is None:
        return code
    print(json.dumps(stamp))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
