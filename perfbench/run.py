#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source (perfbench/build.py),
then runs the workload in one JVM against local[nproc]: set-up (session
start, seeded inputs and fixtures staged into a fresh per-run directory,
the untimed cold pass), then whole passes over the workload's fixed
operation list for --seconds seconds, closed loop, one client.
Outputs are checked in the same command: query results against the
DuckDB oracle (tools/check_parity.py, unmodified), row counts, the
daemon's end state and the stream accounting.

Workloads: operators, daemon (see README.md).
With --trace 0 the last stdout line carries the end-to-end metrics,
with --trace 1 the per-layer metrics of BENCHMARK.json. The line
before it is the run's full record, stamped with the host and
provenance fingerprint; records also append to .bench_build/records.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("operators", "daemon")
# The parallel collector with a fixed young generation and a 3 GB cap.
# Under G1, the JVM default, the same code's peak RSS spread by a third
# between runs (the heap grew at GC-timing-dependent moments) and its
# serving latency by a quarter; G1's concurrent work shares the 4 cores.
HEAP = ["-XX:+UseParallelGC", "-Xmx3g", "-Xms1g", "-Xmn512m"]
TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def mem_total_kb():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def fingerprint(raw, digest, seed):
    """host part (must match to compare) + provenance part"""
    return {
        "host": {"nproc": len(os.sched_getaffinity(0)),
                 "mem_total_kb": mem_total_kb(), "heap": " ".join(HEAP),
                 "jvm": raw.get("jvm"), "spark": raw.get("spark")},
        "provenance": {"git_commit": git_commit(), "source_digest": digest,
                       "seed": seed}}


def run_jvm(classes, args, work):
    cmd = [build.java(), *HEAP, "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "graft.perfbench.PerfBench", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), work, f"{work}/result.json"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
    log = open(f"{work}/jvm.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         cwd=work, start_new_session=True)

    def stop(*_):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("interrupted")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        rc = p.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
        log.close()
    if rc != 0:
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write("".join(l for l in fh.readlines()
                                     if "WARN" not in l)[-3000:])
        fail(f"{args.workload} run failed ({rc})")
    with open(f"{work}/result.json") as fh:
        return json.load(fh)


def oracle_check(work):
    """tools/check_parity.py over the cold pass's result dumps:
    (attempted, failed)"""
    with open(f"{work}/sf_dir") as fh:
        sf_dir = fh.read().strip()
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_parity.py"),
                        sf_dir, f"{work}/results"],
                       capture_output=True, text=True, timeout=120)
    lines = r.stdout.splitlines()
    bad = [l for l in lines if l.startswith(("FAIL", "ERR"))]
    ok = [l for l in lines if l.startswith(("PASS", "ROWS-ONLY"))]
    for l in bad:
        sys.stderr.write(f"perfbench: oracle {l}\n")
    if r.returncode not in (0, 1) or not (ok or bad):
        sys.stderr.write(r.stderr[-2000:])
        return 1, 1
    return len(ok) + len(bad), len(bad)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    t0 = time.time()
    try:
        classes, digest = build.build()
    except SystemExit as e:
        fail(str(e))
    timing = {"build_s": time.time() - t0}
    work = os.path.join(build.BUILD, "run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        t1 = time.time()
        raw = run_jvm(classes, args, work)
        timing["jvm_s"] = time.time() - t1
        timing["jvm_boot_s"], timing["check_s"] = raw["boot_s"], raw["check_s"]
        attempted, failed = raw["attempted"], raw["failed"]
        if args.workload == "operators":
            a, f = oracle_check(work)
            attempted += a
            failed += f
        timing["wall_s"] = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        names = spec["per_layer"]
        values = raw.get("layers") or {}
    else:
        names = spec["end_to_end"]
        values = raw["metrics"]
    # a layer the workload never enters reports 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in names}
    record = {"workload": args.workload, "trace": args.trace,
              "seconds": args.seconds, "timing": timing,
              "fingerprint": fingerprint(raw, digest, args.seed),
              "passes": raw["passes"], "tail": raw["tail"], "setup": raw["setup"],
              "per_op_ms": raw["per_op_ms"], "failed_ops": raw["failed_ops"],
              "metrics": raw["metrics"],
              "layers": raw.get("layers"), "attempted": attempted, "failed": failed}
    os.makedirs(build.BUILD, exist_ok=True)
    with open(os.path.join(build.BUILD, "records.jsonl"), "a") as fh:
        fh.write(json.dumps(record, sort_keys=True) + "\n")
    if args.trace:
        with open(os.path.join(build.BUILD, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"record": record, "spans": raw.get("spans", [])}, fh)
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
