#!/usr/bin/env python3
"""Split where a workload's time goes, from traced runs.

    python3 perfbench/rollup.py <records.jsonl> [--json]

Reads run records (as run.py prints and .bench_build/records.jsonl
collects them). For each workload's traced run it splits the mean
operation's wall time into driver time with no job running (of it,
Catalyst planning and codegen compilation) and time inside jobs (of
it, executor task time spread over the cores, and the rest:
scheduling, task launch and result handling); then the share of stage
time per call-site file. The tracing overhead is the traced run's
suite_s minus the median untraced suite_s of the same workload.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as fh:
        return [json.loads(l).get("record", json.loads(l)) for l in fh if l.strip()]


def rollup(traced, untraced):
    L = traced["layers"]
    cores = traced["fingerprint"]["host"]["nproc"]
    gap, jobs = L["exec.driver_gap_s"], L["exec.job_wall_s"]
    planning = L["plans.analysis_s"] + L["plans.optimization_s"] + L["plans.planning_s"]
    executor = L["exec.task_run_s"] / cores
    stage = {k.split(".")[1]: v for k, v in L.items()
             if k.startswith("callsite.") and v > 0}
    total_stage = sum(stage.values()) or 1.0
    base = [r["metrics"]["suite_s"] for r in untraced]
    out = {
        "workload": traced["workload"],
        "op_wall_s": gap + jobs,
        "driver_gap_s": gap,
        "  planning_s": planning,
        "  codegen_compile_s": L["codegen.compile_s"],
        "in_jobs_s": jobs,
        "  executor_s (task time / cores)": executor,
        "  scheduling_and_other_s": max(0.0, jobs - executor),
        "jobs_per_op": L["exec.jobs"],
        "stage_share_by_file": {f: round(v / total_stage, 3)
                                for f, v in sorted(stage.items(), key=lambda kv: -kv[1])},
    }
    if base:
        out["trace_overhead_suite_s"] = traced["metrics"]["suite_s"] - statistics.median(base)
        out["untraced_suite_s_median"] = statistics.median(base)
        out["untraced_runs"] = len(base)
    return out


def main(argv):
    recs = load(argv[1])
    result = []
    for w in sorted({r["workload"] for r in recs}):
        traced = [r for r in recs if r["workload"] == w and r.get("trace") == 1]
        untraced = [r for r in recs if r["workload"] == w and r.get("trace") == 0]
        if traced:
            result.append(rollup(traced[-1], untraced))
    if "--json" in argv:
        print(json.dumps(result, indent=1))
        return
    for r in result:
        print(f"## {r['workload']}")
        for k, v in r.items():
            if k == "stage_share_by_file":
                print("stage time share by call-site file:")
                for f, s in v.items():
                    print(f"  {f:18} {s:6.1%}")
            elif k != "workload":
                print(f"{k:34} {v:.4g}" if isinstance(v, float) else f"{k:34} {v}")


if __name__ == "__main__":
    main(sys.argv)
