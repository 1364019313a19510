#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by
workload.

    python3 perfbench/compare.py <parent.jsonl> <change.jsonl>

Each file holds run records, one JSON object per line: the `record`
line run.py prints before its result (either bare or wrapped as
{"record": ...}); .bench_build/records.jsonl collects them. Only
untraced records count. Runs are paired by seed when both sides ran
the same seeds, else in file order.

Records whose host fingerprints differ (nproc, MemTotal, heap flags, JVM,
Spark) are refused: numbers compare only on the same host.

Each side is printed as median [first quartile, third quartile] and
its spread, (q3 - q1) / median. For each end-to-end metric of
BENCHMARK.json the verdict is
  improved    the change wins >= 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              own spread (its interquartile range), or the spread is
              wider than the bound and every change run beats every
              parent run;
  worse       the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  the parent's spread is wider than the bound, so a
              regression of that size could not be seen;
  unchanged   otherwise.
Exit status: 0, or 2 when the fingerprints differ.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    recs = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            r = r.get("record", r)
            if r.get("trace") == 0:
                recs.append(r)
    return recs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[2]


def pairs(a, b):
    sa = {r["fingerprint"]["provenance"]["seed"]: r for r in a}
    sb = {r["fingerprint"]["provenance"]["seed"]: r for r in b}
    if len(sa) == len(a) and len(sb) == len(b) and set(sa) == set(sb):
        return [(sa[s], sb[s]) for s in sorted(sa)]
    return list(zip(a, b))


def verdict(pa, pb, better, bound):
    """(verdict, wins, pairs) for parent values pa and change values pb"""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for x, y in zip(pa, pb) if sign * (y - x) > 0)
    n = len(pa)
    ma, mb = statistics.median(pa), statistics.median(pb)
    q1, q3 = quartiles(pa)
    spread = q3 - q1
    gain = sign * (mb - ma)
    if spread / ma > bound:
        all_better = (min(pb) > max(pa)) if better == "higher" else (max(pb) < min(pa))
        return ("improved" if all_better else "unresolved"), wins, n
    if wins >= 0.9 * n and gain > spread:
        return "improved", wins, n
    if -gain > bound * ma:
        return "worse", wins, n
    return "unchanged", wins, n


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    a, b = load(argv[1]), load(argv[2])
    hosts = {json.dumps(r["fingerprint"]["host"], sort_keys=True) for r in a + b}
    if len(hosts) != 1:
        print("refused: the records come from different hosts:")
        for h in sorted(hosts):
            print("  " + h)
        return 2
    print(f"host {hosts.pop()}")
    print(f"{'workload':10} {'metric':12} {'parent median [q1, q3] spread':>38} "
          f"{'change median [q1, q3] spread':>38} {'wins':>6}  verdict")
    for w in [x["name"] for x in spec["workloads"]]:
        ps = pairs([r for r in a if r["workload"] == w],
                   [r for r in b if r["workload"] == w])
        if not ps:
            continue
        for m in spec["end_to_end"]:
            pa = [x["metrics"][m["name"]] for x, _ in ps]
            pb = [y["metrics"][m["name"]] for _, y in ps]
            v, wins, n = verdict(pa, pb, m["better"], m["bound"])

            def fmt(v):
                q1, q3 = quartiles(v)
                med = statistics.median(v)
                return f"{med:.4g} [{q1:.4g}, {q3:.4g}] {(q3 - q1) / med:.3f}"
            print(f"{w:10} {m['name']:12} {fmt(pa):>38} {fmt(pb):>38} "
                  f"{wins:>3}/{n:<2}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
