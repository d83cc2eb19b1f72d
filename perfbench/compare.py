#!/usr/bin/env python3
"""Compare two sets of benchmark result records.

    python3 perfbench/compare.py <before> <after>

Each side is a directory of the record files run.py keeps under
<build dir>/results/ (or one such file). Untraced records supply the
end-to-end metrics, traced records the per-layer ones. Prints one row per
workload x metric: each side's median with its quartiles, the change, the
metric's bound from BENCHMARK.json and a verdict:

  better      the after median beats the before median by more than the
              before runs' own quartile spread, and after wins >= 9/10 of
              all before/after pairs
  worse       the after median is worse by more than the bound, and the
              spread of both sides is within the bound (or every after run
              is worse than every before run)
  unresolved  a side's quartile spread is wider than the bound and the runs
              do not separate, or a side has fewer than two runs
  unchanged   otherwise

Failed operations (threw or wrong answer, timed or warm-up) override the
timings: failures are never timed, so a change that makes operations fail
can look faster. Each workload gets a failed_ops row, and when the after
side has more failed operations per record than the before side, every
metric of that workload reads "worse (failures)".

Per-layer metrics have no bound; their rows show the change only. A last
block reports the tracing overhead per workload and side: the median
wall_s of traced runs over that of untraced runs.
"""
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    files = [path] if os.path.isfile(path) else [
        os.path.join(path, f) for f in sorted(os.listdir(path))
        if f.endswith(".json") and not f.endswith(".spans.json")]
    recs = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "metrics" in r:
            recs.append(r)
    return recs


def values(recs, workload, metric, traced):
    """The metric from untraced records, or from traced ones when only
    they carry it (per-layer metrics)."""
    def pick(t):
        return [r["metrics"][metric]["value"] for r in recs
                if r["workload"] == workload and bool(r["trace"]) == t
                and metric in r["metrics"] and r["metrics"][metric]["value"] is not None]
    return pick(False) if not traced else (pick(False) or pick(True))


def failed_ops(recs, workload):
    """(failed operations, records) of a workload, warm-up included."""
    rs = [r for r in recs if r["workload"] == workload]
    return sum(r["failed"] + len(r["warmup_failures"]) for r in rs), len(rs)


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(a, b, bound, lower_better):
    if len(a) < 2 or len(b) < 2:
        return "unresolved"
    qa, qb = quartiles(a), quartiles(b)
    ma, mb = qa[1], qb[1]
    if ma == 0:
        return "unresolved"
    worse = (mb - ma) / abs(ma) if lower_better else (ma - mb) / abs(ma)
    spread = max((qa[2] - qa[0]) / abs(ma), (qb[2] - qb[0]) / abs(mb) if mb else 0.0)
    pairs = len(a) * len(b)
    wins = sum(1 for x in a for y in b if (y < x if lower_better else y > x)) / pairs
    losses = sum(1 for x in a for y in b if (y > x if lower_better else y < x)) / pairs
    if worse < 0 and -worse * abs(ma) > (qa[2] - qa[0]) and wins >= 0.9:
        return "better"
    if worse > bound and (spread <= bound or losses == 1.0):
        return "worse"
    if spread > bound and wins < 1.0 and losses < 1.0:
        return "unresolved"
    return "unchanged"


def fmt(x):
    return "-" if x is None else f"{x:.4g}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = load(sys.argv[1]), load(sys.argv[2])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]]
    head = ("workload", "metric", "unit", "before q1/med/q3", "after q1/med/q3",
            "change", "bound", "verdict")
    rows = [head]
    for w in workloads:
        fa, na = failed_ops(before, w)
        fb, nb = failed_ops(after, w)
        if not na and not nb:
            continue
        regressed = nb > 0 and fb / nb > (fa / na if na else 0.0)
        rows.append((w, "failed_ops", "count", f"{fa} (n={na})", f"{fb} (n={nb})", "-", "0",
                     "worse" if regressed else ("ok" if fb == 0 else "unchanged")))
        for traced, metrics in ((False, spec["end_to_end"]), (True, spec["per_layer"])):
            for m in metrics:
                a = values(before, w, m["name"], traced)
                b = values(after, w, m["name"], traced)
                if not a and not b:
                    continue
                qa, qb = quartiles(a), quartiles(b)
                change = "-"
                if qa[1] and qb[1] is not None:
                    change = f"{100.0 * (qb[1] - qa[1]) / abs(qa[1]):+.1f}%"
                if "bound" in m:
                    v = verdict(a, b, m["bound"], m["better"] == "lower")
                    bound = f"{100 * m['bound']:.0f}%"
                else:
                    v, bound = "-", "-"
                if regressed:
                    v = "worse (failures)"
                rows.append((w, m["name"], m["unit"],
                             "/".join(fmt(x) for x in qa) + f" (n={len(a)})",
                             "/".join(fmt(x) for x in qb) + f" (n={len(b)})",
                             change, bound, v))
    widths = [max(len(str(r[i])) for r in rows) for i in range(len(head))]
    for r in rows:
        print("  ".join(str(c).ljust(widths[i]) for i, c in enumerate(r)).rstrip())
    print()
    print("tracing overhead (median traced wall_s / median untraced wall_s - 1):")
    for w in workloads:
        for side, recs in (("before", before), ("after", after)):
            t = [r["metrics"]["wall_s"]["value"] for r in recs
                 if r["workload"] == w and r["trace"]]
            u = values(recs, w, "wall_s", False)
            if t and u:
                ov = statistics.median(t) / statistics.median(u) - 1
                print(f"  {w:14s} {side:6s} {100 * ov:+.1f}% "
                      f"(traced n={len(t)}, untraced n={len(u)})")


if __name__ == "__main__":
    main()
