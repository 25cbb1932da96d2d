"""Summarizes one result set, or compares two (parent, then change).

    python3 perfbench/compare.py runs.jsonl
    python3 perfbench/compare.py parent.jsonl change.jsonl

A result set is the file run.py appends one record to per run. Untraced
runs give the end-to-end metrics. Per workload and metric this prints the
sample count, median and quartiles of the per-run values, and the highest
percentile of the pooled per-pass timings that has at least ten samples
beyond it, and the median of the runs' calibration canaries. Time metrics
are scaled by each run's canary; their medians as measured follow as
`raw`. With two sets it also prints a verdict:

  gain         >= 10 pairs, the change wins >= 9/10 of them (ties count for
               neither) and the medians differ by more than the parent's IQR
  regression   the change's median is worse than the parent's by more than
               the metric's bound in BENCHMARK.json
  unresolved   the parent's own spread (IQR / median) exceeds the bound,
               and not every change run beats every parent run
  ok           none of the above: no regression beyond the bound

Pairs are formed in run order, so run parent and change alternately.
When a scaled metric's change and its raw change differ by more than the
metric's bound, the verdict is marked `scaling disagrees`: the canary moved
with the change, or the machine's speed changed between the sets.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SCALED = ("setup_s", "cold_pass_s", "pass_s", "cpu_s")


def load(path):
    with open(path) as f:
        runs = [json.loads(line) for line in f if line.strip()]
    return sorted((r for r in runs if not r["trace"]), key=lambda r: r["time"])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def tail(xs):
    """Highest of p50..p99 with at least ten samples beyond it."""
    for p in (99, 95, 90, 75, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            return f"p{p}={statistics.quantiles(xs, n=100)[p - 1]:.4g} of {len(xs)} passes"
    return "-"


def pooled(runs, metric):
    """Every warm pass's value of a per-pass metric, scaled as run.py scales."""
    if metric not in ("pass_s", "cpu_s", "peak_rss_mb"):
        return []
    k = run.scale if metric in SCALED else (lambda r: 1.0)
    return [p[metric] * k(r) for r in runs for p in r["passes"]]


def verdict(a, b, better, bound):
    sign = 1 if better == "lower" else -1
    ma, mb = statistics.median(a), statistics.median(b)
    q1, q3 = quartiles(a)
    pairs = list(zip(a, b))
    wins = sum(1 for x, y in pairs if sign * (x - y) > 0)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and sign * (ma - mb) > q3 - q1:
        return f"gain ({wins}/{len(pairs)} pairs)"
    if sign * (mb - ma) > bound * ma:
        return f"regression ({100 * (mb - ma) / ma:+.1f}%)"
    if (q3 - q1) / ma > bound and not all(sign * (x - y) > 0 for x in a for y in b):
        return f"unresolved (spread {100 * (q3 - q1) / ma:.1f}% > bound)"
    return f"ok ({100 * (mb - ma) / ma:+.1f}%, {wins}/{len(pairs)} pairs won)"


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    sets = [load(p) for p in argv[1:]]
    for w in [x["name"] for x in spec["workloads"]]:
        per = [[r for r in s if r["workload"] == w] for s in sets]
        if not any(per):
            continue
        canary = [statistics.median(c for r in rs for c in r["canaries"]) if rs else None
                  for rs in per]
        print(f"\n{w}: " + ", ".join(
            f"{len(rs)} runs, {sum(bool(r['failures']) for r in rs)} with failures, "
            f"{sum(r['contended_passes'] for r in rs)} contended passes, "
            f"canary median {c:.4g} s" for rs, c in zip(per, canary) if rs))
        for m in spec["end_to_end"]:
            cells = []
            vals = [[r["metrics"][m["name"]] for r in rs] for rs in per]
            for rs, xs in zip(per, vals):
                if not xs:
                    cells.append("no runs")
                    continue
                q1, q3 = quartiles(xs)
                cells.append(f"n={len(xs)} median={statistics.median(xs):.4g} "
                             f"q1={q1:.4g} q3={q3:.4g} {tail(pooled(rs, m['name']))}")
            raw = [[r["unscaled"][m["name"]] for r in rs] if m["name"] in SCALED else []
                   for rs in per]
            cells = [c + (f" raw={statistics.median(x):.4g}" if x else "")
                     for c, x in zip(cells, raw)]
            line = f"  {m['name']:12s} {m['unit']:3s} " + " | ".join(cells)
            if len(vals) == 2 and all(vals):
                line += "  -> " + verdict(vals[0], vals[1], m["better"], m["bound"])
                if all(raw):
                    scaled, unscaled = (statistics.median(b) / statistics.median(a) - 1
                                        for a, b in (vals, raw))
                    if abs(scaled - unscaled) > m["bound"]:
                        line += (f"; scaling disagrees ({100 * scaled:+.1f}% scaled, "
                                 f"{100 * unscaled:+.1f}% raw)")
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
