"""Where the seconds are: a table per workload from traced runs' spans.

    python3 perfbench/spans.py [spans.jsonl ...]

With no argument it reads every file in perfbench/.results/spans/ (one per
traced run, named <workload>-seed<n>.jsonl). Spans form a tree
pass -> op -> job -> stage. For each op, averaged over the traced passes:
wall time, time with at least one job running, driver self time (wall
minus that), and jobs, stages and tasks run. Module totals follow.
"""
import collections
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def covered_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] inside the union of intervals."""
    total, reach = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def table(files):
    by_op = collections.defaultdict(lambda: collections.Counter())
    modules = {}
    passes = set()
    for path in files:
        spans = [json.loads(line) for line in open(path) if line.strip()]
        kids = collections.defaultdict(list)
        for s in spans:
            kids[s["parent"]].append(s)
        for p in (s for s in spans if s["kind"] == "pass"):
            passes.add((path, p["id"]))
            for op in kids[p["id"]]:
                jobs = kids[op["id"]]
                stages = [st for j in jobs for st in kids[j["id"]]]
                wall = op["end_ms"] - op["start_ms"]
                busy = covered_ms([(j["start_ms"], j["end_ms"]) for j in jobs],
                                  op["start_ms"], op["end_ms"])
                c = by_op[op["name"]]
                c.update(wall=wall, busy=busy, jobs=len(jobs), stages=len(stages),
                         tasks=sum(st["tasks"] for st in stages),
                         task_s=sum(st["task_s"] for st in stages))
                modules[op["name"]] = op["module"]
    n = max(1, len(passes))
    rows = sorted(by_op.items(), key=lambda kv: -kv[1]["wall"])
    total = sum(c["wall"] for _, c in rows) or 1
    print(f"{len(passes)} traced passes; seconds per pass")
    print(f"{'op':24s} {'module':14s} {'wall':>7s} {'share':>6s} {'in jobs':>8s} "
          f"{'driver':>7s} {'task_s':>7s} {'jobs':>5s} {'stages':>6s} {'tasks':>6s}")
    per_module = collections.defaultdict(collections.Counter)
    for name, c in rows:
        per_module[modules[name]].update(c)
        print(f"{name:24s} {modules[name]:14s} {c['wall'] / n / 1e3:7.3f} "
              f"{100 * c['wall'] / total:5.1f}% {c['busy'] / n / 1e3:8.3f} "
              f"{(c['wall'] - c['busy']) / n / 1e3:7.3f} {c['task_s'] / n:7.3f} "
              f"{c['jobs'] / n:5.0f} {c['stages'] / n:6.0f} {c['tasks'] / n:6.0f}")
    print()
    for m, c in sorted(per_module.items(), key=lambda kv: -kv[1]["wall"]):
        print(f"{'':24s} {m:14s} {c['wall'] / n / 1e3:7.3f} "
              f"{100 * c['wall'] / total:5.1f}% {c['busy'] / n / 1e3:8.3f} "
              f"{(c['wall'] - c['busy']) / n / 1e3:7.3f} {c['task_s'] / n:7.3f} "
              f"{c['jobs'] / n:5.0f} {c['stages'] / n:6.0f} {c['tasks'] / n:6.0f}")


def main(argv):
    files = argv[1:] or sorted(glob.glob(os.path.join(HERE, ".results", "spans", "*.jsonl")))
    if not files:
        print("no spans: run perfbench/run.py with --trace 1 first")
        return 1
    by_workload = collections.defaultdict(list)
    for f in files:
        by_workload[os.path.basename(f).rsplit("-seed", 1)[0]].append(f)
    for w, fs in sorted(by_workload.items()):
        print(f"\n== {w} ({len(fs)} runs)")
        table(fs)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
