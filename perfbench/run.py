"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload mapreduce --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the library and the benchmark from
source on first use (perfbench/build.sbt), generates the seeded inputs
(gen.py) and starts one benchmark JVM (src/main/scala/perfbench/Main.scala).
It sets up, runs a cold pass whose results are checked against DuckDB
oracle SQL by the repository's gate checker (tools/check.py), then warm
passes for --seconds. One caller runs the ops back to back (a closed loop
with one client).

The last stdout line is {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer
ones with --trace 1. Each run also appends its full record to
perfbench/.results/runs.jsonl (or --results), which compare.py and
spans.py read.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Every benchmark JVM gets the same heap limits, whatever the machine's
# memory: the heap starts small and grows on demand (the workloads peak near
# 1.3 GB of RSS, well below the heap limit), so peak RSS follows the heap
# the program actually uses. GC and JIT are the JVM's defaults.
HEAP_MAX = "2g"
HEAP_START = "128m"
# Calibration: about the canary kernel's time on a 4-core reference machine.
# Every time metric is scaled by CANARY_REF_S / (the run's median canary), so
# that runs made while a shared machine ran slower or faster compare: as
# measured, the medians of set-up and cold-pass time moved by up to 50%
# between sets of runs of the same code as the machine's load changed.
CANARY_REF_S = 0.1
# the JVM, the gate checker and the rest of a run end within 180 s
JVM_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 20
BUILD_TIMEOUT_S = 850
# a pass is flagged contended when the canary before it ran this much slower
# than the run's fastest canary
CONTENDED = 1.3

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark; returns the runtime classpath."""
    out = os.path.join(HERE, ".build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise RuntimeError("sbt build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


def launch(cp, work, name, args):
    """Runs one benchmark JVM to completion; returns the JSON it wrote."""
    out = os.path.join(work, f"{name}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP_START}", f"-Xmx{HEAP_MAX}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--work", work, "--out", out,
              "--launched-ns", str(time.time_ns())] + args)
    with open(os.path.join(work, f"{name}.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.send_signal(signal.SIGQUIT)  # thread dump into the log
            time.sleep(1)
            rc = "a timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, f"{name}.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(f"{name} JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def layer_metrics(spec, res):
    """Per-layer metrics of a traced run, 0 for layers the workload skips."""
    layers = dict(res["layers"])
    layers["setup.session_s"] = res["setup"]["session_s"]
    layers["setup.kernels_s"] = res["setup"]["kernels_s"]
    layers["jvm.peak_heap_after_gc_mb"] = res["peak_heap_after_gc_mb"]
    plain = statistics.median(p["pass_s"] for p in res["passes"])
    traced = statistics.median(p["pass_s"] for p in res["traced_passes"])
    layers["trace.overhead_pct"] = 100.0 * (traced - plain) / plain
    return {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}


def unscaled_times(res):
    """The time metrics as measured; warm ones are medians over passes."""
    return {
        "setup_s": res["setup"]["setup_s"],
        "cold_pass_s": res["cold_pass_s"],
        "pass_s": statistics.median(p["pass_s"] for p in res["passes"]),
        "cpu_s": statistics.median(p["cpu_s"] for p in res["passes"]),
    }


def scale(res):
    return CANARY_REF_S / statistics.median(res["canaries"])


def end_to_end_metrics(res):
    metrics = {k: scale(res) * v for k, v in unscaled_times(res).items()}
    metrics["peak_rss_mb"] = statistics.median(p["peak_rss_mb"] for p in res["passes"])
    return metrics


def check(res, data):
    """Every failed op of a run: exceptions, then the results that the
    repository's gate checker rejects against their oracle SQL."""
    failures = list(res["errors"])
    if not res["checked"]:
        return failures
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"), data, res["verify"]],
        cwd=ROOT, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=CHECK_TIMEOUT_S)
    lines = p.stdout.splitlines()
    failures += [l[6:] for l in lines if l.startswith(("FAIL  ", "MISS  "))]
    passed = sum(l.startswith("PASS  ") for l in lines)
    if passed + len(failures) - len(res["errors"]) != res["checked"]:
        failures.append(f"gate checker exited with {p.returncode} after "
                        f"{passed} of {res['checked']} results: {p.stderr[-500:]}")
    return failures


def run(a, spec):
    cp = build()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        sizes = gen.generate(data, a.seed)
        cores = os.cpu_count() or 1
        common = ["--workload", a.workload, "--seed", str(a.seed),
                  "--data", data, "--cores", str(cores)]
        res = launch(cp, work, "main", common + [
            "--seconds", str(a.seconds), "--trace", str(a.trace)])
        t0 = time.time()
        failures = check(res, data)
        log(f"checked {res['checked']} results in {time.time() - t0:.1f} s")
        for f in failures:
            log(f"FAILED {f}")
        canaries = res["canaries"]
        contended = [c for c in canaries if c > CONTENDED * min(canaries)]
        if contended:
            log(f"{len(contended)} of {len(canaries)} canaries ran contended "
                f"(canary {max(contended):.3f} s vs fastest {min(canaries):.3f} s)")
        if a.trace:
            metrics = layer_metrics(spec, res)
            spans_dir = os.path.join(HERE, ".results", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            spans = os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.jsonl")
            shutil.copyfile(res["spans"], spans)
        else:
            metrics = end_to_end_metrics(res)
            spans = None
        record = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "cores": cores, "inputs": sizes,
            "metrics": metrics, "unscaled": unscaled_times(res),
            "setup": res["setup"],
            "cold_pass_s": res["cold_pass_s"], "passes": res["passes"],
            "traced_passes": res.get("traced_passes", []),
            "ops": res["ops"],
            "canaries": canaries, "cold_peak_rss_mb": res["cold_peak_rss_mb"],
            "contended_passes": len(contended), "failures": failures,
            "spans": spans, "time": time.time(),
        }
        results = a.results or os.path.join(HERE, ".results", "runs.jsonl")
        os.makedirs(os.path.dirname(os.path.abspath(results)), exist_ok=True)
        with open(results, "a") as f:
            f.write(json.dumps(record) + "\n")
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        for k, v in metrics.items():
            log(f"{k:40s} {v:14.4f} {units[k]}")
        return {
            "correct": not failures,
            "attempted": res["attempted"],
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--results", help="file the run record is appended to")
    a = p.parse_args()
    # on SIGTERM, unwind so that the benchmark JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(spec_file) and os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))):
        log(f"graft sources or BENCHMARK.json not found under {ROOT}")
        return 2
    with open(spec_file) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {a.workload}")
        return 2
    try:
        result = run(a, spec)
    except Exception as e:
        log(f"run failed: {e}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
