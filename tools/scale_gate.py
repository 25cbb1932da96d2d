#!/usr/bin/env python3
"""Standing scale-correctness gate (the repeatable form of the 100x sweep
chain scripts that previously lived in /tmp).

Runs graft.Verify on a scale fixture and oracle-checks EVERY query with
one DuckDB process per query (a single all-query process buffers output
until the end and one pathological oracle sinks the whole sweep), with:

  - a MANDATORY pinned-recipe cross-validation FIRST: each
    pinned recipe (QuerySpec.pinned) is proven equal to the COMMITTED
    oracle at a feasible scale (sf0.01) before it is trusted as a scale
    oracle. A drifted/poisoned recipe fails the gate loudly (XVAL-FAIL)
    — the pinned slots can never pass on semantics that no longer match.
  - pinned_check for the pinnedOracle slots (model-pinned probe/ADC SQL,
    scripted min-label closure), committed-oracle check.py for the rest.
  - per-query timeout/memory budgets; a timeout is recorded
    ORACLE-INFEASIBLE (the engine produced output; the oracle ran out of
    resources), never laundered into PASS or FAIL.

Usage:
  python3 tools/scale_gate.py <tag> <fixtureDir> <label>
      [--queries a,b,...] [--skip-verify] [--out-json PATH]

  tag        round tag, e.g. r11 (artifact CORRECTNESS_<tag>_<label>.json)
  fixtureDir scale fixture (tools/make_scale_fixture.py output)
  label      artifact label, e.g. 100x or 1000x
  --queries  subset (default: every catalog query)
  --skip-verify  reuse an existing <work>/verify_out (local iteration)

Env knobs: GRAFT_SCALE_ORACLE_TIMEOUT (default 900 s),
GRAFT_CHECK_MEMLIMIT (default 60GB), GRAFT_CHECK_THREADS (default 16),
GRAFT_SCALE_WORK (default /tmp/scale_gate_<label>), GRAFT_SKIP_XVAL=1
(local iteration ONLY — the round artifact must come from a run with the
cross-validation on), GRAFT_XVAL_SF (default /root/testdata/sf0.01).

Serialize with other sbt/Spark/DuckDB jobs (bench contamination).
"""
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# pinnedOracle slots (QuerySpec.pinned): committed oracle is
# infeasible at scale; verified via the cross-validated recipe instead
PINNED = ["q_ann_ivfpq", "q_ann_recall", "q_dedup_clusters", "q_semdedup"]

# committed-oracle slots that need more than the default budget at 100x+
# (measured r9/r10: recursive/quadratic oracle shapes)
HEAVY_TIMEOUT_S = {"q_levenshtein": 3600, "q_lm_score_bounded": 1800,
                   "q_lm_score": 1800, "q_quality_classifier": 1800}

ORACLE_TIMEOUT_S = int(os.environ.get("GRAFT_SCALE_ORACLE_TIMEOUT", "900"))
PINNED_TIMEOUT_S = int(os.environ.get("GRAFT_SCALE_PINNED_TIMEOUT", "3600"))


def run(cmd, **kw):
    print("+", " ".join(cmd), flush=True)
    return subprocess.run(cmd, **kw)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) < 3:
        sys.exit(__doc__)
    tag, fixture, label = args[0], args[1], args[2]
    queries_arg = None
    out_json = f"{REPO}/CORRECTNESS_{tag}_{label}.json"
    skip_verify = "--skip-verify" in sys.argv
    for i, a in enumerate(sys.argv):
        if a == "--queries":
            queries_arg = sys.argv[i + 1].split(",")
        if a == "--out-json":
            out_json = sys.argv[i + 1]
    work = os.environ.get("GRAFT_SCALE_WORK", f"/tmp/scale_gate_{label}")
    out = f"{work}/verify_out"
    os.makedirs(work, exist_ok=True)
    os.environ.setdefault("GRAFT_CHECK_MEMLIMIT", "60GB")
    os.environ.setdefault("GRAFT_CHECK_THREADS", "16")

    # ---- step 1: pinned-recipe cross-validation (fail loudly) ----------
    pinned_sel = [q for q in PINNED if not queries_arg or q in queries_arg]
    if os.environ.get("GRAFT_SKIP_XVAL") != "1" and pinned_sel:
        xval_sf = os.environ.get("GRAFT_XVAL_SF", "/root/testdata/sf0.01")
        xval_out = f"{work}/xval_out"
        shutil.rmtree(xval_out, ignore_errors=True)
        xenv = dict(os.environ, SPARK_GRAFT_ONLY=",".join(pinned_sel),
                    SPARK_GRAFT_EXPORT_MODELS="1")
        r = run(["sbt", "-batch",
                 f"runMain graft.Verify {xval_sf} {xval_out}"],
                cwd=REPO, env=xenv)
        if r.returncode != 0:
            sys.exit("cross-validation Verify failed")
        for q in pinned_sel:
            r = run(["python3", f"{REPO}/tools/pinned_check.py", xval_sf,
                     xval_out, q, "--cross-validate", "--timeout", "900"])
            if r.returncode != 0:
                sys.exit(f"XVAL-FAIL {q}: pinned recipe no longer matches "
                         f"the committed oracle at {xval_sf} — refusing to "
                         "use it as a scale oracle.")
            print(f"XVAL-OK  {q} (recipe == committed oracle at {xval_sf})",
                  flush=True)

    # ---- step 2: engine run at scale -----------------------------------
    if not (skip_verify and os.path.exists(f"{out}/oracle_sql.json")):
        shutil.rmtree(out, ignore_errors=True)
        env = dict(os.environ, SPARK_GRAFT_EXPORT_MODELS="1",
                   SPARK_DRIVER_MEM=os.environ.get("SPARK_DRIVER_MEM", "48g"))
        if queries_arg:
            env["SPARK_GRAFT_ONLY"] = ",".join(queries_arg)
        r = run(["sbt", "-batch", f"runMain graft.Verify {fixture} {out}"],
                cwd=REPO, env=env)
        if r.returncode != 0:
            sys.exit("Verify failed")

    # ---- step 3: chunked per-query oracle sweep ------------------------
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    result_dirs = {d for d in os.listdir(out)
                   if os.path.isdir(f"{out}/{d}") and not d.startswith("_")}
    names = queries_arg or sorted(set(oracle) | set(PINNED) | result_dirs)
    queries, n_pass, n_inf, n_fail, n_noorc = {}, 0, 0, 0, 0
    for q in names:
        t0 = time.time()
        if q in PINNED:
            try:
                r = subprocess.run(
                    ["python3", f"{REPO}/tools/pinned_check.py", fixture,
                     out, q, "--timeout", str(PINNED_TIMEOUT_S)],
                    capture_output=True, text=True,
                    timeout=PINNED_TIMEOUT_S + 120)
                line = next((l for l in r.stdout.strip().splitlines()
                             if l.startswith(("PASS", "MISMATCH",
                                              "INFEASIBLE", "NO-CONVERGE"))),
                            r.stdout.strip()[-200:])
                if r.returncode == 0:
                    verdict = line.split()[0]
                    n_pass += 1
                elif r.returncode == 2:
                    verdict, n_inf = "ORACLE-INFEASIBLE", n_inf + 1
                else:
                    verdict, n_fail = "FAIL", n_fail + 1
                detail = f"{line.split(q)[-1].strip()} [{int(time.time()-t0)}s]"
            except subprocess.TimeoutExpired:
                verdict, n_inf = "ORACLE-INFEASIBLE", n_inf + 1
                detail = f"pinned oracle exceeded {PINNED_TIMEOUT_S}s"
            queries[q] = {"verdict": verdict, "detail": detail}
            print(f"{verdict}  {q} {detail}", flush=True)
            continue
        if q not in oracle:
            n_noorc += 1
            queries[q] = {"verdict": "NO-ORACLE",
                          "detail": "missing from oracle_sql.json"}
            print(f"NO-ORACLE  {q}", flush=True)
            continue
        qdir = f"{work}/chk_{q}"
        shutil.rmtree(qdir, ignore_errors=True)
        os.makedirs(qdir)
        os.symlink(f"{out}/{q}", f"{qdir}/{q}")
        json.dump({q: oracle[q]}, open(f"{qdir}/oracle_sql.json", "w"))
        tmo = HEAVY_TIMEOUT_S.get(q, ORACLE_TIMEOUT_S)
        try:
            r = subprocess.run(
                ["python3", f"{REPO}/tools/check.py", fixture, qdir],
                capture_output=True, text=True, timeout=tmo)
            dt = int(time.time() - t0)
            line = next((l for l in r.stdout.strip().splitlines()
                         if l.startswith(("PASS", "FAIL", "SKIP"))), "")
            if line.startswith("SKIP"):
                verdict, n_noorc = "NO-ORACLE", n_noorc + 1
            elif r.returncode == 0:
                verdict, n_pass = "PASS", n_pass + 1
            else:
                verdict, n_fail = "FAIL", n_fail + 1
            queries[q] = {"verdict": verdict,
                          "detail": f"{line.split(q)[-1].strip()} [{dt}s]"}
        except subprocess.TimeoutExpired:
            n_inf += 1
            queries[q] = {"verdict": "ORACLE-INFEASIBLE",
                          "detail": f"DuckDB oracle exceeded {tmo}s; "
                                    "hash-verified at smaller scales"}
        print(f"{queries[q]['verdict']}  {q} {queries[q]['detail']}",
              flush=True)
        shutil.rmtree(qdir, ignore_errors=True)

    summary = {"fixture": fixture, "label": label,
               "total": len(queries), "pass": n_pass, "fail": n_fail,
               "oracle_infeasible": n_inf, "no_oracle": n_noorc,
               "xval": os.environ.get("GRAFT_SKIP_XVAL") != "1",
               "queries": queries}
    json.dump(summary, open(out_json, "w"), indent=1)
    print(f"\n{n_pass} pass, {n_fail} fail, {n_inf} infeasible, "
          f"{n_noorc} no-oracle -> {out_json}", flush=True)
    sys.exit(1 if (n_fail or n_noorc) else 0)


if __name__ == "__main__":
    main()
