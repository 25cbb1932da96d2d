#!/usr/bin/env python3
"""Standing scale-correctness gate: runs graft.Verify on a fixture and
gives every selected query one verdict against its DuckDB oracle.

Usage:
  python3 tools/scale_gate.py <tag> <fixtureDir> <label>
      [--queries a,b,...] [--skip-verify] [--out-json PATH]

  tag        round tag, e.g. r11 (artifact CORRECTNESS_<tag>_<label>.json)
  fixtureDir scale fixture (tools/make_scale_fixture.py or
             tools/make_zipf_fixture.py output)
  label      artifact label, e.g. 10x, 100x or zipf
  --queries  subset (default: every catalog query)
  --skip-verify  reuse the Verify outputs already in the work directory
             (local iteration)

The pinned queries are the keys of <out>/pinned_oracle.json: their
committed oracle is infeasible at scale, so tools/pinned_check.py runs
their recipe instead — but only after a cross-validation proves each
selected recipe equal to the committed oracle at GRAFT_XVAL_SF, where
both run. Every other query runs its committed oracle through
tools/check.py's compare. Each oracle runs in its own process.

Verdicts:
  PASS, PASS-<recipe>  the engine's result hash-equals the oracle's
  FAIL                 they differ, the result is missing, the oracle
                       SQL is wrong, or a recipe failed cross-validation
  ORACLE-INFEASIBLE    the oracle ran out of time, memory or spill
                       space; DuckDB's reason is recorded
  NO-ORACLE            a result with no oracle SQL
  XVAL-SKIPPED         the committed oracle could not run at the
                       cross-validation scale, so the recipe is unproven
Exit 0 only when every selected query has a PASS verdict.

Defaults come from the machine: SPARK_DRIVER_MEM and GRAFT_CHECK_MEMLIMIT
are each half the RAM, GRAFT_CHECK_THREADS is the core count,
GRAFT_CHECK_TMPDIR is <work>/duckdb_tmp, and the DuckDB spill is capped at
half the free space of its filesystem (tools/check.py).
Env knobs: GRAFT_SCALE_ORACLE_TIMEOUT (default 900 s),
GRAFT_SCALE_PINNED_TIMEOUT (default 3600 s), GRAFT_SCALE_WORK (default
/tmp/scale_gate_<label>), GRAFT_SKIP_XVAL=1 (local iteration ONLY — a
round artifact must come from a run with the cross-validation on),
GRAFT_XVAL_SF (default /root/testdata/sf0.01).

Serialize with other sbt/Spark/DuckDB jobs (bench contamination).
"""
import collections
import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq

import check
import pinned_check

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# committed-oracle slots that need more than the default budget at 100x+
# (measured r9/r10: recursive/quadratic oracle shapes)
HEAVY_TIMEOUT_S = {"q_levenshtein": 3600, "q_lm_score_bounded": 1800,
                   "q_lm_score": 1800, "q_quality_classifier": 1800}
XVAL_TIMEOUT_S = 900


def isolated(timeout, fn, *args):
    """fn(*args) -> (verdict, detail) in a child process, killed 30 s past
    `timeout`: DuckDB does not honour an interrupt in every plan, and a
    child also returns each oracle's memory when it exits."""
    with multiprocessing.Pool(1) as pool:  # leaving the block kills it
        try:
            return pool.apply_async(fn, args).get(timeout + 30)
        except multiprocessing.TimeoutError:
            return "INFEASIBLE", (f"oracle ignored its {timeout}s interrupt; "
                                  "process killed")


def committed(fixture, out, q, sql, timeout):
    with check.connect(fixture) as con:
        return check.verdict(con, pq.read_table(f"{out}/{q}"), sql, timeout)


def verify(sf_dir, out, queries, driver_mem):
    """graft.Verify of `queries` (all when None) on `sf_dir` into `out`."""
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_EXPORT_MODELS="1",
               SPARK_DRIVER_MEM=driver_mem)
    if queries:
        env["SPARK_GRAFT_ONLY"] = ",".join(queries)
    cmd = ["sbt", "-batch", f"runMain graft.Verify {sf_dir} {out}"]
    print("+", " ".join(cmd), flush=True)
    if subprocess.run(cmd, cwd=REPO, env=env).returncode != 0:
        sys.exit(f"Verify failed on {sf_dir}")


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = sys.argv[1:]

    def opt(name):
        return opts[opts.index(name) + 1] if name in opts else None

    args = [a for a in args if a not in (opt("--queries"), opt("--out-json"))]
    if len(args) < 3:
        sys.exit(__doc__)
    tag, fixture, label = args[:3]
    selected = opt("--queries").split(",") if opt("--queries") else None
    out_json = opt("--out-json") or f"{REPO}/CORRECTNESS_{tag}_{label}.json"
    skip_verify = "--skip-verify" in opts
    run_xval = os.environ.get("GRAFT_SKIP_XVAL") != "1"
    work = os.environ.get("GRAFT_SCALE_WORK", f"/tmp/scale_gate_{label}")
    out, xval_out = f"{work}/verify_out", f"{work}/xval_out"
    os.makedirs(work, exist_ok=True)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    driver_mem = os.environ.get("SPARK_DRIVER_MEM", f"{max(2, ram_gb // 2)}g")
    os.environ.setdefault("GRAFT_CHECK_MEMLIMIT", f"{max(1, ram_gb // 2)}GB")
    os.environ.setdefault("GRAFT_CHECK_THREADS", str(os.cpu_count() or 1))
    os.environ.setdefault("GRAFT_CHECK_TMPDIR", f"{work}/duckdb_tmp")
    timeout = int(os.environ.get("GRAFT_SCALE_ORACLE_TIMEOUT", "900"))
    pinned_timeout = int(os.environ.get("GRAFT_SCALE_PINNED_TIMEOUT", "3600"))

    # ---- the engine at scale -------------------------------------------
    if not (skip_verify and os.path.exists(f"{out}/oracle_sql.json")):
        verify(fixture, out, selected, driver_mem)
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    pinned = json.load(open(f"{out}/pinned_oracle.json"))
    results = check.result_names(out)
    names = selected or sorted(set(oracle) | results)

    # ---- each selected recipe proven against the committed oracle ------
    xval = {}
    pinned_sel = [q for q in names if q in pinned]
    if run_xval and pinned_sel:
        xval_sf = os.environ.get("GRAFT_XVAL_SF", "/root/testdata/sf0.01")
        if not (skip_verify and os.path.exists(f"{xval_out}/pinned_oracle.json")):
            verify(xval_sf, xval_out, pinned_sel, driver_mem)
        xrecipes = json.load(open(f"{xval_out}/pinned_oracle.json"))
        for q in pinned_sel:
            v, detail = isolated(XVAL_TIMEOUT_S, pinned_check.check, xval_sf,
                                 xval_out, q, xrecipes[q], XVAL_TIMEOUT_S,
                                 256, True)
            xval[q] = (v, f"cross-validation at {xval_sf}: {detail}")
            print(f"XVAL {v}  {q} {detail}", flush=True)

    # ---- one verdict per query -----------------------------------------
    queries = {}
    for q in names:
        t0 = time.time()
        if q not in oracle and q not in pinned:
            v, detail = "NO-ORACLE", "no oracle SQL in oracle_sql.json"
        elif q not in results:
            v, detail = "FAIL", "no result parquet (Verify did not write it)"
        elif q in xval and not xval[q][0].startswith("PASS"):
            v, detail = xval[q]
        elif q in pinned:
            v, detail = isolated(pinned_timeout, pinned_check.check, fixture,
                                 out, q, pinned[q], pinned_timeout)
        else:
            tmo = HEAVY_TIMEOUT_S.get(q, timeout)
            v, detail = isolated(tmo, committed, fixture, out, q, oracle[q],
                                 tmo)
        v = "ORACLE-INFEASIBLE" if v == "INFEASIBLE" else v
        queries[q] = {"verdict": v, "detail": f"{detail} [{time.time() - t0:.0f}s]"}
        print(f"{v}  {q} {queries[q]['detail']}", flush=True)

    counts = collections.Counter(r["verdict"] for r in queries.values())
    doc = {"fixture": fixture, "label": label, "xval": run_xval,
           "summary": dict(sorted(counts.items())),
           "queries": dict(sorted(queries.items()))}
    with open(out_json, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"\n{doc['summary']} over {len(queries)} queries -> {out_json}",
          flush=True)
    sys.exit(0 if all(v.startswith("PASS") for v in counts) else 1)


if __name__ == "__main__":
    main()
