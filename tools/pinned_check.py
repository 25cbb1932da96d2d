#!/usr/bin/env python3
"""Scale-oracle check for queries whose COMMITTED DuckDB oracle is
infeasible at a fixture scale (k-means training unrolls that OOM past
10x; recursive-CTE closures that explode on clique-dense pair graphs).

Executes the recipes `graft.Verify` dumps to <outDir>/pinned_oracle.json
(authored in each query's catalog spec, QuerySpec.pinned, next to its
committed oracle):

  kind "sql"     — the training CTEs are replaced by reads of the
                   engine's exported model tables (<outDir>/_models/<m>,
                   written by Verify under SPARK_GRAFT_EXPORT_MODELS=1;
                   training is deterministic + 6-decimal-quantized, so
                   the export is hash-stable). DuckDB verifies the full
                   probe/assignment/ADC path treating the model as input.
                   Training itself stays proven by the unrolled oracle at
                   the scales where it runs.
  kind "closure" — pairs_sql materializes the pair graph, a scripted
                   bounded-round MIN-LABEL PROPAGATION computes
                   labels(node, lbl) = min id of each connected
                   component (mathematically identical to the committed
                   recursive closure's least(u, min(v))), and final_sql
                   consumes `labels` to rebuild the full output relation.

The connection, the engine-vs-oracle compare and the rule for an oracle
that runs out of resources are tools/check.py's (so is its GRAFT_CHECK_*
environment).

Usage:
  python3 tools/pinned_check.py <sfDir> <outDir> <query>
      [--timeout S] [--maxrounds N] [--cross-validate]

--cross-validate additionally runs the COMMITTED oracle from
oracle_sql.json and hash-compares the two oracle relations against each
other — use it at a scale where both run (sf0.01/sf0.1) to prove the
pinned recipe is equivalent, not merely engine-agreeing.

Verdicts (stdout): PASS-MODEL-PINNED / PASS-ITER-CLOSURE /
PASS-MODEL-PINNED-CLOSURE, FAIL (mismatch, or no fixpoint within
--maxrounds), INFEASIBLE, XVAL-SKIPPED (the committed oracle could not
run, so the recipe is unproven). Exit 0 = pass, 1 = FAIL or usage,
2 = INFEASIBLE, 3 = XVAL-SKIPPED.
"""
import glob
import hashlib
import json
import sys

import pyarrow.parquet as pq

from check import (RESOURCE_ERRORS, compare, connect, deadline,
                   infeasible_reason)

EXIT = {"FAIL": 1, "INFEASIBLE": 2, "XVAL-SKIPPED": 3}


def model_md5(out_dir, name):
    files = sorted(glob.glob(f"{out_dir}/_models/{name}/*.parquet"))
    if not files:
        return None
    h = hashlib.md5()
    for f in files:
        h.update(open(f, "rb").read())
    return h.hexdigest()[:12]


def closure(con, r, maxrounds):
    """The closure recipe's final relation and its round count; None for
    the relation when labels did not settle within `maxrounds`."""
    con.execute(f"CREATE TEMP TABLE __pairs AS {r['pairs_sql']}")
    con.execute("CREATE TEMP TABLE __edges AS "
                "SELECT ida AS u, idb AS v FROM __pairs "
                "UNION SELECT idb, ida FROM __pairs")
    # round 0: every node starts at min(self, direct neighbors) —
    # identical to the recursive closure's base case
    con.execute("CREATE TEMP TABLE labels AS "
                "SELECT u AS node, least(u, min(v)) AS lbl "
                "FROM __edges GROUP BY u")
    for rounds in range(1, maxrounds + 1):
        con.execute(
            "CREATE OR REPLACE TEMP TABLE __next AS "
            "SELECT l.node AS node, least(l.lbl, min(ln.lbl)) AS lbl "
            "FROM labels l JOIN __edges e ON l.node = e.u "
            "JOIN labels ln ON e.v = ln.node "
            "GROUP BY l.node, l.lbl")
        changed = con.sql(
            "SELECT count(*) FROM labels l JOIN __next n "
            "USING (node) WHERE l.lbl <> n.lbl").fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE labels AS "
                    "SELECT * FROM __next")
        if changed == 0:
            return con.sql(r["final_sql"]).arrow(), rounds
    return None, maxrounds


def check(sf_dir, out_dir, query, r, timeout=900, maxrounds=256,
          cross=False):
    """(verdict, detail) of the engine's <out_dir>/<query> result against
    the query's pinned recipe `r` (and, with `cross`, of the recipe
    against the committed oracle)."""
    with connect(sf_dir) as con:
        mhashes = []
        for m in [m for m in r.get("models", "").split(",") if m]:
            md5 = model_md5(out_dir, m)
            if md5 is None:
                return "FAIL", (f"model table _models/{m} missing — run Verify "
                                "with SPARK_GRAFT_EXPORT_MODELS=1")
            mhashes.append(f"{m}:{md5}")
            con.execute(f"CREATE VIEW __m_{m} AS SELECT * FROM "
                        f"read_parquet('{out_dir}/_models/{m}/*.parquet')")
        rounds = 0
        try:
            with deadline(con, timeout):
                if r["kind"] == "sql":
                    exp = con.sql(r["sql"]).arrow()
                else:
                    exp, rounds = closure(con, r, maxrounds)
        except RESOURCE_ERRORS as e:
            return "INFEASIBLE", infeasible_reason(e, timeout)
        if exp is None:
            return "FAIL", (f"min-label propagation did not reach a fixpoint "
                            f"within {maxrounds} rounds")
        v, detail = compare(pq.read_table(f"{out_dir}/{query}"), exp)
        if v != "PASS":
            return "FAIL", f"[pinned] {detail}"
        if r["kind"] == "closure":
            detail += f" rounds={rounds}"
        if mhashes:
            detail += f" models=[{', '.join(mhashes)}]"
        v = {"sql": "PASS-MODEL-PINNED",
             "closure": "PASS-MODEL-PINNED-CLOSURE" if mhashes
             else "PASS-ITER-CLOSURE"}[r["kind"]]
        if cross:
            committed = json.load(open(f"{out_dir}/oracle_sql.json"))[query]
            try:
                with deadline(con, timeout):
                    exp2 = con.sql(committed).arrow()
            except RESOURCE_ERRORS as e:
                return "XVAL-SKIPPED", ("committed oracle infeasible here ("
                                        f"{infeasible_reason(e, timeout)}); "
                                        f"recipe unproven, engine {detail}")
            xv, xdetail = compare(exp, exp2)
            if xv != "PASS":
                return "FAIL", f"[pinned-vs-committed] {xdetail}"
            detail += " cross-validated: pinned relation == committed relation"
        return v, detail


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = sys.argv[1:]

    def opt(name, default):
        return opts[opts.index(name) + 1] if name in opts else default

    if len(args) < 3:
        sys.exit(__doc__)
    sf_dir, out_dir, query = args[:3]
    recipes = json.load(open(f"{out_dir}/pinned_oracle.json"))
    if query not in recipes:
        sys.exit(f"{query} has no pinned_oracle recipe")
    v, detail = check(sf_dir, out_dir, query, recipes[query],
                      int(opt("--timeout", "900")),
                      int(opt("--maxrounds", "256")),
                      "--cross-validate" in opts)
    print(f"{v} {query}: {detail}")
    sys.exit(EXIT.get(v, 0))


if __name__ == "__main__":
    main()
