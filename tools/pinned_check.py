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

The engine-vs-oracle compare is check.py's, verbatim: columns sorted by
name, arrow dtype classes matched, rows sorted, values md5-hashed.

Usage:
  python3 tools/pinned_check.py <sfDir> <outDir> <query>
      [--timeout S] [--memlimit M] [--threads N] [--tmpdir D]
      [--maxrounds N] [--cross-validate]

--cross-validate additionally runs the COMMITTED oracle from
oracle_sql.json and hash-compares the two oracle relations against each
other — use it at a scale where both run (sf0.01/sf0.1) to prove the
pinned recipe is equivalent, not merely engine-agreeing.

Verdicts (stdout): PASS-MODEL-PINNED / PASS-ITER-CLOSURE /
PASS-MODEL-PINNED-CLOSURE, MISMATCH, INFEASIBLE, NO-CONVERGE.
Exit 0 = pass; 1 = mismatch/usage; 2 = oracle infeasible (timeout);
3 = closure did not converge within --maxrounds.
"""
import glob
import hashlib
import json
import os
import sys
import threading

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def dtype_class(t) -> str:
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + dtype_class(t.value_type) + ">"
    return str(t)


def arrow_type_mismatches(spark_tbl, oracle_tbl):
    s = {f.name: f.type for f in spark_tbl.schema}
    o = {f.name: f.type for f in oracle_tbl.schema}
    bad = []
    for name in sorted(set(s) & set(o)):
        cs, co = dtype_class(s[name]), dtype_class(o[name])
        if cs != co:
            bad.append(f"{name}: spark {s[name]} ({cs}) vs oracle {o[name]} ({co})")
    return bad


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def digest(df: pd.DataFrame) -> str:
    rows = df.to_csv(index=False, float_format="%.10g")
    return hashlib.md5(rows.encode()).hexdigest()


def compare(query, got_arrow, exp_arrow, what):
    tbad = arrow_type_mismatches(got_arrow, exp_arrow)
    if tbad:
        print(f"MISMATCH {query} [{what}]: arrow dtype drift: " + "; ".join(tbad))
        sys.exit(1)
    g, e = canon(got_arrow.to_pandas()), canon(exp_arrow.to_pandas())
    if list(g.columns) != list(e.columns):
        print(f"MISMATCH {query} [{what}]: schema spark={list(g.columns)} "
              f"oracle={list(e.columns)}")
        sys.exit(1)
    if len(g) != len(e):
        print(f"MISMATCH {query} [{what}]: rows spark={len(g)} oracle={len(e)}")
        sys.exit(1)
    if digest(g) != digest(e):
        info = "hash mismatch"
        for col in g.columns:
            a, b = g[col].tolist(), e[col].tolist()
            bad = [i for i in range(len(a)) if str(a[i]) != str(b[i])][:3]
            if bad:
                info += (f"; col {col} rows {bad}: spark={[a[i] for i in bad]}"
                         f" oracle={[b[i] for i in bad]}")
                break
        print(f"MISMATCH {query} [{what}]: {info}")
        sys.exit(1)
    return len(g)


def model_md5(out_dir, name) -> str:
    h = hashlib.md5()
    files = sorted(glob.glob(f"{out_dir}/_models/{name}/*.parquet"))
    if not files:
        sys.exit(f"model table _models/{name} missing — run Verify with "
                 "SPARK_GRAFT_EXPORT_MODELS=1")
    for f in files:
        h.update(open(f, "rb").read())
    return h.hexdigest()[:12]


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) < 3:
        sys.exit(__doc__)
    sf_dir, out_dir, query = args[:3]
    opts = sys.argv[1:]

    def opt(name, default=None):
        return opts[opts.index(name) + 1] if name in opts else default

    timeout = int(opt("--timeout", "900"))
    maxrounds = int(opt("--maxrounds", "256"))
    cross = "--cross-validate" in opts

    recipes = json.load(open(f"{out_dir}/pinned_oracle.json"))
    if query not in recipes:
        sys.exit(f"{query} has no pinned_oracle recipe")
    r = recipes[query]
    models = [m for m in r.get("models", "").split(",") if m]

    con = duckdb.connect()
    if opt("--memlimit"):
        con.execute(f"SET memory_limit='{opt('--memlimit')}'")
    if opt("--threads"):
        con.execute(f"SET threads={int(opt('--threads'))}")
    if opt("--tmpdir"):
        os.makedirs(opt("--tmpdir"), exist_ok=True)
        con.execute(f"SET temp_directory='{opt('--tmpdir')}'")
        con.execute("SET max_temp_directory_size='200GiB'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    mhashes = []
    for m in models:
        mhashes.append(f"{m}:{model_md5(out_dir, m)}")
        con.execute(f"CREATE VIEW __m_{m} AS SELECT * FROM "
                    f"read_parquet('{out_dir}/_models/{m}/*.parquet')")

    got_arrow = pq.read_table(f"{out_dir}/{query}")

    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    rounds = 0
    try:
        if r["kind"] == "sql":
            exp = con.sql(r["sql"]).arrow()
        else:  # closure
            con.execute(f"CREATE TEMP TABLE __pairs AS {r['pairs_sql']}")
            con.execute("CREATE TEMP TABLE __edges AS "
                        "SELECT ida AS u, idb AS v FROM __pairs "
                        "UNION SELECT idb, ida FROM __pairs")
            # round 0: every node starts at min(self, direct neighbors) —
            # identical to the recursive closure's base case
            con.execute("CREATE TEMP TABLE labels AS "
                        "SELECT u AS node, least(u, min(v)) AS lbl "
                        "FROM __edges GROUP BY u")
            while True:
                rounds += 1
                if rounds > maxrounds:
                    print(f"NO-CONVERGE {query}: min-label propagation did "
                          f"not reach a fixpoint within {maxrounds} rounds")
                    sys.exit(3)
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
                    break
            exp = con.sql(r["final_sql"]).arrow()
    except (duckdb.InterruptException, RuntimeError) as e:
        print(f"INFEASIBLE {query}: oracle interrupted after {timeout}s "
              f"({type(e).__name__})")
        sys.exit(2)
    finally:
        timer.cancel()

    n = compare(query, got_arrow, exp, "pinned")

    verdict = {"sql": "PASS-MODEL-PINNED",
               "closure": "PASS-MODEL-PINNED-CLOSURE" if models
               else "PASS-ITER-CLOSURE"}[r["kind"]]
    extra = f" rounds={rounds}" if r["kind"] == "closure" else ""
    mdl = f" models=[{', '.join(mhashes)}]" if mhashes else ""
    print(f"{verdict} {query}: ({n} rows){extra}{mdl}")

    if cross:
        committed = json.load(open(f"{out_dir}/oracle_sql.json"))[query]
        timer2 = threading.Timer(timeout, con.interrupt)
        timer2.start()
        try:
            exp2 = con.sql(committed).arrow()
        except (duckdb.InterruptException, RuntimeError) as e:
            print(f"CROSS-SKIP {query}: committed oracle infeasible here "
                  f"({type(e).__name__})")
            sys.exit(0)
        finally:
            timer2.cancel()
        compare(query, exp, exp2, "pinned-vs-committed")
        print(f"CROSS-OK {query}: pinned oracle relation == committed "
              f"oracle relation ({n} rows)")
    sys.exit(0)


if __name__ == "__main__":
    main()
