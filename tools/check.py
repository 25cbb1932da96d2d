#!/usr/bin/env python3
"""The DuckDB oracle gate, and the compare every gate tool shares.

Usage: python3 tools/check.py [sfDir] [outDir] [query ...]
  1. assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran
  2. loads each <outDir>/<name> parquet result (a directory whose name
     starts with `_`, such as the `_models` export, is not a result);
     named queries restrict the check to those
  3. runs the oracle SQL from <outDir>/oracle_sql.json in DuckDB with one
     view per testdata parquet table
  4. compares: arrow dtype classes matched, columns sorted by name, rows
     sorted, values hashed

An oracle that runs out of time, memory or disk is INFEASIBLE, with
DuckDB's message; any other oracle error (parser, binder, catalog) is a
FAIL. Exit 0 only when nothing FAILs, is INFEASIBLE or is MISSing.

Environment (optional): GRAFT_CHECK_MEMLIMIT (DuckDB memory_limit; unset =
DuckDB's default, 80% of RAM), GRAFT_CHECK_THREADS (unset = one per core),
GRAFT_CHECK_TMPDIR (spill directory; unset = `.tmp` in the working
directory). The spill is capped at half the free space of the spill
directory's filesystem, so a runaway oracle stops with an out-of-memory
error instead of filling the disk.
"""
import contextlib
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

# oracle errors that mean "ran out of resources", not "wrong SQL": the
# timeout's interrupt, the memory limit or spill cap, and a full disk
RESOURCE_ERRORS = (duckdb.InterruptException, duckdb.OutOfMemoryException,
                   duckdb.IOException)


def connect(sf_dir):
    """A DuckDB connection with one view per table under `sf_dir`."""
    con = duckdb.connect()
    env = os.environ
    if env.get("GRAFT_CHECK_MEMLIMIT"):
        con.execute(f"SET memory_limit='{env['GRAFT_CHECK_MEMLIMIT']}'")
    if env.get("GRAFT_CHECK_THREADS"):
        con.execute(f"SET threads={int(env['GRAFT_CHECK_THREADS'])}")
    tmp = env.get("GRAFT_CHECK_TMPDIR")
    if tmp:
        os.makedirs(tmp, exist_ok=True)
        con.execute(f"SET temp_directory='{tmp}'")
    fs = os.statvfs(tmp or ".")
    cap_mib = max(1, fs.f_bavail * fs.f_frsize // 2 // 2**20)
    con.execute(f"SET max_temp_directory_size='{cap_mib}MiB'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


@contextlib.contextmanager
def deadline(con, timeout):
    """Interrupts what `con` runs once `timeout` seconds have passed — and
    keeps interrupting, so a statement that starts after the deadline
    (the next round of a scripted loop) stops too."""
    stop = threading.Event()

    def fire():
        if not stop.wait(timeout):
            con.interrupt()
            while not stop.wait(0.5):
                con.interrupt()

    if timeout:
        threading.Thread(target=fire, daemon=True).start()
    try:
        yield
    finally:
        stop.set()


def infeasible_reason(e, timeout):
    if isinstance(e, duckdb.InterruptException):
        return f"oracle interrupted after its {timeout}s timeout"
    return f"{type(e).__name__}: " + " ".join(str(e).splitlines()[:2])


def dtype_class(t) -> str:
    """Coarse arrow-type class. The driver's hasher stringifies values, and
    classes that stringify differently (decimal vs int, timestamp vs int)
    must match between Spark and the oracle — pandas to_csv normalizes
    Decimal so a plain value compare can't catch it (bit us in r02 with
    DuckDB HUGEINT -> decimal128(38,0) from uncast sum())."""
    for name, test in [("decimal", pa.types.is_decimal),
                       ("int", pa.types.is_integer),
                       ("float", pa.types.is_floating),
                       ("bool", pa.types.is_boolean),
                       ("str", lambda t: pa.types.is_string(t)
                        or pa.types.is_large_string(t)),
                       ("timestamp", pa.types.is_timestamp),
                       ("date", pa.types.is_date),
                       ("binary", lambda t: pa.types.is_binary(t)
                        or pa.types.is_large_binary(t))]:
        if test(t):
            return name
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + dtype_class(t.value_type) + ">"
    return str(t)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def digest(df: pd.DataFrame) -> str:
    rows = df.to_csv(index=False, float_format="%.10g")
    return hashlib.md5(rows.encode()).hexdigest()


def compare(got_arrow, exp_arrow):
    """("PASS", "(N rows)") or ("FAIL", why) for engine vs oracle tables."""
    s = {f.name: f.type for f in got_arrow.schema}
    o = {f.name: f.type for f in exp_arrow.schema}
    tbad = [f"{n}: spark {s[n]} ({dtype_class(s[n])}) vs oracle {o[n]} "
            f"({dtype_class(o[n])})" for n in sorted(set(s) & set(o))
            if dtype_class(s[n]) != dtype_class(o[n])]
    if tbad:
        return "FAIL", "arrow dtype drift: " + "; ".join(tbad)
    g, e = canon(got_arrow.to_pandas()), canon(exp_arrow.to_pandas())
    if list(g.columns) != list(e.columns):
        return "FAIL", (f"schema mismatch: spark={list(g.columns)} "
                        f"oracle={list(e.columns)}")
    if len(g) != len(e):
        return "FAIL", f"row count: spark={len(g)} oracle={len(e)}"
    if digest(g) != digest(e):
        info = "hash mismatch"
        for col in g.columns:  # the first differing cells, for debugging
            a, b = g[col].tolist(), e[col].tolist()
            bad = [i for i in range(len(a)) if str(a[i]) != str(b[i])][:3]
            if bad:
                info += (f"; col {col} rows {bad}: spark={[a[i] for i in bad]}"
                         f" oracle={[b[i] for i in bad]}")
                break
        return "FAIL", info
    return "PASS", f"({len(g)} rows)"


def verdict(con, got_arrow, sql, timeout=None):
    """PASS, FAIL or INFEASIBLE, with its detail, for one oracle query."""
    try:
        with deadline(con, timeout):
            exp_arrow = con.sql(sql).arrow()
    except RESOURCE_ERRORS as e:
        return "INFEASIBLE", infeasible_reason(e, timeout)
    except Exception as e:
        return "FAIL", f"oracle SQL error: {e}"
    return compare(got_arrow, exp_arrow)


def result_names(out_dir):
    return {d for d in os.listdir(out_dir)
            if os.path.isdir(f"{out_dir}/{d}") and not d.startswith("_")}


def main():
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_dir = args[1] if len(args) > 1 else "/tmp/verify_out"
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = result_names(out_dir)
    lines = {"PASS": [], "SKIP": [], "FAIL": [], "INFEASIBLE": [], "MISS": []}
    with connect(sf_dir) as con:
        for n in args[2:] or sorted(results | set(oracle)):
            if n not in results:
                lines["MISS"].append(f"{n}: " + (
                    "oracle declared but no result parquet" if n in oracle
                    else "no result parquet and no oracle"))
            elif n not in oracle:
                rows = pq.read_table(f"{out_dir}/{n}").num_rows
                lines["SKIP"].append(f"{n} ({rows} rows, no oracle)")
            else:
                v, detail = verdict(con, pq.read_table(f"{out_dir}/{n}"),
                                    oracle[n])
                lines[v].append(f"{n} {detail}" if v == "PASS"
                                else f"{n}: {detail}")
    for v, ls in lines.items():
        for line in ls:
            print(f"{v}  {line}")
    print(f"\n{len(lines['PASS'])} pass, {len(lines['SKIP'])} rows-only, "
          f"{len(lines['FAIL'])} fail, {len(lines['INFEASIBLE'])} infeasible, "
          f"{len(lines['MISS'])} missing")
    sys.exit(1 if lines["FAIL"] or lines["INFEASIBLE"] or lines["MISS"] else 0)


if __name__ == "__main__":
    main()
