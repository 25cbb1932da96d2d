#!/usr/bin/env python3
"""Build the Nx scale-up fixture used by README's scale-up check.

Usage: python3 tools/make_scale_fixture.py [srcDir] [dstDir] [factor]
  default: /root/testdata/sf0.1 -> /tmp/sf0.5x at 5x

Pipeline tables (documents, embeddings, events) are unioned `factor`
times with id-shifted copies (an adversarial fixture: every doc gains
factor-1 exact duplicates, stressing the dedup/refinement paths).

TPC-H-ish tables (part, supplier, customer, orders, lineitem) are unioned
`factor` times too, copy i adding i*ID_SHIFT to every key column, so each
copy joins only to itself and key integrity holds. partkey and suppkey
shift by the SAME offset: supplier keys are also part keys, and the graph
queries' part -> supplier edges close their cycles through that overlap,
so the Nx graph is N disjoint copies of the source graph (Nx vertices and
Nx raw edges; at 10x of sf0.1, 200k vertices and 6M edges). nation and
region are shared by every copy and copied as-is.

events.ts must keep its parquet TIMESTAMP(NANOS) annotation (the engine's
Tables.events and the DuckDB oracles both depend on it), which DuckDB's
COPY rewrites — so events goes through pyarrow with version='2.6'.

Then run both harness surfaces against the fixture:
  sbt 'runMain graft.Verify <dstDir> /tmp/verify_5x'
  python3 tools/check.py <dstDir> /tmp/verify_5x
  SPARK_GRAFT_SF_DIR=<dstDir> SPARK_GRAFT_RUNS=1 sbt 'runMain graft.Bench'
"""
import sys, os, shutil
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
dst = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf0.5x"
factor = int(sys.argv[3]) if len(sys.argv) > 3 else 5
# Optional 4th arg: parquet row-group size (rows) for the scaled tables.
# The driver's fixtures are single-row-group, so a Spark scan can never
# split them — fine at sf0.1, but a large-factor fixture should look like
# a real big table (many row groups / files) or every map-heavy query
# measures one core. Pass e.g. 10000 to emulate that layout.
row_group = int(sys.argv[4]) if len(sys.argv) > 4 else None
ID_SHIFT = 100_000_000
USER_SHIFT = 1_000_000

shutil.rmtree(dst, ignore_errors=True)
os.makedirs(dst)
con = duckdb.connect()

rg_opt = f", ROW_GROUP_SIZE {row_group}" if row_group else ""
con.execute(f"""COPY (
  SELECT d.* REPLACE (d.doc_id + i*{ID_SHIFT} AS doc_id)
  FROM read_parquet('{src}/documents.parquet') d,
       generate_series(0, {factor - 1}) t(i)
) TO '{dst}/documents.parquet' (FORMAT PARQUET{rg_opt})""")
con.execute(f"""COPY (
  SELECT e.* REPLACE (e.vec_id + i*{ID_SHIFT} AS vec_id)
  FROM read_parquet('{src}/embeddings.parquet') e,
       generate_series(0, {factor - 1}) t(i)
) TO '{dst}/embeddings.parquet' (FORMAT PARQUET{rg_opt})""")

# events via pyarrow: preserve timestamp[ns]
src_events = pq.read_table(f"{src}/events.parquet")
parts = []
for i in range(factor):
    t = src_events
    t = t.set_column(t.schema.get_field_index("event_id"), "event_id",
                     pc.add(t.column("event_id"), i * ID_SHIFT))
    t = t.set_column(t.schema.get_field_index("user_id"), "user_id",
                     pc.add(t.column("user_id"), i * USER_SHIFT))
    parts.append(t)
pq.write_table(pa.concat_tables(parts), f"{dst}/events.parquet", version="2.6",
               **({"row_group_size": row_group * 20} if row_group else {}))

# TPC-H tables: every key column shifted by the copy's offset
keys = {"part": ["p_partkey"], "supplier": ["s_suppkey"], "customer": ["c_custkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"]}
for t, cols in keys.items():
    shifted = ", ".join(f"x.{c} + i*{ID_SHIFT} AS {c}" for c in cols)
    con.execute(f"""COPY (
  SELECT x.* REPLACE ({shifted})
  FROM read_parquet('{src}/{t}.parquet') x,
       generate_series(0, {factor - 1}) t(i)
) TO '{dst}/{t}.parquet' (FORMAT PARQUET{rg_opt})""")
for t in ["region", "nation"]:
    shutil.copy(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")

for t in ["documents", "embeddings", "events", *keys]:
    n = con.sql(f"SELECT count(*) FROM read_parquet('{dst}/{t}.parquet')").fetchone()[0]
    print(f"{t}: {n} rows")
print(f"fixture at {dst} ({factor}x of {src})")
