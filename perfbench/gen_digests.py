#!/usr/bin/env python3
"""Regenerates perfbench/digests.json from the current engine.

    python3 perfbench/gen_digests.py

Runs every workload query once at sf0.1, records the digest of its collected
rows, and writes each result to parquet. Queries with a DuckDB oracle
statement are compared against DuckDB over the same tables the way
tools/check.py compares them (columns sorted by name, rows sorted, type
classes equal, floats bit-exact); the script refuses to write digests if any
of them disagrees or any query fails.
"""
import json
import shutil
import struct
import sys
import time

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def type_name(t):
    import pyarrow as pa
    for test, name in ((pa.types.is_integer, "int"), (pa.types.is_floating, "float"),
                       (pa.types.is_decimal, "decimal"), (pa.types.is_boolean, "bool"),
                       (pa.types.is_timestamp, "timestamp"), (pa.types.is_date, "date")):
        if test(t):
            return name
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + type_name(t.value_type) + ">"
    return str(t)


def canon(x, t):
    import pyarrow as pa
    if x is None:
        return "\x00null"
    if pa.types.is_floating(t):
        return "f" + struct.pack(">d", float(x)).hex()
    if pa.types.is_decimal(t):
        return "d" + format(x.normalize(), "f")
    if pa.types.is_integer(t):
        return f"i{int(x):+033d}"
    if pa.types.is_boolean(t):
        return "b1" if x else "b0"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "[" + ",".join(canon(y, t.value_type) for y in x) + "]"
    return "s" + str(x)


def canon_table(tbl):
    cols = sorted(tbl.column_names)
    tbl = tbl.select(cols)
    types = [type_name(tbl.schema.field(c).type) for c in cols]
    tokens = [[canon(x, tbl.schema.field(c).type) for x in tbl.column(c).to_pylist()] for c in cols]
    return cols, types, sorted(zip(*tokens)) if cols else []


def main():
    import duckdb
    import pyarrow.parquet as pq

    run.preflight()
    cp = run.build()
    queries = sorted({q for w in run.WORKLOADS.values() for q in w["queries"]})
    work = run.BUILD / "digests"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    catalog = run.jvm(cp, work, ["--list"], time.monotonic() + 600)
    sql = {r["name"]: r["oracle"] for r in catalog if r["oracle"]}
    recs = run.jvm(cp, work, ["--dump", str(work / "out"), "--data", str(run.data_dir()),
                              "--cores", str(run.cores()), "--queries", ",".join(queries)],
                   time.monotonic() + 1800)
    execs = {r["query"]: r for r in recs if r["kind"] == "exec"}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.data_dir()}/{t}.parquet')")
    bad = []
    for q in queries:
        e = execs.get(q)
        if e is None or e["error"]:
            bad.append(f"{q}: {e['error'] if e else 'not run'}")
            continue
        if q in sql:
            got = canon_table(pq.read_table(work / "out" / q))
            want = canon_table(con.execute(sql[q]).fetch_arrow_table())
            status = "matches DuckDB" if got == want else "DIFFERS from DuckDB"
            if got != want:
                bad.append(f"{q}: result differs from the DuckDB oracle")
        else:
            status = "no oracle"
        print(f"{q:<28} {e['rows']:>7} rows  {e['digest']}  {status}")
    if bad:
        print("\n".join(["refusing to write digests:"] + bad), file=sys.stderr)
        return 1
    run.DIGESTS_FILE.write_text(json.dumps({q: execs[q]["digest"] for q in queries}, indent=2) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {run.DIGESTS_FILE.relative_to(run.ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
