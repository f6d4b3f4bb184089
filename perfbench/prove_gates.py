#!/usr/bin/env python3
"""Proves the recorded gate digests once against the DuckDB oracle.

Step 1 records a digest per gate and dumps each gate's output:

    cd perfbench && sbt "runMain perfbench.RecordGates data/sf0.01 gates.tsv /tmp/gates"

Step 2 (this script) runs each gate's oracle SQL in DuckDB over the same
tables, compares it with the dumped output under the engine's oracle
cross-check canonical form (tools/crosscheck.py), and writes the verdict
into the `oracle` column of gates.tsv: `match`, `no-oracle` or the
mismatch reason.

Usage: python3 perfbench/prove_gates.py <dumpDir>
"""
import glob, json, os, sys
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(BENCH), "tools"))
import crosscheck  # noqa: E402

DATA = os.path.join(BENCH, "data", "sf0.01")
TSV = os.path.join(BENCH, "gates.tsv")


def verdict(con, dump, name, sql):
    if sql is None:
        return "no-oracle"
    files = sorted(glob.glob(os.path.join(dump, name, "*.parquet")))
    got = pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()
    exp = con.execute(sql).df()
    cg, ce = crosscheck.canon(got), crosscheck.canon(exp)
    if list(cg.columns) != list(ce.columns):
        return "schema-mismatch"
    if len(cg) != len(ce):
        return f"rowcount-mismatch {len(cg)}/{len(ce)}"
    return "match" if crosscheck.h(cg) == crosscheck.h(ce) else "hash-mismatch"


def main(dump):
    con = duckdb.connect()
    for t in crosscheck.TABLES:
        p = os.path.join(DATA, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(TSV) as f:
        lines = f.read().splitlines()
    out, bad = [lines[0]], 0
    for line in lines[1:]:
        row = line.split("\t")
        row[3] = verdict(con, dump, row[0], oracle.get(row[0]))
        bad += row[3] not in ("match", "no-oracle")
        print(f"{row[0]:32s} {row[3]}")
        out.append("\t".join(row))
    with open(TSV, "w") as f:
        f.write("\n".join(out) + "\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
