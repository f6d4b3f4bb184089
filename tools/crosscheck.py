#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs after `graft.Verify` has dumped SparkEntry query results to
OUTDIR/<name>/ (parquet) + OUTDIR/oracle_sql.json: executes each oracle
SQL in DuckDB against the same parquet tables, canonicalizes both sides
(columns sorted by name, rows sorted, floats rounded), and hash-compares.

Usage: python3 tools/crosscheck.py <sfDir> <outDir>
"""
import sys, os, json, hashlib, glob
import duckdb
import pandas as pd
import pyarrow.parquet as pq
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        import numpy as np
        if isinstance(v, (np.ndarray, list, tuple)):
            return tuple(norm_cell(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
        if isinstance(v, (float, np.floating)):
            if pd.isna(v):
                return None
            return round(float(v), 9)
        if isinstance(v, np.integer):
            return int(v)
        if pd.isna(v) if not isinstance(v, (list, tuple, dict)) else False:
            return None
        if hasattr(v, "isoformat"):
            # pyarrow-native reads hand Spark DATE cells over as
            # datetime.date ('1995-01-31') while the DuckDB oracle side
            # comes through pandas as midnight Timestamps
            # ('1995-01-31T00:00:00'); the driver's comparator treats
            # those as equal (f_date_battery passed r10), so canonicalize
            # both to the midnight-timestamp render before hashing.
            import datetime
            if isinstance(v, datetime.date) and \
                    not isinstance(v, datetime.datetime):
                return pd.Timestamp(v).isoformat()
            return v.isoformat()
        return v

    out = df.map(norm_cell)
    out = out.sort_values(by=list(out.columns), key=lambda c: c.map(repr)) \
        if len(out.columns) else out
    return out.reset_index(drop=True)


def h(df: pd.DataFrame) -> str:
    m = hashlib.sha256()
    m.update(("|".join(df.columns)).encode())
    for row in df.itertuples(index=False):
        m.update(repr(tuple(row)).encode())
    return m.hexdigest()[:16]


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)

    results, n_pass, n_fail = {}, 0, 0
    dumped = set(d for d in os.listdir(out_dir)
                 if os.path.isdir(os.path.join(out_dir, d)))
    # every oracle key must have a dumped result — a Spark-side failure
    # (Verify catches per-query exceptions) must surface as a FAIL here
    names = sorted(dumped | set(oracles))
    for name in names:
        if name not in dumped:
            results[name] = "MISSING-DUMP (Spark query failed in Verify)"
            n_fail += 1
            continue
        # Read the Spark dump NATIVELY with pyarrow (the driver does the
        # equivalent): reading it through DuckDB coerces DECIMAL columns
        # to float64 before canon(), which masked the r10 a_mann_whitney
        # DECIMAL-vs-DOUBLE render drift. Decimal cells must survive to
        # the hash as decimal.Decimal so the drift is visible here first.
        try:
            files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
            tbl = pa.concat_tables([pq.read_table(f) for f in files])
            got = tbl.to_pandas()
        except Exception as e:
            results[name] = f"SPARK-READ-FAIL {e}"
            n_fail += 1
            continue
        # The driver's pandas comparator crashes sorting ARRAY/MAP/
        # STRUCT cells (unhashable ndarray) — a gate emitting one is a
        # FAIL here even though canon() below would survive it, so the
        # local replay is at least as strict as the driver (VERDICT r9).
        # DECIMAL is banned for the same reason: DuckDB renders it as
        # DOUBLE, so the renders drift even when values match.
        complex_cols = [
            f"{f.name}:{f.type}" for f in tbl.schema
            if (pa.types.is_list(f.type) or pa.types.is_large_list(f.type)
                or pa.types.is_struct(f.type) or pa.types.is_map(f.type)
                or pa.types.is_decimal(f.type))]
        if complex_cols:
            results[name] = ("COMPLEX-TYPE-OUTPUT (driver comparator "
                             f"cannot sort these): {complex_cols}")
            n_fail += 1
            continue
        if name not in oracles:
            results[name] = f"rows-only ({len(got)} rows)"
            continue
        try:
            exp = con.execute(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE-FAIL {str(e)[:200]}"
            n_fail += 1
            continue
        cg, ce = canon(got), canon(exp)
        if list(cg.columns) != list(ce.columns):
            results[name] = f"SCHEMA-MISMATCH spark={list(cg.columns)} oracle={list(ce.columns)}"
            n_fail += 1
        elif len(cg) != len(ce):
            results[name] = f"ROWCOUNT spark={len(cg)} oracle={len(ce)}"
            n_fail += 1
        elif h(cg) != h(ce):
            diff = ""
            for i in range(min(len(cg), 2000)):
                if tuple(cg.iloc[i]) != tuple(ce.iloc[i]):
                    diff = f" first-diff row {i}: spark={tuple(cg.iloc[i])} oracle={tuple(ce.iloc[i])}"
                    break
            results[name] = "HASH-MISMATCH" + diff
            n_fail += 1
        else:
            results[name] = "ok"
            n_pass += 1
    for k in sorted(results):
        flag = "PASS" if results[k] in ("ok",) or results[k].startswith("rows-only") else "FAIL"
        print(f"{flag:4s} {k:32s} {results[k][:300]}")
    print(f"\n{n_pass} pass, {n_fail} fail, "
          f"{sum(1 for v in results.values() if v.startswith('rows-only'))} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
