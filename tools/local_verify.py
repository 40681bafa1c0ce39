#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads the parquet dumps
written by graft.Verify plus oracle_sql.json, runs each oracle in DuckDB over
the same sf directory, and compares (rows, schema-ish, values).

Usage: local_verify.py <sfDir> <outDir>
"""
import json
import sys
import duckdb
import pyarrow.parquet as pq
import pyarrow.dataset as ds
import glob
import os

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def canon(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort(key=repr)
    return out


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for name in sorted(oracles):
        sql = oracles[name]
        pdir = f"{out_dir}/{name}"
        files = glob.glob(f"{pdir}/*.parquet")
        if not files:
            results[name] = "MISSING_SPARK_OUTPUT"
            continue
        tbl = ds.dataset(pdir, format="parquet").to_table()
        spark_cols = tbl.column_names
        spark_rows = [tuple(r[c] for c in spark_cols) for r in tbl.to_pylist()]
        try:
            rel = con.sql(sql)
            duck_cols = rel.columns
            duck_rows = rel.fetchall()
        except Exception as e:
            results[name] = f"ORACLE_ERROR: {str(e)[:200]}"
            continue
        if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in duck_cols):
            results[name] = f"COLS_MISMATCH spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
            continue
        # dtype parity: the driver's hash compare is dtype-SENSITIVE (round 1
        # failed two queries on DuckDB HUGEINT vs Spark BIGINT with equal
        # values), so flag any oracle column whose type doesn't map onto the
        # Spark parquet type.
        DUCK_TO_ARROW = {
            "BIGINT": {"int64"}, "INTEGER": {"int32"}, "SMALLINT": {"int16"},
            "DOUBLE": {"double"}, "FLOAT": {"float"},
            "VARCHAR": {"string", "large_string"}, "BOOLEAN": {"bool"},
            "DATE": {"date32[day]"},
        }
        spark_types = {f.name.lower(): str(f.type) for f in tbl.schema}
        dtype_errs = []
        for cname, dtype in zip(rel.columns, rel.types):
            d = str(dtype)
            if d.startswith("TIMESTAMP"):
                ok_types = None  # timestamps normalize via isoformat
            else:
                ok_types = DUCK_TO_ARROW.get(d)
            st = spark_types.get(cname.lower(), "?")
            if ok_types is None and not d.startswith("TIMESTAMP"):
                dtype_errs.append(f"{cname}: duck {d} has no Spark mapping (HUGEINT/DECIMAL will hash-fail)")
            elif ok_types is not None and st not in ok_types:
                dtype_errs.append(f"{cname}: duck {d} vs spark {st}")
        if dtype_errs:
            results[name] = f"DTYPE_MISMATCH {dtype_errs[:3]}"
            continue
        a = canon(spark_rows, [c.lower() for c in spark_cols])
        b = canon(duck_rows, [c.lower() for c in duck_cols])
        if len(a) != len(b):
            results[name] = f"ROWS_MISMATCH spark={len(a)} duck={len(b)}"
        elif a != b:
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            results[name] = f"VALUES_MISMATCH e.g. {diffs}"
        else:
            results[name] = f"OK ({len(a)} rows)"
    # queries without oracle: rows-only
    for name in sorted(os.listdir(out_dir)):
        full = f"{out_dir}/{name}"
        if os.path.isdir(full) and name not in oracles:
            n = ds.dataset(full, format="parquet").to_table().num_rows
            results[name] = f"ROWS_ONLY ({n} rows)"
    ok = sum(1 for v in results.values() if v.startswith("OK"))
    for k, v in results.items():
        print(f"{'PASS' if v.startswith(('OK','ROWS_ONLY')) else 'FAIL':4} {k}: {v}")
    print(f"\n{ok}/{len([k for k in results if k in oracles])} oracle-checked queries pass")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
