#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle compare.

Usage: oracle_check.py <sf_dir> <verify_out_dir>

Loads each parquet table from sf_dir into DuckDB by name, runs every entry
in <out>/oracle_sql.json, and compares against the Spark-written parquet in
<out>/<query>/ : column names (sorted), row count, and multiset of rows
(values stringified, floats rounded to 9dp). A query named in
oracle_sql.json without an output directory (it threw in Verify, which
deletes a query's output before running it) is a failure. Exits non-zero
on any failure.
"""
import json, os, sys
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(val):
    if val is None:
        return "NULL"
    if isinstance(val, float):
        return f"{round(val, 9):.9f}"
    if isinstance(val, bytes):
        return val.hex()
    if isinstance(val, list):
        return "[" + ",".join(canon(v) for v in val) + "]"
    return str(val)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


def type_family(t):
    """Coarse arrow-type family: the driver's hash is dtype-sensitive
    (DuckDB HUGEINT/DECIMAL outputs poisoned round-1 hashes even when every
    value matched), so flag any family divergence as a failure."""
    import pyarrow as pa
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{type_family(t.value_type)}>"
    return str(t)


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failures = 0
    for name in sorted(oracle):
        qdir = os.path.join(out_dir, name)
        if not os.path.isdir(qdir):
            print(f"  X {name}: no output (the query failed in Verify)")
            failures += 1
            continue
        tbl = pq.read_table(qdir)
        spark_cols = sorted(tbl.column_names)
        spark_rows = [tuple(r[c] for c in tbl.column_names)
                      for r in tbl.to_pylist()]
        try:
            duck_tbl = con.execute(oracle[name]).arrow()
            duck_cols = duck_tbl.column_names
            duck_rows = [tuple(r[c] for c in duck_cols)
                         for r in duck_tbl.to_pylist()]
        except Exception as e:
            print(f"  X {name}: oracle SQL failed: {e}")
            failures += 1
            continue
        ok = True
        if sorted(duck_cols) != spark_cols:
            print(f"  X {name}: columns differ spark={spark_cols} duck={sorted(duck_cols)}")
            ok = False
        elif len(spark_rows) != len(duck_rows):
            print(f"  X {name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}")
            ok = False
        else:
            s = rowset(tbl.column_names, spark_rows)
            d = rowset(duck_cols, duck_rows)
            if s != d:
                diff = [(a, b) for a, b in zip(s, d) if a != b][:3]
                print(f"  X {name}: value mismatch, first diffs: {diff}")
                ok = False
        if ok:
            stypes = {c: type_family(tbl.schema.field(c).type)
                      for c in tbl.column_names}
            dtypes = {c: type_family(duck_tbl.schema.field(c).type)
                      for c in duck_cols}
            bad = {c: (stypes[c], dtypes[c]) for c in stypes
                   if stypes[c] != dtypes[c]}
            if bad:
                print(f"  X {name}: dtype mismatch {bad}")
                ok = False
        if ok:
            print(f"  + {name}: MATCH rows={len(spark_rows)}")
        else:
            failures += 1
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
