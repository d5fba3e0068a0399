#!/usr/bin/env python3
"""Local self-check mirroring the driver's DuckDB oracle compare.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [name,name,...]
Reads each <outDir>/<name> parquet (Spark result) and replays
<outDir>/oracle_sql.json in DuckDB with the sf tables registered as views,
then compares row counts, sorted-column schemas, and value hashes. Each
OK/FAIL line ends with the seconds DuckDB took for the oracle query.
A table is a parquet file or, as graft.Amplify writes it, a directory
of parquet files.
"""
import json, os, sys, hashlib, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        return f"{v:.10g}"
    return str(v)


def type_class(t):
    """Collapse a DuckDB type name into the equivalence class the
    driver's checker is known to hash identically. int widths <= 64
    are one class (parquet int32 vs BIGINT both hash as ints), but
    HUGEINT / DECIMAL / FLOAT-vs-DOUBLE are kept DISTINCT: the r5
    driver reds proved HUGEINT cells hash differently from BIGINT
    even when the Python values are equal, so any oracle column
    outside the safe classes must fail LOCALLY first."""
    s = str(t).upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER"):
        return "int"
    if s == "HUGEINT" or s == "UBIGINT":
        return "hugeint"   # int128 / uint64: driver-divergent, never OK
    if s == "DOUBLE":
        return "float64"
    if s == "FLOAT":
        return "float32"
    if s == "VARCHAR":
        return "str"
    return s               # DECIMAL(p,s), DATE, TIMESTAMP, BOOLEAN, ...


def frame_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def secs(duck_s):
    return f" [duck {duck_s:.2f} s]"


def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = fail = skipped = 0
    for name, sql in sorted(oracle.items()):
        # A dump may legitimately be absent only in an explicit subset
        # run (3rd arg = comma-separated names). In a full run a missing
        # dump means Verify crashed mid-flight — that is a FAILURE, not
        # a skip (a crashed Verify must not false-green the gate).
        if not os.path.isdir(f"{out_dir}/{name}"):
            if only is not None and name not in only:
                skipped += 1
                continue
            print(f"FAIL {name}: result dump missing (Verify crashed?)")
            fail += 1
            continue
        try:
            spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            s_cols = [c.lower() for c in spark_rel.columns]
            s_types = [type_class(t) for t in spark_rel.types]
            s_rows = spark_rel.fetchall()
            t0 = time.perf_counter()
            duck_rel = con.sql(sql)
            d_cols = [c.lower() for c in duck_rel.columns]
            d_types = [type_class(t) for t in duck_rel.types]
            d_rows = duck_rel.fetchall()
            duck_s = time.perf_counter() - t0
        except Exception as e:
            print(f"FAIL {name}: {e}")
            fail += 1
            continue
        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        else:
            # Type-faithful compare (r5 lesson): equal Python values can
            # still hash differently at the driver if the DuckDB-side
            # type is HUGEINT/DECIMAL/etc. Sort both sides by column
            # name and require type-class equality per column.
            st = dict(zip(s_cols, s_types))
            dt = dict(zip(d_cols, d_types))
            bad = [f"{c}: spark={st[c]} duck={dt[c]}"
                   for c in sorted(st) if st[c] != dt[c]]
            if bad:
                problems.append("type mismatch [" + "; ".join(bad) + "]")
        if len(s_rows) != len(d_rows):
            problems.append(f"rows spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            hs = frame_hash(s_rows, s_cols)
            hd = frame_hash(d_rows, d_cols)
            if hs != hd:
                problems.append("hash mismatch")
                order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                set_s = {tuple(norm_cell(r[i]) for i in order_s) for r in s_rows}
                set_d = {tuple(norm_cell(r[i]) for i in order_d) for r in d_rows}
                only_s = list(set_s - set_d)[:3]
                only_d = list(set_d - set_s)[:3]
                if only_s: problems.append(f"only-spark {only_s}")
                if only_d: problems.append(f"only-duck {only_d}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems) + secs(duck_s))
            fail += 1
        else:
            print(f"OK   {name} ({len(s_rows)} rows){secs(duck_s)}")
            ok += 1
    tail = f", {skipped} not-run" if skipped else ""
    print(f"\n{ok} ok, {fail} fail{tail}")
    return 1 if fail else 0


if __name__ == "__main__":
    subset = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], subset))
