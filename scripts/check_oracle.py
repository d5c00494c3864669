#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<query>/ parquet dump plus oracle_sql.json, runs
the oracle SQL in DuckDB against the same test tables, and compares
(rows, schema-by-sorted-column-name, hashed values). Mirrors what the
driver's CORRECTNESS_r{N}.json records so failures surface before a round
ends.

DuckDB runs bounded, so one oracle too large for the host fails as
`FAIL <lane>: ...` and the run goes on: its memory limit is 75% of
MemAvailable in /proc/meminfo, it spills to <verifyOutDir>/duckdb_tmp (at
most half the free disk there, removed at exit), and every failure gets a
fresh database: a failed query can leave its spill allocated, or the
connection invalidated, for the lanes after it.
"""
import json, math, sys, glob, os, shutil
import duckdb

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)

def table(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(canon(r[i]) for i in idx) for r in rows)
    return [cols[i] for i in idx], out

def mem_available():
    """MemAvailable in bytes, or None where /proc/meminfo is missing."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None

def connect(sf_dir, spill_dir):
    con = duckdb.connect()
    avail = mem_available()
    if avail:
        con.execute(f"SET memory_limit = '{max(avail * 3 // 4 >> 20, 256)}MB'")
    con.execute(f"SET temp_directory = '{spill_dir}'")
    spill = shutil.disk_usage(spill_dir).free // 2
    con.execute(f"SET max_temp_directory_size = '{spill >> 20}MB'")
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con

def main(sf_dir, out_dir):
    spill_dir = os.path.join(out_dir, "duckdb_tmp")
    os.makedirs(spill_dir, exist_ok=True)
    try:
        return check(sf_dir, out_dir, spill_dir)
    finally:
        shutil.rmtree(spill_dir, ignore_errors=True)

def check(sf_dir, out_dir, spill_dir):
    con = connect(sf_dir, spill_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got_rel = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            got_cols = [d[0] for d in got_rel.description]
            got = got_rel.fetchall()
            exp_rel = con.execute(sql)
            exp_cols = [d[0] for d in exp_rel.description]
            exp = exp_rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: {e}", flush=True)
            n_fail += 1
            try:
                con.close()
            except Exception:
                pass
            con = connect(sf_dir, spill_dir)
            continue
        # The driver fetches oracle results via pandas/arrow, where HUGEINT
        # (e.g. an uncast sum()) and DECIMAL become float64 and stringify as
        # "0.0" vs Spark's "0" — fetchall() here hides that. Fail any oracle
        # whose result schema contains those types so the class can't slip.
        wide = [(c, t) for c, t, *_ in con.execute(f"DESCRIBE {sql}").fetchall()
                if "HUGEINT" in t or "DECIMAL" in t]
        if wide:
            print(f"FAIL {name}: driver-unsafe oracle column types {wide} "
                  f"(cast to BIGINT/DOUBLE in the oracle SQL)")
            n_fail += 1
            continue
        gc, gt = table(got, got_cols)
        ec, et = table(exp, exp_cols)
        if gc != ec:
            print(f"FAIL {name}: schema {gc} != {ec}")
            n_fail += 1
        elif gt != et:
            diff = [(a, b) for a, b in zip(gt, et) if a != b][:3]
            print(f"FAIL {name}: rows {len(gt)} vs {len(et)}; first diffs: {diff}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(gt)} rows)", flush=True)
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
