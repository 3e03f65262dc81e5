#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB correctness gate.

Usage: python3 tools/oracle_check.py <verify_out_dir> <sf_dir>

For each <name>/ parquet dir in verify_out_dir, runs oracle_sql.json[name]
in DuckDB with each sf table registered as a view, sorts columns by name and
rows by value, and compares cell-by-cell (exact; floats must match to 1e-12
relative — the queries are designed for bit-exact parity). A query whose
oracle SQL raises a DuckDB error (say, out of memory) is reported as
[ERROR] and the rest are still checked. Every registered query carries an
oracle, so a result dir without one is reported as [NO-ORACLE] and counts
against the run; the exit status is non-zero when any query failed, errored
or had no oracle.
"""
import json, struct, sys, glob, os
import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))

def cmp_cell(a, b):
    if a is None or b is None:
        return a is b
    if isinstance(a, float) or isinstance(b, float):
        try:
            # BIT-EXACT: the driver hashes values, so sub-ulp drift fails there
            return struct.pack("<d", float(a)) == struct.pack("<d", float(b))
        except (TypeError, ValueError):
            return False
    return a == b or str(a) == str(b)

def main(outdir, sfdir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    n_pass = n_fail = n_error = n_no_oracle = 0
    for name in sorted(os.listdir(outdir)):
        d = os.path.join(outdir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        got_rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        got_cols = list(got_rel.columns)
        got_types = [str(t) for t in got_rel.types]
        got = got_rel.fetchall()
        if name not in oracle:
            n_no_oracle += 1
            print(f"  [NO-ORACLE] {name}: {len(got)} rows, nothing to check them against")
            continue
        try:
            exp_rel = con.sql(oracle[name])
            exp_cols = list(exp_rel.columns)
            exp_types = [str(t) for t in exp_rel.types]
            exp = exp_rel.fetchall()
        except duckdb.Error as e:
            # e.g. an oracle that exhausts DuckDB's memory: the query counts
            # as failed, and the remaining queries still get checked
            n_error += 1
            print(f"  [ERROR] {name}: {e}")
            continue
        # TYPE-STRICT: the driver hashes typed values, so DuckDB HUGEINT
        # (uncast sum()/list_sum()) vs Spark BIGINT fails there even when
        # the numbers are equal — compare declared types, not str() renderings.
        gt = [t for _, t in sorted(zip(got_cols, got_types))]
        et = [t for _, t in sorted(zip(exp_cols, exp_types))]
        gc, gr = norm(got, got_cols)
        ec, er = norm(exp, exp_cols)
        type_ok = gt == et
        if not type_ok:
            print(f"  [TYPE-FAIL] {name}: got {list(zip(gc, gt))} vs oracle {list(zip(ec, et))}")
        ok = type_ok and gc == ec and len(gr) == len(er) and all(
            all(cmp_cell(a, b) for a, b in zip(r1, r2)) for r1, r2 in zip(gr, er))
        if ok:
            n_pass += 1
            print(f"  [PASS] {name}: {len(gr)} rows")
        else:
            n_fail += 1
            print(f"  [FAIL] {name}: cols {gc} vs {ec}, rows {len(gr)} vs {len(er)}")
            for r1, r2 in list(zip(gr, er))[:200]:
                if not all(cmp_cell(a, b) for a, b in zip(r1, r2)):
                    print(f"     got {r1}\n     exp {r2}")
                    break
    print(f"== {n_pass} pass, {n_fail} fail, {n_error} error, {n_no_oracle} no-oracle")
    return 1 if n_fail or n_error or n_no_oracle else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
