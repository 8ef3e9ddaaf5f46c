#!/usr/bin/env python3
"""Local stand-in for the driver's CORRECTNESS gate (builder-side tooling
only; NOT part of the library). Usage:

    sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
    python3 tools/compare.py /tmp/verify_out /root/testdata/sf0.01

Compares each query's Spark parquet dump with the DuckDB result of its
oracle SQL: columns sorted by name, rows sorted, values compared exactly
(floats via repr round-trip — mirrors a hash-of-values check).
"""
import sys, json, glob, os
import duckdb

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = repr(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out

def main(out_dir, sf_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    # oracle_sql.json is dual-keyed (bare + ".parquet" suffix) for the
    # driver's lookup; iterate the bare keys only.
    oracle = {k: v for k, v in oracle.items() if not k.endswith(".parquet")}
    fails = 0
    for name in sorted(oracle):
        spark_dir = os.path.join(out_dir, name + ".parquet")
        if not os.path.isdir(spark_dir) and not os.path.exists(spark_dir):
            print(f"MISS  {name}: no spark dump"); fails += 1; continue
        s = con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'")
        scols = [d[0] for d in s.description]; srows = s.fetchall()
        try:
            # the twin runs once: types from its Arrow table, rows read
            # back through DuckDB so values convert exactly as execute() did
            darrow = con.sql(oracle[name]).fetch_arrow_table()
            dtypes = {f.name: str(f.type) for f in darrow.schema}
            d = con.from_arrow(darrow)
            dcols = d.columns; drows = d.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: oracle SQL error: {e}"); fails += 1; continue
        import pyarrow.parquet as _pq, re as _re
        def _norm(t):  # list element field names / nullability differ — values, not types
            return _re.sub(r"list<[^:]+: ", "list<item: ", t).replace(" not null", "")
        sfile = glob.glob(f"{spark_dir}/*.parquet")[0]
        stypes = {f.name: _norm(str(f.type)) for f in _pq.read_schema(sfile)}
        dtypes = {k: _norm(v) for k, v in dtypes.items()}
        tdiff = [(c, stypes[c], dtypes.get(c, "MISSING")) for c in stypes
                 if stypes[c] != dtypes.get(c, "MISSING")]
        if tdiff:
            print(f"FAIL  {name}: dtype mismatch {tdiff}"); fails += 1; continue
        sc, sr = canon(srows, scols)
        dc, dr = canon(drows, dcols)
        if sc != dc:
            print(f"FAIL  {name}: columns {sc} != {dc}"); fails += 1; continue
        if sr != dr:
            n = min(len(sr), len(dr))
            diff = next((i for i in range(n) if sr[i] != dr[i]), n)
            print(f"FAIL  {name}: rows {len(sr)} vs {len(dr)}; first diff at {diff}:")
            print(f"      spark:  {sr[diff] if diff < len(sr) else '<none>'}")
            print(f"      oracle: {dr[diff] if diff < len(dr) else '<none>'}")
            fails += 1; continue
        print(f"OK    {name}: {len(sr)} rows")
    # queries with no oracle → rows-only check
    for p in sorted(glob.glob(os.path.join(out_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        if name not in oracle:
            n = con.execute(f"SELECT count(*) FROM '{p}/*.parquet'").fetchone()[0]
            print(f"ROWS  {name}: {n} rows (no oracle)")
            if n == 0:
                print(f"WARN  {name}: EMPTY result"); fails += 1
    print("ALL OK" if fails == 0 else f"{fails} FAILURES")
    return 1 if fails else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
