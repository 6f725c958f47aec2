#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB against the sf parquet tables, compare (order-insensitive, columns
sorted by name) with the Spark output parquet written by graft.Verify.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Exits 0 only when the oracle json lists at least one gate and every
listed gate passes; 1 otherwise.
"""
import json, math, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # 6 decimals below 1e9, which covers every float the sf0.01
        # gates emit (the largest, q2_star_join revenue, is ~1.5e8);
        # above, 12 significant digits: sums near 1e10 (q2_star_join at
        # ~sf1) differ between engines' summation orders in the 15th
        if abs(v) < 1e9:
            return round(v, 6)
        return float(f"{v:.12g}")
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = 0
    for name, sql in sorted(oracle.items()):
        try:
            o = con.sql(sql)
            ocols, orows = [c.lower() for c in o.columns], o.fetchall()
            g = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            gcols, grows = [c.lower() for c in g.columns], g.fetchall()
            if sorted(ocols) != sorted(gcols):
                print(f"FAIL {name}: cols oracle={sorted(ocols)} got={sorted(gcols)}")
                continue
            if len(orows) != len(grows):
                print(f"FAIL {name}: rows oracle={len(orows)} got={len(grows)}")
                continue
            ok_rows, gk = key(orows, ocols), key(grows, gcols)
            if ok_rows != gk:
                bad = next(i for i in range(len(ok_rows)) if ok_rows[i] != gk[i])
                print(f"FAIL {name}: value mismatch at sorted row {bad}:")
                print(f"  oracle: {ok_rows[bad]}")
                print(f"  got:    {gk[bad]}")
                continue
            print(f"OK   {name} ({len(orows)} rows)")
            n_ok += 1
        except Exception as e:
            print(f"ERR  {name}: {type(e).__name__}: {str(e)[:200]}")
    print(f"== {n_ok}/{len(oracle)} pass")
    return 0 if oracle and n_ok == len(oracle) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
