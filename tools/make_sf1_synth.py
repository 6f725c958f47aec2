#!/usr/bin/env python3
"""Synthesize a ~sf1 test directory from sf0.1: the one scale replica.

Replicates every fact table MULT times with per-copy key shifts (shift =
copy_index * (max_key + 1), so keys stay disjoint and join fan-outs stay
realistic); the tiny dim tables (nation, region) stay 1x. Schemas are
preserved exactly (pyarrow round-trip), so graft.Bench (via
SPARK_GRAFT_SF_DIR) and graft.Verify (its sfDir argument) run against the
output unchanged, and tools/check_oracle.py (plus tools/check_phash_sf1.py
for multimodal_phash_pairs) checks the Verify dump against it.

Caveats for interpreting the resulting numbers (see OPTIMIZATION_r20.md):
  - non-key columns (texts, payload seeds derived from ids are fine, but
    raw TEXT is duplicated verbatim) repeat MULT times, so exact-dup
    families grow MULT x and anything quadratic in family size inflates
    ~MULT^2 - a real sf1 corpus would have distinct texts;
  - run the bench with SPARK_GRAFT_BENCH_REPS >= 2 or codec-gate numbers
    include their one-time fixture ENCODE (min-of-reps drops it).

Usage: python3 tools/make_sf1_synth.py [src=/root/testdata/sf0.1] [dst=/tmp/sf1_synth] [mult=10]
"""
import sys, os
import pyarrow as pa, pyarrow.parquet as pq, pyarrow.compute as pc

SHIFTS = {
    'customer.parquet': ['c_custkey'],
    'documents.parquet': ['doc_id'],
    'embeddings.parquet': ['vec_id'],
    'events.parquet': ['event_id', 'user_id'],
    'lineitem.parquet': ['l_orderkey', 'l_partkey', 'l_suppkey'],
    'orders.parquet': ['o_orderkey', 'o_custkey'],
    'part.parquet': ['p_partkey'],
    'supplier.parquet': ['s_suppkey'],
    'nation.parquet': [],  # dims stay 1x
    'region.parquet': [],
}

def main():
    src = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.1'
    dst = sys.argv[2] if len(sys.argv) > 2 else '/tmp/sf1_synth'
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    for f, keys in SHIFTS.items():
        t = pq.read_table(f"{src}/{f}")
        if not keys:
            pq.write_table(t, f"{dst}/{f}")
            print(f, t.num_rows, '1x')
            continue
        strides = {k: (pc.max(t[k]).as_py() + 1) for k in keys}
        parts = [t]
        for i in range(1, mult):
            cols = {}
            for name in t.column_names:
                c = t[name]
                if name in keys:
                    c = pc.add(c, pa.scalar(i * strides[name], type=c.type))
                cols[name] = c
            parts.append(pa.table(cols, schema=t.schema))
        out = pa.concat_tables(parts)
        pq.write_table(out, f"{dst}/{f}", row_group_size=200000)
        print(f, t.num_rows, '->', out.num_rows)

if __name__ == '__main__':
    main()
