#!/usr/bin/env python3
"""Compare two graft.Verify dump directories query by query, exactly.

Usage: python3 scripts/diff_verify.py OLD NEW

For every query dir (q_*) the two dumps must have the same schema, the same
row count and the same rows in the same order. Floating-point values are
compared as their exact IEEE-754 bits: no rounding, no sorting (unlike
check_oracles.py, which sorts and rounds to compare against DuckDB). A
query present in only one dump is a difference too.

Prints one line per query (SAME / DIFF / ONLY) and a summary; exits 1 if
any query differs.
"""
import glob
import math
import os
import struct
import sys

import pyarrow.parquet as pq


def read(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    tables = [pq.read_table(f) for f in files]
    return tables[0].schema, [r for t in tables for r in t.to_pylist()]


def bits(x):
    """Value with every float replaced by its exact bit pattern."""
    if isinstance(x, float):
        return ("f64", struct.unpack("<Q", struct.pack("<d", x))[0])
    if isinstance(x, dict):
        return {k: bits(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [bits(v) for v in x]
    return x


def show(row):
    return {k: (repr(v) if isinstance(v, float) and not math.isnan(v) else v)
            for k, v in row.items()}


def compare(old_dir, new_dir):
    """None when identical, else a one-line reason."""
    old, new = read(old_dir), read(new_dir)
    if old is None or new is None:
        return "no parquet file in " + (old_dir if old is None else new_dir)
    (old_schema, old_rows), (new_schema, new_rows) = old, new
    if not old_schema.equals(new_schema):
        return f"schema {new_schema} != {old_schema}"
    if len(old_rows) != len(new_rows):
        return f"rows {len(new_rows)} != {len(old_rows)}"
    for i, (a, b) in enumerate(zip(old_rows, new_rows)):
        if bits(a) != bits(b):
            return f"row {i}: {show(b)} != {show(a)}"
    return None


def main(old, new):
    queries = sorted({os.path.basename(d)
                      for root in (old, new)
                      for d in glob.glob(os.path.join(root, "q_*"))})
    diffs = 0
    for q in queries:
        o, n = os.path.join(old, q), os.path.join(new, q)
        if not (os.path.isdir(o) and os.path.isdir(n)):
            print(f"ONLY {q}: in {old if os.path.isdir(o) else new} only")
            diffs += 1
            continue
        reason = compare(o, n)
        if reason is None:
            print(f"SAME {q}")
        else:
            print(f"DIFF {q}: {reason}")
            diffs += 1
    print(f"{len(queries) - diffs}/{len(queries)} identical")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
