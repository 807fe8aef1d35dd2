#!/usr/bin/env python3
"""Bit-identity check between two graft.Verify output dirs.

    python3 tools/compare_verify.py <before_out> <after_out>

Each entry (one sub-directory of parquet files per query name) must hold the
same columns with the same types and the same rows, value for value, with no
tolerance: floats compare by their exact bits. An entry's rows are compared
as a multiset, because `graft.Verify` writes an unsorted result in whatever
order its last partition produced. Entries present on one side only differ.
Prints one line per differing entry, then "N equal, M differ"; exits 1 if any
entry differs. Use it to show that a refactor changed no result.
"""
import glob
import os
import struct
import sys

import pyarrow.parquet as pq


def entries(out_dir: str) -> set:
    return {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}


def canon(v):
    """A hashable, order-comparable form that keeps every bit of the value."""
    if isinstance(v, float):
        # by bits: -0.0 differs from 0.0, NaN equals itself
        return ("f", struct.pack(">d", v).hex())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((k, canon(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return ("b", bytes(v).hex())
    return (type(v).__name__, repr(v))


def load(path: str):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None, []
    tables = [pq.read_table(f) for f in files]
    schema = [(f.name, str(f.type)) for f in tables[0].schema]
    rows = []
    for t in tables:
        if [(f.name, str(f.type)) for f in t.schema] != schema:
            return "inconsistent schema across files", []
        rows.extend(tuple(canon(v) for v in r.values()) for r in t.to_pylist())
    return schema, sorted(rows)


def main(before: str, after: str) -> int:
    names = sorted(entries(before) | entries(after))
    n_eq = n_diff = 0
    for name in names:
        a_schema, a_rows = load(os.path.join(before, name))
        b_schema, b_rows = load(os.path.join(after, name))
        if a_schema is None or b_schema is None:
            why = "missing on the %s side" % ("first" if a_schema is None else "second")
        elif a_schema != b_schema:
            why = "schema %s vs %s" % (a_schema, b_schema)
        elif len(a_rows) != len(b_rows):
            why = "%d rows vs %d" % (len(a_rows), len(b_rows))
        elif a_rows != b_rows:
            bad = sum(1 for x, y in zip(a_rows, b_rows) if x != y)
            why = "%d of %d sorted rows differ" % (bad, len(a_rows))
        else:
            n_eq += 1
            continue
        n_diff += 1
        print("DIFFER %s: %s" % (name, why))
    print("%d equal, %d differ" % (n_eq, n_diff))
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
