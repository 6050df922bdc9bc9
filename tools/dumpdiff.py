#!/usr/bin/env python3
"""Content diff of two `graft.Verify` output directories.

Usage: python3 tools/dumpdiff.py <dir_a> <dir_b> [name ...]

Two Verify runs of the same rows do not give byte-identical parquet:
the footer lists each column's encodings in an order that varies per
JVM. This compares each query's dump by content instead, key by key:

  schema  field names, types and nullability differ
  rows    the multisets of rows differ
  order   the same rows sit in a different order

Other files (oracle_sql.json) are compared by bytes. Keys present on
one side only are reported as `missing`. Prints one line per differing
key, then a summary; exits 1 if anything differs. Optional names
restrict the compare to those keys.
"""
import os
import sys

import pyarrow.parquet as pq


def rows(table):
    # repr keeps NaN, -0.0 and nested values exact and comparable
    return [repr(r) for r in table.to_pylist()]


def diff_dump(a_path, b_path):
    a, b = pq.read_table(a_path), pq.read_table(b_path)
    if not a.schema.equals(b.schema, check_metadata=False):
        return f"schema: {a.schema.to_string(show_schema_metadata=False)!r} vs " \
               f"{b.schema.to_string(show_schema_metadata=False)!r}"
    if a.equals(b):
        return None
    ra, rb = rows(a), rows(b)
    if ra == rb:  # NaN-only differences under Table.equals
        return None
    if sorted(ra) != sorted(rb):
        only_a = len(set(ra) - set(rb))
        only_b = len(set(rb) - set(ra))
        return f"rows: {len(ra)} vs {len(rb)} rows, {only_a} distinct only in a, {only_b} only in b"
    moved = sum(1 for x, y in zip(ra, rb) if x != y)
    return f"order: {moved} of {len(ra)} rows at different positions"


def diff_file(a_path, b_path):
    with open(a_path, "rb") as fa, open(b_path, "rb") as fb:
        return None if fa.read() == fb.read() else "bytes differ"


def main(a_dir, b_dir, only):
    keys = sorted(set(os.listdir(a_dir)) | set(os.listdir(b_dir)))
    if only:
        keys = [k for k in keys if k in only]
    same = differ = 0
    for k in keys:
        pa, pb = os.path.join(a_dir, k), os.path.join(b_dir, k)
        if not (os.path.exists(pa) and os.path.exists(pb)):
            why = f"missing in {'b' if os.path.exists(pa) else 'a'}"
        elif os.path.isdir(pa) and os.path.isdir(pb):
            why = diff_dump(pa, pb)
        elif os.path.isfile(pa) and os.path.isfile(pb):
            why = diff_file(pa, pb)
        else:
            why = "a directory on one side, a file on the other"
        if why is None:
            same += 1
        else:
            differ += 1
            print(f"{k}: {why}")
    print(f"same={same} differ={differ}")
    return 1 if differ else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
