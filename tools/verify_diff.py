#!/usr/bin/env python3
"""Parent-vs-change diff of two graft.Verify output directories.

Usage: python3 tools/verify_diff.py <parentOut> <changeOut>

For every query directory in either output it compares
  * rows: the multiset of rows, value for value (no float tolerance),
  * the arrow schema: column names, order, types and nullability,
  * Spark's own schema (the `org.apache.spark.sql.parquet.row.metadata`
    footer key), which carries Spark's nullability flags,
and it compares `oracle_sql.json` byte for byte. A query present on one
side only is a difference. Prints one line per differing query and a
summary; exits 1 on any difference, 0 when the outputs are identical.
"""
import glob
import json
import os
import sys

import pyarrow.parquet as pq

SPARK_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def queries(out_dir):
    return {os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
            if os.path.isdir(p)}


def load(query_dir):
    """(arrow schema without metadata, Spark schema JSON, sorted row reprs)."""
    files = sorted(glob.glob(f"{query_dir}/*.parquet"))
    if not files:
        return None, None, None
    schema = pq.read_schema(files[0])
    spark = json.loads(schema.metadata[SPARK_KEY]) \
        if schema.metadata and SPARK_KEY in schema.metadata else None
    rows = []
    for f in files:
        t = pq.read_table(f)
        rows.extend(repr(tuple(r.values())) for r in t.to_pylist())
    return schema.remove_metadata(), spark, sorted(rows)


def diff_query(a_dir, b_dir):
    """The names of the aspects in which two query outputs differ."""
    (sa, ka, ra), (sb, kb, rb) = load(a_dir), load(b_dir)
    if sa is None or sb is None:
        return [] if sa is None and sb is None else ["no parquet output on one side"]
    out = []
    if not sa.equals(sb):
        out.append(f"arrow schema {sa.to_string()!r} != {sb.to_string()!r}")
    if ka != kb:
        out.append("Spark schema metadata (types or nullability)")
    if ra != rb:
        only_a = len(set(ra) - set(rb))
        only_b = len(set(rb) - set(ra))
        out.append(f"rows ({len(ra)} vs {len(rb)}; {only_a} parent-only, "
                   f"{only_b} change-only distinct)")
    return out


def main(parent, change):
    a_oracle, b_oracle = (os.path.join(d, "oracle_sql.json") for d in (parent, change))
    oracle_same = os.path.exists(a_oracle) and os.path.exists(b_oracle) and \
        open(a_oracle, "rb").read() == open(b_oracle, "rb").read()
    if not oracle_same:
        print("DIFF oracle_sql.json: not byte-identical")
    qa, qb = queries(parent), queries(change)
    differing = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            what = [f"only in {'parent' if name in qa else 'change'}"]
        else:
            what = diff_query(os.path.join(parent, name), os.path.join(change, name))
        if what:
            print(f"DIFF {name}: " + "; ".join(what))
            differing += 1
    n = len(qa | qb)
    print(f"{n - differing}/{n} queries identical; oracle_sql.json "
          f"{'identical' if oracle_same else 'differs'}")
    return 0 if oracle_same and differing == 0 else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
