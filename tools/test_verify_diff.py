#!/usr/bin/env python3
"""Self-test of tools/verify_diff.py: an output compared with an exact copy
of itself is identical, and a copy with one changed cell, or with one
column's Spark nullability flipped, is reported and exits non-zero.

Usage: python3 tools/test_verify_diff.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

TOOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "verify_diff.py")


def spark_schema(nullable_v):
    return json.dumps({"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": False, "metadata": {}},
        {"name": "v", "type": "double", "nullable": nullable_v, "metadata": {}}]})


def write_query(out, name, vs, nullable_v=True):
    """One Verify-shaped query output: <out>/<name>/part-0.parquet."""
    os.makedirs(os.path.join(out, name))
    schema = pa.schema([pa.field("k", pa.int64(), nullable=False),
                        pa.field("v", pa.float64())],
                       metadata={"org.apache.spark.sql.parquet.row.metadata":
                                 spark_schema(nullable_v)})
    table = pa.table({"k": list(range(len(vs))), "v": vs}, schema=schema)
    pq.write_table(table, os.path.join(out, name, "part-0.parquet"))


def run(a, b):
    r = subprocess.run([sys.executable, TOOL, a, b], capture_output=True, text=True)
    return r.returncode, r.stdout


def main():
    root = tempfile.mkdtemp(prefix="verify_diff_test")
    try:
        parent = os.path.join(root, "parent")
        os.makedirs(parent)
        with open(os.path.join(parent, "oracle_sql.json"), "w") as f:
            json.dump({"q1": "SELECT 1", "q2": "SELECT 2"}, f)
        write_query(parent, "q1", [0.5, 1.5, None])
        write_query(parent, "q2", [2.0])

        same = os.path.join(root, "same")
        shutil.copytree(parent, same)
        code, out = run(parent, same)
        assert code == 0 and "2/2 queries identical" in out, out

        cell = os.path.join(root, "cell")
        shutil.copytree(parent, cell)
        shutil.rmtree(os.path.join(cell, "q1"))
        write_query(cell, "q1", [0.5, 1.5000000000000002, None])
        code, out = run(parent, cell)
        assert code == 1 and "DIFF q1: rows" in out and "DIFF q2" not in out, out

        nulls = os.path.join(root, "nulls")
        shutil.copytree(parent, nulls)
        shutil.rmtree(os.path.join(nulls, "q2"))
        write_query(nulls, "q2", [2.0], nullable_v=False)
        code, out = run(parent, nulls)
        assert code == 1 and "DIFF q2: Spark schema metadata" in out, out

        oracle = os.path.join(root, "oracle")
        shutil.copytree(parent, oracle)
        with open(os.path.join(oracle, "oracle_sql.json"), "w") as f:
            json.dump({"q1": "SELECT 1", "q2": "SELECT  2"}, f)
        code, out = run(parent, oracle)
        assert code == 1 and "DIFF oracle_sql.json" in out, out
    finally:
        shutil.rmtree(root)
    print("verify_diff self-test: OK")


if __name__ == "__main__":
    main()
