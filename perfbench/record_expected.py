"""Regenerate ``perfbench/expected.json``: the analytics workload's
expected result (row count and order-insensitive hash) per query, over
the benchmark's generated dataset.

    python3 perfbench/record_expected.py

Run it only when the dataset generator or the query list changes. Each
query with a DuckDB oracle is first checked against that oracle on the
same files (``tools/check.compare``); the file is written only when
every oracled query agrees.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, workloads  # noqa: E402
from perfbench.run import Run  # noqa: E402


def main() -> int:
    from build_a_cloud_based_batch_etl_pipeline_spark.queries import load_all
    from tools.check import compare, duck_con

    registry = load_all()
    names = workloads.headline_per_module(registry)
    run = Run("record", 0, 1, False)
    expected, bad = {}, []
    try:
        data = run.path("data", "sfbench")
        datagen.write_tables(data)
        spark = run.start_spark()
        con = duck_con(data)
        for name in names:
            pdf = registry[name].fn(spark, data).toPandas()
            oracle = registry[name].oracle
            problems = compare(name, pdf, con.execute(oracle).df()) if oracle else []
            if problems:
                bad.append(name)
            print(name, len(pdf), "oracle" if oracle else "rows-only", problems or "ok")
            expected[name] = {"rows": len(pdf), "hash": workloads.result_hash(pdf)}
    finally:
        run.close()
    if bad:
        print(f"not written: {bad} disagree with their DuckDB oracle")
        return 1
    with open(workloads.EXPECTED_PATH, "w") as f:
        json.dump({"analytics": expected}, f, indent=2, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
