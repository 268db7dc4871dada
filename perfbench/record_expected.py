"""Record ``expected.json``: row count and content hash of every query key
of ``corpus_build``, on the tables the benchmark lands from its fixed
data seed. Each key with a DuckDB oracle in the harness is diffed against
it first, and a key that disagrees is not recorded.

    python3 perfbench/record_expected.py

Run it from the root of a checkout, only when the keys or the generator
change on purpose.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import run  # sets nothing up on import

from checks import EXPECTED_PATH, digest


def main() -> int:
    sys.path[:0] = [run.ROOT, os.path.join(run.ROOT, "tests")]
    os.environ.update({"SPARK_GRAFT_CPUS": str(run.CORES), "SPARK_GRAFT_DRIVER_MEM": "3g"})
    from datagen import write_tables
    from fordgobike_data_pipeline_spark import harness
    from fordgobike_data_pipeline_spark.session import get_spark
    from oracle_diff import compare

    tmp = os.path.join(run.ROOT, ".perfbench", "record")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    sf_dir = os.path.join(tmp, "tables")
    write_tables(sf_dir, run.TABLES_SF, run.DATA_SEED)
    spark = get_spark(app_name="perfbench-record")
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = harness.all_queries(), harness.all_oracle_sql()
    out, bad = {}, []
    try:
        for key in sorted(run.CORPUS_KEYS):
            if key in oracles:
                ok, msg = compare(queries[key](spark, sf_dir), oracles[key], sf_dir)
                if not ok:
                    bad.append(f"{key}: {msg}")
                    continue
            out[key] = digest(queries[key](spark, sf_dir))
            print(key, out[key], "oracle" if key in oracles else "no oracle", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    with open(EXPECTED_PATH, "w") as fh:
        json.dump({"data_seed": run.DATA_SEED, "keys": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for line in bad:
        print("NOT RECORDED", line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
