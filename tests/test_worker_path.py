"""Python workers import the engine wherever the Spark application runs.

A pyspark worker starts as ``python -m pyspark.daemon`` in the JVM's
working directory, with the JVM's ``PYTHONPATH``.  A process that found
the package through ``sys.path`` alone, from another directory, used to
get workers that could not import it: every fledir write and read
failed with ``ModuleNotFoundError``.  `session.get_spark` now puts the
package's parent directory on its workers' Python path."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_fledir_roundtrip_from_foreign_cwd_without_pythonpath(tmp_path):
    out_dir = str(tmp_path / "t_fle")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        import pandas as pd
        from impala_avx2_parquet_scanner_spark.session import get_spark
        from impala_avx2_parquet_scanner_spark.sources.fle_datasource import (
            register_fledir,
            write_fledir,
        )
        spark = get_spark("foreign-cwd", cpus=1, shuffle_partitions=1)
        register_fledir(spark)
        frame = spark.createDataFrame(pd.DataFrame({{"k": [3, 5, 7]}}))
        write_fledir(frame, [("k", None, None)], {out_dir!r})
        df = spark.read.format("fledir").option("path", {out_dir!r}).load()
        print(sorted(r.k for r in df.collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split("\n")[-2] == "[3, 5, 7]"
