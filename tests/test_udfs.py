"""The row-at-a-time UDF's declaration."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_udfs_import_without_warnings_and_keep_batched_eval_type():
    """`flag_status_rowwise` names its eval type, so pyspark does not try
    to infer one from the `str` hints and warn "Cannot infer the eval
    type from type hints" at every import; the eval type is still the
    pickled row-at-a-time one.  Run in a fresh interpreter so the import
    really happens under the error filter."""
    code = (
        "import warnings\n"
        "warnings.simplefilter('error')\n"
        "from impala_avx2_parquet_scanner_spark.functions import udfs\n"
        "from pyspark.util import PythonEvalType\n"
        "assert udfs.flag_status_rowwise.evalType == "
        "PythonEvalType.SQL_BATCHED_UDF\n"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
