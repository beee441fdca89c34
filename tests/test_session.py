"""get_spark's session settings."""

import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
FLAG = "spark.python.sql.dataFrameDebugging.enabled"


def test_dataframe_debugging_off(spark):
    """No per-Column call-site capture on a get_spark session."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(FLAG) == "false"
    assert not is_debugging_enabled()


def test_extra_conf_overrides_dataframe_debugging():
    """A caller's extra_conf turns the capture back on. PySpark reads
    the flag once per process, so this runs in a fresh driver."""
    code = (
        "from cordon_spark.session import get_spark\n"
        "from pyspark.errors.utils import is_debugging_enabled\n"
        f"spark = get_spark(master='local[1]', driver_memory='1g', extra_conf={{{FLAG!r}: 'true'}})\n"
        f"print(spark.conf.get({FLAG!r}), is_debugging_enabled())\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "true True"
