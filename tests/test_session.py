"""get_spark's session settings."""

import pathlib
import subprocess
import sys

import pytest

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


def test_ship_package_registers_once(spark):
    """A second ship leaves the session as it is: Spark would append the
    zip to the Python includes and the driver's sys.path again."""
    from cordon_spark.session import ship_package

    def registered():
        return (
            spark.sparkContext._python_includes.count("cordon_spark.zip"),
            sum(p.endswith("cordon_spark.zip") for p in sys.path),
        )

    before = registered()
    for _ in range(3):
        ship_package(spark)
    assert registered() == before
    assert before[0] == 1


def test_every_harness_callable_ships(monkeypatch):
    """entry() and every queries() callable ship the package before the
    query runs: the harness's session does not come from get_spark."""
    import __spark_entry__ as E
    from cordon_spark import session

    class Shipped(Exception):
        pass

    shipped = []

    def ship(spark):
        shipped.append(spark)
        raise Shipped

    monkeypatch.setattr(session, "ship_package", ship)
    queries = E.queries()
    for query in queries.values():
        with pytest.raises(Shipped):
            query("harness session", "sf dir")
    with pytest.raises(Shipped):
        E.entry("harness session")
    assert shipped == ["harness session"] * (len(queries) + 1)
