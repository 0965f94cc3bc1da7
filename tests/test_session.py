"""The session's default driver heap: 1.5 GB per task slot, capped at 75%
of physical memory, pinned with -Xms; and the package's visibility to the
Python workers.  No Spark session is started in this process."""

import os
import subprocess
import sys

import pytest

from ebel_spark import session
from ebel_spark.session import driver_memory_conf

GIB_KB = 1 << 20
HOST_16G_KB = 16479424          # MemTotal of a 4-core / 15.7 GiB host
HOST_128G_KB = 128 * GIB_KB


def _heap(cores, mem_kb):
    return driver_memory_conf(cores, mem_kb)["spark.driver.memory"]


def _kb(size: str) -> int:
    units = {"k": 1, "m": 1 << 10, "g": 1 << 20, "t": 1 << 30}
    return int(size[:-1]) * units[size[-1].lower()]


@pytest.fixture(autouse=True)
def _no_override(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


def test_slot_rule_on_small_host():
    assert _heap(4, HOST_16G_KB) == "6g"


def test_slot_rule_on_large_host():
    assert _heap(32, HOST_128G_KB) == "48g"


def test_capped_at_three_quarters_of_memtotal():
    mem = _heap(32, HOST_16G_KB)
    assert _kb(mem) <= 0.75 * HOST_16G_KB
    assert mem == "11g"


def test_unreadable_memtotal_falls_back_to_slot_rule(monkeypatch):
    monkeypatch.setattr(session, "_mem_total_kb", lambda: None)
    assert _heap(32, None) == "48g"


def test_spark_driver_mem_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "4g")
    conf = driver_memory_conf(32, HOST_128G_KB)
    assert conf["spark.driver.memory"] == "4g"
    assert conf["spark.driver.extraJavaOptions"].split()[-1] == "-Xms4g"


@pytest.mark.parametrize("cores,mem_kb", [(4, HOST_16G_KB),
                                          (32, HOST_16G_KB),
                                          (32, HOST_128G_KB)])
def test_xms_pins_driver_memory(cores, mem_kb):
    conf = driver_memory_conf(cores, mem_kb)
    xms = [o for o in conf["spark.driver.extraJavaOptions"].split()
           if o.startswith("-Xms")]
    assert xms == ["-Xms" + conf["spark.driver.memory"]]


def test_workers_import_package_found_only_on_sys_path(tmp_path):
    """A driver that found ebel_spark through sys.path alone, run from
    another directory: the Python workers of its pandas UDFs import
    ebel_spark too."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from ebel_spark.session import get_spark

spark = get_spark(cores=1, app_name="worker-import")

@F.pandas_udf("string")
def package_name(s: pd.Series) -> pd.Series:
    import ebel_spark
    return s.map(lambda _: ebel_spark.__name__)

print(spark.range(1).select(package_name(F.col("id").cast("string"))).first()[0])
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    run = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-1] == "ebel_spark"
