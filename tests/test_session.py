"""get_spark defaults: core count, worker import path, call-site capture."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from clucene_spark import session

REPO = str(Path(__file__).resolve().parents[1])


def test_usable_cpus_follows_affinity(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.usable_cpus() == 3


def test_dataframe_debugging_disabled(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") \
        == "false"


PROBE = """
import json, sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from clucene_spark.session import get_spark, usable_cpus

spark = get_spark("cwd-probe")

@F.pandas_udf("string")
def package_file(s: pd.Series) -> pd.Series:
    import clucene_spark
    return s.map(lambda _: clucene_spark.__file__)

row = spark.range(1).select(package_file("id").alias("f")).first()
print(json.dumps({{
    "worker_import": row["f"],
    "master": spark.sparkContext.master,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "cpus": usable_cpus(),
}}))
spark.stop()
"""


def test_workers_import_package_from_any_directory(tmp_path):
    """A driver started outside the repo, with no PYTHONPATH and no
    SPARK_GRAFT_CPUS: pandas-UDF workers still import clucene_spark, and
    the session sizes itself to the usable cores."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "SPARK_GRAFT_CPUS", "MASTER")}
    env["SPARK_DRIVER_MEM"] = "1g"
    script = tmp_path / "probe.py"
    script.write_text(PROBE.format(repo=REPO))
    out = subprocess.run(
        [sys.executable, str(script)], cwd="/tmp", env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["worker_import"].startswith(REPO), got
    n = got["cpus"]
    assert got["master"] == f"local[{n}]", got
    assert got["shuffle_partitions"] == str(n), got
