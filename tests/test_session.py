"""get_spark's precedence rule, in a fresh interpreter whose launcher
sets keys through ``PYSPARK_SUBMIT_ARGS``: an explicit argument wins
over a launcher key, and a launcher key wins over the engine's
default."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json
from docling_api_spark.session import get_spark, run_conditions

def seen(spark):
    return {**run_conditions(spark), "tz": spark.conf.get("spark.sql.session.timeZone"),
            "aqe": spark.conf.get("spark.sql.adaptive.enabled"), "app": spark.sparkContext.appName}

spark = get_spark(master="local[1]", app_name="first", shuffle_partitions=3,
                  extra_conf={"spark.sql.adaptive.enabled": "false"})
first = seen(spark)
spark.stop()
# the JVM outlives the session: its launcher keys must still win over
# the defaults, and this process's own earlier arguments must not
spark = get_spark()
second = seen(spark)
spark.stop()
print(json.dumps([first, second]))
"""


def test_explicit_over_launcher_over_default(tmp_path):
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--master local[2] --conf spark.sql.shuffle.partitions=7 "
        "--conf spark.sql.session.timeZone=America/New_York pyspark-shell"
    )
    proc = subprocess.run(
        [sys.executable, "-c", CHILD],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    first, second = json.loads(proc.stdout.strip().splitlines()[-1])
    assert first == {
        "master": "local[1]",
        "default_parallelism": 1,
        "shuffle_partitions": 3,
        "tz": "America/New_York",
        "aqe": "false",
        "app": "first",
    }
    assert second == {
        "master": "local[2]",
        "default_parallelism": 2,
        "shuffle_partitions": 7,
        "tz": "America/New_York",
        "aqe": "true",
        "app": "docling_api_spark",
    }
