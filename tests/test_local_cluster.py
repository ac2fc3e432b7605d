"""Multi-executor smoke (VERDICT r4 item 7): run the flagship plus one
representative of each risk class under ``local-cluster[2,2,2048]`` —
separate executor JVMs with their own working directories, unlike
``local[32]`` where driver and executors share a process. This catches
driver-locality assumptions the whole local suite can't: executor-side
file access inside ``mapInPandas`` readers, broadcast values that only
existed driver-side, Arrow worker setup on fresh executors, and
accumulator/closure serialization.

Runs in a SUBPROCESS: a second SparkSession with a different master
cannot coexist with the session-scoped ``local[*]`` fixture in one JVM.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local-cluster[2,2,2048]")
    .appName("lc-smoke")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.executor.memory", "1500m")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
sf = {sf!r}

# Ship the package to the executors' Python workers the way a real
# cluster submit would (spark-submit --py-files): local[32] masks this
# because workers inherit the driver's sys.path, but separate executor
# JVMs spawn workers with a clean path — any mapInPandas/applyInPandas
# function that references package modules by name would die with
# ModuleNotFoundError (caught by this very test before the fix).
import shutil, tempfile, os
zip_base = os.path.join(tempfile.mkdtemp(), "fefal_etl_spark")
shutil.make_archive(zip_base, "zip", {repo!r}, "fefal_etl_spark")
spark.sparkContext.addPyFile(zip_base + ".zip")

import __spark_entry__ as entrymod

# 1. flagship (broadcast entity-resolution join + dedup windows)
n = len(entrymod.entry(spark).collect())
assert n > 0, "flagship returned no rows"
print("OK entry", n)

qs = entrymod.queries()
# 2. Arrow hook (grouped applyInPandas state machine)
# 3. driver-side operator (connected components: union-find over the
#    collected planted dup pairs)
# 4. broadcast dim join (nation dim broadcast under a fact agg)
# 5. executor-side file IO inside mapInPandas (distributed Excel read)
for name in (
    "stateful_running_counts",
    "dup_clusters",
    "revenue_by_nation",
    "excel_dir_scan",
):
    n = qs[name](spark, sf).count()
    assert n > 0, f"{{name}} returned no rows"
    print("OK", name, n)

# 6. deletion-vector read: the anti-join keys on _metadata.file_path /
# row_index, which are produced by the EXECUTOR-side scan — and the
# manifest-driven multi-path read itself must resolve on executors
import tempfile as _tf
from pyspark.sql import functions as F
from fefal_etl_spark.table import TransactionalTable

t = TransactionalTable(spark, os.path.join(_tf.mkdtemp(), "t"))
t.overwrite(spark.range(100).select(F.col("id").alias("k")).repartition(4))
t.delete_where_dv(F.col("k") % 10 == 3)
n = t.read().count()
assert n == 90, f"dv read expected 90 rows, got {{n}}"
print("OK dv_read", n)

spark.stop()
print("ALL-OK")
"""


@pytest.mark.slow
def test_local_cluster_smoke():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _SCRIPT.format(repo=repo, sf="/root/testdata/sf0.001")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=570,
        cwd=repo,
    )
    out = proc.stdout
    assert proc.returncode == 0, f"stdout:\n{out}\nstderr:\n{proc.stderr[-4000:]}"
    assert "ALL-OK" in out, out
