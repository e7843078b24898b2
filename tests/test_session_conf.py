"""``get_spark``'s builder is the one place the engine sets its Spark
confs, and ``extra_conf`` is the one way to override them.

Nine environment variables used to set the same confs a second way. They
are gone; this test sets every one of them to a non-default value and
checks that a fresh session still reads the engine's constants, then
passes the same values through ``extra_conf`` and reads them back.

The variables that pick the deployment's shape stay, and a malformed
value in one of them raises instead of being read as a default.
"""

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = str(Path(__file__).resolve().parent.parent)

# each retired variable, set to a non-default value
RETIRED_ENV = {
    "SPARK_SHUFFLE_PARTITIONS": "3",
    "SPARK_UI": "true",
    "SPARK_GRAFT_CKPT_CHECKSUM": "true",
    "SPARK_GRAFT_PERIODIC_GC": "30min",
    "SPARK_GRAFT_DF_DEBUG": "true",
    "SPARK_GRAFT_CACHED_PLAN_AQE": "false",
    "SPARK_GRAFT_LOCALFS_CRC": "true",
    "SPARK_GRAFT_PREFER_SMJ": "true",
    "SPARK_GRAFT_STREAM_PARTS": "3",
}

# conf -> (engine constant, the value its retired variable asked for)
CONFS = {
    "spark.sql.shuffle.partitions": ("4", "3"),  # 2 x SPARK_GRAFT_CPUS=2
    "spark.ui.enabled": ("false", "true"),
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": ("false", "true"),
    "spark.cleaner.periodicGC.interval": ("90s", "30min"),
    "spark.python.sql.dataFrameDebugging.enabled": ("false", "true"),
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning":
        ("true", "false"),
    "spark.hadoop.fs.file.impl": ("org.apache.hadoop.fs.RawLocalFileSystem",
                                  "org.apache.hadoop.fs.LocalFileSystem"),
    "spark.hadoop.fs.AbstractFileSystem.file.impl":
        ("org.apache.hadoop.fs.local.RawLocalFs",
         "org.apache.hadoop.fs.local.LocalFs"),
    "spark.sql.join.preferSortMergeJoin": ("false", "true"),
}

_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from dig_etl_engine_spark.queries_io import _stream_parts
from dig_etl_engine_spark.session import get_spark
keys, extra = json.loads(sys.argv[2]), json.loads(sys.argv[3])
spark = get_spark("session-conf-probe", extra_conf=extra)
out = {k: spark.conf.get(k) for k in keys}
with _stream_parts(spark):
    out["stream"] = spark.conf.get("spark.sql.shuffle.partitions")
spark.stop()
print(json.dumps(out))
"""


def _probe(extra: dict[str, str]) -> dict[str, str]:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_MASTER"}
    env.update(RETIRED_ENV, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", _CHILD, REPO, json.dumps(list(CONFS)),
         json.dumps(extra)],
        env=env, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_retired_env_variables_have_no_effect_and_extra_conf_overrides():
    got = _probe({})
    assert got == {**{k: v[0] for k, v in CONFS.items()}, "stream": "16"}

    asked = {k: v[1] for k, v in CONFS.items()}
    got = _probe(asked)
    assert got == {**asked, "stream": "16"}


@pytest.mark.parametrize("var,value", [
    ("SPARK_GRAFT_CPUS", "abc"),
    ("SPARK_GRAFT_CPUS", "0"),
    ("SPARK_GRAFT_CPUS", "-2"),
    ("SPARK_GRAFT_WORKER_PRELOAD", "offf"),
    ("SPARK_GRAFT_WORKER_PRELOAD", "true"),
])
def test_malformed_deployment_env_names_variable_and_value(
        monkeypatch, var, value):
    # a typo must fail loudly: SPARK_GRAFT_CPUS=abc used to fall back to
    # os.cpu_count() and SPARK_GRAFT_WORKER_PRELOAD=offf to mean "on"
    from dig_etl_engine_spark.session import (
        _worker_preload_confs, get_spark)

    monkeypatch.setenv(var, value)
    with pytest.raises(ValueError) as ei:
        if var == "SPARK_GRAFT_CPUS":
            get_spark("malformed-env-probe")   # raises before the builder
        else:
            _worker_preload_confs("local[4]")
    assert var in str(ei.value) and repr(value) in str(ei.value)
