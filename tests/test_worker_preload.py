"""Python-worker preload (r12 optimization): the engine session runs
pyspark's daemon through the TOP-LEVEL ``dig_etl_worker_preload`` module,
which imports pandas/pyarrow once so every forked worker inherits them
copy-on-write instead of paying the ~0.25-0.4 s import chain on its
first Arrow/pandas task.

Contract pinned here:
  * ``_worker_preload_confs`` emits the daemon-module conf plus an
    executorEnv PYTHONPATH (``os.pathsep``-joined) that makes the module
    resolvable from a checkout; honors the falsey
    ``SPARK_GRAFT_WORKER_PRELOAD`` escapes; and applies automatically
    ONLY for local masters (a non-local master needs the module on every
    executor host, so it requires the explicit ``force`` opt-in).
  * the wrapper module is top-level (``-m`` must not execute the engine
    package's ``__init__`` inside the daemon), caps the BLAS pool before
    the first numpy load (the daemon forks; it must stay effectively
    single-threaded), pre-imports the heavy libraries, and exposes the
    stock daemon's ``manager`` entry.
  * end-to-end: the shared engine session (built by ``get_spark``) runs
    with the conf applied, and a worker probe observes pandas already in
    ``sys.modules`` at function entry — the daemon-inheritance path.
"""

import os
import subprocess
import sys
from pathlib import Path

import pytest

from dig_etl_engine_spark.session import _worker_preload_confs

REPO = str(Path(__file__).resolve().parent.parent)


class TestPreloadConfs:
    def test_default_emits_daemon_module_and_pythonpath(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_WORKER_PRELOAD", raising=False)
        confs = _worker_preload_confs("local[4]")
        assert confs["spark.python.daemon.module"] == "dig_etl_worker_preload"
        # package parent on the worker path, existing PYTHONPATH kept
        assert REPO in confs["spark.executorEnv.PYTHONPATH"].split(os.pathsep)

    def test_existing_pythonpath_preserved(self, monkeypatch):
        monkeypatch.setenv("PYTHONPATH", "/some/where")
        parts = _worker_preload_confs("local[4]")[
            "spark.executorEnv.PYTHONPATH"].split(os.pathsep)
        assert "/some/where" in parts and REPO in parts

    @pytest.mark.parametrize("val", ["off", "false", "0", "no", "OFF",
                                     "False"])
    def test_env_escape_disables(self, monkeypatch, val):
        monkeypatch.setenv("SPARK_GRAFT_WORKER_PRELOAD", val)
        assert _worker_preload_confs("local[4]") == {}

    def test_nonlocal_master_disabled_unless_forced(self, monkeypatch):
        # the daemon starts before addPyFile ships anything, so on a
        # cluster whose executors lack the module the conf would brick
        # every Python worker — auto-apply is local-only.
        monkeypatch.delenv("SPARK_GRAFT_WORKER_PRELOAD", raising=False)
        assert _worker_preload_confs("spark://host:7077") == {}
        monkeypatch.setenv("SPARK_GRAFT_WORKER_PRELOAD", "force")
        confs = _worker_preload_confs("spark://host:7077")
        assert confs["spark.python.daemon.module"] == "dig_etl_worker_preload"


class TestPreloadModule:
    def test_module_preimports_and_exposes_manager(self):
        # fresh interpreter: importing the wrapper must pull pandas and
        # pyarrow into sys.modules (the copy-on-write payload), bind the
        # stock daemon entry point it delegates to, NOT import the engine
        # package (driver-side code must stay out of the daemon), and cap
        # the BLAS pool before numpy loads (the daemon forks workers, so
        # it must not become multithreaded).
        code = (
            "import sys; sys.path.insert(0, %r)\n"
            "import dig_etl_worker_preload as m\n"
            "assert callable(m.manager)\n"
            "for mod in ('pandas', 'pyarrow', 'pyarrow.compute'):\n"
            "    assert mod in sys.modules, mod\n"
            "assert 'dig_etl_engine_spark' not in sys.modules\n"
            "import os\n"
            "assert os.environ['OPENBLAS_NUM_THREADS'] == '1'\n" % REPO)
        env = {**os.environ, "PYTHONPATH": ""}
        env.pop("OPENBLAS_NUM_THREADS", None)
        subprocess.run([sys.executable, "-c", code], check=True, env=env)

    def test_blas_cap_respects_deployment_override(self):
        code = (
            "import sys; sys.path.insert(0, %r)\n"
            "import dig_etl_worker_preload  # noqa: F401\n"
            "import os; assert os.environ['OPENBLAS_NUM_THREADS'] == '7'\n"
            % REPO)
        env = {**os.environ, "PYTHONPATH": "", "OPENBLAS_NUM_THREADS": "7"}
        subprocess.run([sys.executable, "-c", code], check=True, env=env)


class TestPreloadLive:
    def test_session_conf_and_worker_inheritance(self, spark):
        assert spark.conf.get("spark.python.daemon.module") == \
            "dig_etl_worker_preload"

        def probe(it):
            import sys as s
            hit = "pandas" in s.modules  # BEFORE any local import
            import pyarrow as pa
            for batch in it:
                yield pa.RecordBatch.from_pydict(
                    {"hit": [hit] * batch.num_rows})

        rows = (spark.range(0, 4, 1, 4)
                .mapInArrow(probe, "hit boolean").collect())
        assert rows and all(r.hit for r in rows)
