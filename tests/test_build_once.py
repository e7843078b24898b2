"""``queries_corpus._build_once``: the one build-once cache behind the
fixtures that persist an index or an input drop (``kw_index``,
``mh_index``, ``ivf_index``, the e2e stream input). Each cache is an
epoch store (``sinks/kg_table.publish_epoch``): a committed build is
never rebuilt or deleted, a crashed build's partial is swept by the
next publish, and concurrent builders run one build and share its
root. Pure filesystem test — no Spark."""

import os
import threading
import time

import pytest

from dig_etl_engine_spark.queries_corpus import _build_once


def _writer(tag, calls):
    def build(d):
        calls.append(d)
        os.makedirs(d)
        with open(os.path.join(d, "data"), "w", encoding="utf-8") as fh:
            fh.write(tag)
    return build


def _read(root):
    with open(os.path.join(root, "data"), encoding="utf-8") as fh:
        return fh.read()


def _only_live(path, root):
    """Nothing under ``path`` but the pointer and the live root, and
    nothing beside ``path`` (the lock is released)."""
    return (sorted(os.listdir(path)) == sorted(
        ["_CURRENT", os.path.basename(root)])
        and os.listdir(os.path.dirname(path)) == [os.path.basename(path)])


def test_crashed_partial_is_replaced(tmp_path):
    path = str(tmp_path / "idx")

    def crash(d):
        _writer("partial", [])(d)
        raise RuntimeError("builder died")

    with pytest.raises(RuntimeError):
        _build_once(path, crash)
    calls = []
    root = _build_once(path, _writer("built", calls))
    assert _read(root) == "built" and calls == [root]
    assert _only_live(path, root)


def test_committed_dir_is_never_rebuilt_or_deleted(tmp_path):
    path = str(tmp_path / "idx")
    root = _build_once(path, _writer("committed", []))
    calls = []
    assert _build_once(path, _writer("other", calls)) == root
    assert calls == [] and _read(root) == "committed"
    assert _only_live(path, root)


def test_race_loser_keeps_winners_copy(tmp_path):
    """Two threads of one process build the same path: the second
    arrives while the first's build is half-written. It waits for the
    first's publish instead of building beside it, so one build runs
    and both callers get its root."""
    path = str(tmp_path / "idx")
    calls, started = [], threading.Event()

    def build(d):
        calls.append(d)
        os.makedirs(d)
        with open(os.path.join(d, "data"), "w", encoding="utf-8") as fh:
            fh.write("half")
        started.set()
        time.sleep(0.5)          # the peer arrives meanwhile
        with open(os.path.join(d, "data"), "a", encoding="utf-8") as fh:
            fh.write(" done")

    roots = {}

    def run(name):
        roots[name] = _build_once(path, build)

    first = threading.Thread(target=run, args=("first",))
    first.start()
    assert started.wait(10)
    run("second")
    first.join(10)
    assert len(calls) == 1
    assert roots["first"] == roots["second"] == calls[0]
    assert _read(roots["first"]) == "half done"
    assert _only_live(path, roots["first"])
