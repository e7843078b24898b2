"""``queries_corpus._build_once``: the one build-once cache behind the
fixtures that persist an index or an input drop (``kw_index``,
``mh_index``, ``ivf_index``, the e2e stream input). A crashed build's
partial is replaced, a committed dir is never deleted or overwritten,
and the loser of a build race keeps the winner's copy. Pure filesystem
test — no Spark."""

import os

from dig_etl_engine_spark.queries_corpus import _build_once


def _writer(tag, calls):
    def build(d):
        calls.append(d)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "data"), "w") as fh:
            fh.write(tag)
        open(os.path.join(d, "_SUCCESS"), "w").close()
    return build


def _read(path):
    with open(os.path.join(path, "data")) as fh:
        return fh.read()


def _no_leftovers(path):
    parent, name = os.path.split(path)
    return sorted(os.listdir(parent)) == [name]


def test_crashed_partial_is_replaced(tmp_path):
    path = str(tmp_path / "idx")
    os.makedirs(path)
    with open(os.path.join(path, "data"), "w") as fh:
        fh.write("partial")           # a crashed build: no marker
    calls = []
    assert _build_once(path, "_SUCCESS", _writer("built", calls)) == path
    assert _read(path) == "built" and len(calls) == 1
    assert calls[0] != path           # built aside, then renamed in
    assert _no_leftovers(path)


def test_committed_dir_is_never_rebuilt_or_deleted(tmp_path):
    path = str(tmp_path / "idx")
    _writer("committed", [])(path)
    calls = []
    assert _build_once(path, "_SUCCESS", _writer("other", calls)) == path
    assert calls == [] and _read(path) == "committed"


def test_race_loser_keeps_winners_copy(tmp_path):
    """A peer commits while this builder is still writing: the rename
    in fails, the winner's copy stays, and the loser's build is
    dropped."""
    path = str(tmp_path / "idx")

    def build(d):
        _writer("loser", [])(d)
        _writer("winner", [])(path)   # the peer commits meanwhile

    assert _build_once(path, "_SUCCESS", build) == path
    assert _read(path) == "winner"
    assert _no_leftovers(path)


def test_commit_landing_on_partial_mid_check_is_put_back(
        tmp_path, monkeypatch):
    """A peer renames its committed copy over an empty partial after
    this builder found the partial uncommitted but before it moved the
    partial aside: the aside copy is re-checked, found committed, and
    put back instead of deleted."""
    path = str(tmp_path / "idx")
    os.makedirs(path)                 # an empty crashed partial
    real_rename = os.rename

    def rename(src, dst):
        if src == path and ".trash-" in dst:
            peer = path + ".build-peer"
            _writer("winner", [])(peer)
            real_rename(peer, path)   # the peer commits just in time
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    assert _build_once(path, "_SUCCESS", _writer("loser", [])) == path
    assert _read(path) == "winner"
    assert _no_leftovers(path)
