"""scripts/robustness_matrix.py — the one driver for the registry's
zone, hostile-environment and SQL-conf robustness cells: its diff and
exit-code logic, its ``[sf_dir] [name ...]`` argument rule, and one
real baseline-versus-conf-cell run."""

from __future__ import annotations

import importlib.util
import os

from .conftest import SF_UNIT

_PATH = os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "robustness_matrix.py")
_spec = importlib.util.spec_from_file_location("robustness_matrix", _PATH)
matrix = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(matrix)

_BASE = {"q_a": [3, ["x:int"], "aaaa"], "q_b": [1, ["y:string"], "bbbb"]}


def _fake_children(monkeypatch, payloads: dict):
    spawned = []

    def run_child(label, sf, names):
        spawned.append(label)
        return payloads.get(label, _BASE)

    monkeypatch.setattr(matrix, "run_child", run_child)
    return spawned


def test_every_cell_equal_exits_zero(monkeypatch, capsys):
    spawned = _fake_children(monkeypatch, {})
    assert matrix.main([SF_UNIT]) == 0
    # one baseline child, then one child per other cell
    assert spawned == list(matrix.CELLS)
    out = capsys.readouterr().out
    for label in matrix.CELLS:
        if label != "baseline":
            assert f"{label}: 2/2 independent at {SF_UNIT}" in out
    assert "DIFF" not in out


def test_planted_hash_difference_and_missing_query_exit_one(
        monkeypatch, capsys):
    _fake_children(monkeypatch, {
        "zone": {**_BASE, "q_b": [1, ["y:string"], "cccc"]},
        "aqe_off": {"q_a": _BASE["q_a"]},
    })
    assert matrix.main([SF_UNIT]) == 1
    out = capsys.readouterr().out
    assert "q_b: DIFF[zone] rows=1" in out
    assert "zone: 1/2 independent" in out
    assert "q_b: DIFF[aqe_off] rows=1" in out
    assert "aqe_off: 1/2 independent" in out
    assert "hostile: 2/2 independent" in out


def test_child_failure_exits_two(monkeypatch):
    spawned = _fake_children(monkeypatch, {"hostile": None})
    assert matrix.main([SF_UNIT]) == 2
    assert spawned[-1] == "hostile"
    _fake_children(monkeypatch, {"baseline": None})
    assert matrix.main([]) == 2


def test_sf_arg_rule(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    (tmp_path / "sf").mkdir()
    (tmp_path / "sf" / "region.parquet").write_bytes(b"")
    # a dir named like a query but holding no parquet is a query name
    (tmp_path / "agg_pricing_summary").mkdir()
    assert matrix.split_sf_arg(["sf", "q"]) == (str(tmp_path / "sf"), ["q"])
    assert matrix.split_sf_arg(["agg_pricing_summary"]) == (
        matrix.DEFAULT_SF, ["agg_pricing_summary"])
    assert matrix.split_sf_arg([]) == (matrix.DEFAULT_SF, [])
    assert matrix.split_sf_arg(["/abs/sf", "q"]) == ("/abs/sf", ["q"])


def test_baseline_and_conf_cell_report_equal(capsys):
    names = ["agg_pricing_summary"]
    base = matrix.run_child("baseline", SF_UNIT, names)
    got = matrix.run_child("aqe_off", SF_UNIT, names)
    assert base is not None and got is not None, capsys.readouterr().out
    assert base["agg_pricing_summary"][0] > 0
    assert matrix.diff_results(base, got, "aqe_off") == []
