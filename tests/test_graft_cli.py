"""Smoke test of the measurement tool ``scripts/graft.py``, driven
in-process through ``main`` on the shared session (which ``main`` must
leave running: it stops only a session it built)."""

import importlib.util
import json
import pathlib

import pytest

from tests.conftest import SF_SMOKE
from waterbear_spark.queries.catalog import ORACLE_SQL

pytestmark = pytest.mark.smoke

_SPEC = importlib.util.spec_from_file_location(
    "graft", pathlib.Path(__file__).resolve().parents[1] / "scripts" / "graft.py"
)
graft = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(graft)

_PAIR = ["q1_pricing_summary", "exists_subquery"]


def _oracle(out):
    return graft.main(
        ["oracle", "--cores", "4", "--sf", SF_SMOKE, "--out", str(out), *_PAIR]
    )


def test_oracle_writes_hash_matches(spark, tmp_path):
    out = tmp_path / "oracle.json"
    assert _oracle(out) == 0
    results = json.loads(out.read_text())["results"]
    assert [results[n]["status"] for n in _PAIR] == ["hash_match", "hash_match"]
    # the caller's session survives main()
    assert spark.range(3).count() == 3


def test_oracle_fails_on_a_wrong_twin(spark, tmp_path, monkeypatch, capsys):
    monkeypatch.setitem(ORACLE_SQL, "exists_subquery", "SELECT 1 AS wrong")
    out = tmp_path / "oracle.json"
    assert _oracle(out) != 0
    results = json.loads(out.read_text())["results"]
    assert results["exists_subquery"]["status"] == "mismatch"
    assert results["q1_pricing_summary"]["status"] == "hash_match"
    assert "FAIL  exists_subquery: mismatch" in capsys.readouterr().out


def test_explain_writes_a_plan(spark, tmp_path):
    # --cores 16: session(16) on the caller's session would reset its
    # shuffle partitions; main must run on it as it is
    before = spark.conf.get("spark.sql.shuffle.partitions")
    argv = ["explain", "--cores", "16", "--sf", SF_SMOKE, "--out", str(tmp_path)]
    assert graft.main(argv + ["q1_pricing_summary"]) == 0
    plan = (tmp_path / "q1_pricing_summary.txt").read_text()
    assert "== Physical Plan ==" in plan
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
