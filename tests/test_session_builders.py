"""Census of the chains that build a Spark session.

The session conf is part of this engine's contract (``pagerank_bipartite``
runs ~8x slower under Spark's default 200 shuffle partitions), so the
package, its tests and its scripts build sessions only through
``waterbear_spark.conf.session``. ``bench.py`` and ``perfbench/`` keep
their own builders and sit outside the scanned directories.
"""

import ast
import pathlib

import pytest

from waterbear_spark.conf import session

pytestmark = pytest.mark.smoke

_REPO = pathlib.Path(__file__).resolve().parents[1]
_SCANNED = ("tests", "scripts", "waterbear_spark")
_OWNER = "waterbear_spark/conf.py"


def test_only_conf_builds_sessions():
    found = []
    for top in _SCANNED:
        for path in sorted((_REPO / top).rglob("*.py")):
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr == "builder"
                    and "SparkSession"
                    in (getattr(node.value, "id", None), getattr(node.value, "attr", None))
                ):
                    found.append(f"{path.relative_to(_REPO)}:{node.lineno}")
    assert [f for f in found if not f.startswith(_OWNER + ":")] == []
    assert found, "the census no longer sees conf.session's own builder"


def test_session_conf_matches_bench(spark):
    # bench.py builds this conf by hand and cannot import session(), so
    # the reference values are written out here; the fixture makes
    # session(4) re-apply them to the shared session, not start another
    s = session(4)
    assert s.conf.get("spark.sql.shuffle.partitions") == "8"
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"
    assert s.sparkContext.getConf().get("spark.ui.enabled") == "false"
    assert s.conf.get("spark.sql.adaptive.enabled") == "true"
    assert s.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
