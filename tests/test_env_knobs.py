"""Census of the ``SPARK_GRAFT_*`` environment knobs the package and
the scripts read.

Behaviour the environment can change is behaviour the tests and the
oracle certification may never see, so the package reads exactly the
knobs named here and the scripts read none (their settings are
command-line arguments). Adding one means changing this allowlist, in
review. ``bench.py`` and ``perfbench/`` sit outside the scan.
"""

import ast
import pathlib
import re

import pytest

pytestmark = pytest.mark.smoke

ALLOWED = {
    # deployment path of the staged ANN index store
    "SPARK_GRAFT_ANN_INDEX_DIR",
}

_REPO = pathlib.Path(__file__).resolve().parents[1]
# a whole string literal naming a knob (or a prefix an f-string extends);
# prose that merely mentions a knob inside a docstring is not a read
_KNOB = re.compile(r"SPARK_GRAFT_\w*")


def _knob_reads(top: str) -> dict[str, list[str]]:
    found = {}
    for path in sorted((_REPO / top).rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _KNOB.fullmatch(node.value)
            ):
                found.setdefault(node.value, []).append(
                    f"{path.relative_to(_REPO)}:{node.lineno}"
                )
    return found


def test_env_knobs_match_allowlist():
    found = _knob_reads("waterbear_spark")
    assert set(found) == ALLOWED, found


def test_scripts_read_no_env_knobs():
    assert _knob_reads("scripts") == {}
