"""Census of the package's ``SPARK_GRAFT_*`` environment knobs.

Behaviour the environment can change is behaviour the tests and the
oracle certification may never see, so the package reads exactly the
knobs named here. Adding one means changing this allowlist, in review.
"""

import ast
import pathlib
import re

import pytest

pytestmark = pytest.mark.smoke

ALLOWED = {
    # deployment path of the staged ANN index store
    "SPARK_GRAFT_ANN_INDEX_DIR",
    # selects the from-scratch certification twin of the staged ANN index
    "SPARK_GRAFT_ANN_REBUILD",
}

_PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "waterbear_spark"
# a whole string literal naming a knob (or a prefix an f-string extends);
# prose that merely mentions a knob inside a docstring is not a read
_KNOB = re.compile(r"SPARK_GRAFT_\w*")


def test_env_knobs_match_allowlist():
    found = {}
    for path in sorted(_PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _KNOB.fullmatch(node.value)
            ):
                found.setdefault(node.value, []).append(
                    f"{path.relative_to(_PACKAGE.parent)}:{node.lineno}"
                )
    assert set(found) == ALLOWED, found
