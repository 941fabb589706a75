"""One MinHash-LSH path: the tokenize -> shingle-set -> signature ->
band -> candidate chain and its DuckDB fragments live in
``queries/llm.py`` only.

A source census fails on a hand-built copy of any step anywhere else in
the package, and on a second copy inside ``llm.py``, so a change to the
banding lands in one place."""

import pathlib
import re

import pytest

import waterbear_spark

_ROOT = pathlib.Path(waterbear_spark.__file__).parent
_HOME = "queries/llm.py"

# name -> (pattern, number of sites allowed in llm.py)
_STEPS = {
    # the Spark signature fold: llm.py's _signatures and the row-local
    # pair compare of dedup_recall_report call it
    "minhash call": (re.compile(r"(?<!def )_minhash_struct\("), 3),
    # the band key h{2b} || h{2b+1}: _band_key and its oracle twin
    "band key": (re.compile(r"\{2 \* b\}"), 2),
    # widen the documents scan, then tokenize: _doc_tokens
    "tokens prelude": (
        re.compile(
            r'_fan_out\(\s*spark,\s*table\(spark,\s*sf_dir,\s*"documents"\)'
            r'\.select\("doc_id",\s*"text"\)\s*\)\s*\.select\(\s*"doc_id",'
            r"\s*(\*\w+,\s*)?_tokens\("
        ),
        1,
    ),
    # the oracle signature columns: _sig_sql
    "oracle signature": (
        re.compile(r"list_min\(list_transform\(\{?arr\w*\}?, s -> md5\("),
        1,
    ),
}


def _sites(pat: re.Pattern) -> list[str]:
    out = []
    for p in sorted(_ROOT.rglob("*.py")):
        text = p.read_text()
        for m in pat.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            out.append(f"{p.relative_to(_ROOT).as_posix()}:{line}")
    return out


@pytest.mark.parametrize("step", list(_STEPS))
def test_lsh_step_defined_once(step):
    pat, n_home = _STEPS[step]
    sites = _sites(pat)
    outside = [s for s in sites if not s.startswith(f"{_HOME}:")]
    assert outside == [], f"{step} copied outside {_HOME}: {outside}"
    home = [s for s in sites if s.startswith(f"{_HOME}:")]
    assert len(home) == n_home, f"{step} in {_HOME}: {home}"
