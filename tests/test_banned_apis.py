"""``DataFrame.observe`` is banned on this Spark build: a completed
Observation leaves session state that later breaks closure cleaning in
unrelated queries ("Task not serializable" inside pyspark.ml fits).
This check reads the engine and the tests as Python tokens, so the
notices that name the ban in comments and docstrings stay allowed while
any ``.observe(`` call fails the suite.
"""

from __future__ import annotations

import io
import pathlib
import re
import tokenize

REPO = pathlib.Path(__file__).resolve().parent.parent
_CANDIDATE = re.compile(r"\.\s*observe\s*\(")


def _observe_calls(source: str) -> list[int]:
    """Line numbers of ``.observe(`` call tokens in ``source``."""
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.COMMENT)
    ]
    return [
        b.start[0]
        for a, b, c in zip(toks, toks[1:], toks[2:])
        if a.string == "." and b.string == "observe" and c.string == "("
    ]


def test_guard_sees_calls_but_not_notices():
    assert _observe_calls("df = df.observe(obs, F.count(F.lit(1)))\n") == [1]
    assert _observe_calls("x = (df\n    .observe (o))\n") == [2]
    assert _observe_calls('# never df.observe(...)\n"""df.observe(x)"""\n') == []


def test_no_observe_calls_in_engine_or_tests():
    hits = []
    for top in ("nagios_custom_etl_spark", "tests"):
        for path in sorted((REPO / top).rglob("*.py")):
            source = path.read_text(encoding="utf-8")
            if _CANDIDATE.search(source):  # tokenize only the files that can hit
                hits += [f"{path.relative_to(REPO)}:{n}" for n in _observe_calls(source)]
    assert hits == [], f"observe() is banned on this Spark build: {hits}"
