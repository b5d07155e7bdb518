"""The token rules live in ``functions/text.py`` only. Engine keys and
their DuckDB oracles build from the same fragments, so a drift in one
moves both sides and the oracle suites cannot see it: the fragments are
pinned to literal text here."""

from __future__ import annotations

import re
from pathlib import Path

import big_data_analysis_project_spark as pkg
from big_data_analysis_project_spark.functions import text

PKG = Path(pkg.__file__).parent
# whitespace class, word-break class, A-Z map, stopword list
RESPELLED = re.compile(
    r"\\x0[Bb]|\[\^a-z0-9_\]|ABCDEFGHIJKLMNOPQRSTUVWXYZ|abcdefghijklmnopqrstuvwxyz"
    r"""|["']the["'],\s*["']a["'],\s*["']an["']"""
)


def test_token_rules_defined_once():
    found = [
        f"{path.relative_to(PKG)}:{n}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "functions" / "text.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if RESPELLED.search(line)
    ]
    assert not found, "token rule spelled outside functions/text.py:\n" + "\n".join(found)
    dedup = (PKG / "registry" / "dedup_q.py").read_text()
    assert dedup.count("LATERAL unnest(range(1, len(w) -") == 1, "shingle CTE copied"

    ws = r"'[ \t\n\x0B\f\r]+'"
    assert text.sql_ws_split() == f"string_split_regex(trim(text, ' '), {ws})"
    assert text.sql_ws_split(lower=True) == f"string_split_regex(lower(trim(text, ' ')), {ws})"
    assert text.sql_ws_count() == f"len(string_split_regex(trim(text, ' '), {ws}))"
    assert text.STOPWORDS == ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")
    assert text.sql_word_hits(("the", "of")) == (
        "len(list_filter(string_split_regex(translate(text, "
        "'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), "
        "'[^a-z0-9_]+'), t -> t IN ('the', 'of')))"
    )
