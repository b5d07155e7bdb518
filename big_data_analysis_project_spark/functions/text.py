r"""Tokenization policy: the token rules of the text, dedup, UDF and
training keys, each stated once per dialect its callers need: Spark
``Column`` expressions, Python for Arrow/pandas kernels (this module
runs on workers, so it imports nothing from the registry) and DuckDB
SQL fragments for the oracles. Property-pinned across dialects in
``tests/test_properties.py``.

Whitespace rule (``ws_*``): trim SPACES only (DuckDB's one-arg ``trim``
also strips NBSP, Python's ``.strip()`` every unicode space), split on
runs of the explicit ASCII class ``[ \t\n\x0B\f\r]`` (Java's ``\s``;
RE2's lacks ``\x0B``, Python's adds NEL, NBSP, ``\x1c``-``\x1f``) and
KEEP the empty tokens edge separators leave, as ``re.split``, Spark's
``split`` and DuckDB's ``string_split_regex`` all do. The lowered
variant uses unicode ``lower()``: Spark and Python agree, DuckDB differs
on dotted ``İ`` (plain ``'i'``, not ``'i'`` + combining dot) and Greek
final sigma, which the corpus contract excludes.

ASCII word rule (``word_*``): tokens are maximal ``[a-z0-9_]`` runs
after mapping A-Z to a-z; a hit is set membership. The engines share no
``\b`` (Java's is unicode-aware, RE2's ASCII, Python's unicode) and no
``lower()`` (Spark/Python's two-codepoint lowercase ``İ`` splits a run
that DuckDB's does not), so only this form counts the same everywhere.
"""

from __future__ import annotations

import re
from string import ascii_lowercase, ascii_uppercase

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

WS_CLASS = r"[ \t\n\x0B\f\r]"  # one character, the same in Java regex, RE2 and Python
WS_RUN = WS_CLASS + "+"
_WS = re.compile(WS_RUN)

STOPWORDS = ("the", "a", "an", "and", "of", "to", "in", "is", "on", "for")
WORD_BREAK = "[^a-z0-9_]+"
_BREAK = re.compile(WORD_BREAK)
_TO_LOWER = str.maketrans(ascii_uppercase, ascii_lowercase)


def ws_split(col: Column | str, lower: bool = False) -> Column:
    """Spark: the whitespace tokens of ``col``, optionally lowered."""
    t = F.trim(col)
    return F.split(F.lower(t) if lower else t, WS_RUN)


def ws_count(col: Column | str) -> Column:
    """Spark: the whitespace token count of ``col``."""
    return F.size(ws_split(col))


def py_ws_split(text: str, lower: bool = False) -> list[str]:
    """Python: the whitespace tokens of ``text``, optionally lowered."""
    t = text.strip(" ")
    return _WS.split(t.lower() if lower else t)


def ws_token_counts(s: pd.Series) -> pd.Series:
    """pandas: the whitespace token count of each string."""
    return s.str.replace(r"^ +| +$", "", regex=True).str.count(WS_RUN) + 1


def sql_ws_split(lower: bool = False) -> str:
    """DuckDB: the whitespace tokens of ``text``, optionally lowered."""
    t = "lower(trim(text, ' '))" if lower else "trim(text, ' ')"
    return f"string_split_regex({t}, '{WS_RUN}')"


def sql_ws_count() -> str:
    """DuckDB: the whitespace token count of ``text``."""
    return f"len({sql_ws_split()})"


def word_split(col: Column | str) -> Column:
    """Spark: the ASCII word tokens of ``col``."""
    return F.split(F.translate(col, ascii_uppercase, ascii_lowercase), WORD_BREAK)


def word_hits(col: Column | str, words: tuple[str, ...]) -> Column:
    """Spark: how many ASCII word tokens of ``col`` are in ``words``."""
    return F.size(F.filter(word_split(col), lambda t: t.isin(*words)))


def py_word_hits(text: str, words: frozenset[str]) -> int:
    """Python: how many ASCII word tokens of ``text`` are in ``words``."""
    return sum(t in words for t in _BREAK.split(text.translate(_TO_LOWER)))


def sql_word_hits(words: tuple[str, ...]) -> str:
    """DuckDB: how many ASCII word tokens of ``text`` are in ``words``."""
    inlist = ", ".join(f"'{w}'" for w in words)
    return (
        f"len(list_filter(string_split_regex("
        f"translate(text, '{ascii_uppercase}', '{ascii_lowercase}'), '{WORD_BREAK}'), "
        f"t -> t IN ({inlist})))"
    )


def shingle_set(tokens: list[str], n: int) -> dict[str, None]:
    """Python: the distinct space-joined ``n``-token windows of
    ``tokens``, in first-occurrence order (a dict as ordered set)."""
    return dict.fromkeys(" ".join(t) for t in zip(*(tokens[k:] for k in range(n))))
