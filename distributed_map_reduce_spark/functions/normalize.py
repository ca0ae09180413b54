"""Text normalization: the one tokenizer and the one exact-dedup
fingerprint, each beside its DuckDB twin (spliced into oracle SQL) and,
for tokens, its Python twin (called by Python UDTFs and pandas code).
Every operator and every stage of a set-similarity pipeline extracts
its elements here, so all of them see the same multiset of words.

- :func:`split_lower`: lower-case, split on ``' '``, KEEP empty tokens.
  The positional form: bigram, chunk and instruction-key sites index
  into it, so a run of spaces keeps its empty slots.
- :func:`words`: the same split with empty tokens dropped — the word
  count map of the reference (`test/mr.test.js:166-176`).
- :func:`normalized` / :func:`fingerprint`: every whitespace run → one
  space, trim, lower; its md5 is the exact-dedup key. The run class is
  RE2's ``\\s`` (what DuckDB's ``'\\s+'`` means) spelled out, because
  Java's ``\\s`` also matches U+000B.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"[\t\n\f\r ]+"

SPLIT_LOWER_SQL = "string_split(lower(text), ' ')"
WORDS_SQL = "list_filter(string_split(lower(text), ' '), w -> w <> '')"
NORMALIZED_SQL = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
FINGERPRINT_SQL = f"md5({NORMALIZED_SQL})"


def split_lower(text: Column | str) -> Column:
    return F.split(F.lower(text), " ")


def words(text: Column | str) -> Column:
    return F.filter(split_lower(text), lambda w: w != "")


def normalized(text: Column | str) -> Column:
    return F.lower(F.trim(F.regexp_replace(text, WS, " ")))


def fingerprint(text: Column | str) -> Column:
    return F.md5(normalized(text))


def split_lower_py(text: str | None) -> list[str] | None:
    return None if text is None else text.lower().split(" ")


def words_py(text: str | None) -> list[str] | None:
    return None if text is None else [w for w in split_lower_py(text) if w != ""]
