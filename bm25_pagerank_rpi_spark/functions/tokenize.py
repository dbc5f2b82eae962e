"""T1 — the tokenizer. Semantics pinned to the reference:

``strings.Fields(text)`` (reference internal/ranking/types.go:24-26):
split on runs of **Unicode** whitespace; no lowercasing, no punctuation
stripping, no stemming ("hello," stays "hello," — types_test.go:47-54);
empty / all-whitespace text -> empty array.

Two interchangeable implementations, identical on output (pinned by
tests/test_tokenize.py):

- ``tokens_col``   — pure Catalyst expression (JVM-side, codegen'd).
  ``(?U)`` turns on UNICODE_CHARACTER_CLASS so Java's ``\\s`` matches the
  Unicode White_Space property, same table Go's ``unicode.IsSpace`` uses.
- ``split_tokens`` — the Python twin, for code that already holds Python
  strings: driver-side WAND query planning (operators/wand.py) and the
  fused build kernel's slow path (plans/index_build.py). Python's
  ``str.split()`` is NOT a twin: it also splits on ``\\x1c``-``\\x1f``
  (file/group/record/unit separators), which are not White_Space.

The SAME rule must be used on the index-build side and the query side —
tokenization mismatch is a silent rank-corruption bug.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java regex: (?U) => \s matches Unicode White_Space (Go unicode.IsSpace).
_WS_PATTERN = r"(?U)\s+"

# The exact Unicode White_Space table — what Java's (?U)\s (tokens_col)
# and Go's unicode.IsSpace match.
_WHITE_SPACE_RE = re.compile(
    "[\t-\r \x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]+"
)


def tokens_col(text: Column | str) -> Column:
    """Catalyst-native tokenizer: array of whitespace-run-separated tokens.

    ``split`` produces a leading "" for leading whitespace and a trailing ""
    for trailing whitespace; ``filter`` drops empties, which also maps
    all-whitespace / empty input to an empty array (types_test.go:29-45).
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, _WS_PATTERN), lambda x: x != F.lit(""))


def split_tokens(text: str | None) -> list[str]:
    """Python twin of ``tokens_col``: White_Space-run split, empties
    dropped; None reads as empty text."""
    return [t for t in _WHITE_SPACE_RE.split(text or "") if t]


def doc_length_col(text: Column | str) -> Column:
    """|d| = token count under T1 (reference uses metadata DocLength as the
    BM25 normalizer, features.go:134; for our native corpus DocLength is
    defined as the token count of the turn text — SURVEY.md §1.3)."""
    return F.size(tokens_col(text))
