"""Text tokenization / fingerprinting column expressions.

Token semantics follow the reference wordcount plugin: a token is a
maximal run of letters, case-sensitive, empty tokens dropped
(/root/reference/mrapps/wc.go:21-34 — `unicode.IsLetter` split via
`strings.FieldsFunc`). This module is the one place that rule lives,
in two shapes: `token_rows`, one row per token, for pipelines that
shuffle on the token; and `token_array`, the tokens as one in-row
array, for mapper-only per-document stats. Both drop the `""` fields
a split leaves at separator edges, so no caller filters them.

The fixture corpus is ASCII, so `[a-zA-Z]` equals the Go
`unicode.IsLetter` behavior on this data; the pattern is kept ASCII so
the Spark (Java regex) and DuckDB (RE2) oracles agree on every input
byte-for-byte.

All helpers return Column expressions or DataFrames — they stay inside
whole-stage codegen; no Python UDFs in the tokenize path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Split on non-letter runs; ASCII-pinned for cross-engine determinism.
NON_LETTER_RE = "[^a-zA-Z]+"

# Full `unicode.IsLetter` parity (/root/reference/mrapps/wc.go:23-26):
# \p{L} is the Unicode Letter general category in BOTH engines' regex
# dialects (Java util.regex on the Spark side, RE2 on the DuckDB side),
# so the same pattern text serves query and oracle. This is the variant
# a multilingual 100 TB corpus needs; NON_LETTER_RE stays as the
# byte-exact twin of the ASCII fixtures.
#
# ASSUMPTION (empirical, not guaranteed): the two engines ship
# different Unicode table versions (Java 17 ~ Unicode 13; DuckDB's RE2
# tracks newer), so codepoints whose Letter status changed between
# versions could tokenize differently cross-engine. The multilingual
# differential test in tests/test_text_functions.py pins agreement on
# 14 scripts + the IsLetter boundary cases; an engine upgrade that
# drifts the tables fails that test, not production.
UNICODE_NON_LETTER_RE = r"[^\p{L}]+"


def token_rows(df: DataFrame, *keep, text="text", alias: str = "tok",
               pattern: str = NON_LETTER_RE) -> DataFrame:
    """One row per token of `text`, beside the `keep` columns."""
    fields = F.split(text, pattern)
    return (df.select(*keep, F.explode(fields).alias(alias))
            .where(F.col(alias) != ""))


def token_array(text) -> Column:
    """The tokens of `text` as an array, in order."""
    return F.filter(F.split(text, NON_LETTER_RE), lambda w: w != F.lit(""))


def token_count(text) -> Column:
    """Number of tokens, without exploding (one pass per row, no
    shuffle)."""
    return F.size(token_array(text))


# The whitespace class for fingerprint normalization, EXPLICIT on
# both engines: Java regex \s includes vertical tab \x0B, RE2
# (DuckDB) \s does not — a doc containing 0x0B would fingerprint
# differently per engine under bare \s+ (review r10). Oracles must
# use FP_WS_SQL verbatim. FP_WS_CHARS is the bare class body for
# regexes that embed whitespace inside a larger pattern (BPE_RE).
FP_WS_CHARS = r" \t\n\x0B\f\r"
FP_WS = rf"[{FP_WS_CHARS}]+"
FP_WS_SQL = FP_WS


def fingerprint(text) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text. Cross-engine reproducible
    (DuckDB md5() matches Spark md5(); the whitespace class is the
    explicit FP_WS, not \\s — see its comment)."""
    # collapse FIRST, then trim: trim() strips SPACES only, so the
    # old trim-then-collapse order left a leading/trailing tab or
    # newline behind as a stray single space — 'hello\n' and 'hello'
    # got different fingerprints (r14 review). Every SQL twin mirrors
    # this order (textstats/dedup oracles, catalog.py macro).
    normalized = F.lower(F.trim(F.regexp_replace(text, FP_WS, " ")))
    return F.md5(normalized)
