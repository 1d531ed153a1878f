"""Delimiter-driven tokenization (reference semantics S1).

The reference tokenizer (tokenizer.c:47-79) emits maximal runs of
non-delimiter characters; the delimiter alphabet is the 4 whitespace
chars hardcoded at tokenizer.c:7 plus the literal bytes of
delimiters.txt (consumed char-by-char at tokenizer.c:22-27 — it is a
byte list, NOT a regex). `[`, `]` and `-` are themselves delimiters.

Spark mapping: words are the maximal runs of the negated delimiter
class, `regexp_extract_all` + `F.explode` — JVM-side, no UDF, no empty
token; the pattern compiles once per task (`F.split` compiled it once
per row). The class is RE2 syntax too, for the DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tokenizer.c:7 — hardcoded whitespace delimiters.
WHITESPACE_DELIMITERS = "\n\t\r "

# delimiters.txt:1 — the 34 literal bytes (duplicates collapse in a set).
FILE_DELIMITERS = "[][!\"#$%&'()*+,./:;<=>?@\\^_`|{}~-]"

# The engine's default alphabet: whitespace ∪ file bytes, deduplicated,
# first-occurrence order preserved (order is irrelevant to semantics).
DEFAULT_DELIMITERS = "".join(
    dict.fromkeys(WHITESPACE_DELIMITERS + FILE_DELIMITERS)
)

# Chars that need a backslash inside a character class in BOTH Java
# regex (Spark) and RE2 (DuckDB). Everything else goes in literally.
_CLASS_ESCAPES = {
    "\\": "\\\\",
    "]": "\\]",
    "[": "\\[",
    "^": "\\^",
    "-": "\\-",
    "\n": "\\n",
    "\t": "\\t",
    "\r": "\\r",
}


def load_delimiters(path: str) -> str:
    """Read a delimiter alphabet file the way the reference does
    (define_delimiters, tokenizer.c:11-35): every byte in the file is
    a literal delimiter character, never interpreted as a regex, and
    the 4 whitespace chars are ALWAYS prepended (memcpy of end_lines
    at tokenizer.c:21) — whitespace delimits under any alphabet."""
    with open(path, encoding="latin-1") as fh:
        return "".join(dict.fromkeys(WHITESPACE_DELIMITERS + fh.read()))


def delimiter_regex(delimiters: str = DEFAULT_DELIMITERS) -> str:
    """Compile a delimiter alphabet into a `[...]+` regex character
    class, valid for both Java regex and RE2."""
    if not delimiters:
        raise ValueError("delimiter alphabet must be non-empty")
    body = "".join(_CLASS_ESCAPES.get(c, c) for c in dict.fromkeys(delimiters))
    return f"[{body}]+"


def word_regex(delimiters: str) -> str:
    """The negated class `[^...]+`: one word, a maximal non-delimiter run."""
    return "[^" + delimiter_regex(delimiters)[1:]


def split_words(col: Column | str, delimiters: str = DEFAULT_DELIMITERS) -> Column:
    """Column expression: text → array<string> of its words, in order;
    never an empty string (tokenizer.c:47-79)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(word_regex(delimiters)), 0)


def tokenize(
    df: DataFrame,
    col: str = "text",
    delimiters: str = DEFAULT_DELIMITERS,
    lowercase: bool = True,
    keep: list[str] | None = None,
) -> DataFrame:
    """text column → one row per word (S1), optionally lowercased (S2);
    `split_words` emits no empty token (tokenizer.c:62-64).

    `keep` preserves passthrough columns (e.g. doc_id for lineage).
    The plan is scan → project(extract) → generate(explode): all
    whole-stage-codegen'd, no shuffle until a later aggregation.
    """
    word = F.explode(split_words(col, delimiters)).alias("word")
    cols = [F.col(k) for k in (keep or [])] + [word]
    tokens = df.select(*cols)
    if lowercase:
        tokens = tokens.withColumn("word", F.lower(F.col("word")))
    return tokens
