"""Text-cleaning / id-minting scalar functions.

Re-expresses the reference's string pipeline as built-in column exprs:
  - clean_text: HTML-strip + newline→space + trim
    (/root/reference/build_vectorstore.py:115-118)
  - sanitize_id: char-class sanitize (/root/reference/build_vectorstore.py:203)
  - stable_id / stable_long_hash: replaces Python's per-process-salted
    `hash()` (/root/reference/build_vectorstore.py:202) with md5-derived
    hashes that are stable across runs AND across engines (DuckDB
    reproduces them with md5() + hex cast) — a deliberate semantic fix.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_text(col: Column) -> Column:
    """Strip HTML tags, collapse newlines to spaces, trim."""
    no_html = F.regexp_replace(col, "<[^>]+>", "")
    no_nl = F.regexp_replace(no_html, "\n", " ")
    return F.trim(no_nl)


def sanitize_id(col: Column) -> Column:
    """Replace non [a-zA-Z0-9_-] chars with '_'."""
    return F.regexp_replace(col, "[^a-zA-Z0-9_-]", "_")


def stable_long_hash(col: Column) -> Column:
    """Deterministic 60-bit positive hash of a string column.

    md5 hex → first 15 hex digits → bigint. DuckDB oracle:
        CAST('0x' || substring(md5(x), 1, 15) AS BIGINT)
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def duck_stable_long_hash(expr: str) -> str:
    return f"CAST('0x' || substring(md5({expr}), 1, 15) AS BIGINT)"


def stable_id(text: Column, index: Column) -> Column:
    """Chunk id: <hash-of-first-50-chars>_<chunk_index> (reference minted
    `f"{hash(chunk[:50])}_{i}"`, build_vectorstore.py:202)."""
    return F.concat_ws("_", stable_long_hash(F.substring(text, 1, 50)), index.cast("string"))
