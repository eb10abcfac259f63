"""Shared building blocks for the training-data pipeline operators.

All hashing is md5-hex based so the Spark implementation and the
DuckDB oracle SQL can compute bit-identical values:

    Spark :  conv(substr(md5(x), 1, 15), 16, 10) :: long
    DuckDB:  ('0x' || substr(md5(x), 1, 15)) :: BIGINT

15 hex chars = 60 bits < 63, so the value is always a positive BIGINT
in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokens; empty text -> empty array (not [''])."""
    return F.filter(F.split(F.trim(text), WS), lambda t: t != "")


def md5_long(c: Column, seed: int | None = None) -> Column:
    """Deterministic 60-bit positive hash, oracle-reproducible."""
    keyed = c if seed is None else F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("long")


def gram_hashes(text: Column, k: int) -> Column:
    """md5_long of every char k-gram of `text`, in start order: element
    j hashes chars [j+1, j+k] (1-based), so the array has
    char_length - k + 1 entries; texts shorter than k give []. Bind the
    result with columns._let before referencing it more than once —
    each Column reference splices (and re-evaluates) the whole
    per-position md5 transform."""
    n = F.char_length(text)
    return F.when(n < k, F.array().cast("array<bigint>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
            lambda i: md5_long(F.substring(text, i.cast("int"), F.lit(k))),
        )
    )


def md5_long_sql(expr: str, seed: int | None = None) -> str:
    keyed = expr if seed is None else f"concat('{seed}:', {expr})"
    return f"(('0x' || substr(md5({keyed}), 1, 15))::BIGINT)"


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingle array from a *materialized token-array
    column*. Texts with fewer than n tokens yield one shingle of all
    their tokens.

    PERFORMANCE: `toks` must be a plain column reference (project the
    token array in a separate select first), NOT the tokens(...)
    expression itself. Expression trees passed into a higher-order-
    function lambda are copied per reference and re-evaluated per array
    element — inlining the regex split here made the shingle stage ~30x
    slower at sf0.1 (measured: 14.9s inlined vs 0.5s via a column).
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    # try_element_at: out-of-range (short/empty texts) -> NULL, which
    # concat_ws skips — matching DuckDB's out-of-range list indexing.
    return F.transform(
        idx,
        lambda j: F.concat_ws(
            " ", *[F.try_element_at(toks, (j + k + 1).cast("int")) for k in range(n)]
        ),
    )


def word_shingles(text: Column, n: int = 3) -> Column:
    """Shingles straight from a text column. Prefer tokenizing into a
    column first and calling shingles_from_tokens (see its perf note);
    this form re-evaluates the tokenizer per lambda reference."""
    return shingles_from_tokens(tokens(text), n)


TOKENS_SQL = "list_filter(regexp_split_to_array(trim({text}), '\\s+'), t -> t <> '')"
# DuckDB CTE fragment producing (doc_id, sh) word-3-gram shingle rows;
# compose with: WITH toks AS (...), shingles AS (SHINGLES_SQL) ...
SHINGLES_SQL = (
    "SELECT doc_id, concat_ws(' ', toks[j+1], toks[j+2], toks[j+3]) AS sh "
    "FROM toks, generate_series(0, greatest(len(toks)-3, 0)) g(j)"
)
