"""Shared building blocks for the training-data pipeline operators.

All hashing is md5-hex based so the Spark implementation and the
DuckDB oracle SQL can compute bit-identical values:

    Spark :  conv(substr(md5(x), 1, 15), 16, 10) :: long
    Python:  int.from_bytes(md5(x.encode()).digest()[:8], "big") >> 4
    DuckDB:  ('0x' || substr(md5(x), 1, 15)) :: BIGINT

15 hex chars = 60 bits < 63, so the value is always a positive BIGINT
in every engine.

Char-gram operators (winnowing, CDC) hash ~one gram per character.
They run `md5_60_grams` in plain Python inside one Arrow-batched
`map_texts` pass per operator: hashlib does a gram's md5 in one C call,
where a Catalyst array lambda interprets md5, hex, substr and conv per
array element.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

WS = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokens; empty text -> empty array (not [''])."""
    return F.filter(F.split(F.trim(text), WS), lambda t: t != "")


def md5_long(c: Column, seed: int | None = None) -> Column:
    """Deterministic 60-bit positive hash, oracle-reproducible."""
    keyed = c if seed is None else F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10).cast("long")


def md5_60(s: str) -> int:
    """md5_long of one Python string (the md5 of its UTF-8 bytes)."""
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") >> 4


def md5_60_grams(text: str | None, k: int) -> list[int]:
    """md5_60 of every char k-gram of `text`, in start order: element j
    hashes chars [j, j+k) (0-based). Chars are code points, as in Spark's
    substring and char_length, so a supplementary-plane character is one
    char. Texts shorter than k, empty or NULL give []."""
    if text is None:
        return []
    return [md5_60(text[i:i + k]) for i in range(len(text) - k + 1)]


def map_texts(docs: DataFrame,
              kernel: Callable[[str | None], Iterable[tuple[int, ...]]],
              cols: tuple[str, ...]) -> DataFrame:
    """(doc_id, *cols): one map-only Arrow pass of a plain-Python
    per-document kernel. `kernel(text)` yields one tuple of BIGINTs per
    output row; doc_id passes through with its input type. Only doc_id
    and text cross into Python."""
    schema = StructType([docs.schema["doc_id"]]
                        + [StructField(c, LongType()) for c in cols])

    def run(batches):
        for b in batches:
            src, rows = [], []
            for i, text in enumerate(b.column(1).to_pylist()):
                for r in kernel(text):
                    src.append(i)
                    rows.append(r)
            out = list(zip(*rows)) or [()] * len(cols)
            yield pa.RecordBatch.from_arrays(
                [b.column(0).take(pa.array(src, pa.int64()))]
                + [pa.array(c, pa.int64()) for c in out],
                names=["doc_id", *cols],
            )

    return docs.select("doc_id", "text").mapInArrow(run, schema)


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


TOKENS_SQL = "list_filter(regexp_split_to_array(trim({text}), '\\s+'), t -> t <> '')"
# DuckDB CTE fragment producing (doc_id, sh) word-3-gram shingle rows;
# compose with: WITH toks AS (...), shingles AS (SHINGLES_SQL) ...
SHINGLES_SQL = (
    "SELECT doc_id, concat_ws(' ', toks[j+1], toks[j+2], toks[j+3]) AS sh "
    "FROM toks, generate_series(0, greatest(len(toks)-3, 0)) g(j)"
)
