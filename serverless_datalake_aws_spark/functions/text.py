"""Text-analysis column expressions (SURVEY.md §2.11 extension surface;
reference search surface §2.8 tokenization).

All pure Column compositions — tokenize, shingles, token hashing,
MinHash signatures, quality scores — chosen so every function has an
exact ANSI-SQL twin the DuckDB oracle can run. Token hashing derives
64-bit-safe integers from md5 hex (first 14 hex chars = 56 bits), which
both engines compute identically; MinHash permutations are
(a_i * h + b_i) mod P with P = 1e9+7 so products stay inside int64.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# MinHash parameters — shared constants with the SQL oracle strings.
MINHASH_P = 1_000_000_007
MINHASH_K = 32  # signature length
MINHASH_BANDS = 8  # LSH bands (rows per band = K // BANDS = 4)
MINHASH_A0, MINHASH_A_STEP = 1_103_515_245, 12_345
MINHASH_B0, MINHASH_B_STEP = 12_345, 1_103_515


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (reference X5 full-text tokenize)."""
    return F.split(col, " ")


def distinct_tokens(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def token_hash(tok: Column) -> Column:
    """Deterministic 56-bit integer hash of a token via md5 hex.

    `conv(substr(md5(t),1,14),16,10)` is exactly
    `CAST(concat('0x',substr(md5(t),1,14)) AS BIGINT)` in DuckDB.
    """
    return F.conv(F.substring(F.md5(tok), 1, 14), 16, 10).cast("long")


def minhash_mins(hashes: Column) -> list[Column]:
    """The K MinHash minima as separate Columns.

    Kept as a list (not an array column) so downstream band keys
    reference each minimum exactly once — `element_at` over an array
    built from these would re-inline the whole K-permutation
    computation per access after Catalyst's projection collapse
    (measured ~30× plan blowup).
    """
    def _perm(a: int, b: int):
        # one-arg lambda on purpose: a two-arg callable would make
        # F.transform pass the array index as the second argument
        return lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P

    return [
        F.array_min(
            F.transform(
                hashes,
                _perm(MINHASH_A0 + i * MINHASH_A_STEP, MINHASH_B0 + i * MINHASH_B_STEP),
            )
        )
        for i in range(MINHASH_K)
    ]


def minhash_signature(hashes: Column) -> Column:
    """MinHash signature: array of K minima under affine permutations.

    Equivalent of MLlib MinHashLSH but with oracle-reproducible hash
    functions. Array-local computation — zero shuffle until the LSH
    band join, so it scales linearly with document count.
    """
    return F.array(*minhash_mins(hashes))


def lsh_band_keys(mins: list[Column]) -> Column:
    """array<string>: one joinable key per LSH band (band index
    prefixed). Built with null-PROPAGATING concat (not concat_ws,
    which SKIPS nulls): a doc too short to shingle has null minima,
    and a skipped null would collapse its keys to just the band
    index — every such doc becoming an LSH candidate of every other,
    an all-pairs blowup of junk docs. A null key joins nothing."""
    rows = MINHASH_K // MINHASH_BANDS

    def _key(b: int) -> Column:
        parts: list[Column] = [F.lit(str(b))]
        for r in range(rows):
            parts += [F.lit("-"), mins[b * rows + r].cast("string")]
        return F.concat(*parts)

    return F.array(*[_key(b) for b in range(MINHASH_BANDS)])


def word_ngrams(text_col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as strings (order-sensitive, unlike the
    distinct-token set)."""
    toks = tokens(text_col)
    # clamp: a doc with fewer than n tokens has ZERO n-grams — a
    # negative slice length is a runtime error that would abort the
    # whole job on one short document
    width = F.greatest(F.lit(0), F.size(toks) - F.lit(n - 1))
    slices = [F.slice(toks, i + 1, width) for i in range(n)]
    out = slices[0]
    for s in slices[1:]:
        out = F.zip_with(out, s, lambda a, b: F.concat_ws(" ", a, b))
    return out


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two pre-distinct arrays. Two empty
    sets score 0.0 (NOT similar) — besides being the useful dedup
    semantics, the naive ratio is 0/0, which under Spark's default
    ANSI mode raises DIVIDE_BY_ZERO and kills the job."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def stopword_count(text_col: Column | str, stopwords: tuple[str, ...]) -> Column:
    return F.size(
        F.filter(tokens(text_col), lambda t: t.isin(*stopwords))
    ).cast("long")


def quality_features(text_col: Column | str) -> dict[str, Column]:
    """Quality-scoring features: token count, mean token length,
    distinct-token ratio (word-soup analogue of the classic
    length/punct/stopword heuristics)."""
    toks = tokens(text_col)
    n_tokens = F.size(toks).cast("long")
    return {
        "n_tokens": n_tokens,
        "avg_token_len": F.round(
            (F.length(text_col) - (n_tokens - 1)) / n_tokens, 4
        ),
        "distinct_ratio": F.round(
            F.size(F.array_distinct(toks)) / n_tokens.cast("double"), 4
        ),
    }


def fingerprint(text_col: Column | str) -> Column:
    """Document fingerprint: md5 of the sorted distinct-token set —
    order-insensitive content hash (rolling-hash analogue that both
    engines compute identically)."""
    return F.md5(F.array_join(F.array_sort(distinct_tokens(text_col)), " "))
