"""Text-analysis column expressions for training-data pipelines.

All pure native Columns (JVM-side, whole-stage-codegen'd) — the hot path
never enters Python. Every value, including the rolling fingerprint, is
reproducible bit-for-bit by an independent ANSI SQL oracle (DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Largest prime < 2^53: acc * 31 + 127 stays well inside a signed 64-bit long
# in Spark AND DuckDB, so the fold never overflows in either engine.
FINGERPRINT_MOD = 9007199254740881

# BPE-ish token pattern (GPT-2-style pre-tokenizer, simplified): letter runs,
# single digits, or single non-alphanumeric marks.
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens. Blank or whitespace-only text yields an EMPTY
    array: ``split(trim(''))`` alone returns ``['']`` — one phantom empty
    token that would count as a real token in every downstream feature,
    fingerprint, and min-token quality gate (a blank doc would read as
    n_tokens=1, uniq_ratio=1.0 — maximally "high quality")."""
    return F.array_remove(F.split(F.trim(text), r"\s+"), "")


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-style pre-tokenization via regex (letters / digits / marks)."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def rolling_fingerprint(text: Column, base: int = 31, mod: int = FINGERPRINT_MOD) -> Column:
    """Polynomial rolling hash (Rabin–Karp) over the characters.

    ``h = (h * base + code(c)) mod m`` folded left over the string — the
    classic document-fingerprinting primitive. Native ``aggregate`` over the
    char array; DuckDB mirrors it with ``list_reduce``.
    """
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * base + F.ascii(c), F.lit(mod)),
    )


def quality_features(text: Column) -> dict[str, Column]:
    """Heuristic quality-scoring features (Gopher/C4-style cheap filters)."""
    toks = ws_tokens(text)
    n = F.size(toks).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    n_chars = F.length(text).cast("long")
    alpha = F.length(F.regexp_replace(text, "[^a-zA-Z]", "")).cast("long")
    punct = F.length(F.regexp_replace(text, "[^.,;:!?]", "")).cast("long")
    return {
        "n_tokens": n,
        "n_unique_tokens": n_uniq,
        "n_chars": n_chars,
        "alpha_ratio": F.round(alpha / F.greatest(n_chars, F.lit(1)), 4),
        "punct_ratio": F.round(punct / F.greatest(n_chars, F.lit(1)), 4),
        "uniq_ratio": F.round(n_uniq / F.greatest(n, F.lit(1)).cast("double"), 4),
        # from the tokens themselves — (n_chars - n + 1)/n assumes exactly
        # one single-space separator and no surrounding whitespace, which
        # overstates token length on newline/indent-heavy text (code,
        # markdown)
        "mean_token_len": F.round(
            F.length(F.concat_ws("", toks))
            / F.greatest(n, F.lit(1)).cast("double"),
            4,
        ),
    }


def token_chunks(
    text: Column, chunk_tokens: int = 64, overlap: int = 16
) -> Column:
    """Overlapping token-window chunks — the context-window splitter every
    embedding / training pipeline runs before a model sees a long document.

    Whitespace tokens slide in windows of ``chunk_tokens`` with ``overlap``
    tokens carried between consecutive chunks (stride = chunk_tokens −
    overlap); the final window is the remainder (never empty for non-blank
    text, and short docs yield exactly one chunk). Returns
    ``array<struct<chunk_id:int, chunk:string, n_tokens:int>>`` — explode it
    to one row per chunk. Pure native Columns (sequence → transform →
    slice → concat), map-only and whole-stage-codegen'd at any scale;
    DuckDB reproduces it with generate_series + list slicing, which is what
    the ``doc_chunks`` gate checks.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"token_chunks: need 0 <= overlap ({overlap}) < chunk_tokens "
            f"({chunk_tokens})"
        )
    stride = chunk_tokens - overlap
    toks = ws_tokens(text)
    n = F.size(toks)
    # chunk starts: 1, 1+stride, … while start <= max(n - overlap, 1) — the
    # final window begins at the last start that still adds NEW tokens
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int"), F.lit(1)
    )
    starts = F.sequence(F.lit(0), n_chunks - 1)
    return F.transform(
        starts,
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(toks, i * stride + 1, chunk_tokens)
            ).alias("chunk"),
            F.least(n - i * stride, F.lit(chunk_tokens))
            .cast("int")
            .alias("n_tokens"),
        ),
    )


def ngrams(toks: Column, n: int) -> Column:
    """Token n-grams as space-joined strings (empty array when the document
    has fewer than ``n`` tokens). Map-only native Columns.

    Built as a ``zip_with`` fold over n SHIFTED slices of the token array —
    O(n·len) with one interpreted higher-order pass per level. The obvious
    ``transform(sequence(1, count), i -> concat_ws(slice(toks, i, n)))``
    is quadratic per evaluation AND gets re-evaluated once per reference
    when Catalyst collapses projections (the CollapseProject trap that
    ``q_minhash_signatures`` in ``__spark_entry__.py`` also guards
    against) — measured 31 s for the ``repetition_stats``
    gate at sf0.1 vs sub-second for this shape. ``slice`` length must stay
    >= 0 (``greatest``): Spark's ``sequence(1, 0)`` alternative is a
    DESCENDING [1, 0], which feeds an invalid start=0 into ``slice``."""
    if n < 1:
        raise ValueError(f"ngrams: n must be >= 1, got {n}")
    if n == 1:
        return toks
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, j + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return grams


def repetition_features(text: Column) -> dict[str, Column]:
    """Gopher-style within-document repetition signals: the fraction of
    duplicate token n-grams (n = 1, 2, 3). A high duplicate fraction marks
    degenerate generated/boilerplate text that the quality filters keep out
    of a training corpus. All native Columns, map-only; mirrors in DuckDB
    as list comprehensions over the token array (``repetition_stats`` gate).

    Fractions are 0.0 for documents too short to form the n-gram.
    """
    toks = ws_tokens(text)

    def dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(n <= 0, F.lit(0.0)).otherwise(
            F.round(
                (n - F.size(F.array_distinct(arr))) / n.cast("double"), 4
            )
        )

    return {
        "dup_token_frac": dup_frac(toks),
        "dup_bigram_frac": dup_frac(ngrams(toks, 2)),
        "dup_trigram_frac": dup_frac(ngrams(toks, 3)),
    }


# PII span patterns — deliberately in the common subset of Java regex
# (Spark) and RE2 (DuckDB, Go scrubbers): character classes, bounded
# repetition, no backreferences/lookaround, so the oracle reproduces every
# match decision bit-for-bit.
PII_EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_PATTERN = r"\+\d{1,2}-\d{3}-\d{4}"


def pii_features(text: Column) -> dict[str, Column]:
    """Detectable-PII span counts (emails, international phone numbers) —
    the detection half of the scrub a training pipeline runs before text
    reaches a model. Native Columns, map-only."""
    return {
        "n_emails": F.regexp_count(text, F.lit(PII_EMAIL_PATTERN)).cast("int"),
        "n_phones": F.regexp_count(text, F.lit(PII_PHONE_PATTERN)).cast("int"),
    }


def scrub_pii(text: Column) -> Column:
    """Mask every PII span with a typed placeholder. The email mask runs
    FIRST so digit runs inside an address local-part are consumed by the
    email rule, never half-masked by the phone rule; the oracle applies
    the same order."""
    masked = F.regexp_replace(text, PII_EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(masked, PII_PHONE_PATTERN, "<PHONE>")
