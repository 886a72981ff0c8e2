"""Text-analysis Column expressions for the training-data pipeline
(north-star extension, SURVEY.md §7 phase 6): tokenization, shingling,
minhash, simhash, quality metrics, language heuristics.

All pure `pyspark.sql.functions` trees (whole-stage codegen, no Python), and
all deterministic so a DuckDB oracle can mirror them expression-for-
expression: md5 is the cross-engine hash (identical hex output), folds are
left-to-right, and arithmetic is written in the same order on both sides.
ANSI-safe: no out-of-bounds element_at, no unguarded division.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empties dropped. (The testdata corpus is
    space-separated; swap the delimiter regex for real corpora.)"""
    return F.filter(F.split(_c(text), " "), lambda x: x != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def distinct_token_count(text: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams, joined by single spaces — the dedup unit.

    Guarded so short documents yield an empty array (Spark's sequence()
    counts DOWN when start > stop, so the bound must be checked first).

    NOTE: inlines the token split inside the shingle lambda — fine for a
    single projection, but when chaining, materialize the token array first
    and use shingles_from_tokens (Catalyst pitfall #4: no CSE across lambda
    boundaries).
    """
    return shingles_from_tokens(tokens(text), n)


def shingles_from_tokens(w: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams from a token ARRAY column (pre-materialize the
    array behind a cache barrier when the same tokens feed several
    consumers)."""
    w = _c(w)
    make = F.transform(
        F.sequence(F.lit(1), F.size(w) - (n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + off) for off in range(n)]
        ),
    )
    return F.array_distinct(
        F.when(F.size(w) >= n, make).otherwise(F.array().cast("array<string>"))
    )


def band_xor_constant(band: int) -> int:
    """Deterministic 60-bit xor-mix constant for band `band` (derived from
    md5 so any engine can reproduce it as a literal)."""
    import hashlib

    return int(hashlib.md5(f"band{band}".encode()).hexdigest()[:15], 16)


_MASK60 = (1 << 60) - 1


def word_hashes(text: Column | str) -> Column:
    """One 60-bit md5 hash per token."""
    return F.transform(tokens(text), token_hash60)


def combine_word_hashes(h: Column | str, n: int = 3) -> Column:
    """Distinct word-n-gram hashes from a PRE-MATERIALIZED word-hash array:
    combine n consecutive word hashes with shift-xor mixing, masked to 60
    bits. Equivalent to hashing the joined shingle string up to negligible
    collision probability, at one md5 per WORD instead of per shingle.

    Take `h` from a separate projection: CollapseProject keeps the two
    apart (one md5 transform in the optimized plan on Spark 4.1.2), while
    word_hashes inlined here is evaluated once per reference to `h` (five
    md5 transforms at n=3). This chain, with banded_minhash_key, is the
    Column reference that operators.dedup's Arrow kernel must equal bit
    for bit. Mirror the exact mixing in oracle SQL.
    """
    h = _c(h)
    mix = F.transform(
        F.sequence(F.lit(1), F.size(h) - (n - 1)),
        lambda i: _combine_hashes([F.element_at(h, i + off) for off in range(n)]),
    )
    return F.array_distinct(
        F.when(F.size(h) >= n, mix).otherwise(F.array().cast("array<bigint>"))
    )


def _combine_hashes(hs: list) -> Column:
    out = None
    k = len(hs)
    for j, h in enumerate(hs):
        shifted = F.call_function("shiftleft", h, F.lit(k - 1 - j))
        out = shifted if out is None else out.bitwiseXOR(shifted)
    return out.bitwiseAND(F.lit(_MASK60).cast("bigint"))


def banded_minhash_key(
    hashes: Column | str, band: int, rows_per_band: int = 1
) -> Column:
    """AND-amplified LSH band key: the shift-xor combination of
    `rows_per_band` independent xor-minhashes, each the min over
    (hash XOR band-constant) — an xor-mix min-wise family whose per-band
    constant reorders the mins independently, pure integer ops (no
    per-band md5). rows_per_band=1 is one such minhash. Collision
    probability per band is J^r instead of J — essential when typical
    PAIRWISE similarity is moderate (e.g. char-5-grams of a shared-vocab
    corpus measured 10% single-min collisions at 5k docs → 1.3M candidate
    pairs per band; r=4 measured 622)."""
    h = _c(hashes)

    def xor_with(const):
        # closure factory, NOT `lambda x, c=c:` — a two-parameter lambda is
        # treated by PySpark as an (element, index) lambda, silently binding
        # the "captured" constant to the ARRAY INDEX. That degenerated every
        # band to the same key (recall bug caught by the streaming near-dup
        # twin; see tests/test_text_banding.py).
        return lambda x: x.bitwiseXOR(const)

    mins = []
    for j in range(rows_per_band):
        c = F.lit(band_xor_constant(band * rows_per_band + j)).cast("bigint")
        mins.append(F.array_min(F.transform(h, xor_with(c))))
    if rows_per_band == 1:
        return mins[0]
    return _combine_hashes(mins)


#: Polynomial gram-hash constants: two independent 31-bit prime moduli with
#: large bases. The base MUST be large enough that the Horner accumulator
#: wraps past P on every step — a small base (first attempt: B=67, P=2**55)
#: never wraps for short grams of ASCII text, yielding a structureless
#: base-67 encoding whose minhash argmin is near-deterministic across
#: documents (measured 26x candidate-pair inflation at sf0.1). Products stay
#: under (P-1)*B + codepoint < 2**51, safely inside int64 for both engines.
POLY_P1 = 2147483647
POLY_B1 = 1000003
POLY_P2 = 2147483629
POLY_B2 = 999983


def char_codes(text: Column | str) -> Column:
    """Unicode code point per character, as array<bigint> — the integer
    substrate for rolling char-gram hashing. Must be MATERIALIZED (cache
    barrier) before feeding a per-gram lambda, like every array this module
    builds (Catalyst pitfall #2: no CSE across lambda boundaries).

    Cross-engine note: Spark's ascii() and DuckDB's ascii() both return the
    code point of the first character; parity is exercised in
    tests/test_text_functions.py including non-ASCII input."""
    t = _c(text)
    return F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.ascii(F.substr(t, i, F.lit(1))).cast("bigint"),
    )


def rolling_gram_hashes(codes: Column | str, n: int = 5) -> Column:
    """Distinct polynomial hashes of every char n-gram, from a
    PRE-MATERIALIZED code-point array. Each gram is hashed by TWO
    independent Horner folds ``h = (...(c[i]*B + c[i+1]) % P ...)`` over
    (POLY_B1, POLY_P1) and (POLY_B2, POLY_P2), combined as
    ``(h1 << 29) ^ h2`` into a ~60-bit value. Replaces md5-per-gram —
    integer multiply-add in codegen instead of a digest + hex parse per
    gram; the two 31-bit folds with large bases wrap every step, so the
    combined hash has the uniformity minhash banding needs (see the
    constants' comment for the small-base failure mode). Collisions at 10M
    distinct grams: ~10M^2/2^61 — immaterial, and the DuckDB oracle mirrors
    the identical expression so equality checks are unaffected. Texts
    shorter than n yield an empty array."""
    c = _c(codes)

    def fold(i: Column, base: int, mod: int) -> Column:
        acc = F.element_at(c, i)
        for off in range(1, n):
            acc = (acc * base + F.element_at(c, i + off)) % mod
        return acc

    def gram(i: Column) -> Column:
        return F.shiftleft(fold(i, POLY_B1, POLY_P1), 29).bitwiseXOR(
            fold(i, POLY_B2, POLY_P2)
        )

    make = F.transform(F.sequence(F.lit(1), F.size(c) - (n - 1)), gram)
    return F.array_distinct(
        F.when(F.size(c) >= n, make).otherwise(F.array().cast("array<bigint>"))
    )


def rolling_gram_hash_sql(var: str, i: str, n: int = 5) -> str:
    """The DuckDB expression mirroring rolling_gram_hashes for one gram:
    identical double Horner fold over ``var[i] .. var[i+n-1]`` (1-based
    list indexing on both engines, same constants, same mod placement,
    same shift-xor combine)."""

    def fold(base: int, mod: int) -> str:
        acc = f"{var}[{i}]"
        for off in range(1, n):
            acc = f"(({acc} * {base} + {var}[{i}+{off}]) % {mod})"
        return acc

    return (
        f"xor(({fold(POLY_B1, POLY_P1)}) << 29, {fold(POLY_B2, POLY_P2)})"
    )


def kgram_hash_seq(h: Column | str, n: int = 3) -> Column:
    """ORDERED k-gram hash sequence (no distinct) from a pre-materialized
    word-hash array — the winnowing input, where position matters. Same
    shift-xor mix as combine_word_hashes."""
    h = _c(h)
    make = F.transform(
        F.sequence(F.lit(1), F.size(h) - (n - 1)),
        lambda i: _combine_hashes([F.element_at(h, i + off) for off in range(n)]),
    )
    return F.when(F.size(h) >= n, make).otherwise(
        F.array().cast("array<bigint>")
    )


def winnow_select(g: Column | str, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer et al., SIGMOD'03): the
    min hash of every w-window of the ordered k-gram sequence, deduplicated.
    Guarantees a shared fingerprint for any match of length ≥ w + k − 1.
    The window min is an UNROLLED least() over w element_at terms — pure
    codegen, no per-row array allocation (PLAN.md Catalyst pitfall #1)."""
    g = _c(g)
    windows = F.transform(
        F.sequence(F.lit(1), F.size(g) - (w - 1)),
        lambda i: F.least(*[F.element_at(g, i + off) for off in range(w)]),
    )
    return F.array_distinct(
        F.when(F.size(g) >= w, windows)
        .when(F.size(g) > 0, F.array(F.array_min(g)))
        .otherwise(F.array().cast("array<bigint>"))
    )


# GPT-2-style piece classes, restricted to constructs with identical
# semantics in Java regex (Spark) and RE2 (DuckDB): letter runs, single
# digits, single punctuation. The corpus delimiter is a literal space.
#
# Unicode caveat (advisor, round 2): Java regex walks UTF-16 code units, so
# a non-BMP character (emoji, rare CJK) hits [^A-Za-z0-9 ] TWICE (one per
# surrogate) where RE2 counts it once. Counts are therefore only
# oracle-identical on BMP text — which the testdata corpus is. For astral
# input, treat bpe_token_count as Spark-definitive (a surrogate-aware
# pattern would need \x{10000}-\x{10FFFF} classes that RE2 spells
# differently, breaking the shared-pattern contract this module keeps).
BPE_PATTERN = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


def bpe_token_count(text: Column | str) -> Column:
    """Subword-ish token count: number of BPE_PATTERN pieces."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(BPE_PATTERN), F.lit(0)))


def jaccard(a: str, b: str) -> Column:
    """|a ∩ b| / |a ∪ b| of the array columns named a and b; 0.0 when both
    are empty. PRECONDITION: a and b hold DISTINCT elements (true of every
    hash-set producer in this module), so the union size is
    |a| + |b| − |a ∩ b| — one hash-set pass per pair instead of two
    (array_union dropped; the verify stage is the banded near-dup
    bottleneck, ~1 ms/pair at 200-element arrays). One SQL string, so a
    verify plan pays one parse instead of a py4j call per operator."""
    inter = f"size(array_intersect({a}, {b}))"
    total = f"size({a}) + size({b})"
    return F.expr(
        f"CASE WHEN {total} = 0 THEN 0.0D"
        f" ELSE CAST({inter} AS DOUBLE) / CAST({total} - {inter} AS DOUBLE) END"
    )


def token_hash60(tok: Column | str) -> Column:
    """Deterministic 60-bit token hash: first 15 hex chars of md5, parsed
    base-16. Fits BIGINT (no sign issues); reproducible in any SQL engine."""
    return F.conv(F.substring(F.md5(_c(tok)), 1, 15), 16, 10).cast("bigint")


def simhash60(text: Column | str) -> Column:
    """60-bit SimHash over distinct tokens (document fingerprinting).

    bit b of the result = majority vote of bit b across token hashes
    (+1 if set, −1 if not; > 0 wins). Pure codegen: a fold per bit over the
    collected hash array.
    """
    hashes = F.transform(F.array_distinct(tokens(text)), token_hash60)
    bit_cols = F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda b: F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda s, h: s
                + F.when(
                    F.call_function("shiftright", h, b).bitwiseAND(F.lit(1).cast("bigint"))
                    == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            )
            > 0,
            F.call_function("shiftleft", F.lit(1).cast("bigint"), b),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(
        bit_cols, F.lit(0).cast("bigint"), lambda s, v: s.bitwiseOR(v)
    )


def simhash_table(docs, id_col: str = "doc_id", text_col: str = "text"):
    """(doc_id, sim) via explode + 60 conditional-count aggregates.

    Identical output to `simhash60` (2·count_set > n ⇔ Σ±1 > 0, ties both
    give 0) but ~9× faster: the per-row 60-fold walk becomes one vectorized
    HashAggregate over exploded token hashes — partial aggregation map-side,
    integer sums so the result is partitioning-independent.
    """
    from pyspark.sql import functions as F  # local alias for clarity

    # explode_outer keeps a NULL-token row for zero-token documents: their
    # bit sums aggregate to NULL, every when(2·NULL > n) falls to the 0
    # branch, and they land at sim = 0 — matching simhash60 and the oracle
    # (plain explode silently dropped them from the output).
    ex = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).select("doc_id", token_hash60("tok").alias("h"))
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(
            F.call_function("shiftright", F.col("h"), F.lit(b)).bitwiseAND(
                F.lit(1).cast("bigint")
            )
        ).alias(f"c{b}")
        for b in range(60)
    ]
    g = ex.groupBy("doc_id").agg(*aggs)
    sim = None
    for b in range(60):
        term = F.when(
            2 * F.col(f"c{b}") > F.col("n"),
            F.call_function("shiftleft", F.lit(1).cast("bigint"), F.lit(b)),
        ).otherwise(F.lit(0).cast("bigint"))
        sim = term if sim is None else sim.bitwiseOR(term)
    return g.select("doc_id", sim.alias("sim"))


def hamming60(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 60-bit hashes."""
    return F.bit_count(_c(a).bitwiseXOR(_c(b)))


def fingerprint(text: Column | str) -> Column:
    """Canonical-text fingerprint: md5 of lowercased, space-collapsed text."""
    return F.md5(F.trim(F.regexp_replace(F.lower(_c(text)), " +", " ")))


# -- quality / language heuristics -----------------------------------------


def distinct_ratio(text: Column | str) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    )


def mean_token_len(text: Column | str) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda s, t: s + F.length(t))
    return F.when(n == 0, F.lit(0.0)).otherwise(
        total.cast("double") / n.cast("double")
    )


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length saturation, vocabulary
    diversity, reasonable mean token length. Deterministic arithmetic —
    mirror the exact expression order in the oracle SQL."""
    t = _c(text)
    length_part = F.least(token_count(t).cast("double") / F.lit(30.0), F.lit(1.0))
    diversity = distinct_ratio(t)
    mlen = mean_token_len(t)
    len_part = F.when((mlen >= 3.0) & (mlen <= 8.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return length_part * F.lit(0.4) + diversity * F.lit(0.4) + len_part * F.lit(0.2)


_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
}


def lang_guess(text: Column | str) -> Column:
    """Marker-word language heuristic with deterministic alphabetical
    tie-break; CJK characters dominate to 'zh'. (On the synthetic corpus this
    mostly returns 'en' — the operator contract is determinism, and accuracy
    on real corpora comes from swapping the marker table.)"""
    t = _c(text)
    toks = tokens(t)
    cjk = F.length(F.regexp_replace(t, r"[^一-鿿]", ""))
    best_lang = F.lit("en")
    best_score = F.lit(-1)
    # iterate langs in alphabetical order; strict > keeps the earlier lang on
    # ties -> deterministic
    for lang in sorted(_LANG_MARKERS):
        score = F.size(F.filter(toks, lambda x: x.isin(*_LANG_MARKERS[lang])))
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return F.when(cjk * 3 > F.length(t), F.lit("zh")).otherwise(best_lang)
