"""Banded LSH key regression: every band must use ITS OWN xor constant.

A `lambda x, c=c:` capture inside F.transform is parsed by PySpark as an
(element, index) lambda — the constant silently becomes the array index,
collapsing all bands to one key and costing recall (found when the
streaming near-dup twin flagged a pair the batch operator missed)."""

import pytest
from pyspark.sql import functions as F


def test_bands_produce_distinct_keys(spark):
    from rabitq_spark.functions.text import banded_minhash_key

    df = spark.createDataFrame(
        [([17, 293847, 99999999, 4], )], "hs array<bigint>"
    )
    row = df.select(
        *[banded_minhash_key("hs", b, 1).alias(f"b{b}") for b in range(8)],
    ).collect()[0]
    banded = [row[f"b{b}"] for b in range(8)]
    assert len(set(banded)) == 8  # the 8 bands must actually differ


@pytest.mark.parametrize("rows_per_band", [1, 4])
def test_amplified_band_key_matches_scalar_reference(spark, rows_per_band):
    from rabitq_spark.functions.text import (
        _MASK60,
        band_xor_constant,
        banded_minhash_key,
    )

    r = rows_per_band
    hs = [17, 293847, 99999999, 4]
    df = spark.createDataFrame([(hs,)], "hs array<bigint>")
    got = df.select(
        *[banded_minhash_key("hs", b, r).alias(f"k{b}") for b in range(3)]
    ).collect()[0]
    for b in range(3):
        mins = [
            min(h ^ band_xor_constant(b * r + j) for h in hs) for j in range(r)
        ]
        want = 0
        for j, m in enumerate(mins):
            want ^= m << (r - 1 - j)
        want &= _MASK60
        assert got[f"k{b}"] == want


def test_rolling_gram_hashes_match_scalar_reference(spark):
    """The double-Horner polynomial gram hash must equal a scalar Python
    fold, stay distinct, spread across the 60-bit space, and agree with
    the engine's ascii() on non-ASCII input (code points, not bytes)."""
    from rabitq_spark.functions.text import (
        POLY_B1,
        POLY_B2,
        POLY_P1,
        POLY_P2,
        char_codes,
        rolling_gram_hashes,
    )

    text = "the quick brown fox é€ the quick"
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(
        rolling_gram_hashes(char_codes(F.col("t")), 5).alias("hs")
    ).collect()[0]["hs"]

    def fold(cs, base, mod):
        acc = cs[0]
        for c in cs[1:]:
            acc = (acc * base + c) % mod
        return acc

    codes = [ord(c) for c in text]
    want, seen = [], set()
    for i in range(len(codes) - 4):
        cs = codes[i : i + 5]
        h = (fold(cs, POLY_B1, POLY_P1) << 29) ^ fold(cs, POLY_B2, POLY_P2)
        if h not in seen:
            seen.add(h)
            want.append(h)
    assert got == want
    # the repeated "the quick" grams deduplicate
    assert len(got) == len(set(got)) < len(codes) - 4


def test_rolling_gram_hashes_short_text_empty(spark):
    from rabitq_spark.functions.text import char_codes, rolling_gram_hashes

    df = spark.createDataFrame([("abcd",), ("",)], "t string")
    rows = df.select(
        rolling_gram_hashes(char_codes(F.col("t")), 5).alias("hs")
    ).collect()
    assert [r["hs"] for r in rows] == [[], []]


def test_rolling_gram_hash_sql_mirrors_spark(spark):
    """The generated DuckDB expression must produce the identical hash set
    (the oracle relies on expression-for-expression parity)."""
    import duckdb

    from rabitq_spark.functions.text import (
        char_codes,
        rolling_gram_hash_sql,
        rolling_gram_hashes,
    )

    text = "jackdaws love my big sphinx of quartz é€"
    df = spark.createDataFrame([(text,)], "t string")
    got = df.select(
        rolling_gram_hashes(char_codes(F.col("t")), 5).alias("hs")
    ).collect()[0]["hs"]
    sql = f"""
    WITH codes AS (
      SELECT list_transform(range(1, length(t) + 1),
               i -> CAST(ascii(substring(t, i, 1)) AS BIGINT)) AS cs
      FROM (SELECT '{text}' AS t)
    )
    SELECT list_distinct(list_transform(range(1, len(cs) - 3),
             i -> {rolling_gram_hash_sql("cs", "i", 5)})) AS hs
    FROM codes
    """
    want = duckdb.connect().execute(sql).fetchone()[0]
    # DuckDB's list_distinct does not preserve order; downstream consumers
    # (array_min bands, intersect sizes) are order-free set operations
    assert sorted(got) == sorted(want)


def _edge_texts():
    """400 texts mixing null, empty, blank, runs of spaces, tabs,
    non-ASCII and emoji tokens, repeated words and short docs."""
    import random

    rng = random.Random(7)
    vocab = ["a", "the", "x", "émigré", "naïve", "日本語", "🙂", "🙂🙂",
             "tab\there", "b", "c", "zz", "Ω"]
    texts = [None, "", " ", "   ", "\t", "a", "a a", "a a a", "  a  b  ",
             "🙂 🙂 🙂 🙂"]
    while len(texts) < 400:
        n = rng.choice([0, 1, 2, 3, 4, 6, 8, 12, 30])
        t = "".join(
            rng.choice(vocab) + rng.choice([" ", " ", "  ", "   "])
            for _ in range(n)
        )
        texts.append(" " + t if rng.random() < 0.3 else t)
    return texts


def _edge_corpus(spark):
    return spark.createDataFrame(
        list(enumerate(_edge_texts())), "doc_id bigint, text string"
    ).repartition(3)


def _band_columns(grid):
    from rabitq_spark.functions.text import banded_minhash_key

    return [
        banded_minhash_key("hs", b, r).alias(f"k{n}_{r}_{b}")
        for n, r in grid
        for b in range(n)
    ]


_BAND_GRID = [(8, 1), (12, 5), (4, 2)]


@pytest.mark.parametrize("shingle_words", [1, 2, 3, 5, 7])
def test_minhash_kernel_equals_column_reference(spark, shingle_words):
    """The Arrow kernel's hash sets (in order) and band keys equal the
    Column reference word_hashes → combine_word_hashes →
    banded_minhash_key, bit for bit; docs with fewer than shingle_words
    words get no row in either. The band-key function is checked at every
    (n_bands, rows_per_band) of the grid through _band_keys."""
    from rabitq_spark.functions.text import combine_word_hashes, word_hashes
    from rabitq_spark.operators.dedup import (
        _band_keys,
        _minhash_table,
        release_caches,
    )

    docs = _edge_corpus(spark)
    ref_hs = (
        docs.select("doc_id", word_hashes("text").alias("h"))
        .filter(F.size("h") >= shingle_words)
        .select("doc_id", combine_word_hashes("h", shingle_words).alias("hs"))
        .localCheckpoint()
    )
    want = {
        r["doc_id"]: r.asDict()
        for r in ref_hs.select("doc_id", "hs", *_band_columns(_BAND_GRID)).collect()
    }
    table = _minhash_table(docs, "doc_id", "text", shingle_words, 8, scope=[])
    got = {r["doc_id"]: r for r in table.collect()}
    table.unpersist()
    assert want and set(got) == set(want)
    for d, w in want.items():
        assert got[d]["hs"] == w["hs"]
        assert got[d]["keys"] == [w[f"k8_1_{b}"] for b in range(8)]
    for n, r in _BAND_GRID:
        keys = {
            (row["doc_id"], row["b"]): row["k"]
            for row in _band_keys(ref_hs, n, r).collect()
        }
        assert keys == {
            (d, b): w[f"k{n}_{r}_{b}"] for d, w in want.items() for b in range(n)
        }
    release_caches()


def test_ngram_band_keys_equal_column_reference(spark):
    """_band_keys over rolling char-gram hashes (the ngram pipeline's
    AND-amplified 12 × 5 bands) equals banded_minhash_key."""
    from rabitq_spark.functions.text import char_codes, rolling_gram_hashes
    from rabitq_spark.operators.dedup import _band_keys

    hashed = (
        _edge_corpus(spark)
        .select("doc_id", char_codes(F.lower("text")).alias("cs"))
        .filter(F.size("cs") >= 5)
        .select("doc_id", rolling_gram_hashes("cs", 5).alias("hs"))
        .localCheckpoint()
    )
    want = {
        r["doc_id"]: r.asDict()
        for r in hashed.select("doc_id", *_band_columns([(12, 5)])).collect()
    }
    keys = {
        (row["doc_id"], row["b"]): row["k"]
        for row in _band_keys(hashed, 12, 5).collect()
    }
    assert want and keys == {
        (d, b): w[f"k12_5_{b}"] for d, w in want.items() for b in range(12)
    }


@pytest.mark.parametrize("max_words", [1, 7, 50, 1 << 20])
def test_word_slices_hash_like_the_whole_batch(max_words):
    """_word_slices tiles a batch into row ranges of at most max_words
    words (spaces + 1), or one longer doc, and the kernel's outputs over
    the ranges concatenate to its output over the whole batch."""
    import numpy as np
    import pyarrow as pa

    from rabitq_spark.operators.dedup import _minhash_batch, _word_slices

    texts = _edge_texts()
    text = pa.array(texts)
    ranges = list(_word_slices(text, max_words))
    assert [a for a, _ in ranges] == [0] + [b for _, b in ranges[:-1]]
    assert ranges[-1][1] == len(texts)
    for a, b in ranges:
        words = sum((t or "").count(" ") + 1 for t in texts[a:b])
        assert b - a == 1 or words <= max_words
    if max_words == 1 << 20:
        assert len(ranges) == 1

    whole = _minhash_batch(text, 3, 8)
    parts = [_minhash_batch(text.slice(a, b - a), 3, 8) for a, b in ranges]
    np.testing.assert_array_equal(
        np.concatenate([p[0] + a for p, (a, _) in zip(parts, ranges)]), whole[0]
    )
    np.testing.assert_array_equal(
        np.concatenate([np.diff(p[1]) for p in parts]), np.diff(whole[1])
    )
    np.testing.assert_array_equal(np.concatenate([p[2] for p in parts]), whole[2])
    np.testing.assert_array_equal(np.vstack([p[3] for p in parts]), whole[3])
