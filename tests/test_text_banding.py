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
