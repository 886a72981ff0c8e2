"""BPE tokenizer training (Sennrich et al., arXiv:1508.07909) on Spark.

The classic scaling trick makes this cluster-friendly: training iterates
on the distinct-WORD vocabulary (with corpus frequencies), not on the
corpus. A 100 TB corpus costs ONE word-count shuffle; every merge round
then runs on the vocabulary table (millions of rows at web scale, a
handful of MB), so the iterative part is cheap and the expensive part is
embarrassingly parallel.

Each round:
  1. adjacent-symbol-pair counts weighted by word freq — one keyed shuffle
     over the exploded vocabulary,
  2. argmax pair (deterministic tie-break: count desc, then pair lexical)
     — a single collected row,
  3. merge application — a pure-codegen F.aggregate fold (carry/emit state
     machine, greedy left-to-right non-overlapping like the reference BPE),
     no Python in the loop,
  4. localCheckpoint to cut the iterative lineage.

The merge SEQUENCE is deterministic, so the pytest gate compares it
symbol-for-symbol against an independent pure-Python reference
implementation; an SQL oracle is genuinely impossible (per-round argmax
feedback), so the registered query is rows-only by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _chars(col):
    """Word → array of single characters (no end-of-word marker; the
    whitespace tokenizer already delimits words — documented deviation
    from Sennrich's '</w>' convention, which only matters for detokenizing)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(col)),
        lambda i: F.substr(col, i, F.lit(1)),
    )


def _merge_pair(sym_col, a: str, b: str):
    """Greedy left-to-right non-overlapping merge of adjacent (a, b) into
    a+b — the reference BPE merge — as one aggregate fold: carry the
    previous unmerged symbol; emit merged when (carry, s) == (a, b)."""
    merged = a + b
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("carry"),
    )

    def step(acc, s):
        return (
            F.when(
                acc["carry"].isNull(),
                F.struct(acc["out"].alias("out"), s.alias("carry")),
            )
            .when(
                (acc["carry"] == F.lit(a)) & (s == F.lit(b)),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                    F.lit(None).cast("string").alias("carry"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["carry"])).alias("out"),
                    s.alias("carry"),
                )
            )
        )

    def finish(acc):
        return F.when(acc["carry"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["carry"]))
        )

    return F.aggregate(sym_col, init, step, finish)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    lowercase: bool = True,
) -> list[tuple[str, str, int]]:
    """Learn the first n_merges BPE merges from the corpus. Returns the
    ordered merge list [(left, right, weighted_count), ...] — the
    tokenizer artifact. Stops early if no adjacent pair remains."""
    spark = docs.sparkSession
    w = F.explode(
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    ).alias("w")
    words = docs.select(w)
    if lowercase:
        words = words.select(F.lower("w").alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", _chars(F.col("w")).alias("sym"))
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str, int]] = []
    # each round's merged vocab is checkpointed LAZILY: the next round's
    # argmax job materializes it as a side effect, so a round costs ONE
    # Spark job instead of two (collect + eager checkpoint — measured 2x
    # fewer jobs for identical merge output; the merge math is untouched).
    # The PREVIOUS round's blocks are unpersisted only after the argmax
    # materializes the current checkpoint (its compute reads them).
    prev = None
    for _ in range(n_merges):
        pairs = vocab.select(
            "freq",
            F.explode(
                F.when(
                    F.size("sym") >= 2,
                    F.zip_with(
                        F.slice("sym", 1, F.size("sym") - 1),
                        F.slice("sym", 2, F.size("sym") - 1),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if prev is not None:
            prev.unpersist()
            prev = None
        if not top:
            break
        a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
        merges.append((a, b, c))
        nxt = vocab.select("freq", _merge_pair(F.col("sym"), a, b).alias("sym"))
        nxt = nxt.localCheckpoint(eager=False)
        prev, vocab = vocab, nxt
    vocab.unpersist()
    if prev is not None:
        prev.unpersist()
    return merges


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Apply a learned merge list: per document, the BPE token array and
    its length. Returns (doc_id, bpe_tokens array<string>, n_bpe).

    The application is a fixed chain of len(merges) codegen merge folds
    over each word's character array — no Python, no per-row loop; Spark
    pipelines the chain inside one projection. Word boundaries are the
    whitespace tokenizer's, matching bpe_train. At 100 TB this is a
    map-only stage (zero shuffles): tokenization cost rides the scan.

    For long merge lists (real tokenizers: 32k+) chain depth would blow
    the codegen budget — segment the merges across a handful of
    localCheckpoint barriers, or apply them in an Arrow UDF with the same
    greedy semantics; this surface targets the analysis-sized lists
    bpe_train produces.
    """
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    words = F.transform(w, lambda x: F.lower(x)) if lowercase else w

    def apply_all(sym):
        for m in merges:
            a, b = m[0], m[1]
            sym = _merge_pair(sym, a, b)
        return sym

    toks = docs.select(
        F.col(id_col).alias("doc_id"), words.alias("__words")
    ).localCheckpoint(eager=False)
    out = toks.select(
        "doc_id",
        F.flatten(
            F.transform(F.col("__words"), lambda x: apply_all(_chars(x)))
        ).alias("bpe_tokens"),
    )
    return out.select(
        "doc_id", "bpe_tokens", F.size("bpe_tokens").alias("n_bpe")
    )


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Per-document BPE token counts via the VOCABULARY trick: the merge
    chain runs once per DISTINCT word (vocabulary-sized, like bpe_train),
    and documents get their counts back through one word-keyed join —
    n_bpe(doc) = Σ n_bpe(word occurrences). Returns (doc_id, n_ws, n_bpe).

    Measured 12.6 -> ~1 s at sf0.1 over bpe_tokenize's per-instance chain;
    at 100 TB the chain cost is |vocab|, not |corpus|."""
    w = F.explode(
        F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    ).alias("w")
    occ = docs.select(F.col(id_col).alias("doc_id"), w)
    if lowercase:
        occ = occ.select("doc_id", F.lower("w").alias("w"))

    def apply_all(sym):
        for m in merges:
            sym = _merge_pair(sym, m[0], m[1])
        return sym

    vocab = (
        occ.select("w")
        .distinct()
        .localCheckpoint(eager=False)
        .select("w", F.size(apply_all(_chars(F.col("w")))).alias("n_tok"))
    )
    return (
        occ.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_ws"),
            F.sum("n_tok").cast("int").alias("n_bpe"),
        )
    )


def bpe_tokenize_segmented(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
    segment_every: int = 64,
) -> DataFrame:
    """bpe_tokenize for LONG merge lists (real tokenizers: thousands of
    merges): the merge chain runs on the DISTINCT-word vocabulary, broken
    into segments of `segment_every` folds with a localCheckpoint barrier
    between — chain depth per plan stays bounded, so the codegen budget
    never blows regardless of list length. Documents then recover their
    token arrays through one word-keyed join + positional reassembly.

    Output and semantics identical to bpe_tokenize (tested equal); cost is
    |vocab| × len(merges) fold work + ONE corpus shuffle, vs bpe_tokenize's
    |corpus| × len(merges) in a single unbounded-depth projection.
    """
    w = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    words = F.transform(w, lambda x: F.lower(x)) if lowercase else w
    occ = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(words).alias("pos", "w")
    )
    vocab = occ.select("w").distinct()
    cur = vocab.select("w", _chars(F.col("w")).alias("__sym"))
    for s in range(0, len(merges), segment_every):
        expr = F.col("__sym")
        for m in merges[s : s + segment_every]:
            expr = _merge_pair(expr, m[0], m[1])
        cur = cur.select("w", expr.alias("__sym")).localCheckpoint(eager=False)
    per_doc = (
        occ.join(cur, "w")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "__sym"))),
                    lambda x: x["__sym"],
                )
            ).alias("bpe_tokens")
        )
    )
    return per_doc.select(
        "doc_id", "bpe_tokens", F.size("bpe_tokens").alias("n_bpe")
    )
