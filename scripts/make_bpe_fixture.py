"""Generate the BPE oracle fixtures for the driver's DuckDB compare.

BPE training is an iterative argmax loop (each round's winning pair feeds
the next round's counts) that no single SQL statement can express, so the
`bpe_merges`/`bpe_tokenize` oracles are PRECOMPUTED expectation tables:
this script runs an INDEPENDENT pure-Python BPE (no Spark, no
rabitq_spark imports — the same reference implementation family as
tests/test_bpe.py) over the sf0.01 documents corpus and materializes

    fixtures/bpe_merges_sf0.01.parquet     (step, left, right, pair_count)
    fixtures/bpe_tokenize_sf0.01.parquet   (doc_id, n_ws, n_bpe)

which ORACLE_SQL reads back verbatim via read_parquet(). The fixtures are
committed; tests/test_bpe.py::test_committed_fixture_matches_reference
regenerates the expectation in-process and asserts the committed files
still match, so a corpus or semantics drift fails loudly instead of
silently staling the oracle.

Usage: python scripts/make_bpe_fixture.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

N_MERGES = 10  # matches queries.py::_build_bpe (the `bpe` prepared kind)


def ref_bpe_train(texts: list[str], n_merges: int) -> list[tuple[str, str, int]]:
    """Pure-Python BPE: lowercase, space-split vocabulary, per-round
    weighted adjacent-pair argmax with (count desc, pair lexical asc)
    tie-break, left-to-right greedy merge application."""
    vocab: Counter = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                vocab[w.lower()] += 1
    syms = {w: list(w) for w in vocab}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, f in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += f
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, c))
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def ref_token_counts(
    texts: dict[int, str], merges: list[tuple[str, str, int]]
) -> list[tuple[int, int, int]]:
    """(doc_id, n_ws, n_bpe): whitespace token count and the BPE token
    count after applying the merge list in order to each word."""
    memo: dict[str, int] = {}

    def word_tokens(w: str) -> int:
        if w not in memo:
            s = list(w)
            for a, b, _ in merges:
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out
            memo[w] = len(s)
        return memo[w]

    rows = []
    for doc_id, t in texts.items():
        words = [w.lower() for w in t.split(" ") if w]
        rows.append((doc_id, len(words), sum(word_tokens(w) for w in words)))
    return rows


def main(sf_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tag = os.path.basename(sf_dir.rstrip("/"))  # e.g. "sf0.01"
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    texts = dict(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    merges = ref_bpe_train(list(texts.values()), N_MERGES)
    counts = ref_token_counts(texts, merges)

    out_dir = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures")
    os.makedirs(out_dir, exist_ok=True)
    merges_tbl = pa.table(
        {
            "step": pa.array(range(len(merges)), pa.int32()),
            "left": pa.array([m[0] for m in merges], pa.string()),
            "right": pa.array([m[1] for m in merges], pa.string()),
            "pair_count": pa.array([m[2] for m in merges], pa.int64()),
        }
    )
    pq.write_table(merges_tbl, os.path.join(out_dir, f"bpe_merges_{tag}.parquet"))
    counts_tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in counts], pa.int64()),
            "n_ws": pa.array([r[1] for r in counts], pa.int32()),
            "n_bpe": pa.array([r[2] for r in counts], pa.int32()),
        }
    )
    pq.write_table(
        counts_tbl, os.path.join(out_dir, f"bpe_tokenize_{tag}.parquet")
    )
    print(f"wrote {len(merges)} merges, {len(counts)} doc counts -> {out_dir}")
    for m in merges:
        print(" ", m)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
