"""Distributed BPE tokenizer training (Sennrich et al. 2016) — the
on-corpus vocabulary-learning stage of a training-data pipeline, built
the canonical Spark way:

- the corpus collapses ONCE to a (word, freq) table (keyed count — at
  web scale the distinct-word table is still huge, so it stays a
  DataFrame, never driver state);
- each merge round is: explode adjacent symbol pairs → one keyed
  sum-aggregation on (lhs, rhs) → collect exactly ONE row (the argmax
  pair — scalar-sized by definition) → apply the merge map-side with a
  whole-stage-codegen `aggregate()` fold (zero Python in the pass);
- `localCheckpoint()` truncates lineage each round (the iterative-loop
  discipline host_pagerank/ivf_train use).

Everything is integer arithmetic with a total deterministic tie-break
(count DESC, then lexicographically smallest pair), so the driver's
oracle can replicate training engine-free, bit-identically, and inline
the learned merge table as literals — the same value-gating pattern as
``ann_ivf_trained`` (similarity.py).

Reference parity note: the reference delegates tokenization entirely to
docling's models (poetry.lock); tokenizer TRAINING has no counterpart
there — this is a task-brief training-data addition.
"""

from __future__ import annotations

import collections
import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import textsql as X
from ..memo import memo

#: merge rounds for the driver-gated query — small because the synthetic
#: vocabulary is small; the per-round plan is round-count-independent
N_MERGES = 8
#: end-of-word marker appended to every symbol sequence (standard BPE)
EOW = "</w>"


def _word_counts_sql(dialect: str) -> str:
    toks = X.tokens(dialect)
    explode = "explode" if dialect == "spark" else "unnest"
    return (f"SELECT tok AS word, count(*) AS freq "
            f"FROM (SELECT {explode}({toks}) AS tok FROM documents) e "
            f"GROUP BY tok")


def _merge_expr(lhs: str, rhs: str) -> str:
    """The greedy left-to-right non-overlapping merge as a SQL fold:
    append each symbol unless it completes the (lhs, rhs) pair with the
    accumulator's last element, in which case the last element is
    replaced by the merged symbol. Non-overlap falls out: the merged
    symbol can never equal ``lhs``, so a fresh pair must restart.
    Symbols are [a-z0-9] + '</w>' fragments — safe as SQL literals."""
    lit_l, lit_r, lit_m = f"'{lhs}'", f"'{rhs}'", f"'{lhs + rhs}'"
    return (
        "aggregate(syms, CAST(array() AS array<string>), (acc, x) -> "
        f"IF(size(acc) > 0 AND element_at(acc, -1) = {lit_l} "
        f"AND x = {lit_r}, "
        f"concat(slice(acc, 1, size(acc) - 1), array({lit_m})), "
        "concat(acc, array(x))))"
    )


def _train(spark: SparkSession, sf_dir: str,
           n_merges: int) -> tuple[list[tuple], DataFrame]:
    """The shared training loop: returns (merge list, final (freq, syms)
    word DataFrame after all merges applied). bpe_train, bpe_vocab and
    bpe_segment_counts are all registered queries, so without the memo
    every driver verify/bench pass trains three times. Session-scoped
    per (sf_dir, n_merges): the final DataFrame is localCheckpointed —
    valid for the life of the SparkSession that built it (ADVICE r3)."""
    # r7 (r6 verdict Next #2): normalize the dir so trailing-slash /
    # redundant-separator spellings of the same path cannot miss the
    # memo and pay the sequential training twice per session
    key = ("bpe_train", os.path.normpath(sf_dir), n_merges)
    return memo(key, lambda: _train_loop(spark, sf_dir, n_merges), spark)


def _train_loop(spark: SparkSession, sf_dir: str,
                n_merges: int) -> tuple[list[tuple], DataFrame]:
    from ..functions import read_wide
    read_wide(spark, f"{sf_dir}/documents.parquet", "doc_id") \
        .createOrReplaceTempView("documents")
    words = spark.sql(_word_counts_sql("spark"))
    df = words.select(
        "word", "freq",
        F.expr("concat(transform(sequence(1, length(word)), "
               f"i -> substring(word, i, 1)), array('{EOW}'))").alias("syms"),
    ).localCheckpoint()
    merges = []
    for rank in range(n_merges):
        pairs = df.select(
            "freq",
            F.explode(F.expr(
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(element_at(syms, i) AS lhs, "
                "element_at(syms, i + 1) AS rhs))")).alias("p"))
        best = (pairs.groupBy("p.lhs", "p.rhs")
                .agg(F.sum("freq").alias("pair_count"))
                .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
                .first())
        if best is None:
            break
        merges.append((rank, best["lhs"], best["rhs"],
                       best["lhs"] + best["rhs"], int(best["pair_count"])))
        df = df.select(
            "word", "freq", F.expr(_merge_expr(best["lhs"], best["rhs"]))
            .alias("syms")).localCheckpoint()
    return merges, df


def bpe_train(spark: SparkSession, sf_dir: str,
              n_merges: int = N_MERGES) -> DataFrame:
    """Learn the top-``n_merges`` BPE merges over the documents corpus.
    Returns the merge table (rank, lhs, rhs, merged, pair_count) — small
    by definition (the distributed work is the per-round pair count over
    the corpus-sized word table)."""
    merges, _ = _train(spark, sf_dir, n_merges)
    return spark.createDataFrame(
        merges,
        "rank int, lhs string, rhs string, merged string, pair_count bigint")


def bpe_segment_counts(spark: SparkSession, sf_dir: str,
                       n_merges: int = N_MERGES) -> DataFrame:
    """APPLYING the trained tokenizer: per-document subtoken counts
    under the learned merges — the serving-time statistic (sequence
    budget per doc) a pipeline computes after tokenizer training.

    Plan at scale: the segmentation already lives on the word table
    (the training loop's final fold output, memoized); per-doc counts
    are explode(doc tokens) → equi-join word → size(syms) (keyed on the
    word — the classic word-frequency join) → one doc-keyed sum. No
    per-doc re-segmentation: a corpus re-uses its word table exactly as
    real BPE serving caches word→pieces."""
    _, df = _train(spark, sf_dir, n_merges)
    word_sizes = df.select("word", F.size("syms").alias("n_pieces"))
    # re-point the view explicitly: a _train cache hit skips view setup,
    # and another query may have re-bound 'documents' to a different dir
    from ..functions import read_wide
    read_wide(spark, f"{sf_dir}/documents.parquet", "doc_id") \
        .createOrReplaceTempView("documents")
    toks = X.tokens("spark")
    doc_words = spark.sql(
        f"SELECT doc_id, explode({toks}) AS word FROM documents")
    return (doc_words.join(word_sizes, "word")
            .groupBy("doc_id")
            .agg(F.sum("n_pieces").alias("n_subtokens"),
                 F.count(F.lit(1)).alias("n_words")))


def bpe_segment_oracle(sf_dir: str, n_merges: int = N_MERGES) -> str:
    """DuckDB twin: the replica segments every word identically; per-doc
    counts are inlined as VALUES (corpus-row-count-sized — fine at the
    driver's correctness scales). Memoized per (dir, n)."""
    def build() -> str:
        import duckdb

        _, words = _replica(sf_dir, n_merges)
        pieces = {"".join(syms).replace(EOW, ""): len(syms)
                  for syms, _ in words}
        rows = duckdb.sql(
            f"SELECT doc_id, text FROM "
            f"read_parquet('{sf_dir}/documents.parquet')").fetchall()
        vals = []
        for doc_id, text in rows:
            if not text:
                continue
            ws = re.sub("[^a-z0-9 ]", " ", text.lower()).split()
            if not ws:
                continue
            n_sub = sum(pieces[w] for w in ws)
            vals.append(f"({doc_id}, CAST({n_sub} AS BIGINT), "
                        f"CAST({len(ws)} AS BIGINT))")
        return ("SELECT * FROM (VALUES " + ", ".join(vals)
                + ") t(doc_id, n_subtokens, n_words)")
    return memo(("bpe_segment_oracle", sf_dir, n_merges), build)


def bpe_vocab(spark: SparkSession, sf_dir: str,
              n_merges: int = N_MERGES) -> DataFrame:
    """The trained tokenizer's EXPORT artifact: every symbol in the
    learned vocabulary (single characters + merged units + the EOW
    marker) with its corpus occurrence count under the final
    segmentation. The segmentation itself is the 8 map-side folds over
    the word table; the count is one keyed aggregation on symbol —
    per-doc segmentation at serving time is the same fold chain."""
    _, df = _train(spark, sf_dir, n_merges)
    return (df.select("freq", F.explode("syms").alias("symbol"))
            .groupBy("symbol")
            .agg(F.sum("freq").alias("n_occurrences")))


def _replica(sf_dir: str,
             n_merges: int) -> tuple[list[tuple], list[tuple]]:
    """Engine-free bit-identical training replica (oracle side): same
    tokenization (textsql.tokens contract), same integer pair counts,
    same (count DESC, pair ASC) tie-break, same greedy fold. Returns
    (merge list, final (syms, freq) word list)."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    counts: collections.Counter = collections.Counter()
    for (text,) in rows:
        if not text:
            continue
        for w in re.sub("[^a-z0-9 ]", " ", text.lower()).split():
            counts[w] += 1
    return replica_from_counts(counts, n_merges)


def replica_from_counts(counts, n_merges: int):
    """The replica's merge loop on an explicit word-count mapping —
    split out so semantics tests exercise THIS loop, not a copy."""
    words = [(list(w) + [EOW], c) for w, c in counts.items()]
    merges = []
    for rank in range(n_merges):
        pc: collections.Counter = collections.Counter()
        for syms, c in words:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (lhs, rhs), c = min(pc.items(),
                            key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((rank, lhs, rhs, lhs + rhs, c))
        nxt = []
        for syms, cnt in words:
            out: list[str] = []
            for x in syms:
                if out and out[-1] == lhs and x == rhs:
                    out[-1] = lhs + rhs
                else:
                    out.append(x)
            nxt.append((out, cnt))
        words = nxt
    return merges, words


def bpe_train_oracle(sf_dir: str, n_merges: int = N_MERGES) -> str:
    """DuckDB twin: the replica's learned merge table inlined as VALUES
    (the ann_ivf_trained pattern — iterative but deterministic, so the
    oracle re-derives it independently instead of going rows-only).
    Memoized per (dir, n)."""
    def build() -> str:
        merges, _ = _replica(sf_dir, n_merges)
        vals = ", ".join(
            f"(CAST({r} AS INT), '{l}', '{rt}', '{m}', "
            f"CAST({c} AS BIGINT))"
            for r, l, rt, m, c in merges)
        return ("SELECT * FROM (VALUES "
                f"{vals}) t(rank, lhs, rhs, merged, pair_count)")
    return memo(("bpe_train_oracle", sf_dir, n_merges), build)


def bpe_vocab_oracle(sf_dir: str, n_merges: int = N_MERGES) -> str:
    """DuckDB twin of :func:`bpe_vocab`: the replica's final
    segmentation rolled up to per-symbol corpus counts, inlined as
    VALUES (vocabulary size = alphabet + n_merges — small by
    construction). Memoized per (dir, n)."""
    def build() -> str:
        _, words = _replica(sf_dir, n_merges)
        counts: collections.Counter = collections.Counter()
        for syms, c in words:
            for s in syms:
                counts[s] += c
        vals = ", ".join(
            f"('{s}', CAST({c} AS BIGINT))"
            for s, c in sorted(counts.items()))
        return f"SELECT * FROM (VALUES {vals}) t(symbol, n_occurrences)"
    return memo(("bpe_vocab_oracle", sf_dir, n_merges), build)
