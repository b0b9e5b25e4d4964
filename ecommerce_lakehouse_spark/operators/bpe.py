"""BPE tokenizer training (Sennrich et al. 2016) — the operator behind
queries/llm6.py's ``bpe_merge_steps`` / ``bpe_encode_stats``.

Training splits at the vocabulary:

- **Distributed word count.** The one corpus-sized pass (tokenize, count
  distinct words, spell each word as a padded symbol sequence
  ``" c1 c2 ... "``) runs in Spark behind one lazy barrier.
- **In-process merge rounds.** The ``(seq, freq)`` table is pulled to
  the driver in ONE Arrow action. It is bounded by the vocabulary
  (distinct words: tens at sf0.01, millions at 100 TB, never the
  corpus) — a control-plane read, which is why this file lives in
  operators/ and the query layer stays driver-materialization-free
  (tests/test_plans.py::test_query_layer_never_materializes_to_driver).
  Each round then recounts the adjacent pairs of every word: O(V * L)
  for V distinct words of L symbols, no Spark job.
- **Oracle semantics, exactly.** Pairs are adjacent symbols weighted by
  ``freq``; the winner is the minimum of ``(-wc, token, pair)`` (the
  oracle's ``ORDER BY wc DESC, token, pair``); a merge is
  ``str.replace(" l r ", " lr ")`` on the padded sequence — leftmost and
  non-overlapping, like Spark's and DuckDB's ``replace``; rounds stop
  early when no pair is left.

The merge table is the driver-side rows; the final vocabulary is one
lazy projection (the learned merges as literal ``replace`` calls over
the barriered word table), so encode consumers join a distributed table.
"""

from __future__ import annotations

import functools
from collections import Counter
from collections.abc import Iterable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ecommerce_lakehouse_spark.operators.scale import iter_barrier
from ecommerce_lakehouse_spark.tables import load


def bpe_merges(
    vocab: Iterable[tuple[str, int]], steps: int
) -> tuple[list[tuple[int, str, str, int]], list[str]]:
    """Run up to ``steps`` sequential merge rounds over ``(seq, freq)``
    rows. Returns the merge table as ``(step, pair, token, wc)`` rows and
    the post-merge sequences in input order (see module docstring)."""
    seqs, freqs = [], []
    for seq, freq in vocab:
        seqs.append(seq)
        freqs.append(freq)
    merges = []
    for step in range(1, steps + 1):
        wc: Counter = Counter()
        for seq, freq in zip(seqs, freqs):
            t = seq.split()
            for p in zip(t, t[1:]):
                wc[p] += freq
        if not wc:
            break  # pair exhaustion: the oracle's LIMIT 1 yields no row
        (l, r), n = min(
            wc.items(), key=lambda kv: (-kv[1], "".join(kv[0]), " ".join(kv[0]))
        )
        merges.append((step, f"{l} {r}", l + r, n))
        seqs = [s.replace(f" {l} {r} ", f" {l}{r} ") for s in seqs]
    return merges, seqs


def bpe_train(
    spark: SparkSession, sf_dir: str, steps: int = 32
) -> tuple[DataFrame, DataFrame]:
    """Run BPE training: returns (merge table, final word table). The
    word table keeps the raw ``word`` column so consumers can map any
    word to its post-merge symbol sequence (the encode path).

    Training is memoized per (session, sf_dir, steps) in a 4-entry LRU:
    a session that both trains and encodes (train once, ship the vocab,
    every encode job reuses it) pays the word count and the merge
    rounds once."""
    return _train(spark, sf_dir, steps)


@functools.lru_cache(maxsize=4)
def _train(
    spark: SparkSession, sf_dir: str, steps: int
) -> tuple[DataFrame, DataFrame]:
    toks = load(spark, sf_dir, "documents").select(
        F.explode(
            F.filter(
                F.split(
                    F.regexp_replace(F.lower("text"), "[^a-z]+", " "), " "
                ),
                lambda x: x != "",
            )
        ).alias("word")
    )
    wf = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            "word",
            "freq",
            F.concat(
                F.lit(" "),
                F.array_join(F.expr("regexp_extract_all(word, '(.)', 1)"), " "),
                F.lit(" "),
            ).alias("seq"),
        )
        # lazy: the collect below materializes it, and the returned
        # vocabulary re-reads the same blocks instead of recounting
        .transform(iter_barrier, eager=False)
    )
    vocab = wf.select("seq", "freq").toArrow()
    merges, _ = bpe_merges(
        zip(vocab["seq"].to_pylist(), vocab["freq"].to_pylist()), steps
    )
    seq = F.col("seq")
    for _, pair, token, _ in merges:
        seq = F.replace(seq, F.lit(f" {pair} "), F.lit(f" {token} "))
    return (
        spark.createDataFrame(
            merges, "step int, pair string, token string, wc long"
        ),
        wf.select("word", "freq", seq.alias("seq")),
    )
