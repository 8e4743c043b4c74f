"""Distributed BPE (byte-pair encoding) merge training — the real
tokenizer-training step behind the engine's "BPE-ish" token counting
(SURVEY §2C token counting; Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units").

Scale shape (the part that matters at 100 TB): BPE never iterates over
the corpus — it iterates over the WORD-FREQUENCY table. The corpus is
aggregated once into (word, freq) — one shuffle, map-side combined,
output bounded by distinct-word count, not corpus size. Every merge
round then runs on that vocab table only:

  pair counts:  zip_with adjacent symbols → explode → freq-weighted sum
                (one shuffle of (pair, freq) rows, partial agg map-side)
  best pair:    a 1-row argmax collect — same bounded driver probe as
                connected-components' convergence check
  apply merge:  a pure JVM ``aggregate`` fold per word (greedy
                left-to-right, non-overlapping), no shuffle
  plan hygiene: localCheckpoint every few rounds so Catalyst analysis
                stays flat across 50+ iterative rounds (same treatment
                as dedup/components.py)

ENCODING a corpus with the trained tokenizer is a lookup join, not a
re-derivation: training's final state IS the word → subword-segmentation
table; corpus words join against it (broadcast while the vocab fits,
shuffle join beyond). No per-document Python anywhere.

Determinism: ties on pair frequency break lexicographically — pinned so
the merge list is reproducible and the pytest twin (a pure-Python
reference implementation) must agree merge-for-merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from philotes_spark.functions.text import tokens
from philotes_spark.state import keep, release

END = "</w>"  # end-of-word marker, a symbol of its own (Sennrich §3.2)


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq): the one corpus-wide aggregation (see module docs)."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(word: Column) -> Column:
    # "low" -> [l, o, w, </w>]
    return F.concat(
        F.split(word, "(?!$)"),  # each char
        F.array(F.lit(END)),
    )


def _merge_expr(symbols: Column, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b) into
    a+b — a whole-stage-codegen'd fold, O(len²) array building on words
    of bounded length (chars per word), zero shuffle."""
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (x == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(la, lb))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int = 40,
    text_col: str = "text",
    min_pair_freq: int = 2,
    checkpoint_every: int = 5,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges. Returns (merges, vocab) where vocab
    is the final (word, freq, symbols array<string>) segmentation table —
    the encode-time lookup artifact. Stops early when no pair reaches
    ``min_pair_freq``."""
    vocab = keep(
        word_freqs(docs, text_col).select(
            "word", "freq", _initial_symbols(F.col("word")).alias("symbols")
        ),
        checkpoint=True,
    )
    # the newest checkpoint; each one is freed once the next is
    # materialized
    cut = vocab
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        pairs = vocab.select(
            "freq",
            F.explode(
                # zip_with pads the shifted copy with null; drop the tail
                # pair before exploding
                F.filter(
                    F.zip_with(
                        "symbols",
                        F.expr("slice(symbols, 2, greatest(size(symbols) - 1, 0))"),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                    lambda p: p["b"].isNotNull(),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not best or best[0].n < min_pair_freq:
            break
        a, b = best[0].p.a, best[0].p.b
        merges.append((a, b))
        vocab = vocab.withColumn("symbols", _merge_expr(F.col("symbols"), a, b))
        if (i + 1) % checkpoint_every == 0:
            vocab = keep(vocab, checkpoint=True)
            release(cut)
            cut = vocab
    if vocab is not cut:  # merges since the last checkpoint
        vocab = keep(vocab, checkpoint=True)
        release(cut)
    return merges, vocab


def encode_words(words: DataFrame, vocab: DataFrame, word_col: str = "word") -> DataFrame:
    """Segment a word column with the trained tokenizer: a join against
    the vocab's segmentation (broadcast-eligible while the vocab fits),
    falling back to character symbols for out-of-vocabulary words —
    never a re-derivation, never per-row Python."""
    seg = vocab.select(F.col("word").alias(word_col), "symbols")
    return words.join(seg, word_col, "left").withColumn(
        "symbols",
        F.coalesce(F.col("symbols"), _initial_symbols(F.col(word_col))),
    )
