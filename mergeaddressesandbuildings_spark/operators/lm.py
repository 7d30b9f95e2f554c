"""Distributed n-gram language-model scoring — the CCNet-style
quality signal that completes this repo's web-corpus pipeline
(boilerplate strip → LM perplexity filter → quality_filter): train an
add-k-smoothed bigram LM on a reference corpus split, then score every
document by bigram cross-entropy / perplexity. Documents that score
far from the reference distribution (boilerplate soup, gibberish,
wrong-language text) surface as high-perplexity outliers.

Everything is built-in column expressions — no Python UDFs, no
per-row driver work. Scale shape (100 TB corpus):

- training: one map-side explode of the reference split into bigrams,
  then two hash aggs ((w1,w2) and (w1) counts) — both map-side
  combinable; the model is O(distinct bigrams), not O(corpus).
- vocabulary size: one distinct-count job returning a single scalar
  (bounded metadata).
- scoring: the corpus bigram stream equi-joins the count tables on
  (w1, w2) and (w1). Stopword bigrams are the classic hot keys — AQE
  skew-join splitting applies, and the count tables (MB-GB next to a
  100 TB corpus) are broadcast candidates the planner picks up
  automatically below the broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _word_bigrams(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, w1, w2)`` — consecutive word pairs per document,
    whitespace words, empties dropped. Same short-doc guard as
    textstats.repetition_stats: <2-word documents yield NO rows (a
    descending sequence(2, size) would otherwise throw), so they drop
    out of training and scoring alike."""
    ws = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    grams = F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(2), F.size(ws)),
            lambda i: F.struct(
                F.element_at(ws, i - 1).alias("w1"),
                F.element_at(ws, i).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return docs.select(
        F.col(id_col).alias("doc_id"), F.explode(grams).alias("g")
    ).select("doc_id", "g.w1", "g.w2")


def train_bigram_lm(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    ) -> tuple[DataFrame, DataFrame, int]:
    """Count model for an add-k bigram LM from a reference corpus:
    returns ``(bigram_counts(w1, w2, c12), context_counts(w1, c1),
    vocab_size)`` where ``c1 = Σ_w2 c12`` (the denominator convention
    that makes the smoothed distribution sum to 1) and ``vocab_size``
    is the number of distinct continuation words.

    One pass over the reference corpus: the bigram explode feeds a
    single (w1, w2) hash agg, and BOTH the context counts and the
    vocabulary derive from that (already tiny) table rather than
    re-exploding the corpus. ``c12`` is persisted — it IS the model,
    O(distinct bigrams), reused by the vocab action here and by every
    scoring join; call ``c12.unpersist()`` when done with the model."""
    g = _word_bigrams(docs, text_col, id_col)
    c12 = (g.groupBy("w1", "w2")
           .agg(F.count("*").cast("long").alias("c12")).persist())
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vocab_size = c12.select("w2").distinct().count()
    return c12, c1, vocab_size


def perplexity(docs: DataFrame, bigram_counts: DataFrame,
               context_counts: DataFrame, vocab_size: int,
               k: float = 0.5, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Score documents against a trained bigram LM:
    ``(doc_id, n_bigrams, cross_entropy, ppl)`` with

        P(w2 | w1) = (c12 + k) / (c1 + k·V)
        cross_entropy = -mean ln P,  ppl = exp(cross_entropy)

    Unseen bigrams and unseen contexts fall back through the add-k
    smoothing (left joins + coalesce-to-0 counts), so out-of-domain
    text scores high instead of hitting log(0). Documents with fewer
    than 2 words have no bigrams and are DROPPED from the result —
    route them to quality_filter's too_short rule instead."""
    g = _word_bigrams(docs, text_col, id_col)
    j = (
        g.join(bigram_counts, ["w1", "w2"], "left")
        .join(context_counts, ["w1"], "left")
    )
    denom = (F.coalesce(F.col("c1"), F.lit(0)).cast("double")
             + F.lit(float(k)) * F.lit(float(vocab_size)))
    lp = F.log(
        (F.coalesce(F.col("c12"), F.lit(0)).cast("double")
         + F.lit(float(k))) / denom
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            (-F.avg(lp)).alias("cross_entropy"),
        )
        .withColumn("ppl", F.exp(F.col("cross_entropy")))
    )
