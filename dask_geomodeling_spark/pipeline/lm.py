"""Corpus n-gram language-model scoring — the CCNet/KenLM-style
perplexity quality filter (public recipe: score each document by a
corpus-level n-gram LM; low-probability documents are boilerplate or
noise).  SURVEY.md §2 'LLM-data-pipeline extensions'.

Spark-first shape: the MODEL IS A DATAFRAME.  Unigram and bigram
count tables stay distributed and join back onto the per-document
bigram stream — nothing vocabulary-sized ever reaches the driver and
there is no literal-plan blowup, so a 100 TB corpus with a billion-key
vocabulary fits the same plan.  The vocabulary size (one scalar) rides
a broadcast one-row frame, keeping the whole fit/score lazy.  Token
keys are Zipf-skewed ('the' dominates) — AQE skew-join handles the
hot keys at scale; both join sides are aggregation outputs, so
map-side partial aggregation has already compacted them.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_geomodeling_spark.geometry.base import BaseSingle

__all__ = ["NgramPerplexity", "KneserNeyPerplexity"]


class NgramPerplexity(BaseSingle):
    """Bigram-LM self-perplexity per document.

    Fit and score in ONE lazy plan over the same corpus: tokenize
    (lowercased whitespace words), form adjacent bigrams map-side,
    aggregate corpus bigram counts ``c(w1,w2)`` and context counts
    ``c(w1)``, then score every document's bigrams with add-one
    (Laplace) smoothing over the unigram vocabulary ``V``::

        log p(w2 | w1) = ln( (c(w1,w2) + 1) / (c(w1) + V) )
        avg_logprob    = Σ log p / n_bigrams
        perplexity     = exp(-avg_logprob)

    Documents with fewer than 2 tokens carry NULL scores (no bigram
    evidence — mirrors RepeatedSpans' short-doc contract).

    Output: ``<id_column>``, ``n_bigrams``, ``avg_logprob``,
    ``perplexity`` (the floats rounded to ``round_to`` decimals:
    unordered float sums and libm-vs-JVM ``ln``/``exp`` drift sit far
    below 1e-6).
    """

    def __init__(self, source, text_column="text", id_column="doc_id",
                 round_to=6):
        super().__init__(source, text_column, id_column, int(round_to))

    @property
    def columns(self):
        return {self.args[2], "n_bigrams", "avg_logprob", "perplexity"}

    def _build(self, ctx):
        from pyspark import StorageLevel
        _, text_column, id_column, round_to = self.args
        df = self.source._build(ctx)
        # tokenize the corpus ONCE: the token stream feeds the bigram
        # stream AND the vocabulary count, and the bigram stream feeds
        # three consumers (both count tables + the scoring join) — the
        # DSIR persist pattern (dsir.py:195-201; round-7 verdict #2:
        # without it each consumer re-scans and re-tokenizes the
        # corpus, ~4 scans where 1 suffices)
        toks = (df.select(
            F.col(id_column),
            F.split(F.trim(F.lower(F.col(text_column))), r"\s+")
            .alias("_w"))
            .withColumn("_w", F.expr(
                "filter(_w, t -> length(t) > 0)"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        bigrams = toks.select(
            id_column,
            F.explode(F.expr(
                "CASE WHEN size(_w) >= 2 THEN "
                "transform(sequence(1, size(_w) - 1), "
                "i -> struct(_w[i - 1] AS w1, _w[i] AS w2)) "
                "ELSE array() END")).alias("_b")
        ).select(id_column, F.col("_b.w1").alias("w1"),
                 F.col("_b.w2").alias("w2")) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        c_bi = (bigrams.groupBy("w1", "w2")
                .agg(F.count(F.lit(1)).alias("_c2")))
        c_uni = (bigrams.groupBy("w1")
                 .agg(F.count(F.lit(1)).alias("_c1")))
        vocab = (toks.select(F.explode("_w").alias("_t"))
                 .agg(F.countDistinct("_t").alias("_v")))
        scored = (bigrams
                  .join(c_bi, ["w1", "w2"])
                  .join(c_uni, ["w1"])
                  .crossJoin(F.broadcast(vocab))
                  .groupBy(id_column)
                  .agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_bigrams"),
                       F.sum(F.log((F.col("_c2") + 1.0)
                                   / (F.col("_c1") + F.col("_v"))))
                       .alias("_lp")))
        avg = F.col("_lp") / F.col("n_bigrams")
        scored = scored.select(
            id_column, "n_bigrams",
            F.round(avg, round_to).alias("avg_logprob"),
            F.round(F.exp(-avg), round_to).alias("perplexity"))
        return (df.select(id_column).join(scored, id_column, "left"))

class KneserNeyPerplexity(BaseSingle):
    """Interpolated Kneser–Ney bigram perplexity per document — the
    smoothing family KenLM actually ships (Heafield 2011; CCNet scores
    with a KN-smoothed KenLM model), vs :class:`NgramPerplexity`'s
    add-one baseline.

    Absolute discounting with a fixed discount ``D`` interpolated with
    the CONTINUATION distribution::

        P(w2 | w1) = max(c(w1,w2) − D, 0) / c(w1·)
                     + D · N1+(w1,·) / c(w1·) · Pcont(w2)
        Pcont(w2)  = N1+(·,w2) / |bigram types|

    where ``c(w1·)`` is the context's bigram-occurrence count,
    ``N1+(w1,·)`` its distinct continuation count, and ``N1+(·,w2)``
    the distinct contexts preceding ``w2``.  Σ_w2 P(w2|w1) = 1 for
    every seen context (pinned by a pytest).  The corpus is scored
    with the model fit on it, so every scored bigram is seen; a
    bigram absent from the model (reachable only if the scoring
    stream differed from the fit stream) would get probability 0.0,
    not a ``Pcont`` backoff — its one left join onto the model table
    misses ``N1+(·,w2)`` too.

    Same Spark shape as NgramPerplexity: the model is one count
    table keyed (w1, w2), joined once onto the per-document bigram
    stream —
    nothing vocabulary-sized reaches the driver; the bigram-type
    total rides a broadcast one-row frame.  Documents with < 2 tokens
    score NULL.

    Output: ``<id_column>``, ``n_bigrams``, ``avg_logprob``,
    ``perplexity`` (rounded to ``round_to``).
    """

    def __init__(self, source, text_column="text", id_column="doc_id",
                 discount=0.75, round_to=6):
        d = float(discount)
        if not (0.0 < d < 1.0):
            raise ValueError("discount must be in (0, 1)")
        super().__init__(source, text_column, id_column, d,
                         int(round_to))

    @property
    def columns(self):
        return {self.args[2], "n_bigrams", "avg_logprob", "perplexity"}

    def _build(self, ctx):
        from pyspark import StorageLevel
        _, text_column, id_column, d, round_to = self.args
        df = self.source._build(ctx)
        toks = (df.select(
            F.col(id_column),
            F.split(F.trim(F.lower(F.col(text_column))), r"\s+")
            .alias("_w"))
            .withColumn("_w", F.expr(
                "filter(_w, t -> length(t) > 0)")))
        # the bigram stream feeds FOUR count tables plus the scoring
        # join — persist it once (the DSIR pattern, dsir.py:195-201;
        # round-7 verdict #2: the unpersisted stream re-tokenized the
        # corpus ~5x)
        bigrams = toks.select(
            id_column,
            F.explode(F.expr(
                "CASE WHEN size(_w) >= 2 THEN "
                "transform(sequence(1, size(_w) - 1), "
                "i -> struct(_w[i - 1] AS w1, _w[i] AS w2)) "
                "ELSE array() END")).alias("_b")
        ).select(id_column, F.col("_b.w1").alias("w1"),
                 F.col("_b.w2").alias("w2")) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        # r16 (guide §2.1/§2.4): every model table is EXACTLY derivable
        # from the bigram-TYPE count table — ctxt's occurrence count is
        # sum(_c2) per w1, its distinct-continuation count is the row
        # count per w1 (c_bi has one row per (w1, w2) type), cont's
        # distinct-context count is the row count per w2, and the
        # bigram-type total is c_bi's row count.  Previously ctxt /
        # cont / types each re-aggregated the DATA-sized bigram stream
        # and the scoring side joined the three tables one by one
        # (three more data-sized shuffles); now one persisted c_bi
        # feeds three MODEL-sized aggregations, they merge into one
        # model table keyed (w1, w2), and the occurrence stream joins
        # it ONCE.  Data-sized shuffles: ~7 -> 3 (type count, scoring
        # join, per-doc aggregation); identical integer arithmetic.
        # no persist on c_bi: its exchange subtree is byte-identical
        # across the three derived aggregations and the model join, so
        # Spark's ReusedExchange dedupes the data-sized shuffle within
        # the one query; a cache here would only add storage traffic
        c_bi = (bigrams.groupBy("w1", "w2")
                .agg(F.count(F.lit(1)).alias("_c2")))
        ctxt = (c_bi.groupBy("w1")
                .agg(F.sum("_c2").alias("_c1"),
                     F.count(F.lit(1)).alias("_n1f")))
        cont = (c_bi.groupBy("w2")
                .agg(F.count(F.lit(1)).alias("_n1b")))
        types = c_bi.agg(F.count(F.lit(1)).alias("_t"))
        model = (c_bi.join(ctxt, ["w1"])
                 .join(cont, ["w2"])
                 .crossJoin(F.broadcast(types)))
        pcont = F.col("_n1b") / F.col("_t")
        p = (F.greatest(F.col("_c2") - F.lit(d), F.lit(0.0))
             / F.col("_c1")
             + F.lit(d) * F.col("_n1f") / F.col("_c1") * pcont)
        # the left join's unseen-pair branch is unreachable here (the
        # scoring stream IS the fit stream, so every pair is in c_bi);
        # kept verbatim so the expression tree — and any future
        # score-foreign-corpus refactor — stays byte-compatible for
        # the seen branch
        scored = (bigrams
                  .join(model, ["w1", "w2"], "left")
                  .select(id_column,
                          F.when(F.col("_c1").isNotNull(), p)
                          .otherwise(F.coalesce(pcont, F.lit(0.0)))
                          .alias("_p"))
                  .groupBy(id_column)
                  .agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_bigrams"),
                       F.sum(F.log(F.col("_p"))).alias("_lp")))
        avg = F.col("_lp") / F.col("n_bigrams")
        scored = scored.select(
            id_column, "n_bigrams",
            F.round(avg, round_to).alias("avg_logprob"),
            F.round(F.exp(-avg), round_to).alias("perplexity"))
        return (df.select(id_column).join(scored, id_column, "left"))


class CCNetBuckets(BaseSingle):
    """CCNet-style head/middle/tail perplexity bucketing (Wenzek et
    al. 2020 — the public CCNet recipe; no reference analogue): fit
    an interpolated Kneser-Ney bigram LM on the corpus, score every
    document, and split the scored corpus into ``len(buckets)``
    equal-frequency buckets in ascending perplexity order — ``head``
    is the most-fluent third, ``tail`` the noisiest.  CCNet buckets
    per language; compose with ``LanguageID`` + a filter upstream for
    the per-language variant.

    Spark shape: the KN fit/score is the
    :class:`KneserNeyPerplexity` plan (model-as-DataFrame, one
    persisted bigram pass); bucket assignment is the two-phase
    distributed NTILE (functions/ranking.py) — a range repartition +
    one per-partition count aggregation, never a single-partition
    global window.  With ``by`` (CCNet buckets per LANGUAGE) the
    split is equal-frequency WITHIN each ``by`` group via the
    grouped variant (one global rank + one row-per-group stats
    join — still windowless, and the fit stays corpus-global).
    Ties break on the id column over the ROUND(round_to) scores, so
    the assignment is deterministic and engine-reproducible.
    Documents with < 2 tokens (NULL perplexity) take a NULL bucket.

    Output: ``<id_column>``, [``<by>``,] ``n_bigrams``,
    ``avg_logprob``, ``perplexity``, ``bucket``.
    """

    def __init__(self, source, text_column="text", id_column="doc_id",
                 buckets=("head", "middle", "tail"), discount=0.75,
                 round_to=6, by=None):
        labels = tuple(str(b) for b in buckets)
        if not labels:
            raise ValueError("buckets must be a non-empty sequence "
                             "of labels")
        if by in ("bucket", "n_bigrams", "avg_logprob", "perplexity"):
            raise ValueError(
                "by={!r} collides with CCNetBuckets' output columns"
                .format(by))
        super().__init__(
            KneserNeyPerplexity(source, text_column, id_column,
                                discount, round_to),
            id_column, labels, by)

    @property
    def columns(self):
        cols = {self.args[1], "n_bigrams", "avg_logprob",
                "perplexity", "bucket"}
        if self.args[3]:
            cols.add(self.args[3])
        return cols

    def _build(self, ctx):
        from pyspark import StorageLevel

        from dask_geomodeling_spark.functions.ranking import (
            distributed_group_ntile, distributed_ntile)
        _, id_column, labels, by = self.args
        scored = self.source._build(ctx)
        if by:
            cats = (self.source.source._build(ctx)
                    .select(id_column, by))
            scored = scored.join(cats, id_column)
        # the scored frame feeds BOTH the ntile branch and the
        # NULL-perplexity passthrough — persist it so the KN scoring
        # joins run once (the DSIR/KN persist pattern)
        scored = scored.persist(StorageLevel.MEMORY_AND_DISK)
        nonnull = scored.where(F.col("perplexity").isNotNull())
        nulls = (scored.where(F.col("perplexity").isNull())
                 .withColumn("bucket", F.lit(None).cast("string")))
        if by:
            tiled = distributed_group_ntile(
                nonnull, [by], ["perplexity", id_column],
                len(labels), out="_nt")
        else:
            tiled = distributed_ntile(
                nonnull, ["perplexity", id_column], len(labels),
                out="_nt")
        lab = F.element_at(
            F.array(*[F.lit(x) for x in labels]),
            F.col("_nt").cast("int"))
        return (tiled.withColumn("bucket", lab).drop("_nt")
                .unionByName(nulls))
