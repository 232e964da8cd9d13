"""DSIR — Data Selection via Importance Resampling (SURVEY.md §2
'LLM-data-pipeline extensions').

Published method (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling"): score each raw document by how much more
likely its hashed-n-gram features are under a TARGET corpus'
bag-of-ngrams distribution than under the raw corpus' own, then keep
the highest-weight documents.  The standard recipe — unigram+bigram
features hashed into a fixed bucket vocabulary, add-one smoothing,
log-likelihood-ratio weights — is pure counting, so the whole fit and
score is one declarative Spark plan:

  1. map-side: per-doc word unigrams + bigrams (the dedup regex gram
     builder), each hashed into ``num_buckets`` with the shared
     31-bit rolling polynomial hash (engine-exact arithmetic);
  2. two bucket-count aggregations (<= num_buckets rows each — the
     "model" is a tiny DataFrame, nothing corpus-sized reaches the
     driver);
  3. the per-bucket log ratio joins back onto the raw grams by
     BROADCAST (the weight table is num_buckets rows), one groupBy
     per doc sums it.

At 100 TB the only shuffles are the two bounded-key (<= num_buckets)
count aggregations and the per-doc sum (map-side partials on both);
the model join is broadcast; selection with ``top_k`` is Spark's
TakeOrdered (per-partition top-k + driver merge of k rows — no global
sort shuffle).

No reference analogue (the reference is a geoscience engine); the
recipe follows the public paper.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_geomodeling_spark.config import read_parquet
from dask_geomodeling_spark.geometry.base import (BaseSingle,
                                                  GeometryBlock)
from dask_geomodeling_spark.pipeline.dedup import (MERSENNE,
                                                   poly_hash_expr)

__all__ = ["DSIRSelect", "DSIRScore", "fit_dsir_model",
           "save_dsir_model", "load_dsir_model"]


def fit_dsir_model(raw_df, target_df, column="text",
                   num_buckets=10007, raw_buckets=None):
    """The DSIR model as a DataFrame: one ``(_bk, _lw)`` row per
    OBSERVED feature bucket (<= num_buckets) plus the sentinel row
    ``_bk = -1`` carrying the unseen-bucket default
    ``ln(1/(T+B)) - ln(1/(R+B))`` — scoring a future corpus meets
    buckets the fit never saw, and those take the zero-count weight,
    not zero.  Two bounded bucket-count aggregations; nothing
    corpus-sized reaches the driver.

    ``raw_buckets``: optional pre-built exploded ``_bk`` stream of the
    raw corpus (one row per feature occurrence) — pass it when the
    caller also scores against the same stream so the corpus is
    hashed once, not once per consumer (DSIRSelect persists it)."""
    B = float(int(num_buckets))

    def bucket_counts(df, cname, pre=None):
        if pre is None:
            g = DSIRSelect._buckets(df, column, num_buckets)
            pre = g.select(F.explode("_b").alias("_bk"))
        return (pre.select("_bk").groupBy("_bk")
                .agg(F.count(F.lit(1)).alias(cname)))

    ct = bucket_counts(target_df, "_ct")
    cr = bucket_counts(raw_df, "_cr", pre=raw_buckets)
    # the 1-row totals frame feeds both the weight rows and the
    # sentinel; a lazy checkpoint stops the corpus-scanning count
    # aggregations underneath it from evaluating twice
    tot = (ct.agg(F.sum("_ct").alias("_t"))
           .crossJoin(cr.agg(F.sum("_cr").alias("_r")))
           .localCheckpoint(eager=False))
    wt = (ct.join(cr, "_bk", "full")
          .na.fill({"_ct": 0, "_cr": 0})
          .crossJoin(F.broadcast(tot))
          .select(
              "_bk",
              (F.log((F.col("_ct") + 1.0) / (F.col("_t") + B))
               - F.log((F.col("_cr") + 1.0) / (F.col("_r") + B)))
              .alias("_lw")))
    default = tot.select(
        F.lit(-1).cast("bigint").alias("_bk"),
        (F.log(1.0 / (F.col("_t") + B))
         - F.log(1.0 / (F.col("_r") + B))).alias("_lw"))
    return wt.unionByName(default)


def save_dsir_model(df, url):
    """Persist a fit_dsir_model frame (tiny — <= num_buckets+1 rows)."""
    df.coalesce(1).write.mode("overwrite").parquet(url)


def load_dsir_model(spark, url):
    return read_parquet(spark, url)


class DSIRSelect(GeometryBlock):
    """Importance-resampling data selection against a target corpus.

    Parameters
    ----------
    source : GeometryBlock
        The RAW corpus to select from.
    target_source : GeometryBlock
        The (typically much smaller) target-domain corpus whose
        feature distribution defines "good" data.
    column, id_column : str
        Text / id columns (id defaults to the source's index).
    num_buckets : int
        Hashed feature vocabulary size (paper default 10**4; a prime
        spreads the polynomial hash better).
    top_k : int or None
        If set, return only the ``top_k`` highest-weight documents
        (deterministic: ties broken by ascending id).  ``None``
        returns every raw document with its weight.
    round_to : int
        Decimals kept on ``logweight`` — pins cross-engine libm/JVM
        ``ln`` and float-sum-order drift (both < 1e-9 per doc) so the
        ranking and output are engine-exact.

    Output: ``<id_column>``, ``n_grams`` (feature occurrences in the
    doc), ``logweight`` (sum of per-bucket log-likelihood ratios,
    add-one smoothed).  Documents with no words carry ``n_grams = 0``
    and NULL ``logweight`` (no evidence), and never enter ``top_k``.
    """

    def __init__(self, source, target_source, column="text",
                 id_column=None, num_buckets=10007, top_k=None,
                 round_to=6):
        if not isinstance(source, GeometryBlock) \
                or not isinstance(target_source, GeometryBlock):
            raise TypeError("sources must be GeometryBlocks")
        if id_column is None:
            id_column = source.index_column
        if int(num_buckets) < 2:
            raise ValueError("num_buckets must be >= 2")
        if top_k is not None and int(top_k) < 1:
            raise ValueError("top_k must be >= 1 (or None)")
        super().__init__(source, target_source, column, id_column,
                         int(num_buckets),
                         None if top_k is None else int(top_k),
                         int(round_to))

    @property
    def source(self):
        return self.args[0]

    @property
    def columns(self):
        return {self.args[3], "n_grams", "logweight"}

    @staticmethod
    def _buckets(df, column, num_buckets):
        """Per-doc array of feature buckets: unigram + bigram word
        grams (occurrences, not distinct — the paper's bag model).
        Each WORD poly-hashes once and a bigram folds the two word
        hashes with MinHashLSH's base-8191 scheme — every character
        is hashed exactly once per scan (hashing the joined bigram
        strings re-reads each character three times).  A one-word doc
        contributes its word as both features (the shingle fallback
        convention); a wordless doc has NO features, so it scores
        NULL instead of outranking weakly-on-target real docs under
        bag smoothing.  Pure map-side."""
        m = int(num_buckets)
        words = ("filter(split(regexp_replace(trim(lower({c})), "
                 "'\\\\s+', ' '), ' '), w -> w <> '')".format(c=column))
        wh = "transform({w}, t -> {h})".format(w=words,
                                               h=poly_hash_expr("t"))
        # LET-bind the word-hash array as a lambda variable: as a
        # plain column, projection collapse would substitute the whole
        # hashing chain into the bigram lambda's element_at calls and
        # re-hash every word once per bigram INDEX (O(words^2) per doc)
        buckets = (
            "element_at(transform(array({wh}), wh -> "
            "concat(transform(wh, h -> pmod(h, {m})), "
            "CASE WHEN size(wh) >= 2 THEN "
            "transform(sequence(1, size(wh) - 1), i -> "
            "pmod(pmod(element_at(wh, i) * 8191 "
            "+ element_at(wh, i + 1), {M}), {m})) "
            "WHEN size(wh) = 1 THEN array(pmod(element_at(wh, 1), "
            "{m})) ELSE cast(array() as array<bigint>) END)), 1)"
            .format(wh=wh, m=m, M=MERSENNE))
        return df.withColumn("_b", F.expr(buckets))

    def _build(self, ctx):
        (raw_b, tgt_b, column, idc, num_buckets, top_k,
         round_to) = self.args
        raw = raw_b._build(ctx)
        tgt = tgt_b._build(ctx)
        # hash the raw corpus ONCE: the exploded gram stream feeds
        # both the fit's bucket counts and the scoring join, persisted
        # like the LSH signature table (the 100 TB analogue is an
        # explicit materialization of the feature stream)
        from pyspark import StorageLevel
        doc_b = (self._buckets(raw, column, num_buckets)
                 .select(F.col(idc), F.explode("_b").alias("_bk"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
        wt = fit_dsir_model(raw, tgt, column=column,
                            num_buckets=num_buckets,
                            raw_buckets=doc_b)
        scored = (doc_b.join(F.broadcast(wt), "_bk")
                  .groupBy(idc)
                  .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                       F.round(F.sum("_lw"), round_to)
                       .alias("logweight")))
        out = (raw.select(idc).join(scored, idc, "left")
               .na.fill({"n_grams": 0}))
        if top_k is not None:
            out = (out.where(F.col("logweight").isNotNull())
                   .orderBy(F.col("logweight").desc(), F.col(idc))
                   .limit(top_k))
        return out


class DSIRScore(BaseSingle):
    """Score documents against a SAVED DSIR model — the fit-once /
    score-many operating mode (and the stream-safe one).

    ``model_url`` points at a :func:`save_dsir_model` table.  At build
    time the <= num_buckets+1 rows collect to the driver and inline as
    a LITERAL map, so scoring is pure map-side column math — per row:
    feature buckets (the shared word-hash-fold build), a
    ``try_element_at`` map lookup per gram with the model's sentinel
    default for buckets the fit never saw, and one in-row fold.  No
    join, no aggregation over the corpus: the identical plan runs
    under ``readStream`` for on-ingest selection scoring.

    Output: source id column + ``n_grams`` + ``logweight`` (NULL for
    wordless docs, matching :class:`DSIRSelect`).
    """

    def __init__(self, source, model_url, column="text",
                 id_column=None, num_buckets=10007, round_to=6):
        if id_column is None:
            id_column = source.index_column
        super().__init__(source, str(model_url), column, id_column,
                         int(num_buckets), int(round_to))

    @property
    def columns(self):
        return {self.args[3], "n_grams", "logweight"}

    def _build(self, ctx):
        _, url, column, idc, num_buckets, round_to = self.args
        rows = load_dsir_model(ctx.spark, url).collect()
        weights = {int(r["_bk"]): float(r["_lw"]) for r in rows}
        default = weights.pop(-1, 0.0)
        keys = sorted(weights)
        model = F.map_from_arrays(
            F.lit(keys).cast("array<bigint>"),
            F.lit([weights[k] for k in keys]).cast("array<double>"))
        df = DSIRSelect._buckets(self.source._build(ctx), column,
                                 num_buckets)
        lw = F.aggregate(
            F.transform("_b", lambda b: F.coalesce(
                F.try_element_at(model, b),
                F.lit(default).cast("double"))),
            F.lit(0.0).cast("double"), lambda a, p: a + p)
        return df.select(
            F.col(idc),
            F.size("_b").cast("bigint").alias("n_grams"),
            F.when(F.size("_b") > 0, F.round(lw, round_to))
            .alias("logweight"))
