"""Similarity search over embedding columns (SURVEY.md §2
'LLM-data-pipeline extensions').

``CosineTopK`` is the exact baseline: broadcast the (small) query set,
compute cosine with JVM-side higher-order functions (``zip_with`` +
``aggregate`` — no Python in the scan), take top-k per query with one
window.  ``BucketedANN`` is the scale path: deterministic random-
hyperplane buckets shrink the candidate set; the bucketing constants are
plain literals, so results are reproducible on any engine.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_geomodeling_spark.config import read_parquet
from dask_geomodeling_spark.geometry.base import BaseSingle

__all__ = ["CosineTopK", "BucketedANN", "KMeansIVF", "IVFPQ",
           "RandomProjection", "EmbeddingNormalize",
           "MatryoshkaSlice", "KNNClassify",
           "ProductQuantizerANN", "cosine_expr", "hyperplane_bucket",
           "learn_centroids", "learn_codebooks", "assign_clusters_join",
           "nearest_centroid_expr", "probe_centroids_expr",
           "hyperplanes", "fit_sample", "save_centroids",
           "load_centroids"]


def dot_expr(a, b):
    """Sequential-fold dot product of two array<float> columns — inside
    codegen, deterministic summation order."""
    return F.expr(
        "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * y), "
        "cast(0.0 as double), (acc, v) -> acc + v)".format(a=a, b=b))


def norm_sql(a):
    """SQL text: Euclidean norm of an array<float> column (same fold
    order as the corresponding dot product)."""
    return ("sqrt(aggregate({a}, cast(0.0 as double), "
            "(acc, v) -> acc + cast(v as double) * v))".format(a=a))


def norm_expr(a):
    """Euclidean norm of an array<float> column (same fold order as the
    corresponding dot product)."""
    return F.expr(norm_sql(a))


def cosine_expr(a, b):
    """Exact cosine similarity of two array<float> columns — zip_with dot
    product + norms, all inside codegen."""
    return dot_expr(a, b) / F.nullif(norm_expr(a) * norm_expr(b),
                                     F.lit(0.0))


def hyperplanes(dim, n_planes, seed=7):
    """Deterministic pseudo-random hyperplane matrix as python lists."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(n_planes)]


def hyperplane_bucket(vec_col, dim, n_planes, seed=7):
    """Sign-bit bucket id of a vector against deterministic hyperplanes."""
    planes = hyperplanes(dim, n_planes, seed)
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        arr = "array({})".format(
            ",".join("cast({!r} as double)".format(w) for w in plane))
        dot = F.expr(
            "aggregate(zip_with({v}, {p}, (x, y) -> cast(x as double) * y), "
            "cast(0.0 as double), (acc, v) -> acc + v)"
            .format(v=vec_col, p=arr))
        bucket = bucket + F.when(dot >= 0,
                                 F.lit(1 << i).cast("bigint")).otherwise(0)
    return bucket


class CosineTopK(BaseSingle):
    """Exact top-k nearest neighbours by cosine.

    Args:
      source: block over the corpus embeddings table.
      queries: block over the query embeddings (small side — broadcast).
      k: neighbours per query.
      vec/id columns configurable; query ids excluded from their own
      result.  Output: ``query_id``, ``neighbor_id``, ``cosine``, ``rank``.
    """

    def __init__(self, source, queries, k=10, vec_column="embedding",
                 id_column="vec_id", precision=None):
        super().__init__(source, queries, int(k), vec_column, id_column,
                         precision)

    @property
    def columns(self):
        return {"query_id", "neighbor_id", "cosine", "rank"}

    def _build(self, ctx):
        _, queries, k, vec_column, id_column, precision = self.args
        # norms hoisted: one fold per VECTOR, not three folds per PAIR
        corpus = self.source._build(ctx).select(
            F.col(id_column).alias("neighbor_id"),
            F.col(vec_column).alias("_cv"),
            norm_expr(vec_column).alias("_cn"))
        qs = queries._build(ctx).select(
            F.col(id_column).alias("query_id"),
            F.col(vec_column).alias("_qv"),
            norm_expr(vec_column).alias("_qn"))
        joined = corpus.join(F.broadcast(qs),
                             F.col("query_id") != F.col("neighbor_id"))
        cos = dot_expr("_qv", "_cv") / F.nullif(
            F.col("_qn") * F.col("_cn"), F.lit(0.0))
        if precision is not None:
            # round-then-rank: ranking ties broken by neighbor_id become
            # deterministic across engines/runs (last-ulp-stable)
            cos = F.round(cos, int(precision))
        scored = joined.select("query_id", "neighbor_id",
                               cos.alias("cosine"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))


class BucketedANN(BaseSingle):
    """Approximate top-k: candidates restricted to the query's
    hyperplane bucket (IVF/LSH-style).  Same output shape as CosineTopK;
    recall trades off with ``n_planes``.  ``probes`` > 0 additionally
    searches the buckets at Hamming distance 1 on that many sign bits
    (multi-probe LSH): recall rises without re-hashing the corpus.  At
    100 TB the bucket join key replaces the cross product — candidates
    shrink by ~2^n_planes / (1 + probes)."""

    def __init__(self, source, queries, k=10, vec_column="embedding",
                 id_column="vec_id", n_planes=4, dim=None, precision=None,
                 probes=0):
        if dim is None:
            raise ValueError("dim (embedding dimension) is required")
        if not 0 <= int(probes) <= int(n_planes):
            raise ValueError("probes must be in [0, n_planes]")
        super().__init__(source, queries, int(k), vec_column, id_column,
                         int(n_planes), int(dim), precision, int(probes))

    @property
    def columns(self):
        return {"query_id", "neighbor_id", "cosine", "rank"}

    def _build(self, ctx):
        (_, queries, k, vec_column, id_column, n_planes, dim,
         precision, probes) = self.args
        bucket = hyperplane_bucket("_cv", dim, n_planes)
        corpus = (self.source._build(ctx)
                  .select(F.col(id_column).alias("neighbor_id"),
                          F.col(vec_column).alias("_cv"),
                          norm_expr(vec_column).alias("_cn"))
                  .withColumn("_bk", bucket))
        qbucket = hyperplane_bucket("_qv", dim, n_planes)
        qs = (queries._build(ctx)
              .select(F.col(id_column).alias("query_id"),
                      F.col(vec_column).alias("_qv"),
                      norm_expr(vec_column).alias("_qn"))
              .withColumn("_qbk0", qbucket))
        # multi-probe: also search every bucket at Hamming distance 1
        # on the first `probes` sign bits — the LSH recall knob; the
        # probe list explodes map-side, the join key stays the bucket
        probe_cols = [F.col("_qbk0")] + [
            F.expr("_qbk0 ^ {}".format(1 << b)) for b in range(probes)]
        qs = (qs.withColumn("_qbk", F.explode(F.array(*probe_cols)))
              .drop("_qbk0"))
        joined = corpus.join(F.broadcast(qs),
                             (F.col("_bk") == F.col("_qbk"))
                             & (F.col("query_id") != F.col("neighbor_id")))
        cos = dot_expr("_qv", "_cv") / F.nullif(
            F.col("_qn") * F.col("_cn"), F.lit(0.0))
        if precision is not None:
            cos = F.round(cos, int(precision))
        scored = joined.select("query_id", "neighbor_id",
                               cos.alias("cosine"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))


def _lit_vec(values):
    """array<double> literal from python floats (repr round-trips)."""
    return "array({})".format(
        ",".join("cast({!r} as double)".format(float(x)) for x in values))


def _sqdist_expr(vec_col, centroid):
    """Squared L2 distance of an array<float> column to a python-list
    centroid — sequential fold, (a-b)*(a-b) (no pow: multiplication is
    the form DuckDB reproduces bit-for-bit)."""
    return F.expr(
        "aggregate(zip_with({v}, {c}, (x, y) -> "
        "(cast(x as double) - y) * (cast(x as double) - y)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
        .format(v=vec_col, c=_lit_vec(centroid)))


def nearest_centroid_expr(vec_col, centroids):
    """Cluster id of the nearest centroid (ties → smallest id): struct
    array-min over (distance, id) — all JVM-side, broadcastable model."""
    structs = [F.struct(_sqdist_expr(vec_col, c).alias("d"),
                        F.lit(cid).alias("c"))
               for cid, c in enumerate(centroids)]
    return F.array_min(F.array(*structs))["c"]


def probe_centroids_expr(vec_col, centroids, nprobe):
    """Ids of the ``nprobe`` nearest centroids (distance then id order)
    — array-sort over (distance, id) structs, sliced; the multi-probe
    generalization of ``nearest_centroid_expr``."""
    structs = [F.struct(_sqdist_expr(vec_col, c).alias("d"),
                        F.lit(cid).alias("c"))
               for cid, c in enumerate(centroids)]
    ranked = F.slice(F.array_sort(F.array(*structs)), 1, int(nprobe))
    return F.transform(ranked, lambda s: s["c"])


#: deterministic fit-sample hash constants (shared with SourceMix)
_FIT_PRIME = 2654435761
_FIT_MOD = (1 << 31) - 1


def fit_sample(df, id_column, fraction):
    """Deterministic hash-Bernoulli sample for model FITS: a row joins
    the fit set iff ``(id·PRIME) mod (2³¹−1) < fraction·(2³¹−1)`` —
    pure id arithmetic, so reruns, engines and any parallelism draw
    the identical sample.  ``fraction=1`` is the identity.  This is
    the 100 TB fit contract: iterative fits (k-means, PQ codebooks,
    PCA) run on the sample, assignment/search/projection stay
    full-corpus."""
    fraction = float(fraction)
    if not 0.0 < fraction <= 1.0:
        raise ValueError("fit fraction must be in (0, 1]")
    if fraction >= 1.0:
        return df
    return df.filter(
        F.pmod(F.col(id_column).cast("bigint") * _FIT_PRIME,
               F.lit(_FIT_MOD)) < int(fraction * _FIT_MOD))


def save_centroids(spark, cents, url):
    """Persist a fitted centroid/codebook matrix as a tiny parquet
    table ``(cid int, centroid array<double>)`` — the fit-once /
    search-many workflow: at 100 TB the fit is its own job and every
    search job reloads the model instead of refitting."""
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cid int, centroid array<double>").coalesce(1) \
        .write.mode("overwrite").parquet(url)
    return url


def load_centroids(spark, url):
    """Inverse of :func:`save_centroids` — returns plain python lists
    ordered by cid (only k×dim values reach the driver)."""
    rows = read_parquet(spark, url).orderBy("cid").collect()
    return [[float(x) for x in r["centroid"]] for r in rows]


def learn_centroids(df, k, iters, vec_column="embedding",
                    id_column="vec_id", scale=8):
    """Lloyd's k-means with deterministic everything: init = the
    embeddings of the ``k`` smallest ids, assignment = argmin squared
    L2 (ties → smallest cluster id), update = per-dimension DECIMAL
    mean (order-exact), empty cluster keeps its previous centroid.

    MLlib-shaped execution: each iteration is one distributed job
    (posexplode → (cluster, dim) partial sums combine map-side); only
    the k×dim centroid matrix ever reaches the driver, and it returns
    as plain python lists — a literal, broadcast-by-construction model.
    At 100 TB run the same loop on a sample; the assignment pass stays
    full-scale and shuffle-free (centroids ride the closure).
    """
    rows = (df.orderBy(id_column).limit(int(k))
            .select(vec_column).collect())
    cents = [[float(x) for x in r[0]] for r in rows]
    dec = "decimal(28,{})".format(int(scale))
    for _ in range(int(iters)):
        cid = nearest_centroid_expr(vec_column, cents)
        means = (df.select(cid.alias("_cid"), F.col(vec_column))
                 .select("_cid", F.posexplode(F.col(vec_column))
                         .alias("_pos", "_val"))
                 .groupBy("_cid", "_pos")
                 .agg((F.sum(F.col("_val").cast("double").cast(dec))
                       .cast("double") / F.count(F.lit(1))).alias("_m"))
                 .collect())
        by_cid = {}
        for r in means:
            by_cid.setdefault(r["_cid"], {})[r["_pos"]] = r["_m"]
        cents = [
            [by_cid[c][p] for p in range(len(cents[c]))]
            if c in by_cid else cents[c]
            for c in range(len(cents))]
    return cents


def assign_clusters_join(df, cents, vec_column, id_column, extra=()):
    """Nearest-centroid assignment via a BROADCAST JOIN instead of a
    literal expression: the k×dim centroid matrix becomes a k-row
    DataFrame broadcast to every task; each input row expands against
    it map-side and collapses to its argmin cluster in the partial
    aggregation — one shuffled row per input row, never k.

    Same (distance, id)-ascending tie-break as
    ``nearest_centroid_expr``; use this path when k is large enough
    that embedding k×dim literals would blow up the plan (k ≳ 4096 —
    Catalyst re-serializes the expression tree per task otherwise)."""
    spark = df.sparkSession
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "_jcid int, _centroid array<double>")
    dist = F.expr(
        "aggregate(zip_with({v}, _centroid, (x, y) -> "
        "(cast(x as double) - y) * (cast(x as double) - y)), "
        "cast(0.0 as double), (acc, v) -> acc + v)".format(v=vec_column))
    expanded = df.join(F.broadcast(cents_df))
    aggs = [F.min_by("_jcid", F.struct(dist.alias("d"),
                                       F.col("_jcid"))).alias("_cid"),
            F.first(vec_column).alias(vec_column)]
    aggs += [F.first(c).alias(c) for c in extra]
    return expanded.groupBy(id_column).agg(*aggs)


def learn_codebooks(subs, m, codes, iters, id_column="vec_id", scale=8):
    """Fit ``m`` per-subspace k-means codebooks in ONE distributed job
    per Lloyd iteration (instead of ``m`` independent fits): the input
    frame carries columns ``_sub0.._sub{m-1}``; each iteration explodes
    an (subspace, cluster, sub-vector) struct array and computes every
    subspace's per-(cluster, dim) DECIMAL mean in a single shuffle.
    Bit-identical to ``m`` separate ``learn_centroids`` runs — decimal
    sums are order-exact, the grouping just gains a subspace key — at
    1/m the job count and one scan per iteration over a (persisted)
    frame instead of m."""
    rows = (subs.orderBy(id_column).limit(int(codes))
            .select(*["_sub{}".format(s) for s in range(m)]).collect())
    books = [[[float(x) for x in r["_sub{}".format(s)]] for r in rows]
             for s in range(m)]
    dec = "decimal(28,{})".format(int(scale))
    for _ in range(int(iters)):
        structs = F.array(*[
            F.struct(F.lit(s).alias("_s"),
                     nearest_centroid_expr("_sub{}".format(s), books[s])
                     .alias("_cid"),
                     F.col("_sub{}".format(s)).alias("_sub"))
            for s in range(m)])
        means = (subs.select(F.explode(structs).alias("_e"))
                 .select(F.col("_e._s").alias("_s"),
                         F.col("_e._cid").alias("_cid"),
                         F.posexplode("_e._sub").alias("_pos", "_val"))
                 .groupBy("_s", "_cid", "_pos")
                 .agg((F.sum(F.col("_val").cast("double").cast(dec))
                       .cast("double") / F.count(F.lit(1))).alias("_m"))
                 .collect())
        by_key = {}
        for r in means:
            by_key.setdefault((r["_s"], r["_cid"]), {})[r["_pos"]] = r["_m"]
        books = [
            [[by_key[(s, c)][p] for p in range(len(books[s][c]))]
             if (s, c) in by_key else books[s][c]
             for c in range(len(books[s]))]
            for s in range(m)]
    return books


class KMeansIVF(BaseSingle):
    """IVF index with LEARNED centroids (k-means) + probe-1 search.

    Build: ``learn_centroids`` fits ``clusters`` centroids in ``iters``
    Lloyd iterations; corpus rows are assigned to their nearest
    centroid (the inverted-file key).  Search: each query probes its
    ``nprobe`` nearest clusters (recall grows with nprobe, candidate
    count stays clusters/nprobe-bounded), exact cosine top-k within —
    same output shape as CosineTopK/BucketedANN.

    Scale path (SURVEY §6): the corpus assignment is a narrow
    projection (centroid literals ride the task closure — no join, no
    shuffle); writing the index bucketed by cluster id makes the probe
    a partition-pruned scan; queries shuffle nothing (broadcast).
    """

    #: deterministic fit-sample hash constants (shared with SourceMix)
    _PRIME = 2654435761
    _MOD = (1 << 31) - 1

    def __init__(self, source, queries, k=5, clusters=4, iters=2,
                 vec_column="embedding", id_column="vec_id",
                 precision=None, nprobe=1, assign="literal",
                 fit_fraction=1.0, centroids=None):
        if assign not in ("literal", "join"):
            raise ValueError("assign must be 'literal' or 'join'")
        fit_fraction = float(fit_fraction)
        if not 0.0 < fit_fraction <= 1.0:
            raise ValueError("fit_fraction must be in (0, 1]")
        super().__init__(source, queries, int(k), int(clusters),
                         int(iters), vec_column, id_column, precision,
                         int(nprobe), assign, fit_fraction, centroids)

    @property
    def columns(self):
        return {"query_id", "neighbor_id", "cosine", "rank"}

    def _build(self, ctx):
        (_, queries, k, clusters, iters, vec_column, id_column,
         precision, nprobe, assign, fit_fraction, centroids) = self.args
        # persisted across the iterative fit AND the search scan — the
        # fit alone re-reads the frame iters+1 times
        base = (self.source._build(ctx).select(id_column, vec_column)
                .persist())
        if centroids is not None:
            # fit-once / search-many: a saved model (parquet path from
            # save_centroids, or an in-memory matrix) skips the fit
            cents = (load_centroids(ctx.spark, centroids)
                     if isinstance(centroids, str)
                     else [[float(x) for x in c] for c in centroids])
        else:
            cents = learn_centroids(
                fit_sample(base, id_column, fit_fraction), clusters,
                iters, vec_column, id_column)
        if assign == "join":
            # broadcast-join assignment: the scale path once k×dim
            # literals would bloat the plan (docstring of
            # assign_clusters_join); queries stay literal (tiny side)
            corpus = assign_clusters_join(
                base, cents, vec_column, id_column).select(
                F.col(id_column).alias("neighbor_id"),
                F.col(vec_column).alias("_cv"),
                norm_expr(vec_column).alias("_cn"),
                F.col("_cid"))
        else:
            cid = nearest_centroid_expr(vec_column, cents)
            corpus = base.select(
                F.col(id_column).alias("neighbor_id"),
                F.col(vec_column).alias("_cv"),
                norm_expr(vec_column).alias("_cn"),
                cid.alias("_cid"))
        qs = queries._build(ctx).select(
            F.col(id_column).alias("query_id"),
            F.col(vec_column).alias("_qv"),
            norm_expr(vec_column).alias("_qn"),
            F.explode(probe_centroids_expr(vec_column, cents, nprobe))
             .alias("_qcid"))
        joined = corpus.join(
            F.broadcast(qs),
            (F.col("_cid") == F.col("_qcid"))
            & (F.col("query_id") != F.col("neighbor_id")))
        cos = dot_expr("_qv", "_cv") / F.nullif(
            F.col("_qn") * F.col("_cn"), F.lit(0.0))
        if precision is not None:
            cos = F.round(cos, int(precision))
        scored = joined.select("query_id", "neighbor_id",
                               cos.alias("cosine"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))


def _codebook_literal(cents):
    """array<array<double>> literal for a subspace codebook."""
    return "array({})".format(",".join(_lit_vec(c) for c in cents))


class ProductQuantizerANN(BaseSingle):
    """Product-quantization ANN (IVF-PQ's compression half): split the
    ``dim``-dimensional embedding into ``m`` subspaces, k-means a
    ``codes``-entry codebook per subspace (same deterministic Lloyd
    fit as KMeansIVF), encode every corpus vector as ``m`` small ints,
    and rank neighbours by the asymmetric distance (ADC): the sum over
    subspaces of the squared L2 distance from the query's sub-vector
    to the code's sub-centroid.

    Scale path: the index stores m bytes per vector instead of dim
    floats (64-d float → 4 codes here = 64x smaller); encoding is a
    narrow projection (codebooks ride the task closure — no join, no
    shuffle); search scans codes, not vectors, and the codebook lookup
    is ``element_at`` over an m×codes literal.  Literal codebooks stay
    plan-cheap because PQ codebooks are small by construction
    (``codes`` ≤ 256 in practice — one byte per subspace); for larger
    models use the broadcast-join assignment pattern
    (``assign_clusters_join``) like ``KMeansIVF(assign='join')``.
    Output: ``query_id``, ``neighbor_id``, ``approx_dist``, ``rank``
    (ascending distance).
    """

    def __init__(self, source, queries, k=5, m=4, codes=4, iters=1,
                 dim=None, vec_column="embedding", id_column="vec_id",
                 precision=None, fit_fraction=1.0):
        if dim is None:
            raise ValueError("dim (embedding dimension) is required")
        if dim % m != 0:
            raise ValueError("m must divide dim")
        super().__init__(source, queries, int(k), int(m), int(codes),
                         int(iters), int(dim), vec_column, id_column,
                         precision, float(fit_fraction))

    @property
    def columns(self):
        return {"query_id", "neighbor_id", "approx_dist", "rank"}

    def _sub(self, vec_column, s, d):
        return F.expr(
            "transform(slice({v}, {start}, {d}), x -> cast(x as double))"
            .format(v=vec_column, start=s * d + 1, d=d))

    def _build(self, ctx):
        (_, queries, k, m, codes, iters, dim, vec_column, id_column,
         precision, fit_fraction) = self.args
        d = dim // m
        base = (self.source._build(ctx).select(id_column, vec_column)
                .persist())
        # all m subspace fits fused into one job per iteration over the
        # persisted base — was m independent fits, each rescanning
        subs = fit_sample(base, id_column, fit_fraction).select(
            F.col(id_column),
            *[self._sub(vec_column, s, d).alias("_sub{}".format(s))
              for s in range(m)])
        codebooks = learn_codebooks(subs, m, codes, iters, id_column)
        code_cols = [
            nearest_centroid_expr(
                "transform(slice({v}, {start}, {d}), "
                "x -> cast(x as double))".format(
                    v=vec_column, start=s * d + 1, d=d),
                codebooks[s]).alias("_code{}".format(s))
            for s in range(m)]
        corpus = base.select(F.col(id_column).alias("neighbor_id"),
                             *code_cols)
        qs = queries._build(ctx).select(
            F.col(id_column).alias("query_id"),
            *[self._sub(vec_column, s, d).alias("_q{}".format(s))
              for s in range(m)])
        joined = corpus.join(F.broadcast(qs),
                             F.col("query_id") != F.col("neighbor_id"))
        adc = None
        for s in range(m):
            term = F.expr(
                "aggregate(zip_with(_q{s}, element_at({cb}, "
                "_code{s} + 1), (x, y) -> (x - y) * (x - y)), "
                "cast(0.0 as double), (acc, v) -> acc + v)"
                .format(s=s, cb=_codebook_literal(codebooks[s])))
            adc = term if adc is None else adc + term
        if precision is not None:
            adc = F.round(adc, int(precision))
        scored = joined.select("query_id", "neighbor_id",
                               adc.alias("approx_dist"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("approx_dist").asc(), F.col("neighbor_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))


class IVFPQ(BaseSingle):
    """IVF-PQ: the FAISS-style composite index — a coarse k-means
    inverted file (KMeansIVF's fit) plus product quantization of the
    RESIDUALS (vector minus its coarse centroid), searched with the
    asymmetric distance within the query's coarse cluster.

    Scale path: the index stores (coarse id + m codes) per vector;
    both assignments are literal-projection narrow maps (no joins);
    search = probe the coarse cluster, rank by codebook lookups.  All
    fits share ``learn_centroids``' deterministic Lloyd loop, so the
    whole index is reproducible bit-for-bit from the data.

    Output: ``query_id``, ``neighbor_id``, ``approx_dist``, ``rank``.
    """

    def __init__(self, source, queries, k=5, clusters=2, iters=1, m=2,
                 codes=2, dim=None, vec_column="embedding",
                 id_column="vec_id", precision=None, fit_fraction=1.0):
        if dim is None:
            raise ValueError("dim (embedding dimension) is required")
        if dim % m != 0:
            raise ValueError("m must divide dim")
        super().__init__(source, queries, int(k), int(clusters),
                         int(iters), int(m), int(codes), int(dim),
                         vec_column, id_column, precision,
                         float(fit_fraction))

    @property
    def columns(self):
        return {"query_id", "neighbor_id", "approx_dist", "rank"}

    def _build(self, ctx):
        (_, queries, k, clusters, iters, m, codes, dim, vec_column,
         id_column, precision, fit_fraction) = self.args
        d = dim // m
        base = (self.source._build(ctx).select(id_column, vec_column)
                .persist())
        fit = fit_sample(base, id_column, fit_fraction)
        coarse = learn_centroids(fit, clusters, iters, vec_column,
                                 id_column)
        coarse_lit = "array({})".format(
            ",".join(_lit_vec(c) for c in coarse))
        cid = nearest_centroid_expr(vec_column, coarse)
        residual = (
            "zip_with({v}, element_at({cl}, _cid + 1), "
            "(x, y) -> cast(x as double) - y)"
            .format(v=vec_column, cl=coarse_lit))

        def with_residual(df):
            return (df.withColumn("_cid", cid)
                    .withColumn("_res", F.expr(residual)))

        encoded = with_residual(base)
        # m residual-subspace fits fused into one job per iteration
        # (over the fit sample; encoding itself stays full-corpus)
        subs = with_residual(fit).select(
            F.col(id_column),
            *[F.expr("slice(_res, {st}, {d})".format(st=s * d + 1, d=d))
              .alias("_sub{}".format(s)) for s in range(m)])
        codebooks = learn_codebooks(subs, m, codes, iters, id_column)
        code_cols = [
            nearest_centroid_expr(
                "slice(_res, {st}, {d})".format(st=s * d + 1, d=d),
                codebooks[s]).alias("_code{}".format(s))
            for s in range(m)]
        corpus = encoded.select(F.col(id_column).alias("neighbor_id"),
                                F.col("_cid"), *code_cols)
        qs = with_residual(queries._build(ctx)
                           .select(id_column, vec_column)).select(
            F.col(id_column).alias("query_id"),
            F.col("_cid").alias("_qcid"),
            *[F.expr("slice(_res, {st}, {d})".format(
                st=s * d + 1, d=d)).alias("_q{}".format(s))
              for s in range(m)])
        joined = corpus.join(
            F.broadcast(qs),
            (F.col("_cid") == F.col("_qcid"))
            & (F.col("query_id") != F.col("neighbor_id")))
        adc = None
        for s in range(m):
            term = F.expr(
                "aggregate(zip_with(_q{s}, element_at({cb}, "
                "_code{s} + 1), (x, y) -> (x - y) * (x - y)), "
                "cast(0.0 as double), (acc, v) -> acc + v)"
                .format(s=s, cb=_codebook_literal(codebooks[s])))
            adc = term if adc is None else adc + term
        if precision is not None:
            adc = F.round(adc, int(precision))
        scored = joined.select("query_id", "neighbor_id",
                               adc.alias("approx_dist"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("approx_dist").asc(), F.col("neighbor_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))


class RandomProjection(BaseSingle):
    """Johnson–Lindenstrauss random projection of an embedding column to
    ``k`` dimensions: ``y_j = dot(x, g_j) / sqrt(k)`` against the same
    deterministic Gaussian ``hyperplanes`` matrix the LSH family uses —
    distances are preserved in expectation, so the projected vectors
    feed cheaper downstream ANN / clustering / dedup.

    Pure literal-matrix projection: the k×dim doubles ride the plan (no
    join, no shuffle, whole-stage codegen), with the same plan-size
    bound as the PQ codebooks — beyond k·dim ≈ 10^5 literals switch to
    a broadcast-join matrix table.

    Output: source columns + ``column_name`` (array<double> of length
    ``k``).
    """

    def __init__(self, source, k=8, dim=64, seed=7,
                 vector_column="embedding", column_name="projected"):
        super().__init__(source, int(k), int(dim), int(seed),
                         vector_column, column_name)

    @property
    def columns(self):
        return set(self.source.columns) | {self.args[5]}

    def _build(self, ctx):
        _, k, dim, seed, vec, name = self.args
        df = self.source._build(ctx)
        planes = hyperplanes(dim, k, seed)
        inv = 1.0 / math.sqrt(float(k))
        comps = []
        for plane in planes:
            arr = "array({})".format(
                ",".join("cast({!r} as double)".format(w) for w in plane))
            comps.append(F.expr(
                "aggregate(zip_with({v}, {p}, (x, y) -> "
                "cast(x as double) * y), cast(0.0 as double), "
                "(acc, v) -> acc + v)".format(v=vec, p=arr))
                * F.lit(inv))
        return df.withColumn(name, F.array(*comps))


class EmbeddingNormalize(BaseSingle):
    """L2-normalize an embedding column in place (round 9) — the unit
    step before cosine ANN (dot == cosine on unit vectors, which lets
    IVF/PQ/LSH skip per-pair norms).  Zero vectors stay zero instead
    of dividing by 0.  Pure HOF column math, map-side."""

    def __init__(self, source, vec_column="embedding"):
        super().__init__(source, vec_column)

    @property
    def columns(self):
        return set(self.source.columns)

    def _build(self, ctx):
        df = self.source._build(ctx)
        v = self.args[1]
        if v not in df.columns:
            raise ValueError("no column {!r}".format(v))
        return df.withColumn(v, F.expr(
            "CASE WHEN {v} IS NULL THEN NULL "
            "WHEN {n} = 0.0D THEN {v} "
            "ELSE transform({v}, e -> CAST(e / {n} AS FLOAT)) END"
            .format(v=v, n=norm_sql(v))))


class MatryoshkaSlice(BaseSingle):
    """Truncate embeddings to their leading ``dim`` components and
    re-normalize (round 9) — the Matryoshka-representation pattern:
    nested-objective models keep most retrieval quality in a prefix,
    so a 1024-d corpus can serve 64-d coarse search at 1/16 the
    bytes/FLOPs and re-rank the shortlist at full width.  Vectors
    shorter than ``dim`` raise (a silent pass-through would corrupt
    similarity comparisons).  Pure slice + HOF, map-side."""

    def __init__(self, source, dim, vec_column="embedding",
                 renormalize=True):
        d = int(dim)
        if d < 1:
            raise ValueError("dim must be >= 1")
        super().__init__(source, d, vec_column, bool(renormalize))

    @property
    def columns(self):
        return set(self.source.columns)

    def _build(self, ctx):
        df = self.source._build(ctx)
        _, d, v, renorm = self.args
        if v not in df.columns:
            raise ValueError("no column {!r}".format(v))
        sliced = df.withColumn("_s", F.expr(
            "CASE WHEN {v} IS NULL THEN NULL "
            "WHEN size({v}) < {d} THEN "
            "raise_error(concat('MatryoshkaSlice: vector of size ', "
            "CAST(size({v}) AS STRING), ' < dim {d}')) "
            "ELSE slice({v}, 1, {d}) END".format(v=v, d=d)))
        out = sliced.withColumn(v, F.expr(
            "CASE WHEN _s IS NULL THEN NULL "
            "WHEN {n} = 0.0D OR NOT {rn} THEN _s "
            "ELSE transform(_s, e -> CAST(e / {n} AS FLOAT)) END"
            .format(n=norm_sql("_s"), rn=str(bool(renorm)).lower())))
        return out.drop("_s")


class KNNClassify(BaseSingle):
    """k-nearest-neighbor label prediction over an embedding corpus
    (round 9) — the eval/propagation primitive: a labeled corpus votes
    on each query vector (majority of the k nearest by exact cosine,
    vote ties to the SMALLEST label — deterministic).

    Composes :class:`CosineTopK` (round-then-rank, broadcast queries)
    with one labels equi-join and ONE max_by hash aggregation — no
    second window.  Output: ``query_id``, ``label`` (the prediction),
    ``votes`` (how many of the k agreed).

    Scale: the corpus side streams (broadcast queries, no corpus
    shuffle); for web-scale corpora swap the exact scorer for
    `BucketedANN`/`IVFPQ` shortlists upstream and classify the
    shortlist frame with the same join + vote."""

    def __init__(self, source, queries, k=5, vec_column="embedding",
                 id_column="vec_id", label_column="label",
                 precision=6):
        if int(k) < 1:
            raise ValueError("k must be >= 1")
        super().__init__(source, queries, int(k), vec_column,
                         id_column, label_column, precision)

    @property
    def index_column(self):
        return "query_id"

    @property
    def columns(self):
        return {"query_id", "label", "votes"}

    def _build(self, ctx):
        (_, queries, k, vec_column, id_column, label_column,
         precision) = self.args
        topk = CosineTopK(self.source, queries, k=k,
                          vec_column=vec_column, id_column=id_column,
                          precision=precision)._build(ctx)
        labels = self.source._build(ctx).select(
            F.col(id_column).alias("neighbor_id"),
            F.col(label_column).alias("_lab"))
        votes = (topk.join(labels, "neighbor_id")
                 .groupBy("query_id", "_lab")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("_n")))
        # majority, ties to the smallest label: minimize (-n, label)
        # — only the count is negated, so string/any-orderable labels
        # work (round-9 review fix: -_lab crashed string labels)
        return (votes.groupBy("query_id")
                .agg(F.expr("min_by(struct(_lab AS label, _n AS votes),"
                            " struct(-_n, _lab))").alias("_w"))
                .select("query_id", "_w.label", "_w.votes"))
