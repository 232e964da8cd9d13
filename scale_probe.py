"""Scale probe (round 10, verdict #1): measure time(10x)/time(1x) for
the scale-riskiest operators on self-generated data with PLANTED skew
— a hot host, a hot duplicate cluster, a continent-sized polygon over
dense rights, a speckled raster — sizes chosen so the 1x leg already
exceeds every driver short-circuit (e.g. the 64k-edge star-round
cutoff).

The sf0.1 bench verifies absolute speed on fixed data; this probe
verifies the SHAPE of the curve: a linear operator lands near ratio
10 (modulo the constant scheduling floor, which pushes ratios BELOW
10 when the 1x leg is sub-second), a quadratic one lands near 100.
Field sizes scale with sqrt(n) so spatial densities — and therefore
per-feature work — stay constant; what grows is only the number of
features, the honest scaling axis.

Usage:
    python scale_probe.py                 # all ops, scale pair (1, 10)
    python scale_probe.py --ops minhash_lsh,sieve_filter
    python scale_probe.py --base 0.5      # halve the 1x sizes

Writes SCALE_PROBE.json and prints a markdown table for SURVEY §6.
"""

import argparse
import json
import math
import os
import shutil
import time

from pyspark.sql import functions as F

TMP = "/tmp/scale_probe"


def get_session():
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32")
    from dask_geomodeling_spark.config import get_spark
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materialize(df):
    df.write.format("noop").mode("overwrite").save()


def gen_parquet(spark, name, n, build):
    """Deterministic generation, cached across runs per (name, n)."""
    path = os.path.join(TMP, "{}_{}".format(name, n))
    if not os.path.exists(path):
        build(spark.range(n)).write.mode("overwrite").parquet(path)
    return path


def read_input(spark, path):
    from dask_geomodeling_spark.config import ensure_min_partitions
    return ensure_min_partitions(spark.read.parquet(path), spark)


# ---------------------------------------------------------------- inputs

_WORDS = ("concat_ws(' ', transform(sequence(1, 30), i -> "
          "conv(pmod(xxhash64(_seed * 131 + i), 46655) + 1, 10, 36)))")


def build_docs(r):
    # 10% of docs are exact/near duplicates of a per-17-block anchor
    # (shared _seed) — the planted hot dup-cluster for LSH/dedup;
    # 50% of docs live on ONE host — the planted hot group
    return (r.select(
        F.col("id").alias("doc_id"),
        F.expr("CASE WHEN pmod(id, 10) = 0 THEN id - pmod(id, 170) "
               "ELSE id END").alias("_seed"),
        F.expr("CASE WHEN pmod(id, 2) = 0 THEN 'hot.example.com' "
               "ELSE concat('host-', pmod(id, 5000), '.net') END")
        .alias("source"))
        .select("doc_id", "source", F.expr(_WORDS).alias("text"),
                F.expr("length({})".format(_WORDS)).alias("n_chars")))


def build_edges(r):
    # chains of 64 (stress star-round depth) + a 2% hot star on node 0
    return (r.select(
        F.col("id").alias("id_a"),
        F.expr("CASE WHEN pmod(id, 50) = 7 THEN CAST(0 AS BIGINT) "
               "WHEN pmod(id, 64) = 63 THEN id "
               "ELSE id + 1 END").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b")))


def build_embeddings(r):
    # 30% of vectors in one tight blob near (1, ..., 1) — the hot
    # semantic cluster; the rest spread over [-1, 1)^16
    return r.select(
        F.col("id").alias("vec_id"),
        F.expr(
            "CASE WHEN pmod(id, 10) < 3 THEN "
            "transform(sequence(1, 16), j -> 1.0D + "
            "CAST(pmod(xxhash64(id * 7 + j), 1000) AS DOUBLE) / 1e5) "
            "ELSE transform(sequence(1, 16), j -> "
            "CAST(pmod(xxhash64(id * 13 + j), 2000) AS DOUBLE) / 1e3 "
            "- 1.0D) END").alias("embedding"))


def build_speckled_raster(side):
    def build(r):
        # value stripes of width 50 with 1% single-cell specks
        return r.select(
            F.expr("TIMESTAMP '2024-01-01'").alias("time"),
            F.expr("id div {}".format(side)).alias("y"),
            F.expr("pmod(id, {})".format(side)).alias("x"),
            F.expr("CASE WHEN pmod(xxhash64(id), 100) = 0 THEN 7.0D "
                   "ELSE CAST(pmod(id div {s} div 50 + "
                   "pmod(id, {s}) div 50, 2) AS DOUBLE) END"
                   .format(s=side)).alias("value"))
    return build


def build_squares(side_expr, field, key="fid"):
    def build(r):
        # xxhash64 positions: a plain multiplicative mod clumps when
        # the multiplier shares a factor with the (sqrt-scaled) field,
        # which would give the two legs DIFFERENT pair densities
        return (r.select(
            F.col("id").alias(key),
            (F.pmod(F.xxhash64(F.col("id") * 2 + 1), F.lit(int(field))))
            .cast("double").alias("ax"),
            (F.pmod(F.xxhash64(F.col("id") * 2), F.lit(int(field))))
            .cast("double").alias("ay"))
            .select(key, F.expr(
                "array(array(array(ax, ay), array(ax + {s}, ay), "
                "array(ax + {s}, ay + {s}), array(ax, ay + {s})))"
                .format(s=side_expr)).alias("rings")))
    return build


# ---------------------------------------------------------------- probes
# each probe: (spark, n) -> row count of the materialized result

def build_stop_docs(r):
    """Stopword-dense corpus — the PPJoin stress shape (r13 verdict
    #6): HALF of every doc's 24 tokens draw from EIGHT ultra-common
    words, so the n-grams containing them are shared corpus-wide and
    a naive gram join would blow up k² on each; 10% of docs are
    near-dups of a per-170-block anchor so real ≥0.5 matches exist."""
    stop = ("element_at(array('the','of','and','to','in','a','is',"
            "'it'), cast(pmod(xxhash64(_seed * 37 + i), 8) + 1 "
            "as int))")
    word = "conv(pmod(xxhash64(_seed * 131 + i), 46655) + 1, 10, 36)"
    tok = "IF(pmod(xxhash64(_seed * 17 + i), 2) = 0, {}, {})".format(
        stop, word)
    text = ("concat_ws(' ', transform(sequence(1, 24), i -> {}))"
            .format(tok))
    return (r.select(
        F.col("id").alias("doc_id"),
        F.expr("CASE WHEN pmod(id, 10) = 0 THEN id - pmod(id, 170) "
               "ELSE id END").alias("_seed"))
        .select("doc_id", F.expr(text).alias("text")))


def probe_ngram_jaccard(spark, n):
    """Exact PPJoin n-gram Jaccard on the stopword-dense corpus: the
    rarest-first global gram ordering keeps stopword grams OUT of the
    prefixes, so candidates stay bounded even though half the corpus
    shares half its grams."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import NgramJaccard
    docs = read_input(spark, gen_parquet(spark, "stopdocs", n,
                                         build_stop_docs))
    out = NgramJaccard(DataFrameSource(docs, index_column="doc_id"),
                       n=3, threshold=0.5).plan(spark)
    materialize(out)
    return out.count()


def probe_cluster_representative(spark, n):
    """The heavy composed dedup chain (the most expensive bench
    query's upstream): MinHashLSH → star-round DedupClusters →
    ClusterRepresentative, on the planted hot-dup-cluster corpus.
    The op itself is one join + one max_by agg; the probe shows the
    CHAIN stays linear-ish."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import (
        ClusterRepresentative, DedupClusters, MinHashLSH)
    docs_df = read_input(spark, gen_parquet(spark, "docs", n,
                                            build_docs))
    docs = DataFrameSource(docs_df, index_column="doc_id")
    pairs = MinHashLSH(docs, num_perm=32, bands=8, verify=True,
                       threshold=0.5)
    clusters = DedupClusters(docs, pairs)
    out = ClusterRepresentative(docs, clusters, "n_chars").plan(spark)
    materialize(out)
    return out.count()


def build_hot_month_cells(r):
    """Temporal cell table with planted time skew: 50% of all rows
    land in ONE month (2024-01) of a 4-year span, on a 256x256 grid."""
    return r.select(
        F.expr("CASE WHEN pmod(id, 2) = 0 "
               "THEN timestamp'2024-01-01' + make_interval("
               "0, 0, 0, 0, 0, 0, pmod(id, 2678400)) "
               "ELSE timestamp'2022-01-01' + make_interval("
               "0, 0, 0, 0, 0, 0, pmod(id * 37, 126230400)) END")
        .alias("time"),
        F.pmod(F.col("id"), F.lit(256)).alias("y"),
        F.pmod(F.col("id") * 13, F.lit(256)).alias("x"),
        (F.col("id") % 1000 / 7.0).alias("value"))


def probe_temporal_calendar(spark, n):
    """TemporalAggregate('M', tz) under the 50%-hot month (round 14):
    calendar bins are pure column date arithmetic feeding the same
    (window, y, x) groupBy as the fixed path — the hot month
    partial-aggregates map-side across its cells, nothing beyond the
    grouped agg shuffles."""
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    from dask_geomodeling_spark.raster.temporal import TemporalAggregate
    cells = read_input(spark, gen_parquet(spark, "hotmonth", n,
                                          build_hot_month_cells))
    out = TemporalAggregate(DataFrameRasterSource(cells), "M", "sum",
                            timezone="America/New_York").plan(spark)
    materialize(out)
    return out.count()


def probe_minhash_lsh(spark, n):
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import MinHashLSH
    docs = read_input(spark, gen_parquet(spark, "docs", n, build_docs))
    blk = MinHashLSH(DataFrameSource(docs, index_column="doc_id"),
                     num_perm=32, bands=8, verify=True, threshold=0.5)
    out = blk.plan(spark)
    materialize(out)
    return out.count()


def probe_kn_perplexity(spark, n):
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.lm import KneserNeyPerplexity
    docs = read_input(spark, gen_parquet(spark, "docs", n, build_docs))
    out = KneserNeyPerplexity(
        DataFrameSource(docs, index_column="doc_id")).plan(spark)
    materialize(out)
    return out.count()


def probe_per_group_limit(spark, n):
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.sample import PerGroupLimit
    docs = read_input(spark, gen_parquet(spark, "docs", n, build_docs))
    out = PerGroupLimit(DataFrameSource(docs, index_column="doc_id"),
                        "source", 100, "n_chars").plan(spark)
    materialize(out)
    return out.count()


def probe_dedup_clusters_star(spark, n):
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import DedupClusters
    edges = read_input(spark,
                       gen_parquet(spark, "edges", n, build_edges))
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    out = DedupClusters(DataFrameSource(docs, index_column="doc_id"),
                        DataFrameSource(edges, index_column="id_a"),
                        id_column="doc_id").plan(spark)
    materialize(out)
    return out.count()


def probe_sem_dedup(spark, n):
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import SemDedup
    emb = read_input(spark,
                     gen_parquet(spark, "emb", n, build_embeddings))
    # the paper's contract: cluster count scales with corpus size so
    # per-cluster membership stays bounded
    k = max(16, n // 2500)
    out = SemDedup(DataFrameSource(emb, index_column="vec_id"),
                   clusters=k, iters=2, tau=0.95,
                   fit_fraction=min(1.0, 50000.0 / n)).plan(spark)
    materialize(out)
    return out.count()


def probe_sieve_filter(spark, n):
    from dask_geomodeling_spark.raster.components import SieveFilter
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    side = int(math.sqrt(n))
    cells = read_input(spark, gen_parquet(
        spark, "raster", side * side, build_speckled_raster(side)))
    out = SieveFilter(DataFrameRasterSource(cells),
                      threshold=5).plan(spark)
    materialize(out)
    return out.count()


def probe_subdivide(spark, n):
    from dask_geomodeling_spark.geometry.parallelize import Subdivide
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    field = int(3 * math.sqrt(n))
    polys = read_input(spark, gen_parquet(
        spark, "squares6_{}".format(field), n,
        build_squares("6.0D", field)))
    out = Subdivide(DataFrameSource(polys, index_column="fid"),
                    cell_size=4.0).plan(spark)
    materialize(out)
    return out.count()


def probe_spatial_join_intersects(spark, n):
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import SpatialJoin
    field = int(5 * math.sqrt(n))       # constant pair density
    left = read_input(spark, gen_parquet(
        spark, "sjl_{}".format(field), n,
        build_squares("2.0D", field, key="lid")))
    right = read_input(spark, gen_parquet(
        spark, "sjr_{}".format(field), n,
        build_squares("3.0D", field, key="rid")))
    out = SpatialJoin(DataFrameSource(left, index_column="lid"),
                      DataFrameSource(right, index_column="rid"),
                      cell_size=5.0, right_columns=["rid"],
                      predicate="intersects").plan(spark)
    materialize(out)
    return out.count()


def _overlay(spark, n, continent, **kw):
    from dask_geomodeling_spark.geometry.overlay import Overlay
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    field = int(2 * math.sqrt(n))
    rights = read_input(spark, gen_parquet(
        spark, "ovr_{}".format(field), n,
        build_squares("2.0D", field, key="rid")))
    left = read_input(spark, gen_parquet(
        spark, "ovl_{}".format(field), max(n // 10, 50),
        build_squares("2.0D", field, key="lid")))
    if continent:
        # one polygon covering the whole field — it intersects EVERY
        # right feature (the planted hot group)
        cont = spark.createDataFrame(
            [(int(10 ** 12),)], "lid bigint").select(
            "lid", F.expr(
                "array(array(array(0.0D, 0.0D), array({f}, 0.0D), "
                "array({f}, {f}), array(0.0D, {f})))"
                .format(f=float(field))).alias("rings"))
        left = left.unionByName(cont)
    out = Overlay(DataFrameSource(left, index_column="lid"),
                  DataFrameSource(rights, index_column="rid"),
                  cell_size=8.0, how="difference", **kw).plan(spark)
    materialize(out)
    return out.count()


def probe_overlay_erase(spark, n):
    # the NO-hot-feature case: bounded groups, unguarded path
    return _overlay(spark, n, continent=False)


def probe_overlay_erase_hot_unguarded(spark, n):
    # continent over n rights, NO guard: the giant collected group
    # funnels into one kernel task — measured SMALL (scale 3) because
    # its growth is the pathology the guard exists to fix
    return _overlay(spark, n, continent=True)


def probe_overlay_erase_hot_guarded(spark, n):
    return _overlay(spark, n, continent=True, max_group_rings=256)


def build_ramp_dem(side):
    def build(r):
        return r.select(
            F.expr("TIMESTAMP '2024-01-01'").alias("time"),
            F.expr("id div {}".format(side)).alias("y"),
            F.expr("pmod(id, {})".format(side)).alias("x"),
            F.expr("CAST(id div {s} + pmod(id, {s}) AS DOUBLE)"
                   .format(s=side)).alias("value"))
    return build


def probe_flow_accumulation(spark, n):
    # ramp DEM: every cell drains, edges = ~n >> the 64k driver
    # short-circuit on both legs — the Euler list-ranking rounds are
    # what scales (⌈log₂ 2n⌉ self-joins)
    from dask_geomodeling_spark.raster.hydrology import (
        FlowAccumulation, FlowDirection)
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    side = int(math.sqrt(n))
    cells = read_input(spark, gen_parquet(
        spark, "dem", side * side, build_ramp_dem(side)))
    out = FlowAccumulation(
        FlowDirection(DataFrameRasterSource(cells))).plan(spark)
    materialize(out)
    return out.count()


def probe_aggregate_raster(spark, n):
    from dask_geomodeling_spark.geometry.aggregate import AggregateRaster
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    side = int(math.sqrt(n))
    cells = read_input(spark, gen_parquet(
        spark, "raster", side * side, build_speckled_raster(side)))
    w = side // 5
    boxes = spark.range(25).select(
        F.col("id").alias("bid"),
        (F.pmod(F.col("id"), 5) * w).cast("bigint").alias("xmin"),
        (F.expr("id div 5") * w).cast("bigint").alias("ymin"),
        (F.pmod(F.col("id"), 5) * w + w - 1).cast("bigint")
        .alias("xmax"),
        (F.expr("id div 5") * w + w - 1).cast("bigint").alias("ymax"))
    out = AggregateRaster(DataFrameSource(boxes, index_column="bid"),
                          DataFrameRasterSource(cells),
                          statistic=["max", "count"],
                          column_name=["agg_max", "agg_count"]
                          ).plan(spark)
    materialize(out)
    return out.count()


_SENT = ("concat('the ', concat_ws(' ', transform(sequence(1, 9), "
         "i -> conv(pmod(xxhash64(_seed * {m} + i), 1632959) + 46656, "
         "10, 36))), '.')")


def build_crawl_docs(r):
    """HTML + URL crawl records for the composed-chain probe: 50% of
    docs on ONE hot host (UrlNormalize host skew), 10% sharing ONE
    exact URL AND text (the hot dedup key); text passes C4 + Gopher
    (3 terminal sentences, 30 words of length 3-4, a stopword)."""
    base = r.select(
        F.col("id").alias("doc_id"),
        F.expr("CASE WHEN pmod(id, 10) = 0 THEN CAST(7 AS BIGINT) "
               "ELSE id END").alias("_seed"))
    s1, s2, s3 = (_SENT.format(m=m) for m in (131, 137, 139))
    return base.select(
        "doc_id",
        F.expr("concat('<html><body><h1>D</h1><p>', {s1}, '</p><p>', "
               "{s2}, ' ', {s3}, '</p></body></html>')"
               .format(s1=s1, s2=s2, s3=s3)).alias("html"),
        F.expr("CASE WHEN pmod(doc_id, 10) = 0 "
               "THEN 'https://hot.example.com/dup/' "
               "WHEN pmod(doc_id, 2) = 0 THEN concat("
               "'https://hot.example.com/p/', CAST(doc_id AS STRING)) "
               "ELSE concat('https://h', "
               "CAST(pmod(doc_id, 5000) AS STRING), '.net/p/', "
               "CAST(doc_id AS STRING)) END").alias("url"))


def probe_crawl_prep(spark, n):
    """The END-TO-END crawl chain (HtmlExtract → C4Filter →
    GopherQuality → UrlDedup) — single ops are probed elsewhere; this
    measures the composed persist/localCheckpoint interactions under
    data growth with a planted hot host + hot dedup key."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.curate import (C4Filter,
                                                        GopherQuality,
                                                        HtmlExtract,
                                                        UrlDedup)
    docs = read_input(spark, gen_parquet(spark, "crawl", n,
                                         build_crawl_docs))
    h = HtmlExtract(DataFrameSource(docs, index_column="doc_id"),
                    column="html")
    hdf = h.plan(spark).localCheckpoint(eager=False)
    c = C4Filter(DataFrameSource(hdf, index_column="doc_id"),
                 column="text_extracted")
    g = GopherQuality(c, column="text_clean", min_words=10,
                      min_stop_hits=1, ngram_metrics=False)
    kept = g.plan(spark).filter(F.col("c4_keep")
                                & F.col("gopher_pass"))
    dd = UrlDedup(DataFrameSource(kept, index_column="doc_id"),
                  url_column="url", text_column="text_clean")
    out = dd.plan(spark).select("url_norm", "n_dups", "doc_id")
    materialize(out)
    return out.count()


def build_lang_docs(r):
    # the hot language holds 50% of the corpus; text as build_docs
    return (r.select(
        F.col("id").alias("doc_id"),
        F.col("id").alias("_seed"),
        F.expr("CASE WHEN pmod(id, 2) = 0 THEN 'hot' "
               "ELSE concat('l', pmod(id, 4)) END").alias("lang"))
        .select("doc_id", "lang", F.expr(_WORDS).alias("text")))


def probe_corpus_prep_ccnet(spark, n):
    """KN fit → grouped windowless NTILE → TemperatureMix, composed —
    the demo chain at growing n with a planted hot language."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.lm import CCNetBuckets
    from dask_geomodeling_spark.pipeline.sample import TemperatureMix
    docs = read_input(spark, gen_parquet(spark, "langdocs", n,
                                         build_lang_docs))
    cb = CCNetBuckets(DataFrameSource(docs, index_column="doc_id"),
                      by="lang").plan(spark)
    surv = (cb.where(F.col("bucket").isin("head", "middle"))
            .select("doc_id", "lang")
            .localCheckpoint(eager=False))
    out = TemperatureMix(
        DataFrameSource(surv, index_column="doc_id"), alpha=0.3,
        category_column="lang").plan(spark).select("doc_id", "lang")
    materialize(out)
    return out.count()


def build_cluster_points(field, hot_side):
    def build(r):
        # 30% of points in ONE dense square (the hot cluster,
        # constant density ~4/unit² → every point core, one giant
        # component); the rest uniform at ~0.04/unit²
        return r.select(
            F.col("id").alias("pid"),
            F.expr("CASE WHEN pmod(id, 10) < 3 THEN "
                   "CAST(pmod(xxhash64(id * 2 + 1), {h}) AS DOUBLE) "
                   "/ 4.0D ELSE "
                   "CAST(pmod(xxhash64(id * 2 + 1), {f}) AS DOUBLE) "
                   "END".format(h=4 * hot_side, f=field)).alias("x"),
            F.expr("CASE WHEN pmod(id, 10) < 3 THEN "
                   "CAST(pmod(xxhash64(id * 2), {h}) AS DOUBLE) "
                   "/ 4.0D ELSE "
                   "CAST(pmod(xxhash64(id * 2), {f}) AS DOUBLE) "
                   "END".format(h=4 * hot_side, f=field)).alias("y"))
    return build


def probe_dbscan_clusters(spark, n):
    """ClusterDBSCAN with a planted HOT CLUSTER: 30% of points form
    one giant eps-connected core component (constant density, so pair
    counts stay linear and what scales is the star-round labeling
    past the 64k driver short-circuit)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import (
        ClusterDBSCAN)
    field = int(4 * math.sqrt(n))
    hot_side = max(int(math.sqrt(0.075 * n)), 4)
    pts = read_input(spark, gen_parquet(
        spark, "cpts_{}".format(field), n,
        build_cluster_points(field, hot_side)))
    out = ClusterDBSCAN(DataFrameSource(pts, index_column="pid"),
                        eps=1.0, min_points=4).plan(spark)
    materialize(out)
    return out.count()


def probe_stream_order(spark, n):
    """Strahler orders on the ramp DEM past the driver short-circuit:
    the k-loop's junction-weighted Euler rankings (orders 1-3 on the
    ramp) are what scales — rounds grow with log n, never river
    length."""
    from dask_geomodeling_spark.raster.hydrology import (
        FlowDirection, StreamOrder)
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    side = int(math.sqrt(n))
    cells = read_input(spark, gen_parquet(
        spark, "dem", side * side, build_ramp_dem(side)))
    out = StreamOrder(
        FlowDirection(DataFrameRasterSource(cells))).plan(spark)
    materialize(out)
    return out.count()


def build_batch_docs(r):
    """Incremental batch: ids offset into a fresh space; each doc's
    text seed maps back into the SAVED corpus's seed space (orig =
    id*7), so ~10% of batch docs hit a planted 17-doc anchor cluster
    (the hot bands) and the rest exact-match one saved doc — the
    snapshot-over-snapshot overlap shape."""
    return (r.select(
        (F.col("id") + 2_000_000_000).alias("doc_id"),
        F.expr("id * 7").alias("_orig"))
        .select("doc_id",
                F.expr("CASE WHEN pmod(_orig, 10) = 0 "
                       "THEN _orig - pmod(_orig, 170) "
                       "ELSE _orig END").alias("_seed"))
        .select("doc_id", F.expr(_WORDS).alias("text")))


def probe_incremental_dedup(spark, n):
    """MinHashLSH(against=saved): the saved table holds n docs, the
    new batch n/10 — the production asymmetry (a snapshot probing a
    10x corpus).  The fingerprint table is built ONCE per n (cached
    like the parquet inputs); the timed leg is the band-bucket probe
    join + verify only — the corpus text is never re-read."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import (
        FingerprintTableSink, MinHashLSH)
    docs_path = gen_parquet(spark, "docs", n, build_docs)
    fp_path = os.path.join(TMP, "fp_{}".format(n))
    if not os.path.exists(os.path.join(fp_path + "_meta")):
        docs = read_input(spark, docs_path)
        FingerprintTableSink(
            DataFrameSource(docs, index_column="doc_id"), fp_path,
            num_perm=32, bands=8, shingle_size=3).write(spark)
    batch = read_input(spark, gen_parquet(
        spark, "batch", n // 10, build_batch_docs))
    blk = MinHashLSH(DataFrameSource(batch, index_column="doc_id"),
                     num_perm=32, bands=8, shingle_size=3,
                     verify=True, threshold=0.5, against=fp_path)
    out = blk.plan(spark)
    materialize(out)
    return out.count()


def probe_hyperloglog_by(spark, n):
    """HyperLogLog(by=source) with the planted 50%-hot host: the
    (group, register) composite key must spread the hot group over
    its 2^p register keys instead of funneling half the corpus into
    one reducer."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import HyperLogLog
    docs = read_input(spark, gen_parquet(spark, "docs", n, build_docs))
    out = HyperLogLog(DataFrameSource(docs, index_column="doc_id"),
                      "text", precision=10, by="source").plan(spark)
    materialize(out)
    return out.count()


def probe_kll_quantile(spark, n):
    """KLLQuantile(by=source) with the planted 50%-hot host: pass 1
    is a (groups x 32)-key map-side count, pass 2 keeps <= k rows per
    group — the hot group's extra rows must stay map-side, never
    funnel one reducer."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import KLLQuantile
    docs = read_input(spark, gen_parquet(spark, "docs", n, build_docs))
    out = KLLQuantile(DataFrameSource(docs, index_column="doc_id"),
                      "n_chars", k=256, id_column="doc_id",
                      by="source").plan(spark)
    materialize(out)
    return out.count()


def probe_cost_distance(spark, n):
    """Frontier Bellman-Ford past the 64k-edge driver short-circuit
    (edges ~ 8n).  Sources every 16 cells in both axes — the
    many-facility production shape — so the optimal-path hop count
    (= round count) stays ~constant while per-round work scales with
    n: the honest linear axis.  A single far corner source would
    instead scale ROUNDS with grid diameter (documented in the
    docstring as the max_iter contract)."""
    from dask_geomodeling_spark.raster.hydrology import CostDistance
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    side = int(math.sqrt(n))
    cells = read_input(spark, gen_parquet(
        spark, "dem", side * side, build_ramp_dem(side)))
    srcs = cells.filter("pmod(y, 16) = 0 AND pmod(x, 16) = 0")
    out = CostDistance(DataFrameRasterSource(cells),
                       DataFrameRasterSource(srcs)).plan(spark)
    materialize(out)
    return out.count()


def probe_viewshed(spark, n):
    """Viewshed at radius 16 with one observer per ~2000 cells on a
    bumpy DEM: scatter rows = observers * 8 * 16^2 = ~n — the sweep
    must stay linear in the observer count (per-ray windows are
    bounded by the radius; the DEM lookup is one equi-join)."""
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    from dask_geomodeling_spark.raster.spatial import Viewshed
    side = int(math.sqrt(n))

    def build(r):
        return r.select(
            F.expr("TIMESTAMP '2024-01-01'").alias("time"),
            F.expr("id div {}".format(side)).alias("y"),
            F.expr("pmod(id, {})".format(side)).alias("x"),
            F.expr("CAST(pmod(id * 2654435761, 97) AS DOUBLE) / 10")
            .alias("value"))
    cells = read_input(spark, gen_parquet(
        spark, "vsdem", side * side, build))
    dem = DataFrameRasterSource(cells)
    obs = DataFrameRasterSource(
        cells.filter("pmod(y, 45) = 7 AND pmod(x, 45) = 7")
        .select("time", "y", "x", F.lit(1.5).alias("value")))
    out = Viewshed(dem, obs, radius=16).plan(spark)
    materialize(out)
    return out.count()


def probe_heavy_hitters(spark, n):
    """HeavyHitters over the planted 50%-hot host: the sketch is one
    <= depth*width-key groupBy (the hot host spreads over its depth
    positions map-side — counters are partial-aggregated), the
    candidate DISTINCT is bounded by ~5k hosts, and the top-k is
    orderBy+limit.  Nothing data-sized shuffles."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import HeavyHitters
    docs = read_input(spark, gen_parquet(spark, "docs", n, build_docs))
    out = HeavyHitters(DataFrameSource(docs, index_column="doc_id"),
                       "source", k=20, depth=4, width=2048) \
        .plan(spark)
    materialize(out)
    return out.count()


PROBES = {
    # name -> (probe fn, 1x size, scale override or None)
    "minhash_lsh": (probe_minhash_lsh, 50_000, None),
    "kn_perplexity": (probe_kn_perplexity, 50_000, None),
    "per_group_limit": (probe_per_group_limit, 500_000, None),
    "dedup_clusters_star": (probe_dedup_clusters_star, 100_000, None),
    "sem_dedup": (probe_sem_dedup, 20_000, None),
    "sieve_filter": (probe_sieve_filter, 250_000, None),
    "subdivide": (probe_subdivide, 100_000, None),
    "spatial_join_intersects": (probe_spatial_join_intersects,
                                100_000, None),
    "overlay_erase": (probe_overlay_erase, 30_000, None),
    # the hot-unguarded pathology grows super-linearly in the
    # continent's collected payload — probe it at 1k→3k (minutes, not
    # hours); the guarded variant carries the full 10x load instead
    "overlay_erase_hot_unguarded": (probe_overlay_erase_hot_unguarded,
                                    1_000, 3),
    "overlay_erase_hot_guarded": (probe_overlay_erase_hot_guarded,
                                  30_000, None),
    "aggregate_raster": (probe_aggregate_raster, 600_000, None),
    "flow_accumulation": (probe_flow_accumulation, 250_000, None),
    # round-11: composed chains (verdict #4) + the round's new ops
    "crawl_prep": (probe_crawl_prep, 100_000, None),
    "corpus_prep_ccnet": (probe_corpus_prep_ccnet, 100_000, None),
    "dbscan_clusters": (probe_dbscan_clusters, 100_000, None),
    # stream_order runs (1 + orders) Euler rankings per leg — n1 just
    # past the 64k-edge short-circuit keeps the probe in minutes
    "stream_order": (probe_stream_order, 80_000, None),
    # round-12: the incremental production asymmetry, the per-group
    # sketch under a 50%-hot group, and the new BF distance rounds
    "incremental_dedup": (probe_incremental_dedup, 100_000, None),
    "hyperloglog_by": (probe_hyperloglog_by, 500_000, None),
    "cost_distance": (probe_cost_distance, 80_000, None),
    "kll_quantile": (probe_kll_quantile, 500_000, None),
    # round-13: the frequency sketch under the 50%-hot host + the
    # R2 viewshed sweep (scatter linear in observers)
    "heavy_hitters": (probe_heavy_hitters, 500_000, None),
    "viewshed": (probe_viewshed, 250_000, None),
    # round-14: the PPJoin stopword stress + the heavy composed
    # dedup chain (r13 verdict #6 watch items)
    "ngram_jaccard": (probe_ngram_jaccard, 20_000, None),
    "cluster_representative": (probe_cluster_representative,
                               50_000, None),
    "temporal_calendar": (probe_temporal_calendar, 2_000_000, None),
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--ops", default=",".join(PROBES))
    ap.add_argument("--scale", type=int, default=10)
    ap.add_argument("--base", type=float, default=1.0)
    ap.add_argument("--out", default="SCALE_PROBE.json")
    ap.add_argument("--fresh", action="store_true",
                    help="regenerate inputs")
    args = ap.parse_args()
    if args.fresh and os.path.exists(TMP):
        shutil.rmtree(TMP)
    os.makedirs(TMP, exist_ok=True)
    spark = get_session()
    results = {}
    if os.path.exists(args.out):
        results = json.load(open(args.out))
    for name in args.ops.split(","):
        fn, base, scale_override = PROBES[name]
        n1 = int(base * args.base)
        n10 = n1 * (scale_override or args.scale)
        entry = {}
        # untimed warm-up: JIT + codegen + shuffle service spin-up
        fn(spark, max(n1 // 10, 1000))
        spark.catalog.clearCache()
        for label, n in (("t1", n1), ("t10", n10)):
            t0 = time.monotonic()
            rows = fn(spark, n)
            dt = time.monotonic() - t0
            entry[label] = round(dt, 2)
            entry["rows_" + label] = rows
            print("PROBE {} n={} -> {} rows in {:.2f}s".format(
                name, n, rows, dt), flush=True)
            spark.catalog.clearCache()
        entry["n1"], entry["n10"] = n1, n10
        entry["scale"] = n10 // n1
        entry["ratio"] = round(entry["t10"] / max(entry["t1"], 1e-9), 2)
        results[name] = entry
        json.dump(results, open(args.out, "w"), indent=1)
    print("\n| op | n(1x) | t(1x) s | t(10x) s | ratio |")
    print("| --- | --- | --- | --- | --- |")
    for k, v in results.items():
        print("| {} | {} | {} | {} | {} |".format(
            k, v["n1"], v["t1"], v["t10"], v["ratio"]))


if __name__ == "__main__":
    main()
