"""Explain-plan audit (SURVEY.md §6): the scale rules are asserted, not
assumed — filters reach the parquet scan, projections prune the read
schema, dimension joins broadcast, scalar math never shuffles, and the
hot path stays out of row-at-a-time Python.
"""

import contextlib
import io

from pyspark.sql import functions as F

from conftest import stored_rdd_ids

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    from dask_geomodeling_spark.geometry.sources import ParquetGeometrySource
    src = ParquetGeometrySource(SF_DIR + "/lineitem.parquet",
                                id_field="l_orderkey")
    df = src.plan(spark, filters={"l_quantity__gte": 30.0,
                                  "l_returnflag": "R"})
    plan = plan_of(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_quantity,30.0)" in plan
    assert "EqualTo(l_returnflag,R)" in plan


def test_projection_prunes_read_schema(spark):
    from dask_geomodeling_spark.geometry.sources import ParquetGeometrySource
    src = ParquetGeometrySource(SF_DIR + "/lineitem.parquet",
                                id_field="l_orderkey")
    df = src.plan(spark).select("l_orderkey", "l_quantity")
    plan = plan_of(df)
    scan = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "l_quantity" in scan
    assert "l_extendedprice" not in scan  # untouched column not read


def test_time_filter_pushdown(spark):
    import datetime

    from dask_geomodeling_spark.geometry.sources import ParquetGeometrySource
    src = ParquetGeometrySource(SF_DIR + "/orders.parquet",
                                id_field="o_orderkey",
                                time_column="o_orderdate")
    df = src.plan(spark, start=datetime.datetime(1995, 1, 1))
    assert "GreaterThanOrEqual(o_orderdate" in plan_of(df)


def test_dimension_join_broadcasts(spark):
    from dask_geomodeling_spark import demos
    df = demos.QUERIES["merge_blocks"](spark, SF_DIR)
    assert "BroadcastHashJoin" in plan_of(df)


def test_scalar_elemwise_does_not_shuffle(spark, tmp_path):
    from dask_geomodeling_spark.raster import elemwise as ew
    from dask_geomodeling_spark.raster.sources import RasterParquetSource
    url = str(tmp_path / "cells")
    spark.createDataFrame(
        [(0, 0, 1.0)], "y bigint, x bigint, value double") \
        .withColumn("time", F.lit("1970-01-01").cast("timestamp")) \
        .write.parquet(url)
    block = ew.Add(ew.Multiply(RasterParquetSource(url), 2.0), 1.0)
    plan = plan_of(block.plan(spark), "simple")
    assert "Exchange" not in plan  # pure projection over the scan


def test_field_op_chain_fuses_without_python(spark):
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["field_ops_arithmetic"](spark, SF_DIR),
                   "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert "*(" in plan  # whole-stage codegen spans the projection


def test_text_pipeline_stays_jvm_side(spark):
    from dask_geomodeling_spark import demos
    for name in ("token_count", "quality_score", "language_id",
                 "fingerprint", "minhash_lsh"):
        plan = plan_of(demos.QUERIES[name](spark, SF_DIR), "simple")
        assert "BatchEvalPython" not in plan, name


def test_cosine_topk_broadcasts_queries(spark):
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["cosine_topk"](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_aggregate_partial_before_shuffle(spark):
    """Temporal aggregate must partial-aggregate map-side (one final
    shuffle on the group keys)."""
    from dask_geomodeling_spark import demos
    plan = plan_of(
        demos.QUERIES["raster_temporal_aggregate"](spark, SF_DIR), "simple")
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_date_partition_pruning(spark, tmp_path):
    """A RasterFileSink layout + a time request must prune date
    partition directories at the scan."""
    import datetime

    from dask_geomodeling_spark.raster.sinks import RasterFileSink
    from dask_geomodeling_spark.raster.sources import (DataFrameRasterSource,
                                                       RasterParquetSource)
    cells = spark.createDataFrame(
        [("2024-01-0{} 12:00:00".format(d), 0, 0, float(d))
         for d in range(1, 8)],
        "time string, y bigint, x bigint, value double") \
        .withColumn("time", F.col("time").cast("timestamp"))
    url = str(tmp_path / "raster")
    RasterFileSink(DataFrameRasterSource(cells), url).write(spark)

    src = RasterParquetSource(url)
    df = src.plan(spark, start=datetime.datetime(2024, 1, 3),
                  stop=datetime.datetime(2024, 1, 5, 23, 59))
    plan = plan_of(df)
    assert "PartitionFilters" in plan
    assert "isnotnull(date" in plan or "date" in plan[
        plan.index("PartitionFilters"):].splitlines()[0]
    assert sorted(r["value"] for r in df.collect()) == [3.0, 4.0, 5.0]


def test_date_partition_session_tz_independent(spark, tmp_path):
    """Round 14 review: the date partition column and the pruning
    predicate must both derive from UTC calendar days — a non-UTC
    WRITER session previously shifted rows into neighboring date
    directories (F.to_date renders through session.timeZone) and a
    UTC reader's pruning then silently dropped them."""
    import datetime

    from dask_geomodeling_spark.raster.sinks import RasterFileSink
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource, RasterParquetSource)
    rows = [(datetime.datetime(2024, 3, 1, 20, 0), 0, 0, 1.0),
            (datetime.datetime(2024, 3, 2, 2, 0), 0, 1, 2.0)]
    cells = spark.createDataFrame(
        rows, "time timestamp, y bigint, x bigint, value double")
    url = str(tmp_path / "tzraster")
    saved = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        RasterFileSink(DataFrameRasterSource(cells), url).write(spark)
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)
    # Tokyo rendering would have put the 20:00 UTC row in
    # date=2024-03-02; the UTC reader's stop=Mar 1 23:00 prune must
    # still return it
    got = RasterParquetSource(url).plan(
        spark, start=datetime.datetime(2024, 3, 1),
        stop=datetime.datetime(2024, 3, 1, 23)).collect()
    assert [(r["y"], r["x"], r["value"]) for r in got] == [(0, 0, 1.0)]


def test_aggregate_raster_broadcasts_features(spark):
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["aggregate_raster"](spark, SF_DIR),
                   "simple")
    assert "Broadcast" in plan  # feature boxes are the small side


def test_bucketed_raster_join_is_shuffle_free(spark, tmp_path):
    """SURVEY §6 rule 2: rasters written bucketed by (y, x) with the
    same spec join on (time, y, x) without shuffling either side."""
    from dask_geomodeling_spark.raster import elemwise as ew
    from dask_geomodeling_spark.raster.sinks import RasterTableSink
    from dask_geomodeling_spark.raster.sources import (DataFrameRasterSource,
                                                       TableRasterSource)
    cells = spark.createDataFrame(
        [(y, x, float(y * 10 + x)) for y in range(8) for x in range(8)],
        "y bigint, x bigint, value double") \
        .withColumn("time", F.lit("2024-01-01").cast("timestamp"))
    src = DataFrameRasterSource(cells)
    RasterTableSink(src, "cells_a", buckets=4).write(spark)
    RasterTableSink(src, "cells_b", buckets=4).write(spark)

    a = TableRasterSource("SELECT time, y, x, value FROM cells_a")
    b = TableRasterSource("SELECT time, y, x, value * 2 AS value "
                          "FROM cells_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # bucket cols (y, x) are a SUBSET of the join keys (time, y, x) —
    # same (y, x) implies co-location, so subset co-partitioning is safe
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition",
                   "false")
    try:
        df = ew.Add(a, b).plan(spark)
        plan = plan_of(df, "simple")
        assert "Exchange" not in plan, plan
        assert df.count() == 64
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition",
                       "true")
        spark.sql("DROP TABLE IF EXISTS cells_a")
        spark.sql("DROP TABLE IF EXISTS cells_b")


def test_salted_join_shuffles_on_salt(spark):
    """SURVEY §6 skew rule: the salted join's exchange clusters on
    (key, salt) — a hot key spreads over `salt` reducers instead of one.
    Broadcast is disabled to force the shuffle path the utility targets."""
    from dask_geomodeling_spark.config import read_nanos_parquet
    from dask_geomodeling_spark.functions.skew import salted_join
    events = read_nanos_parquet(spark, SF_DIR + "/events.parquet")
    dim = (events.select("event_type").distinct()
           .withColumn("weight", F.length("event_type").cast("double")))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = events.join(dim, "event_type")
        salted = salted_join(events, dim, on="event_type",
                             salt_by=["event_id"], salt=8)
        plan = plan_of(salted, "simple")
        assert "__dgs_salt" in plan, plan
        assert "hashpartitioning(event_type" in plan, plan
        # identical result set
        assert salted.count() == plain.count()
        ds = F.sum(F.col("value").cast("decimal(28,6)"))
        assert salted.select(ds).first()[0] == plain.select(ds).first()[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_geometry_merge_is_shuffle_free(spark, tmp_path):
    """SURVEY §6 rule 2 (feature plane): two tables saved by
    GeometryTableSink with the same bucket spec on the index column
    merge (MergeGeometryBlocks) without shuffling either side."""
    from dask_geomodeling_spark.geometry.merge import MergeGeometryBlocks
    from dask_geomodeling_spark.geometry.sinks import GeometryTableSink
    from dask_geomodeling_spark.geometry.sources import (
        ParquetGeometrySource, TableGeometrySource)

    orders = ParquetGeometrySource(SF_DIR + "/orders.parquet",
                                   id_field="o_orderkey")
    GeometryTableSink(orders, "orders_keys", buckets=4).write(spark)
    GeometryTableSink(orders, "orders_price", buckets=4).write(spark)

    a = TableGeometrySource(
        "SELECT o_orderkey, o_orderstatus FROM orders_keys",
        id_field="o_orderkey")
    b = TableGeometrySource(
        "SELECT o_orderkey AS k, o_totalprice FROM orders_price",
        id_field="k")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = MergeGeometryBlocks(a, b, how="inner").plan(spark)
        plan = plan_of(df, "simple")
        assert "Exchange" not in plan, plan
        assert df.count() == orders.plan(spark).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS orders_keys")
        spark.sql("DROP TABLE IF EXISTS orders_price")


def test_tpch_views_broadcast_dims(spark):
    """The multi-join views must broadcast every dimension side — the
    only shuffles left are fact joins/aggregations."""
    from dask_geomodeling_spark import demos
    for name in ("q5_local_supplier_volume", "q9_product_profit",
                 "q10_returned_items"):
        plan = plan_of(demos.QUERIES[name](spark, SF_DIR), "simple")
        assert "BroadcastHashJoin" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_corpus_hygiene_stays_jvm_side(spark):
    """Repetition / decontamination / PII / TF-IDF / chunking never
    drop to row-at-a-time Python — the 100 TB scans stay in codegen."""
    from dask_geomodeling_spark import demos
    for name in ("repetition_filter", "decontaminate", "pii_redact",
                 "tfidf_keywords", "chunk_text", "stratified_sample"):
        plan = plan_of(demos.QUERIES[name](spark, SF_DIR), "simple")
        assert "BatchEvalPython" not in plan, name


def test_chunk_and_pii_do_not_shuffle(spark):
    """Chunking and PII redaction are map-side only: posexplode /
    regex projections over the scan — the OPERATORS add no Exchange.
    (The demo source's min_partitions='auto' may add one round-robin
    exchange right after the scan to spread small single-row-group
    inputs; that is the source's partitioning choice, not the
    operator's, so it is the one exchange tolerated here.)"""
    from dask_geomodeling_spark import demos
    for name in ("chunk_text", "pii_redact"):
        plan = plan_of(demos.QUERIES[name](spark, SF_DIR), "simple")
        n_ex = plan.count("Exchange")
        n_rr = plan.count("Exchange RoundRobinPartitioning")
        assert n_ex == n_rr and n_ex <= 1, name


def test_q6_predicates_reach_scan(spark):
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["q6_revenue_forecast"](spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity,24.0)" in plan


def test_q4_uses_semi_join(spark):
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["q4_order_priority"](spark, SF_DIR),
                   "simple")
    assert "LeftSemi" in plan


def test_q22_uses_anti_join_and_broadcast_threshold(spark):
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["q22_idle_customers"](spark, SF_DIR),
                   "simple")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q14_q18_broadcast_dims(spark):
    from dask_geomodeling_spark import demos
    for name in ("q14_promo_revenue", "q18_large_orders"):
        plan = plan_of(demos.QUERIES[name](spark, SF_DIR), "simple")
        assert "BroadcastHashJoin" in plan, name


def test_ann_family_stays_jvm_side(spark):
    """All four ANN paths (exact, hyperplane, IVF probe-2, PQ) encode
    model literals into the plan — no Python eval, no extra scan for
    the model."""
    from dask_geomodeling_spark import demos
    for name in ("cosine_topk", "bucketed_ann", "kmeans_ivf_probe2",
                 "pq_ann"):
        plan = plan_of(demos.QUERIES[name](spark, SF_DIR), "simple")
        assert "BatchEvalPython" not in plan, name


def test_snap_has_no_cartesian_product(spark):
    """Snap's nearest-time mapping is an as-of union+window merge — the
    time x time CartesianProduct of the naive formulation must not
    appear anywhere in the plan."""
    from dask_geomodeling_spark.demos import event_grid
    from dask_geomodeling_spark.raster.temporal import Shift, Snap
    from datetime import timedelta
    store = event_grid(spark, SF_DIR)
    df = Snap(store, Shift(store, timedelta(hours=10))).plan(spark)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_freq_join_not_statically_broadcast(spark):
    """The per-gram document-frequency table is one row per DISTINCT
    gram (billions at corpus scale) — the plan must not hint it
    broadcast.  AQE may still convert it at runtime for small inputs,
    which is the correct size-gated behavior."""
    from dask_geomodeling_spark.geometry.sources import ParquetGeometrySource
    from dask_geomodeling_spark.pipeline.dedup import NgramJaccard
    docs = ParquetGeometrySource(SF_DIR + "/documents.parquet",
                                 id_field="doc_id")
    df = NgramJaccard(docs, n=3, threshold=0.5).plan(spark)
    # no FORCED broadcast hint anywhere in the logical plan: Catalyst
    # may still pick broadcast from size ESTIMATES (tiny here), which
    # correctly flips to shuffle when the gram table is huge
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in logical
    assert "ResolvedHint" not in logical
    assert "hints=[BROADCAST" not in plan_of(df, "extended")


def test_polygon_clip_has_no_shuffle(spark):
    """Sutherland-Hodgman clipping is pure array algebra — no Exchange
    anywhere in the clipped-projection plan."""
    from dask_geomodeling_spark.demos import QUERIES
    df = QUERIES["polygon_clip_intersection"](spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "Exchange" not in plan


def test_decontaminate_broadcast_is_stream_safe_shape(spark):
    """broadcast_set mode: one BroadcastExchange (the eval gram set),
    no aggregation over the train side after it."""
    from dask_geomodeling_spark.demos import QUERIES
    df = QUERIES["decontaminate_broadcast"](spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan


def test_geotiff_scan_is_binary_file_source(spark, tmp_path):
    """GeoTIFF ingestion reads via the distributed binaryFile source
    (one task per file), not a driver-side loop."""
    from datetime import timedelta
    from dask_geomodeling_spark.raster.sources import (GeoTIFFRasterSource,
                                                       write_geotiff)
    write_geotiff(str(tmp_path / "a.tif"), 4, 3,
                  [float(v) for v in range(12)])
    df = GeoTIFFRasterSource(str(tmp_path) + "/*.tif",
                             time_delta=timedelta(hours=1)).plan(spark)
    plan = plan_of(df, "simple")
    assert "binaryFile" in plan


def test_same_root_elemwise_fuses_without_join(spark):
    """Raster⋈raster elemwise over the SAME leaf raster is one scan +
    one projection — no alignment join, no Exchange.  Distinct leaves
    still align with a join (the general path)."""
    from dask_geomodeling_spark.raster import elemwise as ew
    from dask_geomodeling_spark.raster.sources import MemorySource
    a = MemorySource([[1.0, 2.0], [3.0, None]])
    b = MemorySource([[10.0, None], [30.0, 40.0]])
    fused = ew.Subtract(ew.Divide(ew.Add(a, ew.Multiply(a, 2.0)), 2.0), 1.0)
    plan = plan_of(fused.plan(spark), "simple")
    assert "Join" not in plan and "Exchange" not in plan
    joined = ew.Add(a, b)
    assert "Join" in plan_of(joined.plan(spark), "simple")


def test_source_mix_no_window_no_sort(spark):
    """SourceMix = count agg + broadcast threshold join + map-side
    filter: no Window, no Sort, no per-category rank anywhere."""
    from dask_geomodeling_spark.geometry.sources import (
        ParquetGeometrySource)
    from dask_geomodeling_spark.pipeline.sample import SourceMix
    src = ParquetGeometrySource(SF_DIR + "/documents.parquet",
                                id_field="doc_id")
    df = SourceMix(src, {"en": 0.5, "de": 0.2, "zh": 0.3},
                   category_column="lang").plan(spark)
    plan = plan_of(df, "simple")
    assert "Window" not in plan and "Sort" not in plan
    assert "BroadcastExchange" in plan


def test_projection_ops_are_narrow_maps(spark):
    """RandomProjection and the PCAProject projection pass are pure
    literal-matrix projections — no Join, no Exchange."""
    from dask_geomodeling_spark.geometry.sources import (
        ParquetGeometrySource)
    from dask_geomodeling_spark.pipeline.similarity import RandomProjection
    src = ParquetGeometrySource(SF_DIR + "/embeddings.parquet",
                                id_field="vec_id")
    plan = plan_of(RandomProjection(src, k=4).plan(spark), "simple")
    assert "Join" not in plan and "Exchange" not in plan
    from dask_geomodeling_spark.pipeline.decompose import PCAProject
    plan = plan_of(PCAProject(src, k=2, iters=2).plan(spark), "simple")
    assert "Join" not in plan and "Exchange" not in plan


def test_no_registered_query_plans_global_window(spark):
    """Round-4 verdict item: the NTILE footgun is retired — the
    registered deciles demo must plan NO window operator at all (its
    rank comes from range partitioning + the zipWithIndex id), and no
    other registered query may window over an unpartitioned full
    frame."""
    from dask_geomodeling_spark import demos
    df = demos.QUERIES["ntile_deciles"](spark, SF_DIR)
    assert "Window" not in plan_of(df, "simple")


def test_distributed_ntile_matches_window_ntile(spark):
    from pyspark.sql import Window

    from dask_geomodeling_spark.functions.ranking import distributed_ntile
    df = spark.range(0, 997).select(
        F.col("id"),
        (F.pmod(F.col("id") * 7919, F.lit(1009))).alias("v"))
    for k in (1, 3, 10, 997, 1500):
        want = {(r.id, r.b) for r in df.select(
            "id", F.ntile(k).over(
                Window.orderBy("v", "id")).cast("bigint").alias("b"))
            .collect()}
        got = {(r.id, r.bucket) for r in
               distributed_ntile(df, ["v", "id"], k).collect()}
        assert got == want, k


def test_pack_sequences_defaults_shards_to_shuffle_partitions(spark):
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    from dask_geomodeling_spark.pipeline.sample import PackSequences
    docs = LiteralGeometrySource(
        [{"doc_id": i, "text": "w " * (i % 9 + 1)} for i in range(200)])
    out = PackSequences(docs, budget=16).plan(spark)
    n_shards = out.select("shard").distinct().count()
    assert n_shards == int(
        spark.conf.get("spark.sql.shuffle.partitions"))


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_gopher_full_metrics_is_shuffle_free(spark):
    """The n-gram character fractions are per-document — the FULL
    metric battery must be a pure projection (no Exchange anywhere),
    the property that makes the Gopher gate scan-shaped at 100 TB."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.curate import GopherQuality
    df = spark.createDataFrame([(1, "the cat sat on the mat")],
                               "doc_id bigint, text string")
    plan = _plan(GopherQuality(
        DataFrameSource(df, index_column="doc_id")).plan(spark))
    assert "Exchange" not in plan


def test_url_dedup_single_exchange(spark):
    """UrlDedup = exactly one shuffle (the canonical-URL groupBy) —
    no window, no sort."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.curate import UrlDedup
    df = spark.createDataFrame(
        [(1, "https://a.com/x", "t")],
        "doc_id bigint, url string, text string")
    plan = _plan(UrlDedup(
        DataFrameSource(df, index_column="doc_id")).plan(spark))
    # one hash exchange on url_norm; the struct-max aggregate runs as
    # SortAggregate (string payload in the buffer), whose per-partition
    # sorts are map-side — still no Window, no global sort
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


def test_semdedup_pairs_join_on_cluster(spark):
    """SemDedup's pair comparison must join ON the cluster id — never
    a corpus-wide cartesian."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import SemDedup
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id bigint, embedding array<double>")
    plan = _plan(SemDedup(DataFrameSource(df, index_column="vec_id"),
                          clusters=2, iters=1).plan(spark))
    assert "CartesianProduct" not in plan
    assert "cid" in plan


def test_dsir_model_join_broadcasts(spark):
    """DSIRSelect's bucket-weight model (<= num_buckets rows) must
    BROADCAST onto the raw gram stream — the corpus side never
    shuffles for the model join — and selection must be TakeOrdered,
    not a global sort."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dsir import DSIRSelect
    df = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(8)],
        "doc_id bigint, text string")
    raw = DataFrameSource(df, index_column="doc_id")
    tgt = DataFrameSource(df.limit(2), index_column="doc_id")
    plan = _plan(DSIRSelect(raw, tgt, id_column="doc_id",
                            num_buckets=101, top_k=3).plan(spark))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_spatial_join_no_cartesian(spark):
    """SpatialJoin pairs candidates through the grid-cell equi-join —
    never a cross/cartesian product, whatever the polygon count."""
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["spatial_join"](spark, SF_DIR),
                   "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_nearest_join_no_cartesian(spark):
    """NearestJoin pairs the two DATA sides via the cell equi-join (a
    hash join on _cx/_cy) — never a data-by-data cartesian; the only
    nested-loop is the 9-row offsets broadcast (the HillShade scatter
    idiom).  No window anywhere."""
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["nearest_join"](spark, SF_DIR),
                   "simple")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    # the candidate join is an equi-join on the cell key
    assert "_cx" in plan and "_cy" in plan
    assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan)


def test_dissolve_single_aggregation(spark):
    """Dissolve is ONE hash aggregation on the dissolve key (plus the
    map-side partial): no joins, no window, no sort."""
    from dask_geomodeling_spark.geometry.dissolve import Dissolve
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, "g", 0.0, 0.0, 1.0, 1.0)],
        "fid bigint, grp string, xmin double, ymin double, "
        "xmax double, ymax double")
    plan = plan_of(Dissolve(DataFrameSource(df, index_column="fid"),
                            by="grp").plan(spark), "simple")
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Exchange") == 1


def test_warp_average_never_shuffles_scan_twice(spark):
    """The 'average' warp is scan -> map-side bin -> ONE bounded-key
    aggregation; the raster side is never broadcast-collected and
    there is exactly one exchange (the AQE-planned agg shuffle)."""
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["raster_warp_average"](spark, SF_DIR),
                   "simple")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_terrain_family_one_shuffle_each(spark):
    """Slope/TRI share HillShade's plan shape: scatter (broadcast
    offsets, no shuffle) + one conditional-aggregation exchange +
    the left-semi re-join against the source cells."""
    from dask_geomodeling_spark.raster.sources import MemorySource
    from dask_geomodeling_spark.raster.spatial import TRI, Slope
    src = MemorySource([[float(x) for x in range(4)] for _ in range(4)])
    for op in (Slope, TRI):
        plan = plan_of(op(src).plan(spark), "simple")
        assert "CartesianProduct" not in plan
        assert "Window" not in plan, op


def test_kn_perplexity_persists_bigram_stream(spark):
    """The KN bigram stream feeds four count tables plus the scoring
    join; the persist (lm.py, the DSIR pattern) must show as the
    cached relation reused by every consumer — one corpus
    tokenization, not ~5 (round-7 verdict #2)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.lm import KneserNeyPerplexity
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat")],
        "doc_id bigint, text string")
    kn = KneserNeyPerplexity(
        DataFrameSource(docs, index_column="doc_id")).plan(spark)
    plan = kn._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("InMemoryRelation") >= 4


def test_temperature_mix_checkpoints_counts(spark):
    """TemperatureMix derives three frames from the per-category
    counts; the lazy localCheckpoint pins the count aggregate so the
    source plan runs exactly twice — counts + keep filter — even with
    a lazy fit chain underneath (round-7 verdict #2)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.sample import TemperatureMix
    docs = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "fr")],
        "doc_id bigint, lang string")
    tm = TemperatureMix(DataFrameSource(docs, index_column="doc_id"),
                        alpha=0.3, category_column="lang").plan(spark)
    plan = tm._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan


def test_spatial_join_left_is_one_join(spark):
    """how='left' runs the grid join ONCE: a single left-outer
    equi-join with the exact predicate in the join condition — no
    distinct, no anti-join re-evaluation (round-7 verdict #3)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import SpatialJoin
    pts = spark.createDataFrame([(1, 0.5, 0.5)],
                                "pid bigint, x double, y double")
    polys = spark.createDataFrame(
        [(10, [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]])],
        "gid bigint, rings array<array<array<double>>>")
    j = SpatialJoin(DataFrameSource(pts, index_column="pid"),
                    DataFrameSource(polys, index_column="gid"),
                    cell_size=2.0, how="left")
    plan = plan_of(j.plan(spark), "simple")
    assert plan.count("Join") == 1
    assert "CartesianProduct" not in plan


def test_intersects_join_no_cartesian_no_distinct(spark):
    """predicate='intersects' pairs through ONE cell equi-join with
    canonical-cell dedup in the join condition — no CartesianProduct,
    no post-join Aggregate for dedup (inner mode)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.geometry.spatial_join import SpatialJoin
    S = "fid bigint, rings array<array<array<double>>>"
    L = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]])], S)
    R = spark.createDataFrame(
        [(2, [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0]]])],
        "gid bigint, rings array<array<array<double>>>")
    j = SpatialJoin(DataFrameSource(L, index_column="fid"),
                    DataFrameSource(R, index_column="gid"),
                    cell_size=2.0, predicate="intersects")
    plan = plan_of(j.plan(spark), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Join") == 1
    assert "HashAggregate" not in plan and "Window" not in plan


def test_polygonize_single_cancellation_aggregate(spark):
    """RasterPolygonize's edge cancellation is one hash aggregation;
    the stitching stage is the applyInPandas group map — no cartesian
    join, no window anywhere."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.raster.polygonize import (
        RasterPolygonize)
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    df = (spark.createDataFrame([(0, 0, 1.0)],
                                "y bigint, x bigint, value double")
          .select(F.lit("1970-01-01").cast("timestamp").alias("time"),
                  "y", "x", "value"))
    plan = plan_of(
        RasterPolygonize(DataFrameRasterSource(df)).plan(spark),
        "simple")
    assert "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_overlay_union_persists_pairs_no_cartesian(spark):
    """Overlay(how='union') evaluates the grid candidate join ONCE:
    the persisted pair frame shows as the cached relation every
    branch reuses (intersection pieces + both residuals), and no
    branch falls back to a cartesian product or a global window."""
    from dask_geomodeling_spark.geometry.overlay import Overlay
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    S = "array<array<array<double>>>"
    L = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]])],
        "lid bigint, rings " + S)
    R = spark.createDataFrame(
        [(7, [[[1.0, 1.0], [3.0, 1.0], [3.0, 3.0], [1.0, 3.0]]])],
        "rid bigint, rings " + S)
    ov = Overlay(DataFrameSource(L, index_column="lid"),
                 DataFrameSource(R, index_column="rid"),
                 cell_size=4.0, how="union").plan(spark)
    plan = ov._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("InMemoryRelation") >= 3
    simple = plan_of(ov, "simple")
    assert "CartesianProduct" not in simple
    assert "Window" not in simple


def test_ccnet_buckets_no_global_window(spark):
    """CCNetBuckets assigns NTILE through the two-phase distributed
    rank (range repartition + per-partition counts) — the plan must
    carry NO window operator at all (the single-partition
    NTILE-over-everything is the classic scale killer)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.lm import CCNetBuckets
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat the"),
         (3, "a b a c a d")],
        "doc_id bigint, text string")
    cb = CCNetBuckets(
        DataFrameSource(docs, index_column="doc_id")).plan(spark)
    simple = plan_of(cb, "simple")
    assert "Window" not in simple
    assert "CartesianProduct" not in simple


def test_rasterize_lines_pure_sql(spark):
    """Polyline Rasterize stays entirely JVM-side: supercover split +
    midpoint cells are sequence/transform column math — no Python
    map stage, no cartesian."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.raster.misc import Rasterize
    df = spark.createDataFrame(
        [(1, [[0.5, 0.5], [3.5, 2.5]])],
        "fid bigint, path array<array<double>>")
    plan = plan_of(
        Rasterize(DataFrameSource(df, index_column="fid")).plan(spark),
        "simple")
    assert "InPandas" not in plan and "PythonUDF" not in plan
    assert "CartesianProduct" not in plan


def test_proximity_scatter_is_broadcast_literal(spark):
    """RasterProximity/Allocation scatter sources against the tiny
    LITERAL offsets table only — the join is a broadcast nested loop
    over a LocalTableScan, never a data-sized cartesian."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    from dask_geomodeling_spark.raster.spatial import RasterProximity
    df = (spark.createDataFrame([(0, 0, 1.0)],
                                "y bigint, x bigint, value double")
          .select(F.lit("1970-01-01").cast("timestamp").alias("time"),
                  "y", "x", "value"))
    plan = plan_of(
        RasterProximity(DataFrameRasterSource(df), 3.0).plan(spark),
        "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    # the literal offsets side is the broadcast one
    assert "BroadcastNestedLoopJoin" in plan


def test_overlay_guarded_erase_no_cartesian_persisted_pairs(spark):
    """Round 9: the skew-guarded erase keeps every join keyed — the
    piece-vs-rights join has the feature id as its equi component (the
    bbox overlap is a post-condition, not a join strategy), the pair
    frame is persisted (consumed by census + cold + hot), and nothing
    degrades to a cartesian product or a global window."""
    from dask_geomodeling_spark.geometry.overlay import Overlay
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    S = "array<array<array<double>>>"
    L = spark.createDataFrame(
        [(1, [[[0.0, 0.0], [8.0, 0.0], [8.0, 8.0], [0.0, 8.0]]])],
        "lid bigint, rings " + S)
    R = spark.createDataFrame(
        [(i, [[[1.0 + 2 * i, 1.0], [2.0 + 2 * i, 1.0],
               [2.0 + 2 * i, 2.0], [1.0 + 2 * i, 2.0]]])
         for i in range(3)],
        "rid bigint, rings " + S)
    ov = Overlay(DataFrameSource(L, index_column="lid"),
                 DataFrameSource(R, index_column="rid"),
                 cell_size=4.0, how="difference",
                 max_group_rings=1).plan(spark)
    plan = ov._jdf.queryExecution().optimizedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "InMemoryRelation" in plan       # persisted pair frame
    # and the guarded result is still the exact erase
    from pyspark.sql import functions as F
    from dask_geomodeling_spark.geometry.geom_operations import (
        rings_area_expr)
    area = ov.select(F.round(rings_area_expr("rings"), 6)
                     .alias("a")).collect()[0]["a"]
    assert area == 64.0 - 3 * 1.0


def test_geojsonseq_scan_is_line_splittable(spark):
    """Round 9: the geojsonseq source reads through the plain text
    line reader (FileScan text) — NOT a wholetext single-row-per-file
    scan — so one huge file splits across tasks."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.sinks import GeometryFileSink
    from dask_geomodeling_spark.geometry.sources import (
        DataFrameSource, FileGeometrySource)
    src = spark.range(50).select(
        F.col("id").alias("fid"),
        F.expr("CAST(id AS DOUBLE)").alias("x"),
        F.expr("CAST(id % 7 AS DOUBLE)").alias("y"))
    d = tempfile.mkdtemp(prefix="dgs_seqplan_")
    GeometryFileSink(DataFrameSource(src, index_column="fid"), d,
                     extension="geojsonseq").write(spark)
    back = FileGeometrySource(d, format="geojsonseq", id_field="fid",
                              schema="fid BIGINT")
    df = back.plan(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "wholetext" not in plan.lower()
    assert df.count() == 50


def test_sieve_filter_scatters_small_side(spark):
    """Round 10 (verdict #3): SieveFilter's neighbor scatter explodes
    the SMALL-region frame, not the full cell table — the plan's only
    cross join (the broadcast offsets explode) must sit ABOVE the
    ``_sz < threshold`` filter, so the exploded side is the despeckle
    set and the big frame shuffles exactly once on (time, y, x).
    (r15: the bounded driver short-circuit is disabled here so the
    DISTRIBUTED plan — the at-scale path — is what gets pinned.)"""
    import datetime

    from dask_geomodeling_spark.raster.components import SieveFilter
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    t = datetime.datetime(2024, 1, 1)
    cells = ([(t, 0, xx, 0.0) for xx in range(6)]
             + [(t, 1, 2, 5.0), (t, 1, 3, 5.0)]
             + [(t, 2, 2, 9.0), (t, 2, 3, 9.0), (t, 2, 4, 9.0)])
    df = spark.createDataFrame(
        cells, "time timestamp, y bigint, x bigint, value double")
    out = SieveFilter(DataFrameRasterSource(df), threshold=3).plan(
        spark, driver_threshold=0)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    cross = [i for i, l in enumerate(lines) if "Join Cross" in l]
    assert len(cross) == 1, plan
    i = cross[0]
    indent = lines[i].index("+-")
    subtree = []
    for line in lines[i + 1:]:
        pos = max(line.find("+-"), line.find(":-"))
        if 0 <= pos <= indent:
            break
        subtree.append(line)
    blob = "\n".join(subtree)
    # the size filter lives UNDER the explode -> small side scatters
    assert "_sz" in blob and "< 3" in blob, blob


def test_dbscan_no_cartesian_pairs_freed(spark):
    """Round 11: ClusterDBSCAN's pair generation is ONE cell equi-join
    (the 9-row offsets literal is the only nested-loop join) and the
    returned plan joins the source onto the CHECKPOINTED label table —
    the data-sized pair/core caches are freed during _build, not
    retained for the session."""
    from dask_geomodeling_spark import demos
    df = demos.QUERIES["dbscan_clusters"](spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan
    # the output plan reads the checkpointed labels (Scan ExistingRDD),
    # not a re-derivation of the pair join
    assert "ExistingRDD" in plan
    # the pair/core caches freed during _build: rebuilding must not
    # accumulate persisted RDDs beyond the one label checkpoint each
    from dask_geomodeling_spark import demos as _d
    before = stored_rdd_ids(spark)
    _d.QUERIES["dbscan_clusters"](spark, SF_DIR)
    added = stored_rdd_ids(spark) - before
    assert len(added) <= 1, added


def test_incremental_dedup_reads_saved_table_not_corpus(spark, tmp_path):
    """Round 11: MinHashLSH(against=url) must scan the SAVED signature
    parquet, and the corpus document text must appear in NO scan — the
    whole point is never re-fingerprinting the corpus."""
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    from dask_geomodeling_spark.pipeline.dedup import (
        FingerprintTableSink, MinHashLSH)
    url = str(tmp_path / "fp_pin")
    corpus = LiteralGeometrySource(
        [{"doc_id": 1, "text": "alpha beta gamma delta"}])
    FingerprintTableSink(corpus, url, num_perm=8, bands=4,
                         shingle_size=2, hash_fn="poly").write(spark)
    batch = LiteralGeometrySource(
        [{"doc_id": 9, "text": "alpha beta gamma delta"}])
    df = MinHashLSH(batch, num_perm=8, bands=4, shingle_size=2,
                    hash_fn="poly", against=url).plan(spark)
    plan = plan_of(df, "formatted")
    assert "fp_pin" in plan           # the saved table is scanned
    assert "CartesianProduct" not in plan


def test_bm25_leaves_no_storage(spark):
    """Round 12 (persist-lifecycle convergence): BM25Score collects
    its single row of corpus stats driver-side — no persisted tf
    table, so building + materializing the plan leaves executor
    storage exactly where it was."""
    from dask_geomodeling_spark import demos
    before = stored_rdd_ids(spark)
    demos.QUERIES["bm25_score"](spark, SF_DIR).collect()
    assert not stored_rdd_ids(spark) - before


def test_against_lsh_leaves_no_storage(spark, tmp_path):
    """Round 12 (persist-lifecycle convergence): MinHashLSH(against=)
    no longer persists the new batch's signature table — the plan is
    fully lazy (the batch is scanned twice in the DAG, the small side
    of the production asymmetry) and materializing it leaves executor
    storage exactly where it was."""
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    from dask_geomodeling_spark.pipeline.dedup import (
        FingerprintTableSink, MinHashLSH)
    url = str(tmp_path / "fp_storage")
    corpus = LiteralGeometrySource(
        [{"doc_id": 1, "text": "alpha beta gamma delta"}])
    FingerprintTableSink(corpus, url, num_perm=8, bands=4,
                         shingle_size=2, hash_fn="poly").write(spark)
    batch = LiteralGeometrySource(
        [{"doc_id": 9, "text": "alpha beta gamma delta"}])
    before = stored_rdd_ids(spark)
    MinHashLSH(batch, num_perm=8, bands=4, shingle_size=2,
               hash_fn="poly", against=url).plan(spark).collect()
    assert not stored_rdd_ids(spark) - before


def test_stream_order_joins_stay_keyed(spark):
    """Round 11: the StreamOrder demo plan (driver short-circuit at
    this size) contains no cartesian product and its flow-graph joins
    are keyed equi-joins."""
    from dask_geomodeling_spark import demos
    df = demos.QUERIES["stream_order"](spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "CartesianProduct" not in plan


def test_sniff_image_meta_is_jvm_only(spark, tmp_path):
    """Round 12: SniffImageMeta must add format/width/height with NO
    Python stage — the whole point is that size/format filters push
    before any Arrow-batched decode ever sees the payload."""
    from pyspark.sql import functions as F
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.multimodal import (
        SniffImageMeta, SyntheticImageZoo)
    path = str(tmp_path / "zoo")
    df = spark.range(20).select(F.col("id").alias("doc_id"))
    SyntheticImageZoo(DataFrameSource(df, index_column="doc_id")) \
        .plan(spark).write.parquet(path)
    src = DataFrameSource(spark.read.parquet(path),
                          index_column="doc_id")
    out = SniffImageMeta(src).plan(spark)
    plan = plan_of(out, "formatted")
    assert "InPandas" not in plan and "EvalPython" not in plan
    rows = out.filter("img_width >= 4").collect()
    assert rows and all(r["img_width"] >= 4 for r in rows)


def test_cost_distance_joins_stay_keyed(spark):
    """Round 12: the cost-flood demo plan (driver short-circuit at
    this size) has no cartesian product — the 8-offset scatter is a
    broadcast literal and every graph join is a keyed equi-join."""
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["cost_distance"](spark, SF_DIR),
                   "simple")
    assert "CartesianProduct" not in plan


def test_bloom_probe_has_no_join(spark):
    """Round 12: BloomProbe is the NO-JOIN blocklist prune — the
    bitset words embed as a literal array, so the probe plan contains
    no join at all and no Python stage."""
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["bloom_probe"](spark, SF_DIR),
                   "simple")
    assert "Join" not in plan
    assert "InPandas" not in plan and "EvalPython" not in plan


def test_kll_quantile_partial_aggregates_and_prunes(spark):
    """Round 12: KLLQuantile's level counts partial-aggregate
    map-side (partial + final HashAggregate) and the lineitem scan
    reads only the four needed columns."""
    from dask_geomodeling_spark import demos
    df = demos.QUERIES["kll_quantile"](spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert plan.count("HashAggregate") >= 2
    fplan = plan_of(df, "formatted")
    scan = fplan[fplan.index("ReadSchema"):].splitlines()[0]
    assert "l_extendedprice" in scan and "l_comment" not in scan


def test_kll_rebuilds_keep_storage_bounded(spark):
    """KLLQuantile persists its hashed projection for the two passes; a
    rebuild of the block under another request unpersists the one the
    earlier build left.  The earlier plan still runs without it and
    stores nothing again."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import KLLQuantile
    df = spark.range(2000).select(
        "id", ((F.col("id") * 53) % 881).alias("v"))
    blk = KLLQuantile(DataFrameSource(df, index_column="id"), "v", k=64,
                      id_column="id")
    before = stored_rdd_ids(spark)
    first = blk.plan(spark, filters={"v__lt": 500})
    expected = first.collect()
    blk.plan(spark, filters={"v__gte": 500}).collect()
    assert first.collect() == expected
    assert len(stored_rdd_ids(spark) - before) <= 1


def test_streaming_hll_single_aggregation(spark):
    """Round 12: StreamingHyperLogLog collapses to ONE aggregation
    (2^p conditional maxes) — the streaming-legal shape; exactly one
    partial+final pair, no second keyed shuffle."""
    from dask_geomodeling_spark import demos
    plan = plan_of(demos.QUERIES["streaming_hyperloglog"](
        spark, SF_DIR), "simple")
    assert plan.count("Exchange") == 1, plan.count("Exchange")


def test_viewshed_rays_never_cross_join_data(spark):
    """Round 13 (verdict #4): the ray scatter is a broadcast against
    the 8R^2 LITERAL step table and the DEM lookup is an equi-join —
    no CartesianProduct anywhere, and every BroadcastNestedLoopJoin
    (the literal scatter) sits on a LocalTableScan, never two scans
    of data."""
    from dask_geomodeling_spark import demos
    df = demos.QUERIES["viewshed"](spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    # the one sanctioned nested-loop join is observer x ray-literal;
    # the literal table surfaces as a driver-local scan
    # (LocalTableScan or Scan ExistingRDD), never a second parquet
    if "BroadcastNestedLoopJoin" in plan:
        assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    # the running max is keyed per (observer, ray) — an unkeyed
    # window over the full scatter would serialize the whole sweep
    assert "windowspecdefinition(_oy" in plan


def test_heavy_hitters_global_path_has_no_join(spark):
    """Round 13: the global HeavyHitters estimate embeds the collected
    sketch as literal arrays — pure column math over the candidate
    DISTINCT, no join node anywhere in the plan (the by=/large-width
    path is the sanctioned broadcast join instead)."""
    from dask_geomodeling_spark import demos
    df = demos.QUERIES["heavy_hitters"](spark, SF_DIR)
    plan = plan_of(df)
    assert "Join" not in plan, plan[:2000]


def test_geotiff_multipage_single_content_scan(spark, tmp_path):
    """Round 15 (r14 verdict design note #1): the multi-page band
    dimension must not cost a second full byte pass — the page-count
    side selects only ``path`` (binaryFile prunes the content read)
    and seeks through the IFD chain, so exactly ONE scan in the plan
    reads the ``content`` column, and no unpartitioned data-sized
    Window ranks the bands."""
    from datetime import timedelta

    from dask_geomodeling_spark.raster.sources import (
        GeoTIFFRasterSource, write_geotiff_pages)
    w, h = 4, 3
    pages = [[float(p * 10 + i) for i in range(w * h)]
             for p in range(3)]
    write_geotiff_pages(str(tmp_path / "a.tif"), w, h, pages)
    df = GeoTIFFRasterSource(str(tmp_path / "a.tif"),
                             time_delta=timedelta(hours=1)).plan(spark)
    plan = plan_of(df)
    content_scans = [ln for ln in plan.splitlines()
                     if "ReadSchema" in ln and "content" in ln]
    assert len(content_scans) == 1, plan
    assert "Window" not in plan, plan
    assert df.count() == 3 * w * h
