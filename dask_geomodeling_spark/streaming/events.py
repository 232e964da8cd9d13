"""Structured Streaming operators (SURVEY.md §2).

The reference is a batch pull-model; its temporal aggregations map to
Structured Streaming with event-time windows + watermarks.  The blocks
here run in BOTH modes: given a batch frame they produce the identical
windowed aggregation (that batch-parity is what the correctness gate
checks); given a streaming frame (``spark.readStream``) the same plan
runs incrementally with late-data handling.

Late-data contract (measured, tools/hunts/hunt_streaming.py — the
Spark guide's "best-effort" bound made precise): batch N's watermark
is the max event time over batches < N minus the delay; a window is
evicted+emitted at the END of the first batch whose watermark passes
its end, so a too-late row can STILL be absorbed if it arrives in
that eviction batch itself — only rows arriving after it are
guaranteed dropped.  Inclusion within the watermark and at-most-once
append emission are the hard guarantees.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_geomodeling_spark.core.blocks import Block
from dask_geomodeling_spark.functions import statistic_expr

__all__ = ["EventSource", "EventAggregate", "SessionizeEvents",
           "StreamingDedup", "IntervalJoin", "AsofJoin",
           "RollingEventAggregate", "StreamingHyperLogLog",
           "StreamingCountMin"]


def _time_grouping(df, time_column, frequency, calendar_watermark):
    """Shared event-time grouping for the windowed streaming blocks
    (round 15): fixed Spark durations group by ``window()``; the
    calendar aliases the raster temporal family understands ('M', 'Q',
    'Y', 'W-MON'…, 'B') group by a DATE-BUCKET column computed with
    the same epoch-day math (streaming-legal pure column arithmetic).

    Streaming calendar bins watermark the BIN END (a grouping key), so
    a bin's state evicts exactly when the watermark passes its end —
    Spark forbids redefining an upstream watermark, so the source must
    arrive unwatermarked (``EventSource(watermark=None)``).

    Returns ``(frame, group_cols, duration)`` — ``duration`` is the
    resolved Spark window duration for the fixed path (pandas aliases
    like '5T'/'H'/'2D' normalize before reaching ``window()`` — r15
    review: the raw alias crashed Spark's interval parser), or None
    for the calendar path."""
    from dask_geomodeling_spark.raster.temporal import (
        _calendar_window, normalize_frequency)
    try:
        token = normalize_frequency(frequency)
    except ValueError:
        token = None
    if token is not None and token.startswith("CAL:"):
        start, end = _calendar_window(F.col(time_column), token)
        out = (df.withColumn("window_start", start)
               .withColumn("_bin_end", end))
        if out.isStreaming:
            if "EventTimeWatermark" in out._jdf.queryExecution() \
                    .analyzed().toString():
                raise ValueError(
                    "calendar frequencies watermark the bin end; "
                    "construct the streaming EventSource with "
                    "watermark=None (calendar_watermark takes over)")
            out = out.withWatermark("_bin_end", calendar_watermark)
        return out, ["window_start", "_bin_end"], None
    dur = token if token is not None else frequency
    return df, [F.window(time_column, dur).alias("_w")], dur


def _start_parquet_stream(df, path, checkpoint, available_now):
    """Shared streaming-sink scaffolding (EventAggregate /
    StreamingHyperLogLog): append-mode parquet writer with a
    checkpoint, optionally drained with availableNow (the
    batch-backfill trigger)."""
    if not df.isStreaming:
        raise ValueError("source is not streaming")
    writer = (df.writeStream.outputMode("append")
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(path)


class EventSource(Block):
    """Event stream source: parquet path (batch) or a readStream when
    ``streaming=True`` — same schema, same downstream plan."""

    def __init__(self, url, streaming=False, watermark="10 minutes",
                 time_column="ts"):
        super().__init__(url, streaming, watermark, time_column)

    def _build(self, ctx):
        import os
        from pyspark.sql import types as T
        from dask_geomodeling_spark.config import (read_nanos_parquet,
                                                   read_parquet)
        url, streaming, watermark, time_column = self.args
        if streaming:
            reader = (ctx.spark.readStream.format("parquet")
                      .schema(read_parquet(ctx.spark, url).schema))
            if os.path.isfile(url):
                # FileStreamSource only accepts directories; point it at
                # the parent with a glob narrowing to the single file
                reader = (reader
                          .option("basePath", os.path.dirname(url))
                          .option("pathGlobFilter", os.path.basename(url)))
                df = reader.load(os.path.dirname(url))
            else:
                df = reader.load(url)
            # same nanos->micros conversion as the batch path
            # (read_nanos_parquet): TIMESTAMP(NANOS) parquet loads as
            # bigint under nanosAsLong, and withWatermark needs a real
            # timestamp column — keep the batch/stream schema contract.
            if time_column in df.columns and isinstance(
                    df.schema[time_column].dataType, T.LongType):
                df = df.withColumn(
                    time_column,
                    F.timestamp_micros(F.expr(
                        "`{c}` div 1000".format(c=time_column))))
            # watermark=None: leave the stream unwatermarked so a
            # downstream operator can define it on ITS event-time
            # column (Spark forbids redefinition; the calendar
            # EventAggregate watermarks the bin END — round 15)
            if watermark is None:
                return df
            return df.withWatermark(time_column, watermark)
        return read_nanos_parquet(ctx.spark, url, time_column)


class EventAggregate(Block):
    """Windowed event aggregation — event-time window + keys + statistic.
    On a stream this is an incremental stateful aggregation with
    watermark-bounded state; on a batch frame it is the same groupBy
    (batch parity = the oracle check).

    ``frequency`` takes Spark window durations ("1 hour") AND, since
    round 15, the CALENDAR aliases the raster temporal family
    understands ('M'/'Q'/'Y', anchored weeks 'W-MON'…, 'B' — pandas
    offset strings): calendar bins are a date-bucket GROUPING COLUMN
    (the same epoch-day math as ``raster.temporal``, which is pure
    column arithmetic and therefore streaming-legal), not a fixed
    ``window()`` duration.  On a stream the bin END carries the
    watermark (``calendar_watermark``), so a month's state evicts
    exactly when the source watermark passes the month end — the
    contract fixed windows get from ``window()``, with the variable
    bin length absorbed by the end column."""

    def __init__(self, source, frequency="1 hour", keys=("event_type",),
                 value_column="value", statistic="sum",
                 calendar_watermark="10 minutes"):
        if not isinstance(source, Block):
            raise TypeError("'{}' object is not allowed".format(type(source)))
        super().__init__(source, frequency, list(keys), value_column,
                         statistic, calendar_watermark)

    def _build(self, ctx):
        (source, frequency, keys, value_column, statistic,
         calendar_watermark) = self.args
        df = source._build(ctx)
        agg = statistic_expr(statistic, value_column)
        out, group_cols, duration = _time_grouping(
            df, "ts", frequency, calendar_watermark)
        g = out.groupBy(*group_cols, *keys).agg(agg.alias("value"))
        start = (F.col("_w.start") if duration
                 else F.col("window_start"))
        return g.select(start.alias("window_start"), *keys, "value")

    def start(self, spark=None, path=None, checkpoint=None,
              available_now=False, **request):
        """Run as a streaming query writing to parquet (scale path).
        ``available_now=True`` drains everything currently available and
        stops — the batch-backfill trigger."""
        return _start_parquet_stream(self.plan(spark, **request),
                                     path, checkpoint, available_now)


class SessionizeEvents(Block):
    """Session windows per user (gap-based) — the custom stateful
    pattern; batch mode uses ``session_window``, streams use the same
    plan with watermarking."""

    def __init__(self, source, gap="30 minutes", user_column="user_id"):
        super().__init__(source, gap, user_column)

    def _build(self, ctx):
        source, gap, user_column = self.args
        df = source._build(ctx)
        win = F.session_window("ts", gap)
        # decimal accumulation: the session total is exact and identical
        # regardless of per-partition summation order
        return (df.groupBy(win.alias("_w"), user_column)
                .agg(F.count(F.lit(1)).alias("n_events"),
                     F.sum(F.col("value").cast("decimal(28,6)"))
                     .cast("double").alias("total_value"))
                .select(F.col("_w.start").alias("session_start"),
                        user_column, "n_events", "total_value"))


class StreamingDedup(Block):
    """Streaming ingest deduplication: drop rows whose keys were already
    seen, with state bounded by the source watermark
    (``dropDuplicatesWithinWatermark``).  On a batch frame the same
    block is an exact ``dropDuplicates`` — identical keys semantics,
    unbounded lookback."""

    def __init__(self, source, keys=("event_id",)):
        if not isinstance(source, Block):
            raise TypeError("'{}' object is not allowed".format(type(source)))
        super().__init__(source, list(keys))

    def _build(self, ctx):
        source, keys = self.args
        df = source._build(ctx)
        if df.isStreaming:
            return df.dropDuplicatesWithinWatermark(keys)
        return df.dropDuplicates(keys)


class IntervalJoin(Block):
    """Stream-stream interval join: for each left event, the right
    events of the same key within ``[ts, ts + within]``.

    Streaming: a watermarked stream-stream inner join — the time-bound
    join condition lets Spark expire buffered state (left rows older
    than watermark + within are dropped), so state stays bounded at any
    throughput.  Batch: the identical join predicate (the oracle form).

    Output: key, left's columns suffixed ``_l``, right's suffixed
    ``_r`` (ts included on both sides).
    """

    def __init__(self, left, right, key="user_id", within="1 hour",
                 time_column="ts"):
        if not isinstance(left, Block) or not isinstance(right, Block):
            raise TypeError("left/right must be Blocks")
        super().__init__(left, right, key, within, time_column)

    def _build(self, ctx):
        left, right, key, within, time_column = self.args
        l = left._build(ctx)
        r = right._build(ctx)
        for c in l.columns:
            if c != key:
                l = l.withColumnRenamed(c, c + "_l")
        for c in r.columns:
            if c != key:
                r = r.withColumnRenamed(c, c + "_r")
        r = r.withColumnRenamed(key, "__rk")
        lt, rt = time_column + "_l", time_column + "_r"
        cond = ((l[key] == r["__rk"])
                & (F.col(rt) >= F.col(lt))
                & (F.col(rt) <= F.col(lt)
                   + F.expr("INTERVAL {}".format(within))))
        return l.join(r, cond).drop("__rk")


class AsofJoin(Block):
    """As-of join between two event sets: for each left event, attach
    the most recent right event with the same key at-or-before the
    left event's time, optionally bounded by ``horizon``.

    Spark-first shape: NOT a join.  Both sides union into one frame
    tagged by side; one window per key (ordered by ts, side, id)
    carries the last-seen right event forward with
    ``last(..., ignorenulls=True)``.  A per-key sort replaces the
    equi-join + per-left-row top-1 — one shuffle on the key, state
    O(1) per row, no candidate blowup when a user has thousands of
    right events (ties on ts resolve right-before-left, then larger
    right id).  At 100 TB this is the merge-sorted-streams plan.

    Output: left id/ts (``l_id``/``l_ts``) + carried ``r_id``/``r_ts``
    + ``gap_us`` (microseconds between the two).  Left rows with no
    match (or none inside the horizon) are dropped (inner as-of).
    """

    def __init__(self, left, right, key="user_id", time_column="ts",
                 id_column="event_id", horizon=None):
        if not isinstance(left, Block) or not isinstance(right, Block):
            raise TypeError("sources must be Blocks")
        super().__init__(left, right, key, time_column, id_column,
                         horizon)

    _UNIT_US = {"SECOND": 10**6, "SECONDS": 10**6,
                "MINUTE": 60 * 10**6, "MINUTES": 60 * 10**6,
                "HOUR": 3600 * 10**6, "HOURS": 3600 * 10**6,
                "DAY": 86400 * 10**6, "DAYS": 86400 * 10**6}

    @classmethod
    def _horizon_us(cls, horizon):
        n, unit = horizon.split()
        return int(n) * cls._UNIT_US[unit.upper()]

    def _streaming(self, u, key, horizon):
        """Streaming path: per-key state carries the newest right event
        (id, ts) across micro-batches; each batch is processed in
        event-time order, so with ordered arrival (or a single
        availableNow batch) the emitted matches equal the batch plan.
        A left event that arrives in an earlier micro-batch than an
        older right event can miss it — the documented best-effort
        bound of stateful as-of on out-of-order streams."""
        from pyspark.sql.streaming.state import GroupStateTimeout
        hz = self._horizon_us(horizon) if horizon else None

        def update(key_tuple, pdf_iter, state):
            import pandas as pd
            last = state.get if state.exists else None
            rows = pd.concat(list(pdf_iter), ignore_index=True)
            rows["_eid"] = rows["_r_id"].where(
                rows["_side"] == 0, rows["_l_id"])
            rows = rows.sort_values(["_ts", "_side", "_eid"],
                                    ignore_index=True)
            out = []
            for side, l_id, r_id, ts in zip(
                    rows["_side"], rows["_l_id"], rows["_r_id"],
                    rows["_ts"]):
                ts_us = ts.value // 1000
                if side == 0:
                    last = (int(r_id), ts_us)
                elif last is not None:
                    gap = ts_us - last[1]
                    if hz is None or gap <= hz:
                        out.append((key_tuple[0], int(l_id), ts,
                                    last[0],
                                    pd.Timestamp(last[1] * 1000),
                                    gap))
            if last is not None:
                state.update(last)
            yield pd.DataFrame(
                out, columns=[self.args[2], "l_id", "l_ts", "r_id",
                              "r_ts", "gap_us"])

        schema = ("{k} bigint, l_id bigint, l_ts timestamp, "
                  "r_id bigint, r_ts timestamp, gap_us bigint"
                  .format(k=key))
        return u.groupBy(key).applyInPandasWithState(
            update, outputStructType=schema,
            stateStructType="r_id long, r_ts_us long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout)

    def _build(self, ctx):
        from pyspark.sql import Window
        left_b, right_b, key, tc, idc, horizon = self.args
        left = left_b._build(ctx).select(
            F.col(key), F.col(tc).alias("_ts"),
            F.col(idc).alias("_l_id"), F.lit(1).alias("_side"),
            F.lit(None).cast("bigint").alias("_r_id"))
        right = right_b._build(ctx).select(
            F.col(key), F.col(tc).alias("_ts"),
            F.lit(None).cast("bigint").alias("_l_id"),
            F.lit(0).alias("_side"),
            F.col(idc).cast("bigint").alias("_r_id"))
        u = left.unionByName(right)
        if u.isStreaming:
            return self._streaming(u, key, horizon)
        w = (Window.partitionBy(key)
             .orderBy(F.col("_ts").asc(), F.col("_side").asc(),
                      F.coalesce("_r_id", "_l_id").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        carried = (u.withColumn("_last_r_id",
                                F.last("_r_id", ignorenulls=True).over(w))
                   .withColumn("_last_r_ts",
                               F.last(F.when(F.col("_side") == 0,
                                             F.col("_ts")),
                                      ignorenulls=True).over(w)))
        out = (carried.filter((F.col("_side") == 1)
                              & F.col("_last_r_id").isNotNull())
               .select(F.col(key),
                       F.col("_l_id").alias("l_id"),
                       F.col("_ts").alias("l_ts"),
                       F.col("_last_r_id").alias("r_id"),
                       F.col("_last_r_ts").alias("r_ts"),
                       (F.unix_micros("_ts")
                        - F.unix_micros("_last_r_ts")).alias("gap_us")))
        if horizon is not None:
            out = out.filter(
                F.col("r_ts") >= F.col("l_ts") - F.expr(
                    "INTERVAL {}".format(horizon)))
        return out


class StreamingNearDup(Block):
    """Near-duplicate flagging AT INGEST against a static corpus: the
    corpus side materializes MinHash band buckets (the MinHashLSH
    signature pipeline, pipeline/dedup.py — same permutation
    constants, same band slicing); every incoming document computes
    its own signature with the IDENTICAL per-row column math (HOF
    aggregates over shingle hashes — map-side, stateless, streaming-
    legal) and stream-static inner-joins on the (band, signature
    slice) bucket key.  The supported Structured Streaming join shape:
    the static side is re-resolved per microbatch, no stream state at
    all.

    Output: ``doc_id`` (incoming) + ``dup_of`` (corpus id it
    collides with).  Batch runs of the same block emit the DISTINCT
    candidate set; a stream emits one row per colliding band (the
    raw LSH candidate stream — distinct-ness needs state, which this
    block deliberately avoids; compare as sets or dedup downstream).
    """

    def __init__(self, stream, corpus, text_column="text",
                 id_column="doc_id", num_perm=32, bands=8,
                 shingle_size=3, hash_fn="poly"):
        if not isinstance(stream, Block) or not isinstance(corpus, Block):
            raise TypeError("stream/corpus must be Blocks")
        super().__init__(stream, corpus, text_column, id_column,
                         int(num_perm), int(bands), int(shingle_size),
                         hash_fn)

    @property
    def columns(self):
        return {"doc_id", "dup_of"}

    def _build(self, ctx):
        from dask_geomodeling_spark.pipeline.dedup import MinHashLSH
        (stream, corpus, text_column, id_column, num_perm, bands,
         shingle_size, hash_fn) = self.args

        def mk(src):
            return MinHashLSH(src, text_column, id_column, num_perm,
                              bands, shingle_size, verify=False,
                              hash_fn=hash_fn)

        def buckets(sigs):
            rows_per_band = num_perm // bands
            structs = []
            for b in range(bands):
                cols = [F.col("_s{}".format(b * rows_per_band + r))
                        for r in range(rows_per_band)]
                structs.append(F.struct(
                    F.lit(b).alias("band"),
                    F.array(*cols).alias("sig")))
            return sigs.select(
                "_id", F.explode(F.array(*structs)).alias("_b"))

        ssigs, _, _ = mk(stream)._signatures(ctx)
        csigs, _, _ = mk(corpus)._signatures(ctx)
        sb = buckets(ssigs).select(F.col("_id").alias("doc_id"), "_b")
        cb = buckets(csigs).select(F.col("_id").alias("dup_of"),
                                   F.col("_b").alias("_cb"))
        out = (sb.join(cb, sb["_b"] == cb["_cb"])
               .select("doc_id", "dup_of"))
        return out if out.isStreaming else out.distinct()


class RollingEventAggregate(Block):
    """Per-event trailing-interval aggregate (round 10): for every
    event, the statistic over the SAME KEY's events with
    ``ts ∈ [ts − interval, ts]`` (both ends inclusive) — the
    feature-engineering primitive ("clicks by this user in the last
    hour") behind rate features, anomaly baselines and abuse caps.

    Execution: one KEY-PARTITIONED window ordered by event time with a
    ``rangeBetween`` frame on ``unix_micros(ts)`` — group-keyed and
    time-bounded, never a global window; partitions are bounded by the
    hot key's row count (the same documented bound as PerGroupLimit —
    a genuinely pathological key is what the downstream cap consumes
    this feature FOR).  ``sum``/``mean`` accumulate in DECIMAL so
    same-timestamp ties cannot reorder a float sum (§6 rule 11).  On a
    live stream the equivalent is ``RunningAggregate``'s
    watermark-bounded state; this block is the batch/backfill form.

    Output: source columns plus ``rolling`` (double).
    """

    _STATS = ("sum", "count", "min", "max", "mean")

    def __init__(self, source, interval="1 hour", key="user_id",
                 value_column="value", statistic="sum",
                 time_column="ts"):
        if not isinstance(source, Block):
            raise TypeError("'{}' object is not allowed".format(type(source)))
        if statistic not in self._STATS:
            raise ValueError("statistic must be one of {}"
                             .format(self._STATS))
        seconds = _parse_interval_seconds(interval)
        if seconds <= 0:
            raise ValueError("interval must be positive")
        if "rolling" in (getattr(source, "columns", None) or ()):
            raise ValueError(
                "column 'rolling' collides with RollingEventAggregate's"
                " output; rename it upstream")
        super().__init__(source, str(interval), str(key),
                         str(value_column), str(statistic),
                         str(time_column))

    @property
    def columns(self):
        return set(getattr(self.args[0], "columns", None) or ()) \
            | {"rolling"}

    def _build(self, ctx):
        from pyspark.sql import Window
        source, interval, key, value_column, statistic, tcol = self.args
        df = source._build(ctx)
        if df.isStreaming:
            raise ValueError(
                "RollingEventAggregate is the batch/backfill form — "
                "range windows are unsupported on streams; use "
                "RunningAggregate (streaming/stateful.py) for the "
                "live-stream equivalent")
        micros = _parse_interval_seconds(interval) * 1_000_000
        w = (Window.partitionBy(key)
             .orderBy(F.unix_micros(F.col(tcol)))
             .rangeBetween(-micros, 0))
        v = F.col(value_column)
        if statistic == "sum":
            expr = F.sum(v.cast("decimal(28,6)")).over(w).cast("double")
        elif statistic == "mean":
            expr = (F.sum(v.cast("decimal(28,6)")).over(w)
                    .cast("double")
                    / F.count(v).over(w))
        elif statistic == "count":
            expr = F.count(v).over(w).cast("double")
        elif statistic == "min":
            expr = F.min(v).over(w).cast("double")
        else:
            expr = F.max(v).over(w).cast("double")
        return df.withColumn("rolling", expr)


def _parse_interval_seconds(interval):
    """'<n> second|minute|hour|day[s]' → seconds (int)."""
    import re
    m = re.fullmatch(r"\s*(\d+)\s*(second|minute|hour|day)s?\s*",
                     str(interval))
    if not m:
        raise ValueError(
            "interval must look like '30 minutes', got {!r}"
            .format(interval))
    n = int(m.group(1))
    return n * {"second": 1, "minute": 60, "hour": 3600,
                "day": 86400}[m.group(2)]


class StreamingHyperLogLog(Block):
    """Windowed ENGINE-EXACT HyperLogLog distinct counts over an event
    stream (round 12) — "distinct users per hour" at any throughput
    with state bounded by 2^p integers per (window, group), never the
    events.  The batch plan is the identical expression tree, so
    stream==batch parity is the oracle check (the EventAggregate
    convention), and the register math is bit-shared with
    :class:`pipeline.text.HyperLogLog` (``reg_rho``), so the estimate
    matches the batch sketch and the DuckDB replay exactly.

    Streaming constraint that shapes the plan: Structured Streaming
    forbids CHAINED stateful aggregations, so the batch block's
    groupBy(register).max -> groupBy().agg two-step collapses into
    ONE windowed aggregation with 2^p conditional MAX expressions
    (register i's max rho).  That caps ``precision`` at 8 (256
    aggregate columns — compile- and state-bounded); monitoring-grade
    error at p=8 is ~6.5%, p=6 ~13%.  The estimate + the paper's
    small/large-range corrections are a post-aggregation projection.

    Output: ``window_start``, ``by``-columns, ``n_distinct_est``,
    ``n_registers``, ``v_zero``, ``s_scaled`` (the exact scaled
    integer sum — integer-robust comparisons, like the batch block).
    """

    def __init__(self, source, column, frequency="1 hour",
                 precision=6, by=None, time_column="ts",
                 calendar_watermark="10 minutes"):
        if not isinstance(source, Block):
            raise TypeError("'{}' object is not allowed".format(type(source)))
        p = int(precision)
        if not 4 <= p <= 8:
            raise ValueError(
                "precision must be in [4, 8] (2^p aggregate "
                "expressions — one streaming aggregation)")
        super().__init__(source, str(column), str(frequency), p,
                         None if by is None else str(by),
                         str(time_column), str(calendar_watermark))

    def _build(self, ctx):
        from dask_geomodeling_spark.pipeline.text import (HyperLogLog,
                                                          _hll_alpha)
        (source, column, frequency, p, by, time_column,
         calendar_watermark) = self.args
        grp = [by] if by else []
        m = 1 << p
        a_lit = _hll_alpha(m) * m * m * float(2 ** 32)
        df = source._build(ctx)
        rows = HyperLogLog.reg_rho(df, column, p,
                                   keep=grp + [time_column])
        # fixed window() duration OR a calendar date-bucket column
        # ('M'/'Q'/'W-MON'/… — round 15; see _time_grouping)
        rows, group_cols, duration = _time_grouping(
            rows, time_column, frequency, calendar_watermark)
        # ONE aggregation: per-register conditional max (the
        # streaming-legal collapse of the batch two-step)
        aggs = [F.max(F.when(F.col("_reg") == i, F.col("_rho")))
                .alias("_m{}".format(i)) for i in range(m)]
        g = rows.groupBy(*group_cols, *grp).agg(*aggs)
        s_terms = " + ".join(
            "CASE WHEN _m{i} IS NULL THEN {emp} ELSE "
            "shiftleft(CAST(1 AS BIGINT), 32 - _m{i}) END"
            .format(i=i, emp=1 << 32) for i in range(m))
        v_terms = " + ".join(
            "IF(_m{i} IS NULL, 1, 0)".format(i=i) for i in range(m))
        g = (g.withColumn("_s", F.expr(s_terms).cast("bigint"))
             .withColumn("_vz", F.expr(v_terms).cast("bigint")))
        e_raw = F.lit(a_lit) / F.col("_s").cast("double")
        two31 = float(2 ** 31)
        est = F.when((e_raw <= 2.5 * m) & (F.col("_vz") > 0),
                     F.lit(float(m)) * F.log(
                         F.lit(float(m)) / F.col("_vz").cast("double"))) \
               .when(e_raw > two31 / 30.0,
                     -F.lit(two31) * F.log(F.lit(1.0)
                                           - e_raw / F.lit(two31))) \
               .otherwise(e_raw)
        return g.select(
            (F.col("_w.start") if duration else F.col("window_start"))
            .alias("window_start"), *grp,
            F.round(est, 4).alias("n_distinct_est"),
            F.lit(m).cast("bigint").alias("n_registers"),
            F.col("_vz").alias("v_zero"),
            F.col("_s").alias("s_scaled"))

    def start(self, spark=None, path=None, checkpoint=None,
              available_now=False, **request):
        """Run as a streaming query writing to parquet (append mode
        with the watermark set upstream)."""
        return _start_parquet_stream(self.plan(spark, **request),
                                     path, checkpoint, available_now)


class StreamingCountMin(Block):
    """Windowed ENGINE-EXACT Count-Min frequency sketch over an event
    stream (round 13) — "which users/hosts dominate each hour" with
    state bounded by depth·width counters per (window, group), never
    the events: the streaming member of the sketch family beside
    :class:`StreamingHyperLogLog`, bit-shared with the batch
    :class:`pipeline.text.CountMinSketch` (the same BloomFilter
    Mersenne position pipeline), so windows merge with plain counter
    SUM and a DuckDB oracle replays the state integer-exactly.

    Unlike HLL (whose batch two-step had to collapse into conditional
    maxes), the CM sketch's ONE groupBy-count IS already a single
    streaming-legal stateful aggregation, so ``depth``/``width`` keep
    the batch block's full ranges.  The deterministic heavy-hitters
    READOUT (top-k needs a second aggregation + sort) stays a batch/
    downstream step — run :class:`pipeline.text.HeavyHitters` over
    the emitted windows, or merge windows by counter sum first.

    Output: ``window_start``, ``by``-columns, ``row_idx``,
    ``pos_idx``, ``counter`` — one row per NON-ZERO counter per
    watermark-closed window; stream==batch emission is pinned in
    tests/test_streaming.py (the EventAggregate convention)."""

    def __init__(self, source, column, frequency="1 hour", depth=4,
                 width=1024, by=None, time_column="ts",
                 calendar_watermark="10 minutes"):
        # depth default MUST match CountMinSketch's (4): the merge
        # contract is plain counter SUM across stream and batch, so
        # two default-constructed sketches of different depth would
        # misalign rows and corrupt min-over-depth estimates (r13
        # ADVICE fix — the streaming default was 3)
        if not isinstance(source, Block):
            raise TypeError("'{}' object is not allowed".format(type(source)))
        # the batch block's shared validation — one definition, no
        # drift (round-13 review fix replacing a copied check)
        from dask_geomodeling_spark.pipeline.text import CountMinSketch
        d, w = CountMinSketch._validate(depth, width)
        super().__init__(source, str(column), str(frequency), d, w,
                         None if by is None else str(by),
                         str(time_column), str(calendar_watermark))

    def _build(self, ctx):
        from dask_geomodeling_spark.pipeline.text import CountMinSketch
        (source, column, frequency, d, w, by, time_column,
         calendar_watermark) = self.args
        grp = [by] if by else []
        df = source._build(ctx)
        # the BATCH sketch pipeline, grouped by the event-time window
        # (ONE stateful aggregation — streaming-legal in append mode
        # with the source's watermark; sort skipped, illegal on
        # streams): bit-shared by construction.  Calendar aliases bin
        # by the date-bucket columns instead (round 15).
        df, group_cols, duration = _time_grouping(
            df, time_column, frequency, calendar_watermark)
        if duration:
            extra = [(F.window(time_column, duration), "_w")]
            start = F.col("_w.start")
        else:
            extra = [(F.col(c), c) for c in group_cols]
            start = F.col("window_start")
        out = CountMinSketch._sketch(
            df, column, d, w, by, extra_grp=extra, sort=False)
        return out.select(start.alias("window_start"),
                          *grp, "row_idx", "pos_idx", "counter")

    def start(self, spark=None, path=None, checkpoint=None,
              available_now=False, **request):
        """Run as a streaming query writing to parquet (append mode
        with the watermark set upstream)."""
        return _start_parquet_stream(self.plan(spark, **request),
                                     path, checkpoint, available_now)
