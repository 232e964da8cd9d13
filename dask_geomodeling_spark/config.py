"""Engine configuration (reference analogue: dask_geomodeling/config.py,
which uses dask.config). Holds the shared SparkSession and scale-oriented
defaults (AQE, shuffle partitions, Arrow)."""

from __future__ import annotations

import collections
import os
import stat
import threading
import urllib.parse

_spark = None

# the reference keeps these in dask.config (reference config.py:1 —
# 'geomodeling.root' and 'geomodeling.strict-file-paths'); here a
# plain process-local option store with the same keys and defaults
_OPTIONS = {
    "geomodeling.root": None,
    "geomodeling.strict-file-paths": False,
}


def get_option(key):
    """Read a geomodeling.* option (reference: dask config.get)."""
    if key not in _OPTIONS:
        raise KeyError("unknown option {!r}".format(key))
    return _OPTIONS[key]


def set_option(key, value):
    """Set a geomodeling.* option; returns the previous value."""
    if key not in _OPTIONS:
        raise KeyError("unknown option {!r}".format(key))
    old, _OPTIONS[key] = _OPTIONS[key], value
    return old


DEFAULTS = {
    # AQE re-plans shuffles at runtime (skew joins, partition coalescing)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r16 (guide §2.2): size post-shuffle partitions by BYTES (the
    # advisory target) instead of padding them out to the core count —
    # Spark's own recommendation for busy clusters, and the
    # scale-adaptive choice: tiny aggregation outputs coalesce to one
    # task instead of core-count near-empty tasks, while data-sized
    # shuffles keep byte-sized partitions at any scale.  CPU-heavy
    # small-by-bytes Python kernel stages are explicitly protected by
    # user-numbered repartitions (polyclip.kernel_parallelism /
    # config.ensure_min_partitions), which AQE never coalesces.
    # Interleaved A/B over 12 representative queries (tools/ab_conf.py):
    # neutral-to-better everywhere, up to 35% median improvement
    # (corpus_prep_kn 5.09 -> 3.31 s), no regression beyond host noise.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    # Arrow for all pandas-UDF exchange
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # sized for local test SFs; a real cluster overrides via spark-submit
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # driver testdata writes TIMESTAMP(NANOS) parquet which the Spark
    # reader rejects by default; read as long and convert (see
    # read_events_parquet)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timestamp[us] without timezone would otherwise load as
    # TIMESTAMP_NTZ, which half the temporal functions (unix_micros,
    # watermarks) reject — read everything as session-tz TIMESTAMP and
    # pin the session to UTC so wall-clock values match engines that
    # treat the column as naive (the DuckDB oracles)
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


#: most (session, url) relations :func:`read_parquet` keeps; the least
#: recently used one is dropped beyond it
PARQUET_CACHE_ENTRIES = 64

# session options that change the schema or partition values a parquet
# read infers — part of the cache key
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.caseSensitive",
    "spark.sql.files.ignoreCorruptFiles",
    "spark.sql.files.ignoreMissingFiles",
)

_parquet_relations = collections.OrderedDict()
_parquet_lock = threading.Lock()


def _local_parquet_path(url):
    """The absolute local path ``url`` names, or None when the read is
    not cached (another scheme, a relative path or a glob)."""
    if not isinstance(url, str):
        return None
    parsed = urllib.parse.urlparse(url)
    if parsed.scheme == "file":
        path = parsed.path
    elif parsed.scheme == "":
        path = url
    else:
        return None
    if not os.path.isabs(path) or any(c in path for c in "*?[{"):
        return None
    return path


def _path_fingerprint(path):
    """``(relative path, size, mtime_ns)`` of every file under ``path``,
    sorted; None when the path does not exist or changes while it is
    walked."""
    out = []

    def walk(directory, prefix):
        with os.scandir(directory) as it:
            entries = sorted(it, key=lambda e: e.name)
        for e in entries:
            if e.is_dir():
                walk(e.path, prefix + e.name + "/")
            else:
                st = e.stat()
                out.append((prefix + e.name, st.st_size, st.st_mtime_ns))

    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_size, st.st_mtime_ns),)
        walk(path, "")
    except OSError:
        return None
    return tuple(out)


def _fresh_frame(spark, relation):
    """A DataFrame over the resolved ``relation`` with fresh attribute
    ids, so two frames of one cached read can join each other."""
    from pyspark.sql import DataFrame
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, relation.newInstance())
    return DataFrame(jdf, spark)


def read_parquet(spark, url):
    """``spark.read.parquet(url)``, reusing the resolved relation of an
    earlier read of the same local path.

    A plain parquet read lists the files and infers the schema, and each
    costs a Spark job (the listing one only above 32 paths) before any
    plan exists.  For an absolute local path or a ``file:`` URL this
    keeps, per session and URL, the resolved relation: its file index and
    its schema.  The next read reuses it while the path's fingerprint —
    ``(relative path, size, mtime_ns)`` of every file under it, walked
    in this process — is unchanged and the session options that shape the
    inferred schema are the same; it then launches no Spark job.  Any
    rewrite, added or removed file re-reads the path; a missing path is
    read uncached and raises as ``spark.read.parquet`` does.  Every call
    returns a frame with fresh attribute ids, so reads of one URL can be
    self-joined.  Other schemes (``hdfs:``, ``s3a:`` …), relative paths
    and globs are not cached and keep the plain read.  At most
    :data:`PARQUET_CACHE_ENTRIES` relations are kept."""
    path = _local_parquet_path(url)
    if path is None:
        return spark.read.parquet(url)
    key = (id(spark), url, tuple(spark.conf.get(k, None)
                                 for k in _PARQUET_SCHEMA_CONFS))
    fingerprint = _path_fingerprint(path)
    with _parquet_lock:
        entry = _parquet_relations.get(key)
        if entry is not None and fingerprint is not None \
                and entry[1] == fingerprint:
            _parquet_relations.move_to_end(key)
            relation = entry[2]
        else:
            relation = None
            _parquet_relations.pop(key, None)
    if relation is not None:
        return _fresh_frame(spark, relation)
    df = spark.read.parquet(url)
    if fingerprint is not None:
        # the fingerprint was taken before the read: a rewrite racing
        # it leaves an entry the next read sees as stale
        relation = df._jdf.queryExecution().analyzed()
        with _parquet_lock:
            # the session is kept in the entry so its id is not reused
            _parquet_relations[key] = (spark, fingerprint, relation)
            _parquet_relations.move_to_end(key)
            while len(_parquet_relations) > PARQUET_CACHE_ENTRIES:
                _parquet_relations.popitem(last=False)
    return df


def read_nanos_parquet(spark, url, time_column="ts"):
    """Read parquet whose time column is TIMESTAMP(NANOS) — Spark has no
    nanos timestamp type, so read nanos-as-long and convert to
    microsecond timestamps.  Runtime-settable, so it also works on an
    externally provided SparkSession.

    The read goes through :func:`read_parquet`: the file listing and
    schema of a local path are reused until a file under it changes;
    other schemes are read anew every time."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled",
                       "false")
    except Exception:
        pass
    df = read_parquet(spark, url)
    # an externally configured session may still have inferred NTZ —
    # normalize every temporal column to session-tz TIMESTAMP so the
    # whole engine sees one timestamp type
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    if time_column in df.columns and isinstance(
            df.schema[time_column].dataType, T.LongType):
        # integer division: float division would round-trip the nanos
        # through double (53-bit mantissa) and drift ±1 µs vs engines
        # that truncate exactly
        df = df.withColumn(
            time_column,
            F.timestamp_micros(F.expr(
                "`{c}` div 1000".format(c=time_column))))
    return df


def ensure_min_partitions(df, spark=None, min_partitions=None):
    """Round-robin repartition ``df`` when its scan produces fewer
    partitions than the session's cores.

    Parquet splits are row-group-granular: a small file holds ONE row
    group, so however many byte-splits the scheduler makes, only one
    task yields rows — and a CPU-heavy per-row pipeline (curation
    HOFs, codecs, tokenizers) runs single-core.  One bounded shuffle
    of the (small) input right after the scan unlocks the other
    cores.  At cluster scale inputs carry many row groups, the
    partition count exceeds the core count, and this is a no-op —
    the check is driver-side plan inspection only."""
    if spark is None:
        spark = get_spark()
    if min_partitions is None:
        min_partitions = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_partitions:
        return df.repartition(min_partitions)
    return df


def set_spark(spark):
    global _spark
    _spark = spark


def utc_epoch_days(t):
    """Column: UTC calendar day count of timestamp ``t`` —
    SESSION-timezone independent (``F.to_date``/``F.year`` on
    timestamps render through ``spark.sql.session.timeZone``, so an
    externally configured non-UTC session silently shifts them; the
    r14 review found this in calendar binning AND the date-partition
    write/read pair).  floor(micros/day) via ``pmod`` is sign-safe
    pre-1970, and the division of exact day-multiples is exact in
    double for any int64 micros."""
    from pyspark.sql import functions as F
    day_us = F.lit(86400000000)
    um = F.unix_micros(t)
    return ((um - F.pmod(um, day_us)) / day_us).cast("int")


def utc_date(t):
    """Column: the UTC calendar DATE of timestamp ``t`` (the
    session-timezone-independent ``to_date``) — see
    :func:`utc_epoch_days`."""
    from pyspark.sql import functions as F
    return F.date_add(F.lit("1970-01-01").cast("date"),
                      utc_epoch_days(t))


def strip_plan_stats(df):
    """Re-root a (materialized, e.g. localCheckpoint-ed) DataFrame on
    its own RDD with FRESH default statistics — round-10 discovery:
    ``localCheckpoint`` CARRIES the source plan's computed
    ``sizeInBytes`` into the LogicalRDD, so an iterative
    join-checkpoint loop SQUARES the statistic every round; by round
    ~20 the BigInteger has millions of digits and Catalyst's stats
    visitor dominates wall-clock (measured: pointer-doubling rounds
    growing 2.5×/round on constant data).  Same JVM RDD, zero data
    movement; falls back to the input if the internal API moves."""
    from pyspark.sql import DataFrame
    try:
        jdf = df._jdf
        rdd = jdf.queryExecution().toRdd()
        jspark = df.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(rdd, jdf.schema(),
                                                 False)
        return DataFrame(new_jdf, df.sparkSession)
    except Exception:       # pragma: no cover - API drift safety net
        return df


def get_spark():
    """Return the configured SparkSession, creating a local one if needed."""
    global _spark
    if _spark is not None:
        return _spark
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        _spark = active
        return _spark
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (SparkSession.builder.master(f"local[{cpus}]")
               .appName("dask-geomodeling-spark"))
    for k, v in DEFAULTS.items():
        builder = builder.config(k, v)
    _spark = builder.getOrCreate()
    return _spark
