"""Deduplication operators (SURVEY.md §2 'LLM-data-pipeline extensions').

Scale design: every method avoids driver-side pair enumeration.  Exact
dedup is one hash aggregation; MinHash/SimHash build signatures **per row
with higher-order functions** (no shuffle, no UDF) and find candidates by
band-bucket self-join — the classic LSH plan whose join keys are uniform
by construction; n-gram Jaccard uses an inverted-index join.  All hashes
are pure integer arithmetic (deterministic across engines and runs).
"""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_geomodeling_spark.config import read_parquet
from dask_geomodeling_spark.core.blocks import Block
from dask_geomodeling_spark.geometry.base import BaseSingle

__all__ = ["ExactDedup", "MinHashLSH", "SimHash", "NgramJaccard",
           "EmbeddingDedup", "SemDedup", "DedupClusters",
           "ClusterRepresentative", "FuzzyDedup", "WinnowingFingerprint",
           "ngram_regex_expr", "RepeatedSpans", "RemoveRepeatedSpans",
           "FingerprintTableSink"]

#: edge count at or below which connected components (the star
#: rounds of DedupClusters, RasterComponents, SieveFilter and
#: ClusterDBSCAN) label driver-side with an exact union-find — ~1 MB of
#: pairs replaces ~6 s of per-round scheduling floor on tiny graphs,
#: while anything data-sized keeps the O(log²)-round distributed path;
#: the request's ``driver_threshold`` overrides it
STAR_DRIVER_EDGES = 65536

# 31-bit Mersenne prime: (a*h + b) stays < 2^62 under ANSI overflow checks
MERSENNE = (1 << 31) - 1


def _perm_constants(num_perm, seed=42):
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE), rng.randrange(0, MERSENNE))
            for _ in range(num_perm)]


def ngram_regex_expr(column, n, distinct=True):
    """Word n-gram array of a text column via ONE overlapping-match
    regex: whitespace-normalize, then a zero-width lookahead capture at
    every word start (``(?<=^)|(?<= )``) pulls each n-word window.

    Same gram multiset as the transform/slice higher-order-function
    build (documents shorter than ``n`` words contribute their whole
    normalized text), but regexp/string expressions stay inside
    whole-stage codegen where HOFs are interpreted — ~3.5x faster per
    scan — and it remains map-side-only (the codegen-friendly
    alternative, a posexplode + window-lead build, would shuffle every
    word of the corpus)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(column))), r"\s+", " ")
    pat = r"(?:(?<=^)|(?<= ))(?=((?:\S+ ){%d}\S+))" % (int(n) - 1)
    # the short-doc branch must also catch EMPTY docs at n=1:
    # split('', ' ') has size 1 (not < 1), and the regex matches
    # nothing, so empty documents silently shingled to [] at n=1 but
    # to [''] at n>=2 — inconsistent across n AND diverging from the
    # oracle convention (two empty docs are jaccard-1.0 duplicates);
    # round-12 randomized-hunt fix
    grams = F.when((F.size(F.split(norm, " ")) < int(n))
                   | (norm == ""), F.array(norm)) \
        .otherwise(F.regexp_extract_all(norm, F.lit(pat), 1))
    return F.array_distinct(grams) if distinct else grams


def poly_hash_expr(col_sql, base=257, mod=MERSENNE):
    """Rolling polynomial hash of a string column (SQL snippet) — pure
    integer arithmetic, so any ANSI-SQL engine reproduces it exactly
    (each step stays < 2^40, safe under ANSI overflow checks)."""
    return ("aggregate(transform(split({col}, ''), ch -> "
            "cast(ascii(ch) as bigint)), cast(0 as bigint), "
            "(acc, code) -> pmod(acc * {base} + code, {mod}))"
            .format(col=col_sql, base=base, mod=mod))


class ExactDedup(BaseSingle):
    """Exact deduplication by content hash — one aggregation.

    Returns one surviving row per distinct key (lowest id wins) with the
    duplicate-group size.  Output columns: ``<id_column>``, ``dup_count``.
    """

    def __init__(self, source, columns=("text",), id_column="doc_id"):
        super().__init__(source, list(columns), id_column)

    @property
    def columns(self):
        return {self.args[2], "dup_count"}

    def _build(self, ctx):
        df = self.source._build(ctx)
        keys = [F.col(c) for c in self.args[1]]
        idc = self.args[2]
        return (df.groupBy(*keys)
                .agg(F.min(idc).alias(idc),
                     F.count(F.lit(1)).alias("dup_count"))
                .select(idc, "dup_count"))


class LineDedup(BaseSingle):
    """Exact line-level deduplication (the RefinedWeb / CCNet recipe):
    drop every line whose exact text occurs in more than
    ``max_doc_freq`` distinct documents — boilerplate (navigation,
    cookie banners, footers) repeats across pages while real prose
    does not — and rebuild each document from its surviving lines in
    original order.

    Plan shape (scale-safe):
      1. ``posexplode(split(text))`` — map-side;
      2. line → distinct-document frequency: one aggregation on the
         line key (near-uniform: boilerplate lines are many distinct
         strings, not one hot key);
      3. equi-join the frequency back, keep rare lines;
      4. one re-group per document reassembles the text
         (``array_sort`` on (pos, line) structs + ``array_join``).
    ``hashed=True`` switches steps 2-3 to ``xxhash64(line)`` keys —
    8-byte shuffles instead of line strings (the right trade on a
    network-bound cluster; a 64-bit collision can only over-delete a
    line, same contract as Decontaminate's hashed mode).

    Output: source columns with ``column`` rewritten (documents whose
    every line was boilerplate become ``""``) + ``n_removed_lines``.
    NULL-text rows pass through unchanged with ``n_removed_lines = 0``
    — they carry no lines, so nothing can be removed.
    """

    def __init__(self, source, column="text", id_column="doc_id",
                 delimiter="\n", max_doc_freq=1, hashed=False):
        super().__init__(source, column, id_column, delimiter,
                         int(max_doc_freq), bool(hashed))

    @property
    def columns(self):
        return set(self.source.columns) | {"n_removed_lines"}

    def _build(self, ctx):
        _, column, idc, delim, max_df, hashed = self.args
        df = self.source._build(ctx)
        # split() treats the delimiter as a Java regex; escape literals
        import re as _re
        pat = _re.escape(delim)
        lines = df.select(
            F.col(idc),
            F.posexplode(F.split(F.col(column), pat))
            .alias("_pos", "_line"))
        key = F.xxhash64("_line").alias("_k") if hashed \
            else F.col("_line").alias("_k")
        keyed = lines.select(idc, "_pos", "_line", key)
        freq = (keyed.groupBy("_k")
                .agg(F.countDistinct(idc).alias("_df")))
        kept = (keyed.join(freq, "_k")
                .filter(F.col("_df") <= max_df))
        rebuilt = kept.groupBy(idc).agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list("
                       "struct(_pos, _line))), s -> s._line)"),
                delim).alias("_newtext"),
            F.count(F.lit(1)).alias("_kept"))
        out = (df.withColumn("_ntotal",
                             F.size(F.split(F.col(column), pat)))
               .join(rebuilt, idc, "left"))
        return (out
                .withColumn(
                    "n_removed_lines",
                    F.when(F.col(column).isNull(), F.lit(0))
                    .otherwise(F.col("_ntotal")
                               - F.coalesce(F.col("_kept"), F.lit(0)))
                    .cast("bigint"))
                .withColumn(
                    column,
                    F.when(F.col(column).isNull(),
                           F.lit(None).cast("string"))
                    .otherwise(F.coalesce("_newtext", F.lit(""))))
                .drop("_newtext", "_kept", "_ntotal"))


class MinHashLSH(BaseSingle):
    """MinHash + banded LSH near-duplicate candidate pairs.

    Pipeline (all JVM-side):
      1. per row: distinct word ``shingle_size``-grams via higher-order
         functions (map-side, no shuffle);
      2. per row: ``num_perm`` minhashes — min over shingles of
         ``(a_i * h + b_i) mod M`` where ``h = xxhash64(shingle)``;
      3. signatures split into ``bands``; candidates = pairs sharing any
         (band_id, band_signature) bucket → ONE self-join on uniform keys;
      4. optional exact-Jaccard verification of candidates via
         ``array_intersect`` on the shingle arrays.

    Output: ``id_a``, ``id_b`` (id_a < id_b) distinct candidate pairs,
    with ``jaccard`` when ``verify=True``.

    ``against=<url>`` (round 11 — the production CommonCrawl-snapshot
    shape): instead of the self-join, the source rows (the NEW batch)
    LSH-join the SAVED signature table a :class:`FingerprintTableSink`
    wrote at ``url`` — the corpus is never re-fingerprinted or even
    re-read beyond its (narrow) signature table.  Output then is
    ``id_a`` = saved-corpus id, ``id_b`` = new-batch id (self-pairs on
    a shared id space are dropped); ``num_perm``/``bands``/
    ``shingle_size``/``hash_fn`` must match the sink's (a mismatched
    ``num_perm`` fails fast on the saved schema).  The
    StreamingNearDup stream-static pattern, batch form.
    """

    def __init__(self, source, text_column="text", id_column="doc_id",
                 num_perm=32, bands=8, shingle_size=3, verify=True,
                 threshold=0.0, hash_fn="xxhash64", against=None):
        if num_perm % bands != 0:
            raise ValueError("num_perm must be divisible by bands")
        if hash_fn not in ("xxhash64", "poly"):
            raise ValueError("hash_fn must be 'xxhash64' or 'poly'")
        super().__init__(source, text_column, id_column, num_perm, bands,
                         shingle_size, verify, float(threshold), hash_fn,
                         None if against is None else str(against))

    @property
    def columns(self):
        return {"id_a", "id_b", "jaccard"} if self.args[6] else \
            {"id_a", "id_b"}

    def _signatures(self, ctx):
        (_, text_column, id_column, num_perm, bands, shingle_size,
         _, _, hash_fn) = self.args[:9]
        df = self.source._build(ctx)
        if hash_fn == "xxhash64":
            # regex gram build (ngram_regex_expr): identical shingle
            # strings as the HOF template, so identical hashes — but
            # the build stays in whole-stage codegen
            df = df.withColumn(
                "_sh", ngram_regex_expr(text_column, max(shingle_size, 1)))
            hash_sql = ("transform(_sh, s -> pmod(xxhash64(s), {m}))"
                        .format(m=MERSENNE))
        else:
            df = df.withColumn("_tokens",
                               F.split(F.trim(F.lower(F.col(text_column))),
                                       r"\s+"))
            # arithmetic scheme, reproducible on ANY ANSI-SQL engine:
            # 1. each token hashed ONCE by rolling char hash;
            # 2. a shingle hash folds its n token hashes with base 8191
            # — no shingle strings are ever built, and the downstream
            # jaccard intersects int arrays instead of strings
            th = "transform(_tokens, t -> {h})".format(h=poly_hash_expr("t"))
            df = df.withColumn("_th", F.expr(th))
            if shingle_size <= 1:
                hash_sql = "array_distinct(_th)"
            else:
                hash_sql = (
                    "array_distinct(transform("
                    "sequence(1, greatest(size(_th) - {n} + 1, 1)), "
                    "i -> aggregate(slice(_th, i, {n}), cast(0 as bigint), "
                    "(acc, h) -> pmod(acc * 8191 + h, {m}))))"
                    .format(n=shingle_size, m=MERSENNE))
        df = df.withColumn("_hashes", F.expr(hash_sql))
        sig_cols = []
        for i, (a, b) in enumerate(_perm_constants(num_perm)):
            sig_cols.append(F.expr(
                "aggregate(_hashes, cast({m} as bigint), (acc, h) -> "
                "least(acc, pmod({a} * h + {b}, {m})))"
                .format(a=a, b=b, m=MERSENNE)).alias("_s{}".format(i)))
        return df.select(F.col(id_column).alias("_id"),
                         F.col("_hashes").alias("_shingles"),
                         *sig_cols), num_perm, bands

    @staticmethod
    def _band_structs(num_perm, bands):
        """Band bucket keys: the raw signature slice per band (no
        re-hash — collision-free and engine-independent)."""
        rows_per_band = num_perm // bands
        out = []
        for b in range(bands):
            cols = [F.col("_s{}".format(b * rows_per_band + r))
                    for r in range(rows_per_band)]
            out.append(F.struct(F.lit(b).alias("band"),
                                F.array(*cols).alias("sig")))
        return out

    def _build_against(self, ctx, url):
        """Incremental mode: the new batch's buckets probe the saved
        signature table's buckets — ONE equi-join on the (band, slice)
        key; the corpus text is never touched."""
        (_, _, _, num_perm, bands, shingle_size, _, _,
         hash_fn) = self.args[:9]
        sigs, _, _ = self._signatures(ctx)
        # NOT persisted (round-12 persist-lifecycle fix): sigs appears
        # twice in the DAG (band probe + verify shingles), so the NEW
        # batch is scanned twice per materialization — the batch is
        # the small side of the production asymmetry (a snapshot
        # probing a 10×+ saved corpus table), and a second pruned scan
        # of it beats leaking one data-sized cache per plan() call
        # that the operator can never free.  Executor storage after
        # plan() is EMPTY (pinned by
        # tests/test_explain_plans.py::test_against_lsh_leaves_no_storage).
        saved = read_parquet(ctx.spark, url)
        want = {"_id", "_shingles"} | {
            "_s{}".format(i) for i in range(num_perm)}
        if not want <= set(saved.columns) \
                or "_s{}".format(num_perm) in saved.columns:
            raise ValueError(
                "fingerprint table at {} does not match num_perm={} "
                "(columns: {})".format(url, num_perm,
                                       sorted(saved.columns)))
        # the meta table catches what the column check cannot:
        # hash_fn / shingle_size mismatches leave the schema identical
        # but put the two sides in different hash spaces.  bands is
        # deliberately NOT validated — banding re-slices the raw
        # signature columns reader-side on BOTH join sides, so probing
        # a 8-band table with 4 bands is legal recall tuning
        meta = FingerprintTableSink.read_meta(ctx.spark, url)
        if meta is not None and \
                (meta[0], meta[2], meta[3]) != (num_perm, shingle_size,
                                                hash_fn):
            raise ValueError(
                "fingerprint table at {} was written with (num_perm, "
                "bands, shingle_size, hash_fn)={} — this MinHashLSH "
                "has ({}, {}, {}, {})".format(
                    url, tuple(meta), num_perm, bands, shingle_size,
                    hash_fn))
        bs = self._band_structs(num_perm, bands)
        new_b = sigs.select(
            F.col("_id").alias("id_b"),
            F.explode(F.array(*bs)).alias("_bb"))
        old_b = saved.select(
            F.col("_id").alias("id_a"),
            F.explode(F.array(*bs)).alias("_ba"))
        pairs = (old_b.join(new_b,
                            (old_b["_ba"] == new_b["_bb"])
                            & (old_b["id_a"] != new_b["id_b"]))
                 .select("id_a", "id_b").distinct())
        if not self.args[6]:
            return pairs
        sh_a = saved.select(F.col("_id").alias("id_a"),
                            F.col("_shingles").alias("_sh_a"))
        sh_b = sigs.select(F.col("_id").alias("id_b"),
                           F.col("_shingles").alias("_sh_b"))
        pairs = pairs.join(sh_a, "id_a").join(sh_b, "id_b")
        inter = F.size(F.array_intersect("_sh_a", "_sh_b")) \
            .cast("double")
        union = (F.size("_sh_a") + F.size("_sh_b")
                 - F.size(F.array_intersect("_sh_a", "_sh_b")))
        out = pairs.select("id_a", "id_b",
                           (inter / union).alias("jaccard"))
        if self.args[7] > 0:
            out = out.filter(F.col("jaccard") >= self.args[7])
        return out

    def _build(self, ctx):
        against = self.args[9] if len(self.args) > 9 else None
        if against is not None:
            return self._build_against(ctx, against)
        sigs, num_perm, bands = self._signatures(ctx)
        # the signature table feeds the band join twice and the verify
        # join twice — persist it (MEMORY_AND_DISK) instead of
        # recomputing the shingle+hash scan per use; at 100 TB this is
        # the standard "materialize the signature table" step.
        # DOCUMENTED session-lifetime cache (SURVEY §6 rule 9): the
        # returned plan references this frame in four places, so the
        # operator cannot free it; callers running many corpus-mode
        # builds in one session should checkpoint+unpersist the
        # superseded result, or use FingerprintTableSink to make the
        # materialization explicit and disk-backed.
        sigs = sigs.persist()
        band_structs = self._band_structs(num_perm, bands)
        # the bucket join carries only (id, band-key); the (wide) shingle
        # arrays are joined back AFTER pair dedup — smaller shuffles
        buckets = sigs.select(
            "_id", F.explode(F.array(*band_structs)).alias("_b"))
        left = buckets.select(F.col("_id").alias("id_a"),
                              F.col("_b").alias("_ba"))
        right = buckets.select(F.col("_id").alias("id_b"),
                               F.col("_b").alias("_bb"))
        pairs = (left.join(right,
                           (left["_ba"] == right["_bb"])
                           & (left["id_a"] < right["id_b"]))
                 .select("id_a", "id_b").distinct())
        if not self.args[6]:
            return pairs
        sh_a = sigs.select(F.col("_id").alias("id_a"),
                           F.col("_shingles").alias("_sh_a"))
        sh_b = sigs.select(F.col("_id").alias("id_b"),
                           F.col("_shingles").alias("_sh_b"))
        pairs = pairs.join(sh_a, "id_a").join(sh_b, "id_b")
        inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
        union = (F.size("_sh_a") + F.size("_sh_b")
                 - F.size(F.array_intersect("_sh_a", "_sh_b")))
        jac = (inter / union).alias("jaccard")
        out = pairs.select("id_a", "id_b", jac)
        if self.args[7] > 0:
            out = out.filter(F.col("jaccard") >= self.args[7])
        return out


class FingerprintTableSink(BaseSingle):
    """Materialize a corpus's MinHash SIGNATURE TABLE for incremental
    dedup (round 11): one narrow row per document — ``_id``,
    ``_shingles`` (the distinct shingle hashes, for exact-Jaccard
    verification) and ``_s0.._s{num_perm-1}`` — written as parquet at
    ``url``.  ``MinHashLSH(new_batch, against=url, ...)`` then
    LSH-joins a NEW batch against the saved table WITHOUT
    re-fingerprinting (or re-reading) the corpus: the production
    snapshot-over-snapshot CommonCrawl shape, where each monthly crawl
    dedups against everything already ingested and then appends its
    own signatures.

    The signature pipeline is exactly :meth:`MinHashLSH._signatures`
    (same permutation constants, same band slicing), so saved and
    fresh signatures are bit-identical for identical text.  Use
    ``mode="append"`` to grow the table batch over batch.

    COMPAT NOTE (round 12): the n-gram builder's empty-document
    convention changed — EMPTY documents now shingle to [''] at every
    shingle_size (previously [] at shingle_size=1 only), so a table
    written BEFORE this change with ``shingle_size=1`` stores empty
    docs under the old sentinel signature and will not bucket them
    against post-change empties.  Rewrite such tables with
    ``mode='overwrite'`` (tables at shingle_size >= 2, and all tables
    without empty documents, are unaffected).

    A one-row META table at ``<url>_meta`` records (num_perm, bands,
    shingle_size, hash_fn); appends and ``against=`` reads validate
    against it and FAIL FAST on any mismatch (round-11 review fix —
    column sets are identical across ``hash_fn``/``shingle_size``
    choices, so without the meta a mismatched append would silently
    put two incompatible hash spaces in one table and duplicates
    against the older batch would never be found).
    """

    def __init__(self, source, url, text_column="text",
                 id_column="doc_id", num_perm=32, bands=8,
                 shingle_size=3, hash_fn="xxhash64"):
        if not isinstance(url, str):
            raise TypeError("url must be a string")
        if num_perm % bands != 0:
            raise ValueError("num_perm must be divisible by bands")
        super().__init__(source, url, text_column, id_column,
                         int(num_perm), int(bands), int(shingle_size),
                         hash_fn)

    @property
    def columns(self):
        _, _, _, _, num_perm = self.args[:5]
        return {"_id", "_shingles"} | {
            "_s{}".format(i) for i in range(num_perm)}

    def _lsh(self):
        (source, _, text_column, id_column, num_perm, bands,
         shingle_size, hash_fn) = self.args
        return MinHashLSH(source, text_column, id_column, num_perm,
                          bands, shingle_size, verify=False,
                          hash_fn=hash_fn)

    def _build(self, ctx):
        sigs, _, _ = self._lsh()._signatures(ctx)
        return sigs

    @staticmethod
    def read_meta(spark, url):
        """The saved (num_perm, bands, shingle_size, hash_fn) tuple,
        or None when the meta table does not EXIST (tables written
        before the meta convention).  Only the missing-path
        AnalysisException maps to None — a transient read error must
        propagate, not silently disable the hash-space guard
        (round-11 second-pass review).  An EMPTY meta table is
        neither: it is the deliberate tombstone a param-changing
        ``mode='overwrite'`` writes before rewriting the data, so a
        crash mid-rewrite must FAIL both appends and ``against=``
        probes instead of reading as a guard-free legacy table
        (round-12 review fix — the legacy allowance would otherwise
        silently probe a half-rewritten hash space)."""
        from pyspark.errors import AnalysisException
        try:
            rows = read_parquet(spark, url + "_meta").collect()
        except AnalysisException:
            return None
        if not rows:
            raise ValueError(
                "fingerprint table at {} has an EMPTY meta table — a "
                "param-changing overwrite was interrupted before the "
                "data rewrite finished; rewrite the table with "
                "mode='overwrite'".format(url))
        row = rows[0]
        return (row["num_perm"], row["bands"], row["shingle_size"],
                row["hash_fn"])

    @staticmethod
    def _exists(spark, url):
        from pyspark.errors import AnalysisException
        try:
            read_parquet(spark, url)
            return True
        except AnalysisException:
            return False

    def write(self, spark=None, mode="overwrite", **request):
        """Write the signature table.  Only ``overwrite`` and
        ``append`` are supported — modes whose data write can
        silently no-op (``ignore``) would let the meta stamp certify
        parameters the table does not have."""
        if mode not in ("overwrite", "append"):
            raise ValueError(
                "mode must be 'overwrite' or 'append', got {!r}"
                .format(mode))
        df = self.plan(spark, **request)
        url = self.args[1]
        _, _, _, _, num_perm, bands, shingle_size, hash_fn = self.args
        mine = (num_perm, bands, shingle_size, hash_fn)
        spark = df.sparkSession
        if mode == "append":
            saved = self.read_meta(spark, url)
            if saved is not None:
                # bands is reader-side re-slicing of the raw
                # signature columns — probing or appending with a
                # different band count is legal; only the hash-space
                # parameters must match
                if (saved[0], saved[2], saved[3]) != \
                        (num_perm, shingle_size, hash_fn):
                    raise ValueError(
                        "fingerprint table at {} was written with "
                        "(num_perm, bands, shingle_size, hash_fn)={} "
                        "— this sink has {}; appending would mix "
                        "incompatible hash spaces"
                        .format(url, tuple(saved), mine))
            elif self._exists(spark, url):
                # a pre-meta legacy table: refuse to certify the
                # whole (possibly mixed) table with THIS batch's
                # parameters (round-11 second-pass review)
                raise ValueError(
                    "fingerprint table at {} has no meta table — "
                    "cannot verify its parameters before appending; "
                    "rewrite it with mode='overwrite'".format(url))
        meta_schema = ("num_perm int, bands int, shingle_size int, "
                       "hash_fn string")
        if mode == "overwrite" and self._exists(spark, url + "_meta"):
            # invalidate the OLD meta before rewriting the data
            # (round-12 advice fix): if the data rewrite below changes
            # the hash-space parameters and then the final meta write
            # fails, a surviving old meta would certify the WRONG hash
            # space and later appends / against= probes would validate
            # against it — the exact silent-mixed-hash-space failure
            # the meta table exists to prevent.  An EMPTY meta is the
            # interrupted-overwrite TOMBSTONE: read_meta raises on it,
            # so a partial failure fails BOTH appends and against=
            # probes until a fresh overwrite completes.
            spark.createDataFrame([], meta_schema).write \
                .mode("overwrite").format("parquet") \
                .save(url + "_meta")
        df.write.mode(mode).format("parquet").save(url)
        spark.createDataFrame(
            [mine], meta_schema).write.mode("overwrite") \
            .format("parquet").save(url + "_meta")
        return url


class SimHash(BaseSingle):
    """64-bit SimHash signatures + near-duplicate pairs.

    The signature is computed per row with higher-order functions: each
    token votes ±1 on each bit of ``xxhash64(token)``; the sign of the
    tally sets the output bit.  Near-dup candidates share one of 4
    16-bit bands (pigeonhole: hamming distance ≤ 3 guarantees a shared
    band).  Output: ``id_a``, ``id_b``, ``hamming``.
    """

    def __init__(self, source, text_column="text", id_column="doc_id",
                 max_hamming=3, hash_fn="xxhash64"):
        if hash_fn not in ("xxhash64", "poly"):
            raise ValueError("hash_fn must be 'xxhash64' or 'poly'")
        super().__init__(source, text_column, id_column, int(max_hamming),
                         hash_fn)

    @property
    def columns(self):
        return {"id_a", "id_b", "hamming"}

    def signatures(self, ctx):
        _, text_column, id_column, _, hash_fn = self.args
        df = self.source._build(ctx)
        tokens = F.array_distinct(
            F.split(F.trim(F.lower(F.col(text_column))), r"\s+"))
        # explode + conditional aggregation: the whole tally stays in
        # whole-stage codegen (a nested higher-order fold over 64 bits
        # per token is interpreted and ~20x slower)
        tok = df.select(F.col(id_column).alias("_id"),
                        F.explode(tokens).alias("t"))
        if hash_fn == "xxhash64":
            token_hash = "xxhash64(t)"
        else:
            # 62-bit arithmetic hash: two independent 31-bit rolling
            # hashes combined — reproducible on any ANSI-SQL engine
            token_hash = "({h1} * cast({m} as bigint) + {h2})".format(
                h1=poly_hash_expr("t"), h2=poly_hash_expr("t", base=131),
                m=MERSENNE)
        tok = tok.withColumn("_h", F.expr(token_hash))
        votes = [
            F.sum(F.when(
                F.expr("(shiftright(_h, {b}) & 1) = 1".format(b=b)),
                F.lit(1)).otherwise(F.lit(-1))).alias("_v{}".format(b))
            for b in range(64)]
        g = tok.groupBy("_id").agg(*votes)
        sig = None
        for b in range(64):
            # shiftleft wraps bit 63 into the sign bit (two's complement);
            # summing distinct powers is carry-free, so sum == bitwise OR
            bit = F.when(F.col("_v{}".format(b)) > 0,
                         F.expr("shiftleft(cast(1 as bigint), {b})"
                                .format(b=b))) \
                .otherwise(F.lit(0).cast("bigint"))
            sig = bit if sig is None else sig + bit
        return g.select("_id", sig.alias("simhash"))

    def _build(self, ctx):
        # both sides of the band self-join read the signatures
        sigs = self.signatures(ctx).persist()
        bands = []
        for b in range(4):
            bands.append(F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * 16)
                .bitwiseAND(F.lit(0xFFFF)).alias("sig")))
        buckets = sigs.select("_id", "simhash",
                              F.explode(F.array(*bands)).alias("_b"))
        left = buckets.select(F.col("_id").alias("id_a"),
                              F.col("simhash").alias("_ha"),
                              F.col("_b").alias("_ba"))
        right = buckets.select(F.col("_id").alias("id_b"),
                               F.col("simhash").alias("_hb"),
                               F.col("_b").alias("_bb"))
        pairs = (left.join(right, (left["_ba"] == right["_bb"])
                           & (left["id_a"] < right["id_b"]))
                 .dropDuplicates(["id_a", "id_b"]))
        hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
        return (pairs.select("id_a", "id_b", hamming.alias("hamming"))
                .filter(F.col("hamming") <= self.args[3])
                .withColumn("hamming", F.col("hamming").cast("bigint")))


class NgramJaccard(BaseSingle):
    """Exact n-gram Jaccard similarity via **prefix filtering**
    (PPJoin-style): for jaccard ≥ t, two docs must share a gram within
    the first ``|A| − ⌈t·|A|⌉ + 1`` grams when grams are globally
    ordered rarest-first — so only those prefix grams enter the
    inverted-index join.  That bounds the candidate blow-up that plain
    gram joins suffer on frequent grams (stopword n-grams join k² pairs
    each) while keeping the result EXACTLY equal to the brute-force
    all-pairs answer.  Candidates then verify with one
    ``array_intersect`` on the full shingle sets.

    jaccard = |A∩B| / (|A| + |B| − |A∩B|) over distinct word n-grams.
    Output: ``id_a``, ``id_b``, ``jaccard`` (≥ ``threshold``).

    NOTE for repeated-``plan()`` callers (r16, round-15 advice — the
    ClusterDBSCAN round-13 convention): the returned plan reads two
    executor-storage caches (the shingled corpus and the prefix
    index) that must outlive the plan, so each superseded ``plan()``
    of the same block leaves those caches behind — unpersist
    superseded results or reuse the returned DataFrame in long-lived
    sessions.
    """

    def __init__(self, source, text_column="text", id_column="doc_id",
                 n=3, threshold=0.5):
        super().__init__(source, text_column, id_column, int(n),
                         float(threshold))

    @property
    def columns(self):
        return {"id_a", "id_b", "jaccard"}

    def _build(self, ctx):
        _, text_column, id_column, n, threshold = self.args
        df = self.source._build(ctx)
        sh = ngram_regex_expr(text_column, max(n, 1))
        docs = df.select(F.col(id_column).alias("_id"), sh.alias("_sh"))
        docs = docs.withColumn("_n", F.size("_sh"))
        # the shingled corpus feeds the inverted index AND both sides of
        # the verify join — persist beats recomputing the shingle scan
        # 3-4x (at scale: materialize the shingle table once)
        docs = docs.persist()
        # the inverted index carries xxhash64(gram), not the gram string:
        # every index-side shuffle (df count, freq join, prefix window,
        # band self-join) moves fixed 8-byte keys instead of ~n-word
        # strings (~20% local, bigger on a network-bound cluster).  A
        # hash collision merges two grams in the index, which can only
        # ADD candidate pairs — the verify join below intersects the
        # REAL string shingle sets, so the output stays provably equal
        # to brute force.
        inv = docs.select("_id", "_n", F.explode("_sh").alias("_gs")) \
                  .select("_id", "_n", F.xxhash64("_gs").alias("_g"))
        if threshold > 0:
            # global document frequency per gram: one row per DISTINCT
            # gram, which at corpus scale is billions of rows — never
            # broadcast it.  A plain equi-join on the gram shuffles both
            # sides on a near-uniform key (AQE may still broadcast small
            # corpora at runtime, which is the right call there).
            freq = inv.groupBy("_g").agg(F.count(F.lit(1)).alias("_df"))
            ranked = inv.join(freq, "_g")
            w = Window.partitionBy("_id").orderBy(
                F.col("_df").asc(), F.col("_g").asc())
            prefix_len = (F.col("_n")
                          - F.ceil(F.col("_n") * threshold) + 1)
            # r15 optimization (guide §1.2/§2.4): the self-join below
            # references the prefix index TWICE, and Spark does not
            # dedupe common subtrees across join sides — without a
            # materialization the whole explode→freq-join→window
            # chain executed twice per run (measured 3.9s → 2.3s at
            # sf0.1).  Rarest-first order also means a _df=1 gram can
            # never be COMMON to a pair, so it can be dropped after
            # rank assignment (ranks are unchanged) — smaller cache,
            # smaller join, provably identical output.
            inv = (ranked.withColumn("_rk", F.row_number().over(w))
                   .filter(F.col("_rk") <= prefix_len)
                   .filter(F.col("_df") >= 2)
                   .select("_id", "_n", "_g", "_rk")
                   .persist())
        else:
            inv = inv.withColumn("_rk", F.lit(1))
        a = inv.select(F.col("_id").alias("id_a"),
                       F.col("_n").alias("_la"),
                       F.col("_rk").alias("_pa"), "_g")
        b = inv.select(F.col("_id").alias("id_b"),
                       F.col("_n").alias("_lb"),
                       F.col("_rk").alias("_pb"), "_g")
        # length filter (exact): jaccard >= t forces t*|A| <= |B| <= |A|/t
        length_ok = ((F.col("_lb") >= threshold * F.col("_la"))
                     & (F.col("_la") >= threshold * F.col("_lb"))) \
            if threshold > 0 else F.lit(True)
        matches = (a.join(b, ["_g"])
                   .filter((F.col("id_a") < F.col("id_b")) & length_ok)
                   .groupBy("id_a", "id_b")
                   .agg(F.min(F.struct("_pa", "_pb")).alias("_m"),
                        F.first("_la").alias("_la"),
                        F.first("_lb").alias("_lb")))
        if threshold > 0:
            # PPJoin positional filter (exact): at the pair's FIRST
            # common gram (global rarest-first order) no earlier common
            # gram exists, so |A∩B| <= 1 + min(la - pa, lb - pb); prune
            # pairs that cannot reach the minimum intersection
            # ceil(t/(1+t)*(la+lb)) (epsilon guards float-boundary ceil)
            alpha = F.ceil(
                F.lit(threshold / (1.0 + threshold))
                * (F.col("_la") + F.col("_lb")) - F.lit(1e-9))
            ubound = 1 + F.least(F.col("_la") - F.col("_m._pa"),
                                 F.col("_lb") - F.col("_m._pb"))
            matches = matches.filter(ubound >= alpha)
        cand = matches.select("id_a", "id_b")
        x = docs.select(F.col("_id").alias("id_a"),
                        F.col("_sh").alias("_sha"),
                        F.col("_n").alias("_na"))
        y = docs.select(F.col("_id").alias("id_b"),
                        F.col("_sh").alias("_shb"),
                        F.col("_n").alias("_nb"))
        pairs = cand.join(x, "id_a").join(y, "id_b")
        inter = F.size(F.array_intersect("_sha", "_shb"))
        jac = (inter.cast("double")
               / (F.col("_na") + F.col("_nb") - inter))
        return (pairs.select("id_a", "id_b", jac.alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))


class EmbeddingDedup(BaseSingle):
    """Embedding-cosine near-duplicate pairs.

    Default ``exact=False``: random-hyperplane LSH prefilter — only
    pairs agreeing on all ``n_planes`` sign bits are compared (the scale
    path; hyperplane constants are deterministic literals so the result
    is reproducible anywhere).  ``exact=True`` is the opt-in brute-force
    all-pairs cosine — O(n²), for oracle baselines and small keyed
    subsets only, NEVER the default at corpus scale.  ``dim`` (vector
    length) is required by the LSH plane constants; when omitted it is
    probed from one row of the source.

    Output: ``id_a``, ``id_b``, ``cosine`` (≥ ``threshold``).
    """

    def __init__(self, source, vec_column="embedding", id_column="vec_id",
                 threshold=0.95, exact=False, n_planes=8, dim=None):
        super().__init__(source, vec_column, id_column, float(threshold),
                         bool(exact), int(n_planes), dim)

    @property
    def columns(self):
        return {"id_a", "id_b", "cosine"}

    def _build(self, ctx):
        from dask_geomodeling_spark.pipeline.similarity import (
            dot_expr, hyperplane_bucket, norm_expr)
        _, vec_column, id_column, threshold, exact, n_planes, dim = self.args
        df = self.source._build(ctx)
        # norm hoisted: one fold per vector, not three per pair
        docs = df.select(F.col(id_column).alias("_id"),
                         F.col(vec_column).alias("_v"),
                         norm_expr(vec_column).alias("_nm"))
        a = docs.select(F.col("_id").alias("id_a"),
                        F.col("_v").alias("_va"),
                        F.col("_nm").alias("_na"))
        b = docs.select(F.col("_id").alias("id_b"),
                        F.col("_v").alias("_vb"),
                        F.col("_nm").alias("_nb"))
        if exact:
            pairs = a.join(b, a["id_a"] < b["id_b"])
        else:
            if dim is None:
                # one-row probe: the plane constants need the vector
                # length at plan time (cheap; scan stops after 1 row)
                row = df.select(F.size(vec_column)).limit(1).first()
                if row is None:
                    raise ValueError("cannot infer dim from empty source;"
                                     " pass dim explicitly")
                dim = int(row[0])
            bucket = hyperplane_bucket("_v", dim, n_planes)
            ab = docs.withColumn("_bk", bucket)
            a = ab.select(F.col("_id").alias("id_a"),
                          F.col("_v").alias("_va"),
                          F.col("_nm").alias("_na"),
                          F.col("_bk").alias("_bka"))
            b = ab.select(F.col("_id").alias("id_b"),
                          F.col("_v").alias("_vb"),
                          F.col("_nm").alias("_nb"),
                          F.col("_bk").alias("_bkb"))
            pairs = a.join(b, (a["_bka"] == b["_bkb"])
                           & (a["id_a"] < b["id_b"]))
        cos = dot_expr("_va", "_vb") / F.nullif(
            F.col("_na") * F.col("_nb"), F.lit(0.0))
        return (pairs.select("id_a", "id_b", cos.alias("cosine"))
                .filter(F.col("cosine") >= threshold))


class SemDedup(BaseSingle):
    """SemDedup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means-cluster the
    embedding space, then compare pairs ONLY within a cluster and mark
    as duplicate every vector whose cosine to another cluster member
    reaches ``tau``, keeping the member with the LOWEST cosine to the
    cluster centroid (the paper's keep rule; ties → smallest id).

    Output: ``id_column``, ``cid`` (assigned cluster),
    ``centroid_sim`` (cosine to the assigned centroid, rounded to
    ``precision``), ``is_dup``.

    Scale: the fit is ``learn_centroids`` (one distributed job per
    Lloyd iteration, optionally on the deterministic
    ``fit_fraction`` hash sample — only k×dim reaches the driver);
    assignment is a broadcast-model projection; the pair comparison is
    a self-join KEYED BY CLUSTER, the paper's own device for bounding
    the all-pairs blow-up — cluster count scales with corpus size so
    per-cluster membership stays bounded.  Cosines round to
    ``precision`` BEFORE thresholding so the decision is
    cross-engine deterministic."""

    def __init__(self, source, clusters=4, iters=2, tau=0.4,
                 vector_column="embedding", id_column="vec_id",
                 fit_fraction=None, precision=6, engine="sql"):
        if engine not in ("sql", "arrow"):
            raise ValueError("engine must be 'sql' or 'arrow'")
        super().__init__(source, int(clusters), int(iters), float(tau),
                         vector_column, id_column,
                         None if fit_fraction is None
                         else float(fit_fraction), int(precision),
                         engine)

    @property
    def columns(self):
        return {self.args[5], "cid", "centroid_sim", "is_dup"}

    def _build(self, ctx):
        from dask_geomodeling_spark.pipeline.similarity import (
            cosine_expr, fit_sample, learn_centroids,
            nearest_centroid_expr)
        (_, clusters, iters, tau, vec, idc, frac, prec,
         engine) = self.args
        df = self.source._build(ctx)
        fit = df if frac is None else fit_sample(df, idc, frac)
        cents = learn_centroids(fit, clusters, iters, vec_column=vec,
                                id_column=idc)
        cid = nearest_centroid_expr(vec, cents)

        def lit_arr(c):
            return "array({})".format(",".join(
                "cast({!r} as double)".format(float(x)) for x in c))
        sims = F.array(*[cosine_expr(vec, lit_arr(c)) for c in cents])
        # pre-normalize ONCE per row (pair cosine then = one dot
        # instead of dot + two norms per pair — the pair stage is the
        # quadratic part, the normalization is linear)
        unit = ("CASE WHEN sqrt(aggregate(zip_with({v}, {v}, "
                "(x, y) -> cast(x as double) * y), cast(0.0 as double),"
                " (a, p) -> a + p)) > 0 THEN "
                "transform({v}, x -> cast(x as double) / "
                "sqrt(aggregate(zip_with({v}, {v}, (x, y) -> "
                "cast(x as double) * y), cast(0.0 as double), "
                "(a, p) -> a + p))) END").format(v=vec)
        base = df.select(
            F.col(idc), cid.alias("cid"),
            F.round(F.element_at(sims, cid + 1), prec)
            .alias("centroid_sim"),
            F.expr(unit).alias("_u"))
        if engine == "arrow":
            dups = self._arrow_dups(base, idc, tau, prec)
        else:
            a = base.select(F.col(idc).alias("_ia"),
                            F.col("_u").alias("_ua"), "cid",
                            F.col("centroid_sim").alias("_sa"))
            b = base.select(F.col(idc).alias("_ib"),
                            F.col("_u").alias("_ub"), "cid",
                            F.col("centroid_sim").alias("_sb"))
            pair_cos = F.round(F.expr(
                "aggregate(zip_with(_ua, _ub, (x, y) -> x * y), "
                "cast(0.0 as double), (a, p) -> a + p)"), prec)
            # each unordered pair evaluates ONCE; the qualifying
            # pair's MORE-centroid-similar member (tie: larger id) is
            # the dup — identical to "exists a better partner" on the
            # ordered form
            worse = F.when((F.col("_sa") > F.col("_sb"))
                           | ((F.col("_sa") == F.col("_sb"))
                              & (F.col("_ia") > F.col("_ib"))),
                           F.col("_ia")).otherwise(F.col("_ib"))
            dups = (a.join(b, "cid")
                    .where((F.col("_ia") < F.col("_ib"))
                           & (pair_cos >= tau))
                    .select(worse.alias(idc)).distinct()
                    .withColumn("_d", F.lit(True)))
        return (base.drop("_u").join(dups, idc, "left")
                .withColumn("is_dup",
                            F.coalesce("_d", F.lit(False)))
                .drop("_d"))

    @staticmethod
    def _arrow_dups(base, idc, tau, prec):
        """Arrow-batched per-cluster pair stage (``engine='arrow'``):
        one ``applyInPandas`` over the cluster groups computes the
        cluster's unit-vector Gram matrix by accumulating one
        dimension at a time — the SAME summation order as the SQL
        fold, so every pair cosine is bit-identical — then applies
        the round-then-threshold keep rule.  Decisions within 1e-5 of
        ``tau`` re-round through ``decimal`` HALF_UP on the shortest
        repr, which is exactly Spark's BigDecimal.valueOf(double)
        semantics, so borderline cases match the SQL path too.  The
        quadratic kernel vectorizes ~100x over the interpreted fold;
        the cluster keying (the paper's own device) bounds each
        group."""
        id_type = base.schema[idc].dataType.simpleString()

        def find(pdf):
            import numpy as np
            import pandas as pd
            keep = pdf[pdf["_u"].notna()]
            n = len(keep)
            if n < 2:
                return pd.DataFrame({idc: keep[idc][:0]})
            U = np.stack([np.asarray(u, dtype=np.float64)
                          for u in keep["_u"]])
            acc = np.zeros((n, n))
            for k in range(U.shape[1]):
                col = U[:, k]
                acc = acc + col[:, None] * col[None, :]
            scale = 10.0 ** prec
            sims = np.sign(acc) * np.floor(np.abs(acc) * scale + 0.5) \
                / scale
            iu = np.triu_indices(n, 1)
            raw = acc[iu]
            hit = sims[iu] >= tau
            # borderline band: replay Spark's exact decimal rounding
            near = np.abs(raw - tau) < 1e-5
            if near.any():
                from decimal import Decimal, ROUND_HALF_UP
                q = Decimal(1).scaleb(-prec)
                for j in np.nonzero(near)[0]:
                    r = Decimal(repr(float(raw[j]))).quantize(
                        q, rounding=ROUND_HALF_UP)
                    hit[j] = float(r) >= tau
            ia, ib = iu[0][hit], iu[1][hit]
            cs = keep["centroid_sim"].to_numpy()
            ids = keep[idc].to_numpy()
            worse = np.where(
                (cs[ia] > cs[ib])
                | ((cs[ia] == cs[ib]) & (ids[ia] > ids[ib])),
                ids[ia], ids[ib])
            return pd.DataFrame({idc: np.unique(worse)})

        return (base.groupBy("cid")
                .applyInPandas(find, schema="{} {}".format(idc, id_type))
                .distinct()
                .withColumn("_d", F.lit(True)))


def min_component_labels(pairs):
    """Exact driver union-find over ``(a, b)`` pairs: ``{node: the
    smallest node of its component}`` for every node a pair touches.
    Shared by every driver mirror of the star rounds (DedupClusters,
    RasterComponents, SieveFilter, ClusterDBSCAN).  Unions link the
    larger root under the smaller, so each root already IS its
    component's minimum — no second pass recomputes it."""
    parent = {}

    def find(a):
        root = a
        while parent[root] != root:
            root = parent[root]
        while parent[a] != root:
            parent[a], a = root, parent[a]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


class DedupClusters(Block):
    """Connected components over near-duplicate pairs: every document
    gets a ``cluster_id`` = the smallest doc id reachable through the
    pair graph (singletons cluster with themselves), plus
    ``is_canonical`` — the keep-one-per-cluster flag a training-data
    pipeline filters on after MinHashLSH / NgramJaccard / SimHash.
    Pairs may come in either order, repeat, or name ids absent from
    ``source``: such ids still connect their neighbors but emit no
    row of their own.

    Execution: the alternating large-star / small-star rounds of
    Kiveris et al., "Connected Components in MapReduce and Beyond"
    (SoCC 2014) — each round rewires every edge toward its
    neighborhood minimum, so components collapse to stars in O(log²)
    rounds regardless of diameter (a 10⁶-long chain converges in ~20
    rounds) and per-node degree concentrates on component minima only
    at the very end.  The driver only ever sees converged-or-not
    counts, and a graph still changing after ``max_iter`` rounds
    raises.  Pair graphs of at most ``STAR_DRIVER_EDGES`` pairs (the
    request's ``driver_threshold`` overrides the bound) label with an
    exact driver union-find instead.

    Args:
      source: block of all documents (id column = its index).
      pairs: block producing near-dup pairs with ``id_a``/``id_b``.
      max_iter: round bound.
      ids_unique: r16 (guide §2.4 — "a distinct on data that is
        already unique"): declare the source id column unique so the
        node table skips its data-sized ``distinct()`` shuffle.  Only
        set when the contract holds (e.g. the id IS the corpus
        primary key); duplicate ids would then duplicate output rows.
    """

    def __init__(self, source, pairs, id_column=None, max_iter=10,
                 ids_unique=False):
        if not isinstance(source, Block) or not isinstance(pairs, Block):
            raise TypeError("source/pairs must be Blocks")
        if id_column is None:
            id_column = source.index_column
        super().__init__(source, pairs, id_column, int(max_iter),
                         bool(ids_unique))

    @property
    def columns(self):
        return {"doc_id", "cluster_id", "is_canonical"}

    @staticmethod
    def _star_labels(ctx, und, max_iter):
        """Alternating large-star/small-star until the undirected
        canonical pair set is stable; returns (node, min-neighbor)
        pairs of the final star graphs.  ``und`` holds ``_lo < _hi``
        pairs, duplicates allowed: every round ends in a ``distinct``,
        so a repeated pair costs at most one extra round.  Graphs with
        at most ``STAR_DRIVER_EDGES`` pairs (the request's
        ``driver_threshold`` overrides it) short-circuit to the exact
        driver union-find ``min_component_labels`` with identical
        labels."""
        rows = ctx.collect_bounded(und, STAR_DRIVER_EDGES)
        if rows is not None:
            import pyspark.sql.types as T
            mins = min_component_labels((r["_lo"], r["_hi"]) for r in rows)
            t = und.schema["_lo"].dataType
            schema = T.StructType([T.StructField("_id", t),
                                   T.StructField("_lbl", t)])
            spark = und.sparkSession
            # r15 optimization (guide §3.1): a createDataFrame frame
            # has no size statistics, so every downstream join against
            # it planned as a full SortMergeJoin (two exchanges + two
            # sorts of the data side).  The frame is bounded by
            # the gate (<= 2·64k narrow rows by default), so hint it —
            # nodes/core joins become BroadcastHashJoin with zero
            # data-side exchanges.
            return F.broadcast(spark.createDataFrame(
                sorted(mins.items()), schema))
        # the count materializes the cache before round 1 plans, so
        # the round's joins see its size
        und = und.persist()
        und_cnt = und.count()
        for _ in range(max_iter):
            sym = und.select(F.col("_lo").alias("_u"),
                             F.col("_hi").alias("_v")).union(
                und.select(F.col("_hi").alias("_u"),
                           F.col("_lo").alias("_v")))
            # large-star: every neighbor v > u links to u's
            # neighborhood minimum
            m = (sym.groupBy("_u").agg(F.min("_v").alias("_mn"))
                 .select("_u", F.least("_u", "_mn").alias("_m")))
            large = (sym.filter(F.col("_v") > F.col("_u"))
                     .join(m, "_u")
                     .select(F.col("_v").alias("_big"),
                             F.col("_m").alias("_small"))
                     .distinct())
            # small-star: each big end rewires its (strictly smaller)
            # neighbors — and itself — to their minimum
            m2 = large.groupBy("_big").agg(F.min("_small").alias("_m2"))
            out = (large.join(m2, "_big")
                   .select(F.col("_small").alias("_x"),
                           F.col("_m2").alias("_y"))
                   .union(m2.select(F.col("_big").alias("_x"),
                                    F.col("_m2").alias("_y")))
                   .filter(F.col("_x") != F.col("_y")))
            new_und = (out.select(F.least("_x", "_y").alias("_lo"),
                                  F.greatest("_x", "_y").alias("_hi"))
                       .distinct().localCheckpoint(eager=True))
            # sets of equal size with one-directional containment are
            # equal — one exceptAll probe instead of two, and the size
            # rides the count we already track round-over-round
            new_cnt = new_und.count()
            stable = (new_cnt == und_cnt
                      and new_und.exceptAll(und).limit(1).count() == 0)
            und.unpersist()
            und, und_cnt = new_und, new_cnt
            if stable:
                break
        else:
            # round-11 review fix (the SieveFilter-iterate rule):
            # falling out of the loop means the star graph was STILL
            # CHANGING — labels computed from a partially-contracted
            # edge set can split one real component into several ids.
            # Fail loudly; O(log² n) convergence means exhaustion is a
            # pathological graph or a too-small max_iter, never normal.
            raise ValueError(
                "star labeling did not converge in {} rounds — raise "
                "max_iter".format(max_iter))
        labels = (und.select(F.col("_lo").alias("_id"),
                             F.col("_hi").alias("_nb")).union(
            und.select(F.col("_hi").alias("_id"),
                       F.col("_lo").alias("_nb")))
            .groupBy("_id").agg(F.min("_nb").alias("_mn"))
            .select("_id", F.least("_id", "_mn").alias("_lbl")))
        return labels

    def _build(self, ctx):
        source, pairs, id_column, max_iter, ids_unique = self.args
        nodes = source._build(ctx).select(
            F.col(id_column).alias("_id"))
        if not ids_unique:
            nodes = nodes.distinct()
        und = (pairs._build(ctx)
               .select(F.least("id_a", "id_b").alias("_lo"),
                       F.greatest("id_a", "id_b").alias("_hi"))
               .filter(F.col("_lo") != F.col("_hi")))
        got = self._star_labels(ctx, und, max_iter)
        labels = (nodes.join(got, "_id", "left")
                  .select("_id", F.coalesce("_lbl", "_id")
                          .alias("_lbl")))
        return labels.select(
            F.col("_id").alias("doc_id"),
            F.col("_lbl").alias("cluster_id"),
            (F.col("_id") == F.col("_lbl")).alias("is_canonical"))


class RepeatedSpans(BaseSingle):
    """Exact cross-document repeated token spans — the detection stage
    of substring-level dedup (the public 'deduplicate training data'
    recipe finds repeated substrings with a suffix array; the
    Spark-first equivalent fingerprints every length-``span`` token
    window and reports windows whose fingerprint appears in more than
    one document).

    Plan shape: tokenize + slide map-side (≤ one window row per token,
    a bounded expansion, not a cross join); each window hashes with the
    same base-8191 fold over 31-bit token hashes MinHashLSH uses (pure
    ANSI integer arithmetic); one groupBy fingerprint with a
    distinct-doc count keeps fingerprints seen in ≥ ``min_docs`` docs;
    the surviving (tiny) fingerprint set joins back against the window
    table — both sides shuffle on the near-uniform fingerprint key.

    Output: ``<id_column>``, ``pos`` (0-based token offset), ``fp``
    (window fingerprint), ``n_docs`` (distinct docs sharing it).
    """

    def __init__(self, source, span=8, min_docs=2, text_column="text",
                 id_column="doc_id"):
        if int(span) < 1:
            raise ValueError("span must be >= 1")
        super().__init__(source, int(span), int(min_docs), text_column,
                         id_column)

    @property
    def columns(self):
        return {self.args[4], "pos", "fp", "n_docs"}

    def _build(self, ctx):
        _, span, min_docs, text_column, id_column = self.args
        df = self.source._build(ctx)
        tokens = F.split(F.trim(F.lower(F.col(text_column))), r"\s+")
        th = "transform(_tokens, t -> {h})".format(h=poly_hash_expr("t"))
        windows = (df.select(F.col(id_column), tokens.alias("_tokens"))
                   .withColumn("_th", F.expr(th))
                   # docs shorter than the span have no full window: a
                   # truncated slice would fingerprint partial spans that
                   # spuriously match across short/empty docs
                   .filter(F.size("_th") >= span)
                   .select(id_column, F.posexplode(F.expr(
                       "transform(sequence(1, size(_th) - {n} + 1), "
                       "i -> aggregate(slice(_th, i, {n}), "
                       "cast(0 as bigint), "
                       "(acc, h) -> pmod(acc * 8191 + h, {m})))"
                       .format(n=span, m=MERSENNE)))
                       .alias("pos", "fp")))
        freq = (windows.groupBy("fp")
                .agg(F.countDistinct(id_column).alias("n_docs"))
                .filter(F.col("n_docs") >= min_docs))
        return (windows.join(freq, "fp")
                .select(id_column, F.col("pos").cast("bigint"), "fp",
                        "n_docs"))


class RemoveRepeatedSpans(BaseSingle):
    """Exact substring-level dedup REMOVAL (the second half of the
    public 'deduplicate training data' recipe: after detection, every
    repeated span keeps exactly ONE occurrence corpus-wide and is cut
    from everywhere else).

    Plan shape: the RepeatedSpans window/fingerprint stream (map-side
    sliding windows over 31-bit token hashes), one groupBy fingerprint
    that records the distinct-doc count AND the canonical occurrence
    (the lexicographically smallest ``(doc, pos)``, argmin via MIN over
    a struct — overflow-proof for any bigint doc id); every other
    occurrence explodes its
    ≤``span`` covered token indices; a distinct + left-anti join drops
    those tokens; one re-group per document reassembles the original
    (case-preserved) tokens in order — the LineDedup reassembly
    contract at token granularity.  All joins key on near-uniform
    fingerprints / ids; expansion is bounded by span, never quadratic.

    Output: source id column + ``text_dedup`` (surviving tokens joined
    by single spaces — whitespace is normalized by tokenization) +
    ``n_removed`` tokens.  Docs shorter than ``span`` pass through
    unchanged.
    """

    def __init__(self, source, span=8, min_docs=2, text_column="text",
                 id_column="doc_id"):
        if int(span) < 1:
            raise ValueError("span must be >= 1")
        super().__init__(source, int(span), int(min_docs), text_column,
                         id_column)

    @property
    def columns(self):
        return {self.args[4], "text_dedup", "n_removed"}

    def _build(self, ctx):
        _, span, min_docs, text_column, id_column = self.args
        df = self.source._build(ctx)
        raw = F.split(F.trim(F.col(text_column)), r"\s+")
        lowered = F.split(F.trim(F.lower(F.col(text_column))), r"\s+")
        th = "transform(_lw, t -> {h})".format(h=poly_hash_expr("t"))
        base = (df.select(F.col(id_column), raw.alias("_ow"),
                          lowered.alias("_lw"))
                .withColumn("_th", F.expr(th)).drop("_lw"))
        wins = (base.filter(F.size("_th") >= span)
                .select(id_column, F.posexplode(F.expr(
                    "transform(sequence(1, size(_th) - {n} + 1), "
                    "i -> aggregate(slice(_th, i, {n}), "
                    "cast(0 as bigint), "
                    "(acc, h) -> pmod(acc * 8191 + h, {m})))"
                    .format(n=span, m=MERSENNE))).alias("pos", "fp")))
        # argmin via MIN over a (doc, pos) struct — lexicographic struct
        # ordering IS the canonical-occurrence order, and unlike the
        # doc*2^32+pos encoding it cannot overflow bigint for
        # hash-derived doc ids >= 2^31 (ANSI mode would abort the job).
        occ = F.struct(F.col(id_column).alias("d"), F.col("pos").alias("p"))
        freq = (wins.groupBy("fp")
                .agg(F.countDistinct(id_column).alias("_nd"),
                     F.min(occ).alias("_canon"))
                .filter(F.col("_nd") >= min_docs))
        covered = (wins.join(freq, "fp")
                   .filter(~((F.col(id_column) == F.col("_canon.d"))
                             & (F.col("pos") == F.col("_canon.p"))))
                   .select(id_column,
                           F.explode(F.sequence(
                               F.col("pos"),
                               F.col("pos") + (span - 1))).alias("_idx"))
                   .distinct())
        toks = base.select(id_column,
                           F.posexplode("_ow").alias("_idx", "_tok"))
        kept = toks.join(covered, [id_column, "_idx"], "left_anti")
        rebuilt = kept.groupBy(id_column).agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list("
                       "struct(_idx, _tok))), s -> s._tok)"),
                " ").alias("_newtext"),
            F.count(F.lit(1)).alias("_kept"))
        out = (base.select(id_column, F.size("_ow").alias("_ntotal"))
               .join(rebuilt, id_column, "left"))
        return out.select(
            id_column,
            F.coalesce("_newtext", F.lit("")).alias("text_dedup"),
            (F.col("_ntotal") - F.coalesce(F.col("_kept"), F.lit(0)))
            .cast("bigint").alias("n_removed"))


class ClusterRepresentative(Block):
    """Collapse each near-dup cluster to its single BEST member — the
    keep-one policy step after MinHashLSH / NgramJaccard / SimHash +
    DedupClusters, selecting by a quality/score column instead of
    DedupClusters' min-id ``is_canonical`` flag (round 9; the
    "keep the longest / highest-quality duplicate" convention of
    corpus dedup pipelines).

    Args:
      source: block of all documents (id column = its index).
      clusters: block of cluster assignments with ``doc_id`` and
        ``cluster_id`` columns (DedupClusters' output contract).
      score_column: the column of ``source`` to maximize (or minimize
        with ``ascending=True``).  Ties break to the SMALLEST doc id,
        deterministically.

    Output: one row per cluster — the winning member's full row plus
    ``cluster_id`` and ``n_members``.  Execution: one equi-join on the
    id (documents × assignments, both sides shuffled on the same key)
    and ONE hash aggregation (``max_by``/``min_by`` over a lexical
    (score, -id) struct — partial aggregation map-side, no window, no
    sort).  Scale: group cardinality = cluster count; the winner
    struct is one row's columns, never a collected member list."""

    def __init__(self, source, clusters, score_column,
                 id_column=None, ascending=False):
        if not isinstance(source, Block) \
                or not isinstance(clusters, Block):
            raise TypeError("source/clusters must be Blocks")
        if id_column is None:
            id_column = source.index_column
        if "n_members" in source.columns:
            raise ValueError(
                "column 'n_members' collides with "
                "ClusterRepresentative's output; rename it upstream")
        super().__init__(source, clusters, str(score_column),
                         str(id_column), bool(ascending))

    @property
    def index_column(self):
        return "cluster_id"

    @property
    def columns(self):
        return set(self.args[0].columns) | {"cluster_id", "n_members"}

    def _build(self, ctx):
        docs = self.args[0]._build(ctx)
        cl = self.args[1]._build(ctx)
        score, idc, ascending = self.args[2], self.args[3], self.args[4]
        if score not in docs.columns:
            raise ValueError(
                "score_column {!r} is not a column of the source "
                "({})".format(score, sorted(docs.columns)))
        stypes = dict(docs.dtypes)
        if stypes.get(score) in ("string", "boolean", "date",
                                 "timestamp"):
            raise ValueError(
                "score_column {!r} must be numeric (got {})"
                .format(score, stypes.get(score)))
        j = docs.join(
            cl.select(F.col("doc_id").alias(idc), "cluster_id"), idc)
        cols = [c for c in docs.columns]
        payload = "struct({})".format(", ".join(
            "`{}`".format(c) for c in cols))
        # min over (∓score, id): best score first, ties to the
        # smallest id.  Only the (validated numeric) SCORE is negated
        # — the id keeps its native ordering, so string/any-orderable
        # ids work (round-9 review fix: -`id` crashed string ids)
        pick = "min_by({p}, struct({neg}`{s}`, `{i}`))".format(
            p=payload, neg="" if ascending else "-", s=score, i=idc)
        g = (j.groupBy("cluster_id")
             .agg(F.expr(pick).alias("_w"),
                  F.count(F.lit(1)).cast("bigint").alias("n_members")))
        return g.select("cluster_id", *["_w.`{}`".format(c)
                                        for c in cols], "n_members")


class FuzzyDedup(BaseSingle):
    """Edit-distance near-duplicate pairs (round 9): banded
    MinHash-LSH candidates refined by EXACT Levenshtein similarity
    ``1 − lev(a, b) / max(len(a), len(b)) >= threshold`` — the fuzzy
    dedup policy for templated/boilerplate corpora where token-set
    Jaccard over-merges (different numbers in the same template) and
    exact hashing under-merges.

    Scale: Levenshtein is O(len²) per pair, so it runs ONLY on the
    LSH candidate set (bucketed self-join, never all-pairs), JVM-side,
    in the bounded form ``levenshtein(a, b, limit)`` that abandons a
    pair as soon as the distance exceeds the per-pair admissible
    bound ⌈(1 − threshold)·maxlen⌉.

    Output: ``id_a`` < ``id_b`` pairs with ``distance`` and
    ``similarity``; two empty texts count as similarity 1.0."""

    def __init__(self, source, threshold=0.8, text_column="text",
                 id_column=None, num_perm=32, bands=16,
                 shingle_size=3, hash_fn="xxhash64"):
        t = float(threshold)
        if not 0.0 < t <= 1.0:
            raise ValueError("threshold must be in (0, 1]")
        if id_column is None:
            id_column = source.index_column
        super().__init__(source, t, text_column, id_column,
                         int(num_perm), int(bands), int(shingle_size),
                         hash_fn)

    @property
    def columns(self):
        return {"id_a", "id_b", "distance", "similarity"}

    @property
    def index_column(self):
        return "id_a"

    def _build(self, ctx):
        (_, thr, tc, idc, num_perm, bands, shingle_size,
         hash_fn) = self.args
        cand = MinHashLSH(self.source, text_column=tc, id_column=idc,
                          num_perm=num_perm, bands=bands,
                          shingle_size=shingle_size, verify=False,
                          hash_fn=hash_fn)._build(ctx)
        docs = self.source._build(ctx)
        a = docs.select(F.col(idc).alias("id_a"),
                        F.col(tc).alias("_ta"))
        b = docs.select(F.col(idc).alias("id_b"),
                        F.col(tc).alias("_tb"))
        j = cand.join(a, "id_a").join(b, "id_b")
        j = j.withColumn(
            "_ml", F.greatest(F.length("_ta"), F.length("_tb")))
        j = j.withColumn(
            "distance",
            F.when(F.col("_ml") == 0, F.lit(0)).otherwise(F.expr(
                "levenshtein(_ta, _tb, CAST(CEIL((1.0D - {t}) * _ml) "
                "AS INT))".format(t=repr(float(thr)))))
            .cast("bigint"))
        j = (j.filter(F.col("distance") >= 0)
             .withColumn(
                 "similarity",
                 F.when(F.col("_ml") == 0, F.lit(1.0)).otherwise(
                     1.0 - F.col("distance") / F.col("_ml")))
             .filter(F.col("similarity") >= float(thr)))
        return j.select("id_a", "id_b", "distance", "similarity")


class WinnowingFingerprint(BaseSingle):
    """Winnowing document fingerprints (round 10) — the MOSS local
    fingerprinting scheme (Schleimer, Wilkerson & Aiken, SIGMOD 2003):
    hash every ``k``-gram, slide a ``window`` of consecutive k-gram
    hashes, and keep each window's MINIMUM (rightmost occurrence on
    ties).  The guarantee: any shared substring of at least
    ``window + k − 1`` tokens between two documents yields at least
    one IDENTICAL selected fingerprint in both — so copy detection is
    one equi-join on ``fp`` (compose with ``DedupClusters``), never
    all-pairs.

    Hashes are the engine's 31-bit Mersenne arithmetic scheme
    (``poly_hash_expr`` per token, base-8191 fold per k-gram — the
    NgramJaccard/MinHashLSH 'poly' construction), so any ANSI-SQL
    engine replays them exactly.

    Plan shape: everything up to the final explode is per-row HOF
    column math (zero shuffle); the output is the exploded distinct
    (position, fingerprint) selection — ~len/window rows per doc, the
    winnowing density guarantee.  Documents shorter than ``k`` tokens
    fingerprint their whole token stream once.

    Output: ``<id_column>``, ``pos`` (1-based k-gram index of the
    selected hash), ``fp``.
    """

    def __init__(self, source, k=5, window=4, text_column="text",
                 id_column=None):
        if int(k) < 1:
            raise ValueError("k must be >= 1")
        if int(window) < 1:
            raise ValueError("window must be >= 1")
        if id_column is None:
            id_column = source.index_column
        clash = {"pos", "fp"} & set(source.columns)
        if clash:
            raise ValueError(
                "column(s) {} collide with WinnowingFingerprint's "
                "output; rename upstream".format(sorted(clash)))
        super().__init__(source, int(k), int(window), text_column,
                         id_column)

    @property
    def columns(self):
        return {self.args[4], "pos", "fp"}

    def _build(self, ctx):
        _, k, w, text_column, idc = self.args
        df = self.source._build(ctx)
        th = "transform(_tokens, t -> {h})".format(h=poly_hash_expr("t"))
        if k <= 1:
            kh = "_th"
        else:
            kh = ("transform(sequence(1, greatest(size(_th) - {k} + 1,"
                  " 1)), i -> aggregate(slice(_th, i, {k}), "
                  "cast(0 as bigint), (acc, h) -> "
                  "pmod(acc * 8191 + h, {m})))").format(k=k, m=MERSENNE)
        # per window j: fp = min of the window, pos = the GLOBAL
        # 1-based k-gram index of its RIGHTMOST occurrence
        # (j + wlen − position-in-reversed-window); wlen < window only
        # in the single-window short-document case
        sel = ("array_distinct(transform(sequence(1, "
               "greatest(size(_kh) - {w} + 1, 1)), j -> struct("
               "CAST(j + least({w}, size(_kh)) - array_position("
               "reverse(slice(_kh, j, {w})), "
               "array_min(slice(_kh, j, {w}))) AS BIGINT) AS pos, "
               "array_min(slice(_kh, j, {w})) AS fp)))").format(w=w)
        # persist the (id, k-gram-hash) table (§6 rule 9, the
        # NgramJaccard convention): the window-selection expression
        # references _kh five times, and CollapseProject would
        # otherwise inline the whole poly-hash lambda pipeline into
        # 6-deep nested lambdas — a known Catalyst pathology (plan
        # canonicalization stops terminating in practical time).  The
        # cache boundary keeps the two HOF layers in separate plan
        # stages; the cached table is ~8 bytes/k-gram, smaller than
        # the text it derives from.
        kgrams = (df.withColumn(
            "_tokens", F.split(F.trim(F.lower(F.col(text_column))),
                               r"\s+"))
            .withColumn("_th", F.expr(th))
            .select(F.col(idc), F.expr(kh).alias("_kh"))
            .persist())
        out = (kgrams.withColumn("_sel", F.expr(sel))
               .select(F.col(idc), F.explode("_sel").alias("_s"))
               .select(idc, F.col("_s.pos").alias("pos"),
                       F.col("_s.fp").alias("fp")))
        return out
