"""Connected-component labeling of a raster — the core of GDAL's
``polygonize`` (no reference analogue; the reference leaves
vectorization to GDAL).  Adjacent same-value data cells within a time
slice form one component; every cell gets the component's canonical
(minimum) cell key as its label.

Scale shape: the adjacency edges build from TWO (or four, for
8-connectivity) shuffle-free-keyed equi-joins of the cell table with
itself — neighbor offsets are join keys, never a cross join — and the
labels come from the alternating large-star/small-star rounds shared
with ``pipeline.dedup.DedupClusters``: O(log²)
convergence regardless of component diameter (a river snaking across
a continent-sized raster converges in ~20 rounds, where naive
propagation needs its length).  The driver only ever sees
converged-or-not counts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_geomodeling_spark.raster.base import BaseSingle

__all__ = ["RasterComponents", "SieveFilter", "packed_cells",
           "decode_labels"]

#: cell count at or below which the raster gates (RasterComponents,
#: SieveFilter and the hydrology family) run their exact driver
#: mirror instead of the distributed rounds, unless the request's
#: ``driver_threshold`` says otherwise: the rounds cost several
#: scheduling barriers each on ~1 MB of cells at bench SFs
DRIVER_CELLS = 65536


def bounded_cells(ctx, frame, nan_column="value"):
    """The raster driver gate: ``(base, rows)`` when ``frame`` has at
    most ``DRIVER_CELLS`` (or the request's ``driver_threshold``)
    non-NULL cells, else ``None``.  ``base`` is the ``time, y, x,
    value`` frame; ``rows`` carry ``time, _us, y, x, value``, keyed by
    ``(_us, y, x)`` tuples that order like the packed BIGINT ids.  NaN
    cell values route to the distributed path unless ``nan_column``
    is ``None`` (see ``BuildContext.collect_bounded``)."""
    base = (frame.select("time", "y", "x", "value")
            .filter(F.col("value").isNotNull()))
    rows = ctx.collect_bounded(
        base.select("time", F.expr("unix_micros(time)").alias("_us"),
                    "y", "x", "value"),
        DRIVER_CELLS, nan_column=nan_column)
    return None if rows is None else (base, rows)


def packed_cells(ctx, frame, op_name, headroom=1,
                 materialize="persist"):
    """Pack a ``time, y, x, value`` cell frame's coordinates into ONE
    BIGINT key (dense time index × y-extent × x-extent — shared by
    RasterComponents and the hydrology family, round-10 extraction).

    Returns ``(nodes, tindex)``: nodes carries
    ``time, y, x, value, _ymin, _xmin, _dy, _dx, _id``; tindex is the
    broadcastable dense (time, _tix) index.

    ``materialize`` picks the reuse strategy, per caller and per
    MEASUREMENT (r15, guide §1/§5):

    - ``"persist"`` (default): lazy MEMORY_AND_DISK cache, full
      lineage and statistics kept.  The RasterComponents star rounds
      plan joins against nodes' statistics; switching them to an
      eager stats-stripped checkpoint ADDED jobs and wall
      (raster_components 13 → 21 jobs, raster_polygonize 20 → 26 —
      the r15 A/B profile), so they keep the cache.
    - ``"checkpoint"``: eager checkpoint + fresh default stats.  A
      cached frame re-ANALYZES the whole upstream store plan and
      re-executes its broadcast subtrees on every downstream action;
      the hydrology family's edge count + doubling rounds + final
      join paid that repeatedly, and the flattened LogicalRDD
      measured 1.9-2.2× wall at sf0.1 with identical rows.

      Durability (r16, round-15 verdict #10, guide §5): when the
      session has a RELIABLE checkpoint directory configured
      (``sparkContext.setCheckpointDir`` — the cluster deployment's
      job), this uses ``DataFrame.checkpoint()`` so the materialized
      blocks survive executor loss; without one it falls back to
      ``localCheckpoint()``, whose blocks are executor-local and
      unreplicated — fine on local[n], but on a real cluster executor
      loss mid-query is then unrecoverable and dynamic allocation is
      unsafe, so 100 TB deployments should set a checkpoint dir.

    ``headroom`` divides the 2⁶³ guard (hydrology's Euler elements
    need ×2+1 room); overflow fails fast with ``raise_error`` instead
    of mislabeling."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from dask_geomodeling_spark.config import strip_plan_stats

    cells = frame.filter(F.col("value").isNotNull())
    tindex = (cells.select("time").distinct().coalesce(1)
              .withColumn("_tix", F.row_number().over(
                  Window.orderBy("time")) - 1))
    bounds = cells.agg(
        F.min("y").alias("_ymin"), F.max("y").alias("_ymax"),
        F.min("x").alias("_xmin"), F.max("x").alias("_xmax"),
        F.countDistinct("time").alias("_tc"))
    dy_r = "(_ymax - _ymin + 1)"
    dx_r = "(_xmax - _xmin + 1)"
    limit = 9.0e18 / float(headroom)
    pack = F.expr(
        "CASE WHEN CAST(_tc AS DOUBLE) * {dy} * {dx} > {lim!r} "
        "THEN CAST(raise_error('{op}: packed key "
        "space overflows BIGINT') AS BIGINT) "
        "ELSE (_tix * {dy} + (y - _ymin)) * {dx} + (x - _xmin) "
        "END".format(dy=dy_r, dx=dx_r, lim=limit, op=op_name))
    nodes = (cells.join(F.broadcast(tindex), "time")
             .crossJoin(F.broadcast(bounds))
             .select("time", "y", "x", "value", "_ymin", "_xmin",
                     F.expr(dy_r).alias("_dy"),
                     F.expr(dx_r).alias("_dx"),
                     pack.alias("_id")))
    if materialize == "checkpoint":
        sc = ctx.spark.sparkContext
        if sc.getCheckpointDir() is not None:
            nodes = strip_plan_stats(nodes.checkpoint())
        else:
            nodes = strip_plan_stats(nodes.localCheckpoint())
    else:
        nodes = nodes.persist(StorageLevel.MEMORY_AND_DISK)
    return nodes, tindex


def decode_labels(lab, tindex, passthrough, alias):
    """Decode a packed-BIGINT label column ``_l`` (on a frame that
    still carries ``_dy, _dx, _ymin, _xmin``) back to the public
    ``'<epoch_us>:<y>:<x>'`` string via one broadcast time-index
    join — shared by RasterComponents and Watershed so their label
    formats cannot drift."""
    lab = (lab.withColumn("_ltix", F.expr("div(_l, _dy * _dx)"))
           .withColumn("_lrem", F.expr("_l % (_dy * _dx)")))
    lt = tindex.select(F.col("_tix").alias("_ltix"),
                       F.col("time").alias("_ltime"))
    return (lab.join(F.broadcast(lt), "_ltix")
            .select(*passthrough,
                    F.concat_ws(
                        ":", F.expr("unix_micros(_ltime)"),
                        F.expr("div(_lrem, _dx) + _ymin"),
                        F.expr("_lrem % _dx + _xmin"))
                    .alias(alias)))


def _same_value_components(cells, conn):
    """Driver labeling of a ``{(us, y, x): value}`` cell dict:
    ``{cell: its component's minimum cell}`` for every cell with an
    equal-valued 4- (or 8-) neighbor; isolated cells are absent."""
    from dask_geomodeling_spark.pipeline.dedup import min_component_labels
    offs = [(0, 1), (1, 0)]
    if conn == 8:
        offs += [(1, 1), (1, -1)]
    pairs = []
    for (us, y, x), v in cells.items():
        for dy, dx in offs:
            nb = (us, y + dy, x + dx)
            if nb in cells and cells[nb] == v:
                pairs.append(((us, y, x), nb))
    return min_component_labels(pairs)


class RasterComponents(BaseSingle):
    """Label connected same-value regions.

    Args:
      store: source RasterBlock.
      connectivity: 4 (edge-adjacent, default — GDAL polygonize's
        default) or 8 (corners too).
      max_iter: star-round bound (20 covers ~10⁶-diameter components).

    Output: ``time, y, x, value, component`` — ``component`` is the
    canonical cell key ``'<epoch_us>:<y>:<x>'`` of the component's
    (time, y, x)-smallest member under NUMERIC lexicographic order (a
    total order; any consistent order works for labeling).

    Scale note (round-8): the ~``max_iter`` star rounds shuffle the
    node key on every exchange, so the rounds run on a PACKED BIGINT
    key — a mixed-radix encoding of (dense time index, y − ymin,
    x − xmin) whose radices derive lazily from one broadcast bounds
    row; the string form is reconstructed only for the final output
    column (concat strings would ~triple every round's exchange
    bytes).  The dense time index is a row_number over the
    DISTINCT-TIME frame (one partition of time-dimension-many rows —
    the same bounded contract as the time/meta request modes).  A
    raster whose packed key space would overflow 2⁶³ (> 9·10¹⁸
    addressable cells) fails fast with ``raise_error`` instead of
    mislabeling.
    """

    def __init__(self, store, connectivity=4, max_iter=20):
        if connectivity not in (4, 8):
            raise ValueError("connectivity must be 4 or 8")
        super().__init__(store, int(connectivity), int(max_iter))

    @property
    def columns(self):
        return {"time", "y", "x", "value", "component"}

    def _build(self, ctx):
        _, conn, max_iter = self.args
        frame = self.store._build(ctx)
        # bounded inputs label with an exact driver union-find, pinned
        # bit-identical to the distributed path (same min-(time,y,x)
        # canonical member, same NULL drop, same '<epoch_us>:<y>:<x>'
        # label, same schema) by test_components_distributed_matches_driver
        got = bounded_cells(ctx, frame)
        if got is not None:
            return self._driver_label(ctx, *got, conn)
        return self._label(ctx, frame, conn, max_iter)

    @classmethod
    def _driver_label(cls, ctx, base, rows, conn):
        """Exact driver-side mirror of the distributed labeling:
        union-find over the collected (bounded) cell set, canonical
        label = the component's minimum (time, y, x) member — the
        same total order the packed-BIGINT min realizes — rendered
        as '<epoch_us>:<y>:<x>'.  ``rows`` is the caller's
        already-collected probe, so the upstream plan is evaluated
        exactly once (the SieveFilter probe contract)."""
        import pyspark.sql.types as T
        cells = {}
        times = {}
        for r in rows:
            cells[(r["_us"], r["y"], r["x"])] = r["value"]
            times[r["_us"]] = r["time"]
        canon = _same_value_components(cells, conn)
        out = [(times[key[0]], key[1], key[2], v,
                "{}:{}:{}".format(*canon.get(key, key)))
               for key, v in sorted(cells.items())]
        schema = T.StructType(list(base.schema.fields)).add(
            "component", T.StringType(), False)
        return ctx.spark.createDataFrame(out, schema)

    @staticmethod
    def _label(ctx, frame, conn, max_iter=20):
        """Label a ``time, y, x, value`` cell frame (NULLs dropped).

        Split out from ``_build`` (round 10) so ``SieveFilter``'s
        single-pass merge can label its input frame."""
        from dask_geomodeling_spark.pipeline.dedup import DedupClusters
        nodes, tindex = packed_cells(ctx, frame, "RasterComponents")
        offsets = [(0, 1), (1, 0)]
        if conn == 8:
            offsets += [(1, 1), (1, -1)]
        edges = None
        b = nodes.select(F.col("time").alias("_tb"),
                         F.col("y").alias("_yb"),
                         F.col("x").alias("_xb"),
                         F.col("value").alias("_vb"),
                         F.col("_id").alias("_idb"))
        # each offset join yields every adjacent pair once, and no pair
        # is adjacent under two offsets — no distinct() needed
        for dy, dx in offsets:
            e = (nodes.join(
                b,
                (F.col("time") == F.col("_tb"))
                & (F.col("_yb") == F.col("y") + dy)
                & (F.col("_xb") == F.col("x") + dx)
                & (F.col("_vb") == F.col("value")))
                .select(F.least("_id", "_idb").alias("_lo"),
                        F.greatest("_id", "_idb").alias("_hi")))
            edges = e if edges is None else edges.unionByName(e)
        labels = DedupClusters._star_labels(ctx, edges, max_iter)
        # unpack the winning bigint back to the canonical member's
        # (tidx, y, x) and re-join the (broadcast) time index for the
        # public '<epoch_us>:<y>:<x>' string form
        lab = (nodes.join(labels, "_id", "left")
               .withColumn("_l", F.coalesce("_lbl", "_id")))
        return decode_labels(lab, tindex, ["time", "y", "x", "value"],
                             "component")


class SieveFilter(BaseSingle):
    """Remove connected regions smaller than ``threshold`` cells by
    merging them into their LARGEST adjacent region (``gdal_sieve``;
    round 9 — completes the components family: label → polygonize →
    sieve).  Deterministic: among a small region's neighbors the
    largest cell count wins, ties to the smallest component key.

    Single pass over the component graph by default: cascades where a
    small region's largest neighbor is itself small resolve to that
    neighbor's ORIGINAL value (GDAL's priority-queue reprocessing is
    inherently sequential; the one-pass contract is documented and
    exact whenever specks touch a surviving region, the common case).
    ``iterate=True`` (round 10) re-labels and re-merges until no
    region smaller than ``threshold`` can merge — full ``gdal_sieve``
    cascade parity: a speck→speck→survivor chain resolves to the
    survivor's value.  Iterate rounds use the UPHILL rule (a small
    region only merges into a neighbor that strictly dominates it in
    (size, smaller-key) order), so two equal-size small regions merge
    toward the smaller component key in one direction instead of
    swapping values forever; the loop is bounded by the region-graph
    diameter and ``max_rounds``, and each round's result is
    ``localCheckpoint``-ed so the star-round lineage never stacks.  Small regions surrounded entirely by NODATA have no
    neighbor and pass through unchanged — nodata is a mask, not a
    merge target (gdal_sieve's mask semantics); gap-fill first
    (``IDWInterpolate``) to despeckle a sparse raster.

    Plan shape: RasterComponents labels (the O(log²) star rounds),
    ONE size aggregation, one bounded neighbor scatter of the SMALL
    regions only (round 10 — the despeckle set explodes to its 4/8
    neighbor coordinates and equi-joins the cell table on
    (time, y, x), so the shuffle is 1× data + k× small instead of
    k× data), and a per-SMALL-REGION argmax — every join keyed by
    cell or component, nothing data×data."""

    def __init__(self, store, threshold, connectivity=4, iterate=False,
                 max_rounds=10):
        t = int(threshold)
        if t < 2:
            raise ValueError("threshold must be >= 2 cells")
        if connectivity not in (4, 8):
            raise ValueError("connectivity must be 4 or 8")
        if int(max_rounds) < 1:
            raise ValueError("max_rounds must be >= 1")
        super().__init__(store, t, int(connectivity), bool(iterate),
                         int(max_rounds))

    @staticmethod
    def _merge_pass(ctx, frame, threshold, connectivity):
        """The one-pass (``iterate=False``) label → size → merge over a
        cell frame, returning the merged ``time, y, x, value`` frame:
        every small region takes its largest neighbor's ORIGINAL
        value."""
        from dask_geomodeling_spark.raster.spatial import _offsets_df
        comp = RasterComponents._label(ctx, frame, connectivity)
        sizes = (comp.groupBy("time", "component")
                 .agg(F.count(F.lit(1)).cast("bigint").alias("_sz")))
        comp = comp.join(sizes, ["time", "component"])
        small = comp.filter(F.col("_sz") < threshold)
        if connectivity == 4:
            offs = [(0, 1, 1.0), (0, -1, 1.0), (1, 0, 1.0),
                    (-1, 0, 1.0)]
        else:
            offs = [(dy, dx, 1.0) for dy in (-1, 0, 1)
                    for dx in (-1, 0, 1) if (dy, dx) != (0, 0)]
        # scatter the SMALL side: each despeckle cell explodes to its
        # neighbor coordinates and probes the cell table there — the
        # big frame shuffles once, only the small set fans out k×
        sm = (small.crossJoin(_offsets_df(ctx.spark, offs))
              .select("time",
                      (F.col("y") + F.col("dy")).alias("y"),
                      (F.col("x") + F.col("dx")).alias("x"),
                      F.col("component").alias("_sc"),
                      F.col("_sz").alias("_ssz")))
        touch = (sm.join(
            comp.select("time", "y", "x",
                        F.col("component").alias("_nc"),
                        F.col("value").alias("_nv"),
                        F.col("_sz").alias("_nsz")),
            ["time", "y", "x"])
            .filter(F.col("_nc") != F.col("_sc")))
        # one winner per SMALL REGION (the whole region merges):
        # largest neighbor size, ties to the smallest component key
        rep = (touch.groupBy("time", F.col("_sc").alias("component"))
               .agg(F.expr("min_by(struct(_nv AS value), "
                           "struct(-_nsz, _nc))").alias("_w"))
               .select("time", "component",
                       F.col("_w.value").alias("_newv")))
        out = (comp.join(rep, ["time", "component"], "left")
               .select("time", "y", "x",
                       F.coalesce("_newv", "value").alias("value")))
        return out

    def _build(self, ctx):
        _, threshold, connectivity, iterate, max_rounds = self.args
        frame = self.store._build(ctx)
        # bounded driver short-circuit for BOTH modes: the driver
        # mirror is pinned bit-identical to the distributed plans by
        # the two *_matches_driver pytests
        got = bounded_cells(ctx, frame)
        if got is not None:
            return self._driver_fixpoint(
                ctx, *got, threshold, connectivity, max_rounds, iterate)
        if not iterate:
            return self._merge_pass(ctx, frame, threshold,
                                    connectivity)
        return self._iterate_fixpoint(ctx, frame, threshold,
                                      connectivity, max_rounds)

    @classmethod
    def _driver_fixpoint(cls, ctx, base, rows, threshold, connectivity,
                         max_rounds, iterate):
        """Exact driver-side mirror of the merge pass: same
        (size, decoded-string-key) tie order, same ``max_rounds``
        contract — bit-identical to the distributed loop (pinned by
        test_sieve_iterate_distributed_matches_driver /
        test_sieve_single_pass_distributed_matches_driver).
        ``rows`` is the caller's already-collected (and bounded)
        ``time, _us, y, x, value`` probe — the upstream plan is never
        evaluated twice.  ``iterate=False`` is the one-wave semantics
        (merge into the largest neighbor's ORIGINAL value, no uphill
        rule, no fixpoint, no exhaustion error)."""
        cells = {}
        times = {}
        for r in rows:
            cells[(r["_us"], r["y"], r["x"])] = r["value"]
            times[r["_us"]] = r["time"]
        offs = [(0, 1), (1, 0)]
        if connectivity == 8:
            offs += [(1, 1), (1, -1)]
        both = offs + [(-dy, -dx) for dy, dx in offs]
        for _ in range(max_rounds):
            mins = _same_value_components(cells, connectivity)
            comp = {key: mins.get(key, key) for key in cells}
            size = {}
            for c in comp.values():
                size[c] = size.get(c, 0) + 1
            ck = {c: "{}:{}:{}".format(*c) for c in size}
            best = {}
            for key, v in cells.items():
                us, y, x = key
                c = comp[key]
                if size[c] >= threshold:
                    continue
                for dy, dx in both:
                    nb = (us, y + dy, x + dx)
                    if nb not in cells:
                        continue
                    cn = comp[nb]
                    if cn == c:
                        continue
                    # uphill rule (iterate mode only): a strictly
                    # dominating neighbor absorbs
                    if iterate and not (size[cn] > size[c]
                                        or (size[cn] == size[c]
                                            and ck[cn] < ck[c])):
                        continue
                    cand = ((-size[cn], ck[cn]), cells[nb])
                    if c not in best or cand[0] < best[c][0]:
                        best[c] = cand
            if not best:
                break
            for key in cells:
                w = best.get(comp[key])
                if w is not None:
                    cells[key] = w[1]
            if not iterate:
                break
        else:
            raise ValueError(
                "SieveFilter(iterate=True): did not converge in "
                "{} rounds — raise max_rounds (the loop is "
                "bounded by the region-graph diameter)"
                .format(max_rounds))
        out = [(times[us], y, x, v)
               for (us, y, x), v in sorted(cells.items())]
        return ctx.spark.createDataFrame(out, base.schema)

    @staticmethod
    def _iterate_fixpoint(ctx, frame, threshold, connectivity,
                          max_rounds):
        """Fixpoint merge loop — r15 optimization (guide §2.4: remove
        repeated passes): the cell SET and its coordinate adjacency
        never change across merge rounds (only ``value`` does), so the
        packed-key node table and the adjacent-cell pair table build
        ONCE, outside the loop; each round then re-derives same-value
        component edges / sizes / the uphill merge winner from the
        static pair table and the current values alone.  The previous
        shape re-packed the coordinates, re-joined the neighbor
        offsets and re-decoded every label string EVERY round — ~40
        Spark jobs per round at the bench SF; this shape runs ~10.

        Semantics are bit-identical to iterating ``_merge_pass``
        (uphill rule, largest-neighbor/smallest-string-key tie order —
        the tie comparator still uses the DECODED component string
        key, packed ids order differently) — convergence ==
        no merge candidate left, same ``max_rounds`` contract."""
        nodes, tindex = packed_cells(ctx, frame, "SieveFilter")
        offsets = [(0, 1), (1, 0)]
        if connectivity == 8:
            offsets += [(1, 1), (1, -1)]
        b = nodes.select(F.col("time").alias("_tb"),
                         F.col("y").alias("_yb"),
                         F.col("x").alias("_xb"),
                         F.col("_id").alias("_idb"))
        und = None
        for dy, dx in offsets:
            e = (nodes.join(
                b,
                (F.col("time") == F.col("_tb"))
                & (F.col("_yb") == F.col("y") + dy)
                & (F.col("_xb") == F.col("x") + dx))
                .select(F.col("_id").alias("_ida"), "_idb"))
            und = e if und is None else und.unionByName(e)
        und = und.persist()
        # r16 fix (round-15 advice): und/nodes were unpersisted only
        # on the success path — the non-convergence raise, the empty
        # early return and any mid-round exception leaked the pair
        # table and the packed-nodes cache for the session lifetime
        # (the leak class the ClusterDBSCAN round-11 try/finally
        # fixed); the round loop cleans its own checkpoint blocks on
        # the raise path.
        try:
            return SieveFilter._iterate_rounds(
                ctx, frame, nodes, tindex, und, threshold, max_rounds)
        finally:
            und.unpersist()
            nodes.unpersist()

    @staticmethod
    def _iterate_rounds(ctx, frame, nodes, tindex, und, threshold,
                        max_rounds):
        """The round loop of ``_iterate_fixpoint`` (split out so the
        caller's try/finally owns the und/nodes caches); cleans the
        current round's ``cur``/``labj`` checkpoint blocks when an
        exception escapes — the returned plan's own final checkpoint
        must survive, so only the exception path unpersists here."""
        from dask_geomodeling_spark.config import strip_plan_stats
        # both directions of the undirected pair table: a small
        # region's member cell may sit at either end
        undb = und.unionByName(
            und.select(F.col("_idb").alias("_ida"),
                       F.col("_ida").alias("_idb")))
        # static decode metadata — ONE driver row, baked as literals
        # (a per-round broadcast would re-execute every consumer)
        mrow = nodes.select("_ymin", "_xmin", "_dy", "_dx") \
                    .limit(1).collect()
        if not mrow:
            return frame.select("time", "y", "x", "value") \
                        .filter(F.col("value").isNotNull())
        meta_lits = {k: F.lit(mrow[0][k]).cast("bigint")
                     for k in ("_ymin", "_xmin", "_dy", "_dx")}
        cur = strip_plan_stats(
            nodes.select("time", "y", "x", "_id", "value")
            .localCheckpoint())
        try:
            for _ in range(max_rounds):
                cur, changed = SieveFilter._iterate_round(
                    ctx, und, undb, tindex, meta_lits, cur, threshold)
                if changed == 0:
                    break
            else:
                # round-11 advice fix: the loop exhausted max_rounds
                # with merges still happening — returning silently
                # would hand back a NON-fixpoint raster (regions under
                # threshold remain) while the docstring promises full
                # cascade parity; fail loudly like the hydrology
                # doubling loops
                raise ValueError(
                    "SieveFilter(iterate=True): did not converge in "
                    "{} rounds — raise max_rounds (the loop is bounded"
                    " by the region-graph diameter)".format(max_rounds))
        except BaseException:
            # the raise / mid-round-failure path: drop the retained
            # checkpoint blocks (the success path returns a plan
            # READING the final checkpoint, so it must not clean)
            try:
                cur._jdf.rdd().unpersist(False)
            except Exception:
                pass
            raise
        return cur.select("time", "y", "x", "value")

    @staticmethod
    def _iterate_round(ctx, und, undb, tindex, meta_lits, cur,
                       threshold):
        """One merge round: returns ``(next_cur, changed)`` with the
        previous round's ``cur`` and this round's ``labj``
        checkpoints already unpersisted (their content lives on in
        the returned checkpoint)."""
        from dask_geomodeling_spark.config import strip_plan_stats
        from dask_geomodeling_spark.pipeline.dedup import DedupClusters
        va = cur.select(F.col("_id").alias("_ida"),
                        F.col("value").alias("_va"))
        vb = cur.select(F.col("_id").alias("_idb"),
                        F.col("value").alias("_vb"))
        adj = und.join(va, "_ida").join(vb, "_idb")
        edges = (adj.filter(F.col("_va") == F.col("_vb"))
                 .select(F.least("_ida", "_idb").alias("_lo"),
                         F.greatest("_ida", "_idb").alias("_hi")))
        labels = DedupClusters._star_labels(ctx, edges, 20)
        lab = (cur.select("_id", "value")
               .join(labels, "_id", "left")
               .withColumn("_l", F.coalesce("_lbl", "_id"))
               .select("_id", "value", "_l"))
        sizes = (lab.groupBy("_l")
                 .agg(F.count(F.lit(1)).cast("bigint")
                      .alias("_sz")))
        for k, v in meta_lits.items():
            sizes = sizes.withColumn(k, v)
        sizes = decode_labels(sizes, tindex, ["_l", "_sz"], "_ck")
        # ONE materialization per round of the (cell, label, size,
        # string-key) table — ca/cb/nxt below all read this
        # checkpoint instead of re-executing the label join
        labj = strip_plan_stats(
            lab.join(sizes, "_l").localCheckpoint())
        ca = labj.select(F.col("_id").alias("_ida"),
                         F.col("_l").alias("_la"),
                         F.col("_sz").alias("_sza"),
                         F.col("_ck").alias("_cka"))
        cb = labj.select(F.col("_id").alias("_idb"),
                         F.col("_l").alias("_lb"),
                         F.col("_sz").alias("_szb"),
                         F.col("_ck").alias("_ckb"),
                         F.col("value").alias("_nv"))
        touch = (undb.join(ca, "_ida").join(cb, "_idb")
                 .filter(F.col("_la") != F.col("_lb"))
                 .filter(F.col("_sza") < threshold)
                 # uphill rule (identical to _merge_pass): only a
                 # strictly dominating neighbor absorbs
                 .filter((F.col("_szb") > F.col("_sza"))
                         | ((F.col("_szb") == F.col("_sza"))
                            & (F.col("_ckb") < F.col("_cka")))))
        rep = (touch.groupBy(F.col("_la").alias("_l"))
               .agg(F.expr("min_by(struct(_nv AS value), "
                           "struct(-_szb, _ckb))").alias("_w"))
               .select("_l", F.col("_w.value").alias("_newv")))
        nxt = strip_plan_stats(
            cur.drop("value")
            .join(labj.select("_id", "value", "_l"), "_id")
            .join(rep, "_l", "left")
            .select("time", "y", "x", "_id",
                    F.coalesce("_newv", "value").alias("value"),
                    F.col("_newv").isNotNull().alias("_chg"))
            .localCheckpoint())
        changed = nxt.filter("_chg").limit(1).count()
        for old in (cur, labj):
            try:
                old._jdf.rdd().unpersist(False)
            except Exception:
                pass
        return nxt.drop("_chg"), changed
