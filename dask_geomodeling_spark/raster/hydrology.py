"""D8 hydrology on the cell table: ``FlowDirection`` (steepest
descent), ``FlowAccumulation`` (upstream cell counts), ``FlowLength``
(downstream path length) and ``Watershed`` (catchment labeling).

No reference analogue — the reference's user base (Dutch water
management) runs these through GDAL/richdem *before* dask-geomodeling;
here they are first-class blocks so a DEM-to-catchment pipeline stays
inside the engine.

Scale shape: FlowDirection is the FocalStatistic scatter (every cell
explodes to the 8 literal neighbor offsets, one grouped argmax — never
data×data).  FlowAccumulation's flow graph is a functional in-forest
(every cell has at most one downstream edge), and upstream counts are
subtree sizes — computed WITHOUT per-path iteration by an Euler tour
of the forest plus pointer-doubling list ranking: O(log n) self-join
rounds regardless of river length (a continent-long river needs ~40
rounds, not 10⁶), the same convergence class as the
RasterComponents/DedupClusters star machinery.  Rasters with at most
``components.DRIVER_CELLS`` data cells (the request's
``driver_threshold`` overrides it) short-circuit to an exact
driver-side traversal, so small requests skip the round overhead
entirely.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_geomodeling_spark.raster.base import (BaseSingle,
                                                RasterBlock)
from dask_geomodeling_spark.raster.components import (DRIVER_CELLS,
                                                      bounded_cells)

__all__ = ["FlowDirection", "FlowAccumulation",
           "FlowLength", "Watershed", "StreamOrder", "CostDistance",
           "CostAllocation"]

# ESRI/GDAL D8 codes, row-index convention (y grows "south"/downward):
#   E=1, SE=2, S=4, SW=8, W=16, NW=32, N=64, NE=128
D8_CODES = (
    (0, 1, 1), (1, 1, 2), (1, 0, 4), (1, -1, 8),
    (0, -1, 16), (-1, -1, 32), (-1, 0, 64), (-1, 1, 128),
)


# the diagonal step length — a module constant so the driver walk and
# the distributed plan use the IDENTICAL correctly-rounded double
_SQRT2 = 2.0 ** 0.5

# weighted-accumulation quantum: weights quantize once to this type
# and every sum (driver walk AND pointer doubling) is exact in it —
# the cross-path determinism contract (§6-11).  Precision 28 (the
# house decimal(28,x) convention), NOT 38: a (38,9)+(38,9) add
# overflows the 38-digit cap and Spark's precision-loss adjustment
# then SHRINKS the scale one digit per doubling round (9→8→…→the
# 6 floor — the r14 hunt falsified exactly this); (28,9) adds stay
# (29,9), cast back losslessly.  19 integer digits of headroom.
_WT_DECIMAL = "decimal(28,9)"


def _codes_df(spark):
    rows = [(dy, dx, code, float(dy * dy + dx * dx) ** 0.5)
            for dy, dx, code in D8_CODES]
    return F.broadcast(spark.createDataFrame(
        rows, schema="dy bigint, dx bigint, code int, dist double"))


def _flow_graph(ctx, store, op_name):
    """Shared graph build for the hydrology family: pack (time, y, x)
    to one BIGINT (the RasterComponents encoding, components.py:85,
    with ×2+1 Euler-element headroom), decode the D8 codes, and join
    the flow edges.

    Returns ``(nodes, tindex, edges)``:
      nodes — time, y, x, value, _ymin, _xmin, _dy, _dx, _id
        (persisted; every caller joins results back onto it);
      tindex — the broadcastable (time, _tix) dense index;
      edges — (_c child, _p parent, _w step length) (persisted).
    A direction onto a missing cell drains off-raster: the edge is
    dropped, the donor keeps flowing into nothing."""
    from pyspark import StorageLevel

    from dask_geomodeling_spark.raster.components import packed_cells

    # headroom=2: the Euler element ids are _id*2+1 (round-10 review
    # refactor — ONE packing/decoding implementation shared with
    # RasterComponents so label formats cannot drift)
    nodes, tindex = packed_cells(ctx, store._build(ctx), op_name,
                                 headroom=2, materialize="checkpoint")
    codes = _codes_df(ctx.spark).select(
        F.col("code").cast("double").alias("value"), "dy", "dx",
        "dist")
    tgt = (nodes.filter(F.col("value") > 0)
           .join(codes, "value")
           .select("time",
                   F.col("_id").alias("_c"),
                   (F.col("y") + F.col("dy")).alias("y"),
                   (F.col("x") + F.col("dx")).alias("x"),
                   F.col("dist").alias("_w")))
    edges = (tgt.join(nodes.select("time", "y", "x",
                                   F.col("_id").alias("_p")),
                      ["time", "y", "x"])
             .select("_c", "_p", "_w")
             .persist(StorageLevel.MEMORY_AND_DISK))
    return nodes, tindex, edges


#: value → (dy, dx, dist) decode of the D8 codes for the driver fast
#: path (dist uses the same ``float(dy*dy+dx*dx) ** 0.5`` expression
#: as ``_codes_df`` so step lengths are the identical doubles)
_CODE_DECODE = {float(code): (dy, dx, float(dy * dy + dx * dx) ** 0.5)
                for dy, dx, code in D8_CODES}


def _count_schema(base):
    """The output schema of FlowAccumulation, FlowLength and
    StreamOrder: ``base``'s time/y/x fields and a non-nullable
    ``value`` — the distributed paths emit it through ``coalesce``
    with a literal, so the driver mirrors declare it the same way."""
    import pyspark.sql.types as T
    return T.StructType(base.schema.fields[:3] + [
        T.StructField("value", T.DoubleType(), False)])


def _py_flow_edges(cells):
    """Child→(parent, dist) decode of a ``{(us, y, x): code}`` cell
    dict — the driver mirror of ``_flow_graph``'s edge join (a
    direction onto a missing cell drains off-raster: no edge)."""
    nxt = {}
    for key, v in cells.items():
        dec = _CODE_DECODE.get(v)
        if dec is None:
            continue
        us, y, x = key
        nb = (us, y + dec[0], x + dec[1])
        if nb in cells:
            nxt[key] = (nb, dec[2])
    return nxt


def _driver_forest(rows, op_name):
    """Shared driver-side forest walk (round-11 review refactor — this
    scaffolding existed three times with only the per-node fold
    differing): collected edge rows → ``(parent, children,
    post_orders)`` where ``post_orders`` is one post-order node list
    per root (process them REVERSED for leaf-to-root folds).  Fails
    fast on cycles: a revisit during any walk, or a node unreachable
    from every root (in a functional graph that IS a cycle)."""
    parent = {r["_c"]: r["_p"] for r in rows}
    children = {}
    for c, p in parent.items():
        children.setdefault(p, []).append(c)
    seen = set()
    post_orders = []
    for root in set(parent.values()) - set(parent):
        stack, post = [root], []
        while stack:
            v = stack.pop()
            if v in seen:
                raise ValueError(
                    "{}: direction raster contains a cycle"
                    .format(op_name))
            seen.add(v)
            post.append(v)
            stack.extend(children.get(v, ()))
        post_orders.append(post)
    involved = set(parent) | set(children)
    if involved - seen:
        raise ValueError(
            "{}: direction raster contains a cycle".format(op_name))
    return parent, children, post_orders


def _rank_doubling(cur, key, max_iter, op_name, zeros):
    """Generic pointer-doubling accumulation: ``cur`` carries
    ``(key, _ptr, <accs>)`` with the invariant
    ``total(u) = acc(u) + total(_ptr(u))``, ``total(NULL) = 0`` for
    each accumulator column; each round does
    ``acc += acc[_ptr]; _ptr = _ptr[_ptr]`` (one self-join +
    localCheckpoint), converging in ⌈log₂ chain-length⌉ rounds.
    Shared by the Euler list ranking, FlowLength, Watershed and the
    weighted accumulation so the loop exists once (round-10 review
    refactor).

    ``zeros`` maps each accumulator column name to its zero literal.
    Accumulator types MUST be exactly associative — BIGINT counts or
    DECIMAL sums, never raw DOUBLE: the doubling order differs from
    any sequential walk, so a float accumulator drifts by ulps
    between the distributed and driver paths (§6-11; the round-13
    verdict falsified exactly this on FlowLength).

    Every round repartitions by the key with a USER-NUMBERED count
    before checkpointing: the rank rows are ~24 bytes, so AQE's
    byte-size coalescing would shrink a 5M-element tour to ~2
    partitions and serialize all subsequent rounds onto 2 cores (the
    recurring gotcha — user-numbered repartitions survive AQE;
    measured 10×+ wall-clock difference at 2.5M cells).

    DOCUMENTED BOUND (r15 advice): the per-round ``cast(types[a])``
    pins DECIMAL accumulators to their declared precision, and under
    non-ANSI SQL mode an out-of-range sum becomes NULL rather than an
    error — a weighted sum exceeding 19 integer digits (decimal(28,9))
    would read as no-data downstream, not as a wrong number.  At 10¹⁹
    total weight the float answer the operator is specified against
    has lost all sub-unit precision anyway, so the decimal bound is
    not the binding constraint; callers with astronomic weights should
    rescale them."""
    from dask_geomodeling_spark.config import strip_plan_stats
    spark = cur.sparkSession
    accs = list(zeros)
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cur = strip_plan_stats(
        cur.repartition(par, F.col(key)).localCheckpoint())
    # pin each accumulator's type across rounds: Spark widens (and,
    # past the 38-digit cap, precision-loss-SHRINKS) decimal add
    # results, which would silently walk a (38,9) sum down to scale 6
    # over the rounds (r14 hunt falsifier) — the cast is lossless for
    # in-range sums and a no-op for BIGINT
    types = {a: cur.schema[a].dataType for a in accs}
    for _ in range(max_iter):
        if cur.filter(F.col("_ptr").isNotNull()
                      ).limit(1).count() == 0:
            break
        jump = cur.select(F.col(key).alias("_ptr"),
                          F.col("_ptr").alias("_p2"),
                          *[F.col(a).alias(a + "2") for a in accs])
        # ONLY still-active rows enter the join: converged rows have
        # a NULL pointer, and NULL join keys all hash to one shuffle
        # partition — their count DOUBLES per round as the list
        # converges, so the last rounds would serialize into a single
        # task (measured 2.5×/round wall-clock growth at 2.5M cells;
        # round-10 fix).  Converged rows bypass the join untouched.
        active = cur.filter(F.col("_ptr").isNotNull())
        done = cur.filter(F.col("_ptr").isNull())
        prev = cur
        # strip_plan_stats: localCheckpoint carries the join-product
        # sizeInBytes into the LogicalRDD — it would SQUARE per round
        # and stall planning in BigInteger math by round ~20
        cur = strip_plan_stats(
            (active.join(jump, "_ptr", "left")
             .select(key,
                     F.col("_p2").alias("_ptr"),
                     *[(F.col(a) + F.coalesce(F.col(a + "2"),
                                              zeros[a]))
                       .cast(types[a]).alias(a) for a in accs])
             .unionByName(done)
             .repartition(par, F.col(key))
             .localCheckpoint()))
        # free round k−1's checkpoint blocks NOW: ~25 rounds of
        # retained tour-sized checkpoints otherwise fill executor
        # storage and the later rounds slow exponentially under
        # eviction + GC (measured at 2.5M cells, round-10)
        try:
            prev._jdf.rdd().unpersist(False)
        except Exception:
            pass
    else:
        if cur.filter(F.col("_ptr").isNotNull()
                      ).limit(1).count() != 0:
            raise ValueError(
                "{}: pointer doubling did not converge in {} rounds "
                "— direction raster contains a cycle or raise "
                "max_iter".format(op_name, max_iter))
    return cur


class FlowDirection(BaseSingle):
    """D8 steepest-descent flow direction over an elevation raster.

    For every data cell the drop to each of its 8 neighbors is
    ``(z - z_n) / dist`` (dist 1 for edge neighbors, √2 for corners);
    the cell's direction is the ESRI/GDAL code (E=1, SE=2, S=4, SW=8,
    W=16, NW=32, N=64, NE=128; y grows southward) of the steepest
    strictly-downhill neighbor, ties to the smallest code.  Pits and
    flats (no strictly lower neighbor, including cells whose neighbors
    are all NODATA or off-grid) get 0 — the sink marker
    ``FlowAccumulation`` understands.

    Plan: one bounded literal scatter (8 offsets per data cell), one
    equi-join back onto the cell table for the center elevation, one
    grouped ``min_by`` argmax — the FocalStatistic shape; no windows,
    no data×data joins.
    """

    def __init__(self, store):
        super().__init__(store)

    def _build(self, ctx):
        df = (self.store._build(ctx)
              .filter(F.col("value").isNotNull()))
        codes = _codes_df(ctx.spark)
        # scatter each cell's elevation to the 8 cells it NEIGHBORS:
        # the receiving cell (y, x) sees (neighbor z, code of the step
        # FROM the receiver TO that neighbor)
        nb = (df.crossJoin(codes)
              .select("time",
                      (F.col("y") - F.col("dy")).alias("y"),
                      (F.col("x") - F.col("dx")).alias("x"),
                      F.col("value").alias("_nz"),
                      "code", "dist"))
        cand = (df.join(nb, ["time", "y", "x"])
                .withColumn("_drop",
                            (F.col("value") - F.col("_nz"))
                            / F.col("dist"))
                .filter(F.col("_drop") > 0))
        best = (cand.groupBy("time", "y", "x")
                .agg(F.expr("min_by(code, struct(-_drop, code))")
                     .alias("_code")))
        return (df.join(best, ["time", "y", "x"], "left")
                .select("time", "y", "x",
                        F.coalesce(F.col("_code").cast("double"),
                                   F.lit(0.0)).alias("value")))


class FlowAccumulation(BaseSingle):
    """Number of upstream cells draining through each cell (ESRI
    ``FlowAccumulation`` / ``gdal`` D8 accumulation; ridge cells = 0,
    the receiving cell itself is not counted).

    ``store`` is a D8 DIRECTION raster (the ``FlowDirection`` codes);
    compose ``FlowAccumulation(FlowDirection(dem))`` for a DEM.
    Directions pointing off-grid or onto NODATA drain out of the
    raster — the edge is dropped, the donor keeps its own upstream
    count.  Cycles cannot occur in strict-descent D8 output; a
    malformed direction raster containing one would leave the cycle's
    Euler elements unranked and fails fast with a clear error rather
    than looping.

    Execution: the flow graph is a functional in-forest, so upstream
    counts are subtree sizes.  (1) At or below ``DRIVER_CELLS``
    direction cells (and weight cells), collect the cells and count
    subtree sizes exactly on the driver.  (2) Otherwise build
    child→parent edges by decoding the codes (one broadcast join)
    and (3) the forest's Euler tour — per-parent child ordering
    needs only a window bounded by the D8 in-degree (≤ 8 rows per
    key) — and
    pointer-double the tour's list ranks: ``rank += rank[ptr];
    ptr = ptr[ptr]`` with a ``localCheckpoint`` per round, converging
    in ⌈log₂ 2n⌉ rounds.  Subtree size falls out as
    ``(rank(enter) - rank(exit) + 1) / 2``.

    Cell keys pack to one BIGINT (dense time index × y-extent ×
    x-extent — the RasterComponents encoding) so every ranking round
    exchanges 24-byte rows; a raster whose DOUBLED key space would
    overflow 2⁶³ fails fast instead of mislabeling.
    """

    def __init__(self, store, max_iter=48, weights=None):
        if int(max_iter) < 1:
            raise ValueError("max_iter must be >= 1")
        if weights is not None and not isinstance(weights, RasterBlock):
            raise TypeError("weights must be a RasterBlock")
        super().__init__(store, int(max_iter), weights)

    def _build(self, ctx):
        _, max_iter, weights = self.args
        got = bounded_cells(ctx, self.store._build(ctx), nan_column=None)
        if got is not None:
            # the direction-raster gate bounds only the direction
            # cells: a data-sized WEIGHTS raster paired with a tiny
            # direction raster must not be collected, so the weights
            # pass the same gate; unbounded weights fall through to
            # the distributed path
            wrows = None
            if weights is not None:
                wrows = ctx.collect_bounded(
                    weights._build(ctx)
                    .filter(F.col("value").isNotNull())
                    .select(F.expr("unix_micros(time)").alias("_us"),
                            "y", "x",
                            F.col("value").cast(_WT_DECIMAL)
                            .alias("_wt")),
                    DRIVER_CELLS)
            if weights is None or wrows is not None:
                return self._driver_fast(ctx, got, wrows)
        nodes, _tindex, edges = _flow_graph(
            ctx, self.store, "FlowAccumulation")
        if weights is None:
            acc = self._euler_counts(nodes, edges, max_iter)
        else:
            # ESRI weight-raster accumulation: upstream SUM of the
            # weight raster instead of upstream cell count; missing
            # or NULL weight cells contribute 0.  Weights quantize
            # ONCE to DECIMAL(28,9) here — both the driver walk and
            # the pointer doubling then sum the SAME exact values, so
            # the two paths agree bit-for-bit regardless of summation
            # order (§6-11; the round-13 verdict falsified raw-DOUBLE
            # doubling on fractional weights)
            wts = (weights._build(ctx)
                   .filter(F.col("value").isNotNull())
                   .select("time", "y", "x",
                           F.col("value").alias("_wt")))
            nodes_w = (nodes.join(wts, ["time", "y", "x"], "left")
                       .select("time", "y", "x", "_id",
                               F.coalesce("_wt", F.lit(0.0))
                               .cast(_WT_DECIMAL).alias("_wt")))
            acc = self._euler_weighted(nodes, nodes_w, edges,
                                       max_iter)
        # acc derives from checkpointed ranking frames — the edge
        # cache has no further consumer (nodes stays cached: the
        # returned plan joins onto it, the RasterComponents convention)
        edges.unpersist()
        out = (nodes.join(acc, "_id", "left")
               .select("time", "y", "x",
                       F.coalesce(F.col("_acc"), F.lit(0.0))
                       .alias("value")))
        return out

    @staticmethod
    def _driver_fast(ctx, got, wrows):
        """Bounded-cell fast path (see ``bounded_cells``): exact
        subtree counts or weight sums on tuple keys, straight from the
        collected direction raster — no packed ids, no edge join, no
        final join.  Pinned bit-identical to the Euler paths by
        test_hydrology_fast_path_matches_machinery.  ``wrows`` is the
        ALREADY-BOUNDED collected weights projection (the caller's
        gate keeps a data-sized weights raster off the driver), or
        ``None`` for the unweighted walk."""
        base, rows = got
        cells = {(r["_us"], r["y"], r["x"]): r["value"] for r in rows}
        times = {r["_us"]: r["time"] for r in rows}
        nxt = _py_flow_edges(cells)
        erows = [{"_c": c, "_p": p} for c, (p, _d) in nxt.items()]
        _, children, post_orders = _driver_forest(
            erows, "FlowAccumulation")
        if wrows is None:
            acc = {}
            for post in post_orders:
                for v in reversed(post):
                    acc[v] = 1 + sum(
                        acc[w] for w in children.get(v, ()))
            out = [(times[us], y, x,
                    float(acc.get((us, y, x), 1) - 1))
                   for (us, y, x) in sorted(cells)]
            return ctx.spark.createDataFrame(out, _count_schema(base))
        # weighted: the weights arrived quantized through the SAME
        # Spark cast the distributed path uses (collected as
        # DECIMAL(28,9) by the caller's bounded probe); the walk sums
        # the scale-9 UNSCALED integers (python ints — exact at any
        # magnitude) and converts to double once per cell via
        # ``Decimal.scaleb``, the identical correctly-rounded value
        # Spark's DECIMAL→DOUBLE cast gives on the distributed path.
        # 60 digits: scaleb must NEVER round (the default context's 28
        # would)
        from decimal import Context, Decimal
        dctx = Context(prec=60)
        wmap = {(r["_us"], r["y"], r["x"]):
                int(r["_wt"].scaleb(9, context=dctx))
                for r in wrows if (r["_us"], r["y"], r["x"]) in cells}
        acc = {}
        for post in post_orders:
            for v in reversed(post):
                acc[v] = wmap.get(v, 0) + sum(
                    acc[w] for w in children.get(v, ()))
        out = []
        for (us, y, x) in sorted(cells):
            k = (us, y, x)
            v = acc.get(k, wmap.get(k, 0))
            d = v - wmap.get(k, 0)
            val = float(Decimal(d).scaleb(-9, context=dctx)) \
                if d != 0 else 0.0
            out.append((times[us], y, x, val))
        return ctx.spark.createDataFrame(out, _count_schema(base))

    @staticmethod
    def _euler_tour(nodes, edges):
        """The forest's Euler tour as a successor list: element
        ``2u`` = enter(u), ``2u + 1`` = exit(u); per-parent child
        ordering needs only a ≤ 8-row keyed window."""
        from pyspark.sql import Window

        w = Window.partitionBy("_p").orderBy("_c")
        kids = (edges.withColumn("_next", F.lead("_c").over(w))
                .withColumn("_rn", F.row_number().over(w)))
        first = (kids.filter(F.col("_rn") == 1)
                 .select(F.col("_p").alias("_id"),
                         F.col("_c").alias("_fc")))
        ids = nodes.select("_id")
        # enter(u) = 2u: succ = enter(first child) | exit(u)
        enters = (ids.join(first, "_id", "left")
                  .select((F.col("_id") * 2).alias("_e"),
                          F.coalesce(F.col("_fc") * 2,
                                     F.col("_id") * 2 + 1)
                          .alias("_s")))
        # exit(c), c a child: succ = enter(next sibling) | exit(parent)
        exits_c = kids.select(
            (F.col("_c") * 2 + 1).alias("_e"),
            F.coalesce(F.col("_next") * 2, F.col("_p") * 2 + 1)
            .alias("_s"))
        # exit(root/isolated): terminator
        exits_r = (ids.join(edges.select(F.col("_c").alias("_id")),
                            "_id", "left_anti")
                   .select((F.col("_id") * 2 + 1).alias("_e"),
                           F.lit(None).cast("bigint").alias("_s")))
        return enters.unionByName(exits_c).unionByName(exits_r)

    @staticmethod
    def _rank_decode(rank):
        """Converged element ranks → per-NODE (_id, _re, _rx).
        INTEGER div throughout: element ids and ranks may exceed
        2^53, where a double round-trip would corrupt keys (shared by
        both accumulation variants, round-10 review)."""
        ent = (rank.filter(F.col("_e") % 2 == 0)
               .select(F.expr("_e div 2").alias("_id"),
                       F.col("_r").alias("_re")))
        ext = (rank.filter(F.col("_e") % 2 == 1)
               .select(F.expr("(_e - 1) div 2").alias("_id"),
                       F.col("_r").alias("_rx")))
        return ent.join(ext, "_id")

    @classmethod
    def _euler_counts(cls, nodes, edges, max_iter):
        """Euler tour + pointer-doubling list ranking → subtree sizes."""
        tour = cls._euler_tour(nodes, edges)
        rank = _rank_doubling(
            tour.select(
                "_e", F.col("_s").alias("_ptr"),
                F.when(F.col("_s").isNull(), F.lit(0))
                .otherwise(F.lit(1)).cast("bigint").alias("_r")),
            "_e", max_iter, "FlowAccumulation", {"_r": F.lit(0)})
        return (cls._rank_decode(rank)
                .select("_id",
                        F.expr("(_re - _rx - 1) div 2")
                        .cast("double").alias("_acc")))

    @classmethod
    def _euler_weighted(cls, nodes, nodes_w, edges, max_iter):
        """Weighted accumulation: the SAME Euler tour, but the
        doubling sums element weights (enter(u) carries u's weight,
        exits carry 0) — ``total(enter v) − total(exit v)`` is then
        exactly the weighted sum over v's proper descendants, no
        count adjustment needed.  The tour builds from the PERSISTED
        nodes frame (it only needs _id); the weight join is read
        exactly once, for the element-weight lookup (round-10
        review).  Weights are DECIMAL(28,9) end to end — the doubling
        sums exactly, so partition order and round structure cannot
        perturb the result; ONE cast to double at the very end."""
        zero = F.lit(0).cast(_WT_DECIMAL)
        tour = cls._euler_tour(nodes, edges)
        ewt = nodes_w.select((F.col("_id") * 2).alias("_s2"),
                             F.col("_wt").alias("_swt"))
        init = (tour.join(ewt, tour["_s"] == ewt["_s2"], "left")
                .select("_e", F.col("_s").alias("_ptr"),
                        F.coalesce(F.col("_swt"), zero)
                        .cast(_WT_DECIMAL).alias("_r")))
        rank = _rank_doubling(init, "_e", max_iter,
                              "FlowAccumulation", {"_r": zero})
        return (cls._rank_decode(rank)
                .select("_id", (F.col("_re") - F.col("_rx"))
                        .cast("double").alias("_acc")))


class FlowLength(BaseSingle):
    """Downstream flow-path length per cell: the along-path distance
    (edge steps 1, corner steps √2 — cell units) from each cell to
    where its flow leaves the raster or hits a pit (ESRI
    ``FlowLength(direction, 'DOWNSTREAM')``).

    ``store`` is a D8 direction raster (``FlowDirection`` codes).
    Pits and off-grid drains have length 0.

    Execution: pointer doubling on the flow forest — each round one
    self-join on the packed BIGINT key, converging in ⌈log₂ depth⌉
    rounds regardless of river length; at most ``DRIVER_CELLS``
    cells short-circuit to an exact memoized driver walk.

    Every path length is exactly ``a·1 + b·√2`` — BOTH paths carry
    the (straight, diagonal) BIGINT step counts (exact under any
    summation order) and compute ``a + b·√2`` in double ONCE at the
    end, so the distributed and driver paths agree bit-for-bit
    (§6-11; the round-13 verdict falsified the previous raw-DOUBLE
    ``d + d[ptr]`` doubling by 1 ulp against the driver walk)."""

    def __init__(self, store, max_iter=48):
        if int(max_iter) < 1:
            raise ValueError("max_iter must be >= 1")
        super().__init__(store, int(max_iter))

    def _build(self, ctx):
        _, max_iter = self.args
        got = bounded_cells(ctx, self.store._build(ctx), nan_column=None)
        if got is not None:
            return self._driver_fast(ctx, got)
        nodes, _tindex, edges = _flow_graph(ctx, self.store,
                                            "FlowLength")
        lens = self._double_lengths(edges, max_iter)
        edges.unpersist()
        return (nodes.join(lens, "_id", "left")
                .select("time", "y", "x",
                        F.coalesce(F.col("_len"), F.lit(0.0))
                        .alias("value")))

    @staticmethod
    def _driver_fast(ctx, got):
        """Bounded-cell fast path: the exact memoized (straight,
        diagonal)-count walk on tuple keys (see ``bounded_cells``)."""
        base, rows = got
        cells = {(r["_us"], r["y"], r["x"]): r["value"] for r in rows}
        times = {r["_us"]: r["time"] for r in rows}
        nxt = {c: (p, d != 1.0)
               for c, (p, d) in _py_flow_edges(cells).items()}
        memo = {}

        def steps(u):
            path, on_path = [], set()
            while u in nxt and u not in memo:
                if u in on_path:
                    raise ValueError(
                        "FlowLength: direction raster contains "
                        "a cycle")
                path.append(u)
                on_path.add(u)
                u = nxt[u][0]
            a, b = memo.get(u, (0, 0))
            for v in reversed(path):
                if nxt[v][1]:
                    b += 1
                else:
                    a += 1
                memo[v] = (a, b)

        for u in nxt:
            steps(u)
        out = []
        for (us, y, x) in sorted(cells):
            ab = memo.get((us, y, x))
            val = float(ab[0]) + float(ab[1]) * _SQRT2 if ab else 0.0
            out.append((times[us], y, x, val))
        return ctx.spark.createDataFrame(out, _count_schema(base))

    @staticmethod
    def _double_lengths(edges, max_iter):
        one = F.lit(1).cast("bigint")
        nil = F.lit(0).cast("bigint")
        cur = _rank_doubling(
            edges.select(F.col("_c").alias("_id"),
                         F.col("_p").alias("_ptr"),
                         F.when(F.col("_w") == 1.0, one)
                         .otherwise(nil).alias("_ra"),
                         F.when(F.col("_w") == 1.0, nil)
                         .otherwise(one).alias("_rb")),
            "_id", max_iter, "FlowLength",
            {"_ra": F.lit(0), "_rb": F.lit(0)})
        # a + b·√2 computed once, in the same op order as the driver
        # walk's python expression — bit-identical across paths
        return cur.select(
            "_id",
            (F.col("_ra").cast("double")
             + F.col("_rb").cast("double") * F.lit(_SQRT2))
            .alias("_len"))


class Watershed(BaseSingle):
    """Catchment labeling: every cell gets the canonical key of the
    SINK its flow path terminates in (a pit cell or the last on-grid
    cell before an off-raster drain) — the D8 watershed delineation
    (ESRI ``Watershed`` over all sinks / ``gdal watershed``).

    ``store`` is a D8 direction raster (``FlowDirection`` codes).
    Output: ``time, y, x, value, catchment`` — ``value`` is the input
    code, ``catchment`` the sink's ``'<epoch_us>:<y>:<x>'`` string
    (the RasterComponents label format, so catchments compose with
    the components tooling).

    Execution: the shared pointer-doubling loop (``_rank_doubling``)
    summing the BIGINT offsets ``parent − id`` along each flow path —
    the sum telescopes to ``sink − id``, so every cell's label is
    ``id + sum`` after ⌈log₂ depth⌉ self-join rounds (sinks label
    themselves); a cycle never converges and raises.  At most
    ``DRIVER_CELLS`` cells short-circuit to a path-compressed driver
    walk."""

    def __init__(self, store, max_iter=48):
        if int(max_iter) < 1:
            raise ValueError("max_iter must be >= 1")
        super().__init__(store, int(max_iter))

    @property
    def columns(self):
        return {"time", "y", "x", "value", "catchment"}

    def _build(self, ctx):
        _, max_iter = self.args
        got = bounded_cells(ctx, self.store._build(ctx), nan_column=None)
        if got is not None:
            return self._driver_fast(ctx, got)
        nodes, tindex, edges = _flow_graph(ctx, self.store,
                                           "Watershed")
        # every partial sum of the offsets is the difference of two
        # packed ids, so the BIGINT sum is exact and in range
        labs = _rank_doubling(
            edges.select(F.col("_c").alias("_id"),
                         F.col("_p").alias("_ptr"),
                         (F.col("_p") - F.col("_c")).alias("_d")),
            "_id", max_iter, "Watershed", {"_d": F.lit(0)})
        edges.unpersist()
        from dask_geomodeling_spark.raster.components import (
            decode_labels)
        lab = (nodes.join(labs.select("_id", "_d"), "_id", "left")
               .withColumn("_l", F.col("_id")
                           + F.coalesce("_d", F.lit(0))))
        return decode_labels(lab, tindex,
                             ["time", "y", "x", "value"], "catchment")

    @staticmethod
    def _driver_fast(ctx, got):
        """Bounded-cell fast path: the exact path-compressed root
        walk on tuple keys; the catchment string is the same
        '<epoch_us>:<y>:<x>' decode_labels renders, in a non-nullable
        column like the distributed path's."""
        import pyspark.sql.types as T
        base, rows = got
        cells = {(r["_us"], r["y"], r["x"]): r["value"] for r in rows}
        times = {r["_us"]: r["time"] for r in rows}
        parent = {c: p for c, (p, _d) in _py_flow_edges(cells).items()}
        root = {}

        def find(u):
            path, on_path = [], set()
            while u in parent and u not in root:
                if u in on_path:
                    raise ValueError(
                        "Watershed: direction raster contains "
                        "a cycle")
                path.append(u)
                on_path.add(u)
                u = parent[u]
            r = root.get(u, u)
            for v in path:
                root[v] = r
            return r

        for u in parent:
            find(u)
        out = []
        for key in sorted(cells):
            us, y, x = key
            rt = root.get(key, key)
            out.append((times[us], y, x, cells[key],
                        "{}:{}:{}".format(*rt)))
        schema = T.StructType(list(base.schema.fields)
                              + [T.StructField("catchment",
                                               T.StringType(), False)])
        return ctx.spark.createDataFrame(out, schema)


class StreamOrder(BaseSingle):
    """Strahler stream order per cell (round 11 — completes the
    terrain suite: ESRI ``StreamOrder(..., 'STRAHLER')`` / GRASS
    ``r.stream.order``): headwater cells are order 1; where two (or
    more) upstream branches of equal order k meet, the receiving cell
    is order k+1; otherwise a cell carries the max order of its
    upstream branches.

    ``store`` is a D8 direction raster (``FlowDirection`` codes).
    Every data cell gets the order of the flow path through it; cells
    with no inflow (including pits with no upstream) are order 1.
    Output: ``time, y, x, value`` with ``value`` the order.

    Execution: Strahler order is the one tree statistic the plain
    subtree aggregates can't give directly, but it iterates in the
    ORDER dimension, which is tiny: ``strahler(v) >= k+1`` iff
    v's subtree contains a node with >= 2 children of order >= k, so
    with ``T_k = {v : strahler(v) >= k}`` (T_1 = all cells):

      J_k   = parents with >= 2 children in T_k          (one groupBy)
      T_k+1 = J_k  ∪  {v : subtree(v) ∩ J_k ≠ ∅}         (one weighted
              Euler ranking — the FlowAccumulation machinery with
              junction-indicator weights)

    and the loop runs ``max(strahler)`` times — bounded by
    ``log₂(#headwaters) + 1`` (the Amazon is order 12), NOT by river
    length or tree depth.  Total cost: O(order · log n) self-join
    rounds on 24-byte rows.  At or below ``DRIVER_CELLS`` cells the
    exact post-order traversal runs on the driver (the
    FlowAccumulation short-circuit); malformed cyclic direction
    rasters fail fast in both paths.
    """

    def __init__(self, store, max_order=32, max_iter=48):
        if int(max_order) < 1:
            raise ValueError("max_order must be >= 1")
        if int(max_iter) < 1:
            raise ValueError("max_iter must be >= 1")
        super().__init__(store, int(max_order), int(max_iter))

    def _build(self, ctx):
        _, max_order, max_iter = self.args
        got = bounded_cells(ctx, self.store._build(ctx), nan_column=None)
        if got is not None:
            return self._driver_fast(ctx, got, max_order)
        nodes, _tindex, edges = _flow_graph(ctx, self.store,
                                            "StreamOrder")
        orders = self._euler_orders(nodes, edges, max_order, max_iter)
        edges.unpersist()
        return (nodes.join(orders, "_id", "left")
                .select("time", "y", "x",
                        F.coalesce(F.col("_ord"), F.lit(1.0))
                        .alias("value")))

    @staticmethod
    def _driver_fast(ctx, got, max_order):
        """Bounded-cell fast path: the exact post-order Strahler walk
        on tuple keys (see ``bounded_cells``)."""
        base, rows = got
        cells = {(r["_us"], r["y"], r["x"]): r["value"] for r in rows}
        times = {r["_us"]: r["time"] for r in rows}
        erows = [{"_c": c, "_p": p}
                 for c, (p, _d) in _py_flow_edges(cells).items()]
        _, children, post_orders = _driver_forest(erows, "StreamOrder")
        order = {}
        for post in post_orders:
            for v in reversed(post):
                kids = children.get(v, ())
                if not kids:
                    order[v] = 1
                    continue
                mx = max(order[c] for c in kids)
                ties = sum(1 for c in kids if order[c] == mx)
                order[v] = mx + (1 if ties >= 2 else 0)
        got_max = max(order.values(), default=1)
        if got_max > max_order:
            raise ValueError(
                "StreamOrder: order {} exceeds max_order {}"
                .format(got_max, max_order))
        out = [(times[us], y, x,
                float(order.get((us, y, x), 1)))
               for (us, y, x) in sorted(cells)]
        return ctx.spark.createDataFrame(out, _count_schema(base))

    @staticmethod
    def _euler_orders(nodes, edges, max_order, max_iter):
        """The k-loop over T-sets: at the top of round k the running
        order column satisfies ``_ord(v) = k`` iff ``strahler(v) >= k``
        (T-sets are nested, so the count of sets v belonged to IS its
        membership frontier); each round computes the junction set and
        marks its ancestors-or-self through one junction-weighted
        Euler ranking."""
        from dask_geomodeling_spark.config import strip_plan_stats
        spark = nodes.sparkSession
        par = int(spark.conf.get("spark.sql.shuffle.partitions"))
        from pyspark import StorageLevel
        # acyclicity gate FIRST (the shared fail-fast contract): a
        # junction-free cyclic raster would otherwise exit the k-loop
        # at k=1 without ever running a doubling pass that could
        # detect it.  One edges-only pointer doubling (n_edges rows,
        # ⌈log₂ depth⌉ rounds — the FlowLength shape) converges iff
        # every flow path reaches a root.
        gate = _rank_doubling(
            edges.select(F.col("_c").alias("_id"),
                         F.col("_p").alias("_ptr"),
                         F.lit(0).cast("bigint").alias("_r")),
            "_id", max_iter, "StreamOrder", {"_r": F.lit(0)})
        try:
            gate._jdf.rdd().unpersist(False)
        except Exception:
            pass
        tour = (FlowAccumulation._euler_tour(nodes, edges)
                .persist(StorageLevel.MEMORY_AND_DISK))
        st = strip_plan_stats(
            nodes.select("_id", F.lit(1.0).alias("_ord"))
            .repartition(par, F.col("_id")).localCheckpoint())
        try:
            for k in range(1, max_order + 1):
                active = (st.filter(F.col("_ord") == k)
                          .select(F.col("_id").alias("_c")))
                # persist + count: the junction set feeds the
                # emptiness check, the ranking weights AND the T-set
                # union — without this the semi-join + groupBy over
                # the edge table executes three times per order level
                # (round-11 review fix)
                jk = (edges.join(active, "_c", "left_semi")
                      .groupBy("_p")
                      .agg(F.count(F.lit(1)).alias("_nk"))
                      .filter(F.col("_nk") >= 2)
                      .select("_p")
                      .persist())
                # jk frees in the finally (round-11 second-pass
                # review: a mid-ranking non-convergence raise must not
                # leak the persisted junction table); everything that
                # consumes jk — the ranking AND the eager st
                # checkpoint — happens inside the try
                rank = None
                try:
                    if jk.count() == 0:
                        return st.filter(F.col("_ord") > 1) \
                            .select("_id", "_ord")
                    # junction-indicator weights on the tour:
                    # _re − _rx counts J_k members among v's PROPER
                    # descendants
                    ewt = jk.select((F.col("_p") * 2).alias("_s2"),
                                    F.lit(1).cast("bigint")
                                    .alias("_swt"))
                    init = (tour.join(ewt, tour["_s"] == ewt["_s2"],
                                      "left")
                            .select("_e", F.col("_s").alias("_ptr"),
                                    F.coalesce(F.col("_swt"),
                                               F.lit(0).cast("bigint"))
                                    .alias("_r")))
                    rank = _rank_doubling(init, "_e", max_iter,
                                          "StreamOrder",
                                          {"_r": F.lit(0)})
                    nxt = (FlowAccumulation._rank_decode(rank)
                           .filter(F.col("_re") > F.col("_rx"))
                           .select("_id")
                           .unionByName(jk.select(F.col("_p")
                                                  .alias("_id")))
                           .distinct())
                    prev = st
                    st = strip_plan_stats(
                        (st.join(nxt.withColumn("_b", F.lit(1.0)),
                                 "_id", "left")
                         .select("_id", (F.col("_ord")
                                         + F.coalesce(F.col("_b"),
                                                      F.lit(0.0)))
                                 .alias("_ord"))
                         .repartition(par, F.col("_id"))
                         .localCheckpoint()))
                    try:
                        prev._jdf.rdd().unpersist(False)
                    except Exception:
                        pass
                finally:
                    if rank is not None:
                        try:
                            rank._jdf.rdd().unpersist(False)
                        except Exception:
                            pass
                    jk.unpersist()
            raise ValueError(
                "StreamOrder: order exceeds max_order {} — raise "
                "max_order (Strahler order is bounded by "
                "log2(#headwaters) + 1)".format(max_order))
        finally:
            tour.unpersist()


class CostDistance(RasterBlock):
    """Weighted least-cost distance from source cells over a cost
    raster (round 12) — the ESRI ``CostDistance`` analogue that
    completes the terrain suite beside the D8 family.  No reference
    analogue: the reference's users run it through
    GDAL/ArcGIS upstream; here a DEM-to-accessibility pipeline stays
    inside the engine.

    Semantics (ESRI): moving between 8-connected cells a -> b costs
    ``dist(a, b) * (cost_a + cost_b) / 2`` (dist = 1 orthogonal,
    sqrt(2) diagonal); a cell's cost distance is the minimum
    accumulated cost over all paths from any SOURCE cell (distance 0
    at sources).  ``cost`` cells that are NULL or <= 0 are barriers.
    ``sources`` is a raster whose non-NULL cells seed the search (a
    source on a barrier cell seeds nothing).  Output: ``time, y, x,
    value`` (the cost raster) + ``cost_distance`` (NULL = barrier or
    unreachable).  The fixpoint is min-over-paths of a left-to-right
    double sum — order- and partitioning-independent, so the result
    is deterministic on any engine.

    Execution (the hydrology loop machinery): cells pack to BIGINT
    ids (components.packed_cells), the 8-neighbor edge set is one
    offsets-literal scatter + one equi-join (never data x data), and
    distances run FRONTIER Bellman-Ford rounds — each round relaxes
    only edges out of cells improved last round (converged-row
    bypass), one groupBy-min per round, ``strip_plan_stats``
    checkpoint discipline with per-round block freeing (the
    Watershed/_rank_doubling guards).  Rounds needed = hop count of
    the hop-minimal optimal path; the default bound is
    ``2 * (height + width) + 8`` (grid-diameter scale) with a
    FAIL-FAST raise — a labyrinthine cost field that forces longer
    optimal paths needs an explicit ``max_iter``.  Cost and source
    rasters of at most ``DRIVER_CELLS`` cells, or edge sets of at most
    that many edges, short-circuit to an exact driver Dijkstra (the
    request's ``driver_threshold`` overrides the bound)."""

    def __init__(self, cost, sources, max_iter=None):
        for blk in (cost, sources):
            if not isinstance(blk, RasterBlock):
                raise TypeError(
                    "'{}' object is not allowed".format(type(blk)))
        if max_iter is not None and int(max_iter) < 1:
            raise ValueError("max_iter must be >= 1")
        super().__init__(cost, sources,
                         None if max_iter is None else int(max_iter))

    @property
    def columns(self):
        return {"time", "y", "x", "value", "cost_distance"}

    def _build(self, ctx):
        return (self._solve(ctx)
                .select("time", "y", "x", "value",
                        F.col("_d").alias("cost_distance")))

    def _solve(self, ctx):
        """Shared cost-flood solver (CostDistance / CostAllocation):
        returns the cost cells joined with the settled ``(_d, _lab)``
        state — minimal accumulated cost and the label of the source
        that provides it (NULL = barrier / unreachable)."""
        cost_blk, src_blk, max_iter = self.args
        spark = ctx.spark
        got = bounded_cells(ctx, cost_blk._build(ctx))
        if got is not None:
            got_src = bounded_cells(ctx, src_blk._build(ctx))
            if got_src is not None:
                return self._driver_fast(ctx, got, got_src)
        from dask_geomodeling_spark.raster.components import (
            packed_cells)
        nodes, _ = packed_cells(ctx, cost_blk._build(ctx),
                                "CostDistance", headroom=1,
                                materialize="checkpoint")
        trav = nodes.filter(F.col("value") > 0)
        # the flow family's D8 offsets/step-length literal, reused so
        # the neighbor set and distance convention exist ONCE
        offs = _codes_df(spark).select("dy", "dx", "dist")
        tgt = (trav.crossJoin(offs)
               .select("time",
                       F.col("_id").alias("_a"),
                       F.col("value").alias("_ca"),
                       (F.col("y") + F.col("dy")).alias("y"),
                       (F.col("x") + F.col("dx")).alias("x"),
                       "dist"))
        edges = (tgt.join(trav.select("time", "y", "x",
                                      F.col("_id").alias("_b"),
                                      F.col("value").alias("_cb")),
                          ["time", "y", "x"])
                 .select("_a", "_b",
                         (F.col("dist") * (F.col("_ca") + F.col("_cb"))
                          / 2.0).alias("_w")))
        src_cells = (src_blk._build(ctx)
                     .filter(F.col("value").isNotNull())
                     .select("time", "y", "x",
                             F.col("value").alias("_lab")))
        # state is ALWAYS the lexicographic (distance, source-label)
        # pair: CostDistance ignores the label, CostAllocation emits
        # it — distance ties resolve to the smallest source label,
        # deterministically on both execution paths
        seeds = (trav.join(src_cells, ["time", "y", "x"])
                 .select("_id", F.lit(0.0).alias("_d"), "_lab"))
        from pyspark import StorageLevel
        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            erows = ctx.collect_bounded(edges, DRIVER_CELLS)
            if erows is not None:
                dists = self._driver_dijkstra(spark, seeds, erows)
            else:
                if max_iter is None:
                    b = nodes.select("_dy", "_dx").first()
                    max_iter = 2 * int(b["_dy"] + b["_dx"]) + 8 \
                        if b is not None else 8
                dists = self._bf_rounds(seeds, edges, max_iter)
        finally:
            edges.unpersist()
        return nodes.join(dists, "_id", "left")

    @staticmethod
    def _driver_fast(ctx, got, got_src):
        """Bounded-cell fast path: edge weights and the Dijkstra heap
        order mirror the machinery exactly — ``dist * (ca + cb) / 2.0``
        in the same IEEE op order, (distance, label) settle order —
        on tuple keys (see ``bounded_cells``; NaN costs/sources take
        the distributed path)."""
        import heapq
        from collections import defaultdict

        import pyspark.sql.types as T
        base, rows = got
        cells = {(r["_us"], r["y"], r["x"]): r["value"] for r in rows}
        times = {r["_us"]: r["time"] for r in rows}
        trav = {k: v for k, v in cells.items() if v > 0}
        adj = defaultdict(list)
        for (us, y, x), ca in trav.items():
            for dy, dx, _code in D8_CODES:
                nb = (us, y + dy, x + dx)
                cb = trav.get(nb)
                if cb is not None:
                    d = float(dy * dy + dx * dx) ** 0.5
                    adj[(us, y, x)].append((nb, d * (ca + cb) / 2.0))
        _sbase, srows = got_src
        dist = {}
        heap = [(0.0, r["value"], (r["_us"], r["y"], r["x"]))
                for r in srows
                if (r["_us"], r["y"], r["x"]) in trav]
        heapq.heapify(heap)
        while heap:
            d, lab, u = heapq.heappop(heap)
            if u in dist:
                continue
            dist[u] = (d, lab)
            for v, w in adj[u]:
                if v not in dist:
                    heapq.heappush(heap, (d + w, lab, v))
        out = []
        for key in sorted(cells):
            us, y, x = key
            st = dist.get(key)
            out.append((times[us], y, x, cells[key],
                        float(st[0]) if st else None,
                        float(st[1]) if st else None))
        schema = T.StructType(
            list(base.schema.fields)
            + [T.StructField("_d", T.DoubleType()),
               T.StructField("_lab", T.DoubleType())])
        return ctx.spark.createDataFrame(out, schema)

    @staticmethod
    def _driver_dijkstra(spark, seeds, edges):
        """Exact Dijkstra over the collected (bounded) edge rows."""
        import heapq
        from collections import defaultdict
        adj = defaultdict(list)
        for r in edges:
            adj[r["_a"]].append((r["_b"], r["_w"]))
        # heap orders by (distance, label): a distance tie settles
        # with the smallest source label — same rule as the BF path
        dist = {}
        heap = [(0.0, r["_lab"], r["_id"]) for r in seeds.collect()]
        heapq.heapify(heap)
        while heap:
            d, lab, u = heapq.heappop(heap)
            if u in dist:
                continue
            dist[u] = (d, lab)
            for v, w in adj[u]:
                if v not in dist:
                    heapq.heappush(heap, (d + w, lab, v))
        out = [(int(k), float(d), float(lab))
               for k, (d, lab) in dist.items()]
        schema = "_id bigint, _d double, _lab double"
        return spark.createDataFrame(out, schema) if out else \
            spark.createDataFrame([], schema)

    @staticmethod
    def _bf_rounds(seeds, edges, max_rounds):
        """Frontier Bellman-Ford: relax only out of last round's
        improved cells; per-round user-numbered repartition +
        localCheckpoint + previous-block freeing (the Watershed
        loop guards)."""
        from dask_geomodeling_spark.config import strip_plan_stats
        spark = seeds.sparkSession
        par = int(spark.conf.get("spark.sql.shuffle.partitions"))
        cur = strip_plan_stats(
            seeds.repartition(par, F.col("_id")).localCheckpoint())
        frontier = cur
        # max_rounds + 1: convergence is only OBSERVABLE via an empty
        # update round, so H-hop optimal paths need H update rounds
        # plus one detection round — "max_iter = hop count" is the
        # documented contract (round-12 review fix: the off-by-one
        # raised a spurious not-converged on exactly-H-hop fields)
        for _ in range(max_rounds + 1):
            # candidate state per reached neighbor: lexicographic min
            # of (distance, label) — distance ties keep the smallest
            # source label, mirroring the Dijkstra heap order
            cand = (frontier.join(edges,
                                  frontier["_id"] == edges["_a"])
                    .select(F.col("_b").alias("_id"),
                            F.struct(
                                (F.col("_d") + F.col("_w"))
                                .alias("_d"),
                                F.col("_lab").alias("_lab"))
                            .alias("_sn"))
                    .groupBy("_id").agg(F.min("_sn").alias("_sn")))
            upd = strip_plan_stats(
                (cand.join(cur.select(
                    "_id", F.struct(F.col("_d").alias("_d"),
                                    F.col("_lab").alias("_lab"))
                    .alias("_sc")), "_id", "left")
                 .filter(F.col("_sc").isNull()
                         | (F.col("_sn") < F.col("_sc")))
                 .select("_id", F.col("_sn._d").alias("_d"),
                         F.col("_sn._lab").alias("_lab"))
                 .repartition(par, F.col("_id"))
                 .localCheckpoint()))
            if frontier is not cur:
                try:
                    frontier._jdf.rdd().unpersist(False)
                except Exception:
                    pass
            if upd.limit(1).count() == 0:
                return cur
            new = strip_plan_stats(
                (cur.join(upd.select("_id",
                                     F.col("_d").alias("_du"),
                                     F.col("_lab").alias("_labu")),
                          "_id", "full")
                 .select("_id",
                         F.coalesce("_du", "_d").alias("_d"),
                         F.coalesce("_labu", "_lab").alias("_lab"))
                 .repartition(par, F.col("_id"))
                 .localCheckpoint()))
            try:
                cur._jdf.rdd().unpersist(False)
            except Exception:
                pass
            cur = new
            frontier = upd
        raise ValueError(
            "CostDistance: not converged within {} rounds — the cost "
            "field forces optimal paths longer than the grid-diameter "
            "bound; pass an explicit max_iter".format(max_rounds))


class CostAllocation(CostDistance):
    """Cost allocation: every cell gets the VALUE of the source that
    is nearest in least-cost terms (round 12) — the ESRI
    ``CostAllocation`` companion of :class:`CostDistance`, the
    "which facility serves this cell" layer.  Same solver, same cost
    semantics, same execution paths; the settled state is the
    lexicographic (distance, source-label) pair, so a distance tie
    deterministically allocates to the SMALLEST source value on both
    the driver-Dijkstra and the distributed Bellman-Ford path.

    Output: ``time, y, x, value`` (the cost raster) +
    ``cost_distance`` + ``allocation`` (the winning source raster's
    value; NULL = barrier or unreachable)."""

    @property
    def columns(self):
        return {"time", "y", "x", "value", "cost_distance",
                "allocation"}

    def _build(self, ctx):
        return (self._solve(ctx)
                .select("time", "y", "x", "value",
                        F.col("_d").alias("cost_distance"),
                        F.col("_lab").alias("allocation")))
