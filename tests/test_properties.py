"""Property tests (SURVEY.md §5): hypothesis-generated edge cases for
the value-mapping field operations, checked against a pure-python model
of the reference semantics (numpy digitize / interp / choose)."""

import math

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from dask_geomodeling_spark.geometry.sources import DataFrameSource

finite = st.floats(allow_nan=False, allow_infinity=False,
                   min_value=-1e6, max_value=1e6)


def frame(spark, values):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id bigint, v double")
    return DataFrameSource(df, index_column="id")


def collected(block, spark, col):
    rows = block.plan(spark).select("id", col).collect()
    return [r[col] for r in sorted(rows, key=lambda r: r["id"])]


@settings(max_examples=12, deadline=None)
@given(st.lists(finite | st.none(), min_size=1, max_size=8),
       st.lists(finite, min_size=1, max_size=4, unique=True))
def test_classify_matches_digitize(spark_prop, values, bins):
    """Classify = np.digitize into right-open bins, NULL-preserving
    (reference field_operations.py:48)."""
    from dask_geomodeling_spark.geometry.field_operations import Classify
    bins = sorted(bins)
    labels = list(range(len(bins) + 1))
    src = frame(spark_prop, values)
    got = collected(src.set("c", Classify(src["v"], bins, labels)),
                    spark_prop, "c")
    for v, g in zip(values, got):
        if v is None:
            assert g is None
        else:
            expected = sum(1 for b in bins if v > b)  # right-closed bins
            assert g == labels[expected], (v, bins, g)


@settings(max_examples=12, deadline=None)
@given(st.lists(finite | st.none(), min_size=1, max_size=8))
def test_interp_matches_numpy(spark_prop, values):
    """Interp = np.interp with edge clamping (reference :690)."""
    from dask_geomodeling_spark.geometry.field_operations import Interp
    xp, fp = [0.0, 10.0, 20.0], [1.0, 5.0, 2.0]
    src = frame(spark_prop, values)
    got = collected(src.set("c", Interp(src["v"], xp, fp)),
                    spark_prop, "c")
    for v, g in zip(values, got):
        if v is None:
            assert g is None
            continue
        if v <= xp[0]:
            expected = fp[0]
        elif v >= xp[-1]:
            expected = fp[-1]
        else:
            for i in range(len(xp) - 1):
                if xp[i] <= v <= xp[i + 1]:
                    t = (v - xp[i]) / (xp[i + 1] - xp[i])
                    expected = fp[i] + t * (fp[i + 1] - fp[i])
                    break
        assert math.isclose(g, expected, rel_tol=1e-9, abs_tol=1e-9), (
            v, g, expected)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.integers(min_value=-1, max_value=3), min_size=1,
                max_size=8))
def test_choose_matches_numpy(spark_prop, selectors):
    """Choose picks the k-th series per row; out-of-range → NULL
    (reference :726)."""
    from dask_geomodeling_spark.geometry.field_operations import Choose
    choices = [10.0, 20.0, 30.0]
    src = frame(spark_prop, [float(s) for s in selectors])
    block = src.set("c", Choose(src["v"],
                                *[src["v"] * 0 + c for c in choices]))
    got = collected(block, spark_prop, "c")
    for s, g in zip(selectors, got):
        if 0 <= s < len(choices):
            assert g == choices[s]
        else:
            assert g is None


def test_raster_request_striding(spark_prop):
    """width/height below the native bbox resolution keep every
    stride-th cell."""
    from dask_geomodeling_spark.raster.sources import MemorySource
    grid = [[float(10 * y + x) for x in range(8)] for y in range(8)]
    src = MemorySource(grid)
    rows = src.plan(spark_prop, bbox=(0, 0, 7, 7), width=4,
                    height=2).collect()
    xs = sorted({r["x"] for r in rows})
    ys = sorted({r["y"] for r in rows})
    assert xs == [0, 2, 4, 6]
    assert ys == [0, 4]


@pytest.fixture(scope="session")
def spark_prop(spark):
    return spark


words_text = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=3),
    min_size=1, max_size=20).map(" ".join)


def docs_frame(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id bigint, text string")
    return DataFrameSource(df, index_column="doc_id")


@settings(max_examples=10, deadline=None)
@given(st.lists(words_text, min_size=1, max_size=5),
       st.integers(min_value=2, max_value=8),
       st.integers(min_value=0, max_value=3))
def test_chunk_text_covers_every_token(spark_prop, texts, chunk, overlap):
    """Chunking is lossless: concatenating chunks at stride offsets
    reproduces the token stream, tail chunk included."""
    from dask_geomodeling_spark.pipeline.text import ChunkText
    if overlap >= chunk:
        overlap = chunk - 1
    step = chunk - overlap
    src = docs_frame(spark_prop, texts)
    rows = ChunkText(src, chunk=chunk, overlap=overlap,
                     id_column="doc_id").plan(spark_prop).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        toks = t.lower().split()
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        rebuilt = []
        for j, c in enumerate(chunks):
            got = c.chunk_text.split(" ") if c.chunk_text else []
            assert got == toks[j * step:j * step + chunk]
            assert c.chunk_tokens == len(got)
            rebuilt.extend(got if j == 0 else got[overlap:]
                           if j * step + overlap <= len(toks) else [])
        # every token position is covered by some chunk
        covered = set()
        for j, c in enumerate(chunks):
            covered.update(range(j * step,
                                 min(j * step + chunk, len(toks))))
        assert covered == set(range(len(toks)))


@settings(max_examples=10, deadline=None)
@given(st.lists(words_text, min_size=1, max_size=6))
def test_repetition_metrics_bounded(spark_prop, texts):
    """Ratios live in [0, 1]; all-distinct docs have dup ratio 0."""
    from dask_geomodeling_spark.pipeline.filter import RepetitionFilter
    src = docs_frame(spark_prop, texts)
    rows = RepetitionFilter(src, id_column="doc_id") \
        .plan(spark_prop).collect()
    for r in rows:
        assert 0.0 <= r.dup_word_ratio <= 1.0
        assert 0.0 <= r.top_bigram_frac <= 1.0
        toks = texts[r.doc_id].lower().split()
        if len(set(toks)) == len(toks):
            assert r.dup_word_ratio == 0.0


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(alphabet="xyz @+.0", min_size=0, max_size=30),
                min_size=1, max_size=4))
def test_pii_redact_idempotent(spark_prop, texts):
    """Redacting already-redacted text changes nothing: the
    replacement tokens contain no redactable patterns."""
    from dask_geomodeling_spark.pipeline.filter import PIIRedact
    src = docs_frame(spark_prop, texts)
    once = {r.doc_id: r.text_redacted for r in
            PIIRedact(src).plan(spark_prop).collect()}
    df2 = spark_prop.createDataFrame(
        [(i, t) for i, t in once.items()], "doc_id bigint, text string")
    twice = {r.doc_id: r.text_redacted for r in
             PIIRedact(DataFrameSource(df2, index_column="doc_id"))
             .plan(spark_prop).collect()}
    assert once == twice


@settings(max_examples=8, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 500), st.sampled_from("abc")),
                min_size=4, max_size=30, unique_by=lambda t: t[0]),
       st.sampled_from([{"a": 0.5, "b": 0.5},
                        {"a": 0.2, "b": 0.3, "c": 0.5},
                        {"b": 1.0}]))
def test_source_mix_invariants(spark_prop, rows, targets):
    """SourceMix invariants for any distribution and target mix:
    output ⊆ targeted-category input; a category at or below its
    entitled share keeps EVERY row; the selection is a pure function of
    the id (rerun-stable)."""
    from dask_geomodeling_spark.pipeline.sample import SourceMix
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    data = [{"id": i, "cat": c} for i, c in rows]
    src = LiteralGeometrySource(data)
    out = [(r.id, r.cat) for r in
           SourceMix(src, targets, category_column="cat", id_column="id")
           .plan(spark_prop).collect()]
    inp = {(d["id"], d["cat"]) for d in data}
    assert set(out) <= inp
    assert all(c in targets for _, c in out)
    counts = {}
    for _, c in rows:
        counts[c] = counts.get(c, 0) + 1
    present = [c for c in targets if c in counts]
    if present:
        t_max = min(counts[c] / targets[c] for c in present)
        for c in present:
            kept = sum(1 for _, cc in out if cc == c)
            if targets[c] * t_max >= counts[c] - 1e-9:
                assert kept == counts[c], (c, kept, counts)
    out2 = [(r.id, r.cat) for r in
            SourceMix(src, targets, category_column="cat", id_column="id")
            .plan(spark_prop).collect()]
    assert sorted(out) == sorted(out2)


@settings(max_examples=8, deadline=None)
@given(st.lists(finite, min_size=2, max_size=5),
       st.lists(finite, min_size=2, max_size=5))
def test_linear_score_matches_python_sigmoid(spark_prop, feats, weights):
    """LinearScore = sigmoid of the left-to-right weighted sum, bounded
    to (0, 1), matching a pure-python model."""
    from dask_geomodeling_spark.pipeline.filter import LinearScore
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    n = min(len(feats), len(weights))
    feats, weights = feats[:n], weights[:n]
    cols = ["f{}".format(i) for i in range(n)]
    src = LiteralGeometrySource(
        [dict({"id": 1}, **{c: v for c, v in zip(cols, feats)})])
    row = (LinearScore(src, cols, weights, bias=0.25)
           .plan(spark_prop).collect()[0])
    z = 0.25
    for w, f in zip(weights, feats):
        z = z + w * f
    try:
        expect = 1.0 / (1.0 + math.exp(-z))
    except OverflowError:
        expect = 0.0
    assert 0.0 <= row.score <= 1.0
    assert abs(row.score - expect) < 1e-12


# ---- corpus-curation properties (pipeline/curate.py) ---------------------

url_text = st.text(
    alphabet="abcXYZ019/?&=#._-:", min_size=0, max_size=40)


@settings(max_examples=15, deadline=None)
@given(st.lists(url_text, min_size=1, max_size=6))
def test_url_normalize_idempotent(spark_prop, urls):
    """Canonicalization is a projection: norm(norm(u)) == norm(u)."""
    from dask_geomodeling_spark.pipeline.curate import UrlNormalize
    df = spark_prop.createDataFrame(
        [(i, "https://" + u if i % 2 else u)
         for i, u in enumerate(urls)], "doc_id bigint, url string")
    src = DataFrameSource(df, index_column="doc_id")
    once = UrlNormalize(src).plan(spark_prop) \
        .select("doc_id", F.col("url_norm").alias("url"))
    src2 = DataFrameSource(once, index_column="doc_id")
    twice = UrlNormalize(src2).plan(spark_prop)
    for r in twice.collect():
        assert r["url_norm"] == r["url"], (r["url"], r["url_norm"])


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(alphabet="ab <>&/p!.\n", min_size=0,
                        max_size=40), min_size=1, max_size=5))
def test_html_extract_fixpoint_on_tagless_text(spark_prop, texts):
    """Re-extraction equals the first extraction UP TO block-newline
    re-collapse: extracted text is no longer HTML, so a second pass
    correctly treats the block newlines the first pass emitted as
    insignificant source whitespace (HTML semantics) and folds them
    to single spaces.  No tags or entities survive either pass, and
    the normalized texts agree exactly."""
    import re

    from dask_geomodeling_spark.pipeline.curate import HtmlExtract
    df = spark_prop.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id bigint, html string")
    src = DataFrameSource(df, index_column="doc_id")
    once = HtmlExtract(src).plan(spark_prop).select(
        "doc_id", F.col("text_extracted").alias("html"))
    src2 = DataFrameSource(once, index_column="doc_id")
    twice = HtmlExtract(src2).plan(spark_prop)
    for r in twice.collect():
        want = re.sub(r"\s+", " ", r["html"]).strip()
        assert r["text_extracted"] == want
        assert "<p>" not in r["text_extracted"]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="abc the of #.\n-", min_size=0,
                        max_size=60), min_size=1, max_size=4))
def test_gopher_metrics_bounded(spark_prop, texts):
    """Every Gopher fraction lies in [0, 1] and counts are
    non-negative, for arbitrary text."""
    from dask_geomodeling_spark.pipeline.curate import GopherQuality
    df = spark_prop.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id bigint, text string")
    src = DataFrameSource(df, index_column="doc_id")
    for r in GopherQuality(src).plan(spark_prop).collect():
        d = r.asDict()
        for k, v in d.items():
            if k.endswith("_frac"):
                assert 0.0 <= v <= 1.0, (k, v, d["text"])
        # the symbol-to-word RATIO legitimately exceeds 1 on
        # symbol-heavy text ('##' = 2 symbols / 1 word) — Gopher's
        # definition, thresholded at 0.1, not a fraction
        assert d["symbol_word_ratio"] >= 0.0
        assert d["n_words"] >= 0 and d["stop_hits"] >= 0


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="ab c.!?{", min_size=0, max_size=50),
                min_size=1, max_size=4))
def test_c4_clean_is_subset_of_lines(spark_prop, texts):
    """Every kept line is one of the input lines, and the doc flag
    implies at least one kept line."""
    from dask_geomodeling_spark.pipeline.curate import C4Filter
    df = spark_prop.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        "doc_id bigint, text string")
    src = DataFrameSource(df, index_column="doc_id")
    for r in C4Filter(src).plan(spark_prop).collect():
        lines = [x.strip() for x in r["text"].split("\n")]
        kept = r["text_clean"].split("\n") if r["text_clean"] else []
        assert all(k in lines for k in kept)
        assert r["n_lines_kept"] == len(kept)
        if r["c4_keep"]:
            assert r["n_lines_kept"] > 0


def _bpe_train_model(texts, n_merges):
    """Pure-python BPE trainer with the operator's exact conventions:
    word-frequency table, pair count DESC / pair-string ASC tie-break,
    left-to-right non-overlapping merge."""
    from collections import Counter
    words = Counter()
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                words[w] += 1
    vocab = {tuple(w): c for w, c in words.items()}
    merged_vocab = Counter()
    for syms, c in vocab.items():
        merged_vocab[syms] += c
    rules = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for syms, c in merged_vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(),
                   key=lambda kv: (-kv[1], kv[0][0] + " " + kv[0][1]))
        (a, b), cnt = best
        rules.append((rank, a, b, a + b, cnt))
        nxt = Counter()
        for syms, c in merged_vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] += c
        merged_vocab = nxt
    return rules


@settings(max_examples=8, deadline=None)
@given(st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=12),
    min_size=1, max_size=6))
def test_bpe_train_matches_pure_python_model(spark_prop, texts):
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    from dask_geomodeling_spark.pipeline.text import BPETrain
    src = LiteralGeometrySource(
        [{"doc_id": i, "text": t} for i, t in enumerate(texts)])
    got = [(r.rank, r.lhs, r.rhs, r.merged, r.pair_count)
           for r in BPETrain(src, n_merges=3,
                             checkpoint_every=2).plan(spark_prop)
           .collect()]
    assert got == _bpe_train_model(texts, 3)


@settings(max_examples=6, deadline=None)
@given(st.lists(
    st.text(alphabet="abcd e", min_size=0, max_size=16),
    min_size=1, max_size=8))
def test_bpe_train_batched_equals_sequential(spark_prop, texts):
    """The batched safe-prefix rounds (round-8) must learn a merge
    table BIT-IDENTICAL to one-rule-at-a-time training AND to the
    pure-python model — the batching is a round-trip optimization,
    never a semantics change."""
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    from dask_geomodeling_spark.pipeline.text import BPETrain
    src = LiteralGeometrySource(
        [{"doc_id": i, "text": t} for i, t in enumerate(texts)])

    def run(batch):
        return [(r.rank, r.lhs, r.rhs, r.merged, r.pair_count)
                for r in BPETrain(src, n_merges=4, checkpoint_every=2,
                                  batch=batch).plan(spark_prop)
                .collect()]

    seq = run(1)
    assert run(8) == seq
    assert seq == _bpe_train_model(texts, 4)


# ---- round-11 normalize/codec property suite (verdict #2): the
# UrlNormalize bug was a CLASS — idempotence, roundtrip-fixpoint and
# kernel invariants for every normalize/codec family ------------------


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="aBz é9 .,!#\t\n°–ß{",
                        min_size=0, max_size=40),
                min_size=1, max_size=4))
def test_text_normalize_idempotent(spark_prop, texts):
    """CCNet normalization is a projection onto its own image:
    norm(norm(t)) == norm(t) for arbitrary text."""
    from dask_geomodeling_spark.pipeline.text import TextNormalize
    src = docs_frame(spark_prop, texts)
    once = {r.doc_id: r.text_norm for r in
            TextNormalize(src).plan(spark_prop).collect()}
    df2 = spark_prop.createDataFrame(
        [(i, t) for i, t in once.items()],
        "doc_id bigint, text string")
    twice = {r.doc_id: r.text_norm for r in
             TextNormalize(DataFrameSource(df2, index_column="doc_id"))
             .plan(spark_prop).collect()}
    assert once == twice


coord = st.integers(min_value=-40, max_value=40).map(
    lambda k: k * 0.25)  # exact binary fractions


def _rect(x0, y0, w, h):
    return [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]]


rect_rings = st.tuples(coord, coord,
                       st.integers(1, 16), st.integers(1, 16)).map(
    lambda t: _rect(t[0], t[1], t[2] * 0.25, t[3] * 0.25))


def _collect_geom(spark, block, col):
    rows = block.plan(spark).collect()
    out = {}
    for r in rows:
        v = r[col]
        out[r["id"]] = None if v is None else _plain(v)
    return out


def _plain(v):
    if hasattr(v, "__len__") and not isinstance(v, str):
        return [_plain(e) for e in v]
    return float(v)


@settings(max_examples=10, deadline=None)
@given(st.lists(rect_rings, min_size=1, max_size=3),
       st.sampled_from([0.25, 0.5, 1.0, 2.0]))
def test_snap_to_grid_idempotent(spark_prop, rects, size):
    """snap(snap(g)) == snap(g): snapped coordinates are already
    grid multiples, so the second pass is identity (incl. the
    collapsed-to-NULL degenerate rule)."""
    from dask_geomodeling_spark.geometry.constructive import SnapToGrid
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    src = LiteralGeometrySource(
        [{"id": i, "rings": [r]} for i, r in enumerate(rects)])
    one = SnapToGrid(src, size)
    got1 = _collect_geom(spark_prop, one, "rings")
    two = SnapToGrid(one, size)
    got2 = _collect_geom(spark_prop, two, "rings")
    assert got1 == got2


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(coord, coord), min_size=1, max_size=6),
       st.lists(st.integers(1, 3), min_size=1, max_size=6))
def test_remove_repeated_points_matches_model(spark_prop, pts, reps):
    """RemoveRepeatedPoints == python consecutive-dedup (paths keep a
    closing revisit; < 2 vertices → NULL), and is idempotent."""
    from dask_geomodeling_spark.geometry.constructive import (
        RemoveRepeatedPoints)
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    path = []
    for (x, y), k in zip(pts, reps):
        path.extend([[x, y]] * k)
    src = LiteralGeometrySource([{"id": 1, "path": path}])
    blk = RemoveRepeatedPoints(src)
    got = _collect_geom(spark_prop, blk, "path")[1]
    model = [path[0]]
    for p in path[1:]:
        if p != model[-1]:
            model.append(p)
    expect = model if len(model) >= 2 else None
    assert got == expect
    got2 = _collect_geom(spark_prop,
                         RemoveRepeatedPoints(blk), "path")[1]
    assert got2 == got


@settings(max_examples=8, deadline=None)
@given(st.lists(rect_rings, min_size=1, max_size=3),
       st.sampled_from([0.5, 1.0]))
def test_simplify_snap_idempotent(spark_prop, rects, tol):
    """Simplify('snap', tol) twice == once (grid-snap + collapse is a
    projection), and tolerance=None is the identity."""
    from dask_geomodeling_spark.geometry.constructive import Simplify
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    src = LiteralGeometrySource(
        [{"id": i, "rings": [r]} for i, r in enumerate(rects)])
    one = Simplify(src, tol)
    got1 = _collect_geom(spark_prop, one, "rings")
    got2 = _collect_geom(spark_prop, Simplify(one, tol), "rings")
    assert got1 == got2
    ident = _collect_geom(spark_prop, Simplify(src, None), "rings")
    want = {i: [_plain(r)] for i, r in enumerate(rects)}
    assert ident == want


@settings(max_examples=10, deadline=None)
@given(st.lists(
    st.one_of(
        st.tuples(coord, coord).map(
            lambda t: {"x": t[0], "y": t[1]}),
        st.lists(st.tuples(coord, coord), min_size=2, max_size=5,
                 unique=True).map(
            lambda ps: {"path": [[x, y] for x, y in ps]}),
        st.tuples(coord, coord, st.integers(1, 12),
                  st.integers(1, 12)).map(
            lambda t: {"rings": [_rect(t[0], t[1], t[2] * 0.25,
                                       t[3] * 0.25)]})),
    min_size=1, max_size=4))
def test_wkt_encode_parse_fixpoint(spark_prop, geoms):
    """encode ∘ parse is a fixpoint: WKT emitted from parsed WKT is
    byte-identical (orientation normalization happened on the first
    encode; coordinates are exact binary fractions)."""
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    from dask_geomodeling_spark.geometry.wkb import EncodeWKT, ParseWKT
    rows = [dict({"id": i}, **g) for i, g in enumerate(geoms)]
    src = LiteralGeometrySource(rows)
    first = EncodeWKT(src).plan(spark_prop).select("id", "wkt")
    src2 = DataFrameSource(first, index_column="id")
    again = EncodeWKT(ParseWKT(src2, column="wkt"),
                      column_name="wkt2").plan(spark_prop)
    for r in again.select("id", "wkt", "wkt2").collect():
        assert r["wkt2"] == r["wkt"], (r["wkt"], r["wkt2"])


@settings(max_examples=60, deadline=None)
@given(st.one_of(
    st.tuples(coord, coord).map(lambda t: {"x": t[0], "y": t[1]}),
    st.tuples(coord, coord, st.integers(1, 12), st.integers(1, 12)).map(
        lambda t: {"rings": [_rect(t[0], t[1], t[2] * 0.25,
                                   t[3] * 0.25)]}),
    st.tuples(coord, coord).map(
        lambda t: {"rings": [_rect(t[0], t[1], 8.0, 8.0),
                             list(reversed(_rect(t[0] + 1, t[1] + 1,
                                                 2.0, 2.0)))]})))
def test_wkb_encode_decode_roundtrip(geoms):
    """Pure-python WKB codec: encode ∘ decode ∘ encode == encode
    (bytes-level fixpoint) and decode recovers the normalized
    geometry (CCW outers, CW holes) with the right bbox."""
    from dask_geomodeling_spark.geometry.wkb import (decode_wkb,
                                                     encode_wkb)
    buf = encode_wkb(geoms)
    fields = decode_wkb(buf)
    assert encode_wkb(fields) == buf
    if "rings" in geoms:
        assert fields["rings"] == geoms["rings"]
        pts = [p for r in geoms["rings"] for p in r]
        assert fields["xmin"] == min(p[0] for p in pts)
        assert fields["ymax"] == max(p[1] for p in pts)
    else:
        assert fields["x"] == geoms["x"]
        assert fields["y"] == geoms["y"]


lat_nl = st.integers(min_value=5100, max_value=5330).map(
    lambda k: k / 100.0)
lon_nl = st.integers(min_value=350, max_value=700).map(
    lambda k: k / 100.0)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(lon_nl, lat_nl), min_size=1, max_size=6,
                unique=True))
def test_reproject_rd_forward_inverse(spark_prop, pts):
    """EPSG:4326 → EPSG:28992 (RD New) → EPSG:4326 returns the input
    within 1e-6° (~10 cm) across the Dutch validity extent."""
    from dask_geomodeling_spark.geometry.proj import Reproject
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    src = LiteralGeometrySource(
        [{"id": i, "x": x, "y": y} for i, (x, y) in enumerate(pts)])
    back = Reproject(Reproject(src, "EPSG:4326", "EPSG:28992"),
                     "EPSG:28992", "EPSG:4326")
    for r in back.plan(spark_prop).collect():
        x, y = pts[r["id"]]
        assert abs(r["x"] - x) < 1e-6, (x, r["x"])
        assert abs(r["y"] - y) < 1e-6, (y, r["y"])


@settings(max_examples=12, deadline=None)
@given(st.lists(st.tuples(
    st.integers(min_value=5, max_value=595).map(lambda k: k / 100.0),
    st.integers(min_value=-6000, max_value=6000).map(
        lambda k: k / 100.0)),
    min_size=1, max_size=6, unique=True))
def test_reproject_utm_forward_inverse(spark_prop, pts):
    """EPSG:4326 → UTM 31N → EPSG:4326 within 1e-6° across the
    zone (lon 0–6°E, lat ±60°)."""
    from dask_geomodeling_spark.geometry.proj import Reproject
    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    src = LiteralGeometrySource(
        [{"id": i, "x": x, "y": y} for i, (x, y) in enumerate(pts)])
    back = Reproject(Reproject(src, "EPSG:4326", "EPSG:32631"),
                     "EPSG:32631", "EPSG:4326")
    for r in back.plan(spark_prop).collect():
        x, y = pts[r["id"]]
        assert abs(r["x"] - x) < 1e-6, (x, r["x"])
        assert abs(r["y"] - y) < 1e-6, (y, r["y"])


def _shoelace(ring):
    s = 0.0
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def _rings_area(rings):
    return sum(_shoelace(r) for r in rings)  # CCW +, CW holes −


def _lshape(x0, y0, w, h):
    return [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h / 2],
            [x0 + w / 2, y0 + h / 2], [x0 + w / 2, y0 + h],
            [x0, y0 + h]]


shape = st.one_of(
    st.tuples(coord, coord, st.integers(1, 16), st.integers(1, 16)).map(
        lambda t: _rect(t[0], t[1], t[2] * 0.5, t[3] * 0.5)),
    st.tuples(coord, coord, st.integers(2, 16), st.integers(2, 16)).map(
        lambda t: _lshape(t[0], t[1], t[2] * 0.5, t[3] * 0.5)))


@settings(max_examples=60, deadline=None)
@given(shape, shape)
def test_polyclip_partition_invariant(a, b):
    """The exact polygon kernel partitions: area(A−B) + area(A∩B) =
    area(A) for random rectangles and L-shapes (incl. shared edges,
    containment and disjointness)."""
    from dask_geomodeling_spark.geometry.polyclip import polygon_boolean
    diff = polygon_boolean([[a], [b]], lambda f: f[0] and not f[1])
    inter = polygon_boolean([[a], [b]], lambda f: f[0] and f[1])
    total = _rings_area(diff) + _rings_area(inter)
    want = _rings_area([a])
    assert abs(total - want) < 1e-9 * max(1.0, abs(want)), (
        total, want, a, b)


def _even_odd_area(rings):
    """Independent even-odd area: slab decomposition.  Slab boundaries
    at every vertex y and every pairwise edge-intersection y; inside a
    slab the crossing xs vary linearly, so the alternate-gap widths at
    the slab MIDLINE times the slab height integrate the parity region
    exactly (trapezoids).  A different algorithm family from the
    kernel's arrangement+stitch — the cross-check the make_valid
    property needs."""
    import itertools
    edges = []
    for ring in rings:
        n = len(ring)
        for i in range(n):
            a, b = tuple(ring[i]), tuple(ring[(i + 1) % n])
            if a != b:
                edges.append((a, b))
    ys = set()
    for (ax, ay), (bx, by) in edges:
        ys.add(ay)
        ys.add(by)
    for (a, b), (c, d) in itertools.combinations(edges, 2):
        (ax, ay), (bx, by) = a, b
        (cx, cy), (dx, dy) = c, d
        d1x, d1y = bx - ax, by - ay
        d2x, d2y = dx - cx, dy - cy
        den = d1x * d2y - d1y * d2x
        if abs(den) < 1e-15:
            continue
        t = ((cx - ax) * d2y - (cy - ay) * d2x) / den
        s = ((cx - ax) * d1y - (cy - ay) * d1x) / den
        if 0.0 <= t <= 1.0 and 0.0 <= s <= 1.0:
            ys.add(ay + t * d1y)
    ys = sorted(ys)
    total = 0.0
    for y0, y1 in zip(ys, ys[1:]):
        if y1 <= y0:
            continue
        ym = (y0 + y1) / 2.0
        xs = []
        for (ax, ay), (bx, by) in edges:
            if (ay > ym) != (by > ym):
                xs.append(ax + (ym - ay) / (by - ay) * (bx - ax))
        xs.sort()
        for i in range(0, len(xs) - 1, 2):
            total += (xs[i + 1] - xs[i]) * (y1 - y0)
    return total


quad_pt = st.tuples(st.integers(0, 20), st.integers(0, 20)).map(
    lambda t: [t[0] * 0.5, t[1] * 0.5])


@settings(max_examples=80, deadline=None)
@given(st.lists(quad_pt, min_size=4, max_size=4, unique_by=tuple))
def test_make_valid_preserves_even_odd_area(pts):
    """Round-12 verdict property: Area(MakeValid(g)) equals the
    even-odd area of g on random (frequently self-intersecting) quads,
    cross-checked by an independent slab-scanline integrator; the
    repair is always valid and a fixed point."""
    from dask_geomodeling_spark.geometry.polyclip import (
        polygon_make_valid, rings_is_valid, rings_signed_area)
    g = [pts]
    want = _even_odd_area(g)
    rep = polygon_make_valid(g)
    # even-odd semantics preserved (integrator on both sides —
    # valid inputs pass through unchanged, winding included)
    assert abs(_even_odd_area(rep) - want) < 1e-6 * max(
        1.0, abs(want)), (pts, want)
    if not rings_is_valid(g):
        # the REPAIR path orientation-normalizes: signed area (the
        # engine's Area fold) equals the even-odd area
        got = rings_signed_area(rep)
        assert abs(got - want) < 1e-6 * max(1.0, abs(want)), (
            pts, got, want)
    assert rings_is_valid(rep), pts
    assert polygon_make_valid(rep) == rep, pts


@settings(max_examples=40, deadline=None)
@given(st.lists(quad_pt, min_size=4, max_size=4, unique_by=tuple),
       st.lists(quad_pt, min_size=4, max_size=4, unique_by=tuple))
def test_make_valid_two_ring_even_odd(a, b):
    """Same property over TWO-ring inputs (overlapping rings flip
    even-odd parity back and forth; the repair must land on the slab
    integrator's answer)."""
    from dask_geomodeling_spark.geometry.polyclip import (
        polygon_make_valid, rings_is_valid, rings_signed_area)
    g = [a, b]
    want = _even_odd_area(g)
    rep = polygon_make_valid(g)
    assert abs(_even_odd_area(rep) - want) < 1e-6 * max(
        1.0, abs(want)), (a, b, want)
    if not rings_is_valid(g):
        got = rings_signed_area(rep)
        assert abs(got - want) < 1e-6 * max(1.0, abs(want)), (
            a, b, got, want)
    assert rings_is_valid(rep), (a, b)


_D8 = ((0, 1, 1), (1, 1, 2), (1, 0, 4), (1, -1, 8),
       (0, -1, 16), (-1, -1, 32), (-1, 0, 64), (-1, 1, 128))


@settings(max_examples=3, deadline=None)
@given(st.data())
def test_hydrology_euler_equals_driver(spark_prop, data):
    """Round-12 verdict property: on random acyclic flow forests, the
    DISTRIBUTED path (Euler-tour list ranking / pointer doubling /
    junction-weighted rankings, forced via the request key
    driver_threshold=0) is row- and schema-identical to the exact
    DRIVER traversal for the whole
    hydrology family — FlowAccumulation (plain and weighted),
    FlowLength, Watershed, StreamOrder.

    Forests are generated acyclic BY CONSTRUCTION: each cell draws a
    random D8 offset (or pit) and keeps the edge only if a random
    priority permutation strictly decreases along it — chains,
    junctions, multi-root forests and pits all arise."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.raster.hydrology import (
        FlowAccumulation, FlowLength, StreamOrder, Watershed)
    from dask_geomodeling_spark.raster.sources import (
        DataFrameRasterSource)
    n = 5
    prio = data.draw(st.permutations(list(range(n * n))))
    offs = data.draw(st.lists(st.integers(0, 8), min_size=n * n,
                              max_size=n * n))
    rows = []
    for y in range(n):
        for x in range(n):
            i = y * n + x
            code = 0
            if offs[i] < 8:
                dy, dx, c = _D8[offs[i]]
                ny, nx = y + dy, x + dx
                if 0 <= ny < n and 0 <= nx < n \
                        and prio[ny * n + nx] < prio[i]:
                    code = c
            rows.append((y, x, float(code)))
    grid = spark_prop.createDataFrame(
        rows, "y bigint, x bigint, value double").select(
        F.expr("TIMESTAMP '2024-01-01'").alias("time"),
        "y", "x", "value")
    src = DataFrameRasterSource(grid)
    # FRACTIONAL weights (×0.1 — inexact in binary): integer-valued
    # doubles sum exactly under ANY association and masked the r13
    # FlowAccumulation(weights=…) reassociation hole; fractional ones
    # drift unless both paths sum the same DECIMAL quanta (§6-11)
    wts = DataFrameRasterSource(grid.withColumn(
        "value",
        ((F.col("y") * 3 + F.col("x") + 1) * 0.1).cast("double")))
    blocks = {
        "accumulation": FlowAccumulation(src),
        "accumulation_weighted": FlowAccumulation(src, weights=wts),
        "length": FlowLength(src),
        "watershed": Watershed(src),
        "stream_order": StreamOrder(src),
    }
    for name, blk in blocks.items():
        driver_df = blk.plan(spark_prop, driver_threshold=10 ** 9)
        euler_df = blk.plan(spark_prop, driver_threshold=0)
        via_driver = sorted(map(tuple, driver_df.collect()))
        via_euler = sorted(map(tuple, euler_df.collect()))
        assert via_driver == via_euler, (name, offs, prio)
        assert driver_df.schema == euler_df.schema, name


@st.composite
def pair_graph(draw):
    """``(source ids, pairs)`` on ids ``0..m-1``: the source holds a
    random subset of the ids, so pairs may name ids missing from it;
    pairs repeat, reverse and self-link."""
    m = draw(st.integers(1, 12))
    ids = st.integers(0, m - 1)
    source = draw(st.lists(ids, min_size=1, unique=True))
    pairs = draw(st.lists(st.tuples(ids, ids), max_size=16))
    if pairs:
        again = draw(st.lists(st.sampled_from(pairs), max_size=4))
        pairs += [(b, a) if (a + b) % 2 else (a, b) for a, b in again]
    return sorted(source), pairs


@st.composite
def chain_graph(draw):
    """A chain of up to 45 nodes with randomly oriented pairs and a
    random id per position (the component minimum sits anywhere)."""
    n = draw(st.integers(2, 45))
    perm = draw(st.permutations(list(range(n))))
    flips = draw(st.lists(st.booleans(), min_size=n - 1,
                          max_size=n - 1))
    pairs = [(perm[i + 1], perm[i]) if f else (perm[i], perm[i + 1])
             for i, f in enumerate(flips)]
    return list(range(n)), pairs


def bfs_min_labels(source, pairs):
    """``{source id: smallest id reachable through the pairs}`` by
    breadth-first search (ids missing from the source still connect)."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for s in source:
        seen, frontier = {s}, [s]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
            frontier = nxt
        out[s] = min(seen)
    return out


@settings(max_examples=5, deadline=None)
@given(st.lists(st.one_of(pair_graph(), chain_graph()), min_size=1,
                max_size=4))
@example([(list(range(41)), [(i, i + 1) for i in range(40)])])
@example([([0, 1], [(0, 100), (100, 1)])])
def test_dedup_clusters_matches_bfs(spark_prop, graphs):
    """DedupClusters on random pair multisets equals a breadth-first
    search model, on the driver union-find (default request) and on
    the distributed star rounds (``driver_threshold=0``), with one
    schema.  Every graph gets its own id range, so one build covers
    them all.  The explicit examples are a 41-node chain (one cluster)
    and ``0–100–1`` with id 100 absent from the source (docs 0 and 1
    connect through it; 100 emits no row)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import DedupClusters
    docs, pairs, want = [], [], set()
    for g, (source, links) in enumerate(graphs):
        off = 1000 * g
        docs += [(s + off,) for s in source]
        pairs += [(a + off, b + off) for a, b in links]
        want |= {(s + off, lab + off, s == lab)
                 for s, lab in bfs_min_labels(source, links).items()}
    blk = DedupClusters(
        DataFrameSource(spark_prop.createDataFrame(docs, "doc_id bigint"),
                        index_column="doc_id"),
        DataFrameSource(spark_prop.createDataFrame(
            pairs, "id_a bigint, id_b bigint"), index_column="id_a"))
    driver_df = blk.plan(spark_prop)
    dist_df = blk.plan(spark_prop, driver_threshold=0)
    for df in (driver_df, dist_df):
        got = [tuple(r) for r in df.collect()]
        assert len(got) == len(want), graphs
        assert set(got) == want, graphs
    assert driver_df.schema == dist_df.schema


def union_find_partition(grid, conn):
    """Same-value regions of a ``{(y, x): value}`` grid as a set of
    frozensets, by a path-halving union-find."""
    parent = {c: c for c in grid}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    offs = [(0, 1), (1, 0)] + ([(1, 1), (1, -1)] if conn == 8 else [])
    for (y, x), v in grid.items():
        for dy, dx in offs:
            n = (y + dy, x + dx)
            if grid.get(n) == v:
                parent[find((y, x))] = find(n)
    parts = {}
    for c in grid:
        parts.setdefault(find(c), set()).add(c)
    return {frozenset(p) for p in parts.values()}


@settings(max_examples=3, deadline=None)
@given(st.lists(
    st.integers(1, 7).flatmap(lambda h: st.integers(1, 7).flatmap(
        lambda w: st.lists(st.sampled_from([None, 0.0, 1.0, 2.0]),
                           min_size=h * w, max_size=h * w)
        .map(lambda vals: {(i // w, i % w): v
                           for i, v in enumerate(vals)
                           if v is not None}))),
    min_size=1, max_size=4))
def test_raster_components_partition_matches_union_find(spark_prop,
                                                        grids):
    """RasterComponents 4- and 8-connectivity partitions equal an
    independent union-find on random speckled grids, on the driver
    mirror (default request) and on the distributed star rounds
    (``driver_threshold=0``), with one schema.  The grids ride as
    time slices of one frame; partitions are compared, not label
    text."""
    from dask_geomodeling_spark.raster.components import RasterComponents
    from dask_geomodeling_spark.raster.sources import DataFrameRasterSource
    rows = [(k, y, x, v) for k, g in enumerate(grids)
            for (y, x), v in g.items()]
    df = spark_prop.createDataFrame(
        rows, "k int, y bigint, x bigint, value double").select(
        F.expr("timestamp_seconds(86400 * k)").alias("time"),
        "y", "x", "value")
    src = DataFrameRasterSource(df)
    for conn in (4, 8):
        want = {frozenset((k, y, x) for y, x in part)
                for k, g in enumerate(grids)
                for part in union_find_partition(g, conn)}
        blk = RasterComponents(src, connectivity=conn)
        driver_df = blk.plan(spark_prop)
        dist_df = blk.plan(spark_prop, driver_threshold=0)
        for out in (driver_df, dist_df):
            by_label = {}
            for r in out.collect():
                k = int(r["time"].timestamp() // 86400)
                by_label.setdefault(r["component"], set()).add(
                    (k, r["y"], r["x"]))
            assert {frozenset(p) for p in by_label.values()} == want, (
                conn, grids)
        assert driver_df.schema == dist_df.schema


def monotone_chain_hull(pts):
    """Convex hull vertices of a point list by Andrew's monotone chain
    (collinear points dropped)."""
    pts = sorted(map(tuple, pts))

    def half(ps):
        out = []
        for p in ps:
            while len(out) >= 2 and (
                    (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                    - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                    <= 0):
                out.pop()
            out.append(p)
        return out

    if len(pts) < 3:
        return pts
    return half(pts)[:-1] + half(pts[::-1])[:-1]


def welzl_circle(pts):
    """Minimum enclosing circle ``(cx, cy, r)`` by Welzl's incremental
    algorithm over a seeded shuffle."""
    import random
    pts = [tuple(p) for p in pts]
    random.Random(1).shuffle(pts)

    def circ2(a, b):
        return ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2, math.dist(a, b) / 2)

    def circ3(a, b, c):
        (ax, ay), (bx, by), (cx, cy) = a, b, c
        d = 2 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        if abs(d) < 1e-12:
            return None
        a2, b2, c2 = ax * ax + ay * ay, bx * bx + by * by, cx * cx + cy * cy
        ux = (a2 * (by - cy) + b2 * (cy - ay) + c2 * (ay - by)) / d
        uy = (a2 * (cx - bx) + b2 * (ax - cx) + c2 * (bx - ax)) / d
        return (ux, uy, math.dist((ux, uy), a))

    def inside(c, p):
        return c is not None and math.dist(c[:2], p) <= c[2] + 1e-9

    c = None
    for i, p in enumerate(pts):
        if inside(c, p):
            continue
        c = (p[0], p[1], 0.0)
        for j in range(i):
            if inside(c, pts[j]):
                continue
            c = circ2(p, pts[j])
            for k in range(j):
                if not inside(c, pts[k]):
                    c = circ3(p, pts[j], pts[k]) or c
    return c


def min_rectangle_area(hull):
    """Smallest area of a rectangle enclosing a convex polygon, by
    rotating calipers: the optimum is flush with one hull edge."""
    best = math.inf
    for k, (ax, ay) in enumerate(hull):
        bx, by = hull[(k + 1) % len(hull)]
        ln = math.hypot(bx - ax, by - ay)
        ux, uy = (bx - ax) / ln, (by - ay) / ln
        us = [(x - ax) * ux + (y - ay) * uy for x, y in hull]
        vs = [(y - ay) * ux - (x - ax) * uy for x, y in hull]
        best = min(best, (max(us) - min(us)) * (max(vs) - min(vs)))
    return best


half_grid = st.integers(0, 40).map(lambda v: v * 0.5)


@settings(max_examples=3, deadline=None)
@given(st.lists(
    st.lists(st.tuples(half_grid, half_grid), min_size=1, max_size=10,
             unique=True).map(lambda ps: [list(p) for p in ps]),
    min_size=1, max_size=12))
@example([[[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]], [[3.0, 4.0]],
          [[0.0, 0.0], [4.0, 0.0], [4.0, 3.0], [0.0, 3.0], [2.0, 1.5]]])
def test_hull_circle_envelope_match_models(spark_prop, feats):
    """ConvexHull equals a monotone-chain hull (vertex sets),
    MinimumBoundingCircle equals an independent Welzl circle, and
    OrientedEnvelope's area equals the rotating-calipers minimum over
    the model hull, on random vertex sets (duplicates removed).  A
    feature whose hull has fewer than 3 vertices (a point, a segment,
    collinear points) has a NULL hull and a NULL envelope."""
    from dask_geomodeling_spark.geometry.constructive import (
        ConvexHull, MinimumBoundingCircle, OrientedEnvelope)
    src = DataFrameSource(spark_prop.createDataFrame(
        list(enumerate(feats)), "fid bigint, vertices array<array<double>>"),
        index_column="fid")
    hulls = {r["fid"]: r["vertices"]
             for r in ConvexHull(src).plan(spark_prop).collect()}
    circles = {r["fid"]: (r["center_x"], r["center_y"], r["radius"])
               for r in MinimumBoundingCircle(src).plan(spark_prop)
               .collect()}
    envelopes = {r["fid"]: r["rings"]
                 for r in OrientedEnvelope(src).plan(spark_prop).collect()}
    for i, pts in enumerate(feats):
        hull = monotone_chain_hull(pts)
        if len(hull) < 3:
            assert hulls[i] is None and envelopes[i] is None, pts
        else:
            assert set(map(tuple, hulls[i])) == set(hull), pts
            assert math.isclose(abs(_rings_area(envelopes[i])),
                                min_rectangle_area(hull),
                                rel_tol=1e-9, abs_tol=1e-9), pts
        cx, cy, r = welzl_circle(pts)
        got = circles[i]
        assert math.dist(got[:2], (cx, cy)) <= 1e-6, pts
        assert abs(got[2] - r) <= 1e-6, pts


@settings(max_examples=3, deadline=None)
@given(st.lists(st.tuples(half_grid, half_grid), min_size=1, max_size=40),
       st.lists(st.tuples(half_grid, half_grid, st.integers(2, 10),
                          st.integers(2, 10)), min_size=1, max_size=10))
# boxes (0,0)-(2,2) and (4,0)-(6,2), centres (1,1) and (5,1): a corner,
# a point on an edge, one equidistant from both centres, one at exactly
# the search radius and one beyond it
@example([(0.0, 0.0), (2.0, 1.0), (3.0, 1.0), (1.0, 5.0), (10.0, 10.0)],
         [(0.0, 0.0, 4, 4), (4.0, 0.0, 4, 4)])
def test_spatial_and_nearest_join_match_brute_force(spark_prop, points,
                                                    boxes):
    """SpatialJoin (points in closed boxes) and NearestJoin (centres
    within ``max_distance``, ties to the smallest right id) equal
    brute force on half-unit grid coordinates, where points on box
    edges, at exactly the search radius and equidistant from two
    centres can occur; the explicit example holds each.  The centres
    frame lists larger ids first, so a tie is not won by row order."""
    from dask_geomodeling_spark.geometry.spatial_join import (
        NearestJoin, SpatialJoin)
    boxes = [(x, y, x + w * 0.5, y + h * 0.5) for x, y, w, h in boxes]
    P = DataFrameSource(spark_prop.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(points)],
        "pid bigint, x double, y double"), index_column="pid")
    B = DataFrameSource(spark_prop.createDataFrame(
        [(b, *box) for b, box in enumerate(boxes)],
        "bid bigint, xmin double, ymin double, xmax double, ymax double"),
        index_column="bid")
    got = {(r["pid"], r["bid"]) for r in SpatialJoin(
        P, B, cell_size=6.0).plan(spark_prop).collect()}
    assert got == {(p, b) for p, (x, y) in enumerate(points)
                   for b, (x1, y1, x2, y2) in enumerate(boxes)
                   if x1 <= x <= x2 and y1 <= y <= y2}
    centres = [((x1 + x2) / 2, (y1 + y2) / 2) for x1, y1, x2, y2 in boxes]
    C = DataFrameSource(spark_prop.createDataFrame(
        [(b, x, y) for b, (x, y) in reversed(list(enumerate(centres)))],
        "bid bigint, x double, y double"), index_column="bid")
    got = {r["pid"]: r["bid"] for r in NearestJoin(
        P, C, max_distance=4.0).plan(spark_prop).collect()}
    want = {}
    for p, (x, y) in enumerate(points):
        near = [((x - cx) ** 2 + (y - cy) ** 2, b)
                for b, (cx, cy) in enumerate(centres)]
        near = [t for t in near if t[0] <= 16.0]
        if near:
            want[p] = min(near)[1]
    assert got == want


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 50), st.integers(0, 10**6)),
                min_size=1, max_size=200, unique_by=lambda t: t[1]),
       st.integers(4, 6))
def test_kll_sketch_pure_function_of_multiset(pairs, logk):
    """Round 12: the KLL-style sketch state equals an INDEPENDENT
    inline replay of the hash/threshold arithmetic (the bit-parity
    convention — the expectation is derived from the raw pairs here,
    not from the model's own internals), is order/partition
    independent, and merge == direct on random splits."""
    from sketch_models import kll_model, kll_model_merge
    k = 1 << logk
    n, l0, kept, tz = kll_model(pairs, k)
    # independent replay: hash every pair from scratch in the test
    M = 2147483647

    def poly(s, base):
        h = 0
        for ch in s:
            h = (h * base + ord(ch)) % M
        return h

    items = []
    for v, i in pairs:
        g = (poly(str(v), 257) * 1597334677
             + poly(str(i), 131) * 2246822519 + 11) % M
        for q in (40503, 914231):
            g = (g * g + q) % M
        items.append((float(v), g,
                      31 if g == 0 else (g & -g).bit_length() - 1))
    want_l0 = 31
    for l in range(32):
        if sum(1 for _, _, t in items if t >= l) <= k:
            want_l0 = l
            break
    assert n == len(pairs)
    assert l0 == want_l0
    assert kept == sorted((v, g) for v, g, t in items if t >= l0)
    assert len(kept) <= k or l0 == 31
    # random split merge == direct
    cut = len(pairs) // 2
    merged = kll_model_merge(kll_model(pairs[:cut], k),
                             kll_model(pairs[cut:], k), k)
    assert merged == kll_model(pairs, k)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=300),
       st.lists(st.integers(0, 10**9), min_size=0, max_size=100),
       st.integers(1, 4))
def test_bloom_model_never_false_negative_and_merges(members, others,
                                                     k):
    """Round 12: the Bloom bitset never misses a member; union is
    per-word OR on random splits; and membership flags are MONOTONE
    under union — a probe value flagged by a part sketch is flagged
    by the merged sketch (no false negatives can appear by merging),
    while values absent from the merged sketch's bits are definite
    negatives."""
    from sketch_models import bloom_model, bloom_positions
    bits = 2048

    def flagged(words, v):
        return all(words.get(p // 64, 0) & (1 << (p % 64))
                   for p in bloom_positions(v, bits, k))

    words = bloom_model(members, bits, k)
    for v in members:
        assert flagged(words, v)
    cut = len(members) // 2
    wa = bloom_model(members[:cut], bits, k)
    wb = bloom_model(members[cut:], bits, k)
    merged = dict(wa)
    for w, v in wb.items():
        merged[w] = merged.get(w, 0) | v
    assert merged == words
    member_set = set(members)
    for v in others:
        # monotone: part-flagged implies merged-flagged
        if flagged(wa, v) or flagged(wb, v):
            assert flagged(words, v)
        # definite negative: unflagged values are truly non-members
        if not flagged(words, v):
            assert v not in member_set
