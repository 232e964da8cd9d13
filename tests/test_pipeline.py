"""LLM-data-pipeline operator tests (SURVEY.md §2 extensions)."""

import pytest

from dask_geomodeling_spark.geometry.sources import LiteralGeometrySource
from dask_geomodeling_spark.pipeline import dedup, similarity, text
from dask_geomodeling_spark.pipeline.multimodal import (AttachBinaryMetadata,
                                                        ExtractImageFeatures,
                                                        FrameSample)

DOCS = [
    {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
    {"doc_id": 2, "text": "the quick brown fox jumps over the lazy dog"},
    {"doc_id": 3, "text": "the quick brown fox leaps over the lazy dog"},
    {"doc_id": 4, "text": "completely different content about spark sql"},
]


@pytest.fixture(scope="module")
def docs():
    return LiteralGeometrySource(DOCS)


def test_exact_dedup(spark, docs):
    rows = dedup.ExactDedup(docs).plan(spark).collect()
    got = {r.doc_id: r.dup_count for r in rows}
    assert got[1] == 2 and 2 not in got and got[3] == 1


def test_minhash_finds_near_dups(spark, docs):
    pairs = dedup.MinHashLSH(docs, shingle_size=2).plan(spark).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found  # exact dup always collides
    jac = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert jac[(1, 2)] == 1.0
    assert all(not (a == 4 or b == 4) or jac[(a, b)] < 0.5
               for a, b in found)


def test_simhash(spark, docs):
    pairs = dedup.SimHash(docs).plan(spark).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found[(1, 2)] == 0


def test_ngram_jaccard(spark, docs):
    pairs = dedup.NgramJaccard(docs, n=2, threshold=0.5).plan(spark).collect()
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert found[(1, 2)] == 1.0
    assert (1, 3) in found and found[(1, 3)] < 1.0


EMB = [
    {"vec_id": 1, "embedding": [1.0, 0.0, 0.0]},
    {"vec_id": 2, "embedding": [0.999, 0.01, 0.0]},
    {"vec_id": 3, "embedding": [0.0, 1.0, 0.0]},
]


def test_embedding_dedup(spark):
    emb = LiteralGeometrySource(EMB)
    pairs = dedup.EmbeddingDedup(emb, threshold=0.99).plan(spark).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_cosine_topk(spark):
    emb = LiteralGeometrySource(EMB)
    rows = similarity.CosineTopK(emb, emb, k=1).plan(spark).collect()
    best = {r.query_id: r.neighbor_id for r in rows}
    assert best[1] == 2 and best[2] == 1


def test_bucketed_ann_matches_exact_for_same_bucket(spark):
    emb = LiteralGeometrySource(EMB)
    rows = similarity.BucketedANN(emb, emb, k=1, n_planes=2,
                                  dim=3).plan(spark).collect()
    best = {r.query_id: r.neighbor_id for r in rows}
    assert best.get(1) == 2  # near-identical vectors share every bucket


def test_token_count(spark, docs):
    rows = text.TokenCount(docs).plan(spark).collect()
    got = {r.doc_id: (r.ws_tokens, r.bpe_tokens) for r in rows}
    assert got[1] == (9, 9)


def test_quality_and_lang(spark, docs):
    rows = text.QualityScore(text.LanguageID(docs)).plan(spark).collect()
    got = {r.doc_id: r for r in rows}
    assert got[1].lang_pred == "en"
    assert 0.0 <= got[1].quality <= 1.0
    assert got[1].stopword_ratio > 0.2


def test_fingerprint_stability(spark, docs):
    rows = text.Fingerprint(docs).plan(spark).collect()
    got = {r.doc_id: r.fingerprint for r in rows}
    assert got[1] == got[2] != got[3]


def test_multimodal_plumbing(spark):
    src = LiteralGeometrySource([
        {"media_id": 1, "blob": "abc"},
        {"media_id": 2, "blob": "xyz"},
    ])
    media = AttachBinaryMetadata(src, "blob", mime="image/png")
    feats = ExtractImageFeatures(media, dim=8)
    rows = feats.plan(spark).collect()
    assert all(len(r.features) == 8 for r in rows)
    by_id = {r.media_id: tuple(r.features) for r in rows}
    assert by_id[1] != by_id[2]
    # deterministic across plans
    rows2 = feats.plan(spark).collect()
    assert {r.media_id: tuple(r.features) for r in rows2} == by_id

    frames = FrameSample(media, n_frames=3).plan(spark).collect()
    assert len(frames) == 6


def test_extract_strict_raises(spark):
    src = LiteralGeometrySource([{"media_id": 1, "blob": "abc"}])
    media = AttachBinaryMetadata(src, "blob")
    feats = ExtractImageFeatures(media, decode="strict")
    with pytest.raises(Exception):
        feats.plan(spark).collect()


def test_repetition_filter(spark):
    from dask_geomodeling_spark.pipeline.filter import RepetitionFilter
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": "spam spam spam spam"},
        {"doc_id": 2,
         "text": "each of these ten words appears exactly once right now"},
        {"doc_id": 3, "text": "one"},
    ])
    rows = {r.doc_id: r for r in
            RepetitionFilter(src, id_column="doc_id").plan(spark).collect()}
    assert rows[1].dup_word_ratio == 0.75
    assert rows[1].top_bigram_frac == 1.0  # "spam spam" fills all slots
    assert rows[1].repetitive
    assert rows[2].dup_word_ratio == 0.0 and not rows[2].repetitive
    assert rows[3].top_bigram_frac == 0.0  # < 2 words


def test_decontaminate(spark):
    from dask_geomodeling_spark.pipeline.filter import Decontaminate
    train = LiteralGeometrySource([
        {"doc_id": 1, "text": "a b c d e f g h"},   # shares 6-grams
        {"doc_id": 2, "text": "z y x w v u t s"},   # disjoint
    ])
    holdout = LiteralGeometrySource([
        {"doc_id": 9, "text": "a b c d e f"},
    ])
    rows = {r.doc_id: r for r in
            Decontaminate(train, holdout, n=6, id_column="doc_id").plan(spark).collect()}
    assert rows[1].contaminated and rows[1].shared_ngrams == 1
    assert not rows[2].contaminated and rows[2].shared_ngrams == 0
    # hashed (31-bit gram-hash join) mode agrees with exact strings
    rows = {r.doc_id: r for r in
            Decontaminate(train, holdout, n=6, id_column="doc_id",
                          hashed=True).plan(spark).collect()}
    assert rows[1].contaminated and rows[1].shared_ngrams == 1
    assert not rows[2].contaminated and rows[2].shared_ngrams == 0


def test_pii_redact(spark):
    from dask_geomodeling_spark.pipeline.filter import PIIRedact
    src = LiteralGeometrySource([
        {"doc_id": 1,
         "text": "mail bob@x.org or call +31612345678 from 10.0.0.1"},
        {"doc_id": 2, "text": "clean text"},
    ])
    rows = {r.doc_id: r for r in PIIRedact(src).plan(spark).collect()}
    assert (rows[1].n_emails, rows[1].n_ips, rows[1].n_phones) == (1, 1, 1)
    assert rows[1].text_redacted == "mail [EMAIL] or call [PHONE] from [IP]"
    assert rows[2].text_redacted == "clean text"


def test_tfidf(spark):
    from dask_geomodeling_spark.pipeline.text import TFIDF
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": "apple apple banana"},
        {"doc_id": 2, "text": "banana cherry"},
    ])
    rows = TFIDF(src, k=2, id_column="doc_id").plan(spark).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    top1 = {d: sorted(v, key=lambda r: r.rank)[0] for d, v in
            by_doc.items()}
    # 'apple' (tf=2, df=1) out-scores 'banana' (df=2) for doc 1
    assert top1[1].token == "apple" and top1[1].tf == 2
    assert all(r.df == 2 for r in rows if r.token == "banana")


def test_chunk_text(spark):
    from dask_geomodeling_spark.pipeline.text import ChunkText
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": "w0 w1 w2 w3 w4 w5 w6"},
    ])
    rows = sorted(ChunkText(src, chunk=4, overlap=2, id_column="doc_id").plan(spark).collect(),
                  key=lambda r: r.chunk_id)
    # stride 2: starts at words 0, 2, 4, 6
    assert [r.chunk_text for r in rows] == [
        "w0 w1 w2 w3", "w2 w3 w4 w5", "w4 w5 w6", "w6"]
    assert [r.chunk_tokens for r in rows] == [4, 4, 3, 1]


def test_stratified_sample(spark):
    from dask_geomodeling_spark.pipeline.sample import StratifiedSample
    src = LiteralGeometrySource([
        {"doc_id": i, "lang": "en" if i % 2 else "de"}
        for i in range(1, 21)])
    rows = StratifiedSample(src, strata="lang", n=3,
                            id_column="doc_id").plan(spark).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.sample_rank)
    assert sorted(by_lang["en"]) == [1, 2, 3]
    assert sorted(by_lang["de"]) == [1, 2, 3]
    again = StratifiedSample(src, strata="lang", n=3,
                             id_column="doc_id").plan(spark).collect()
    assert {(r.doc_id, r.sample_rank) for r in again} == \
        {(r.doc_id, r.sample_rank) for r in rows}


def test_pq_ann_prefers_same_direction(spark):
    from dask_geomodeling_spark.pipeline.similarity import (
        ProductQuantizerANN)
    emb = LiteralGeometrySource([
        {"vec_id": i, "embedding": [float(i == j or (i - 4 == j))
                                    for j in range(8)]}
        for i in range(8)])
    qs = LiteralGeometrySource([
        {"vec_id": 0, "embedding": [1.0] + [0.0] * 7}])
    rows = ProductQuantizerANN(emb, qs, k=3, m=2, codes=2, iters=1,
                               dim=8, precision=6).plan(spark).collect()
    assert len(rows) == 3
    assert all(r.query_id == 0 and r.neighbor_id != 0 for r in rows)
    ranks = sorted(r.rank for r in rows)
    assert ranks == [1, 2, 3]
    # distances ascend with rank
    by_rank = sorted(rows, key=lambda r: r.rank)
    assert all(by_rank[i].approx_dist <= by_rank[i + 1].approx_dist
               for i in range(len(by_rank) - 1))


def test_ivfpq_ranks_by_residual_distance(spark):
    from dask_geomodeling_spark.pipeline.similarity import IVFPQ
    emb = LiteralGeometrySource([
        {"vec_id": i,
         "embedding": [1.0 * (j == i % 4) for j in range(8)]}
        for i in range(8)])
    qs = LiteralGeometrySource([
        {"vec_id": 0, "embedding": [1.0] + [0.0] * 7}])
    rows = IVFPQ(emb, qs, k=2, clusters=2, iters=1, m=2, codes=2,
                 dim=8, precision=6).plan(spark).collect()
    assert rows and all(r.query_id == 0 and r.neighbor_id != 0
                        for r in rows)
    by_rank = sorted(rows, key=lambda r: r.rank)
    assert all(by_rank[i].approx_dist <= by_rank[i + 1].approx_dist
               for i in range(len(by_rank) - 1))


def test_bmp_and_ppm_decoders():
    """Pure-python codecs: 24-bit BMP (bottom-up, padded rows) and P6
    PPM (with comments) decode to identical top-down RGB."""
    import struct
    from dask_geomodeling_spark.pipeline.multimodal import (
        _decode_bmp, _decode_image, _decode_ppm, _encode_ppm)

    # 2x2 image, rows top-down: (R,G,B) values
    rgb = bytes([10, 20, 30, 40, 50, 60,
                 70, 80, 90, 100, 110, 120])
    # P6 with a header comment
    ppm = b"P6\n# test\n2 2\n255\n" + rgb
    assert _decode_ppm(ppm) == (2, 2, rgb)
    assert _decode_image(_encode_ppm(2, 2, rgb)) == (2, 2, rgb)

    # BMP: bottom-up BGR rows padded to 4 bytes (2px * 3B = 6 -> pad 8)
    def bgr_row(pixels):
        out = b"".join(bytes([b, g, r]) for r, g, b in pixels)
        return out + b"\x00" * (-len(out) % 4)

    pixel_data = bgr_row([(70, 80, 90), (100, 110, 120)]) \
        + bgr_row([(10, 20, 30), (40, 50, 60)])  # bottom row first
    header = (b"BM" + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0,
                            len(pixel_data), 2835, 2835, 0, 0))
    assert _decode_bmp(header + pixel_data) == (2, 2, rgb)
    assert _decode_image(header + pixel_data) == (2, 2, rgb)


def test_resize_image_real(spark):
    """Nearest-neighbor resize on a real decoded payload."""
    from dask_geomodeling_spark.pipeline.multimodal import (
        ExtractImageFeatures, ResizeImage, SyntheticPPM)
    src = LiteralGeometrySource([{"doc_id": 7}, {"doc_id": 9}])
    imgs = SyntheticPPM(src, "doc_id", width=4, height=4)
    resized = ResizeImage(imgs, 2, 2, decode="image")
    feats = ExtractImageFeatures(resized, decode="image")
    rows = {r.doc_id: r.features for r in feats.plan(spark).collect()}
    for doc_id, f in rows.items():
        w, h, npix, mean_r = f[0], f[1], f[2], f[3]
        assert (w, h, npix) == (2.0, 2.0, 4.0)
        expect = sum((doc_id * 37 + 3 * p * 11) % 256
                     for p in (0, 2, 8, 10)) / 4
        assert mean_r == expect


def test_kmeans_ivf_join_assignment_matches_literal(spark):
    """assign='join' (broadcast-join argmin, the large-k path) must
    produce exactly the literal-expression assignment's results."""
    from dask_geomodeling_spark.demos import (DataFrameSource,
                                              read_nanos_parquet)
    from dask_geomodeling_spark.pipeline.similarity import KMeansIVF
    from pyspark.sql import functions as F
    emb = read_nanos_parquet(spark,
                             "/root/testdata/sf0.001/embeddings.parquet")
    corpus = DataFrameSource(emb, index_column="vec_id")
    queries = DataFrameSource(emb.filter(F.col("vec_id") < 3),
                              index_column="vec_id")
    lit = KMeansIVF(corpus, queries, k=5, clusters=4, iters=1,
                    precision=6).plan(spark).collect()
    jn = KMeansIVF(corpus, queries, k=5, clusters=4, iters=1,
                   precision=6, assign="join").plan(spark).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(map(tuple, lit), key=lambda t: (t[0], t[3])) \
        == sorted(map(tuple, jn), key=lambda t: (t[0], t[3]))


def test_kmeans_ivf_join_assignment_broadcasts(spark):
    """The join-assignment plan must broadcast the centroid table (a
    BroadcastNestedLoopJoin/BroadcastExchange), never shuffle the
    corpus against it."""
    import contextlib, io
    from dask_geomodeling_spark.demos import (DataFrameSource,
                                              read_nanos_parquet)
    from dask_geomodeling_spark.pipeline.similarity import KMeansIVF
    from pyspark.sql import functions as F
    emb = read_nanos_parquet(spark,
                             "/root/testdata/sf0.001/embeddings.parquet")
    corpus = DataFrameSource(emb, index_column="vec_id")
    queries = DataFrameSource(emb.filter(F.col("vec_id") < 3),
                              index_column="vec_id")
    df = KMeansIVF(corpus, queries, k=5, clusters=4, iters=1,
                   precision=6, assign="join").plan(spark)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastExchange" in plan


def test_line_dedup_removes_boilerplate(spark):
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": "COOKIE BANNER\nreal prose one\nFOOTER"},
        {"doc_id": 2, "text": "COOKIE BANNER\nreal prose two\nFOOTER"},
        {"doc_id": 3, "text": "COOKIE BANNER\nFOOTER"},
    ])
    out = {r.doc_id: r for r in dedup.LineDedup(src, max_doc_freq=1)
           .plan(spark).collect()}
    assert out[1].text == "real prose one"
    assert out[2].text == "real prose two"
    assert out[3].text == ""            # all lines were boilerplate
    assert out[1].n_removed_lines == 2
    assert out[3].n_removed_lines == 2


def test_line_dedup_preserves_order_and_hashed_parity(spark):
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": "z first\nSHARED\na later\nb last"},
        {"doc_id": 2, "text": "SHARED\nother"},
    ])
    plain = {r.doc_id: r.text for r in dedup.LineDedup(src)
             .plan(spark).collect()}
    assert plain[1] == "z first\na later\nb last"   # original order kept
    hashed = {r.doc_id: r.text
              for r in dedup.LineDedup(src, hashed=True)
              .plan(spark).collect()}
    assert hashed == plain

def test_line_dedup_null_text_passthrough(spark):
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": "SHARED\nprose one"},
        {"doc_id": 2, "text": "SHARED\nprose two"},
        {"doc_id": 3, "text": None},
    ])
    out = {r.doc_id: r for r in dedup.LineDedup(src, max_doc_freq=1)
           .plan(spark).collect()}
    assert out[3].text is None          # NULL passes through unchanged
    assert out[3].n_removed_lines == 0
    assert out[1].text == "prose one"
    assert out[1].n_removed_lines == 1

def test_linear_score_weights_and_threshold(spark):
    from dask_geomodeling_spark.pipeline.filter import LinearScore
    src = LiteralGeometrySource([
        {"id": 1, "f1": 0.0, "f2": 0.0},
        {"id": 2, "f1": 10.0, "f2": 0.0},
        {"id": 3, "f1": 0.0, "f2": 10.0}])
    out = {r.id: r.score for r in
           LinearScore(src, ["f1", "f2"], [1.0, -1.0]).plan(spark)
           .collect()}
    assert out[1] == 0.5 and out[2] > 0.99 and out[3] < 0.01
    kept = [r.id for r in
            LinearScore(src, ["f1", "f2"], [1.0, -1.0], threshold=0.5)
            .plan(spark).collect()]
    assert sorted(kept) == [1, 2]


def test_source_mix_targets_and_determinism(spark):
    from dask_geomodeling_spark.pipeline.sample import SourceMix
    rows = ([{"id": i, "cat": "a"} for i in range(200)]
            + [{"id": 1000 + i, "cat": "b"} for i in range(50)]
            + [{"id": 2000 + i, "cat": "c"} for i in range(10)])
    src = LiteralGeometrySource(rows, id=None)
    mix = SourceMix(src, {"a": 0.5, "b": 0.5}, category_column="cat",
                    id_column="id")
    got = [(r.id, r.cat) for r in mix.plan(spark).collect()]
    cats = {c for _, c in got}
    assert cats <= {"a", "b"}          # untargeted category dropped
    nb = sum(1 for _, c in got if c == "b")
    na = sum(1 for _, c in got if c == "a")
    # T = min(200/.5, 50/.5) = 100 -> expect ~50 of each; b keeps all
    assert nb == 50 and 35 <= na <= 65
    assert sorted(got) == sorted(
        (r.id, r.cat) for r in mix.plan(spark).collect())  # rerun equal


def test_random_projection_shape_and_linearity(spark):
    from dask_geomodeling_spark.pipeline.similarity import RandomProjection
    src = LiteralGeometrySource([
        {"id": 1, "embedding": [1.0, 0.0, 0.0, 0.0]},
        {"id": 2, "embedding": [2.0, 0.0, 0.0, 0.0]},
        {"id": 3, "embedding": [0.0, 0.0, 0.0, 0.0]}])
    out = {r.id: r.projected for r in
           RandomProjection(src, k=3, dim=4, vector_column="embedding")
           .plan(spark).collect()}
    assert all(len(v) == 3 for v in out.values())
    assert out[3] == [0.0, 0.0, 0.0]
    for a, b in zip(out[2], out[1]):   # projection is linear
        assert abs(a - 2.0 * b) < 1e-12


def test_pca_project_matches_numpy_eigh(spark):
    """PCAProject's projections must agree (up to per-component sign)
    with numpy's exact eigendecomposition of the sample covariance."""
    import numpy as np
    from dask_geomodeling_spark.pipeline.decompose import PCAProject
    rows = [{"id": i,
             "embedding": [float(i), (-1.0) ** i * (1.0 + 0.1 * i),
                           0.25 * float(i % 3)]}
            for i in range(12)]
    src = LiteralGeometrySource(rows)
    out = {r.id: (r.pc0, r.pc1) for r in
           PCAProject(src, k=2, iters=24, dim=3, id_column="id")
           .plan(spark).collect()}
    X = np.array([r["embedding"] for r in rows])
    Xc = X - X.mean(axis=0)
    C = Xc.T @ Xc / len(rows)
    vals, vecs = np.linalg.eigh(C)
    for c, col in enumerate(vecs[:, ::-1].T[:2]):
        mine = np.array([out[i][c] for i in range(12)])
        ref = Xc @ col
        err = min(np.abs(mine - ref).max(), np.abs(mine + ref).max())
        assert err < 1e-6, (c, err)


def test_repeated_spans_detects_shared_windows(spark):
    from dask_geomodeling_spark.pipeline.dedup import RepeatedSpans
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": "a b c d x y"},
        {"doc_id": 2, "text": "q a b c d z"},
        {"doc_id": 3, "text": "nothing shared here at all"}])
    rows = [(r.doc_id, r.pos, r.n_docs) for r in
            RepeatedSpans(src, span=4, min_docs=2).plan(spark).collect()]
    # the shared 4-token window "a b c d" sits at pos 0 in doc 1 and
    # pos 1 in doc 2; nothing else repeats
    assert sorted(rows) == [(1, 0, 2), (2, 1, 2)]


def test_repeated_spans_skips_short_and_empty_docs(spark):
    """Docs with fewer tokens than the span emit NO windows: truncated
    slices would fingerprint partial spans that spuriously match across
    short/empty docs."""
    from dask_geomodeling_spark.pipeline.dedup import RepeatedSpans
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": ""},
        {"doc_id": 2, "text": ""},
        {"doc_id": 3, "text": "a b"},
        {"doc_id": 4, "text": "a b"},
        {"doc_id": 5, "text": "a b c d"},
        {"doc_id": 6, "text": "a b c d"}])
    rows = [(r.doc_id, r.pos, r.n_docs) for r in
            RepeatedSpans(src, span=4, min_docs=2).plan(spark).collect()]
    assert sorted(rows) == [(5, 0, 2), (6, 0, 2)]


def test_stratified_sample_list_strata(spark):
    """List-valued strata partition by every named column (the salted
    phase-1 window must splat the list next to the salt column)."""
    from dask_geomodeling_spark.pipeline.sample import StratifiedSample
    src = LiteralGeometrySource(
        [{"id": i, "a": i % 2, "b": i % 3} for i in range(120)])
    rows = [(r.a, r.b, r.id) for r in
            StratifiedSample(src, ["a", "b"], n=4, id_column="id",
                             salt=8).plan(spark).collect()]
    counts = {}
    for a, b, _ in rows:
        counts[(a, b)] = counts.get((a, b), 0) + 1
    assert counts == {(a, b): 4 for a in range(2) for b in range(3)}


def test_stratified_sample_salted_equals_plain(spark):
    """The two-phase salted top-n returns EXACTLY the single-window
    result, ranks included, for any salt."""
    from dask_geomodeling_spark.pipeline.sample import StratifiedSample
    src = LiteralGeometrySource(
        [{"id": i, "cat": "a" if i % 7 else "b"} for i in range(300)])
    plain = {(r.id, r.sample_rank) for r in
             StratifiedSample(src, "cat", n=20, id_column="id", salt=1)
             .plan(spark).collect()}
    for salt in (4, 16):
        salted = {(r.id, r.sample_rank) for r in
                  StratifiedSample(src, "cat", n=20, id_column="id",
                                   salt=salt).plan(spark).collect()}
        assert salted == plain, salt


def test_wav_codec_roundtrip_and_features(spark):
    from dask_geomodeling_spark.pipeline.multimodal import (
        _audio_features, _decode_wav, _encode_wav)
    samples = [0, 100, -100, 32767, -32768, 5]
    payload = _encode_wav(16000, 2, samples)
    rate, channels, back = _decode_wav(payload)
    assert (rate, channels, back) == (16000, 2, samples)
    feats = _audio_features(payload)
    assert feats[0] == 16000.0 and feats[1] == 2.0 and feats[2] == 3.0
    assert feats[6] == 32768.0          # peak |sample|
    import pytest
    with pytest.raises(NotImplementedError):
        _decode_wav(_encode_wav(8000, 1, [1])[:20]
                    + b"\x02\x00" + _encode_wav(8000, 1, [1])[22:])


def test_extract_audio_features_distributed(spark):
    from dask_geomodeling_spark.pipeline.multimodal import (
        ExtractAudioFeatures, SyntheticWAV)
    src = LiteralGeometrySource([{"doc_id": i} for i in range(4)])
    wavs = SyntheticWAV(src, "doc_id", sample_rate=4000, n_frames=8,
                        channels=2)
    rows = {r.doc_id: r.features for r in
            ExtractAudioFeatures(wavs, decode="audio")
            .plan(spark).collect()}
    for i, f in rows.items():
        assert f[0] == 4000.0 and f[1] == 2.0 and f[2] == 8.0
        expect = [(i * 31 + k * 17) % 65536 - 32768 for k in range(16)]
        assert f[4] == sum(expect) / 16.0


def test_ngram_perplexity_hand_computed(spark):
    """Bigram LM with add-one smoothing on a 3-doc corpus: corpus
    counts c(a,b)=3, c(b,a)=1, contexts c1(a)=3, c1(b)=1, V=3."""
    import math

    from dask_geomodeling_spark.pipeline.lm import NgramPerplexity
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": "a b a b"},
        {"doc_id": 2, "text": "a b"},
        {"doc_id": 3, "text": "x"}])
    rows = {r.doc_id: r for r in NgramPerplexity(src).plan(spark).collect()}
    lp_ab = math.log((3 + 1) / (3 + 3))
    lp_ba = math.log((1 + 1) / (1 + 3))
    assert rows[1].n_bigrams == 3
    assert rows[1].avg_logprob == round((2 * lp_ab + lp_ba) / 3, 6)
    assert rows[2].perplexity == round(math.exp(-lp_ab), 6)
    # a one-token doc has no bigram evidence -> NULL scores
    assert rows[3].n_bigrams is None and rows[3].perplexity is None


def test_remove_repeated_spans_keeps_canonical_occurrence(spark):
    from dask_geomodeling_spark.pipeline.dedup import RemoveRepeatedSpans
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": "A b c d x y"},
        {"doc_id": 2, "text": "q a b c d z"},
        {"doc_id": 3, "text": "nothing shared here at all"}])
    rows = {r.doc_id: r for r in
            RemoveRepeatedSpans(src, span=4,
                                min_docs=2).plan(spark).collect()}
    # the shared span "a b c d" is canonical at (doc 1, pos 0): doc 1
    # keeps everything (original case preserved), doc 2 loses tokens
    # 1..4, doc 3 is untouched
    assert rows[1].text_dedup == "A b c d x y"
    assert rows[1].n_removed == 0
    assert rows[2].text_dedup == "q z" and rows[2].n_removed == 4
    assert rows[3].text_dedup == "nothing shared here at all"


def test_png_codec_roundtrip_and_all_filters():
    """Pure-python PNG: encode->decode roundtrip, plus hand-built
    IDAT streams exercising every row filter (Sub/Up/Average/Paeth)
    and the gray / gray+alpha / RGBA channel layouts."""
    import struct
    import zlib

    from dask_geomodeling_spark.pipeline.multimodal import (_decode_png,
                                                            _encode_png)
    rgb = bytes((7 * i) % 256 for i in range(4 * 3 * 3))
    w, h, back = _decode_png(_encode_png(4, 3, rgb))
    assert (w, h) == (4, 3) and back == rgb

    def png(ctype, channels, rows):
        raw = b"".join(bytes([f]) + bytes(r) for f, r in rows)
        def chunk(typ, data):
            body = typ + data
            return (struct.pack(">I", len(data)) + body
                    + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF))
        width = len(rows[0][1]) // channels
        ihdr = struct.pack(">IIBBBBB", width, len(rows), 8, ctype,
                           0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    # RGB with Sub then Up then Average then Paeth filters: build the
    # expected output by replaying the spec by hand
    rows = [(1, [10, 20, 30, 5, 5, 5]),     # Sub: second px = first+5
            (2, [1, 1, 1, 1, 1, 1]),        # Up: prev row + 1
            (3, [0, 0, 0, 0, 0, 0]),        # Average
            (4, [0, 0, 0, 0, 0, 0])]        # Paeth
    w, h, out = _decode_png(png(2, 3, rows))
    assert (w, h) == (2, 4)
    r0 = [10, 20, 30, 15, 25, 35]
    r1 = [v + 1 for v in r0]
    r2 = [(0 + ((a + b) >> 1)) & 255 for a, b in
          zip([0, 0, 0] + r1[:3], r1)]
    # row2 average: a = left (already reconstructed), so do it in order
    r2 = []
    for i in range(6):
        a = r2[i - 3] if i >= 3 else 0
        r2.append(((a + r1[i]) >> 1) & 255)
    r3 = []
    for i in range(6):
        a = r3[i - 3] if i >= 3 else 0
        b = r2[i]
        c = r2[i - 3] if i >= 3 else 0
        q = a + b - c
        qa, qb, qc = abs(q - a), abs(q - b), abs(q - c)
        pred = a if (qa <= qb and qa <= qc) else (b if qb <= qc else c)
        r3.append(pred & 255)
    assert list(out) == r0 + r1 + r2 + r3

    # gray replicates; RGBA drops alpha; gray+alpha replicates
    w, h, out = _decode_png(png(0, 1, [(0, [9, 200])]))
    assert list(out) == [9, 9, 9, 200, 200, 200]
    w, h, out = _decode_png(png(6, 4, [(0, [1, 2, 3, 99, 4, 5, 6, 99])]))
    assert list(out) == [1, 2, 3, 4, 5, 6]
    w, h, out = _decode_png(png(4, 2, [(0, [8, 99, 16, 99])]))
    assert list(out) == [8, 8, 8, 16, 16, 16]


def test_dedup_clusters_known_labels_both_paths(spark):
    """The star rounds and the driver union-find give the known labels
    and the same schema — including on a long chain (diameter 40, the
    worst case for naive propagation; the star rounds collapse it in a
    handful of alternating rounds)."""
    from dask_geomodeling_spark.pipeline.dedup import DedupClusters
    chain = [{"id_a": i, "id_b": i + 1} for i in range(40)]
    extra = [{"id_a": 100, "id_b": 105}, {"id_a": 105, "id_b": 103},
             {"id_a": 200, "id_b": 201}]
    docs = LiteralGeometrySource(
        [{"doc_id": i} for i in range(41)]
        + [{"doc_id": i} for i in (100, 103, 105, 200, 201, 999)])
    pairs = LiteralGeometrySource(chain + extra)
    want = ({(i, 0, i == 0) for i in range(41)}
            | {(100, 100, True), (103, 100, False), (105, 100, False),
               (200, 200, True), (201, 200, False), (999, 999, True)})
    blk = DedupClusters(docs, pairs, id_column="doc_id", max_iter=8)
    driver_df = blk.plan(spark)
    dist_df = blk.plan(spark, driver_threshold=0)
    for df in (driver_df, dist_df):
        got = [(r.doc_id, r.cluster_id, r.is_canonical)
               for r in df.collect()]
        assert len(got) == len(want)
        assert set(got) == want
    assert driver_df.schema == dist_df.schema


def test_dedup_clusters_ids_unique_contract(spark):
    """A source with one duplicated id: by default the node table is
    made distinct, so each id gets one row with its label; declaring
    ``ids_unique=True`` skips that shuffle and, as documented, the
    duplicated id then yields duplicated rows.  Both on the driver
    union-find and on the distributed star rounds."""
    from dask_geomodeling_spark.pipeline.dedup import DedupClusters
    docs = LiteralGeometrySource(
        [{"doc_id": i} for i in (1, 2, 2, 3, 7)])
    pairs = LiteralGeometrySource([{"id_a": 3, "id_b": 2},
                                   {"id_a": 2, "id_b": 1}])
    once = [(1, 1, True), (2, 1, False), (3, 1, False), (7, 7, True)]
    for unique, want in ((False, once),
                         (True, sorted(once + [(2, 1, False)]))):
        blk = DedupClusters(docs, pairs, id_column="doc_id",
                            ids_unique=unique)
        for request in ({}, {"driver_threshold": 0}):
            got = sorted((r.doc_id, r.cluster_id, r.is_canonical)
                         for r in blk.plan(spark, **request).collect())
            assert got == want, (unique, request)


def test_fit_fraction_samples_deterministically(spark):
    """fit_fraction runs the iterative fits on a deterministic hash
    sample (assignment/search stay full-corpus): output schemas and
    row coverage are unchanged, and two runs agree exactly."""
    from dask_geomodeling_spark.pipeline.decompose import PCAProject
    from dask_geomodeling_spark.pipeline.similarity import (
        IVFPQ, ProductQuantizerANN, fit_sample)
    emb = LiteralGeometrySource([
        {"vec_id": i,
         "embedding": [float((i * 7 + j) % 5) for j in range(8)]}
        for i in range(40)])
    frac = fit_sample(emb.plan(spark), "vec_id", 0.5).count()
    assert 0 < frac < 40
    pq = ProductQuantizerANN(emb, emb, k=2, m=2, codes=2, iters=1,
                             dim=8, fit_fraction=0.5)
    a = sorted((r.query_id, r.rank, r.neighbor_id)
               for r in pq.plan(spark).collect())
    b = sorted((r.query_id, r.rank, r.neighbor_id)
               for r in pq.plan(spark).collect())
    assert a == b and len({q for q, _, _ in a}) == 40
    ivf = IVFPQ(emb, emb, k=2, clusters=2, iters=1, m=2, codes=2,
                dim=8, fit_fraction=0.5)
    assert ivf.plan(spark).count() > 0
    pca = PCAProject(emb, k=2, iters=3, dim=8, id_column="vec_id",
                     fit_fraction=0.5)
    assert pca.plan(spark).count() == 40  # projection is full-corpus


def test_kmeans_ivf_saved_model_roundtrip(spark, tmp_path):
    """fit-once / search-many: a saved centroid table reloads and the
    pre-fitted index returns exactly the fitted index's results."""
    from dask_geomodeling_spark.pipeline.similarity import (
        KMeansIVF, learn_centroids, load_centroids, save_centroids)
    emb = LiteralGeometrySource([
        {"vec_id": i,
         "embedding": [float((i * 7 + j) % 5) for j in range(8)]}
        for i in range(30)])
    base = emb.plan(spark)
    cents = learn_centroids(base, 3, 2, id_column="vec_id")
    url = str(tmp_path / "centroids")
    save_centroids(spark, cents, url)
    assert load_centroids(spark, url) == cents
    fitted = sorted((r.query_id, r.rank, r.neighbor_id) for r in
                    KMeansIVF(emb, emb, k=2, clusters=3, iters=2)
                    .plan(spark).collect())
    loaded = sorted((r.query_id, r.rank, r.neighbor_id) for r in
                    KMeansIVF(emb, emb, k=2, clusters=3,
                              centroids=url).plan(spark).collect())
    assert fitted == loaded


def test_logistic_fit_learns_separable_labels(spark):
    """Batch-GD logistic fit separates a linearly separable feature:
    after enough iterations the positive class scores strictly higher,
    and two runs agree exactly (deterministic fit)."""
    from dask_geomodeling_spark.pipeline.filter import LogisticFit
    rows = [{"id": i, "f": float(i % 2), "y": float(i % 2)}
            for i in range(100)]
    src = LiteralGeometrySource(rows)
    fit = LogisticFit(src, features=["f"], label_column="y", iters=50,
                      lr=2.0, precision=6)
    got = {(r.id, r.score) for r in fit.plan(spark).collect()}
    again = {(r.id, r.score) for r in fit.plan(spark).collect()}
    assert got == again
    pos = {s for i, s in got if i % 2 == 1}
    neg = {s for i, s in got if i % 2 == 0}
    assert min(pos) > max(neg)
    assert min(pos) > 0.7 and max(neg) < 0.3


def test_remove_repeated_spans_huge_doc_ids(spark):
    # hash-derived ids >= 2^31: the old doc*2^32+pos encoding would
    # overflow bigint and abort under ANSI mode (round-6 ADVICE) —
    # the struct-MIN argmin must keep working
    from dask_geomodeling_spark.pipeline.dedup import RemoveRepeatedSpans
    big = 1 << 33
    src = LiteralGeometrySource([
        {"doc_id": big, "text": "A b c d x y"},
        {"doc_id": big + 1, "text": "q a b c d z"}])
    rows = {r.doc_id: r for r in
            RemoveRepeatedSpans(src, span=4,
                                min_docs=2).plan(spark).collect()}
    assert rows[big].text_dedup == "A b c d x y"
    assert rows[big + 1].text_dedup == "q z"
    assert rows[big + 1].n_removed == 4


def test_fit_logistic_persist_and_empty_guard(spark):
    import pytest as _pytest
    from dask_geomodeling_spark.pipeline.filter import fit_logistic
    df = spark.createDataFrame(
        [(0.0, 0), (1.0, 0), (4.0, 1), (5.0, 1)], "f double, y int")
    bias, (w,) = fit_logistic(df, ["f"], "y", iters=2, lr=0.5)
    assert w > 0  # separable data: positive slope after 2 steps
    with _pytest.raises(ValueError, match="empty"):
        fit_logistic(df.filter("f > 100"), ["f"], "y", iters=1)


def test_bpe_token_count_gpt2_semantics(spark):
    from dask_geomodeling_spark.pipeline.text import BPETokenCount
    merges = [("e", "r"), ("t", "h"), ("th", "e"), ("a", "t")]
    src = LiteralGeometrySource([
        {"doc_id": 1, "text": "the that matter"},
        {"doc_id": 2, "text": "aaaa"},
        {"doc_id": 3, "text": "   "}])
    rows = {r.doc_id: r.bpe_count for r in
            BPETokenCount(src, merges).plan(spark).collect()}
    # the -> [the]=1; that -> [th, at]=2; matter -> [m, at, t, er]=4
    assert rows[1] == 7
    # no (a,a) rule: stays 4 chars
    assert rows[2] == 4
    assert rows[3] == 0
    # left-to-right non-overlap: with an (a,a) rule "aaa" -> [aa, a]
    rows = {r.doc_id: r.bpe_count for r in BPETokenCount(
        LiteralGeometrySource([{"doc_id": 1, "text": "aaa aaaa"}]),
        [("a", "a")]).plan(spark).collect()}
    assert rows[1] == 2 + 2


def test_bpe_token_count_rejects_separator_symbol():
    from dask_geomodeling_spark.pipeline.text import BPETokenCount
    with pytest.raises(ValueError, match="separator"):
        BPETokenCount(None, [("\x1f", "a")])


def test_semdedup_marks_near_identical_within_cluster(spark):
    """Two near-identical vectors land in the same cluster; the one
    MORE similar to the centroid is the duplicate (paper keep rule)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import SemDedup
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.14, 0.0, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    out = SemDedup(DataFrameSource(df, index_column="vec_id"),
                   clusters=3, iters=2, tau=0.95).plan(spark)
    got = {r["vec_id"]: r for r in out.collect()}
    assert got[0]["cid"] == got[1]["cid"]
    # exactly one of the near-dup pair is marked
    assert got[0]["is_dup"] != got[1]["is_dup"]
    assert not got[2]["is_dup"] and not got[3]["is_dup"]
    for r in got.values():
        assert -1.0 <= r["centroid_sim"] <= 1.0


def test_dsir_select_prefers_target_like_docs(spark):
    from dask_geomodeling_spark.pipeline.dsir import DSIRSelect
    raw = LiteralGeometrySource([
        {"doc_id": 1, "text": "alpha beta alpha beta alpha"},
        {"doc_id": 2, "text": "alpha beta gamma beta alpha"},
        {"doc_id": 3, "text": "delta epsilon zeta delta zeta"},
        {"doc_id": 4, "text": "zeta epsilon delta epsilon zeta"},
        {"doc_id": 5, "text": ""},
    ])
    tgt = LiteralGeometrySource([
        {"doc_id": 10, "text": "alpha beta alpha beta"},
        {"doc_id": 11, "text": "beta alpha alpha"},
    ])
    out = DSIRSelect(raw, tgt, id_column="doc_id",
                     num_buckets=101).plan(spark)
    rows = {r.doc_id: r for r in out.collect()}
    # target-like docs outrank the off-domain ones
    assert rows[1].logweight > rows[3].logweight
    assert rows[2].logweight > rows[4].logweight
    # wordless doc: zero features -> NULL weight, excluded from top_k
    assert rows[5].logweight is None and rows[5].n_grams == 0
    top = DSIRSelect(raw, tgt, id_column="doc_id", num_buckets=101,
                     top_k=2).plan(spark)
    ids = sorted(r.doc_id for r in top.collect())
    assert ids == [1, 2]


def test_bpe_train_learns_canonical_merges(spark):
    from dask_geomodeling_spark.pipeline.text import (BPETokenize,
                                                      BPETrain)
    corpus = LiteralGeometrySource([
        {"doc_id": 1, "text": "low low low low low"},
        {"doc_id": 2, "text": "lower lower newest newest newest"},
        {"doc_id": 3, "text": "newest newest newest widest widest"},
    ])
    rules = BPETrain(corpus, n_merges=4).plan(spark).collect()
    assert [r.rank for r in rules] == [1, 2, 3, 4]
    # 'e s' (6x newest + 2x widest) then 'es t' win first, per the
    # published worked example; ties resolve by pair-string order
    assert (rules[0].lhs, rules[0].rhs, rules[0].pair_count) == \
        ("e", "s", 8)
    assert (rules[1].lhs, rules[1].rhs) == ("es", "t")
    for r in rules:
        assert r.merged == r.lhs + r.rhs
    # the learned table feeds the apply half of the family
    merges = [(r.lhs, r.rhs) for r in rules]
    toks = BPETokenize(corpus, merges,
                       vocab=["l", "o", "w", "e", "r", "i", "d", "n",
                              "s", "t", "est", "es"]).plan(spark).collect()
    assert len(toks) == 3


def test_bpe_train_early_stop_on_single_chars(spark):
    from dask_geomodeling_spark.pipeline.text import BPETrain
    corpus = LiteralGeometrySource([{"doc_id": 1, "text": "a b c"}])
    rules = BPETrain(corpus, n_merges=5).plan(spark).collect()
    assert rules == []  # no adjacent pairs anywhere


def test_dsir_score_saved_model_roundtrip(spark, tmp_path):
    from dask_geomodeling_spark.pipeline.dsir import (DSIRScore,
                                                      DSIRSelect,
                                                      fit_dsir_model,
                                                      save_dsir_model)
    raw_rows = [
        {"doc_id": 1, "text": "alpha beta alpha"},
        {"doc_id": 2, "text": "delta epsilon zeta"},
        {"doc_id": 3, "text": ""},
    ]
    raw = LiteralGeometrySource(raw_rows)
    tgt = LiteralGeometrySource([{"doc_id": 9, "text": "alpha beta"}])
    raw_df = raw.plan(spark)
    tgt_df = tgt.plan(spark)
    url = str(tmp_path / "model")
    save_dsir_model(fit_dsir_model(raw_df, tgt_df, num_buckets=101),
                    url)
    scored = {r.doc_id: r for r in
              DSIRScore(raw, url, id_column="doc_id",
                        num_buckets=101).plan(spark).collect()}
    # saved-model scoring == the in-plan select weights
    select = {r.doc_id: r for r in
              DSIRSelect(raw, tgt, id_column="doc_id",
                         num_buckets=101).plan(spark).collect()}
    for d in (1, 2):
        assert scored[d].logweight == select[d].logweight
        assert scored[d].n_grams == select[d].n_grams
    assert scored[3].logweight is None and scored[3].n_grams == 0
    # an UNSEEN doc hits unseen buckets and takes the sentinel default
    unseen = LiteralGeometrySource(
        [{"doc_id": 7, "text": "qqqq zzzz qqqq"}])
    out = DSIRScore(unseen, url, id_column="doc_id",
                    num_buckets=101).plan(spark).collect()
    assert out[0].logweight is not None


def test_semdedup_engines_agree(spark):
    """engine='arrow' (grouped Gram-matrix pair stage) must reproduce
    the SQL fold's decisions exactly — same summation order, same
    round-then-threshold rule, including zero-norm rows."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import SemDedup
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(60)]
    rows.append((60, [0.0] * 8))  # zero-norm: never a dup
    rows.append((61, list(rows[5][1])))  # exact dup of 5
    df = spark.createDataFrame(rows,
                               "vec_id bigint, embedding array<double>")
    src = DataFrameSource(df, index_column="vec_id")
    kw = dict(clusters=3, iters=2, tau=0.6)
    a = sorted(map(tuple, SemDedup(src, engine="sql", **kw)
                   .plan(spark).collect()))
    b = sorted(map(tuple, SemDedup(src, engine="arrow", **kw)
                   .plan(spark).collect()))
    assert a == b
    assert any(r[3] for r in a)  # at least the exact dup is marked


def test_kneser_ney_hand_computed(spark):
    """Corpus 'a b a c' (one doc): D=0.75 interpolated KN gives
    P(b|a)=P(c|a)=0.375, P(a|b)=0.5 — and per seen context the
    distribution sums to 1 (the KN normalization invariant)."""
    import math

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.lm import KneserNeyPerplexity
    df = spark.createDataFrame([(1, "a b a c"), (2, "x")],
                               "doc_id bigint, text string")
    out = KneserNeyPerplexity(
        DataFrameSource(df, index_column="doc_id")).plan(spark)
    got = {r["doc_id"]: r for r in out.collect()}
    lp = (math.log(0.375) + math.log(0.5) + math.log(0.375)) / 3
    assert got[1]["n_bigrams"] == 3
    assert abs(got[1]["avg_logprob"] - round(lp, 6)) < 1e-9
    assert abs(got[1]["perplexity"] - round(math.exp(-lp), 6)) < 1e-9
    assert got[2]["avg_logprob"] is None  # < 2 tokens: no evidence
    # normalization: sum over the seen continuations of context 'a'
    # plus the continuation mass of every OTHER vocab word must be 1
    # (P(b|a) + P(c|a) already covers seen; unseen w2 under context
    # 'a' get D*N1f/c1 * Pcont(w2); vocab = {a,b,c}, Pcont(a)=1/3)
    p_unseen_a = 0.75 * 2 / 2 * (1.0 / 3)
    assert abs((0.375 + 0.375 + p_unseen_a) - 1.0) < 1e-12


def test_temperature_mix_flattens_head(spark):
    """alpha<1 upweights the small category's keep fraction relative
    to the big one; alpha=1 reproduces natural proportions (everything
    kept, T = total)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.sample import TemperatureMix
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    src = DataFrameSource(df, index_column="doc_id")
    kept = TemperatureMix(src, alpha=0.3).plan(spark) \
        .groupBy("source").count().collect()
    frac = {r["source"]: r["count"] for r in kept}
    # small keeps (nearly) everything, big is subsampled hard
    assert frac["small"] >= 95
    assert frac["big"] < 500
    all_kept = TemperatureMix(src, alpha=1.0).plan(spark).count()
    assert all_kept == 1000


def test_ccnet_buckets(spark):
    """CCNetBuckets (round 8): equal-frequency thirds in ascending
    KN-perplexity order (NTILE convention: first buckets take the
    ceil share), short docs take a NULL bucket, and every head
    perplexity <= every middle <= every tail."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.lm import CCNetBuckets
    texts = ["the cat sat on the mat", "the cat sat on a hat",
             "the dog sat on the mat", "zz qq ww ee rr tt",
             "the cat ate the mat", "mat the on sat cat the",
             "one two three four five"]
    rows = [(i, t) for i, t in enumerate(texts)] + [(99, "solo")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = CCNetBuckets(DataFrameSource(df, index_column="doc_id")) \
        .plan(spark).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["perplexity"])
    # 7 scorable docs -> 3/2/2; the 1-token doc is unbucketed
    assert {k: len(v) for k, v in by_bucket.items()} == {
        None: 1, "head": 3, "middle": 2, "tail": 2}
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_ccnet_buckets_by_group(spark):
    """CCNetBuckets(by=...): equal-frequency thirds WITHIN each
    category; the head<=middle<=tail ordering holds per group and
    group sizes follow the NTILE ceil-first convention."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.lm import CCNetBuckets
    texts = ["the cat sat on the mat", "the cat sat on a hat",
             "the dog sat on the mat", "zz qq ww ee rr tt",
             "the cat ate the mat", "mat the on sat cat the",
             "one two three four five"]
    rows = ([(i, t, "en") for i, t in enumerate(texts)]
            + [(10 + i, t, "fr") for i, t in enumerate(texts[:4])])
    df = spark.createDataFrame(rows, "doc_id bigint, text string, "
                               "lang string")
    out = CCNetBuckets(DataFrameSource(df, index_column="doc_id"),
                       by="lang").plan(spark).collect()
    counts = {}
    ppl = {}
    for r in out:
        counts[(r["lang"], r["bucket"])] = counts.get(
            (r["lang"], r["bucket"]), 0) + 1
        ppl.setdefault((r["lang"], r["bucket"]), []).append(
            r["perplexity"])
    assert counts == {("en", "head"): 3, ("en", "middle"): 2,
                      ("en", "tail"): 2, ("fr", "head"): 2,
                      ("fr", "middle"): 1, ("fr", "tail"): 1}
    for lang in ("en", "fr"):
        assert max(ppl[(lang, "head")]) <= min(ppl[(lang, "middle")])
        assert max(ppl[(lang, "middle")]) <= min(ppl[(lang, "tail")])


def test_ngram_novelty(spark):
    """NgramNovelty: a verbatim duplicate's grams all have df >= 2 ->
    novelty 0 for both copies; a unique doc scores 1.0; short docs
    NULL; a doc sharing half its grams lands strictly between."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import NgramNovelty
    a = "one two three four five six seven eight"
    rows = [(1, a), (2, a),
            (3, "alpha beta gamma delta epsilon zeta"),
            (4, a + " nine ten eleven twelve"),
            (5, "tiny doc")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in NgramNovelty(
        DataFrameSource(df, index_column="doc_id"), n=5)
        .plan(spark).collect()}
    assert got[1]["novelty"] == 0.0 and got[2]["novelty"] == 0.0
    assert got[3]["novelty"] == 1.0 and got[3]["n_grams"] == 2
    assert 0.0 < got[4]["novelty"] < 1.0
    assert got[5]["novelty"] is None and got[5]["n_grams"] == 0


def test_readability_score_edges(spark):
    """Round 9: syllable heuristic minimums, sentence-run counting,
    empty text NULLs the scores."""
    from dask_geomodeling_spark.pipeline.text import ReadabilityScore
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran!! Done?"),
         (2, "strength"),          # no vowel groups beyond 'e' -> 2? no: 'e' one run
         (3, ""),
         (4, "aaa bbb")],
        "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in ReadabilityScore(
        DataFrameSource(df, index_column="doc_id"))
        .plan(spark).collect()}
    r1 = out[1]
    assert r1["n_sentences"] == 3        # '.', '!!', '?' runs
    assert r1["n_words"] == 7
    r2 = out[2]
    assert (r2["n_words"], r2["n_sentences"]) == (1, 1)
    assert r2["n_syllables"] == 1        # 'e' is the only vowel run
    assert out[3]["n_words"] == 0 and out[3]["flesch"] is None
    assert out[4]["n_syllables"] == 2    # 'aaa' run + bbb minimum 1
    # flesch formula spot check on row 1
    import math
    exp = 206.835 - 1.015 * (7 / 3) - 84.6 * (r1["n_syllables"] / 7)
    assert math.isclose(r1["flesch"], exp, rel_tol=1e-12)


def test_cluster_representative_policy(spark):
    """Round 9: max_by keep-best with smallest-id ties, ascending
    mode, n_members, singleton clusters survive."""
    import pytest

    from dask_geomodeling_spark.pipeline.dedup import (
        ClusterRepresentative)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    docs = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (3, 99.0), (4, 5.0)],
        "doc_id bigint, score double")
    cl = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)],
        "doc_id bigint, cluster_id bigint")
    src = DataFrameSource(docs, index_column="doc_id")
    asg = DataFrameSource(cl, index_column="doc_id")
    rep = {r["cluster_id"]: r for r in ClusterRepresentative(
        src, asg, "score").plan(spark).collect()}
    assert rep[1]["doc_id"] == 2 and rep[1]["n_members"] == 3  # tie -> min id
    assert rep[4]["doc_id"] == 4 and rep[4]["n_members"] == 1
    low = {r["cluster_id"]: r for r in ClusterRepresentative(
        src, asg, "score", ascending=True).plan(spark).collect()}
    assert low[1]["doc_id"] == 1 and low[4]["doc_id"] == 4
    with pytest.raises(ValueError, match="score_column"):
        ClusterRepresentative(src, asg, "nope").plan(spark)


def test_fuzzy_dedup_levenshtein(spark):
    """Round 9: FuzzyDedup keeps LSH candidates whose edit-distance
    similarity clears the threshold; templated texts with small edits
    match, different texts do not; empty pair counts as identical."""
    import pytest

    from dask_geomodeling_spark.pipeline.dedup import FuzzyDedup
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    base = "the quick brown fox jumps over the lazy dog " * 3
    df = spark.createDataFrame(
        [(1, base + "item 17"),
         (2, base + "item 42"),          # 2 substitutions from #1
         (3, "completely different words entirely unrelated " * 3),
         (4, ""), (5, "")],
        "doc_id bigint, text string")
    src = DataFrameSource(df, index_column="doc_id")
    out = {(r["id_a"], r["id_b"]): r for r in FuzzyDedup(
        src, threshold=0.9, num_perm=8, bands=8, shingle_size=2)
        .plan(spark).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert r["distance"] == 2 and r["similarity"] > 0.98
    assert not any(3 in k for k in out)
    if (4, 5) in out:                    # empty pair, if banded together
        assert out[(4, 5)]["similarity"] == 1.0
    with pytest.raises(ValueError, match="threshold"):
        FuzzyDedup(src, threshold=0.0)


def test_text_normalize_chain(spark):
    """Round 9: TextNormalize canonical form — accents fold, digits
    zero, punctuation strips, whitespace collapses; flags opt out;
    the original column is untouched."""
    import pytest

    from dask_geomodeling_spark.pipeline.text import TextNormalize
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, "  Héllo,  WöRLD!! 42 cafés  "),
         (2, None)],
        "doc_id bigint, text string")
    src = DataFrameSource(df, index_column="doc_id")
    out = {r["doc_id"]: r for r in TextNormalize(src)
           .plan(spark).collect()}
    assert out[1]["text_norm"] == "hello world 00 cafes"
    assert out[1]["text"].strip().startswith("Héllo")
    assert out[2]["text_norm"] is None
    keep = TextNormalize(src, digits_to_zero=False,
                         remove_punct=False).plan(spark).collect()
    got = {r["doc_id"]: r["text_norm"] for r in keep}
    assert got[1] == "hello, world!! 42 cafes"
    with pytest.raises(ValueError, match="collides"):
        TextNormalize(src, output_column="text")


def test_embedding_normalize_and_matryoshka(spark):
    """Round 9: unit norms, zero-vector passthrough, slice+renorm,
    short-vector rejection."""
    import math

    import pytest

    from dask_geomodeling_spark.pipeline.similarity import (
        EmbeddingNormalize, MatryoshkaSlice)
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, [3.0, 4.0, 0.0, 0.0]), (2, [0.0, 0.0, 0.0, 0.0]),
         (3, None)],
        "vec_id bigint, embedding array<float>")
    src = DataFrameSource(df, index_column="vec_id")
    out = {r["vec_id"]: r["embedding"] for r in EmbeddingNormalize(src)
           .plan(spark).collect()}
    assert abs(out[1][0] - 0.6) < 1e-6 and abs(out[1][1] - 0.8) < 1e-6
    assert out[2] == [0.0, 0.0, 0.0, 0.0]   # zero vector untouched
    assert out[3] is None
    sl = {r["vec_id"]: r["embedding"] for r in MatryoshkaSlice(
        src, dim=2).plan(spark).collect()}
    assert len(sl[1]) == 2
    assert abs(math.hypot(*sl[1]) - 1.0) < 1e-6   # renormalized
    raw = {r["vec_id"]: r["embedding"] for r in MatryoshkaSlice(
        src, dim=2, renormalize=False).plan(spark).collect()}
    assert raw[1] == [3.0, 4.0]
    with pytest.raises(Exception, match="MatryoshkaSlice"):
        MatryoshkaSlice(src, dim=9).plan(spark).collect()


def test_knn_classify_majority_and_ties(spark):
    """Round 9: KNNClassify majority vote with smallest-label ties;
    a query's own id never votes."""
    import pytest

    from dask_geomodeling_spark.pipeline.similarity import KNNClassify
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    # axis-aligned unit vectors: labels cluster by direction
    rows = [(1, [1.0, 0.0], 7), (2, [0.99, 0.14], 7),
            (3, [0.98, 0.2], 5),
            (4, [0.0, 1.0], 9), (5, [0.1, 0.99], 9),
            (6, [0.05, 0.995], 3)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int")
    src = DataFrameSource(df, index_column="vec_id")
    q = DataFrameSource(df.filter("vec_id = 1"), index_column="vec_id")
    got = KNNClassify(src, q, k=3).plan(spark).collect()[0]
    # neighbors of 1 at k=3: 2 (label 7), 3 (label 5), then vec 5
    # (cos 0.1 beats vec 4's 0.0 and vec 6's 0.05) with label 9 ->
    # one vote each, tie broken to the SMALLEST max-vote label
    assert got["query_id"] == 1 and got["votes"] == 1
    assert got["label"] == 5
    big = KNNClassify(src, q, k=5).plan(spark).collect()[0]
    assert big["votes"] == 2 and big["label"] == 9  # 9 twice beats ties
    with pytest.raises(ValueError, match="k must"):
        KNNClassify(src, q, k=0)


def test_per_group_limit(spark):
    """Round 9: cap rows per group best-first; ascending mode; rank
    column; validation."""
    import pytest

    from dask_geomodeling_spark.pipeline.sample import PerGroupLimit
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 30.0), (3, "a", 30.0), (4, "b", 1.0)],
        "doc_id bigint, src string, score double")
    blk = DataFrameSource(df, index_column="doc_id")
    top = {r["doc_id"]: r["group_rank"] for r in PerGroupLimit(
        blk, "src", 2, "score").plan(spark).collect()}
    assert top == {2: 1, 3: 2, 4: 1}      # tie 2<3, doc 1 dropped
    low = {r["doc_id"]: r["group_rank"] for r in PerGroupLimit(
        blk, "src", 1, "score", ascending=True).plan(spark).collect()}
    assert low == {1: 1, 4: 1}
    with pytest.raises(ValueError, match="n must"):
        PerGroupLimit(blk, "src", 0, "score")
    with pytest.raises(ValueError, match="no column"):
        PerGroupLimit(blk, "nope", 1, "score").plan(spark)
    with pytest.raises(ValueError, match="salt must"):
        PerGroupLimit(blk, "src", 1, "score", salt=0)


def test_per_group_limit_salted_two_phase(spark):
    """Round 10 (verdict #5): PerGroupLimit runs the StratifiedSample
    salted two-phase top-n — phase 1 partitions by (group, hash salt)
    so a hot group never funnels into one task, and the result —
    ranks included — is identical to the plain group window."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.sample import PerGroupLimit
    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 450, "hot").otherwise("cold").alias("src"),
        (F.pmod(F.col("id") * 37, F.lit(101)).cast("double"))
        .alias("score"))
    blk = DataFrameSource(df, index_column="doc_id")
    salted = PerGroupLimit(blk, "src", 5, "score", salt=8).plan(spark)
    plain = PerGroupLimit(blk, "src", 5, "score", salt=1).plan(spark)
    rows_s = sorted(map(tuple, salted.collect()))
    rows_p = sorted(map(tuple, plain.collect()))
    assert rows_s == rows_p and len(rows_s) == 10
    # plan pin: two Window operators, the first keyed by the salt too
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2
    assert "xxhash64" in plan
    # string-id groups still work (the salt hashes, never casts)
    df2 = spark.createDataFrame(
        [("a", "g", 1.0), ("b", "g", 2.0), ("c", "h", 3.0)],
        "doc_id string, src string, score double")
    got = {r["doc_id"]: r["group_rank"] for r in PerGroupLimit(
        DataFrameSource(df2, index_column="doc_id"), "src", 1, "score")
        .plan(spark).collect()}
    assert got == {"b": 1, "c": 1}


def test_bm25_score(spark):
    """Round 10: BM25 against a fixed query — hand-checked closed
    form on a 3-doc corpus, empty text scores 0, validation."""
    import math

    import pytest

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import BM25Score
    df = spark.createDataFrame(
        [(1, "spark spark join"), (2, "join table"), (3, "   ")],
        "doc_id bigint, text string")
    blk = BM25Score(DataFrameSource(df, index_column="doc_id"),
                    "spark", k1=1.2, b=0.75)
    got = {r["doc_id"]: (r["score"], r["matched"])
           for r in blk.plan(spark).collect()}
    # N=3, df=1, avgdl=(3+2+0)/3; idf=ln(1+(3-1+.5)/1.5)
    idf = math.log(1.0 + 2.5 / 1.5)
    dl, avgdl, tf = 3.0, 5.0 / 3.0, 2.0
    exp = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert got[1] == (round(exp, 6), 1)
    assert got[2] == (0.0, 0) and got[3] == (0.0, 0)
    # b=1.0 on a zero-length doc: denominator collapses to 0 — the
    # tf=0 guard returns BM25's defined 0, not NaN (round-10 review)
    b1 = {r["doc_id"]: r["score"] for r in BM25Score(
        DataFrameSource(df, index_column="doc_id"), "spark",
        b=1.0).plan(spark).collect()}
    assert b1[3] == 0.0 and b1[2] == 0.0 and b1[1] > 0.0
    with pytest.raises(ValueError, match="at least one term"):
        BM25Score(DataFrameSource(df, index_column="doc_id"), "  ")
    with pytest.raises(ValueError, match="alphanumeric"):
        BM25Score(DataFrameSource(df, index_column="doc_id"),
                  "x' --drop")
    with pytest.raises(ValueError, match="collide"):
        BM25Score(DataFrameSource(
            df.withColumn("score", df.doc_id),
            index_column="doc_id"), "spark")


def test_winnowing_fingerprint(spark):
    """Round 10: winnowing guarantee — two documents sharing a run of
    >= window + k - 1 tokens share at least one selected fingerprint;
    per-doc selection density ~1 per window; validation."""
    import pytest

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import (
        WinnowingFingerprint)
    shared = "alpha beta gamma delta epsilon zeta eta"   # 7 tokens
    df = spark.createDataFrame(
        [(1, "one two " + shared + " tail1 tail2"),
         (2, "x " + shared + " y z w"),
         (3, "totally different words entirely here now ok fine")],
        "doc_id bigint, text string")
    blk = WinnowingFingerprint(DataFrameSource(df, index_column="doc_id"),
                               k=4, window=4)
    rows = blk.plan(spark).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    # guarantee: shared run of 7 = window + k - 1 tokens
    assert fps[1] & fps[2], (fps[1], fps[2])
    assert not (fps[1] & fps[3])
    # positions are 1-based k-gram indices within each doc
    assert all(1 <= r["pos"] for r in rows)
    # short doc: fewer than k tokens -> whole-stream fingerprint
    short = WinnowingFingerprint(
        DataFrameSource(spark.createDataFrame(
            [(9, "ab cd")], "doc_id bigint, text string"),
            index_column="doc_id"), k=4, window=4)
    srows = short.plan(spark).collect()
    assert len(srows) == 1 and srows[0]["pos"] == 1
    with pytest.raises(ValueError, match="k must"):
        WinnowingFingerprint(DataFrameSource(df, index_column="doc_id"),
                             k=0)
    with pytest.raises(ValueError, match="collide"):
        WinnowingFingerprint(DataFrameSource(
            df.withColumn("fp", df.doc_id), index_column="doc_id"))


def test_incremental_dedup_against_saved_fingerprints(spark, tmp_path):
    """Round 11: FingerprintTableSink persists batch-1's signature
    table; MinHashLSH(against=url) LSH-joins batch 2 against it
    WITHOUT re-fingerprinting — planted batch-1 duplicates are found
    (jaccard 1.0), batch-2-internal duplicates are NOT (no self-join
    in against mode), and a num_perm mismatch fails fast."""
    url = str(tmp_path / "fps")
    batch1 = LiteralGeometrySource([
        {"doc_id": 1, "text": "the quick brown fox jumps over the dog"},
        {"doc_id": 2, "text": "a completely different first batch doc"},
        {"doc_id": 3, "text": "spark window functions shuffle data"},
    ])
    sink = dedup.FingerprintTableSink(
        batch1, url, num_perm=8, bands=4, shingle_size=2,
        hash_fn="poly")
    assert sink.write(spark) == url
    batch2 = LiteralGeometrySource([
        # planted: identical to batch-1 doc 1
        {"doc_id": 10, "text":
         "the quick brown fox jumps over the dog"},
        # batch-2-internal pair: identical to each other, NOT batch 1
        {"doc_id": 11, "text": "november zulu internal duplicate pair"},
        {"doc_id": 12, "text": "november zulu internal duplicate pair"},
    ])
    pairs = dedup.MinHashLSH(
        batch2, num_perm=8, bands=4, shingle_size=2, hash_fn="poly",
        against=url).plan(spark).collect()
    found = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert (1, 10) in found and found[(1, 10)] == 1.0
    assert all(a in (1, 2, 3) for a, _ in found), found
    assert all(b in (10, 11, 12) for _, b in found), found
    # append mode grows the table: batch 2's own signatures ingest,
    # and a batch-3 copy of doc 11 now collides with it
    dedup.FingerprintTableSink(
        batch2, url, num_perm=8, bands=4, shingle_size=2,
        hash_fn="poly").write(spark, mode="append")
    batch3 = LiteralGeometrySource([
        {"doc_id": 20, "text": "november zulu internal duplicate pair"},
    ])
    pairs3 = dedup.MinHashLSH(
        batch3, num_perm=8, bands=4, shingle_size=2, hash_fn="poly",
        against=url).plan(spark).collect()
    got3 = {(r.id_a, r.id_b) for r in pairs3}
    assert got3 == {(11, 20), (12, 20)}
    with pytest.raises(ValueError, match="num_perm"):
        dedup.MinHashLSH(batch3, num_perm=16, bands=4,
                         shingle_size=2, hash_fn="poly",
                         against=url).plan(spark).collect()
    # round-11 review: hash_fn / shingle_size mismatches leave the
    # COLUMN SET identical — the meta table must fail them fast on
    # both the append side and the against side
    with pytest.raises(ValueError, match="hash spaces"):
        dedup.FingerprintTableSink(
            batch2, url, num_perm=8, bands=4, shingle_size=2,
            hash_fn="xxhash64").write(spark, mode="append")
    with pytest.raises(ValueError, match="written with"):
        dedup.MinHashLSH(batch3, num_perm=8, bands=4,
                         shingle_size=3, hash_fn="poly",
                         against=url).plan(spark).collect()


def test_fingerprint_meta_second_pass_rules(spark, tmp_path):
    """Round-11 second-pass review: bands differences are legal
    (reader-side re-slicing), silently-no-op write modes are rejected,
    and appending to a meta-less legacy table refuses to certify it."""
    url = str(tmp_path / "fps2")
    b1 = LiteralGeometrySource(
        [{"doc_id": 1, "text": "alpha beta gamma delta"}])
    sink = dedup.FingerprintTableSink(
        b1, url, num_perm=8, bands=4, shingle_size=2, hash_fn="poly")
    sink.write(spark)
    # coarser-band probe and append: allowed (same hash space)
    dedup.FingerprintTableSink(
        b1, url, num_perm=8, bands=2, shingle_size=2,
        hash_fn="poly").write(spark, mode="append")
    out = dedup.MinHashLSH(
        LiteralGeometrySource(
            [{"doc_id": 9, "text": "alpha beta gamma delta"}]),
        num_perm=8, bands=2, shingle_size=2, hash_fn="poly",
        against=url).plan(spark).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(1, 9)}
    with pytest.raises(ValueError, match="overwrite.*append|mode"):
        sink.write(spark, mode="ignore")
    # legacy table without meta: append refuses to certify it
    legacy = str(tmp_path / "legacy")
    sink2 = dedup.FingerprintTableSink(
        b1, legacy, num_perm=8, bands=4, shingle_size=2,
        hash_fn="poly")
    sink2.plan(spark).write.parquet(legacy)  # data only, no meta
    with pytest.raises(ValueError, match="no meta"):
        sink2.write(spark, mode="append")


def _hll_model(values, p):
    """Pure-python replay of the HyperLogLog arithmetic."""
    import math
    M = 2147483647
    m = 1 << p

    def poly(s, base):
        h = 0
        for ch in s:
            h = (h * base + ord(ch)) % M
        return h

    regs = {}
    for v in values:
        s = str(v)
        h1, h2 = poly(s, 257), poly(s, 131)
        g1 = (h1 * 1597334677 + h2 * 2246822519 + 11) % M
        g2 = (h1 * 2246822519 + h2 * 1103515245 + 17) % M
        for q in (40503, 914231):
            g1 = (g1 * g1 + q) % M
            g2 = (g2 * g2 + q) % M
        reg = g1 % m
        rho = 32 if g2 == 0 else 32 - g2.bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    S = sum(1 << (32 - mx) for mx in regs.values()) \
        + (m - len(regs)) * (1 << 32)
    V = m - len(regs)
    if m == 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    e = alpha * m * m * float(2 ** 32) / S
    if e <= 2.5 * m and V > 0:
        e = m * math.log(m / float(V))
    elif e > 2.0 ** 31 / 30.0:
        e = -(2.0 ** 31) * math.log(1.0 - e / 2.0 ** 31)
    return round(e, 4), V, S


def test_hyperloglog_matches_model_and_accuracy(spark):
    """Round 11: HyperLogLog is bit-identical to the pure-python
    model (registers, scaled sum, estimate) and lands within ~4 sigma
    of the truth on 2000 distinct values at p=10."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import HyperLogLog
    from pyspark.sql import functions as F
    df = spark.range(5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2000).alias("v"))
    src = DataFrameSource(df, index_column="doc_id")
    row = HyperLogLog(src, "v", precision=10).plan(spark).collect()[0]
    est, vz, s = _hll_model([i % 2000 for i in range(5000)], 10)
    assert row["s_scaled"] == s
    assert row["v_zero"] == vz
    assert row["n_distinct_est"] == est
    assert abs(row["n_distinct_est"] - 2000) < 2000 * 0.14


def test_hyperloglog_mergeable_and_duplicate_blind(spark):
    """The sketch of A union B equals the sketch of A+B concatenated
    (register max is the merge), and duplicates never change it."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import HyperLogLog
    from pyspark.sql import functions as F

    def sk(df):
        src = DataFrameSource(df.withColumn(
            "doc_id", F.col("v")), index_column="doc_id")
        return HyperLogLog(src, "v", precision=8) \
            .plan(spark).collect()[0]

    a = spark.range(500).select(F.col("id").alias("v"))
    b = spark.range(300, 900).select(F.col("id").alias("v"))
    both = a.unionAll(b)                       # overlapping multiset
    dup3 = both.unionAll(both).unionAll(both)  # duplicates
    u = sk(both)
    assert sk(dup3) == u
    # true distinct of the union is 900
    assert abs(u["n_distinct_est"] - 900) < 900 * 0.25
    with __import__("pytest").raises(ValueError, match="precision"):
        from dask_geomodeling_spark.pipeline.text import (
            HyperLogLog as H)
        H(DataFrameSource(a.withColumn("doc_id", F.col("v")),
                          index_column="doc_id"), "v", precision=3)


def test_hyperloglog_by_group_matches_per_group_model(spark):
    """by=<col> gives one sketch per group, each bit-identical to the
    pure-python model over that group's values."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import HyperLogLog
    from pyspark.sql import functions as F
    df = spark.range(3000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 700).alias("v"))
    src = DataFrameSource(df, index_column="doc_id")
    got = {r["g"]: (r["n_distinct_est"], r["v_zero"], r["s_scaled"])
           for r in HyperLogLog(src, "v", precision=8, by="g")
           .plan(spark).collect()}
    for g in ("0", "1", "2"):
        vals = [i % 700 for i in range(3000) if i % 3 == int(g)]
        est, vz, s = _hll_model(vals, 8)
        assert got[g] == (est, vz, s), (g, got[g], (est, vz, s))


# shared pure-python sketch replays (also used by the hypothesis
# properties) live in tests/sketch_models.py
from sketch_models import bloom_model as _bloom_model  # noqa: E402
from sketch_models import kll_model as _kll_model  # noqa: E402
from sketch_models import (  # noqa: E402
    kll_model_merge as _kll_model_merge)


def test_kll_quantile_matches_model_bit_exact(spark):
    """Round 12: KLLQuantile is bit-identical to the pure-python model
    — level, kept count, s_check (the kept-SET fingerprint) and every
    quantile estimate."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import KLLQuantile
    from pyspark.sql import functions as F
    n, k = 5000, 128
    df = spark.range(n).select(
        F.col("id"), ((F.col("id") * 37) % 977).alias("v"))
    src = DataFrameSource(df, index_column="id")
    row = KLLQuantile(src, "v", k=k, id_column="id") \
        .plan(spark).collect()[0]
    pairs = [((i * 37) % 977, i) for i in range(n)]
    n_rows, l0, kept, _ = _kll_model(pairs, k)
    assert row["n_rows"] == n_rows
    assert row["level"] == l0
    assert row["n_kept"] == len(kept)
    assert row["w_total"] == len(kept) * (1 << l0)
    assert row["s_check"] == sum(g for _, g in kept) % 2147483647
    import math
    for q in (0.25, 0.5, 0.75, 0.9, 0.99):
        want = kept[max(1, math.ceil(q * len(kept))) - 1][0]
        name = "p" + ("%g" % (q * 100)).replace(".", "_")
        assert row[name] == want, (q, row[name], want)


def test_kll_quantile_mergeable():
    """merge(sketch(A), sketch(B)) == sketch(A + B) EXACTLY — the
    union's threshold dominates the parts', and every union-kept item
    was kept in its part, so re-filtering the union of kept sets is
    the whole merge (the HLL register-max analogue)."""
    A = [((i * 13) % 501, i) for i in range(3000)]
    B = [((i * 29) % 733, 10_000 + i) for i in range(4000)]
    k = 64
    merged = _kll_model_merge(_kll_model(A, k), _kll_model(B, k), k)
    direct = _kll_model(A + B, k)
    assert merged == direct
    # order/partition independence: shuffled input, same sketch
    import random
    rng = random.Random(7)
    AB = A + B
    rng.shuffle(AB)
    assert _kll_model(AB, k) == direct


def test_kll_quantile_error_vs_exact_percentile(spark):
    """Empirical rank-error pin on fixed hashes: every estimated
    quantile of 20000 uniform values lands within 4*n/sqrt(k) ranks
    of the exact percentile (the threshold-sampling bound)."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import KLLQuantile
    from pyspark.sql import functions as F
    import math
    n, k = 20000, 1024
    df = spark.range(n).select(F.col("id"),
                               (F.col("id") % 1000).alias("v"))
    src = DataFrameSource(df, index_column="id")
    row = KLLQuantile(src, "v", k=k, id_column="id") \
        .plan(spark).collect()[0]
    bound = 4 * n / math.sqrt(k)
    for q in (0.25, 0.5, 0.75, 0.9, 0.99):
        name = "p" + ("%g" % (q * 100)).replace(".", "_")
        est = row[name]
        # exact rank of the estimate among v = id % 1000 (20 each)
        exact_rank = est * 20 + 10
        assert abs(exact_rank - q * n) <= bound, (q, est)


def test_kll_quantile_distributed_threshold_matches(spark):
    """r16 pin (round-15 verdict #1): the high-group-cardinality
    fallback — the request key driver_threshold=0 skips the driver
    collect and literal when-chain so the distributed atleast/thr
    derivation runs — returns EXACTLY the default (driver-derived)
    path's rows and schema, including NULL-group-key dropping and
    per-group thresholds."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import KLLQuantile
    from pyspark.sql import functions as F
    n, k = 4000, 64
    df = spark.range(n).select(
        F.col("id"),
        ((F.col("id") * 53) % 881).alias("v"),
        F.when(F.col("id") % 7 == 0, F.lit(None))
        .otherwise((F.col("id") % 5).cast("string")).alias("grp"))
    src = DataFrameSource(df, index_column="id")
    blk = KLLQuantile(src, "v", k=k, id_column="id", by="grp")

    def rows(plan):
        got = plan.collect()
        return sorted([tuple(r) for r in got])

    default_df = blk.plan(spark)
    forced_df = blk.plan(spark, driver_threshold=0)
    default, forced = rows(default_df), rows(forced_df)
    assert forced == default
    assert forced_df.schema == default_df.schema
    assert len(default) == 5  # NULL group keys dropped by both paths


def test_bloom_filter_matches_model_and_merges(spark):
    """Round 12: the BloomFilter word table is bit-identical to the
    pure-python model, and union = per-word bit_or (the register-max
    analogue): bloom(A) | bloom(B) == bloom(A + B)."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import BloomFilter
    bits, k = 1024, 3
    A = list(range(0, 300))
    B = list(range(200, 500))

    def sketch(vals):
        df = spark.createDataFrame([(v,) for v in vals], "v bigint")
        blk = BloomFilter(DataFrameSource(
            df.select(F.col("v").alias("id"), "v"),
            index_column="id"), "v", bits=bits, hashes=k)
        return {r["word_idx"]: r["word"]
                for r in blk.plan(spark).collect()}

    got = sketch(A)
    # word values land in signed BIGINT; compare against the model
    # two's-complement folded
    want = {w: v - (1 << 64) if v >= (1 << 63) else v
            for w, v in _bloom_model(A, bits, k).items()}
    assert got == want
    merged = {}
    for part in (sketch(A), sketch(B)):
        for w, v in part.items():
            merged[w] = merged.get(w, 0) | v
    assert merged == sketch(A + B)


def test_bloom_probe_no_false_negatives(spark):
    """Members are ALWAYS flagged (no false negatives); non-members
    flag at a small rate; NULL probes flag NULL."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import BloomProbe
    members = spark.createDataFrame(
        [(i,) for i in range(500)], "v bigint")
    fsrc = DataFrameSource(
        members.select(F.col("v").alias("id"), "v"),
        index_column="id")
    probes = spark.createDataFrame(
        [(i, i if i < 500 else (None if i == 999 else i + 10_000))
         for i in range(1000)], "id bigint, v bigint")
    src = DataFrameSource(probes, index_column="id")
    rows = {r["id"]: r["maybe_member"]
            for r in BloomProbe(src, "v", fsrc, "v", bits=16384,
                                hashes=4).plan(spark).collect()}
    assert all(rows[i] is True for i in range(500))
    assert rows[999] is None
    fp = sum(1 for i in range(500, 999) if rows[i])
    assert fp <= 25, fp   # ~1e-3 expected at 16384/4/500


def test_fingerprint_empty_meta_tombstone_fails_fast(spark, tmp_path):
    """Round-12 review fix: an EMPTY meta table is the deliberate
    tombstone a param-changing overwrite writes before rewriting the
    data — a crash in that window must fail BOTH appends and
    against= probes, not read as a guard-free legacy table."""
    import pytest

    from dask_geomodeling_spark.geometry.sources import (
        LiteralGeometrySource)
    from dask_geomodeling_spark.pipeline.dedup import (
        FingerprintTableSink, MinHashLSH)
    url = str(tmp_path / "fp_tomb")
    corpus = LiteralGeometrySource(
        [{"doc_id": 1, "text": "alpha beta gamma delta"}])
    sink = FingerprintTableSink(corpus, url, num_perm=8, bands=4,
                                shingle_size=2, hash_fn="poly")
    sink.write(spark)
    # simulate the crash window: tombstone written, data rewrite lost
    spark.createDataFrame(
        [], "num_perm int, bands int, shingle_size int, "
            "hash_fn string").write.mode("overwrite") \
        .format("parquet").save(url + "_meta")
    batch = LiteralGeometrySource(
        [{"doc_id": 9, "text": "alpha beta gamma delta"}])
    probe = MinHashLSH(batch, num_perm=8, bands=4, shingle_size=2,
                       hash_fn="poly", against=url)
    with pytest.raises(ValueError, match="EMPTY meta"):
        probe.plan(spark).collect()
    with pytest.raises(ValueError, match="EMPTY meta"):
        sink.write(spark, mode="append")
    # a fresh overwrite repairs the table end-to-end
    sink.write(spark, mode="overwrite")
    assert FingerprintTableSink.read_meta(spark, url) == \
        (8, 4, 2, "poly")
    assert probe.plan(spark).count() >= 1


def test_ngram_shingles_empty_doc_consistent_across_n(spark):
    """Round-12 randomized-hunt fix: an EMPTY document shingles to
    the singleton [''] at EVERY n (split('', ' ') has size 1, so the
    short-doc branch never fired at n=1 and empty docs got [] there
    but [''] at n>=2) — two empty docs are jaccard-1.0 duplicates
    regardless of n, matching the oracle convention."""
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.dedup import (NgramJaccard,
                                                       ngram_regex_expr)
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "cat dog")],
        "doc_id bigint, text string")
    rows = df.select("doc_id",
                     *[ngram_regex_expr("text", n).alias(f"g{n}")
                       for n in (1, 2, 3)]).collect()
    by_id = {r["doc_id"]: r for r in rows}
    for n in (1, 2, 3):
        assert by_id[1][f"g{n}"] == [""], (n, by_id[1][f"g{n}"])
        assert by_id[2][f"g{n}"] == [""], n
    assert by_id[3]["g1"] == ["cat", "dog"]
    pairs = {(min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"])):
             r["jaccard"]
             for r in NgramJaccard(
                 DataFrameSource(df, index_column="doc_id"),
                 n=1, threshold=0.5).plan(spark).collect()}
    assert pairs == {(1, 2): 1.0}


def test_bloom_probe_type_mismatch_raises(spark):
    """Round-13 ADVICE fix: hashing goes through CAST(col AS STRING),
    so a bigint filter probed with a double column ('1' vs '1.0')
    would yield systematic false negatives — plan() must refuse the
    mismatch instead."""
    import pytest
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import BloomProbe
    members = spark.createDataFrame([(i,) for i in range(8)],
                                    "v bigint")
    fsrc = DataFrameSource(
        members.select(F.col("v").alias("id"), "v"), index_column="id")
    probes = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "id bigint, v double")
    src = DataFrameSource(probes, index_column="id")
    with pytest.raises(TypeError, match="false\\s+negatives"):
        BloomProbe(src, "v", fsrc, "v", bits=4096, hashes=2) \
            .plan(spark)
    # same types still work
    ok = DataFrameSource(
        probes.select("id", F.col("v").cast("bigint").alias("v")),
        index_column="id")
    rows = BloomProbe(ok, "v", fsrc, "v", bits=4096, hashes=2) \
        .plan(spark).collect()
    assert all(r["maybe_member"] for r in rows)


def test_bm25_empty_corpus_raises(spark):
    """Round-13 ADVICE fix: an empty corpus has no avgdl — plan()
    raises instead of scoring everything NULL."""
    import pytest

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import BM25Score
    df = spark.createDataFrame([], "doc_id bigint, text string")
    blk = BM25Score(DataFrameSource(df, index_column="doc_id"),
                    "cat", column="text")
    with pytest.raises(ValueError, match="empty"):
        blk.plan(spark)


def test_sniff_image_meta_adversarial_headers(spark):
    """Round-13 ADVICE fix: a legacy BITMAPCOREHEADER (12-byte info
    header, u16 dims) matches the 'BM' signature but must report NULL
    dims, not garbage; JPEG 0xFF fill bytes before a marker are legal
    padding the segment walk must step over."""
    import struct

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.multimodal import (
        SniffImageMeta, _encode_jpeg_header)

    # OS/2 BITMAPCOREHEADER: 'BM', file header, size=12, u16 w=5 h=3
    core = (b"BM" + struct.pack("<IHHI", 26, 0, 0, 26)
            + struct.pack("<IHHHH", 12, 5, 3, 1, 24))
    # modern header still parses
    modern = (b"BM" + struct.pack("<IHHI", 54, 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, 7, 4, 1, 24,
                            0, 0, 2835, 2835, 0, 0))
    # JPEG with fill bytes: inject 0xFF padding before the SOF marker
    plain = _encode_jpeg_header(6, 2)
    sof_at = plain.index(b"\xff\xc0")
    filled = plain[:sof_at] + b"\xff\xff\xff" + plain[sof_at:]
    df = spark.createDataFrame(
        [(1, bytearray(core)), (2, bytearray(modern)),
         (3, bytearray(filled))],
        "doc_id bigint, payload binary")
    rows = {r["doc_id"]: r for r in SniffImageMeta(
        DataFrameSource(df, index_column="doc_id"))
        .plan(spark).collect()}
    assert rows[1]["img_format"] == "bmp"
    assert rows[1]["img_width"] is None
    assert rows[1]["img_height"] is None
    assert (rows[2]["img_format"], rows[2]["img_width"],
            rows[2]["img_height"]) == ("bmp", 7, 4)
    assert (rows[3]["img_format"], rows[3]["img_width"],
            rows[3]["img_height"]) == ("jpeg", 6, 2)


def test_count_min_sketch_model_parity_and_merge(spark):
    """Round 13: the CM sketch state matches the pure-python model
    bit-for-bit, merge == per-(row,pos) counter sum (the additive
    analogue of HLL's register max / Bloom's bit_or), and the point
    estimate never underestimates."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import CountMinSketch
    from sketch_models import cms_estimate, cms_model
    vals = [["u%d" % (i % 17), "host%d" % (i % 5)][i % 2]
            for i in range(400)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id bigint, v string")
    src = DataFrameSource(df, index_column="id")
    got = {(r["row_idx"], r["pos_idx"]): r["counter"]
           for r in CountMinSketch(src, "v", depth=3, width=128)
           .plan(spark).collect()}
    model = cms_model(vals, 128, 3)
    assert got == model
    # merge == sketch of the union, exactly
    A = DataFrameSource(df.filter("id < 150"), index_column="id")
    B = DataFrameSource(df.filter("id >= 150"), index_column="id")
    ca = {(r["row_idx"], r["pos_idx"]): r["counter"]
          for r in CountMinSketch(A, "v", 3, 128).plan(spark)
          .collect()}
    cb = {(r["row_idx"], r["pos_idx"]): r["counter"]
          for r in CountMinSketch(B, "v", 3, 128).plan(spark)
          .collect()}
    merged = dict(ca)
    for k, c in cb.items():
        merged[k] = merged.get(k, 0) + c
    assert merged == got
    # estimates dominate true counts (CMS one-sided error)
    from collections import Counter
    true = Counter(vals)
    for v, n in true.items():
        assert cms_estimate(model, v, 128, 3) >= n


def test_heavy_hitters_deterministic_topk(spark):
    """Round 13: top-k by (estimate desc, value asc) — deterministic
    ties; by= ranks per group; the sketch may come from a DIFFERENT
    (historical) source than the ranked candidates."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import HeavyHitters
    rows = []
    rid = 0
    for v, n in (("a", 50), ("b", 30), ("c", 30), ("d", 10)):
        for _ in range(n):
            rows.append((rid, v)); rid += 1
    df = spark.createDataFrame(rows, "id bigint, v string")
    src = DataFrameSource(df, index_column="id")
    hh = HeavyHitters(src, "v", k=3, depth=4, width=512) \
        .plan(spark).collect()
    got = [(r["v"], r["rank"]) for r in
           sorted(hh, key=lambda r: r["rank"])]
    # b and c tie at 30 (width 512 >> 4 values: no collisions) —
    # value ascending breaks it
    assert got == [("a", 1), ("b", 2), ("c", 3)]
    assert {r["v"]: r["est_count"] for r in hh} == \
        {"a": 50, "b": 30, "c": 30}
    # sketch from history, candidates from today
    today = DataFrameSource(
        spark.createDataFrame([(1, "b"), (2, "d")], "id bigint, "
                              "v string"), index_column="id")
    hh2 = HeavyHitters(today, "v", k=2, depth=4, width=512,
                       sketch_source=src, sketch_column="v") \
        .plan(spark).collect()
    assert [(r["v"], r["est_count"]) for r in
            sorted(hh2, key=lambda r: r["rank"])] == \
        [("b", 30), ("d", 10)]
    # by= mode: per-group rank windows
    dfg = spark.createDataFrame(
        [(i, "g%d" % (i % 2), "v%d" % (i % 3)) for i in range(60)],
        "id bigint, grp string, v string")
    hg = HeavyHitters(DataFrameSource(dfg, index_column="id"),
                      "v", k=1, depth=3, width=128, by="grp") \
        .plan(spark).collect()
    assert sorted((r["grp"], r["rank"]) for r in hg) == \
        [("g0", 1), ("g1", 1)]


def test_heavy_hitters_unseen_candidate_and_type_guard(spark):
    """Round-13 review fixes: a candidate the sketch never counted
    estimates 0 (left join) in BOTH the join and literal paths; the
    CAST-AS-STRING type contract guards HeavyHitters too; integral
    widths (int vs bigint) are exempt; forcing the join path gives
    literal-identical results."""
    import pytest
    from pyspark.sql import functions as F

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import HeavyHitters
    hist = DataFrameSource(
        spark.createDataFrame([(i, "h%d" % (i % 3)) for i in range(30)],
                              "id bigint, v string"), index_column="id")
    today = DataFrameSource(
        spark.createDataFrame([(1, "h0"), (2, "brand-new")],
                              "id bigint, v string"), index_column="id")
    # literal path
    lit_rows = HeavyHitters(today, "v", k=5, depth=3, width=256,
                            sketch_source=hist, sketch_column="v") \
        .plan(spark).collect()
    got = {r["v"]: r["est_count"] for r in lit_rows}
    assert got["h0"] == 10 and got["brand-new"] == 0
    # join path (forced): identical output
    class Forced(HeavyHitters):
        _LITERAL_CELLS = 1
    join_rows = Forced(today, "v", k=5, depth=3, width=256,
                       sketch_source=hist, sketch_column="v") \
        .plan(spark).collect()
    assert sorted((r["v"], r["est_count"], r["rank"])
                  for r in join_rows) == \
        sorted((r["v"], r["est_count"], r["rank"]) for r in lit_rows)
    # per-group join path: unseen candidate still estimates 0
    histg = DataFrameSource(
        spark.createDataFrame(
            [(i, "g", "h%d" % (i % 3)) for i in range(30)],
            "id bigint, grp string, v string"), index_column="id")
    todayg = DataFrameSource(
        spark.createDataFrame([(1, "g", "brand-new")],
                              "id bigint, grp string, v string"),
        index_column="id")
    hg = HeavyHitters(todayg, "v", k=2, depth=3, width=256, by="grp",
                      sketch_source=histg, sketch_column="v") \
        .plan(spark).collect()
    assert [(r["v"], r["est_count"]) for r in hg] == [("brand-new", 0)]
    # type guard: double probe vs string sketch raises
    bad = DataFrameSource(
        spark.createDataFrame([(1, 2.5)], "id bigint, v double"),
        index_column="id")
    with pytest.raises(TypeError, match="false\\s+negatives"):
        HeavyHitters(bad, "v", k=2, depth=2, width=64,
                     sketch_source=hist, sketch_column="v").plan(spark)
    # integral widths exempt (round-13 review: int vs bigint is the
    # same CAST-AS-STRING render)
    ints = DataFrameSource(
        spark.createDataFrame([(1, 7)], "id bigint, v int"),
        index_column="id")
    longs = DataFrameSource(
        spark.createDataFrame([(i, 7) for i in range(4)],
                              "id bigint, v bigint"), index_column="id")
    ok = HeavyHitters(ints, "v", k=1, depth=2, width=64,
                      sketch_source=longs, sketch_column="v") \
        .plan(spark).collect()
    assert [(r["v"], r["est_count"]) for r in ok] == [(7, 4)]


def test_heavy_hitters_null_group_counts(spark):
    """Round-13 review pass 2: groupBy keeps a NULL group, so the
    by= join must be NULL-SAFE — NULL-group candidates get their real
    counts, not a confident 0."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import HeavyHitters
    df = spark.createDataFrame(
        [(1, None, "a"), (2, None, "a"), (3, None, "a"),
         (4, "g", "b")],
        "id bigint, grp string, v string")
    rows = HeavyHitters(DataFrameSource(df, index_column="id"),
                        "v", k=2, depth=3, width=128, by="grp") \
        .plan(spark).collect()
    got = {(r["grp"], r["v"]): r["est_count"] for r in rows}
    assert got[(None, "a")] == 3
    assert got[("g", "b")] == 1


def test_heavy_hitters_by_column_named_sr(spark):
    """Round-13 review pass 3: a by= column literally named '_sr'
    must not collide with the join's internal rename targets."""
    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import HeavyHitters
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), "v%d" % (i % 3)) for i in range(30)],
        "id bigint, _sr string, v string")
    rows = HeavyHitters(DataFrameSource(df, index_column="id"),
                        "v", k=1, depth=2, width=64, by="_sr") \
        .plan(spark).collect()
    assert sorted((r["_sr"], r["rank"]) for r in rows) == \
        [("g0", 1), ("g1", 1)]


def test_weighted_sample_model_and_determinism(spark):
    """Round 13: WeightedSample replays a pure-python A-ES model
    bit-for-bit (hash-derived u, key = ln(u)/w, ties by id), is
    invariant to partitioning, never samples non-positive weights,
    and empirically skews toward heavy weights."""
    import math

    from dask_geomodeling_spark.geometry.sources import DataFrameSource
    from dask_geomodeling_spark.pipeline.text import CountMinSketch  # noqa: F401 (session warm)
    from dask_geomodeling_spark.pipeline.sample import WeightedSample
    M = (1 << 31) - 1
    rows = [(i, float(1 + (i % 7)) if i % 11 else None)
            for i in range(1, 400)]
    # never sampled — including NaN, which Spark sorts ABOVE every
    # number, so `w > 0` alone passes it and ln(u)/NaN = NaN then
    # claims the TOP of the descending key sort (r14 / r13-ADVICE
    # regression: NaN-weight rows silently owned the sample)
    rows += [(1000, 0.0), (1001, -2.0), (1002, float("nan"))]
    df = spark.createDataFrame(rows, "id bigint, w double")
    got = [(r["id"], r["sample_rank"]) for r in
           WeightedSample(DataFrameSource(df, index_column="id"),
                          "w", n=25).plan(spark)
           .orderBy("sample_rank").collect()]
    keyed = sorted(
        ((math.log(((i * 2654435761) % M + 1) / float(M + 1)) / w, -i)
         for i, w in rows
         if w is not None and not math.isnan(w) and w > 0),
        reverse=True)[:25]
    want = [(-ni, rk + 1) for rk, (_k, ni) in enumerate(keyed)]
    assert got == want
    assert all(i not in (1000, 1001, 1002) for i, _ in got)
    # partitioning invariance
    got2 = [(r["id"], r["sample_rank"]) for r in
            WeightedSample(
                DataFrameSource(df.repartition(13), index_column="id"),
                "w", n=25).plan(spark).orderBy("sample_rank").collect()]
    assert got2 == got
    # weight skew: mean weight of the sample beats the corpus mean
    ws = {i: w for i, w in rows if w}
    samp_mean = sum(ws[i] for i, _ in got) / len(got)
    corp_mean = (sum(w for w in ws.values() if w > 0)
                 / sum(1 for w in ws.values() if w > 0))
    assert samp_mean > corp_mean
