"""Text-analysis operators over a documents table (SURVEY.md §2,
'LLM-data-pipeline extensions').

All operators are GeometryBlock-compatible feature blocks whose
expressions are built from JVM-side ``pyspark.sql.functions`` only — no
Python UDFs in the hot path, so a 100 TB documents scan stays inside
whole-stage codegen.
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from dask_geomodeling_spark.geometry.base import BaseSingle

__all__ = ["TokenCount", "BPETokenCount", "BPETokenize", "BPETrain",
           "QualityScore", "LanguageID", "Fingerprint", "TFIDF",
           "ChunkText", "CorpusStats", "BM25Score", "NgramNovelty",
           "ReadabilityScore", "TextNormalize", "HyperLogLog",
           "KLLQuantile", "BloomFilter", "BloomProbe",
           "CountMinSketch", "HeavyHitters"]

#: KLLQuantile's count-table gate: the per-(group, level) count table
#: has <= groups*32 rows, so this bounds the driver-side threshold
#: derivation (and its literal when-chain) to 8192 groups; a
#: high-cardinality ``by`` takes the distributed derivation instead
KLL_DRIVER_ROWS = 8192 * 32

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "que"],
    "es": ["el", "la", "que", "de", "los", "es", "una", "por"],
    "nl": ["de", "het", "een", "en", "van", "is", "dat", "niet"],
}

_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


class TokenCount(BaseSingle):
    """Token counting: whitespace tokens plus a BPE-ish regex token count
    (letters runs / digit runs / punctuation marks).

    Adds ``ws_tokens`` and ``bpe_tokens`` columns."""

    def __init__(self, source, column="text"):
        super().__init__(source, column)

    @property
    def columns(self):
        return set(self.source.columns) | {"ws_tokens", "bpe_tokens"}

    def _build(self, ctx):
        df = self.source._build(ctx)
        c = F.col(self.args[1])
        trimmed = F.trim(c)
        ws = F.when(F.length(trimmed) == 0, 0).otherwise(
            F.size(F.split(trimmed, r"\s+")))
        bpe = F.size(F.regexp_extract_all(c, F.lit(_BPE_ISH), 0))
        return (df.withColumn("ws_tokens", ws.cast("bigint"))
                  .withColumn("bpe_tokens", bpe.cast("bigint")))


#: unit separator — wraps every BPE symbol as ␟sym␟ so a merge rule can
#: only match COMPLETE adjacent symbols
_SEP = "\x1f"


class BPETokenCount(BaseSingle):
    """REAL byte-pair-encoding token counting (the public GPT-2 BPE
    algorithm) — makes token budgets real for PackSequences/ChunkText
    where the whitespace/regex counts of :class:`TokenCount` only
    approximate them.

    The merge list is applied IN ORDER, each rule merging all its
    left-to-right non-overlapping occurrences to fixpoint.  For a
    well-formed merge table (every rule's operands are single
    characters or outputs of EARLIER rules — true of any trained BPE
    list, by construction of the training loop) this is exactly
    GPT-2's lowest-rank-pair-first loop: a rule can never become newly
    applicable after a later rule fires, because that would require an
    operand symbol the later rule just created.

    Execution is PURE JVM column math — no Python in the scan: each
    word encodes its symbols as a ``␟sym␟`` chain, and every merge
    rule compiles to one ``replace(s, '␟a␟␟b␟', '␟ab␟')`` call (string
    replace scans left-to-right and resumes after each replacement —
    the BPE merge semantics); the merge table is a literal expression
    chain, broadcast by construction.  One replace pass per rule IS
    that rule's fixpoint: a replacement can only create adjacencies
    involving the NEW symbol, never a fresh ``(a, b)`` pair behind the
    scan point.

    Adds ``column_name`` (default ``bpe_count``) = total BPE tokens
    over whitespace-split lowercased words.
    """

    def __init__(self, source, merges, text_column="text",
                 column_name="bpe_count", lowercase=True):
        merges = [(str(a), str(b)) for a, b in merges]
        for a, b in merges:
            if _SEP in a or _SEP in b:
                raise ValueError("merge symbols must not contain the "
                                 "unit separator")
        super().__init__(source, merges, text_column, column_name,
                         bool(lowercase))

    @property
    def columns(self):
        return set(self.source.columns) | {self.args[3]}

    @staticmethod
    def merge_chain_sql(word_sql, merges, sep=_SEP):
        """SQL text: the wrapped-symbol encoding of ``word_sql``
        followed by one ``replace`` per merge rule in order.  Exposed
        so oracles can replay the identical chain."""
        s = "regexp_replace({w}, '(.)', '{sep}$1{sep}')".format(
            w=word_sql, sep=sep)
        for a, b in merges:
            s = ("replace({s}, '{sep}{a}{sep}{sep}{b}{sep}', "
                 "'{sep}{ab}{sep}')").format(s=s, sep=sep, a=a, b=b,
                                             ab=a + b)
        return s

    def _build(self, ctx):
        _, merges, text_column, name, lowercase = self.args
        df = self.source._build(ctx)
        chain = self.merge_chain_sql("w", merges)
        count = ("aggregate(filter(split(trim({col}), '\\\\s+'), "
                 "w -> w != ''), cast(0 as bigint), (acc, w) -> "
                 "acc + size(split({chain}, '{sep}{sep}')))"
                 ).format(col="lower({})".format(text_column)
                          if lowercase else text_column,
                          chain=chain, sep=_SEP)
        return df.withColumn(name, F.expr(count))


class BPETrain(BaseSingle):
    """LEARN a BPE merge table from the corpus — the training half of
    the :class:`BPETokenCount`/:class:`BPETokenize` family (the public
    byte-pair-encoding algorithm: Sennrich et al. 2016, the GPT-2
    tokenizer's training loop).

    The classic scale trick makes this cluster-shaped: training runs
    over the WORD-FREQUENCY table, not the corpus — one corpus scan
    builds ``(word, count)``, and every merge iteration is a single
    aggregation over that vocabulary-bounded frame:

      1. each word's symbol sequence is a ``␟sym␟`` chain — exactly
         :class:`BPETokenCount`'s wrapped encoding.  Every symbol
         carries its OWN delimiters, so adjacent pair occurrences
         never share a character and one string replace merges all
         non-overlapping occurrences left-to-right (a single shared
         separator, e.g. ``' a a a a '``, would under-merge: the
         first match consumes the next pair's leading separator and
         ``aaaa`` learns only one ``aa``);
      2. per iteration: explode adjacent symbol pairs, sum word
         counts per pair (map-side partials), and ``TakeOrdered(1)``
         the winner to the driver — count DESC, pair string ASC, so
         ties are deterministic and the whole loop is engine-exact
         integer arithmetic;
      3. the merge applies as ONE
         ``replace(s, '␟a␟␟b␟', '␟ab␟')`` (the greedy BPE merge
         order), and the updated vocabulary re-persists.

    BATCHED rounds (round-8 verdict #8): each aggregation pass takes
    the top-``batch`` pairs (count DESC, pair ASC — the sequential
    order) and learns the maximal SAFE prefix in one driver
    round-trip.  Safety argument: merging ``(a, b)`` only creates
    pairs of the forms ``(x, ab)`` / ``(ab, y)`` / ``(ab, ab)``, and
    every occurrence of those was a pre-merge occurrence of ``(x, a)``
    / ``(b, y)`` / ``(b, a)`` — pairs SHARING a symbol with the merge.
    So a later pick is sequentially correct iff (1) it shares no
    symbol (nor the merged product) with an earlier pick — its count
    is then unchanged — and (2) its count strictly exceeds the first
    conflicting candidate's count, which upper-bounds every pair the
    earlier merges could have created.  The learned merge table is
    BIT-IDENTICAL to the one-rule-at-a-time loop (property-tested);
    a 32k-rule training drops from 32k driver round-trips to
    ~32k/effective-batch.

    Only top-``batch`` rows ever reach the driver per pass; the
    iteration plan grows by one tiny ``replace`` per rule, and every
    ``checkpoint_every`` rules (default 64) the vocabulary takes a
    lazy ``localCheckpoint`` so a real 32k-rule training run never
    accumulates a 32k-deep expression chain in the optimizer.

    Output: one row per learned rule — ``rank`` (1-based merge order),
    ``lhs``/``rhs`` (the merged pair), ``merged``, ``pair_count``.
    Feed ``list(zip(lhs, rhs))`` straight into :class:`BPETokenize`.
    Stops early when no adjacent pair remains.
    """

    def __init__(self, source, column="text", n_merges=8,
                 lowercase=True, checkpoint_every=64, batch=16):
        if int(n_merges) < 1:
            raise ValueError("n_merges must be >= 1")
        if int(checkpoint_every) < 1:
            raise ValueError("checkpoint_every must be >= 1")
        if int(batch) < 1:
            raise ValueError("batch must be >= 1")
        super().__init__(source, column, int(n_merges), bool(lowercase),
                         int(checkpoint_every), int(batch))

    @property
    def columns(self):
        return {"rank", "lhs", "rhs", "merged", "pair_count"}

    _PAIRS = ("CASE WHEN size(_sy) < 2 THEN array() "
              "ELSE transform(sequence(1, size(_sy) - 1), "
              "i -> concat(element_at(_sy, i), ' ', "
              "element_at(_sy, i + 1))) END")

    def _build(self, ctx):
        _, column, n_merges, lowercase, ckpt_every, batch = self.args
        df = self.source._build(ctx)
        text = F.lower(F.col(column)) if lowercase else F.col(column)
        words = (df.select(F.explode(F.split(F.trim(text), r"\s+"))
                           .alias("_w"))
                 .where(F.col("_w") != "")
                 .groupBy("_w").agg(F.count(F.lit(1)).alias("_cnt")))
        vocab = words.select(
            "_cnt",
            F.expr("regexp_replace(_w, '(.)', '{s}$1{s}')"
                   .format(s=_SEP)).alias("_s")).persist()
        # symbol list back out of the ␟sym␟ chain (pairs keep a
        # space-joined key: symbols never contain spaces)
        syms = ("split(btrim(_s, '{s}'), '{s}{s}')".format(s=_SEP))
        rules = []
        try:
            rank = 1
            while rank <= n_merges:
                top_n = max(2, int(batch))
                top = (vocab
                       .withColumn("_sy", F.expr(syms))
                       .select("_cnt",
                               F.explode(F.expr(self._PAIRS))
                               .alias("_pr"))
                       .groupBy("_pr")
                       .agg(F.sum("_cnt").alias("_c"))
                       .orderBy(F.desc("_c"), "_pr")
                       .take(top_n))
                if not top:
                    break
                # safe batch: maximal non-conflicting prefix in the
                # exact sequential order, trimmed to counts STRICTLY
                # above the first conflicting candidate's count (see
                # class docstring) — the argmax itself is always safe
                used = set()
                picks = []
                stop_c = int(top[-1]["_c"])
                for row in top:
                    lhs, rhs = row["_pr"].split(" ", 1)
                    if {lhs, rhs} & used:
                        stop_c = int(row["_c"])
                        break
                    picks.append((lhs, rhs, int(row["_c"])))
                    used |= {lhs, rhs, lhs + rhs}
                safe = [picks[0]] + [p for p in picks[1:]
                                     if p[2] > stop_c]
                safe = safe[:n_merges - rank + 1]
                for lhs, rhs, c in safe:
                    rules.append((rank, lhs, rhs, lhs + rhs, c))
                    nxt = vocab.select(
                        "_cnt",
                        F.replace(F.col("_s"),
                                  F.lit(_SEP + lhs + _SEP + _SEP + rhs
                                        + _SEP),
                                  F.lit(_SEP + lhs + rhs + _SEP))
                        .alias("_s"))
                    if rank % ckpt_every == 0:
                        # cut the replace-chain lineage so long
                        # trainings keep the optimizer's view bounded
                        nxt = nxt.localCheckpoint(eager=False)
                    nxt = nxt.persist()
                    vocab.unpersist()
                    vocab = nxt
                    rank += 1
        finally:
            vocab.unpersist()
        return ctx.spark.createDataFrame(
            rules, schema="rank int, lhs string, rhs string, "
            "merged string, pair_count bigint")


class CorpusStats(BaseSingle):
    """Per-group corpus accounting — the bookkeeping every training
    run needs before mixing sources: document counts, token/char
    budgets, exact length quantiles, and vocabulary size.

    Output: one row per ``group_by`` value with ``n_docs``,
    ``total_tokens``, ``total_chars``, ``mean_tokens``,
    ``p50_tokens``, ``p90_tokens`` (exact sort-based percentiles,
    linear interpolation — the cross-engine-stable definition) and
    ``vocab_size`` (distinct whitespace tokens).

    Scale: two aggregations — the moment stats partial-aggregate
    map-side on the group key; the vocabulary counts distinct
    (group, token) pairs via a pre-aggregation on the pair (uniform
    keys — no hot-group distinct state) and joins back on the
    group-cardinality-sized result.  Integer sums are
    order-independent, so results are bit-stable under any partitioning.
    """

    def __init__(self, source, group_by="source", text_column="text"):
        super().__init__(source, group_by, text_column)

    @property
    def columns(self):
        return {self.args[1], "n_docs", "total_tokens", "total_chars",
                "mean_tokens", "p50_tokens", "p90_tokens", "vocab_size"}

    def _build(self, ctx):
        _, group, column = self.args
        df = self.source._build(ctx)
        toks = F.when(F.length(F.trim(F.col(column))) == 0, 0) \
            .otherwise(F.size(F.split(F.trim(F.col(column)), r"\s+"))) \
            .cast("bigint")
        base = df.select(F.col(group), toks.alias("_t"),
                         F.length(column).cast("bigint").alias("_c"))
        stats = base.groupBy(group).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_t").alias("total_tokens"),
            F.sum("_c").alias("total_chars"),
            (F.sum("_t") / F.count(F.lit(1))).alias("mean_tokens"),
            F.percentile("_t", F.lit(0.5)).alias("p50_tokens"),
            F.percentile("_t", F.lit(0.9)).alias("p90_tokens"))
        pairs = (df.select(F.col(group), F.explode(F.split(
            F.trim(F.lower(F.col(column))), r"\s+")).alias("_tok"))
            .where(F.col("_tok") != "")
            .groupBy(group, "_tok").agg(F.lit(1)))
        vocab = pairs.groupBy(group).agg(
            F.count(F.lit(1)).alias("vocab_size"))
        return stats.join(vocab, group, "left") \
            .withColumn("vocab_size",
                        F.coalesce("vocab_size", F.lit(0)))


class BPETokenize(BaseSingle):
    """Full BPE tokenization to TOKEN-ID ARRAYS — the step beyond
    :class:`BPETokenCount` that makes ``PackSequences``/``ChunkText``
    consume real model tokens, not counts of them.

    Same merge-loop contract as :class:`BPETokenCount` (one JVM
    ``replace`` per rule over the ␟-wrapped symbol chain — no Python
    in the scan); the resulting symbols map to ids by their position
    in ``vocab`` (a list of symbol strings; id = index).  Symbols
    outside the vocab get ``unk_id`` (default −1).  Adds
    ``token_ids`` (``array<bigint>``, document order) and
    ``n_tokens``.

    Scale note: the vocab ships as a LITERAL array and each lookup is
    an ``array_position`` — O(|V|) per symbol, fine for the ≤64k
    vocabularies BPE models actually use (the literal is part of the
    broadcast plan, never shuffled).  A corpus whose vocab lives in a
    table should join on the symbol instead; the merge chain itself
    is vocabulary-independent.
    """

    def __init__(self, source, merges, vocab, text_column="text",
                 unk_id=-1, lowercase=True):
        merges = [(str(a), str(b)) for a, b in merges]
        vocab = [str(v) for v in vocab]
        for sym in ([a for a, _ in merges] + [b for _, b in merges]
                    + vocab):
            if _SEP in sym:
                raise ValueError("symbols must not contain the unit "
                                 "separator")
        super().__init__(source, merges, vocab, text_column,
                         int(unk_id), bool(lowercase))

    @property
    def columns(self):
        return set(self.source.columns) | {"token_ids", "n_tokens"}

    @staticmethod
    def tokenize_sql(words_sql, merges, vocab, unk_id, sep=_SEP):
        """SQL text: flattened id array for a word-array expression —
        the chain of :meth:`BPETokenCount.merge_chain_sql` per word,
        symbols unwrapped, ids via array_position.  Exposed so oracles
        replay the identical program (DuckDB's ``list_position``
        returns NULL for a miss where Spark's ``array_position``
        returns 0 — the caller's dialect handles that one difference).
        """
        chain = BPETokenCount.merge_chain_sql("wd", merges)
        vocab_sql = "array({})".format(
            ", ".join("'{}'".format(v) for v in vocab))
        return (
            "flatten(transform(filter({w}, wd -> wd != ''), wd -> "
            "transform(split({chain}, '{sep}{sep}'), s -> "
            "CASE WHEN array_position({vocab}, replace(s, '{sep}', ''))"
            " > 0 THEN array_position({vocab}, "
            "replace(s, '{sep}', '')) - 1 ELSE {unk} END)))").format(
            w=words_sql, chain=chain, sep=sep, vocab=vocab_sql,
            unk=int(unk_id))

    def _build(self, ctx):
        _, merges, vocab, text_column, unk_id, lowercase = self.args
        df = self.source._build(ctx)
        col = ("lower({})".format(text_column) if lowercase
               else text_column)
        words = "split(trim({}), '\\\\s+')".format(col)
        ids = self.tokenize_sql(words, merges, vocab, unk_id)
        df = df.withColumn("token_ids",
                           F.expr(ids).cast("array<bigint>"))
        return df.withColumn("n_tokens",
                             F.size("token_ids").cast("bigint"))


class QualityScore(BaseSingle):
    """Heuristic document quality: length, punctuation ratio, stopword
    ratio, mean word length → [0, 1] score (Gopher/C4-style filters).

    Adds ``punct_ratio``, ``stopword_ratio``, ``mean_word_len`` and
    ``quality`` columns."""

    def __init__(self, source, column="text"):
        super().__init__(source, column)

    @property
    def columns(self):
        return set(self.source.columns) | {
            "punct_ratio", "stopword_ratio", "mean_word_len", "quality"}

    def _build(self, ctx):
        df = self.source._build(ctx)
        c = F.col(self.args[1])
        words = F.split(F.trim(F.lower(c)), r"\s+")
        # materialize each regex/split ONCE — quality references every
        # ratio twice, and un-materialized the scan would re-run the
        # regexes per reference (projection CSE does not cross
        # when-branches)
        df = df.withColumns({
            "_n": F.length(c),
            "_letters": F.length(F.regexp_replace(c, r"[^A-Za-z]", "")),
            "_punct": F.length(F.regexp_replace(c, r"[^.,;:!?'\"()]", "")),
            "_n_words": F.when(F.length(F.trim(c)) == 0, 0)
            .otherwise(F.size(words)),
            "_stop": F.size(F.filter(
                words, lambda w: w.isin(_LANG_MARKERS["en"]))),
        })
        df = df.withColumns({
            "punct_ratio": F.when(F.col("_n") > 0,
                                  F.col("_punct") / F.col("_n"))
            .otherwise(0.0),
            "stopword_ratio": F.when(F.col("_n_words") > 0,
                                     F.col("_stop") / F.col("_n_words"))
            .otherwise(0.0),
            "mean_word_len": F.when(F.col("_n_words") > 0,
                                    F.col("_letters") / F.col("_n_words"))
            .otherwise(0.0),
        })
        quality = (
            F.when((F.col("_n") >= 50) & (F.col("_n") <= 100000), 0.25)
            .otherwise(0.0)
            + F.when((F.col("punct_ratio") > 0.0)
                     & (F.col("punct_ratio") < 0.2), 0.25).otherwise(0.0)
            + F.when(F.col("stopword_ratio") > 0.01, 0.25).otherwise(0.0)
            + F.when((F.col("mean_word_len") >= 3.0)
                     & (F.col("mean_word_len") <= 12.0), 0.25)
            .otherwise(0.0))
        return (df.withColumn("quality", quality)
                .drop("_n", "_letters", "_punct", "_n_words", "_stop"))


class LanguageID(BaseSingle):
    """Language identification via stopword-marker voting (n-gram
    heuristic): the language whose marker words hit most wins; ties and
    zero hits fall back to 'und'.  Adds ``lang_pred``."""

    def __init__(self, source, column="text"):
        super().__init__(source, column)

    @property
    def columns(self):
        return set(self.source.columns) | {"lang_pred"}

    def _build(self, ctx):
        df = self.source._build(ctx)
        words = F.split(F.trim(F.lower(F.col(self.args[1]))), r"\s+")
        scores = []
        for lang, markers in _LANG_MARKERS.items():
            hits = F.size(F.filter(words, lambda w: w.isin(markers)))
            scores.append(F.struct(hits.alias("hits"),
                                   F.lit(lang).alias("lang")))
        best = F.greatest(*scores) if len(scores) > 1 else scores[0]
        pred = F.when(best["hits"] > 0, best["lang"]).otherwise("und")
        return df.withColumn("lang_pred", pred)


class TFIDF(BaseSingle):
    """Top-``k`` keywords per document by TF-IDF.

    Plan shape (two keyed aggregations + one single-row broadcast):
      1. explode words → count per (doc, token)   [term frequency]
      2. count docs per token over that table     [document frequency]
      3. total doc count N = 1-row aggregate, broadcast via cross join
      4. score = round(tf * ln((N+1)/(df+1)), 6); row_number per doc
         ordered by (score desc, token asc), keep rank <= k.
    All shuffles are keyed on doc or token — uniform; the N broadcast
    is a single row.  Rounding BEFORE ranking makes the order (and the
    emitted score) stable across engines' libm (round-then-rank).

    Output: ``<id>``, ``rank``, ``token``, ``tf``, ``df``, ``score``.
    """

    def __init__(self, source, column="text", k=5, id_column=None):
        if id_column is None:
            id_column = source.index_column
        super().__init__(source, column, int(k), id_column)

    @property
    def columns(self):
        return {self.args[3], "rank", "token", "tf", "df", "score"}

    def _build(self, ctx):
        from pyspark.sql import Window
        _, column, k, idc = self.args
        df = self.source._build(ctx)
        words = F.split(F.trim(F.lower(F.col(column))), r"\s+")
        toks = (df.select(F.col(idc), F.explode(words).alias("token"))
                .filter(F.col("token") != "")
                .groupBy(idc, "token")
                .agg(F.count(F.lit(1)).alias("tf")))
        # the (doc, token) table feeds both the df-aggregation and the
        # scoring join — persist it instead of re-running the corpus
        # explode (the 100 TB analogue: materialize the term table)
        toks = toks.persist()
        dfreq = (toks.groupBy("token")
                 .agg(F.count(F.lit(1)).alias("df")))
        total = df.agg(F.count(F.lit(1)).alias("_n"))
        scored = (toks.join(dfreq, "token")
                  .crossJoin(F.broadcast(total))
                  .withColumn("score", F.round(
                      F.col("tf") * F.log((F.col("_n") + 1.0)
                                          / (F.col("df") + 1.0)), 6)))
        w = (Window.partitionBy(idc)
             .orderBy(F.col("score").desc(), F.col("token").asc()))
        return (scored
                .withColumn("rank", F.row_number().over(w).cast("bigint"))
                .filter(F.col("rank") <= k)
                .select(idc, "rank", "token", "tf", "df", "score"))


class ChunkText(BaseSingle):
    """Context-window chunking: split each document into overlapping
    token chunks of ``chunk`` words with ``overlap`` words of overlap
    (stride = chunk - overlap).

    Pure array math per row — build the chunk structs with
    ``transform`` over a ``sequence`` of start offsets, then
    ``posexplode``.  Map-side only: NO shuffle; output size is
    input_tokens / stride rows.  The tail chunk may be shorter.

    Output: ``<id>``, ``chunk_id``, ``chunk_text``, ``chunk_tokens``.
    """

    def __init__(self, source, column="text", chunk=64, overlap=16,
                 id_column=None):
        chunk, overlap = int(chunk), int(overlap)
        if not 0 <= overlap < chunk:
            raise ValueError("need 0 <= overlap < chunk")
        if id_column is None:
            id_column = source.index_column
        super().__init__(source, column, chunk, overlap, id_column)

    @property
    def columns(self):
        return {self.args[4], "chunk_id", "chunk_text", "chunk_tokens"}

    def _build(self, ctx):
        _, column, chunk, overlap, idc = self.args
        step = chunk - overlap
        df = self.source._build(ctx)
        df = df.withColumn("_w", F.split(
            F.trim(F.lower(F.col(column))), r"\s+"))
        chunks = F.expr(
            "transform(sequence(1, greatest(size(_w), 1), {step}), "
            "s -> struct(concat_ws(' ', slice(_w, s, {chunk})) AS txt, "
            "least({chunk}, size(_w) - s + 1) AS ntok))"
            .format(step=step, chunk=chunk))
        return (df.select(F.col(idc),
                          F.posexplode(chunks).alias("chunk_id", "_c"))
                .select(idc,
                        F.col("chunk_id").cast("bigint"),
                        F.col("_c.txt").alias("chunk_text"),
                        F.col("_c.ntok").cast("bigint")
                        .alias("chunk_tokens")))


class Fingerprint(BaseSingle):
    """Deterministic document fingerprint: a rolling polynomial hash over
    the normalized text, computed JVM-side with ``aggregate`` over the
    character codes — identical across runs and engines (pure integer
    arithmetic).  Two independent 31-bit Mersenne rolling hashes combine
    into one 62-bit fingerprint (each step stays < 2^40, safe under ANSI
    overflow checking).  Adds ``fingerprint``."""

    MOD = (1 << 31) - 1

    def __init__(self, source, column="text"):
        super().__init__(source, column)

    @property
    def columns(self):
        return set(self.source.columns) | {"fingerprint"}

    def _build(self, ctx):
        df = self.source._build(ctx)
        normalized = F.regexp_replace(F.lower(F.col(self.args[1])),
                                      r"\s+", " ")

        def rolling(base):
            return F.expr(
                "aggregate(transform(split({col}, ''), ch -> ascii(ch)), "
                "cast(0 as bigint), "
                "(acc, code) -> pmod(acc * {base} + code, {mod}))"
                .format(col="_norm", base=base, mod=self.MOD))

        fingerprint = (rolling(257) * F.lit(self.MOD).cast("bigint")
                       + rolling(131))
        return (df.withColumn("_norm", normalized)
                  .withColumn("fingerprint", fingerprint)
                  .drop("_norm"))


class NgramNovelty(BaseSingle):
    """Per-document n-gram novelty — the fraction of a document's
    DISTINCT n-grams that appear in no other part of the corpus
    (df = 1).  Low novelty flags boilerplate/templated/duplicated
    prose; high novelty is the memorization-risk signal the public
    dedup literature inspects before training.

    Spark shape: tokens hash once (31-bit rolling char hash), grams
    fold with the base-8191 arithmetic MinHashLSH/RepeatedSpans
    already use (engine-reproducible, no gram strings shuffled);
    the per-doc DISTINCT gram stream is persisted (it feeds the
    corpus frequency table AND the join-back), one groupBy on the
    near-uniform gram key, one join, one per-doc aggregation.
    Documents shorter than ``n`` tokens score NULL novelty.

    Output: ``<id_column>``, ``n_grams`` (distinct), ``novel``
    (df = 1 count), ``novelty`` (ratio, rounded to 6).
    """

    def __init__(self, source, n=5, text_column="text",
                 id_column="doc_id"):
        if int(n) < 1:
            raise ValueError("n must be >= 1")
        super().__init__(source, int(n), text_column, id_column)

    @property
    def columns(self):
        return {self.args[3], "n_grams", "novel", "novelty"}

    def _build(self, ctx):
        from pyspark import StorageLevel

        from dask_geomodeling_spark.pipeline.dedup import (MERSENNE,
                                                           poly_hash_expr)
        _, n, text_column, id_column = self.args
        df = self.source._build(ctx)
        th = "transform(_w, t -> {h})".format(h=poly_hash_expr("t"))
        grams = (
            "CASE WHEN size(_th) >= {n} THEN "
            "array_distinct(transform(sequence(1, size(_th) - {n} + 1), "
            "i -> aggregate(slice(_th, i, {n}), cast(0 as bigint), "
            "(acc, h) -> pmod(acc * 8191 + h, {m})))) "
            "ELSE array() END".format(n=n, m=MERSENNE))
        exploded = (df.select(
            F.col(id_column),
            F.split(F.trim(F.lower(F.col(text_column))), r"\s+")
            .alias("_w"))
            .withColumn("_w", F.expr(
                "filter(_w, t -> length(t) > 0)"))
            .withColumn("_th", F.expr(th))
            .select(id_column, F.explode(F.expr(grams)).alias("_g"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        # grams are distinct WITHIN a doc, so count(*) IS the doc
        # frequency — no countDistinct shuffle needed
        freq = (exploded.groupBy("_g")
                .agg(F.count(F.lit(1)).alias("_df")))
        agg = (exploded.join(freq, "_g")
               .groupBy(id_column)
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                    F.sum(F.when(F.col("_df") == 1, 1).otherwise(0))
                    .cast("bigint").alias("novel")))
        out = df.select(id_column).join(agg, id_column, "left")
        return out.select(
            id_column,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("novel", F.lit(0)).alias("novel"),
            F.when(F.col("n_grams").isNotNull(),
                   F.round(F.col("novel")
                           / F.col("n_grams").cast("double"), 6))
            .alias("novelty"))


class ReadabilityScore(BaseSingle):
    """Flesch reading ease + Flesch–Kincaid grade level (round 9) —
    the classic readability pair over words-per-sentence and
    syllables-per-word, with the standard vowel-group syllable
    heuristic (every maximal ``[aeiouy]+`` run is one syllable, min 1
    per word) and ``[.!?]+`` runs as sentence boundaries (min 1).

    Adds ``n_words``, ``n_sentences``, ``n_syllables``, ``flesch``
    (206.835 − 1.015·W/S − 84.6·Y/W) and ``fk_grade``
    (0.39·W/S + 11.8·Y/W − 15.59); empty documents NULL the scores.

    Pure per-row column math (split + regexp_extract_all + one
    aggregate fold) — map-side, JVM regex engine, no Python, no
    shuffle; composes with QualityScore/GopherQuality as another
    model-free quality signal for corpus filtering."""

    def __init__(self, source, column="text"):
        super().__init__(source, column)

    @property
    def columns(self):
        return set(self.source.columns) | {
            "n_words", "n_sentences", "n_syllables", "flesch",
            "fk_grade"}

    def _build(self, ctx):
        df = self.source._build(ctx)
        c = F.col(self.args[1])
        words = F.split(F.trim(F.lower(c)), r"\s+")
        df = df.withColumns({
            # NULL text counts as empty: size(split(NULL)) is -1 under
            # Spark's legacy sizeOfNull (round-9 review fix)
            "n_words": F.when(
                c.isNull() | (F.length(F.trim(c)) == 0), F.lit(0))
            .otherwise(F.size(words)).cast("bigint"),
            "n_sentences": F.greatest(
                F.lit(1),
                F.size(F.expr("regexp_extract_all({c}, '[.!?]+', 0)"
                              .format(c=self.args[1])))).cast("bigint"),
        })
        df = df.withColumn(
            "n_syllables",
            F.when(F.col("n_words") == 0, F.lit(0)).otherwise(F.expr(
                "aggregate(split(trim(lower({c})), '\\\\s+'), "
                "CAST(0 AS BIGINT), (acc, w) -> acc + GREATEST(1, "
                "size(regexp_extract_all(w, '[aeiouy]+', 0))))"
                .format(c=self.args[1]))).cast("bigint"))
        wps = F.col("n_words") / F.col("n_sentences")
        spw = F.col("n_syllables") / F.col("n_words")
        return df.withColumns({
            "flesch": F.when(
                F.col("n_words") > 0,
                F.lit(206.835) - 1.015 * wps - 84.6 * spw),
            "fk_grade": F.when(
                F.col("n_words") > 0,
                0.39 * wps + 11.8 * spw - 15.59),
        })


#: 1:1 accent fold (lowercase Latin-1/Extended-A subset) — a literal
#: translate map shared VERBATIM with the oracles, so both engines
#: fold identically (multi-char folds like ss for eszett are out of
#: scope of a char map and left unchanged)
ACCENT_FROM = ("àáâãäåāăąçćčèéêëēĕėęěìíîïĩīĭįñńňòóôõöøōŏő"
               "ùúûüũūŭůűýÿžźżšśđł")
ACCENT_TO = ("aaaaaaaaaccceeeeeeeeeiiiiiiiinnnooooooooo"
             "uuuuuuuuuyyzzzssdl")


class TextNormalize(BaseSingle):
    """CCNet-style text normalization for dedup hashing (round 9) —
    the canonical form under which near-identical boilerplate hashes
    identically: lowercase, 1:1 accent fold (:data:`ACCENT_FROM` →
    :data:`ACCENT_TO`), digits to ``0``, punctuation stripped,
    whitespace collapsed, trimmed.  Each step is a flag; the default
    chain is the CCNet paper's dedup normalization.

    Adds ``output_column`` (default ``text_norm``), leaving the
    original text untouched — normalize for the HASH, keep the real
    text for training.  Pure string expressions, map-side, JVM regex,
    no shuffle."""

    def __init__(self, source, column="text",
                 output_column="text_norm", lowercase=True,
                 strip_accents=True, digits_to_zero=True,
                 remove_punct=True, collapse_whitespace=True):
        if output_column in source.columns:
            raise ValueError(
                "output_column {!r} collides with an input column"
                .format(output_column))
        super().__init__(source, column, output_column,
                         bool(lowercase), bool(strip_accents),
                         bool(digits_to_zero), bool(remove_punct),
                         bool(collapse_whitespace))

    @property
    def columns(self):
        return set(self.source.columns) | {self.args[2]}

    def _build(self, ctx):
        (_, col, out, lower, accents, digits, punct, ws) = self.args
        df = self.source._build(ctx)
        c = F.col(col)
        if lower:
            c = F.lower(c)
        if accents:
            c = F.translate(c, ACCENT_FROM, ACCENT_TO)
        if digits:
            c = F.regexp_replace(c, r"[0-9]", "0")
        if punct:
            pat = r"[^a-z0-9\s]" if lower else r"[^A-Za-z0-9\s]"
            c = F.regexp_replace(c, pat, "")
        if ws:
            c = F.trim(F.regexp_replace(c, r"\s+", " "))
        return df.withColumn(out, c)


class BM25Score(BaseSingle):
    """Okapi BM25 relevance of every document against a FIXED query
    (round 10) — the ranked-retrieval primitive of corpus curation
    (topic-targeted selection, eval-set mining, "find docs about X"
    sweeps), Lucene-parameterized: ``idf = ln(1 + (N − df + ½)/(df + ½))``,
    ``score = Σ_t idf_t · tf_t·(k1+1)/(tf_t + k1·(1 − b + b·dl/avgdl))``.

    Plan shape (the 100 TB contract): the query is a BOUNDED literal
    term list, so per-document term frequencies are map-side HOF
    filters — no explode, no (doc, token) shuffle; the corpus
    statistics (N, avgdl, per-term df) reduce to ONE single-row
    aggregation collected driver-side (a handful of scalars, the
    model-fit convention) and substituted as literals over the scan.
    Two passes over the documents, zero keyed shuffles, zero executor
    storage retained after plan() (round-12 persist-lifecycle fix).

    Output: source columns plus ``score`` (rounded to 6) and
    ``matched`` (query terms present).  Scoring every document against
    MANY queries is a different shape — explode the query SET and use
    ``TFIDF``'s (doc, token) table instead.

    NOTE: collecting the stats row makes ``plan()`` EAGER — building
    or explaining a BM25 plan runs one Spark job over the corpus (the
    deliberate round-12 trade for zero retained executor storage).
    An empty corpus raises ValueError at plan() time (round-13 ADVICE
    fix) rather than scoring everything NULL off a NULL avgdl."""

    def __init__(self, source, query, k1=1.2, b=0.75, column="text",
                 id_column=None):
        terms = sorted(set(str(query).lower().split()))
        if not terms:
            raise ValueError("query must contain at least one term")
        if not all(t.isalnum() for t in terms):
            raise ValueError("query terms must be alphanumeric")
        if float(k1) < 0 or not (0.0 <= float(b) <= 1.0):
            raise ValueError("need k1 >= 0 and 0 <= b <= 1")
        clash = {"score", "matched"} & set(source.columns)
        if clash:
            raise ValueError(
                "column(s) {} collide with BM25Score's output; rename "
                "upstream".format(sorted(clash)))
        if id_column is None:
            id_column = source.index_column
        super().__init__(source, " ".join(terms), float(k1), float(b),
                         column, id_column)

    @property
    def columns(self):
        return set(self.source.columns) | {"score", "matched"}

    def _build(self, ctx):
        _, query, k1, b, column, idc = self.args
        terms = query.split()
        df = self.source._build(ctx)
        words = ("CASE WHEN length(trim({c})) = 0 THEN array() "
                 "ELSE split(trim(lower({c})), '\\\\s+') END"
                 ).format(c=column)
        base = df.withColumn("_w", F.expr(words)) \
                 .withColumn("_dl", F.expr("size(_w)"))
        for i, t in enumerate(terms):
            base = base.withColumn(
                "_tf{}".format(i),
                F.expr("size(filter(_w, x -> x = '{}'))".format(t)))
        # base feeds the stats aggregation AND the scoring projection.
        # The corpus-level stats are a SINGLE row of scalars (N, avgdl,
        # one df per query term) — collect them driver-side, the same
        # "fits collect k×dim scalars only" convention as the KMeans/PQ
        # fits, and substitute them as literals.  Round-12 persist-
        # lifecycle fix: the r11 version persisted the data-sized tf
        # table to make the scan run once, but that cache could never
        # be freed by the operator and accumulated per plan() call for
        # the session lifetime.  Two pruned scans + zero executor
        # storage is the 100 TB-shaped trade (the docstring's "two
        # passes" contract).
        base = base.drop("_w")
        aggs = [F.count(F.lit(1)).alias("_n"),
                F.avg("_dl").alias("_avgdl")]
        for i in range(len(terms)):
            aggs.append(F.sum((F.col("_tf{}".format(i)) > 0)
                              .cast("bigint")).alias("_df{}".format(i)))
        srow = base.agg(*aggs).collect()[0]
        if not srow["_n"]:
            raise ValueError(
                "BM25Score: the corpus is empty — avgdl is undefined "
                "and every score would be NULL; check the source "
                "filters upstream")
        stats_cols = [F.lit(srow["_n"]).cast("bigint").alias("_n"),
                      F.lit(srow["_avgdl"]).cast("double")
                      .alias("_avgdl")]
        stats_cols += [F.lit(srow["_df{}".format(i)]).cast("bigint")
                       .alias("_df{}".format(i))
                       for i in range(len(terms))]
        scored = base.select("*", *stats_cols)
        parts = []
        for i in range(len(terms)):
            tf = "_tf{}".format(i)
            idf = ("ln(1.0D + (_n - _df{i} + 0.5D) / (_df{i} + 0.5D))"
                   .format(i=i))
            # tf = 0 contributes exactly 0 — guarded, because at
            # b = 1.0 a zero-length document collapses the denominator
            # to 0 and 0.0/0.0 is NaN, not the 0 BM25 defines
            # (round-10 review fix)
            parts.append(
                "IF({tf} = 0, 0.0D, {idf} * ({tf} * ({k1} + 1.0D)) / "
                "({tf} + {k1} * (1.0D - {b} + {b} * _dl / _avgdl)))"
                .format(idf=idf, tf=tf, k1=repr(k1), b=repr(b)))
        matched = " + ".join(
            "IF(_tf{} > 0, 1, 0)".format(i) for i in range(len(terms)))
        out_cols = [c for c in df.columns] + [
            F.round(F.expr(" + ".join(parts)), 6).alias("score"),
            F.expr(matched).cast("bigint").alias("matched")]
        return scored.select(*out_cols)


def _hll_alpha(m):
    """The standard HLL bias constants (Flajolet et al. 2007)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


class HyperLogLog(BaseSingle):
    """ENGINE-EXACT HyperLogLog distinct-count sketch of a column
    (round 11) — the cardinality estimate a 100 TB curation pipeline
    sizes its dedup/shuffle plans with ("how many distinct URLs /
    hosts / shingles"), as one map-side pass + one tiny aggregation.

    Spark's built-in ``approx_count_distinct`` (HLL++) and DuckDB's
    sketch disagree engine-to-engine; this block's hash and register
    math are pure ANSI integer arithmetic, so every engine computes
    the IDENTICAL estimate and the oracle can replay it bit-for-bit.
    Polynomial string hashes have NO avalanche (base 257 ≡ 1 mod 256
    makes their low byte a digit sum, and their magnitude tracks
    string length — both fatal for register/leading-zero statistics),
    so each row's two poly hashes pass through two independent
    Mersenne ``(a·h₁ + b·h₂ + c) mod M`` mixes, which are
    equidistributed over [0, M) (every product < 2⁶², ANSI-safe):

    - register = ``mix₁ mod m`` (m = 2^precision); ``rho`` = leading
      zeros of the 31-bit word ``mix₂`` + 1;
    - registers aggregate with MAX (duplicates collapse for free —
      mergeability is the whole point of the sketch: union = per-
      register max, pinned by a pytest);
    - the indicator sum Σ 2^(−M_j) is kept EXACT as the scaled BIGINT
      ``S = Σ 2^(32 − M_j)`` (≤ m·2³², no float-order sensitivity);
      the estimate does ONE double division ``α·m²·2³² / S``, with
      the standard small-range (linear counting) and large-range
      (31-bit word saturation) corrections of the original paper.

    Output: one row — ``n_distinct_est`` (round 4), ``n_registers``,
    ``v_zero`` (empty registers), ``s_scaled`` (the exact integer
    sum, so the oracle comparison is integer-robust).  NULLs don't
    count.  Plan shape: map-side hashing, one ``groupBy(register)``
    over ≤ m keys, one single-row aggregate — nothing data-sized
    moves.  The 31-bit rho word saturates near 2³¹ distinct values
    (the classic 32-bit-HLL bound, large-range-corrected); shard by a
    key (host, language) for beyond-10⁹ cardinalities.

    ``by=<column>`` computes one sketch row PER GROUP ("distinct URLs
    per host") — registers key on the uniform (group, register)
    composite, so state is bounded by ``groups · m``, never the data;
    a hot group spreads over its m register keys.
    """

    _M = 2147483647
    #: the two affine mixes: (a·h1 + b·h2 + c) mod M
    _MIX1 = (1597334677, 2246822519, 11)
    _MIX2 = (2246822519, 1103515245, 17)

    def __init__(self, source, column, precision=10, by=None):
        p = int(precision)
        if not 4 <= p <= 16:
            raise ValueError("precision must be in [4, 16]")
        super().__init__(source, str(column), p,
                         None if by is None else str(by))

    @property
    def columns(self):
        out = {"n_distinct_est", "n_registers", "v_zero", "s_scaled"}
        by = self.args[3] if len(self.args) > 3 else None
        return out | ({by} if by else set())

    @classmethod
    def reg_rho(cls, df, column, p, keep=()):
        """(register, rho) rows for the non-NULL values of ``column``
        — the shared hash pipeline (also the streaming block's
        map-side stage, streaming.events.StreamingHyperLogLog).
        ``keep`` columns pass through untouched.

        Affine mix, then TWO quadratic rounds x ← (x² + c) mod M: the
        affine step alone is an LCG over structured inputs
        (consecutive-integer strings step h1/h2 by 1), which clumps
        registers; squaring is non-linear and every product stays
        < 2⁶² (ANSI-safe).  Shared step-for-step with the oracle."""
        from dask_geomodeling_spark.pipeline.dedup import poly_hash_expr
        m = 1 << p
        M = cls._M
        v = "CAST(`{c}` AS STRING)".format(c=column)
        h1 = poly_hash_expr(v, base=257)
        h2 = poly_hash_expr(v, base=131)
        (a1, b1, c1), (a2, b2, c2) = cls._MIX1, cls._MIX2
        rows = (df.filter(F.col(column).isNotNull())
                .select(*keep, F.expr(h1).alias("_h1"),
                        F.expr(h2).alias("_h2"))
                .select(*keep, F.expr(
                    "pmod(_h1 * {a} + _h2 * {b} + {c}, {M})"
                    .format(a=a1, b=b1, c=c1, M=M)).alias("_g1"),
                    F.expr(
                    "pmod(_h1 * {a} + _h2 * {b} + {c}, {M})"
                    .format(a=a2, b=b2, c=c2, M=M)).alias("_g2")))
        for q in (40503, 914231):
            rows = rows.select(
                *keep,
                F.expr("pmod(_g1 * _g1 + {q}, {M})"
                       .format(q=q, M=M)).alias("_g1"),
                F.expr("pmod(_g2 * _g2 + {q}, {M})"
                       .format(q=q, M=M)).alias("_g2"))
        return rows.select(
            *keep,
            F.pmod(F.col("_g1"), F.lit(m)).alias("_reg"),
            F.expr("IF(_g2 = 0, 32, 32 - length(bin(_g2)))")
            .alias("_rho"))

    def _build(self, ctx):
        _, column, p = self.args[:3]
        by = self.args[3] if len(self.args) > 3 else None
        grp = [by] if by else []
        m = 1 << p
        alpha = _hll_alpha(m)
        a_lit = alpha * m * m * float(2 ** 32)
        df = self.source._build(ctx)
        rows = self.reg_rho(df, column, p, keep=grp)
        # per-group mode ("distinct URLs per host"): registers key on
        # (group, register) — a uniform composite key, then ONE row
        # per group aggregates the sketch; group count bounds state,
        # never the data
        regs = rows.groupBy(*grp, "_reg")             .agg(F.max("_rho").alias("_mx"))
        agg = regs.groupBy(*grp).agg(
            F.count(F.lit(1)).alias("_used"),
            F.coalesce(F.sum(F.expr(
                "shiftleft(CAST(1 AS BIGINT), 32 - _mx)")),
                F.lit(0)).alias("_su"))
        s = (F.col("_su")
             + (F.lit(m) - F.col("_used"))
             * F.lit(1 << 32).cast("bigint"))
        vz = (F.lit(m) - F.col("_used")).cast("bigint")
        e_raw = F.lit(a_lit) / s.cast("double")
        two31 = float(2 ** 31)
        est = F.when((e_raw <= 2.5 * m) & (vz > 0),
                     F.lit(float(m)) * F.log(F.lit(float(m))
                                             / vz.cast("double"))) \
               .when(e_raw > two31 / 30.0,
                     -F.lit(two31) * F.log(F.lit(1.0)
                                           - e_raw / F.lit(two31))) \
               .otherwise(e_raw)
        return agg.select(
            *grp,
            F.round(est, 4).alias("n_distinct_est"),
            F.lit(m).cast("bigint").alias("n_registers"),
            vz.alias("v_zero"),
            s.cast("bigint").alias("s_scaled"))


class KLLQuantile(BaseSingle):
    """ENGINE-EXACT mergeable quantile sketch (round 12) —
    HyperLogLog's sibling for the other pipeline-planning question:
    "what is the p50 / p99 doc length, dup-cluster size, host count"
    at 100 TB, WITHOUT a full shuffle of the column (exact
    percentiles sort/shuffle everything; this is the scan-shaped
    answer).

    Design: a KLL-STYLE level hierarchy where the compactor's random
    coin is replaced by PER-ROW HASH BITS — NOT the coin-flip
    Karnin-Lang-Liberty stream algorithm, deliberately: coin-flip KLL
    is stream-ORDER-dependent, so no SQL oracle (or second engine)
    could ever replay its state.  Here each row's level is the count
    of trailing zero bits of a Mersenne-mixed hash of (value, id)
    (P(level >= l) = 2^-l — exactly a row that survived l KLL
    compactions), the sketch keeps every row at or above an ADAPTIVE
    threshold level l0 = min l with |{rows: level >= l}| <= k, and
    each kept row represents 2^l0 originals.  The state is a pure
    function of the (value, id) multiset: deterministic, order- and
    partitioning-independent, and replayed bit-for-bit by the DuckDB
    oracle.  Classic mergeable-summaries sampling (Gibbons &
    Tirthapura distinct/threshold sampling family): raising the
    threshold IS the deterministic compaction, and
    ``merge(sketch(A), sketch(B)) == sketch(A ∪ B)`` EXACTLY —
    l0(A∪B) >= max(l0(A), l0(B)) and every union-kept row was kept in
    its part (pinned by the mergeability pytest, like HLL's).

    Rank error is the threshold-sampling bound ~ n/sqrt(k) per
    quantile (k=1024 -> ~3%), checked against exact percentiles in
    pytest.  Level uses a 31-bit word, so rows beyond ~k*2^31 degrade
    gracefully (threshold clamps at 31, kept may exceed k) — shard by
    a key first, the HLL convention.

    Output: ONE row (or one per ``by=`` group) — ``n_rows`` (exact),
    ``level`` (l0), ``n_kept``, ``w_total = n_kept * 2^level``,
    ``s_check`` (sum of kept hash words mod M — an integer-exact
    fingerprint of the kept SET, so the oracle comparison certifies
    the full sketch state, not just the estimates), and one ``p<q>``
    column per requested quantile (the kept value at rank
    ``ceil(q * n_kept)`` in (value, hash) order — deterministic ties).

    Plan shape: ONE pruned scan (r16 — the threshold is a global
    aggregate over per-level row counts, inherently a second pass,
    but the narrow hashed projection — group key, value, hash word,
    level, tens of bytes/row — is persisted MEMORY_AND_DISK across
    the passes so the char-level polynomial hash chain runs once per
    row instead of twice): pass 1 is a map-side groupBy over <=
    groups*32 level keys; pass 2 filters the cached projection to
    <= k rows per group and runs one bounded window over them.
    Nothing data-sized ever crosses the wire: a count table of at
    most ``KLL_DRIVER_ROWS`` rows (the request's ``driver_threshold``
    overrides the bound) is collected and the thresholds derive on
    the driver; a larger one derives them distributed, with the same
    integer arithmetic.  The cache is per-build and recomputed from
    the source every run; a rebuild of the same block unpersists the
    projection the earlier build left, so rebuilding one block keeps
    one projection.  A plan whose
    projection was unpersisted still runs, re-scanning its source
    without storing it again.  The latest projection of each block is
    retained until the session drops it (long-lived sessions with many
    blocks can ``clearCache()``).

    No streaming variant exists, deliberately (round-13 note — HLL
    and CMS both have one): the sketch's state is the kept VALUE set,
    not a fixed-width register/counter vector, so it cannot collapse
    into one windowed aggregation of conditional columns, and the
    threshold pass would chain a second stateful aggregation —
    illegal under Structured Streaming.  Window the events and run
    the batch sketch per closed window instead.
    """

    _M = 2147483647
    _MIX = (1597334677, 2246822519, 11)
    _QROUNDS = (40503, 914231)

    _projections = {}   # block token -> its latest hashed projection
    _projections_lock = threading.Lock()

    def __init__(self, source, column, k=1024,
                 quantiles=(0.25, 0.5, 0.75, 0.9, 0.99),
                 id_column=None, by=None):
        k = int(k)
        if k < 16:
            raise ValueError("k must be >= 16")
        qs = tuple(float(q) for q in quantiles)
        if not qs or any(not 0.0 < q < 1.0 for q in qs):
            raise ValueError("quantiles must lie in (0, 1)")
        if len(set(self._qname(q) for q in qs)) != len(qs):
            raise ValueError("quantiles collide after p<q> naming")
        if id_column is None:
            id_column = source.index_column
        super().__init__(source, str(column), k, qs, str(id_column),
                         None if by is None else str(by))

    @staticmethod
    def _qname(q):
        s = ("%g" % (q * 100)).replace(".", "_")
        return "p{}".format(s)

    @property
    def columns(self):
        _, _, _, qs, _, by = self.args
        out = {"n_rows", "level", "n_kept", "w_total", "s_check"}
        out |= {self._qname(q) for q in qs}
        return out | ({by} if by else set())

    @classmethod
    def _hash_sql(cls, val_sql, id_sql):
        """Shared-arithmetic 31-bit hash word: two Mersenne poly
        hashes -> affine mix -> two quadratic scrambling rounds (the
        HyperLogLog pipeline; every product < 2^62, ANSI-safe)."""
        from dask_geomodeling_spark.pipeline.dedup import poly_hash_expr
        a, b, c = cls._MIX
        g = ("pmod({h1} * {a} + {h2} * {b} + {c}, {M})".format(
            h1=poly_hash_expr(val_sql, base=257),
            h2=poly_hash_expr(id_sql, base=131),
            a=a, b=b, c=c, M=cls._M))
        for qr in cls._QROUNDS:
            g = ("pmod(({g}) * ({g}) + {q}, {M})"
                 .format(g="_gk", q=qr, M=cls._M)
                 .replace("_gk", g))
        return g

    def _build(self, ctx):
        _, column, k, qs, idc, by = self.args
        grp = [by] if by else []
        df = self.source._build(ctx)
        v = "CAST(`{c}` AS STRING)".format(c=column)
        i = "CAST(`{c}` AS STRING)".format(c=idc)
        rows = (df.filter(F.col(column).isNotNull())
                .select(*grp,
                        F.col(column).cast("double").alias("_v"),
                        F.expr(self._hash_sql(v, i)).alias("_g")))
        # two scrambling rounds are already inside _hash_sql; level =
        # trailing zeros of the 31-bit word (P(level >= l) = 2^-l)
        rows = rows.withColumn(
            "_tz", F.expr("CASE WHEN _g = 0 THEN 31 "
                          "ELSE length(bin(_g & -_g)) - 1 END"))
        # r16 (guide §2.1/§5, round-15 verdict "next" #3): the sketch is
        # inherently two passes, and BOTH re-evaluated the scan plus the
        # per-row Mersenne chain (two char-level polynomial-hash HOFs —
        # by far the dominant per-row cost).  Persist the NARROW hashed
        # projection (group key, _v double, _g bigint, _tz int — tens of
        # bytes/row vs. the source row) so pass 1's map stage populates
        # the cache and pass 2 reads it instead of re-scanning and
        # re-hashing.  The cache is per-build and recomputed from
        # parquet on every run; _retain keeps one per block.
        rows = self._retain(rows)
        # pass 1: per-level row counts — a <= groups*32-key map-side
        # aggregation, the only shuffle of the sketch.  When the count
        # table is BOUNDED (at most KLL_DRIVER_ROWS rows, i.e. 8192
        # groups, or the request's driver_threshold — the gate's
        # collect is limit-capped so an unexpected high-cardinality
        # ``by`` can never flood the driver), it collects driver-side
        # (the k×dim-model-collect class: BM25 stats, HeavyHitters
        # sketch) and the threshold/n_rows derivation replays the
        # former atleast/thr/min SQL integer-exactly in Python — r15 optimization: the thr/nrows
        # DataFrame subtrees each re-executed the scan + Mersenne hash
        # chain, so the plan scanned (and hashed) the source THREE
        # times; now exactly the two documented passes remain (guide
        # §2.4: remove duplicate subtree passes; §5: bounded driver
        # work only).  Above the gate, the fully-distributed
        # derivation below runs (same arithmetic, never collects).
        cnt_df = (rows.groupBy(*grp, "_tz")
                  .agg(F.count(F.lit(1)).alias("_cnt")))
        cnts = ctx.collect_bounded(cnt_df, KLL_DRIVER_ROWS)
        if cnts is None:
            return self._distributed_sketch(ctx, rows, cnt_df, grp,
                                            k, qs)
        by_grp = {}
        for r in cnts:
            key = r[by] if by else None
            by_grp.setdefault(key, {})[r["_tz"]] = r["_cnt"]
        thr_rows = []
        for key, tzc in by_grp.items():
            n_rows = sum(tzc.values())
            max_tz = max(tzc)
            l0 = 31
            for lvl in range(0, max_tz + 1):
                # identical to the former SQL: only levels with at
                # least one row at-or-above them ever had an _al row,
                # so levels beyond max_tz never enter the min
                al = sum(c for tz, c in tzc.items() if tz >= lvl)
                if al <= k:
                    l0 = lvl
                    break
            thr_rows.append((key, l0, n_rows))
        import pyspark.sql.types as T
        fields = ([df.schema[by]] if by else []) + [
            T.StructField("_l0", T.IntegerType(), False),
            T.StructField("n_rows", T.LongType(), False)]
        thr = ctx.spark.createDataFrame(
            [r if by else r[1:] for r in thr_rows],
            T.StructType(fields))
        # r15 optimization (guide §2.2 shuffle fewer bytes / §1.3):
        # the _tz >= _l0 column-vs-column filter sits ABOVE the
        # broadcast join, so it could never push below an upstream
        # exchange — pass 2 hashed the full input once below the
        # exchange (Catalyst's inferred isnotnull probe) and AGAIN
        # above it.  The thresholds are already collected, so inline
        # them as a LITERAL predicate: it pushes to the scan side and
        # reduces pass 2 to <= groups*k rows before the shuffle and
        # the join.  Semantics are identical to the join+filter that
        # still follows (the join drops NULL group keys; the literal
        # when-chain yields NULL there, which the filter drops too);
        # a float-NaN group key keeps the old path (Spark join
        # equality matches NaN = NaN, `==` does not).
        have_nan_key = any(isinstance(key, float) and key != key
                           for key, _, _ in thr_rows)
        if not have_nan_key:
            if grp:
                lvl = None
                for key, l0, _n in thr_rows:
                    if key is None:
                        continue
                    if lvl is None:
                        lvl = F.when(F.col(by) == F.lit(key),
                                     F.lit(l0))
                    else:
                        lvl = lvl.when(F.col(by) == F.lit(key),
                                       F.lit(l0))
                if lvl is not None:
                    rows = rows.filter(F.col("_tz") >= lvl)
            elif thr_rows:
                rows = rows.filter(
                    F.col("_tz") >= F.lit(thr_rows[0][1]))
        if grp:
            kept = rows.join(F.broadcast(thr), grp)
        else:
            kept = rows.crossJoin(F.broadcast(thr))
        return self._quantile_tail(kept, grp, qs)

    def _retain(self, rows):
        """Persist ``rows`` as this block's hashed projection and
        unpersist the one an earlier build of the block left — unless
        it is the same plan as ``rows``, whose cache entry Spark
        shares."""
        from pyspark import StorageLevel
        rows = rows.persist(StorageLevel.MEMORY_AND_DISK)
        cls = type(self)
        with cls._projections_lock:
            stale = cls._projections.get(self.token)
            cls._projections[self.token] = rows
        if stale is not None and not stale.sameSemantics(rows):
            stale.unpersist()
        return rows

    @classmethod
    def _distributed_sketch(cls, ctx, rows, cnt_df, grp, k, qs):
        """High-group-cardinality path (r16 — restores the pre-r15
        derivation): the per-(group, level) count table exceeds the
        driver gate, so the threshold/n_rows derivation stays fully
        distributed — ``atleast(l) = rows at level >= l`` via a
        32-way level-sequence join over the (already aggregated)
        count table, ``l0 = min l with atleast <= k``.  Identical
        integer arithmetic to the driver replay (pinned by
        test_kll_quantile_distributed_threshold_matches); the
        threshold table is one narrow row per group and joins back
        without a broadcast hint — at this cardinality the planner's
        size estimate decides (guide §3.1)."""
        levels = ctx.spark.range(1).select(
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("_l"))
        atleast = (cnt_df.join(F.broadcast(levels),
                               F.col("_tz") >= F.col("_l"))
                   .groupBy(*grp, "_l")
                   .agg(F.sum("_cnt").alias("_al")))
        # n_rows == atleast at level 0 (every row has _tz >= 0), so
        # the threshold aggregation yields it for free instead of a
        # second pass over the count table (guide §2.4)
        thr = atleast.groupBy(*grp).agg(
            F.coalesce(
                F.min(F.when(F.col("_al") <= k, F.col("_l"))),
                F.lit(31)).alias("_l0"),
            F.max(F.when(F.col("_l") == 0, F.col("_al")))
            .alias("n_rows"))
        if grp:
            kept = rows.join(thr, grp)
        else:
            kept = rows.crossJoin(F.broadcast(thr))
        return cls._quantile_tail(kept, grp, qs)

    @classmethod
    def _quantile_tail(cls, kept, grp, qs):
        """Shared pass-2 tail: threshold filter, bounded window,
        one-row-per-group aggregation (both threshold-derivation
        paths feed the identical plan from here)."""
        kept = kept.filter(F.col("_tz") >= F.col("_l0"))
        # pass 2 output: <= k rows per group; the window is bounded by
        # construction (never data-sized)
        from pyspark.sql import Window
        w = Window.partitionBy(*grp).orderBy("_v", "_g")
        kept = kept.withColumn("_rk", F.row_number().over(w)) \
                   .withColumn("_nk", F.count(F.lit(1)).over(
                       Window.partitionBy(*grp)))
        aggs = [F.first("n_rows").alias("n_rows"),
                F.first("_l0").cast("int").alias("level"),
                F.count(F.lit(1)).alias("n_kept"),
                F.expr("shiftleft(count(1), int(first(_l0)))")
                .cast("bigint").alias("w_total"),
                F.expr("pmod(sum(_g), {M})".format(M=cls._M))
                .cast("bigint").alias("s_check")]
        for q in qs:
            aggs.append(F.max(F.when(
                F.col("_rk") == F.greatest(
                    F.lit(1),
                    F.ceil(F.lit(q) * F.col("_nk")).cast("int")),
                F.col("_v"))).alias(cls._qname(q)))
        return kept.groupBy(*grp).agg(*aggs)


class BloomFilter(BaseSingle):
    """ENGINE-EXACT Bloom membership sketch of a column (round 12) —
    the third mergeable planning sketch beside :class:`HyperLogLog`
    (distinct counts) and :class:`KLLQuantile` (quantiles): "is this
    URL / host / doc hash in the blocklist / previous snapshot /
    eval set", answered from a bounded bitset instead of a shuffle
    against the full key set.

    The sketch is ``bits`` bits stored as ``bits/64`` BIGINT words —
    one output row per NON-ZERO word (``word_idx``, ``word``), plus
    every engine recomputes it identically: each value's k bit
    positions come from the HyperLogLog Mersenne mix pipeline
    (``reg_rho``'s constants) with per-hash affine constants, so the
    DuckDB oracle replays the exact bitset.  Merge/union = per-word
    ``bit_or`` (the register-max analogue, pytest-pinned); no false
    negatives ever; false-positive rate ~ (1 − e^(−k·n/m))^k.

    Plan shape: map-side hashing, one groupBy over <= bits/64 word
    keys with ``bit_or`` partial aggregation — nothing data-sized
    moves.  Probe with :class:`BloomProbe` (collects the <= bits/64
    words driver-side — model-sized — and tests membership as pure
    column math over the literal array)."""

    _M = 2147483647
    #: per-hash affine mix constants (a, b, c): position_j =
    #: (a·h1 + b·h2 + c) mod M, then two quadratic rounds, mod bits
    _HASHES = ((1597334677, 2246822519, 11),
               (2246822519, 1103515245, 17),
               (1103515245, 1597334677, 29),
               (1542857, 2654435761, 47))

    def __init__(self, source, column, bits=65536, hashes=4):
        b = int(bits)
        if b < 64 or b % 64 != 0 or b > (1 << 22):
            raise ValueError("bits must be a multiple of 64 in "
                             "[64, 2^22]")
        k = int(hashes)
        if not 1 <= k <= len(self._HASHES):
            raise ValueError("hashes must be in [1, {}]"
                             .format(len(self._HASHES)))
        super().__init__(source, str(column), b, k)

    @property
    def columns(self):
        return {"word_idx", "word"}

    @classmethod
    def _positions(cls, df, column, bits, k):
        """(one row per value-hash) bit positions — shared with
        BloomProbe so build and probe can never drift."""
        from dask_geomodeling_spark.pipeline.dedup import poly_hash_expr
        M = cls._M
        v = "CAST(`{c}` AS STRING)".format(c=column)
        h1 = poly_hash_expr(v, base=257)
        h2 = poly_hash_expr(v, base=131)
        rows = (df.filter(F.col(column).isNotNull())
                .select("*", F.expr(h1).alias("_h1"),
                        F.expr(h2).alias("_h2")))
        pos = []
        for a, b, c in cls._HASHES[:k]:
            g = ("pmod(_h1 * {a} + _h2 * {b} + {c}, {M})"
                 .format(a=a, b=b, c=c, M=M))
            for q in (40503, 914231):
                g = "pmod(({g}) * ({g}) + {q}, {M})".format(
                    g="_gb", q=q, M=M).replace("_gb", g)
            pos.append("pmod({g}, {m})".format(g=g, m=bits))
        return rows, pos

    @classmethod
    def _sketch(cls, df, column, bits, k):
        """Bitset words from an ALREADY-BUILT frame — split out so
        BloomProbe can build its filter source exactly once (round-13
        review fix: _build is not memoized, and an eager upstream
        block would otherwise run its Spark job twice)."""
        rows, pos = cls._positions(df, column, bits, k)
        hits = rows.select(
            F.explode(F.array(*[F.expr(p).cast("bigint")
                                for p in pos])).alias("_pos"))
        return (hits
                .select(F.expr("_pos div 64").alias("word_idx"),
                        F.expr("shiftleft(CAST(1 AS BIGINT), "
                               "CAST(pmod(_pos, 64) AS INT))")
                        .alias("_b"))
                .groupBy("word_idx")
                .agg(F.expr("bit_or(_b)").alias("word"))
                .orderBy("word_idx"))

    def _build(self, ctx):
        _, column, bits, k = self.args
        return self._sketch(self.source._build(ctx), column, bits, k)


def _check_hash_render_parity(op, pcol, ptype, fcol, ftype):
    """Hash pipelines go through ``CAST(col AS STRING)`` — two
    columns agree iff their types RENDER identically.  Integral
    widths (byte/short/int/long) all render the same, so they form
    one class (round-13 review fix: raw DataType equality rejected
    previously-correct int-vs-bigint pipelines); everything else
    must match exactly."""
    from pyspark.sql import types as T
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    if isinstance(ptype, integral) and isinstance(ftype, integral):
        return
    if ptype == ftype:
        return
    raise TypeError(
        "{} column {!r} is {} but the sketch/filter column {!r} is "
        "{}: values hash through CAST(col AS STRING), so types whose "
        "renders differ ('1' vs '1.0') produce systematic false "
        "negatives; cast one side explicitly".format(
            op, pcol, ptype.simpleString(), fcol,
            ftype.simpleString()))


class BloomProbe(BaseSingle):
    """Test a column against a :class:`BloomFilter` sketch (round 12):
    adds boolean ``maybe_member`` — TRUE may be a false positive
    (rate set by the filter's bits/hashes), FALSE is definite.  The
    filter's non-zero words (<= bits/64 BIGINTs — model-sized) are
    collected driver-side and embedded as a literal array; the probe
    itself is pure column math over the scan, so a blocklist /
    decontamination pre-filter runs map-side with NO join — the
    classic 100 TB semi-join prune.  ``filter_source`` is the block
    whose ``column`` values were inserted; bits/hashes must be given
    identically (the positions helper is shared, so build and probe
    cannot drift).

    Type contract (round-13 ADVICE fix): hashing goes through
    ``CAST(col AS STRING)``, so the probe column's type must RENDER
    identically to the filter column's — a BIGINT filter probed with
    a DOUBLE column ('1' vs '1.0') would yield systematic false
    negatives, silently breaking the no-false-negatives guarantee.
    ``plan()`` therefore raises TypeError when the two columns'
    Spark types differ; cast one side explicitly to opt in."""

    def __init__(self, source, column, filter_source, filter_column,
                 bits=65536, hashes=4, flag="maybe_member"):
        if flag in source.columns:
            raise ValueError(
                "column {!r} collides with BloomProbe's output"
                .format(flag))
        BloomFilter(filter_source, filter_column, bits, hashes)  # validate
        super().__init__(source, str(column), filter_source,
                         str(filter_column), int(bits), int(hashes),
                         str(flag))

    @property
    def columns(self):
        return set(self.source.columns) | {self.args[6]}

    def _build(self, ctx):
        (_, column, fsrc, fcol, bits, k, flag) = self.args
        # build each source exactly ONCE (round-13 review fix: an
        # eager upstream block — BM25Score, ClusterDBSCAN, another
        # probe — would run its Spark job twice otherwise); fail
        # BEFORE the filter-building job on a render mismatch
        df = self.source._build(ctx)
        fdf = fsrc._build(ctx)
        _check_hash_render_parity(
            "BloomProbe", column, df.schema[column].dataType,
            fcol, fdf.schema[fcol].dataType)
        words_rows = BloomFilter._sketch(fdf, fcol, bits, k).collect()
        dense = [0] * (bits // 64)
        for r in words_rows:
            dense[int(r["word_idx"])] = int(r["word"])
        arr = "array({})".format(", ".join(
            "CAST({} AS BIGINT)".format(w) for w in dense))
        rows, pos = BloomFilter._positions(df, column, bits, k)
        checks = " AND ".join(
            "(element_at(_bf, CAST(({p}) div 64 AS INT) + 1) & "
            "shiftleft(CAST(1 AS BIGINT), "
            "CAST(pmod({p}, 64) AS INT))) != 0".format(p=p)
            for p in pos)
        out = (rows.withColumn("_bf", F.expr(arr))
               .withColumn(flag, F.expr(checks))
               .drop("_bf", "_h1", "_h2"))
        # NULL values: no membership claim
        return out.unionByName(
            df.filter(F.col(column).isNull())
            .withColumn(flag, F.lit(None).cast("boolean")))


class CountMinSketch(BaseSingle):
    """ENGINE-EXACT Count-Min frequency sketch of a column (round 13)
    — the FOURTH mergeable planning sketch: HyperLogLog answers "how
    many distinct", KLLQuantile "what is the p99", BloomFilter "is it
    a member", and this answers "how often does each value occur" —
    the heavy-hitters / hot-key question a 100 TB pipeline asks before
    choosing salting, broadcast thresholds, or blocklist candidates
    ("which hosts/URLs/shingles dominate"), from bounded state.

    Cormode & Muthukrishnan's CM sketch is naturally order-independent
    integer arithmetic, so (unlike coin-flip KLL) it is engine-exact
    as published: ``depth`` hash rows × ``width`` counters; every
    value increments counter ``(j, pos_j(v))`` for each row j, where
    ``pos_j`` is the shared :class:`BloomFilter` position pipeline
    (two Mersenne poly hashes → per-row affine mix → two quadratic
    rounds → mod width), so build, probe, and the DuckDB oracle can
    never drift.  Point estimate = min over the d counters (always
    >= the true count; error <= e·n/width with prob 1 − e^−depth).

    Output: one row per NON-ZERO counter — (``row_idx``, ``pos_idx``,
    ``counter``) — the full sketch state, integer-exact.  Merge/union
    = per-(row, pos) SUM (counters are additive — pytest-pinned like
    HLL's register max and Bloom's bit_or).  NULLs don't count.

    Plan shape: map-side hashing, ONE groupBy over <= depth·width
    uniform keys with partial (map-side) count aggregation — nothing
    data-sized moves.  ``by=<column>`` keeps one sketch per group on
    (group, row, pos) composite keys: state is bounded by
    groups·depth·width and a hot group spreads over its width keys."""

    @classmethod
    def _validate(cls, depth, width):
        """The depth/width contract, shared with StreamingCountMin
        (round-13 review fix: one definition, no drift)."""
        d, w = int(depth), int(width)
        if not 1 <= d <= len(BloomFilter._HASHES):
            raise ValueError("depth must be in [1, {}]"
                             .format(len(BloomFilter._HASHES)))
        if not 2 <= w <= (1 << 22):
            raise ValueError("width must be in [2, 2^22]")
        return d, w

    def __init__(self, source, column, depth=4, width=1024, by=None):
        d, w = self._validate(depth, width)
        super().__init__(source, str(column), d, w,
                         None if by is None else str(by))

    @property
    def columns(self):
        by = self.args[4]
        return ({"row_idx", "pos_idx", "counter"}
                | ({by} if by else set()))

    @classmethod
    def _sketch(cls, df, column, d, w, by=None, extra_grp=(),
                sort=True):
        """Counters from an ALREADY-BUILT frame (the BloomFilter
        _sketch convention, so HeavyHitters builds each source
        exactly once).  ``extra_grp`` prepends extra grouping
        expressions as (expr, name) pairs and ``sort=False`` skips
        the final orderBy — together they let StreamingCountMin run
        THE SAME counter pipeline grouped by an event-time window
        (sorting is illegal on streams), so batch and stream can
        never drift (round-13 review fix: the streaming block used
        to carry a copy)."""
        grp = [by] if by else []
        rows, pos = BloomFilter._positions(df, column, w, d)
        pre = [e.alias(n) for e, n in extra_grp]
        pre_names = [n for _, n in extra_grp]
        hits = rows.select(
            *pre, *grp,
            F.explode(F.array(*[
                F.struct(F.lit(j).cast("int").alias("r"),
                         F.expr(p).cast("bigint").alias("p"))
                for j, p in enumerate(pos)])).alias("_rp"))
        out = (hits.groupBy(*pre_names, *grp,
                            F.col("_rp.r").alias("row_idx"),
                            F.col("_rp.p").alias("pos_idx"))
               .agg(F.count(F.lit(1)).alias("counter")))
        if sort:
            out = out.orderBy(*pre_names, *grp, "row_idx", "pos_idx")
        return out

    def _build(self, ctx):
        _, column, d, w, by = self.args
        return self._sketch(self.source._build(ctx), column, d, w, by)


class HeavyHitters(BaseSingle):
    """Deterministic top-k frequent values via a
    :class:`CountMinSketch` (round 13) — "which hosts/URLs dominate",
    answered with counts read from the SKETCH, never an exact global
    count: adds ``est_count`` (the min-over-depth CM estimate, always
    >= the true count) and ``rank`` (1..k, ties broken by value — the
    (estimate, value) struct-max order, fully deterministic).

    ``sketch_source`` (default: ``source``) is the block whose
    ``sketch_column`` (default: ``column``) values were counted — the
    production shape builds the sketch ONCE over all shards/days
    (merge = counter sum) and ranks today's candidates against it
    without rescanning history.  A candidate the sketch never
    counted estimates 0 (it can still rank when k exceeds the
    counted candidates); the candidate and sketch columns must
    render identically under CAST-AS-STRING (the BloomProbe type
    contract — ``plan()`` raises TypeError otherwise, integral
    widths exempt).

    Plan shape: the sketch is one <= depth·width-key groupBy; its
    counters collect driver-side (model-sized) and embed as literal
    arrays, so the per-candidate estimate is PURE column math — no
    join (above depth·width = 65536 cells the literal SQL text would
    be megabytes, so the estimate switches to the same broadcast
    join the ``by=`` mode uses).  Candidate enumeration is one
    DISTINCT over the probe
    column (map-side combinable; bounded by the column's distinct
    count, the one honest shuffle here — the sketch bounds the
    COUNTING memory, not the candidate set); top-k is orderBy+limit
    (per-partition top-k, driver merge), then one <= k-row window
    assigns ranks.  ``by=<column>`` ranks per group: estimates come
    from a broadcast join against the grouped sketch (groups·d·w
    rows) and the rank window partitions by group over distinct
    candidates."""

    def __init__(self, source, column, k=10, depth=4, width=1024,
                 sketch_source=None, sketch_column=None, by=None):
        k = int(k)
        if k < 1:
            raise ValueError("k must be >= 1")
        if sketch_source is None:
            sketch_source = source
            if sketch_column is None:
                sketch_column = column
        elif sketch_column is None:
            raise ValueError(
                "sketch_column is required with an explicit "
                "sketch_source")
        # validates depth/width
        CountMinSketch(sketch_source, sketch_column, depth, width, by)
        super().__init__(source, str(column), k, int(depth),
                         int(width), sketch_source, str(sketch_column),
                         None if by is None else str(by))

    @property
    def columns(self):
        _, column, _, _, _, _, _, by = self.args
        return ({column, "est_count", "rank"}
                | ({by} if by else set()))

    #: above this depth·width the global literal-array readout would
    #: render megabytes of SQL text — switch to the broadcast join
    _LITERAL_CELLS = 65536

    def _build(self, ctx):
        from pyspark.sql import Window
        (_, column, k, d, w, ssrc, scol, by) = self.args
        grp = [by] if by else []
        df = self.source._build(ctx)
        # build the sketch source exactly once; same-block reuse is
        # by TOKEN, the graph-identity convention (round-13 review
        # fix: identity alone missed an equal-token block built
        # separately over an eager upstream)
        same = (ssrc is self.args[0]
                or ssrc.token == self.args[0].token)
        fdf = df if same else ssrc._build(ctx)
        # the candidate and sketch columns hash through CAST-AS-STRING
        # (round-13 review fix: the BloomProbe guard applies here too —
        # a double probe against a bigint history sketch would read
        # untouched counters and return est_count 0 for everything)
        _check_hash_render_parity(
            "HeavyHitters", column, df.schema[column].dataType,
            scol, fdf.schema[scol].dataType)
        cand = (df.filter(F.col(column).isNotNull())
                .select(*grp, column).distinct())
        cand, pos = BloomFilter._positions(cand, column, w, d)
        if by or d * w > self._LITERAL_CELLS:
            # broadcast join against the (groups·)d·w counter rows —
            # LEFT join: a candidate the sketch never counted (the
            # sketch_source=history production shape) estimates 0,
            # exactly like the literal path (round-13 review fix: the
            # old inner join dropped it, or min'd over a subset)
            sk = CountMinSketch._sketch(fdf, scol, d, w, by)

            def fresh(name, taken):
                # rename targets must not collide with the sketch's
                # own columns — a by= column literally named '_sr'
                # broke the join (round-13 review pass 3)
                while name in taken:
                    name = "_" + name
                return name

            taken = set(sk.columns) | {column}
            nr = fresh("_sr", taken)
            np_ = fresh("_sp", taken | {nr})
            ng = fresh("_sg", taken | {nr, np_})
            skr = (sk.withColumnRenamed("row_idx", nr)
                   .withColumnRenamed("pos_idx", np_))
            if by:
                skr = skr.withColumnRenamed(by, ng)
            skj = F.broadcast(skr)  # loop-invariant: built once
            ests = []
            for j, p in enumerate(pos):
                cj = (cand.select(*grp, column,
                                  F.expr(p).cast("bigint")
                                  .alias("pos_idx"))
                      .withColumn("row_idx", F.lit(j).cast("int")))
                cond = ((cj["row_idx"] == skj[nr])
                        & (cj["pos_idx"] == skj[np_]))
                if by:
                    # NULL-SAFE on the group key (round-13 review
                    # fix): groupBy keeps a NULL group but a plain
                    # equi-join never matches it, which reported a
                    # confident est_count 0 for NULL-group candidates
                    cond = cond & cj[by].eqNullSafe(skj[ng])
                ests.append(cj.join(skj, cond, "left")
                            .select(*[cj[g] for g in grp],
                                    cj[column],
                                    F.coalesce(skj["counter"],
                                               F.lit(0).cast("bigint"))
                                    .alias("_e")))
            est = ests[0]
            for e in ests[1:]:
                est = est.unionByName(e)
            est = est.groupBy(*grp, column).agg(
                F.min("_e").alias("est_count"))
        else:
            # global sketch: literal arrays, pure column math, NO join
            counters = CountMinSketch._sketch(fdf, scol, d, w) \
                .collect()
            dense = [[0] * w for _ in range(d)]
            for r in counters:
                dense[int(r["row_idx"])][int(r["pos_idx"])] = \
                    int(r["counter"])
            mins = "least({})".format(", ".join(
                "element_at(_cm{j}, CAST(({p}) AS INT) + 1)".format(
                    j=j, p=p) for j, p in enumerate(pos)))
            est = cand
            for j in range(d):
                est = est.withColumn("_cm{}".format(j), F.expr(
                    "array({})".format(", ".join(
                        "CAST({} AS BIGINT)".format(c)
                        for c in dense[j]))))
            est = (est.withColumn("est_count", F.expr(mins))
                   .select(column, "est_count"))
        # rank: per-partition top-k + driver merge (TakeOrdered shape
        # in the global case), then ONE bounded window over <= k rows
        # per group — never a data-sized global window
        order = [F.desc("est_count"), F.asc(column)]
        if by:
            pre = Window.partitionBy(by).orderBy(*order)
            top = (est.withColumn("rank", F.row_number().over(pre))
                   .filter(F.col("rank") <= k))
            return top.select(*grp, column, "est_count",
                              F.col("rank").cast("int").alias("rank"))
        top = est.orderBy(*order).limit(k)
        wdw = Window.orderBy(*order)
        return (top.withColumn(
            "rank", F.row_number().over(wdw).cast("int"))
            .select(column, "est_count", "rank"))
