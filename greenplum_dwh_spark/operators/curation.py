"""Corpus-curation operators: the verbs that sit between a raw crawl
and a tokenized training set — benchmark decontamination, reproducible
train/holdout splitting, context-window chunking, boilerplate-line
removal, n-gram language-model counts, and shard assignment with
intra-shard ordering.

These extend ``training_data.py`` (sampling / scrubbing / canon dedup)
with the remaining pipeline stages; all six queries are oracle-checked
bit-exact against DuckDB under the repo's parity rules (md5-based
determinism, no rand(), integer-exact aggregates, guarded sequence()
generation — Spark's ``sequence(1, 0)`` yields ``[1, 0]`` while
DuckDB's ``range(1, 1)`` is empty, so every generated index range is
wrapped in a size guard).

Scale design, common to the family: the per-document work (token
splitting, n-gram construction, chunk spans, line splitting) is
map-only and pipelined inside the parquet scan stage; the cross-corpus
steps reduce to either a broadcast against a *small* derived set (the
eval-suite n-grams, the boilerplate line list) or one groupBy on a
well-distributed key.  Nothing here is all-pairs and nothing collects
to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from greenplum_dwh_spark.functions import hashing as H
from greenplum_dwh_spark.functions.hashing import md5_bucket
from greenplum_dwh_spark.sources.tpch import Tables

#: Word-n-gram order for decontamination overlap.  Real pipelines use
#: 8-13 (Brown et al. GPT-3 appx. C uses 13-grams; most open recipes
#: 8); this corpus is synthetic word salad over a ~40-word vocabulary,
#: where 8-gram cross-doc collisions are essentially impossible
#: (measured: zero at sf0.01), so the demo calibrates n=3 — the same
#: corpus-calibration argument as dedup_embedding's threshold.  The
#: operator shape (explode → broadcast semi-join → per-doc count) is
#: order-independent.
DECON_N = 3

#: Context-window chunking parameters (tokens): window of 64 with
#: stride 48 ⇒ 16-token overlap between consecutive chunks.
CHUNK_WINDOW = 64
CHUNK_STRIDE = 48

#: A line is "boilerplate" when it appears verbatim in at least this
#: many distinct documents (C4/RefinedWeb-style cross-document line
#: frequency rule).
BOILER_MIN_DOCS = 10

#: Output shards for shard_and_order.
N_SHARDS = 32


def _tok(col: str = "text"):
    return F.split(col, " ")


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training documents sharing any word
# n-gram with a held-out eval slice (doc_id % 97 == 0 stands in for
# the benchmark suite).  Scale story: the eval side is tiny relative
# to the corpus (benchmarks are MBs, corpora are TBs), so its distinct
# n-gram set is broadcast and the corpus side never shuffles — the
# explode and the semi-join both pipeline inside the scan stage; the
# only exchange is the final per-doc count, keyed on doc_id
# (skew-free).  At 100 TB this is the textbook plan: one map-side
# pass over the corpus against a broadcast eval-gram set.
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    grams = (t.documents
             .select("doc_id", _tok().alias("t"))
             .select("doc_id",
                     H.explode_word_ngrams("t", DECON_N).alias("g")))
    ev = (grams.filter(F.col("doc_id") % 97 == 0)
          .select("g").distinct())
    tr = grams.filter(F.col("doc_id") % 97 != 0)
    return (tr.join(F.broadcast(ev), "g")
            .groupBy("doc_id")
            .agg(F.countDistinct("g").alias("n_hit_grams"),
                 F.count(F.lit(1)).alias("n_hits")))


# ---------------------------------------------------------------------------
# The same operator at the REAL parameter (n=8): the synthetic corpus
# has no organic 8-gram overlap (measured zero at sf0.01), so this
# variant PLANTS contamination — every doc with doc_id % 41 == 1 gets
# the eval anchor document's (doc_id 0) first 8 tokens appended — and
# must flag exactly the planted docs.  Same plant-then-operate
# discipline as scrub_pii; the snippet attaches via a broadcast of the
# 1-row anchor (a scalar at any corpus size), so the plan is the n=3
# variant's plus one broadcast.
DECON_REAL_N = 8
PLANT_MOD = 41


def decontaminate_ngrams8_planted(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    n = DECON_REAL_N
    snippet = (t.documents.filter(F.col("doc_id") == 0)
               .select(F.concat_ws(
                   " ", F.slice(_tok(), 1, n)).alias("snippet")))
    planted = (t.documents.crossJoin(F.broadcast(snippet))
               .select("doc_id",
                       F.when(F.col("doc_id") % PLANT_MOD == 1,
                              F.concat_ws(" ", "text", "snippet"))
                       .otherwise(F.col("text")).alias("text")))
    grams = (planted
             .select("doc_id", _tok().alias("t"))
             .select("doc_id", H.explode_word_ngrams("t", n).alias("g")))
    ev = (grams.filter(F.col("doc_id") % 97 == 0)
          .select("g").distinct())
    tr = grams.filter(F.col("doc_id") % 97 != 0)
    return (tr.join(F.broadcast(ev), "g")
            .groupBy("doc_id")
            .agg(F.countDistinct("g").alias("n_hit_grams"),
                 F.count(F.lit(1)).alias("n_hits")))


# ---------------------------------------------------------------------------
# Reproducible train/val/test split: 98/1/1 by md5 bucket of doc_id,
# reported as per-(lang, split) document and character counts.  The
# assignment is a pure row function (map-only, engine-portable,
# partitioning-independent — re-running on a different cluster or
# after a repartition yields byte-identical splits, which rand(seed)
# does NOT guarantee); the single shuffle is the tiny summary groupBy.
def split_train_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    b = md5_bucket(F.col("doc_id"), 10000)
    split = (F.when(b < 9800, "train")
             .when(b < 9900, "val")
             .otherwise("test"))
    return (t.documents
            .select("lang", split.alias("split"), "n_chars")
            .groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("sum_chars")))


# ---------------------------------------------------------------------------
# Context-window chunking: split each document's token sequence into
# overlapping fixed-size windows (the pre-tokenization pass that turns
# documents into training sequences).  Entirely map-side: the chunk
# index range is generated per row and exploded in place — no shuffle
# at any scale, output rows ≈ Σ tokens / stride.  The md5 of each
# chunk's text pins content, not just spans, in the oracle comparison.
def chunk_docs(docs: DataFrame) -> DataFrame:
    """DataFrame-level core of :func:`chunk_documents` — takes any
    (doc_id, text) DataFrame (property-tested against a pure-Python
    reference over arbitrary token counts)."""
    w, s = CHUNK_WINDOW, CHUNK_STRIDE
    toks = docs.select(
        "doc_id", _tok().alias("t"), F.size(_tok()).alias("n_tok"))
    spans = toks.select(
        "doc_id", "t", "n_tok",
        F.explode(F.expr(
            f"sequence(0, greatest((n_tok - {w} + {s - 1}) div {s}, 0))"))
        .alias("chunk_id"))
    tok_start = F.col("chunk_id") * s + 1
    tok_end = F.least(F.col("chunk_id") * s + w, F.col("n_tok"))
    return spans.select(
        "doc_id", "chunk_id",
        tok_start.cast("long").alias("tok_start"),
        tok_end.cast("long").alias("tok_end"),
        F.md5(F.concat_ws(
            " ", F.slice(F.col("t"), tok_start, tok_end - tok_start + 1)))
        .alias("chunk_md5"))


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_docs(Tables(spark, sf_dir).documents)


# ---------------------------------------------------------------------------
# Cross-document boilerplate-line removal (the C4 rule: drop lines
# occurring verbatim in many documents).  The synthetic corpus has no
# newlines, so the query first *plants* them deterministically — a
# unique per-doc line plus one of two boilerplate lines by doc_id % 3
# — then removes lines appearing in ≥ BOILER_MIN_DOCS distinct docs
# and reassembles each document in original line order (same
# plant-then-operate discipline as scrub_pii).  Scale story: the line
# frequency table aggregates to (distinct lines), and the *frequent*
# subset that survives the ≥ threshold filter is tiny by construction
# (a line in ≥10 docs of a deduplicated corpus is rare), so the
# removal join is a broadcast LEFT ANTI — the corpus shuffles once,
# for the per-doc reassembly groupBy.  Reassembly sorts each doc's
# kept lines by position inside the aggregate (array_sort on a
# (pos, line) struct — partition-local, no extra exchange).
def remove_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    planted = F.concat(
        F.col("text"), F.lit("\nref code "),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               "\nsubscribe to our newsletter today")
        .when(F.col("doc_id") % 3 == 1, "\nall rights reserved worldwide")
        .otherwise(""))
    lines = (t.documents
             .select("doc_id",
                     F.posexplode(F.split(planted, "\n"))
                     .alias("pos0", "line"))
             .select("doc_id", (F.col("pos0") + 1).alias("pos"), "line"))
    boiler = (lines.groupBy("line")
              .agg(F.countDistinct("doc_id").alias("nd"))
              .filter(F.col("nd") >= BOILER_MIN_DOCS)
              .select("line"))
    kept = lines.join(F.broadcast(boiler), "line", "left_anti")
    return (kept.groupBy("doc_id")
            .agg(F.concat_ws(
                     "\n",
                     F.expr("transform(array_sort(collect_list("
                            "struct(pos, line))), x -> x.line)"))
                 .alias("clean_text"),
                 F.count(F.lit(1)).alias("n_lines_kept")))


# ---------------------------------------------------------------------------
# First-occurrence paragraph dedup (round 8) — the CCNet/MassiveWeb
# paragraph-granular dedup rule (Wenzek et al. 2020 §4.1 dedup
# paragraphs by hash; Rae et al. 2021 Gopher repetition filters):
# every paragraph that occurs verbatim anywhere in the corpus keeps
# exactly its FIRST occurrence (min (doc_id, pos) — arrival order)
# and is dropped from every later document.  Distinct from
# remove_boilerplate_lines above, which deletes frequent lines from
# ALL documents including the first (the C4 rule): boilerplate
# removal erases the content everywhere; paragraph dedup preserves
# one canonical copy, so corpus information is never lost — the
# variant training pipelines run on the main text body.  Paragraphs
# under PARA_MIN_CHARS are exempt (always kept): deduping "ok"-class
# fragments would shred ordinary prose, the same reason CCNet hashes
# only real paragraphs.
#
# Scale shape: map-only line explode → groupBy(line) MIN(struct)
# winner aggregate — map-side combinable, deliberately NOT a window
# over line (a stop-paragraph at corpus scale funnels every doc
# containing it through ONE window task; the aggregate partially
# combines and the probe-side join is AQE-skew-splittable, the
# gram_novelty_scores recipe) — then one line-keyed join back and a
# doc-keyed reassembly.  No join carries more than (line, winner);
# at 100 TB the line string rides as xxhash64 with the verbatim text
# resolved only at reassembly (kept verbatim here so the DuckDB
# oracle replays it exactly).  The synthetic corpus has no newlines,
# so the query plants them deterministically (the shared
# plant-then-operate discipline): a per-doc unique paragraph (never
# dropped), a 2-char "ok" line (shared by EVERY doc but under the
# length floor — pins the exemption), and one of five shared promo
# paragraphs by doc_id % 5 (each kept exactly once, corpus-wide).
PARA_MIN_CHARS = 12


def _doc_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, line) — 1-based positional line explode."""
    return (docs
            .select("doc_id",
                    F.posexplode(F.split("text", "\n"))
                    .alias("pos0", "line"))
            .select("doc_id", (F.col("pos0") + 1).alias("pos"), "line"))


def paragraph_dedup_core(docs: DataFrame,
                         min_chars: int = PARA_MIN_CHARS,
                         banned: DataFrame | None = None,
                         hashed: bool = False,
                         banned_keys: DataFrame | None = None,
                         banned_keys_distinct: bool = False
                         ) -> DataFrame:
    """DataFrame-verb form over (doc_id, text): first-wins paragraph
    dedup with per-doc ordered reassembly → (doc_id, clean_text,
    n_kept, n_dropped).

    PRECONDITION: ``doc_id`` is unique in ``docs`` (round-9 ADVICE).
    The verbatim plan's final groupBy(doc_id) would MERGE duplicate
    input rows into one interleaved output row while the hashed
    plan's doc_id join would emit one row per input occurrence — the
    byte-identical contract between the two faces holds only for
    unique ids, so callers must dedup first (the streaming ingest
    face dropDuplicates(["doc_id"]) before calling; the driver
    fixtures derive from the unique-keyed documents table).

    ``banned`` (optional, a ``line`` column):
    paragraphs already claimed by EARLIER data — dropped from every
    doc regardless of local winnership; the streaming ingest face
    (:func:`streaming.mart_stream.paragraph_dedup_foreach_batch`)
    passes its persisted line index here so cross-batch first-wins
    composes from per-batch calls.

    Empty-doc contract (round-8 ADVICE): a doc whose EVERY line is
    dropped yields ``clean_text = ''`` (empty string, never NULL) —
    ``concat_ws`` over the empty kept-set is '' and the DuckDB
    oracles coalesce their filtered ``string_agg`` to match.
    Unreachable for the driver fixtures (each doc plants a unique
    paragraph) but live for streaming callers whose whole doc can be
    claimed by earlier batches.

    ``hashed=True`` (round 9 — the 100 TB form, previously prose in
    this module): byte-identical output from a plan in which NO
    exchange carries paragraph text.  Lines ride the winner aggregate
    and the flag join as ``(xxhash64(line), length(line))`` — 12
    bytes, not the paragraph — and reassembly never re-shuffles
    exploded lines at all: the per-doc DROPPED positions (typically
    few; Σ = the corpus duplicate count) aggregate to one array per
    doc, join back to the ORIGINAL docs relation on doc_id, and a
    map-side ``filter(split(text))`` rebuilds clean_text in place.
    Verbatim text therefore moves through exactly one exchange (the
    doc_id join — irreducible, the output IS the text), vs three in
    the verbatim plan (winner join probe, flag carry, reassembly
    groupBy).  Collision contract: two distinct paragraphs merge only
    on a full 64-bit xxhash collision AT EQUAL LENGTH — expected
    collisions ≈ L²/2⁶⁵ per length class over L distinct corpus-wide
    paragraphs (~3·10⁻⁶ at a billion paragraphs); the unit suite pins
    the two paths byte-identical on every fixture.

    ``banned_keys`` (hashed-only): a PRE-HASHED banned set —
    ``(lh, ln)`` columns as produced by the same (xxhash64, length)
    recipe — for callers that persist the keys next to the claimed
    lines (the streaming index): the ban probe then COLUMN-PRUNES to
    12 bytes/row at the parquet scan instead of re-reading and
    re-hashing every claimed paragraph per batch.  Identical
    semantics to ``banned`` under the hashed path's collision
    contract (the verbatim-line ``banned`` input is hashed to exactly
    these keys internally).

    ``banned_keys_distinct``: the caller GUARANTEES ``banned_keys``
    carries no duplicate (lh, ln) rows, so the defensive
    ``distinct()`` — a full banned-set exchange per call, ~10⁶ rows
    per micro-batch on a mature streaming index (round-10 big-index
    probe) — is skipped.  The flag join is a LEFT join, so an
    unnoticed duplicate would DUPLICATE exploded lines and corrupt
    reassembly: only set this when uniqueness is structural (the
    streaming index appends through a key anti-join, so its keys are
    unique by construction)."""
    if banned_keys is not None and not hashed:
        raise ValueError("banned_keys requires hashed=True — the "
                         "verbatim plan joins on the line itself")
    if hashed:
        return _paragraph_dedup_hashed(docs, min_chars, banned,
                                       banned_keys,
                                       banned_keys_distinct)
    lines = _doc_lines(docs)
    winners = (lines
               .filter(F.length("line") >= min_chars)
               .groupBy("line")
               .agg(F.min(F.struct("doc_id", "pos")).alias("w")))
    flagged = (lines.join(winners, "line", "left")
               .withColumn("keep",
                           F.col("w").isNull()
                           | ((F.col("w.doc_id") == F.col("doc_id"))
                              & (F.col("w.pos") == F.col("pos")))))
    if banned is not None:
        flagged = (flagged
                   .join(banned.select("line").distinct()
                         .withColumn("_banned", F.lit(True)),
                         "line", "left")
                   .withColumn("keep",
                               F.when(F.col("w").isNull(),
                                      F.col("keep"))
                               .otherwise(F.col("keep")
                                          & F.col("_banned").isNull())))
    # collect_list skips NULLs, so the CASE keeps reassembly to one
    # doc-keyed exchange (no second kept-only aggregate + join)
    return (flagged.groupBy("doc_id")
            .agg(F.concat_ws("\n", F.expr(
                     "transform(array_sort(collect_list(CASE WHEN keep"
                     " THEN struct(pos, line) END)), x -> x.line)"))
                 .alias("clean_text"),
                 F.sum(F.when(F.col("keep"), 1).otherwise(0))
                 .cast("long").alias("n_kept"),
                 F.sum(F.when(F.col("keep"), 0).otherwise(1))
                 .cast("long").alias("n_dropped")))


def _line_key(line_col) -> list:
    """The hashed-path line identity: (xxhash64, length) — length
    doubles as the sub-floor predicate input AND halves the collision
    surface (a merge needs a full 64-bit collision at equal length)."""
    return [F.xxhash64(line_col).alias("lh"),
            F.length(line_col).alias("ln")]


def _paragraph_dedup_hashed(docs: DataFrame, min_chars: int,
                            banned: DataFrame | None,
                            banned_keys: DataFrame | None = None,
                            banned_keys_distinct: bool = False
                            ) -> DataFrame:
    """The ``hashed=True`` plan of :func:`paragraph_dedup_core` —
    see its docstring for the shuffle accounting and collision
    contract.  Output is byte-identical to the verbatim plan."""
    # map-side: (doc_id, pos, lh, ln) — 1-based positions, no text
    keyed = (docs
             .select("doc_id",
                     F.posexplode(F.split("text", "\n"))
                     .alias("pos0", "line"))
             .select("doc_id", (F.col("pos0") + 1).alias("pos"),
                     *_line_key(F.col("line"))))
    winners = (keyed
               .filter(F.col("ln") >= min_chars)
               .groupBy("lh", "ln")
               .agg(F.min(F.struct("doc_id", "pos")).alias("w")))
    flagged = (keyed.join(winners, ["lh", "ln"], "left")
               .withColumn("keep",
                           F.col("w").isNull()
                           | ((F.col("w.doc_id") == F.col("doc_id"))
                              & (F.col("w.pos") == F.col("pos")))))
    if banned is not None or banned_keys is not None:
        bkeys = (banned_keys.select("lh", "ln")
                 if banned_keys is not None
                 else banned.select(*_line_key(F.col("line"))))
        if not (banned_keys is not None and banned_keys_distinct):
            bkeys = bkeys.distinct()
        bkeys = bkeys.withColumn("_banned", F.lit(True))
        flagged = (flagged.join(bkeys, ["lh", "ln"], "left")
                   .withColumn("keep",
                               F.when(F.col("w").isNull(),
                                      F.col("keep"))
                               .otherwise(F.col("keep")
                                          & F.col("_banned").isNull())))
    # per-doc dropped positions: Σ rows = the corpus duplicate count,
    # one array row per doc that lost anything — the ONLY state that
    # re-joins the docs relation
    drops = (flagged.filter(~F.col("keep"))
             .groupBy("doc_id")
             .agg(F.sort_array(F.collect_list("pos")).alias("_dp"),
                  F.count(F.lit(1)).alias("_nd")))
    # map-side reassembly on the original text: filter the split by
    # dropped position (O(kept·dropped) per doc — bounded by the
    # doc's own line count, never the corpus)
    arr = F.split("text", "\n")
    kept_arr = F.when(F.col("_dp").isNull(), arr).otherwise(
        F.filter(arr, lambda x, i:
                 ~F.array_contains(F.col("_dp"), i + F.lit(1))))
    return (docs.join(drops, "doc_id", "left")
            .select("doc_id",
                    F.concat_ws("\n", kept_arr).alias("clean_text"),
                    (F.size(arr)
                     - F.coalesce(F.col("_nd"), F.lit(0)))
                    .cast("long").alias("n_kept"),
                    F.coalesce(F.col("_nd"), F.lit(0))
                    .cast("long").alias("n_dropped")))


def _planted_paragraph_docs(t: Tables) -> DataFrame:
    """The shared dedup_paragraphs driver fixture: a per-doc unique
    paragraph (never dropped), a sub-floor 'ok' line (pins the length
    exemption), and one of five promo paragraphs by doc_id % 5 (each
    kept exactly once corpus-wide)."""
    planted = F.concat(
        F.col("text"),
        F.lit("\npara unique to document "),
        F.col("doc_id").cast("string"),
        F.lit("\nok\nshared promotional paragraph block number "),
        (F.col("doc_id") % 5).cast("string"))
    return t.documents.select("doc_id", planted.alias("text"))


def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup_core(_planted_paragraph_docs(Tables(spark, sf_dir)))


def dedup_paragraphs_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashed-line twin of :func:`dedup_paragraphs` — identical
    output (same DuckDB oracle), scale-form plan: paragraph text
    never rides the winner aggregate, the flag join, or a reassembly
    groupBy (see :func:`paragraph_dedup_core` ``hashed=True``)."""
    return paragraph_dedup_core(
        _planted_paragraph_docs(Tables(spark, sf_dir)), hashed=True)


# ---------------------------------------------------------------------------
# Bigram language-model counts with exact conditional-probability
# ingredients: count(w1,w2) and the left-context total count(w1 ·) —
# p(w2|w1) is one division away, kept as exact integers so the oracle
# matches bit-exactly (the classic distributed LM-counts job, Brants
# et al. 2007).  Plan: map-side bigram explode → one groupBy on
# (w1, w2) with partial aggregation → a window re-keyed on w1 for the
# totals.  Both shuffles move only the *aggregated* bigram table (≤
# vocab², independent of corpus size) — at 100 TB the corpus itself
# is read once and reduced in the map stage.
def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) token bigrams, one row per occurrence.
    Branch-free (codegen-friendly) guard: sequence is clamped to [1]
    for 1-token docs, whose lone pair gets a NULL w2 (try_element_at
    past the end) and is dropped by the cheap post-explode filter —
    a no-op Filter on every real bigram."""
    return (docs
            .select("doc_id", _tok().alias("t"))
            .select("doc_id", F.explode(F.expr(
                "transform(sequence(1, greatest(size(t) - 1, 1)),"
                " i -> struct(try_element_at(t, i) AS w1,"
                "             try_element_at(t, i + 1) AS w2))"))
                .alias("b"))
            .select("doc_id", "b.w1", "b.w2")
            .filter(F.col("w2").isNotNull()))


def bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    counts = (_doc_bigrams(t.documents).drop("doc_id")
              .groupBy("w1", "w2")
              .agg(F.count(F.lit(1)).alias("n_pair")))
    return counts.withColumn(
        "n_w1", F.sum("n_pair").over(Window.partitionBy("w1")))


# ---------------------------------------------------------------------------
# LM-based per-document quality scoring — the CCNet-style filter step
# (Wenzek et al. 2020: score every document under a corpus LM, drop
# the tail) that bigram_lm_counts builds the model FOR.  Kept
# integer-exact: each bigram contributes the scaled conditional
# probability floor(SCALE · n_pair / n_w1) (integer DIV — identical
# in Spark and DuckDB), summed per doc as BIGINT, with the per-bigram
# mean as a second integer DIV.  A log-prob sum differs only by the
# monotone transform per addend; the rational form keeps the oracle
# bit-exact where ln() floats could not be.
#
# Plan shape (the 100 TB story): docs are hash-repartitioned on
# doc_id BEFORE the bigram explode, the aggregated LM table (≤ vocab²
# rows, independent of corpus size) joins as a BROADCAST — the only
# join type that preserves the doc_id partitioning through to the
# per-doc aggregation, making the whole score one corpus shuffle.
# At an extreme vocab where the LM outgrows broadcast, swap to a
# shuffle join on (w1, w2) + re-exchange on doc_id (two corpus-sized
# shuffles) — the composition point is the join hint only.
LM_SCALE = 1_000_000


def lm_score(docs: DataFrame) -> DataFrame:
    """DataFrame-level core of :func:`lm_doc_scores`: score ``docs``
    under the bigram LM built from those same docs (the curation
    funnel composes this on its surviving slice)."""
    lm = (_doc_bigrams(docs).drop("doc_id")
          .groupBy("w1", "w2")
          .agg(F.count(F.lit(1)).alias("n_pair"))
          .withColumn("n_w1",
                      F.sum("n_pair").over(Window.partitionBy("w1"))))
    bi = _doc_bigrams(docs.repartition("doc_id"))
    addend = F.expr(f"({LM_SCALE}L * n_pair) DIV n_w1")
    return (bi.join(F.broadcast(lm), ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum(addend).cast("long").alias("lm_score_sum"))
            .withColumn("lm_score_avg",
                        F.expr("lm_score_sum DIV n_bigrams")))


def lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_score(Tables(spark, sf_dir).documents)


# ---------------------------------------------------------------------------
# One BPE-induction round (Sennrich et al. 2016): adjacent character-
# pair frequencies over the word vocabulary, weighted by word
# occurrence count — the statistic whose argmax is the next merge.
# Positional counting (a pair occurring twice inside one word counts
# twice, e.g. "aaaa" → "aa"×3), plus the distinct-word support count.
#
# Scale shape: the ONLY corpus-sized operation is the word count's
# map-side partial aggregation (the combiner reduces each partition
# to its local vocabulary before the shuffle); the pair explode and
# second groupBy run over the aggregated vocab table, whose size is
# independent of corpus bytes.  This is why real BPE trainers run on
# word-count tables, not raw text — same plan here.
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = (t.documents
             .select(F.explode(_tok()).alias("w"))
             .groupBy("w")
             .agg(F.count(F.lit(1)).alias("n_w")))
    pairs = (words
             .filter(F.length("w") >= 2)
             .select("w", "n_w", F.explode(F.expr(
                 "transform(sequence(1, length(w) - 1),"
                 " i -> substr(w, i, 2))")).alias("pair")))
    return (pairs.groupBy("pair")
            .agg(F.sum("n_w").cast("long").alias("n_occ"),
                 F.countDistinct("w").cast("long").alias("n_words")))


# True iterative BPE (Sennrich et al.): learn BPE_MERGES merges by
# re-counting pairs after EVERY merge (merges interact — the static
# pair table bpe_pair_counts exposes is only round one), then show the
# learned segmentation on the most frequent words.
#
# String encoding that keeps Spark and DuckDB replace() bit-identical:
# token spellings use TWO-space separators and sentinels
# ('␣␣a␣␣b␣␣c␣␣').  A merge of (a, b) replaces '␣a␣␣b␣' with '␣ab␣' —
# each occurrence consumes ONE space from each neighboring separator,
# so ABUTTING occurrences keep their own match ('a b a b' merges to
# 'ab ab' in one pass, the textbook left-to-right greedy result; a
# single-space encoding would consume the shared space and silently
# skip every second occurrence).  Both engines' replace() scan
# leftmost-non-overlapping over the original string, so the results
# agree byte-for-byte.
#
# Scale shape: the corpus is touched ONCE (the map-combined word
# count); every iteration runs over the VOCABULARY-sized word table —
# one explode + one agg — and picks the merge with a 1-row driver
# action (bounded: BPE_MERGES actions total), which is exactly the
# real trainer loop's control flow.
BPE_MERGES = 6
BPE_TOP_WORDS = 20

_BPE_PAIRS = ("case when size(t) >= 2 then transform("
              "sequence(1, size(t) - 1), i -> concat("
              "element_at(t, i), ' ', element_at(t, i + 1))) "
              "else cast(array() as array<string>) end")

#: vocab rows per partition for the per-round loop plans (round 11,
#: guide §2 "derive partitioning from input size"): the cached vocab
#: inherits the word count's shuffle partitioning, and AQE cannot
#: re-coalesce a cached plan (canChangeCachedPlanOutputPartitioning
#: defaults false), so every one of the BPE_MERGES sequential jobs
#: scheduled a full partition set of near-empty tasks — measured
#: 0.22 s/round at sf0.1 for a 31-row vocabulary, pure task-dispatch
#: latency.  A narrow coalesce sized by the measured vocab count
#: (one bounded driver action that also materializes the cache the
#: first round would otherwise pay for) keeps each round's task
#: count proportional to the vocabulary, and the defaultParallelism
#: cap restores full fan-out on cluster-scale vocabularies.
BPE_VOCAB_ROWS_PER_PART = 4096


def bpe_encode_top_words(spark: SparkSession, sf_dir: str,
                         caches: list | None = None) -> DataFrame:
    t = Tables(spark, sf_dir)
    words = (t.documents
             .select(F.explode(_tok()).alias("w"))
             .groupBy("w")
             .agg(F.count(F.lit(1)).alias("c"))
             .cache())          # vocabulary-sized; read every round
    if caches is not None:     # dup_ngram_mass's ownership contract:
        caches.append(words)   # caller unpersists after consuming
    n_vocab = words.count()    # materializes the cache; sizes the loop
    n_parts = max(1, min(spark.sparkContext.defaultParallelism,
                         n_vocab // BPE_VOCAB_ROWS_PER_PART + 1))
    cur = words.coalesce(n_parts).select(
        "w", "c",
        F.concat(F.lit("  "), F.regexp_replace("w", "(.)", "$1  "))
        .alias("sp"))
    for _ in range(BPE_MERGES):
        top = (cur.select("c", F.split(F.trim("sp"), "  ").alias("t"))
               .select("c", F.explode(F.expr(_BPE_PAIRS)).alias("pair"))
               .groupBy("pair").agg(F.sum("c").alias("pc"))
               .orderBy(F.desc("pc"), F.asc("pair"))
               .first())
        if top is None:          # vocabulary fully merged (tiny corpora)
            continue             # keep the iteration count symmetric
        a, b = top["pair"].split(" ")
        cur = cur.withColumn("sp", F.call_function(
            "replace", F.col("sp"),
            F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")))
    toks = F.split(F.trim("sp"), "  ")
    return (cur.orderBy(F.desc("c"), F.asc("w"))
            .limit(BPE_TOP_WORDS)
            .select(F.col("w").alias("word"),
                    F.col("c").cast("long").alias("n_w"),
                    F.array_join(toks, " ").alias("tokens"),
                    F.size(toks).cast("long").alias("n_tokens")))


# ---------------------------------------------------------------------------
# Shard assignment + intra-shard ordering: the deterministic "global
# shuffle" a distributed dataloader needs, WITHOUT a global sort — a
# total order over 100 TB would funnel through one range-partitioned
# sort, whereas (shard, pos-within-shard) gives every loader a stable
# read order with the window partitioned by shard (parallel across
# shards, one exchange).  Shard and order both derive from md5, so
# the "shuffle" is reproducible across runs, engines, and cluster
# sizes — rerunning with different partitioning yields the same
# (shard, pos) for every document.
def shard_order(docs: DataFrame) -> DataFrame:
    """DataFrame-level core of :func:`shard_and_order` — takes any
    (doc_id, ...) DataFrame so the determinism property (same
    (shard, pos) under ANY input partitioning) is testable by
    repartitioning the input before the window."""
    h = F.md5(F.col("doc_id").cast("string"))
    d = docs.select(
        "doc_id", h.alias("h"),
        md5_bucket(F.col("doc_id"), N_SHARDS).alias("shard"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return d.select("shard", "doc_id",
                    F.row_number().over(w).alias("pos"))


def shard_and_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shard_order(Tables(spark, sf_dir).documents)


#: per-language token budget for quota sampling (whitespace tokens —
#: the text_tokens convention); sf-independent so bigger corpora
#: select the same-sized head
QUOTA_TOKENS = 800
#: hash-prefix buckets for the distributed prefix sum; bucket id =
#: top bits of the 60-bit order hash so bucket order == hash order
QUOTA_BUCKETS = 32


def quota_sample(docs: DataFrame,
                 group_col: str = "lang",
                 budget: int = QUOTA_TOKENS,
                 n_buckets: int = QUOTA_BUCKETS) -> DataFrame:
    """Token-budget quota sampling: per ``group_col``, keep documents
    in deterministic hash order until the group's cumulative token
    count reaches ``budget`` (kept iff cumulative INCLUSIVE of the
    doc ≤ budget) — the data-mixing primitive behind "N tokens per
    language/source" recipes.  Deterministic: the order key is an
    md5-derived 60-bit hash of the doc id, so reruns, repartitioning
    and engine choice all select the same head.

    The naive plan is one window cumsum per group — which serializes
    EVERY group through a single partition: a 100 TB corpus with an
    80%-English slice would funnel 80 TB through one task.  This plan
    is the classic DISTRIBUTED PREFIX SUM instead: docs land in
    ``n_buckets`` hash-prefix buckets (bucket = top bits of the order
    hash, so bucket order ≡ hash order); per-(group, bucket) token
    subtotals cumulate in a tiny window over group×buckets rows; each
    doc then needs only its LOCAL cumsum within its bucket plus the
    bucket's offset — per-bucket windows parallelize n_buckets-wide
    per group, and the only global pass is over the subtotal table
    (groups × buckets rows, broadcast back).  Result is provably
    identical to the single-window form, which is exactly what the
    DuckDB oracle runs."""
    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    h = H.hash60(F.col("doc_id").cast("string"))
    shift = 60 - n_buckets.bit_length() + 1
    assert (1 << (60 - shift)) == n_buckets, "n_buckets must be 2^k"
    d = docs.select(F.col(group_col).alias("grp"), "doc_id",
                    toks.alias("toks"), h.alias("h"),
                    F.shiftright(h, shift).cast("int").alias("bkt"))
    sub = (d.groupBy("grp", "bkt")
           .agg(F.sum("toks").alias("sub")))
    w_off = (Window.partitionBy("grp").orderBy("bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = sub.select(
        "grp", "bkt",
        F.coalesce(F.sum("sub").over(w_off), F.lit(0)).alias("off"))
    w_loc = (Window.partitionBy("grp", "bkt").orderBy("h", "doc_id")
             .rowsBetween(Window.unboundedPreceding, 0))
    return (d.join(F.broadcast(offsets), ["grp", "bkt"])
            .withColumn("cum_toks",
                        F.col("off") + F.sum("toks").over(w_loc))
            .filter(F.col("cum_toks") <= budget)
            .select(F.col("grp").alias(group_col), "doc_id", "toks",
                    "cum_toks"))


def lang_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quota_sample(Tables(spark, sf_dir).documents)


#: keep docs with per-group percent_rank >= PCT_NUM/PCT_DEN (ascending
#: score order — the "drop the worst 70% per language" CCNet-style cut)
QUALITY_PCT_NUM = 7
QUALITY_PCT_DEN = 10


def quality_percentile_filter(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Per-group percentile quality cut (round 7): keep the documents
    whose rank in (score, doc_id) order within their language clears
    the percentile bound — percent_rank ≥ 0.7 expressed as the exact
    integer predicate ``DEN·(rank−1) ≥ NUM·(n−1)`` (the float-bound
    trap class: a double percent_rank compared against 0.7 can round
    across the boundary; integers cannot).  Score here is the token
    count; any integer score column (e.g. ``lm_score_sum``) slots in.

    Plan (the 100 TB story): the naive form is one window per
    language — which serializes EVERY group through a single task, the
    same funnel quota_sample's prefix sum designs out.  Same cure:
    rank(doc) decomposes into the cumulative count of docs in strictly
    smaller cells (a window over the tiny aggregated cell table,
    broadcast back) plus the doc's row_number within its cell.  The
    cell key is (score, hash-prefix bucket of the doc-id hash) — NOT
    score alone: an integer score is low-cardinality by nature
    (token counts cluster; degenerate case a constant), so a
    (lang, score) cell can hold most of a language's corpus and would
    re-create the single-task funnel inside the tie.  Sub-bucketing
    ties by the hash prefix keeps every cell ~corpus/(scores×buckets)
    and makes tie order (hash, doc_id) — deterministic, partitioning-
    independent, and replayed verbatim by the serial single-window
    oracle (ORDER BY toks, h, doc_id), so parity proves the
    decomposition."""
    toks = F.size(_tok()).cast("long")
    h = H.hash60(F.col("doc_id").cast("string"))
    shift = 60 - QUOTA_BUCKETS.bit_length() + 1
    d = (Tables(spark, sf_dir).documents
         .select("lang", "doc_id", toks.alias("toks"), h.alias("h"),
                 F.shiftright(h, shift).cast("int").alias("bkt")))
    sub = (d.groupBy("lang", "toks", "bkt")
           .agg(F.count(F.lit(1)).alias("c")))
    w_off = (Window.partitionBy("lang").orderBy("toks", "bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = sub.select(
        "lang", "toks", "bkt",
        F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"))
    n_l = sub.groupBy("lang").agg(F.sum("c").alias("n_lang"))
    w_loc = Window.partitionBy("lang", "toks", "bkt").orderBy("h", "doc_id")
    num, den = QUALITY_PCT_NUM, QUALITY_PCT_DEN
    return (d.join(F.broadcast(offs), ["lang", "toks", "bkt"])
            .join(F.broadcast(n_l), "lang")
            .withColumn("rk", (F.col("off")
                               + F.row_number().over(w_loc)).cast("long"))
            .filter(den * (F.col("rk") - 1) >= num * (F.col("n_lang") - 1))
            .select("lang", "doc_id", "toks", "rk", "n_lang"))


def _scored_global_rank(scored: DataFrame, score_col: str) -> DataFrame:
    """(doc_id, rk, n): exact global rank of every scored doc in
    (score, hash, doc_id) order plus the scored-set size — the
    single-group form of quality_percentile_filter's cell
    decomposition.  No corpus-wide window: rank = cumulative count of
    strictly-smaller (score, hash-bucket) cells (a window over the
    tiny aggregated cell table, broadcast back) + the doc's
    row_number within its cell, so the only single-task pass is over
    the scores×buckets subtotal table."""
    h = H.hash60(F.col("doc_id").cast("string"))
    shift = 60 - QUOTA_BUCKETS.bit_length() + 1
    d = scored.select("doc_id", F.col(score_col).alias("sc"),
                      h.alias("h"),
                      F.shiftright(h, shift).cast("int").alias("bkt"))
    sub = d.groupBy("sc", "bkt").agg(F.count(F.lit(1)).alias("c"))
    w_off = (Window.orderBy("sc", "bkt")
             .rowsBetween(Window.unboundedPreceding, -1))
    w_all = (Window.orderBy("sc", "bkt")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    offs = sub.select(
        "sc", "bkt",
        F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off"),
        F.sum("c").over(w_all).alias("n"))
    w_loc = Window.partitionBy("sc", "bkt").orderBy("h", "doc_id")
    return (d.join(F.broadcast(offs), ["sc", "bkt"])
            .select("doc_id",
                    (F.col("off") + F.row_number().over(w_loc))
                    .cast("long").alias("rk"),
                    F.col("n").cast("long").alias("n")))


def curation_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation-funnel survivors-per-stage table (round-7
    verdict item 4a): the scripts/curate_pipeline.py composition as
    ONE oracle-checkable query — exact dedup → near-dup keep-best →
    repeated-span dedup → decontamination → duplicated-n-gram cut →
    LM-quality cut → train split → chunk/shard layout — proving the
    stages COMPOSE (each stage's filter applied to the previous
    stage's survivor set), not just run alone.  Returns
    (stage, n_rows), one row per stage; rows 08/09 count chunks and
    occupied shards rather than docs.

    The two distribution cuts are expressed as exact-integer rank
    predicates over :func:`_scored_global_rank` (drop the top-2% most
    duplicated: keep iff 50·rk ≤ 49·n in ascending (dup_bps, h,
    doc_id) order; drop the bottom-5% LM tail: keep iff 20·rk > n) —
    the oracle-parity-safe form of the demo script's percentile
    thresholds (a float percentile cut compared against integer
    scores is the float-bound trap class).  Unscored docs (too short
    to produce a gram/bigram) are KEPT by both cuts, mirroring the
    demo script's anti-join policy.

    Every stage's surviving ID SET is eagerly ``localCheckpoint``-ed:
    the result unions TEN aggregates whose lineages nest (stage k's
    count re-derives stages 1..k), so without reuse the exact-dedup
    scan runs 10×, the near-dup clustering 9×, … — measured 83 s at
    sf0.1 — and mere ``cache()`` is NOT enough, because each stage's
    logical plan still embeds the previous stage's tree in several
    places and Catalyst's tree transforms copy shared subtrees per
    path (the classic iterative-lineage blowup: the cached variant
    planned itself into a >500 s hang).  Checkpointing TRUNCATES the
    plan at each boundary; an ID set is a few longs per surviving
    doc, the expensive work (clustering, span scan, gram mass, LM) is
    captured inside it, and each stage rebuilds as parquet scan + k
    broadcast-sized id joins — the query form of what a production
    funnel materializes to storage between stages (measured 11.5 s at
    sf0.1)."""
    from greenplum_dwh_spark.operators.dedup import (
        drop_repeated_span_dups, exact_dedup, keep_best_per_cluster)
    from greenplum_dwh_spark.operators.text_analysis import dup_ngram_mass

    docs0 = (Tables(spark, sf_dir).documents
             .select("doc_id", "text", "n_chars"))
    ids1 = (exact_dedup(docs0)
            .select(F.col("rep_doc_id").alias("doc_id"))
            .localCheckpoint())
    d1 = docs0.join(ids1, "doc_id")
    ids2 = (keep_best_per_cluster(d1)
            .select(F.col("keep_doc_id").alias("doc_id"))
            .localCheckpoint())
    d2 = d1.join(ids2, "doc_id")
    ids3 = (drop_repeated_span_dups(d2, min_len=15)
            .select("doc_id").localCheckpoint())
    d3 = d2.join(ids3, "doc_id")
    # benchmark decontamination on the surviving slice (same
    # calibration as decontaminate_ngrams: doc_id % 97 eval slice,
    # DECON_N-gram overlap, broadcast eval grams)
    grams = (d3.select("doc_id", _tok().alias("t"))
             .select("doc_id",
                     H.explode_word_ngrams("t", DECON_N).alias("g")))
    ev = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    contaminated = (grams.filter(F.col("doc_id") % 97 != 0)
                    .join(F.broadcast(ev), "g")
                    .select("doc_id").distinct())
    ids4 = (d3.filter(F.col("doc_id") % 97 != 0)
            .join(contaminated, "doc_id", "left_anti")
            .select("doc_id").localCheckpoint())
    d4 = d3.join(ids4, "doc_id")
    # duplicated-n-gram cut: drop the top-2% most duplicated docs
    m5 = _scored_global_rank(dup_ngram_mass(d4), "dup_bps")
    drop5 = (m5.filter(50 * F.col("rk") > 49 * F.col("n"))
             .select("doc_id"))
    ids5 = (d4.select("doc_id")
            .join(drop5, "doc_id", "left_anti").localCheckpoint())
    d5 = d4.join(ids5, "doc_id")
    # LM-quality cut over the survivors' own bigram LM: drop the
    # bottom-5% scoring tail
    m6 = _scored_global_rank(lm_score(d5), "lm_score_avg")
    drop6 = m6.filter(20 * F.col("rk") <= F.col("n")).select("doc_id")
    ids6 = (d5.select("doc_id")
            .join(drop6, "doc_id", "left_anti").localCheckpoint())
    d6 = d5.join(ids6, "doc_id")
    train = d6.filter(md5_bucket(F.col("doc_id"), 10000) < 9800)
    chunks = chunk_docs(train)
    shards = shard_order(train).select("shard").distinct()

    def cnt(stage: str, df: DataFrame) -> DataFrame:
        return (df.groupBy()
                .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
                .select(F.lit(stage).alias("stage"), "n_rows"))

    out = cnt("00_raw", docs0)
    for s, df in (("01_exact_dedup", d1),
                  ("02_neardup_keep_best", d2),
                  ("03_repeated_span_dedup", d3),
                  ("04_decontaminated", d4),
                  ("05_dup_gram_filter", d5),
                  ("06_lm_quality_filter", d6),
                  ("07_train_split", train),
                  ("08_chunks", chunks),
                  ("09_shards", shards)):
        out = out.unionByName(cnt(s, df))
    return out


QUERIES = {
    "decontaminate_ngrams": decontaminate_ngrams,
    "decontaminate_ngrams8_planted": decontaminate_ngrams8_planted,
    "split_train_holdout": split_train_holdout,
    "chunk_documents": chunk_documents,
    "remove_boilerplate_lines": remove_boilerplate_lines,
    "dedup_paragraphs": dedup_paragraphs,
    # round 9: the hashed-line scale form, proven against the SAME
    # oracle (identical output, no text on the winner/flag exchanges)
    "dedup_paragraphs_hashed": dedup_paragraphs_hashed,
    # round-7 ledger consolidation (round-6 verdict item 3):
    # ``bigram_lm_counts`` and ``bpe_pair_counts`` are retired as
    # DRIVER queries — their kernels are strict sub-stages of the two
    # survivors (lm_doc_scores rebuilds the identical bigram LM
    # internally; bpe_encode_top_words re-derives pair counts every
    # merge round) and stay pinned by the test_curation units
    "lm_doc_scores": lm_doc_scores,
    "bpe_encode_top_words": bpe_encode_top_words,
    "shard_and_order": shard_and_order,
    "lang_quota_sample": lang_quota_sample,
    "quality_percentile_filter": quality_percentile_filter,
    "curation_funnel_counts": curation_funnel_counts,
}


def _funnel_oracle() -> str:
    """DuckDB twin of :func:`curation_funnel_counts`: each stage's
    proven per-query oracle (dedup_exact, dedup_keep_best,
    dedup_repeated_spans, decontaminate_ngrams, dup_ngram_fraction,
    lm_doc_scores, split/chunk/shard) chained on the shrinking
    survivor set.  Stage CTEs are MATERIALIZED — each is referenced
    by the next stage AND its count row, and default inlining
    re-evaluates per reference path (the BPE-oracle lesson: 3^stages
    blowup).  The rank cuts replay the Spark cell decomposition's
    total order (score, h, doc_id) with a plain serial window — the
    hash-prefix bucket is a prefix of h, so (score, bkt, h) ≡
    (score, h) — which is exactly how the decomposition is proven."""
    from greenplum_dwh_spark.operators.dedup import (REPEAT_MIN_SPAN,
                                                     REPEAT_SUFFIX_CAP)
    from greenplum_dwh_spark.operators.text_analysis import DUP_NGRAM_N
    cap, blk, dn = REPEAT_SUFFIX_CAP, REPEAT_MIN_SPAN, DUP_NGRAM_N
    h60 = H.HASH60_SQL.format("doc_id::VARCHAR")
    bucket = H.MD5_BUCKET_SQL
    return f"""
        WITH RECURSIVE
        d0 AS MATERIALIZED (SELECT doc_id, text, n_chars FROM documents),
        r1 AS (SELECT min(doc_id) AS doc_id FROM d0 GROUP BY md5(text)),
        d1 AS MATERIALIZED (SELECT d0.* FROM d0 SEMI JOIN r1 USING (doc_id)),
        sh AS (SELECT doc_id, CASE WHEN len(string_split(text, ' ')) >= 3
                 THEN (SELECT list_distinct([w[i+0] || ' ' || w[i+1]
                                             || ' ' || w[i+2]
                                             for i in range(1, len(w) - 1)])
                       FROM (SELECT string_split(text, ' ') w))
                 ELSE [text] END AS s
               FROM d1),
        ex AS MATERIALIZED (SELECT doc_id, len(s) AS n, unnest(s) AS t
                            FROM sh),
        cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        any_value(a.n) AS na, any_value(b.n) AS nb,
                        count(*) AS inter
                 FROM ex a JOIN ex b ON a.t = b.t AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id),
        edges AS (SELECT da, db FROM cand
                  WHERE inter::DOUBLE / (na + nb - inter) >= 0.5),
        bidir AS MATERIALIZED (SELECT da u, db v FROM edges
                               UNION ALL SELECT db, da FROM edges),
        nodes AS (SELECT DISTINCT u FROM bidir),
        walk(u, lbl) AS (
          SELECT u, u FROM nodes
          UNION
          SELECT b.v, walk.lbl FROM walk JOIN bidir b ON b.u = walk.u
          WHERE walk.lbl < b.v),
        cl AS (SELECT u AS doc_id, min(lbl) AS cluster_id
               FROM walk GROUP BY u),
        alld AS (SELECT d1.doc_id, d1.n_chars,
                        coalesce(cl.cluster_id, d1.doc_id) AS cluster_id
                 FROM d1 LEFT JOIN cl USING (doc_id)),
        k2 AS (SELECT doc_id FROM (
                 SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
                          ORDER BY n_chars DESC, doc_id) AS rk
                 FROM alld)
               WHERE rk = 1),
        d2 AS MATERIALIZED (SELECT d1.* FROM d1 SEMI JOIN k2 USING (doc_id)),
        t3 AS (SELECT doc_id, string_split(trim(regexp_replace(
                   text, '[\\x00-\\x20]+', ' ', 'g')), ' ') AS t
               FROM d2),
        sfx AS MATERIALIZED (
          SELECT doc_id, i AS pos,
                 array_to_string(t[i:i + {cap} - 1], ' ') AS sfx,
                 array_to_string(t[i:i + {blk} - 1], ' ') AS blk
          FROM t3, unnest([i for i in range(1, len(t) - {blk} + 2)])
               AS u(i)),
        lagd AS (SELECT doc_id, sfx,
                        lag(doc_id) OVER w AS pdoc, lag(sfx) OVER w AS psfx
                 FROM sfx
                 WINDOW w AS (PARTITION BY blk ORDER BY sfx, doc_id, pos)),
        prs AS (SELECT doc_id, pdoc, string_split(sfx, ' ') AS a,
                       string_split(psfx, ' ') AS b
                FROM lagd WHERE pdoc IS NOT NULL AND pdoc <> doc_id),
        lcps AS (SELECT doc_id, pdoc, a,
                        coalesce(nullif(list_position(
                            [a[i] IS DISTINCT FROM b[i]
                             for i in range(1, least(len(a), len(b)) + 1)],
                            true), 0) - 1,
                            least(len(a), len(b))) AS lcp
                 FROM prs),
        sides AS (SELECT doc_id AS d, lcp,
                         array_to_string(a[1:lcp], ' ') AS span
                  FROM lcps WHERE lcp >= {blk}
                  UNION ALL
                  SELECT pdoc, lcp, array_to_string(a[1:lcp], ' ')
                  FROM lcps WHERE lcp >= {blk}),
        best3 AS (SELECT d AS doc_id, lcp AS span_len, span FROM sides
                  QUALIFY row_number() OVER (PARTITION BY d
                            ORDER BY lcp DESC, span ASC) = 1),
        long3 AS MATERIALIZED (SELECT doc_id, span FROM best3
                               WHERE span_len >= 15),
        keep3 AS (SELECT span, min(doc_id) AS keep_id FROM long3
                  GROUP BY span),
        drop3 AS (SELECT doc_id FROM long3 JOIN keep3 USING (span)
                  WHERE doc_id <> keep_id),
        d3 AS MATERIALIZED (SELECT d2.* FROM d2 ANTI JOIN drop3
                            USING (doc_id)),
        t4 AS (SELECT doc_id, string_split(text, ' ') AS t FROM d3),
        g4 AS MATERIALIZED (
          SELECT doc_id,
                 array_to_string(list_slice(t, i, i + {dn - 1}), ' ') AS g
          FROM t4, unnest(range(1, greatest(len(t) - {dn - 2}, 2)))
               AS u(i)),
        ev4 AS (SELECT DISTINCT g FROM g4 WHERE doc_id % 97 = 0),
        cont4 AS (SELECT DISTINCT doc_id FROM g4 JOIN ev4 USING (g)
                  WHERE doc_id % 97 <> 0),
        d4 AS MATERIALIZED (
          SELECT * FROM (SELECT d3.* FROM d3 WHERE doc_id % 97 <> 0) x
          ANTI JOIN cont4 USING (doc_id)),
        t5 AS (SELECT doc_id, string_split(text, ' ') AS w FROM d4),
        g5 AS (SELECT doc_id,
                      unnest([array_to_string(w[i:i + {dn - 1}], ' ')
                              for i in range(1, len(w) - {dn - 2})])
                          AS gram
               FROM t5 WHERE len(w) >= {dn}),
        per5 AS MATERIALIZED (SELECT doc_id, gram, count(*) AS m
                              FROM g5 GROUP BY 1, 2),
        nd5 AS (SELECT *, count(*) OVER (PARTITION BY gram) AS nd
                FROM per5),
        mass5 AS (SELECT doc_id,
                         ((coalesce(sum(m) FILTER (nd > 1), 0) * 10000)
                             // sum(m))::BIGINT AS dup_bps
                  FROM nd5 GROUP BY doc_id),
        rk5 AS (SELECT doc_id,
                       row_number() OVER (ORDER BY dup_bps, h, doc_id)
                           AS rk,
                       count(*) OVER () AS n
                FROM (SELECT doc_id, dup_bps, {h60} AS h FROM mass5)),
        drop5 AS (SELECT doc_id FROM rk5 WHERE 50 * rk > 49 * n),
        d5 AS MATERIALIZED (SELECT d4.* FROM d4 ANTI JOIN drop5
                            USING (doc_id)),
        t6 AS (SELECT doc_id, string_split(text, ' ') AS t FROM d5),
        bi6 AS MATERIALIZED (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
                             FROM t6, unnest(range(1, len(t))) AS u(i)),
        c6 AS (SELECT w1, w2, count(*)::BIGINT AS n_pair
               FROM bi6 GROUP BY w1, w2),
        lm6 AS (SELECT w1, w2, n_pair,
                       sum(n_pair) OVER (PARTITION BY w1)::BIGINT AS n_w1
                FROM c6),
        s6 AS (SELECT bi6.doc_id,
                      count(*)::BIGINT AS n_bigrams,
                      sum(({LM_SCALE}::BIGINT * lm6.n_pair)
                          // lm6.n_w1)::BIGINT AS lm_sum
               FROM bi6 JOIN lm6 USING (w1, w2)
               GROUP BY bi6.doc_id),
        rk6 AS (SELECT doc_id,
                       row_number() OVER (ORDER BY sc, h, doc_id) AS rk,
                       count(*) OVER () AS n
                FROM (SELECT doc_id, (lm_sum // n_bigrams) AS sc,
                             {h60} AS h
                      FROM s6)),
        drop6 AS (SELECT doc_id FROM rk6 WHERE 20 * rk <= n),
        d6 AS MATERIALIZED (SELECT d5.* FROM d5 ANTI JOIN drop6
                            USING (doc_id)),
        tr AS MATERIALIZED (SELECT * FROM d6
                            WHERE {bucket.format('doc_id', 10000)} < 9800),
        ch AS (SELECT coalesce(sum(greatest(
                   (len(string_split(text, ' ')) - {CHUNK_WINDOW}
                    + {CHUNK_STRIDE - 1}) // {CHUNK_STRIDE}, 0) + 1),
                   0)::BIGINT AS n
               FROM tr),
        shd AS (SELECT count(DISTINCT
                   {bucket.format('doc_id', N_SHARDS)})::BIGINT AS n
                FROM tr)
        SELECT '00_raw' AS stage, count(*)::BIGINT AS n_rows FROM d0
        UNION ALL SELECT '01_exact_dedup', count(*)::BIGINT FROM d1
        UNION ALL SELECT '02_neardup_keep_best', count(*)::BIGINT FROM d2
        UNION ALL SELECT '03_repeated_span_dedup', count(*)::BIGINT FROM d3
        UNION ALL SELECT '04_decontaminated', count(*)::BIGINT FROM d4
        UNION ALL SELECT '05_dup_gram_filter', count(*)::BIGINT FROM d5
        UNION ALL SELECT '06_lm_quality_filter', count(*)::BIGINT FROM d6
        UNION ALL SELECT '07_train_split', count(*)::BIGINT FROM tr
        UNION ALL SELECT '08_chunks', n FROM ch
        UNION ALL SELECT '09_shards', n FROM shd"""

def _bpe_encode_oracle() -> str:
    """DuckDB twin of :func:`bpe_encode_top_words`: the same
    BPE_MERGES iterations as chained CTEs — each round re-derives the
    weighted pair counts from the current spellings, picks the merge
    by (count DESC, pair ASC), and applies the identical two-space
    replace via a 1-row cross join.  Every iteration CTE is
    MATERIALIZED and referenced exactly once: with default inlining
    the scalar-subquery form re-evaluated s0 once per reference path
    (3^BPE_MERGES times — measured as a hang at even sf0.001).
    NULL-guarded so an exhausted vocabulary leaves spellings
    unchanged (the Spark loop's ``continue``)."""
    parts = ["""
        WITH w AS MATERIALIZED (
          SELECT w, count(*)::BIGINT AS c
          FROM documents, unnest(string_split(text, ' ')) AS u(w)
          GROUP BY w),
        s0 AS MATERIALIZED (
          SELECT w, c,
                 '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS sp
          FROM w)"""]
    for i in range(1, BPE_MERGES + 1):
        parts.append(f""",
        m{i} AS MATERIALIZED (
          SELECT ' ' || replace(pair, ' ', '  ') || ' ' AS pat,
                 ' ' || replace(pair, ' ', '') || ' ' AS rep
          FROM (
            SELECT c, unnest([t[j] || ' ' || t[j+1]
                              for j in range(1, len(t))]) AS pair
            FROM (SELECT c, string_split(trim(sp), '  ') AS t
                  FROM s{i - 1}))
          GROUP BY pair ORDER BY sum(c) DESC, pair LIMIT 1),
        s{i} AS MATERIALIZED (
          SELECT w, c,
                 CASE WHEN m.pat IS NULL THEN sp
                      ELSE replace(sp, m.pat, m.rep) END AS sp
          FROM s{i - 1} LEFT JOIN m{i} m ON true)""")
    parts.append(f"""
        SELECT w AS word, c AS n_w,
               array_to_string(string_split(trim(sp), '  '), ' ')
                   AS tokens,
               len(string_split(trim(sp), '  '))::BIGINT AS n_tokens
        FROM s{BPE_MERGES}
        ORDER BY c DESC, w LIMIT {BPE_TOP_WORDS}""")
    return "".join(parts)


#: shared by dedup_paragraphs and its hashed-line twin (identical
#: output is the twin's contract; the coalesce is the empty-doc
#: contract — Spark's concat_ws over an empty kept-set is '')
_DEDUP_PARAGRAPHS_ORACLE = f"""
        WITH p AS (
          SELECT doc_id,
                 text || chr(10) || 'para unique to document ' ||
                 doc_id || chr(10) || 'ok' || chr(10) ||
                 'shared promotional paragraph block number ' ||
                 (doc_id % 5) AS planted
          FROM documents),
        ls AS (SELECT doc_id, string_split(planted, chr(10)) AS arr
               FROM p),
        lines AS (
          SELECT doc_id, i AS pos, arr[i] AS line
          FROM ls, unnest(range(1, len(arr) + 1)) AS u(i)),
        flagged AS (
          SELECT doc_id, pos, line,
                 length(line) < {PARA_MIN_CHARS} OR
                 row_number() OVER (PARTITION BY line
                                    ORDER BY doc_id, pos) = 1 AS keep
          FROM lines)
        SELECT doc_id,
               coalesce(string_agg(line, chr(10) ORDER BY pos)
                 FILTER (WHERE keep), '') AS clean_text,
               count(*) FILTER (WHERE keep)::BIGINT AS n_kept,
               count(*) FILTER (WHERE NOT keep)::BIGINT AS n_dropped
        FROM flagged GROUP BY doc_id"""

ORACLES = {
    "decontaminate_ngrams": f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        grams AS (
          -- greatest(..., 2) mirrors the Spark side's branch-free
          -- short-doc fallback: a doc with < n tokens contributes its
          -- whole text as the single gram (range end is exclusive)
          SELECT doc_id,
                 array_to_string(list_slice(t, i, i + {DECON_N - 1}), ' ')
                     AS g
          FROM toks,
               unnest(range(1, greatest(len(t) - {DECON_N - 2}, 2)))
                   AS u(i)),
        ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        tr AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
        SELECT tr.doc_id,
               count(DISTINCT tr.g)::BIGINT AS n_hit_grams,
               count(*)::BIGINT AS n_hits
        FROM tr JOIN ev USING (g)
        GROUP BY tr.doc_id""",
    "decontaminate_ngrams8_planted": f"""
        WITH snip AS (
          SELECT array_to_string(
                     list_slice(string_split(text, ' '), 1,
                                {DECON_REAL_N}), ' ') AS snippet
          FROM documents WHERE doc_id = 0),
        p AS (
          SELECT doc_id,
                 CASE WHEN doc_id % {PLANT_MOD} = 1
                      THEN text || ' ' || (SELECT snippet FROM snip)
                      ELSE text END AS text
          FROM documents),
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM p),
        grams AS (
          SELECT doc_id,
                 array_to_string(
                     list_slice(t, i, i + {DECON_REAL_N - 1}), ' ') AS g
          FROM toks,
               unnest(range(1, greatest(len(t) - {DECON_REAL_N - 2}, 2)))
                   AS u(i)),
        ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        tr AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
        SELECT tr.doc_id,
               count(DISTINCT tr.g)::BIGINT AS n_hit_grams,
               count(*)::BIGINT AS n_hits
        FROM tr JOIN ev USING (g)
        GROUP BY tr.doc_id""",
    "split_train_holdout": """
        WITH d AS (
          SELECT lang, n_chars,
                 ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT
                     % 10000 AS b
          FROM documents)
        SELECT lang,
               CASE WHEN b < 9800 THEN 'train'
                    WHEN b < 9900 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               sum(n_chars)::BIGINT AS sum_chars
        FROM d GROUP BY lang, split""",
    "chunk_documents": f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        spans AS (
          SELECT doc_id, t, len(t) AS n_tok,
                 unnest(range(0, greatest(
                     (len(t) - {CHUNK_WINDOW} + {CHUNK_STRIDE - 1})
                         // {CHUNK_STRIDE}, 0) + 1)) AS chunk_id
          FROM toks)
        SELECT doc_id, chunk_id,
               (chunk_id * {CHUNK_STRIDE} + 1)::BIGINT AS tok_start,
               least(chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW},
                     n_tok)::BIGINT AS tok_end,
               md5(array_to_string(list_slice(t,
                   chunk_id * {CHUNK_STRIDE} + 1,
                   least(chunk_id * {CHUNK_STRIDE} + {CHUNK_WINDOW},
                         n_tok)), ' ')) AS chunk_md5
        FROM spans""",
    "remove_boilerplate_lines": f"""
        WITH p AS (
          SELECT doc_id,
                 text || chr(10) || 'ref code ' || doc_id ||
                 CASE WHEN doc_id % 3 = 0
                      THEN chr(10) || 'subscribe to our newsletter today'
                      WHEN doc_id % 3 = 1
                      THEN chr(10) || 'all rights reserved worldwide'
                      ELSE '' END AS planted
          FROM documents),
        ls AS (SELECT doc_id, string_split(planted, chr(10)) AS arr
               FROM p),
        lines AS (
          SELECT doc_id, i AS pos, arr[i] AS line
          FROM ls, unnest(range(1, len(arr) + 1)) AS u(i)),
        freq AS (SELECT line, count(DISTINCT doc_id) AS nd
                 FROM lines GROUP BY line),
        boiler AS (SELECT line FROM freq
                   WHERE nd >= {BOILER_MIN_DOCS}),
        kept AS (
          SELECT l.doc_id, l.pos, l.line
          FROM lines l ANTI JOIN boiler b ON l.line = b.line)
        SELECT doc_id,
               string_agg(line, chr(10) ORDER BY pos) AS clean_text,
               count(*)::BIGINT AS n_lines_kept
        FROM kept GROUP BY doc_id""",
    "dedup_paragraphs": _DEDUP_PARAGRAPHS_ORACLE,
    # the hashed-line plan is output-identical BY CONTRACT — same
    # oracle, so the driver proves the scale form against DuckDB
    # directly, not merely against the verbatim path
    "dedup_paragraphs_hashed": _DEDUP_PARAGRAPHS_ORACLE,
    "lm_doc_scores": f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        bi AS (
          SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
          FROM toks, unnest(range(1, len(t))) AS u(i)),
        c AS (SELECT w1, w2, count(*)::BIGINT AS n_pair
              FROM bi GROUP BY w1, w2),
        lm AS (SELECT w1, w2, n_pair,
                      sum(n_pair) OVER (PARTITION BY w1)::BIGINT AS n_w1
               FROM c),
        scored AS (
          SELECT bi.doc_id,
                 count(*)::BIGINT AS n_bigrams,
                 sum(({LM_SCALE}::BIGINT * lm.n_pair) // lm.n_w1)::BIGINT
                     AS lm_score_sum
          FROM bi JOIN lm USING (w1, w2)
          GROUP BY bi.doc_id)
        SELECT doc_id, n_bigrams, lm_score_sum,
               (lm_score_sum // n_bigrams)::BIGINT AS lm_score_avg
        FROM scored""",
    "bpe_encode_top_words": _bpe_encode_oracle(),
    "shard_and_order": f"""
        WITH d AS (
          SELECT doc_id, md5(doc_id::VARCHAR) AS h FROM documents),
        s AS (SELECT doc_id, h,
                     ('0x' || substr(h, 1, 6))::BIGINT % {N_SHARDS}
                         AS shard
              FROM d)
        SELECT shard, doc_id,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY h, doc_id) AS pos
        FROM s""",
    # the SINGLE-WINDOW formulation — the Spark side runs the
    # distributed prefix sum (bucket subtotals + offsets + local
    # cumsum), so this parity check IS the proof the decomposition
    # is identical to the serial cumulative sum
    "lang_quota_sample": f"""
        WITH d AS (SELECT lang, doc_id,
                          len(string_split(text, ' '))::BIGINT AS toks,
                          {H.HASH60_SQL.format('doc_id::VARCHAR')} AS h
                   FROM documents),
        c AS (SELECT lang, doc_id, toks,
                     -- ::BIGINT: DuckDB's windowed sum(BIGINT) yields
                     -- a HUGEINT/DECIMAL, which the hash normalizer
                     -- renders as '88.0' vs Spark's long '88'
                     sum(toks) OVER (PARTITION BY lang
                                     ORDER BY h, doc_id
                                     ROWS UNBOUNDED PRECEDING)::BIGINT
                         AS cum_toks
              FROM d)
        SELECT lang, doc_id, toks, cum_toks
        FROM c WHERE cum_toks <= {QUOTA_TOKENS}""",
    # the serial single-window rank — the Spark side runs the
    # decomposed (cell offsets + per-cell row_number) form, so this
    # parity check proves the decomposition identity; tie order within
    # a score is (hash, doc_id) — the bucket key is a hash PREFIX, so
    # ordering by (toks, h, doc_id) here equals the Spark side's
    # (toks, bkt, h, doc_id); the keep predicate is the same
    # exact-integer inequality on both engines
    "quality_percentile_filter": f"""
        WITH d AS (SELECT lang, doc_id,
                          len(string_split(text, ' '))::BIGINT AS toks,
                          {H.HASH60_SQL.format('doc_id::VARCHAR')} AS h
                   FROM documents),
        r AS (SELECT lang, doc_id, toks,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY toks, h, doc_id) AS rk,
                     count(*) OVER (PARTITION BY lang) AS n_lang
              FROM d)
        SELECT lang, doc_id, toks, rk, n_lang
        FROM r
        WHERE {QUALITY_PCT_DEN} * (rk - 1)
              >= {QUALITY_PCT_NUM} * (n_lang - 1)""",
    "curation_funnel_counts": _funnel_oracle(),
}
