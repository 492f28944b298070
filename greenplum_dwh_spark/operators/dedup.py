"""Deduplication operators for large-scale training-data pipelines.

The family's members sit at different points on the exactness/scale
frontier (BASELINE.json north star; PAPERS.md set-similarity-join
literature).  The core joins:

- ``dedup_exact`` — hash-groupBy on content digest. One shuffle on the
  digest; at 100 TB this is the classic first pass (map-side combine on
  md5 keys, no skew because digests are uniform).
- ``dedup_minhash_lsh`` — word-3-gram shingles → 64 min-wise hashes
  (arithmetic permutations over one xxhash64) → 32 bands × 2 rows →
  candidate pairs → **exact jaccard verification**. The verification
  step makes the output equal to the brute-force ground truth (miss
  probability (1-j²)^32 < 1e-14 where this corpus' near-dups live),
  which is exactly what the DuckDB oracle computes — the approximate
  scale path is checked against the exact answer.
- ``dedup_simhash`` — 60-bit simhash over shingle hashes, 10×6-bit
  band join (pigeonhole-complete for hamming ≤ 9) + exact hamming
  verify at ≤ 8. Again: banded plan, ground-truth output.  It runs on
  the hamming-band kernel (``_hamming_pairs``, recall probe
  ``_hamming_guard_probe``), whose only per-family input is the band
  layout; image dHash (``multimodal_ops``) is its other user.
- ``dedup_jaccard_prefix`` — exact word-2-gram jaccard join via
  PPJoin-style prefix + size-ratio + positional filtering. Fully
  exact, no probabilistic step; the positional (overlap upper-bound)
  filter keeps the candidate set near-linear even on this synthetic
  corpus's tiny uniform vocabulary, which is the worst case for the
  prefix filter alone.
- ``dedup_char_jaccard`` — char-4-gram jaccard: the PPJoin prefix
  path plus a minhash-banded dense leg.
- ``dedup_containment`` — the ``|A∩B| / min(|A|,|B|)`` subset join.
- ``dedup_incremental`` — new docs probed against the corpus's bands
  (the asymmetric band probe the streaming ingest shares).
- ``neardup_clusters`` — connected components over the verified pair
  graph via alternating large-star/small-star contraction (O(log² n)
  rounds, lineage truncated per round).

Built on those: ``knn_doc_graph``, ``dedup_keep_best``,
``split_leakage_safe``, ``dedup_source_overlap``; plus the
suffix-array ``dedup_repeated_spans``.

Every candidate path is filter → verify, with one implementation per
step.  Banded candidates come from the hot-band guard
(``_guarded_bands``) and one of two expansions, each called directly
by its family: the group expansion ``_banded_candidates`` (wide
alphabets: minhash, embedding SRP in ``similarity``, the char dense
leg) or the bucket self-join ``_guarded_band_join`` (the hamming
kernel's narrow alphabets).  The PPJoin family (word and char
jaccard, containment) shares one prefix index (``_prefix_index``) and
one two-stage verify (``_verified_pairs``: signature pre-filter, then
exact set measure).

Their observables live in one registry (``_OBSERVABLES``) holding the
newest entry of each family: ``band_guard`` (guard drops, plus the hot
split's stage-1 saturation), ``ppjoin`` (candidates that reached the
exact verify) and ``srp`` (the embedding alphabet decision).  One
helper (``_observed``) attaches each Observation with its fallback
plan; one reader serves ``last_band_guard_metrics``,
``last_ppjoin_metrics``, ``similarity.last_srp_config`` and
``take_observables``, the per-query record ``bench.py`` harvests.

All hot paths are pure Spark SQL expressions (whole-stage codegen);
no Python UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from greenplum_dwh_spark.functions import hashing as H
from greenplum_dwh_spark.session import join_side, row_bytes
from greenplum_dwh_spark.sources.tpch import Tables

JACCARD_THRESHOLD = 0.5
SIMHASH_MAX_DIST = 8
PREFIX_THRESHOLD = 0.6
#: char-4-gram jaccard: the corpus' planted near-dups sit ≥ 0.8 in
#: char-gram space, organics < 0.5 (measured at sf0.01) — 0.7 is mid-gap
CHAR_JACCARD_THRESHOLD = 0.7

#: hot-band guard: LSH band buckets larger than this are dropped before
#: the self-join.  A degenerate band value (identical boilerplate across
#: a corpus slice) otherwise makes one bucket quadratic — the classic
#: banded-LSH failure at scale.  Pairs whose only collisions are in hot
#:  buckets are lost (documented recall trade); exact duplicates should
#: be removed by ``exact_dedup`` *first*, which catches the
#: all-identical case precisely.  1000 is far above any bucket this
#: corpus produces (oracle parity unaffected) while bounding worst-case
#: candidates per bucket at ~5·10⁵.
BAND_CAP = 1000


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One row per distinct text: digest, cluster size, representative
    (min doc_id) — the exact-dedup primitive. ``docs`` needs
    (doc_id, text)."""
    return (docs
            .select(F.md5("text").alias("digest"), "doc_id")
            .groupBy("digest")
            .agg(F.count(F.lit(1)).alias("n_copies"),
                 F.min("doc_id").alias("rep_doc_id")))


def _cache_stats(cached: DataFrame) -> tuple[int, int]:
    """(rows, bytes) of a FILLED cache.  A filled cache's statistics
    are measured, not estimated (500 set-index rows read 594 KB at
    sf0.01), so reading them starts no job."""
    stats = (cached.select("*")._jdf.queryExecution().optimizedPlan()
             .stats())
    return int(stats.rowCount().get()), int(stats.sizeInBytes())


def _set_stats(sets_df: DataFrame, *aggs) -> tuple:
    """(docs, Σ|s|, bytes, *aggs) of a CACHED (doc_id, s) set index,
    from one aggregate over it: the job fills the cache the operator's
    action would fill anyway, and the filled cache's measured rows and
    bytes (:func:`_cache_stats`) size the family's join sides
    (:func:`~greenplum_dwh_spark.session.join_side`)."""
    row = sets_df.agg(F.coalesce(F.sum(F.size("s")), F.lit(0)),
                      *aggs).first()
    docs, size = _cache_stats(sets_df)
    return (docs, row[0], size, *row[1:])


def _gram_freq(grams: DataFrame) -> tuple:
    """(freq, freq bytes, stats) of a CACHED (doc_id, s) set index:
    ``freq`` is its cached gram document-frequency table (g, df), and
    ``stats`` is (docs, Σ|s|, set bytes) as :func:`_set_stats` reads
    them.  One aggregate over ``freq`` fills both caches, so every size
    is measured: the df table is one row per DISTINCT gram, which a
    bound of Σ|s| rows overstated ~350× (word 2-grams) and ~1,700×
    (char 4-grams) at the derived sf1."""
    freq = (grams.select(F.explode("s").alias("g"))
            .groupBy("g").agg(F.count(F.lit(1)).alias("df"))
            .cache())
    n_elems = freq.agg(F.coalesce(F.sum("df"), F.lit(0))).first()[0]
    docs, sets_bytes = _cache_stats(grams)
    return freq, _cache_stats(freq)[1], (docs, n_elems, sets_bytes)


def _pairs_with_jaccard(pairs: DataFrame, sets_df: DataFrame,
                        sets_bytes: int) -> DataFrame:
    """pairs (doc_a, doc_b) × per-doc shingle sets → exact jaccard.

    The per-doc set index's join side is chosen by its size
    ``sets_bytes`` against the one limit (``session.join_side``).
    Under it the index is broadcast: a shuffle join here moves one
    shingle *array* per candidate row (~1 KB each — measured 16 GB
    shuffled and 90 s for 10.9 M candidates at the derived sf1), while
    the index itself is one row per doc (~1 KB/doc — its filled cache
    reads 71 MB at the derived sf1's 50 k docs, under the limit).
    Broadcast attaches the arrays map-side and the select drops them
    immediately after the measure, so nothing array-sized is ever
    exchanged.  Past the limit it joins by sort-merge rather than
    broadcast an index the driver cannot hold."""
    sets = join_side(sets_df, sets_bytes)
    a = sets.alias("sa")
    b = sets.alias("sb")
    return (pairs
            .join(a, F.col("doc_a") == F.col("sa.doc_id"))
            .join(b, F.col("doc_b") == F.col("sb.doc_id"))
            .select("doc_a", "doc_b",
                    H.jaccard(F.col("sa.s"), F.col("sb.s")).alias("jac")))


#: the newest registration of each near-dup metric family, keyed by
#: family: ``band_guard`` (:func:`_guarded_bands`, plus the hot split's
#: stage 1), ``ppjoin`` (:func:`_verified_pairs`) and ``srp`` (the
#: embedding alphabet decision in ``similarity``).  An entry is a tuple
#: of parts, each an ``(Observation, fallback)`` pair from
#: :func:`_observed` or a dict of values known when the plan was
#: built.  Process-wide, newest wins: foreachBatch handlers register on
#: the py4j callback thread while their callers read on the main
#: thread.  Read by the ``last_*`` readers and :func:`take_observables`.
_OBSERVABLES: dict[str, tuple] = {}


def _observed(df: DataFrame, aggs: list, family: str | None = None,
              rides: tuple = ()):
    """Attach an Observation of ``aggs`` to ``df`` → ``(observed df,
    part)``, where ``part`` pairs the Observation with ``df.agg(*aggs)``,
    the metric-free fallback a reader recomputes when AQE pruned the
    observed node away (zero rows reached it).  With ``family``, the
    part and the ``rides`` parts become that family's newest
    :data:`_OBSERVABLES` entry.  The observed node must appear exactly
    ONCE in the executed plan."""
    from pyspark.sql import Observation
    obs = Observation()
    observed = df.observe(obs, *aggs)
    part = (obs, df.agg(*aggs))
    if family is not None:
        _OBSERVABLES[family] = (part, *rides)
    return observed, part


def _metrics(part) -> dict:
    """Metrics of one ``part`` of :func:`_observed`; call *after* the
    action that ran the plan.  An Observation whose node AQE's
    empty-relation propagation pruned never fires, so its metrics are
    recomputed from the retained fallback plan (one extra small job)."""
    obs, fallback = part
    try:
        return obs.get
    except Exception:
        return fallback.first().asDict()


def _checkpointed(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` local-checkpointed, and its row count.  The count is
    observed by the checkpoint's own job, so it starts no job of its
    own (:func:`_metrics`)."""
    observed, part = _observed(df, [F.count(F.lit(1)).alias("n")])
    checkpoint = observed.localCheckpoint()
    return checkpoint, int(_metrics(part)["n"])


def _as_ints(stats: dict) -> dict:
    """Observed stats as ints.  A NULL aggregate reads 0 (an EMPTY
    observed leg, e.g. the split's stage 2 when no composite bucket
    exists, observes max = NULL), and ``dropped_buckets_frac`` — each
    member of a dropped bucket adds 1/``_bn`` — rounds to
    ``dropped_buckets``."""
    m = {k: int(v or 0) for k, v in stats.items()
         if k != "dropped_buckets_frac"}
    if "dropped_buckets_frac" in stats:
        m["dropped_buckets"] = int(round(stats["dropped_buckets_frac"]
                                         or 0.0))
    return m


def _read(family: str) -> dict | None:
    """Metrics of ``family``'s newest entry, or None if none is
    registered; call *after* the action that ran the plan
    (:func:`_metrics`)."""
    entry = _OBSERVABLES.get(family)
    if entry is None:
        return None
    m: dict = {}
    for part in entry:
        m.update(part if isinstance(part, dict) else _metrics(part))
    return _as_ints(m)


def take_observables() -> dict:
    """``{family: metrics}`` of every registered family, then empty the
    registry — the per-query record: call it before a query runs and
    again after its action to get exactly what that query
    registered."""
    out = {family: _read(family) for family in list(_OBSERVABLES)}
    _OBSERVABLES.clear()
    return out


def last_band_guard_metrics() -> dict | None:
    """Metrics of the most recent hot-band-guard evaluation:
    ``{"dropped_rows", "max_band_size", "dropped_buckets"}`` —
    populated by the Spark action that executed the guarded plan
    (``Observation``-based: zero extra jobs on the hot path).
    ``None`` if no banded operator has run yet; call *after* the
    action on the operator's output has finished.

    When the hot-band SPLIT registered the guard, dropped_* are the
    stage-2 COMPOSITE residual, and ``rerouted_rows`` /
    ``max_raw_band_size`` carry the raw single-band saturation its
    stage 1 absorbed (so a round-over-round artifact diff sees the
    alphabet saturating, not a guard that mysteriously stopped
    firing)."""
    return _read("band_guard")


def _guard_aggs(band_cap: int) -> list:
    """Over-cap memberships, over-cap buckets (each member adds
    1/``_bn``) and the largest bucket of a ``_bn``-counted band
    table."""
    dropped = F.col("_bn") > band_cap
    return [
        F.sum(F.when(dropped, 1).otherwise(0)).alias("dropped_rows"),
        F.sum(F.when(dropped, 1.0 / F.col("_bn"))
              .otherwise(0.0)).alias("dropped_buckets_frac"),
        F.max("_bn").alias("max_band_size")]


def _guarded_bands(bands: DataFrame, band_cap: int, rides: tuple = ()):
    """Shared hot-band guard: windowed per-band count + Observation
    metrics.  Returns ``(observed, counted, keep)`` where ``observed``
    carries the CollectMetrics node (must appear exactly ONCE in the
    executed plan — join it as the left/probe side only), ``counted``
    is the metric-free twin for the other side, and ``keep`` is the
    under-cap predicate.  Both the self-join and the asymmetric
    incremental probe build on this, so band-cap drops are observable
    (``last_band_guard_metrics``) on every banded path; ``rides`` are
    extra parts of the same entry (the split's stage 1)."""
    w = Window.partitionBy("band")
    counted = bands.withColumn("_bn", F.count(F.lit(1)).over(w))
    observed, _ = _observed(counted, _guard_aggs(band_cap), "band_guard",
                            rides)
    return observed, counted, F.col("_bn") <= band_cap


def _new_vs_base_candidates(tagged: DataFrame, band_cap: int,
                            new_rows: int) -> DataFrame:
    """The asymmetric band probe: (doc_id, band, is_new) memberships
    → distinct (doc_a = new, doc_b = base) pairs sharing an under-cap
    band; never new-new pairs.  The cap counts each band's COMBINED
    new + base occupancy (:func:`_guarded_bands`, Observation on the
    new side), so it trips where the self-join's does: a base-only
    count would keep a band the new docs push over the cap.  The new
    side's join side is sized from ``new_rows``, a bound on its
    memberships (new docs × bands) that the caller already holds."""
    observed, counted, keep = _guarded_bands(tagged, band_cap)
    new_side = observed.filter(keep & F.col("is_new"))
    base_side = counted.filter(keep & ~F.col("is_new"))
    new_side = join_side(new_side, new_rows * row_bytes(new_side))
    return (new_side.alias("a")
            .join(base_side.alias("b"), "band")
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def _band_self_join(a: DataFrame, b: DataFrame) -> DataFrame:
    """(doc_id, band) memberships ``a`` ⋈ ``b`` on band → (doc_a,
    doc_b) pairs with doc_a < doc_b, one row per shared band."""
    return (a.alias("a").join(b.alias("b"), "band")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b")))


def _banded_candidates(bands: DataFrame,
                       band_cap: int = BAND_CAP) -> DataFrame:
    """(doc_id, band) → candidate pairs (doc_a < doc_b) by GROUP
    expansion, with the hot-band guard: buckets above ``band_cap``
    members are dropped entirely (see :data:`BAND_CAP`), and the
    dropped rows are *observed*, not silently lost (readable afterwards
    via :func:`last_band_guard_metrics`).

    ONE groupBy(band) gathers each bucket into a sorted array and pairs
    are expanded with posexplode + slice: the fewest exchanges and a
    SINGLE reference to the band subtree — right for wide band
    alphabets (concat minhash / SRP keys) whose buckets are small.  A
    self-join there pays a Window sort plus a duplicated band pipeline
    (the CollectMetrics node may appear only once in the executed
    plan, so the join's other side is a metric-free twin Spark cannot
    exchange-reuse — on minhash that twin re-runs the 64-perm
    signature aggregation).  Small fixed alphabets, whose buckets
    approach the cap, join instead (:func:`_guarded_band_join`).

    Returns the candidate MULTISET, one row per shared under-cap
    bucket: a caller dedupes where it is cheapest (minhash and SRP
    before their verify, the char dense leg after its signature
    filter).

    The cap filter runs BEFORE the per-band array is built:
    collect_list's aggregation buffer is not spillable, so one
    degenerate band (empty-shingle docs, a constant column) collected
    whole puts millions of doc_ids into one buffer → executor OOM.
    The windowed count (:func:`_guarded_bands`) buffers each band in a
    SPILLABLE window group, the filter drops over-cap and singleton
    bands, and only then does collect_list build arrays — every buffer
    ≤ ``band_cap`` elements by construction.  The window rides the
    same hash partitioning the groupBy needs (one exchange total), and
    the band subtree is still referenced once (a count-then-join
    two-pass references it twice, re-running the minhash signature
    aggregation on uncached callers)."""
    observed, counted, keep = _guarded_bands(bands, band_cap)
    grouped = (observed
               .filter(keep & (F.col("_bn") >= 2))
               .groupBy("band")
               .agg(F.sort_array(F.collect_list("doc_id")).alias("_ds")))
    # posexplode i is 0-based; slice() is 1-based, so i + 2 starts at
    # the element after doc_a and the over-long length argument
    # truncates.  The trailing doc_a < doc_b filter is
    # belt-and-braces: with unique (doc_id, band) memberships the
    # sorted expansion already emits only ascending pairs.
    return (grouped
            .select(F.posexplode("_ds").alias("i", "doc_a"), F.col("_ds"))
            .select("doc_a",
                    F.explode(F.expr("slice(_ds, i + 2, size(_ds))"))
                    .alias("doc_b"))
            .filter(F.col("doc_a") < F.col("doc_b")))


def _guarded_band_join(bands: DataFrame, band_cap: int,
                       rides: tuple = ()) -> DataFrame:
    """(doc_id, band) → candidate MULTISET (doc_a < doc_b, one row per
    shared under-cap bucket) by streaming bucket self-join under the
    hot-band guard — the expansion for small fixed band alphabets
    (hamming bands, the hot split's composite re-keys) whose buckets
    approach the cap: the join streams pair emission with no
    per-bucket array slicing (:func:`_banded_candidates` copies O(c)
    array cells per member, quadratic per bucket) and AQE can
    skew-split the probe side.  Measured at sf0.1, best-of-5 warm,
    full verify chains: simhash 0.90 s join vs 1.25 s group; minhash
    0.83 s group vs 1.29 s join.  Only the probe side carries the
    guard's Observation: a CollectMetrics node duplicated by the
    self-join breaks metric retrieval.  ``rides`` as in
    :func:`_guarded_bands`."""
    observed, counted, keep = _guarded_bands(bands, band_cap, rides)
    return _band_self_join(observed.filter(keep), counted.filter(keep))


def _set_bands(sets_df: DataFrame,
               element_mod: int | None = None,
               band_r: int = H.MINHASH_BAND_R) -> DataFrame:
    """(doc_id, band) LSH band keys from a (doc_id, s=element array)
    set index: 64 minhash perms banded ``MINHASH_BAND_R`` rows per
    band.  The banding kernel behind :func:`_minhash_bands` AND the
    char-gram dense leg of the hybrid prefix join
    (:func:`_prefix_filtered_pairs`) — the element type never matters,
    only set membership.

    ``element_mod``: deterministically hash-sample the SETS (keep
    elements with ``xxhash64 % mod == 0``) before sketching.  Both
    docs of a pair sample consistently (same hash), and jaccard of
    consistently-sampled sets concentrates around the true jaccard
    (sd ≈ √(j(1−j)/|union∩sample|) — ±0.02 at mod 4 on ~1800-gram
    char sets), so banded detection probability at the 0.7 threshold
    barely moves while the dominant signature cost (64 affine perms ×
    every element occurrence) drops by the mod factor.  Only useful
    on element-heavy sets — word-shingle callers keep None.

    ``band_r``: rows per band.  Detection at similarity j is
    ``1 − (1 − j^r)^(64//r)`` — r tunes WHERE the S-curve sits:
    r=2 (32 bands) detects ≥ 1−4e-10 at j=0.7 but collides at
    rate j² on background pairs (measured 9.3 M collision rows at
    sf0.1 char-grams, background j ≈ 0.11); r=3 (21 bands) still
    detects ≥ 1−1.5e-4 at 0.7 (≥ 1−3e-7 at 0.8) while background
    collisions drop by the extra j factor (~13×)."""
    ex = sets_df.select("doc_id", F.explode("s").alias("sh"))
    if element_mod is not None:
        ex = ex.filter(F.pmod(F.xxhash64("sh"), F.lit(element_mod)) == 0)
    sig = ex.groupBy("doc_id").agg(*H.minhash_aggs())
    n_bands = H.MINHASH_PERMS // band_r
    entries = ", ".join(
        "concat_ws(':', '{}', {})".format(
            b, ", ".join(f"m{b * band_r + r}" for r in range(band_r)))
        for b in range(n_bands))
    return sig.select(
        "doc_id", F.expr(f"explode(array({entries})) AS band"))


def _minhash_bands(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(doc_id, band) LSH band keys for every doc, plus the cached
    per-doc shingle-set index the exact verify step needs.  Shared by
    the self-join (:func:`minhash_pairs`) and the asymmetric
    new-vs-corpus (:func:`incremental_minhash_pairs`) plans."""
    sets_df = H.with_word_shingles(docs).cache()
    return _set_bands(sets_df), sets_df


def minhash_pairs(docs: DataFrame,
                  threshold: float = JACCARD_THRESHOLD,
                  band_cap: int = BAND_CAP) -> DataFrame:
    """Near-duplicate pairs (doc_a, doc_b, jac) of a (doc_id, text)
    DataFrame via minhash-LSH + exact verification."""
    bands, sets_df = _minhash_bands(docs)
    cand = _banded_candidates(bands, band_cap).distinct()
    _, _, sets_bytes = _set_stats(sets_df)
    return (_pairs_with_jaccard(cand, sets_df, sets_bytes)
            .filter(F.col("jac") >= threshold))


def incremental_minhash_pairs(docs: DataFrame, is_new,
                              threshold: float = JACCARD_THRESHOLD,
                              band_cap: int = BAND_CAP) -> DataFrame:
    """Asymmetric near-dup join: NEW documents against the EXISTING
    corpus — the shape continuous-ingestion dedup actually runs.  A
    production pipeline does not re-self-join 100 TB per increment; it
    keeps the corpus' band index materialized and probes it with the
    (much smaller) new batch, so per-run cost is
    O(new·bands + collisions), independent of corpus size.  Here both
    sides come from one table for the oracle's sake (``is_new`` is a
    boolean Column over ``doc_id``), but the plan is the asymmetric
    one: band build → windowed hot-band guard (same recipe and cap as
    the self-join — one exchange, shared with the join) → new×base
    join on band → exact jaccard verify, so banding recall loss can't
    leak into the output.  New-new pairs are deliberately NOT emitted
    (that is the separate self-dedup pass on the increment).

    Returns (new_doc, base_doc, jac) with jac ≥ ``threshold``."""
    bands, sets_df = _minhash_bands(docs)
    _, _, sets_bytes, n_new = _set_stats(
        sets_df, F.coalesce(F.sum(is_new.cast("long")), F.lit(0)))
    cand = _new_vs_base_candidates(
        bands.withColumn("is_new", is_new), band_cap,
        n_new * (H.MINHASH_PERMS // H.MINHASH_BAND_R))
    return (_pairs_with_jaccard(cand, sets_df, sets_bytes)
            .filter(F.col("jac") >= threshold)
            .select(F.col("doc_a").alias("new_doc"),
                    F.col("doc_b").alias("base_doc"), "jac"))


#: SWAR packing for the simhash bit-count aggregate: 60 per-bit
#: counters packed 4-per-long in 16-bit fields — 15 sum buffers + one
#: count instead of 60 conditional sums (4× narrower aggregation
#: state).  Field width 16 caps the per-doc shingle count at 16383
#: before the packed long sum could overflow (16383·(2⁴⁸+2³²+2¹⁶+1)
#: < 2⁶³); a 16k-shingle document is a ~16k-word text, far beyond any
#: training-data document this operator should see un-chunked.
_SIMHASH_PACK_FIELDS = 4
_SIMHASH_PACK_WIDTH = 16


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """60-bit simhash per doc over word-3-gram shingle hashes.

    The majority vote per bit j is ``ones_j > n/2`` (⇔ the classic
    ±1 sum > 0, ties → 0): counting ones and the row total is enough,
    so the ones-counts are packed 4-per-long (see
    :data:`_SIMHASH_PACK_FIELDS`) and unpacked after the aggregate."""
    ex = (H.with_word_shingles(docs)
          .select("doc_id", F.explode("s").alias("sh")))
    h = ex.select("doc_id", H.hash60(F.col("sh")).alias("hh"))
    nf, wf = _SIMHASH_PACK_FIELDS, _SIMHASH_PACK_WIDTH
    n_longs = H.SIMHASH_BITS // nf
    # parsed SQL strings, one F.expr per packed long / the vote sum:
    # the Column-API formulation cost ~2 s of py4j round trips per
    # call building these ~500-node trees (profiled round 11); the
    # parsed expressions are value-identical
    packed = [
        " + ".join(
            f"(CAST(shiftright(hh, {nf * k + m}) & 1 AS BIGINT)"
            f" * {1 << (wf * m)}L)"
            for m in range(nf))
        for k in range(n_longs)]
    agg = h.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"sum({packed[k]}) AS p{k}") for k in range(n_longs)])

    def ones(j: int) -> str:
        k, m = divmod(j, nf)
        return f"(shiftright(p{k}, {wf * m}) & {(1 << wf) - 1})"

    fp = " + ".join(
        f"IF({ones(j)} * 2 > n, {1 << j}L, 0L)"
        for j in range(H.SIMHASH_BITS))
    return agg.select("doc_id", F.expr(f"({fp}) AS fp"))


#: simhash's hamming band layout: (hash columns, bits per column,
#: bits per band) — one 60-bit column in 10 bands of 6 bits
_SIMHASH_LAYOUT = (("fp",), H.SIMHASH_BITS, H.SIMHASH_BAND_BITS)


def _hamming_bands(fps: DataFrame, cols, col_bits: int,
                   band_bits: int) -> DataFrame:
    """(doc_id, band) rows from a (doc_id, *cols) hash table: each
    column cut into ``col_bits // band_bits`` bands, numbered across
    the columns, keyed ``"<i>:<value>"`` — the bands of the
    hamming-band kernel's join, hotness decision and recall probe,
    and of the streaming dHash index probe."""
    per_col = col_bits // band_bits
    mask = (1 << band_bits) - 1
    keys = [
        F.concat_ws(":", F.lit(str(i * per_col + b)),
                    F.shiftrightunsigned(F.col(c), band_bits * b)
                    .bitwiseAND(mask).cast("string"))
        for i, c in enumerate(cols) for b in range(per_col)]
    return fps.select("doc_id", F.explode(F.array(*keys)).alias("band"))


def _hamming_verify(cand: DataFrame, cols, max_dist: int,
                    fps: DataFrame,
                    base: DataFrame | None = None) -> DataFrame:
    """(doc_a, doc_b) candidates → (doc_a, doc_b, hamming) pairs within
    ``max_dist``: hashes of doc_a from ``fps``, of doc_b from ``base``
    (default ``fps``), distance = JVM-side xor + popcount summed over
    ``cols`` — one verify for every hamming-band join."""
    base = fps if base is None else base
    fa = fps.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(c).alias(f"{c}_a") for c in cols])
    fb = base.select(F.col("doc_id").alias("doc_b"),
                     *[F.col(c).alias(f"{c}_b") for c in cols])
    bits = [F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b")))
            for c in cols]
    dist = sum(bits[1:], bits[0])
    return (cand.join(fa, "doc_a").join(fb, "doc_b")
            .select("doc_a", "doc_b", dist.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_dist))


#: (fps-plan semanticHash, band_cap) → bool(hot), so repeated
#: hamming-band calls on the same fingerprint relation decide the
#: hot-split plan shape without re-running the decision jobs (see the
#: memo discussion in :func:`_bands_hot`); insertion-ordered dict
#: doubles as a bounded FIFO
_HOTNESS_MEMO: dict[tuple, bool] = {}
_HOTNESS_MEMO_MAX = 64


def _split_routing(bands: DataFrame, band_cap: int,
                   observe_hot: bool = False):
    """The ONE definition of the hot-band split's routing — shared by
    the operator (:func:`_split_banded_candidates`) and the recall
    probe's rescued-pair leg, so the probe can never drift into
    grading a join the operator no longer runs.

    Returns ``(cool, comp, stage1)``: under-cap (doc_id, band)
    memberships; over-cap memberships re-keyed by the composite (hot
    band value, each of the doc's other band values) under the SAME
    ``band`` column name; and, with ``observe_hot``, the
    :func:`_observed` part of the stage-1 saturation metrics
    (rerouted_rows / max_raw_band_size) on the hot leg, else None.
    The per-band size table is alphabet-bounded (≤ n_bands · 2^bits
    rows), so it broadcasts — the routing costs no corpus shuffle on
    top of the join's own."""
    sizes = bands.groupBy("band").agg(F.count(F.lit(1)).alias("_bn"))
    bz = bands.join(F.broadcast(sizes), "band")
    cool = bz.filter(F.col("_bn") <= band_cap).select("doc_id", "band")
    hot = bz.filter(F.col("_bn") > band_cap)
    stage1 = None
    if observe_hot:
        hot, stage1 = _observed(
            hot, [F.count(F.lit(1)).alias("rerouted_rows"),
                  F.max("_bn").alias("max_raw_band_size")])
    other = bands.select("doc_id", F.col("band").alias("band2"))
    # band strings carry their band index ("<i>:<value>"), so
    # band2 != band excludes exactly the same-index row of the doc
    comp = (hot.join(other, "doc_id")
            .filter(F.col("band2") != F.col("band"))
            .select("doc_id",
                    F.concat_ws("|", "band", "band2").alias("band")))
    return cool, comp, stage1


def _split_banded_candidates(bands: DataFrame,
                             band_cap: int) -> DataFrame:
    """Hot-band AUTO-SPLIT candidate generation — the answer to
    simhash's band-alphabet saturation: a 6-bit alphabet puts ~n/640
    docs in EVERY bucket once n passes ~100k·cap, where a drop guard
    would lose those rows wholesale.

    Buckets at or under ``band_cap`` self-join.  Members of
    an over-cap bucket are NOT dropped: each hot membership is
    re-keyed by the composite (hot band value, each of the doc's
    other band values) and the composite buckets join under the
    same cap (:func:`_split_routing`).  Pigeonhole keeps this EXACT
    for qualifying pairs within the split's bound
    (:func:`_hamming_rules`): they meet on a composite key.  The
    composite alphabet is the band alphabet SQUARED (×band-pair
    choice), so saturation needs ~2¹² × the corpus that saturates a
    single band; residual drops (composite bucket still over cap —
    e.g. thousands of IDENTICAL fingerprints, the degenerate cluster
    the cap exists for) remain observed via the stage-2 guard, and
    the stage-1 saturation itself (rerouted memberships, max raw
    bucket) is observed alongside it — both land in
    :func:`last_band_guard_metrics` so artifact readers see the
    saturation signal AND the residual exposure, not one renamed as
    the other."""
    cool, comp, stage1 = _split_routing(bands, band_cap,
                                        observe_hot=True)
    cool_cand = _band_self_join(cool, cool)
    # composite re-keys of an already-saturated alphabet: buckets run
    # right up to the cap, so the streaming join expansion applies;
    # stage 1 rides in the stage-2 guard's entry, so a later guard
    # replaces both
    hot_cand = _guarded_band_join(comp, band_cap, rides=(stage1,))
    return cool_cand.unionByName(hot_cand)


def _hamming_rules(layout, max_dist: int) -> bool:
    """The plan rules of a hamming band layout, from its band count.
    Plain banding is pigeonhole-complete only for ``max_dist`` ≤
    n_bands − 1, so a larger distance raises.  The hot-split
    composite re-key needs ``max_dist`` ≤ n_bands − 2 (both endpoints
    share the hot band, so one of the OTHER bands must agree); the
    return value says whether the split may run.  Past it the
    operator keeps the plain drop guard (drops observed) and the
    recall probe credits no split-rescued pairs."""
    cols, col_bits, band_bits = layout
    n_bands = len(cols) * (col_bits // band_bits)
    if max_dist > n_bands - 1:
        raise ValueError(
            f"{n_bands}×{band_bits}-bit banding is complete only for "
            f"hamming ≤ {n_bands - 1}, got {max_dist}")
    return max_dist <= n_bands - 2


def _bands_hot(fps: DataFrame, bands: DataFrame, band_cap: int,
               band_bits: int) -> bool:
    """Whether any band bucket of ``bands`` holds more than
    ``band_cap`` docs — the hot-split plan choice.

    A bounded driver decision, same class as the fuzzy block-count
    in training_data.py.  On an unsaturated corpus the split's
    routing aggregate + broadcast + two-leg union is pure overhead
    (measured +0.9 s at sf0.1 on simhash, r07 verdict item 3), so the
    single-leg plan is built when no band is hot — output is
    identical both ways because the hot leg would be empty.  The
    decision costs almost nothing at either extreme because
    pigeonhole settles it from the DOC COUNT alone: every band
    partitions the n fingerprints into ≤ 2^bits buckets, so
    n > cap·2^bits forces an over-cap bucket in EVERY band (split
    needed — the 100 TB branch, no corpus job beyond a count), while
    n ≤ cap cannot fill any bucket past the cap.  Only inside the
    bounded window between (cap < n ≤ cap·2^bits, i.e. a ≤64k-doc
    simhash corpus at the default cap) does the exact
    alphabet-bounded size aggregate run — small by construction
    exactly where it runs (measured 0.4 s at sf0.1; the r08.0
    version ran it unconditionally and paid 21 s of fingerprint
    build at sf10 for a decision pigeonhole already knew).

    The result is memoized on (fingerprint plan semantic hash, cap):
    the decision is a pure function of the fps relation, and a memo
    hit is valid exactly as long as the caller's fps cache is (both
    assume the source doesn't mutate under an unchanged plan
    mid-session).  Worst case on a (≈2⁻³³) semantic-hash collision
    the single-leg plan runs on a hot corpus — whose guard OBSERVES
    the drops, so even the pathological miss is visible, never
    silent."""
    mkey = (fps.semanticHash(), band_cap)
    hot = _HOTNESS_MEMO.get(mkey)
    if hot is None:
        n = fps.count()
        if n <= band_cap:
            hot = False
        elif n > band_cap << band_bits:
            hot = True
        else:
            max_bn = (bands.groupBy("band")
                      .agg(F.count(F.lit(1)).alias("_bn"))
                      .agg(F.max("_bn")).first()[0]) or 0
            hot = max_bn > band_cap
        _HOTNESS_MEMO[mkey] = hot
        while len(_HOTNESS_MEMO) > _HOTNESS_MEMO_MAX:
            _HOTNESS_MEMO.pop(next(iter(_HOTNESS_MEMO)))
    return hot


def _hamming_pairs(fps: DataFrame, layout, max_dist: int,
                   band_cap: int, hot_split: bool = True) -> DataFrame:
    """The hamming-band kernel: (doc_id, *hash cols) → (doc_a, doc_b,
    hamming) pairs within ``max_dist`` under ``layout`` = (hash
    columns, bits per column, bits per band).  Bands → hot-band
    decision (:func:`_bands_hot`) → the hot split
    (:func:`_split_banded_candidates`) when some bucket is over cap
    and :func:`_hamming_rules` allows it, else the plain guarded join
    → exact verify.  ``fps`` is read several times; the caller caches
    it and owns that cache."""
    split_ok = _hamming_rules(layout, max_dist)
    bands = _hamming_bands(fps, *layout)
    if hot_split and split_ok and _bands_hot(fps, bands, band_cap,
                                             layout[2]):
        cand = _split_banded_candidates(bands, band_cap)
    else:
        # small band alphabets → cap-sized buckets: streaming join wins
        cand = _guarded_band_join(bands, band_cap)
    # small band alphabets collide often on random fingerprints
    # (~n²/2⁷ candidate rows per 6-bit band), so verify-then-distinct:
    # the hamming check is an XOR+popcount per hash column against the
    # (doc-count-sized) fingerprint table, and only the tiny verified
    # survivor set pays the distinct shuffle — measured 4.0 s → 2.7 s
    # at sf0.1 on simhash vs distinct-then-verify.
    return _hamming_verify(cand, layout[0], max_dist, fps).distinct()


def simhash_pairs(docs: DataFrame,
                  max_dist: int = SIMHASH_MAX_DIST,
                  band_cap: int = BAND_CAP,
                  fps: DataFrame | None = None,
                  hot_split: bool = True) -> DataFrame:
    """Pairs within hamming ``max_dist`` of 60-bit simhash — the
    hamming-band kernel (:func:`_hamming_pairs`) over 10×6-bit bands:
    ``max_dist`` ≤ 9, and the ``hot_split`` composite re-key of
    over-cap buckets runs at ≤ 8 (:func:`_hamming_rules`); the only
    remaining recall trade is a composite bucket still over cap,
    observed by the guard.  ``fps`` lets a caller that already built
    (and cached) the fingerprint table reuse it instead of paying a
    second corpus fingerprint pass; the caller then owns that cache's
    lifecycle."""
    if fps is None:
        fps = simhash_fingerprints(docs).cache()
    return _hamming_pairs(fps, _SIMHASH_LAYOUT, max_dist, band_cap,
                          hot_split)


#: ceiling on the banded leg's per-pair miss probability at the join
#: threshold; _pick_band_r chooses the largest r (fewest background
#: collisions) that still meets it
DENSE_MISS_BUDGET = 1e-3


def _pick_band_r(threshold) -> int:
    """Largest rows-per-band r ∈ {2..4} whose banded detection at
    similarity exactly ``threshold`` misses with probability
    ``(1 − t^r)^(64//r)`` ≤ :data:`DENSE_MISS_BUDGET` — the r=3
    constant that is right at t=0.7 (miss 1.5e-4) is a FOOTGUN at
    lower thresholds (t=0.5 with r=3 would miss 6‰... with r=2 it's
    1e-4), so the hybrid derives r from the threshold it actually
    joins at: bigger r cuts background-similarity collisions ~by a
    factor of t_background per step (the measured sf0.1 cost driver),
    so prefer the largest r the recall budget allows."""
    t = float(threshold)
    for r in (4, 3, 2):
        if (1.0 - t ** r) ** (H.MINHASH_PERMS // r) <= DENSE_MISS_BUDGET:
            return r
    return 2


def _binom_count_ub(x: int, p: float, alpha: float = 0.05) -> int:
    """Exact one-sided (1−alpha) upper confidence bound on a
    population count L when ``x`` members were observed under
    per-member inclusion probability ``p``: the largest L with
    ``P(Binomial(L, p) ≤ x) ≥ alpha`` (Clopper–Pearson-style count
    bound; monotone in L, found by doubling + binary search on the
    exact log-space CDF).  ``x = 0`` reduces to the rule of three:
    ⌊ln α / ln(1−p)⌋ ≈ 3/p at α = 0.05.

    Round-5 verdict item 4: an unbiased POINT estimate of zero is not
    an upper bound on the loss — the probe must carry both.  Caveat,
    stated rather than hidden: pair sampling is per-DOC, so pairs
    sharing an endpoint are correlated; the binomial bound is exact
    for endpoint-disjoint lost pairs and the standard approximation
    otherwise."""
    import math
    if x < 0 or not (0.0 < p <= 1.0):
        raise ValueError(f"need x >= 0, 0 < p <= 1; got {x}, {p}")
    if p == 1.0:
        # exhaustive sampling (sample_mod=1): the observed count IS the
        # population count — exact, no bound widening (round-6 ADVICE)
        return x

    def log_cdf_terms(big_l: int) -> float:
        s = 0.0
        for k in range(0, min(x, big_l) + 1):
            s += math.exp(math.lgamma(big_l + 1) - math.lgamma(k + 1)
                          - math.lgamma(big_l - k + 1)
                          + k * math.log(p)
                          + (big_l - k) * math.log1p(-p))
        return s

    lo, hi = x, max(2 * x, 2)          # P(X <= x | L = x) = 1 >= alpha
    while log_cdf_terms(hi) >= alpha:
        lo, hi = hi, hi * 2
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if log_cdf_terms(mid) >= alpha:
            lo = mid
        else:
            hi = mid
    return lo


def _hamming_guard_probe(fps: DataFrame, layout, max_dist: int,
                         band_cap: int, sample_mod: int = 4) -> dict:
    """Grade the hamming-band guard's recall loss instead of only
    counting it (round-4 verdict item 2: at sf1 the simhash cap drops
    58k rows and nobody knew how many true pairs that cost) — the one
    recall probe of the hamming-band kernel, over a (doc_id, *hash
    cols) table ``fps`` (cached for the probe, released on return)
    and its band ``layout``.

    Estimator: deterministically hash-sample DOCS at rate 1/``sample_mod``
    (``pmod(xxhash64(doc_id), mod) = 0`` — partitioning-independent),
    take all sampled-member pairs *within each over-cap bucket*, dedupe
    across buckets, verify exactly (hamming ≤ ``max_dist``), and drop
    pairs that also share an under-cap band (those are NOT lost — the
    guarded join still emits them) or, when the operator would split
    (:func:`_hamming_rules`), an under-cap COMPOSITE bucket (those the
    round-7 hot-band split leg emits — :func:`_split_banded_candidates`;
    ``raw_overcap_rows`` counts stage-1 raw over-cap memberships — the
    quantity :func:`last_band_guard_metrics` reports as
    ``rerouted_rows``, deliberately NOT named ``dropped_rows``, which
    in the guard metrics means the stage-2 composite residual — while
    the loss estimate reflects what the production plan actually fails
    to emit).
    Because sampling is per-doc, a
    lost pair enters the sample iff BOTH endpoints are sampled —
    probability 1/mod² regardless of how many hot buckets it collides
    in — so ``sampled_lost · mod²`` is an unbiased estimate of the
    true pairs the guard cost.  Work is O(Σ hot_bucket² / mod²) +
    one fingerprint build: a diagnostics pass over exactly the buckets
    the production plan refuses to join.

    Returns ``{raw_overcap_rows, overcap_buckets, max_band_size,
    sampled_lost_pairs, est_pairs_lost, est_pairs_lost_ub,
    sample_mod, emitted_pairs, est_recall, est_recall_lb}``;
    ``est_pairs_lost_ub`` is the exact-binomial 95% upper bound on
    the loss (:func:`_binom_count_ub` — a sampled count of zero is
    not an upper bound of zero), and the guarded operator's emitted
    pairs turn point estimate and bound into ``est_recall`` /
    ``est_recall_lb`` = ``emitted / (emitted + loss)``."""
    split_ok = _hamming_rules(layout, max_dist)
    fps = fps.cache()
    bands = _hamming_bands(fps, *layout)
    w = Window.partitionBy("band")
    counted = bands.withColumn("_bn", F.count(F.lit(1)).over(w)).cache()
    hot = counted.filter(F.col("_bn") > band_cap)
    stats = _as_ints(counted.agg(*_guard_aggs(band_cap)).first()
                     .asDict())
    out = {"raw_overcap_rows": stats["dropped_rows"],
           "overcap_buckets": stats["dropped_buckets"],
           "max_band_size": stats["max_band_size"],
           "sample_mod": sample_mod}
    sampled = hot.filter(
        F.pmod(F.xxhash64("doc_id"), F.lit(sample_mod)) == 0)
    cand = _band_self_join(sampled, sampled).distinct()
    verified = (_hamming_verify(cand, layout[0], max_dist, fps)
                .select("doc_a", "doc_b"))

    def minus_emitted(pairs: DataFrame, counted: DataFrame) -> DataFrame:
        # pairs minus those whose docs share an under-cap bucket of a
        # _bn-counted (doc_id, band) table: a guarded join emits those
        members = (counted.filter(F.col("_bn") <= band_cap)
                   .select("doc_id", "band"))
        shared = (pairs
                  .join(members.withColumnRenamed("doc_id", "doc_a"),
                        "doc_a")
                  .join(members.withColumnRenamed("doc_id", "doc_b"),
                        ["doc_b", "band"])
                  .select("doc_a", "doc_b").distinct())
        return pairs.join(shared, ["doc_a", "doc_b"], "left_anti")

    lost = minus_emitted(verified, counted)
    if split_ok:
        # pairs the hot-band SPLIT leg still emits (round-7): a sampled
        # hot pair sharing an under-cap composite bucket is NOT lost.
        # The composite memberships come from the SAME _split_routing
        # the operator runs — the probe cannot drift into grading a
        # join that no longer exists.  Composite bucket sizes are
        # computed over ALL docs — the sample only selects which pairs
        # get verified, never how big the production plan's buckets
        # are.  Past the split's bound the operator keeps the plain
        # drop guard, so crediting rescued pairs there would overstate
        # est_recall for a plan that never runs.
        comp = _split_routing(bands, band_cap)[1]
        lost = minus_emitted(
            lost, comp.withColumn("_bn", F.count(F.lit(1)).over(w)))
    sampled_lost = lost.count()
    out["sampled_lost_pairs"] = int(sampled_lost)
    out["est_pairs_lost"] = int(sampled_lost * sample_mod * sample_mod)
    # 95% upper bound on the true loss, not just the point estimate
    # (round-5 verdict item 4).  Structurally zero when nothing was
    # dropped: with no over-cap bucket there is no pair the guarded
    # join can lose, so no sampling uncertainty exists to bound.
    out["est_pairs_lost_ub"] = (
        0 if out["raw_overcap_rows"] == 0
        else _binom_count_ub(int(sampled_lost),
                             1.0 / (sample_mod * sample_mod)))
    # reuse this probe's cached fingerprints — a fresh operator call
    # on docs would rebuild AND pin a second corpus-sized fingerprint
    # cache
    emitted = _hamming_pairs(fps, layout, max_dist, band_cap).count()
    out["emitted_pairs"] = int(emitted)
    denom = emitted + out["est_pairs_lost"]
    out["est_recall"] = (1.0 if denom == 0
                         else round(emitted / denom, 6))
    denom_ub = emitted + out["est_pairs_lost_ub"]
    out["est_recall_lb"] = (1.0 if denom_ub == 0
                            else round(emitted / denom_ub, 6))
    counted.unpersist()
    fps.unpersist()
    return out


def simhash_band_guard_probe(docs: DataFrame,
                             max_dist: int = SIMHASH_MAX_DIST,
                             band_cap: int = BAND_CAP,
                             sample_mod: int = 4) -> dict:
    """Recall probe of :func:`simhash_pairs`' hot-band guard: the
    kernel's :func:`_hamming_guard_probe` over the corpus' simhash
    fingerprints."""
    return _hamming_guard_probe(simhash_fingerprints(docs),
                                _SIMHASH_LAYOUT, max_dist, band_cap,
                                sample_mod)


def jaccard_prefix_pairs(docs: DataFrame,
                         threshold: float = PREFIX_THRESHOLD,
                         caches: list | None = None) -> DataFrame:
    """Exact word-2-gram jaccard join via PPJoin-style prefix +
    positional filtering (Xiao et al., "Efficient Similarity Joins for
    Near Duplicate Detection" — public set-similarity-join literature,
    see PAPERS.md).

    Three exact pruning layers before the (expensive) jaccard verify:

    1. **prefix filter** — tokens globally ordered by (df, token); a
       pair with jaccard ≥ t must share one of each side's first
       ``|A| − ⌈t·|A|⌉ + 1`` rarest tokens;
    2. **size-ratio prune** — ``t·|A| ≤ |B| ≤ |A|/t``;
    3. **positional filter** — jaccard ≥ t requires overlap
       ``α = ⌈t/(1+t)·(|A|+|B|)⌉``.  Because both prefixes are sorted
       by the SAME global order, shared tokens appear in the same
       relative order on both sides, so per matched token at ranks
       (ra, rb): ``overlap ≤ min(ra, rb) + min(|A|−ra, |B|−rb)`` (rows
       below α cannot belong to a qualifying pair — dropped before the
       shuffle-heavy aggregation); and per candidate pair with c
       matched prefix tokens whose last match sits at ranks (ra*, rb*):
       ``overlap ≤ c + min(|A|−ra*, |B|−rb*)`` (every common token
       ordered before the last prefix match is itself a prefix match on
       both sides, so c counts them all).

    The pair-level bound is what kills the worst case: on a tiny
    uniform vocabulary the prefix filter alone admits ~all pairs, but
    non-dup pairs share few prefix tokens (small c) and fail the α
    test, so only near-dups reach the verify join."""
    grams = H.with_word_shingles(docs, n=2).cache()
    if caches is not None:
        caches.append(grams)
    return _prefix_filtered_pairs(grams, threshold, caches=caches)


#: hybrid routing cap for the char-gram prefix join: grams whose
#: PREFIX-entry count exceeds this route their docs through the banded
#: (minhash) leg instead of the exact prefix self-join.  The cap bounds
#: the exact leg's candidate volume STRUCTURALLY: Σ c² over sparse
#: grams ≤ cap · Σ c = cap · |prefix entries| — linear in the corpus
#: with a constant cap, whatever the gram-frequency distribution does
#: (the round-5 second-decade probe measured the uncapped join's
#: Σ prefix_df² going quadratic on the shared digit/space gram slice:
#: 379 M → 11.8 B match rows for 10× data).  256 is far above every
#: per-gram prefix count at the oracle scale (max 60 at sf0.01), so
#: the hybrid is plan-identical to the pure-exact join there, and
#: sits at the measured knee of the sf0.1/sf1 distributions (bulk
#: sum c² carried by grams with c in the hundreds).
CHAR_DENSE_PREFIX_CAP = 256


def char_jaccard_pairs(docs: DataFrame,
                       threshold: float = CHAR_JACCARD_THRESHOLD,
                       caches: list | None = None,
                       dense_prefix_cap: int | None = CHAR_DENSE_PREFIX_CAP,
                       band_cap: int = BAND_CAP) -> DataFrame:
    """Character-4-gram jaccard join — the char-level member of the
    n-gram jaccard family (robust to tokenization differences:
    whitespace/punctuation edits barely move char-gram sets).  Same
    PPJoin prefix/size/positional filtering as the word variant, over
    :func:`H.char_ngrams` sets — plus the dense-slice hybrid routing
    (``dense_prefix_cap``, see :func:`_prefix_filtered_pairs`): char
    grams are drawn from a small alphabet, so real corpora always
    carry a shared-gram slice (digits, whitespace runs, markup) whose
    exact candidate volume is Ω(Σ df²); those grams' docs route
    through the banded minhash leg and everything else stays exact.
    ``dense_prefix_cap=None`` forces the pure-exact plan (the
    correctness twin the hybrid is property-tested against)."""
    grams = H.with_char_ngrams(docs).cache()
    if caches is not None:
        caches.append(grams)
    return _prefix_filtered_pairs(grams, threshold, caches=caches,
                                  dense_prefix_cap=dense_prefix_cap,
                                  band_cap=band_cap)


def _snap(threshold):
    """The one rational snap every PPJoin bound AND the final verify
    share: ``Fraction(threshold).limit_denominator(1_000_000)``.
    Deriving candidate bounds and the verification filter from the
    SAME p/q closes the round-4 ADVICE gap (bounds from the snapped
    rational vs a verify against the raw float could disagree for
    thresholds not near a small rational)."""
    from fractions import Fraction
    return (threshold if isinstance(threshold, Fraction)
            else Fraction(threshold).limit_denominator(1_000_000))


def _ceil_mul(n, threshold):
    """``⌈threshold·n⌉`` in exact integer arithmetic.  Float
    multiplication breaks PPJoin completeness bounds at exact
    multiples: 0.9*10 evaluates to 9.000000000000002 in IEEE double,
    whose ceil is 10 — silently shrinking the prefix by one gram and
    letting a pair at containment exactly ``t`` escape (round-3
    ADVICE; the same up-rounding also broke the size-ratio prune
    ``nb ≥ t·na`` for t ∈ {0.8, 0.9, …}).  Express the threshold as
    a rational p/q (a ``fractions.Fraction`` is taken exactly — used
    for the derived PPJoin overlap factor t/(1+t)) and compute
    ``(p·n + q − 1) div q``: the div is done via the modulo identity
    ``(a − a % q) / q`` whose numerator is an exact multiple of q
    (≤ 2⁵³, so the double division is exact) — no epsilon, no float
    comparison anywhere on the bound."""
    fr = _snap(threshold)
    p, q = fr.numerator, fr.denominator
    num = F.lit(p) * n + F.lit(q - 1)
    return ((num - num % q) / q).cast("long")


def last_ppjoin_metrics() -> dict | None:
    """``{"n_candidates": ...}`` of the most recent PPJoin-family plan
    (jaccard/char/containment) — the number of pairs that survived
    every pruning layer and paid the exact verify.  Collected for free
    by whatever action executed the plan; call *after* the action.
    ``None`` until a PPJoin operator has run."""
    return _read("ppjoin")


#: gram-signature width for the verify pre-filter: 8 longs = 512 bits
SIG_LONGS = 8
SIG_BITS = SIG_LONGS * 64


def _gram_signatures(sets_df: DataFrame) -> DataFrame:
    """(doc_id, n, bm0..bm{SIG_LONGS-1}) — per-doc 512-bit bitmap of
    gram hashes as EIGHT PLAIN LONG COLUMNS plus the exact
    distinct-gram count.  Fixed 64 bytes per doc no matter how long
    the document is: the index broadcasts at corpus sizes where the
    gram-array index is far past any broadcast limit.

    Two shape decisions, both measured on the candidate-multiset hot
    path (hundreds of millions of rows on gram-dense corpora):

    - the per-gram hash array is hoisted into its own projection so
      it is computed ONCE per doc, not once per signature long
      (CollapseProject keeps the hoist — it refuses to inline a
      non-cheap alias referenced more than once);
    - the signature is flat long columns, NOT an array<long>: the
      consumer's AND-NOT popcounts over plain attributes whole-stage-
      codegen, while both an aggregate(zip_with(...)) over an array
      (interpreted lambda per row) and 16 runtime GetArrayItem calls
      measured 8 s / 33 s respectively vs ~2 s flat on the 20.7 M-row
      sf1 word multiset."""
    # parsed SQL (round 11): the Column-API lambda aggregates issued
    # ~20 py4j round trips per signature long on every call; the
    # parsed expressions are value-identical
    hashed = sets_df.select(
        "doc_id", F.expr("size(s) AS n"),
        F.expr(f"transform(s, x -> pmod(xxhash64(x), {SIG_BITS})) AS hs"))
    bms = [
        F.expr(
            f"aggregate(hs, CAST(0 AS BIGINT), (acc, i) -> acc | "
            f"IF(i >= {k * 64} AND i < {(k + 1) * 64}, "
            f"shiftleft(CAST(1 AS BIGINT), CAST(i % 64 AS INT)), "
            f"CAST(0 AS BIGINT))) AS bm{k}")
        for k in range(SIG_LONGS)]
    return hashed.select("doc_id", "n", *bms)


def _verified_pairs(pairs: DataFrame | list[DataFrame],
                    sets_df: DataFrame, fr, stats: tuple,
                    kind: str = "jaccard") -> DataFrame:
    """Exact verification with the SAME snapped rational the candidate
    bounds used: ``inter·q ≥ p·denom`` in pure integer arithmetic, so
    bounds and verify can never disagree across a float-rounding
    boundary.  The emitted measure column stays the double ratio
    (bit-identical to the DuckDB oracle's, which applies the same
    integer predicate).

    Two-stage verify, both stages scale-safe (a full-gram-array
    broadcast of the set index failed at sf10 = 500 k docs with
    notEnoughMemoryToBuildAndBroadcastTableError):

    1. **signature pre-filter** — every candidate pair is scored
       against an index of fixed 64-byte gram signatures
       (:func:`_gram_signatures`), whose join side is chosen by size
       against the one limit (``session.join_side``: docs × its
       76-byte row) — broadcast up to ~1.7 M docs, sort-merge past
       them.  The bound is EXACT, not
       probabilistic: a gram of A whose bit is absent from B's bitmap
       cannot be in B, and each such bit carries ≥ 1 gram, so
       ``inter ≤ n_a − popcount(bm_a & ~bm_b)`` (and symmetrically);
       a pair is dropped only when even that upper bound cannot reach
       the threshold.  Collisions only *loosen* the bound, never
       cause a false reject.  Cost per pair: 8 AND-NOT-popcounts versus a
       ~200-element array intersection (measured 12.5 s → ~2 s on
       10.9 M sf1 candidates).
    2. **exact string verify** — the tiny survivor set (≈ true pairs)
       joins the full gram arrays, sized by the cache's measured bytes
       like :func:`_pairs_with_jaccard`: a broadcast under the limit,
       past it a SHUFFLE join, where the array index is shuffled once
       (one row per doc) and survivors are few.

    ``stats`` is (docs, Σ|s|, bytes) of ``sets_df`` (:func:`_gram_freq`).

    ``pairs`` may be a MULTISET (the raw prefix-match rows): the
    survivors are deduplicated *after* the signature filter, so the
    dedup shuffle only ever sees the ~true-pair-sized survivor
    multiset instead of building keyed state over every candidate row
    (a pre-filter pair aggregation took 375 s of a 500 s stage total
    at sf10).  The surviving distinct pairs are counted into
    :func:`last_ppjoin_metrics` — the exact-verify volume is the
    number every pruning layer exists to shrink."""
    n_docs, _, sets_bytes = stats
    sigs = _gram_signatures(sets_df)
    sg = join_side(sigs, n_docs * row_bytes(sigs))
    ga, gb = sg.alias("ga"), sg.alias("gb")

    # UNROLLED AND-NOT popcounts over the flat bm{k} long columns (see
    # _gram_signatures): this expression sits on the candidate
    # MULTISET — hundreds of millions of rows on gram-dense corpora
    # (379 M at sf1 for the char variant, where the 9 k-gram universe
    # makes the prefix filter admit ~every pair) — and plain-attribute
    # popcounts whole-stage-codegen where an aggregate(zip_with(...))
    # lambda runs interpreted per row
    def only(xs, ys):
        return F.expr(" + ".join(
            f"CAST(bit_count({xs}.bm{k} & ~{ys}.bm{k}) AS BIGINT)"
            for k in range(SIG_LONGS)))
    n_a, n_b = F.col("ga.n").cast("long"), F.col("gb.n").cast("long")
    ub = F.least(n_a - only("ga", "gb"), n_b - only("gb", "ga"))
    if kind == "jaccard":
        # max achievable jac is ub/(na+nb-ub): monotone in inter
        pre_keep = (ub * F.lit(fr.denominator)
                    >= F.lit(fr.numerator) * (n_a + n_b - ub))
    else:
        pre_keep = (ub * F.lit(fr.denominator)
                    >= F.lit(fr.numerator) * F.least(n_a, n_b))
    # ``pairs`` may be a LIST of candidate branches (the hybrid's
    # exact + banded legs): each branch is signature-filtered
    # INDEPENDENTLY and only the ~true-pair-sized survivor sets are
    # unioned.  Unioning the raw multisets instead puts a Union node
    # between the match generation and this filter, which breaks the
    # whole-stage-codegen fusion of join+filters+signature-join on
    # the 100 M-row branch (measured +2.7 s at sf0.1 even with an
    # EMPTY second branch).  A broadcast signature index is built
    # once and reused across branches.
    branches = pairs if isinstance(pairs, list) else [pairs]
    filtered = [
        (b.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
         .join(gb, F.col("doc_b") == F.col("gb.doc_id"))
         .filter(pre_keep)
         .select("doc_a", "doc_b"))
        for b in branches]
    survivors = filtered[0]
    for extra in filtered[1:]:
        survivors = survivors.unionByName(extra)
    survivors, _ = _observed(survivors.distinct(),
                             [F.count(F.lit(1)).alias("n_candidates")],
                             "ppjoin")
    sets = join_side(sets_df, sets_bytes)
    a, b = sets.alias("sa"), sets.alias("sb")
    sa, sb = F.col("sa.s"), F.col("sb.s")
    inter = F.size(F.array_intersect(sa, sb)).cast("long")
    if kind == "jaccard":
        denom = (F.size(sa) + F.size(sb)).cast("long") - inter
        out_col = "jac"
    else:  # containment: |A∩B| / min(|A|, |B|)
        denom = F.least(F.size(sa), F.size(sb)).cast("long")
        out_col = "containment"
    keep = inter * F.lit(fr.denominator) >= F.lit(fr.numerator) * denom
    return (survivors
            .join(a, F.col("doc_a") == F.col("sa.doc_id"))
            .join(b, F.col("doc_b") == F.col("sb.doc_id"))
            .filter(keep)
            .select("doc_a", "doc_b",
                    (inter.cast("double") / denom).alias(out_col)))


def _prefix_index(grams: DataFrame, fr, freq: DataFrame,
                  freq_bytes: int) -> DataFrame:
    """The PPJoin prefix index of a (doc_id, s=token array) set index
    at snapped threshold ``fr``: (doc_id, g, n, rk) for each doc's
    ``|A| − ⌈t·|A|⌉ + 1`` rarest tokens under the global (df, g)
    order (``rk`` the 1-based rank, ``n`` = |A|; exact rational ceil,
    see :func:`_ceil_mul`).  A qualifying jaccard pair shares a token
    of both prefixes, and a pair at containment ≥ t leaves the smaller
    side at most ``|A| − ⌈t·|A|⌉`` unshared tokens, so the same index
    serves both joins.

    The index is MATERIALIZED (cached, caller-released): the df
    aggregation, df join and per-doc rank window otherwise re-run for
    every reference and every run — the jaccard self-join reads the
    index on both sides (measured 25 s → 4 s at sf0.1 on a
    three-reference plan), containment's probe once per run (~0.7 s
    at sf0.1).  Its size is ~(1−t)·Σ|doc| tokens, far smaller than
    the corpus, and :func:`_prefix_rows` bounds its rows.  ``freq`` is
    the cached df table of :func:`_gram_freq`, whose measured
    ``freq_bytes`` size its join side (``session.join_side``)."""
    ex = grams.select("doc_id", F.explode("s").alias("g"),
                      F.size("s").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("df", "g")
    return (ex.join(join_side(freq, freq_bytes), "g")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk")
                    <= F.col("n") - _ceil_mul(F.col("n"), fr) + 1)
            .select("doc_id", "g", "n", "rk")
            .cache())


def _prefix_rows(stats: tuple, fr) -> int:
    """Bound on the rows of :func:`_prefix_index` at ``fr`` from the
    set index's ``stats`` (docs, Σ|s|, bytes): a doc of n tokens keeps
    n − ⌈t·n⌉ + 1 ≤ (1 − t)·n + 1 of them."""
    n_docs, n_elems, _ = stats
    return math.ceil((1 - fr) * n_elems) + n_docs


#: char dense leg: element-sampling rate of the sampled sketch tier
#: (see :func:`_set_bands`) and the set size from which a doc sketches
#: sampled — P(empty sample) ≤ (1−1/4)^128 ≈ 1e-16
DENSE_ELEMENT_MOD = 4
DENSE_SAMPLE_FLOOR = 128


def _prefix_filtered_pairs(grams: DataFrame,
                           threshold: float,
                           caches: list | None = None,
                           dense_prefix_cap: int | None = None,
                           band_cap: int = BAND_CAP) -> DataFrame:
    """PPJoin core over a CACHED (doc_id, s=token array) set index
    ``grams`` (see :func:`jaccard_prefix_pairs` for the base filter
    derivations).  One aggregate (:func:`_gram_freq`) fills the set
    index and its df table and sizes every join side the core fixes,
    each broadcast under the one limit and joined by sort-merge past
    it (``session.join_side``): the df table and the gram arrays by
    their caches' measured bytes; the prefix self-join, the dense-gram
    filter (a dense gram holds more than ``dense_prefix_cap`` prefix
    rows) and the cohort filter by row-count bounds (:func:`_prefix_rows`,
    docs) times the row width; the signature index by docs × its row.

    Measured on the sf10 probe (500 k docs: 837 M match rows, 109 M
    distinct candidates, 25.6 k real pairs):

    - there is NO pair-level aggregation.  The classic PPJoin pair
      groupBy (count matched tokens + max ranks for the pair-level
      positional bound) builds keyed state over every candidate pair —
      375 s of the 500 s sf10 stage total, and the bound it buys
      prunes little that the row-level filters have not.  Instead the
      raw match MULTISET flows straight into the signature pre-filter
      (:func:`_verified_pairs`): a join against the fixed
      64-byte-per-doc signature index + 8 popcounts per row — no
      keyed state, no spill — and only the ~true-pair-sized survivor
      multiset pays a distinct;
    - the token-level positional filter stays (it is stateless and
      cuts the multiset ~10× before the signature join);
    - tightenings REJECTED on measurement: the PPJoin short *index
      prefix* (|A| − ⌈2t/(1+t)·|A|⌉ + 1 on the smaller side) grew
      candidates 1.09 M → 1.88 M at sf0.1 under a pair-level tail
      bound; the g₁-existence filter pruned exactly 0 candidates on
      this corpus."""
    # required overlap α = ⌈t/(1+t)·(|A|+|B|)⌉ — t rational makes
    # t/(1+t) rational too (p/q → p/(p+q)), so every bound below is
    # exact integer arithmetic: no epsilon, and no float product that
    # could round UP across a boundary (t=0.8/0.9 doubles do) and
    # prune a pair at jaccard exactly t
    fr = _snap(threshold)
    t_factor = fr / (1 + fr)
    freq, freq_bytes, stats = _gram_freq(grams)
    n_docs = stats[0]
    prefix_rows = _prefix_rows(stats, fr)
    prefix = _prefix_index(grams, fr, freq, freq_bytes)
    if caches is not None:
        caches += [freq, prefix]
    na, nb = F.col("a.n"), F.col("b.n")
    ra, rb = F.col("a.rk"), F.col("b.rk")
    alpha = _ceil_mul(na + nb, t_factor)

    def _exact_matches(px: DataFrame) -> DataFrame:
        # both sides read one cached index: only the hint fixes which
        # side builds
        return (px.alias("a")
                .join(join_side(px, prefix_rows * row_bytes(px))
                      .alias("b"), "g")
                .filter((F.col("a.doc_id") < F.col("b.doc_id"))
                        # size-ratio prune: j >= t forces t|A| <= |B| <= |A|/t
                        & (nb >= _ceil_mul(na, fr))
                        & (_ceil_mul(nb, fr) <= na)
                        # token-level positional bound
                        & (F.least(ra, rb) + F.least(na - ra, nb - rb)
                           >= alpha))
                .select(F.col("a.doc_id").alias("doc_a"),
                        F.col("b.doc_id").alias("doc_b")))

    if dense_prefix_cap is None:
        matches = _exact_matches(prefix)
    else:
        # DENSE-SLICE HYBRID.  Partition the prefix INDEX by per-gram
        # prefix-entry count c:
        #
        # - grams with c ≤ cap keep the exact self-join.  Its match
        #   multiset is Σ c² ≤ cap · Σ c — LINEAR in the corpus for a
        #   constant cap, independent of the gram-frequency shape, so
        #   the quadratic slice is structurally gone from the exact
        #   leg (exact set-similarity candidate generation is Ω(Σ df²)
        #   — no filter changes that exponent, so the dense slice must
        #   leave the exact plan entirely);
        # - docs holding ≥ 1 dense prefix gram form the minhash
        #   COHORT: banded-LSH candidates among them (the accepted
        #   scale representative, hot-band-guarded + observed).
        #
        # Coverage: a qualifying pair shares ≥ 1 gram lying in BOTH
        # prefixes (the prefix-filtering lemma under the global
        # (df, g) order).  If any such gram is sparse, both its index
        # rows survive in ``sparse`` and the per-occurrence filters
        # (size-ratio, positional) are sound, so the exact leg emits
        # the pair.  Otherwise EVERY shared prefix gram is dense —
        # then both docs carry a dense prefix gram, both are in the
        # cohort, and the pair reaches the banded leg, which misses it
        # only with probability (1 − t^r)^bands ≤ DENSE_MISS_BUDGET
        # (r from :func:`_pick_band_r`: r=3 at the char threshold,
        # (1 − 0.7³)^21 ≈ 1.5e-4, ≥ 1−3e-7 already at j=0.8, for ~13×
        # fewer background-similarity band collisions than r=2, the
        # measured sf0.1 cost driver) — or through a hot-band-cap drop,
        # which the band guard OBSERVES (last_band_guard_metrics)
        # rather than silently losing.  Both legs feed the same exact
        # verify, so false candidates never reach the output.
        gcount = prefix.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
        # dense grams are the HEAD of the gram-frequency distribution
        # — universe-bounded (≤ alphabet⁴ for char grams) and in
        # practice thousands of keys.  Each holds more than the cap's
        # prefix rows, so the side is sized by prefix rows / (cap + 1):
        # under the limit it broadcasts; past it the anti/semi joins
        # below shuffle on g, which gcount's aggregation already
        # co-partitioned — same rows, same output, no driver-sized
        # relation anywhere.
        dense_g = gcount.filter(F.col("c") > dense_prefix_cap).select("g")
        dense_g = join_side(dense_g, prefix_rows // (dense_prefix_cap + 1)
                            * row_bytes(dense_g))
        sparse = prefix.join(dense_g, "g", "left_anti")
        cohort = (prefix.join(dense_g, "g", "left_semi")
                  .select("doc_id").distinct())
        cohort_sets = grams.join(
            join_side(cohort, n_docs * row_bytes(cohort)), "doc_id",
            "left_semi")
        # Two sketch TIERS so element sampling can never vanish a
        # small doc (an empty sampled set emits no bands): docs with
        # n ≤ K/t sketch their FULL sets (they are small — full
        # sketching is cheap exactly where sampling is risky), docs
        # with n ≥ K = DENSE_SAMPLE_FLOOR sketch the mod-sampled sets.
        # A qualifying pair has size ratio ≥ t, so na ≤ K forces
        # nb ≤ K/t (both in the full tier) and na > K puts both in the
        # sampled tier — the [K, K/t] overlap zone sketches twice, and
        # the tier tag keeps the band namespaces disjoint (a full-tier
        # band must never equi-join a sampled-tier band: different set
        # transforms).
        band_r = _pick_band_r(fr)
        small_lim = int((DENSE_SAMPLE_FLOOR * fr.denominator)
                        // fr.numerator)
        tier_f = _set_bands(
            cohort_sets.filter(F.size("s") <= small_lim),
            band_r=band_r,
        ).withColumn("band", F.concat(F.lit("f"), "band"))
        tier_s = _set_bands(
            cohort_sets.filter(F.size("s") >= DENSE_SAMPLE_FLOOR),
            element_mod=DENSE_ELEMENT_MOD, band_r=band_r,
        ).withColumn("band", F.concat(F.lit("s"), "band"))
        # cache the band keys: the guard's observed/counted twins
        # (see _guarded_bands) otherwise each recompute the sketch —
        # the 64-perm aggregation is the dense leg's dominant term
        # and must run once.  Corpus-bounded: 21 × ~20 B per cohort
        # doc.  Registered with the caller's caches= contract.
        bands = tier_f.unionByName(tier_s).cache()
        if caches is not None:
            caches.append(bands)
        banded = _banded_candidates(bands, band_cap)
        matches = [_exact_matches(sparse), banded]
    return _verified_pairs(matches, grams, fr, stats)


#: containment (asymmetric overlap) threshold: |A∩B| / min(|A|,|B|)
CONTAINMENT_THRESHOLD = 0.9


def containment_pairs(docs: DataFrame,
                      threshold: float = CONTAINMENT_THRESHOLD,
                      caches: list | None = None) -> DataFrame:
    """Asymmetric containment join over word-2-gram sets: pairs with
    ``|A∩B| / min(|A|,|B|) ≥ t`` — the subset-duplicate detector.
    Symmetric jaccard MISSES these: a document fully contained in one
    3× longer has jaccard ≤ 1/3 but containment 1.0 (truncated
    re-crawls, quote expansions, page-wrapped copies — the RefinedWeb
    substring-dedup motivation at gram granularity).

    Exact, with a prefix probe: a qualifying pair leaves the smaller
    side at most ``|A| − ⌈t·|A|⌉`` unshared grams, so probing the
    full inverted index with only each doc's PPJoin prefix at ``t``
    (:func:`_prefix_index`) cannot miss a pair — candidate volume
    Σ_g df(g)·prefix_df(g) instead of Σ df².  The smaller side always
    probes (ties by doc_id), and survivors are verified exactly
    (:func:`_verified_pairs`, same snapped threshold as the probe).

    Returns (doc_a, doc_b, containment) with ``doc_a`` the smaller
    (or tie-lower-id) side."""
    grams = H.with_word_shingles(docs, n=2).cache()
    if caches is not None:
        caches.append(grams)
    fr = _snap(threshold)
    freq, freq_bytes, stats = _gram_freq(grams)
    probe = _prefix_index(grams, fr, freq, freq_bytes)
    if caches is not None:
        caches += [freq, probe]
    # the index side stays uncached — a linear explode of the cached
    # gram table, no shuffle
    ex = grams.select("doc_id", F.explode("s").alias("g"),
                      F.size("s").alias("n"))
    smaller_first = ((F.col("a.n") < F.col("b.n"))
                     | ((F.col("a.n") == F.col("b.n"))
                        & (F.col("a.doc_id") < F.col("b.doc_id"))))
    # the raw match MULTISET flows straight into the signature
    # pre-filter, which distincts after it (a pre-filter distinct was
    # measured at 3.5 s on the 3.1 M candidate pairs the small shared
    # vocabulary admits at sf0.1).  The probe, at most (1 − t) of the
    # index's rows plus one a doc, is the side the hint sizes
    probe = join_side(probe, _prefix_rows(stats, fr) * row_bytes(probe))
    cand = (probe.alias("a")
            .join(ex.alias("b"), "g")
            .filter(smaller_first)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b")))
    return _verified_pairs(cand, grams, fr, stats, kind="containment")


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond" — public literature, see PAPERS.md): every
    node connects its strictly-larger neighbours to the minimum of its
    closed neighbourhood.  ``edges`` is canonical (u < v); output is a
    canonical MULTISET (the emitted edge (m, v) has m ≤ u < v; two
    neighbours of v sharing one m emit the same row twice).  The only
    consumer is the composed round ``_small_star(_large_star(e))``,
    whose min-aggregation is duplicate-insensitive and whose trailing
    distinct normalizes the output — a distinct here shuffled the
    ≤ 2|E| multiset a full extra time per round just to shrink the
    next shuffle to ≤ |E| rows (3|E| row-shuffles vs 2|E| without it,
    plus a whole exchange+dedup stage of per-round latency; round 11,
    guide §2.4)."""
    sym = (edges.select("u", "v")
           .unionByName(edges.select(F.col("v").alias("u"),
                                     F.col("u").alias("v"))))
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m")))
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .filter(F.col("u") != F.col("v")))


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node connects its smaller
    neighbours (and itself) to the minimum of its closed
    neighbourhood.  Keyed on the LARGER endpoint, so all grouped
    neighbours are < key and m = min(neighbours)."""
    nb = edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    mins = nb.groupBy("u").agg(F.min("v").alias("m"))
    joined = nb.join(mins, "u")
    # both emitted edges share the first component m, so one explode
    # generator yields both directions from a SINGLE join subtree — a
    # union's two projections are separate physical subtrees that
    # rebuild the join (and its exchanges) twice per round (round 11,
    # guide §2.4; same fix as knn_doc_pairs' symmetrization)
    out = joined.select(F.col("m").alias("u"),
                        F.explode(F.array("v", "u")).alias("v"))
    return (out.filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"),
                    F.greatest("u", "v").alias("v"))
            .distinct())


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected edge list (columns
    ``u``, ``v``) — the generic clustering step every dedup family
    shares (MinHash pairs, embedding-LSH pairs, fuzzy-match pairs).

    Alternating large-star / small-star contraction: O(log² n) rounds
    on ANY graph (vs O(diameter) for plain label propagation — a
    100 TB corpus can contain long duplicate chains), each round a
    pair of groupBy+join stages over the edge list.  Per round the
    edge list is ``localCheckpoint``-ed, truncating lineage so plan
    size and stage count stay constant no matter how many rounds run;
    convergence is checked distributedly — no data is collected to
    the driver.

    Returns (u, cluster) for every node with ≥1 edge, cluster = min
    node id of the component."""
    pairs = pairs.localCheckpoint()  # materialize the pair pipeline ONCE
    nodes = (pairs.select("u")
             .unionByName(pairs.select(F.col("v").alias("u")))
             .distinct())
    edges = pairs
    for _ in range(25):  # > log²(any realistic component); guard only
        # lazy checkpoint: the convergence check below is the action
        # that materializes it — one Spark job per round, not two
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        # Kiveris fixed point: the edge set is a union of DISJOINT
        # min-rooted stars ⇔ (a) no node is both a leaf (v) and a
        # root (u) AND (b) no leaf has two distinct roots.  Round 11
        # checked only (a) — UNSOUND: a round can emit a multi-rooted
        # leaf with no chain (one composed round over
        # {(1,6),(1,9),(3,7),(5,6),(5,7),(8,9)} yields
        # {(1,5),(1,6),(1,8),(1,9),(3,5),(3,7)} — no v is a u, yet
        # node 5 has roots 1 and 3), and the final join then emits
        # duplicate node rows with conflicting labels (round-11
        # verdict item 1: 53/4000 random graphs wrong).  With BOTH
        # conditions the state is a disjoint union of stars, each
        # root its component minimum (u < v everywhere), and such a
        # state is a fixed point of the composed round — pinned by
        # the 500-seed union-find property test in
        # test_dedup_scale.py.  Still detects convergence the round
        # it happens (the round-11 win over the count+hash stability
        # signature, which burned one extra full contraction round).
        # ONE aggregation job checks both conditions: every edge
        # contributes a leaf row (n=v, r=u) and a root-marker row
        # (n=u, r=NULL; count_distinct skips NULLs); count() computes
        # EVERY partition so the lazy checkpoint is fully
        # materialized.
        roles = (edges.select(F.col("v").alias("n"),
                              F.col("u").alias("r"))
                 .unionByName(edges.select(
                     F.col("u").alias("n"),
                     F.lit(None).cast(dict(edges.dtypes)["u"])
                     .alias("r"))))
        violations = (roles.groupBy("n")
                      .agg(F.count_distinct("r").alias("nr"),
                           F.max(F.col("r").isNull()).alias("is_root"))
                      .filter((F.col("nr") > 1)        # multi-rooted leaf
                              | (F.col("is_root")      # root AND leaf
                                 & (F.col("nr") >= 1)))
                      .count())
        if violations == 0:
            break
    # converged: every edge is (component_min, member)
    roots = edges.select(F.col("u").alias("lbl"), F.col("v").alias("u"))
    return (nodes.join(roots, "u", "left")
            .select("u",
                    F.coalesce(F.col("lbl"), F.col("u")).alias("cluster")))


def neardup_clusters(docs: DataFrame,
                     threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """MinHash near-dup pairs → :func:`connected_components` →
    (doc_id, cluster_id), cluster_id = min doc_id of the component
    (matches the recursive-CTE oracle)."""
    pairs = (minhash_pairs(docs, threshold)
             .select(F.col("doc_a").alias("u"),
                     F.col("doc_b").alias("v")))
    return (connected_components(pairs)
            .select(F.col("u").alias("doc_id"),
                    F.col("cluster").alias("cluster_id")))


def keep_best_per_cluster(docs: DataFrame,
                          threshold: float = JACCARD_THRESHOLD
                          ) -> DataFrame:
    """End-to-end dedup selection: near-dup clusters → one surviving
    representative per cluster, keeping the LONGEST document (ties →
    min doc_id) — the policy most curation pipelines apply after
    clustering (drop shorter variants of the same content).

    ``docs`` needs (doc_id, text, n_chars): text feeds the shingle
    pipeline, n_chars drives the keep policy.

    Composes :func:`neardup_clusters` (edge-bearing docs only) with a
    left join so singleton documents form their own cluster, then a
    per-cluster argmax window.  Scale shape: the cluster table is one
    row per edge-bearing doc (≪ corpus after exact dedup), the join
    back is on doc_id (broadcast when clusters are few, shuffle
    otherwise — AQE decides), and the argmax window partitions by
    cluster_id whose cardinality ≈ docs, so no skew beyond the
    largest cluster (bounded by the hot-band guard upstream).  The
    cluster size rides the SAME per-cluster partition pass as the
    argmax (a count window) — no second aggregation or join over the
    corpus."""
    cl = neardup_clusters(docs, threshold)
    full = (docs.select("doc_id", "n_chars")
            .join(cl.withColumnRenamed("cluster_id", "cl"),
                  "doc_id", "left")
            .select("doc_id", "n_chars",
                    F.coalesce("cl", "doc_id").alias("cluster_id")))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id")
    wall = Window.partitionBy("cluster_id")
    return (full.select(
                "cluster_id", "doc_id", "n_chars",
                F.row_number().over(w).alias("rk"),
                F.count(F.lit(1)).over(wall).alias("n_members"))
            .filter(F.col("rk") == 1)
            .select("cluster_id", F.col("doc_id").alias("keep_doc_id"),
                    "n_chars", "n_members"))


def leakage_safe_split(docs: DataFrame,
                       threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Train/val/test assignment that can never split a near-duplicate
    cluster across splits — the leakage-safe version of
    ``split_train_holdout``.  A per-document hash split leaks: two
    near-identical documents can land one in train, one in test, and
    the held-out metric silently measures memorization.  The fix is to
    hash the CLUSTER, not the document: near-dup components (same
    verified-minhash graph as ``dedup_clusters``, singletons closed
    with their own id) are assigned wholesale via the repo's single
    md5-bucket recipe, so membership is deterministic, partitioning-
    independent, and identical to the oracle's.

    Scale shape: clustering touches only edge-bearing docs (≪ corpus
    after exact dedup); the join back is on doc_id; the split decision
    itself is a map-side expression.  98/1/1 buckets as in
    ``split_train_holdout``.

    Returns (doc_id, cluster_id, split)."""
    cl = neardup_clusters(docs, threshold)
    full = (docs.select("doc_id")
            .join(cl.withColumnRenamed("cluster_id", "cl"),
                  "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cl", "doc_id").alias("cluster_id")))
    b = H.md5_bucket(F.col("cluster_id"), 10000)
    split = (F.when(b < 9800, "train")
             .when(b < 9900, "val")
             .otherwise("test"))
    return full.select("doc_id", "cluster_id", split.alias("split"))


def _docs(spark, sf_dir):
    return Tables(spark, sf_dir).documents


# driver-contract wrappers over the DataFrame-level library API
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_docs(spark, sf_dir))


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_pairs(_docs(spark, sf_dir))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(_docs(spark, sf_dir))


def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_prefix_pairs(_docs(spark, sf_dir))


def dedup_char_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return char_jaccard_pairs(_docs(spark, sf_dir))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neardup_clusters(_docs(spark, sf_dir))


#: neighbors kept per doc in the thresholded kNN document graph
KNN_K = 3


def knn_doc_pairs(docs: DataFrame, k: int = KNN_K,
                  threshold: float = PREFIX_THRESHOLD) -> DataFrame:
    """Thresholded k-nearest-neighbor document graph: for every doc,
    its top-``k`` most-similar neighbors among the pairs with
    word-2-gram jaccard ≥ ``threshold`` — the neighbor-graph shape
    semantic-dedup clustering, curriculum mining and
    retrieval-augmented-dedup pipelines consume (unthresholded kNN is
    Ω(n²) by definition; thresholding it is what makes an exact
    distributed plan possible).

    Plan: the exact PPJoin core (:func:`jaccard_prefix_pairs`) emits
    the sparse qualifying pair list ONCE; symmetrizing is a single
    generator over that list — ``explode`` of a 2-element struct
    array — NOT a union of two projections: a union's branches are
    separate physical subtrees, so the entire PPJoin pipeline (9
    parquet scans, 28 exchanges at sf0.1) was planned and executed
    TWICE, with zero ReusedExchange nodes because the per-branch
    projections sat below the union (round 11, guide §2.4 "remove
    shuffles outright"; measured warm 1.81 → 1.05 s, output
    bit-identical).  The top-k per doc is a row_number over
    (jac DESC, neighbor) — a TOTAL order, since equal-jaccard ties
    break on the neighbor id — which Spark executes with
    WindowGroupLimit: each partition keeps only k rows per doc
    BEFORE the window exchange, so the shuffle moves O(docs·k), not
    the full edge list.  Both engines derive jac as the same
    integer-ratio double, so the DESC ordering (and therefore the
    graph) is bit-reproducible."""
    pairs = jaccard_prefix_pairs(docs, threshold)
    sym = (pairs.select(F.explode(F.array(
               F.struct(F.col("doc_a").alias("doc_id"),
                        F.col("doc_b").alias("neighbor"),
                        F.col("jac").alias("jac")),
               F.struct(F.col("doc_b").alias("doc_id"),
                        F.col("doc_a").alias("neighbor"),
                        F.col("jac").alias("jac")))).alias("e"))
           .select("e.doc_id", "e.neighbor", "e.jac"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("jac"), "neighbor")
    return (sym.withColumn("rnk", F.row_number().over(w)
                           .cast("long"))
            .filter(F.col("rnk") <= k)
            .select("doc_id", "neighbor", "jac", "rnk"))


def knn_doc_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_doc_pairs(_docs(spark, sf_dir))


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    return keep_best_per_cluster(_docs(spark, sf_dir))


def source_overlap_matrix(docs: DataFrame) -> DataFrame:
    """Cross-source exact-duplication matrix: for every ordered pair
    of sources, how many distinct text digests appear in BOTH — the
    overlap audit a multi-crawl corpus needs before mixing sources
    (double-counted content silently re-weights the training mix).

    Shape: reduce to distinct (source, digest) first (one shuffle,
    map-side combine), then self-join on digest.  Digests shared by k
    sources contribute k(k-1)/2 cells; the join's per-key fan-out is
    bounded by the SOURCE count, not the corpus, so candidates are
    O(distinct digests · sources²/2) — with a handful of sources this
    is effectively the distinct-digest scan.  ``docs`` needs
    (source, text)."""
    sd = (docs.select("source", F.md5("text").alias("digest"))
          .distinct())
    return (sd.alias("a")
            .join(sd.alias("b"), "digest")
            .filter(F.col("a.source") < F.col("b.source"))
            .groupBy(F.col("a.source").alias("source_a"),
                     F.col("b.source").alias("source_b"))
            .agg(F.count(F.lit(1)).alias("n_shared_texts")))


#: the "new" slice for the incremental demo: ~1/7 of the corpus plays
#: the freshly-ingested batch, the rest the existing indexed corpus.
INCR_MOD = 7


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    return incremental_minhash_pairs(
        _docs(spark, sf_dir), F.col("doc_id") % INCR_MOD == 0)


def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return leakage_safe_split(_docs(spark, sf_dir))


#: cross-source plant: every 43rd document's text is mirrored into the
#: "next" source (the corpus has no natural cross-source exact dups —
#: same plant-then-operate discipline as scrub_pii / table_diff)
OVERLAP_PLANT_MOD = 43


#: containment plant: every 53rd doc's first-half truncation is added
#: under a shifted id — contained in its original (containment ≈ 1)
#: while jaccard ≈ 0.5 sits BELOW the near-dup thresholds, so only
#: the asymmetric operator finds it
CONTAIN_PLANT_MOD = 53


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    half_text = F.expr(
        "array_join(slice(split(text, ' '), 1, "
        "greatest(cast(size(split(text, ' ')) / 2 as int), 3)), ' ')")
    # planted ids are NEGATIVE (-id - 1): collision-proof against any
    # non-negative corpus id space.  The previous fixed +10M shift
    # landed exactly on the derived big-data corpora's replica-offset
    # id space (851 duplicate doc_ids at sf1) — a duplicated doc_id
    # puts two texts under one key and silently corrupts the gram and
    # signature indexes for that id
    planted = (docs.filter(F.col("doc_id") % CONTAIN_PLANT_MOD == 0)
               .select((-F.col("doc_id") - 1).alias("doc_id"),
                       half_text.alias("text")))
    return containment_pairs(docs.unionByName(planted))


def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Tables(spark, sf_dir).documents
    planted = (docs.filter(F.col("doc_id") % OVERLAP_PLANT_MOD == 0)
               .select(F.concat(F.lit("src"),
                                (((F.col("doc_id") % 20) + 1) % 20)
                                .cast("string"))
                       .alias("source"), "text"))
    return source_overlap_matrix(
        docs.select("source", "text").unionByName(planted))


#: suffix-ordering repeated-span detection (the one dedup axis the
#: fixed-k n-gram family can't cover: the LONGEST shared span)
REPEAT_MIN_SPAN = 5       # tokens; also the window-block width
REPEAT_SUFFIX_CAP = 20    # tokens kept per suffix; spans >= cap report cap


def repeated_spans(docs: DataFrame,
                   min_span: int = REPEAT_MIN_SPAN,
                   cap: int = REPEAT_SUFFIX_CAP) -> DataFrame:
    """Longest cross-document repeated token span per document — the
    suffix-array exact-substring dedup of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    token-level.  Every fixed-k member of this module answers "do
    these docs share SOME k-gram"; this one answers "what is the
    longest contiguous run this doc shares with ANY other doc", which
    is the signal the published pipeline thresholds on (50-token
    runs) before cutting spans out of the corpus.

    Algorithm = the suffix-array construction re-expressed as one
    blocked window, no single-partition global sort:

    1. explode each doc into its suffixes, truncated to ``cap``
       tokens (map-side; payload O(cap) per row);
    2. window ``partitionBy(block).orderBy(suffix, doc_id, pos)``
       where block = the suffix's first ``min_span`` tokens.  Any
       pair with token-LCP >= min_span shares its block by
       definition, and because ' ' sorts below every token character,
       suffixes sharing a token prefix are contiguous under plain
       string order — so within a block the classic suffix-array
       adjacency lemma holds.  That separator-below-every-token-char
       premise is ENFORCED, not assumed: tokenization maps every run
       of ``[\\x00-\\x20]`` (controls + whitespace) to one separator,
       so no token can carry a character that sorts below ' '.  Raw
       crawls routinely embed tabs/control bytes inside space-split
       "words"; without the cleanse a suffix could sort BETWEEN two
       suffixes it token-diverges from and break adjacency-exactness: lcp(u, v) = min of adjacent lcps
       between them, hence for every cross-doc pair at LCP L there is
       an ADJACENT doc-changing pair at LCP >= L involving each
       endpoint's doc.  Scanning only lag-adjacent rows is therefore
       exact, not approximate;
    3. token-LCP of adjacent suffixes as a codegen expression
       (``zip_with`` mismatch scan — ``<=>`` makes the padded-NULL
       tail a mismatch, so unequal lengths resolve for free);
    4. per-doc max with a deterministic (lcp DESC, span ASC)
       ``row_number`` tiebreak.

    Scale shape: one exchange on the block key plus one on doc_id;
    the explode multiplies rows by avg doc length but every row
    carries <= cap tokens, so the shuffle moves O(corpus_tokens·cap)
    — the same external-sort cost profile as the published suffix-
    array build, with ``cap`` the completeness/IO dial.  Window cost
    is linear per partition (sort + lag), so a hot block (a viral
    boilerplate 5-gram) degrades to a bigger sort, never a quadratic
    pair blow-up.

    Returns (doc_id, span_len, span); docs sharing no run of
    ``min_span``+ tokens are absent (filter semantics).
    """
    toks = docs.select(
        "doc_id",
        # control-char cleanse (see step 2 of the docstring): collapse
        # every [\x00-\x20]+ run to one space, trim, THEN split — on
        # already-clean single-spaced text this is the identity
        F.split(F.trim(F.regexp_replace(
            "text", "[\\x00-\\x20]+", " ")), " ").alias("t"))
    # sequence(1, n) descends for n < 1 — guard with the size filter
    sfx = (toks.filter(F.size("t") >= min_span)
           .select("doc_id", "t",
                   F.explode(F.sequence(
                       F.lit(1),
                       F.size("t") - (min_span - 1))).alias("pos"))
           .select("doc_id", "pos",
                   F.expr(f"array_join(slice(t, pos, {cap}), ' ')")
                   .alias("sfx"),
                   F.expr(f"array_join(slice(t, pos, {min_span}), ' ')")
                   .alias("blk")))
    w = Window.partitionBy("blk").orderBy("sfx", "doc_id", "pos")
    lagd = sfx.select("doc_id", "sfx",
                      F.lag("doc_id").over(w).alias("pdoc"),
                      F.lag("sfx").over(w).alias("psfx"))
    pairs = (lagd
             .filter(F.col("pdoc").isNotNull()
                     & (F.col("pdoc") != F.col("doc_id")))
             .select("doc_id", "pdoc",
                     F.split("sfx", " ").alias("a"),
                     F.split("psfx", " ").alias("b")))
    # first mismatch position, 1-based; 0 = arrays identical
    mism = F.expr("array_position(zip_with(a, b, "
                  "(x, y) -> NOT (x <=> y)), true)")
    lcp = (F.when(mism == 0, F.least(F.size("a"), F.size("b")))
           .otherwise(mism - 1))
    # both endpoints of each adjacent pair get credit; explode-of-
    # structs, NOT a self-union — a union would duplicate the whole
    # scan+explode+window upstream (verified: two FileScans in the
    # unioned plan, one here)
    sides = (pairs.select("doc_id", "pdoc", lcp.alias("lcp"), "a")
             .filter(F.col("lcp") >= min_span)
             .select("doc_id", "pdoc", "lcp",
                     F.expr("array_join(slice(a, 1, lcp), ' ')")
                     .alias("span"))
             .select(F.explode(F.array(
                 F.struct(F.col("doc_id").alias("d"), "lcp", "span"),
                 F.struct(F.col("pdoc").alias("d"), "lcp", "span")))
                 .alias("s"))
             .select("s.*"))
    wv = Window.partitionBy("d").orderBy(F.desc("lcp"), F.asc("span"))
    return (sides.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select(F.col("d").cast("long").alias("doc_id"),
                    F.col("lcp").cast("long").alias("span_len"),
                    "span"))


def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repeated_spans(_docs(spark, sf_dir))


def drop_repeated_span_dups(docs: DataFrame,
                            min_len: int = 15,
                            cap: int = REPEAT_SUFFIX_CAP) -> DataFrame:
    """Doc-level repeated-span dedup policy over :func:`repeated_spans`:
    among docs whose longest cross-doc shared run is >= ``min_len``
    tokens (partial template copies — license headers, navboxes —
    that whole-doc near-dup misses because full-doc jaccard stays
    low), keep ONE doc per distinct long span (min doc_id) and drop
    the rest.  Docs below the cut pass through untouched.

    ``min_len`` must be <= ``cap``: spans longer than the suffix cap
    report exactly ``cap``, so a larger cut would silently never fire.

    Returns the surviving subset of ``docs``.
    """
    if min_len > cap:
        raise ValueError(
            f"min_len {min_len} > suffix cap {cap}: span_len is "
            f"capped at {cap}, the filter would never match")
    long_spans = (repeated_spans(docs, cap=cap)
                  .filter(F.col("span_len") >= min_len))
    keepers = long_spans.groupBy("span").agg(
        F.min("doc_id").alias("keep_id"))
    drop = (long_spans.join(keepers, "span")
            .filter(F.col("doc_id") != F.col("keep_id"))
            .select("doc_id"))
    return docs.join(drop, "doc_id", "left_anti")


QUERIES = {
    "dedup_incremental": dedup_incremental,
    "split_leakage_safe": split_leakage_safe,
    "dedup_source_overlap": dedup_source_overlap,
    "dedup_containment": dedup_containment,
    "dedup_keep_best": dedup_keep_best,
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_jaccard_prefix": dedup_jaccard_prefix,
    "dedup_char_jaccard": dedup_char_jaccard,
    "dedup_clusters": dedup_clusters,
    "dedup_repeated_spans": dedup_repeated_spans,
    "knn_doc_graph": knn_doc_graph,
}

_W3 = H.word_shingles_sql()
_W2 = H.word_shingles_sql(n=2)
_C4 = H.char_ngrams_sql()

#: the LSH/banded plans verify candidates exactly, so the oracle is the
#: brute-force ground truth — any recall loss would surface as a
#: row-count mismatch.
#:
#: The ground-truth jaccard joins are expressed via an inverted index
#: (unnest shingles → equi-join → count shared) rather than an
#: all-pairs nested loop: ``inter / (|A| + |B| - inter)`` is the same
#: double as ``len(list_intersect)/len(union)`` on the same distinct
#: shingle sets, and every pair with jac > 0 shares ≥1 shingle so no
#: qualifying pair is lost.  Identical rows (verified bit-exact both
#: ways at sf0.01), ~100× faster — keeps the driver's correctness pass
#: well inside its global budget.


def _jaccard_pairs_oracle(shingle_sql: str, threshold: float,
                          exact: bool = False) -> str:
    # NOTE: valid only while every qualifying pair shares >= 1 token
    # (always true for jaccard > 0), and every doc list is non-empty.
    # ``exact`` applies the snapped-rational integer predicate the
    # PPJoin family verifies with (inter·q ≥ p·union) instead of the
    # float comparison — both engines use the identical arithmetic
    # either way, so parity holds; exact mode additionally matches the
    # candidate bounds (round-4 ADVICE).
    if exact:
        fr = _snap(threshold)
        pred = (f"inter * {fr.denominator} "
                f">= {fr.numerator} * (na + nb - inter)")
    else:
        pred = f"inter::DOUBLE / (na + nb - inter) >= {threshold}"
    return f"""
        WITH sh AS (SELECT doc_id, {shingle_sql} AS s FROM documents),
        ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS t FROM sh),
        cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        any_value(a.n) AS na, any_value(b.n) AS nb,
                        count(*) AS inter
                 FROM ex a JOIN ex b ON a.t = b.t AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id)
        SELECT da AS doc_a, db AS doc_b,
               inter::DOUBLE / (na + nb - inter) AS jac
        FROM cand
        WHERE {pred}"""


#: the recursive-CTE connected-components ground truth over the
#: verified word-3-gram jaccard graph (shared by the clusters /
#: keep-best / leakage-split oracles).
_COMPONENTS_CTE = f"""
        sh AS (SELECT doc_id, {_W3} AS s FROM documents),
        ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS t FROM sh),
        cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        any_value(a.n) AS na, any_value(b.n) AS nb,
                        count(*) AS inter
                 FROM ex a JOIN ex b ON a.t = b.t AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id),
        edges AS (SELECT da, db FROM cand
                  WHERE inter::DOUBLE / (na + nb - inter)
                        >= {JACCARD_THRESHOLD}),
        bidir AS (SELECT da u, db v FROM edges
                  UNION ALL SELECT db, da FROM edges),
        nodes AS (SELECT DISTINCT u FROM bidir),
        walk(u, lbl) AS (
          SELECT u, u FROM nodes
          UNION
          SELECT b.v, walk.lbl FROM walk JOIN bidir b ON b.u = walk.u
          WHERE walk.lbl < b.v),
        cl AS (SELECT u AS doc_id, min(lbl) AS cluster_id
               FROM walk GROUP BY u)"""

_SPLIT_BUCKET = H.MD5_BUCKET_SQL.format("cluster_id", 10000)

ORACLES = {
    "dedup_source_overlap": f"""
        WITH u AS (SELECT source, text FROM documents
                   UNION ALL
                   SELECT 'src' || ((((doc_id % 20) + 1) % 20)::VARCHAR),
                          text
                   FROM documents
                   WHERE doc_id % {OVERLAP_PLANT_MOD} = 0),
        sd AS (SELECT DISTINCT source, md5(text) AS digest
               FROM u)
        SELECT a.source AS source_a, b.source AS source_b,
               count(*)::BIGINT AS n_shared_texts
        FROM sd a JOIN sd b
          ON a.digest = b.digest AND a.source < b.source
        GROUP BY 1, 2""",
    "dedup_containment": f"""
        WITH u AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT -doc_id - 1,
                 array_to_string(list_slice(string_split(text, ' '), 1,
                     greatest(len(string_split(text, ' ')) // 2, 3)),
                     ' ')
          FROM documents WHERE doc_id % {CONTAIN_PLANT_MOD} = 0),
        sh AS (SELECT doc_id, {H.word_shingles_sql(n=2)} AS s FROM u),
        ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS t FROM sh),
        cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        any_value(a.n) AS na, any_value(b.n) AS nb,
                        count(*) AS inter
                 FROM ex a JOIN ex b
                   ON a.t = b.t
                  AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
                 GROUP BY a.doc_id, b.doc_id)
        SELECT da AS doc_a, db AS doc_b,
               inter::DOUBLE / least(na, nb) AS containment
        FROM cand
        WHERE inter * {_snap(CONTAINMENT_THRESHOLD).denominator}
              >= {_snap(CONTAINMENT_THRESHOLD).numerator}
                 * least(na, nb)""",
    "dedup_incremental": f"""
        WITH sh AS (SELECT doc_id, {_W3} AS s FROM documents),
        ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS t FROM sh),
        cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        any_value(a.n) AS na, any_value(b.n) AS nb,
                        count(*) AS inter
                 FROM ex a JOIN ex b ON a.t = b.t
                 WHERE a.doc_id % {INCR_MOD} = 0
                   AND b.doc_id % {INCR_MOD} <> 0
                 GROUP BY a.doc_id, b.doc_id)
        SELECT da AS new_doc, db AS base_doc,
               inter::DOUBLE / (na + nb - inter) AS jac
        FROM cand
        WHERE inter::DOUBLE / (na + nb - inter)
              >= {JACCARD_THRESHOLD}""",
    "split_leakage_safe": f"""
        WITH RECURSIVE
        {_COMPONENTS_CTE},
        alldocs AS (
          SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
        SELECT doc_id, cluster_id,
               CASE WHEN {_SPLIT_BUCKET} < 9800 THEN 'train'
                    WHEN {_SPLIT_BUCKET} < 9900 THEN 'val'
                    ELSE 'test' END AS split
        FROM alldocs""",
    "dedup_exact": """
        SELECT md5(text) AS digest, count(*) AS n_copies,
               min(doc_id) AS rep_doc_id
        FROM documents GROUP BY md5(text)""",
    "dedup_minhash_lsh": _jaccard_pairs_oracle(_W3, JACCARD_THRESHOLD),
    "dedup_simhash": f"""
        WITH sh AS (SELECT doc_id, {_W3} AS s FROM documents),
        ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        h AS (SELECT doc_id, {H.HASH60_SQL.format('sh')} AS hh FROM ex),
        bits AS (SELECT doc_id,
            {', '.join(f'sum(CASE WHEN (hh >> {j}) & 1 = 1 THEN 1 ELSE -1 END) s{j}' for j in range(H.SIMHASH_BITS))}
            FROM h GROUP BY doc_id),
        fp AS (SELECT doc_id,
            ({' + '.join(f'(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)::BIGINT' for j in range(H.SIMHASH_BITS))})
            AS fp FROM bits)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.fp, b.fp))::INT AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= {SIMHASH_MAX_DIST}""",
    "dedup_clusters": f"""
        WITH RECURSIVE
        sh AS (SELECT doc_id, {_W3} AS s FROM documents),
        ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS t FROM sh),
        cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        any_value(a.n) AS na, any_value(b.n) AS nb,
                        count(*) AS inter
                 FROM ex a JOIN ex b ON a.t = b.t AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id),
        edges AS (SELECT da, db FROM cand
                  WHERE inter::DOUBLE / (na + nb - inter)
                        >= {JACCARD_THRESHOLD}),
        bidir AS (SELECT da u, db v FROM edges
                  UNION ALL SELECT db, da FROM edges),
        nodes AS (SELECT DISTINCT u FROM bidir),
        walk(u, lbl) AS (
          SELECT u, u FROM nodes
          UNION
          SELECT b.v, walk.lbl FROM walk JOIN bidir b ON b.u = walk.u
          WHERE walk.lbl < b.v)
        SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u""",
    "dedup_jaccard_prefix": _jaccard_pairs_oracle(_W2, PREFIX_THRESHOLD,
                                                  exact=True),
    "dedup_char_jaccard": _jaccard_pairs_oracle(_C4,
                                                CHAR_JACCARD_THRESHOLD,
                                                exact=True),
    "dedup_keep_best": f"""
        WITH RECURSIVE
        sh AS (SELECT doc_id, {_W3} AS s FROM documents),
        ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS t FROM sh),
        cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
                        any_value(a.n) AS na, any_value(b.n) AS nb,
                        count(*) AS inter
                 FROM ex a JOIN ex b ON a.t = b.t AND a.doc_id < b.doc_id
                 GROUP BY a.doc_id, b.doc_id),
        edges AS (SELECT da, db FROM cand
                  WHERE inter::DOUBLE / (na + nb - inter)
                        >= {JACCARD_THRESHOLD}),
        bidir AS (SELECT da u, db v FROM edges
                  UNION ALL SELECT db, da FROM edges),
        nodes AS (SELECT DISTINCT u FROM bidir),
        walk(u, lbl) AS (
          SELECT u, u FROM nodes
          UNION
          SELECT b.v, walk.lbl FROM walk JOIN bidir b ON b.u = walk.u
          WHERE walk.lbl < b.v),
        cl AS (SELECT u AS doc_id, min(lbl) AS cluster_id
               FROM walk GROUP BY u),
        alldocs AS (
          SELECT d.doc_id, d.n_chars,
                 coalesce(cl.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        best AS (
          SELECT *, row_number() OVER (PARTITION BY cluster_id
                        ORDER BY n_chars DESC, doc_id) AS rk
          FROM alldocs),
        sizes AS (SELECT cluster_id, count(*)::BIGINT AS n_members
                  FROM alldocs GROUP BY cluster_id)
        SELECT b.cluster_id, b.doc_id AS keep_doc_id, b.n_chars,
               s.n_members
        FROM best b JOIN sizes s ON b.cluster_id = s.cluster_id
        WHERE b.rk = 1""",
    # same blocked-suffix-window construction as repeated_spans():
    # both engines sort identical ASCII strings, so the adjacency set
    # (and with it every intermediate pair) matches row-for-row, not
    # just the final max.  DuckDB list slices are inclusive-both-ends
    # and clamp at the list end; range() is end-exclusive (lateral
    # generate_series is unsupported — the list-comprehension recipe).
    "dedup_repeated_spans": f"""
        WITH toks AS (SELECT doc_id,
                             string_split(trim(regexp_replace(
                                 text, '[\\x00-\\x20]+', ' ', 'g')),
                                 ' ') AS t
                      FROM documents),
        sfx AS (
          SELECT doc_id, i AS pos,
                 array_to_string(t[i:i + {REPEAT_SUFFIX_CAP} - 1],
                                 ' ') AS sfx,
                 array_to_string(t[i:i + {REPEAT_MIN_SPAN} - 1],
                                 ' ') AS blk
          FROM toks,
               unnest([i for i in
                       range(1, len(t) - {REPEAT_MIN_SPAN} + 2)])
               AS u(i)),
        lagd AS (
          SELECT doc_id, sfx,
                 lag(doc_id) OVER w AS pdoc,
                 lag(sfx) OVER w AS psfx
          FROM sfx
          WINDOW w AS (PARTITION BY blk ORDER BY sfx, doc_id, pos)),
        pairs AS (
          SELECT doc_id, pdoc,
                 string_split(sfx, ' ') AS a,
                 string_split(psfx, ' ') AS b
          FROM lagd
          WHERE pdoc IS NOT NULL AND pdoc <> doc_id),
        lcps AS (
          SELECT doc_id, pdoc, a,
                 coalesce(nullif(list_position(
                     [a[i] IS DISTINCT FROM b[i]
                      for i in range(1, least(len(a), len(b)) + 1)],
                     true), 0) - 1,
                     least(len(a), len(b))) AS lcp
          FROM pairs),
        sides AS (
          SELECT doc_id AS d, lcp,
                 array_to_string(a[1:lcp], ' ') AS span
          FROM lcps WHERE lcp >= {REPEAT_MIN_SPAN}
          UNION ALL
          SELECT pdoc, lcp, array_to_string(a[1:lcp], ' ')
          FROM lcps WHERE lcp >= {REPEAT_MIN_SPAN})
        SELECT d::BIGINT AS doc_id, lcp::BIGINT AS span_len, span
        FROM sides
        QUALIFY row_number() OVER (PARTITION BY d
                                   ORDER BY lcp DESC, span ASC) = 1""",
    # symmetrized thresholded-pair list + per-doc top-K: jac is the
    # identical integer-ratio double in both engines, so the
    # (jac DESC, neighbor) order — total because ties break on the
    # id — yields the same graph bit-for-bit
    "knn_doc_graph": f"""
        WITH pairs AS ({_jaccard_pairs_oracle(_W2, PREFIX_THRESHOLD)}),
        sym AS (SELECT doc_a AS doc_id, doc_b AS neighbor, jac
                FROM pairs
                UNION ALL
                SELECT doc_b, doc_a, jac FROM pairs)
        SELECT doc_id, neighbor, jac,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY jac DESC, neighbor)::BIGINT
                   AS rnk
        FROM sym
        QUALIFY rnk <= {KNN_K}""",
}
