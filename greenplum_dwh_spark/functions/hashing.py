"""Portable hashing / shingling expression builders.

Every hash used by the dedup & fingerprint operators is derived from
``md5`` (identical hex output in Spark and DuckDB) so that oracle
queries can replicate the algorithms bit-for-bit:

- 60-bit token hash: first 15 hex chars of md5 parsed as int64
  (Spark ``conv(...,16,10)``, DuckDB ``('0x'||...)::BIGINT``);
- minhash permutation i: ``min(substr(md5(i || '|' || shingle),1,15))``
  — a string minimum over uniformly distributed hex, which is a valid
  min-wise hash family and needs no modular arithmetic;
- word n-gram shingles from a single-space tokenizer.

These run entirely inside whole-stage codegen (no Python UDFs) — the
hot dedup path stays JVM-side at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: minhash configuration: K permutations in bands of R rows. The
#: permutations are arithmetic over one xxhash64 (64× cheaper than
#: per-permutation md5; portability is NOT needed here because the
#: post-LSH exact-jaccard verification makes the output equal to the
#: brute-force ground truth, which is what the oracle computes).
#: With K=64, R=2 the probability of missing a pair with jaccard j is
#: (1-j²)^32 — < 1e-14 at j=0.8 (where this corpus' near-dups live) and
#: 1e-4 at the 0.5 threshold boundary; R=2 exists to kill the candidate
#: explosion a shared-vocabulary corpus produces at r=1 (P(collision)
#: per band drops from j to j²).
MINHASH_PERMS = 64
MINHASH_BAND_R = 2
_P31 = 2147483647  # Mersenne prime 2^31 − 1

SIMHASH_BITS = 60          # 15 hex chars -> fits signed int64
SIMHASH_BAND_BITS = 6      # 10 bands; pigeonhole-complete for dist <= 9


def md5_bucket(col: Column, mod: int) -> Column:
    """Uniform bucket in [0, mod) from the md5 of a key — identical in
    Spark (conv hex→dec) and DuckDB (``('0x'||hex)::BIGINT``).
    Deterministic under repartitioning, unlike ``sample()`` /
    ``rand(seed)`` whose streams are partitioning-dependent.  The ONE
    definition of the recipe: sampling, splits, and sharding must all
    derive from here so they can never silently diverge."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 6), 16, 10)
            .cast("long") % mod)


MD5_BUCKET_SQL = "('0x' || substr(md5({0}::VARCHAR), 1, 6))::BIGINT % {1}"


def word_shingles(tokens_col: str = "toks", n: int = 3) -> Column:
    """Distinct word n-gram shingles over a PRE-SPLIT token array
    column. Callers must project the tokens once
    (``F.split(text, ' ').alias('toks')``) — inlining the split inside
    the lambda would re-split the text per output element (O(tokens²)
    string work; measured 1.6 s vs 0.2 s on 5000 docs). Short texts
    fall back to the whole text as a single shingle."""
    t = tokens_col
    # no CASE branch: a CaseWhen wrapping a higher-order function
    # drops the whole expression out of codegen into interpreted eval
    # (measured 3.4 s vs 0.2 s on 5000 docs at sf0.1).  The short-text
    # fallback is instead encoded arithmetically: for size < n,
    # sequence(0, greatest(size-n, 0)) = [0] and slice past the end
    # truncates, so the single shingle is the whole text — identical
    # semantics to the old CASE, same oracle SQL.
    return F.expr(
        f"array_distinct(transform("
        f"sequence(0, greatest(size({t}) - {n}, 0)), "
        f"i -> array_join(slice({t}, i + 1, {n}), ' ')))")


def explode_word_ngrams(tokens_col: str, n: int) -> Column:
    """One row per word n-gram OCCURRENCE (not distinct, unlike
    :func:`word_shingles`) over a pre-split token array column — the
    gram builder of the decontamination operators, batch and stream.
    Same branch-free short-text guard: for size < n,
    sequence(1, greatest(size-n+1, 1)) = [1] and slice truncates, so a
    degenerate doc contributes its whole text as the single gram."""
    t = tokens_col
    return F.explode(F.expr(
        f"transform(sequence(1, greatest(size({t}) - {n - 1}, 1)),"
        f" i -> concat_ws(' ', slice({t}, i, {n})))"))


def with_word_shingles(docs, out: str = "s", n: int = 3,
                       text_col: str = "text"):
    """(doc_id, <out>=shingle array) projection of a documents table.

    The docs are hash-repartitioned on ``doc_id`` *before* shingling:
    (a) a single-file corpus otherwise shingles on ONE task (a parquet
    scan's partitioning follows file splits — measured 3.3 s of the
    4.5 s simhash total on one core at sf0.1), and (b) every consumer
    immediately aggregates by ``doc_id`` (minhash/simhash signatures,
    prefix ranks), so the exchange this inserts replaces the one the
    aggregation would have needed — moved to where rows are 1-per-doc
    instead of 1-per-shingle (~100× less shuffle IO).

    The partition count is pinned (session shuffle partitions), not
    left to AQE: AQE coalesces by post-shuffle *input* bytes, and a
    few MB of compressed text explodes ~100× into shingles — sizing
    by input would serialize the expensive downstream work.
    """
    try:
        nparts = int(docs.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        nparts = docs.sparkSession.sparkContext.defaultParallelism
    return (docs.select("doc_id", F.col(text_col))
            .repartition(nparts, "doc_id")
            .select("doc_id", F.split(text_col, " ").alias("toks"))
            .select("doc_id", word_shingles("toks", n).alias(out)))


def word_shingles_sql(text_expr: str = "text", n: int = 3) -> str:
    """DuckDB twin of :func:`word_shingles`."""
    joins = " || ' ' || ".join(f"w[i+{k}]" for k in range(n))
    # range() is end-exclusive: last shingle starts at len(w) - n + 1
    return (f"CASE WHEN len(string_split({text_expr}, ' ')) >= {n} THEN "
            f"(SELECT list_distinct([{joins} "
            f"for i in range(1, len(w) - {n - 2})]) "
            f"FROM (SELECT string_split({text_expr}, ' ') w)) "
            f"ELSE [{text_expr}] END")


def with_char_ngrams(docs, out: str = "s", n: int = 4,
                     text_col: str = "text"):
    """(doc_id, <out>=char n-gram array) projection — same pinned
    repartition rationale as :func:`with_word_shingles`."""
    try:
        nparts = int(docs.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        nparts = docs.sparkSession.sparkContext.defaultParallelism
    return (docs.select("doc_id", F.col(text_col))
            .repartition(nparts, "doc_id")
            .select("doc_id", char_ngrams(text_col, n).alias(out)))


def char_ngrams(text_col: str = "text", n: int = 4) -> Column:
    """Distinct character n-grams (same branch-free construction as
    :func:`word_shingles`: substring truncates past the end, so short
    texts yield themselves as the single n-gram)."""
    return F.expr(
        f"array_distinct(transform("
        f"sequence(1, greatest(length({text_col}) - {n - 1}, 1)), "
        f"i -> substring({text_col}, i, {n})))")


def char_ngrams_sql(text_expr: str = "text", n: int = 4) -> str:
    return (f"CASE WHEN len({text_expr}) >= {n} THEN "
            f"list_distinct([{text_expr}[i:i+{n - 1}] "
            f"for i in range(1, len({text_expr}) - {n - 2})]) "
            f"ELSE [{text_expr}] END")


def hash60(col: Column) -> Column:
    """60-bit integer hash of a string column (JVM-side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


HASH60_SQL = "('0x' || substr(md5({0}), 1, 15))::BIGINT"


def _perm_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k universal-hash permutations."""
    return [((i * 2654435761 + 1) % (_P31 - 1) + 1,
             (i * 40503 + 7) % _P31) for i in range(k)]


def minhash_aggs(shingle_col: str = "sh",
                 k: int = MINHASH_PERMS) -> list[Column]:
    """k min-wise hash aggregates over exploded shingles: one xxhash64
    per shingle, k cheap (a·h + b) mod p permutations (a, h < 2^31 so
    the product never overflows int64).

    Built as parsed SQL strings, one ``F.expr`` per aggregate: the
    Column-API formulation issued ~6 py4j round trips per permutation
    (~400 per call), ~1.1 s of driver-side plan construction per
    invocation at ANY data scale (profiled round 11)."""
    h = f"pmod(xxhash64({shingle_col}), {_P31})"
    return [F.expr(f"min(pmod({a}L * {h} + {b}L, {_P31})) AS m{i}")
            for i, (a, b) in enumerate(_perm_coeffs(k))]


def jaccard(a: Column, b: Column) -> Column:
    """Exact jaccard of two string arrays — single double division."""
    return (F.size(F.array_intersect(a, b)).cast("double")
            / F.size(F.array_union(a, b)))


JACCARD_SQL = ("len(list_intersect({a}, {b}))::DOUBLE "
               "/ len(list_distinct(list_concat({a}, {b})))")
