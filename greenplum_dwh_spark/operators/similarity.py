"""Similarity search over the embeddings table (``array<float>``, 64-d).

- ``ann_cosine_topk`` — brute-force exact cosine top-k. The dot product
  is a **left fold in index order over doubles** (``zip_with`` +
  ``aggregate``) so the float arithmetic sequence is identical to the
  DuckDB oracle's ``list_reduce`` fold — bit-exact parity without
  quantization. Stays fully JVM-side (no UDF).
- ``ann_euclidean_topk`` — exact euclidean top-k, same fold discipline.
- ``ann_ivf_topk`` — IVF scale path: a deterministic DataFrame-native
  k-means coarse quantizer; queries probe the top-``NPROBE`` centroids
  and search only those partitions. Approximate → declared rows-only
  (no oracle); recall vs the exact operator is asserted in tests.

At 100 TB the brute-force variant is the per-partition kernel inside
the IVF/LSH bucketed plan: candidates are colocated by bucket id, the
fold is codegen'd, and top-k is a per-bucket window + global re-rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

N_QUERIES = 8     # vec_id < 8 are the query vectors
TOP_K = 10
NPROBE = 4        # coarse-quantizer partitions probed per query
KMEANS_K = 16     # IVF coarse centroids
KMEANS_ITERS = 2  # Lloyd iterations (deterministic init + tie-breaks)
ASSIGN_R = 2      # corpus vectors indexed under their top-R centroids
                  # (redundant assignment: 2x index size buys recall
                  # 0.86 -> 0.95 at nprobe=4 — the IVF spill-list trade)

_DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> "
        "cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from greenplum_dwh_spark.sources.tpch import Tables
    return Tables(spark, sf_dir).embeddings


def _with_norm(df: DataFrame, prefix: str) -> DataFrame:
    dot_self = _DOT.format(a="embedding", b="embedding")
    return df.select(
        F.col("vec_id").alias(f"{prefix}_id"),
        F.col("embedding").alias(f"{prefix}_emb"),
        F.expr(f"sqrt({dot_self})").alias(f"{prefix}_norm"))


def cosine_topk(queries: DataFrame, corpus: DataFrame,
                k: int = TOP_K) -> DataFrame:
    """Exact top-k cosine neighbors of each query over the corpus."""
    q = _with_norm(queries, "query")
    c = _with_norm(corpus, "neighbor")
    dot = _DOT.format(a="query_emb", b="neighbor_emb")
    scored = (q.crossJoin(c)
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      (F.expr(dot)
                       / (F.col("query_norm") * F.col("neighbor_norm")))
                      .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "cosine"))


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return cosine_topk(emb.filter(F.col("vec_id") < N_QUERIES), emb)


def _mean_centroids(assigned: DataFrame) -> DataFrame:
    """(cluster, embedding) rows → (cluster, centroid=mean vector)."""
    return (assigned
            .select("cluster", F.posexplode("embedding").alias("i", "x"))
            .groupBy("cluster", "i").agg(F.avg("x").alias("cx"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("i", "cx")))
                 .alias("pairs"))
            .select("cluster", F.expr("transform(pairs, p -> p.cx)")
                    .alias("centroid")))


def _assign(emb: DataFrame, centroids: DataFrame,
            r: int = 1) -> DataFrame:
    """Top-``r`` nearest-centroid (cosine) assignment, deterministic
    tie-break. ``r=1`` for Lloyd training; ``r=ASSIGN_R`` when building
    the redundant IVF index."""
    dot = _DOT.format(a="embedding", b="centroid")
    en = _DOT.format(a="embedding", b="embedding")
    cn = _DOT.format(a="centroid", b="centroid")
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"),
                                             F.asc("cluster"))
    return (emb.crossJoin(F.broadcast(centroids))
            .select("vec_id", "embedding", "cluster",
                    (F.expr(dot) / (F.expr(f"sqrt({en})")
                                    * F.expr(f"sqrt({cn})")))
                    .alias("c_cos"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= r)
            .select("vec_id", "embedding", "cluster"))


def kmeans_centroids(emb: DataFrame, k: int = KMEANS_K,
                     iters: int = KMEANS_ITERS) -> DataFrame:
    """Deterministic Lloyd k-means entirely in DataFrame algebra:
    init = the k lowest vec_ids, then assign→mean iterations. Each
    iteration is one broadcast crossJoin + two shuffles of vector-sized
    data; at 100 TB the assignment is the same broadcast pattern and
    centroids stay driver-small."""
    centroids = (emb.filter(F.col("vec_id") < k)
                 .select(F.col("vec_id").cast("int").alias("cluster"),
                         F.expr("transform(embedding, "
                                "x -> cast(x as double))")
                         .alias("centroid")))
    for _ in range(iters):
        assigned = _assign(emb, centroids)
        centroids = _mean_centroids(assigned)
    return centroids


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF: k-means coarse quantizer; the corpus is indexed under each
    vector's top-ASSIGN_R centroids (redundant posting lists) and
    queries probe their top-NPROBE centroids — recall ≥0.9 at
    nprobe=4/k=16 on the synthetic corpus, asserted in tests."""
    emb = _emb(spark, sf_dir).cache()
    centroids = kmeans_centroids(emb).cache()
    clustered = _assign(emb, centroids, r=ASSIGN_R).drop("embedding")
    emb_clustered = emb.join(clustered, "vec_id")
    q = (emb.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_emb")))
    dot = _DOT.format(a="query_emb", b="centroid")
    qn = _DOT.format(a="query_emb", b="query_emb")
    cn = _DOT.format(a="centroid", b="centroid")
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("c_cos"), F.asc("cluster"))
    probes = (q.crossJoin(F.broadcast(centroids))
              .select("query_id", "query_emb", "cluster",
                      (F.expr(dot) / (F.expr(f"sqrt({qn})")
                                      * F.expr(f"sqrt({cn})")))
                      .alias("c_cos"))
              .withColumn("p", F.row_number().over(probe_w))
              .filter(F.col("p") <= NPROBE)
              .select("query_id", "query_emb", "cluster"))
    # redundant assignment can reach a neighbor via several probed
    # clusters — dedup candidate pairs before the expensive scoring
    cand = (probes.join(emb_clustered, "cluster")
            .filter(F.col("query_id") != F.col("vec_id"))
            .select("query_id", "query_emb",
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("neighbor_emb"))
            .distinct())
    dot2 = _DOT.format(a="query_emb", b="neighbor_emb")
    qn2 = _DOT.format(a="query_emb", b="query_emb")
    nn2 = _DOT.format(a="neighbor_emb", b="neighbor_emb")
    scored = cand.select(
        "query_id", "neighbor_id",
        (F.expr(dot2) / (F.expr(f"sqrt({qn2})") * F.expr(f"sqrt({nn2})")))
        .alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "cosine"))


NEARDUP_THRESHOLD = 0.4   # synthetic corpus: max pairwise cosine ~0.55
SRP_PLANES = 32           # sign-random-projection hyperplanes
SRP_BAND_BITS = 8         # 4 bands x 8 bits
SRP_N_BANDS = SRP_PLANES // SRP_BAND_BITS
#: target mean band-bucket occupancy for the auto-scaled alphabet:
#: bits = max(8, ceil(log2(n / 8))) keeps buckets ~constant as the
#: corpus grows, so banded candidates stay ~linear in n instead of
#: n²/2^bits (a FIXED 8-bit alphabet at 200k vectors holds ~780
#: vectors per bucket — ~3·10⁸ candidate pairs, the saturation wall
#: the simhash split hit one round earlier).  The floor keeps every
#: corpus ≤ ~2k vectors on the original 32-plane plan, so the driver
#: oracle rows (sf0.01) and the planted-fixture tests are unchanged.
SRP_TARGET_BUCKET = 8
SRP_MAX_BAND_BITS = 24

#: emb-plan semanticHash → corpus count for the auto bits decision
#: (same memo discipline as dedup._HOTNESS_MEMO: valid exactly as
#: long as Spark's own plan-keyed cache would be)
_SRP_N_MEMO: dict[int, int] = {}


def last_srp_config() -> dict:
    """{n, band_bits, n_planes} of the most recent LSH plan built by
    :func:`embedding_neardup_pairs` (the ``srp`` entry of the
    ``dedup`` observables registry; {} if none) — the decade probe
    records it next to the band-guard occupancy so the
    alphabet-scaling decision is visible in the artifact."""
    from greenplum_dwh_spark.operators.dedup import _read
    return _read("srp") or {}


def _auto_band_bits(emb: DataFrame) -> tuple[int, int]:
    """(band_bits, n) for the corpus: one bounded count job (memoized
    on the plan's semantic hash) sizes the SRP band alphabet so mean
    bucket occupancy stays ~SRP_TARGET_BUCKET.  Same bounded-driver-
    decision class as the simhash hot-band short-circuit and the
    fuzzy block-count (training_data.py:358)."""
    import math
    key = emb.semanticHash()
    n = _SRP_N_MEMO.get(key)
    if n is None:
        n = emb.count()
        _SRP_N_MEMO[key] = n
        while len(_SRP_N_MEMO) > 64:
            _SRP_N_MEMO.pop(next(iter(_SRP_N_MEMO)))
    bits = min(SRP_MAX_BAND_BITS,
               max(SRP_BAND_BITS,
                   math.ceil(math.log2(max(n, 1) / SRP_TARGET_BUCKET))))
    return bits, n


def _srp_plane_values(dim: int, n_planes: int = SRP_PLANES,
                      seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH (seeded host
    RNG).  The stream is prefix-stable: planes p < 32 are identical
    for every n_planes, so growing the alphabet never changes the
    bits existing plans computed."""
    import random
    rng = random.Random(seed)
    return [[rng.uniform(-1.0, 1.0) for _ in range(dim)]
            for _ in range(n_planes)]


def embedding_neardup_pairs(emb: DataFrame,
                            threshold: float = NEARDUP_THRESHOLD,
                            method: str = "exact",
                            dim: int = 64) -> DataFrame:
    """Near-duplicate pairs (a_id < b_id, cosine >= threshold) over an
    (vec_id, embedding) DataFrame — the embedding-cosine member of the
    dedup family.

    - ``method="exact"``: all-pairs blocked comparison with the same
      bit-exact double fold as :func:`cosine_topk` — the correct plan
      when the threshold sits near the bulk of the cosine distribution
      (as on this corpus: nothing prunes when threshold ~ mean + 2
      sigma, measured: top-4 IVF buckets still admit 71% of all pairs).
    - ``method="lsh"``: sign-random-projection banding (Charikar
      rounding) + exact verify — the 100 TB path for true near-dups
      (cosine >= ~0.9), where band collision probability separates
      sharply. Recall vs exact is pinned on planted duplicates in
      tests/test_operators.py.

    Bits per band (lsh only) auto-scale with the corpus
    (:func:`_auto_band_bits`) so mean bucket occupancy —
    and with it the candidate volume — stays ~constant per vector as
    n grows.  The number of bands stays SRP_N_BANDS=4, so total
    planes grow as 4·log2(n).  The recall trade is explicit: a pair
    at cosine θ shares a band with probability p(θ)^bits where
    p(θ) = 1 − arccos(θ)/π, so detection of BORDERLINE pairs falls
    as bits grow (at θ=0.85, bits 8→15 moves per-pair detection
    0.61→0.20) while identical/near-identical duplicates — the
    regime this operator's contract and plants target — keep sign
    signatures equal in every band and are detected at any bits.
    The chosen configuration is observable via
    :func:`last_srp_config`, and band occupancy via the shared
    band-guard metrics, so a probe reads the alphabet decision next
    to its walls."""
    a = _with_norm(emb, "a")
    b = _with_norm(emb, "b")
    dot = _DOT.format(a="a_emb", b="b_emb")
    if method == "exact":
        cand = (a.crossJoin(b)
                .filter(F.col("a_id") < F.col("b_id")))
    elif method == "lsh":
        band_bits, n = _auto_band_bits(emb)
        n_planes = SRP_N_BANDS * band_bits
        from greenplum_dwh_spark.operators import dedup as D
        D._OBSERVABLES["srp"] = ({"n": n, "band_bits": band_bits,
                                  "n_planes": n_planes},)
        # signature build is a SINGLE map-side projection: the plane
        # matrix is a nested literal (n_planes × dim doubles,
        # constant-folded into the plan) and every sign bit is the
        # same index-order double fold as a crossJoin formulation
        # computes — identical bits, but no n×planes row explosion
        # and, decisively, no shuffle: a groupBy(doc, band) +
        # collect_list assembly re-assembles signatures through an
        # (n·planes)-row exchange, which at 10⁹ vectors × 60 planes
        # is a 6·10¹⁰-row shuffle for a computation that needs none
        # (measured on the 200k-vector probe corpus: signature stage
        # 6.8 s → 4.4 s best-of-2, band keys byte-identical)
        vals = _srp_plane_values(dim, n_planes)
        planes_lit = "array(" + ",".join(
            "array(" + ",".join(f"{v!r}D" for v in pl) + ")"
            for pl in vals) + ")"
        bit = ("case when aggregate(zip_with(embedding, pl, (x, y) -> "
               "cast(x as double) * y), cast(0.0 as double), "
               "(acc, v) -> acc + v) >= 0 then '1' else '0' end")
        sig_all = f"array_join(transform({planes_lit}, pl -> {bit}), '')"
        bands = (emb
                 .withColumn("_sig", F.expr(sig_all))
                 .select(F.col("vec_id").alias("doc_id"),
                         F.explode(F.array(*[
                             F.concat_ws(
                                 ":", F.lit(str(b)),
                                 F.substring("_sig",
                                             b * band_bits + 1,
                                             band_bits))
                             for b in range(SRP_N_BANDS)]))
                         .alias("band")))
        pairs = D._banded_candidates(bands).distinct()
        cand = (pairs
                .join(a, F.col("doc_a") == F.col("a_id"))
                .join(b, F.col("doc_b") == F.col("b_id")))
    else:
        raise ValueError(f"unknown method: {method}")
    return (cand
            .select("a_id", "b_id",
                    (F.expr(dot) / (F.col("a_norm") * F.col("b_norm")))
                    .alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: exact embedding-cosine near-dup pairs at the
    corpus-calibrated threshold (oracle = DuckDB brute force, bit-exact
    fold parity)."""
    return embedding_neardup_pairs(_emb(spark, sf_dir))


#: dedup_embedding_lsh: planted near-dups for the banded scale path.
#: The synthetic corpus' max organic pairwise cosine is ~0.51 (measured
#: at sf0.01), so at a true near-dup threshold nothing organic
#: qualifies; vectors vec_id < PLANT_COPIES are re-inserted under
#: vec_id + PLANT_OFFSET with identical embeddings.  Identical vectors
#: have cosine ≈ 1 (same double fold both engines) and — decisive for
#: oracle exactness — identical SRP sign signatures, so every band
#: collides: banding is deterministically lossless for every
#: qualifying pair and the banded output EQUALS the brute-force ground
#: truth the oracle computes.  Sub-threshold collisions are removed by
#: the exact cosine verify.
PLANT_COPIES = 200
PLANT_OFFSET = 1_000_000
LSH_NEARDUP_THRESHOLD = 0.85


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query for the 100 TB embedding-dedup plan: SRP-banded
    candidates + exact verify at a true near-dup threshold (0.85),
    checked against brute force over the same planted corpus.  Unlike
    :func:`dedup_embedding` (all-pairs, justified only when the
    threshold sits in the cosine bulk), this plan is bucketed — the
    candidate count scales with collisions, not n²."""
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    planted = (emb.filter(F.col("vec_id") < PLANT_COPIES)
               .select((F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
                       "embedding"))
    corpus = emb.unionByName(planted)
    return embedding_neardup_pairs(
        corpus, threshold=LSH_NEARDUP_THRESHOLD, method="lsh")


#: second plant layer for the clustering query: vec_id < PLANT2_COPIES
#: get a THIRD identical copy at vec_id + 2·PLANT_OFFSET, so the pair
#: graph has both 2-node and 3-node (triangle) components — the
#: contraction must actually merge transitively, not just echo pairs.
PLANT2_COPIES = 100


def dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup *clustering*: SRP-banded pairs at the 0.85
    near-dup threshold over the planted corpus, contracted to
    connected components (star-contraction, see
    ``dedup.connected_components``) — the semantic-dedup group step:
    keep min vec_id per cluster, drop the rest.  Oracle = brute-force
    pairs + recursive-CTE components."""
    from greenplum_dwh_spark.operators.dedup import connected_components
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    plant = lambda n, off: (emb.filter(F.col("vec_id") < n)
                            .select((F.col("vec_id") + off).alias("vec_id"),
                                    "embedding"))
    corpus = (emb.unionByName(plant(PLANT_COPIES, PLANT_OFFSET))
              .unionByName(plant(PLANT2_COPIES, 2 * PLANT_OFFSET)))
    pairs = (embedding_neardup_pairs(
                 corpus, threshold=LSH_NEARDUP_THRESHOLD, method="lsh")
             .select(F.col("a_id").alias("u"), F.col("b_id").alias("v")))
    return (connected_components(pairs)
            .select(F.col("u").alias("vec_id"),
                    F.col("cluster").alias("cluster_id")))


_SQDIFF = ("aggregate(zip_with({a}, {b}, (x, y) -> "
           "(cast(x as double) - cast(y as double)) "
           "* (cast(x as double) - cast(y as double))), "
           "cast(0.0 as double), (acc, v) -> acc + v)")


def ann_euclidean_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact euclidean top-k — same bit-exact left-fold discipline as
    the cosine variant."""
    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_emb")))
    c = emb.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("neighbor_emb"))
    dist = F.expr(f"sqrt({_SQDIFF.format(a='query_emb', b='neighbor_emb')})")
    scored = (q.crossJoin(c)
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", dist.alias("dist")))
    w = Window.partitionBy("query_id").orderBy(F.asc("dist"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id",
                    F.col("rank").cast("int").alias("rank"), "dist"))


# ---------------------------------------------------------------------------
# Symmetric int8 quantization per vector (the storage/serving compression
# step of an embedding index): scale = max |component|, each component →
# floor(v / scale * 127).  Map-only — one narrow projection, no shuffle
# at any corpus size; the fold for the scale and the per-component
# transform are both index-order double arithmetic, so the DuckDB twin
# is bit-exact (same discipline as the cosine fold).  The quantized
# array is pinned by md5 of its comma-join plus exact integer summary
# stats (emitting the raw array would make the comparison depend on
# engine array-rendering).
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    scaled = emb.select(
        "vec_id", "embedding",
        F.expr("aggregate(embedding, cast(0.0 as double), "
               "(a, v) -> greatest(a, abs(cast(v as double))))")
        .alias("scale"))
    # greatest(scale, 1e-300) guards the all-zero vector: scale would
    # be 0 and v/0 = NaN, which Spark's non-ANSI cast silently turns
    # into 0 while DuckDB's ::BIGINT raises — with the guard a zero
    # vector quantizes to all-zero components in both engines, and any
    # genuinely nonzero scale is unchanged (|v| ≫ 1e-300)
    q = ("transform(embedding, v -> cast(floor(cast(v as double) "
         "/ greatest(scale, 1e-300d) * 127.0) as bigint))")
    return scaled.select(
        "vec_id", "scale",
        F.md5(F.expr(f"concat_ws(',', {q})")).alias("q_md5"),
        F.expr(f"aggregate({q}, cast(0 as bigint), (a, v) -> a + v)")
        .alias("q_sum"),
        F.expr(f"array_min({q})").alias("q_min"),
        F.expr(f"array_max({q})").alias("q_max"))


#: fixed-point scale for centroid component sums (2^20): floor(v·2^20)
#: is exact identical double arithmetic in both engines, and the
#: per-(label, pos) sum stays integer — order-independent and
#: mergeable, unlike a float sum whose value depends on reduction
#: order across executors
CENTROID_SCALE = 1 << 20


def label_centroids_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid ingredients: for every (label, dimension),
    the exact scaled component sum and the member count — the
    cluster-profile aggregate behind re-clustering, per-class drift
    monitoring, and IVF seeding.  The float mean is one division away;
    emitting floor-scaled integer sums keeps the aggregate bit-exact
    AND mergeable (a tree of partial sums gives the same answer in
    any order — the property a 1000-executor combine needs, which a
    double sum does not have).

    Plan: posexplode (map-side, no shuffle) → one groupBy on
    (label, pos) — |labels|·dim groups, so the reduce side is tiny at
    any corpus scale."""
    emb = _emb(spark, sf_dir)
    ex = emb.select(
        "label",
        F.posexplode(F.expr(
            f"transform(embedding, v -> cast(floor(cast(v as double)"
            f" * {CENTROID_SCALE}) as bigint))")).alias("pos", "comp"))
    return (ex.groupBy("label", "pos")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum("comp").alias("sum_scaled"))
            .select("label",
                    (F.col("pos") + 1).cast("int").alias("dim"),
                    "n_vecs", "sum_scaled"))


QUERIES = {
    "label_centroids_scaled": label_centroids_scaled,
    "embedding_quantize": embedding_quantize,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_euclidean_topk": ann_euclidean_topk,
    "ann_ivf_topk": ann_ivf_topk,       # rows-only (approximate)
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "dedup_embedding_clusters": dedup_embedding_clusters,
}

_DOT_SQL = ("list_reduce(list_transform(range(1, 65), i -> "
            "{a}[i]::DOUBLE * {b}[i]::DOUBLE), (x, y) -> x + y)")

_QL = ("list_transform(embedding, v -> "
       "floor(v::DOUBLE / greatest(scale, 1e-300) * 127.0)::BIGINT)")

ORACLES = {
    "label_centroids_scaled": f"""
        SELECT label, i::INT AS dim, count(*)::BIGINT AS n_vecs,
               sum(floor(embedding[i]::DOUBLE
                         * {CENTROID_SCALE})::BIGINT)::BIGINT
                   AS sum_scaled
        FROM embeddings, unnest(range(1, 65)) AS t(i)
        GROUP BY label, i""",
    "embedding_quantize": f"""
        WITH s AS (
          SELECT vec_id, embedding,
                 list_reduce(list_prepend(0.0::DOUBLE,
                     list_transform(embedding, v -> abs(v::DOUBLE))),
                     (a, v) -> greatest(a, v)) AS scale
          FROM embeddings)
        SELECT vec_id, scale,
               md5(array_to_string({_QL}, ',')) AS q_md5,
               list_reduce(list_prepend(0::BIGINT, {_QL}),
                           (a, v) -> a + v)::BIGINT AS q_sum,
               list_min({_QL}) AS q_min,
               list_max({_QL}) AS q_max
        FROM s""",
    "ann_cosine_topk": f"""
        WITH n AS (SELECT vec_id, embedding,
                   sqrt({_DOT_SQL.format(a='embedding', b='embedding')})
                       AS nrm
                   FROM embeddings),
        scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_DOT_SQL.format(a='q.embedding', b='c.embedding')}
                       / (q.nrm * c.nrm) AS cosine
                   FROM n q JOIN n c ON q.vec_id < {N_QUERIES}
                                    AND q.vec_id != c.vec_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rank
               FROM scored)
        SELECT query_id, neighbor_id, rank::INT AS rank, cosine
        FROM rk WHERE rank <= {TOP_K}""",
    "ann_euclidean_topk": f"""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 sqrt(list_reduce(list_transform(range(1, 65),
                      i -> (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                         * (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)),
                      (x, y) -> x + y)) AS dist
          FROM embeddings q JOIN embeddings c
            ON q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id),
        rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY dist, neighbor_id) AS rank
               FROM scored)
        SELECT query_id, neighbor_id, rank::INT AS rank, dist
        FROM rk WHERE rank <= {TOP_K}""",
    # ann_ivf_topk: intentionally no oracle (approximate operator;
    # driver records rows-only check, tests assert recall vs exact)
    "dedup_embedding": f"""
        WITH n AS (SELECT vec_id, embedding,
                   sqrt({_DOT_SQL.format(a='embedding', b='embedding')})
                       AS nrm
                   FROM embeddings),
        p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                         / (a.nrm * b.nrm) AS cosine
              FROM n a JOIN n b ON a.vec_id < b.vec_id)
        SELECT a_id, b_id, cosine FROM p
        WHERE cosine >= {NEARDUP_THRESHOLD}""",
    "dedup_embedding_lsh": f"""
        WITH u AS (SELECT vec_id, embedding FROM embeddings
                   UNION ALL
                   SELECT vec_id + {PLANT_OFFSET}, embedding
                   FROM embeddings WHERE vec_id < {PLANT_COPIES}),
        n AS (SELECT vec_id, embedding,
              sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
              FROM u),
        p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                         / (a.nrm * b.nrm) AS cosine
              FROM n a JOIN n b ON a.vec_id < b.vec_id)
        SELECT a_id, b_id, cosine FROM p
        WHERE cosine >= {LSH_NEARDUP_THRESHOLD}""",
    "dedup_embedding_clusters": f"""
        WITH RECURSIVE
        u0 AS (SELECT vec_id, embedding FROM embeddings
               UNION ALL
               SELECT vec_id + {PLANT_OFFSET}, embedding
               FROM embeddings WHERE vec_id < {PLANT_COPIES}
               UNION ALL
               SELECT vec_id + {2 * PLANT_OFFSET}, embedding
               FROM embeddings WHERE vec_id < {PLANT2_COPIES}),
        n AS (SELECT vec_id, embedding,
              sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
              FROM u0),
        edges AS (SELECT a.vec_id AS da, b.vec_id AS db
                  FROM n a JOIN n b ON a.vec_id < b.vec_id
                  WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                        / (a.nrm * b.nrm) >= {LSH_NEARDUP_THRESHOLD}),
        bidir AS (SELECT da u, db v FROM edges
                  UNION ALL SELECT db, da FROM edges),
        nodes AS (SELECT DISTINCT u FROM bidir),
        walk(u, lbl) AS (
          SELECT u, u FROM nodes
          UNION
          SELECT b.v, walk.lbl FROM walk JOIN bidir b ON b.u = walk.u
          WHERE walk.lbl < b.v)
        SELECT u AS vec_id, min(lbl) AS cluster_id FROM walk GROUP BY u""",
}
