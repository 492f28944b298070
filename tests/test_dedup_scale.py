"""Scale-hardening tests for the dedup family: hot-band guard on an
adversarial boilerplate corpus, star-contraction round bounds on a
deep chain, and PPJoin exactness against brute force on a worst-case
tiny-vocabulary corpus.

These pin the three 100 TB failure modes called out for banded-LSH /
connected-components designs: quadratic degenerate buckets, O(diameter)
propagation on long chains, and prefix-filter collapse under uniform
vocabularies.
"""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from greenplum_dwh_spark.operators import dedup


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def _brute_force_spans(toks, cap=20, min_span=5):
    """All-pairs all-offsets reference model for repeated_spans: per
    doc the max capped cross-doc LCP with the lexicographically-
    smallest span among the maxima — shared by the planted, random
    and control-char-fuzz equivalence tests so the reference
    semantics live in exactly one place."""
    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    best: dict[int, tuple[int, str]] = {}
    for da, ta in enumerate(toks):
        for db, tb in enumerate(toks):
            if da == db:
                continue
            for i in range(len(ta) - min_span + 1):
                for j in range(len(tb) - min_span + 1):
                    l = min(lcp(ta[i:i + cap], tb[j:j + cap]), cap)
                    if l < min_span:
                        continue
                    span = " ".join(ta[i:i + l])
                    cur = best.get(da)
                    if (cur is None or l > cur[0]
                            or (l == cur[0] and span < cur[1])):
                        best[da] = (l, span)
    return best


# ---------------------------------------------------------------- hot band


def _boilerplate_corpus(n=120, seed=3):
    """Docs sharing one identical boilerplate sentence + unique tails.

    Every pair agrees on the shingles of the boilerplate prefix, so
    without a guard at least one minhash/simhash band is shared by ALL
    docs -> a single n^2/2 bucket.
    """
    rng = random.Random(seed)
    # long DISTINCT boilerplate (dominates every minhash signature) +
    # a tiny unique tail per doc: most permutations take their min from
    # a shared shingle, so most bands are identical across ALL docs
    boiler = " ".join(f"legal{i}" for i in range(100)) + " "
    texts = []
    for i in range(n):
        tail = " ".join(f"w{rng.randrange(10_000)}_{i}" for _ in range(5))
        texts.append(boiler + tail)
    return texts


def test_hot_band_guard_bounds_candidates(spark):
    docs = _docs_df(spark, _boilerplate_corpus())
    sets_df = dedup.H.with_word_shingles(docs).cache()
    ex = sets_df.select("doc_id", F.explode("s").alias("sh"))
    sig = ex.groupBy("doc_id").agg(*dedup.H.minhash_aggs())
    n_bands = dedup.H.MINHASH_PERMS // dedup.H.MINHASH_BAND_R
    bands = sig.select(
        "doc_id",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(str(b)),
                        *[F.col(f"m{b * dedup.H.MINHASH_BAND_R + r}")
                          for r in range(dedup.H.MINHASH_BAND_R)])
            for b in range(n_bands)])).alias("band"))
    uncapped = dedup._banded_candidates(bands, band_cap=10**9).count()
    capped = dedup._banded_candidates(bands, band_cap=10).count()
    # the boilerplate corpus explodes to all-pairs without the guard...
    assert uncapped >= 120 * 119 / 2, uncapped
    # ...and the guard drops the degenerate buckets: any surviving
    # bucket has <= 10 members, bounding candidates per band at 45
    assert capped < uncapped / 10, (capped, uncapped)


def test_hot_band_guard_metrics_observed(spark):
    """The recall trade the guard makes is observable: on the
    boilerplate corpus with a low cap, the Observation attached to the
    guarded plan reports dropped rows/buckets and the hot bucket size —
    collected by the SAME action that ran the operator (no extra job)."""
    docs = _docs_df(spark, _boilerplate_corpus())
    n_pairs = dedup.minhash_pairs(docs, band_cap=10).count()
    m = dedup.last_band_guard_metrics()
    assert m is not None
    # every degenerate all-docs band was dropped…
    assert m["dropped_buckets"] >= 1, m
    assert m["dropped_rows"] > 100, m
    # …and the hot bucket really was a near-all-docs one
    assert m["max_band_size"] >= 100, m
    assert n_pairs >= 0
    # sanity: a benign corpus reports a clean guard
    benign = _docs_df(spark, [f"doc {i} totally unique text {i}"
                              for i in range(20)])
    dedup.minhash_pairs(benign).count()
    m2 = dedup.last_band_guard_metrics()
    assert m2["dropped_rows"] == 0, m2
    assert m2["dropped_buckets"] == 0, m2


def test_hot_band_guard_no_recall_loss_on_normal_corpus(spark):
    """On a corpus with no degenerate bands, cap on/off is identical."""
    rng = random.Random(11)
    vocab = [f"tok{i}" for i in range(200)]
    base = [" ".join(rng.choice(vocab) for _ in range(60))
            for _ in range(30)]
    # seed 5 near-dup pairs by light edits
    texts = list(base)
    for i in range(5):
        words = base[i].split()
        words[3] = "edited"
        texts.append(" ".join(words))
    docs = _docs_df(spark, texts)
    with_cap = {(r["doc_a"], r["doc_b"])
                for r in dedup.minhash_pairs(docs).collect()}
    no_cap = {(r["doc_a"], r["doc_b"])
              for r in dedup.minhash_pairs(docs, band_cap=10**9).collect()}
    assert with_cap == no_cap
    assert len(with_cap) >= 5


def test_group_expansion_caps_buffer_before_collect(spark):
    """Round-11 verdict item 2 (fixed in round 12): the group
    expansion must filter over-cap bands BEFORE collect_list builds
    the per-band array — the old shape aggregated a degenerate band
    into one non-spillable buffer and only then dropped it.  Pin the
    plan shape (the collect_list aggregate consumes the windowed-count
    filter, so every array it builds is ≤ cap elements) and the
    end-to-end behavior on a cap-exceeding band."""
    bands = spark.createDataFrame(
        [(i, "hot") for i in range(50)] + [(100, "cool"), (101, "cool")],
        "doc_id long, band string")
    out = dedup._banded_candidates(bands, band_cap=10)
    # plan shape: Aggregate[collect_list] sits ABOVE (earlier in the
    # printed tree than) the windowed-count Filter — the array is
    # built only from rows that already passed the cap
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    agg_at = plan.find("collect_list")
    win_at = plan.find("windowspecdefinition")
    assert agg_at != -1 and win_at != -1, plan
    assert agg_at < win_at, plan  # parent prints first: filter feeds agg
    assert "_bn" in plan[agg_at:win_at], plan  # the cap filter between
    # behavior: hot band dropped entirely, cool pair survives, and the
    # guard observables report the drop exactly as the join branch does
    rows = sorted((r["doc_a"], r["doc_b"]) for r in out.collect())
    assert rows == [(100, 101)], rows
    m = dedup.last_band_guard_metrics()
    assert m["dropped_rows"] == 50, m
    assert m["dropped_buckets"] == 1, m
    assert m["max_band_size"] == 50, m


# ------------------------------------------------------- star contraction


def test_star_contraction_deep_chain(spark):
    """A 21-node path graph (diameter 20): label propagation needs ~20
    rounds; large/small-star contracts it in O(log^2 n) — assert the
    loop exits well below the diameter and labels are exact."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "u long, v long"
    ).localCheckpoint()
    rounds = 0
    prev_sig = None
    cur = edges
    for _ in range(25):
        cur = dedup._small_star(
            dedup._large_star(cur)).localCheckpoint(eager=False)
        sig = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"),
                         F.lit(2147483647))).alias("h")).first()
        rounds += 1
        if prev_sig == sig:
            break
        prev_sig = sig
    assert rounds <= 8, f"chain of diameter 20 took {rounds} rounds"
    got = {(r["u"], r["v"]) for r in cur.collect()}
    assert got == {(0, v) for v in range(1, 21)}


def test_star_contraction_two_components(spark):
    """Two separate chains + an isolated pair stay separate clusters."""
    raw = ([(i, i + 1) for i in range(0, 5)]           # chain 0..5
           + [(i, i + 1) for i in range(10, 14)]       # chain 10..14
           + [(100, 101)])
    edges = spark.createDataFrame(raw, "u long, v long").localCheckpoint()
    cur = edges
    prev_sig = None
    for _ in range(25):
        cur = dedup._small_star(
            dedup._large_star(cur)).localCheckpoint(eager=False)
        sig = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"),
                         F.lit(2147483647))).alias("h")).first()
        if prev_sig == sig:
            break
        prev_sig = sig
    got = {(r["u"], r["v"]) for r in cur.collect()}
    want = ({(0, v) for v in range(1, 6)}
            | {(10, v) for v in range(11, 15)}
            | {(100, 101)})
    assert got == want


def test_star_contraction_round_matches_set_reference(spark):
    """Pin of the round-11 internals change: _large_star now emits a
    canonical MULTISET (no trailing distinct) and _small_star expands
    its two edge directions with one explode instead of a two-branch
    union.  The composed round's OUTPUT must equal a pure-Python
    set-level reference of the Kiveris round on a graph engineered to
    make large-star emit duplicate rows (a hub whose neighbours share
    the closed-neighbourhood minimum, plus a triangle)."""
    raw = [(0, 9), (1, 9), (2, 9),        # hub: 9's neighbours 0,1,2
           (0, 1), (1, 2),                # triangle edges onto the hub
           (20, 21), (21, 22), (20, 22)]  # separate triangle
    edges = spark.createDataFrame(raw, "u long, v long").localCheckpoint()

    def ref_large(es):
        nbr = {}
        for u, v in es:
            nbr.setdefault(u, set()).add(v)
            nbr.setdefault(v, set()).add(u)
        out = set()
        for u, vs in nbr.items():
            m = min(vs | {u})
            out |= {(m, v) for v in vs if v > u and m != v}
        return out

    def ref_small(es):
        nbr = {}
        for u, v in es:
            nbr.setdefault(max(u, v), set()).add(min(u, v))
        out = set()
        for u, vs in nbr.items():
            m = min(vs)
            out |= {(min(m, x), max(m, x)) for x in vs | {u} if m != x}
        return out

    got = {(r["u"], r["v"]) for r in dedup._small_star(
        dedup._large_star(edges)).collect()}
    assert got == ref_small(ref_large(set(raw)))


def _ref_large(es):
    """Set-level reference of one large-star round (the pinned round
    semantics of test_star_contraction_round_matches_set_reference,
    hoisted so the convergence property test shares it)."""
    nbr = {}
    for u, v in es:
        nbr.setdefault(u, set()).add(v)
        nbr.setdefault(v, set()).add(u)
    out = set()
    for u, vs in nbr.items():
        m = min(vs | {u})
        out |= {(m, v) for v in vs if v > u and m != v}
    return out


def _ref_small(es):
    nbr = {}
    for u, v in es:
        nbr.setdefault(max(u, v), set()).add(min(u, v))
    out = set()
    for u, vs in nbr.items():
        m = min(vs)
        out |= {(min(m, x), max(m, x)) for x in vs | {u} if m != x}
    return out


def _union_find_labels(es):
    """Ground truth: component-min label per node, plain union-find."""
    nodes = {x for e in es for x in e}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in es:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), set()).add(n)
    return {n: min(ms) for ms in comp.values() for n in ms}


def _cc_loop_reference(es, predicate):
    """Pure-Python mirror of connected_components' loop: composed
    Kiveris rounds + the given convergence predicate, then the final
    nodes-left-join-roots labeling (a multi-rooted leaf yields
    DUPLICATE label rows, exactly like the Spark left join would)."""
    nodes = sorted({x for e in es for x in e})
    edges = set(es)
    for _ in range(25):
        edges = _ref_small(_ref_large(edges))
        roots = {u for u, v in edges}
        leaves = {}
        for u, v in edges:
            leaves.setdefault(v, set()).add(u)
        chains = roots & set(leaves)
        multi_rooted = {v for v, us in leaves.items() if len(us) > 1}
        if predicate == "chain_only" and not chains:
            break
        if (predicate == "chain_and_single_root" and not chains
                and not multi_rooted):
            break
    out = []
    for n in nodes:
        for lbl in sorted(leaves.get(n, [])) or [n]:
            out.append((n, lbl))
    return sorted(out)


#: round-11 verdict item 1's pinned counterexample: one composed round
#: leaves node 5 with roots {1, 3} and NO chain — the chain-only
#: predicate exits and labels one component as two (duplicate rows)
_MULTIROOT_COUNTEREXAMPLE = [(1, 6), (1, 9), (3, 7), (5, 6), (5, 7),
                             (8, 9)]


def test_star_contraction_convergence_property_500_seeds():
    """Round-12 pin of the convergence predicate (round-11 verdict
    item 1): on 500 random graphs the loop with the strengthened
    predicate (no chain AND no multi-rooted leaf) labels every node
    exactly like union-find; the round-11 chain-only predicate is
    demonstrated unsound on the same distribution (it MUST fail some
    seeds — if it stops failing, the reference drifted and this test
    no longer guards anything)."""
    strengthened_fails = 0
    chain_only_fails = 0
    for seed in range(500):
        rng = random.Random(seed)
        n = rng.randint(2, 14)
        m = rng.randint(1, 18)
        es = set()
        for _ in range(m):
            a, b = rng.sample(range(1, n + 1), 2)
            es.add((min(a, b), max(a, b)))
        want = sorted(_union_find_labels(es).items())
        if _cc_loop_reference(es, "chain_and_single_root") != want:
            strengthened_fails += 1
        if _cc_loop_reference(es, "chain_only") != want:
            chain_only_fails += 1
    assert strengthened_fails == 0
    assert chain_only_fails > 0  # the unsound predicate stays refuted
    # and the pinned counterexample behaves exactly as the verdict
    # describes under both predicates
    want = sorted(_union_find_labels(_MULTIROOT_COUNTEREXAMPLE).items())
    assert _cc_loop_reference(_MULTIROOT_COUNTEREXAMPLE,
                              "chain_and_single_root") == want
    bad = _cc_loop_reference(_MULTIROOT_COUNTEREXAMPLE, "chain_only")
    assert bad != want
    assert (5, 1) in bad and (5, 3) in bad  # the duplicate-label row


def test_connected_components_multirooted_leaf_counterexample(spark):
    """The seed-33 counterexample graph through the REAL operator:
    one component, min label 1, one row per node — no duplicate or
    phantom clusters (round-11 verdict item 1's regression case)."""
    pairs = spark.createDataFrame(_MULTIROOT_COUNTEREXAMPLE,
                                  "u long, v long")
    rows = dedup.connected_components(pairs).collect()
    got = sorted((r["u"], r["cluster"]) for r in rows)
    assert got == [(n, 1) for n in (1, 3, 5, 6, 7, 8, 9)]
    assert len(rows) == 7  # exactly one label row per node


# ------------------------------------------------------------ ppjoin exact


def _brute_force_pairs(texts, threshold):
    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 2]) for i in range(len(w) - 1)}
    sets = {i: shingles(t) for i, t in enumerate(texts)}
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and inter / union >= threshold:
            out.add((a, b))
    return out


def test_ppjoin_exact_on_uniform_vocab(spark):
    """Worst case for prefix filtering: tiny uniform vocabulary. The
    PPJoin positional filters must still return EXACTLY the brute-force
    answer (they are pruning bounds, not approximations)."""
    rng = random.Random(5)
    vocab = [f"v{i}" for i in range(12)]  # tiny vocab: everything collides
    texts = [" ".join(rng.choice(vocab) for _ in range(30))
             for _ in range(60)]
    # seed near-dups: copy with one word changed
    for i in range(6):
        words = texts[i].split()
        words[7] = "v0"
        texts.append(" ".join(words))
    docs = _docs_df(spark, texts)
    got = {(r["doc_a"], r["doc_b"])
           for r in dedup.jaccard_prefix_pairs(docs).collect()}
    want = _brute_force_pairs(texts, dedup.PREFIX_THRESHOLD)
    assert got == want
    assert len(want) >= 5  # fixture actually seeds pairs


# ------------------------------------------------- incremental / splits


def _neardup_corpus(n=40, seed=11):
    """Distinct docs plus planted near-duplicate variants (one word
    changed out of 30 — jaccard far above threshold)."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(500)]
    texts = [" ".join(rng.choice(vocab) for _ in range(30))
             for _ in range(n)]
    for i in range(8):
        words = texts[i].split()
        words[3] = "zz"
        texts.append(" ".join(words))
    return texts


def test_incremental_equals_cross_slice_of_self_join(spark):
    """The asymmetric new-vs-base join must return exactly the
    cross-slice restriction of the full self-join — no extra pairs,
    no banding recall loss, and never a new-new or base-base pair."""
    texts = _neardup_corpus()
    docs = _docs_df(spark, texts)
    is_new = F.col("doc_id") % 3 == 0
    got = {(r["new_doc"], r["base_doc"])
           for r in dedup.incremental_minhash_pairs(docs, is_new)
           .collect()}
    full = {(r["doc_a"], r["doc_b"])
            for r in dedup.minhash_pairs(docs).collect()}
    want = {(a, b) for a, b in
            (full | {(b, a) for a, b in full})
            if a % 3 == 0 and b % 3 != 0}
    assert got == want
    assert len(want) >= 3  # fixture plants cross-slice near-dups
    for a, b in got:
        assert a % 3 == 0 and b % 3 != 0


def test_leakage_safe_split_never_splits_a_cluster(spark):
    """Every near-dup cluster lands wholly in one split, and every
    document is assigned exactly once."""
    texts = _neardup_corpus()
    docs = _docs_df(spark, texts).withColumn(
        "doc_id",
        # spread ids so md5 buckets differ doc-to-doc
        F.col("doc_id") * 977)
    out = dedup.leakage_safe_split(docs).collect()
    assert len(out) == len(texts)                 # total closure
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    multi = [c for c, _ in by_cluster.items()
             if sum(1 for r in out if r["cluster_id"] == c) > 1]
    assert multi  # planted near-dups actually formed multi-doc clusters


def test_source_overlap_counts_planted_mirrors(spark):
    """Matrix counts exactly the digests shared across source pairs;
    a text present in 3 sources contributes all 3 pairwise cells."""
    from pyspark.sql import functions as F  # noqa: F811
    rows = [(f"s{i}", f"unique text {i}") for i in range(6)]
    rows += [("s0", "shared alpha"), ("s1", "shared alpha"),
             ("s2", "shared alpha"), ("s4", "shared beta"),
             ("s5", "shared beta"), ("s4", "shared beta")]
    docs = spark.createDataFrame(rows, "source string, text string")
    got = {(r["source_a"], r["source_b"]): r["n_shared_texts"]
           for r in dedup.source_overlap_matrix(docs).collect()}
    assert got == {("s0", "s1"): 1, ("s0", "s2"): 1, ("s1", "s2"): 1,
                   ("s4", "s5"): 1}


def test_containment_finds_subset_dups_jaccard_misses(spark):
    """A half-truncation of a doc has containment ≈ 1 but jaccard
    ≈ 0.5: the asymmetric join must find every planted truncation
    while the symmetric near-dup join (threshold 0.6) misses them."""
    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(800)]
    texts = [" ".join(rng.choice(vocab) for _ in range(40))
             for _ in range(30)]
    n_orig = len(texts)
    for i in range(6):  # plant: first half of doc i as a new doc
        texts.append(" ".join(texts[i].split()[:20]))
    docs = _docs_df(spark, texts)
    got = {(r["doc_a"], r["doc_b"]): r["containment"]
           for r in dedup.containment_pairs(docs).collect()}
    for i in range(6):
        pair = (n_orig + i, i)  # truncation is the smaller side
        assert pair in got and got[pair] >= 0.9, (pair, got)
    sym = {(r["doc_a"], r["doc_b"])
           for r in dedup.jaccard_prefix_pairs(docs).collect()}
    for i in range(6):
        assert (i, n_orig + i) not in sym and (n_orig + i, i) not in sym


def test_incremental_guard_metrics_observed(spark):
    """The asymmetric probe shares the observed hot-band guard: on
    the boilerplate corpus the drop metrics must fire for the
    incremental path too (cap drops are never silent)."""
    docs = _docs_df(spark, _boilerplate_corpus())
    out = dedup.incremental_minhash_pairs(
        docs, F.col("doc_id") % 2 == 0, band_cap=30)
    out.count()  # action materializes the observation
    m = dedup.last_band_guard_metrics()
    assert m is not None and m["max_band_size"] > 30
    assert m["dropped_rows"] > 0 and m["dropped_buckets"] > 0


def test_containment_exact_threshold_boundary_pair(spark):
    """Round-3 ADVICE regression: a pair at containment EXACTLY 0.9
    whose single unshared gram is the smaller doc's rarest must be
    found.  Doc A has 10 word-2-grams; doc B shares 9 of them and
    adds its own tail, so containment = 9/10 = t.  The unshared gram
    "a0 a1" occurs only in A (df=1 → A's rarest), so under the old
    float bound (floor(0.1·10)+1 = 1 after 1.0−0.9 =
    0.09999999999999998) A's probe prefix was just that gram and the
    pair escaped; the exact integer bound (10 − ⌈0.9·10⌉ + 1 = 2)
    reaches the first shared gram."""
    a_words = [f"a{i}" for i in range(11)]          # grams a0a1..a9a10
    b_words = [f"a{i}" for i in range(1, 11)] \
        + [f"c{i}" for i in range(12)]              # shares a1a2..a9a10
    docs = spark.createDataFrame(
        [(0, " ".join(a_words)), (1, " ".join(b_words))],
        "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["containment"]
           for r in dedup.containment_pairs(docs, threshold=0.9)
           .collect()}
    assert (0, 1) in got, got
    assert abs(got[(0, 1)] - 0.9) < 1e-12


def test_jaccard_size_ratio_boundary_pair(spark):
    """Sibling of the containment boundary bug (found by self-audit):
    the size-ratio prune ``nb ≥ t·na`` computed in floats drops a
    pair at jaccard EXACTLY t whenever t's double rounds up (0.8·10 =
    8.000000000000002 > nb = 8).  B's grams ⊂ A's with |B|=8, |A|=10
    → jaccard = 0.8 = t must be found under the exact integer
    bounds."""
    a_words = [f"w{i}" for i in range(11)]      # 10 distinct 2-grams
    b_words = a_words[:9]                       # 8 grams, all shared
    docs = spark.createDataFrame(
        [(0, " ".join(a_words)), (1, " ".join(b_words))],
        "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jac"]
           for r in dedup.jaccard_prefix_pairs(docs, threshold=0.8)
           .collect()}
    assert (0, 1) in got, got
    assert abs(got[(0, 1)] - 0.8) < 1e-12


def test_two_stage_verify_keeps_exact_threshold_pair(spark):
    """The hash pre-verify stage is a COMPLETE filter: a pair at
    jaccard EXACTLY t (the tightest admissible pair) must survive both
    stages, and the emitted jac must be the exact ratio.  10 shared
    2-grams out of A:12/B:13 grams → jac = 10/15 = 2/3 under
    t = 2/3."""
    from fractions import Fraction
    a_words = [f"w{i}" for i in range(13)]       # 12 grams
    b_words = a_words[:11] + ["x0", "x1", "x2"]  # 10 shared + 3 own
    docs = spark.createDataFrame(
        [(0, " ".join(a_words)), (1, " ".join(b_words))],
        "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["jac"]
           for r in dedup.jaccard_prefix_pairs(
               docs, threshold=Fraction(2, 3)).collect()}
    assert (0, 1) in got, got
    assert got[(0, 1)] == 10 / 15


def test_simhash_guard_probe_on_planted_hot_buckets(spark):
    """Round-4 verdict item 2: the recall estimator, pinned on a
    corpus where the loss is computable exactly.  200 identical docs
    (one fingerprint → every band one 200+-member bucket) under a cap
    of 50 lose ALL C(200,2)=19900 pairs; the probe must report
    sampled_lost = C(|S|,2) for the deterministic hash-sample S and
    est = sampled_lost·mod², which lands near the truth for mod=2."""
    group = [(i, "the same boilerplate text repeated again and again "
                 "for every mirror of this page") for i in range(200)]
    normal = [(1000 + i, f"unique doc {i} with its own words "
                         f"number{i} alpha{i} beta{i} gamma{i}")
              for i in range(30)]
    docs = spark.createDataFrame(group + normal,
                                 "doc_id long, text string")
    probe = dedup.simhash_band_guard_probe(docs, band_cap=50,
                                           sample_mod=2)
    assert probe["raw_overcap_rows"] >= 200 * 10  # 10 bands, all hot
    # deterministic sample size of the planted group
    n_s = (spark.range(200)
           .filter(F.pmod(F.xxhash64(F.col("id")), F.lit(2)) == 0)
           .count())
    want_sampled = n_s * (n_s - 1) // 2
    assert probe["sampled_lost_pairs"] == want_sampled
    assert probe["est_pairs_lost"] == want_sampled * 4
    true_lost = 200 * 199 // 2
    assert 0.5 * true_lost <= probe["est_pairs_lost"] <= 2.0 * true_lost
    # all pairs lost -> the guarded operator emits none of them
    assert probe["emitted_pairs"] == 0
    assert probe["est_recall"] == 0.0
    # round-5 verdict item 4: the 95% upper bound brackets the truth
    # from above (the point estimate alone can sit below it) and the
    # recall floor follows from it
    assert probe["est_pairs_lost_ub"] >= probe["est_pairs_lost"]
    assert probe["est_pairs_lost_ub"] >= want_sampled  # >= observed
    assert probe["est_recall_lb"] == 0.0


def test_simhash_hot_band_split_rescues_heterogeneous_buckets(spark):
    """Round-6 verdict item 5: over-cap band buckets are SPLIT by
    composite (hot band, other band) keys instead of dropped.  A
    qualifying pair whose every shared band is hot — the saturation
    failure mode of the 6-bit alphabet — must still be emitted when
    its composite bucket is small, while the old drop plan misses it.
    Synthetic fingerprints control band occupancy exactly."""
    def fp(bands6):
        assert len(bands6) == 10
        return sum(v << (6 * j) for j, v in enumerate(bands6))

    v0, v5 = 0b101010, 0b110011
    d1 = [v0, 1, 2, 3, 4, v5, 10, 11, 12, 13]
    # flip one bit in each of bands 1-4 and 6-9: hamming(d1, d2) = 8
    d2 = [v0, 1 ^ 1, 2 ^ 2, 3 ^ 1, 4 ^ 4, v5,
          10 ^ 2, 11 ^ 1, 12 ^ 4, 13 ^ 2]
    rows = [(1, fp(d1)), (2, fp(d2))]
    # docs 3-6 share ONLY band 0's value (making its bucket hot);
    # docs 7-10 share ONLY band 5's value; everything else differs in
    # every band, so no other pair is within hamming 8.  Bases are
    # chosen so no arithmetic band value collides with v0/v5 (base 23
    # — used before round 8 — put (23+7·4)%64 = 51 = v5 into doc 4's
    # band 5, silently growing the hot band-5 bucket to 7); the
    # per-bucket occupancy asserts below pin the designed shape.
    for i, base in enumerate((17, 25, 29, 35)):
        rows.append((3 + i, fp([v0] + [(base + 7 * k) % 64
                                       for k in range(9)])))
    for i, base in enumerate((41, 47, 53, 59)):
        b = [(base + 11 * k) % 64 for k in range(9)]
        rows.append((7 + i, fp(b[:5] + [v5] + b[5:])))
    # exactly two hot buckets under cap 3 — (band0, v0) and
    # (band5, v5), 6 members each — and nothing else over cap
    occ: dict = {}
    for _, x in rows:
        for bb in range(10):
            key = (bb, (x >> (6 * bb)) & 63)
            occ[key] = occ.get(key, 0) + 1
    assert {k: v for k, v in occ.items() if v > 3} == {
        (0, v0): 6, (5, v5): 6}
    fps = spark.createDataFrame(rows, "doc_id long, fp long")

    def pairs(hot_split):
        return {(r["doc_a"], r["doc_b"])
                for r in dedup.simhash_pairs(
                    None, band_cap=3, fps=fps,
                    hot_split=hot_split).collect()}

    # ground truth by brute force
    brute = {(a, b) for ai, (a, x) in enumerate(rows)
             for b, y in rows[ai + 1:]
             if bin(x ^ y).count("1") <= dedup.SIMHASH_MAX_DIST}
    assert brute == {(1, 2)}                  # fixture is as designed
    assert pairs(hot_split=False) == set()    # the old plan drops it
    assert pairs(hot_split=True) == brute     # the split rescues it
    g = dedup.last_band_guard_metrics()       # stage-2 residual guard
    assert g is not None and g["dropped_rows"] == 0
    # stage-1 saturation face (round-7 advice: these had no coverage):
    # 12 memberships rerouted — the two hot buckets' 6 members each —
    # and the raw max bucket is exactly those 6
    assert g["rerouted_rows"] == 12
    assert g["max_raw_band_size"] == 6


def test_simhash_split_short_circuits_on_cold_corpus(spark):
    """Round-7 verdict item 2: when NO band bucket exceeds the cap,
    simhash_pairs(hot_split=True) must build the single-leg r06 plan
    (no routing aggregate / broadcast / two-leg union — the measured
    +0.9 s sf0.1 overhead) and the output must be identical to
    hot_split=False.  The short-circuit is visible in the guard
    metrics: no split ⇒ no stage-1 saturation keys.  Also pins the
    round-8 pigeonhole fast paths of the decision itself: n ≤ cap
    decides COLD and n > cap·2^bits decides HOT from the count alone
    (asserted through the memo), with the guaranteed-hot branch's
    output still correct."""
    rng = random.Random(11)
    rows = []
    for i in range(30):
        fp = rng.getrandbits(60)
        rows.append((2 * i, fp))
        if i % 3 == 0:
            fp2 = fp
            for b in rng.sample(range(60), 4):
                fp2 ^= 1 << b
            rows.append((2 * i + 1, fp2))
    fps = spark.createDataFrame(rows, "doc_id long, fp long")
    # generous cap: random 60-bit fingerprints over ≤40 docs never
    # put >35 memberships in one 6-bit bucket
    dedup._HOTNESS_MEMO.clear()
    got_split = {(r["doc_a"], r["doc_b"]) for r in dedup.simhash_pairs(
        None, band_cap=35, fps=fps, hot_split=True).collect()}
    g = dedup.last_band_guard_metrics()
    assert g is not None and g["dropped_rows"] == 0
    assert "rerouted_rows" not in g           # single-leg plan ran
    got_plain = {(r["doc_a"], r["doc_b"]) for r in dedup.simhash_pairs(
        None, band_cap=35, fps=fps, hot_split=False).collect()}
    assert got_split == got_plain
    brute = {(a, b) for ai, (a, x) in enumerate(rows)
             for b, y in rows[ai + 1:]
             if bin(x ^ y).count("1") <= dedup.SIMHASH_MAX_DIST}
    assert got_split == brute and len(brute) >= 10
    # round-8 pigeonhole fast paths, on a 70-doc corpus: cap 1 means
    # 70 > 1·2⁶ so EVERY band must hold an over-cap bucket — HOT
    # decided from the count alone; cap 70 ≥ n means no bucket can
    # exceed it — COLD from the count alone.  Decisions read back
    # through the memo; the hot branch's output is still verified.
    big_rows = [(i, (i * 0x9E3779B97F4A7C15) & ((1 << 60) - 1))
                for i in range(70)]
    big = spark.createDataFrame(big_rows, "doc_id long, fp long")
    got_hot = {(r["doc_a"], r["doc_b"]) for r in dedup.simhash_pairs(
        None, band_cap=1, fps=big).collect()}
    assert dedup._HOTNESS_MEMO[(big.semanticHash(), 1)] is True
    g2 = dedup.last_band_guard_metrics()
    assert g2["rerouted_rows"] > 0            # split actually routed
    brute_big = {(a, b) for ai, (a, x) in enumerate(big_rows)
                 for b, y in big_rows[ai + 1:]
                 if bin(x ^ y).count("1") <= dedup.SIMHASH_MAX_DIST}
    # cap=1 composite buckets may residual-cap (observed) — never a
    # false pair; with zero residual drops the split stays exact
    if g2["dropped_rows"] == 0:
        assert got_hot == brute_big
    else:
        assert got_hot <= brute_big
    dedup.simhash_pairs(None, band_cap=70, fps=big).collect()
    assert dedup._HOTNESS_MEMO[(big.semanticHash(), 70)] is False


def test_simhash_split_falls_back_beyond_pigeonhole_bound(spark):
    """Round-7 advice (medium): the composite re-key is complete only
    for max_dist ≤ n_bands−2 = 8.  At max_dist=9 a pair differing in
    one bit of each non-hot band shares ONLY the hot band and matches
    no composite key — simhash_pairs must auto-fall back to the plain
    drop guard (observed drops) instead of losing it unobserved."""
    def fp(bands6):
        return sum(v << (6 * j) for j, v in enumerate(bands6))

    hot_v = 0b111000
    # a dist-9 pair sharing only band 0 (one bit flipped in each of
    # the 9 other bands)
    d1 = [hot_v] + list(range(20, 29))
    d2 = [hot_v] + [v ^ 1 for v in range(20, 29)]
    rows = [(1, fp(d1)), (2, fp(d2))]
    # enough extra docs sharing band 0's value to push it over cap 3,
    # each unique everywhere else (offset grids avoid collisions)
    for i, base in enumerate((3, 7, 13, 31)):
        rows.append((3 + i, fp([hot_v] + [(base + 5 * k) % 64
                                          for k in range(9)])))
    fps = spark.createDataFrame(rows, "doc_id long, fp long")
    got = {(r["doc_a"], r["doc_b"]) for r in dedup.simhash_pairs(
        None, max_dist=9, band_cap=3, fps=fps, hot_split=True).collect()}
    g = dedup.last_band_guard_metrics()
    # plain guard ran: the hot band-0 bucket was DROPPED and observed
    # (6 memberships), never silently rerouted into an incomplete split
    assert "rerouted_rows" not in g
    assert g["dropped_rows"] == 6
    # the dist-9 pair is inside the dropped bucket — not emitted, but
    # the loss is observed, which is the contract
    assert (1, 2) not in got


def test_simhash_probe_mirrors_split_fallback(spark):
    """The recall probe credits split-rescued pairs only where the
    operator splits.  A hamming-8 pair shares only bands 0 and 1, and
    two extra docs per band push each over cap 3.  At max_dist 8 the
    split emits the pair through the composite (band 0, band 1) key,
    so nothing is lost; at max_dist 9 the operator keeps the plain
    drop guard and emits nothing, and the probe must report that
    loss instead of crediting a split that never runs."""
    def fp(bands6):
        return sum(v << (6 * j) for j, v in enumerate(bands6))

    hot = (0b111000, 0b000111)
    rows = [(1, fp(list(hot) + list(range(20, 28)))),
            (2, fp(list(hot) + [v ^ 1 for v in range(20, 28)]))]
    for i, base in enumerate((3, 7, 13, 31)):
        bands = [(base + 5 * k) % 64 for k in range(10)]
        bands[i // 2] = hot[i // 2]
        rows.append((3 + i, fp(bands)))
    # the pair is the corpus's only one within hamming 9
    assert {(a, b) for ai, (a, x) in enumerate(rows)
            for b, y in rows[ai + 1:]
            if bin(x ^ y).count("1") <= 9} == {(1, 2)}
    fps = spark.createDataFrame(rows, "doc_id long, fp long")

    def probe(max_dist):
        return dedup._hamming_guard_probe(
            fps, dedup._SIMHASH_LAYOUT, max_dist, band_cap=3,
            sample_mod=1)

    r8 = probe(8)
    assert r8["raw_overcap_rows"] == 8 and r8["overcap_buckets"] == 2
    assert r8["emitted_pairs"] == 1
    assert r8["est_pairs_lost"] == 0 and r8["est_recall"] == 1.0
    r9 = probe(9)
    assert r9["emitted_pairs"] == 0
    assert r9["est_pairs_lost"] == 1 and r9["est_recall"] == 0.0


def test_simhash_rejects_incomplete_banding_distance(spark):
    """10×6-bit banding is pigeonhole-complete only up to hamming 9:
    a dist-10 pair can differ in every band and never become a
    candidate, unobserved by any guard — operator and probe refuse."""
    import pytest
    docs = _docs_df(spark, ["a b c d", "a b c e"])
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_dist=10)
    with pytest.raises(ValueError):
        dedup.simhash_band_guard_probe(docs, max_dist=10)


def test_simhash_hot_band_split_random_sweep(spark):
    """Property sweep for the split's exactness claim: on seeded
    random fingerprint corpora with planted near-dup clusters and
    aggressive caps, the split plan must emit EXACTLY the brute-force
    hamming pairs whenever its residual guard reports zero drops (the
    pigeonhole argument leaves residual capping as the only legal
    divergence, and the guard observes it)."""
    for seed, cap in ((3, 4), (5, 8), (8, 16)):
        rng = random.Random(seed)
        rows = []
        for i in range(40):
            fp = rng.getrandbits(60)
            rows.append((2 * i, fp))
            if i % 2 == 0:                  # near-dup within max_dist
                flips = rng.sample(range(60),
                                   rng.randrange(0, dedup.SIMHASH_MAX_DIST))
                fp2 = fp
                for b in flips:
                    fp2 ^= 1 << b
                rows.append((2 * i + 1, fp2))
        fps = spark.createDataFrame(rows, "doc_id long, fp long")
        got = {(r["doc_a"], r["doc_b"])
               for r in dedup.simhash_pairs(
                   None, band_cap=cap, fps=fps).collect()}
        g = dedup.last_band_guard_metrics()
        brute = {(a, b) for ai, (a, x) in enumerate(rows)
                 for b, y in rows[ai + 1:]
                 if bin(x ^ y).count("1") <= dedup.SIMHASH_MAX_DIST}
        if g["dropped_rows"] == 0:
            assert got == brute, (seed, cap)
        else:                               # residual capped: observed,
            assert got <= brute, (seed, cap)   # never a false pair
        assert len(brute) >= 15, (seed, cap)   # non-vacuous fixture


def test_binom_count_ub_exact_and_rule_of_three():
    """_binom_count_ub pinned against a brute-force exact binomial
    CDF (small cases) and the rule-of-three closed form at x=0."""
    import math

    from greenplum_dwh_spark.operators.dedup import _binom_count_ub

    def brute_ub(x, p, alpha=0.05):
        def cdf(big_l):
            return sum(math.comb(big_l, k) * p**k * (1-p)**(big_l-k)
                       for k in range(0, min(x, big_l) + 1))
        big_l = x
        while cdf(big_l + 1) >= alpha:
            big_l += 1
        return big_l

    for x in (0, 1, 2, 5, 17):
        for p in (0.5, 0.25, 1 / 16):
            assert _binom_count_ub(x, p) == brute_ub(x, p), (x, p)
    # x=0 closed form: largest L with (1-p)^L >= alpha
    assert _binom_count_ub(0, 1 / 16) == int(
        math.log(0.05) / math.log(1 - 1 / 16))
    # monotone in x, decreasing in p
    assert _binom_count_ub(3, 0.25) > _binom_count_ub(0, 0.25)
    assert _binom_count_ub(2, 1 / 16) > _binom_count_ub(2, 0.5)


def test_simhash_guard_probe_clean_corpus_reports_no_loss(spark):
    """No over-cap buckets → zero estimated loss and recall 1.0 (the
    sf0.1 steady state the bench artifact records)."""
    texts = _neardup_corpus(n=30, seed=3)
    docs = _docs_df(spark, texts)
    probe = dedup.simhash_band_guard_probe(docs)
    assert probe["raw_overcap_rows"] == 0
    assert probe["est_pairs_lost"] == 0
    assert probe["est_recall"] == 1.0
    assert probe["emitted_pairs"] > 0  # planted near-dups still found
    # with NO over-cap bucket the loss is structurally zero — there
    # is no sampling uncertainty to bound, so the UB is exactly 0
    # (not the rule-of-three ~3·mod²)
    assert probe["est_pairs_lost_ub"] == 0
    assert probe["est_recall_lb"] == 1.0


def test_ceil_mul_exhaustive_vs_fraction_math(spark):
    """_ceil_mul must equal Fraction-exact ⌈t·n⌉ for EVERY (n, t)
    combination in the realistic range — one Spark job sweeps n ∈
    [1, 400] × the dedup thresholds plus the adversarial decimals
    whose doubles round up (the class behind both round-3/4 bugs)."""
    from fractions import Fraction

    from greenplum_dwh_spark.operators.dedup import _ceil_mul
    thresholds = [0.1, 0.3, 0.5, 0.6, 0.7, 0.8, 0.9, 0.95, 0.99,
                  Fraction(2, 3), Fraction(9, 19)]
    n_df = spark.range(1, 401).withColumnRenamed("id", "n")
    cols = [_ceil_mul(F.col("n"), t).alias(f"c{i}")
            for i, t in enumerate(thresholds)]
    rows = n_df.select("n", *cols).collect()
    import math
    for r in rows:
        n = r["n"]
        for i, t in enumerate(thresholds):
            fr = (t if isinstance(t, Fraction)
                  else Fraction(t).limit_denominator(1_000_000))
            want = math.ceil(fr * n)
            assert r[f"c{i}"] == want, (n, t, r[f"c{i}"], want)


# ------------------------------------------------------- repeated spans


def test_repeated_spans_planted_semantics(spark):
    """Hand-crafted corpus pinning the operator's contract: the known
    6-token span wins over the 5-token one, a 4-token overlap is below
    min_span and excluded, the same-doc-interleave case (two suffixes
    of one doc sorting adjacent to another doc's) still credits the
    other doc via the adjacency lemma, and spans >= the suffix cap
    report exactly cap."""
    long_run = " ".join(f"r{i}" for i in range(25))  # 25 shared tokens
    docs = _docs_df(spark, [
        # 0/1 share "p q r s t u" (6); 2 shares only "p q r s t" (5)
        "p q r s t u v w x",
        "z z p q r s t u y",
        "m p q r s t n o q",
        # 3: interleave edge — two suffixes starting "a b c d e" so
        # doc 4's single suffix sorts adjacent to only ONE of them
        "a b c d e f a b c d e g",
        "a b c d e h",
        # 5/6: 4-token overlap only -> absent from the output
        "k1 k2 k3 k4 x1 x2 x3 x4 x5",
        "k1 k2 k3 k4 y1 y2 y3 y4 y5",
        # 7/8: identical 25-token run -> capped at 20
        long_run + " tail7a tail7b tail7c tail7d tail7e",
        long_run + " tail8a tail8b tail8c tail8d tail8e",
    ])
    got = {r["doc_id"]: (r["span_len"], r["span"])
           for r in dedup.repeated_spans(docs).collect()}
    assert got[0] == (6, "p q r s t u")
    assert got[1] == (6, "p q r s t u")
    assert got[2] == (5, "p q r s t")
    assert got[3] == (5, "a b c d e")
    assert got[4] == (5, "a b c d e")
    assert 5 not in got and 6 not in got
    assert got[7][0] == 20 and got[8][0] == 20
    assert got[7][1] == " ".join(f"r{i}" for i in range(20))


def test_repeated_spans_equals_brute_force(spark):
    """Adjacency-lemma credential: on a small-vocabulary random corpus
    (dense accidental overlaps), the blocked-window operator must equal
    the all-pairs all-offsets brute force EXACTLY — per-doc max capped
    LCP and the lexicographically-smallest span among the maxima.  The
    lemma argument says scanning only lag-adjacent suffixes loses
    neither the max nor any max-achieving span; this is the test that
    would catch a hole in it."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(9)]
    texts = [" ".join(rng.choice(vocab)
                      for _ in range(rng.randrange(8, 40)))
             for _ in range(36)]
    # plant two exact copies and one long-shared-prefix pair
    texts.append(texts[0])
    texts.append("q1 q2 " + texts[3])
    toks = [t.split(" ") for t in texts]
    best = _brute_force_spans(toks)

    got = {r["doc_id"]: (r["span_len"], r["span"])
           for r in dedup.repeated_spans(_docs_df(spark, texts)).collect()}
    assert got == best


def test_drop_repeated_span_dups_keeps_one_per_template(spark):
    """The doc-level Lee-et-al policy: docs sharing a long run (a
    license header) but with mostly-unique bodies — whole-doc jaccard
    stays below the near-dup threshold, only the span stage fires.
    One doc per distinct long span survives (min doc_id); docs below
    the cut pass through."""
    header = " ".join(f"lic{i}" for i in range(16))  # 16-token run
    texts = [
        header + " body0 u0 u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11",
        header + " body1 v0 v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11",
        header + " body2 w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11",
        "clean doc with no shared run at all here today now",
        "another clean doc sharing nothing with anything else ok",
    ]
    docs = _docs_df(spark, texts)
    # precondition: whole-doc near-dup does NOT pair these (the stage
    # exists precisely because this jaccard is low)
    assert dedup.minhash_pairs(docs).count() == 0
    kept = sorted(r["doc_id"]
                  for r in dedup.drop_repeated_span_dups(
                      docs, min_len=15).select("doc_id").collect())
    assert kept == [0, 3, 4]  # min doc_id per span + untouched docs

    # a cut above the suffix cap can never fire -> loud error
    import pytest
    with pytest.raises(ValueError, match="suffix cap"):
        dedup.drop_repeated_span_dups(docs, min_len=21)


def test_repeated_spans_control_chars_cleansed(spark):
    """Round-5 code review: the adjacency lemma needs the separator
    (' ') to sort below every token character, and raw-crawl "words"
    carrying tabs/control bytes (< 0x20) violated it — doc A's suffix
    ending exactly at its last token, doc B continuing it, and a
    tab-carrying doc C sorting strictly BETWEEN them made both
    adjacent lag pairs report lcp 6 and under-reported A/B's true
    7-token span.  The operator now cleanses ``[\\x00-\\x20]+`` runs
    into single separators before splitting, so its contract is
    "tokens = cleansed whitespace-split words"; the brute force over
    the SAME cleansed tokenization is the oracle."""
    import re
    texts = [
        "j0 j1 j2 j3 j4 j5 j6",                 # A: ends at its run
        "j0 j1 j2 j3 j4 j5 j6 x1 x2",           # B: continues it
        "z0 z1 j0 j1 j2 j3 j4 j5 j6\tk0 k1",    # C: tab inside a word
        "pre\x01fix a b c d e f g h",           # control byte in word
        "a b c d e f g h post",
        "iso\x02lated doc with no shared run",
    ]
    toks = [re.sub(r"[\x00-\x20]+", " ", t).strip().split(" ")
            for t in texts]
    best = _brute_force_spans(toks)

    got = {r["doc_id"]: (r["span_len"], r["span"])
           for r in dedup.repeated_spans(_docs_df(spark, texts)).collect()}
    assert got == best
    # the planted scenario's ground truths, explicitly
    assert got[0] == (7, "j0 j1 j2 j3 j4 j5 j6")
    assert got[1] == (7, "j0 j1 j2 j3 j4 j5 j6")
    assert got[2][0] == 7
    assert got[3] == (8, "a b c d e f g h")


def test_repeated_spans_fuzz_control_chars_vs_brute_force(spark):
    """Hypothesis sweep over corpora whose 'words' embed tabs/control
    bytes: the cleansed-tokenization operator must equal the all-pairs
    brute force on the SAME cleansed tokens for every generated
    corpus — the property form of the planted adjacency-lemma
    regression (one planted shape can't cover every way a dirty
    suffix can sort between two clean ones)."""
    import re

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    # words over a tiny vocabulary so overlaps are dense, with
    # control bytes injected INSIDE words by the generator
    word = st.sampled_from(
        ["aa", "bb", "cc", "a\tb", "c\x01d", "e", "f\x1fg"])
    text = st.lists(word, min_size=6, max_size=18).map(" ".join)

    @given(st.lists(text, min_size=2, max_size=8))
    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    def run(texts):
        toks = [re.sub(r"[\x00-\x20]+", " ", t).strip().split(" ")
                for t in texts]
        best = _brute_force_spans(toks)

        got = {r["doc_id"]: (r["span_len"], r["span"])
               for r in dedup.repeated_spans(
                   _docs_df(spark, texts)).collect()}
        assert got == best

    run()


def test_char_jaccard_hybrid_matches_exact_twin(spark):
    """Round-5 verdict item 3: the dense-slice hybrid.  With an
    aggressively small routing cap, most shared prefix grams go
    dense — the coverage lemma (every qualifying pair either shares a
    sparse prefix gram, caught exactly, or has BOTH endpoints in the
    minhash cohort) must still deliver the pure-exact twin's output
    byte-identically, and the banded leg must genuinely execute (its
    hot-band guard registers an observation)."""
    rng = random.Random(7)
    texts = []
    for i in range(30):
        # small alphabet → shared char-4-gram slice, like real
        # corpora's digits/whitespace/markup grams
        s = "".join(rng.choice("abcdefghij") for _ in range(60))
        texts.append(s)
        if i % 3 == 0:
            texts.append(s[:57] + "zzz")       # planted near-dup
    docs = _docs_df(spark, texts)

    def pairs(cap):
        return {(r["doc_a"], r["doc_b"], round(r["jac"], 9))
                for r in dedup.char_jaccard_pairs(
                    docs, dense_prefix_cap=cap).collect()}

    exact = pairs(None)
    assert len(exact) >= 8                     # non-vacuous fixture
    hybrid_tiny = pairs(2)
    assert hybrid_tiny == exact
    # the dense leg really fired: the banded candidates' guard
    # observation exists and nothing was dropped at the default cap
    g = dedup.last_band_guard_metrics()
    assert g is not None and g["dropped_rows"] == 0
    # default cap on a gram-light fixture: no gram crosses 256, the
    # plan degenerates to pure-exact (the sf0.01 oracle posture)
    assert pairs(dedup.CHAR_DENSE_PREFIX_CAP) == exact


def test_char_jaccard_merge_sides_match_broadcast_sides(spark,
                                                       monkeypatch):
    """Every join side of the char jaccard path is sized against the
    one broadcast limit (``session.join_side``).  With the limit at 0
    each side takes the sort-merge branch — the plan a corpus past the
    limit runs — and must give the default (broadcast) run's output,
    on a fixture whose dense leg really fires (cap=2 routes most grams
    dense).  No join, cache builds included, may broadcast."""
    from greenplum_dwh_spark import session
    from greenplum_dwh_spark.plans import checks
    rng = random.Random(11)
    texts = []
    for i in range(24):
        s = "".join(rng.choice("abcdefghij") for _ in range(60))
        texts.append(s)
        if i % 3 == 0:
            texts.append(s[:57] + "zzz")       # planted near-dup
    docs = _docs_df(spark, texts)

    def run():
        df = dedup.char_jaccard_pairs(docs, dense_prefix_cap=2)
        got = {(r["doc_a"], r["doc_b"], round(r["jac"], 9))
               for r in df.collect()}
        return got, checks.physical_plan(df)

    spark.catalog.clearCache()
    default, plan = run()
    assert len(default) >= 6                    # non-vacuous fixture
    assert "BroadcastHashJoin" in plan
    monkeypatch.setattr(session, "BROADCAST_LIMIT_BYTES", 0)
    spark.catalog.clearCache()
    merged, plan = run()
    assert merged == default
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_char_jaccard_hybrid_random_sweep(spark):
    """Seeded random corpora over a digits-and-spaces-bearing alphabet
    (the shared-gram shape real corpora have), doc sizes straddling
    the sketch-tier boundary (50-char docs sketch full, 160/200-char
    docs sketch sampled), aggressive cap=3 so nearly every gram goes
    dense: the hybrid must equal the pure-exact twin on every seed."""
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        texts = []
        for i in range(12):
            n = rng.choice((50, 160, 200))
            s = "".join(rng.choice("abcdefgh 0123") for _ in range(n))
            texts.append(s)
            if i % 2 == 0:                     # near-dup partner
                t = list(s)
                for _ in range(max(1, n // 25)):
                    t[rng.randrange(n)] = rng.choice("abcdefgh")
                texts.append("".join(t))
        docs = _docs_df(spark, texts)

        def pairs(cap):
            return {(r["doc_a"], r["doc_b"], round(r["jac"], 9))
                    for r in dedup.char_jaccard_pairs(
                        docs, dense_prefix_cap=cap).collect()}

        exact = pairs(None)
        assert pairs(3) == exact, seed
        assert len(exact) >= 1, seed           # non-vacuous seed


def test_hybrid_band_r_adapts_to_threshold(spark):
    """The banded leg's rows-per-band derive from the join threshold
    (miss budget 1e-3): the r=3 constant right at t=0.7 would miss
    ~6‰ at t=0.5.  Pin the choices and verify the hybrid still equals
    the exact twin at a LOW threshold where the adaptive rule matters
    (t=0.5 → r=2)."""
    assert dedup._pick_band_r(0.5) == 2
    assert dedup._pick_band_r(0.6) == 2
    assert dedup._pick_band_r(0.7) == 3
    assert dedup._pick_band_r(0.8) == 4
    # miss budget really holds at each choice
    for t in (0.5, 0.6, 0.7, 0.8, 0.9):
        r = dedup._pick_band_r(t)
        bands = dedup.H.MINHASH_PERMS // r
        assert (1 - t ** r) ** bands <= dedup.DENSE_MISS_BUDGET

    rng = random.Random(23)
    texts = []
    for i in range(20):
        s = "".join(rng.choice("abcdefgh 01") for _ in range(70))
        texts.append(s)
        if i % 2 == 0:
            texts.append(s[:60] + "qqqqqqqqqq")   # mid-similarity pair
    docs = _docs_df(spark, texts)

    def pairs(cap):
        return {(r["doc_a"], r["doc_b"], round(r["jac"], 9))
                for r in dedup.char_jaccard_pairs(
                    docs, threshold=0.5, dense_prefix_cap=cap).collect()}

    exact = pairs(None)
    assert len(exact) >= 5
    assert pairs(2) == exact


def test_ppjoin_caches_ownership_contract(spark):
    """Round-5 ADVICE: the PPJoin family's pinned intermediates
    (grams, df table and prefix index) must be releasable by the
    caller — the ``caches`` list contract from dup_ngram_mass.  A long-lived
    session composing these verbs otherwise accumulates pinned
    storage until LRU eviction."""
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    texts = [" ".join(rng.choice(vocab) for _ in range(25))
             for _ in range(20)]
    texts.append(texts[0])                    # one planted dup
    docs = _docs_df(spark, texts)

    caches: list = []
    out = dedup.jaccard_prefix_pairs(docs, caches=caches).collect()
    assert len(out) >= 1
    assert len(caches) == 3                   # grams + df table + prefix index
    assert all(df.storageLevel.useMemory for df in caches)
    for df in caches:
        df.unpersist()
    assert not any(df.storageLevel.useMemory for df in caches)

    caches = []
    dedup.containment_pairs(docs, caches=caches).collect()
    assert len(caches) == 3                   # grams + df table + probe index
    assert all(df.storageLevel.useMemory for df in caches)
    for df in caches:
        df.unpersist()
    assert not any(df.storageLevel.useMemory for df in caches)


def test_knn_doc_graph_matches_bruteforce_and_prunes_topk(spark):
    """knn_doc_pairs vs a python brute force over word-2-gram sets:
    same thresholded neighbor graph, same (jac DESC, neighbor) total
    order, ranks dense from 1 and capped at K.  The physical plan
    must carry WindowGroupLimit so the top-K prunes BEFORE the window
    exchange (the O(docs·K) shuffle claim)."""
    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(30)]
    texts = []
    for i in range(15):
        ws = [rng.choice(vocab) for _ in range(20)]
        texts.append(" ".join(ws))
        if i % 2 == 0:                       # several close variants
            for j in range(1 + i % 3):
                ws2 = list(ws)
                ws2[j] = rng.choice(vocab)
                texts.append(" ".join(ws2))
    docs = _docs_df(spark, texts)

    def shingles(t):
        w = t.split(" ")
        return set(" ".join(w[i:i+2]) for i in range(len(w)-1)) or {t}

    sets = {i: shingles(t) for i, t in enumerate(texts)}
    sym = {}
    for a in sets:
        for b in sets:
            if a == b:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter * 5 >= 3 * union:       # snapped 0.6 = 3/5
                sym.setdefault(a, []).append((-inter / union, b))
    want = set()
    for a, ns in sym.items():
        for rk, (negj, b) in enumerate(sorted(ns)[:dedup.KNN_K], 1):
            want.add((a, b, round(-negj, 9), rk))

    out = dedup.knn_doc_pairs(docs)
    got = {(r["doc_id"], r["neighbor"], round(r["jac"], 9), r["rnk"])
           for r in out.collect()}
    assert got == want and len(want) >= 10
    from greenplum_dwh_spark.plans import checks
    assert "WindowGroupLimit" in checks.physical_plan(out)


def test_pin_overwrite_guard(tmp_path):
    """The --pin burst guard (round 8): a slower total must not
    replace a faster pin (refused past the slack), an equal-or-faster
    or within-slack total passes, and a missing pin always passes."""
    import json

    import pytest

    import bench

    p = str(tmp_path / "BENCH_pinned.json")
    bench.pin_overwrite_guard(999.0, p)          # no pin yet: passes
    with open(p, "w") as f:
        json.dump({"value": 48.4, "code": "abc", "pinned_at": "t"}, f)
    bench.pin_overwrite_guard(40.0, p)           # faster: passes
    bench.pin_overwrite_guard(48.4 * 1.09, p)    # within slack: passes
    with pytest.raises(SystemExit, match="pin refused"):
        bench.pin_overwrite_guard(48.4 * 1.2, p)  # burst: refused


def test_pin_guard_corrupt_pin_allows(tmp_path, capsys):
    """Round-8 ADVICE: a truncated/corrupt pin file (killed earlier
    --pin run) is 'no pin', not a crash — the guard warns and allows."""
    import bench

    p = str(tmp_path / "BENCH_pinned.json")
    with open(p, "w") as f:
        f.write('{"value": 48.')         # truncated JSON
    bench.pin_overwrite_guard(999.0, p)  # must not raise


def test_vs_pin_block_burst_adjudication(tmp_path):
    """Round-8 verdict item 2: the artifact adjudicates its own
    bursts.  A uniformly 2×-inflated run reads controls_median ≈ 2
    (host steal visible on zero-exchange plans); a calm run reads
    ≈ 1 with no flags; no/corrupt pin → None; queries absent from
    the pin are skipped, never divided by zero."""
    import json

    import bench

    p = str(tmp_path / "BENCH_pinned.json")
    assert bench.vs_pin_block({"q": 1.0}, p) is None     # no pin
    pin_q = {c: 0.5 for c in bench.MAP_ONLY_CONTROLS}
    pin_q.update({"dedup_simhash": 2.0, "q1": 1.0, "zero": 0.0})
    with open(p, "w") as f:
        json.dump({"value": 4.0, "code": "abc", "queries": pin_q}, f)

    calm = bench.vs_pin_block(
        {**{c: 0.52 for c in bench.MAP_ONLY_CONTROLS},
         "dedup_simhash": 2.1, "q1": 0.9, "zero": 3.0, "new_q": 1.0},
        p)
    assert calm["controls_median"] == 1.04
    assert calm["n_over_1p5"] == 0
    assert "zero" not in calm["ratios"]      # 0-valued pin skipped
    assert "new_q" not in calm["ratios"]     # not in pin: skipped
    assert calm["pin_value"] == 4.0

    burst = bench.vs_pin_block(
        {**{c: 1.0 for c in bench.MAP_ONLY_CONTROLS},
         "dedup_simhash": 4.2, "q1": 2.0}, p)
    assert burst["controls_median"] == 2.0
    assert burst["median"] == 2.0
    assert burst["n_over_1p5"] == 6

    with open(p, "w") as f:
        f.write("{corrupt")
    assert bench.vs_pin_block({"q": 1.0}, p) is None     # corrupt pin


def test_bench_calm_retry_decision():
    """Round-10 verdict item 2: the driver's own bench leg retries
    once when the finished run's map-only controls median exceeds the
    burst threshold, and keeps the calmer attempt.  The decision
    helpers are pure: no signal (no pin / no controls) → no retry; a
    readable retry wins only when STRICTLY calmer; an unreadable
    retry never displaces the measured first run."""
    import bench

    assert not bench.calm_retry_needed(None)          # nothing to judge
    assert not bench.calm_retry_needed(1.0)
    assert not bench.calm_retry_needed(bench.CALM_RETRY_CONTROLS)
    assert bench.calm_retry_needed(bench.CALM_RETRY_CONTROLS + 0.01)
    assert bench.calm_retry_needed(1.59)              # the r10 artifact

    assert bench.calm_retry_keep(1.59, 1.05) == 1     # calmer retry wins
    assert bench.calm_retry_keep(1.59, 1.59) == 0     # tie → first
    assert bench.calm_retry_keep(1.59, 1.80) == 0     # worse retry loses
    assert bench.calm_retry_keep(1.59, None) == 0     # unreadable retry
    assert bench.calm_retry_keep(None, 1.0) == 0      # unreadable first


def test_bigindex_cost_split():
    """Round-10 verdict item 6: the two bigindex legs decompose into
    wall = fixed + per_doc·docs.  Known line: 125 docs → 2.5 s,
    1250 docs → 7.0 s ⇒ per-doc 4 ms, fixed 2.0 s; equal batch sizes
    degrade to None instead of dividing by zero."""
    import bench_streaming as BS

    s = BS.cost_split(125.0, 2.5, 1250.0, 7.0)
    assert s["per_kdoc_sec"] == 4.0
    assert s["fixed_sec_per_batch"] == 2.0
    assert s["docs_per_batch"] == [125.0, 1250.0]
    degenerate = BS.cost_split(125.0, 2.5, 125.0, 2.6)
    assert degenerate["per_kdoc_sec"] is None
    assert degenerate["fixed_sec_per_batch"] is None


def test_steal_probe_calm_predicate(monkeypatch):
    """Round-11 decade-2 forensics tool: the calm gate requires BOTH
    throughputs within tolerance BELOW the reference (above is fine),
    so whole-box steal (single drops) and core contention (multi
    drops, single survives) are each caught."""
    import os as _os
    # monkeypatch so the scripts/ dir does not shadow same-named
    # modules for every test collected after this one (round-11
    # ADVICE)
    monkeypatch.syspath_prepend(_os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scripts"))
    import steal_probe as SP

    ref = {"single": 1000, "multi": 30000}
    assert SP.is_calm(ref, {"single": 950, "multi": 29000})
    assert SP.is_calm(ref, {"single": 1200, "multi": 35000})  # above ref
    assert not SP.is_calm(ref, {"single": 850, "multi": 29000})  # steal
    assert not SP.is_calm(ref, {"single": 1000, "multi": 25000})  # contention
    assert SP.is_calm(ref, {"single": 900, "multi": 27000})  # boundary
    assert not SP.is_calm(ref, {"single": 899, "multi": 27000}, pct=10.0)
    # a reference from a different core count is refused, not
    # silently compared (round-11 ADVICE)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        SP.is_calm({"single": 1000, "multi": 30000, "cpus": 8},
                   {"single": 1000, "multi": 30000, "cpus": 32})


def test_vs_pin_block_sf_mismatch_none(tmp_path):
    """A pin measured at another scale factor is not a reference for
    this run — cross-scale ratios would read as a burst."""
    import json

    import bench

    p = str(tmp_path / "BENCH_pinned.json")
    with open(p, "w") as f:
        json.dump({"value": 4.0, "sf": 0.1, "queries": {"q": 1.0}}, f)
    assert bench.vs_pin_block({"q": 2.0}, p, sf=0.001) is None
    assert bench.vs_pin_block({"q": 2.0}, p, sf=0.1) is not None


def _bench_harvest(spark, sf_dir, names):
    """One bench measurement pass over ``names`` (plus a non-near-dup
    query) → the observables it recorded, family → {query: metrics}."""
    import bench
    from greenplum_dwh_spark.operators import relational
    qs = {n: getattr(dedup, n) for n in names}
    qs["q1_pricing_summary"] = relational.q1_pricing_summary
    return bench.measure_all(qs, spark, sf_dir)["observables"]


def test_bench_harvests_band_guard_per_query(spark, sf_dir):
    """bench.py records every family a query registered, with no list
    of query names: a banded query's guard metrics carry all three
    keys as ints, and a non-banded query records nothing."""
    obs = _bench_harvest(spark, sf_dir, ["dedup_minhash_lsh"])
    assert set(obs) == {"band_guard", "ppjoin"}, obs
    m = obs["band_guard"]["dedup_minhash_lsh"]
    assert set(m) == {"dropped_rows", "dropped_buckets",
                      "max_band_size"}, m
    assert all(isinstance(v, int) for v in m.values()), m
    assert obs["ppjoin"] == {}
    assert all("q1_pricing_summary" not in f for f in obs.values())


def test_bench_harvests_ppjoin_per_query(spark, sf_dir):
    """The PPJoin candidate count (the exact-verify volume every
    pruning layer shrinks) is recorded for the query that ran it, and
    bounds that query's output from above."""
    obs = _bench_harvest(spark, sf_dir, ["dedup_jaccard_prefix"])
    m = obs["ppjoin"]["dedup_jaccard_prefix"]
    assert m["n_candidates"] > 0, m
    assert m["n_candidates"] >= dedup.dedup_jaccard_prefix(
        spark, sf_dir).count()
    assert obs["band_guard"] == {}
    assert all("q1_pricing_summary" not in f for f in obs.values())


def test_observables_absent_after_non_banded_operator(spark):
    """An emptied registry stays empty through an operator that
    registers nothing: neither reader invents a stale entry."""
    dedup.take_observables()
    docs = _docs_df(spark, ["a b c d", "a b c d", "e f g h"])
    assert dedup.exact_dedup(docs).count() == 2
    assert dedup.last_band_guard_metrics() is None
    assert dedup.last_ppjoin_metrics() is None
    assert dedup.take_observables() == {}


def test_observables_families_per_operator(spark):
    """minhash registers only the band guard; the char hybrid
    registers both its dense leg's guard and the PPJoin count."""
    docs = _docs_df(spark, _boilerplate_corpus(n=40))
    dedup.take_observables()
    dedup.minhash_pairs(docs).count()
    assert set(dedup.take_observables()) == {"band_guard"}
    dedup.char_jaccard_pairs(docs).count()
    got = dedup.take_observables()
    assert set(got) == {"band_guard", "ppjoin"}, got
    assert got["ppjoin"]["n_candidates"] >= 0


def test_plain_guard_replaces_split_stage1(spark):
    """The split's stage-1 metrics ride in its own stage-2 guard
    entry, so a later plain guard's reading carries no
    rerouted_rows."""
    rows = [(i, (i * 0x9E3779B97F4A7C15) & ((1 << 60) - 1))
            for i in range(70)]
    fps = spark.createDataFrame(rows, "doc_id long, fp long")
    # cap 1 < 70 docs over a 6-bit alphabet: every band is hot
    dedup.simhash_pairs(None, band_cap=1, fps=fps).count()
    assert dedup.last_band_guard_metrics()["rerouted_rows"] > 0
    dedup.simhash_pairs(None, band_cap=1, fps=fps,
                        hot_split=False).count()
    g = dedup.last_band_guard_metrics()
    assert "rerouted_rows" not in g and "max_raw_band_size" not in g
    assert g["dropped_rows"] > 0
