"""Second-decade scaling probe for the data-bound queries
(round-4 verdict item 3): time dedup_jaccard_prefix and
fuzzy_doc_pairs at sf1 AND the documents-only sf10
(make_sf_decade2.py), each scale in its own subprocess (fresh JVM),
best-of-2 within the JVM — the same methodology as bench.py /
scale_probe.py.

Writes BENCH_decade2.json: per-query seconds at both scales + the
decade ratio.  A ratio tracking the 10× data factor is linear growth
under the replication model (new replicas bring new vocabulary, so
per-replica candidate structure is constant by construction — the
probe measures whether the IMPLEMENTATION adds superlinear cost on
top: shuffle sizing, broadcast growth, block-key collisions); a ratio
well above it is quadratic onset and names the next perf work.

Usage:
    python scripts/make_sf_decade2.py              # once
    python scripts/decade2_probe.py                # probe + artifact
    python scripts/decade2_probe.py --inner q dir  # (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES = ("dedup_jaccard_prefix", "fuzzy_doc_pairs",
           "dedup_repeated_spans", "dup_ngram_fraction",
           # banded-LSH representative: under the replication model
           # its band keys stay sparse (32 bands of r=2 64-bit hashes
           # — key space is effectively unbounded), so candidates
           # should track the data factor; the band-guard drop counts
           # are harvested to verify no silent recall loss
           "dedup_minhash_lsh",
           # round 7: probe-able since the hot-band SPLIT — the 6-bit
           # alphabet saturates past ~100k·cap docs by construction,
           # but over-cap buckets now re-key through composite
           # (band, other-band) buckets instead of dropping, so the
           # probe measures the PLAN again, not the alphabet; the
           # band-guard residual drops + the sampled recall lower
           # bound land in the artifact (round-6 verdict item 5)
           "dedup_simhash",
           # the gram-dense worst case: at sf1 (shared 9k-gram
           # universe) its match multiset grows quadratically with
           # corpus; sf10's per-replica char remap makes vocabulary
           # FRESH, so this probe measures the linear-under-new-data
           # claim BASELINE.md makes for it
           "dedup_char_jaccard",
           # round-6 additions: the kNN graph inherits the PPJoin
           # core's linearity plus a WindowGroupLimit top-K; quota
           # sampling is the distributed prefix sum whose work is
           # one corpus scan + a groups×buckets window
           "knn_doc_graph", "lang_quota_sample",
           # round 7: novelty shares dup_ngram_fraction's skeleton
           # (gram explode → map-combinable gram aggregate → join
           # back) so it inherits that probe's linearity expectation;
           # measured rather than assumed.  The percentile cut is a
           # scan + tiny aggregated-cell windows (quota_sample's
           # shape) — its ratio should sit near the scan term
           "gram_novelty_scores", "quality_percentile_filter",
           # round 8: the embedding family (last un-probed 100 TB
           # claim).  The vectors scale by signed-permutation
           # replication (make_sf_decade2.py — within-replica
           # geometry bit-exact, cross-replica cosine max 0.615 <<
           # 0.85), so emitted near-dup pairs are EXACTLY the 200
           # replica-0 plants at every scale — an equality check vs
           # the exact kernel, recorded per run.  The SRP alphabet
           # auto-scales (similarity._auto_band_bits), and the probe
           # records the chosen bits + band occupancy next to the
           # walls
           "dedup_embedding_lsh", "dedup_embedding_clusters",
           "ann_ivf_topk",
           # round 8: first-wins paragraph dedup.  The planted promo
           # lines are the deliberate stress: at sf10 each of the 5
           # promo paragraphs has ~100k duplicate occurrences, so the
           # winner join's probe side carries 5 mega-hot line keys —
           # the plan claim (map-combinable MIN agg + AQE-skew-
           # splittable join, never a window over line) is exactly
           # what this measures; output rows stay = n_docs
           "dedup_paragraphs",
           # round 9: the hashed-line twin — same 100k-duplicate
           # stress, but the winner join and banned probe carry
           # (xxhash64, length) instead of the paragraph text, and
           # reassembly is a map-side filter over split(text).  The
           # verbatim r8 ratio (5.4×) was dominated by text movement;
           # this row measures what remains once text rides only the
           # doc_id join
           "dedup_paragraphs_hashed",
           # round 10: image perceptual-hash near-dup.  sf1 already
           # saturates single 16-bit band buckets (>6k docs share
           # structured gradient bands), so this row measures the
           # HOT-SPLIT plan at 10× that saturation; the band-guard
           # record (rerouted vs residual-dropped memberships) lands
           # beside the wall
           "dedup_image_phash",
           # round 12 (verdict item 3): the remaining two members of
           # the round-11-rewritten family get decade rows too —
           # containment (probe-index + rank-window prefix, round-11
           # cache) and clusters (minhash pairs → star contraction
           # with the round-12 convergence predicate)
           "dedup_containment", "dedup_clusters")

#: queries reading the embeddings table (warm-up + observables differ)
EMB_QUERIES = ("dedup_embedding_lsh", "dedup_embedding_clusters",
               "ann_ivf_topk")
SCALES = {"sf1": os.path.join(REPO, ".bigdata/sf1"),
          "sf10": os.path.join(REPO, ".bigdata/sf10")}


def inner(query: str, sf_dir: str) -> None:
    from greenplum_dwh_spark.operators import (curation, dedup,
                                               multimodal_ops,
                                               similarity,
                                               text_analysis,
                                               training_data)
    _phash = multimodal_ops.dedup_image_phash
    from greenplum_dwh_spark.session import get_spark
    fn = {"dedup_jaccard_prefix": dedup.dedup_jaccard_prefix,
          "fuzzy_doc_pairs": training_data.fuzzy_doc_pairs,
          "dedup_repeated_spans": dedup.dedup_repeated_spans,
          "dup_ngram_fraction": text_analysis.dup_ngram_fraction,
          "dedup_minhash_lsh": dedup.dedup_minhash_lsh,
          "dedup_simhash": dedup.dedup_simhash,
          "dedup_char_jaccard": dedup.dedup_char_jaccard,
          "knn_doc_graph": dedup.knn_doc_graph,
          "lang_quota_sample": curation.lang_quota_sample,
          "gram_novelty_scores": text_analysis.gram_novelty_scores,
          "quality_percentile_filter": curation.quality_percentile_filter,
          "dedup_embedding_lsh": similarity.dedup_embedding_lsh,
          "dedup_embedding_clusters": similarity.dedup_embedding_clusters,
          "ann_ivf_topk": similarity.ann_ivf_topk,
          "dedup_paragraphs": curation.dedup_paragraphs,
          "dedup_paragraphs_hashed": curation.dedup_paragraphs_hashed,
          "dedup_image_phash": _phash,
          "dedup_containment": dedup.dedup_containment,
          "dedup_clusters": dedup.dedup_clusters,
          }[query]
    spark = get_spark("decade2_probe",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    # untimed warm-up scan (bench.py discipline)
    warm_table = ("embeddings.parquet" if query in EMB_QUERIES
                  else "documents.parquet")
    spark.read.parquet(os.path.join(sf_dir, warm_table)) \
        .write.mode("overwrite").format("noop").save()
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.time() - t0)
    extra = {}
    if query in ("dedup_jaccard_prefix", "dedup_char_jaccard",
                 "dedup_containment"):
        m = dedup.last_ppjoin_metrics()
        if m:
            extra["n_candidates"] = m["n_candidates"]
    if query in ("dedup_minhash_lsh", "dedup_simhash",
                 "dedup_image_phash"):
        g = dedup.last_band_guard_metrics()
        if g:
            extra["band_guard"] = g
    if query in ("dedup_embedding_lsh", "dedup_embedding_clusters"):
        # alphabet decision + occupancy next to the wall, plus the
        # exact-kernel equality check the replication model enables:
        # zero organic pairs >= 0.85 exist in the base corpus
        # (measured max 0.601) and signed permutation preserves that
        # per replica while cross-replica max is 0.615, so the lsh
        # output must be EXACTLY the 200 replica-0 plants (the
        # cluster query: 100 triangles + 100 two-node components =
        # 500 rows) at every scale — identical vectors share every
        # band, so any shortfall is capping/saturation loss, never
        # sampling noise
        extra["srp"] = similarity.last_srp_config()
        g = dedup.last_band_guard_metrics()
        if g:
            extra["band_guard"] = g
        got = fn(spark, sf_dir).count()
        want = (similarity.PLANT_COPIES
                if query == "dedup_embedding_lsh"
                else 3 * similarity.PLANT2_COPIES
                + 2 * (similarity.PLANT_COPIES - similarity.PLANT2_COPIES))
        extra["rows"] = int(got)
        extra["expected_rows"] = int(want)
        extra["exact_kernel_match"] = bool(got == want)
    if query == "ann_ivf_topk":
        # recall vs the exact kernel AT THE PROBED SCALE (the sf0.1
        # test asserts >=0.95; this measures it where the IVF plan
        # actually matters)
        ivf = {(r["query_id"], r["neighbor_id"])
               for r in fn(spark, sf_dir).collect()}
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in similarity.ann_cosine_topk(spark, sf_dir)
                 .collect()}
        extra["recall_vs_exact"] = round(len(ivf & exact) / len(exact), 4)
        extra["topk_rows"] = len(exact)
    if query == "dedup_image_phash":
        # same acceptance evidence as simhash at saturation: the
        # sampled lost-pair estimate + 95% bound for the split plan's
        # composite-bucket residual (near-constant images form
        # quadratic pair families; the bound says what the cap cost)
        from greenplum_dwh_spark.sources.tpch import Tables
        docs = multimodal_ops._planted_image_docs(Tables(spark, sf_dir))
        extra["recall_probe"] = multimodal_ops.image_phash_guard_probe(
            docs, sample_mod=8)
    if query == "dedup_simhash":
        # the saturation-era acceptance evidence (round-6 verdict
        # item 5): residual drops + a sampled 95% recall lower bound
        # for the split plan, measured on the probe corpus itself
        docs = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet"))
        # mod=8 keeps the probe's sampled hot-pair verification
        # (O(Σ hot_bucket² / mod²)) tractable at the saturated sf10
        # while the binomial UB still turns its count into a bound
        extra["recall_probe"] = dedup.simhash_band_guard_probe(
            docs, sample_mod=8)
    from bench import host_load
    print(json.dumps({"best_sec": round(best, 3), "host": host_load(),
                      **extra}))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--inner":
        inner(sys.argv[2], sys.argv[3])
        return
    artifact: dict = {"queries": {}, "data_factor": 10.0}
    run = QUERIES
    if len(sys.argv) > 1 and (sys.argv[1] != "--only"
                              or len(sys.argv) != 3):
        # fail fast on a forgotten/mistyped flag: silently running the
        # FULL probe re-pays ~10 min of sf10 jaccard wall and
        # overwrites BENCH_decade2.json with a full re-measure
        raise SystemExit(
            f"usage: decade2_probe.py [--only q1,q2] — got "
            f"{sys.argv[1:]}; queries: {', '.join(QUERIES)}")
    if len(sys.argv) > 2 and sys.argv[1] == "--only":
        # re-measure a subset and MERGE into the existing artifact
        # (the full jaccard probe is ~10 min of sf10 wall; a new
        # probe target shouldn't force re-paying it)
        run = tuple(sys.argv[2].split(","))
        unknown = set(run) - set(QUERIES)
        if unknown:
            raise SystemExit(f"unknown probe queries: {sorted(unknown)}")
        prior = os.path.join(REPO, "BENCH_decade2.json")
        if os.path.exists(prior):
            with open(prior) as f:
                artifact = json.load(f)
    from scale_probe import wait_load_drain
    import steal_probe as SP
    try:
        with open(SP.REF_PATH) as f:
            steal_ref = json.load(f)
    except (OSError, json.JSONDecodeError):
        raise SystemExit(
            "decade2_probe: no steal reference — run "
            "`python scripts/steal_probe.py --ref` on a calm host "
            "first (round-12 protocol: every leg is calm-bracketed)")
    for q in run:
        artifact["queries"][q] = {}
        for label, sf_dir in SCALES.items():
            # the scale_probe drain discipline (round 10): a leg that
            # starts on a co-tenant burst or the previous leg's own
            # 32-thread tail measures the host, not the operator
            wait_load_drain(threshold=2.0)
            # size the single-JVM heap for the scale under test: in
            # local mode the driver heap IS the cluster memory, and
            # probing 10× data in the sf0.1-sized default 8 g measures
            # GC thrash, not the operator (a real cluster scales
            # executors with data; SPARK_DRIVER_MEM is the local-mode
            # equivalent)
            env = dict(os.environ,
                       SPARK_DRIVER_MEM="48g" if label == "sf10" else "8g")
            # round-12 protocol (round-11 forensics: hypervisor
            # CPU-budget throttling is invisible to loadavg and can
            # START mid-leg): bracket every leg with throughput
            # readings against the calm reference; a leg whose AFTER
            # reading is degraded was measured inside a burst — run
            # it up to three times (``range(3)``), each attempt first
            # waiting up to 15 min for a calm reading, so the worst
            # case is ~45 min per leg; if still degraded, record the
            # bracket verdict so the artifact carries its own
            # contamination signal instead of a judge exercise
            for attempt in range(3):
                # actively WAIT for a calm before-reading: the budget
                # drained by the previous saturating leg refills in
                # ~6 idle minutes (r11 forensics) — running the leg
                # on a drained budget wastes a full leg just to fail
                # its own bracket
                waited = 0.0
                while True:
                    before = SP.measure()
                    if SP.is_calm(steal_ref, before, pct=15.0):
                        break
                    if waited > 900:
                        print(f"decade2_probe: {q} {label} — host "
                              f"not calm within 15 min "
                              f"({json.dumps(before)}); proceeding "
                              f"(bracket records it)",
                              file=sys.stderr, flush=True)
                        break
                    time.sleep(60)
                    waited += 60 + 2 * SP.WINDOW_S
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__),
                     "--inner", q, sf_dir],
                    cwd=REPO, env=env, capture_output=True, text=True,
                    check=True)
                after = SP.measure()
                # Accept rule, derived from the round-11 forensics
                # and this round's first bracket attempts:
                # - BEFORE must be calm at 15% on both readings (the
                #   ambient calm spread of the multi reading is ±12%;
                #   the burst class collapses to 21–54%);
                # - AFTER must have a calm SINGLE (whole-box steal
                #   check — the r11 burst collapsed single to 21%)
                #   and multi ≥ 60% of reference.  A long saturating
                #   leg SELF-drains the hypervisor CPU budget (the
                #   mechanism isolated in BASELINE.md round 11), so
                #   its own after-multi reads ~75-85% even with zero
                #   co-tenant activity — retrying can never pass a
                #   strict after-gate, while a genuine burst (21-54%)
                #   still fails this one.  Raw readings are recorded
                #   either way, so the artifact carries the exact
                #   degradation, not just the verdict bit.
                calm_before = SP.is_calm(steal_ref, before, pct=15.0)
                after_ok = (after["single"]
                            >= steal_ref["single"] * 0.85
                            and after["multi"]
                            >= steal_ref["multi"] * 0.60)
                bracket = {
                    "before": before, "after": after,
                    "calm_before": calm_before,
                    "calm_after": SP.is_calm(steal_ref, after,
                                             pct=15.0),
                    "after_accepted": after_ok,
                    "attempt": attempt,
                }
                if calm_before and after_ok:
                    break
                print(f"decade2_probe: {q} {label} leg bracket "
                      f"degraded (attempt {attempt}): "
                      f"{json.dumps(bracket)} — retrying after "
                      f"recovery", file=sys.stderr, flush=True)
            r = json.loads(out.stdout.strip().splitlines()[-1])
            r["steal_bracket"] = bracket
            artifact["queries"][q][label] = r
            print(q, label, r, flush=True)
        a = artifact["queries"][q]["sf1"]["best_sec"]
        b = artifact["queries"][q]["sf10"]["best_sec"]
        artifact["queries"][q]["decade_ratio"] = round(b / a, 2) if a else None
    out_path = os.path.join(REPO, "BENCH_decade2.json")
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
