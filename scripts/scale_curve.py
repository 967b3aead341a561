#!/usr/bin/env python3
"""Per-query scale curve across sf0.001 / sf0.01 / sf0.1 -> SCALING.json.

The repo's standing claim is that every registered plan is at-most-linear
in the data (blocked pair generation, broadcast-bounded joins, top-k
before global windows). This sweep MEASURES that claim instead of
asserting it: each (query, sf) pair runs in its own fresh JVM
(bench_isolated.time_one: a graft.Bench subset run, min of reps — the
same adjudication-grade isolation as BENCH_ISOLATED), and for each
query we fit

    t(sf) = overhead + slope * sf        (least squares over 3 points)

and report `growth_0.01_to_0.1` = t(sf0.1)/t(sf0.01) against the 10x
data growth between those dirs. Interpretation contract:

  * growth <= ~10  -> at-most-linear in data over the measured decade;
  * growth near 1  -> overhead-dominated at test scale (fixed planning /
    JVM / shuffle-setup cost swamps the data term; `overhead_frac_sf01`
    makes this explicit) — the data-scaling signal is `slope`, not the
    ratio;
  * growth >> 10 would flag a super-linear operator (none expected; a
    regression here is a plan-shape bug, not noise).

Run after `sbt compile`:  python3 scripts/scale_curve.py [reps]

Results accumulate in SCALING.partial.json as each query finishes, and
a rerun skips queries already measured — so the (long, 54-JVM) sweep
can run in bounded chunks; the final run assembles SCALING.json.
"""
import os
import json
import sys
from datetime import datetime, timezone

from bench_isolated import time_one

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
       "/root/testdata/sf0.1"]
SF_VALS = [0.001, 0.01, 0.1]

# One representative per heavy family, biased toward the queries whose
# sf0.1 cost is largest (where a super-linear term would actually show):
# dedup (exact, LSH, embedding, end-to-end groups), ANN (brute, IVF,
# PQ), text (winnowing, char-LM), pipeline (contamination, packing),
# retrieval (BM25, hybrid), events (sessionization, hourly), ledger
# (digest), relational (as-of), sketches (KMV).
QUERIES = [
    "d1_exact_dedup", "d3_minhash_lsh", "d5_embedding_neardup",
    "d6_dedup_groups", "v1_knn_bruteforce", "v3_knn_ivf", "v4_pq_knn",
    "t4_winnow_fingerprint", "t8_charlm_outliers", "pl7_contamination",
    "pl8_sequence_pack", "r2_bm25", "r6_hybrid_rrf", "l6_sessionization",
    "st1_hourly_counts", "w9_chain_digest", "j6_asof_join",
    "k2_kmv_distinct",
    # round-10 newborns: the scaling claim covers them from birth
    "pl10_dsir_importance", "d7_semdedup", "d8_bloom_incremental",
    "d9_substring_dedup", "d10_incremental_lsh",
    # round-11 newborn
    "pl11_gopher_rules",
    # round-12 newborns
    "pl12_ccnet_buckets", "d11_guarded_lsh",
    # round-13 newborns + the r12 verdict's requested addition, plus
    # d4 (its plan changed to the cached groupBy join-back this round)
    "pl13_corpus_report", "pl14_decontaminate", "pl15_domain_mix",
    "pl16_curation_funnel", "pl17_shuffle_shards", "d4_simhash",
    # round-14 newborns
    "d12_guarded_batch_pairs", "pl18_bpe_merges", "pl19_bpe_encode",
    "d13_guarded_embedding_pairs",
    # round-16 addition: g3 composed onto the shared (now
    # pointer-doubled) CC builder in r15/r16 — the scaling claim
    # should cover the third CC surface directly
    "g3_connected_components",
    # round-17 newborns: the trained classifier (EAGER Adagrad epochs)
    # and the media phash guard
    "pl20_quality_classifier", "m3_phash_neardup", "m4_frame_sample",
    # round-18 newborns: frame-level near-dup (m4 x m3 composition) and
    # the classifier-gated composition (pl20 re-measured too — it moved
    # onto the shared cls builders this round)
    "m5_frame_neardup", "pl21_classifier_gate", "pl22_pii_scrub",
    "d14_substring_rewrite",
    # round-19 newborns: the gated funnel (two funnel stagings + one
    # training run) and the media decontamination broadcast screen
    "pl23_gated_funnel", "m6_media_decontam",
    # round-19 late newborns: frame decontam (m4 x m6), media dedup
    # groups (m3 x d6 CC), and the media funnel (m3 x m8 x m6 composed)
    "m7_frame_decontam", "m8_media_dedup_groups", "m9_media_funnel",
]

def fit(mins):
    # least-squares t = a + b*sf over the 3 (sf, min) points
    n = len(SF_VALS)
    mx = sum(SF_VALS) / n
    my = sum(mins) / n
    b = (sum((x - mx) * (y - my) for x, y in zip(SF_VALS, mins))
         / sum((x - mx) ** 2 for x in SF_VALS))
    a = my - b * mx
    return a, b


PARTIAL = "SCALING.partial.json"


def main(reps):
    out = {}
    if os.path.exists(PARTIAL):
        out = json.load(open(PARTIAL))
    for q in QUERIES:
        if q in out:
            continue
        mins = [time_one(q, d, reps) for d in SFS]
        a, b = fit(mins)
        growth = mins[2] / mins[1] if mins[1] > 0 else None
        # fixed-overhead share of the sf0.1 runtime implied by the fit
        # (clamped: a tiny negative intercept from noise reads as 0)
        ofrac = max(0.0, min(1.0, a / mins[2])) if mins[2] > 0 else None
        out[q] = {
            "min_s": dict(zip(["sf0.001", "sf0.01", "sf0.1"],
                              [round(t, 3) for t in mins])),
            "growth_0.01_to_0.1": round(growth, 2),
            "fit_overhead_s": round(a, 3),
            "fit_slope_s_per_sf": round(b, 3),
            "overhead_frac_sf01": round(ofrac, 2),
        }
        print(f"{q}: {out[q]['min_s']} growth10x={growth:.2f} "
              f"overhead={a:.3f}s slope={b:.3f}s/sf", flush=True)
        with open(PARTIAL, "w") as f:
            json.dump(out, f, indent=2)
    worst = max(out.items(), key=lambda kv: kv[1]["growth_0.01_to_0.1"])
    doc = {
        "bench": "scale_curve",
        "reps_per_point": reps,
        "isolation": "one fresh JVM + SparkSession per (query, sf)",
        "data_growth_0.01_to_0.1": 10.0,
        "worst_growth": {"query": worst[0],
                         "ratio": worst[1]["growth_0.01_to_0.1"]},
        "generated_at": datetime.now(timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%SZ"),
        "queries": out,
    }
    with open("SCALING.json", "w") as f:
        json.dump(doc, f, indent=2)
    os.remove(PARTIAL)
    print(f"wrote SCALING.json (worst 10x-data growth: "
          f"{worst[0]} at {worst[1]['growth_0.01_to_0.1']}x)")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 3)
