#!/usr/bin/env python3
"""Isolated per-query timing sweep -> BENCH_ISOLATED.json.

Each query runs in its OWN fresh JVM (a graft.Bench run with
SPARK_GRAFT_ONLY=<query>: one untimed warm run, then the min of reps
under Bench's checksum action), so the numbers carry no cross-query
cache/GC pollution — the adjudication-grade measurement for a suite
number that looks like a regression (see PLANS.md "isolated
timings"). Run after `sbt compile`:

    python3 scripts/bench_isolated.py [sfDir] [reps]

Queries: the top-15 most expensive from the latest driver bench, plus
per-round pinned additions (movers needing adjudication, newly-born
queries), deduplicated — the final QUERIES list diffs cleanly round
over round.
"""
import json
import os
import re
import subprocess
import sys
import tempfile
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TOP15 = [
    "v3_knn_ivf", "t8_charlm_outliers", "v4_pq_knn", "pl7_contamination",
    "d6_dedup_groups", "d4_simhash", "f3_trust_rerank", "st1_hourly_counts",
    "x8_plan_match", "d3_minhash_lsh", "pl6_repetition_stats",
    "r6_hybrid_rrf", "a3_resolve_conflicts", "a1_pricing_summary",
    "pl1_quality_gate",
]

# round 9: every query whose suite min moved >30% vs the r7/r8
# artifacts (the isolated numbers adjudicate suite noise vs real
# change — the artifact's whole purpose), pinned so rounds diff cleanly
MOVERS_R9 = [
    "a5_cluster_maturity", "g2_causality_trace", "g3_connected_components",
    "j9_asof_event", "l6_sessionization", "m2_media_features",
    "p5_current_fact", "p7_orientation_cache", "pl2_stratified_sample",
    "s22_workingset_diff",
]
# queries born in round 9 get their isolated baseline at birth, so the
# first round-over-round diff has a reference
NEW_R9 = ["w9_chain_digest"]
# j5_anti_join hit 2.38s min-of-5 in one full-suite run on the
# regenerated testdata (r7: 0.20s) yet times 0.28-0.35s in ANY smaller
# context — including a rerun of its exact suite neighborhood — and
# 0.52s isolated-warm: cumulative-session GC/cleaner pressure, not the
# query (its plan is a pruned scan + broadcast anti join). Pinned here
# so the artifact adjudicates it round-over-round.
MOVERS_R9.append("j5_anti_join")
# round 10: t4 moved 0.14->0.80s in r9's suite (explained as the
# checksum-action fix finally timing its projection — this pins the
# true warm number); w8/c3 were born in rounds 8-9 with no isolated
# baseline yet (w9 already pinned in NEW_R9)
MOVERS_R10 = ["t4_winnow_fingerprint", "w8_payload_forge",
              "c3_retention_floor"]
# round 10 late additions: operators born this round get their
# isolated baselines at birth (same convention as NEW_R9)
NEW_R10 = ["pl10_dsir_importance", "d7_semdedup", "d8_bloom_incremental",
           "d9_substring_dedup", "d10_incremental_lsh"]
MOVERS_R10 += NEW_R10
# round 11: the dedup enrichment unification re-expressed d1/d2/d3/d6
# through the shared DedupEnrich builder (same expressions by design —
# these rows verify the refactor is performance-neutral; d8/d10 are
# already pinned in NEW_R10)
MOVERS_R11 = ["d1_exact_dedup", "d2_ngram_jaccard", "d3_minhash_lsh",
              "d6_dedup_groups"]
# round-11 newborn: isolated baseline at birth (the NEW_R9/R10 convention)
MOVERS_R11 += ["pl11_gopher_rules"]
# round-12 newborns: isolated baseline at birth (the NEW_R9/R10 convention)
NEW_R12 = ["pl12_ccnet_buckets", "d11_guarded_lsh", "pl13_corpus_report"]
# round 13: newborn baseline (pl14) plus the two r11->r12 movers the
# r12 verdict adjudicated ambient on committed-run evidence but could
# not close in-round (the artifacts post-dated the regen) — pinned so
# the r13 artifact settles them mechanically; d1/d4/pl12/pl13 changed
# plan shape this round (window->groupBy join-back, ntile->broadcast
# cutoffs), so their isolated numbers re-baseline here too (d1/d4/pl12
# already appear in earlier groups; pl13 is in NEW_R12)
NEW_R13 = ["pl14_decontaminate", "pl15_domain_mix", "pl16_curation_funnel",
           "pl17_shuffle_shards", "x16_deal_reputation",
           "r10_recall_explain", "d4_simhash"]
# round 14: newborn baselines (d12, d13, pl18, pl19) plus the r13 driver-run
# ambient suspects the verdict flagged for an explicit pin — the
# auto-mover diff CANNOT catch them this round because the committed
# BENCH_HEAD was replaced by the driver's own r13 run (the artifact
# pair it would diff is the same run twice); v6's 5.7x needs a number,
# not an inference
NEW_R14 = ["d12_guarded_batch_pairs", "pl18_bpe_merges", "pl19_bpe_encode",
           "d13_guarded_embedding_pairs",
           "v6_random_projection", "w4_hash_chain", "w8_payload_forge",
           "f1_filter_matrix", "w1_topk_per_group"]
# round 15: no newborn queries — pl16/pl18/pl19 changed plan shape
# (the funnel gained the guarded fuzzy-dedup stage + its CC loop) and
# d6 re-composed onto the shared DedupEnrich.minLabelComponents (same
# loop by construction — its row verifies performance-neutrality);
# d12/d13 gained the conf-gated threshold resolution wrapper (fixture
# path unchanged — rows verify that too)
NEW_R15 = ["pl16_curation_funnel", "pl18_bpe_merges", "pl19_bpe_encode",
           "d6_dedup_groups", "d12_guarded_batch_pairs",
           "d13_guarded_embedding_pairs"]

# round 12+: movers are detected AUTOMATICALLY — any query whose
# time moved >1.5x in either direction between the two most recent
# bench artifacts (BENCH_r*.json by round number, plus BENCH_HEAD.json
# if present as the current-HEAD run) is auto-included. Round 11's
# verdict had to hand-measure two 3x movers (r7_rrf_fusion,
# l7_sync_conflict) because the hand-curated lists silently missed
# them; detection closes that class.
MOVER_RATIO = 1.5


def auto_movers():
    import glob
    import os
    arts = []
    for p in sorted(glob.glob("BENCH_r*.json")):
        m = re.match(r"BENCH_r(\d+)\.json", os.path.basename(p))
        if m:
            arts.append((int(m.group(1)), p))
    arts.sort()
    paths = [p for _, p in arts]
    if os.path.exists("BENCH_HEAD.json"):
        paths.append("BENCH_HEAD.json")
    if len(paths) < 2:
        return []
    def load(p):
        # two artifact shapes: the bench line itself ({"queries": {...}},
        # BENCH_HEAD.json) and the driver's wrapper, whose "tail" holds a
        # TRUNCATED suffix of that line — recover what query entries
        # survived the truncation by regex (the verdicts diff the same way).
        # Query names all contain "_"; requiring it keeps scalar fields
        # that also survive the tail ("reps":5, "sf":0.1) from being
        # mistaken for movers and sent to Bench as bogus query names.
        with open(p) as f:
            d = json.load(f)
        m = re.search(r"sf([0-9.]+)", str(d.get("sf", "")))
        sf = m.group(1).rstrip(".") if m else str(d.get("sf", ""))
        if isinstance(d.get("queries"), dict):
            qs = d["queries"]
        else:
            tail = d.get("tail", "") or ""
            qs = {k: float(v)
                  for k, v in re.findall(r'"([a-z0-9_]+)":([0-9.]+)', tail)}
        return sf, {k: v for k, v in qs.items()
                    if "_" in k and isinstance(v, (int, float))}
    prev_sf, prev = load(paths[-2])
    cur_sf, cur = load(paths[-1])
    # provenance gates: a BENCH_HEAD written by a dev subset run
    # (SPARK_GRAFT_ONLY) or at a different sf is NOT comparable — a
    # blind diff would either flood the sweep with fake movers or
    # collapse the intersection and silently miss real ones
    if prev_sf and cur_sf and prev_sf != cur_sf:
        print(f"auto-mover: skipping {paths[-2]} (sf{prev_sf}) vs "
              f"{paths[-1]} (sf{cur_sf}) — different scale factors",
              file=sys.stderr)
        return []
    # subset gate on the INTERSECTION, not relative sizes: wrapper
    # tails are truncated to ~60 entries BY DESIGN while BENCH_HEAD
    # holds the full (growing) registry — a size-ratio gate would
    # silently disable detection once the registry passes ~2x the tail
    # cap. A dev SPARK_GRAFT_ONLY smoke run shares only a handful of
    # queries; a real artifact pair shares dozens.
    common = set(prev) & set(cur)
    if len(common) < 20:
        print(f"auto-mover: skipping — only {len(common)} common queries "
              f"between {paths[-2]} and {paths[-1]} (subset run?)",
              file=sys.stderr)
        return []
    movers = []
    for q in sorted(set(prev) & set(cur)):
        a, b = prev[q], cur[q]
        if not (isinstance(a, (int, float)) and isinstance(b, (int, float))):
            continue  # "err" markers adjudicate through CORRECTNESS, not here
        if a > 0 and (b / a > MOVER_RATIO or a / b > MOVER_RATIO):
            movers.append(q)
            print(f"auto-mover: {q} {a:.3f}s -> {b:.3f}s "
                  f"({paths[-2]} -> {paths[-1]})", file=sys.stderr)
    return movers


# dedup while preserving order: a query listed in two groups (e.g. a
# NEW_R9 query that becomes a mover next round) must run once, not
# silently twice with the second run overwriting the first
# round-17 newborns get their isolated baseline at birth
NEW_R17 = ["pl20_quality_classifier", "m3_phash_neardup", "m4_frame_sample"]
# round-18 newborns (m5, pl21) at birth; pl20 is in NEW_R17 already and
# re-baselines there (it moved onto the shared cls builders this round)
NEW_R18 = ["m5_frame_neardup", "pl21_classifier_gate",
           "pl22_pii_scrub", "d14_substring_rewrite"]
# round-19 newborns at birth (pl23, m6); d14 is in NEW_R18 — the r18
# sweep predated it by one commit (the disclosed one-row hole), so a
# r19 refresh closes it mechanically
NEW_R19 = ["pl23_gated_funnel", "m6_media_decontam",
           "m7_frame_decontam", "m8_media_dedup_groups",
           "m9_media_funnel"]



def queries(sweep_all):
    # --all (round 19): sweep the ENTIRE registered-query set instead of
    # the curated top-15+movers list, enumerated from the committed
    # BENCH_HEAD's query map — the r18 verdict's "isolated baseline for
    # every query" contract, closed mechanically so future rounds diff
    # any row without a hand-measured reproduction.
    if sweep_all:
        with open("BENCH_HEAD.json") as f:
            return sorted(json.load(f)["queries"])
    return list(dict.fromkeys(TOP15 + MOVERS_R9 + NEW_R9 + MOVERS_R10 +
                              MOVERS_R11 + NEW_R12 + NEW_R13 + NEW_R14 +
                              NEW_R15 + NEW_R17 + NEW_R18 + NEW_R19 +
                              auto_movers()))

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def time_one(q, sf_dir, reps):
    """Min-of-`reps` seconds of query `q` at `sf_dir` in a fresh JVM:
    graft.Bench restricted to `q`, read from the `queries` map of its
    one JSON line. Runs in a temporary directory, so the scratch
    bench_out.json (and any spark-warehouse) stays out of the checkout;
    a subset run never writes the tracked BENCH_HEAD.json."""
    cp = f"{ROOT}/target/scala-2.13/classes:/opt/spark/jars/*"
    flags = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-cp", cp, "-Xmx8g",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + flags + ["graft.Bench"])
    env = dict(os.environ, SPARK_GRAFT_ONLY=q, SPARK_GRAFT_SF_DIR=sf_dir,
               SPARK_GRAFT_REPS=str(reps))
    with tempfile.TemporaryDirectory() as cwd:
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=600,
                           env=env, cwd=cwd)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith('{"metric"')]
    t = json.loads(lines[-1])["queries"].get(q) if lines else None
    if not isinstance(t, (int, float)):
        print(f"!! {q} @ {sf_dir}: no time from graft.Bench (got {t!r})",
              file=sys.stderr)
        print(r.stdout[-2000:], r.stderr[-2000:], file=sys.stderr)
        sys.exit(1)
    return t


def main(sf_dir, reps, qs):
    out = {}
    for q in qs:
        t = time_one(q, sf_dir, reps)
        out[q] = {"min": t}
        print(f"{q}: min={t:.3f}s")
    doc = {"bench": "isolated", "sf_dir": sf_dir, "reps_per_query": reps,
           "isolation": "one fresh JVM + SparkSession per query",
           "protocol": "graft.Bench subset: one untimed warm run, min of reps",
           "generated_at": datetime.now(timezone.utc)
               .strftime("%Y-%m-%dT%H:%M:%SZ"),
           "queries": out}
    with open("BENCH_ISOLATED.json", "w") as f:
        json.dump(doc, f, indent=2)
    print("wrote BENCH_ISOLATED.json")


if __name__ == "__main__":
    sweep_all = "--all" in sys.argv
    if sweep_all:
        sys.argv.remove("--all")
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    main(sf, int(sys.argv[2]) if len(sys.argv) > 2 else 3, queries(sweep_all))
