"""Scaling study: how does each operator family's wall-clock grow with
data size? Times a representative registry subset at every available
testdata scale factor (sf0.001 / sf0.01 / sf0.1 — a 100× range) in one
session, min-of-N per (entry, sf), and reports the per-decade scaling
exponent e = log10(t_hi / t_lo) per 10× data step: e ≈ 0 means the
entry is fixed-cost dominated at these sizes (planning/codegen/job
scheduling), e ≈ 1 means linear data work, e > 1 superlinear (a red
flag unless the operator is a labeled quadratic truth baseline).

Timing uses bench.py's harness (shared staging, per-pass reset, noop
timer with the artifact store off, min-of-N pass loop); its warm-up is
every studied entry at the smallest sf, and each sf starts from reset
caches like every pass.

Usage: python tools/scale_study.py [--runs 2] [--out SCALE_STUDY.json]
"""

from __future__ import annotations

import argparse
import functools
import json
import math
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# importing bench also registers every registry entry
from bench import fastest, reset_and_stage, run_query, timed_passes  # noqa: E402
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.plans import (  # noqa: E402
    registry,
)
from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.session import (  # noqa: E402
    get_spark,
)

# One or two representatives per family — chosen for distinct scaling
# shapes (scan+agg, self-join, window, LSH, iterative closure,
# incremental, sketch, Arrow kernel, streaming batch twin).
ENTRIES = [
    "q01_top_brands_month_weekend",
    "q16_affinity_pairs",
    "q19_daily_spikes",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_components",
    "dedup_incremental",
    "ann_topk_lsh",
    "ann_topk_ivfpq",
    "sketch_distinct_tokens",
    "text_langid",
    "text_duplicate_spans",
    "curation_pack_sequences",
    "events_funnel",
    "etl_events_hourly",
    "multimodal_decode_stats_formats",
    # round-10 additions / reworks: the single-shuffle overlap plan,
    # the predicted-video Arrow kernel, and BPE training (word-count
    # shuffle + vocab-sized rounds — expect e ≈ 0 until the vocabulary
    # itself grows with sf).
    "sketch_source_overlap",
    "multimodal_video_delta",
    "text_bpe_train",
    # round-10 third wave: the 4-round integer power iteration (edge
    # mining dominates until the graph grows), the broadcast-scored
    # DSIR weights (expect e ≈ 1: one token-stream pass), and the two
    # single-exchange bounded-state aggregates (expect e ≈ 1 scan-bound).
    "dedup_pagerank",
    "curation_dsir_weights",
    "sketch_hll_registers",
    "layout_zorder_events",
    # round-11 additions: the identity-collapsed banded image near-dup
    # (expect e ≈ 1: one decode kernel pass + bounded band shuffle),
    # the frozen-centroid index maintenance pair (training dominates at
    # these sizes → e between 0 and 1; the probe itself is linear),
    # and the two-level-rank shard planner (scan-bound, e ≈ 1).
    "dedup_phash",
    "ann_index_append",
    "curation_shard_plan",
    # round-12 additions: compaction EXECUTION (one clustering shuffle
    # + rewrite → expect e ≈ 1 data-bound with a job-overhead floor),
    # the metadata-only tombstone view (probe linear in the death
    # rate), the compressed-path image hash (inflate+defilter per row,
    # e ≈ 1 kernel-bound), and the one-entry data card (the harness
    # keeps the artifact store off, so it builds the summaries it
    # reads).
    "layout_compaction_apply",
    "ann_delete_assignments",
    "dedup_phash_png",
    "curation_dedup_report",
    # selective rewrite: only the flagged (variance-tail) lists move,
    # so expect sub-linear data growth on top of the probe's cost.
    "ann_index_compact",
    # round-13: complete the top-10-most-expensive beyond-reference set
    # (BENCH_FULL_r12 stats) — both watermark-split incrementals are
    # linear-in-the-increment by construction; measure it.
    "dedup_embedding_incremental",
    "dedup_phash_incremental",
    # round-15 additions: the z-order EXECUTOR (one clustering shuffle
    # + rewrite + bounded inventory → expect e ≈ 1 data-bound with a
    # job-overhead floor, like layout_compaction_apply) and the
    # JPEG-path banded image near-dup registered r14 (decode-kernel
    # bound, e ≈ 1).
    "layout_zorder_apply",
    "dedup_phash_jpeg",
    # round-16 additions: the Hilbert executor (16 chained integer
    # stages, still map-side → expect the zorder_apply shape: rewrite-
    # bound with a stage-setup floor) and the 3-key executor (same
    # shape, one more dimension in the inventory).
    "layout_hilbert_apply",
    "layout_zorder3_apply",
    # round-17 registrations: the scaled pair (apply = the established
    # rewrite-bound executor shape; the planner an envelope aggregate
    # with one broadcast scalar domain), the four-leg quality report
    # (expect ~4 linear key passes), the soft-dedup weights (the
    # components closure + ONE window shuffle), and the recall report
    # (fixed-count query set → the truth leg is K×corpus, LINEAR in
    # the corpus by design — the de-quadraticized form).
    "layout_zorder_scaled_events",
    "layout_zorder_scaled_apply",
    "layout_cluster_quality",
    "curation_soft_dedup_weights",
    "ann_recall_report",
]

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
# Derived 10× scale-up (tools/make_sf1.py) — included when present so
# the study gets an sf0.1→sf1 column (round-13 verdict task 3).
SF1_DIR = "/tmp/sparkgraft_scale/sf1"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "SCALE_STUDY.json"))
    ap.add_argument(
        "--full-q-surface",
        action="store_true",
        help="measure all q01..q20 (default: the three representatives)",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated entry names: measure just these and MERGE "
        "the rows into the existing --out artifact (for in-round "
        "additions without re-running the whole study)",
    )
    args = ap.parse_args()

    entries = list(ENTRIES)
    if args.full_q_surface:
        qs = [n for n in registry.QUERIES if re.match(r"^q\d\d_", n)]
        entries = qs + [n for n in entries if not re.match(r"^q\d\d_", n)]
    if args.only:
        wanted = [n.strip() for n in args.only.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in registry.QUERIES]
        if unknown:
            raise SystemExit(f"--only: unknown entries {unknown}")
        entries = wanted

    spark = get_spark("scale-study")
    spark.sparkContext.setLogLevel("ERROR")
    sfs = [d for d in SF_DIRS if os.path.isdir(d)]
    if os.path.isfile(os.path.join(SF1_DIR, "_SF1_OK")):
        sfs.append(SF1_DIR)

    # Warm-up: codegen + Arrow workers at the smallest scale.
    for name in entries:
        run_query(registry.QUERIES[name], spark, sfs[0])

    results: dict[str, dict[str, float]] = {n: {} for n in entries}
    for d in sfs:
        tag = os.path.basename(d.rstrip("/"))
        reset_and_stage(spark, d)
        builds = {n: functools.partial(registry.QUERIES[n], spark, d) for n in entries}
        best = fastest(timed_passes(spark, d, builds, max(1, args.runs)))
        for name in entries:
            results[name][tag] = best[name]["sec"]

    # per-decade exponents between consecutive sfs (each step is 10×)
    tags = [os.path.basename(d.rstrip("/")) for d in sfs]
    report = {}
    for name in entries:
        r = results[name]
        exps = []
        for lo, hi in zip(tags, tags[1:]):
            if r.get(lo) and r.get(hi):
                exps.append(round(math.log10(r[hi] / r[lo]), 2))
        # runs recorded PER ENTRY (round-17 advice): a merge run with a
        # different --runs used to silently label freshly merged rows
        # with the prior artifact's top-level count
        report[name] = {"sec": r, "decade_exponents": exps, "runs": args.runs}

    if args.only and os.path.isfile(args.out):
        # merge mode: refresh only the measured rows, keep the rest.
        # The top-level "runs" keeps describing the PRIOR full-study
        # rows (legacy rows without a per-entry count); merged rows
        # carry their own.
        with open(args.out) as fh:
            prior = json.load(fh)
        merged = dict(prior.get("entries", {}))
        merged.update(report)
        payload = {"runs": prior.get("runs", args.runs), "entries": merged}
    else:
        payload = {"runs": args.runs, "entries": report}
    with open(args.out, "w") as fh:
        json.dump(payload, fh, indent=1)

    n_steps = len(tags) - 1
    hdr = ("| entry | " + " | ".join(tags) + " | "
           + " | ".join(f"exp {lo}→{hi}" for lo, hi in zip(tags, tags[1:]))
           + " |")
    print(hdr)
    print("|" + "---|" * (len(tags) + n_steps))
    for name in entries:
        r = report[name]
        secs = " | ".join(str(r["sec"].get(t, "—")) for t in tags)
        exps = r["decade_exponents"] + ["—"] * (n_steps - len(r["decade_exponents"]))
        print(f"| {name} | {secs} | " + " | ".join(str(e) for e in exps) + " |")
    print(json.dumps({"out": args.out}))


if __name__ == "__main__":
    main()
