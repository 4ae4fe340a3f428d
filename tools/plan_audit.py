"""Plan audit: dump the physical-plan evidence (pushed filters, pruned
schemas, join strategies, exchange count) for the driver's full
attestation window into PLANS.md — the artifact backing SCALE.md's
claims — and FAIL (exit 1) on scale-killers:

- ``CartesianProduct`` anywhere;
- ``BroadcastNestedLoopJoin`` outside the whitelisted exact twins
  (brute-force verification baselines and 1-row broadcast totals,
  where a nested loop is the point or is O(n)·1);
- an UNPARTITIONED ``Window`` (every row through one task) outside the
  whitelisted driver-sized tails;
- a whitelisted query that no longer plans its sanctioned operator (a
  stale entry would silently sanction a regression later).

Every whitelisted query is audited, in or out of the window.

Usage: python tools/plan_audit.py [sf_dir] [out_md] [--window N]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEEP = ("PushedFilters", "PartitionFilters", "ReadSchema")

# How many leading registry entries the driver attests (its t2 gate).
DRIVER_WINDOW = 50

# Queries where BroadcastNestedLoopJoin is sanctioned. Each is either an
# EXACT baseline whose all-pairs semantics require it (the approximate
# scale path is a separate query), or joins a broadcast 1-ROW aggregate
# (O(n·1), not O(n²)).
BNLJ_WHITELIST = {
    "training_data_pipeline", # 1-row corpus token total broadcast to the split
    "doc_perplexity_filter",  # 1-row corpus log-prob total broadcast
    "histogram_order_values", # 1-row min/max bounds broadcast (O(n·1))
    "q11_important_parts",    # 1-row grand-total scalar broadcast (the
                              #   TPC-H Q11 HAVING threshold; group
                              #   totals vs total·1/1200 — O(groups·1));
                              #   first audited when the r13 rotation
                              #   refresh brought it into the window
    "bigram_lm_scores",       # 1-row vocabulary-size scalar cross join
                              #   (the COUNT tables join equi/AQE — r5
                              #   de-broadcast; only the scalar is BNLJ)
    "gapfill_daily_event_counts",  # 1-row min/max date bounds broadcast
                              #   feeding the sequence grid (O(n·1))
    "zorder_locality_manifest",    # 1-row min/max quantization stats
                              #   broadcast (O(n·1), layout optimizer
                              #   range-stats pattern)
    "corpus_drift_kl",        # 1-row token-totals broadcast over the
                              #   vocabulary-sized merged count table
    "temperature_mix_weights",  # 1-row weight/size totals broadcast to
                              #   the per-stratum table (O(strata·1))
    "key_skew_profile",       # 1-row totals broadcast to the
                              #   aggregated per-key count table
    "curation_pipeline_v4",   # 1-row mix totals broadcast (the
                              #   temperature_weights tail stage)
    "curation_pipeline_v5",   # same 1-row mix-totals broadcast tail;
                              #   the added classifier stage is a
                              #   zero-shuffle row-local filter
    "equidepth_bucketizer",   # 1-row trained-edges broadcast applied
                              #   as a Column CASE (O(n·1))
    "benford_first_digit_audit",  # 1-row digit-total broadcast (O(9·1))
    "quantile_normalize_lengths",  # broadcast domain-bounded pooled-CDF
                              #   table into the ceiling-lookup join
                              #   (O(n·|distinct lengths|))
    "semdedup_tau_calibration",  # 7-row broadcast tau grid joined to the
                              #   pair table on a >= residual — constant
                              #   fan-out O(pairs·|grid|), never corpus²
    "decontaminate_exact_substring",  # broadcast eval prompt-prefix probes
                              #   scanned against the streamed train
                              #   corpus — the substring predicate is
                              #   non-equi by nature (O(n·|eval|), the
                              #   decontamination-family justification)
    "q22_dormant_high_balance",  # 1-row (total, count) scalar broadcast
                              #   cross-multiplied into the balance
                              #   filter (exact-integer form of the
                              #   TPC-H Q22 global average; O(n·1));
                              #   first audited when the r14 rotation
                              #   refresh brought it into the window
}

# Batch queries registered OUTSIDE the driver window this round whose
# plans are nonetheless audited every run (r7 rotation head-of-line —
# their scale claims shouldn't wait a round for plan evidence).
# Streaming gates are excluded: their spark_fn RUNS the bounded stream
# and returns a collected result whose plan is trivially local.
EXTRA_AUDIT = (
    "curation_pipeline_v6",
    "asof_merge_scan_attribution",
    "range_join_bucketed_activity",
    "similarity_sq8_topk",
    "doc_token_entropy",
    "dataset_card_summary",
    "simhash_near_pairs",
    "bloom_prefilter_dedup",
    "heavy_hitters_cms",
    "semdedup_embeddings",
    "contamination_overlap_scores",
    "temperature_mix_weights",
    "key_skew_profile",
    "hdr_quantile_sketch",
    "containment_quote_pairs",
    "ohlc_hourly_candlesticks",
    "rag_retrieval_pipeline",
    "curation_pipeline_v4",
    "cohort_weekly_retention",
    "hourly_anomaly_zscores",
    "feature_hash_vectors",
    "equidepth_bucketizer",
    "welch_t_event_values",
    "bitmap_distinct_rollup",
    "mann_kendall_trend",
    "dedup_exact_best_copy",
    "doc_novelty_scores",
    "spearman_length_vs_novelty",
    "quantile_normalize_lengths",
    "benford_first_digit_audit",
    "gini_revenue_concentration",
    "rolling_weekly_active_users",
    "bitmap_distinct_roaring",
    "source_mix_census",
    "source_cap_sample",
    "cross_source_span_overlap",
    "gopher_quality_rules",
    "decontaminate_exact_substring",
    "semdedup_tau_calibration",
    "embedding_drift_labels",
    "hard_negative_mining",
    "dedup_clusters_star",
    "quality_classifier_scores",
    "curation_pipeline_v5",
    "streaming_embedding_drift",
    "corpus_diversity_profile",
    "duplicate_span_islands_exact",
    "quality_classifier_trained",
    "streaming_span_islands",
    "media_jpeg_decode",
    "media_jpeg_color_decode",
    "media_jpeg_420_decode",
    "decontaminate_substring_indexed",
    "span_islands_scrub",
    "media_png_decode",
    "quality_classifier_training",
    "unicode_tokenization_parity",
    "dataset_release_chain",
    "media_gif_decode",
    "bpe_merge_training",
    "bpe_apply_token_counts",
    "quality_classifier_sgd_training",
    "media_jpeg_progressive_decode",
    "media_flac_decode",
    "media_video_frame_sample",
    "media_audio_containers",
    "media_feature_extract_containers",
    "html_text_extract",
    "curation_pipeline_v7",
    "url_canonicalize",
    "media_jpeg_exif_orientation",
    "warc_ingest_extract",
    "robots_policy_check",
    "webdataset_shard_roundtrip",
    "curation_pipeline_v8",
    "zip_bundle_roundtrip",
    "pdf_text_extract",
    "mime_message_extract",
    "mbox_thread_extract",
    "bz2_text_archive",
    "media_tiff_decode",
    "wikidump_extract",
    "tfrecord_shard_roundtrip",
    "xz_text_archive",
    "similarity_pq_topk",
    "similarity_ivf_pq_topk",
    "embedding_kmeans",
)

# Queries allowed an unpartitioned Window: driver-sized inputs by
# construction (≤ thousands of rows after aggregation) where a global
# ordering is the semantics being computed.
GLOBAL_WINDOW_WHITELIST = {
    "weighted_doc_sample",    # rank over the k rows REMAINING after
                              #   the TakeOrderedAndProject limit
    "heavy_hitters_cms",      # top-k over the aggregated vocabulary
                              #   (the exact side exists to attest the
                              #   sketch estimates at test SF)
    "key_skew_profile",       # rank over the aggregated per-key count
                              #   table (|keys| rows, not |events|)
    "equidepth_bucketizer",   # cumulative count over the aggregated
                              #   DISTINCT-value table (domain-bounded,
                              #   not row-bounded)
    "quantile_normalize_lengths",  # same domain-bounded CDF cumulative
}


def _count_global_windowspecs(plan: str) -> int:
    """Count window functions evaluated WITHOUT a partition spec.

    ``windowspecdefinition(args...)`` lists partition columns first,
    then order expressions (tagged ``ASC``/``DESC``), then the frame.
    So the FIRST argument tells the story: a bare column → partitioned;
    an ordering expression or the frame spec itself → every row flows
    through one task. (Bracket-group counting on the Arguments line is
    unreliable: partitionBy-without-orderBy also prints two groups.)
    """
    n_global = 0
    for m in re.finditer(r"windowspecdefinition\(", plan):
        start = m.end()
        depth = 1
        i = start
        while i < len(plan) and depth:
            if plan[i] == "(":
                depth += 1
            elif plan[i] == ")":
                depth -= 1
            elif plan[i] == "," and depth == 1:
                break
            i += 1
        first_arg = plan[start:i].strip()
        if first_arg.startswith("specifiedwindowframe") or re.search(
            r"\b(ASC|DESC)\b", first_arg
        ):
            n_global += 1
    return n_global


def audit_plan(plan: str) -> dict:
    """Extract the audit facts from one formatted physical plan."""
    joins = sorted(
        {m for m in re.findall(r"\b(\w*HashJoin|\w*MergeJoin|\w*NestedLoopJoin)\b", plan)}
    )
    lines = plan.splitlines()
    global_windows = _count_global_windowspecs(plan)
    return {
        "joins": joins,
        "n_exchange": len(re.findall(r"^\s*\(\d+\) Exchange\b", plan, re.M)),
        "n_bcast": len(re.findall(r"^\s*\(\d+\) BroadcastExchange\b", plan, re.M)),
        "cartesian": "CartesianProduct" in plan,
        "bnlj": "BroadcastNestedLoopJoin" in plan,
        "global_windows": global_windows,
        "scans": [
            re.sub(r"#\d+L?", "", s.strip())
            for s in lines
            if s.strip().startswith(KEEP)
        ],
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    out_md = args[1] if len(args) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    window = DRIVER_WINDOW
    for a in sys.argv[1:]:
        if a.startswith("--window"):
            window = int(a.split("=", 1)[1]) if "=" in a else int(sys.argv[sys.argv.index(a) + 1])

    from data_warehouse_migration_spark.catalog import REGISTRY
    from data_warehouse_migration_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    names = list(REGISTRY)
    audited = [
        n for i, n in enumerate(names)
        if i < window
        or REGISTRY[n].headline
        or n in EXTRA_AUDIT
        or n in BNLJ_WHITELIST
        or n in GLOBAL_WINDOW_WHITELIST
    ]

    lines = [
        "# PLANS — physical-plan audit of the driver attestation window",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}` over the first",
        f"{window} registry entries (the driver's correctness window) plus",
        "all bench headliners, the extra-audit list and every whitelisted",
        "query. Shows, per query: scan-level pushdown/pruning and the",
        "join/exchange skeleton Catalyst chose (AQE may re-plan at runtime).",
        "The audit FAILS on CartesianProduct, non-whitelisted",
        "BroadcastNestedLoopJoin, non-whitelisted unpartitioned Window, and",
        "a whitelisted query that no longer plans its whitelisted operator.",
        "",
        f"Session `defaultParallelism`: {spark.sparkContext.defaultParallelism}"
        " (exchange counts depend on it).",
        "",
    ]
    from data_warehouse_migration_spark.sources import writers

    writers.RECORD_STAGED_FRAMES = True
    violations: list[str] = []
    for name in audited:
        q = REGISTRY[name]
        # Queries that stage an intermediate to parquet (deployment
        # shape, r8) return a frame whose plan STARTS at the staged
        # scan — the expensive pre-stage subtree would escape this
        # audit. stage_to_parquet records each pre-stage frame in
        # STAGED_FRAMES; audit those plans under the same query name.
        # Eager-write contract (ADVICE r8 #3): building such a query
        # EXECUTES its stage writes — accepted here; they are the
        # same subtrees the bench times, at the same sf.
        writers.STAGED_FRAMES.clear()
        df = q.spark_fn(spark, sf_dir)
        plan_texts = []
        for frame_label, frame in [(name, df)] + [
            (f"{name}::stage:{sname}", sdf)
            for sname, sdf in writers.STAGED_FRAMES
        ]:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                frame.explain("formatted")
            plan_texts.append((frame_label, buf.getvalue()))
        writers.STAGED_FRAMES.clear()
        facts = audit_plan("\n".join(p for _, p in plan_texts))
        if len(plan_texts) > 1:
            facts["scans"].append(
                f"(+ {len(plan_texts) - 1} staged-subtree plan(s) audited: "
                + ", ".join(lbl for lbl, _ in plan_texts[1:])
                + ")"
            )

        if facts["cartesian"]:
            violations.append(f"{name}: CartesianProduct")
        if facts["bnlj"] and name not in BNLJ_WHITELIST:
            violations.append(f"{name}: BroadcastNestedLoopJoin (not whitelisted)")
        if facts["global_windows"] and name not in GLOBAL_WINDOW_WHITELIST:
            violations.append(
                f"{name}: {facts['global_windows']} unpartitioned Window(s)"
            )
        if name in BNLJ_WHITELIST and not facts["bnlj"]:
            violations.append(f"{name}: BNLJ-whitelisted but plans none (stale entry)")
        if name in GLOBAL_WINDOW_WHITELIST and not facts["global_windows"]:
            violations.append(
                f"{name}: global-window-whitelisted but plans none (stale entry)"
            )

        flags = []
        if facts["bnlj"]:
            flags.append("BNLJ(whitelisted)" if name in BNLJ_WHITELIST else "BNLJ(VIOLATION)")
        if facts["global_windows"]:
            flags.append(
                "global-window(whitelisted)"
                if name in GLOBAL_WINDOW_WHITELIST
                else "global-window(VIOLATION)"
            )
        lines += [f"## {name}", "",
                  f"- joins: {', '.join(facts['joins']) if facts['joins'] else 'none'}",
                  f"- shuffle exchanges: {facts['n_exchange']}; broadcast exchanges: {facts['n_bcast']}"
                  + (f"; flags: {', '.join(flags)}" if flags else ""),
                  "- scans:"]
        lines += [f"  - `{s[:180]}`" for s in facts["scans"]]
        lines.append("")

    if violations:
        lines += ["## VIOLATIONS", ""]
        lines += [f"- {v}" for v in violations]
        lines.append("")
    with open(out_md, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out_md} ({len(audited)} queries)")
    if violations:
        print("PLAN AUDIT FAILED:")
        for v in violations:
            print(f"  ✗ {v}")
        sys.exit(1)
    print(f"plan audit clean: 0 violations in {len(audited)} plans")


if __name__ == "__main__":
    main()
