"""Benchmark harness: times the HEADLINE lanes and the WRITE_AUDITS lanes
at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) in one `get_spark`
session and counts the Spark jobs each lane launches.

Every lane's frame is materialized through the noop sink: full evaluation
of every output column, no driver collect, no column-pruning shortcut.

- Headline lanes: one untimed warm-up run (JIT + IO cache), then
  best-of-3.
- Write audits run real store writers (shards, versioned commits, metrics
  logs) inside the timed body: one timed run each, no warm-up, all of
  them every time.
- `jobs[lane]`: how many jobs the scheduler handed out over the lane's
  last timed run (`time_lane`). Unlike a wall time it does not depend on
  the machine, so a re-added round-trip shows up as a changed count.

Output: one JSON line, printed last (also written to BENCH_local.json
and BENCH_local_c{cores}.json, where cores is the session's
defaultParallelism).
Compare two runs with `tools/bench_compare.py`; for a speed claim, time
the lanes in question with `tools/ab_lane.py` on both trees, in both
orders.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sms_db_spark.session import get_spark  # noqa: E402
from sms_db_spark.plans import registry  # noqa: E402
from sms_db_spark.sinks.shards import write_training_shards  # noqa: E402

# representative spread: scans+filters, the flagship join, big 1:N join,
# hash dedup, grouped agg, window agg, minhash, simhash (map-side fold),
# ANN brute force + LSH, text stats, pandas-UDF plumbing, exact-substring
# dup-span signal, hashed-feature classifier inference.
HEADLINE = [
    "q01_eq_filter_sort",
    "q06_join_meta_data",
    "q07_flagship_join_like",
    "q20_dedup_exact",
    "q22_first_per_group",
    "q23_agg_rollup",
    "q26_three_way_join",
    "q30_window_agg",
    "q41_text_quality",
    "q44_minhash_signatures",
    "q45_minhash_lsh_pairs",
    "q46_simhash",
    "q48_ann_bruteforce_topk",
    "q49_ann_lsh_topk",
    "q51_ann_ivf_topk",
    "q53_clean_pipeline",
    "q55_multimodal_features",
    "q57_tfidf_topk",
    "q69_import_scale",
    "q33_asof_join",
    "q73_lsh_jaccard_verified",
    "q74_embedding_neardup_lsh",
    "q75_multimodal_real_decode",
    "q76_filtered_ann_lsh",
    "q79_sequence_packing",
    "q81_contamination",
    "q88_dup_ngram_coverage",
    "q90_hashed_classifier",
    "q83_dedup_clusters_star",
    "q92_domain_gate",
    "q94_bpe_pair_counts",
    "q97_cluster_representatives",
    "q98_semantic_dedup",
    "q99_dsir_importance",
    "q100_centroid_outliers",
    "q101_length_percentiles",
    "q102_hll_registers",
    "q104_count_min",
    "q111_reconcile_full_outer",
    "q114_heavy_hitters",
    "q123_ann_serving",
    "q124_kmeans_hashed_seed_train",
    "q125_delta_dedup",
    "q126_scd_upsert",
    "q128_sq8_ann_recall",
    "q132_dup_spans",
    "q133_hard_negatives",
    "q138_jl_projection_recall",
    "q140_snapshot_diff",
    "q141_epoch_shuffle",
    "q144_planned_join",
    "q147_salted_planned_join",
    # multimodal near-dup lanes (read-only, so headline not write
    # bucket)
    "q161_image_phash_neardup",
    "q162_audio_fingerprint_neardup",
    "q164_video_frame_neardup",
    "q165_gopher_repetition",
    "q166_pq_adc_recall",
    "q167_ivfpq_serving",
    "q168_ivfadc_residual",
    "q173_bpe_tokenize",
    "q174_ivfadc_clustered",
    "q176_tokenizer_fertility",
]

# Write-audit lanes run real store writers inside the timed body — IO-write
# cost, not query latency — so they are reported in their own bucket and
# the headline total stays comparable across runs.
WRITE_AUDITS = [
    "q134_shard_manifest_audit",
    "q135_stream_shard_manifest_audit",
    "q139_fold_audit",
    "q142_versioned_store_audit",
    "q143_metricslog_readback",
    "q145_versioned_merge_audit",
    "q146_gated_upsert_audit",
    "q148_sharded_export_audit",
    "q149_stream_gated_upsert_audit",
    "q150_cow_merge_audit",
    "q151_layout_audit",
    "q152_stream_neardup_audit",
    "q153_band_store_audit",
    "q154_bucketed_join_audit",
    "q155_partitioned_prune_audit",
    "q156_streaming_parity_audit",
    "q157_bucketed_antijoin_dedup_audit",
    "q158_stream_join_ingest_audit",
    "q159_stream_quality_monitor_audit",
    "q160_day2_chain_audit",
    "q163_sqlite_store_audit",
    "q169_streaming_events_parity_audit",
    "q170_cascade_delete_audit",
    "q175_cow_cascade_delete_audit",
    "q177_pq_index_store_audit",
    "q178_stream_ingest_audit",
    "q179_bpe_store_tokenize",
]

BEST_OF = 3


def _next_job_id(spark) -> int:
    """The id the scheduler gives the next submitted job, from any
    thread."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def time_lane(spark, fn, sf_dir, best_of: int, warm: bool) -> tuple[float, int]:
    """(best wall seconds, jobs of the last timed run) for one lane.

    The window covers building the lane's frame too, so jobs a lane runs
    eagerly (pins, probes, counts) are timed and counted with its sink
    write."""

    def once() -> None:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    if warm:
        once()
    best, jobs = float("inf"), 0
    for _ in range(best_of):
        j0 = _next_job_id(spark)
        t0 = time.time()
        once()
        best = min(best, time.time() - t0)
        jobs = _next_job_id(spark) - j0
    return round(best, 3), jobs


def _warm_writers(spark) -> None:
    """Pay the session's one-time write costs before the first timed
    audit, so they do not land in whichever audit runs first.

    The headline loop writes only to the noop sink. Without this, the
    first audit absorbed ~20 s of committer/codec init and the headline
    loop's cleanup backlog (measured on q134). No audit runs as its own
    warm-up: that would deflate its number against its cold bucket-mates.
    """
    # dead checkpoint RDDs, shuffle files and broadcasts from the headline
    # loop are cleaned by the async ContextCleaner: surface the dead
    # references, trigger the JVM's reference queue, let the deletes run
    gc.collect()
    jvm = getattr(spark.sparkContext, "_jvm", None)  # None under Connect
    if jvm is not None:
        jvm.System.gc()
    time.sleep(2.0)
    warm_dir = tempfile.mkdtemp(prefix="bench_write_warm_")
    try:
        # both write shapes the audits use: plain and partitionBy parquet
        spark.range(1).write.mode("overwrite").parquet(os.path.join(warm_dir, "w"))
        (
            spark.range(1)
            .selectExpr("id", "id % 1 AS p")
            .write.mode("overwrite")
            .partitionBy("p")
            .parquet(os.path.join(warm_dir, "wp"))
        )
        # the shards writer path (multi-directory commit, manifest write,
        # checksum codegen) on a toy schema: the first pass compiles, the
        # second leaves it resident for the first timed audit
        for i in range(2):
            write_training_shards(
                spark.range(100).selectExpr(
                    "id AS doc_id", "CAST(id AS STRING) AS text"
                ),
                os.path.join(warm_dir, f"mini{i}"),
                2,
                key="doc_id",
            )
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("sms-db-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism
    specs = registry()

    jobs: dict[str, int] = {}

    def run(names: list[str], best_of: int, warm: bool) -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in names:
            timings[name], jobs[name] = time_lane(
                spark, specs[name].fn, sf_dir, best_of, warm
            )
        return timings

    headline = run(HEADLINE, BEST_OF, True)
    _warm_writers(spark)
    write_audits = run(WRITE_AUDITS, 1, False)

    doc = {
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "methodology": f"headline: best-of-{BEST_OF} after one untimed "
        "warm-up run; write audits: one timed run, no warm-up; jobs: "
        "scheduler job-id delta over each lane's last timed run",
        "queries": headline,
        "write_audits": write_audits,
        "jobs": jobs,
        "value": round(sum(headline.values()), 3),
        "write_audits_total": round(sum(write_audits.values()), 3),
    }
    line = json.dumps(doc)
    here = os.path.dirname(os.path.abspath(__file__))
    # the core-stamped copy survives a later run at another core count
    for fname in ("BENCH_local.json", f"BENCH_local_c{cpus}.json"):
        with open(os.path.join(here, fname), "w") as fh:
            fh.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
