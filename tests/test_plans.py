"""Physical-plan assertions: the scale-design claims in README.md
("Scale design rules used throughout") checked mechanically against
`.explain("formatted")` output, so a regression that silently drops a
pushdown, un-broadcasts a lookup join, or adds a shuffle fails CI.

These run at sf0.001 — plan shape is scale-independent (modulo AQE
runtime re-planning, which rewrites *downward*: it can only turn a
planned sort-merge join into a broadcast join, never the reverse).
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from sms_db_spark.plans import registry

SF_DIR = "/root/testdata/sf0.001"


def _explain_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def plan(spark, name: str, mode: str = "formatted") -> str:
    return _explain_str(registry()[name].fn(spark, SF_DIR), mode)


def n_exchanges(text: str) -> int:
    # count shuffle exchanges only (broadcast exchanges are cheap by design)
    return len(re.findall(r"\bExchange (?:hash|range|Single)partitioning", text)) + len(
        re.findall(r"\(\d+\) Exchange\b", text)
    )


def test_q01_filter_pushdown(spark):
    """Q1 equality filter reaches the parquet scan (SURVEY §4: predicate
    pushdown is automatic — verify it actually happened)."""
    p = plan(spark, "q01_eq_filter_sort")
    assert "EqualTo(event_type,click)" in p, p


def test_q23_column_pruning(spark):
    """Grouped agg over lineitem (16 columns) reads only the columns the
    query touches — a scan of all 16 for a 4-column agg is wrong."""
    p = plan(spark, "q23_agg_rollup")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert "l_comment" not in cols, cols
    assert len(cols) <= 8, cols


def test_q02_prefix_pushdown(spark):
    """LIKE 'prefix%' pushes as StringStartsWith (stays in the scan)."""
    p = plan(spark, "q02_like_prefix")
    assert "StringStartsWith" in p, p


def test_q07_flagship_broadcast_and_pushdown(spark):
    """Flagship join: lookup side broadcast, LIKE 'text%' pushed to scan."""
    p = plan(spark, "q07_flagship_join_like")
    assert "BroadcastHashJoin" in p, p
    assert "StringStartsWith" in p, p


def test_q26_three_way_join_all_broadcast(spark):
    """J1's 3-way join: both lookup sides must be broadcast — zero
    shuffle joins (SortMergeJoin/ShuffledHashJoin would shuffle the fact
    table twice at 100 TB)."""
    p = plan(spark, "q26_three_way_join")
    assert p.count("BroadcastHashJoin") >= 2, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_q20_dedup_partial_aggregate(spark):
    """Exact dedup: map-side partial aggregation before the hash shuffle
    (two HashAggregate levels around one Exchange)."""
    p = plan(spark, "q20_dedup_exact")
    assert len(re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate", p)) >= 2, p


def test_q23_rollup_single_shuffle(spark):
    """Grouped agg: exactly one hash-partition shuffle (partial agg
    upstream), nothing re-shuffled downstream."""
    p = plan(spark, "q23_agg_rollup", mode="simple")
    assert len(re.findall(r"Exchange hashpartitioning", p)) <= 1, p


def test_q44_minhash_no_explode_shuffle(spark):
    """MinHash signatures are a map-side fold: the only shuffle allowed
    is the final output; no |corpus|x16 explode+groupBy amplification."""
    p = plan(spark, "q44_minhash_signatures", mode="simple")
    assert "Generate explode" not in p or "Exchange hashpartitioning" not in p.split("Generate explode")[0], p


def test_q46_simhash_zero_shuffles(spark):
    """SimHash is per-row: the plan must contain no shuffle at all."""
    p = plan(spark, "q46_simhash", mode="simple")
    assert "Exchange hashpartitioning" not in p, p


def test_q48_broadcast_not_cartesian(spark):
    """Brute-force ANN: the small query side broadcasts (BroadcastNested
    LoopJoin), never a shuffle-based CartesianProduct."""
    p = plan(spark, "q48_ann_bruteforce_topk", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" in p, p


def _one_ranking_pass(p: str) -> None:
    """The one-pass ranking shape: the broadcast query rows meet the
    corpus in one pass and ONE row_number window ranks every key, so the
    plan holds exactly one partial WindowGroupLimit (the per-partition
    top-k below the single ranking exchange); no shuffle
    CartesianProduct and no SortMergeJoin of the corpus."""
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin" not in p, p
    partial = [ln for ln in p.splitlines() if "WindowGroupLimit" in ln and "Partial" in ln]
    assert len(partial) == 1, p


def _one_serving_pass(p: str) -> None:
    """The PQ lanes' serving shape: one ranking pass
    (_one_ranking_pass) whose trained codebook is pinned (ExistingRDD)."""
    _one_ranking_pass(p)
    assert "ExistingRDD" in p, p


@pytest.mark.parametrize(
    "name",
    [
        "q120_ann_recall",
        "q121_ivf_recall",
        "q122_multiprobe_recall",
        "q123_ann_serving",
        "q138_jl_projection_recall",
    ],
)
def test_recall_audit_ranks_in_one_pass(spark, name):
    """The recall audits score every (query, neighbor) pair once and
    rank the exact and approx keys in one window (_recall_pass): one
    partial WindowGroupLimit, and no SortMergeJoin from a semi-join or
    left join of the two answer sets."""
    _one_ranking_pass(plan(spark, name, mode="simple"))


def test_q166_pq_broadcast_codebooks_not_cartesian(spark):
    """PQ/ADC: the pinned codebook packs into one broadcast row that
    encodes the corpus and builds the query LUTs map-side, and the
    exact and ADC keys rank in one serving pass (_one_serving_pass)."""
    _one_serving_pass(plan(spark, "q166_pq_adc_recall", mode="simple"))


def test_q49_lsh_bucket_equijoin(spark):
    """LSH ANN: candidate selection is an equi-join on bucket id with the
    query side broadcast — no cross join anywhere."""
    p = plan(spark, "q49_ann_lsh_topk", mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_q51_ivf_broadcasts(spark):
    """IVF ANN: centroid assign + probe joins broadcast the small sides;
    no sort-merge join of the corpus. The probes are one map-side
    expression, so the top-k is the plan's only Window."""
    p = plan(spark, "q51_ann_ivf_topk", mode="simple")
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert len(re.findall(r"\bWindow \[", p)) == 1, p


def test_q41_text_quality_no_python_udf(spark):
    """Text quality scoring stays JVM-side: no BatchEvalPython /
    ArrowEvalPython nodes (rule 1: zero Python UDFs in the compat path)."""
    p = plan(spark, "q41_text_quality", mode="simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_q165_repetition_partial_agg_and_pruned_scan(spark):
    """Gopher repetition rules: the gram pipeline is one Generate
    explode feeding PARTIAL-aggregated counts (map-side combine at
    both the (doc,n,gram) and per-doc levels — the shape that holds
    when one hot document's grams land on a single key), the scan is
    pruned to (doc_id, text), the doc row survives via a left join,
    and nothing leaves the JVM. Shuffles: gram count + per-doc agg +
    the presentation sort = 3 (the parallelize repartitions are
    round-robin, not counted)."""
    p = plan(spark, "q165_gopher_repetition", mode="simple")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Generate explode" in p, p
    assert "partial_count" in p and "partial_max" in p, p
    assert "LeftOuter" in p, p
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in p, p
    assert n_exchanges(p) <= 3, p


def test_compat_surface_has_no_python_udfs(spark):
    """Every q01-q36 compat query plans without any Python eval node."""
    for name in sorted(registry()):
        if not re.match(r"q(0\d|1\d|2\d|3[0-6])_", name):
            continue
        p = plan(spark, name, mode="simple")
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_q53_clean_pipeline_single_shuffle_and_pruned_scan(spark):
    """Cleaning pipeline: ONE keyed shuffle (the content_fp dedup agg;
    the survivor semi-join broadcasts) — the round-robin input spread
    (load_table_parallel, a no-op on multi-split cluster scans) is not a
    keyed shuffle and is excluded by counting hash/range exchanges in
    simple mode — and the documents scan reads only the three needed
    columns (column pruning reached parquet)."""
    p = plan(spark, "q53_clean_pipeline")
    simple = plan(spark, "q53_clean_pipeline", mode="simple")
    assert len(re.findall(r"Exchange (?:hash|range)partitioning", simple)) <= 2, simple
    assert "struct<doc_id:bigint,text:string,lang:string>" in p, p


def test_q57_tfidf_df_side_broadcasts(spark):
    """TF-IDF: the vocab-sized df table broadcasts into the tf join —
    the corpus-sized tf side must NOT shuffle for the join."""
    p = plan(spark, "q57_tfidf_topk", mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_q58_filtered_ann_pruned_and_broadcast(spark):
    """Quality-gated ANN: passing-id set and query side broadcast; the
    documents scan is pruned to (doc_id, text)."""
    p = plan(spark, "q58_filtered_ann")
    assert "struct<doc_id:bigint,text:string>" in p, p
    assert "CartesianProduct" not in p, p


def test_q52_neardup_no_cartesian_no_self_join_of_bands(spark):
    """Fuzzy-dedup resolution: candidate pairs come from ONE bucket
    groupBy + map-side in-bucket expansion (hot-bucket capped) — no band
    self-join at all, so the signature fold is evaluated once and no plan
    node can fan out quadratically; survivors via anti-join."""
    p = plan(spark, "q52_neardup_resolve", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "ShuffledHashJoin" not in p and "SortMergeJoin" not in p, p
    assert "Generate explode" in p, p  # the bounded in-bucket pair expansion


def test_q45_lsh_precapped_map_side(spark):
    """LSH candidate pairs (r14 pre-cap shape, the q161/q162 template):
    bucket membership is counted FIRST and joined back as an equi-join
    (broadcast locally; AQE picks the shuffled form at scale), so
    collect_set never materializes an over-cap bucket — no over-cap
    bucket reaches the reducer that builds the docs array. Pair
    expansion stays map-side (Generate explode over the transform/
    slice expansion — never a pair self-join, never a theta-join).
    The bands frame is pinned before its two consumers, so the
    executed plan reads the checkpointed RDD: the MinHash signature
    expression appears in NO branch (the scan itself is the pin).
    Shuffles: counts agg + bucket agg + distinct + presentation sort
    (plus at most one for a non-broadcast membership join): <= 5."""
    p = plan(spark, "q45_minhash_lsh_pairs", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "SortMergeJoin" not in p, p  # membership join is hash-based
    assert "Generate explode" in p, p  # map-side pair expansion
    # the pinned bands frame: the plan scans the checkpoint, not the
    # banding lineage — the md5 signature expression is not re-planned
    assert "ExistingRDD" in p, p
    assert p.count("md5") == 0, p
    assert n_exchanges(p) <= 5, p


def test_q67_exists_decorrelates_to_semi_join(spark):
    """Correlated EXISTS must decorrelate into a semi-join, not a
    per-row subquery plan."""
    p = plan(spark, "q67_exists_subquery", mode="simple")
    assert "LeftSemi" in p, p


def test_q68_pivot_bounded_shuffles_no_extra_job(spark):
    """Explicit pivot values: no collect-distinct pass over the corpus.
    The plan is the two-phase pivot aggregate ((hour,type) pre-agg, then
    pivot per hour) + the orderBy range exchange — 3 shuffles, all on
    tiny keys; and the scan is pruned to the three used columns."""
    p = plan(spark, "q68_pivot")
    assert n_exchanges(p) <= 3, p
    # ts's scan type is runtime-dependent (bigint under legacy nanosAsLong,
    # timestamp_ntz on runtimes that read parquet NANOS natively) — pin the
    # pruning, not the physical type.
    assert (
        "struct<ts:bigint,event_type:string,value:double>" in p
        or "struct<ts:timestamp_ntz,event_type:string,value:double>" in p
    ), p


def test_q33_asof_union_sort_no_join(spark):
    """The as-of join must be the union-sort form: no physical join
    operator at all (the naive join-then-rank materializes
    |events_per_user| x |orders_per_user| rows before the window — the
    classic hot-key blow-up at scale). Expected shape: one hash exchange
    on the user key for the window, plus the final range exchange for
    the documented ORDER BY."""
    p = plan(spark, "q33_asof_join")
    assert "Join" not in p, p
    assert "CartesianProduct" not in p, p
    assert n_exchanges(p) <= 2, p


def test_q74_embedding_neardup_no_cartesian(spark):
    """LSH-candidate embedding near-dup: the corpus is never crossed with
    itself — no cartesian/nested-loop anywhere; the verify stage joins the
    checkpointed candidate slice (so the final plan re-scans no parquet)
    and never FORCES a broadcast of the unbounded pair list (no broadcast
    hint in the logical plan — AQE may still pick one from runtime sizes,
    which is fine)."""
    df = registry()["q74_embedding_neardup_lsh"].fn(spark, SF_DIR)
    p = _explain_str(df, "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Scan parquet" not in p, p  # checkpoint feeds both join sides
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical, logical


def test_q73_verify_stage_single_scan_no_forced_broadcast(spark):
    """q73's verify stage (the 100×-scale hazard fixed in r3): the
    candidate-shingle table is computed ONCE (localCheckpoint) and feeds
    BOTH join sides — the final plan contains no parquet scan at all; the
    pair list is never hint-broadcast; and the threshold predicate pushed
    into the join condition evaluates array_intersect exactly ONCE per
    candidate pair (the single-reference integer form — the old division
    filter inlined it twice into the condition plus once per projection,
    3 set-intersections per rejected pair). Exactly two occurrences
    plan-wide: the pushed condition + the survivors-only jaccard
    projection."""
    df = registry()["q73_lsh_jaccard_verified"].fn(spark, SF_DIR)
    p = _explain_str(df, "formatted")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Scan parquet" not in p, p  # both sides read the checkpointed slice
    assert p.count("array_intersect") == 2, p
    logical = df._jdf.queryExecution().logical().toString()
    assert "UnresolvedHint" not in logical and "ResolvedHint" not in logical, logical


def test_q76_filtered_ann_lsh_bucket_equijoin(spark):
    """Serving-path quality-gated ANN: candidate selection is an equi-join
    on the sign-LSH bucket with the tiny query side broadcast — no
    crossJoin over the corpus anywhere (the verdict's q58 scale fix)."""
    p = plan(spark, "q76_filtered_ann_lsh", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_curation_map_ops_zero_shuffle(spark):
    """q77/q78/q80/q82 are pure per-row map plans: no shuffle exchange,
    no join, no Python eval node — the shape that stays linear at 100TB."""
    for name in (
        "q77_split_assign",
        "q78_hash_sample",
        "q80_pii_redact",
        "q82_repetition_stats",
    ):
        p = plan(spark, name)
        assert n_exchanges(p) == 0, (name, p)
        assert "Join" not in p, (name, p)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, name


def test_q79_packing_single_shard_shuffle(spark):
    """Sequence packing: exactly ONE shuffle (hash on the shard key for
    the per-shard window) — no global-order range exchange, which would
    funnel the corpus through one task."""
    p = plan(spark, "q79_sequence_packing")
    assert n_exchanges(p) == 1, p
    assert "rangepartitioning" not in p.lower(), p


def test_q81_contamination_bench_side_broadcasts(spark):
    """Contamination: the (small by definition) benchmark shingle set
    broadcasts into the corpus-side join — no shuffle of the exploded
    corpus shingles for the join, no cartesian anywhere."""
    p = plan(spark, "q81_contamination")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_q84_stratified_single_window_shuffle(spark):
    """Per-stratum sample: exactly one shuffle (the per-source window) —
    no global range sort of the corpus."""
    p = plan(spark, "q84_stratified_sample")
    assert n_exchanges(p) == 1, p
    assert "rangepartitioning" not in p.lower(), p


def test_q85_mixture_zero_shuffle(spark):
    """Weighted mixture sampling is a pure map-side filter: no exchange,
    no join, no Python eval."""
    p = plan(spark, "q85_weighted_mixture")
    assert n_exchanges(p) == 0, p
    assert "Join" not in p, p


def test_q88_single_gram_relation_window_form(spark):
    """Duplicated-8-gram coverage: the exploded gram relation is built
    once — a (gram, doc_id) pre-aggregate feeding a gram-key window —
    never self-joined (which would re-run the split+hash transform on
    the probe side). The only joins are the cheap doc_id attach-backs."""
    p = plan(spark, "q88_dup_ngram_coverage")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # one Generate (explode) node: the gram transform is not duplicated
    assert len(re.findall(r"\(\d+\) Generate\b", p)) == 1, p


def test_q90_classifier_single_shuffle_no_python(spark):
    """Hashed-feature classifier inference: map-side feature hashing +
    one uniform doc_id aggregate — no join, no Python eval."""
    p = plan(spark, "q90_hashed_classifier")
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_q91_chunker_map_side_only(spark):
    """Overlapping chunker is pure map-side explode: the only exchange
    is the single-file input spread (round-robin), never a hash/range
    repartitioning, and no join anywhere."""
    p = plan(spark, "q91_chunk_overlap")
    assert "hashpartitioning" not in p.lower(), p
    assert "rangepartitioning" not in p.lower(), p
    assert "Join" not in p, p


def test_q92_domain_stats_broadcast_back(spark):
    """Domain gate: the per-source stats table joins back via broadcast
    — the corpus shuffles once (the stats aggregate), not twice."""
    p = plan(spark, "q92_domain_gate")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_q93_range_join_is_equi_not_nested_loop(spark):
    """Bucketed range join: the interval predicate must ride as a
    residual on an EQUI join (hash or sort-merge on (user, bucket)) —
    a BroadcastNestedLoopJoin/CartesianProduct means the bucketing
    regressed and the join is back to O(n*m) compared rows."""
    p = plan(spark, "q93_range_join_bucketed")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p), p


def test_q98_semdedup_pair_stage_is_equijoin_on_cid(spark):
    """SemDeDup: the in-cluster pair stage must be an EQUI join on cid
    (never a corpus cross product), and the verdict join must not force
    a broadcast of an unbounded removed-id list."""
    p = plan(spark, "q98_semantic_dedup")
    assert "CartesianProduct" not in p, p
    # the only nested-loop join allowed is the K-row broadcast centroid
    # crossJoin in the assignment pass
    assert p.count("BroadcastNestedLoopJoin") <= 1, p


def test_q99_dsir_stats_broadcast_single_doc_shuffle(spark):
    """DSIR: the bucket-stats table joins the exploded tokens via
    broadcast (the corpus never shuffles on bucket), and scoring
    aggregates on doc_id."""
    p = plan(spark, "q99_dsir_importance")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p
    simple = plan(spark, "q99_dsir_importance", "simple")
    # corpus-sized shuffles: the doc_id scoring agg only (bucket stats
    # collapse to DSIR_BUCKETS rows via map-side partials first)
    assert re.findall(r"hashpartitioning\(doc_id", simple), simple


def test_q100_outliers_single_assignment_pass(spark):
    """Prototypicality: the winning similarity comes from the SAME
    aggregate that picks the centroid — one crossJoin, no second
    scoring pass (two would show two nested-loop joins)."""
    p = plan(spark, "q100_centroid_outliers")
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", p)) == 1, p


def test_assignment_passes_never_shuffle_the_corpus(spark):
    """The r10 packed-argmax law: NO centroid-assignment pass shuffles
    the corpus. The former crossJoin + groupBy(vec_id) shape planned an
    `Exchange hashpartitioning(vec_id...)` per assignment; the fold is
    map-only, so a vec_id-keyed exchange anywhere in these plans means
    the shape regressed. q124 pins the Lloyd training loop's final
    assignment (per-round passes sit behind checkpoints but share the
    same _assign code path); q51 pins IVF serving's list assignment;
    q100 pins the full-cosine variant."""
    for name in (
        "q124_kmeans_hashed_seed_train",
        "q51_ann_ivf_topk",
        "q100_centroid_outliers",
    ):
        p = plan(spark, name, "simple")
        assert not re.findall(r"hashpartitioning\(vec_id", p), (name, p)


def test_q101_percentiles_pruned_scan(spark):
    """Length percentiles: the documents scan must read only
    (source, n_chars) — not text."""
    p = plan(spark, "q101_length_percentiles")
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "text" not in m.group(1), p
    assert "n_chars" in m.group(1) and "source" in m.group(1), p


def test_q109_funnel_stage_joins_broadcast_no_self_join(spark):
    """Funnel: the per-user stage tables broadcast into the event log;
    the log is never row-to-row self-joined (no nested loop) and the
    whole plan stays JVM-side."""
    p = plan(spark, "q109_funnel_stages")
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p
    assert "BatchEvalPython" not in p, p


def test_q110_retention_cohort_broadcast_pruned_scan(spark):
    """Retention: cohort table broadcasts back into the log, and the
    events scan reads only (ts, user_id)."""
    p = plan(spark, "q110_cohort_retention")
    assert "BroadcastHashJoin" in p, p
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and "event_type" not in m.group(1), p
    assert "user_id" in m.group(1), p


def test_q111_full_outer_is_sort_merge_on_prejoined_aggregates(spark):
    """Reconciliation is the ONE rightful sort-merge join: both sides are
    corpus-sized (no broadcast possible under full-outer semantics), and
    both arrive pre-aggregated to one row per key before the join."""
    p = plan(spark, "q111_reconcile_full_outer")
    assert "SortMergeJoin" in p and "FullOuter" in p, p
    # the lineitem side must aggregate BEFORE joining (partial agg soaks
    # the multi-line fan-in; joining raw lines then aggregating would
    # shuffle |lineitem| rows into the join)
    assert p.index("HashAggregate") < p.index("SortMergeJoin"), p


def test_q119_star_join_broadcast_dims_pushed_filters(spark):
    """Star join: every dimension broadcasts (the fact table is never
    shuffled for a dim), and the selective region/date predicates reach
    their scans."""
    p = plan(spark, "q119_star_join")
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p, p
    assert "EqualTo(r_name,ASIA)" in p, p
    assert "GreaterThanOrEqual(o_orderdate" in p, p


def test_q123_ann_serving_recall_gated_equijoin(spark):
    """Recall-gated serving: the quality gate is a broadcast HASH
    semi-join that prunes the corpus before assignment (the served
    candidates are a predicate on the audit's one pass, so no candidate
    equi-join remains; q51 is the standalone serving plan), and the
    only nested-loop joins in the plan are the three documented
    broadcast-of-bounded folds (candidate assignment x centroids, query
    probing x centroids, and the one pass over the bounded query set) —
    nothing corpus x corpus. The emitted verdict must clear the stated
    target on the test data."""
    df = registry()["q123_ann_serving"].fn(spark, SF_DIR)
    p = _explain_str(df, "simple")
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastNestedLoopJoin") <= 3, p
    assert "BroadcastHashJoin" in p, p
    rows = df.collect()
    from sms_db_spark.operators.pipeline import SERVING_RECALL_TARGET

    assert rows and all(r.meets_target for r in rows)
    assert all(abs(r.mean_recall - rows[0].mean_recall) < 1e-12 for r in rows)
    assert rows[0].mean_recall >= SERVING_RECALL_TARGET


def test_q98_rank_and_size_precomputed_once(spark):
    """Rank + truncation count are materialized INSIDE the assignment
    checkpoint: no consumer re-runs the cid window (or the assignment),
    so the final plan contains no Window at all — both window functions
    already executed, once, in the same WindowExec."""
    p = plan(spark, "q98_semantic_dedup")
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 0, p


def _parse_tree(tree_text: str) -> list[tuple[int, str, str]]:
    """Parse a formatted-explain tree into (index, marker_col, name) rows.
    A node's children sit at marker column = its name column; the
    streamed (left) child uses the ':-' marker, the build side '+-'."""
    rows = []
    for line in tree_text.splitlines():
        m = re.search(r"(?:\+-|:-) (.*)$", line)
        if not m:  # root line (no marker)
            m2 = re.match(r"^(\w.*)$", line)
            if m2:
                rows.append((0, m2.group(1)))
            continue
        rows.append((m.start(), m.group(1)))
    return [(i, col, name) for i, (col, name) in enumerate(rows)]


def _streamed_closure(nodes, i) -> list[str]:
    """All node names on node i's streamed side: recurse into every
    child subtree EXCEPT BroadcastExchange builds (broadcast build
    sides are small by design and exempt from store-branch rules)."""
    _, col, _ = nodes[i]
    child_col = col + 3
    out = []
    j = i + 1
    while j < len(nodes) and nodes[j][1] >= child_col:
        if nodes[j][1] == child_col:
            if nodes[j][2].startswith("BroadcastExchange"):
                # skip this build subtree entirely
                k = j + 1
                while k < len(nodes) and nodes[k][1] > child_col:
                    k = k + 1
                j = k
                continue
            out.append(nodes[j][2])
            out.extend(_streamed_closure(nodes, j))
            k = j + 1
            while k < len(nodes) and nodes[k][1] > child_col:
                k = k + 1
            j = k
            continue
        j += 1
    return out


def test_q125_store_prune_is_broadcast(spark):
    """Delta dedup's store side probes a broadcast bit set map-side on
    the raw scan: one BroadcastHashJoin per hash function, and NO
    shuffle Exchange (nor aggregate) on the store branch upstream of
    those joins — at 100 TB a store-wide pre-prune shuffle is exactly
    what the operator exists to avoid (VERDICT r4 #1)."""
    p = plan(spark, "q125_delta_dedup")
    assert "BroadcastExchange" in p
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin\b", p)) >= 2, p
    tree = p.split("\n\n")[0]
    nodes = _parse_tree(tree)
    bhjs = [i for i, _, name in nodes if name.startswith("BroadcastHashJoin")]
    assert bhjs, tree
    checked_scan_side = 0
    for i in bhjs:
        spine = _streamed_closure(nodes, i)
        if not any(n.startswith("Scan parquet") for n in spine):
            continue
        checked_scan_side += 1
        # key-shuffle Exchange / HashAggregate upstream of the prune =
        # the r4 defect. load_table_parallel's round-robin spread (a
        # local-mode single-file artifact, absent on a real many-file
        # scan) is the only Exchange allowed on the streamed side.
        assert not any(n.startswith("HashAggregate") for n in spine), spine
        for n in spine:
            m = re.match(r"Exchange \((\d+)\)", n)
            if not m:
                continue
            detail = re.search(rf"\({m.group(1)}\) Exchange\n((?:.+\n)+?)\n", p)
            assert detail and "RoundRobinPartitioning" in detail.group(1), (
                n,
                detail.group(1) if detail else p,
            )
    assert checked_scan_side >= 2, tree


def test_q132_flags_dup_grams_without_self_join(spark):
    """The cross-doc flag comes from a window over the gram key (q88's
    constant-state trick); a self-join of the positional gram relation
    would re-run the split+hash transform for the probe side."""
    p = plan(spark, "q132_dup_spans")
    assert len(re.findall(r"\(\d+\) Window\b", p)) >= 2  # gram flag + islands
    # only the final zero-fill join against the pruned base scan remains
    assert len(re.findall(r"\(\d+\) SortMergeJoin\b", p)) <= 1, p


def test_q133_candidates_come_from_probe_lists(spark):
    """Hard-negative mining must ride the IVF probe equi-join: candidate
    selection is a broadcast hash join (on cid), never a sort-merge or
    cartesian pairing of the corpus with itself. The only nested-loop
    joins allowed are the tiny broadcast-centroid crossJoins. The probes
    are one map-side expression, so the top-k is the plan's only
    Window."""
    p = plan(spark, "q133_hard_negatives")
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin\b", p)) >= 1, p
    assert len(re.findall(r"\(\d+\) SortMergeJoin\b", p)) == 0, p
    assert len(re.findall(r"\(\d+\) CartesianProduct\b", p)) == 0, p
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1, p


def test_gate_priority_lists_reference_real_queries(spark, monkeypatch):
    """A typo in the changed list would silently demote a query out of
    the driver gate's budget — every entry must resolve — and after the
    changed block the registry keeps module order."""
    from sms_db_spark.plans import _CHANGED_THIS_ROUND

    specs = registry()
    missing = [n for n in _CHANGED_THIS_ROUND if n not in specs]
    assert not missing, missing
    assert len(set(_CHANGED_THIS_ROUND)) == len(_CHANGED_THIS_ROUND)
    ordered = list(specs)
    assert ordered[: len(_CHANGED_THIS_ROUND)] == _CHANGED_THIS_ROUND
    # module order is the registry's order with nothing marked changed
    monkeypatch.setattr("sms_db_spark.plans._CHANGED_THIS_ROUND", [])
    module_order = [n for n in registry() if n not in _CHANGED_THIS_ROUND]
    assert ordered[len(_CHANGED_THIS_ROUND):] == module_order


def test_q144_join_strategy_is_broadcast(spark):
    """plan_join's profile decision for lineitem⋈orders must be a
    broadcast hash join: no shuffle Exchange on either join input (the
    only shuffle in the plan is the final groupBy's)."""
    text = plan(spark, "q144_planned_join")
    assert "BroadcastHashJoin" in text, text
    assert "SortMergeJoin" not in text and "ShuffledHashJoin" not in text, text
    # the aggregate's exchange + the 3-row final sort — none from the join
    assert n_exchanges(text) <= 2, text


def test_q147_join_strategy_is_salted(spark):
    """plan_join's skew decision for the constructed viral-key join must
    be the SALTED shuffle: the dimension side replicated n_salt-fold
    (an explode Generate in the plan) and the join keyed on (k, _salt)
    — never a plain single-reducer-per-key shuffle of the hot key."""
    text = plan(spark, "q147_salted_planned_join")
    # the salt expansion: an explode Generate feeding the join, and the
    # join keyed on (k, _salt). (At test SF Catalyst may still broadcast
    # the replicated dim — the salt decision, not the exchange kind, is
    # the contract here; at scale the same plan shuffles on (k, _salt).)
    assert "Generate" in text and "explode(" in text, text
    assert text.count("_salt") >= 2, text
    # the surfaced decision is part of the result contract
    row = registry()["q147_salted_planned_join"].fn(spark, SF_DIR).limit(1).collect()[0]
    assert row["strategy"] == "salted" and row["salted_side"] == "left"
    assert row["n_salt"] == 8


def test_q147_salted_join_shuffle_regime(spark):
    """The salted branch exists FOR the shuffle regime (VERDICT r7 item
    3): with broadcast disabled — the at-scale condition, where the
    replicated dim exceeds any real threshold — the planned join must
    be a shuffled join (SortMergeJoin / ShuffledHashJoin) keyed on
    BOTH k and _salt, proving the salt actually spreads the hot key
    across n_salt reducers instead of one."""
    from sms_db_spark.operators.maintenance import q147_salted_planned_join

    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "8")
    session.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # the static threshold governs the planned shape; pin the adaptive
    # one too so a runtime re-plan can't reintroduce a broadcast
    session.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    text = _explain_str(q147_salted_planned_join(session, SF_DIR))
    assert "SortMergeJoin" in text or "ShuffledHashJoin" in text, text
    assert "BroadcastHashJoin" not in text, text
    # the join's equi-keys are (k, _salt) on both sides. Matched
    # tolerantly (ADVICE r8): whitespace and the optional type suffix
    # may drift with the plan printer; the invariant is a two-key list
    # naming k then _salt.
    assert re.search(
        r"keys\s*\[2\]\s*:\s*\[\s*k#\d+\w*\s*,\s*_salt#\d+\w*\s*\]", text
    ), text


def test_tuned_and_clone_share_parity_confs(spark):
    """The parity pins have ONE owner (TUNED_PARITY_CONFS, ADVICE r9):
    _tuned's wrapper must apply exactly that dict (this is also the
    equivalence witness for the r10 changed-list: the _tuned refactor
    burns no gate slots because the resulting conf set is pinned
    identical here), and clone_tuned_session must carry every key —
    including future ones — across newSession()'s runtime-conf drop,
    copying the PARENT's live value when it differs from the default."""
    from sms_db_spark.plans import TUNED_PARITY_CONFS, _tuned, clone_tuned_session

    # the dict is the documented set (a third entry added later is
    # covered by the loops below, not by this guard)
    assert set(TUNED_PARITY_CONFS) == {
        "spark.sql.session.timeZone",
        "spark.sql.optimizer.excludedRules",
    }
    # get_spark builds its session with the same dict
    assert {k: spark.conf.get(k) for k in TUNED_PARITY_CONFS} == TUNED_PARITY_CONFS

    seen = {}

    def probe(session, sf_dir):
        for k in TUNED_PARITY_CONFS:
            seen[k] = session.conf.get(k)
        seen["shuffle"] = session.conf.get("spark.sql.shuffle.partitions")
        return session.range(1)

    _tuned(probe)(spark, SF_DIR)
    assert seen.pop("shuffle") == "32"
    assert seen == TUNED_PARITY_CONFS

    # clone: copies the parent's LIVE values (tweak one to prove it is
    # not just re-applying defaults), on an isolated SQLConf
    parent = spark.newSession()
    tweaked = dict(TUNED_PARITY_CONFS, **{"spark.sql.session.timeZone": "Asia/Tokyo"})
    for k, v in tweaked.items():
        parent.conf.set(k, v)
    clone = clone_tuned_session(parent)
    assert clone is not parent
    for k, v in tweaked.items():
        assert clone.conf.get(k) == v
    # and an untuned parent yields the pinned defaults
    bare = clone_tuned_session(spark.newSession())
    for k, v in TUNED_PARITY_CONFS.items():
        assert bare.conf.get(k) == v


def test_q161_q162_banded_pairs_precapped_map_side(spark):
    """The multimodal near-dup lanes (r13): pair GENERATION stays
    map-side over the grouped in-bucket array (Generate explode over
    the transform/slice expansion — never a pair self-join, never a
    theta-join), bucket membership is PRE-capped by a counts aggregate
    joined back as an equi-join (broadcast locally; AQE picks the
    shuffled form when the survivor list is large), and the
    fingerprint Arrow pass runs ONCE: the frame is pinned before its
    two consumers, so the executed plan reads the checkpointed RDD
    and contains NO MapInPandas re-execution. Shuffles: counts agg +
    bucket agg + distinct + presentation sort (plus at most one for a
    non-broadcast membership join): <= 5."""
    for name in ("q161_image_phash_neardup", "q162_audio_fingerprint_neardup"):
        p = plan(spark, name, mode="simple")
        assert "CartesianProduct" not in p, (name, p)
        assert "BroadcastNestedLoopJoin" not in p, (name, p)
        assert "Generate explode" in p, (name, p)  # map-side pair expansion
        # the pinned fingerprint frame: plan reads the checkpoint, the
        # Arrow pass is not re-executed per branch
        assert "MapInPandas" not in p, (name, p)
        assert n_exchanges(p) <= 5, (name, p)


def test_q164_video_neardup_precapped_map_side(spark):
    """The video lane (r14) rides the same pre-capped kernel over
    frame-level fids: the pinned fingerprint frame subsumes BOTH Arrow
    passes (q56 frame sampling + the per-frame dHash), so the executed
    plan reads the checkpointed RDD and contains NO MapInPandas; pair
    generation stays map-side; the doc-level vote adds one bounded
    aggregate over the (already distinct) frame pairs. Shuffles:
    counts agg + bucket agg + distinct + vote agg + presentation sort
    (plus at most one for a non-broadcast membership join): <= 7."""
    p = plan(spark, "q164_video_frame_neardup", mode="simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "Generate explode" in p, p
    assert "MapInPandas" not in p, p
    assert n_exchanges(p) <= 7, p


def test_q167_ivfpq_serving_broadcast_probes_no_cartesian(spark):
    """IVF-PQ serving (VERDICT r14 item 4): the queries get their
    probes and LUTs map-side on one broadcast state row, and ADC
    scoring rides the corpus pass the exact baseline makes — one
    serving pass over the index (_one_serving_pass). The emitted
    verdict must clear the stated target, and the result must SHOW the
    re-rank trade: re-ranked recall strictly above ADC-as-is on this
    corpus."""
    df = registry()["q167_ivfpq_serving"].fn(spark, SF_DIR)
    _one_serving_pass(_explain_str(df, "simple"))
    rows = df.collect()
    from sms_db_spark.operators.similarity import (
        IVFPQ_RECALL_TARGET,
        PQ_NQ,
    )

    assert len(rows) == PQ_NQ
    assert all(r.meets_target for r in rows)
    assert rows[0].mean_recall >= IVFPQ_RECALL_TARGET
    assert sum(r.n_hits for r in rows) > sum(r.n_hits_adc for r in rows)


def test_q168_ivfadc_residual_one_serving_pass(spark):
    """The residual IVFADC lane: same physical discipline as q167 — one
    serving pass over the PINNED residual corpus (ExistingRDD; without
    the pin every Lloyd pass re-executed the coarse-assignment fold:
    sf0.001 selfcheck 115 s pre-pin vs ~19 s Spark-side post-pin),
    encoded on the fly and scored against per-probed-list LUTs built
    map-side (_one_serving_pass). Value law: the paper's
    squared-distance ADC must reproduce the serve-the-family story —
    re-ranked recall clears the shared target and strictly beats
    ADC-as-is (residual ADC measures ~parity with q167's flat ADC on
    this isotropic corpus; Jegou et al.'s gains assume clustered
    data, and the lane measures rather than assumes them)."""
    df = registry()["q168_ivfadc_residual"].fn(spark, SF_DIR)
    _one_serving_pass(_explain_str(df, "simple"))
    rows = df.collect()
    from sms_db_spark.operators.similarity import (
        IVFPQ_RECALL_TARGET,
        PQ_NQ,
    )

    assert len(rows) == PQ_NQ
    assert all(r.meets_target for r in rows)
    assert rows[0].mean_recall >= IVFPQ_RECALL_TARGET
    assert sum(r.n_hits for r in rows) > sum(r.n_hits_adc for r in rows)


def test_q174_clustered_fixture_residual_wins(spark):
    """The clustered-fixture lane (VERDICT r15 item 6) must SHOW the
    paper's residual gain, not assert it in prose: on the
    mixture-of-clusters corpus with low-rank within-cluster offsets,
    residual ADC's mean recall strictly beats flat ADC's by a real
    margin (measured 0.58 vs 0.29 at sf0.01). Serving is one
    broadcast pass over the pinned index: one row_number window ranks
    the exact, flat and residual keys together (_one_serving_pass)."""
    df = registry()["q174_ivfadc_clustered"].fn(spark, SF_DIR)
    _one_serving_pass(_explain_str(df, "simple"))
    rows = df.collect()
    from sms_db_spark.operators.similarity import PQ_NQ

    assert len(rows) == PQ_NQ
    assert all(r.residual_wins for r in rows)
    assert rows[0].mean_res >= rows[0].mean_flat + 0.1  # a real margin
