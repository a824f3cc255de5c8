"""Behavioral edge-semantics tests for the curation operators (q77-q86)
— the oracle gate proves engine parity; these pin the CONTRACTS: split
stability, packing contiguity, scrub completeness, gate consistency,
stratum bounds, and cross-algorithm clustering agreement.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sms_db_spark.operators import curation, dedup, similarity

SF_DIR = "/root/testdata/sf0.001"


def test_q77_split_partitions_corpus_and_is_stable(spark):
    rows = curation.q77_split_assign(spark, SF_DIR).collect()
    again = curation.q77_split_assign(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))  # rerun-stable
    by_id = {r.doc_id: r.split for r in rows}
    assert len(by_id) == len(rows)  # every doc exactly once
    assert set(by_id.values()) <= {"train", "valid", "test"}
    n = len(rows)
    train = sum(1 for s in by_id.values() if s == "train")
    assert 0.8 * n <= train <= 1.0 * n  # ~90% expected rate


def test_q78_sample_is_subset_of_corpus_and_of_train_hash_space(spark):
    sample = curation.q78_hash_sample(spark, SF_DIR)
    assert sample.filter(F.col("sample_key") >= curation.SAMPLE_UPTO).count() == 0
    # composability with q77: the 10% sample lives inside the train slice
    # (rates are nested prefixes of the same hash space)
    assert curation.SAMPLE_UPTO <= curation.TRAIN_UPTO


def test_q79_packing_contiguous_within_shard(spark):
    rows = curation.q79_sequence_packing(spark, SF_DIR).collect()
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, docs in by_source.items():
        docs.sort(key=lambda r: r.doc_id)
        offset = 0
        for r in docs:
            assert r.start_offset == offset, (source, r)
            assert r.bin_id == offset // curation.PACK_BUDGET
            offset += r.n_tok


def test_q80_redaction_is_complete(spark):
    import re

    rows = curation.q80_pii_redact(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_phones == 1 and r.n_emails == 1
        assert "[PHONE]" in r.redacted and "[EMAIL]" in r.redacted
        assert not re.search(curation.PHONE_RE, r.redacted)
        assert not re.search(curation.EMAIL_RE, r.redacted)


def test_q81_fractions_bounded(spark):
    rows = curation.q81_contamination(spark, SF_DIR).collect()
    for r in rows:
        assert r.doc_id >= curation.BENCH_MAX_ID  # bench docs never flagged
        assert 1 <= r.n_shared <= r.n_shingles
        assert 0.0 < r.contaminated_frac <= 1.0


def test_q82_gate_consistent_with_stats(spark):
    rows = curation.q82_repetition_stats(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.type_token_ratio <= 1.0
        assert 0.0 < r.top_token_ratio <= 1.0
        assert 0.0 <= r.dup_bigram_frac < 1.0
        assert r.passes_repetition == (
            r.top_token_ratio <= curation.MAX_TOP_TOKEN_RATIO
            and r.dup_bigram_frac <= curation.MAX_DUP_BIGRAM_FRAC
        )


def test_q84_stratum_bounds(spark):
    rows = curation.q84_stratified_sample(spark, SF_DIR).collect()
    per_source: dict = {}
    for r in rows:
        per_source.setdefault(r.source, []).append(r.rank_in_stratum)
    for source, ranks in per_source.items():
        assert len(ranks) <= curation.STRATUM_N
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), source


def test_q85_mixture_respects_rates(spark):
    rows = curation.q85_weighted_mixture(spark, SF_DIR).collect()
    for r in rows:
        assert r.bucket < r.keep_rate
        expected = curation.MIX_RATES.get(r.lang, curation.MIX_DEFAULT)
        assert r.keep_rate == expected


def test_q83_agrees_with_q70_label_propagation(spark):
    """The two connected-components algorithms (diameter-round label
    propagation vs large-star/small-star) must produce identical
    clusterings — the strongest cross-check of both."""
    a = {(r.doc_id, r.cluster_id) for r in dedup.q70_dedup_clusters(spark, SF_DIR).collect()}
    b = {
        (r.doc_id, r.cluster_id)
        for r in dedup.q83_dedup_clusters_star(spark, SF_DIR).collect()
    }
    assert a == b


def test_q86_assignment_valid_and_deterministic(spark):
    rows = similarity.q86_kmeans_ivf_train(spark, SF_DIR).collect()
    again = similarity.q86_kmeans_ivf_train(spark, SF_DIR).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    cids = {r.cid for r in rows}
    assert cids <= set(range(similarity.N_CENTROIDS))


def test_q87_rarity_bounded_and_gate_consistent(spark):
    rows = curation.q87_token_rarity(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.mean_token_freq <= 1.0
        assert r.n_tok <= r.sum_cnt  # every token occurs at least once
        assert r.is_rare == (r.mean_token_freq < curation.RARE_THRESHOLD)


def test_q91_chunks_cover_every_token_with_overlap(spark):
    rows = curation.q91_chunk_overlap(spark, SF_DIR).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_id)
        n = chunks[0].start_pos - 1 + 0  # recompute doc length from the tail chunk
        last = chunks[-1]
        n = last.start_pos + last.n_tokens - 1
        for i, c in enumerate(chunks):
            assert c.chunk_id == i
            assert c.start_pos == 1 + i * curation.CHUNK_S
            assert c.n_tokens == min(curation.CHUNK_W, n - c.start_pos + 1)
            assert len(c.chunk_text.split(" ")) == c.n_tokens
        # strictly-consecutive starts => no token between chunks is skipped
        # (stride < width), and the tail chunk ends exactly at the doc end
        assert curation.CHUNK_S < curation.CHUNK_W


def test_q92_verdict_is_per_source_and_both_classes_exist(spark):
    rows = curation.q92_domain_gate(spark, SF_DIR).collect()
    verdict: dict = {}
    for r in rows:
        assert verdict.setdefault(r.source, r.keep_domain) == r.keep_domain
        assert r.source_docs >= 1 and r.source_avg_tokens > 0
    assert True in verdict.values() and False in verdict.values()


def test_q93_bucketed_range_join_matches_naive(spark):
    from sms_db_spark.plans import compat_queries
    from sms_db_spark.tables import load_table

    from datetime import timezone

    def us_of(ts):
        return int(ts.replace(tzinfo=timezone.utc).timestamp() * 1_000_000)

    got = {
        r.event_id: r.n_prior_1d
        for r in compat_queries.q93_range_join_bucketed(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "ts").collect()
    W = compat_queries.RANGE_WINDOW_US
    want: dict = {}
    by_user: dict = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r)
    for r in ev:
        us = us_of(r.ts)
        want[r.event_id] = sum(
            1
            for o in by_user[r.user_id]
            if us - W <= us_of(o.ts) < us
        )
    assert got == want


def test_q97_one_representative_per_cluster_covering_corpus(spark):
    reps = dedup.q97_cluster_representatives(spark, SF_DIR).collect()
    clusters = {r.cluster_id for r in reps}
    assert len(clusters) == len(reps)  # exactly one row per cluster
    labels = dedup.q83_dedup_clusters_star(spark, SF_DIR).collect()
    assert sum(r.cluster_size for r in reps) == len(labels)  # partition of corpus
    by_cluster: dict = {}
    for r in labels:
        by_cluster.setdefault(r.cluster_id, []).append(r.doc_id)
    for r in reps:
        assert r.rep_doc_id in by_cluster[r.cluster_id]
        assert len(by_cluster[r.cluster_id]) == r.cluster_size


def test_q141_epoch_shuffle_partitions_and_mixes(spark):
    """Batches tile the corpus in order (full batches then one tail),
    membership checksums cover every doc exactly once, and the seeded
    order actually interleaves sources (a source-sorted order would
    score top_share_milli = 1000)."""
    from sms_db_spark.tables import load_table

    rows = curation.q141_epoch_shuffle(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    n_src = docs.select("source").distinct().count()
    assert [r.batch for r in rows] == list(range(len(rows)))
    assert sum(r.n_docs for r in rows) == n
    assert all(r.n_docs == curation.EPOCH_BATCH for r in rows[:-1])
    assert rows[-1].n_docs <= curation.EPOCH_BATCH
    # every doc lands in exactly one batch: id-sum conservation
    total_ids = docs.agg(F.sum("doc_id").alias("s")).collect()[0].s
    assert sum(r.id_sum for r in rows) == total_ids
    # mixing: every FULL batch sees most sources, none dominated (the
    # tail batch can be arbitrarily small, so it proves nothing)
    full = [r for r in rows if r.n_docs == curation.EPOCH_BATCH]
    assert full
    assert all(r.n_sources >= n_src // 2 for r in full)
    assert max(r.top_share_milli for r in full) < 500
    # pure function of (seed, doc_id): rerun is identical
    assert curation.q141_epoch_shuffle(spark, SF_DIR).collect() == rows


def test_q141_epoch_shuffle_sort_is_distributed(spark, monkeypatch):
    """The global order must come from a range-partitioned sort plus a
    per-partition window (dense_ids' two-phase kernel) — never a
    single-partition global window over row data. dense_ids pins the
    range-partitioned frame with localCheckpoint, so the range exchange
    runs in the pin job: it is asserted on the pinned frame's plan, and
    neither that plan nor the lane's own may hold a SinglePartition."""
    DataFrame = type(spark.range(1))  # the concrete class localCheckpoint runs on
    pinned_plans = []
    orig_pin = DataFrame.localCheckpoint

    def recording_pin(self, *a, **k):
        pinned_plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig_pin(self, *a, **k)

    monkeypatch.setattr(DataFrame, "localCheckpoint", recording_pin)
    d = curation.q141_epoch_shuffle(spark, SF_DIR)
    plan = d._jdf.queryExecution().executedPlan().toString()
    (pinned,) = [p for p in pinned_plans if "_k" in p]
    assert "rangepartitioning(_k" in pinned
    assert "SinglePartition" not in pinned
    assert "SinglePartition" not in plan
