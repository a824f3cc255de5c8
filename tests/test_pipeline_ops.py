"""Composite training-data pipeline operators (operators/pipeline.py):
semantic pins beyond the DuckDB-oracle gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from sms_db_spark.operators import pipeline
from sms_db_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_neardup_resolve_keeps_lowest_id(spark):
    docs = load_table(spark, SF_DIR, "documents")
    survivors = pipeline.q52_neardup_resolve(spark, SF_DIR)
    n_docs, n_surv = docs.count(), survivors.count()
    # survivor set is a subset of the corpus
    assert n_surv <= n_docs
    assert survivors.join(docs, "doc_id", "left_anti").count() == 0
    # every dropped doc collided with a LOWER id: doc 0 (the global
    # minimum id with >= 3 tokens, if banded) can never be dropped
    from sms_db_spark.operators.dedup import minhash_bands

    banded_ids = {r.doc_id for r in minhash_bands(spark, SF_DIR).select("doc_id").distinct().collect()}
    surv_ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    if banded_ids:
        assert min(banded_ids) in surv_ids


def test_clean_pipeline_gates_and_dedups(spark):
    cleaned = pipeline.q53_clean_pipeline(spark, SF_DIR)
    rows = cleaned.collect()
    assert rows, "cleaning removed the entire corpus"
    # exact-content dedup: content_fp unique in the output
    fps = [r.content_fp for r in rows]
    assert len(fps) == len(set(fps))
    # quality gate honored
    assert all(r.len_chars >= pipeline.MIN_CHARS for r in rows)
    assert all(r.n_tokens >= pipeline.MIN_TOKENS for r in rows)


def test_corpus_stats_reconcile_with_clean_output(spark):
    cleaned = pipeline.q53_clean_pipeline(spark, SF_DIR)
    stats = pipeline.q54_corpus_stats(spark, SF_DIR)
    assert stats.agg(F.sum("n_docs")).first()[0] == cleaned.count()


def test_tfidf_topk_rank_is_dense_and_bounded(spark):
    out = pipeline.q57_tfidf_topk(spark, SF_DIR)
    per_doc = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("rank").alias("max_rank"),
        F.min("rank").alias("min_rank"),
    )
    bad = per_doc.filter(
        (F.col("n") > pipeline.TFIDF_TOPK)
        | (F.col("max_rank") != F.col("n"))
        | (F.col("min_rank") != 1)
    )
    assert bad.count() == 0
    # determinism: rank-1 term per doc is stable across runs
    first = {r.doc_id: r.term for r in out.filter("rank = 1").collect()}
    second = {r.doc_id: r.term for r in out.filter("rank = 1").collect()}
    assert first == second


def test_dedup_clusters_are_valid_connected_components(spark):
    from sms_db_spark.operators.dedup import q45_minhash_lsh_pairs, q70_dedup_clusters

    labels = {r.doc_id: r.cluster_id for r in q70_dedup_clusters(spark, SF_DIR).collect()}
    docs = load_table(spark, SF_DIR, "documents")
    # a total labeling: every doc labeled, label <= id (min-reachable)
    assert set(labels) == {r.doc_id for r in docs.select("doc_id").collect()}
    assert all(lab <= d for d, lab in labels.items())
    # every cluster's id is the minimum of its members
    by_cluster: dict[int, list[int]] = {}
    for d, lab in labels.items():
        by_cluster.setdefault(lab, []).append(d)
    assert all(min(members) == lab for lab, members in by_cluster.items())
    # directly-colliding pairs always co-cluster (transitivity superset of q52)
    for r in q45_minhash_lsh_pairs(spark, SF_DIR).collect():
        assert labels[r.doc_a] == labels[r.doc_b], (r.doc_a, r.doc_b)


def test_lsh_hot_bucket_cap_bounds_pair_generation(spark):
    """A degenerate bucket (500 identical/boilerplate docs sharing a band
    hash) must contribute ZERO pairs — not 500·499/2 — while normal-sized
    buckets still pair. The cap is the guard against quadratic in-bucket
    fan-out at corpus scale."""
    from sms_db_spark.operators.dedup import LSH_MAX_BUCKET, lsh_candidate_pairs

    hot = [(doc_id, 0, "hotbucket") for doc_id in range(500)]
    small = [(doc_id, 1, "okbucket") for doc_id in (1000, 1001, 1002)]
    bands = spark.createDataFrame(
        hot + small, "doc_id long, band_id long, band_hash string"
    )
    pairs = lsh_candidate_pairs(bands).collect()
    # only the 3-doc bucket pairs: (1000,1001) (1000,1002) (1001,1002)
    assert sorted((r["doc_a"], r["doc_b"]) for r in pairs) == [
        (1000, 1001), (1000, 1002), (1001, 1002)
    ]
    # boundary: a bucket exactly at the cap still pairs fully
    at_cap = [(i, 2, "cap") for i in range(LSH_MAX_BUCKET)]
    n = lsh_candidate_pairs(
        spark.createDataFrame(at_cap, "doc_id long, band_id long, band_hash string")
    ).count()
    assert n == LSH_MAX_BUCKET * (LSH_MAX_BUCKET - 1) // 2


def test_kmeans_seed_choice_audited_by_ivf_recall(spark):
    """q86 (first-K seed) vs q124 (hashed-sample seed), judged by q121's
    IVF recall mechanics — the audit, not an assumption, picks the seed.
    On this synthetic corpus the generator plants clusters around early
    ids, so first-K must measurably WIN; both configs must still beat
    the single-probe-LSH floor (q120's ~0.02). If the corpus generator
    ever changes, this test documents how the verdict flips."""
    import collections

    from pyspark.sql import Window
    from sms_db_spark.operators import similarity as S
    from sms_db_spark.tables import load_table_parallel

    emb = load_table_parallel(spark, SF_DIR, "embeddings").localCheckpoint(eager=True)

    def train(cent):
        for _ in range(S.KMEANS_ITERS):
            cent = S._update(S._assign(emb, cent))
        return cent.localCheckpoint(eager=True)

    def ivf_recall(cent):
        assigned = S._assign(emb, cent).localCheckpoint(eager=True)
        q = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
        wp = Window.partitionBy("query_id").orderBy(F.col("q_sim").desc(), F.col("cid"))
        probes = (
            q.crossJoin(F.broadcast(cent))
            .select("query_id", "q_emb", "cid", S.cosine("q_emb", "c_emb").alias("q_sim"))
            .withColumn("pr", F.row_number().over(wp))
            .filter(F.col("pr") <= S.N_PROBE)
            .select("query_id", "q_emb", "cid")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        approx = (
            F.broadcast(probes)
            .join(assigned.withColumnRenamed("embedding", "c_emb"), "cid")
            .filter(F.col("query_id") != F.col("vec_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                S.cosine("q_emb", "c_emb").alias("cos_sim"),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= S.RECALL_K)
            .select(F.col("query_id").alias("aqid"), F.col("neighbor_id").alias("aid"))
        )
        exact = (
            F.broadcast(q)
            .crossJoin(
                emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
            )
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", S.cosine("q_emb", "c_emb").alias("cos_sim"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= S.RECALL_K)
            .select("query_id", "neighbor_id")
        )
        hits = exact.join(
            approx, (exact.query_id == F.col("aqid")) & (exact.neighbor_id == F.col("aid")), "left_semi"
        )
        h = collections.Counter(r.query_id for r in hits.collect())
        return sum(h.values()) / (10 * S.RECALL_K)

    first_k = emb.filter(F.col("vec_id") < S.N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    r_first = ivf_recall(train(first_k))
    r_hashed = ivf_recall(train(S._hashed_seed(emb)))
    assert r_first > r_hashed, (r_first, r_hashed)  # planted-centroid corpus
    assert r_hashed >= 0.2, r_hashed  # both far above the 0.02 LSH floor
    assert r_first >= 0.6, r_first


def test_sq8_quantization_recall_high(spark):
    """SQ8 after normalization must preserve the cosine ranking almost
    exactly — the audit exists to catch configs (e.g. affine per-dim
    quantization without normalization, recall ~0.1) that silently
    destroy it."""
    from sms_db_spark.operators.similarity import SQ_K, q128_sq8_ann_recall

    rows = q128_sq8_ann_recall(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_overlap <= SQ_K
        assert r.recall_at_k == r.n_overlap / SQ_K
    mean = sum(r.n_overlap for r in rows) / (len(rows) * SQ_K)
    assert mean >= 0.8, mean


def test_hard_negatives_are_label_mismatched_and_ranked(spark):
    from sms_db_spark.operators.similarity import HN_K, q133_hard_negatives

    rows = q133_hard_negatives(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_anchor = {}
    for r in rows:
        assert r.negative_label != r.anchor_label
        assert r.negative_id != r.anchor_id
        by_anchor.setdefault(r.anchor_id, []).append(r)
    for a, rs in by_anchor.items():
        ranks = [r.rank for r in rs]
        assert ranks == list(range(1, len(rs) + 1)) and len(rs) <= HN_K
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_assignment_folds_empty_centroids_yield_zero_rows(spark):
    """The packed-argmax degenerate contract is enforced, not prose: an
    empty centroid table yields ZERO assigned rows (the size guard drops
    the empty packed array), exactly the old crossJoin behavior — never
    the whole corpus under a NULL cid (review r10)."""
    from pyspark.sql import functions as F

    import sms_db_spark.operators.similarity as S
    from sms_db_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    no_cent = emb.filter(F.lit(False)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    assert S._assign(emb, no_cent).count() == 0
    assert S._argmax_cosine_packed(emb, no_cent).count() == 0


def test_packed_argmax_is_one_broadcast_and_stays_map_only(spark):
    """The packed-centroid fold plans ONE broadcast nested-loop stage
    (the single packed array) and never shuffles the corpus (no vec_id
    exchange — the whole point of the fold), for both the
    normalized-dot assignment and its full-cosine twin."""
    import io
    import re
    from contextlib import redirect_stdout

    import sms_db_spark.operators.similarity as S
    from sms_db_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cent = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )

    def plan(df) -> str:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    for folded in (S._assign(emb, cent), S._argmax_cosine_packed(emb, cent)):
        p = plan(folded)
        assert len(re.findall(r"BroadcastNestedLoopJoin", p)) == 1, p
        assert not re.findall(r"hashpartitioning\(vec_id", p), p


def test_zero_vector_centroid_does_not_crash_assignment(spark):
    """Under Spark 4's default ANSI mode even DOUBLE division by zero
    throws — one all-zero embedding (a failed encode, routine at real
    corpus scale) must not crash the packed assignment fold (r12
    over-cap experiment finding). A zero centroid scores dot 0 against
    everything and a zero query row scores 0 against every centroid —
    deterministic, never an exception; non-zero rows keep their exact
    winners (guard divides by 1 ONLY when the norm is exactly 0)."""
    import sms_db_spark.operators.similarity as S

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    cent = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "cid long, c_emb array<float>",
    )
    emb = spark.createDataFrame(
        [(10, [2.0, 0.1]), (11, [0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r.cid for r in S._assign(emb, cent).collect()}
    # vec 10 is closest to centroid 1 by normalized dot; the zero
    # query row ties all centroids at 0 -> lowest cid wins
    assert got == {10: 1, 11: 0}

    got_cos = {
        r.vec_id: (r.cid, r.sim)
        for r in S._argmax_cosine_packed(emb, cent).collect()
    }
    assert got_cos[10][0] == 1
    assert got_cos[11] == (0, 0.0)


def test_cosine_zero_vector_engine_parity(spark):
    """cosine() and its DuckDB twin _sql_cos must agree ON the zero
    vector, not just survive it: both guard the norm divisor (divide
    by 1 when the norm is exactly 0), so cos(0, x) == 0.0 on BOTH
    engines and non-zero pairs are bit-identical to the unguarded
    form (r12 — fixing one side alone would silently de-sync the
    oracle gate on real corpora with failed-encode vectors)."""
    import duckdb

    import sms_db_spark.operators.similarity as S

    dim = S.DIM
    z = [0.0] * dim
    a = [1.0] + [0.0] * (dim - 1)
    b = [0.6] * dim
    df = spark.createDataFrame(
        [(z, a), (z, z), (a, b), (b, b)],
        "x array<float>, y array<float>",
    )
    got = [r.c for r in df.select(S.cosine("x", "y").alias("c")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {S._sql_cos('x', 'y')} FROM (SELECT ?::FLOAT[] AS x, ?::FLOAT[] AS y)",
            [x, y],
        ).fetchone()[0]
        for x, y in [(z, a), (z, z), (a, b), (b, b)]
    ]
    assert got == want, (got, want)
    assert got[0] == 0.0 and got[1] == 0.0  # zero vector scores 0, never raises
    assert abs(got[3] - 1.0) < 1e-12  # self-cosine still exact
