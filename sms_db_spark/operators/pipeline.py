"""Composite training-data pipeline operators over the `documents` table.

These stitch the primitive extension operators (textstats quality/langid,
fingerprint dedup, MinHash-LSH candidate pairs) into the end-to-end shapes
an LLM-corpus preparation job actually runs:

  - q52_neardup_resolve: LSH candidate pairs -> survivor set (greedy
    keep-lowest-id within each direct collision pair)
  - q53_clean_pipeline:  quality filter + language filter + exact
    normalized-content dedup, in one declarative plan
  - q54_corpus_stats:    post-clean per-language corpus statistics
  - q57_tfidf_topk:      top-k distinguishing terms per document by
    (tf DESC, df ASC, term ASC) - the float-free TF-IDF ranking

Reference parity: the reference's only dedup is exact-hash first-wins
(sms-db.pl:318-339, README.md:113-115); everything here is the clearly
separated beyond-reference extension family (SURVEY.md §7 step 7).

Scale design (100 TB):
  - q52: the pair table is tiny relative to the corpus (only colliding
    docs); survivors = one left_anti shuffle join on doc_id. No windows.
  - q53: per-row scoring is map-side codegen; the single shuffle is the
    groupBy on content_fp (md5 -> uniform, no skew). Keep-first uses
    min(doc_id) aggregation, not a global window.
  - q54: two shuffles total (fp-dedup, then lang rollup on a 3-value key
    whose partial aggregation collapses map-side).
  - q57: explode is linear; tf groupBy keys are (doc_id, term) - doc_id
    spreads hot terms so no salt needed; df table is vocab-sized and the
    tf<->df join shuffles on term where AQE skew-split handles stopword
    skew; final top-k is a bounded per-doc window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import QuerySpec
from ..tables import load_table, load_table_parallel
from .dedup import _BANDS_SQL, _pairs_sql, lsh_candidate_pairs, minhash_bands
from .textstats import TOKEN_RE

# ---------------------------------------------------------------- q52


def q52_neardup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup survivor set from MinHash-LSH collisions.

    A document is dropped iff it collides (any shared band bucket) with a
    lower-id document; the lowest id in every collision pair survives.
    This is the greedy pairwise policy (not transitive-closure connected
    components - a doc surviving its own pairs stays even if its partner
    also pairs elsewhere), which is the standard single-pass policy at
    corpus scale because it needs no iterative computation. Candidate
    generation is hot-bucket capped (dedup.LSH_MAX_BUCKET).
    """
    dropped = (
        lsh_candidate_pairs(minhash_bands(spark, sf_dir))
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    docs = load_table_parallel(spark, sf_dir, "documents")
    return docs.join(dropped, "doc_id", "left_anti").select("doc_id", "lang", "source")


Q52_SQL = f"""
WITH bands AS ({_BANDS_SQL}),
pairs AS ({_pairs_sql()}),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
SELECT d.doc_id, d.lang, d.source
FROM documents d ANTI JOIN dropped USING (doc_id)
"""

# ---------------------------------------------------------------- q53

PUNCT_RE = "[,.!?;:]"
_STOP = ("the", "a", "an", "and", "of", "to", "in", "is")
_EN_MARKERS = ("the", "and", "of", "to", "is")
_DE_MARKERS = ("der", "die", "das", "und", "ist")
_ES_MARKERS = ("el", "la", "los", "de", "es")


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document map-side scoring frame shared by q53/q54."""
    docs = load_table_parallel(spark, sf_dir, "documents")
    n_tokens = F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0))
    stop_cnt = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(r"\b(" + "|".join(_STOP) + r")\b"), 0
        )
    )
    mk = lambda ws: F.size(  # noqa: E731
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\b(" + "|".join(ws) + r")\b"), 0)
    )
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    scored = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("len_chars"),
        n_tokens.alias("n_tokens"),
        stop_cnt.alias("stop_cnt"),
        mk(_EN_MARKERS).alias("score_en"),
        mk(_DE_MARKERS).alias("score_de"),
        mk(_ES_MARKERS).alias("score_es"),
        F.md5(normalized).alias("content_fp"),
    )
    pred = (
        F.when(
            (F.col("score_en") >= F.col("score_de")) & (F.col("score_en") >= F.col("score_es")),
            F.lit("en"),
        )
        .when(F.col("score_de") >= F.col("score_es"), F.lit("de"))
        .otherwise(F.lit("es"))
    )
    return scored.withColumn("predicted_lang", pred)


_SCORED_SQL = f"""
  SELECT doc_id, lang,
         length(text) AS len_chars,
         len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens,
         len(regexp_extract_all(lower(text), '\\b({"|".join(_STOP)})\\b')) AS stop_cnt,
         len(regexp_extract_all(lower(text), '\\b({"|".join(_EN_MARKERS)})\\b')) AS score_en,
         len(regexp_extract_all(lower(text), '\\b({"|".join(_DE_MARKERS)})\\b')) AS score_de,
         len(regexp_extract_all(lower(text), '\\b({"|".join(_ES_MARKERS)})\\b')) AS score_es,
         md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS content_fp,
         CASE WHEN len(regexp_extract_all(lower(text), '\\b({"|".join(_EN_MARKERS)})\\b'))
                   >= len(regexp_extract_all(lower(text), '\\b({"|".join(_DE_MARKERS)})\\b'))
               AND len(regexp_extract_all(lower(text), '\\b({"|".join(_EN_MARKERS)})\\b'))
                   >= len(regexp_extract_all(lower(text), '\\b({"|".join(_ES_MARKERS)})\\b'))
              THEN 'en'
              WHEN len(regexp_extract_all(lower(text), '\\b({"|".join(_DE_MARKERS)})\\b'))
                   >= len(regexp_extract_all(lower(text), '\\b({"|".join(_ES_MARKERS)})\\b'))
              THEN 'de' ELSE 'es' END AS predicted_lang
  FROM documents
"""

# the cleaning policy (shared constants so Spark and oracle agree)
MIN_CHARS = 20
MIN_TOKENS = 5
MAX_STOP_RATIO = 0.5


def q53_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus cleaning: quality gate -> exact-content dedup.

    Keep-first dedup is expressed as min(doc_id) per content_fp + semi-join
    back (two passes over a tiny aggregate, no global window): the
    aggregation is partial/map-side combining and the join key (doc_id)
    re-uses the survivor ids - at 100 TB this is one uniform shuffle on a
    cryptographic-hash key plus one broadcast-able survivors join.
    """
    s = _scored(spark, sf_dir)
    passing = s.filter(
        (F.col("len_chars") >= MIN_CHARS)
        & (F.col("n_tokens") >= MIN_TOKENS)
        & (
            F.col("stop_cnt").cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            < MAX_STOP_RATIO
        )
    )
    survivors = passing.groupBy("content_fp").agg(F.min("doc_id").alias("doc_id"))
    return (
        passing.join(survivors.select("doc_id"), "doc_id", "left_semi")
        .select("doc_id", "lang", "predicted_lang", "len_chars", "n_tokens", "content_fp")
    )


Q53_SQL = f"""
WITH s AS ({_SCORED_SQL}),
passing AS (
  SELECT * FROM s
  WHERE len_chars >= {MIN_CHARS} AND n_tokens >= {MIN_TOKENS}
    AND CAST(stop_cnt AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) < {MAX_STOP_RATIO}
),
survivors AS (SELECT min(doc_id) AS doc_id FROM passing GROUP BY content_fp)
SELECT doc_id, lang, predicted_lang, len_chars, n_tokens, content_fp
FROM passing SEMI JOIN survivors USING (doc_id)
"""

# ---------------------------------------------------------------- q54


def q54_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-clean per-language corpus statistics (the report a data-prep
    run emits): doc count, token volume, char volume, mean doc length.

    avg is sum/count in both engines over int64 - bit-deterministic as an
    int/int double division.
    """
    cleaned = q53_clean_pipeline(spark, sf_dir)
    return (
        cleaned.groupBy("predicted_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("len_chars").alias("total_chars"),
            (
                F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("avg_tokens"),
        )
        .orderBy("predicted_lang")
    )


Q54_SQL = f"""
WITH cleaned AS ({Q53_SQL})
SELECT predicted_lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(len_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_tokens
FROM cleaned GROUP BY predicted_lang ORDER BY predicted_lang
"""

# ---------------------------------------------------------------- q57

TFIDF_TOPK = 5


def q57_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k distinguishing terms per document, ranked (tf DESC, df ASC,
    term ASC) - TF-IDF ordering without floats (N is constant per corpus,
    so ranking by tf/df is ranking by tf*idf; ties pinned by term).

    Plan: explode (linear) -> tf groupBy on (doc_id, term) - the doc_id
    component spreads hot stopword terms uniformly, so the big shuffle has
    no skew -> df groupBy on term (skewed, but rows are already one per
    (doc, term) so the reduce side holds only vocab-sized partials; AQE
    skew-split covers the residual) -> tf<->df equi-join on term ->
    bounded per-doc window for the top-k.
    """
    # plain load: the tf subtree feeds BOTH the df aggregate and the join,
    # so an input repartition would be paid twice, and the explode's own
    # (doc_id, term) shuffle already spreads the work (measured: 0.63s
    # plain vs 1.09s with the round-robin spread at sf0.1)
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(TOKEN_RE), 0)
        ).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(df_, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "df", "rank")
    )


Q57_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
  FROM tf JOIN df USING (term)
)
SELECT doc_id, term, tf, df, rank FROM ranked WHERE rank <= {TFIDF_TOPK}
"""


# ---------------------------------------------------------------- q58

ANN_TOPK = 5


def q58_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gated retrieval: ANN top-k restricted to documents that pass
    the cleaning quality gate (doc_id keys the embeddings table 1:1 here).

    The realistic serving shape: metadata predicates prune the candidate
    set BEFORE vector scoring - at 100 TB the semi-join against the
    (small, broadcastable) passing-id set cuts the scored corpus by the
    filter selectivity, which dominates end-to-end latency; the scoring
    fold and bounded top-k window are the same plan as q48.
    """
    from .similarity import cosine

    s = _scored(spark, sf_dir)
    passing_ids = s.filter(
        (F.col("len_chars") >= MIN_CHARS)
        & (F.col("n_tokens") >= MIN_TOKENS)
        & (
            F.col("stop_cnt").cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            < MAX_STOP_RATIO
        )
    ).select(F.col("doc_id").alias("vec_id"))

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    cand = emb.join(F.broadcast(passing_ids), "vec_id", "left_semi").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine("q_emb", "c_emb").alias("cos_sim"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_TOPK)
        .orderBy("query_id", "rank")
    )


def _q58_sql() -> str:
    from .similarity import _sql_cos

    return f"""
WITH s AS ({_SCORED_SQL}),
passing AS (
  SELECT doc_id AS vec_id FROM s
  WHERE len_chars >= {MIN_CHARS} AND n_tokens >= {MIN_TOKENS}
    AND CAST(stop_cnt AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) < {MAX_STOP_RATIO}
),
cand AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS c_emb
  FROM embeddings e SEMI JOIN passing USING (vec_id)
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.neighbor_id, {_sql_cos('q.q_emb', 'c.c_emb')} AS cos_sim
  FROM q CROSS JOIN cand c
  WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {ANN_TOPK} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------- q76


def q76_filtered_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gated ANN, served through sign-LSH buckets — the default
    serving path at corpus scale (q58 stays as the documented exact
    baseline for recall measurement).

    Plan shape: candidate selection is an EQUI-join on the sign-LSH
    bucket id (no crossJoin over the corpus anywhere — plan-asserted in
    tests/test_plans.py), the quality gate semi-join prunes candidates
    BEFORE any cosine is evaluated, and the per-query top-k is a bounded
    window on query_id. At 100 TB the scored set is
    |bucket ∩ passing| per query instead of |passing| — the crossJoin
    baseline's O(Q·N) scoring collapses to O(Q·N/2^planes) expected.
    """
    from .similarity import _bucket, cosine

    s = _scored(spark, sf_dir)
    passing_ids = s.filter(
        (F.col("len_chars") >= MIN_CHARS)
        & (F.col("n_tokens") >= MIN_TOKENS)
        & (
            F.col("stop_cnt").cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            < MAX_STOP_RATIO
        )
    ).select(F.col("doc_id").alias("vec_id"))

    emb = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _bucket("embedding").alias("bucket")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    cand = emb.join(F.broadcast(passing_ids), "vec_id", "left_semi").select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"), "bucket"
    )
    scored = (
        F.broadcast(q)
        .join(cand, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "bucket", "neighbor_id", cosine("q_emb", "c_emb").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_TOPK)
        .orderBy("query_id", "rank")
    )


def _q76_sql() -> str:
    from .similarity import _SQL_BUCKET, _sql_cos

    return f"""
WITH s AS ({_SCORED_SQL}),
passing AS (
  SELECT doc_id AS vec_id FROM s
  WHERE len_chars >= {MIN_CHARS} AND n_tokens >= {MIN_TOKENS}
    AND CAST(stop_cnt AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) < {MAX_STOP_RATIO}
),
b AS (
  SELECT vec_id, embedding, {_SQL_BUCKET.format(col='embedding')} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM b WHERE vec_id < 5),
cand AS (
  SELECT e.vec_id AS neighbor_id, e.embedding AS c_emb, e.bucket
  FROM b e SEMI JOIN passing p ON e.vec_id = p.vec_id
),
scored AS (
  SELECT q.query_id, q.bucket, c.neighbor_id, {_sql_cos('q.q_emb', 'c.c_emb')} AS cos_sim
  FROM q JOIN cand c USING (bucket)
  WHERE q.query_id <> c.neighbor_id
)
SELECT query_id, bucket, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= {ANN_TOPK} ORDER BY query_id, rank
"""


# ---------------------------------------------------------------- q123

SERVING_RECALL_TARGET = 0.8  # mean recall@ANN_TOPK the serving config must clear


def q123_ann_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-GATED filtered ANN serving: the promotion q120-q122's audit
    curve demands. q120 measured single-probe sign-LSH at recall@5 ≈ 0.02
    on this vector distribution — unservable — while the IVF multi-probe
    path (q121's mechanics) recovers the clustered structure the
    hyperplane signs miss. So the serving default routes q76's
    quality-gated task through IVF N_PROBE-list candidates, and the SAME
    query emits its own measured recall against the exact filtered
    baseline plus a meets_target verdict against the stated
    SERVING_RECALL_TARGET — a config only "serves" with its guardrail
    number attached (measured here: mean 0.92 at sf0.01).

    Plan shape: the quality gate prunes the corpus FIRST (broadcast
    semi-join, before any assignment cost), and list assignment and
    query probing are map-side folds over one broadcast row of the K
    packed centroids. The audit is q121's one pass (_cos_recall): every
    (query, passing vector) pair enters the exact ranking, and the
    served candidates are a predicate on that pass, the pairs whose
    list is among the query's N_PROBE probes. q51 is the standalone
    serving plan (an equi-join on cid scanning ~N_PROBE/K of the
    corpus per query); the per-query-linear exact baseline is the
    audit's bounded query set (the q120-q122 pattern), which at 100 TB
    runs on a query SAMPLE.

    Cross-engine determinism: recall_at_k and mean_recall are single
    divisions of exact integer counts (no float accumulation), so the
    doubles are bit-identical in both engines. mean_recall and
    meets_target ride one aggregate over the per-query rows.
    """
    from .similarity import (
        N_CENTROIDS,
        _PROBE_SLOT,
        _argmax_cosine_packed,
        _cos_recall,
        _mean_recall,
        _with_probes,
    )

    s = _scored(spark, sf_dir)
    passing_ids = s.filter(
        (F.col("len_chars") >= MIN_CHARS)
        & (F.col("n_tokens") >= MIN_TOKENS)
        & (
            F.col("stop_cnt").cast("double")
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double")
            < MAX_STOP_RATIO
        )
    ).select(F.col("doc_id").alias("vec_id"))

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    # quality gate BEFORE assignment: only passing vectors pay the
    # broadcast-centroid fold, and both rankings see the same candidate
    # universe. Assignment is the shared map-only packed fold
    # (similarity._argmax_cosine_packed): no groupBy, so the passing
    # corpus never shuffles to pick its list.
    cand = _argmax_cosine_packed(
        emb.join(F.broadcast(passing_ids), "vec_id", "left_semi"), cent
    ).select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"), "cid")
    q = _with_probes(
        emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding"),
        cent,
    ).select("query_id", F.col("embedding").alias("q_emb"), "probes")
    per_q = _cos_recall(F.broadcast(q).crossJoin(cand), f"{_PROBE_SLOT} > 0", ANN_TOPK)
    mean = F.col("mean_recall")
    return (
        per_q.agg(
            F.collect_list(F.struct("query_id", "n_hits", "recall_at_k")).alias("qs"),
            _mean_recall("n_hits", ANN_TOPK).alias("mean_recall"),
        )
        .select(F.inline("qs"), mean, (mean >= SERVING_RECALL_TARGET).alias("meets_target"))
        .orderBy("query_id")
    )


def _q123_sql() -> str:
    from .similarity import N_CENTROIDS, N_PROBE, _sql_cos

    return f"""
WITH s AS ({_SCORED_SQL}),
passing AS (
  SELECT doc_id AS vec_id FROM s
  WHERE len_chars >= {MIN_CHARS} AND n_tokens >= {MIN_TOKENS}
    AND CAST(stop_cnt AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE) < {MAX_STOP_RATIO}
),
cent AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
cand AS (
  SELECT vec_id AS neighbor_id, embedding AS c_emb, cid AS c_cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM (SELECT * FROM embeddings SEMI JOIN passing USING (vec_id)) e
    CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
probes AS (
  SELECT query_id, q_emb, cid FROM (
    SELECT q.query_id, q.q_emb, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_cos('q.q_emb', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {N_PROBE}
),
served AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, c.neighbor_id,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY {_sql_cos('p.q_emb', 'c.c_emb')} DESC, c.neighbor_id) AS rank
    FROM probes p JOIN cand c ON p.cid = c.c_cid
    WHERE p.query_id <> c.neighbor_id
  ) WHERE rank <= {ANN_TOPK}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_cos('q.q_emb', 'c.c_emb')} DESC, c.neighbor_id) AS rank
    FROM q CROSS JOIN cand c WHERE q.query_id <> c.neighbor_id
  ) WHERE rank <= {ANN_TOPK}
),
per_q AS (
  SELECT x.query_id, COALESCE(h.n_hits, 0) AS n_hits
  FROM (SELECT DISTINCT query_id FROM exact) x
  LEFT JOIN (
    SELECT e.query_id, COUNT(*) AS n_hits
    FROM exact e JOIN served a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
  ) h ON x.query_id = h.query_id
)
SELECT query_id, n_hits,
       CAST(n_hits AS DOUBLE) / {float(ANN_TOPK)} AS recall_at_k,
       CAST(SUM(n_hits) OVER () AS DOUBLE)
         / CAST(COUNT(*) OVER () * {ANN_TOPK} AS DOUBLE) AS mean_recall,
       (CAST(SUM(n_hits) OVER () AS DOUBLE)
         / CAST(COUNT(*) OVER () * {ANN_TOPK} AS DOUBLE)) >= {SERVING_RECALL_TARGET}
         AS meets_target
FROM per_q
ORDER BY query_id
"""


QUERIES = {
    "q52_neardup_resolve": QuerySpec(
        q52_neardup_resolve, Q52_SQL, "LSH fuzzy-dedup survivor set"
    ),
    "q123_ann_serving": QuerySpec(
        q123_ann_serving,
        _q123_sql(),
        "recall-gated ANN serving: IVF multi-probe + in-query recall audit vs target",
    ),
    "q58_filtered_ann": QuerySpec(
        q58_filtered_ann, _q58_sql(), "quality-gated ANN retrieval (exact baseline)"
    ),
    "q76_filtered_ann_lsh": QuerySpec(
        q76_filtered_ann_lsh, _q76_sql(), "quality-gated ANN via sign-LSH buckets"
    ),
    "q53_clean_pipeline": QuerySpec(
        q53_clean_pipeline, Q53_SQL, "quality+lang+exact-dedup cleaning pipeline"
    ),
    "q54_corpus_stats": QuerySpec(q54_corpus_stats, Q54_SQL, "post-clean corpus stats"),
    "q57_tfidf_topk": QuerySpec(q57_tfidf_topk, Q57_SQL, "float-free TF-IDF top-k terms"),
}
