"""Similarity search over the `embeddings` table (array<float>, dim 64).

  - brute-force cosine top-k (the exact baseline)
  - sign-LSH bucketed top-k (the scale path: axis-aligned hyperplane
    buckets prune the candidate set before scoring)
  - near-duplicate pairs above a cosine threshold

All scoring uses built-in higher-order functions (zip_with + aggregate):
a sequential left-to-right double fold, which both Spark and DuckDB
evaluate with identical IEEE semantics — so scores are bit-comparable
with the oracle. No Python UDFs in the hot path.

Scale notes: brute-force is O(Q·N) — fine for small Q (re-ranking); the
LSH variant is the 100TB path: bucket ids are computed map-side, the
join is an equi-join on bucket id, and per-bucket top-k is a bounded
window. Multi-probe LSH (q122) and IVF (q51, q121) are the paths that
reach real recall targets; the recall audits (q120-q123, q138) measure
each path against the exact baseline in one ranking pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import QuerySpec, clone_tuned_session
from ..session import concurrent
from ..tables import load_table, load_table_parallel

DIM = 64


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _dot(a: str, b: str) -> Column:
    return F.expr(_dot_sql(a, b))


def _norm(a: str) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: str, b: str) -> Column:
    """Per-pair cosine; zero-vector-safe (r12): under Spark 4's
    default ANSI mode even DOUBLE division by zero throws, so one
    all-zero embedding (a failed encode) would crash every consumer.
    A zero norm divides by 1 instead (_safe_nrm), making cos(0, x) a
    deterministic 0.0; every NON-zero norm passes through untouched,
    so scores on real data are bit-identical to the unguarded form.
    _sql_cos carries the IDENTICAL guard (NULLIF/COALESCE), so the
    engines agree on zero vectors too — never fix one side alone."""
    return _dot(a, b) / (_safe_nrm(_norm(a)) * _safe_nrm(_norm(b)))


# DuckDB twin of the same sequential fold (1-based list indexing)
def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {DIM + 1}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _sql_safe_nrm(x: str) -> str:
    """DuckDB twin of _safe_nrm: NULLIF maps a zero norm to NULL and
    COALESCE restores the divide-by-1 — identical doubles for every
    non-zero norm, cosine 0.0 for the zero vector on both engines.
    A NULL norm (NULL embedding) also COALESCEs to divisor 1, matching
    _safe_nrm's otherwise(1.0) branch: the score stays NULL via the
    NULL dot product on both engines (ADVICE r12 #4)."""
    return f"COALESCE(NULLIF(sqrt({_sql_dot(x, x)}), 0), 1)"


def _sql_cos(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / ({_sql_safe_nrm(a)} * {_sql_safe_nrm(b)}))"


def q48_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for query vectors vec_id < 5."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    cand = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine("q_emb", "c_emb").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


Q48_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_sql_cos('q.q_emb', 'e.embedding')} AS cos_sim
  FROM q CROSS JOIN embeddings e
  WHERE q.query_id <> e.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10 ORDER BY query_id, rank
"""

N_PLANES = 8  # sign-LSH on the first 8 dims


def _bucket(col: str) -> Column:
    # bucket id = sign-bit pattern of the first N_PLANES components —
    # an axis-aligned random-hyperplane LSH (deterministic, oracle-able).
    return F.expr(
        f"aggregate(zip_with(slice({col}, 1, {N_PLANES}), sequence(0, {N_PLANES - 1}),"
        f" (v, b) -> CASE WHEN v >= CAST(0 AS FLOAT) THEN shiftleft(CAST(1 AS BIGINT), b)"
        f" ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


_SQL_BUCKET = (
    f"CAST(list_sum(list_transform(range(1, {N_PLANES + 1}),"
    f" i -> CASE WHEN {{col}}[i] >= 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END))"
    f" AS BIGINT)"
)


def q49_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: candidates restricted to the query's sign-LSH bucket."""
    emb = load_table_parallel(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _bucket("embedding").alias("bucket")
    )
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), "bucket"
    )
    scored = (
        F.broadcast(q)
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"), "bucket"),
            "bucket",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "bucket", "neighbor_id", cosine("q_emb", "c_emb").alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


Q49_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_SQL_BUCKET.format(col='embedding')} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM b WHERE vec_id < 20),
scored AS (
  SELECT q.query_id, q.bucket, e.vec_id AS neighbor_id,
         {_sql_cos('q.q_emb', 'e.embedding')} AS cos_sim
  FROM q JOIN b e USING (bucket)
  WHERE q.query_id <> e.vec_id
)
SELECT query_id, bucket, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank
"""


def q50_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.2) among vec_id < 200.

    This is the EXACT all-pairs baseline on a bounded id range (the
    oracle-tractable ground truth); the production path over the full
    corpus is q74_embedding_neardup_lsh, where candidates come from
    sign-LSH band buckets and only candidates are scored.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine("emb_a", "emb_b").alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.2)
        .orderBy("id_a", "id_b")
    )


Q50_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_sql_cos('a.embedding', 'b.embedding')} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 200 AND b.vec_id < 200
  AND {_sql_cos('a.embedding', 'b.embedding')} >= 0.2
ORDER BY id_a, id_b
"""


NEARDUP_BANDS = 8  # sign-LSH bands for q74: band b covers dims 8b+1..8b+8
NEARDUP_THRESHOLD = 0.35


def q74_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup over the FULL corpus via sign-LSH candidates —
    the q45-style candidate→verify shape for vectors.

    Candidate generation: 8 sign-LSH bands (band b = the 8-bit sign
    pattern of dims 8b+1..8b+8, computed map-side), then the shared
    bucket-group pair expansion with the hot-bucket cap — ONE shuffle, no
    self-join, no within-bucket quadratic blow-up. Exact cosine runs only
    on candidates, so the corpus is never crossed with itself: |pairs| ≈
    collision survivors, not N².

    Verify-stage shape mirrors q73: pairs are materialized once
    (localCheckpoint) and NEVER broadcast — the survivor set is small but
    not globally bounded, so the pair↔embedding joins are plain equi-joins
    on vec_id (AQE picks the strategy); the embedding table is semi-join
    pruned to candidate ids once and that checkpointed slice feeds both
    join sides, so the verify plan re-scans nothing.

    Similar vectors agree on a random hyperplane with prob 1 - θ/π, so a
    cos≥0.35 pair collides in a given 8-plane band with p≈(0.62)^8 and in
    ≥1 of 8 bands with useful recall, while random pairs (cos≈0) collide
    at (1/2)^8 per band — the standard banded-LSH recall/precision dial.
    """
    from .dedup import lsh_candidate_pairs

    emb = load_table_parallel(spark, sf_dir, "embeddings")
    bands_arr = F.expr(
        f"""
        transform(sequence(0, {NEARDUP_BANDS - 1}), b ->
          aggregate(zip_with(slice(embedding, b * 8 + 1, 8), sequence(0, 7),
            (v, i) -> IF(v >= CAST(0 AS FLOAT),
                         shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (acc, x) -> acc + x))
        """
    )
    bands = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.posexplode(bands_arr).alias("band_id", "band_hash"),
    ).select("doc_id", F.col("band_id").cast("bigint"), "band_hash")
    pairs = lsh_candidate_pairs(bands).localCheckpoint(eager=True)
    cand_ids = (
        pairs.select(F.col("doc_a").alias("vec_id"))
        .union(pairs.select(F.col("doc_b").alias("vec_id")))
        .distinct()
    )
    cand_emb = (
        emb.join(cand_ids, "vec_id", "left_semi")
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    ea = cand_emb.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("emb_a"))
    eb = cand_emb.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("emb_b"))
    return (
        pairs.join(ea, "doc_a")
        .join(eb, "doc_b")
        .select(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            cosine("emb_a", "emb_b").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEARDUP_THRESHOLD)
        .orderBy("id_a", "id_b")
    )


def _q74_sql() -> str:
    from .dedup import _pairs_sql

    return f"""
WITH bands AS (
  SELECT vec_id AS doc_id, b AS band_id,
         CAST(list_sum(list_transform(range(1, 9),
              i -> CASE WHEN embedding[8*b + i] >= 0
                        THEN (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)) ELSE 0 END))
              AS BIGINT) AS band_hash
  FROM embeddings CROSS JOIN range(0, {NEARDUP_BANDS}) r(b)
),
pairs AS ({_pairs_sql()}),
scored AS (
  SELECT p.doc_a AS id_a, p.doc_b AS id_b,
         {_sql_cos('a.embedding', 'b.embedding')} AS cos_sim
  FROM pairs p
  JOIN embeddings a ON a.vec_id = p.doc_a
  JOIN embeddings b ON b.vec_id = p.doc_b
)
SELECT id_a, id_b, cos_sim FROM scored
WHERE cos_sim >= {NEARDUP_THRESHOLD} ORDER BY id_a, id_b
"""


N_CENTROIDS = 16  # coarse-quantizer size (stand-in for k-means output)
N_PROBE = 2  # centroid lists probed per query


def q51_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus onto centroid
    lists, probe only the query's nearest N_PROBE lists, then score.

    Centroids here are the first N_CENTROIDS vectors (a deterministic,
    oracle-able stand-in for k-means output — real training happens
    offline; the serving plan below is identical either way).

    Scale shape (the part that matters at 100 TB):
      - assignment is MAP-ONLY — the K centroids pack into one broadcast
        array row and the full-cosine argmax runs as an expression fold
        (_argmax_cosine_packed): the corpus never shuffles to pick its
        list (the former crossJoin + groupBy(vec_id) paid a full-corpus
        exchange to finalize a partition-local argmax);
      - each query's N_PROBE lists are one map-side expression over
        the same packed centroids (_with_probes); the Q×N_PROBE probe
        rows broadcast into the candidate equi-join on cid, so
        candidate selection is also shuffle-free;
      - only the final per-query top-k window shuffles, on query_id
        (cardinality Q, uniform).
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )

    # coarse assignment: argmax cosine, ties -> smallest cid
    assigned = _argmax_cosine_packed(emb, cent).select(
        "vec_id", F.col("embedding").alias("c_emb"), "cid"
    )

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    probes = _with_probes(q, cent).select(
        "query_id", F.col("embedding").alias("q_emb"), F.explode("probes").alias("cid")
    )

    scored = (
        F.broadcast(probes)
        .join(assigned, "cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine("q_emb", "c_emb").alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


Q51_SQL = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
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
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_sql_cos('p.q_emb', 'a.embedding')} AS cos_sim
  FROM probes p JOIN assigned a USING (cid)
  WHERE p.query_id <> a.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank
"""


KMEANS_ITERS = 2
KMEANS_SCALE = 1_000_000  # centroid means quantized to 1e-6 (exact int sums)


def _safe_nrm(nrm: Column) -> Column:
    """A norm usable as a divisor under Spark 4's default ANSI mode,
    where even DOUBLE division by zero THROWS: a zero norm divides by
    1 instead, mapping the all-zero vector to the all-zero direction
    (its dot with anything is 0 — a deterministic, sensible score for
    a failed-encode embedding) rather than crashing the whole
    assignment pass (found by the r12 over-cap experiment: one
    zero vector killed _assign under a vanilla ANSI session). Every
    NON-zero norm passes through untouched, so scores on real data
    are bit-identical to the unguarded division — the oracle hashes
    cannot move.

    A NULL norm (NULL embedding) ALSO lands in the otherwise(1.0)
    branch — `nrm != 0.0` is NULL, which when() treats as false — so
    the divisor is 1 and the score stays NULL via the NULL dot
    product. The DuckDB twin (_sql_safe_nrm's COALESCE(NULLIF(·,0),1))
    maps NULL → 1 identically; this NULL-in/NULL-out agreement is part
    of the cross-engine contract, not an accident — keep both branches
    in lockstep if either changes (ADVICE r12 #4)."""
    return F.when(nrm != 0.0, nrm).otherwise(F.lit(1.0))


def _unit(col_name: str, nrm_col: str) -> Column:
    """Embedding divided by its (precomputed) L2 norm, as double[];
    zero norms divide by 1 (see _safe_nrm)."""
    safe = _safe_nrm(F.col(nrm_col))
    return F.transform(F.col(col_name), lambda x: x.cast("double") / safe)


def _unit_sims_sql(cents_col: str) -> str:
    """Per-row (sim, -cid) structs, one per packed centroid: sim is the
    dot of the row's `embedding` with the unit centroid c_unit, cosine's
    order at a third of the arithmetic (see _assign). Struct order is
    (sim desc, cid asc) under a descending sort."""
    return (
        f"transform({cents_col}, c -> named_struct("
        f"'sim', {_dot_sql('embedding', 'c.c_unit')}, 'ncid', -c.cid))"
    )


def _argmax_sql(cents_col: str) -> str:
    """The per-row nearest-centroid argmax as ONE expression over a
    packed centroid array: dot evaluated exactly once per centroid
    (_unit_sims_sql), then array_max over (sim, -cid) structs — the
    identical total order max_by(cid, struct(sim, -cid)) ranks by
    (highest sim, ties to the LOWEST cid), and max over it is
    order-independent, so the packing order cannot affect the result."""
    return f"array_max({_unit_sims_sql(cents_col)})"


def _packed_fold(
    emb: DataFrame,
    rows: DataFrame,
    struct_cols: list[str],
    argmax_sql,
) -> DataFrame:
    """THE packed-broadcast argmax fold, shared by _assign and
    _argmax_cosine_packed (the two differ only in their packed struct
    columns, their argmax SQL, and their output projection): the K
    centroid rows pack into ONE collect_list array inside one broadcast
    row, and the argmax runs per corpus row as an expression fold.
    Returns the corpus frame with `_best` attached; never shuffles it.

    The array is bounded by Spark's ~2 GB single-array/row cap: at D=64
    a packed centroid is ~(D+2)×8 ≈ 528 bytes, so about 10^6 centroids
    fit. Every lane packs at most N_CENTROIDS rows (SCALE.md's IVF
    bullet). An empty centroid table packs to an empty array, which the
    size guard drops, so the result is zero rows."""
    packed = rows.agg(
        F.collect_list(F.struct(*struct_cols)).alias("cents")
    ).where(F.size("cents") > 0)
    return emb.crossJoin(F.broadcast(packed)).withColumn(
        "_best", F.expr(argmax_sql("cents"))
    )


def _assign(
    emb: DataFrame,
    cent: DataFrame,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest-centroid assignment, MAP-ONLY: the K normalized centroids
    are packed into a single array row, broadcast, and the per-row
    argmax runs as one expression fold (_argmax_sql) — no groupBy, so
    the corpus never shuffles for an assignment pass (K ceiling: see
    _packed_fold).

    The previous shape (crossJoin to K rows + groupBy(vec_id) max_by)
    computed the same argmax but paid one full-corpus exchange per call
    — N rows × (embedding + carry) bytes, the only corpus-wide shuffle
    in the Lloyd training loop (q86/q124 pay it per round) and a
    pure-overhead predecessor to q98/q133's own cid-keyed shuffles. At
    10^9+ vectors that exchange dominates the round; the fold removes
    it outright (A/B at sf0.1: bit-identical assignments, 4.20→3.73 s
    on the q124 loop even at a 2000-vector scale where shuffle cost is
    trivial). Broadcast payload is K×D doubles either way.

    Centroids are L2-normalized ONCE (K rows, driver-cheap) so the
    per-row ranking is a single dot-product fold instead of the full
    3-fold cosine: argmax_c cos(e, c) == argmax_c dot(e, c/|c|) because
    |e| is a per-row positive constant. The oracle ranks by the
    identical normalized-dot expression so near-tie rounding agrees.

    Degenerate input keeps the old crossJoin contract ENFORCED, not
    just documented: an empty cent packs to an empty array, which the
    size guard drops, so the result is zero rows — never N rows with a
    NULL cid (review r10)."""
    folded = _packed_fold(emb, _unit_centroids(cent), ["cid", "c_unit"], _argmax_sql)
    return folded.select(
        "vec_id",
        (-F.col("_best.ncid")).cast("bigint").alias("cid"),
        "embedding",
        *carry,
    )


def _cos_sims_sql(cents_col: str) -> str:
    """Per-row (sim, -cid) structs, one per packed centroid: sim is the
    full cosine dot/(|e|*|c|) of the row's `embedding`, with both norms
    hoisted out of the per-centroid lambda (`_enrm` per row, `c_nrm`
    per centroid — pure functions of their own arrays, so identical
    doubles to the per-pair cosine(), computed once instead of per
    pair). Struct order is the window order (sim desc, cid asc)."""
    return (
        f"transform({cents_col}, c -> named_struct("
        "'sim', aggregate(zip_with(embedding, c.c_emb,"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v) / (_enrm * c.c_nrm),"
        " 'ncid', -c.cid))"
    )


def _cos_argmax_sql(cents_col: str) -> str:
    """The full-cosine twin of _argmax_sql, for queries whose oracle
    ranks by (or outputs) cosine itself: the max of _cos_sims_sql."""
    return f"array_max({_cos_sims_sql(cents_col)})"


def _probes_sql(sims: str) -> str:
    """A row's N_PROBE nearest coarse lists as one expression: the cids
    of the first N_PROBE entries of its (sim, -cid) structs `sims`
    (_cos_sims_sql or _unit_sims_sql) sorted descending, which is the
    (sim desc, cid asc) order the oracles' probe windows rank by."""
    return f"transform(slice(sort_array({sims}, false), 1, {N_PROBE}), p -> -p.ncid)"


# the 1-based slot of a neighbor's coarse list `cid` among its query's
# `probes`, 0 when the list is not probed; a neighbor lives in exactly
# one list, so a probed pair is one candidate (in the PQ lanes, scored
# against that list's LUT)
_PROBE_SLOT = "CAST(array_position(probes, cid) AS INT)"


def _with_probes(q: DataFrame, cent: DataFrame) -> DataFrame:
    """The rows of `q` (an `embedding` column among them) plus `probes`,
    their N_PROBE nearest lists by full cosine (_probes_sql over
    _cos_sims_sql), computed map-side against one broadcast row of the
    packed (cid, c_emb) centroids `cent` (_packed_cents)."""
    return (
        q.withColumn("_enrm", _safe_nrm(_norm("embedding")))
        .crossJoin(F.broadcast(_packed_cents(cent)))
        .withColumn("probes", F.expr(_probes_sql(_cos_sims_sql("cents"))))
        .drop("_enrm", "cents")
    )


def _argmax_cosine_packed(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid, sim, embedding): nearest centroid by FULL cosine,
    map-only — _assign's packed-broadcast fold (same corpus-shuffle-
    removal rationale, see _assign) for consumers whose oracle compares
    or outputs the cosine VALUE, where ranking by normalized dot would
    drift on near-ties. sim is the winner's cosine, bit-identical to
    the former per-pair cosine("embedding", "c_emb") (hash-gate-proven
    on q100). Empty cent yields zero rows (same size guard as _assign).

    K ceiling: the broadcast payload is K×(D+2) doubles (~34 MB at the
    K=2^16 IVF sizing SCALE.md §4 vouches for, D=64); see _packed_fold."""
    folded = _packed_fold(
        # norms are hoisted as DIVISORS for _cos_argmax_sql — guard
        # zeros at creation (see _safe_nrm): a zero query embedding or
        # zero centroid scores sim 0 instead of throwing under ANSI
        emb.withColumn("_enrm", _safe_nrm(_norm("embedding"))),
        _cent_fields(cent),
        ["cid", "c_emb", "c_nrm"],
        _cos_argmax_sql,
    )
    return folded.select(
        "vec_id",
        (-F.col("_best.ncid")).cast("bigint").alias("cid"),
        F.col("_best.sim").alias("sim"),
        "embedding",
    )


# the packed coarse-centroid struct the probing lanes broadcast: the
# cosine argmax and the probe ranking read (cid, c_emb, c_nrm)
# (_cos_sims_sql), q133's probes and the residual read c_unit
_CENT_FIELDS = ["cid", "c_emb", "c_nrm", "c_unit"]


def _cent_fields(cent: DataFrame) -> DataFrame:
    """(cid, c_emb, c_nrm, c_unit) of a (cid, c_emb) centroid frame: the
    zero-safe norm the cosine divides by (_safe_nrm) and the unit
    centroid, computed ONCE per centroid (K rows, driver-cheap). THE
    centroid law: assignment, probing and the residual all read it."""
    return cent.select(
        "cid", "c_emb", _safe_nrm(_norm("c_emb")).alias("c_nrm")
    ).withColumn("c_unit", _unit("c_emb", "c_nrm"))


def _packed_cents(cent: DataFrame) -> DataFrame:
    """ONE row, column `cents`: the centroid frame's _CENT_FIELDS
    structs, the state a broadcast serving pass probes (_probes_sql)
    and maps residuals against."""
    return _cent_fields(cent).agg(
        F.collect_list(F.struct(*_CENT_FIELDS)).alias("cents")
    )


def _unit_centroids(cent: DataFrame) -> DataFrame:
    """(cid, c_unit): centroids L2-normalized ONCE (_cent_fields) so
    N x K scoring stages rank by a single dot fold — shared by
    assignment (_assign) and the residual corpus (q168)."""
    return _cent_fields(cent).select("cid", "c_unit")


def _update(assigned: DataFrame) -> DataFrame:
    """Element-wise centroid means, exactly and order-independently:
    each component is floored to 1e-6 resolution and summed as int64
    (bit-identical under any aggregation order / engine), then divided
    back out. 64 scalar aggregates in ONE groupBy — no posexplode to
    |N|·D rows, partial aggregation stays map-side. At 10^12 rows per
    cluster swap the int64 sums for DECIMAL(38,0)."""
    sums = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.floor(F.col("embedding")[d] * KMEANS_SCALE).cast("bigint")
            ).alias(f"s{d}")
            for d in range(DIM)
        ],
    )
    mean = lambda d: (  # noqa: E731
        F.col(f"s{d}").cast("double") / F.col("n").cast("double") / F.lit(float(KMEANS_SCALE))
    )
    return sums.select("cid", F.array(*[mean(d) for d in range(DIM)]).alias("c_emb"))


def q86_kmeans_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means training for the IVF coarse quantizer — the piece
    q51 stands in for with "first K vectors": KMEANS_ITERS deterministic
    assign→update rounds from that same seed, then the final assignment.

    Everything is reproducible to the bit across engines and cluster
    layouts: assignment compares per-row cosine doubles (no accumulation
    across rows), and the update step's means are exact integer sums of
    1e-6-floored components — no float-summation order sensitivity, so
    the DuckDB oracle (same two rounds unrolled as SQL) must agree
    hash-exactly. Per round: one map-only packed-fold assignment (no
    corpus shuffle — see _assign) + ONE groupBy(cid) update agg;
    nothing shuffles more than K×(D+1) scalars. Empty clusters drop
    out (both engines aggregate only present cids).
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    return _lloyd(emb, cent)


def _lloyd(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """KMEANS_ITERS assign→update rounds + final assignment, with the
    K-row centroid table localCheckpointed each round: without the pin,
    the single final DAG re-derives round i's centroids inside every
    round j>i's broadcast (the lineage grows multiplicatively — measured
    21% slower at sf0.1); with it, each round's corpus pass runs exactly
    once. K×(D+1) scalars per checkpoint — driver-trivial at any scale,
    and the standard iterative-algorithm lineage cut (same move as the
    q83 star-contraction loop)."""
    cent = cent.localCheckpoint(eager=True)
    for _ in range(KMEANS_ITERS):
        cent = _update(_assign(emb, cent)).localCheckpoint(eager=True)
    return (
        _assign(emb, cent)
        .select("vec_id", "cid")
        .orderBy("vec_id")
    )


def _kmeans_sql(cent0_sql: str) -> str:
    """The KMEANS_ITERS-round Lloyd loop unrolled as DuckDB SQL, from an
    arbitrary seed-centroid relation (cid, c_emb)."""
    mean = (
        lambda d: f"CAST(SUM(CAST(floor(embedding[{d + 1}] * {KMEANS_SCALE}) AS BIGINT)) AS DOUBLE)"
        f" / CAST(COUNT(*) AS DOUBLE) / {float(KMEANS_SCALE)}"
    )
    assign = lambda cent: f"""
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_dot('e.embedding', 'c.c_unit')} DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN (
      SELECT cid,
             list_transform(c_emb, x -> CAST(x AS DOUBLE)
               / {_sql_safe_nrm('c_emb')}) AS c_unit
      FROM {cent}
    ) c
  ) WHERE rn = 1"""
    update = (
        lambda assigned: "SELECT cid, list_value("
        + ", ".join(mean(d) for d in range(DIM))
        + f") AS c_emb FROM {assigned} GROUP BY cid"
    )
    return f"""
WITH cent0 AS ({cent0_sql}),
a1 AS ({assign('cent0')}),
cent1 AS ({update('a1')}),
a2 AS ({assign('cent1')}),
cent2 AS ({update('a2')}),
a3 AS ({assign('cent2')})
SELECT vec_id, cid FROM a3 ORDER BY vec_id
"""


def _q86_sql() -> str:
    return _kmeans_sql(
        f"SELECT vec_id AS cid, embedding AS c_emb FROM embeddings WHERE vec_id < {N_CENTROIDS}"
    )


# ------------------------------------------------------------------ q124


def _hashed_seed(emb: DataFrame, k: int = N_CENTROIDS) -> DataFrame:
    """Deterministic hashed-sample seed centroids: the k vectors with
    the smallest md5(vec_id) — a reproducible stand-in for uniform
    random seeding, with none of the first-K-ids locality bias. cid is
    the rank in hash order (0..k-1), so the seed is a pure function of
    the id set in any engine and under any partitioning. THE one home
    of this law: the IVF trainers (q124 family, default k) and the PQ
    codebook trainers (q166 raw; q168/q174 through _pq_column_codebook,
    k=PQ_CODES) all draw from here."""
    seeds = (
        emb.select(
            F.md5(F.col("vec_id").cast("string")).alias("hk"), "vec_id", "embedding"
        )
        # orderBy+limit compiles to TakeOrderedAndProject: per-partition
        # top-K then a K-row driver merge — never a global sort
        .orderBy("hk", "vec_id")
        .limit(k)
    )
    w = Window.orderBy("hk", "vec_id")  # K rows — single-partition window is fine
    ranked = seeds.withColumn("rn", F.row_number().over(w))
    return ranked.select(
        (F.col("rn") - 1).cast("bigint").alias("cid"),
        F.col("embedding").alias("c_emb"),
    )


def q124_kmeans_hashed_seed_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q86's Lloyd training under the PRODUCTION seeding policy: a
    deterministic hashed sample instead of "first K vec_ids". q86's seed
    is fine for an oracle demo but biased at scale (ingestion order
    correlates with content — the first K ids of a crawl shard are not a
    uniform draw); hashing the id decorrelates the draw from ingestion
    order while keeping the bit-reproducibility discipline: the seed is
    a pure function of the id set, every later stage is the same
    integer-floored arithmetic as q86, and the DuckDB oracle replays the
    identical computation. (Full k-means++ D²-weighted seeding is
    inherently sequential-random; the hashed sample is the standard
    distributed stand-in.)

    Measured verdict (tests/test_pipeline_ops.py runs q121's IVF recall
    audit under BOTH seeds): on THIS synthetic corpus first-K wins
    (0.86 vs 0.40 at sf0.001) — the generator plants its clusters around
    early ids, so q86's "biased" seed lands on true centers. That is the
    audit doing its job: seed choice is an empirical, per-corpus decision
    gated by measured recall, never an assumption — on real crawl data
    the ingestion-order bias cuts the other way.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    return _lloyd(emb, _hashed_seed(emb))


def _q124_sql() -> str:
    return _kmeans_sql(
        f"""SELECT rn - 1 AS cid, c_emb FROM (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
             embedding AS c_emb
      FROM embeddings) WHERE rn <= {N_CENTROIDS}"""
    )


# ------------------------------------------------------------ q98 / q100

SEMDEDUP_THRESHOLD = NEARDUP_THRESHOLD  # same synthetic-embedding scale as q50/q74
SEMDEDUP_MAX_CLUSTER = 1024  # per-cluster pair-expansion cap (rank by vec_id)
OUTLIER_DECILES = 10  # q100: per-cluster decile binning of centroid similarity


def q98_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster-bucketed cosine
    pruning over the embedding table.

    Where q74 buckets candidates by sign-LSH, this is the k-means flavor
    published for LAION/web-text curation: assign every vector to its
    nearest coarse centroid, compare pairs ONLY within a cluster, and
    drop every member that has a more-canonical (smaller vec_id)
    near-duplicate (cosine >= threshold) in the same cluster.

    Scale shape:
      - assignment is the packed-centroid map-only fold (_assign) — the
        corpus never shuffles to pick its cluster;
      - the pair stage shuffles once on cid; in-cluster expansion is
        bounded by SEMDEDUP_MAX_CLUSTER² (rank-by-vec_id head, the same
        discipline as the LSH hot-bucket cap) — at 100 TB you grow
        N_CENTROIDS so expected cluster size stays ~10³, which is exactly
        how SemDeDup is run in production (k ≈ N / 1000);
      - the verdict join is a left join on vec_id against the (tiny)
        removed-id set — no broadcast of an unbounded pair list.

    Output: every vector with its cluster, a kept/pruned verdict, and the
    cluster's truncated-member count. No silent caps: members ranked past
    SEMDEDUP_MAX_CLUSTER are never compared, so their kept=true is "not
    examined", not "examined and unique" — `cluster_truncated` makes that
    coverage bound a first-class, queryable column (mirroring the LSH
    hot-bucket logging); an operator run reporting sum(cluster_truncated)
    > 0 is the signal to grow N_CENTROIDS.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    w = Window.partitionBy("cid").orderBy("vec_id")
    # assignment + rank + truncation count feed BOTH the pair stage and
    # the final verdict join — materialize ONCE with the windows already
    # applied (same discipline as q70/q73's pair lists): the
    # broadcast-crossJoin assignment AND the cid window shuffle each run
    # exactly once, for every consumer. The truncation count shares the
    # rank's (partition, order) spec with an explicit unbounded frame,
    # so both window functions evaluate in the same WindowExec (the
    # separate groupBy(cid) + broadcast-join formulation measured +26%
    # on the whole query at sf0.1).
    sized = (
        _assign(emb, cent)
        .withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "cluster_truncated",
            F.greatest(
                F.count(F.lit(1)).over(
                    w.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                )
                - F.lit(SEMDEDUP_MAX_CLUSTER),
                F.lit(0).cast("long"),
            ),
        )
        .localCheckpoint(eager=True)
    )
    # L2-normalize each surviving member ONCE so the quadratic in-cluster
    # stage is a single dot fold per pair (cos(a,b) == dot(a/|a|, b/|b|));
    # the oracle thresholds the identical normalized-dot expression
    ranked = (
        sized.filter(F.col("rnk") <= SEMDEDUP_MAX_CLUSTER)
        .withColumn("nrm", _norm("embedding"))
        .select("cid", "vec_id", _unit("embedding", "nrm").alias("unit"))
    )
    a = ranked.select("cid", F.col("vec_id").alias("id_a"), F.col("unit").alias("unit_a"))
    b = ranked.select("cid", F.col("vec_id").alias("id_b"), F.col("unit").alias("unit_b"))
    removed = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(_dot("unit_a", "unit_b") >= SEMDEDUP_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("pruned", F.lit(1))
    )
    return (
        sized.join(removed, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.col("pruned").isNull().alias("kept"),
            "cluster_truncated",
        )
        .orderBy("vec_id")
    )


Q98_SQL = f"""
WITH cent AS (
  SELECT vec_id AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)
           / {_sql_safe_nrm('embedding')}) AS c_unit
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_dot('e.embedding', 'c.c_unit')} DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
ranked AS (
  SELECT cid, vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)
           / {_sql_safe_nrm('embedding')}) AS unit
  FROM (
    SELECT *, row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS rnk
    FROM assigned
  ) WHERE rnk <= {SEMDEDUP_MAX_CLUSTER}
),
removed AS (
  SELECT DISTINCT b.vec_id
  FROM ranked a JOIN ranked b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_sql_dot('a.unit', 'b.unit')} >= {SEMDEDUP_THRESHOLD}
),
truncs AS (
  SELECT cid, greatest(COUNT(*) - {SEMDEDUP_MAX_CLUSTER}, 0) AS cluster_truncated
  FROM assigned GROUP BY cid
)
SELECT s.vec_id, s.cid, (r.vec_id IS NULL) AS kept, t.cluster_truncated
FROM assigned s
LEFT JOIN removed r ON s.vec_id = r.vec_id
JOIN truncs t ON s.cid = t.cid
ORDER BY s.vec_id
"""


def q100_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality filter (the SemDeDup/D4 companion op): per-cluster
    decile binning of each member's cosine similarity to its OWN nearest
    centroid; the lowest decile — the least-prototypical members — are
    flagged as outliers (candidates for removal as noise, or for UPWEIGHT
    under D4-style diversification).

    The winning similarity rides the same argmax fold that picks the
    centroid — no second scoring pass, and no groupBy: the
    packed-centroid fold (_argmax_cosine_packed — the FULL-cosine
    variant, since centroid_sim is an output VALUE the oracle hashes)
    makes the N x K pass MAP-ONLY, so the corpus never shuffles for
    assignment. One window shuffle on cid; deciles are ntile over
    (sim, vec_id) so ties bin identically in any engine.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    assigned = _argmax_cosine_packed(emb, cent).select(
        "vec_id", "cid", F.col("sim").alias("centroid_sim")
    )
    w = Window.partitionBy("cid").orderBy("centroid_sim", "vec_id")
    return (
        assigned.withColumn("decile", F.ntile(OUTLIER_DECILES).over(w))
        .select(
            "vec_id",
            "cid",
            "centroid_sim",
            "decile",
            (F.col("decile") == 1).alias("is_outlier"),
        )
        .orderBy("vec_id")
    )


Q100_SQL = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, cid, sim AS centroid_sim FROM (
    SELECT e.vec_id, c.cid,
           {_sql_cos('e.embedding', 'c.c_emb')} AS sim,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
)
SELECT vec_id, cid, centroid_sim,
       ntile({OUTLIER_DECILES}) OVER (PARTITION BY cid ORDER BY centroid_sim, vec_id) AS decile,
       (ntile({OUTLIER_DECILES}) OVER (PARTITION BY cid ORDER BY centroid_sim, vec_id) = 1)
         AS is_outlier
FROM assigned ORDER BY vec_id
"""


# ------------------------------------------------------------------ q120

RECALL_K = 5
RECALL_QUERIES = 20  # query set: vec_id < 20, matching q49


# ------------------------------------------------------- ranking pass
# Every recall audit (q120-q123, q138) and every PQ lane (q166, q167,
# q168, q174, q177) ranks in ONE pass, the distributed top-k shape
# (score locally, keep a per-partition top-k, merge once): the broadcast
# query rows meet the corpus, each (query, neighbor) pair emits one
# (kind, key) struct per ranking it enters, and _top_by_kind ranks all
# of them in one window.


def _top_by_kind(pairs: DataFrame, keys: Column, cut: int) -> DataFrame:
    """THE ranking of a one-pass audit: every (query_id, neighbor_id ≠
    query_id) pair of `pairs` explodes `keys`, an array of (kind, key,
    …) structs (one per ranking the pair enters), and ONE row_number
    window over (query_id, kind), ordered by (key, neighbor_id), keeps
    the rows with rk ≤ cut. Spark plans a partial WindowGroupLimit
    below the window's single exchange, so the shuffle carries at most
    partitions × queries × kinds × cut rows at any corpus size."""
    w = Window.partitionBy("query_id", "kind").orderBy("key", "neighbor_id")
    return (
        pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.explode(keys).alias("k"))
        .select("query_id", "neighbor_id", "k.*")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cut)
    )


def _hits(kind: int, k: int) -> Column:
    """The neighbor ids of a _top_by_kind frame's `kind` ranking with
    rk ≤ k, collected per group (the top-k answer set)."""
    return F.collect_list(
        F.when((F.col("kind") == kind) & (F.col("rk") <= k), F.col("neighbor_id"))
    )


def _mean_recall(n_hits: str, k: int) -> Column:
    """The mean recall@k of a per-query hit-count column, as an
    aggregate: one division of exact integer counts."""
    return F.sum(n_hits).cast("double") / (F.count(F.lit(1)) * k).cast("double")


def _recall_pass(pairs: DataFrame, keys: Column, k: int) -> DataFrame:
    """(query_id, n_hits, recall_at_k): the recall@k audit of one pass.
    `keys` emits kind 0 (the exact key) for every pair and kind 1 (the
    approx key) for the pairs the approximate path scores; one window
    ranks both at cut k (_top_by_kind) and one groupBy(query_id) counts
    |exact top-k ∩ approx top-k|. Every query with a neighbor gets a
    row, so one without a single candidate reads 0, as the oracles'
    LEFT JOIN + COALESCE does."""
    return (
        _top_by_kind(pairs, keys, k)
        .groupBy("query_id")
        .agg(
            F.size(F.array_intersect(_hits(0, k), _hits(1, k)))
            .cast("bigint")
            .alias("n_hits")
        )
        .withColumn("recall_at_k", F.col("n_hits").cast("double") / F.lit(float(k)))
    )


def _cos_recall(pairs: DataFrame, candidate: str, k: int) -> DataFrame:
    """_recall_pass for the candidate-pruning audits (q120-q123), whose
    approx path ranks its candidates by the exact score itself: each
    (q_emb, c_emb) pair's −cosine, the three-fold law the oracles rank
    by, is computed once and keyed as kind 0, and again as kind 1 when
    the SQL predicate `candidate` holds for the pair."""
    key = "named_struct('kind', {}, 'key', -cos)"
    keys = F.expr(
        f"concat(array({key.format(0)}), IF({candidate}, array({key.format(1)}), array()))"
    )
    return _recall_pass(pairs.withColumn("cos", cosine("q_emb", "c_emb")), keys, k)


def q120_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit for the sign-LSH ANN path: per query vector, how
    many of the EXACT top-k neighbors the bucketed search recovered —
    the number that justifies (or indicts) the candidate pruning, made a
    first-class oracle-checked output like q118's Jaccard-estimate audit
    and q103's HLL error. Queries and k match q49 exactly, so this
    measures the production path, not a toy variant.

    Scale: one pass over the q48 broadcast-crossJoin of the SAME bounded
    query set — every pair is scored once and enters the exact ranking,
    the pairs in the query's bucket enter the approx ranking too, and
    one window ranks both (_cos_recall). The exact baseline is
    per-query-linear, so the audit runs on a sample of queries at any
    corpus size; the window's shuffle carries at most 2·K·|queries|
    rows per partition.

    Measured verdict on the synthetic embeddings: mean recall@5 ≈ 0.02 —
    single-probe, 8-plane sign-LSH buys its 2^8× candidate reduction at
    near-total recall loss on this (near-uniform) vector distribution.
    That is the audit working as intended: it is the number that forces
    multi-probe / more-candidates configurations (q51's IVF probes, or
    band-OR like q74) before an ANN path is allowed to serve.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < RECALL_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        _bucket("embedding").alias("q_bucket"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
        _bucket("embedding").alias("bucket"),
    )
    return _cos_recall(
        F.broadcast(q).crossJoin(cand), "bucket = q_bucket", RECALL_K
    ).orderBy("query_id")


Q120_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_SQL_BUCKET.format(col='embedding')} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM b WHERE vec_id < {RECALL_QUERIES}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_cos('q.q_emb', 'e.embedding')} DESC, e.vec_id) AS rank
    FROM q CROSS JOIN embeddings e WHERE q.query_id <> e.vec_id
  ) WHERE rank <= {RECALL_K}
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_cos('q.q_emb', 'e.embedding')} DESC, e.vec_id) AS rank
    FROM q JOIN b e USING (bucket) WHERE q.query_id <> e.vec_id
  ) WHERE rank <= {RECALL_K}
)
SELECT x.query_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(RECALL_K)} AS recall_at_k
FROM (SELECT DISTINCT query_id FROM exact) x
LEFT JOIN (
  SELECT e.query_id, COUNT(*) AS n_hits
  FROM exact e JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
) h ON x.query_id = h.query_id
ORDER BY x.query_id
"""


# ------------------------------------------------------------------ q121


def q121_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q120's recall audit applied to the IVF path (q51's exact probe
    mechanics: N_PROBE nearest centroid lists): the companion number
    that shows whether multi-probe fixes what single-bucket LSH loses.
    Queries match q51 (vec_id < 10), k matches q51's top-5.

    One pass (_cos_recall): every corpus row carries its list from the
    map-only packed argmax (_argmax_cosine_packed), each query its
    N_PROBE lists from one map-side expression over the same packed
    centroids (_with_probes), and a pair enters the approx ranking when
    the neighbor's list is among the query's probes (_PROBE_SLOT > 0).

    Probing 2 of 16 lists scans ~1/8 of the corpus per query, so the
    ceiling is bounded by how often true neighbors land in the query's
    top-2 lists — the recall/scan-fraction trade is the tunable, and
    this query is its measurement.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    cand = _argmax_cosine_packed(emb, cent).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"), "cid"
    )
    q = _with_probes(
        emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "embedding"),
        cent,
    ).select("query_id", F.col("embedding").alias("q_emb"), "probes")
    return _cos_recall(
        F.broadcast(q).crossJoin(cand), f"{_PROBE_SLOT} > 0", RECALL_K
    ).orderBy("query_id")


Q121_SQL = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
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
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY {_sql_cos('p.q_emb', 'a.embedding')} DESC, a.vec_id) AS rank
    FROM probes p JOIN assigned a USING (cid)
    WHERE p.query_id <> a.vec_id
  ) WHERE rank <= {RECALL_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_cos('q.q_emb', 'e.embedding')} DESC, e.vec_id) AS rank
    FROM q CROSS JOIN embeddings e WHERE q.query_id <> e.vec_id
  ) WHERE rank <= {RECALL_K}
)
SELECT x.query_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(RECALL_K)} AS recall_at_k
FROM (SELECT DISTINCT query_id FROM exact) x
LEFT JOIN (
  SELECT e.query_id, COUNT(*) AS n_hits
  FROM exact e JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
) h ON x.query_id = h.query_id
ORDER BY x.query_id
"""


# ------------------------------------------------------------------ q122


def q122_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fix q120's audit demands, audited: multi-probe sign-LSH —
    each query searches its own bucket PLUS the N_PLANES Hamming-1
    neighbor buckets (one sign bit flipped), the standard multi-probe
    LSH move. Probing 9 of 256 buckets (~3.5% of the corpus) recovers
    most of what single-probe loses, and this query emits the same
    per-query recall rows as q120/q121 so the three configurations form
    one measured recall/scan-fraction curve.

    One pass (_cos_recall): each query carries its 9 probe buckets as
    one map-side array, and a pair enters the approx ranking when the
    neighbor's bucket is among them. Each corpus vector lives in exactly
    one bucket, so a candidate is scored once however many probes a
    query has.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < RECALL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _bucket("embedding").alias("b"),
    ).select(
        "query_id",
        "q_emb",
        F.expr(
            f"concat(array(b), transform(sequence(0, {N_PLANES - 1}),"
            f" i -> b ^ shiftleft(CAST(1 AS BIGINT), i)))"
        ).alias("probe_buckets"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _bucket("embedding").alias("bucket"),
    )
    return _cos_recall(
        F.broadcast(q).crossJoin(cand),
        "array_contains(probe_buckets, bucket)",
        RECALL_K,
    ).orderBy("query_id")


Q122_SQL = f"""
WITH b AS (
  SELECT vec_id, embedding, {_SQL_BUCKET.format(col='embedding')} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM b WHERE vec_id < {RECALL_QUERIES}),
probes AS (
  SELECT query_id, q_emb, unnest(list_concat([bucket],
           list_transform(range(0, {N_PLANES}), i -> xor(bucket, 1::BIGINT << i)))) AS probe_bucket
  FROM q
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY {_sql_cos('p.q_emb', 'e.embedding')} DESC, e.vec_id) AS rank
    FROM probes p JOIN b e ON p.probe_bucket = e.bucket
    WHERE p.query_id <> e.vec_id
  ) WHERE rank <= {RECALL_K}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_cos('q.q_emb', 'e.embedding')} DESC, e.vec_id) AS rank
    FROM q CROSS JOIN embeddings e WHERE q.query_id <> e.vec_id
  ) WHERE rank <= {RECALL_K}
)
SELECT x.query_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(RECALL_K)} AS recall_at_k
FROM (SELECT DISTINCT query_id FROM exact) x
LEFT JOIN (
  SELECT e.query_id, COUNT(*) AS n_hits
  FROM exact e JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
) h ON x.query_id = h.query_id
ORDER BY x.query_id
"""


# ------------------------------------------------------------------ q128

SQ_SCALE = 127  # symmetric int8: floor(normalized_component * 127)
SQ_NQ = 10  # audited query vectors
SQ_K = 10  # top-k


def q128_sq8_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (SQ8) of the embedding corpus with an
    in-query recall audit: normalize each vector, quantize components
    symmetrically to floor(x*127), rank neighbors by the INTEGER dot
    product, and report per-query overlap with the exact cosine top-k.

    The 100 TB ANN memory story: SQ8 cuts vector storage 4x (and the
    scoring loop to int8 multiplies — SIMD-friendly in a columnar
    engine), which is what lets a 10^11-vector index fit a cluster's
    RAM. Because normalization happens BEFORE quantization, the integer
    dot product is a monotone estimate of cosine up to quantization
    error, and the audit measures exactly that error: mean recall@10 ≈
    0.95 on this corpus (an affine per-dim quantization without
    normalization scores ~0.1 — the audit is what catches such a broken
    serving config before it ships). Integer scores are bit-stable
    across engines/partitionings; the serving path composes with IVF
    routing (q123) + full-precision re-rank of the int8 top-k.

    Both rankings are computed on ONE scored frame (two window ranks),
    so the exact baseline adds no second corpus scan.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    nv = _normalized_corpus(emb).withColumn(
        "q", F.expr(f"transform(n, x -> CAST(floor(x * {SQ_SCALE}.0D) AS BIGINT))")
    )
    qq = nv.filter(F.col("vec_id") < SQ_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("n").alias("qn"),
        F.col("q").alias("qv"),
    )
    cand = nv.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("n").alias("cn"),
        F.col("q").alias("cv"),
    )
    scored = (
        F.broadcast(qq)
        .crossJoin(cand)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                "aggregate(zip_with(qv, cv, (x, y) -> x * y),"
                " CAST(0 AS BIGINT), (acc, z) -> acc + z)"
            ).alias("int_score"),
            F.expr(
                "aggregate(zip_with(qn, cn, (x, y) -> x * y),"
                " CAST(0 AS DOUBLE), (acc, z) -> acc + z)"
            ).alias("cos_score"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("int_score").desc(), F.col("neighbor_id")
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("cos_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rq", F.row_number().over(wq))
        .withColumn("re", F.row_number().over(we))
        .groupBy("query_id")
        .agg(
            F.sum(
                ((F.col("rq") <= SQ_K) & (F.col("re") <= SQ_K)).cast("bigint")
            ).alias("n_overlap")
        )
        .select(
            "query_id",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.lit(float(SQ_K))).alias(
                "recall_at_k"
            ),
        )
        .orderBy("query_id")
    )


Q128_SQL = f"""
WITH nv AS (
  SELECT vec_id,
         list_transform(range(1, {DIM + 1}), i -> CAST(embedding[i] AS DOUBLE) /
           {_sql_safe_nrm('embedding')}) AS n
  FROM embeddings
), qv AS (
  SELECT vec_id, n, list_transform(n, x -> CAST(floor(x * {SQ_SCALE}.0) AS BIGINT)) AS q
  FROM nv
), scored AS (
  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.q[i] * c.q[i])) AS BIGINT) AS int_score,
         list_sum(list_transform(range(1, {DIM + 1}), i -> a.n[i] * c.n[i])) AS cos_score
  FROM (SELECT * FROM qv WHERE vec_id < {SQ_NQ}) a
  CROSS JOIN qv c
  WHERE a.vec_id <> c.vec_id
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY int_score DESC, neighbor_id) AS rq,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_score DESC, neighbor_id) AS re
  FROM scored
)
SELECT query_id,
       CAST(COUNT(*) FILTER (WHERE rq <= {SQ_K} AND re <= {SQ_K}) AS BIGINT) AS n_overlap,
       CAST(COUNT(*) FILTER (WHERE rq <= {SQ_K} AND re <= {SQ_K}) AS DOUBLE) / {float(SQ_K)} AS recall_at_k
FROM ranked GROUP BY query_id ORDER BY query_id
"""


# ------------------------------------------------------------------ q133

HN_K = 5  # hard negatives mined per anchor


def q133_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for embedding/contrastive training: for each
    anchor, the top-K most-similar vectors whose LABEL differs — the
    near-miss examples that carry the training signal (easy random
    negatives are already far away; the hard ones live at the decision
    boundary).

    Mining rides the existing ANN serving path, not a fresh scan: q51's
    IVF probe mechanics (broadcast packed centroids → per-anchor N_PROBE
    lists as one map-side expression, _probes_sql over _unit_sims_sql →
    candidates from those lists only) with the label-mismatch filter
    applied BEFORE scoring's window, so each anchor scores ~corpus/
    (N_CENTROIDS/N_PROBE) candidates. At 100 TB this is the nightly
    mining job over the training set: anchors are a hashed sample, the
    candidate fraction is the recall/cost dial q121 measures, and the
    mined pairs feed the next training round. Same shuffles as q51 —
    one window on anchor_id; everything else broadcasts.
    """
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )
    # assignment + probes rank by the unit-centroid dot (_assign,
    # _unit_sims_sql): cosine's order at a third of the arithmetic, and
    # exactly ONE implementation of the tie-break to maintain
    assigned = _assign(emb, cent, carry=("label",))
    probes = (
        emb.filter(F.col("vec_id") < 10)
        .crossJoin(F.broadcast(_packed_cents(cent)))
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("a_emb"),
            F.col("label").alias("anchor_label"),
            F.explode(F.expr(_probes_sql(_unit_sims_sql("cents")))).alias("cid"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("negative_id")
    )
    return (
        F.broadcast(probes)
        .join(assigned, "cid")
        .filter(
            (F.col("anchor_id") != F.col("vec_id"))
            & (F.col("anchor_label") != F.col("label"))
        )
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("negative_id"),
            F.col("label").alias("negative_label"),
            cosine("a_emb", "embedding").alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HN_K)
        .orderBy("anchor_id", "rank")
    )


Q133_SQL = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM embeddings WHERE vec_id < {N_CENTROIDS}
),
centn AS (
  SELECT cid,
         list_transform(c_emb, x -> CAST(x AS DOUBLE)
           / {_sql_safe_nrm('c_emb')}) AS c_unit
  FROM cent
),
assigned AS (
  SELECT vec_id, embedding, label, cid FROM (
    SELECT e.vec_id, e.embedding, e.label, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_dot('e.embedding', 'c.c_unit')} DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN centn c
  ) WHERE rn = 1
),
anchors AS (
  SELECT vec_id AS anchor_id, embedding AS a_emb, label AS anchor_label
  FROM embeddings WHERE vec_id < 10
),
probes AS (
  SELECT anchor_id, a_emb, anchor_label, cid FROM (
    SELECT q.anchor_id, q.a_emb, q.anchor_label, c.cid,
           row_number() OVER (
             PARTITION BY q.anchor_id
             ORDER BY {_sql_dot('q.a_emb', 'c.c_unit')} DESC, c.cid
           ) AS rn
    FROM anchors q CROSS JOIN centn c
  ) WHERE rn <= {N_PROBE}
),
scored AS (
  SELECT p.anchor_id, p.anchor_label, a.vec_id AS negative_id,
         a.label AS negative_label,
         {_sql_cos('p.a_emb', 'a.embedding')} AS cos_sim
  FROM probes p JOIN assigned a USING (cid)
  WHERE p.anchor_id <> a.vec_id AND p.anchor_label <> a.label
)
SELECT anchor_id, anchor_label, negative_id, negative_label, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, negative_id) AS rank
  FROM scored
) WHERE rank <= {HN_K} ORDER BY anchor_id, rank
"""


# ------------------------------------------------------------------ q138

JL_DIM = 16  # projected dimensionality (64 -> 16: 4x cheaper dot products)
JL_SCALE = 1000  # 1e-3 component flooring (q137's integer discipline)


def _jl_signs() -> list[list[int]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix from md5 parity
    of (row, col) — no RNG, no stored model: every engine and every run
    derives the same matrix from the same constants."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest(), 16) % 2 == 0 else -1
            for i in range(DIM)
        ]
        for j in range(JL_DIM)
    ]


_EI = f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {JL_SCALE}.0D) AS BIGINT))"


def q138_jl_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit for random-projection ANN: embeddings are
    sign-projected (Johnson-Lindenstrauss) from 64 to 16 dims with a
    hash-derived ±1 matrix, candidates are ranked by the INTEGER dot
    product in projected space, and per query the overlap with the exact
    integer-dot top-k in the original space is reported — q120's audit
    discipline applied to the dimensionality-reduction family the
    LSH/IVF audits don't cover.

    All-integer arithmetic end to end (floored components, ±1 signs):
    rankings are bit-identical cross-engine, so the audit itself is
    hash-checkable, not approximately-equal. At scale the projection is
    one map-side pass (store the 16 ints next to the vector); the exact
    baseline stays the bounded-query audit lane (broadcast crossJoin
    over RECALL_QUERIES queries, q48's shape), never a corpus
    self-join. Each pair scores both spaces once and one window ranks
    the two keys (_recall_pass).

    Measured verdict on the synthetic embeddings: mean recall@5 ≈ 0.09
    at 4× compression — near-uniform random vectors are JL's worst case
    (all pairwise dots concentrate near zero, so rank order is mostly
    projection noise). Same honest story as q120's 0.02: the audit is
    the number that says this config may NOT serve, and that a larger
    JL_DIM or a clustered corpus is needed before it can.
    """
    signs = _jl_signs()
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    proj_exprs = ", ".join(
        "aggregate(zip_with(_ei, array("
        + ", ".join(f"CAST({s} AS BIGINT)" for s in signs[j])
        + "), (x, s) -> x * s), CAST(0 AS BIGINT), (a, x) -> a + x)"
        for j in range(JL_DIM)
    )
    base = (
        emb.withColumn("_ei", F.expr(_EI))
        .select(
            "vec_id",
            "_ei",
            F.expr(f"array({proj_exprs})").alias("_pj"),
        )
        # bind the derived arrays before the self-joins: without the
        # checkpoint, CollapseProject would re-inline the 16 projection
        # aggregates into both join sides
        .localCheckpoint(eager=True)
    )
    q = base.filter(F.col("vec_id") < RECALL_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("_ei").alias("q_ei"),
        F.col("_pj").alias("q_pj"),
    )
    dot = lambda a, b: (  # noqa: E731
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    # every pair enters both rankings: kind 0 by the original-space
    # dot, kind 1 by the projected one, both BIGINT and descending
    keys = F.expr(
        f"array(named_struct('kind', 0, 'key', -{dot('q_ei', '_ei')}),"
        f" named_struct('kind', 1, 'key', -{dot('q_pj', '_pj')}))"
    )
    pairs = F.broadcast(q).crossJoin(
        base.select(F.col("vec_id").alias("neighbor_id"), "_ei", "_pj")
    )
    return _recall_pass(pairs, keys, RECALL_K).orderBy("query_id")


def _jl_sql() -> str:
    signs = _jl_signs()
    proj = ", ".join(
        "("
        + " + ".join(f"ei[{i + 1}]" for i in range(DIM) if signs[j][i] > 0)
        + ") - ("
        + " + ".join(f"ei[{i + 1}]" for i in range(DIM) if signs[j][i] < 0)
        + ")"
        for j in range(JL_DIM)
    )
    dot64 = " + ".join(f"q.q_ei[{i + 1}] * e.ei[{i + 1}]" for i in range(DIM))
    dot16 = " + ".join(f"q.q_pj[{j + 1}] * e.pj[{j + 1}]" for j in range(JL_DIM))
    return f"""
WITH b AS (
  SELECT vec_id, ei, [{proj}] AS pj
  FROM (
    SELECT vec_id,
           list_transform(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) * {JL_SCALE}) AS BIGINT)) AS ei
    FROM embeddings
  )
),
q AS (SELECT vec_id AS query_id, ei AS q_ei, pj AS q_pj FROM b WHERE vec_id < {RECALL_QUERIES}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ({dot64}) DESC, e.vec_id) AS rank
    FROM q CROSS JOIN b e WHERE q.query_id <> e.vec_id
  ) WHERE rank <= {RECALL_K}
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ({dot16}) DESC, e.vec_id) AS rank
    FROM q CROSS JOIN b e WHERE q.query_id <> e.vec_id
  ) WHERE rank <= {RECALL_K}
)
SELECT x.query_id,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {float(RECALL_K)} AS recall_at_k
FROM (SELECT DISTINCT query_id FROM exact) x
LEFT JOIN (
  SELECT e.query_id, COUNT(*) AS n_hits
  FROM exact e JOIN approx a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY e.query_id
) h ON x.query_id = h.query_id
ORDER BY x.query_id
"""


Q138_SQL = _jl_sql()


# ------------------------------------------------------------------ q166
# Product quantization (Jégou et al. 2011) with asymmetric-distance
# (ADC) scoring and the in-query recall audit — the vector-quantized
# member of the compression family (SQ8 = scalar per-dim, JL = random
# projection, PQ = per-subspace codebooks). The 100 TB memory story is
# the strongest of the three: PQ_M codes of log2(PQ_CODES) bits replace
# DIM doubles — 512 bytes -> 8 bytes per vector here (64x), which is
# what makes a 10^11-vector in-RAM index possible at all; scoring a
# candidate is PQ_M integer table lookups + adds, no per-dim work.
# (M=16 x 4-dim subspaces is the standard trade: halving M to 8 drops
# measured recall 0.42 -> 0.22 on this corpus — random vectors are
# PQ's worst case, and the audit column is what surfaces that.)
PQ_M = 16  # subspaces
PQ_DSUB = DIM // PQ_M
PQ_CODES = 16  # codes per subspace codebook
PQ_ITERS = KMEANS_ITERS  # Lloyd rounds per subspace (same law as q86)
PQ_NQ = 10  # audited query vectors
PQ_TOPK = 10
# ADC lookup-table weights are floored to 1e-6 ints so the candidate
# score is an ORDER-INDEPENDENT integer sum — real serving engines
# quantize LUTs the same way (int8/int16 SIMD); here it is also what
# makes Spark's ordered fold and DuckDB's unordered SUM provably agree.
PQ_LUT_SCALE = KMEANS_SCALE


def _normalized_corpus(emb: DataFrame) -> DataFrame:
    """(vec_id, n): L2-normalized corpus, zero-vector-SAFE — the norm
    divisor routes through _safe_nrm, so one all-zero (failed-encode)
    embedding maps to the all-zero direction instead of throwing
    DIVIDE_BY_ZERO under Spark 4's default ANSI mode (review r14: the
    quantization lanes copied an unguarded division; the r12 incident
    in _safe_nrm's docstring is exactly this crash). Non-zero vectors
    divide by their true norm, bit-identical to the unguarded form.
    Shared by the SQ8 (q128) and PQ (q166) lanes; the oracles' nv CTEs
    carry _sql_safe_nrm in lockstep."""
    return emb.withColumn("_nrm", _norm("embedding")).select(
        "vec_id", _unit("embedding", "_nrm").alias("n")
    )


def _pq_subvecs(nv: DataFrame) -> DataFrame:
    """(vec_id, m, s): one row per subspace of the `n` column — the
    reshape that lets ONE keyed pass train all PQ_M codebooks
    (centroids keyed (m, cid)), instead of PQ_M separate corpus scans.
    Same bytes as the full corpus, map-side slice, no shuffle."""
    return nv.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m -> "
                f"struct(m AS m, slice(n, m * {PQ_DSUB} + 1, {PQ_DSUB}) AS s))"
            )
        ).alias("g"),
    ).select("vec_id", F.col("g.m").alias("m"), F.col("g.s").alias("s"))


def _pq_assign(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest code per (vec_id, m) by SUBSPACE L2, map-only: the PQ_M
    codebooks pack to PQ_M rows (PQ_CODES structs each), broadcast-join
    on m, and the per-row fold ranks by the L2 identity
    argmin |s - c|^2 == argmax (s.c - |c|^2/2) — |s|^2 is a per-row
    constant, so the dot fold plus a precomputed half-norm replaces the
    full distance (same move as _assign's normalized-dot ranking,
    with the halved self-dot standing in for normalization since PQ is
    an L2 quantizer, not an angular one). Ties break to the smaller
    cid (max over struct(score, -cid)), the _argmax_sql convention."""
    packed = cb.groupBy("m").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("cid"),
                    F.col("c"),
                    (_dot("c", "c") / F.lit(2.0)).alias("h"),
                )
            )
        ).alias("codes")
    )
    best = F.expr(
        "array_max(transform(codes, c -> struct("
        "aggregate(zip_with(s, c.c, (x, y) -> x * y),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v) - c.h AS score,"
        " -c.cid AS ncid)))"
    )
    return (
        sub.join(F.broadcast(packed), "m")
        .withColumn("_best", best)
        .select(
            "vec_id", "m", "s", (-F.col("_best.ncid")).cast("bigint").alias("cid")
        )
    )


def _pq_update(assigned: DataFrame) -> DataFrame:
    """Per-(m, cid) subspace means — q86's _update law at subspace
    granularity: 1e-6-floored int64 component sums (bit-identical under
    any aggregation order/engine), one partial-aggregable groupBy whose
    shuffle payload is PQ_M x PQ_CODES x (PQ_DSUB+1) scalars per
    partition, never the corpus. Empty codes drop out (both engines
    aggregate only present cids)."""
    sums = assigned.groupBy("m", "cid").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                F.floor(F.col("s")[d] * KMEANS_SCALE).cast("bigint")
            ).alias(f"s{d}")
            for d in range(PQ_DSUB)
        ],
    )
    mean = lambda d: (  # noqa: E731
        F.col(f"s{d}").cast("double")
        / F.col("_n").cast("double")
        / F.lit(float(KMEANS_SCALE))
    )
    return sums.select(
        "m", "cid", F.array(*[mean(d) for d in range(PQ_DSUB)]).alias("c")
    )


def _key_packed_sql(entries: str) -> str:
    """THE by-key-not-by-position packing rule, as one SQL expression:
    `entries` is an array of (k = m*PQ_CODES + cid, v) structs, and the
    result is a DENSE PQ_M x PQ_CODES array whose slot k holds the
    entry keyed k, NULL where there is none. Lloyd can drop an empty
    code from a codebook (_pq_update aggregates only present cids), and
    a position-packed array would then shift every later entry — ADC
    reads of cids past the gap would return the WRONG code's weight
    (review r14). The packed codebooks (_pq_pack_codebook) go through
    here, and with them the encoder (_pq_code_sql) and every LUT
    (_pq_lut_sql), which is built slot by slot over the packed
    codebook."""
    return (
        f"transform(sequence(0, {PQ_M * PQ_CODES - 1}), i -> "
        f"element_at(map_from_entries({entries}), CAST(i AS BIGINT)))"
    )


def _pq_pack_codebook(cb: DataFrame, name: str = "cbd") -> DataFrame:
    """ONE row, column `name`: the (m, cid, c) codebook key-packed
    (_key_packed_sql) into a dense PQ_M x PQ_CODES array of (cid, c, h)
    structs, h = |c|^2 / 2 precomputed for the encoder's L2 identity; a
    dropped code's slot is NULL. The form every map-side consumer
    broadcasts: the encoder (_pq_code_sql) and the per-query LUTs
    (_pq_lut_sql)."""
    entries = (
        f"collect_list(struct(CAST(m * {PQ_CODES} + cid AS BIGINT) AS k,"
        f" struct(cid, c, {_dot_sql('c', 'c')} / 2.0D AS h) AS v))"
    )
    return cb.agg(F.expr(_key_packed_sql(entries)).alias(name))


def _pq_code_sql(vec: str, cbd: str) -> str:
    """THE PQ encoder as one SQL expression: the PQ_M code word of the
    unit vector `vec` against the packed codebook `cbd`
    (_pq_pack_codebook). Per subspace, the nearest code by L2 through
    _pq_assign's identity — argmax (s.c - |c|^2/2), ties to the smaller
    cid (max over (score, -cid)) — over the PRESENT codes only, so no
    code word ever addresses a dropped (m, cid) slot."""
    return (
        f"transform(sequence(0, {PQ_M - 1}), m -> CAST(-array_max(transform("
        f"filter(slice({cbd}, m * {PQ_CODES} + 1, {PQ_CODES}), e -> e IS NOT NULL),"
        f" e -> struct(aggregate(zip_with(slice({vec}, m * {PQ_DSUB} + 1, {PQ_DSUB}),"
        f" e.c, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v) - e.h"
        f" AS score, -e.cid AS ncid))).ncid AS BIGINT))"
    )


def _pq_lut_sql(q: str, cbd: str, weight) -> str:
    """A query's dense ADC lookup table as one SQL expression over the
    packed codebook `cbd` (_pq_pack_codebook): slot m*PQ_CODES + cid
    holds floor(weight(q_m, c) * PQ_LUT_SCALE) — weight is _dot_sql
    (flat ADC) or _sqdist_sql (residual ADC) over the query's m-th
    subspace slice — and a dropped code's slot reads 0 (unreachable:
    the encoder never emits a dropped code, see _pq_code_sql). Each
    serving pass builds its query LUTs with it, map-side, on the
    query rows of its one broadcast state row."""
    s = f"slice({q}, CAST(i DIV {PQ_CODES} AS INT) * {PQ_DSUB} + 1, {PQ_DSUB})"
    return (
        f"transform({cbd}, (e, i) -> coalesce(CAST(floor("
        f"{weight(s, 'e.c')} * {PQ_LUT_SCALE}) AS BIGINT), CAST(0 AS BIGINT)))"
    )


def _pq_train(emb: DataFrame, sub: DataFrame) -> DataFrame:
    """THE PQ codebook training pass, shared by q166 and the IVF-PQ
    serving lane (q167): hashed-sample seeds (q124's law — the
    PQ_CODES vectors with the smallest md5(vec_id), cid = hash-order
    rank, a pure function of the id set), then PQ_ITERS Lloyd rounds
    over the subspace-exploded corpus. Returns the (m, cid, c)
    codebook, localCheckpointed each round (K x PQ_M rows — the q86
    lineage cut). One keyed pass trains all PQ_M codebooks."""
    # the seed codebook is consumed exactly ONCE (round 1's packed
    # broadcast), so it stays lazy: its K-row subtree executes inside
    # that broadcast build instead of paying a dedicated eager
    # checkpoint job (r17 — fresh-per-invocation builds made every
    # saved job count; an eager pin here bought nothing)
    cb = _pq_subvecs(
        _normalized_corpus(
            _hashed_seed(emb, k=PQ_CODES).select(
                F.col("cid").alias("vec_id"),
                F.col("c_emb").alias("embedding"),
            )
        )
    ).select("m", F.col("vec_id").alias("cid"), F.col("s").alias("c"))
    return _pq_lloyd(sub, cb)


def _pq_lloyd(sub: DataFrame, cb0: DataFrame) -> DataFrame:
    """PQ_ITERS assign→update rounds from a (lazy or pinned) seed
    codebook — the Lloyd loop shared by the raw-vector trainer
    (_pq_train) and the residual trainer (q168). Only the FINAL
    codebook is checkpointed (r17): each intermediate round's K×PQ_M
    rows are consumed exactly once, by the next round's packed
    broadcast, so the rounds chain through nested broadcast builds
    inside the final pin's one job — same number of corpus sub-passes,
    PQ_ITERS-1 fewer eager jobs per training call. The final codebook
    IS pinned: every consumer (encoder, query LUTs, audits) broadcasts
    it, and a lazy final cb would re-run the whole loop per consumer."""
    cb = cb0
    for _ in range(PQ_ITERS):
        cb = _pq_update(_pq_assign(sub, cb))
    return cb.localCheckpoint(eager=True)


def _pq_column_codebook(frame: DataFrame, col: str) -> DataFrame:
    """The PQ codebook of the unit-vector column `col` of a pinned
    (vec_id, col) frame — q168's residual corpus, q174's flat (n) and
    residual (r) index columns: cb0 is that column's subvectors on the
    hashed-seed rows, keyed by their hash rank (the oracles'
    `cb0 AS (... FROM seed JOIN sub ...)`), then _pq_lloyd's rounds.
    The seed rows carry their own column values, so cb0 needs no join
    back to the frame; it is consumed once (round 1's packed
    broadcast) and stays lazy, as in _pq_train."""
    rows = frame.select("vec_id", F.col(col).alias("n"))
    seed = _hashed_seed(rows.withColumnRenamed("n", "embedding"), k=PQ_CODES)
    cb0 = _pq_subvecs(
        seed.select(F.col("cid").alias("vec_id"), F.col("c_emb").alias("n"))
    ).select("m", F.col("vec_id").alias("cid"), F.col("s").alias("c"))
    return _pq_lloyd(_pq_subvecs(rows), cb0)


def _pq_encode(nvframe: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, codes): every vector collapsed to PQ_M small ints
    ordered by m — the 64-bit serving representation (64x compression;
    floats never consulted again on the ADC path).

    MAP-SIDE (r17, guide §2.4): the codebook packs into ONE broadcast
    row (_pq_pack_codebook) and each vector's code word is a single
    expression over its own subspace slices (_pq_code_sql) — the
    former shape exploded the corpus to M×N (vec_id, m) rows,
    broadcast-joined, then re-collapsed with a groupBy(vec_id), i.e. a
    corpus-sized shuffle that existed only to undo the explode.
    Arithmetic and tie-break are byte-identical to _pq_assign (score =
    subspace dot − half self-dot, argmax of (score, −cid)); input is
    the UN-exploded (vec_id, n) frame."""
    return nvframe.crossJoin(F.broadcast(_pq_pack_codebook(cb))).select(
        "vec_id", F.expr(_pq_code_sql("n", "cbd")).alias("codes")
    )


def _adc_sql(lut: str, codes: str) -> str:
    """The ADC score: PQ_M integer table lookups summed, the code word
    `codes` indexing the key-packed `lut` (cid gaps hold 0 and are
    unreachable — see _key_packed_sql). The unreachability invariant
    (encoder and LUT share ONE codebook, so no stored code addresses a
    dropped cid) is load-bearing in a direction-dependent way (ADVICE
    r15 #4): under q166/q167's DESCENDING similarity rank a stray 0
    would merely demote a candidate, but q168/q174 rank ASCENDING
    distance, where 0 is the best possible score — a reachable gap
    there would PROMOTE a wrong candidate. tests/test_pq.py pins the
    dense packing under code dropout (0 at the gap, and no code word
    addressing it) for exactly this reason."""
    return (
        f"aggregate(sequence(0, {PQ_M - 1}), CAST(0 AS BIGINT),"
        f" (acc, m) -> acc + element_at({lut},"
        f" CAST(m * {PQ_CODES} + element_at({codes}, m + 1) + 1 AS INT)))"
    )


def _sqdist_sql(a: str, b: str) -> str:
    """Subspace squared L2 distance |a - b|^2 as a left fold — the
    residual ADC's LUT weight (q168, q174)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        f" CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


# ------------------------------------------------------- serving pass
# Every PQ lane (q166, q167, q168, q174, q177) serves in the one ranking
# pass (see the ranking-pass block above q120): the PQ_NQ query rows
# meet one broadcast state row and get their probes and LUTs map-side
# (_pq_queries), and each corpus row, paired with every query, emits
# its exact and ADC keys for _top_by_kind.

# the full-vector unit dot of a (qn, n) pair (both _normalized_corpus
# outputs, so the dot IS cosine): the exact baseline's score and the
# re-rank's. A SQL string, not a prebuilt Column: F.expr at module level
# would demand an active SparkContext at import time.
_UNIT_DOT_SQL = (
    "aggregate(zip_with(qn, n, (x, y) -> x * y),"
    " CAST(0 AS DOUBLE), (acc, z) -> acc + z)"
)


def _flat_key_sql(lut: str, codes: str) -> str:
    """The flat ADC ranking key: the integer dot (_adc_sql) negated, so
    ascending key order is descending similarity. The integer sums are
    exact in DOUBLE (< 2^53)."""
    return f"-CAST({_adc_sql(lut, codes)} AS DOUBLE)"


def _residual_key_sql(codes: str) -> str:
    """The residual ADC ranking key: the integer squared distance of
    `codes` under the LUT of the neighbor's probed list (`rluts`,
    _residual_luts_sql), ranked ascending as it is."""
    return f"CAST({_adc_sql(f'element_at(rluts, {_PROBE_SLOT})', codes)} AS DOUBLE)"


def _residual_luts_sql(cbd: str) -> str:
    """A query's residual LUTs, one per probed list p: the query mapped
    into that cell's residual space, rq = qn − c_unit[p], tabled against
    the packed residual codebook `cbd` by squared subspace distance —
    the paper's ADC tables (review r15: a dot of rq with r̂ is neither
    the L2 nor the inner-product law)."""
    rq = (
        "zip_with(qn, element_at(filter(cents, c -> c.cid = p), 1).c_unit,"
        " (x, y) -> x - y)"
    )
    return f"transform(probes, p -> {_pq_lut_sql(rq, cbd, _sqdist_sql)})"


def _pq_queries(rows: DataFrame, state: DataFrame) -> DataFrame:
    """(query_id, qn, probes, *state columns): the PQ_NQ audited query
    rows of a (vec_id, embedding) frame, each crossed with the ONE
    broadcast `state` row (packed `cents`, _packed_cents, plus the
    lane's packed codebooks). qn is the zero-safe unit query
    (_normalized_corpus's law) and probes its N_PROBE nearest lists by
    full cosine, map-side (_probes_sql over _cos_sims_sql). Lanes build
    their LUTs over these columns."""
    return (
        rows.filter(F.col("vec_id") < PQ_NQ)
        .withColumn("_enrm", _safe_nrm(_norm("embedding")))
        .crossJoin(F.broadcast(state))
        .select(
            F.col("vec_id").alias("query_id"),
            _unit("embedding", "_enrm").alias("qn"),
            F.expr(_probes_sql(_cos_sims_sql("cents"))).alias("probes"),
            *state.columns,
        )
    )


# ---------------------------------------------------------- shared state
# PER-INVOCATION training state for the PQ family. History: r16 kept
# these frames in a module-level cache keyed by (applicationId, corpus
# dir) so a lane's re-executions and its sibling lanes reused one
# build (VERDICT r15 item 2's train-once reading). The r17 optimization
# round REMOVED that memo: under the bench's warm-up + best-of-N
# protocol a cache hit meant the TIMED runs of q166/q167/q168/q174/
# q177 were serving pre-built state from an earlier invocation — the
# measured number excluded the very training the query declares, and
# the round's measurement rules forbid any cross-invocation memo of
# intermediates keyed on the corpus dir. Every call of _pq_shared now
# builds from the parquet inputs; the localCheckpoint pins below give
# INTRA-query reuse only (each query invocation trains once, then its
# serving/audit body reads the pinned frames — frames die with the
# invocation's references, so nothing persists across timed runs).
# The train-once SERVING architecture lives where it belongs: in the
# store (sinks/pqstore.py — q177 commits the trained index as a
# versioned artifact and reloads it in a fresh session; at production
# scale the ingest pipeline builds once and the serving tier loads).


# clustered-fixture law (q174): scale·center + eps·(low-rank offset).
# The offset lives in the first CLUSTERED_RANK dims — low intrinsic
# dimensionality of within-cluster variation is the empirically
# realistic regime (embedding manifolds are locally low-dim) and the
# one where residual encoding's advantage is measurable: a numpy
# sweep showed full-rank isotropic offsets leave BOTH coders at
# chance within a cell (flat 0.34 / res 0.33 at sf0.01), while the
# rank-8 offset separates them decisively (flat 0.25 / res 0.58 at
# sf0.01; 0.07 / 0.29 at sf0.1; 0.30 / 0.49 at sf0.001).
CLUSTERED_SCALE = 4.0
CLUSTERED_EPS = 0.5
CLUSTERED_RANK = 8


def _pq_clustered_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLUSTERED fixture corpus (VERDICT r15 item 6), derived
    deterministically from the isotropic embeddings table so both
    engines can build it with the same arithmetic: row i becomes
    CLUSTERED_SCALE·center(i % K) + CLUSTERED_EPS·emb_i[:RANK] with
    K = N_CENTROIDS and center(k) = the raw row k — a mixture of K
    well-separated clusters whose within-cluster spread is confined
    to a CLUSTERED_RANK-dim subspace (see the law comment above).
    This is the distribution Jégou et al.'s residual-encoding gains
    assume; the isotropic corpus measures residual ≈ flat (q168's
    honest result), and this fixture is where residuals must WIN
    (q174 gates it). All arithmetic in DOUBLE so Spark and DuckDB
    agree bitwise."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    centers = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("ccid"), F.col("embedding").alias("c_base")
    )
    mix = F.expr(
        f"transform(sequence(1, {DIM}), i -> "
        f"{CLUSTERED_SCALE}D * CAST(element_at(c_base, i) AS DOUBLE)"
        f" + IF(i <= {CLUSTERED_RANK},"
        f" {CLUSTERED_EPS}D * CAST(element_at(embedding, i) AS DOUBLE),"
        f" CAST(0 AS DOUBLE)))"
    )
    return (
        emb.withColumn("ccid", F.col("vec_id") % N_CENTROIDS)
        .join(F.broadcast(centers), "ccid")
        .select("vec_id", mix.alias("embedding"))
    )


def _pq_shared(spark: SparkSession, sf_dir: str) -> dict:
    """The per-invocation base frames of the IVF-PQ lanes (q167 and q177
    through _pq_shared_flat, q168 through _pq_shared_residual) over the
    embeddings table: pinned nv (normalized corpus), pinned cent (the K
    coarse centroids), and the lazily-added codebook/index entries the
    lane helpers below fill in. Each invocation's dict is its own (see
    the block comment above — no cross-invocation memo)."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    # nv and cent are independent reductions of emb: their eager pins
    # run as CONCURRENT jobs (guide §2.6 — actions are only sequential
    # because driver code calls them sequentially; the K-row cent job
    # back-fills executors the nv job leaves idle)
    nv_f, cent_f = concurrent(
        lambda: _normalized_corpus(emb).localCheckpoint(eager=True),
        lambda: (
            emb.filter(F.col("vec_id") < N_CENTROIDS)
            .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb"))
            .localCheckpoint(eager=True)
        ),
    )
    return {"emb": emb, "nv": nv_f, "cent": cent_f}


def _pq_shared_flat(spark: SparkSession, sf_dir: str) -> dict:
    """Adds the flat IVF-PQ index to the shared state (q167, q177): `cb`
    (trained codebooks, pinned by _pq_lloyd), `codes` (the encoded
    corpus, pinned) and `assigned` (the coarse IVF list per vector,
    pinned) — the explicit tables q177 commits to the store. The
    codebook→codes chain and the coarse-assignment fold are
    independent given (nv, cent): they build as concurrent jobs."""
    st = _pq_shared(spark, sf_dir)

    def build_codes():
        st["cb"] = _pq_train(st["emb"], _pq_subvecs(st["nv"]))
        return _pq_encode(st["nv"], st["cb"]).localCheckpoint(eager=True)

    st["codes"], st["assigned"] = concurrent(
        build_codes,
        lambda: (
            _argmax_cosine_packed(st["emb"], st["cent"])
            .select("vec_id", "cid")
            .localCheckpoint(eager=True)
        ),
    )
    return st


def _pq_shared_residual(spark: SparkSession, sf_dir: str) -> dict:
    """Adds the RESIDUAL artifacts (q168) on top of the pinned coarse
    assignment: `res` (vec_id, cid, n, r), the pinned corpus with its
    unit vector n and its residual r = n − unit(c_cid), and `rcb`, the
    residual codebooks trained over r. The serving pass encodes r on
    the fly, so no code table is pinned. q168's declared computation
    (its oracle twin's CTE list) has no flat-PQ stage, so no flat
    codebook is built here."""
    st = _pq_shared(spark, sf_dir)
    st["assigned"] = (
        _argmax_cosine_packed(st["emb"], st["cent"])
        .select("vec_id", "cid")
        .localCheckpoint(eager=True)
    )
    residual = F.expr("zip_with(n, c_unit, (x, y) -> x - y)")
    # PINNED: every Lloyd pass and the serving pass consume this frame
    # — without the pin each _pq_assign scan re-executed the packed
    # coarse-assignment fold plus the normalization join (pre-pin the
    # sf0.001 selfcheck ran 115 s)
    st["res"] = (
        st["nv"]
        .join(st["assigned"], "vec_id")
        .join(F.broadcast(_unit_centroids(st["cent"])), "cid")
        .select("vec_id", "cid", "n", residual.alias("r"))
        .localCheckpoint(eager=True)
    )
    st["rcb"] = _pq_column_codebook(st["res"], "r")
    return st


def q166_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ train -> encode -> ADC-score -> recall@k vs exact cosine.

    Training: hashed-sample seeds (q124's law — the PQ_CODES vectors
    with the smallest md5(vec_id), cid = hash-order rank, a pure
    function of the id set), then PQ_ITERS Lloyd rounds over the
    subspace-exploded corpus; the final codebook is pinned (K x PQ_M
    rows — the q86 lineage cut) and packed into one broadcast row.

    Serving is one corpus pass (the serving-pass block above): each of
    the PQ_NQ queries gets its PQ_M x PQ_CODES lookup table of subspace
    dots (floored to 1e-6 ints, _pq_lut_sql) map-side; each corpus row
    is encoded on the fly (_pq_code_sql, PQ_M small ints) and paired
    with every query, scoring as PQ_M table lookups summed. Every pair
    emits its exact-cosine key and its ADC key, one window ranks both
    (_recall_pass), and n_overlap = |exact top-k ∩ ADC top-k| per query
    — the number that tells you whether a 64x-compressed index is safe
    to serve as-is or needs the standard full-precision re-rank of the
    ADC top candidates. Exact scoring is a bounded baseline (PQ_NQ
    broadcast queries), as documented for q48/q128; the production path
    routes candidates through IVF (q167) first.

    All training state is this invocation's own (no cross-invocation
    memo since r17): one pinned normalized corpus, and no coarse
    centroids, since nothing here probes."""
    emb = load_table_parallel(spark, sf_dir, "embeddings")
    # pinned: training, the encoder and the query LUTs all read it
    nv = _normalized_corpus(emb).localCheckpoint(eager=True)
    cbd = _pq_pack_codebook(_pq_train(emb, _pq_subvecs(nv)))
    queries = (
        nv.filter(F.col("vec_id") < PQ_NQ)
        .crossJoin(F.broadcast(cbd))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("n").alias("qn"),
            F.expr(_pq_lut_sql("n", "cbd", _dot_sql)).alias("lut"),
        )
    )
    coded = nv.crossJoin(F.broadcast(cbd)).select(
        F.col("vec_id").alias("neighbor_id"),
        "n",
        F.expr(_pq_code_sql("n", "cbd")).alias("codes"),
    )
    # kind 0: exact cosine, 1: ADC dot — both descending
    keys = F.expr(
        f"array(named_struct('kind', 0, 'key', -({_UNIT_DOT_SQL})),"
        f" named_struct('kind', 1, 'key', {_flat_key_sql('lut', 'codes')}))"
    )
    return (
        _recall_pass(coded.crossJoin(F.broadcast(queries)), keys, PQ_TOPK)
        .withColumnRenamed("n_hits", "n_overlap")
        .orderBy("query_id")
    )


def _sql_pq_sdot(a: str, b: str) -> str:
    """Subspace (PQ_DSUB-wide) double dot — the SQL twin of _dot over
    sliced subvectors, shared by every PQ oracle fragment."""
    return (
        f"list_sum(list_transform(range(1, {PQ_DSUB + 1}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _sql_pq_assign(sub: str, cb: str) -> str:
    """One PQ assignment pass as SQL (the _pq_assign law: L2 argmin via
    the dot-minus-half-self-norm identity, ties to the smaller cid)
    over arbitrary sub/codebook CTE names — shared by the raw-vector
    (q166/q167) and residual (q168) oracle fragments."""
    return f"""
  SELECT vec_id, m, s, cid FROM (
    SELECT {sub}.vec_id, {sub}.m, {sub}.s, cb.cid,
           row_number() OVER (
             PARTITION BY {sub}.vec_id, {sub}.m
             ORDER BY {_sql_pq_sdot(f'{sub}.s', 'cb.c')} - {_sql_pq_sdot('cb.c', 'cb.c')} / 2 DESC,
                      cb.cid
           ) AS rn
    FROM {sub} JOIN {cb} cb ON cb.m = {sub}.m
  ) WHERE rn = 1"""


def _sql_pq_update(assigned: str) -> str:
    """One PQ update pass as SQL (the _pq_update law: 1e-6-floored
    int64 component sums, engine-order-invariant means)."""
    mean = (
        lambda d: f"CAST(SUM(CAST(floor(s[{d + 1}] * {KMEANS_SCALE}) AS BIGINT)) AS BIGINT)"
        f" / CAST(COUNT(*) AS DOUBLE) / {float(KMEANS_SCALE)}"
    )
    return (
        "SELECT m, cid, list_value("
        + ", ".join(mean(d) for d in range(PQ_DSUB))
        + f") AS c FROM {assigned} GROUP BY m, cid"
    )


def _pq_train_ctes() -> str:
    """THE PQ training/encoding/LUT CTE block (no WITH keyword),
    shared by the q166, q167 and q174 oracles in lockstep with the
    Spark side's _pq_train, its encoder (_pq_code_sql) and its
    map-side LUTs (_pq_lut_sql with _dot_sql): nv (zero-safe
    normalized corpus), sub (subspace explode), seed -> cb0 -> PQ_ITERS
    unrolled assign/update rounds -> af (final per-subspace codes) and
    `lut` (per-query floored-int subspace dots against the final
    codebook cb{PQ_ITERS})."""
    assert PQ_ITERS == 2  # the unrolled a1/cb1/a2/cb2 chain below
    sdot = _sql_pq_sdot
    assign = lambda cb: _sql_pq_assign("sub", cb)
    update = _sql_pq_update
    return f"""nv AS (
  SELECT vec_id,
         list_transform(embedding, u -> CAST(u AS DOUBLE) /
           {_sql_safe_nrm('embedding')}) AS n
  FROM embeddings
),
sub AS (
  SELECT vec_id, m, n[m * {PQ_DSUB} + 1 : m * {PQ_DSUB} + {PQ_DSUB}] AS s
  FROM nv, unnest(range(0, {PQ_M})) t(m)
),
seed AS (
  SELECT vec_id, rn - 1 AS cid FROM (
    SELECT vec_id, row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM nv
  ) WHERE rn <= {PQ_CODES}
),
cb0 AS (SELECT sub.m, seed.cid, sub.s AS c FROM seed JOIN sub ON sub.vec_id = seed.vec_id),
a1 AS ({assign('cb0')}),
cb1 AS ({update('a1')}),
a2 AS ({assign('cb1')}),
cb2 AS ({update('a2')}),
af AS ({assign('cb2')}),
lut AS (
  SELECT q.vec_id AS query_id, cb.m, cb.cid,
         CAST(floor({sdot('q.s', 'cb.c')} * {PQ_LUT_SCALE}) AS BIGINT) AS wi
  FROM (SELECT * FROM sub WHERE vec_id < {PQ_NQ}) q
  JOIN cb2 cb ON cb.m = q.m
)"""


def _pq_sql() -> str:
    """DuckDB twin: same seeds, same unrolled Lloyd rounds at subspace
    granularity, same floored-int LUT, same two-window audit. The ADC
    sum is SUM over the m-join — order-independent because the
    contributions are integers (see PQ_LUT_SCALE)."""
    return f"""
WITH {_pq_train_ctes()},
scored AS (
  SELECT l.query_id, af.vec_id AS neighbor_id,
         SUM(l.wi) AS adc_score
  FROM lut l JOIN af ON af.m = l.m AND af.cid = l.cid
  WHERE l.query_id <> af.vec_id
  GROUP BY l.query_id, af.vec_id
),
ranked AS (
  SELECT s.query_id, s.neighbor_id,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY s.adc_score DESC, s.neighbor_id) AS rq,
         row_number() OVER (PARTITION BY s.query_id
                            ORDER BY list_sum(list_transform(range(1, {DIM + 1}),
                              i -> qn.n[i] * cn.n[i])) DESC, s.neighbor_id) AS re
  FROM scored s
  JOIN nv qn ON qn.vec_id = s.query_id
  JOIN nv cn ON cn.vec_id = s.neighbor_id
)
SELECT query_id,
       CAST(COUNT(*) FILTER (WHERE rq <= {PQ_TOPK} AND re <= {PQ_TOPK}) AS BIGINT) AS n_overlap,
       CAST(COUNT(*) FILTER (WHERE rq <= {PQ_TOPK} AND re <= {PQ_TOPK}) AS DOUBLE)
           / {float(PQ_TOPK)} AS recall_at_k
FROM ranked GROUP BY query_id ORDER BY query_id
"""


# ------------------------------------------------------------------ q167

# the serving guardrail (q123's discipline: a config only "serves"
# with its measured recall attached): mean recall@PQ_TOPK of the
# composed IVF->ADC->re-rank path vs exact cosine over the FULL
# corpus — coarse routing misses, ADC ranking error, and the re-rank
# window all land in this one number. Measured on this corpus:
# ADC-as-is 0.49/0.47 (sf0.001/sf0.01 — NOT servable, the exact
# situation q166's audit exists to catch) vs re-ranked 0.84/0.85 (the
# re-rank recovers most of the IVF-probe ceiling); the target sits
# below the re-ranked number with margin because the gate
# hash pins the flag's VALUE, not just the law.
IVFPQ_RECALL_TARGET = 0.7
# ADC top-R window handed to the full-precision re-rank: floats are
# fetched for only R candidates per query (the standard
# codes-in-RAM / floats-cold serving trade)
IVFPQ_RERANK_R = 3 * PQ_TOPK

def _serving_audit(pairs: DataFrame, adc_key: str) -> DataFrame:
    """THE dual-recall serving audit of the IVF-PQ lanes (q167, q168,
    q177), in one corpus pass: every (query, neighbor) pair of `pairs`
    (columns query_id, neighbor_id, qn, n, cid, probes and whatever the
    SQL `adc_key` reads) emits two keys, both carrying the exact unit
    dot: kind 0, −cos, always; kind 1, the ADC key, only when the
    neighbor sits in a probed list (_PROBE_SLOT). ONE
    window ranks both at cut IVFPQ_RERANK_R (_top_by_kind), and one
    groupBy(query_id) takes the exact top-PQ_TOPK, the ADC top-PQ_TOPK
    (served as-is) and the re-ranked answer — the first PQ_TOPK of the
    ADC top-R window by (−cos, neighbor_id), the standard full-precision
    re-rank — then counts both answer sets' overlap with the exact one
    (n_hits re-ranked, n_hits_adc as-is). mean_recall (re-ranked) and
    the meets_target verdict vs IVFPQ_RECALL_TARGET ride the same
    one-row aggregate as the per-query rows."""

    def key(kind: int, key_sql: str) -> str:
        return f"named_struct('kind', {kind}, 'key', {key_sql}, 'cos', cos)"

    keys = F.expr(
        f"concat(array({key(0, '-cos')}),"
        f" IF({_PROBE_SLOT} > 0, array({key(1, adc_key)}), array()))"
    )
    top = _top_by_kind(
        pairs.withColumn("cos", F.expr(_UNIT_DOT_SQL)), keys, IVFPQ_RERANK_R
    )
    cands = F.collect_list(
        F.when(
            F.col("kind") == 1, F.struct((-F.col("cos")).alias("key"), "neighbor_id")
        )
    )
    reranked = F.expr(
        f"transform(slice(array_sort(cands), 1, {PQ_TOPK}), x -> x.neighbor_id)"
    )
    per_q = (
        top.groupBy("query_id")
        .agg(_hits(0, PQ_TOPK).alias("ex"), _hits(1, PQ_TOPK).alias("adc"), cands.alias("cands"))
        .select(
            "query_id",
            F.size(F.array_intersect("ex", reranked)).cast("bigint").alias("n_hits"),
            F.size(F.array_intersect("ex", "adc")).cast("bigint").alias("n_hits_adc"),
        )
    )
    # the mean and the per-query rows in ONE aggregate over the PQ_NQ
    # per_q rows, re-expanded: no second scan of per_q for the mean
    mean = F.col("mean_recall")
    return (
        per_q.agg(
            F.collect_list(F.struct("query_id", "n_hits", "n_hits_adc")).alias("qs"),
            _mean_recall("n_hits", PQ_TOPK).alias("mean_recall"),
        )
        .select(F.inline("qs"), "mean_recall")
        .select(
            "query_id",
            "n_hits",
            "n_hits_adc",
            (F.col("n_hits").cast("double") / F.lit(float(PQ_TOPK))).alias(
                "recall_at_k"
            ),
            (F.col("n_hits_adc").cast("double") / F.lit(float(PQ_TOPK))).alias(
                "recall_adc"
            ),
            mean,
            (mean >= IVFPQ_RECALL_TARGET).alias("meets_target"),
        )
        .orderBy("query_id")
    )


def q167_ivfpq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving: the memory-bounded layout a 100 TB vector store
    actually serves from (VERDICT r14 item 4) — IVF coarse routing over
    PQ codes (q166) with ADC scoring inside the probed cells, plus the
    in-query recall audit vs exact cosine that q121/q123 made the
    family's discipline.

    Index build: every vector gets (cid, codes) — its IVF list from
    the map-only packed-broadcast cosine argmax (_argmax_cosine_packed,
    zero corpus shuffles) and its PQ_M-byte code word from the shared
    PQ training pass (_pq_train/_pq_encode). That pair is the entire
    serving state: ~(8 + PQ_M) bytes a vector instead of 8*DIM.

    Serving is one corpus pass (_ivfpq_audit): each query gets, map-side
    on one broadcast state row, its N_PROBE nearest lists (_pq_queries)
    and its PQ_M x PQ_CODES integer LUT (_pq_lut_sql). The index rows
    pair with every query; ADC scoring (PQ_M integer lookups summed,
    _adc_sql) rides the corpus pass that the exact baseline already
    makes, for the pairs whose neighbor sits in a probed list. One
    window ranks the exact and ADC keys (_serving_audit), and the ADC
    top IVFPQ_RERANK_R get the STANDARD full-precision re-rank by exact
    unit-dot. Measured here, the re-rank is what makes the config
    servable: ADC-as-is mean recall 0.47-0.49 vs re-ranked (see
    IVFPQ_RECALL_TARGET) — both numbers are in the result (recall_adc
    vs recall_at_k), so the audit SHOWS the trade instead of asserting
    it.

    Audit: exact cosine top-PQ_TOPK over the FULL corpus (the bounded
    PQ_NQ-query baseline, q48's documented shape — at real scale this
    runs on a query sample), overlap counted per query for BOTH answer
    sets, plus mean_recall (re-ranked) and the meets_target verdict vs
    IVFPQ_RECALL_TARGET. recall/mean are single divisions of exact
    integer counts, bit-identical across engines.

    The index (coarse assignment + codebooks + code table) comes from
    the per-invocation build (_pq_shared_flat; every execution trains
    from the parquet inputs — the r17 rule; the persisted train-once
    architecture is q177's store); this body is the serving path."""
    st = _pq_shared_flat(spark, sf_dir)
    return _ivfpq_audit(
        st["emb"], st["nv"], st["cb"], st["cent"], st["assigned"], st["codes"]
    )


def _ivfpq_audit(
    emb: DataFrame,
    nv: DataFrame,
    cb: DataFrame,
    cent: DataFrame,
    assigned: DataFrame,
    codes: DataFrame,
) -> DataFrame:
    """The flat IVF-PQ serving + dual-recall audit body over an EXPLICIT
    index — ONE implementation shared by q167 (the in-session
    train-once state) and q177 (the same state round-tripped through
    the persisted store, sinks/pqstore.py), so "serves from the loaded
    artifact" means the literal same plan with a different index
    provenance: the index rows assigned ⋈ codes ⋈ nv pair with the
    queries of emb (_pq_queries, over the packed centroids and
    codebook). See q167's docstring for the plan narrative."""
    queries = _pq_queries(
        emb, _packed_cents(cent).crossJoin(F.broadcast(_pq_pack_codebook(cb)))
    ).select(
        "query_id",
        "qn",
        "probes",
        F.expr(_pq_lut_sql("qn", "cbd", _dot_sql)).alias("lut"),
    )
    index = (
        assigned.join(codes, "vec_id")
        .join(nv, "vec_id")
        .withColumnRenamed("vec_id", "neighbor_id")
    )
    return _serving_audit(
        index.crossJoin(F.broadcast(queries)), _flat_key_sql("lut", "codes")
    )


def _sql_serving_audit_tail() -> str:
    """served/exact/per_q CTEs + the final SELECT — the SQL twin of
    _serving_audit, appended by both PQ serving oracles after a WITH
    chain that has already defined `nv` (vec_id, n) and `adc_ranked`
    (query_id, neighbor_id, rank_adc <= IVFPQ_RERANK_R). ONE
    implementation so the two lanes' audit shapes cannot drift."""
    return f"""
served AS (
  SELECT query_id, neighbor_id FROM (
    SELECT ar.query_id, ar.neighbor_id,
           row_number() OVER (PARTITION BY ar.query_id
             ORDER BY {_sql_dot('qn.n', 'cn.n')} DESC, ar.neighbor_id) AS rank
    FROM adc_ranked ar
    JOIN nv qn ON qn.vec_id = ar.query_id
    JOIN nv cn ON cn.vec_id = ar.neighbor_id
  ) WHERE rank <= {PQ_TOPK}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qn.vec_id AS query_id, cn.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY qn.vec_id
             ORDER BY {_sql_dot('qn.n', 'cn.n')} DESC, cn.vec_id) AS rank
    FROM nv qn JOIN nv cn ON qn.vec_id <> cn.vec_id
    WHERE qn.vec_id < {PQ_NQ}
  ) WHERE rank <= {PQ_TOPK}
),
per_q AS (
  SELECT x.query_id, COALESCE(h.n_hits, 0) AS n_hits,
         COALESCE(hb.n_hits_adc, 0) AS n_hits_adc
  FROM (SELECT DISTINCT query_id FROM exact) x
  LEFT JOIN (
    SELECT e.query_id, COUNT(*) AS n_hits
    FROM exact e JOIN served s
      ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
    GROUP BY e.query_id
  ) h ON x.query_id = h.query_id
  LEFT JOIN (
    SELECT e.query_id, COUNT(*) AS n_hits_adc
    FROM exact e JOIN adc_ranked s
      ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
         AND s.rank_adc <= {PQ_TOPK}
    GROUP BY e.query_id
  ) hb ON x.query_id = hb.query_id
)
SELECT query_id, n_hits, n_hits_adc,
       CAST(n_hits AS DOUBLE) / {float(PQ_TOPK)} AS recall_at_k,
       CAST(n_hits_adc AS DOUBLE) / {float(PQ_TOPK)} AS recall_adc,
       CAST(SUM(n_hits) OVER () AS DOUBLE)
           / CAST(COUNT(*) OVER () * {PQ_TOPK} AS DOUBLE) AS mean_recall,
       (CAST(SUM(n_hits) OVER () AS DOUBLE)
           / CAST(COUNT(*) OVER () * {PQ_TOPK} AS DOUBLE)
           >= {IVFPQ_RECALL_TARGET}) AS meets_target
FROM per_q ORDER BY query_id
"""


def _q167_sql() -> str:
    """DuckDB twin: the shared PQ training block (_pq_train_ctes, in
    lockstep with the Spark helpers) + q121's probe/assign CTEs + the
    ADC serving join + the shared serving-audit tail."""
    return f"""
WITH {_pq_train_ctes()},
cent AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < {PQ_NQ}),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_cos('q.q_emb', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {N_PROBE}
),
adc AS (
  SELECT p.query_id, af.vec_id AS neighbor_id, SUM(l.wi) AS adc_score
  FROM probes p
  JOIN assigned a ON a.cid = p.cid
  JOIN af ON af.vec_id = a.vec_id
  JOIN lut l ON l.query_id = p.query_id AND l.m = af.m AND l.cid = af.cid
  WHERE p.query_id <> a.vec_id
  GROUP BY p.query_id, af.vec_id
),
adc_ranked AS (
  SELECT query_id, neighbor_id, rank_adc FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_score DESC, neighbor_id) AS rank_adc
    FROM adc
  ) WHERE rank_adc <= {IVFPQ_RERANK_R}
),
{_sql_serving_audit_tail()}"""


# ------------------------------------------------------------------ q177


def _pq_table_checksum(df: DataFrame) -> tuple:
    """(row count, xxhash64 content sum) of an index table, collected
    driver-side so built-session and serve-clone tables compare without
    a cross-session join. xxhash64 spans every column (arrays
    included); the sum rides DECIMAL(38,0) so ANSI int64 overflow can't
    kill the fold. Exactness: parquet round-trips doubles bit-for-bit,
    so loaded == built iff the hashes match."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


def q177_pq_index_store_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index lane (VERDICT r16 item 1 — the gap between
    "an index benchmark" and "a vector store"): TRAIN the flat IVF-PQ
    index, COMMIT it through sinks/pqstore.py (four versioned tables +
    one atomic parameter-metadata document pinning their exact version
    names), RELOAD it in a fresh session-clone that holds none of the
    training state, and SERVE q167's full dual-recall audit from the
    loaded artifact.

    Laws in-result:
      - store_matches_build: every loaded table is row-for-row
        hash-identical to the in-session build (count + xxhash64
        content sum per table, compared driver-side) — the store
        round-trips the trained state exactly;
      - the audit columns themselves: byte-identical serving math to
        q167, so the oracle RETRAINS INLINE (the same SQL twin) and
        the driver's hash gate proves loaded-artifact serving ==
        from-scratch training — the strongest cross-engine form of
        "the store serves what was trained".

    Plan: the build is the per-invocation training chain
    (_pq_shared_flat — this audit trains, commits, reloads); the commit writes K,
    K·PQ_M, corpus, and corpus-sized tables (the ~(8 + PQ_M) bytes per
    vector serving layout); the serve session re-derives nothing but
    the corpus normalization (floats stay in the corpus table — the
    store holds no vectors). Load-path scans are ordinary parquet
    reads: the two small tables pack into the broadcast state row of
    the queries' probes and LUTs, and codes ⋈ assignment ⋈ corpus is
    the index side of q167's one serving pass."""
    from ..plans.storage_queries import _detached, _scratch_dir
    from ..sinks import pqstore

    st = _pq_shared_flat(spark, sf_dir)
    params = {
        "dim": DIM,
        "pq_m": PQ_M,
        "pq_dsub": PQ_DSUB,
        "pq_codes": PQ_CODES,
        "pq_iters": PQ_ITERS,
        "n_centroids": N_CENTROIDS,
        "variant": "base",
    }
    built = {
        "centroids": st["cent"],
        "codebooks": st["cb"],
        "codes": st["codes"],
        "assigned": st["assigned"],
    }
    with _scratch_dir(spark, "sms_db_spark_pq_index_store_") as root:
        store = f"{root}/pq_index"
        pqstore.commit_pq_index(spark, store, built, params)
        serve = clone_tuned_session(spark)
        loaded = pqstore.load_pq_index(serve, store, expect_params=params)
        emb = load_table_parallel(serve, sf_dir, "embeddings")
        # the eight per-table checksum collects (built side + loaded
        # side) are independent jobs — previously sequential driver
        # round-trips (guide §2.6; r17). The normalized corpus is read
        # once, by the serving pass, so it stays lazy.
        names = pqstore.PQ_INDEX_TABLES
        sums = concurrent(
            *[lambda f=built[n]: _pq_table_checksum(f) for n in names],
            *[lambda f=loaded[n]: _pq_table_checksum(f) for n in names],
        )
        matches = all(
            sums[i] == sums[len(names) + i] for i in range(len(names))
        )
        audit = _ivfpq_audit(
            emb,
            _normalized_corpus(emb),
            loaded["codebooks"],
            loaded["centroids"],
            loaded["assigned"],
            loaded["codes"],
        ).withColumn("store_matches_build", F.lit(bool(matches)))
        # materialized before the scratch store is torn down
        return _detached(audit)


def _q177_sql() -> str:
    """The oracle retrains inline — q167's exact twin — plus the
    store-law pin: a loaded artifact that did not hash-match the build
    could only match this SQL by colliding, so the gate checks BOTH
    directions at once."""
    return (
        f"SELECT *, TRUE AS store_matches_build FROM ({_q167_sql()}) "
        "ORDER BY query_id"
    )


# ------------------------------------------------------------------ q168


def q168_ivfadc_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with RESIDUAL encoding — the canonical IVF-PQ layout
    (Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011, §IV: quantize r = x − q_coarse(x), not x):
    the PQ codebooks describe the residual distribution INSIDE a
    coarse cell, which is tighter than the global distribution, so
    the same 64-bit budget buys finer quantization. q167 is this
    repo's flat-ADC serving lane; this lane completes the family with
    the residual variant and measures what residuals buy ON THIS
    CORPUS in the same audit shape, so the two rows are directly
    comparable (recall_adc here vs q167's).

    Build: the pinned residual corpus (vec_id, cid, n, r) with
    r = n − unit(c_cid); assignment/training reuse the q166 kernels
    over r (_pq_lloyd / _pq_assign / _pq_update — same laws, different
    input). Seeds: the SAME hashed-sample id law; the 16 seed vectors'
    residuals form cb0, which is exactly the corpus residual rows of
    the seed ids — the SQL twin builds cb0 by that id join.

    Serving — the paper's ADC, verbatim, in q167's one corpus pass: the
    query is mapped into each probed cell's residual space
    (rq = qn − c_unit) and the distance estimate is
    d̂(q, x)² = Σ_m |rq_m − r̂_m|² — PQ_M lookups in a per-(query, cell)
    table of floor-scaled subspace squared distances
    (_residual_luts_sql), ranked ASCENDING. |rq − r̂|² approximates
    |qn − x̂|² with x̂ = c_unit + r̂, so scores compare directly across
    probed cells, and on unit queries L2 order is cosine order. Per-cell
    LUTs are the price of residual encoding (N_PROBE tables per query
    instead of q167's one). Each corpus row is encoded on the fly
    (_pq_code_sql over r) and scored against the LUT of its own list
    when that list is probed; ADC top-R gets the same full-precision
    re-rank as q167, and the result reports BOTH answer sets vs exact
    full-corpus cosine and gates the re-ranked mean on
    IVFPQ_RECALL_TARGET (_serving_audit).

    All training state is this invocation's own (_pq_shared_residual,
    no cross-invocation memo since r17). This lane's declared
    computation has no flat-PQ stage (no flat CTE in its oracle twin),
    so the builder trains no flat codebook."""
    st = _pq_shared_residual(spark, sf_dir)
    rcb = _pq_pack_codebook(st["rcb"], "rcb")
    queries = _pq_queries(
        st["emb"], _packed_cents(st["cent"]).crossJoin(F.broadcast(rcb))
    ).select(
        "query_id", "qn", "probes", F.expr(_residual_luts_sql("rcb")).alias("rluts")
    )
    coded = st["res"].crossJoin(F.broadcast(rcb)).select(
        F.col("vec_id").alias("neighbor_id"),
        "cid",
        "n",
        F.expr(_pq_code_sql("r", "rcb")).alias("rcode"),
    )
    return _serving_audit(
        coded.crossJoin(F.broadcast(queries)), _residual_key_sql("rcode")
    )


def _q168_sql() -> str:
    """DuckDB twin of the residual lane: shared nv shape, q167's
    cent/assigned/probes CTEs, residual sub rows, cb0 from the corpus
    residuals of the hashed-seed ids (equals the Spark side's
    seed-residual construction row-for-row), the shared
    _sql_pq_assign/_sql_pq_update Lloyd rounds, per-(query, cell)
    squared-distance LUTs (the paper's ADC tables, ranked ASC), and
    the shared serving-audit tail."""
    assert PQ_ITERS == 2

    # subspace squared distance — the SQL twin of the Spark side's
    # sqdist fold, element order identical so the floored ints agree
    def ssqd(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {PQ_DSUB + 1}),"
            f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
            f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
        )

    return f"""
WITH nv AS (
  SELECT vec_id,
         list_transform(embedding, u -> CAST(u AS DOUBLE) /
           {_sql_safe_nrm('embedding')}) AS n
  FROM embeddings
),
cent AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
),
cu AS (
  SELECT cid,
         list_transform(c_emb, u -> CAST(u AS DOUBLE) /
           {_sql_safe_nrm('c_emb')}) AS c_unit
  FROM cent
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
res AS (
  SELECT nv.vec_id, a.cid,
         list_transform(range(1, {DIM + 1}),
                        i -> nv.n[i] - cu.c_unit[i]) AS n
  FROM nv JOIN assigned a ON a.vec_id = nv.vec_id
  JOIN cu ON cu.cid = a.cid
),
rsub AS (
  SELECT vec_id, m, n[m * {PQ_DSUB} + 1 : m * {PQ_DSUB} + {PQ_DSUB}] AS s
  FROM res, unnest(range(0, {PQ_M})) t(m)
),
seed AS (
  SELECT vec_id, rn - 1 AS cid FROM (
    SELECT vec_id, row_number() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
    FROM nv
  ) WHERE rn <= {PQ_CODES}
),
rcb0 AS (
  SELECT rsub.m, seed.cid, rsub.s AS c
  FROM seed JOIN rsub ON rsub.vec_id = seed.vec_id
),
ra1 AS ({_sql_pq_assign('rsub', 'rcb0')}),
rcb1 AS ({_sql_pq_update('ra1')}),
ra2 AS ({_sql_pq_assign('rsub', 'rcb1')}),
rcb2 AS ({_sql_pq_update('ra2')}),
raf AS ({_sql_pq_assign('rsub', 'rcb2')}),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < {PQ_NQ}),
probes AS (
  SELECT query_id, cid AS list_id FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_cos('q.q_emb', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {N_PROBE}
),
qcell AS (
  SELECT p.query_id, p.list_id,
         list_transform(range(1, {DIM + 1}),
                        i -> qn.n[i] - cu.c_unit[i]) AS rq
  FROM probes p
  JOIN nv qn ON qn.vec_id = p.query_id
  JOIN cu ON cu.cid = p.list_id
),
rlut AS (
  SELECT t.query_id, t.list_id, cb.m, cb.cid,
         CAST(floor({ssqd('t.s', 'cb.c')} * {PQ_LUT_SCALE}) AS BIGINT) AS wi
  FROM (
    SELECT query_id, list_id, m,
           rq[m * {PQ_DSUB} + 1 : m * {PQ_DSUB} + {PQ_DSUB}] AS s
    FROM qcell, unnest(range(0, {PQ_M})) t(m)
  ) t
  JOIN rcb2 cb ON cb.m = t.m
),
adc AS (
  SELECT qc.query_id, raf.vec_id AS neighbor_id,
         SUM(l.wi) AS adc_dist
  FROM qcell qc
  JOIN assigned a ON a.cid = qc.list_id
  JOIN raf ON raf.vec_id = a.vec_id
  JOIN rlut l ON l.query_id = qc.query_id AND l.list_id = qc.list_id
                  AND l.m = raf.m AND l.cid = raf.cid
  WHERE qc.query_id <> a.vec_id
  GROUP BY qc.query_id, raf.vec_id
),
adc_ranked AS (
  SELECT query_id, neighbor_id, rank_adc FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist ASC, neighbor_id) AS rank_adc
    FROM adc
  ) WHERE rank_adc <= {IVFPQ_RERANK_R}
),
{_sql_serving_audit_tail()}"""


# ------------------------------------------------------------------ q174


# the index keeps the raw embedding of its first rows only: the K
# coarse centroids and the PQ_NQ audited queries
_Q174_RAW_ROWS = max(N_CENTROIDS, PQ_NQ)


def _q174_cent(rows: DataFrame) -> DataFrame:
    """(cid, c_emb): the K coarse centroids — the first K rows' raw
    embeddings (q167's seed law)."""
    return rows.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("c_emb")
    )


def _q174_index(emb: DataFrame) -> DataFrame:
    """(vec_id, cid, n, r, embedding), pinned: the clustered corpus's
    whole index input in ONE map-side projection over the packed
    centroids — the coarse cell by the _cos_argmax_sql law
    (_argmax_cosine_packed's), the zero-safe unit vector n
    (_normalized_corpus's law), and the residual r = n − c_unit[cid]
    (_pq_shared_residual's law). `embedding` stays only on the first
    _Q174_RAW_ROWS rows (NULL elsewhere), so serving reads the
    centroids and the queries off this pin instead of re-deriving the
    fixture. Both codebooks train off this frame and the serving pass
    encodes and scores it."""
    folded = _packed_fold(
        emb.withColumn("_enrm", _safe_nrm(_norm("embedding"))),
        _cent_fields(_q174_cent(emb)),
        _CENT_FIELDS,
        _cos_argmax_sql,
    )
    return (
        folded.select(
            "vec_id",
            (-F.col("_best.ncid")).cast("bigint").alias("cid"),
            _unit("embedding", "_enrm").alias("n"),
            "cents",
            F.when(F.col("vec_id") < _Q174_RAW_ROWS, F.col("embedding")).alias(
                "embedding"
            ),
        )
        .select(
            "vec_id",
            "cid",
            "n",
            F.expr(
                "zip_with(n, element_at(filter(cents, c -> c.cid = cid), 1).c_unit,"
                " (x, y) -> x - y)"
            ).alias("r"),
            "embedding",
        )
        .localCheckpoint(eager=True)
    )


def q174_ivfadc_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual vs flat ADC on the CLUSTERED fixture (VERDICT r15 item
    6): q168 measured residual encoding at parity with flat ADC
    because the synthetic corpus is isotropic — Jégou et al.'s gains
    assume clustered data, and the lane could only say so in prose.
    This lane derives a deterministic mixture-of-clusters corpus from
    the embeddings table (_pq_clustered_emb:
    CLUSTERED_SCALE·center(i % K) + CLUSTERED_EPS·emb_i[:RANK] —
    tight, LOW-RANK within-cluster spread) and scores BOTH ADC paths on
    it, ADC-as-is (no re-rank — the re-rank would mask exactly the
    difference under test): flat codes ranked by descending integer
    dot (q167's statistic) and residual codes by ascending integer
    squared distance (q168's), identical coarse probes, identical
    budgets. Per query it reports both hit counts vs exact full-corpus
    cosine, both means, and `residual_wins` = (mean_res > mean_flat) —
    the paper's claim as a GATED column, not prose.

    Why residuals win here: after coarse routing, candidates share a
    cluster, so ranking hinges on the ~6% within-cluster offsets; flat
    codebooks spend their 16 codes per subspace spanning all K
    well-separated clusters, while residual codebooks span only the
    offset ball — finer cells where it matters. (Measured at sf0.01:
    mean_res 0.58 vs mean_flat 0.29 — gated by the pytest's
    mean_res >= mean_flat + 0.1 margin.)

    Build: ONE pinned (vec_id, cid, n, r) frame (_q174_index, which
    also keeps the raw embeddings of the centroid and query rows); the
    flat (n) and residual (r) codebooks train off it concurrently. No
    code table is pinned.

    Serving is the family's one corpus pass (the serving-pass block
    above): the PQ_NQ query rows meet ONE broadcast state row (packed
    centroids + both packed codebooks) and get, map-side, their
    N_PROBE probes, their flat LUT and one residual LUT per probed list
    (_pq_queries, _residual_luts_sql). Each corpus row is encoded on
    the fly under both codebooks (_pq_code_sql) and paired with every
    query: the pair always emits its exact cosine key, and, when the
    neighbor sits in a probed list, its flat and residual ADC keys. One
    window ranks all three (_top_by_kind, cut PQ_TOPK), and one
    groupBy(query_id) counts both hit sets by intersection.

    Jobs per call at sf0.01 (concurrent thunks run serially so each
    job is attributed to one step), before → after:

        corpus load + clustered-corpus, nv, cent,
          coarse-assignment and residual pins   4+1+1+3+5 → 1+7
        flat codebook                                   6 → 6
        residual codebook                               8 → 6
        flat and residual code pins                   4+4 → 0
        exact pin + per_q pin + result          3+30+5 → 11
        total                                          75 → 31

    At sf0.001 the count is 31 at local[2], local[4] and local[8];
    tests/test_job_ceilings.py holds it.

    All training state is this invocation's own (no cross-invocation
    memo)."""
    index = _q174_index(_pq_clustered_emb(spark, sf_dir))
    cb, rcb = concurrent(
        lambda: _pq_column_codebook(index, "n"),
        lambda: _pq_column_codebook(index, "r"),
    )
    # both packed codebooks in one row: the corpus side encodes with it,
    # and the query state row (plus the packed centroids) reuses its
    # broadcast
    codebooks = _pq_pack_codebook(cb, "fcb").crossJoin(
        F.broadcast(_pq_pack_codebook(rcb, "rcb"))
    )
    state = _packed_cents(_q174_cent(index)).crossJoin(F.broadcast(codebooks))
    # per query: probes, the flat LUT, and one residual LUT per probed list
    queries = _pq_queries(index, state).select(
        "query_id",
        "qn",
        "probes",
        F.expr(_pq_lut_sql("qn", "fcb", _dot_sql)).alias("flut"),
        F.expr(_residual_luts_sql("rcb")).alias("rluts"),
    )
    coded = index.crossJoin(F.broadcast(codebooks)).select(
        F.col("vec_id").alias("neighbor_id"),
        "cid",
        "n",
        F.expr(_pq_code_sql("n", "fcb")).alias("fcode"),
        F.expr(_pq_code_sql("r", "rcb")).alias("rcode"),
    )
    # kind 0: exact cosine (descending), 1: flat ADC dot (descending),
    # 2: residual ADC distance (ascending) — one ascending key for all
    keys = F.expr(
        f"concat(array(named_struct('kind', 0, 'key', -({_UNIT_DOT_SQL}))),"
        f" IF({_PROBE_SLOT} > 0, array("
        f"named_struct('kind', 1, 'key', {_flat_key_sql('flut', 'fcode')}),"
        f" named_struct('kind', 2, 'key', {_residual_key_sql('rcode')})),"
        f" array()))"
    )
    top = _top_by_kind(coded.crossJoin(F.broadcast(queries)), keys, PQ_TOPK)
    per_q = (
        top.groupBy("query_id")
        .agg(
            _hits(0, PQ_TOPK).alias("ex"),
            _hits(1, PQ_TOPK).alias("fl"),
            _hits(2, PQ_TOPK).alias("rs"),
        )
        .select(
            "query_id",
            F.size(F.array_intersect("ex", "fl")).cast("bigint").alias("n_hits_flat"),
            F.size(F.array_intersect("ex", "rs")).cast("bigint").alias("n_hits_res"),
        )
    )

    # the means and the per-query rows in ONE aggregate over the PQ_NQ
    # per_q rows, re-expanded: no second scan of per_q for the means
    return (
        per_q.agg(
            F.collect_list(F.struct("query_id", "n_hits_flat", "n_hits_res")).alias("qs"),
            _mean_recall("n_hits_flat", PQ_TOPK).alias("mean_flat"),
            _mean_recall("n_hits_res", PQ_TOPK).alias("mean_res"),
        )
        .select(F.inline("qs"), "mean_flat", "mean_res")
        .select(
            "query_id",
            "n_hits_flat",
            "n_hits_res",
            (F.col("n_hits_flat").cast("double") / F.lit(float(PQ_TOPK))).alias(
                "recall_flat"
            ),
            (F.col("n_hits_res").cast("double") / F.lit(float(PQ_TOPK))).alias(
                "recall_res"
            ),
            "mean_flat",
            "mean_res",
            (F.col("mean_res") > F.col("mean_flat")).alias("residual_wins"),
        )
        .orderBy("query_id")
    )


def _q174_sql() -> str:
    """DuckDB twin: the clustered corpus as a CTE shadow — the shared
    train/probe fragments are reused verbatim with their `embeddings`
    table reference rewritten to the fixture CTE (a word-boundary
    textual substitution; the fragments use the name only as the
    corpus table)."""
    import re as _re

    assert PQ_ITERS == 2

    def on_cemb(fragment: str) -> str:
        return _re.sub(r"\bembeddings\b", "cemb", fragment)

    def ssqd(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {PQ_DSUB + 1}),"
            f" i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
            f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
        )

    return f"""
WITH cemb AS (
  SELECT e.vec_id,
         [{CLUSTERED_SCALE} * CAST(c.c_base[i] AS DOUBLE)
            + CASE WHEN i <= {CLUSTERED_RANK}
                   THEN {CLUSTERED_EPS} * CAST(e.embedding[i] AS DOUBLE)
                   ELSE 0.0 END
          for i in generate_series(1, {DIM})] AS embedding
  FROM embeddings e
  JOIN (SELECT vec_id AS ccid, embedding AS c_base FROM embeddings
        WHERE vec_id < {N_CENTROIDS}) c
    ON c.ccid = e.vec_id % {N_CENTROIDS}
),
{on_cemb(_pq_train_ctes())},
cent AS (
  SELECT vec_id AS cid, embedding AS c_emb FROM cemb
  WHERE vec_id < {N_CENTROIDS}
),
cu AS (
  SELECT cid,
         list_transform(c_emb, u -> CAST(u AS DOUBLE) /
           {_sql_safe_nrm('c_emb')}) AS c_unit
  FROM cent
),
assigned AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM cemb e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM cemb
      WHERE vec_id < {PQ_NQ}),
probes AS (
  SELECT query_id, cid AS list_id FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY {_sql_cos('q.q_emb', 'c.c_emb')} DESC, c.cid
           ) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {N_PROBE}
),
fadc AS (
  SELECT p.query_id, af.vec_id AS neighbor_id, SUM(l.wi) AS adc_score
  FROM probes p
  JOIN assigned a ON a.cid = p.list_id
  JOIN af ON af.vec_id = a.vec_id
  JOIN lut l ON l.query_id = p.query_id AND l.m = af.m AND l.cid = af.cid
  WHERE p.query_id <> a.vec_id
  GROUP BY p.query_id, af.vec_id
),
ftop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_score DESC, neighbor_id) AS r
    FROM fadc
  ) WHERE r <= {PQ_TOPK}
),
res AS (
  SELECT nv.vec_id, a.cid,
         list_transform(range(1, {DIM + 1}),
                        i -> nv.n[i] - cu.c_unit[i]) AS n
  FROM nv JOIN assigned a ON a.vec_id = nv.vec_id
  JOIN cu ON cu.cid = a.cid
),
rsub AS (
  SELECT vec_id, m, n[m * {PQ_DSUB} + 1 : m * {PQ_DSUB} + {PQ_DSUB}] AS s
  FROM res, unnest(range(0, {PQ_M})) t(m)
),
rcb0 AS (
  SELECT rsub.m, seed.cid, rsub.s AS c
  FROM seed JOIN rsub ON rsub.vec_id = seed.vec_id
),
ra1 AS ({_sql_pq_assign('rsub', 'rcb0')}),
rcb1 AS ({_sql_pq_update('ra1')}),
ra2 AS ({_sql_pq_assign('rsub', 'rcb1')}),
rcb2 AS ({_sql_pq_update('ra2')}),
raf AS ({_sql_pq_assign('rsub', 'rcb2')}),
qcell AS (
  SELECT p.query_id, p.list_id,
         list_transform(range(1, {DIM + 1}),
                        i -> qn.n[i] - cu.c_unit[i]) AS rq
  FROM probes p
  JOIN nv qn ON qn.vec_id = p.query_id
  JOIN cu ON cu.cid = p.list_id
),
rlut AS (
  SELECT t.query_id, t.list_id, cb.m, cb.cid,
         CAST(floor({ssqd('t.s', 'cb.c')} * {PQ_LUT_SCALE}) AS BIGINT) AS wi
  FROM (
    SELECT query_id, list_id, m,
           rq[m * {PQ_DSUB} + 1 : m * {PQ_DSUB} + {PQ_DSUB}] AS s
    FROM qcell, unnest(range(0, {PQ_M})) t(m)
  ) t
  JOIN rcb2 cb ON cb.m = t.m
),
radc AS (
  SELECT qc.query_id, raf.vec_id AS neighbor_id, SUM(l.wi) AS adc_dist
  FROM qcell qc
  JOIN assigned a ON a.cid = qc.list_id
  JOIN raf ON raf.vec_id = a.vec_id
  JOIN rlut l ON l.query_id = qc.query_id AND l.list_id = qc.list_id
                  AND l.m = raf.m AND l.cid = raf.cid
  WHERE qc.query_id <> a.vec_id
  GROUP BY qc.query_id, raf.vec_id
),
rtop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist ASC, neighbor_id) AS r
    FROM radc
  ) WHERE r <= {PQ_TOPK}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qn.vec_id AS query_id, cn.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY qn.vec_id
             ORDER BY {_sql_dot('qn.n', 'cn.n')} DESC, cn.vec_id) AS rank
    FROM nv qn JOIN nv cn ON qn.vec_id <> cn.vec_id
    WHERE qn.vec_id < {PQ_NQ}
  ) WHERE rank <= {PQ_TOPK}
),
per_q AS (
  SELECT x.query_id, COALESCE(hf.n, 0) AS n_hits_flat,
         COALESCE(hr.n, 0) AS n_hits_res
  FROM (SELECT DISTINCT query_id FROM exact) x
  LEFT JOIN (
    SELECT e.query_id, COUNT(*) AS n
    FROM exact e JOIN ftop s
      ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
    GROUP BY e.query_id
  ) hf ON x.query_id = hf.query_id
  LEFT JOIN (
    SELECT e.query_id, COUNT(*) AS n
    FROM exact e JOIN rtop s
      ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
    GROUP BY e.query_id
  ) hr ON x.query_id = hr.query_id
)
SELECT query_id, n_hits_flat, n_hits_res,
       CAST(n_hits_flat AS DOUBLE) / {float(PQ_TOPK)} AS recall_flat,
       CAST(n_hits_res AS DOUBLE) / {float(PQ_TOPK)} AS recall_res,
       CAST(SUM(n_hits_flat) OVER () AS DOUBLE)
           / CAST(COUNT(*) OVER () * {PQ_TOPK} AS DOUBLE) AS mean_flat,
       CAST(SUM(n_hits_res) OVER () AS DOUBLE)
           / CAST(COUNT(*) OVER () * {PQ_TOPK} AS DOUBLE) AS mean_res,
       (CAST(SUM(n_hits_res) OVER () AS DOUBLE)
           > CAST(SUM(n_hits_flat) OVER () AS DOUBLE)) AS residual_wins
FROM per_q ORDER BY query_id
"""


QUERIES = {
    "q48_ann_bruteforce_topk": QuerySpec(q48_ann_bruteforce_topk, Q48_SQL, "exact cosine top-k"),
    "q167_ivfpq_serving": QuerySpec(
        q167_ivfpq_serving,
        _q167_sql(),
        "IVF-PQ serving: coarse probe routing over ADC-scored PQ codes "
        "with in-query recall audit vs exact cosine",
    ),
    "q177_pq_index_store_audit": QuerySpec(
        q177_pq_index_store_audit,
        _q177_sql(),
        "IVF-PQ index persisted via versioned store + parameter "
        "metadata, reloaded in a fresh session and served: q167's "
        "audit from the loaded artifact, store round-trip law gated",
    ),
    "q168_ivfadc_residual": QuerySpec(
        q168_ivfadc_residual,
        _q168_sql(),
        "IVFADC residual encoding (Jegou et al. 2011): PQ over "
        "coarse-cell residuals, per-(query, cell) squared-distance "
        "LUTs ranked ascending, same re-rank + recall audit as q167",
    ),
    "q174_ivfadc_clustered": QuerySpec(
        q174_ivfadc_clustered,
        _q174_sql(),
        "residual vs flat ADC on the clustered fixture: residual must win",
    ),
    "q133_hard_negatives": QuerySpec(
        q133_hard_negatives,
        Q133_SQL,
        "hard-negative mining for contrastive training via the IVF probe path",
    ),
    "q128_sq8_ann_recall": QuerySpec(
        q128_sq8_ann_recall,
        Q128_SQL,
        "int8 scalar-quantized ANN with in-query recall audit vs exact cosine",
    ),
    "q166_pq_adc_recall": QuerySpec(
        q166_pq_adc_recall,
        _pq_sql(),
        "product quantization (train/encode/ADC) with recall audit vs exact cosine",
    ),
    "q122_multiprobe_recall": QuerySpec(
        q122_multiprobe_recall, Q122_SQL, "multi-probe sign-LSH recall@k (Hamming-1 probes)"
    ),
    "q120_ann_recall": QuerySpec(
        q120_ann_recall, Q120_SQL, "recall@k audit of the sign-LSH ANN path vs exact"
    ),
    "q121_ivf_recall": QuerySpec(
        q121_ivf_recall, Q121_SQL, "recall@k audit of the IVF multi-probe path vs exact"
    ),
    "q138_jl_projection_recall": QuerySpec(
        q138_jl_projection_recall,
        Q138_SQL,
        "recall@k audit of JL sign-projection ANN (integer-exact rankings)",
    ),
    "q49_ann_lsh_topk": QuerySpec(q49_ann_lsh_topk, Q49_SQL, "sign-LSH bucketed top-k"),
    "q50_embedding_neardup": QuerySpec(q50_embedding_neardup, Q50_SQL, "cosine near-dup pairs"),
    "q51_ann_ivf_topk": QuerySpec(q51_ann_ivf_topk, Q51_SQL, "IVF coarse-quantized top-k"),
    "q74_embedding_neardup_lsh": QuerySpec(
        q74_embedding_neardup_lsh, _q74_sql(), "sign-LSH candidate embedding near-dup"
    ),
    "q86_kmeans_ivf_train": QuerySpec(
        q86_kmeans_ivf_train, _q86_sql(), "Lloyd k-means IVF centroid training"
    ),
    "q124_kmeans_hashed_seed_train": QuerySpec(
        q124_kmeans_hashed_seed_train,
        _q124_sql(),
        "Lloyd k-means under deterministic hashed-sample seeding (production seed)",
    ),
    "q98_semantic_dedup": QuerySpec(
        q98_semantic_dedup, Q98_SQL, "SemDeDup cluster-bucketed cosine pruning"
    ),
    "q100_centroid_outliers": QuerySpec(
        q100_centroid_outliers, Q100_SQL, "per-cluster centroid-similarity outlier deciles"
    ),
}
