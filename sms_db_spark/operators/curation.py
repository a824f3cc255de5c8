"""Corpus-curation operators for a training-data pipeline: deterministic
train/val/test splitting, hash-threshold sampling, sequence packing, PII
scrubbing, benchmark-contamination detection, and repetition-based
quality stats (Gopher-style).

All are pure built-in-expression plans (JVM-side, whole-stage codegen) —
no Python UDFs, each with a DuckDB oracle. Portability rules follow the
rest of the repo: md5-prefix hashes (identical bytes both engines),
Java-regex ∩ RE2 patterns, int/int double divisions only.

Scale notes (the 100 TB story, per operator):
  - q77/q78: per-row map over a hash of the STABLE document id — no
    shuffle, no sampling pass, no count; re-running on a grown corpus
    never reassigns an existing doc (the property that makes hash splits
    the standard over random() splits for training data).
  - q79: one shuffle, on the shard key; packing is a running sum within
    each shard partition — no global window (a global cumsum would
    single-thread the corpus; sharding is also what a real loader wants,
    since bins must be readable per-worker).
  - q80: per-row regexp_replace chain — linear, pushdown-friendly.
  - q81: the benchmark side is small BY DEFINITION (an eval set), so it
    is explicitly broadcast; the corpus side explodes its shingles once
    and aggregates on doc_id — one shuffle on uniform keys.
  - q82: per-row array expressions; the per-doc max-multiplicity scan is
    O(distinct·len) on SHORT documents — for book-length docs swap in
    the explode + groupBy(doc_id, token) formulation noted in the
    docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import QuerySpec
from ..sources.canonical import dense_ids
from ..tables import load_table, load_table_parallel

# ------------------------------------------------------------------ q77

SPLIT_BUCKETS = 1000
TRAIN_UPTO = 900  # [0, 900) → train
VALID_UPTO = 950  # [900, 950) → valid; [950, 1000) → test


def _hash_bucket(col):
    """md5-prefix bucket in [0, SPLIT_BUCKETS) — byte-identical in DuckDB
    (same trick as dedup._base30)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("bigint")
        % SPLIT_BUCKETS
    )


def _sql_bucket(expr: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8))::BIGINT % {SPLIT_BUCKETS}"
    )


def q77_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment from a hash of doc_id.

    The split is a pure function of the id: stable under reruns, corpus
    growth, and partitioning — no random(), no global count, no shuffle.
    Behavioral parity: the reference's exact-dedup keeps a canonical row
    per content hash (sms-db.pl:214 `hash INT UNIQUE`); this is the same
    hash-the-key discipline applied to dataset membership.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.col("doc_id"))
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_UPTO, "train")
        .when(bucket < VALID_UPTO, "valid")
        .otherwise("test")
        .alias("split"),
    )


Q77_SQL = f"""
SELECT doc_id,
       {_sql_bucket('doc_id')} AS bucket,
       CASE WHEN {_sql_bucket('doc_id')} < {TRAIN_UPTO} THEN 'train'
            WHEN {_sql_bucket('doc_id')} < {VALID_UPTO} THEN 'valid'
            ELSE 'test' END AS split
FROM documents
"""

# ------------------------------------------------------------------ q78

SAMPLE_UPTO = 100  # 100/1000 → a 10% expected-rate sample


def q78_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample: keep docs whose id-hash bucket
    falls below the threshold.

    Unlike df.sample() this needs no seed plumbing, is reproducible
    across engines and reruns, composes with q77 (a doc's sample
    membership never changes as the corpus grows), and is a pushdown-able
    per-row filter — no sort, no count, no shuffle at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", _hash_bucket(F.col("doc_id")).alias("sample_key"), "source", "n_chars"
    ).filter(F.col("sample_key") < SAMPLE_UPTO)


Q78_SQL = f"""
SELECT doc_id, {_sql_bucket('doc_id')} AS sample_key, source, n_chars
FROM documents
WHERE {_sql_bucket('doc_id')} < {SAMPLE_UPTO}
"""

# ------------------------------------------------------------------ q79

PACK_BUDGET = 512  # tokens per training sequence (bin)

# whitespace token count on the dedup-normalized tokenization, so packing
# and dedup agree on what a "token" is
_WS_TOKENS = "string_split(regexp_replace(lower(trim(text)), ' +', ' ', 'g'), ' ')"


def q79_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing: within each shard (source),
    documents are laid end-to-end in doc_id order and cut into
    PACK_BUDGET-token bins; each doc is assigned the bin where it starts.

    This is the standard LLM-pretraining packing discipline expressed as
    ONE window: a running token sum per shard, then integer division.
    Partitioning by shard keeps the window distributed (a global cumsum
    would funnel 100 TB through one task) and matches how a data loader
    consumes bins — per shard, in order.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " "), " ")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = docs.select("doc_id", "source", F.size(tokens).alias("n_tok"))
    cum = F.sum("n_tok").over(w)
    return sized.select(
        "doc_id",
        "source",
        "n_tok",
        (cum - F.col("n_tok")).alias("start_offset"),
        F.floor((cum - F.col("n_tok")) / F.lit(PACK_BUDGET))
        .cast("bigint")
        .alias("bin_id"),
    )


Q79_SQL = f"""
WITH sized AS (
  SELECT doc_id, source, len({_WS_TOKENS}) AS n_tok FROM documents
),
cum AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM sized
)
SELECT doc_id, source, n_tok,
       CAST(c - n_tok AS BIGINT) AS start_offset,  -- duckdb SUM(BIGINT) yields HUGEINT
       CAST(floor((c - n_tok) / {PACK_BUDGET}) AS BIGINT) AS bin_id
FROM cum
"""

# ------------------------------------------------------------------ q80

# Java-regex ∩ RE2 (no backrefs, no lookaround)
PHONE_RE = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"


def q80_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass over free text: find-and-mask phone numbers and
    email addresses, reporting per-row match counts.

    The synthetic tables carry no PII-shaped strings, so the scrub input
    is built deterministically from customer keys (a TPC-H-format phone
    `NN-NNN-NNN-NNNN` derived from c_custkey digits, an email from
    c_name) — the regexes are exercised over realistic embedded contact
    info and the oracle verifies every mask byte-for-byte. At corpus
    scale the scrub itself is a per-row regexp_replace chain: linear, no
    shuffle, safe to run as the first map stage of any ingest.
    """
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    phone = F.concat_ws(
        "-",
        (F.lit(10) + k % 90).cast("string"),
        F.lpad(((k * 7) % 1000).cast("string"), 3, "0"),
        F.lpad(((k * 13) % 1000).cast("string"), 3, "0"),
        F.lpad(((k * 31) % 10000).cast("string"), 4, "0"),
    )
    email = F.concat(F.replace(F.lower(F.col("c_name")), F.lit("#"), F.lit("")), F.lit("@example.com"))
    raw = F.concat_ws(
        " ", F.col("c_mktsegment"), F.lit("customer"), email, F.lit("phone"), phone
    )
    return cust.select(
        "c_custkey",
        F.size(F.regexp_extract_all(raw, F.lit(PHONE_RE), 0)).alias("n_phones"),
        F.size(F.regexp_extract_all(raw, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.regexp_replace(
            F.regexp_replace(raw, PHONE_RE, "[PHONE]"), EMAIL_RE, "[EMAIL]"
        ).alias("redacted"),
    )


Q80_SQL = f"""
WITH raw AS (
  SELECT c_custkey,
         c_mktsegment || ' customer '
           || replace(lower(c_name), '#', '') || '@example.com'
           || ' phone '
           || CAST(10 + c_custkey % 90 AS VARCHAR) || '-'
           || lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0') || '-'
           || lpad(CAST((c_custkey * 13) % 1000 AS VARCHAR), 3, '0') || '-'
           || lpad(CAST((c_custkey * 31) % 10000 AS VARCHAR), 4, '0') AS t
  FROM customer
)
SELECT c_custkey,
       len(regexp_extract_all(t, '{PHONE_RE}')) AS n_phones,
       len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
       regexp_replace(regexp_replace(t, '{PHONE_RE}', '[PHONE]', 'g'),
                      '{EMAIL_RE}', '[EMAIL]', 'g') AS redacted
FROM raw
"""

# ------------------------------------------------------------------ q81

BENCH_MAX_ID = 50  # doc_id < 50 stands in for the held-out benchmark set


def q81_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: which training docs share word
    3-gram shingles with a held-out eval set, and how much.

    The canonical decontamination shape: the eval side is SMALL by
    definition, so its distinct shingle set is broadcast; the corpus
    explodes its shingles once (linear) and aggregates hits per doc —
    one shuffle, on doc_id. contaminated_frac is the per-doc share of
    shingles that appear anywhere in the benchmark.
    """
    from .dedup import _tokens_col, shingles_col

    # parallel load: the corpus-side shingle pass is the dominant cost and
    # must not run on a single input split (see load_table_parallel)
    docs = load_table_parallel(spark, sf_dir, "documents")
    with_sh = docs.select("doc_id", shingles_col(_tokens_col()).alias("sh"))
    bench_sh = (
        with_sh.filter(F.col("doc_id") < BENCH_MAX_ID)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    # No size(sh)>0 filter: explode already emits nothing for empty
    # arrays, and such a predicate (it embeds the whole shingle
    # transform) would be pushed below the round-robin spread onto the
    # raw single-split scan — the q73 pathology (measured 18s vs 2s).
    corpus = with_sh.filter(F.col("doc_id") >= BENCH_MAX_ID).select(
        "doc_id", F.size("sh").alias("n_shingles"), F.explode("sh").alias("shingle")
    )
    return (
        corpus.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("n_shingles").cast("double")).alias(
                "contaminated_frac"
            ),
        )
    )


def _q81_sql() -> str:
    from .dedup import _SHINGLES_SQL

    return f"""
WITH sh AS ({_SHINGLES_SQL}),
bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id < {BENCH_MAX_ID}
),
corpus AS (
  SELECT doc_id, len(shingles) AS n_shingles, unnest(shingles) AS shingle
  FROM sh WHERE doc_id >= {BENCH_MAX_ID}
)
SELECT c.doc_id, c.n_shingles, count(*) AS n_shared,
       CAST(count(*) AS DOUBLE) / CAST(c.n_shingles AS DOUBLE) AS contaminated_frac
FROM corpus c JOIN bench b USING (shingle)
GROUP BY c.doc_id, c.n_shingles
"""

# ------------------------------------------------------------------ q82

MAX_TOP_TOKEN_RATIO = 0.2
MAX_DUP_BIGRAM_FRAC = 0.4


def q82_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: type-token ratio, most-frequent-
    token share, duplicate-bigram fraction, and the pass/fail gate.

    All computed as per-row array expressions over the dedup-normalized
    tokenization. The max-multiplicity scan is O(distinct·len) per doc —
    right for short/medium documents; for book-length inputs the same
    statistic is an explode + groupBy(doc_id, token) + max, which trades
    one shuffle for linear per-doc work. The CHARACTER-MASS rules from
    the same paper (top-2-gram / duplicated-5-gram char fractions) live
    in textstats.gopher_repetition (q165), which is built in exactly
    that deferred explode shape — the two are complementary rule sets,
    not twins: this one is count-ratio over unigrams/bigrams per-row,
    that one is char-mass over 2/5-grams via the shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " "), " ")
    t = docs.select("doc_id", tokens.alias("toks"))
    n = F.size("toks")
    n_distinct = F.size(F.array_distinct("toks"))
    # multiplicity of each distinct token, then its max (one pass per
    # distinct token — the short-doc shape, see docstring)
    max_mult = F.array_max(
        F.transform(
            F.array_distinct("toks"),
            lambda d: F.size(F.filter(F.col("toks"), lambda x: x == d)),
        )
    )
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("toks"), i), F.element_at(F.col("toks"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    stats = t.select(
        "doc_id",
        n.alias("n_tok"),
        (n_distinct.cast("double") / n.cast("double")).alias("type_token_ratio"),
        (max_mult.cast("double") / n.cast("double")).alias("top_token_ratio"),
        F.when(
            F.size(bigrams) > 0,
            F.lit(1.0)
            - F.size(F.array_distinct(bigrams)).cast("double")
            / F.size(bigrams).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )
    return stats.withColumn(
        "passes_repetition",
        (F.col("top_token_ratio") <= MAX_TOP_TOKEN_RATIO)
        & (F.col("dup_bigram_frac") <= MAX_DUP_BIGRAM_FRAC),
    )


Q82_SQL = f"""
WITH t AS (SELECT doc_id, {_WS_TOKENS} AS toks FROM documents),
stats AS (
  SELECT doc_id,
         len(toks) AS n_tok,
         CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
             AS type_token_ratio,
         CAST(list_max(list_transform(list_distinct(toks),
                  d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS top_token_ratio,
         CASE WHEN len(toks) >= 2 THEN
           1.0 - CAST(len(list_distinct(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
                 / CAST(len(toks) - 1 AS DOUBLE)
         ELSE 0.0 END AS dup_bigram_frac
  FROM t
)
SELECT doc_id, n_tok, type_token_ratio, top_token_ratio, dup_bigram_frac,
       (top_token_ratio <= {MAX_TOP_TOKEN_RATIO}
        AND dup_bigram_frac <= {MAX_DUP_BIGRAM_FRAC}) AS passes_repetition
FROM stats
"""


# ------------------------------------------------------------------ q84

STRATUM_N = 10  # docs kept per source


def q84_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sample: exactly STRATUM_N docs per source,
    chosen by deterministic hash order (bucket, then doc_id as the
    total-order tie-break) — reproducible across engines and reruns.

    ONE shuffle (the per-source window); no global sort, no count pass.
    At 100 TB the per-stratum top-N never materializes a stratum: the
    window's rank is computed streaming within each source partition
    (skewed sources are exactly what AQE skew handling addresses, and
    the alternative two-phase per-partition top-N is documented in
    SCALE.md should a single stratum exceed a partition).
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("bucket", "doc_id")
    return (
        docs.select("doc_id", "source", _hash_bucket(F.col("doc_id")).alias("bucket"))
        .withColumn("rank_in_stratum", F.row_number().over(w))
        .filter(F.col("rank_in_stratum") <= STRATUM_N)
    )


Q84_SQL = f"""
SELECT doc_id, source, bucket, rank_in_stratum FROM (
  SELECT doc_id, source, {_sql_bucket('doc_id')} AS bucket,
         row_number() OVER (PARTITION BY source
                            ORDER BY {_sql_bucket('doc_id')}, doc_id) AS rank_in_stratum
  FROM documents
) WHERE rank_in_stratum <= {STRATUM_N}
"""

# ------------------------------------------------------------------ q85

# mixture rates in hash-buckets-of-1000 per language tier
MIX_RATES = {"en": 500, "de": 300, "es": 300}
MIX_DEFAULT = 100


def q85_weighted_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling: each language tier keeps a different
    deterministic fraction of its docs (en 50%, de/es 30%, rest 10%) —
    how a pretraining mixture up/down-weights sources without a shuffle,
    a count, or a random() (the same doc set comes back on every rerun
    and after corpus growth).

    Pure map-side filter on (lang tier rate, id-hash bucket): linear at
    any scale, pushdown-friendly, composable with q77's split.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", MIX_RATES["en"])
    for lang, r in MIX_RATES.items():
        if lang != "en":
            rate = rate.when(F.col("lang") == lang, r)
    rate = rate.otherwise(MIX_DEFAULT)
    return (
        docs.select(
            "doc_id",
            "lang",
            _hash_bucket(F.col("doc_id")).alias("bucket"),
            rate.alias("keep_rate"),
        )
        .filter(F.col("bucket") < F.col("keep_rate"))
    )


Q85_SQL = f"""
SELECT doc_id, lang, bucket, keep_rate FROM (
  SELECT doc_id, lang, {_sql_bucket('doc_id')} AS bucket,
         CASE WHEN lang = 'en' THEN {MIX_RATES['en']}
              WHEN lang = 'de' THEN {MIX_RATES['de']}
              WHEN lang = 'es' THEN {MIX_RATES['es']}
              ELSE {MIX_DEFAULT} END AS keep_rate
  FROM documents
) WHERE bucket < keep_rate
"""


# ------------------------------------------------------------------ q87

RARITY_TOKEN_RE = "[A-Za-z]+|[0-9]+"  # textstats.TOKEN_RE (shared contract)
RARE_THRESHOLD = 0.002  # mean corpus frequency below which a doc is "rare"


def q87_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality signal without the float hazard: per-doc MEAN
    TOKEN FREQUENCY under the corpus unigram model — the log-free stand-in
    for perplexity filtering (CCNet-style). Low mean frequency = the doc
    is built from rare tokens (gibberish, boilerplate IDs, wrong-language
    residue); high = stopword soup. Both tails are filter candidates.

    Exactness discipline: a per-doc SUM of per-token log-probs is
    float-order-sensitive AND libm-sensitive (ln differs in the last ulp
    across engines, which a quantizer can amplify across a floor
    boundary). Mean frequency instead needs ONE division at the end:
    sum(count[token]) is an exact int64 sum, and
    mean = sum / (n_tok · total_tokens) is a single deterministic IEEE
    multiply+divide — bit-identical everywhere, hence oracle-hashable.

    Plan: explode (linear) → vocab groupBy(term) (one shuffle; stopword
    skew dies in the map-side partial agg) → tok ⋈ broadcast(vocab)
    (vocab is min-df-prunable to executor-memory size at corpus scale —
    same argument as q57's df table) → groupBy(doc_id) (one uniform
    shuffle). The corpus-wide total rides along as a broadcast scalar.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(RARITY_TOKEN_RE), 0)
        ).alias("term"),
    )
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("term_cnt"))
    total = vocab.agg(F.sum("term_cnt").alias("total_tokens"))
    per_doc = (
        tok.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("term_cnt").alias("sum_cnt"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tok",
            "sum_cnt",
            (
                F.col("sum_cnt").cast("double")
                / (F.col("n_tok").cast("double") * F.col("total_tokens").cast("double"))
            ).alias("mean_token_freq"),
        )
        .withColumn("is_rare", F.col("mean_token_freq") < RARE_THRESHOLD)
    )


Q87_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '{RARITY_TOKEN_RE}')) AS term
  FROM documents
),
vocab AS (SELECT term, count(*) AS term_cnt FROM tok GROUP BY term),
total AS (SELECT CAST(SUM(term_cnt) AS BIGINT) AS total_tokens FROM vocab),
per_doc AS (
  SELECT t.doc_id, count(*) AS n_tok, CAST(SUM(v.term_cnt) AS BIGINT) AS sum_cnt
  FROM tok t JOIN vocab v USING (term) GROUP BY t.doc_id
)
SELECT doc_id, n_tok, sum_cnt,
       CAST(sum_cnt AS DOUBLE)
         / (CAST(n_tok AS DOUBLE) * CAST(total_tokens AS DOUBLE)) AS mean_token_freq,
       CAST(sum_cnt AS DOUBLE)
         / (CAST(n_tok AS DOUBLE) * CAST(total_tokens AS DOUBLE)) < {RARE_THRESHOLD}
         AS is_rare
FROM per_doc CROSS JOIN total
"""


# ------------------------------------------------------------------ q91

CHUNK_W = 64  # tokens per chunk
CHUNK_S = 48  # stride (CHUNK_W - CHUNK_S = 16-token overlap)


def q91_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunker (RAG / long-context training data
    prep): each document becomes ceil(n/STRIDE) chunks of up to CHUNK_W
    tokens starting every CHUNK_S tokens, so consecutive chunks share a
    16-token overlap and every token is covered. The tail chunk may be
    short — coverage beats uniformity for training shards.

    Pure map-side: tokenize once, expand starts with a bounded
    `sequence`, explode. Zero shuffles; linear at any corpus size. The
    output (doc_id, chunk_id) key is the natural downstream shard key.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    tk = F.split(F.trim(F.col("text")), " ")
    chunks = F.transform(
        F.sequence(F.lit(1), F.size(tk), F.lit(CHUNK_S)),
        lambda s: F.struct(
            ((s - 1) / CHUNK_S).cast("bigint").alias("chunk_id"),
            s.cast("bigint").alias("start_pos"),
            F.least(F.lit(CHUNK_W), F.size(tk) - s + 1).cast("bigint").alias("n_tokens"),
            F.concat_ws(" ", F.slice(tk, s, CHUNK_W)).alias("chunk_text"),
        ),
    )
    return docs.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id", "c.chunk_id", "c.start_pos", "c.n_tokens", "c.chunk_text"
    )


Q91_SQL = f"""
SELECT doc_id,
       CAST(u.chunk_id AS BIGINT) AS chunk_id,
       CAST(u.start_pos AS BIGINT) AS start_pos,
       CAST(u.n_tokens AS BIGINT) AS n_tokens,
       u.chunk_text
FROM (
  SELECT doc_id,
         unnest([{{'chunk_id': (s - 1) // {CHUNK_S},
                  'start_pos': s,
                  'n_tokens': least({CHUNK_W}, len(tk) - s + 1),
                  'chunk_text': array_to_string(tk[s:s+{CHUNK_W - 1}], ' ')}}
                 for s in generate_series(1, len(tk), {CHUNK_S})]) AS u
  FROM (SELECT doc_id, string_split(trim(text), ' ') AS tk FROM documents)
)
"""


# ------------------------------------------------------------------ q92

DOMAIN_MIN_DOCS = 20
DOMAIN_MIN_AVG_TOKENS = 54.0


def q92_domain_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation gate (C4-style): aggregate quality is
    computed PER SOURCE, and every document inherits its source's
    verdict — the pattern for dropping whole spam/boilerplate domains
    rather than judging documents one at a time.

    Two-level plan: one groupBy(source) aggregate (tiny result: one row
    per domain), then the per-doc pass joins against the BROADCAST stats
    table — no second shuffle of the corpus. The mean is one double
    division of two exact int64 sums, bit-identical across engines.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), " "))
    per_doc = docs.select("doc_id", "source", n_tok.cast("bigint").alias("n_tok"))
    stats = (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("source_docs"),
            F.sum("n_tok").alias("tok_sum"),
        )
        .select(
            "source",
            "source_docs",
            (F.col("tok_sum").cast("double") / F.col("source_docs").cast("double")).alias(
                "source_avg_tokens"
            ),
        )
    )
    return (
        per_doc.join(F.broadcast(stats), "source")
        .select(
            "doc_id",
            "source",
            "n_tok",
            "source_docs",
            "source_avg_tokens",
            (
                (F.col("source_docs") >= DOMAIN_MIN_DOCS)
                & (F.col("source_avg_tokens") >= DOMAIN_MIN_AVG_TOKENS)
            ).alias("keep_domain"),
        )
    )


Q92_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, source,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok
  FROM documents
),
stats AS (
  SELECT source, count(*) AS source_docs,
         CAST(SUM(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS source_avg_tokens
  FROM per_doc GROUP BY source
)
SELECT d.doc_id, d.source, d.n_tok, s.source_docs, s.source_avg_tokens,
       s.source_docs >= {DOMAIN_MIN_DOCS}
         AND s.source_avg_tokens >= {DOMAIN_MIN_AVG_TOKENS} AS keep_domain
FROM per_doc d JOIN stats s USING (source)
"""


# ------------------------------------------------------------------ q96

DECONTAM_MAX_FRAC = 0.1


def q96_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination APPLY: the surviving training corpus after
    dropping docs whose benchmark 3-gram overlap (q81's signal) reaches
    DECONTAM_MAX_FRAC. Detection and removal are separate operators on
    purpose — the flagged set gets audited, the apply is this cheap
    join.

    Docs with no q81 row (zero shared shingles, or too short to shingle)
    are clean by definition: left join + coalesce(frac, 0) keeps them.
    Plan adds ONE doc_id-keyed join (AQE-decided; the hits side is
    usually tiny) on top of q81's single-shuffle pipeline.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    hits = q81_contamination(spark, sf_dir).select("doc_id", "contaminated_frac")
    corpus = docs.filter(F.col("doc_id") >= BENCH_MAX_ID).select(
        "doc_id", "source", "n_chars"
    )
    return (
        corpus.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.coalesce("contaminated_frac", F.lit(0.0)).alias("contaminated_frac"),
        )
        .filter(F.col("contaminated_frac") < DECONTAM_MAX_FRAC)
    )


def _q96_sql() -> str:
    return f"""
WITH hits AS ({_q81_sql()})
SELECT d.doc_id, d.source, d.n_chars,
       coalesce(h.contaminated_frac, 0.0) AS contaminated_frac
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id >= {BENCH_MAX_ID}
  AND coalesce(h.contaminated_frac, 0.0) < {DECONTAM_MAX_FRAC}
"""


# ------------------------------------------------------------------ q99

DSIR_BUCKETS = 4096  # hashed-unigram feature space (DSIR uses 10^4-ish)
DSIR_TARGET_SOURCE = "src0"  # the "high-quality target" domain


def q99_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data-selection importance weighting: score every
    document by how much its hashed-unigram distribution looks like a
    TARGET domain (here `source = 'src0'`) versus the raw corpus.

    The published estimator is Σ log(p_target(h(w)) / p_raw(h(w))) over
    the doc's tokens. Log-of-float sums are not bit-portable across
    engines, so this computes the linear-domain excess-mass equivalent
    exactly in int64 — per token with bucket b:

        v(b) = target_cnt(b) * raw_total  -  raw_cnt(b) * target_total

    (the sign of v matches the sign of the log-ratio term; a doc's sum is
    an exact integer, and the normalized double is one division of exact
    ints — bit-identical in any engine). At 10^13-token scale the int64
    products overflow — swap the two sums to DECIMAL(38,0) there; the
    plan is unchanged.

    Scale shape: the distribution pass collapses to DSIR_BUCKETS rows via
    map-side partial agg (one tiny shuffle); the scoring pass joins the
    exploded tokens against that BROADCAST stats table and aggregates on
    doc_id — one corpus shuffle on a uniform key. Two passes over the
    corpus is inherent (the distribution must be complete before any doc
    can be scored); at 100 TB you would checkpoint the tokenized
    pre-aggregate between the passes instead of re-reading the raw text.
    """
    docs = load_table_parallel(spark, sf_dir, "documents")
    tok = F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    occ = docs.select("doc_id", "source", tok).select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )
    is_target = (F.col("source") == DSIR_TARGET_SOURCE).cast("bigint")
    stats = occ.groupBy("bucket").agg(
        F.sum(is_target).alias("target_cnt"),
        F.count(F.lit(1)).alias("raw_cnt"),
    )
    totals = stats.agg(
        F.sum("target_cnt").alias("target_total"), F.sum("raw_cnt").alias("raw_total")
    )
    stats = stats.crossJoin(F.broadcast(totals))
    v = F.col("target_cnt") * F.col("raw_total") - F.col("raw_cnt") * F.col("target_total")
    scored = (
        occ.join(F.broadcast(stats), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(v).alias("excess_mass"),
            F.first("target_total").alias("tt"),
            F.first("raw_total").alias("rt"),
        )
    )
    importance = F.col("excess_mass").cast("double") / (
        F.col("tt").cast("double") * F.col("rt").cast("double")
    )
    return scored.select(
        "doc_id", "n_toks", "excess_mass", importance.alias("importance")
    ).orderBy("doc_id")


Q99_SQL = f"""
WITH occ AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
  FROM (SELECT doc_id, source, unnest(string_split(trim(text), ' ')) AS tok
        FROM documents)
),
stats AS (
  SELECT bucket,
         SUM(CASE WHEN source = '{DSIR_TARGET_SOURCE}' THEN 1 ELSE 0 END) AS target_cnt,
         COUNT(*) AS raw_cnt
  FROM occ GROUP BY bucket
),
totals AS (
  SELECT SUM(target_cnt) AS target_total, SUM(raw_cnt) AS raw_total FROM stats
)
SELECT o.doc_id,
       COUNT(*) AS n_toks,
       CAST(SUM(s.target_cnt * t.raw_total - s.raw_cnt * t.target_total) AS BIGINT)
         AS excess_mass,
       CAST(SUM(s.target_cnt * t.raw_total - s.raw_cnt * t.target_total) AS DOUBLE)
         / (CAST(t.target_total AS DOUBLE) * CAST(t.raw_total AS DOUBLE)) AS importance
FROM occ o JOIN stats s USING (bucket) CROSS JOIN totals t
GROUP BY o.doc_id, t.target_total, t.raw_total
ORDER BY o.doc_id
"""


# ------------------------------------------------------------------ q116

DSIR_KEEP_QUANTILE = 0.7  # keep the top ~30% by importance


def q116_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection APPLIED: keep the documents whose q99 importance
    clears the corpus's 70th-percentile cutoff — the step that turns
    importance scores into an actual training subset.

    Deliberately threshold-based, not rank-based: a global
    row_number/ntile over the corpus would funnel every row through one
    sort partition, while the cutoff is ONE tiny aggregate broadcast
    back into a map-side filter — the same two-phase shape as the q92
    domain gate. The cutoff uses the exact interpolated percentile
    (bit-parity with quantile_cont, q101's result); docs exactly AT the
    cutoff are kept, so the decision is a pure deterministic function of
    the score distribution.
    """
    scored = q99_dsir_importance(spark, sf_dir).localCheckpoint(eager=True)
    cutoff = scored.agg(
        F.expr(f"percentile(importance, {DSIR_KEEP_QUANTILE})").alias("cut")
    )
    return (
        scored.crossJoin(F.broadcast(cutoff))
        .filter(F.col("importance") >= F.col("cut"))
        .select("doc_id", "n_toks", "importance")
        .orderBy("doc_id")
    )


_Q99_BODY = Q99_SQL.replace("ORDER BY o.doc_id", "")
Q116_SQL = f"""
WITH scored AS ({_Q99_BODY}),
cutoff AS (
  SELECT quantile_cont(importance, {DSIR_KEEP_QUANTILE}) AS cut FROM scored
)
SELECT s.doc_id, s.n_toks, s.importance
FROM scored s CROSS JOIN cutoff c
WHERE s.importance >= c.cut
ORDER BY s.doc_id
"""


# ------------------------------------------------------------------ q141

EPOCH_SEED = "epoch-0"  # new epoch = new seed string; nothing else changes
EPOCH_BATCH = 128  # docs per training batch


def q141_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle with a mixing audit: every doc gets
    the sort key md5(seed ':' doc_id), the corpus is laid out in that
    order and cut into fixed-size training batches, and the output is
    one row per batch — size, distinct sources, hottest-source share
    (milli), and the batch's doc_id sum (pinning EXACT membership, so
    the oracle match proves the whole permutation, not just counts).

    This is the data-order discipline of resumable pretraining: the
    order is a pure function of (seed, doc_id) — reproducible across
    engines, reruns, and restarts mid-epoch; a new epoch is a new seed
    string, with no RNG state to checkpoint (q77/q78's hash-not-random
    rule applied to ORDERING). The audit half answers the question a
    shuffle exists to settle: did interleaving actually break up the
    per-source runs? A source-sorted order scores top_share_milli =
    1000; a healthy shuffle sits near 1000/n_sources.

    100 TB shape: the textbook formulation — row_number() over a
    GLOBAL order — funnels the corpus through one task; here
    `dense_ids` (canonical.py's W2 kernel) range-partitions on the
    hash key so the sort is distributed, assigns positions per
    partition, and reconciles with a |partitions|-row driver cumsum.
    The per-batch audit then folds map-side within the partitions the
    sort just produced (batch ranges align with position ranges, so
    the groupBy needs no second wide shuffle of row data).
    """
    docs = load_table_parallel(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = docs.withColumn(
        "_k",
        F.md5(F.concat(F.lit(EPOCH_SEED + ":"), F.col("doc_id").cast("string"))),
    )
    pos, _ = dense_ids(keyed, ["_k", "doc_id"], "_pos", start=1)
    per_src = (
        pos.withColumn("batch", F.expr(f"(_pos - 1) div {EPOCH_BATCH}"))
        .groupBy("batch", "source")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("doc_id").alias("id_sum"))
    )
    return (
        per_src.groupBy("batch")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.count(F.lit(1)).alias("n_sources"),
            F.expr("max(cnt) * 1000 div sum(cnt)").alias("top_share_milli"),
            F.sum("id_sum").alias("id_sum"),
        )
        .orderBy("batch")
    )


Q141_SQL = f"""
WITH ordered AS (
  SELECT doc_id, source,
         row_number() OVER (
           ORDER BY md5('{EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS pos
  FROM documents
),
per_src AS (
  SELECT CAST((pos - 1) // {EPOCH_BATCH} AS BIGINT) AS batch, source,
         COUNT(*) AS cnt, SUM(doc_id) AS id_sum
  FROM ordered GROUP BY 1, 2
)
SELECT batch, CAST(SUM(cnt) AS BIGINT) AS n_docs, COUNT(*) AS n_sources,
       CAST(MAX(cnt) * 1000 // SUM(cnt) AS BIGINT) AS top_share_milli,
       CAST(SUM(id_sum) AS BIGINT) AS id_sum
FROM per_src GROUP BY batch ORDER BY batch
"""


QUERIES = {
    "q77_split_assign": QuerySpec(
        q77_split_assign, Q77_SQL, "deterministic hash train/valid/test split"
    ),
    "q78_hash_sample": QuerySpec(
        q78_hash_sample, Q78_SQL, "deterministic hash-threshold corpus sample"
    ),
    "q79_sequence_packing": QuerySpec(
        q79_sequence_packing, Q79_SQL, "concat-then-chunk sequence packing per shard"
    ),
    "q80_pii_redact": QuerySpec(q80_pii_redact, Q80_SQL, "PII find-and-mask scrub"),
    "q81_contamination": QuerySpec(
        q81_contamination, _q81_sql(), "benchmark 3-gram contamination detection"
    ),
    "q82_repetition_stats": QuerySpec(
        q82_repetition_stats, Q82_SQL, "Gopher-style repetition quality stats"
    ),
    "q84_stratified_sample": QuerySpec(
        q84_stratified_sample, Q84_SQL, "fixed-size per-stratum hash sample"
    ),
    "q85_weighted_mixture": QuerySpec(
        q85_weighted_mixture, Q85_SQL, "weighted pretraining-mixture sampling"
    ),
    "q87_token_rarity": QuerySpec(
        q87_token_rarity, Q87_SQL, "unigram-LM mean-token-frequency quality signal"
    ),
    "q91_chunk_overlap": QuerySpec(
        q91_chunk_overlap, Q91_SQL, "overlapping token-window chunker (RAG prep)"
    ),
    "q92_domain_gate": QuerySpec(
        q92_domain_gate, Q92_SQL, "domain-level aggregate curation gate (C4 style)"
    ),
    "q96_decontaminate": QuerySpec(
        q96_decontaminate, _q96_sql(), "decontamination apply: drop flagged docs"
    ),
    "q99_dsir_importance": QuerySpec(
        q99_dsir_importance, Q99_SQL, "DSIR hashed-unigram importance weighting"
    ),
    "q116_dsir_resample": QuerySpec(
        q116_dsir_resample,
        Q116_SQL,
        "DSIR selection applied: percentile-cutoff keep set (broadcast gate)",
    ),
    "q141_epoch_shuffle": QuerySpec(
        q141_epoch_shuffle,
        Q141_SQL,
        "deterministic epoch shuffle: seeded global order + mixing audit",
    ),
}
