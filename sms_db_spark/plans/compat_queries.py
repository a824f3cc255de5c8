"""The reference's query/operator surface (SURVEY.md §2) mapped onto the
driver's TPC-H-ish tables, per FIXTURES.md §3: orders⋈lineitem stands in for
messages⋈parts (J11), o_orderdate for timestamp predicates (Q4/Q5),
customer.c_name for the Alice-style LIKE family (Q1-Q3).

Every query is pure built-in DataFrame API (zero Python UDFs — keeps
whole-stage codegen, ref SURVEY.md §2.8), with a DuckDB oracle twin.

Determinism rules for the driver's value-hash compare:
  - aggregate doubles are cast to DECIMAL(18,2) pre-SUM (associative, exact)
    then back to DOUBLE (correctly-rounded in both engines);
  - every computed column is aliased identically in Spark and SQL;
  - LIMIT queries carry a total-order tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QuerySpec
from ..tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- Q1: equality filter + projection + sort (querying.md:13) -----------------


def q01_eq_filter_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    # ts surfaced as epoch micros (bigint): engine-neutral representation —
    # the parquet physical type is nanos, which not every engine round-trips
    # at the same precision.
    return (
        events.filter(F.col("event_type") == F.lit("click"))
        .select("event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value")
        .orderBy("ts_us", "event_id")
    )


Q01_SQL = """
SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
FROM events WHERE event_type = 'click'
ORDER BY ts_us, event_id
"""


# --- Q2: LIKE prefix (querying.md:17) ----------------------------------------


def q02_like_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    return (
        customer.filter(F.col("c_name").like("Customer#00000001%"))
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


Q02_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer WHERE c_name LIKE 'Customer#00000001%'
ORDER BY c_custkey
"""


# --- Q3: LIKE contains (querying.md:21 — doc writes `= '%Alice%'`, a latent
# doc bug; we replicate the documented *intent*, SURVEY.md §2.2 Q3) -----------


def q03_like_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    return (
        customer.filter(F.col("c_name").like("%042%"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


Q03_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE c_name LIKE '%042%' ORDER BY c_custkey
"""


# --- Q4: BETWEEN range on timestamp (querying.md:25) -------------------------


def q04_between_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(
            F.col("o_orderdate").between("1996-02-01 00:00:00", "1997-04-30 23:59:59")
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
    )


Q04_SQL = """
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-02-01 00:00:00' AND TIMESTAMP '1997-04-30 23:59:59'
ORDER BY o_orderdate, o_orderkey
"""


# --- Q5: conjunctive `<` + equality (querying.md:31) -------------------------


def q05_conj_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") < F.lit("1997-06-01 00:00:00").cast("timestamp"))
            & (F.col("l_returnflag") == F.lit("R"))
        )
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


Q05_SQL = """
SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1997-06-01 00:00:00' AND l_returnflag = 'R'
ORDER BY l_orderkey, l_linenumber
"""


# --- Q6/J11: metadata ⋈ data join (querying.md:35) ---------------------------


def q06_join_meta_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    # 1:N equi-join, messages⋈parts stand-in. Shuffle hash join on the key at
    # scale; AQE converts to broadcast when the filtered side is small.
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey, "inner")
        .select("o_orderkey", "o_orderdate", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("o_orderkey", "l_linenumber")
    )


Q06_SQL = """
SELECT o_orderkey, o_orderdate, l_linenumber, l_partkey, l_quantity
FROM orders INNER JOIN lineitem ON o_orderkey = l_orderkey
ORDER BY o_orderkey, l_linenumber
"""


# --- Q7 flagship: join + LIKE on type column (querying.md:39, README.md:105) -


def q07_flagship_join_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    # messages⋈parts + content_type LIKE 'text%' stand-in. `part` is the
    # small dimension → broadcast to avoid shuffling the fact table.
    return (
        lineitem.join(F.broadcast(part), lineitem.l_partkey == part.p_partkey, "inner")
        .filter(F.col("p_type").like("PROMO%"))
        .select("l_orderkey", "l_linenumber", "p_name", "p_type", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    )


Q07_SQL = """
SELECT l_orderkey, l_linenumber, p_name, p_type, l_extendedprice
FROM lineitem INNER JOIN part ON l_partkey = p_partkey
WHERE p_type LIKE 'PROMO%'
ORDER BY l_orderkey, l_linenumber
"""


# --- P2: conditional sender/recipient swap (sms-db.pl:70,80,104,152-153) ------


def q08_cond_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    is_open = F.col("o_orderstatus") == F.lit("O")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(
            "o_orderkey",
            F.when(is_open, F.col("c_name")).otherwise(F.lit("<SELF>")).alias("sender_name"),
            F.when(is_open, F.lit("<SELF>")).otherwise(F.col("c_name")).alias("recipient_name"),
        )
        .orderBy("o_orderkey")
    )


Q08_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderstatus = 'O' THEN c_name ELSE '<SELF>' END AS sender_name,
       CASE WHEN o_orderstatus = 'O' THEN '<SELF>' ELSE c_name END AS recipient_name
FROM orders JOIN customer ON o_custkey = c_custkey
ORDER BY o_orderkey
"""


# --- P4: IN-list predicate (sms-db.pl:83) ------------------------------------


def q09_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .orderBy("o_orderkey")
    )


Q09_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice
FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
ORDER BY o_orderkey
"""


# --- P5: dictionary decode + reject-unknowns (sms-db.pl:131,136-151) ----------


def q10_dict_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    # literal map expression — stays in codegen, no lookup-table shuffle.
    # Unmapped codes decode to NULL and are diverted (the reference warns and
    # counts them as 'ignored'; here the reject branch is the NULL filter).
    mapping = F.create_map(
        F.lit("O"), F.lit(1), F.lit("F"), F.lit(2), F.lit("P"), F.lit(3)
    )
    return (
        orders.select(
            "o_orderkey", mapping[F.col("o_orderstatus")].alias("status_code")
        )
        .filter(F.col("status_code").isNotNull())
        .orderBy("o_orderkey")
    )


Q10_SQL = """
SELECT o_orderkey,
       CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 WHEN 'P' THEN 3 END AS status_code
FROM orders
WHERE o_orderstatus IN ('O','F','P')
ORDER BY o_orderkey
"""


# --- P6: defined-or sentinel default (sms-db.pl:103,142,153) ------------------


def q11_coalesce_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("<UNAVAILABLE>")
        ).alias("segment"),
    ).orderBy("c_custkey")


Q11_SQL = """
SELECT c_custkey,
       coalesce(nullif(c_mktsegment, 'BUILDING'), '<UNAVAILABLE>') AS segment
FROM customer ORDER BY c_custkey
"""


# --- P7: base64 decode/encode roundtrip (sms-db.pl:88,280) --------------------


def q12_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    b64 = F.base64(F.encode(F.col("c_name"), "UTF-8"))
    return customer.select(
        "c_custkey",
        b64.alias("name_b64"),
        F.decode(F.unbase64(b64), "UTF-8").alias("name_roundtrip"),
    ).orderBy("c_custkey")


Q12_SQL = """
SELECT c_custkey,
       to_base64(encode(c_name)) AS name_b64,
       decode(from_base64(to_base64(encode(c_name)))) AS name_roundtrip
FROM customer ORDER BY c_custkey
"""


# --- P9: regex strip non-digits (sms-db.pl:265-266) ---------------------------


def q13_regex_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.regexp_replace(F.col("c_name"), "[^0-9]", "").alias("digits_only"),
    ).orderBy("c_custkey")


Q13_SQL = """
SELECT c_custkey, regexp_replace(c_name, '[^0-9]', '', 'g') AS digits_only
FROM customer ORDER BY c_custkey
"""


# --- P10: string split / element pick (sms-db.pl:265-266,293) -----------------


def q14_split_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_prefix"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_suffix"),
    ).orderBy("c_custkey")


Q14_SQL = """
SELECT c_custkey,
       split_part(c_name, '#', 1) AS name_prefix,
       split_part(c_name, '#', 2) AS name_suffix
FROM customer ORDER BY c_custkey
"""


# --- P11/A3: group-concat comma-join (sms-db.pl:106-111,184-188) --------------


def q15_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    # collect_list order is nondeterministic under parallelism → pin with
    # array_sort (SURVEY.md A3: deterministic deviation from iteration order).
    return (
        nation.groupBy("n_regionkey")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("members"))
        .orderBy("n_regionkey")
    )


Q15_SQL = """
SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS members
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
"""


# --- P13: SHA-256 digest of concatenated fields (sms-db.pl:325) ---------------


def q16_hash_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    # empty-separator concat, mirroring Perl join('', @record) at sms-db.pl:325
    return orders.select(
        "o_orderkey",
        F.sha2(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.col("o_orderstatus"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderpriority"),
            ),
            256,
        ).alias("row_hash"),
    ).orderBy("o_orderkey")


Q16_SQL = """
SELECT o_orderkey,
       sha256(CAST(o_orderkey AS VARCHAR) || o_orderstatus ||
              CAST(o_custkey AS VARCHAR) || o_orderpriority) AS row_hash
FROM orders ORDER BY o_orderkey
"""


# --- P15: epoch-millis convention (README.md:117, querying.md:27) -------------


def q17_epoch_millis(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    # o_orderdate loads as TIMESTAMP_NTZ; cast to TIMESTAMP interprets it in
    # the session tz (pinned UTC in session.py) → true epoch millis.
    return orders.select(
        "o_orderkey",
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("order_ts_ms"),
    ).orderBy("o_orderkey")


Q17_SQL = """
SELECT o_orderkey, epoch_ms(o_orderdate) AS order_ts_ms
FROM orders ORDER BY o_orderkey
"""


# --- A1: COUNT(*) (sms-db.pl:232) --------------------------------------------


def q18_count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


Q18_SQL = "SELECT count(*) AS cnt FROM lineitem"


# --- A2: import-statistics counters (sms-db.pl:59,148-149,233) ----------------


def q19_import_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    # single-pass conditional aggregation — the Spark shape of the
    # total/inserted/duplicate/ignored counter quartet.
    return events.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicks"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchases"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("errors"),
        F.sum(
            F.when(~F.col("event_type").isin("click", "purchase", "error"), 1).otherwise(0)
        ).alias("other"),
    )


Q19_SQL = """
SELECT count(*) AS total,
       count(*) FILTER (WHERE event_type = 'click') AS clicks,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchases,
       count(*) FILTER (WHERE event_type = 'error') AS errors,
       count(*) FILTER (WHERE event_type NOT IN ('click','purchase','error')) AS other
FROM events
"""


# --- A5 (within-batch): exact dedup by content hash (sms-db.pl:318-339) -------


def q20_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = _t(spark, sf_dir, "documents")
    # hash-groupBy dedup: one shuffle on the 64-hex hash (uniformly
    # distributed → no skew at 100TB). keeper = min(doc_id) ≙ the reference's
    # first-insert-wins AUTOINCREMENT semantics.
    return (
        documents.select(F.sha2(F.col("text"), 256).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("keeper_id")
    )


Q20_SQL = """
SELECT sha256(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY sha256(text) ORDER BY keeper_id
"""


# --- A5 (against-store): anti-join dedup (SURVEY.md A5) -----------------------


def q21_dedup_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    # left_anti ≙ NOT EXISTS: "new batch rows whose hash is already stored".
    # The store side projects only the key → broadcastable even when the
    # store is huge relative to the batch (keys only).
    existing = customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return (
        orders.join(
            F.broadcast(existing), orders.o_custkey == existing.c_custkey, "left_anti"
        )
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


Q21_SQL = """
SELECT o_orderkey, o_custkey FROM orders
WHERE NOT EXISTS (
  SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_acctbal > 5000
)
ORDER BY o_orderkey
"""


# --- W1: deterministic first-row-per-group (sms-db.pl:247, selectrow_array) ---


def q22_first_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in the testdata — the pick
    # needs a total order (l_linenumber, l_partkey, l_suppkey) or "first"
    # is engine-dependent (exactly the reference's selectrow_array
    # nondeterminism we deliberately pin, W1).
    #
    # Scale form: min_by over an ordering struct instead of a row_number
    # sort-window — min_by partial-aggregates map-side, so the shuffle
    # carries ~one row per group instead of every row sorted; the window
    # formulation (kept as the general top-k form in q34) shuffles and
    # sorts the whole fact table.
    first = F.min_by(
        F.struct("l_linenumber", "l_partkey", "l_quantity"),
        F.struct("l_linenumber", "l_partkey", "l_suppkey"),
    )
    return (
        lineitem.groupBy("l_orderkey")
        .agg(first.alias("f"))
        .select(
            "l_orderkey",
            F.col("f.l_linenumber").alias("l_linenumber"),
            F.col("f.l_partkey").alias("l_partkey"),
            F.col("f.l_quantity").alias("l_quantity"),
        )
        .orderBy("l_orderkey")
    )


Q22_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
  FROM lineitem
) WHERE rn = 1 ORDER BY l_orderkey
"""


# --- grouped aggregation rollup (TPC-H Q1 shape; free-from-Spark per §2.4) ----


def q23_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    # decimal-cast pre-sum: associative & exact → partial (map-side) agg is
    # safe and the result is engine-independent. Final cast to double.
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        lineitem.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q23_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
           AS sum_disc_price,
       count(*) AS count_order,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- O1/O3: global sort + limit with total-order tiebreak ---------------------


def q24_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    # orderBy+limit compiles to TakeOrderedAndProject — per-partition top-K
    # then driver merge, no global sort shuffle. Tiebreak pins determinism.
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .limit(10)
    )


Q24_SQL = """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


# --- J12: source union + dedup (README.md:39-43) ------------------------------


def q25_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    a = events.filter(F.col("event_type") == "click").select("event_id", "user_id", "event_type")
    b = events.filter(F.col("value") > 50).select("event_id", "user_id", "event_type")
    return a.unionByName(b).dropDuplicates().orderBy("event_id")


Q25_SQL = """
SELECT event_id, user_id, event_type FROM events WHERE event_type = 'click'
UNION
SELECT event_id, user_id, event_type FROM events WHERE value > 50
ORDER BY event_id
"""


# --- J1: 3-way broadcast join (sms-db.pl:98) ----------------------------------


def q26_three_way_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    # both lookup sides broadcast → zero shuffle of the fact table; the
    # reference's SQL 3-way join (pushed to SQLite) becomes two map-side joins.
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("o_orderkey", "c_name", "n_name")
        .orderBy("o_orderkey")
    )


Q26_SQL = """
SELECT o_orderkey, c_name, n_name
FROM orders
INNER JOIN customer ON o_custkey = c_custkey
INNER JOIN nation ON c_nationkey = n_nationkey
ORDER BY o_orderkey
"""


# --- J6: comma-joined id list → explode → join → re-aggregate (sms-db.pl:181-205)


def q27_explode_rejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = _t(spark, sf_dir, "nation")
    # Stage 1 fabricates the reference's `groups.members` comma-joined id
    # string; stage 2 is the operator under test: split → explode → join the
    # id back to its record → re-join names with ','.
    groups = nation.groupBy("n_regionkey").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.col("n_nationkey").cast("string"))), ","
        ).alias("members")
    )
    exploded = groups.select(
        "n_regionkey", F.explode(F.split(F.col("members"), ",")).alias("member_id")
    )
    resolved = exploded.join(
        F.broadcast(nation.select(F.col("n_nationkey"), F.col("n_name"))),
        exploded.member_id.cast("int") == nation.n_nationkey,
    )
    return (
        resolved.groupBy("n_regionkey")
        .agg(F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("member_names"))
        .orderBy("n_regionkey")
    )


Q27_SQL = """
WITH groups AS (
  SELECT n_regionkey,
         string_agg(CAST(n_nationkey AS VARCHAR), ',' ORDER BY n_nationkey) AS members
  FROM nation GROUP BY n_regionkey
), exploded AS (
  SELECT n_regionkey, unnest(string_split(members, ',')) AS member_id
  FROM groups
), resolved AS (
  SELECT e.n_regionkey, n.n_name
  FROM exploded e JOIN nation n ON CAST(e.member_id AS INTEGER) = n.n_nationkey
)
SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS member_names
FROM resolved GROUP BY n_regionkey ORDER BY n_regionkey
"""


# --- J7: chained scalar lookups → chained broadcast joins (sms-db.pl:162-163,192-193)


def q28_chained_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    # the reference's two chained N+1 scalar lookups become a join chain;
    # each lookup side pruned to (key, value) before broadcast.
    return (
        lineitem.join(
            orders.select("o_orderkey", "o_custkey"),
            lineitem.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("l_orderkey", "l_linenumber", "n_name")
        .orderBy("l_orderkey", "l_linenumber")
    )


Q28_SQL = """
SELECT l_orderkey, l_linenumber, n_name
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY l_orderkey, l_linenumber
"""


# --- J9: regex-extract key + equi-join (sms-db.pl:213-217) --------------------


def q29_regex_extract_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    # the reference scans a filename list with a per-row regex (O(files) each);
    # Spark shape: extract the join key ONCE with regexp_extract, then hash
    # equi-join — O(n) total, shuffle-free with broadcast.
    keyed = customer.select(
        F.regexp_extract(F.col("c_name"), "([0-9]+)", 1).cast("bigint").alias("extracted_key"),
        "c_name",
    )
    return (
        orders.join(F.broadcast(keyed), orders.o_custkey == keyed.extracted_key)
        .select("o_orderkey", "extracted_key", "c_name")
        .orderBy("o_orderkey")
    )


Q29_SQL = """
SELECT o_orderkey, extracted_key, c_name
FROM orders JOIN (
  SELECT CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS extracted_key, c_name
  FROM customer
) k ON o_custkey = extracted_key
ORDER BY o_orderkey
"""


# --- tumbling-window aggregation (streaming-shaped, batch semantics) ----------


def q30_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    # F.window is the same operator Structured Streaming uses — batch here,
    # identical semantics under readStream (§2.7 streaming-shaped capability).
    val = F.col("value").cast("decimal(18,2)")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(val).cast("double").alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start_ms")
    )


Q30_SQL = """
SELECT epoch_ms(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS window_start_ms,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1 ORDER BY window_start_ms
"""


# --- §2.4 note: grouping sets / rollup "free from Spark if wanted" — wanted.


def q31_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(qty).cast("double").alias("sum_qty"), F.count(F.lit(1)).alias("cnt"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "cnt",
        )
        .orderBy("returnflag", "linestatus")
    )


Q31_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       count(*) AS cnt
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


# --- sessionization: gap-based event sessions (streaming-shaped) --------------


def q32_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    # session_window is THE Spark-native operator (identical under
    # Structured Streaming); the oracle reproduces its gap semantics with
    # lag + cumulative sum.
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.unix_millis(F.col("w.start")).alias("session_start_ms"), "n_events"
        )
        .orderBy("user_id", "session_start_ms")
    )


Q32_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes' OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       epoch_ms(CAST(min(ts) AS TIMESTAMP)) AS session_start_ms,
       count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
ORDER BY user_id, session_start_ms
"""


# --- as-of join: latest order at-or-before each event (beyond-ref operator) ---


def q33_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join in the union-sort form: no events×orders fan-out.

    The naive shape (equi-join on user key, filter odate<=ts, rank per
    event) materializes |events_per_user| × |orders_per_user| rows before
    the window — the classic as-of blow-up on a hot key at scale. Instead,
    tag both sides, union them, and sort once per user key; a running
    `last(..., ignorenulls)` over an unbounded-preceding frame carries the
    latest qualifying order forward onto each event row. One shuffle on
    the (uniform) user key, state per row is a single scalar, and the
    row count never exceeds |events| + |orders|.

    Sort order encodes the as-of semantics: (t asc, is_event asc,
    o_orderkey asc) puts an order dated exactly at the event time BEFORE
    the event (<= bound), and among same-date orders the largest
    o_orderkey is carried last, matching the DESC/DESC latest-wins
    tie-break of the rank formulation.
    """
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    # A NULL o_orderdate would sort first (asc NULLS FIRST) and be carried
    # by last(..., ignorenulls) into events with no qualifying order; the
    # rank formulation's NULL <= ts is false, so such orders must not
    # participate at all. TPC-H dates are non-null, but the operator
    # contract shouldn't depend on that.
    o = orders.filter(F.col("o_orderdate").isNotNull()).select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderdate").cast("timestamp").alias("t"),
        F.col("o_orderkey").alias("o_orderkey"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
    )
    e = events.select(
        F.col("user_id").alias("key"),
        F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(1).alias("is_event"),
        "event_id",
    )
    w = (
        Window.partitionBy("key")
        .orderBy("t", "is_event", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.unionByName(e)
        .withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .filter((F.col("is_event") == 1) & F.col("asof_orderkey").isNotNull())
        .select("event_id", "key", "asof_orderkey")
        .orderBy("event_id")
    )


Q33_SQL = """
SELECT event_id, key, asof_orderkey FROM (
  SELECT e.event_id, e.user_id AS key, o.o_orderkey AS asof_orderkey,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
  FROM events e JOIN orders o
    ON e.user_id = o.o_custkey AND CAST(o.o_orderdate AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP)
) WHERE rn = 1 ORDER BY event_id
"""


# --- top-k per group (rank window; general form of W1) ------------------------


def q34_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")
    )


Q34_SQL = """
SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3 ORDER BY o_custkey, rk
"""


# --- salted skew join: the scale technique for hot keys, demonstrated --------


def q35_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact shuffle join with deterministic key salting.

    When one join key dominates (a hot orderkey, a viral doc), the plain
    hash-shuffle join lands the whole hot key on one reducer. Salting
    splits each left key into N_SALT sub-keys (here deterministically by
    l_linenumber so the oracle agrees row-for-row) and replicates the
    right side N_SALT ways, so the hot key spreads over N_SALT reducers.
    Results are identical to the unsalted join — the oracle is the plain
    SQL join, which is the point. AQE's skew-join handles moderate skew
    automatically; explicit salting is the tool when a single key exceeds
    what one task can hold.
    """
    n_salt = 8
    lineitem = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity",
        F.pmod(F.col("l_linenumber"), F.lit(n_salt)).alias("salt"),
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    )
    return (
        lineitem.join(
            orders,
            (lineitem.l_orderkey == orders.o_orderkey)
            & (lineitem.salt == orders.salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(20,2)")).cast("double").alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


Q35_SQL = """
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- cube / grouping sets (§2.4: free from Spark — claimed, so proven) --------


def q36_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(20,2)")).cast("double").alias("sum_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


Q36_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(20,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus, o_orderpriority
"""


# --- set ops (§2.5: unused by the reference; provided for completeness) -------


def q37_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT and EXCEPT over customer-key sets: customers with only
    open orders (EXCEPT arm) and customers with both open and finished
    ones (INTERSECT arm), tagged and unioned. Both set ops are shuffle
    dedup-aggregations on uniform keys (the same shape as dedup A5)."""
    orders = _t(spark, sf_dir, "orders")
    open_c = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fin_c = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    # subtract/intersect = set-semantics EXCEPT/INTERSECT (deduplicating)
    open_only = open_c.subtract(fin_c).withColumn("set_kind", F.lit("open_only"))
    both = open_c.intersect(fin_c).withColumn("set_kind", F.lit("both"))
    return open_only.unionByName(both).select("set_kind", "o_custkey").orderBy(
        "set_kind", "o_custkey"
    )


Q37_SQL = """
SELECT 'open_only' AS set_kind, o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
UNION ALL
SELECT 'both' AS set_kind, o_custkey FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
)
ORDER BY set_kind, o_custkey
"""


# --- dimension-chain join over the remaining dims (J7 shape on dims) ----------


def q38_dim_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier -> nation -> region chained broadcast lookups (the J7
    chained-scalar-lookup shape on pure dimension tables), aggregated per
    region. All three frames broadcast-sized; zero fact shuffle."""
    supplier = _t(spark, sf_dir, "supplier")
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey"))
    region = F.broadcast(_t(spark, sf_dir, "region").select("r_regionkey", "r_name"))
    return (
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_acctbal"),
        )
        .orderBy("r_name")
    )


Q38_SQL = """
SELECT r_name,
       count(*) AS n_suppliers,
       CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name
"""


# --- semi-structured extraction: JSON props column (beyond-ref operator) ---


def q39_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events.props JSON column and aggregate on an extracted
    field — the semi-structured lane every training-data pipeline has.

    from_json with an explicit schema (never schema inference at scale)
    stays JVM-side; the parse + extraction are map-side codegen, the only
    shuffle is the low-cardinality event_type agg.
    """
    from pyspark.sql import types as T

    events = _t(spark, sf_dir, "events")
    props_schema = T.StructType([T.StructField("k", T.LongType(), True)])
    k = F.from_json(F.col("props"), props_schema)["k"]
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_k_gt_50"),
        )
        .orderBy("event_type")
    )


Q39_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
       count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50 THEN 1 END) AS n_k_gt_50
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- sliding (overlapping) windows: q30's tumbling twin (beyond-ref) ---


def q59_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes — each event contributes to
    two windows. Same F.window operator as q30 (and as Structured
    Streaming); the fan-out is a map-side explode of window assignments,
    then one agg shuffle on window start (uniform keys)."""
    events = _t(spark, sf_dir, "events")
    val = F.col("value").cast("decimal(18,2)")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(val).cast("double").alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start")).alias("window_start_ms"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start_ms")
    )


Q59_SQL = """
WITH fanout AS (
  SELECT value,
         unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                 time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                   - INTERVAL '30 minutes']) AS ws
  FROM events
)
SELECT epoch_ms(ws) AS window_start_ms,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM fanout GROUP BY ws ORDER BY window_start_ms
"""


# --- exact distributed percentiles (beyond-ref OLAP aggregate) ---


def q66_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group.

    Quartile fractions (0.25/0.5/0.75) make the interpolation arithmetic
    dyadic-exact over the integer-valued quantity domain, so Spark's
    `percentile` and DuckDB's `quantile_cont` agree bit-for-bit. Exact
    percentile shuffles the group's values to one reducer per group —
    correct here (5 groups × ~N/5 values); the unmergeable-state scale
    path is `percentile_approx` (KLL-sketch-like, partial-aggregable),
    same plan shape.
    """
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


Q66_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.5)  AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --- correlated EXISTS subquery (Catalyst decorrelation → semi-join) ---


def q67_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped correlated EXISTS, written as the user would write
    it (SQL text): Catalyst decorrelates it into a left semi-join — the
    set-oriented form the reference's N+1 loops never reach. The same
    spark.sql surface the ad-hoc querying.md contract promises (E3).
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders_v
        WHERE EXISTS (
          SELECT 1 FROM lineitem_v
          WHERE l_orderkey = o_orderkey AND l_quantity > 45
        )
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


Q67_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45
)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


# --- pivot (wide-format conditional aggregation) ---

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q68_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × event_type value matrix via pivot.

    The pivot value list is EXPLICIT: without it Spark runs an extra
    collect-distinct job over the corpus just to learn the column set —
    the classic avoidable full pass at 100 TB. Pivot compiles to one
    groupBy with a conditional-sum per pivot value (exactly the oracle's
    CASE WHEN form): one shuffle on the 24-key group column.
    """
    events = _t(spark, sf_dir, "events")
    val = F.col("value").cast("decimal(18,2)")
    out = (
        events.select(F.hour("ts").alias("hour_of_day"), "event_type", val.alias("v"))
        .groupBy("hour_of_day")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.sum("v").cast("double"))
        .orderBy("hour_of_day")
    )
    renamed = out.select(
        "hour_of_day", *[F.col(t).alias(f"sum_{t}") for t in _EVENT_TYPES]
    )
    return renamed


Q68_SQL = f"""
SELECT hour(CAST(ts AS TIMESTAMP)) AS hour_of_day,
       {", ".join(
           f"CAST(SUM(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(18,2)) END)"
           f" AS DOUBLE) AS sum_{t}" for t in _EVENT_TYPES
       )}
FROM events GROUP BY 1 ORDER BY hour_of_day
"""


# --- window frames: moving aggregate + lag/lead (beyond-ref analytics) ---


def q71_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row moving average (current + 6 preceding days) over daily order
    totals. Pre-aggregate to days FIRST — the frame walks ~thousands of
    day rows, not the raw fact table; at 100 TB the windowed input is
    dim-table-sized so the single-partition ordered frame is fine (for a
    per-key frame you'd partitionBy the key and keep parallelism).
    """
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy("o_orderdate").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("day_total"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("o_orderdate").rowsBetween(-6, 0)
    return (
        daily.select(
            "o_orderdate",
            F.col("day_total").cast("double").alias("day_total"),
            "n_orders",
            F.avg(F.col("day_total").cast("double")).over(w).alias("ma7"),
            F.count(F.lit(1)).over(w).alias("frame_n"),
        )
        .orderBy("o_orderdate")
    )


Q71_SQL = """
WITH daily AS (
  SELECT o_orderdate,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS day_total,
         count(*) AS n_orders
  FROM orders GROUP BY o_orderdate
)
SELECT o_orderdate,
       CAST(day_total AS DOUBLE) AS day_total,
       n_orders,
       avg(CAST(day_total AS DOUBLE))
         OVER (ORDER BY o_orderdate ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7,
       count(*) OVER (ORDER BY o_orderdate ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         AS frame_n
FROM daily ORDER BY o_orderdate
"""


def q72_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order gaps: lag/lead over (customer, date) — the
    standard sequential-diff window. Partitioned by o_custkey so the sort
    is per-partition-key (parallel, no global order); day diffs are exact
    int arithmetic.
    """
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_d = F.lag("o_orderdate").over(w)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.datediff(F.col("o_orderdate"), prev_d).alias("days_since_prev"),
            F.lead("o_orderkey").over(w).alias("next_orderkey"),
        )
        .filter(F.col("o_custkey") < 1000)
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    )


Q72_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       datediff('day',
                lag(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS days_since_prev,
       lead(o_orderkey) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS next_orderkey
FROM orders
WHERE o_custkey < 1000
ORDER BY o_custkey, o_orderdate, o_orderkey
"""


# --- bucketed range join (interval predicate without a nested loop) ----------

RANGE_WINDOW_US = 86_400_000_000  # 1 day in microseconds


def q93_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via time-bin bucketing: per event, count the same
    user's OTHER events in the strictly-preceding one-day window.

    A join whose only condition is an inequality range becomes a
    BroadcastNestedLoopJoin — O(|left|·|right|) compared rows, the
    classic interval-join scale-killer. Binning both sides into buckets
    exactly as wide as the range window restores an EQUI-join key: an
    event's window [ts-W, ts) can only overlap bucket(ts) and
    bucket(ts)-1, so the probe side expands to exactly 2 rows, the join
    runs as hash/SMJ on (user_id, bucket), and the true range predicate
    rides along as a residual condition evaluated only within matching
    buckets. Shuffle volume is 2·|events| + |events| rows on a uniform
    composite key — no cross product at any scale. (Strict `<` makes
    identical-timestamp rows mutually invisible — including the event
    itself — so the count is deterministic with no id tie-break.)

    Oracle: the naive inequality join — same semantics, nested-loop
    plan, which is the point.
    """
    events = _t(spark, sf_dir, "events")
    ev = events.select("event_id", "user_id", F.unix_micros(F.col("ts")).alias("us"))
    bkt = lambda c: F.floor(c / F.lit(RANGE_WINDOW_US))  # noqa: E731
    probe = ev.withColumn(
        "bkt", F.explode(F.array(bkt(F.col("us")) - 1, bkt(F.col("us"))))
    )
    other = ev.select(
        F.col("user_id").alias("o_user"),
        bkt(F.col("us")).alias("o_bkt"),
        F.col("us").alias("o_us"),
        F.col("event_id").alias("o_id"),
    )
    joined = probe.join(
        other,
        (probe.user_id == other.o_user)
        & (probe.bkt == other.o_bkt)
        & (other.o_us >= probe.us - RANGE_WINDOW_US)
        & (other.o_us < probe.us),
        "left",
    )
    return joined.groupBy("event_id").agg(F.count("o_id").alias("n_prior_1d"))


Q93_SQL = f"""
SELECT e.event_id, count(o.event_id) AS n_prior_1d
FROM events e LEFT JOIN events o
  ON e.user_id = o.user_id
 AND epoch_us(o.ts) >= epoch_us(e.ts) - {RANGE_WINDOW_US}
 AND epoch_us(o.ts) < epoch_us(e.ts)
GROUP BY e.event_id
"""


# --- q109/q110: sequential-event analytics over the events table --------------


def q109_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase) per user: each stage's
    timestamp is the earliest qualifying event AT OR AFTER the previous
    stage — the order-sensitive semantics that a naive per-type min gets
    wrong (a purchase before the first view must not count).

    Scale shape: three conditional-min aggregates, each a groupBy on
    user_id (uniform key); the per-user stage tables are tiny relative
    to the event log, so the stage joins broadcast — the event log
    itself is scanned, filtered by type, and shuffled once per stage,
    never self-joined row-to-row.
    """
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .filter(F.col("us") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .filter(F.col("us") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_view", "t_click", "t_purchase")
        .orderBy("user_id")
    )


Q109_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us, event_type FROM events
), v AS (
  SELECT user_id, MIN(us) AS t_view FROM e WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(e.us) AS t_click
  FROM e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.us >= v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.us) AS t_purchase
  FROM e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.us >= c.t_click
  GROUP BY e.user_id
)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
ORDER BY v.user_id
"""


def q110_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted as
    active per day-offset — the activity matrix every growth dashboard
    is built from.

    Scale shape: the cohort table is one row per user (groupBy on the
    uniform user key, min-date agg), broadcast back into the event log;
    the activity count is a second groupBy on (cohort_day, offset) —
    tiny key space — with an exact distinct that stays shuffle-bounded
    because (cohort, offset, user) triples are first deduplicated
    map-side.
    """
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohort = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(F.broadcast(cohort), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
            "active_users",
        )
        .orderBy("cohort_day", "day_offset")
    )


Q110_SQL = """
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
), cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id
), triples AS (
  SELECT DISTINCT e.user_id, c.cohort_day,
         datediff('day', c.cohort_day, e.day) AS day_offset
  FROM e JOIN cohort c ON e.user_id = c.user_id
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, day_offset,
       COUNT(*) AS active_users
FROM triples
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset
"""


# --- q111: full-outer snapshot reconciliation ---------------------------------


def q111_reconcile_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: order headers FULL OUTER JOINed
    against per-order totals recomputed from (a shipped-date slice of)
    their line items, classified as matched / header_only / lines_only.
    This is the audit query every ingest pipeline runs after a load —
    the reference's seen = inserted + duplicate + ignored counter
    reconciliation (sms-db.pl:233) generalized to two-sided set drift.

    Scale note: this is the ONE join in the repo where sort-merge is the
    RIGHT physical plan — both sides are corpus-sized so neither can
    broadcast, and full-outer semantics need both sides' unmatched rows.
    Both inputs arrive pre-aggregated to one row per orderkey (uniform
    key), so the join shuffles each side once with zero skew; monetary
    sums are DECIMAL end to end (exact, order-independent).
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hdr = orders.select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("header_total")
    )
    lines = (
        li.filter(F.col("l_shipdate") < F.lit("1997-01-01"))
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("lines_total"))
    )
    j = hdr.join(lines, hdr.o_orderkey == lines.l_orderkey, "full_outer")
    status = (
        F.when(F.col("o_orderkey").isNotNull() & F.col("l_orderkey").isNotNull(), "matched")
        .when(F.col("o_orderkey").isNotNull(), "header_only")
        .otherwise("lines_only")
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce("header_total", F.lit(0).cast("decimal(18,2)")).alias("h"),
            F.coalesce("lines_total", F.lit(0).cast("decimal(18,2)")).alias("l"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # exact DECIMAL sum internally, DOUBLE at the boundary (repo
            # convention: comparison-stable across engines)
            F.sum("h").cast("double").alias("sum_header"),
            F.sum("l").cast("double").alias("sum_lines"),
        )
        .orderBy("status")
    )


Q111_SQL = """
WITH hdr AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS header_total
  FROM orders
), lines AS (
  SELECT l_orderkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS lines_total
  FROM lineitem WHERE l_shipdate < '1997-01-01' GROUP BY l_orderkey
)
SELECT CASE WHEN hdr.o_orderkey IS NOT NULL AND lines.l_orderkey IS NOT NULL THEN 'matched'
            WHEN hdr.o_orderkey IS NOT NULL THEN 'header_only'
            ELSE 'lines_only' END AS status,
       COUNT(*) AS n_orders,
       CAST(SUM(COALESCE(header_total, 0)) AS DOUBLE) AS sum_header,
       CAST(SUM(COALESCE(lines_total, 0)) AS DOUBLE) AS sum_lines
FROM hdr FULL OUTER JOIN lines ON hdr.o_orderkey = lines.l_orderkey
GROUP BY 1
ORDER BY status
"""


# --- q115: native session_window vs gaps-and-islands --------------------------

SESSION_GAP_MIN = 30
_GAP_US = SESSION_GAP_MIN * 60 * 1_000_000


def q115_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session aggregation via Spark's NATIVE session_window —
    the declarative form of q32's manual lag/cumsum sessionization. The
    oracle is the classic gaps-and-islands SQL, so the built-in window
    merge semantics (an event exactly gap-after the previous one starts
    a NEW session; window end = last event + gap) are pinned against an
    independent formulation.

    Scale: one shuffle on user_id; session merging is a per-key sorted
    pass inside the aggregate — the same cost envelope as the manual
    form, with the merge logic in the engine instead of expressions.
    """
    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    return (
        e.groupBy(
            F.session_window(F.col("ts"), f"{SESSION_GAP_MIN} minutes"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


Q115_SQL = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us FROM events
), flagged AS (
  SELECT user_id, us,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w >= {_GAP_US} THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
), islands AS (
  SELECT user_id, us,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, MIN(us) AS session_start_us,
       MAX(us) + {_GAP_US} AS session_end_us,
       COUNT(*) AS n_events
FROM islands
GROUP BY user_id, sid
ORDER BY user_id, session_start_us
"""


# --- q119: TPC-H Q5-shape star join -------------------------------------------


def q119_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical OLAP star shape (TPC-H Q5): fact table (lineitem)
    joined through orders/customer/supplier into the nation/region
    dimension chain, with the local-supplier predicate (customer and
    supplier in the same nation), a region filter, and a date-range
    filter — revenue per nation.

    Scale shape: Catalyst broadcast-chains every dimension (region →
    nation → the join keys are all tiny) so the fact table is never
    shuffled FOR A DIM; the only corpus-sized movements are the
    lineitem⋈orders and ⋈supplier equi-joins on uniform keys and the
    final small groupBy. Selective predicates (region, date window)
    reach the scans via pushdown — the plan Spark's optimizer exists to
    produce, asserted in tests.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


Q119_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


QUERIES: dict[str, QuerySpec] = {
    "q01_eq_filter_sort": QuerySpec(q01_eq_filter_sort, Q01_SQL, "Q1 querying.md:13"),
    "q02_like_prefix": QuerySpec(q02_like_prefix, Q02_SQL, "Q2 querying.md:17"),
    "q03_like_contains": QuerySpec(q03_like_contains, Q03_SQL, "Q3 querying.md:21"),
    "q04_between_ts": QuerySpec(q04_between_ts, Q04_SQL, "Q4 querying.md:25"),
    "q05_conj_pred": QuerySpec(q05_conj_pred, Q05_SQL, "Q5 querying.md:31"),
    "q06_join_meta_data": QuerySpec(q06_join_meta_data, Q06_SQL, "Q6/J11 querying.md:35"),
    "q07_flagship_join_like": QuerySpec(q07_flagship_join_like, Q07_SQL, "Q7 querying.md:39"),
    "q08_cond_swap": QuerySpec(q08_cond_swap, Q08_SQL, "P2 sms-db.pl:70"),
    "q09_in_list": QuerySpec(q09_in_list, Q09_SQL, "P4 sms-db.pl:83"),
    "q10_dict_decode": QuerySpec(q10_dict_decode, Q10_SQL, "P5 sms-db.pl:131"),
    "q11_coalesce_sentinel": QuerySpec(q11_coalesce_sentinel, Q11_SQL, "P6 sms-db.pl:103"),
    "q12_base64_roundtrip": QuerySpec(q12_base64_roundtrip, Q12_SQL, "P7 sms-db.pl:88,280"),
    "q13_regex_strip": QuerySpec(q13_regex_strip, Q13_SQL, "P9 sms-db.pl:265"),
    "q14_split_pick": QuerySpec(q14_split_pick, Q14_SQL, "P10 sms-db.pl:265,293"),
    "q15_group_concat": QuerySpec(q15_group_concat, Q15_SQL, "P11/A3 sms-db.pl:106-111"),
    "q16_hash_digest": QuerySpec(q16_hash_digest, Q16_SQL, "P13 sms-db.pl:325"),
    "q17_epoch_millis": QuerySpec(q17_epoch_millis, Q17_SQL, "P15 README.md:117"),
    "q18_count_star": QuerySpec(q18_count_star, Q18_SQL, "A1 sms-db.pl:232"),
    "q19_import_stats": QuerySpec(q19_import_stats, Q19_SQL, "A2 sms-db.pl:233"),
    "q20_dedup_exact": QuerySpec(q20_dedup_exact, Q20_SQL, "A5 sms-db.pl:318-339"),
    "q21_dedup_anti_join": QuerySpec(q21_dedup_anti_join, Q21_SQL, "A5 left_anti"),
    "q22_first_per_group": QuerySpec(q22_first_per_group, Q22_SQL, "W1 sms-db.pl:247"),
    "q23_agg_rollup": QuerySpec(q23_agg_rollup, Q23_SQL, "§2.4 grouped agg"),
    "q24_top_k": QuerySpec(q24_top_k, Q24_SQL, "O1/O3 sms-db.pl:242"),
    "q25_union_dedup": QuerySpec(q25_union_dedup, Q25_SQL, "J12 README.md:39-43"),
    "q26_three_way_join": QuerySpec(q26_three_way_join, Q26_SQL, "J1 sms-db.pl:98"),
    "q27_explode_rejoin": QuerySpec(q27_explode_rejoin, Q27_SQL, "J6 sms-db.pl:181-205"),
    "q28_chained_lookup": QuerySpec(q28_chained_lookup, Q28_SQL, "J7 sms-db.pl:162-163"),
    "q29_regex_extract_join": QuerySpec(q29_regex_extract_join, Q29_SQL, "J9 sms-db.pl:213-217"),
    "q30_window_agg": QuerySpec(q30_window_agg, Q30_SQL, "§2.7 streaming-shaped"),
    "q31_rollup": QuerySpec(q31_rollup, Q31_SQL, "§2.4 rollup/grouping sets"),
    "q32_sessionize": QuerySpec(q32_sessionize, Q32_SQL, "session_window gap sessions"),
    "q33_asof_join": QuerySpec(q33_asof_join, Q33_SQL, "as-of join (beyond-ref)"),
    "q34_topk_per_group": QuerySpec(q34_topk_per_group, Q34_SQL, "top-k per group"),
    "q35_salted_skew_join": QuerySpec(q35_salted_skew_join, Q35_SQL, "salted skew join"),
    "q36_cube": QuerySpec(q36_cube, Q36_SQL, "cube / grouping sets"),
    "q37_set_ops": QuerySpec(q37_set_ops, Q37_SQL, "intersect/except set ops"),
    "q38_dim_chain": QuerySpec(q38_dim_chain, Q38_SQL, "dim-chain broadcast joins"),
    "q39_json_extract": QuerySpec(q39_json_extract, Q39_SQL, "JSON props extraction"),
    "q59_sliding_window": QuerySpec(q59_sliding_window, Q59_SQL, "sliding window agg"),
    "q66_percentiles": QuerySpec(q66_percentiles, Q66_SQL, "exact group percentiles"),
    "q67_exists_subquery": QuerySpec(
        q67_exists_subquery, Q67_SQL, "correlated EXISTS decorrelation"
    ),
    "q68_pivot": QuerySpec(q68_pivot, Q68_SQL, "pivot with explicit value list"),
    "q71_moving_avg": QuerySpec(q71_moving_avg, Q71_SQL, "7-row moving-average frame"),
    "q72_lag_lead": QuerySpec(q72_lag_lead, Q72_SQL, "lag/lead sequential diffs"),
    "q93_range_join_bucketed": QuerySpec(
        q93_range_join_bucketed, Q93_SQL, "time-bin bucketed range join (no nested loop)"
    ),
    "q109_funnel_stages": QuerySpec(
        q109_funnel_stages, Q109_SQL, "order-sensitive view→click→purchase funnel"
    ),
    "q110_cohort_retention": QuerySpec(
        q110_cohort_retention, Q110_SQL, "first-seen cohort × day-offset retention matrix"
    ),
    "q111_reconcile_full_outer": QuerySpec(
        q111_reconcile_full_outer,
        Q111_SQL,
        "full-outer header-vs-lines reconciliation (the one rightful sort-merge join)",
    ),
    "q115_session_window": QuerySpec(
        q115_session_window,
        Q115_SQL,
        "native session_window vs gaps-and-islands oracle",
    ),
    "q119_star_join": QuerySpec(
        q119_star_join, Q119_SQL, "TPC-H Q5-shape star join (broadcast dim chain)"
    ),
}
