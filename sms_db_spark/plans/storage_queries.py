"""Driver-gated audit queries for the storage/maintenance layer.

The shard writers (sinks/shards.py, streaming/shards.py) are write
paths — their core guarantees (hash-derived shard layout, per-shard
content-checksum manifest, additive streaming merge law) were pytest-
proven but had no row in the driver's DuckDB-oracle gate. These two
queries put the manifest MATH itself under the hash gate: each writes
the documents corpus through the real writer into a per-run temp dir
(q108's pattern, sources/jsonl.py:73-81), reads the manifest back, and
returns it as a per-shard frame — which the oracle recomputes from the
RAW corpus with the same hash definitions (_h60 / row_hash_col's
sorted-column concat). A value-hash match therefore proves the whole
chain: shard assignment, the written bytes, the manifest stats, and
(via the disk_ok column) the verify gate's file-recompute agreement.

Scale note: the writes are the real distributed writers (one range
shuffle each); only the N_SHARDS-row manifest ever touches the driver.
Scratch location: `spark.sms_db_spark.scratchRoot` (shared storage —
HDFS/S3A — for cluster runs); unset, a driver-local tempdir, which is
the local-mode test-scale stand-in. The audit SHAPE (manifest vs
oracle recompute) is what runs at 100 TB.

Reference lineage: the manifest is the at-scale form of the reference's
import-stats report (sms-db.pl:333-339) — counts the operator checks
before trusting a handoff.
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..operators.sketches import _h60_sql
from ..plans import QuerySpec, clone_tuned_session
from ..session import concurrent
from ..sinks.shards import _shard_stats, write_training_shards
from ..streaming.shards import apply_shard_batch, merged_manifest
from ..tables import load_table, load_table_parallel

# Scratch root for the write-audit queries. Executors on a real cluster
# cannot see the driver's /tmp, so a driver-local mkdtemp works only in
# local mode; set this conf to a shared location (HDFS/S3A URI) to run
# the audits on a cluster. Unset, the local-tmpdir default preserves the
# test-scale behavior.
SCRATCH_ROOT_CONF = "spark.sms_db_spark.scratchRoot"


@contextlib.contextmanager
def _scratch_dir(spark: SparkSession, prefix: str):
    """A per-run scratch directory every executor can reach: a unique
    child of the configured shared root, else a driver-local tempdir
    (local mode). Cleanup goes through the Hadoop FS API for the shared
    case (the path may be an object-store URI) and shutil locally."""
    root = spark.conf.get(SCRATCH_ROOT_CONF, None)
    if root:
        path = f"{root.rstrip('/')}/{prefix}{uuid.uuid4().hex}"
        try:
            yield path
        finally:
            # raises rather than leak a per-run store into shared storage
            fsutil.delete(spark, path)
    else:
        path = tempfile.mkdtemp(prefix=prefix)
        try:
            yield path
        finally:
            shutil.rmtree(path, ignore_errors=True)


def _detached(df: DataFrame) -> DataFrame:
    """Materialize a scratch-backed result as driver-held rows BEFORE
    the scratch store is torn down (the frames these audits return are
    otherwise lazy scans of deleted dirs). Only for bounded audit
    outputs — the callers return a handful of rows by construction."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)

N_AUDIT_SHARDS = 8
# the checksum column is the manifest sum REDUCED mod 2^60: the full sum
# exceeds int64 and DuckDB's DECIMAL(38,0) degrades to float64 in the
# compare harness — the residue is exact in both engines and additivity
# survives the mod (disk_ok still compares the FULL sums, unmodded)
_CHECKSUM_MOD = 1 << 60

# row_hash_col's exact definition in DuckDB terms (the SQL twin of the
# shared _h60, imported — not re-spelled — so a hash-definition change
# cannot silently break only this file): non-reserved columns of the
# documents store, sorted by name, null-safe concat on \x01
_ROW_HASH_SQL = _h60_sql(
    "concat_ws(chr(1), "
    "coalesce(CAST(doc_id AS VARCHAR), chr(0)), "
    "coalesce(lang, chr(0)), "
    "coalesce(CAST(n_chars AS VARCHAR), chr(0)), "
    "coalesce(source, chr(0)), "
    "coalesce(text, chr(0)))"
)
_SHARD_SQL = _h60_sql("CAST(doc_id AS VARCHAR)") + f" % {N_AUDIT_SHARDS}"


def _audit_frame(
    spark: SparkSession,
    manifest_shards: dict,
    disk_shards: dict | None = None,
    extra: dict | None = None,
) -> DataFrame:
    """Manifest → per-shard audit frame. The frame is N_SHARDS rows of
    driver-held metadata (the manifest itself), not collected row data.
    disk_shards/extra add agreement flags only where the comparison is
    non-tautological (stats produced by a DIFFERENT path than the
    manifest's)."""
    rows = []
    for sid in sorted(manifest_shards, key=int):
        s = manifest_shards[sid]
        row = (
            int(sid),
            int(s["n_rows"]),
            int(s["checksum"]) % _CHECKSUM_MOD,
        )
        if disk_shards is not None:
            row += (1 if disk_shards.get(sid) == s else 0,)
        if extra is not None:
            row += (1 if extra.get(sid) == s else 0,)
        rows.append(row)
    schema = "shard int, n_rows bigint, checksum_mod bigint"
    if disk_shards is not None:
        schema += ", disk_ok int"
    if extra is not None:
        schema += ", batch_eq int"
    return spark.createDataFrame(rows, schema).orderBy("shard")


def q134_shard_manifest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch shard-writer manifest audit: write the corpus through
    write_training_shards (sinks/shards.py:124) and return its manifest
    per shard. The manifest IS already the disk recompute (the writer
    derives it from the written files — a second _shard_stats pass here
    would compare a function with itself), so the only non-tautological
    check is the oracle's: DuckDB rebuilds shard ids, counts, and
    content checksums from the RAW corpus, and a hash match proves
    shard assignment, written bytes, and manifest stats agree
    end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    with _scratch_dir(spark, "sms_db_spark_shard_audit_") as path:
        manifest = write_training_shards(docs, path, N_AUDIT_SHARDS, key="doc_id")
    return _audit_frame(spark, manifest["shards"])


# ONE raw-corpus recompute shared by all three oracles (the flag
# columns are constants: the audits' non-constant content is identical
# by design — that IS the law under test)
_AUDIT_ORACLE = """
WITH rh AS (
  SELECT {shard_sql} AS shard, {row_hash_sql} AS rh FROM documents
)
SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_rows,
       CAST(SUM(rh) % {mod} AS BIGINT) AS checksum_mod{extra}
FROM rh GROUP BY shard ORDER BY shard
"""


def _audit_oracle(extra: str = "") -> str:
    return _AUDIT_ORACLE.format(
        shard_sql=_SHARD_SQL,
        row_hash_sql=_ROW_HASH_SQL,
        mod=_CHECKSUM_MOD,
        extra=extra,
    )


Q134_SQL = _audit_oracle()


def q135_stream_shard_manifest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming shard-writer manifest audit: land the corpus as three
    out-of-order microbatches (plus an at-least-once REPLAY of the last
    one) through apply_shard_batch, fold the per-batch manifest with
    merged_manifest, and compare per shard against BOTH the written
    files (disk_ok) and the one-shot batch writer's manifest on the
    same corpus (batch_eq) — the additive merge law as a driver-gated
    row, not only a pytest. Oracle identical to q134's: the law says
    streaming == batch == raw-corpus recompute."""
    # pinned once: four landings + the batch reference all slice it (r18)
    docs = load_table(spark, sf_dir, "documents").localCheckpoint(eager=True)
    with _scratch_dir(spark, "sms_db_spark_stream_audit_") as sdir, _scratch_dir(
        spark, "sms_db_spark_batch_ref_"
    ) as bdir:

        def stream_side() -> tuple[dict, dict]:
            for bid, k in enumerate((2, 0, 1)):  # out-of-order arrival
                apply_shard_batch(
                    docs.filter(F.col("doc_id") % 3 == k), bid, sdir,
                    N_AUDIT_SHARDS, "doc_id",
                )
            # at-least-once delivery: the LAST batch is re-delivered
            apply_shard_batch(
                docs.filter(F.col("doc_id") % 3 == 1), 2, sdir,
                N_AUDIT_SHARDS, "doc_id",
            )
            return merged_manifest(spark, sdir), _shard_stats(spark, sdir)

        # the one-shot batch reference writes a DIFFERENT store dir and
        # shares nothing with the streaming landings — concurrent driver
        # jobs (guide §2.6; r18: it ran after the whole landing chain)
        (merged, disk), batch_ref = concurrent(
            stream_side,
            lambda: write_training_shards(docs, bdir, N_AUDIT_SHARDS, key="doc_id"),
        )
    return _audit_frame(spark, merged["shards"], disk, extra=batch_ref["shards"])


Q135_SQL = _audit_oracle(", 1 AS disk_ok, 1 AS batch_eq")


def q139_fold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cold-batch fold under the hash gate: land three microbatches,
    FOLD every shard's cold batches (streaming/shards.fold_cold_batches
    — the layout's own compaction), replay the hot batch once more
    (at-least-once), and return the merged manifest per shard with the
    disk-recompute flag. The oracle is q134's raw-corpus rebuild: a
    hash match proves the fold changed the physical layout without
    moving a single row or count — the additive-collapse law as a
    driver-gated row, exercised through crash-protocol code paths."""
    from ..streaming.shards import fold_cold_batches_all

    # pinned once: the three landing batches and the replay below all
    # slice this scan (r18 — one corpus read instead of four)
    docs = load_table(spark, sf_dir, "documents").localCheckpoint(eager=True)
    with _scratch_dir(spark, "sms_db_spark_fold_audit_") as sdir:
        for bid, k in enumerate((0, 1, 2)):
            apply_shard_batch(
                docs.filter(F.col("doc_id") % 3 == k), bid, sdir,
                N_AUDIT_SHARDS, "doc_id",
            )
        # stage all shards' folds concurrently, commit serially — the
        # fold protocol's data half is manifest-free and disjoint per
        # shard (guide §2.6; VERDICT r17 item 5, without the layout
        # change: the shared manifest keeps single-writer commits)
        fold_cold_batches_all(spark, sdir, range(N_AUDIT_SHARDS))
        # the hot tail must still absorb an at-least-once replay
        apply_shard_batch(
            docs.filter(F.col("doc_id") % 3 == 2), 2, sdir, N_AUDIT_SHARDS, "doc_id"
        )
        merged = merged_manifest(spark, sdir)
        disk = _shard_stats(spark, sdir)
    return _audit_frame(spark, merged["shards"], disk)


Q139_SQL = _audit_oracle(", 1 AS disk_ok")


def q142_versioned_store_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-store commit/flip/read-back under the hash gate
    (VERDICT r5 item 2): commit q140's derived 'old' snapshot as
    version 1 of a real commit-pointer store (sinks/versioned.py),
    commit the mutated 'new' snapshot as version 2, read v2 through
    `read_current`, `rollback` to v1 and read it the same way, then
    diff the two READ-BACKS with q140's snapshot_diff operator. The
    oracle recomputes the diff from the raw corpus, so a hash match
    proves the whole chain: both commits landed byte-complete, the
    pointer flips served the right version each time, and rollback's
    lineage append worked. `lineage_ok` additionally pins the
    metadata protocol in-result: version naming, rollback's return
    value, and history()'s live/old classification after the flip —
    the flag is computed from the store's own audit surface, so a
    protocol regression fails the hash gate, not just a pytest.

    Scale note: the committed snapshots are real distributed parquet
    writes through the commit protocol; only the 4-row diff and the
    history metadata ever touch the driver.
    """
    from ..operators.maintenance import _snapshot_inputs, snapshot_diff
    from ..sinks.versioned import commit_version, history, read_current, rollback

    docs = load_table(spark, sf_dir, "documents")
    old_raw, new_raw = _snapshot_inputs(docs)
    with _scratch_dir(spark, "sms_db_spark_versioned_audit_") as store:
        v1 = commit_version(spark, store, old_raw)
        v2 = commit_version(spark, store, new_raw)
        new_back = read_current(spark, store)  # v2 is live
        was_live = rollback(spark, store, v1)
        old_back = read_current(spark, store)  # v1 is live again
        statuses = {h["version"]: h["status"] for h in history(spark, store)}
        lineage_ok = int(
            v1 == "v00000001"
            and v2 == "v00000002"
            and was_live == v2
            and statuses == {v1: "live", v2: "old"}
        )
        diff = snapshot_diff(old_back, new_back).withColumn(
            "lineage_ok", F.lit(lineage_ok).cast("int")
        )
        # 4 driver-held rows, the same shape discipline as _audit_frame
        return _detached(diff)


def _q142_sql() -> str:
    from ..operators.maintenance import _snapshot_diff_sql

    return _snapshot_diff_sql(", 1 AS lineage_ok")


def q143_metricslog_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch metrics-log protocol round-trip under the hash gate
    (VERDICT r5 item 5): drive metricslog.append_batch_report — the ONE
    log implementation both streaming monitors share — through every
    protocol path, then read the log back with read_batch_log and
    return it. Epoch A lands batches 0-2; a simulated checkpoint reset
    restarts numbering, and epoch B's batch 0 must purge ALL of epoch
    A (its own-numbered partition plus every higher one) BEFORE
    writing its report; an empty batch (report=None) still runs the
    hygiene and logs nothing. The surviving log is exactly epoch B's
    two batches, which the oracle recomputes from the raw corpus — a
    hash match proves no pre-reset partition survived to splice into
    the new epoch and the read-back surfaces precisely what the
    protocol committed.
    """
    from ..streaming.metricslog import append_batch_report, read_batch_log

    docs = load_table(spark, sf_dir, "documents")

    def report(mod: int, k: int) -> DataFrame:
        return docs.filter(F.col("doc_id") % mod == k).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )

    with _scratch_dir(spark, "sms_db_spark_metricslog_audit_") as log_dir:
        for bid in range(3):  # epoch A: dead after the reset below
            append_batch_report(spark, log_dir, bid, report(4, bid))
        # checkpoint reset: numbering restarts; B's batch 0 must purge
        # its own-numbered A partition AND A's higher-numbered ones
        append_batch_report(spark, log_dir, 0, report(2, 0))
        append_batch_report(spark, log_dir, 1, report(2, 1))
        # an empty window logs nothing but still runs the hygiene
        append_batch_report(spark, log_dir, 2, None)
        out = read_batch_log(
            spark,
            log_dir,
            ["batch_id", "n_docs", "chars", "min_doc", "max_doc"],
            "batch_id int, n_docs bigint, chars bigint,"
            " min_doc bigint, max_doc bigint",
        ).select(
            F.col("batch_id").cast("int").alias("batch_id"),
            "n_docs",
            "chars",
            "min_doc",
            "max_doc",
        ).orderBy("batch_id")
        return _detached(out)  # 2 driver-held rows; scratch log dies here


Q143_SQL = """
SELECT CAST(doc_id % 2 AS INT) AS batch_id, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY doc_id % 2 ORDER BY batch_id
"""

# q145 bucket bands (curation's md5 bucket, 1000 buckets): the target
# snapshot holds [0, UPD_HI); the merge deletes [0, DEL_HI), updates
# [UPD_LO, UPD_HI) with a suffix, inserts [UPD_HI, INS_HI) — so every
# MERGE action class is populated and the post-merge store is a pure
# function of the raw corpus the oracle can recompute.
_MERGE_DEL_HI = 50
_MERGE_UPD_LO = 450
_MERGE_UPD_HI = 600
_MERGE_INS_HI = 800
_MERGE_SUFFIX = " merged-v2"


def q145_versioned_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-window MERGE INTO under the hash gate (VERDICT r6 item 2 —
    q142 gates commit/flip/rollback but not the versioned merge):
    commit a corpus snapshot as v1, drive an insert+update+delete mix
    through `merge_current` (sinks/versioned.py), read the committed
    v2 back through the pointer, and return the read-back aggregated
    per action class WITH the merge's own stats dict pinned as result
    columns. The oracle recomputes the merged store and the expected
    action counts from the raw corpus, so a hash match proves the
    merge semantics (matched+condition → delete, matched → update,
    source-only → insert, target-only → keep), the commit protocol
    around them, and the stats reporting — any of the three drifting
    fails the gate. `protocol_ok` additionally pins version naming and
    history()'s live/old classification after the merge commit.

    Scale note: target, source, and the merge's full-outer resolve are
    real distributed frames through the commit protocol; only the
    3-row class aggregate and the stats dict touch the driver.
    """
    from ..operators.maintenance import _snap_bucket
    from ..sinks.versioned import commit_version, history, merge_current, read_current

    docs = load_table(spark, sf_dir, "documents")
    b = _snap_bucket(F.col("doc_id"))
    base = docs.select("doc_id", "text", b.alias("bkt"))
    live = F.lit("live").alias("op")
    target = base.filter(F.col("bkt") < _MERGE_UPD_HI).select("doc_id", "text", live)
    source = (
        base.filter(F.col("bkt") < _MERGE_DEL_HI)
        .select("doc_id", "text", F.lit("del").alias("op"))
        .unionByName(
            base.filter(
                (F.col("bkt") >= _MERGE_UPD_LO) & (F.col("bkt") < _MERGE_UPD_HI)
            ).select(
                "doc_id", F.concat("text", F.lit(_MERGE_SUFFIX)).alias("text"), live
            )
        )
        .unionByName(
            base.filter(
                (F.col("bkt") >= _MERGE_UPD_HI) & (F.col("bkt") < _MERGE_INS_HI)
            ).select("doc_id", "text", live)
        )
    )
    with _scratch_dir(spark, "sms_db_spark_merge_audit_") as store:
        v1 = commit_version(spark, store, target)
        stats = merge_current(
            spark, store, source, ["doc_id"], delete_condition=F.col("s_op") == "del"
        )
        merged = read_current(spark, store)
        statuses = {h["version"]: h["status"] for h in history(spark, store)}
        protocol_ok = int(
            v1 == "v00000001"
            and stats["version"] == "v00000002"
            and statuses == {v1: "old", "v00000002": "live"}
        )
        out = (
            merged.withColumn("bkt", _snap_bucket(F.col("doc_id")))
            .withColumn(
                "class",
                F.when(F.col("bkt") < _MERGE_UPD_LO, "kept")
                .when(F.col("bkt") < _MERGE_UPD_HI, "updated")
                .otherwise("inserted"),
            )
            .groupBy("class")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text")).cast("bigint").alias("chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .withColumn("n_inserted", F.lit(stats["inserted"]).cast("bigint"))
            .withColumn("n_updated", F.lit(stats["updated"]).cast("bigint"))
            .withColumn("n_deleted", F.lit(stats["deleted"]).cast("bigint"))
            .withColumn("n_unchanged", F.lit(stats["unchanged"]).cast("bigint"))
            .withColumn("protocol_ok", F.lit(protocol_ok).cast("int"))
            .orderBy("class")
        )
        # 3 driver-held rows, the same shape discipline as _audit_frame
        return _detached(out)


def _q145_sql() -> str:
    from ..operators.maintenance import _snap_bucket_sql

    bkt = _snap_bucket_sql("doc_id")
    return f"""
WITH base AS (
  SELECT doc_id, text, {bkt} AS bkt FROM documents
), merged AS (
  SELECT doc_id,
         CASE WHEN bkt >= {_MERGE_UPD_LO} AND bkt < {_MERGE_UPD_HI}
              THEN text || '{_MERGE_SUFFIX}' ELSE text END AS text,
         CASE WHEN bkt < {_MERGE_UPD_LO} THEN 'kept'
              WHEN bkt < {_MERGE_UPD_HI} THEN 'updated'
              ELSE 'inserted' END AS class
  FROM base WHERE bkt >= {_MERGE_DEL_HI} AND bkt < {_MERGE_INS_HI}
), stats AS (
  SELECT CAST(SUM(CASE WHEN bkt >= {_MERGE_UPD_HI} AND bkt < {_MERGE_INS_HI}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
         CAST(SUM(CASE WHEN bkt >= {_MERGE_UPD_LO} AND bkt < {_MERGE_UPD_HI}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
         CAST(SUM(CASE WHEN bkt < {_MERGE_DEL_HI} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_deleted,
         CAST(SUM(CASE WHEN bkt >= {_MERGE_DEL_HI} AND bkt < {_MERGE_UPD_LO}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
  FROM base WHERE bkt < {_MERGE_INS_HI}
)
SELECT class, COUNT(*) AS n_docs,
       CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       n_inserted, n_updated, n_deleted, n_unchanged,
       1 AS protocol_ok
FROM merged CROSS JOIN stats
GROUP BY class, n_inserted, n_updated, n_deleted, n_unchanged
ORDER BY class
"""


def _clean_events(ev: DataFrame) -> DataFrame:
    """The deterministic 'clean slice' of the events corpus: rows
    satisfying every constraint the quality gate audits — value range,
    non-null user_id, accepted event_type, window-deduped event_id.
    Built FROM quality.VALUE_CAP / ACCEPTED_EVENT_TYPES (ADVICE r7:
    hardcoded copies here would desync the slice definition from the
    audit when a constant changes) — shared by q146 and q149."""
    from pyspark.sql import Window

    from ..streaming.quality import ACCEPTED_EVENT_TYPES, VALUE_CAP

    return (
        ev.filter(
            (F.col("value") > 0)
            & (F.col("value") <= VALUE_CAP)
            & F.col("user_id").isNotNull()
            & F.col("event_type").isin(*ACCEPTED_EVENT_TYPES)
        )
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("event_id")))
        .filter(F.col("_n") == 1)
        .drop("_n")
    )


def _gated_upsert_sql(slice_pred: str) -> str:
    """The q126-style last-write-wins recompute over a clean-slice
    predicate — the DuckDB twin of (clean slice → changelog → fold →
    serving view → bucket aggregate). Interpolates the SAME quality
    constants the Spark side imports (ADVICE r7), mirroring how
    Q144_SQL/Q147_SQL interpolate the JOIN_* constants."""
    from ..streaming.quality import ACCEPTED_EVENT_TYPES, VALUE_CAP

    # SQL-escape the literals (ADVICE r8): a future event type carrying a
    # single quote must not produce malformed — or predicate-shifting —
    # oracle SQL on the DuckDB side
    accepted = ", ".join("'" + t.replace("'", "''") + "'" for t in ACCEPTED_EVENT_TYPES)
    return f"""
WITH clean AS (
  SELECT * FROM events
  WHERE value > 0 AND value <= {VALUE_CAP} AND user_id IS NOT NULL
    AND event_type IN ({accepted})
  QUALIFY COUNT(*) OVER (PARTITION BY event_id) = 1
), ch AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
  FROM clean WHERE {slice_pred}
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes
  FROM ch
)
SELECT CAST(user_id % 8 AS INT) AS bucket, COUNT(*) AS n_users,
       CAST(SUM(n_changes) AS BIGINT) AS n_changes,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MAX(ts) AS max_updated_at,
       1 AS protocol_ok
FROM ranked WHERE rn = 1 AND op = 'upsert'
GROUP BY bucket ORDER BY bucket
"""


def _upsert_readback_frame(
    spark: SparkSession, store_dir: str, protocol_ok: int
) -> DataFrame:
    """Serving-view read-back aggregated per user-id bucket with the
    protocol flag pinned in-result — the shared output shape of the
    gated-upsert audits (8 rows; aggregated BEFORE any collect)."""
    from ..streaming.upsert import read_upsert_store

    return (
        read_upsert_store(spark, store_dir)
        .groupBy((F.col("user_id") % 8).cast("int").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_changes").cast("bigint").alias("n_changes"),
            F.sum(F.col("current_value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
            F.max("updated_at").alias("max_updated_at"),
        )
        .withColumn("protocol_ok", F.lit(protocol_ok).cast("int"))
        .orderBy("bucket")
    )


def q146_gated_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The day-2 quality→upsert composition under the hash gate
    (VERDICT r6 item 5 — previously pytest-only): drive
    `quality_gated_upsert_batch` through a clean two-batch epoch, a
    checkpoint reset, a POISONED batch (every value pushed past
    VALUE_CAP → quarantined), and a final clean batch; then read the
    upsert store AND the metrics log back. The quarantined batch must
    leave the store untouched while still running the state janitoring
    that deletes the dead pre-reset epoch's snapshots — so the final
    store is a pure function of the LAST clean batch alone, which the
    oracle recomputes from the raw corpus (q126's last-write-wins
    recompute on that slice). An epoch-splice regression (dead
    epoch state merged as predecessor) or a quarantine leak (poisoned
    rows reaching the store) both change the aggregate and fail the
    hash. `protocol_ok` pins the verdict dicts and the log protocol:
    exactly the new epoch's two reports survive, the poisoned batch
    failing only range_value, the clean one all-green.

    Clean slices come from _clean_events — rows satisfying every
    audited constraint (value range, non-null user_id, accepted
    event_type, window-deduped event_id), derived from the quality
    module's own constants — so batch verdicts are deterministic at
    any SF and under any future corpus regeneration (the raw corpus
    has value<=0 rows at some SFs; the other constraints hold today
    but are enforced rather than assumed).
    """
    from ..streaming.quality import quality_gated_upsert_batch, read_metrics

    ev = load_table(spark, sf_dir, "events")
    # pinned once: the four epoch batches and the poisoned count below
    # all slice this frame (q149's discipline — one scan + dedup-window
    # shuffle instead of five)
    clean = _clean_events(ev).localCheckpoint(eager=True)

    def part(k: int) -> DataFrame:
        return clean.filter(F.col("event_id") % 4 == k)

    with _scratch_dir(spark, "sms_db_spark_gated_upsert_audit_") as root:
        log_dir, store_dir = f"{root}/log", f"{root}/store"
        # epoch A: two clean batches land and merge
        quality_gated_upsert_batch(part(0), 0, log_dir, store_dir)
        quality_gated_upsert_batch(part(1), 1, log_dir, store_dir)
        # checkpoint reset: numbering restarts, and the NEW epoch STARTS
        # with a poisoned batch — the exact shape of the epoch-splice
        # hole the skip path closes
        poisoned = part(2).withColumn("value", F.col("value") + F.lit(2000.0))
        v0 = quality_gated_upsert_batch(poisoned, 0, log_dir, store_dir)
        v1 = quality_gated_upsert_batch(part(3), 1, log_dir, store_dir)
        # the settled log's read-back and the poisoned-slice count are
        # independent read-only jobs — concurrent (guide §2.6; r18)
        log_rows, n_poisoned = concurrent(
            lambda: read_metrics(spark, log_dir).collect(),  # 8 rows
            lambda: poisoned.count(),
        )
        log = {
            (r.batch_id, r.check_name): (r.violations, r.passed)
            for r in log_rows
        }
        protocol_ok = int(
            v0 == {"applied": False, "failed_checks": ["range_value"], "total": n_poisoned}
            and v1["applied"] is True
            and v1["failed_checks"] == []
            and {b for b, _ in log} == {0, 1}  # epoch A fully purged
            and log[(0, "range_value")] == (n_poisoned, 0)
            and all(
                passed == 1
                for (b, c), (_, passed) in log.items()
                if not (b == 0 and c == "range_value")
            )
        )
        out = _upsert_readback_frame(spark, store_dir, protocol_ok)
        return _detached(out)  # 8 driver-held rows; scratch store dies here

# q148 synthetic store shape: timestamps collide heavily (TS_MOD values
# across the whole corpus) so the audit exercises exactly the tied-key
# regime where the _id total order is what keeps the document order
# independent of where the range bounds fall; addresses collide too
# (ADDR_MOD distinct values) so ties are ties on the full (date,
# address) prefix, not just the date.
_EXPORT_TS_BASE = 1_500_000_000_000
_EXPORT_TS_MOD = 97
_EXPORT_ADDR_MOD = 50


def q148_sharded_export_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The XML exporter under the hash gate (VERDICT r7 item 4 — q64
    gates the export frame; this gates the fragment serializer itself):
    derive a synthetic SMS store from the documents corpus, export it
    through export_xml (range-partitioned fragment serialization),
    re-import the document through the distributed XML source, and
    return the exported count, re-imported count, and a content
    checksum over the four exported attributes — which the oracle
    recomputes from the raw corpus. A hash match proves the whole
    chain: frame construction, serialization, the root count, fragment
    ordering/concat, and the re-import parse.

    Scale note: fragment serialization and the re-import parse are
    distributed; the driver streams fragment bytes (O(chunk) memory)
    and holds one aggregate row. The document file is driver-local by
    the exporter's contract; fragments go through the shared scratch
    root when configured.
    """
    import os as _os
    import tempfile

    from ..operators.sketches import _h60
    from ..schemas import MSG_SMS
    from ..sinks.xml_export import export_xml
    from ..sources.xml_source import read_xml_staging_distributed

    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    messages = docs.select(
        d.alias("_id"),
        F.lit(MSG_SMS).cast("int").alias("message_type"),
        (d % 2 + 1).cast("int").alias("msg_box"),
        F.concat(F.lit("+1555"), (d % _EXPORT_ADDR_MOD).cast("string")).alias(
            "sender_address"
        ),
        F.concat(F.lit("+1666"), (d % _EXPORT_ADDR_MOD).cast("string")).alias(
            "recipient_address"
        ),
        (F.lit(_EXPORT_TS_BASE) + d % _EXPORT_TS_MOD).alias("timestamp"),
    )
    parts = docs.select(
        d.alias("_id"),
        d.alias("message_id"),
        F.concat(
            F.lit("doc "), d.cast("string"), F.lit(" len "), F.col("n_chars").cast("string")
        ).alias("text"),
        F.lit(None).cast("binary").alias("data"),
    )

    with _scratch_dir(spark, "sms_db_spark_export_frag_") as frag_root, (
        tempfile.TemporaryDirectory(prefix="sms_db_spark_export_docs_")
    ) as tmp:
        doc = _os.path.join(tmp, "export.xml")
        n_exported = export_xml(messages, parts, doc, "sms", fragments_dir=frag_root)
        sms, _mms, _addr, _part = read_xml_staging_distributed(spark, doc)
        agg = sms.agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(
                    _h60(
                        F.concat_ws(
                            "\x01",
                            F.col("address"),
                            F.col("date").cast("string"),
                            F.col("type").cast("string"),
                            F.col("body"),
                        )
                    ).cast("decimal(38,0)")
                )
                % F.lit(_CHECKSUM_MOD)
            )
            .cast("bigint")
            .alias("chk"),
        ).collect()[0]
    return spark.createDataFrame(
        [(int(n_exported), int(agg["n"]), int(agg["chk"]))],
        "n_exported bigint, n_reimported bigint, checksum_mod bigint",
    )


def _q148_sql() -> str:
    h = _h60_sql("address || chr(1) || date_s || chr(1) || type_s || chr(1) || body")
    return f"""
WITH synth AS (
  SELECT (CASE WHEN doc_id % 2 = 0 THEN '+1555' ELSE '+1666' END)
           || CAST(doc_id % {_EXPORT_ADDR_MOD} AS VARCHAR) AS address,
         CAST({_EXPORT_TS_BASE} + doc_id % {_EXPORT_TS_MOD} AS VARCHAR) AS date_s,
         CAST(doc_id % 2 + 1 AS VARCHAR) AS type_s,
         'doc ' || CAST(doc_id AS VARCHAR) || ' len ' || CAST(n_chars AS VARCHAR) AS body
  FROM documents
)
SELECT COUNT(*) AS n_exported, COUNT(*) AS n_reimported,
       CAST(SUM({h}) % {_CHECKSUM_MOD} AS BIGINT) AS checksum_mod
FROM synth
"""


def q149_stream_gated_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-trigger composition under the hash gate (VERDICT r7
    item 5 — q146 gates the per-batch protocol by calling it directly;
    this gates the layer q146 cannot touch: readStream file discovery,
    availableNow trigger semantics, foreachBatch dispatch, and
    checkpoint-tracked batch numbering ACROSS query restarts). Four
    slices of the clean events corpus land as parquet drops, each
    followed by a full stream_gated_upsert run (availableNow:
    drain-and-stop) against ONE persistent checkpoint — batch ids 0..3
    are assigned by the checkpoint, not by this query. Drop 2 is
    poisoned (every value pushed past VALUE_CAP): the gate must
    quarantine exactly that batch, so the final store is the fold of
    slices {0,1,3} alone, which the oracle recomputes from the raw
    corpus. `protocol_ok` pins the log protocol: 4 batches x 4 checks,
    batch 2 failing only range_value with every poisoned row counted,
    everything else green.

    Each drop is coalesced to ONE file so a file-source read limit can
    never split a drop into two batches (a split poisoned drop would
    still quarantine both halves — store-equivalent — but the log
    shape, and with it protocol_ok, must be deterministic).

    Scale note: the drops, per-batch audits, and state folds are all
    distributed; the driver holds the 16-row log, the verdict dicts,
    and the 8-row read-back aggregate.
    """
    from ..streaming.quality import VALUE_CAP, read_metrics, stream_gated_upsert

    ev = load_table(spark, sf_dir, "events")
    # pin the clean slice ONCE (guide §1.2/§5 — intra-query reuse): the
    # four drop writes below each sliced this frame, re-paying the scan
    # + event_id dedup-window shuffle per drop; the pin pays it once
    clean = _clean_events(ev).localCheckpoint(eager=True)
    with _scratch_dir(spark, "sms_db_spark_stream_upsert_audit_") as root:
        drop = f"{root}/drop"
        log_dir, store_dir, ckpt = f"{root}/log", f"{root}/store", f"{root}/ckpt"
        n_poisoned = 0
        for k in range(4):
            s = clean.filter(F.col("event_id") % 4 == k)
            if k == 2:
                s = s.withColumn("value", F.col("value") + F.lit(2.0 * VALUE_CAP))
                n_poisoned = s.count()
            s.coalesce(1).write.mode("append").parquet(drop)
            q = stream_gated_upsert(spark, drop, log_dir, store_dir, ckpt)
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("stream_gated_upsert run did not drain in 600s")
        log = {
            (r.batch_id, r.check_name): (r.violations, r.passed)
            for r in read_metrics(spark, log_dir).collect()  # 16 rows
        }
        protocol_ok = int(
            {b for b, _ in log} == {0, 1, 2, 3}
            and len(log) == 16
            and log[(2, "range_value")] == (n_poisoned, 0)
            and all(
                passed == 1
                for (b, c), (_, passed) in log.items()
                if not (b == 2 and c == "range_value")
            )
        )
        out = _upsert_readback_frame(spark, store_dir, protocol_ok)
        return _detached(out)  # 8 driver-held rows; scratch store dies here


# q150 band edges, in tenths of max(doc_id) — integer arithmetic, exact
# in both engines. The delta is CONCENTRATED at the low end of the key
# space on purpose: against the range-clustered 8-file target it must
# touch only the low-range files, leaving most files physically skipped
# — the copy-on-write regime the audit exists to prove.
_COW_DEL_HI_TENTHS = 1  # delete keys in [0, 0.1·mx)
_COW_UPD_HI_TENTHS = 3  # update keys in [0.1·mx, 0.3·mx)
_COW_INS_LO_TENTHS = 8  # insert copies of keys in [0.8·mx, mx]
_COW_INS_OFFSET = 1 << 33  # inserted key = doc_id + this (beyond every range)
_COW_SUFFIX = " cow-v2"
_COW_DELETE_SENTINEL = "__COW_DELETE__"
N_COW_FILES = 8


def q150_cow_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE under the hash gate (VERDICT r8 item 3 —
    merge_into_cow's footer-range file pruning was pytest-only): write
    the documents corpus as a key-range-clustered 8-file store, drive a
    low-key-concentrated delete+update mix plus out-of-range inserts
    through `merge_into_cow` (sinks/merge.py:130), read the store back,
    and return it aggregated per action class WITH the merge's own
    stats pinned as result columns. The oracle recomputes the merged
    table and the expected action counts from the raw corpus — a hash
    match proves table == full-merge semantics THROUGH the pruned
    rewrite. Two flags pin the copy-on-write regime itself in-result:
    `prune_ok` (the 8 files partition into ≥1 rewritten + ≥4 skipped —
    the delta really pruned) and `untouched_ok` (every skipped file
    survives under its original name and size: the writer appends new
    UUID-named files and deletes touched ones, so name survival IS
    physical untouchedness).

    Scale note: the clustered write, the distributed footer scan, the
    prune join, and the full-outer resolve over the touched slice are
    all distributed; the driver holds max(doc_id), the stats dict, the
    ≤8-entry file listings, and the 3-row class aggregate.
    """
    from ..sinks.compaction import _data_files
    from ..sinks.merge import merge_into_cow

    docs = load_table(spark, sf_dir, "documents")
    mx = int(docs.agg(F.max("doc_id")).first()[0])
    if mx >= _COW_INS_OFFSET:
        # the audit's insert keys must land beyond every file range; a
        # colliding offset would silently turn inserts into updates and
        # misclassify the read-back — refuse loudly instead
        raise ValueError(
            f"q150: max(doc_id)={mx} >= insert offset {_COW_INS_OFFSET}; "
            "raise _COW_INS_OFFSET for this corpus"
        )
    d = F.col("doc_id")
    base = docs.select("doc_id", "text")
    source = (
        base.filter(10 * d < _COW_DEL_HI_TENTHS * mx)
        .select("doc_id", F.lit(_COW_DELETE_SENTINEL).alias("text"))
        .unionByName(
            base.filter(
                (10 * d >= _COW_DEL_HI_TENTHS * mx)
                & (10 * d < _COW_UPD_HI_TENTHS * mx)
            ).select("doc_id", F.concat("text", F.lit(_COW_SUFFIX)).alias("text"))
        )
        .unionByName(
            base.filter(10 * d >= _COW_INS_LO_TENTHS * mx).select(
                (d + _COW_INS_OFFSET).alias("doc_id"),
                F.concat(F.lit("ins:"), "text").alias("text"),
            )
        )
    )
    with _scratch_dir(spark, "sms_db_spark_cow_merge_audit_") as root:
        store = f"{root}/store"
        (
            base.repartitionByRange(N_COW_FILES, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.parquet(store)
        )
        before = {f.rsplit("/", 1)[-1]: b for f, b in _data_files(spark, store)}
        stats = merge_into_cow(
            spark,
            store,
            source,
            "doc_id",
            delete_condition=F.col("s_text") == _COW_DELETE_SENTINEL,
        )
        after = {f.rsplit("/", 1)[-1]: b for f, b in _data_files(spark, store)}
        surviving = [n for n, b in before.items() if after.get(n) == b]
        prune_ok = int(
            stats["files_rewritten"] + stats["files_skipped"] == N_COW_FILES
            and stats["files_rewritten"] >= 1
            and stats["files_skipped"] >= N_COW_FILES // 2
        )
        untouched_ok = int(len(surviving) == stats["files_skipped"])
        out = (
            spark.read.parquet(store)
            .withColumn(
                "class",
                F.when(d > mx, "inserted")
                .when(10 * d < _COW_UPD_HI_TENTHS * mx, "updated")
                .otherwise("kept"),
            )
            .groupBy("class")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.length("text")).cast("bigint").alias("chars"),
                F.min("doc_id").alias("min_doc"),
                F.max("doc_id").alias("max_doc"),
            )
            .withColumn("n_inserted", F.lit(stats["inserted"]).cast("bigint"))
            .withColumn("n_updated", F.lit(stats["updated"]).cast("bigint"))
            .withColumn("n_deleted", F.lit(stats["deleted"]).cast("bigint"))
            .withColumn("prune_ok", F.lit(prune_ok).cast("int"))
            .withColumn("untouched_ok", F.lit(untouched_ok).cast("int"))
            .orderBy("class")
        )
        # 3 driver-held rows, the same shape discipline as _audit_frame
        return _detached(out)


_Q150_SQL = f"""
WITH m AS (SELECT MAX(doc_id) AS mx FROM documents),
merged AS (
  SELECT d.doc_id AS doc_id,
         CASE WHEN 10*d.doc_id < {_COW_UPD_HI_TENTHS}*m.mx
              THEN d.text || '{_COW_SUFFIX}' ELSE d.text END AS text,
         CASE WHEN 10*d.doc_id < {_COW_UPD_HI_TENTHS}*m.mx
              THEN 'updated' ELSE 'kept' END AS class
  FROM documents d CROSS JOIN m
  WHERE 10*d.doc_id >= {_COW_DEL_HI_TENTHS}*m.mx
  UNION ALL
  SELECT d.doc_id + {_COW_INS_OFFSET}, 'ins:' || d.text, 'inserted'
  FROM documents d CROSS JOIN m
  WHERE 10*d.doc_id >= {_COW_INS_LO_TENTHS}*m.mx
), stats AS (
  SELECT CAST(SUM(CASE WHEN 10*d.doc_id >= {_COW_INS_LO_TENTHS}*m.mx
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
         CAST(SUM(CASE WHEN 10*d.doc_id >= {_COW_DEL_HI_TENTHS}*m.mx
                        AND 10*d.doc_id < {_COW_UPD_HI_TENTHS}*m.mx
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
         CAST(SUM(CASE WHEN 10*d.doc_id < {_COW_DEL_HI_TENTHS}*m.mx
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
  FROM documents d CROSS JOIN m
)
SELECT class, COUNT(*) AS n_docs, CAST(SUM(LENGTH(text)) AS BIGINT) AS chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
       n_inserted, n_updated, n_deleted, 1 AS prune_ok, 1 AS untouched_ok
FROM merged CROSS JOIN stats
GROUP BY class, n_inserted, n_updated, n_deleted
ORDER BY class
"""


# q151 layout parameters: 32-way fragmented write, compacted to 4
# target-sized files, Z-ordered into 16; a 10%-of-domain window on
# EITHER axis must touch at most half the Z files (a single-axis range
# sort reads all 16 on the other axis — the property Z-order buys).
_LAYOUT_FRAG_FILES = 32
_LAYOUT_COMPACT_FILES = 4
_LAYOUT_Z_FILES = 16
_LAYOUT_PRUNE_MAX = _LAYOUT_Z_FILES // 2
_LAYOUT_WIN_LO_TENTHS = 4  # prune window: [0.4·domain, 0.5·domain]
_LAYOUT_WIN_HI_TENTHS = 5

# checksum over the layout columns (doc_id, lang, n_chars, text —
# sorted by name, null-safe \x01 concat; _ROW_HASH_SQL minus `source`,
# which the layout frame drops)
_LAYOUT_HASH_SQL = _h60_sql(
    "concat_ws(chr(1), "
    "coalesce(CAST(doc_id AS VARCHAR), chr(0)), "
    "coalesce(lang, chr(0)), "
    "coalesce(CAST(n_chars AS VARCHAR), chr(0)), "
    "coalesce(text, chr(0)))"
)


def q151_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction + Z-order clustering under the hash gate
    (VERDICT r8 item 4 — the last two batch sinks with only pytest
    rows): fragment the documents corpus into a 32-file store, compact
    it to 4 target-sized files (sinks/compaction.py:98), Z-order the
    result into a ≤16-file CELL-ALIGNED store on (doc_id, n_chars)
    (sinks/clustered.py write_zordered_cells — the r15 rewire, VERDICT
    r14 item 1: the equi-depth writer's prune bound broke at sf0.1),
    then read the final store back and return its row count and
    content checksum — which the oracle recomputes from the raw
    corpus, so a hash match proves BOTH rewrites moved the layout
    without touching a row. The layout guarantees themselves are
    pinned as in-result flags: `frag_flagged` (the report demanded the
    compaction), `compact_ok` (exactly 4 files, report converged to
    not-fragmented), `z_files_ok` (the cell writer's files==cells
    contract: one data file per non-empty Morton cell, within the
    16-cell budget), and `prune_id_ok`/`prune_chars_ok` (a
    10%-of-domain window on EITHER axis overlaps ≤ 8 of 16 files by
    parquet footer min/max). Under the cell writer the prune bound is
    ARITHMETIC — a 4×4 equal-width grid puts any ≤25%-wide window in
    at most 2 strata of 4 files — so it holds at ANY corpus size and
    distribution, not just the gate scale (the equi-depth writer
    measured 9/16 on this same audit at 5000 rows).

    Scale note: both rewrites are the real distributed writers (one
    scan+write each, one hash exchange on the cell id for the Z
    layout); the driver holds the fragmentation reports, the
    ≤16-entry footer-range list, and the 1-row aggregate.
    """
    from ..operators.sketches import _h60
    from ..sinks.clustered import (
        file_column_ranges_fs,
        files_overlapping,
        read_zordered_cells,
        write_zordered_cells,
    )
    from ..sinks.compaction import compact, fragmentation_report

    docs = load_table(spark, sf_dir, "documents")
    layout = docs.select("doc_id", "lang", "n_chars", "text")
    with _scratch_dir(spark, "sms_db_spark_layout_audit_") as root:
        store, zstore = f"{root}/store", f"{root}/zstore"
        layout.repartition(_LAYOUT_FRAG_FILES).write.parquet(store)
        pre = fragmentation_report(spark, store)
        tb = max(1, -(-pre["total_bytes"] // _LAYOUT_COMPACT_FILES))
        frag_flagged = int(
            pre["n_files"] == _LAYOUT_FRAG_FILES
            and fragmentation_report(spark, store, tb)["fragmented"]
        )
        # no post-report idempotence sub-check: the rewrite can SHRINK
        # total bytes (grouping rows re-encodes better), so a fresh
        # report at the same target may legitimately budget 3 files and
        # re-flag — the contract gated here is count + content, and the
        # pre-report demand is already pinned by frag_flagged
        res = compact(spark, store, target_bytes=tb)
        compact_ok = int(
            res["compacted"] and res["n_files_final"] == _LAYOUT_COMPACT_FILES
        )
        write_zordered_cells(
            spark.read.parquet(store), zstore, "doc_id", "n_chars", _LAYOUT_Z_FILES
        )
        ranges = file_column_ranges_fs(spark, zstore, ["doc_id", "n_chars"])
        # files==cells: exactly one data file per non-empty Morton cell
        # (corner cells may be empty under skew — that is the bound's
        # trade, not a defect), never more than the cell budget. Cells
        # are counted from the `_zcell=K/` partition dirs in the FS
        # listing — driver-side, zero Spark jobs, no second store scan
        from ..sinks.compaction import _data_files

        n_cells = len(
            {f.rsplit("/", 2)[-2] for f, _ in _data_files(spark, zstore)}
        )
        z_files_ok = int(0 < len(ranges) == n_cells <= _LAYOUT_Z_FILES)
        zdf = read_zordered_cells(spark, zstore)
        # ONE read-back job (r18, guide §2.6): the axis bounds ride the
        # same aggregate as count+checksum — the bounds probe was its
        # own full-store scan before the prune flags could be computed
        agg = zdf.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.sum(
                    _h60(
                        F.concat_ws(
                            "\x01",
                            # null-safe like the oracle: concat_ws SKIPS
                            # nulls in both engines, so a null column
                            # must become chr(0) on both sides
                            F.coalesce(F.col("doc_id").cast("string"), F.lit("\x00")),
                            F.coalesce(F.col("lang"), F.lit("\x00")),
                            F.coalesce(F.col("n_chars").cast("string"), F.lit("\x00")),
                            F.coalesce(F.col("text"), F.lit("\x00")),
                        )
                    ).cast("decimal(38,0)")
                )
                % F.lit(_CHECKSUM_MOD)
            )
            .cast("bigint")
            .alias("checksum_mod"),
            F.min("doc_id").alias("lo_id"),
            F.max("doc_id").alias("hi_id"),
            F.min("n_chars").alias("lo_ch"),
            F.max("n_chars").alias("hi_ch"),
        ).first()

        def window(lo: int, hi: int) -> tuple[int, int]:
            span = hi - lo
            return (
                lo + span * _LAYOUT_WIN_LO_TENTHS // 10,
                lo + span * _LAYOUT_WIN_HI_TENTHS // 10,
            )

        prune_id_ok = int(
            files_overlapping(
                ranges, "doc_id", *window(int(agg["lo_id"]), int(agg["hi_id"]))
            )
            <= _LAYOUT_PRUNE_MAX
        )
        prune_chars_ok = int(
            files_overlapping(
                ranges, "n_chars", *window(int(agg["lo_ch"]), int(agg["hi_ch"]))
            )
            <= _LAYOUT_PRUNE_MAX
        )
        # 1 driver-held row; the scratch stores die with the context
        return spark.createDataFrame(
            [
                (
                    int(agg["n_rows"]),
                    int(agg["checksum_mod"]),
                    frag_flagged,
                    compact_ok,
                    z_files_ok,
                    prune_id_ok,
                    prune_chars_ok,
                )
            ],
            "n_rows bigint, checksum_mod bigint, frag_flagged int,"
            " compact_ok int, z_files_ok int, prune_id_ok int,"
            " prune_chars_ok int",
        )


_Q151_SQL = f"""
SELECT COUNT(*) AS n_rows,
       CAST(SUM({_LAYOUT_HASH_SQL}) % {_CHECKSUM_MOD} AS BIGINT) AS checksum_mod,
       1 AS frag_flagged, 1 AS compact_ok, 1 AS z_files_ok,
       1 AS prune_id_ok, 1 AS prune_chars_ok
FROM documents
"""


# 3 drops = 3 query restarts: one cold start + two history-carrying
# restarts already exercise every state transition the protocol has
# (a 4th drop re-proved the same edge and cost ~2.8s of the bench's
# write-audit budget — trimmed r10 to make room for q153/q154; the
# emitted pair set, and so the oracle, is drop-count-invariant)
_NEARDUP_DROPS = 3


def q152_stream_neardup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate detection under the hash gate (VERDICT
    r8 item 6 — the last streaming lane with only a pytest row): land
    the documents corpus as three CONTIGUOUS doc_id-range drops
    (ingest-time order — the synthetic event clock is BASE_EPOCH +
    doc_id seconds, so range order IS time order), after each drop run
    stream_neardup_pairs (streaming/neardup.py:61) to completion
    (availableNow) against ONE persistent checkpoint, and return the
    distinct emitted pair set. The oracle recomputes the contract from
    the raw corpus: the UNCAPPED banded-MinHash bucket self-join
    restricted to the pair horizon — so a hash match proves the
    watermarked stream-stream join pairs each drop against both itself
    and the already-ingested history exactly once each, across three
    query restarts, with no watermark-eviction loss at the drop
    boundaries and no pair invented or dropped by the state protocol.

    One file per drop (coalesce(1)) and one stream run per drop keep
    batch boundaries deterministic under any file-source read limit
    (q149's discipline); within a drop, rows span less than the
    watermark delay only at tiny SF — correctness never depends on it
    because each run sees exactly one new file.

    Scale note: banding, the stream-stream join, and its state store
    are distributed; the driver holds only the emitted pair list (the
    same bounded shape the batch q45 result already returns).
    """
    from ..streaming.neardup import stream_neardup_pairs

    # The stream's STATE partition count is fixed by the first run's
    # shuffle setting and recorded in the checkpoint; 8 fits the audit
    # corpus — per-batch state-store maintenance is per-partition, and
    # 32 partitions of near-empty state tripled the audit's wall time
    # (27.1s -> 9.8s at sf0.01, identical pairs). A production stream
    # sizes this to its cluster; the audit sizes it to the audit. Set
    # on a CLONE (never the caller's session — _tuned's discipline),
    # via clone_tuned_session: newSession() inherits only builder-time
    # options (verified on 4.1.2), so a bare clone would drop _tuned's
    # pins — notably the InferFiltersFromGenerate exclusion, without
    # which the banded explode regains the heavy-generate pathology
    # _tuned exists to prevent (q81: 18s vs 2.3s). The copied key set
    # is TUNED_PARITY_CONFS, owned by session.py (ADVICE r9: a
    # hand-list here would silently drop future pins).
    session = clone_tuned_session(spark)
    session.conf.set("spark.sql.shuffle.partitions", "8")
    spark = session
    # pinned once: the max probe and the three drop writes below all
    # consume this scan (r18 — one corpus read instead of four)
    docs = load_table(spark, sf_dir, "documents").localCheckpoint(eager=True)
    mx = int(docs.agg(F.max("doc_id")).first()[0])
    span = mx + 1
    with _scratch_dir(spark, "sms_db_spark_stream_neardup_audit_") as root:
        drop, out, ckpt = f"{root}/drop", f"{root}/out", f"{root}/ckpt"
        for k in range(_NEARDUP_DROPS):
            lo = k * span // _NEARDUP_DROPS
            hi = (k + 1) * span // _NEARDUP_DROPS
            (
                docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
                .coalesce(1)
                .write.mode("append")
                .parquet(drop)
            )
            q = (
                stream_neardup_pairs(spark, drop)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError("stream_neardup run did not drain in 600s")
        pairs = (
            # explicit schema: a corpus with zero candidate pairs leaves
            # the streaming sink with no data files, and a schema-less
            # read would fail where the oracle returns an empty set
            spark.read.schema("doc_a bigint, doc_b bigint")
            .parquet(out)
            .distinct()  # once per shared band -> once per pair (q45's read-side dedup)
            .orderBy("doc_a", "doc_b")
        )
        return _detached(pairs)


def _q152_sql() -> str:
    from ..operators.dedup import _BANDS_SQL
    from ..streaming.neardup import PAIR_HORIZON_SECONDS

    return f"""
WITH bands AS ({_BANDS_SQL})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
 AND a.doc_id < b.doc_id
 AND b.doc_id - a.doc_id <= {PAIR_HORIZON_SECONDS}
ORDER BY doc_a, doc_b
"""


# q153 split: delta = every Nth doc_id — 20% of the corpus, spread
# through the keyspace so both cross (history x delta) and in-delta
# pairs occur; history = the rest. Integer modulus, exact in both
# engines and trivially recomputable by the oracle from raw doc_ids.
_BAND_DELTA_MOD = 5


def q153_band_store_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted band store + incremental near-dup pairing under the
    hash gate (VERDICT r9 item 1 — sinks/bandstore.py was the round's
    flagship scale idea and its only pytest-only component): band the
    history slice ONCE into `_bucket=K` partition dirs
    (`write_band_store`, sinks/bandstore.py:84), pair a disjoint delta
    against the store without re-banding or shuffling history
    (`delta_neardup_pairs`, sinks/bandstore.py:122), then fold the
    delta in with mode='append'. Returned per pair class (cross =
    history x delta, in_delta = both new) with a content checksum over
    the pair set; the oracle recomputes q45's batch pairs over the
    UNION corpus (identical hot-bucket cap law, measured on the union
    bucket size) restricted to delta-involving pairs — a hash match IS
    the test_bandstore.py parity law as a driver-checked row.

    Three protocol flags are pinned in-result (constants on the oracle
    side, measured here): `append_ok` (post-append store == one-shot
    banding of the full corpus — the incremental fold loses nothing),
    `refuse_ok` (append under a mismatched bucket count raises instead
    of silently splitting buckets), and `pin_released_ok` (the cached
    delta bands are actually released by release_delta_pin — the
    long-lived daily-driver lifecycle, ADVICE r9).

    Scale note: this audit SHAPE is the daily 100 TB regime — the
    history side moves no bytes (broadcast-semi against the store
    scan), the one shuffle carries |matched| + |delta| band rows, and
    the append is a partition-aligned write of the delta's bands only.
    Only the ≤2-row class aggregate ever reaches the driver.
    """
    from ..operators.sketches import _h60
    from ..sinks.bandstore import (
        N_BAND_BUCKETS,
        STORE_SCHEMA,
        delta_neardup_pairs,
        release_delta_pin,
        write_band_store,
    )
    from ..operators.dedup import band_rows

    # parallel load: banding is the dominant per-row cost and the test
    # corpus is one parquet file — without the round-robin spread the
    # signature fold runs on a handful of partitions (q44's lesson)
    docs = load_table_parallel(spark, sf_dir, "documents").select("doc_id", "text")
    is_delta = F.col("doc_id") % _BAND_DELTA_MOD == 0
    with _scratch_dir(spark, "sms_db_spark_band_store_audit_") as root:
        store = f"{root}/bands"
        write_band_store(docs.filter(~is_delta), store)
        delta = docs.filter(is_delta)
        pairs = delta_neardup_pairs(spark, delta, store)
        h = _h60(
            F.concat_ws(
                ":",
                F.col("doc_a").cast("string"),
                F.col("doc_b").cast("string"),
            )
        )
        a_delta = F.col("doc_a") % _BAND_DELTA_MOD == 0
        b_delta = F.col("doc_b") % _BAND_DELTA_MOD == 0
        agg_rows = (
            pairs.withColumn(
                "class",
                F.when(a_delta & b_delta, F.lit("in_delta")).otherwise(F.lit("cross")),
            )
            .groupBy("class")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                (F.sum(h.cast("decimal(38,0)")) % F.lit(_CHECKSUM_MOD))
                .cast("bigint")
                .alias("checksum_mod"),
                F.min("doc_a").alias("min_a"),
                F.max("doc_b").alias("max_b"),
            )
            .collect()  # ≤2 rows; materializes the pair set
        )
        # the documented lifecycle: release the cached delta bands once
        # the pairs are materialized, and PROVE the release took
        release_delta_pin(pairs)
        lvl = pairs._delta_pin.storageLevel
        pin_released_ok = int(not (lvl.useMemory or lvl.useDisk))
        # refusal first: if the guard were broken this write would
        # corrupt the store and append_ok below would go red too (loud)
        try:
            write_band_store(delta, store, n_buckets=N_BAND_BUCKETS // 2, mode="append")
            refuse_ok = 0
        except ValueError:
            refuse_ok = 1
        write_band_store(delta, store, mode="append")

        # append == one-shot, as (count, content checksum) equality —
        # ONE action per side (an exceptAll would re-evaluate the full
        # banding twice more; the hash compare is the same discipline
        # every manifest audit in this file uses)
        def _band_summary(df: DataFrame):
            row_h = _h60(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.col("band_id").cast("string"),
                    F.col("band_hash"),
                )
            )
            return df.agg(
                F.count(F.lit(1)).alias("n"),
                (F.sum(row_h.cast("decimal(38,0)")) % F.lit(_CHECKSUM_MOD))
                .cast("bigint")
                .alias("chk"),
            ).first()

        appended = (
            spark.read.schema(STORE_SCHEMA)
            .parquet(store)
            .select("doc_id", "band_id", "band_hash")
        )
        append_ok = int(_band_summary(appended) == _band_summary(band_rows(docs)))
        rows = [
            (
                r["class"],
                r["n_pairs"],
                r["checksum_mod"],
                r["min_a"],
                r["max_b"],
                append_ok,
                refuse_ok,
                pin_released_ok,
            )
            for r in agg_rows
        ]
        return spark.createDataFrame(
            rows,
            "class string, n_pairs bigint, checksum_mod bigint, "
            "min_a bigint, max_b bigint, append_ok int, refuse_ok int, "
            "pin_released_ok int",
        ).orderBy("class")


def _q153_sql() -> str:
    from ..operators.dedup import _BANDS_SQL, _pairs_sql

    m = _BAND_DELTA_MOD
    h = _h60_sql("CAST(doc_a AS VARCHAR) || ':' || CAST(doc_b AS VARCHAR)")
    return f"""
WITH bands AS ({_BANDS_SQL}),
pairs AS ({_pairs_sql()}),
dp AS (
  SELECT doc_a, doc_b,
         CASE WHEN doc_a % {m} = 0 AND doc_b % {m} = 0
              THEN 'in_delta' ELSE 'cross' END AS class
  FROM pairs
  WHERE doc_a % {m} = 0 OR doc_b % {m} = 0
)
SELECT class, COUNT(*) AS n_pairs,
       CAST(SUM({h}) % {_CHECKSUM_MOD} AS BIGINT) AS checksum_mod,
       MIN(doc_a) AS min_a, MAX(doc_b) AS max_b,
       1 AS append_ok, 1 AS refuse_ok, 1 AS pin_released_ok
FROM dp GROUP BY class
ORDER BY class
"""


N_JOIN_BUCKETS = 8


def _plan_text(df: DataFrame, mode: str = "simple") -> str:
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def q154_bucketed_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-store co-located join under the hash gate (VERDICT r9
    item 4 — sinks/bucketed.py was the last batch sink with only a
    pytest row): write orders and lineitem bucketed+sorted by the join
    key (`write_bucketed`, sinks/bucketed.py:18), join them on it, and
    return the join content aggregated per order status with a row
    checksum — which the oracle recomputes from the RAW parquet, so a
    hash match proves the bucketed write/read preserved every joined
    row. The zero-shuffle property the layout exists for is pinned
    in-result (test_bucketing.py's assertion made driver-visible):
    `join_no_exchange` (the bucketed merge join plans with NO
    hash-partitioning Exchange — the write paid the shuffle once) and
    `agg_no_exchange` (bucket-key aggregation is exchange-free too).

    Scale note: at 100 TB the canonical store is written bucketed by
    its join key exactly like this (sized so one bucket fits an
    executor: ~16384 buckets), and every subsequent J10/J11-shaped
    join or bucket-key agg moves zero fact-table bytes; the final
    status rollup here is the only shuffle and carries 3 rows per
    partition. Scratch tables are unique-named and dropped.
    """
    from ..operators.sketches import _h60
    from ..sinks.bucketed import write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    run = uuid.uuid4().hex[:12]
    t_orders, t_line = f"orders_q154_{run}", f"lineitem_q154_{run}"
    with _scratch_dir(spark, "sms_db_spark_bucketed_join_audit_") as root:
        try:
            # two independent bucketed writes (distinct tables, distinct
            # paths, in-memory catalog) — concurrent driver jobs (guide
            # §2.6; r17): the lineitem shuffle+sort no longer waits for
            # the orders one to drain
            concurrent(
                lambda: write_bucketed(
                    orders.select("o_orderkey", "o_orderstatus"),
                    t_orders,
                    "o_orderkey",
                    N_JOIN_BUCKETS,
                    path=f"{root}/orders",
                ),
                lambda: write_bucketed(
                    lineitem.select(
                        F.col("l_orderkey").alias("o_orderkey"),
                        "l_linenumber",
                        "l_quantity",
                    ),
                    t_line,
                    "o_orderkey",
                    N_JOIN_BUCKETS,
                    path=f"{root}/lineitem",
                ),
            )
            ob, lb = spark.table(t_orders), spark.table(t_line)
            joined = ob.hint("merge").join(lb, "o_orderkey")
            jplan = _plan_text(joined)
            join_no_exchange = int(
                "Exchange hashpartitioning" not in jplan and "SortMergeJoin" in jplan
            )
            aplan = _plan_text(
                lb.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))
            )
            agg_no_exchange = int("Exchange hashpartitioning" not in aplan)
            qty = F.col("l_quantity").cast("bigint")  # integral by contract
            h = _h60(
                F.concat_ws(
                    ":",
                    F.col("o_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    qty.cast("string"),
                )
            )
            out = (
                joined.groupBy("o_orderstatus")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum(qty).alias("sum_qty"),
                    (F.sum(h.cast("decimal(38,0)")) % F.lit(_CHECKSUM_MOD))
                    .cast("bigint")
                    .alias("checksum_mod"),
                    F.min("o_orderkey").alias("min_key"),
                    F.max("o_orderkey").alias("max_key"),
                )
                .withColumn("join_no_exchange", F.lit(join_no_exchange).cast("int"))
                .withColumn("agg_no_exchange", F.lit(agg_no_exchange).cast("int"))
                .orderBy("o_orderstatus")
            )
            return _detached(out)  # 3 driver-held rows; scratch dies here
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t_orders}")
            spark.sql(f"DROP TABLE IF EXISTS {t_line}")


_Q154_SQL = f"""
WITH j AS (
  SELECT o.o_orderkey, o.o_orderstatus, l.l_linenumber,
         CAST(l.l_quantity AS BIGINT) AS qty
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(SUM(qty) AS BIGINT) AS sum_qty,
       CAST(SUM({_h60_sql(
           "CAST(o_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
           " || ':' || CAST(qty AS VARCHAR)"
       )}) % {_CHECKSUM_MOD} AS BIGINT) AS checksum_mod,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
       1 AS join_no_exchange, 1 AS agg_no_exchange
FROM j GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# q155 slice: 5 of the ~30 days the events table spans; the backfill
# day sits inside the slice so the read-back proves the corrected
# partition serves the corrected rows (and ONLY that partition moved)
_PRUNE_LO, _PRUNE_HI = "2024-01-05", "2024-01-09"
_BACKFILL_DAY = "2024-01-07"


def _pruned_listing_count(df: DataFrame) -> int | None:
    """The file listing a single-scan plan actually enumerated: the
    scan's driver-side `numPartitions` metric, forced via its lazy
    `selectedPartitions` (pruning is a listing-time event — no job).

    This reaches through py4j into private Spark internals, so every
    structural assumption is CHECKED and a miss returns None with a
    UserWarning naming what broke (ADVICE r10 #2 / VERDICT r10 item 7:
    a Spark upgrade that wraps the plan in AQE, renames the metric, or
    changes the leaf class must degrade to a loud flag failure in the
    caller, never a raw py4j error that kills the gate row):
      - exactly ONE leaf (a wrapped/reused plan would make apply(0)
        arbitrary),
      - the leaf is a FileSourceScan (only it has selectedPartitions),
      - the numPartitions metric exists before it is read."""
    import warnings

    def _miss(what: str) -> None:
        warnings.warn(
            f"pruned-listing metric unavailable: {what} — the audit's "
            "files_pruned flag will fail loudly; the py4j internals this "
            "measurement assumes (single FileSourceScan leaf with a "
            "numPartitions metric) have changed",
            UserWarning,
            stacklevel=3,
        )

    try:
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        if leaves.size() != 1:
            _miss(f"expected 1 plan leaf, found {leaves.size()}")
            return None
        scan = leaves.apply(0)
        cls = scan.getClass().getSimpleName()
        if "FileSourceScan" not in cls:
            _miss(f"plan leaf is {cls}, not a FileSourceScan")
            return None
        scan.selectedPartitions()  # forces the pruned listing + metric
        if not scan.metrics().contains("numPartitions"):
            _miss("scan has no numPartitions metric")
            return None
        return int(scan.metrics().apply("numPartitions").value())
    except Exception as e:  # py4j surface changed under us
        _miss(f"py4j reach failed: {type(e).__name__}: {e}")
        return None


def q155_partitioned_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-partitioned store under the hash gate (the last pytest-only
    batch sink after VERDICT r9 items 1/4 closed bandstore/bucketed):
    write events through `write_partitioned_by_day`
    (sinks/partitioned.py:26), correct ONE day in place via
    `backfill_day`'s dynamic-partition overwrite (:69), then serve a
    5-day `day_slice` whose per-day content the oracle recomputes from
    the RAW parquet (with the same one-day correction applied in SQL) —
    a hash match proves layout, pruning path, and backfill preserved
    every row.

    Three layout laws are pinned in-result (constants on the oracle
    side, measured here): `prune_plan_ok` (the scan's PartitionFilters
    list itself carries the event_date RANGE conjuncts — not just the
    inferred isnotnull, and not a substring match elsewhere in the
    plan), `files_pruned_ok` (the scan's driver-side `numPartitions`
    metric — the file listing the physical plan actually enumerated —
    equals the in-range directory count and is strictly below the
    store's total; input_file_name() would be tautological here, since
    it samples rows AFTER the filter and so shows in-range files even
    when pruning is broken and every directory was scanned), and
    `backfill_untouched_ok` (after the one-day re-land, every OTHER
    partition's files are byte-identical by name+size+mtime — the
    1-of-1000-partitions correction workflow touches one directory).

    Scale note: this is the time-axis half of the storage layout story
    (SCALE.md §5; bucketing is the join-key half). At 100 TB with ~1000
    daily partitions a week-ranged query lists ~0.7% of the store, and
    a bad upstream day is recomputed and re-landed without rewriting
    history. Only the ≤5-row per-day aggregate reaches the driver.
    """
    import os

    from ..operators.sketches import _h60
    from ..sinks.partitioned import (
        backfill_day,
        day_slice,
        partition_dirs,
        write_partitioned_by_day,
    )

    events = load_table(spark, sf_dir, "events")
    with _scratch_dir(spark, "sms_db_spark_partitioned_audit_") as root:
        store = f"{root}/events_by_day"
        write_partitioned_by_day(events, store)

        # one-day correction: double the day's value, re-land in place;
        # every other partition's files must come through byte-identical.
        # The snapshot walks the store with os.listdir — valid because
        # this audit's scratch is driver-local; under a shared
        # scratchRoot (cluster runs) it fails LOUDLY at listdir rather
        # than silently passing the flag.
        def _snapshot(skip_day: str) -> dict:
            out = {}
            for d in partition_dirs(store):
                if d == f"event_date={skip_day}":
                    continue
                p = os.path.join(store, d)
                out[d] = {
                    (f, os.path.getsize(os.path.join(p, f)),
                     os.path.getmtime(os.path.join(p, f)))
                    for f in os.listdir(p)
                }
            return out

        before = _snapshot(_BACKFILL_DAY)
        corrected = events.filter(F.to_date("ts") == _BACKFILL_DAY).withColumn(
            "value", F.col("value") * 2
        )
        backfill_day(corrected, store)
        backfill_untouched_ok = int(_snapshot(_BACKFILL_DAY) == before)

        sliced = day_slice(spark, store, _PRUNE_LO, _PRUNE_HI)
        # plan law: the RANGE conjuncts sit inside the PartitionFilters
        # list itself. A bare substring pair ('PartitionFilters' +
        # 'event_date' anywhere) would stay green on the inferred
        # isnotnull filter alone while range pruning is broken —
        # 'event_date' also matches the scan's Output/ReadSchema.
        pf_lines = [
            ln
            for ln in _plan_text(sliced, "formatted").splitlines()
            if "PartitionFilters" in ln
        ]
        prune_plan_ok = int(
            bool(pf_lines)
            and all(
                "event_date" in ln and ">=" in ln and "<=" in ln
                for ln in pf_lines
            )
        )
        # physical law: the listing the scan actually enumerated.
        # Pruning is a listing-time event, so NO job is needed — forcing
        # the scan's lazy selectedPartitions sets the driver-side
        # numPartitions metric (measured: 0 before the touch, 5 after;
        # an action on a DERIVED plan never sets this frame's metric).
        # It must equal the in-range directory count and be strictly
        # below the store total (all-days-in-range would be vacuous).
        # NOTE input_file_name() cannot measure this: it samples rows
        # AFTER the filter, so broken pruning still shows only in-range
        # files (empirically verified — a UDF filter that scanned all
        # partitions produced the same file set). The py4j reach is
        # GUARDED (VERDICT r10 item 7): a Spark upgrade that wraps the
        # plan or renames the metric fails the FLAG (with a warning
        # naming the broken assumption), never the query.
        n_listed = _pruned_listing_count(sliced)
        all_days = {d.split("=", 1)[1] for d in partition_dirs(store)}
        in_range = {d for d in all_days if _PRUNE_LO <= d <= _PRUNE_HI}
        files_pruned_ok = int(
            n_listed is not None
            and 0 < len(in_range) < len(all_days)
            and n_listed == len(in_range)
        )

        h = _h60(
            F.concat_ws(
                ":",
                F.col("event_id").cast("string"),
                F.unix_micros("ts").cast("string"),
                F.col("user_id").cast("string"),
                F.col("event_type"),
            )
        )
        out = (
            sliced.groupBy(F.col("event_date").cast("string").alias("day"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
                (F.sum(h.cast("decimal(38,0)")) % F.lit(_CHECKSUM_MOD))
                .cast("bigint")
                .alias("checksum_mod"),
            )
            .withColumn("prune_plan_ok", F.lit(prune_plan_ok).cast("int"))
            .withColumn("files_pruned_ok", F.lit(files_pruned_ok).cast("int"))
            .withColumn(
                "backfill_untouched_ok", F.lit(backfill_untouched_ok).cast("int")
            )
            .orderBy("day")
        )
        return _detached(out)  # ≤5 driver-held rows; scratch dies here


_Q155_SQL = f"""
WITH ev AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         user_id, event_type,
         CASE WHEN CAST(ts AS DATE) = DATE '{_BACKFILL_DAY}'
              THEN value * 2 ELSE value END AS value
  FROM events
  WHERE CAST(ts AS DATE) BETWEEN DATE '{_PRUNE_LO}' AND DATE '{_PRUNE_HI}'
)
SELECT day, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       CAST(SUM({_h60_sql(
           "CAST(event_id AS VARCHAR) || ':' || CAST(ts_us AS VARCHAR)"
           " || ':' || CAST(user_id AS VARCHAR) || ':' || event_type"
       )}) % {_CHECKSUM_MOD} AS BIGINT) AS checksum_mod,
       1 AS prune_plan_ok, 1 AS files_pruned_ok, 1 AS backfill_untouched_ok
FROM ev GROUP BY day
ORDER BY day
"""


# q156: the combined streaming-lane parity audit (VERDICT r10 item 2).
# Docs lanes split the corpus into this many contiguous doc_id-range
# drops (q152's slicing arithmetic): 3 drift batches = cold start + two
# history-carrying restarts, every log-protocol transition.
_PARITY_DROPS = 3
_SESSION_GAP_MS = 30 * 60 * 1000  # q32's 30-minute gap, in the lane's ms unit
_WINDOW_DURATION = "10 minutes"
_WINDOW_WATERMARK = "20 minutes"
_FLUSH_TYPE = "__flush__"  # sentinel event_type; its window never flushes


def _lane_checksum(df: DataFrame, parts: list) -> tuple[int, int]:
    """(n_rows, checksum_mod) over a lane's bounded result frame: the
    repo's standard content hash (_h60 of the ':'-joined row string,
    decimal-pre-summed mod 2^60). NULL-able string parts must arrive
    pre-coalesced — concat_ws SKIPS nulls while the oracle's || would
    propagate them, so a silent null would de-sync the engines."""
    from ..operators.sketches import _h60

    h = _h60(F.concat_ws(":", *parts))
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(h.cast("decimal(38,0)")) % F.lit(_CHECKSUM_MOD))
        .cast("bigint")
        .alias("chk"),
    ).first()
    return int(r["n"]), int(r["chk"] if r["chk"] is not None else 0)


def _drain(q, what: str) -> None:
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(f"{what} stream did not drain in 600s")


def q156_streaming_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DOCUMENT streaming lanes under ONE hash-gated audit
    (VERDICT r10 item 2 — the recurring promised-but-ungated class that
    produced q153/q154/q155 across two rounds, closed for streaming in
    one row per lane): each lane runs its REAL streaming entry point
    over staged drops to completion (availableNow, persistent
    checkpoints, q152's run-per-drop discipline where batch numbering
    matters), and the oracle recomputes the lane's emitted content from
    the raw tables with the batch twin's SQL — so a hash match proves
    stream==batch parity through the actual streaming runtime, not just
    the shared expressions the pytest lanes already pin.

    SPLIT r16 (VERDICT r15 item 3): this audit held FIVE lanes and was
    the single heaviest bench row (25.5 s in the r15 driver window) —
    one ambient burst poisoned five lanes' timing and a failure was
    hard to attribute. The two EVENTS lanes (windows, sessions) moved
    to q169_streaming_events_parity_audit along the staging boundary:
    this row stages only the document drops, q169 stages only the
    events drops, coverage unchanged, and each row's timing attributes
    to its own staging + lanes.

    Lanes and their parity laws (one result row each):
      - curation (streaming/curation.py): stream_curate over 3 doc
        drops == q41-gate + q77-split on the raw corpus, checksummed
        over (doc_id, n_tokens, bucket, split) of gate-passers.
      - drift (streaming/drift.py): 3 per-batch TVD reports in the
        metrics log == q136's shared `_drift_from_counts` arithmetic
        recomputed per doc_id-range window against the full-corpus
        reference profile (batch ⊆ corpus, so the merged bucket set is
        exactly the corpus bucket set).
      - sketches (streaming/sketches.py): the persisted HLL register
        table after streaming the corpus == q102's one-shot registers
        (merge-equals-whole across microbatches).

    `replay_ok` is measured, not asserted: drift re-appends its last
    batch_id (foreachBatch at-least-once redelivery — the log must
    overwrite, not double), sketches re-merges the full corpus registers
    into the store (max-merge idempotence), and curation restarts its
    query on the same checkpoint with no new input (a sink-protocol bug
    that re-emits on restart flips the flag).

    Scale note: every lane is the production shape at 100 TB/day — the
    drift reference is |features x buckets| rows computed once, HLL
    state is 2^p registers independent of history, and curation is
    map-only. The driver holds only the 3-row lane summary; drops and
    checkpoints live in scratch.
    """
    from ..streaming.curation import DOCS_SCHEMA, stream_curate
    from ..streaming.drift import (
        append_drift,
        read_drift_log,
        reference_profile,
        stream_drift_monitor,
    )
    from ..streaming.sketches import merge_registers, stream_hll

    # state-store sizing on a CLONE (q152's discipline): 8 partitions fit
    # the audit corpus; the caller's session is never mutated
    session = clone_tuned_session(spark)
    session.conf.set("spark.sql.shuffle.partitions", "8")
    spark = session
    # pinned once: the reference profile, the max probe, and the three
    # drop writes below all consume this projection (one scan, not five)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(*[f.name for f in DOCS_SCHEMA.fields])
        .localCheckpoint(eager=True)
    )

    with _scratch_dir(spark, "sms_db_spark_stream_parity_audit_") as root:
        doc_drop = f"{root}/docs"

        # the reference profile and the span probe are independent
        # read-only jobs over the pin — concurrent (guide §2.6; r18)
        ref, mx = concurrent(
            lambda: reference_profile(docs),
            lambda: int(docs.agg(F.max("doc_id")).first()[0]),
        )
        span = mx + 1

        # ---- drift: run-per-drop (batch numbering is the contract;
        # the staged-drop/stream-run interleave is inherently serial) ----
        slices = []
        for k in range(_PARITY_DROPS):
            lo, hi = k * span // _PARITY_DROPS, (k + 1) * span // _PARITY_DROPS
            s = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            slices.append(s)
            s.coalesce(1).write.mode("append").parquet(doc_drop)
            _drain(
                stream_drift_monitor(
                    spark, doc_drop, ref, f"{root}/driftlog", f"{root}/ckpt_drift"
                ),
                "drift",
            )

        # ---- once every drop is staged, the three lanes' remaining
        # protocols are independent chains (distinct checkpoints, sinks
        # and logs; all read the now-static doc_drop) — run them as
        # concurrent driver-job chains (guide §2.6; VERDICT r17 item 1)
        def drift_lane() -> tuple[str, int, int, int]:
            drift_parts = [
                F.col("batch_id").cast("string"),
                F.col("feature"),
                F.col("n_a").cast("string"),
                F.col("n_b").cast("string"),
                F.col("n_buckets").cast("string"),
                F.col("tvd_milli").cast("string"),
                F.coalesce(F.col("top_bucket"), F.lit("\x01")),
            ]
            n, chk = _lane_checksum(
                read_drift_log(spark, f"{root}/driftlog"), drift_parts
            )
            # at-least-once redelivery of the LAST batch: overwrite,
            # not double
            append_drift(slices[-1], _PARITY_DROPS - 1, ref, f"{root}/driftlog")
            replay = int(
                _lane_checksum(read_drift_log(spark, f"{root}/driftlog"), drift_parts)
                == (n, chk)
            )
            return ("drift", n, chk, replay)

        def curation_lane() -> tuple[str, int, int, int]:
            def run_curation():
                q = (
                    stream_curate(spark, doc_drop)
                    .writeStream.format("parquet")
                    .option("path", f"{root}/curated")
                    .option("checkpointLocation", f"{root}/ckpt_cur")
                    .partitionBy("split")
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                _drain(q, "curation")

            run_curation()
            cur_parts = [
                F.col("doc_id").cast("string"),
                F.col("n_tokens").cast("string"),
                F.col("bucket").cast("string"),
                F.col("split"),
            ]
            curated = spark.read.parquet(f"{root}/curated")
            n, chk = _lane_checksum(curated, cur_parts)
            run_curation()  # restart, no new input: the sink must not re-emit
            replay = int(
                _lane_checksum(spark.read.parquet(f"{root}/curated"), cur_parts)
                == (n, chk)
            )
            return ("curation", n, chk, replay)

        def sketches_lane() -> tuple[str, int, int, int]:
            _drain(
                stream_hll(spark, doc_drop, f"{root}/regs", f"{root}/ckpt_hll"),
                "sketches",
            )
            reg_parts = [
                F.col("bucket").cast("string"),
                F.col("max_rho").cast("string"),
            ]
            current = spark.read.parquet(f"{root}/regs/current")
            n, chk = _lane_checksum(current, reg_parts)
            # redelivery safety = max-merge idempotence: any redelivered
            # batch's registers are pointwise-dominated by the store, and
            # self-merge is the strongest dominated case (q106's law) —
            # without re-paying the corpus banding a real re-band would cost
            remerged = merge_registers(current, current)
            replay = int(_lane_checksum(remerged, reg_parts) == (n, chk))
            return ("sketches", n, chk, replay)

        lanes = list(concurrent(drift_lane, curation_lane, sketches_lane))

    return spark.createDataFrame(
        sorted(lanes),
        "lane string, n_rows bigint, checksum_mod bigint, replay_ok int",
    ).orderBy("lane")


def q169_streaming_events_parity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The EVENTS streaming lanes under the same hash-gated parity
    protocol as q156 — split out r16 (VERDICT r15 item 3: five lanes
    under the r15 q156 made it the heaviest bench row at 25.5 s and
    blurred per-lane timing attribution; the split follows the staging
    boundary — q156 stages document drops, this row stages the events
    corpus + sentinel drops).

    Lanes and their parity laws (one result row each):
      - windows (streaming/windows.py): watermarked append-mode tumbling
        counts == the batch tumbling aggregate — every real window
        emitted exactly ONCE, flushed deterministically by two sentinel
        drops (watermark advances from the PREVIOUS batch's max event
        time, the cross-run law test_streaming_windows pins: sentinel 1
        lifts the watermark past every real window end, sentinel 2
        triggers the batch that flushes under it; the sentinels' own
        far-future window never emits). A duplicate or lost emission
        breaks n_rows/checksum_mod against the batch aggregate.
      - sessions (streaming/sessions.py): applyInPandasWithState closed
        sessions == q32's lag/gap/cumsum sessionization on ms-truncated
        timestamps MINUS each user's last (still-open) session.

    `replay_ok` is measured, not asserted: both file-sink lanes restart
    their query on the same checkpoint with no new input (a
    sink-protocol bug that re-emits on restart flips the flag).

    Scale note: session state is 3 scalars per active user and the
    window state is bounded by the watermark horizon — both are the
    production shape at 100 TB/day. The driver holds only the 2-row
    lane summary; drops and checkpoints live in scratch.
    """
    from ..streaming.sessions import SESSION_SCHEMA, stream_sessions
    from ..streaming.windows import stream_windowed_counts

    # state-store sizing on a CLONE (q152's discipline): 8 partitions
    # fit the audit corpus; the caller's session is never mutated
    session = clone_tuned_session(spark)
    session.conf.set("spark.sql.shuffle.partitions", "8")
    spark = session
    events = load_table(spark, sf_dir, "events")

    with _scratch_dir(spark, "sms_db_spark_stream_events_audit_") as root:
        lanes: list[tuple[str, int, int, int]] = []

        # ---- events drops: real corpus + two far-future sentinels ----
        # Staged rows are restricted to non-NULL (ts, user_id,
        # event_type) — ONE shared predicate, mirrored verbatim in the
        # oracle (_EV_NONDEGENERATE): NULL event-time rows are dropped
        # by the watermark operator while a batch oracle would keep
        # their group, NULL user_id would group in SQL but be filtered
        # with the sentinel here, and NULL event_type would NULL out
        # the != '__flush__' filter — each a silent engine de-sync on
        # data this audit's parity law shouldn't be defined over
        # (review r11; the synthetic corpus has no such rows, so the
        # filter is currently a no-op that pins the contract).
        ev_drop = f"{root}/events"
        ev_cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        real = (
            events.filter(
                F.col("ts").isNotNull()
                & F.col("user_id").isNotNull()
                & F.col("event_type").isNotNull()
            )
            .select(*ev_cols)
            .withColumn("ts_ms", F.unix_millis("ts"))
        )
        real.coalesce(1).write.mode("append").parquet(ev_drop)

        def sentinel(event_id: int, extra: str):
            # built FROM the events frame (tz-safe: no driver datetime
            # arithmetic); 30 days past the corpus, 1ms apart so the
            # sentinel user's own session never closes
            return (
                events.agg(F.max("ts").alias("ts"))
                .select(
                    F.lit(event_id).alias("event_id"),
                    F.expr(f"ts + INTERVAL 30 DAYS + INTERVAL {extra}").alias("ts"),
                    F.lit(-1).cast("long").alias("user_id"),
                    F.lit(_FLUSH_TYPE).alias("event_type"),
                    F.lit(0.0).alias("value"),
                    F.lit(None).cast("string").alias("props"),
                )
                .withColumn("ts_ms", F.unix_millis("ts"))
            )

        # ---- windows: sentinel-flush protocol (2 runs + replay) ----
        sentinel(-1, "0 MILLISECOND").coalesce(1).write.mode("append").parquet(ev_drop)

        def run_windows():
            _drain(
                stream_windowed_counts(
                    spark,
                    ev_drop,
                    f"{root}/windows",
                    f"{root}/ckpt_win",
                    _WINDOW_DURATION,
                    _WINDOW_WATERMARK,
                ),
                "windows",
            )

        run_windows()  # real + sentinel 1: watermark ends past every real window
        sentinel(-2, "1 MILLISECOND").coalesce(1).write.mode("append").parquet(ev_drop)

        win_schema = (
            "window_start timestamp, window_end timestamp, event_type string,"
            " n_events bigint, total_value double"
        )

        def win_frame():
            # integer cents, not the double: the decimal(18,2) sum is
            # exact, so round(x*100) is the exact integral value on both
            # engines — no float-format drift in the hash
            return (
                spark.read.schema(win_schema)
                .parquet(f"{root}/windows")
                .filter(F.col("event_type") != _FLUSH_TYPE)
                .select(
                    F.unix_millis("window_start").alias("ms"),
                    "event_type",
                    "n_events",
                    F.round(F.col("total_value") * 100).cast("bigint").alias("cents"),
                )
            )

        win_parts = [
            F.col("ms").cast("string"),
            F.col("event_type"),
            F.col("n_events").cast("string"),
            F.col("cents").cast("string"),
        ]

        def windows_lane() -> tuple[str, int, int, int]:
            run_windows()  # sentinel 2's batch flushes every real window
            n, chk = _lane_checksum(win_frame(), win_parts)
            run_windows()  # restart, no new input
            replay = int(_lane_checksum(win_frame(), win_parts) == (n, chk))
            return ("windows", n, chk, replay)

        # ---- sessions: one stateful run over all three files ----
        def run_sessions():
            q = (
                stream_sessions(spark, ev_drop, gap_ms=_SESSION_GAP_MS)
                .writeStream.format("parquet")
                .option("path", f"{root}/sessions")
                .option("checkpointLocation", f"{root}/ckpt_sess")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            _drain(q, "sessions")

        def sess_frame():
            return (
                spark.read.schema(SESSION_SCHEMA)
                .parquet(f"{root}/sessions")
                .filter(F.col("user_id") >= 0)  # the sentinel user is protocol
            )

        sess_parts = [
            F.col("user_id").cast("string"),
            F.col("session_start_ms").cast("string"),
            F.col("session_end_ms").cast("string"),
            F.col("n_events").cast("string"),
        ]

        def sessions_lane() -> tuple[str, int, int, int]:
            run_sessions()
            n, chk = _lane_checksum(sess_frame(), sess_parts)
            run_sessions()  # restart, no new input
            replay = int(_lane_checksum(sess_frame(), sess_parts) == (n, chk))
            return ("sessions", n, chk, replay)

        # both lanes consume the fully-staged (static) drop dir through
        # their own checkpoints/sinks — independent chains, run as
        # concurrent driver jobs (guide §2.6; VERDICT r17 item 1)
        lanes.extend(concurrent(windows_lane, sessions_lane))

    return spark.createDataFrame(
        sorted(lanes),
        "lane string, n_rows bigint, checksum_mod bigint, replay_ok int",
    ).orderBy("lane")


def _q156_drift_sql() -> str:
    """Per-(batch, feature) drift rows in DuckDB: the SAME integer-milli
    TVD arithmetic as maintenance.Q136_SQL, but window A = the batch's
    doc_id range and window B = the FULL corpus (the audit's reference
    profile). Batch ⊆ corpus, so grouping the corpus alone yields
    exactly the merged bucket set the streaming monitor folds."""
    from ..operators.maintenance import (
        DRIFT_LEN_BUCKET,
        DRIFT_LEN_CAP,
    )

    feats = (
        ("lang", "lang"),
        ("len_bucket", f"LEAST(n_chars // {DRIFT_LEN_BUCKET}, {DRIFT_LEN_CAP})"),
    )
    blocks = []
    for k in range(_PARITY_DROPS):
        lo = f"(SELECT (MAX(doc_id) + 1) * {k} // {_PARITY_DROPS} FROM documents)"
        hi = f"(SELECT (MAX(doc_id) + 1) * {k + 1} // {_PARITY_DROPS} FROM documents)"
        for name, expr in feats:
            blocks.append(
                f"""
  SELECT {k} AS batch_id, '{name}' AS feature,
         CAST(MAX(tot_a) AS BIGINT) AS n_a, CAST(MAX(tot_b) AS BIGINT) AS n_b,
         COUNT(*) AS n_buckets, CAST(SUM(diff) // 2 AS BIGINT) AS tvd_milli,
         MAX(CASE WHEN rn = 1 THEN bucket END) AS top_bucket
  FROM (
    SELECT bucket, tot_a, tot_b, ABS(p_a - p_b) AS diff,
           row_number() OVER (ORDER BY ABS(p_a - p_b) DESC, bucket) AS rn
    FROM (
      SELECT bucket, cnt_a * 1000 // SUM(cnt_a) OVER () AS p_a,
             cnt_b * 1000 // SUM(cnt_b) OVER () AS p_b,
             SUM(cnt_a) OVER () AS tot_a, SUM(cnt_b) OVER () AS tot_b
      FROM (
        SELECT CAST({expr} AS VARCHAR) AS bucket,
               COUNT(*) FILTER (WHERE doc_id >= {lo} AND doc_id < {hi}) AS cnt_a,
               COUNT(*) AS cnt_b
        FROM documents GROUP BY 1
      )
    )
  )"""
            )
    return " UNION ALL ".join(blocks)


def _parity_lane_sql(name: str, src: str, row_expr: str) -> str:
    """One oracle lane row (lane, n_rows, checksum_mod, replay_ok=1) —
    the SQL twin of _lane_checksum, shared by the q156/q169 oracles."""
    return f"""
SELECT '{name}' AS lane, COUNT(*) AS n_rows,
       CAST(COALESCE(SUM({_h60_sql(row_expr)}), 0) % {_CHECKSUM_MOD} AS BIGINT)
         AS checksum_mod,
       1 AS replay_ok
FROM ({src})"""


def _q156_sql() -> str:
    from ..operators.sketches import HLL_M, _HLL_WBITS, _SHINGLE_ROWS_SQL
    from ..streaming.curation import (
        MAX_STOP_RATIO,
        MIN_LEN_CHARS,
        MIN_TOKENS,
        _STOPWORDS,
        _TOKEN_RE,
    )
    from ..operators.curation import TRAIN_UPTO, VALID_UPTO, _sql_bucket

    lane = _parity_lane_sql
    stop_re = r"\b(" + "|".join(_STOPWORDS) + r")\b"
    curation_src = f"""
  SELECT doc_id, n_tokens, bucket,
         CASE WHEN bucket < {TRAIN_UPTO} THEN 'train'
              WHEN bucket < {VALID_UPTO} THEN 'valid'
              ELSE 'test' END AS split
  FROM (
    SELECT doc_id,
           len(regexp_extract_all(text, '{_TOKEN_RE}')) AS n_tokens,
           len(regexp_extract_all(lower(text), '{stop_re}')) AS stop_cnt,
           length(text) AS len_chars,
           {_sql_bucket('doc_id')} AS bucket
    FROM documents
  )
  WHERE len_chars >= {MIN_LEN_CHARS} AND n_tokens >= {MIN_TOKENS}
    AND CAST(stop_cnt AS DOUBLE) / CAST(greatest(n_tokens, 1) AS DOUBLE)
        < {MAX_STOP_RATIO}"""

    sketches_src = f"""
  SELECT h % {HLL_M} AS bucket,
         MAX(CASE WHEN h // {HLL_M} = 0 THEN {_HLL_WBITS + 1}
                  ELSE {_HLL_WBITS + 1} - length(bin(h // {HLL_M})) END) AS max_rho
  FROM (SELECT {_h60_sql('gram')} AS h FROM ({_SHINGLE_ROWS_SQL}))
  GROUP BY 1"""

    return (
        lane(
            "curation",
            curation_src,
            "CAST(doc_id AS VARCHAR) || ':' || CAST(n_tokens AS VARCHAR)"
            " || ':' || CAST(bucket AS VARCHAR) || ':' || split",
        )
        + " UNION ALL "
        + lane(
            "drift",
            _q156_drift_sql(),
            "CAST(batch_id AS VARCHAR) || ':' || feature"
            " || ':' || CAST(n_a AS VARCHAR) || ':' || CAST(n_b AS VARCHAR)"
            " || ':' || CAST(n_buckets AS VARCHAR)"
            " || ':' || CAST(tvd_milli AS VARCHAR)"
            " || ':' || COALESCE(top_bucket, chr(1))",
        )
        + " UNION ALL "
        + lane(
            "sketches",
            sketches_src,
            "CAST(bucket AS VARCHAR) || ':' || CAST(max_rho AS VARCHAR)",
        )
        + " ORDER BY lane"
    )


def _q169_sql() -> str:
    lane = _parity_lane_sql
    # the staging predicate, verbatim (see the q169 staging comment)
    nondegenerate = (
        "ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL"
    )
    sessions_src = f"""
  SELECT user_id, MIN(ts_ms) AS s_ms, MAX(ts_ms) AS e_ms, COUNT(*) AS n
  FROM (
    SELECT user_id, ts_ms,
           SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_ms
                         ROWS UNBOUNDED PRECEDING) AS sid
    FROM (
      SELECT user_id, ts_ms,
             CASE WHEN lag(ts_ms) OVER w IS NULL
                       OR ts_ms - lag(ts_ms) OVER w > {_SESSION_GAP_MS}
                  THEN 1 ELSE 0 END AS ns
      FROM (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms
            FROM events WHERE {nondegenerate})
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
    )
  )
  GROUP BY user_id, sid
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY s_ms DESC) > 1"""

    windows_src = f"""
  SELECT epoch_ms(time_bucket(INTERVAL '{_WINDOW_DURATION}', CAST(ts AS TIMESTAMP)))
           AS ms,
         event_type, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM events WHERE {nondegenerate} GROUP BY 1, 2"""

    return (
        lane(
            "sessions",
            sessions_src,
            "CAST(user_id AS VARCHAR) || ':' || CAST(s_ms AS VARCHAR)"
            " || ':' || CAST(e_ms AS VARCHAR) || ':' || CAST(n AS VARCHAR)",
        )
        + " UNION ALL "
        + lane(
            "windows",
            windows_src,
            "CAST(ms AS VARCHAR) || ':' || event_type"
            " || ':' || CAST(n_events AS VARCHAR) || ':' || CAST(cents AS VARCHAR)",
        )
        + " ORDER BY lane"
    )


# q170: delete every message whose id % 7 == 3 (~14% — a realistic
# bulk-delete slice, neither a point delete nor a truncate)
_DELETE_MOD = 7
_DELETE_REM = 3


def q170_cascade_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-side cascade delete under the hash gate (VERDICT r15 item
    4 — the one real reference-surface gap): the reference schema
    declares `FOREIGN KEY(message_id) REFERENCES messages(_id) ON
    DELETE CASCADE` (sms-db.pl:53), so a user deleting messages via
    sqlite3 gets parts cleanup for free. This audit drives
    sinks/versioned.delete_cascade through a real two-table versioned
    store: commit v1 of messages (orders as the message stand-in,
    keyed _id) and parts (lineitem keyed message_id, the q06 1:N
    shape), delete every _id % {mod} == {rem}, read BOTH tables back
    through the commit pointer, and hash the survivors. The oracle
    recomputes the post-delete store from the raw tables — a match
    proves the cascade dropped exactly the children of deleted parents
    and nothing else, through real committed parquet.

    Laws pinned in-result, all computed from the READ-BACK store:
      - n_orphan_parts: parts ⋉̸ messages on the parent key — MUST be
        0 (the FK state the reference's constraint forbids; computed
        from the store, so a cascade bug fails the gate, not a pytest)
      - versions_ok: both stores advanced v1 → v2 and v2 is live,
        parts committed BEFORE messages (delete_cascade's crash
        contract — the version names pin the order indirectly via
        history, and both heads read back at v00000002)
      - msg/part checksums + counts vs the oracle's raw recompute

    Scale: the delete list broadcasts (map-side anti-join, zero
    shuffles of either fact table); the rewrite is the pointer
    commit's distributed parquet write; only this 1-row summary ever
    reaches the driver."""
    from ..operators.sketches import _h60
    from ..sinks.versioned import delete_cascade, history, read_current

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    msgs = orders.select(
        F.col("o_orderkey").alias("_id"),
        F.col("o_custkey").alias("address"),
        F.col("o_orderstatus").alias("status"),
    )
    parts = lineitem.select(
        F.col("l_orderkey").alias("message_id"),
        F.col("l_linenumber").alias("seq"),
        F.col("l_returnflag").alias("ct"),
    )
    doomed = msgs.filter(
        F.col("_id") % _DELETE_MOD == _DELETE_REM
    ).select("_id")
    with _scratch_dir(spark, "sms_db_spark_cascade_delete_audit_") as root:
        from ..sinks.versioned import commit_version

        m_store, p_store = f"{root}/messages", f"{root}/parts"
        # the two v1 commits target independent store dirs — concurrent
        # driver jobs (guide §2.6; r17). The DELETE stays ordered (parts
        # before messages, the crash contract) inside delete_cascade.
        concurrent(
            lambda: commit_version(spark, m_store, msgs),
            lambda: commit_version(spark, p_store, parts),
        )
        vs = delete_cascade(spark, m_store, p_store, doomed)
        m_back = read_current(spark, m_store)
        p_back = read_current(spark, p_store)
        # the FK probe rides the final detach job as a third aggregate
        # (r18 — it was its own count() driver round-trip)
        orphan_agg = p_back.join(
            m_back.select(F.col("_id").alias("message_id")),
            "message_id",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_orphan_parts"))
        m_hist = {h["version"]: h["status"] for h in history(spark, m_store)}
        p_hist = {h["version"]: h["status"] for h in history(spark, p_store)}
        versions_ok = int(
            vs == {"parts_version": "v00000002", "messages_version": "v00000002"}
            and m_hist == {"v00000001": "old", "v00000002": "live"}
            and p_hist == {"v00000001": "old", "v00000002": "live"}
        )
        mh = _h60(
            F.concat_ws(
                ":",
                F.col("_id").cast("string"),
                F.col("address").cast("string"),
                F.col("status"),
            )
        )
        ph = _h60(
            F.concat_ws(
                ":",
                F.col("message_id").cast("string"),
                F.col("seq").cast("string"),
                F.col("ct"),
            )
        )
        m_agg = m_back.agg(
            F.count(F.lit(1)).alias("n_messages"),
            (F.sum(mh.cast("decimal(38,0)")) % F.lit(_CHECKSUM_MOD))
            .cast("bigint")
            .alias("msg_checksum_mod"),
        )
        p_agg = p_back.agg(
            F.count(F.lit(1)).alias("n_parts"),
            (F.sum(ph.cast("decimal(38,0)")) % F.lit(_CHECKSUM_MOD))
            .cast("bigint")
            .alias("part_checksum_mod"),
        )
        out = (
            m_agg.crossJoin(p_agg)
            .crossJoin(orphan_agg)
            .withColumn("versions_ok", F.lit(versions_ok).cast("int"))
        )
        return _detached(out)  # 1 driver-held row; scratch dies here


def _q170_sql() -> str:
    mod, rem = _DELETE_MOD, _DELETE_REM
    mh = _h60_sql(
        "CAST(o_orderkey AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)"
        " || ':' || o_orderstatus"
    )
    ph = _h60_sql(
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
        " || ':' || l_returnflag"
    )
    return f"""
SELECT
  (SELECT COUNT(*) FROM orders WHERE o_orderkey % {mod} <> {rem})
    AS n_messages,
  (SELECT CAST(COALESCE(SUM({mh}), 0) % {_CHECKSUM_MOD} AS BIGINT)
   FROM orders WHERE o_orderkey % {mod} <> {rem}) AS msg_checksum_mod,
  (SELECT COUNT(*) FROM lineitem WHERE l_orderkey % {mod} <> {rem})
    AS n_parts,
  (SELECT CAST(COALESCE(SUM({ph}), 0) % {_CHECKSUM_MOD} AS BIGINT)
   FROM lineitem WHERE l_orderkey % {mod} <> {rem}) AS part_checksum_mod,
  CAST(0 AS BIGINT) AS n_orphan_parts,
  1 AS versions_ok
"""


# q175: delete the low 2/10ths of the key RANGE — key-clustered stores
# concentrate that slice into few files, which is what makes the prune
# demonstrable (a modulo delete list would touch every file)
_COWDEL_TENTHS = 2
_N_COWDEL_FILES = 8


def q175_cow_cascade_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-SCALE cascade delete: q170 proves the semantics
    through the versioned store's total-rewrite commit; this lane
    proves the path a 100 TB store actually takes — `delete_cow`
    (sinks/merge.py), which rewrites ONLY the files whose footer key
    range overlaps a delete key. Messages (orders) and parts
    (lineitem) are written as key-range-clustered {n}-file stores, the
    low {t}/10ths of the key range is deleted (a range delete lands in
    few files of a clustered store — the realistic bulk-delete shape)
    plus two absent ids (idempotence), parts BEFORE messages (q170's
    crash contract). The oracle recomputes both post-delete tables
    from raw; flags pinned in-result, all computed from the store:

      - prune_msgs_ok / prune_parts_ok: >= half of each store's files
        physically skipped (the delete really pruned);
      - untouched_ok: every skipped file of BOTH stores survives under
        its original name and size (append-new-then-delete-touched
        means name survival IS physical untouchedness);
      - n_orphan_parts: read-back parts ⋉̸ read-back messages == 0.

    Scale note: the footer scan, prune join, slice anti-join, and
    rewrite are distributed; the driver holds max(_id), two stats
    dicts, the <= {n}-entry file listings, and this 1-row summary."""
    from ..operators.sketches import _h60
    from ..sinks.compaction import _data_files
    from ..sinks.merge import delete_cow

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    msgs = orders.select(
        F.col("o_orderkey").alias("_id"),
        F.col("o_custkey").alias("address"),
        F.col("o_orderstatus").alias("status"),
    )
    parts = lineitem.select(
        F.col("l_orderkey").alias("message_id"),
        F.col("l_linenumber").alias("seq"),
        F.col("l_returnflag").alias("ct"),
    )
    mx = int(msgs.agg(F.max("_id")).first()[0])
    doomed = (
        msgs.filter(10 * F.col("_id") < _COWDEL_TENTHS * mx)
        .select("_id")
        .unionByName(
            spark.createDataFrame([(2 * mx,), (2 * mx + 1,)], "_id bigint")
        )
    )
    with _scratch_dir(spark, "sms_db_spark_cow_cascade_delete_audit_") as root:
        m_store, p_store = f"{root}/messages", f"{root}/parts"
        # the two clustered-store seed writes target independent dirs —
        # concurrent driver jobs (guide §2.6; r17). The DELETEs below
        # stay ordered: parts before messages is the crash contract.
        concurrent(
            lambda: (
                msgs.repartitionByRange(_N_COWDEL_FILES, "_id")
                .sortWithinPartitions("_id")
                .write.parquet(m_store)
            ),
            lambda: (
                parts.repartitionByRange(_N_COWDEL_FILES, "message_id")
                .sortWithinPartitions("message_id")
                .write.parquet(p_store)
            ),
        )
        # keyed by store-relative path, not bare basename (ADVICE r16
        # #4): a basename collision across the two stores would
        # silently overwrite a dict entry and weaken untouched_ok
        def _file_map():
            return {
                f"{s.rsplit('/', 1)[-1]}/{f.rsplit('/', 1)[-1]}": b
                for s in (m_store, p_store)
                for f, b in _data_files(spark, s)
            }

        before = _file_map()
        # parts FIRST (the q170 crash contract: no crash point can
        # leave an orphan part)
        p_stats = delete_cow(
            spark, p_store, doomed.withColumnRenamed("_id", "message_id"),
            "message_id",
        )
        m_stats = delete_cow(spark, m_store, doomed, "_id")
        after = _file_map()
        survived = set(before) & set(after)
        untouched_ok = int(
            len(survived)
            >= m_stats["files_skipped"] + p_stats["files_skipped"]
            and all(before[f] == after[f] for f in survived)
        )
        m_back = spark.read.parquet(m_store)
        p_back = spark.read.parquet(p_store)
        # the FK probe rides the final detach job as a third aggregate
        # (r18 — it was its own count() driver round-trip)
        orphan_agg = p_back.join(
            m_back.select(F.col("_id").alias("message_id")),
            "message_id",
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_orphan_parts"))
        mh = _h60(
            F.concat_ws(
                ":",
                F.col("_id").cast("string"),
                F.col("address").cast("string"),
                F.col("status"),
            )
        )
        ph = _h60(
            F.concat_ws(
                ":",
                F.col("message_id").cast("string"),
                F.col("seq").cast("string"),
                F.col("ct"),
            )
        )
        m_agg = m_back.agg(
            F.count(F.lit(1)).alias("n_messages"),
            (F.sum(mh.cast("decimal(38,0)")) % F.lit(_CHECKSUM_MOD))
            .cast("bigint")
            .alias("msg_checksum_mod"),
        )
        p_agg = p_back.agg(
            F.count(F.lit(1)).alias("n_parts"),
            (F.sum(ph.cast("decimal(38,0)")) % F.lit(_CHECKSUM_MOD))
            .cast("bigint")
            .alias("part_checksum_mod"),
        )
        half = _N_COWDEL_FILES // 2
        out = (
            m_agg.crossJoin(p_agg)
            .crossJoin(orphan_agg)
            .withColumn(
                "prune_msgs_ok",
                F.lit(
                    int(
                        m_stats["files_rewritten"] >= 1
                        and m_stats["files_skipped"] >= half
                    )
                ).cast("int"),
            )
            .withColumn(
                "prune_parts_ok",
                F.lit(
                    int(
                        p_stats["files_rewritten"] >= 1
                        and p_stats["files_skipped"] >= half
                    )
                ).cast("int"),
            )
            .withColumn("untouched_ok", F.lit(untouched_ok).cast("int"))
        )
        return _detached(out)  # 1 driver-held row; scratch dies here


def _q175_sql() -> str:
    t = _COWDEL_TENTHS
    mx = "(SELECT MAX(o_orderkey) FROM orders)"
    mh = _h60_sql(
        "CAST(o_orderkey AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)"
        " || ':' || o_orderstatus"
    )
    ph = _h60_sql(
        "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)"
        " || ':' || l_returnflag"
    )
    return f"""
SELECT
  (SELECT COUNT(*) FROM orders WHERE 10 * o_orderkey >= {t} * {mx})
    AS n_messages,
  (SELECT CAST(COALESCE(SUM({mh}), 0) % {_CHECKSUM_MOD} AS BIGINT)
   FROM orders WHERE 10 * o_orderkey >= {t} * {mx}) AS msg_checksum_mod,
  (SELECT COUNT(*) FROM lineitem WHERE 10 * l_orderkey >= {t} * {mx})
    AS n_parts,
  (SELECT CAST(COALESCE(SUM({ph}), 0) % {_CHECKSUM_MOD} AS BIGINT)
   FROM lineitem WHERE 10 * l_orderkey >= {t} * {mx}) AS part_checksum_mod,
  CAST(0 AS BIGINT) AS n_orphan_parts,
  1 AS prune_msgs_ok,
  1 AS prune_parts_ok,
  1 AS untouched_ok
"""


# q157 split: store = doc_id % 5 != 0 (80%); delta = the missing fifth
# (genuinely new) plus every doc_id % 10 == 1 re-delivered from the
# store (the at-least-once duplicate the anti-join must drop).
_DEDUP_STORE_MOD = 5
_REDELIVER_MOD = 10


def q157_bucketed_antijoin_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Against-store exact dedup with the store BUCKETED on the content
    hash, under the hash gate (VERDICT r10 item 8 surfaced it: SCALE.md
    §2 promises 'against-store dedup (left_anti on hash) ... a bucketed
    store (§5) makes it exchange-free on the store side', and no query
    exercised that path — the same promised-but-ungated class q153-q156
    closed). The canonical store (80% of documents, keyed by the shared
    md5-prefix content hash) is written bucketed+sorted on `hash`
    (`write_bucketed`, sinks/bucketed.py:18); the daily delta (the
    missing 20% plus every %10==1 stored doc RE-DELIVERED as an
    at-least-once duplicate) left_anti-joins against it on the bucket
    key. The oracle recomputes the surviving set from raw parquet with
    the same hash in SQL — a value-hash match proves the bucketed
    write/read lost no store row (a dropped bucket would let its
    re-delivered duplicates survive).

    Two laws pinned in-result:
      - `store_no_exchange`: the anti-join plans as a sort-merge
        LeftAnti with EXACTLY ONE hash-partitioning Exchange — the
        DELTA side's; the store's bucketed scan contributes none. At
        the 10^11-message sizing this is the difference between
        shuffling ~3 TB of store hashes per daily batch and shuffling
        only the delta (SCALE.md §2).
      - `dup_dropped_ok`: no survivor's hash exists in the store —
        measured as a semi-join against the RAW pre-write frame, not
        the bucketed table (against the table it would be tautological:
        a bucketed read that consistently lost a bucket would let its
        duplicates survive AND miss them in the re-check; the raw-side
        probe is an independent read path, so a lost bucket flips the
        flag).

    Scale note: the store pays its shuffle ONCE at write; every
    subsequent daily dedup moves only delta bytes. Scratch table is
    unique-named and dropped."""
    import re

    from ..operators.sketches import _h60
    from ..sinks.bucketed import write_bucketed

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    h = _h60(F.col("text"))
    is_store = F.col("doc_id") % _DEDUP_STORE_MOD != 0
    redelivered = F.col("doc_id") % _REDELIVER_MOD == 1
    store_rows = docs.filter(is_store).select("doc_id", h.alias("hash"))
    # ONE filter, not new-docs UNION re-delivered: the two classes are
    # disjoint (%10==1 implies %5==1), the row set is identical, and a
    # union would be split by Catalyst into per-branch anti-joins —
    # correct, but doubling the delta-side exchanges the plan law counts
    delta = docs.filter(~is_store | redelivered).select("doc_id", h.alias("hash"))
    run = uuid.uuid4().hex[:12]
    t_store = f"doc_store_q157_{run}"
    with _scratch_dir(spark, "sms_db_spark_antijoin_dedup_audit_") as root:
        try:
            write_bucketed(store_rows, t_store, "hash", N_JOIN_BUCKETS, path=root)
            store = spark.table(t_store)
            survivors = delta.hint("merge").join(store, "hash", "left_anti")
            p = _plan_text(survivors)
            # exactly ONE hash-partitioning Exchange (the delta's), one
            # sort-merge LeftAnti, and the store scan reads its bucket
            # layout (`Bucketed: true` — a catalog/conf regression that
            # silently fell back to a plain scan would re-shuffle the
            # store and flip this flag)
            store_no_exchange = int(
                len(re.findall(r"Exchange hashpartitioning", p)) == 1
                and "SortMergeJoin" in p
                and "LeftAnti" in p
                and "Bucketed: true" in p
            )
            # probe the RAW frame (independent read path), never the
            # bucketed table the anti-join itself read — see docstring
            dup_dropped_ok = int(
                survivors.join(store_rows, "hash", "left_semi").count() == 0
            )
            rh = _h60(
                F.concat_ws(
                    ":", F.col("doc_id").cast("string"), F.col("hash").cast("string")
                )
            )
            out = (
                survivors.agg(
                    F.count(F.lit(1)).alias("n_survivors"),
                    (F.sum(rh.cast("decimal(38,0)")) % F.lit(_CHECKSUM_MOD))
                    .cast("bigint")
                    .alias("checksum_mod"),
                    F.min("doc_id").alias("min_id"),
                    F.max("doc_id").alias("max_id"),
                )
                .withColumn("n_delta", F.lit(delta.count()).cast("bigint"))
                .withColumn(
                    "store_no_exchange", F.lit(store_no_exchange).cast("int")
                )
                .withColumn("dup_dropped_ok", F.lit(dup_dropped_ok).cast("int"))
            )
            return _detached(out)  # 1 driver-held row; scratch dies here
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {t_store}")


def _q157_sql() -> str:
    m, r = _DEDUP_STORE_MOD, _REDELIVER_MOD
    h = _h60_sql("text")
    return f"""
WITH store AS (
  SELECT doc_id, {h} AS hash FROM documents WHERE doc_id % {m} <> 0
),
delta AS (
  -- new docs (%{m}==0) plus re-delivered store docs (%{r}==1): the
  -- classes are disjoint, so one predicate == the conceptual union
  SELECT doc_id, {h} AS hash FROM documents
  WHERE doc_id % {m} = 0 OR doc_id % {r} = 1
),
surv AS (
  SELECT d.doc_id, d.hash FROM delta d
  WHERE NOT EXISTS (SELECT 1 FROM store s WHERE s.hash = d.hash)
)
SELECT COUNT(*) AS n_survivors,
       CAST(SUM({_h60_sql(
           "CAST(doc_id AS VARCHAR) || ':' || CAST(hash AS VARCHAR)"
       )}) % {_CHECKSUM_MOD} AS BIGINT) AS checksum_mod,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
       (SELECT COUNT(*) FROM delta) AS n_delta,
       1 AS store_no_exchange, 1 AS dup_dropped_ok
FROM surv
"""


# q158: the two streaming lanes q156 left to runtime-coverage-elsewhere
# (streaming/joins.py via q152's stream-stream join runtime,
# streaming/ingest.py via q146/q149's foreachBatch upsert) get their own
# MODULE-level gate rows. Events are cut at a fixed date so the join
# lane's two drops are ts-ordered; the cut only affects batching, never
# the pair set (proven in the docstring), so the oracle is cut-free.
_JOIN_DROP_CUT = "2024-01-16"


def _stream_audit_session(spark: SparkSession, sf_dir: str):
    """Shared staging for the q158/q178 streaming audits (one body
    until the r17 split — VERDICT r16 item 4: two separable lanes on
    one row meant one ambient burst poisoned both and attribution was
    lost): a low-shuffle cloned session plus the nondegenerate events
    frame both protocols stage from."""
    session = clone_tuned_session(spark)
    session.conf.set("spark.sql.shuffle.partitions", "8")
    nondegenerate = (
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    return session, load_table(session, sf_dir, "events").filter(nondegenerate)


def q158_stream_join_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming attribution JOIN under the hash gate (one of the last
    two pytest-only streaming modules; its r16 row also carried the
    ingest lane — split to q178 in r17 so each lane's timing and
    failure attribute independently, the same seam that split q156).
    The registered name keeps its history; the row set is now the
    joins lane alone.

    `stream_attribution_join` (streaming/joins.py) over two ts-ordered
    drops per side (views = event_type 'view', purchases = 'purchase';
    cut at _JOIN_DROP_CUT, run-per-drop). The oracle is the batch
    range join — every (view, same-user purchase within
    ATTRIBUTION_WINDOW after it) pair exactly once. The emitted set
    is provably complete under the 2-drop protocol: a view evicted
    during run 1 has ts < maxA - watermark - window, so its matchable
    purchases end before maxA — all already in drop A — while drop
    B's purchases start at the cut ≥ maxA; symmetric-hash state can
    therefore never lose a cross-drop pair, and inner-join emission
    never waits on a watermark. `replay_ok` = a third run with no
    new input emits nothing (file-sink restart idempotence).

    Scale note: the join buffers only watermark-horizon state per side
    keyed by user_id (SCALE.md §6). Only the 1-row lane summary
    reaches the driver."""
    from ..streaming.joins import stream_attribution_join

    spark, events = _stream_audit_session(spark, sf_dir)
    lanes: list[tuple[str, int, int, int]] = []

    with _scratch_dir(spark, "sms_db_spark_join_ingest_audit_") as root:
        # ---- joins lane: 2 ts-ordered drops per side, run per drop ----
        vdir, pdir = f"{root}/views", f"{root}/purchases"
        out_j, ckpt_j = f"{root}/attributed", f"{root}/ckpt_join"
        views = events.filter(F.col("event_type") == "view")
        purchases = events.filter(F.col("event_type") == "purchase")
        cut = F.col("ts") < F.lit(_JOIN_DROP_CUT).cast("timestamp")
        # the audit's POINT is cross-drop state retention — if the data
        # ever stops straddling the cut (a regenerated TESTDATA with a
        # different date span), one drop is empty and the gate would
        # keep passing while no longer testing what it claims (review
        # r11): refuse loudly instead. ONE aggregate computes all four
        # cell counts (r18, guide §2.6 — this was four sequential
        # limit(1).count() driver round-trips over the same scan).
        probe = events.agg(
            *[
                F.sum(
                    ((F.col("event_type") == et) & pred).cast("int")
                ).alias(f"{side_name}_{drop_name}")
                for side_name, et in (("views", "view"), ("purchases", "purchase"))
                for drop_name, pred in (("before-cut", cut), ("after-cut", ~cut))
            ]
        ).first()
        for side_name in ("views", "purchases"):
            for drop_name in ("before-cut", "after-cut"):
                if not probe[f"{side_name}_{drop_name}"]:
                    raise ValueError(
                        f"q158 join lane: no {side_name} rows {drop_name} "
                        f"({_JOIN_DROP_CUT}) — the two-drop protocol no "
                        "longer straddles the data; move _JOIN_DROP_CUT"
                    )

        def run_join():
            _drain(
                stream_attribution_join(spark, vdir, pdir, out_j, ckpt_j),
                "attribution join",
            )

        def stage(pred):
            # the two sides' drop writes target distinct dirs —
            # concurrent driver jobs (guide §2.6; r18)
            concurrent(
                *[
                    lambda side_df=side_df, side_dir=side_dir: (
                        side_df.filter(pred)
                        .coalesce(1)
                        .write.mode("append")
                        .parquet(side_dir)
                    )
                    for side_df, side_dir in ((views, vdir), (purchases, pdir))
                ]
            )

        stage(cut)
        run_join()
        stage(~cut)
        run_join()

        join_schema = (
            "view_id bigint, purchase_id bigint, user_id bigint,"
            " view_ts timestamp, purchase_ts timestamp, amount double"
        )

        def join_frame():
            # floor(amount*100): same IEEE double on both engines, so
            # floor is deterministic — no float-format drift in the hash
            return (
                spark.read.schema(join_schema)
                .parquet(out_j)
                .select(
                    "view_id",
                    "purchase_id",
                    "user_id",
                    F.unix_millis("view_ts").alias("v_ms"),
                    F.unix_millis("purchase_ts").alias("p_ms"),
                    F.floor(F.col("amount") * 100).cast("bigint").alias("cents"),
                )
            )

        join_parts = [
            F.col(c).cast("string")
            for c in ("view_id", "purchase_id", "user_id", "v_ms", "p_ms")
        ] + [
            # amount is the one nullable part the staging filter does
            # not cover — coalesce BOTH sides (_lane_checksum contract;
            # the oracle mirrors with COALESCE(..., chr(1)))
            F.coalesce(F.col("cents").cast("string"), F.lit("\x01"))
        ]
        n, chk = _lane_checksum(join_frame(), join_parts)
        run_join()  # restart, no new input
        replay = int(_lane_checksum(join_frame(), join_parts) == (n, chk))
        lanes.append(("joins", n, chk, replay))

    return spark.createDataFrame(
        sorted(lanes),
        "lane string, n_rows bigint, checksum_mod bigint, replay_ok int",
    ).orderBy("lane")


def q178_stream_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming INGEST under the hash gate (split from q158 in r17 —
    VERDICT r16 item 4 — so the redundant-delivery protocol times and
    fails independently of the attribution join).

    `stream_ingest` (streaming/ingest.py — the reference's
    re-run-per-backup accumulation, README.md:39-43) over THREE
    drops with deliberate redundancy — A = 60% of staged messages,
    B = 60% overlapping A by a fifth, C = A re-delivered whole (the
    'same backup imported twice' case). Final store must hold every
    staged message exactly once, which the oracle recomputes from
    the raw events table with the same column derivations (the
    dedup hash is row-unique by construction, so the surviving row
    per hash is unambiguous; the hash itself stays OUT of the
    checksum — no cross-engine hash parity is needed to check the
    dedup LAW). `replay_ok` here is the stronger law: drop C (full
    re-delivery) added ZERO rows, measured as count-before ==
    count-after.

    Scale note: ingest state is one hash per message inside the
    watermark with the store-side anti-join catching older dups
    (SCALE.md §6). Only the 1-row lane summary reaches the driver."""
    from ..streaming.ingest import stream_ingest

    spark, events = _stream_audit_session(spark, sf_dir)
    lanes: list[tuple[str, int, int, int]] = []

    with _scratch_dir(spark, "sms_db_spark_ingest_audit_") as root:
        staged = events.select(
            F.col("event_id").alias("local_id"),
            F.unix_millis("ts").alias("timestamp"),
            F.col("user_id").cast("string").alias("sender_address"),
            F.col("event_type").alias("sender_name"),
            (F.col("user_id") % 7).cast("string").alias("recipient_address"),
            F.lit("store").alias("recipient_name"),
            (F.col("user_id") % 2 + 1).cast("int").alias("msg_box"),
            F.lit(1).cast("int").alias("message_type"),
            F.lit(2).cast("int").alias("source_format"),
        ).withColumn(
            # row-unique dedup key (local_id is unique), so re-delivered
            # rows are byte-identical and the survivor is unambiguous
            "hash",
            F.sha2(F.col("local_id").cast("string"), 256),
        ).localCheckpoint(
            eager=True
        )  # pinned once: three drop writes slice this frame (r18)
        drop_i, store_i, ckpt_i = f"{root}/staged", f"{root}/msgstore", f"{root}/ckpt_ing"
        in_a = F.col("local_id") % 5 < 3  # 60%
        in_b = F.col("local_id") % 5 >= 2  # 60%, overlaps A at %5==2

        def run_ingest():
            q = (
                stream_ingest(spark, drop_i, store_i, ckpt_i)
                .trigger(availableNow=True)
                .start()
            )
            _drain(q, "ingest")

        for batch in (staged.filter(in_a), staged.filter(in_b)):
            batch.coalesce(1).write.mode("append").parquet(drop_i)
            run_ingest()
        n_before_c = spark.read.parquet(store_i).count()
        staged.filter(in_a).coalesce(1).write.mode("append").parquet(drop_i)
        run_ingest()  # drop C: the same backup re-delivered whole
        store = spark.read.parquet(store_i)
        ing_parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x01"))
            for c in (
                "local_id",
                "timestamp",
                "sender_address",
                "sender_name",
                "recipient_address",
                "recipient_name",
                "msg_box",
                "message_type",
                "source_format",
            )
        ]
        # ONE read-back job: the checksum's count IS the post-C row
        # count, so the redelivered-noop law needs no separate count()
        n, chk = _lane_checksum(store, ing_parts)
        redelivery_noop = int(n == n_before_c)
        lanes.append(("ingest", n, chk, redelivery_noop))

    return spark.createDataFrame(
        sorted(lanes),
        "lane string, n_rows bigint, checksum_mod bigint, replay_ok int",
    ).orderBy("lane")


_STREAM_NONDEGENERATE_SQL = (
    "ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL"
)


def _stream_lane_sql(name: str, src: str, row_expr: str) -> str:
    """One hashed lane row — the shared oracle shape of the q158/q178
    streaming audits (replay_ok is the protocol law both lanes assert;
    the oracle pins its expected value 1)."""
    return f"""
SELECT '{name}' AS lane, COUNT(*) AS n_rows,
       CAST(COALESCE(SUM({_h60_sql(row_expr)}), 0) % {_CHECKSUM_MOD} AS BIGINT)
         AS checksum_mod,
       1 AS replay_ok
FROM ({src}) ORDER BY lane"""


def _q158_sql() -> str:
    from ..streaming.joins import ATTRIBUTION_WINDOW

    nondegenerate = _STREAM_NONDEGENERATE_SQL
    joins_src = f"""
  SELECT v.event_id AS view_id, p.event_id AS purchase_id,
         v.user_id AS user_id,
         epoch_ms(CAST(v.ts AS TIMESTAMP)) AS v_ms,
         epoch_ms(CAST(p.ts AS TIMESTAMP)) AS p_ms,
         CAST(floor(p.value * 100) AS BIGINT) AS cents
  FROM (SELECT * FROM events WHERE event_type = 'view' AND {nondegenerate}) v
  JOIN (SELECT * FROM events WHERE event_type = 'purchase' AND {nondegenerate}) p
    ON v.user_id = p.user_id
   AND p.ts >= v.ts
   AND p.ts <= v.ts + INTERVAL '{ATTRIBUTION_WINDOW}'"""

    return _stream_lane_sql(
        "joins",
        joins_src,
        "CAST(view_id AS VARCHAR) || ':' || CAST(purchase_id AS VARCHAR)"
        " || ':' || CAST(user_id AS VARCHAR) || ':' || CAST(v_ms AS VARCHAR)"
        " || ':' || CAST(p_ms AS VARCHAR)"
        " || ':' || COALESCE(CAST(cents AS VARCHAR), chr(1))",
    )


def _q178_sql() -> str:
    ingest_src = f"""
  SELECT event_id AS local_id,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
         CAST(user_id AS VARCHAR) AS sender_address,
         event_type AS sender_name,
         CAST(user_id % 7 AS VARCHAR) AS recipient_address,
         'store' AS recipient_name,
         user_id % 2 + 1 AS msg_box,
         1 AS message_type, 2 AS source_format
  FROM events WHERE {_STREAM_NONDEGENERATE_SQL}"""

    return _stream_lane_sql(
        "ingest",
        ingest_src,
        "CAST(local_id AS VARCHAR) || ':' || CAST(ts_ms AS VARCHAR)"
        " || ':' || sender_address || ':' || sender_name"
        " || ':' || recipient_address || ':' || recipient_name"
        " || ':' || CAST(msg_box AS VARCHAR)"
        " || ':' || CAST(message_type AS VARCHAR)"
        " || ':' || CAST(source_format AS VARCHAR)",
    )


# q159 staging: three event drops by event_id-range; drop 1 is POISONED
# (event_type rewritten on a deterministic modulus) so the monitor's
# accepted-values constraint must fail in EXACTLY that batch — an
# all-green log would make the audit pass vacuously on a corpus that
# violates nothing.
_Q159_DROPS = 3
_Q159_POISON_MOD = 7
_Q159_BOGUS = "__bogus__"


def q159_stream_quality_monitor_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST pytest-only streaming entry point under the hash gate
    (VERDICT r11 item 3: stream_quality_monitor's constraint
    expressions are driver-gated via q127 and its gate composition via
    q146/q149, but the monitor's own per-microbatch delete-then-append
    log protocol had no driver row): run the REAL monitor
    (readStream → foreachBatch(append_metrics), availableNow,
    persistent checkpoint) over three event drops — run-per-drop, the
    q152/q156-drift discipline, because batch NUMBERING is the log
    protocol's key — then return the metrics log itself, which the
    oracle recomputes per (batch, constraint) from the raw events
    table sliced by the same event_id ranges.

    Drop 1 is poisoned (event_type := __bogus__ on a modulus), so the
    log must show accepted_values_event_type failing in exactly batch
    1 and the other (batch, check) cells reflecting the raw corpus
    (which carries real range/completeness violations at some SFs —
    the oracle recomputes them rather than assuming green).

    `replay_ok` is measured, not asserted: the LAST batch's report is
    re-appended (foreachBatch at-least-once redelivery) and the log
    must be byte-unchanged — the keyed overwrite, not a double-append.

    Scale note: the monitor's state is one 4-row report per batch
    (bytes/batch, unbounded only in time — it IS a metrics log); the
    audit holds only the 12-row log on the driver. Drops, log, and
    checkpoint live in scratch; the per-batch fold is one map-side
    aggregate over the microbatch (q127's shape).

    Reference parity: sms-db.pl:333-339's import-stats report, run
    per-batch forever instead of once per import.
    """
    from ..streaming.quality import (
        append_metrics,
        read_metrics,
        stream_quality_monitor,
    )

    session = clone_tuned_session(spark)
    session.conf.set("spark.sql.shuffle.partitions", "8")
    spark = session
    # pinned once: the span probe, three drop writes, and the replay
    # re-append all consume this projection (r18 — one scan, not five)
    events = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .localCheckpoint(eager=True)
    )
    span = int(events.agg(F.max("event_id")).first()[0]) + 1

    with _scratch_dir(spark, "sms_db_spark_quality_monitor_audit_") as root:
        drop, log, ckpt = f"{root}/drop", f"{root}/log", f"{root}/ckpt"
        slices = []
        for k in range(_Q159_DROPS):
            lo, hi = k * span // _Q159_DROPS, (k + 1) * span // _Q159_DROPS
            s = events.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi))
            if k == 1:
                s = s.withColumn(
                    "event_type",
                    F.when(
                        F.col("event_id") % _Q159_POISON_MOD == 0,
                        F.lit(_Q159_BOGUS),
                    ).otherwise(F.col("event_type")),
                )
            slices.append(s)
            s.coalesce(1).write.mode("append").parquet(drop)
            _drain(stream_quality_monitor(spark, drop, log, ckpt), "quality")

        def log_cells() -> dict:
            return {
                (r.batch_id, r.check_name): (r.violations, r.total, r.passed)
                for r in read_metrics(spark, log).collect()  # 12 rows
            }

        logged = log_cells()
        # at-least-once redelivery of the LAST batch: the batch_id-keyed
        # append must overwrite its own partition, never double-log
        append_metrics(slices[-1], _Q159_DROPS - 1, log)
        replay_ok = int(log_cells() == logged)
        out = [
            (int(b), c, int(v), int(t), int(p), replay_ok)
            for (b, c), (v, t, p) in sorted(logged.items())
        ]
    return spark.createDataFrame(
        out,
        "batch_id int, check_name string, violations bigint, total bigint,"
        " passed int, replay_ok int",
    ).orderBy("batch_id", "check_name")


def _q159_sql() -> str:
    """Per-(batch, constraint) metrics recomputed in DuckDB: the same
    four constraint folds as quality.audit_batch over the same
    event_id-range slices, with drop 1's event_type poisoned by the
    same modulus rewrite the Spark side stages."""
    from ..streaming.quality import ACCEPTED_EVENT_TYPES, VALUE_CAP

    accepted = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in ACCEPTED_EVENT_TYPES
    )
    blocks = []
    for k in range(_Q159_DROPS):
        lo = f"(SELECT (MAX(event_id) + 1) * {k} // {_Q159_DROPS} FROM events)"
        hi = f"(SELECT (MAX(event_id) + 1) * {k + 1} // {_Q159_DROPS} FROM events)"
        et = (
            f"CASE WHEN event_id % {_Q159_POISON_MOD} = 0"
            f" THEN '{_Q159_BOGUS}' ELSE event_type END"
            if k == 1
            else "event_type"
        )
        blocks.append(
            f"""
  SELECT {k} AS batch_id, c.check_name,
         CASE c.check_name
           WHEN 'accepted_values_event_type' THEN v_accepted
           WHEN 'completeness_user_id' THEN v_completeness
           WHEN 'range_value' THEN v_range
           ELSE v_unique
         END AS violations,
         total,
         CASE WHEN (CASE c.check_name
                      WHEN 'accepted_values_event_type' THEN v_accepted
                      WHEN 'completeness_user_id' THEN v_completeness
                      WHEN 'range_value' THEN v_range
                      ELSE v_unique
                    END) = 0 THEN 1 ELSE 0 END AS passed,
         1 AS replay_ok
  FROM (
    SELECT COUNT(*) AS total,
           CAST(COUNT(*) - COUNT(user_id) AS BIGINT) AS v_completeness,
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS v_unique,
           CAST(COALESCE(SUM(CASE WHEN {et} IS NULL
                                    OR {et} NOT IN ({accepted})
                                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_accepted,
           CAST(COALESCE(SUM(CASE WHEN value IS NULL OR value <= 0
                                    OR value > {VALUE_CAP}
                                  THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_range
    FROM events WHERE event_id >= {lo} AND event_id < {hi}
  ), (VALUES ('accepted_values_event_type'), ('completeness_user_id'),
             ('range_value'), ('unique_event_id')) AS c(check_name)"""
        )
    return " UNION ALL ".join(blocks) + " ORDER BY batch_id, check_name"


# q160 staging: the clean corpus sliced by event_id % 3; slice 1 is
# poisoned by pushing every value past VALUE_CAP, so the gate must
# quarantine exactly it and the final state is a pure function of
# slices 0 and 2.
_Q160_SLICES = 3
_Q160_POISON_BUMP = 2000.0


def q160_day2_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed day-2 pipeline under the hash gate (VERDICT r11
    item 4: every stage is individually gated — q146 the gated upsert,
    q151 compaction+Z-order, q134 shards — but the CHAIN a real
    operator runs nightly had only a pytest composition): quality gate
    → gated CDC upsert (slice 1 quarantined) → fragmented landing →
    compaction → Z-order clustering → training-shard materialization +
    manifest verify, with the row count AND an order-insensitive
    content checksum measured at EVERY stage read-back. The oracle
    recomputes the upsert state once from the raw events table (q126's
    last-write-wins fold over the two clean slices) and demands the
    SAME (n, checksum) at all four conservation stages — any stage
    that loses, duplicates, or mutates a row de-syncs its hash.

    One result row per stage:
      - gate: the 12-row metrics log itself, hashed; ok pins the
        verdict protocol (quarantine verdict named range_value, clean
        batches applied, the quarantined batch's report logged).
      - upsert: serving-view read-back; ok = store non-empty.
      - compact: post-compaction read-back; ok = the compactor ran
        AND the 16-fragment landing shrank below 16 files.
      - zorder: post-clustering read-back; ok = per-file Z-VALUE
        ranges are pairwise disjoint within the file budget (the
        clustering claim on the curve the writer actually ranges on,
        measured over <= 4 file-range rows).
      - shards: shard-store read-back minus the _shard column; ok =
        manifest total_rows matches AND verify_shards passes.

    Scale note: every stage is the production shape — the gate is one
    map-side fold per batch, the upsert shuffles only user_id keys,
    compaction/Z-order rewrite data files without a driver round-trip,
    and the shard writer hashes on the shard key. The driver holds
    five summary rows plus a <= 4-row file-range frame.
    """
    from ..sinks.clustered import read_zordered_cells, write_zordered_cells
    from ..sinks.compaction import compact, fragmentation_report
    from ..sinks.shards import verify_shards, write_training_shards
    from ..streaming.quality import quality_gated_upsert_batch, read_metrics
    from ..streaming.upsert import read_upsert_store

    session = clone_tuned_session(spark)
    session.conf.set("spark.sql.shuffle.partitions", "8")
    spark = session
    # pinned once: three epoch batches + the poisoned count all slice
    # this frame (q149's discipline — one scan + dedup-window shuffle)
    clean = _clean_events(load_table(spark, sf_dir, "events")).localCheckpoint(
        eager=True
    )

    def part(k: int) -> DataFrame:
        s = clean.filter(F.col("event_id") % _Q160_SLICES == k)
        if k == 1:  # every value pushed past VALUE_CAP -> quarantined
            s = s.withColumn("value", F.col("value") + F.lit(_Q160_POISON_BUMP))
        return s

    # (user_id, exact cents, n_changes, epoch ms): the state row's
    # engine-stable content string — cents via a per-row DECIMAL(18,2)
    # cast (the q146/q156 precedent: exact and identical across
    # engines on this corpus), never a raw double in the hash
    state_parts = [
        F.col("user_id").cast("string"),
        (F.col("current_value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .cast("string"),
        F.col("n_changes").cast("string"),
        F.coalesce(F.unix_millis("updated_at").cast("string"), F.lit("\x01")),
    ]
    rows: list[tuple[str, int, int, int]] = []
    with _scratch_dir(spark, "sms_db_spark_day2_chain_audit_") as root:
        log_dir, store_dir = f"{root}/log", f"{root}/store"
        verdicts = [
            quality_gated_upsert_batch(part(k), k, log_dir, store_dir)
            for k in range(_Q160_SLICES)
        ]
        # Stage-boundary concurrency (guide §2.6; VERDICT r17 item 4):
        # once the gated batches have settled, the log read-back, the
        # poisoned count, the gate checksum, and the serving-view pin
        # are four independent read-only jobs — run them concurrently.
        # Each later batch below likewise overlaps a stage's
        # conservation read-back with the NEXT stage's write: both only
        # READ the finished stage's (static) output, so no read races a
        # rewrite — the in-place rewrite (compact) stays serial.
        gate_parts = [
            F.col("batch_id").cast("string"),
            F.col("check_name"),
            F.col("violations").cast("string"),
            F.col("total").cast("string"),
            F.col("passed").cast("string"),
        ]
        log_rows, n_poisoned, (gn, gchk), snapshot = concurrent(
            lambda: read_metrics(spark, log_dir).collect(),  # 12 rows
            lambda: part(1).count(),
            lambda: _lane_checksum(read_metrics(spark, log_dir), gate_parts),
            lambda: read_upsert_store(spark, store_dir).localCheckpoint(
                eager=True
            ),
        )
        log = {
            (r.batch_id, r.check_name): (r.violations, r.total, r.passed)
            for r in log_rows
        }
        gate_ok = int(
            [v["applied"] for v in verdicts] == [True, False, True]
            and verdicts[1]
            == {
                "applied": False,
                "failed_checks": ["range_value"],
                "total": n_poisoned,
            }
            and {b for b, _ in log} == set(range(_Q160_SLICES))
            and log[(1, "range_value")] == (n_poisoned, n_poisoned, 0)
            and all(
                v == 0 and p == 1
                for (b, c), (v, _t, p) in log.items()
                if not (b == 1 and c == "range_value")
            )
        )
        rows.append(("gate", gn, gchk, gate_ok))

        # upsert checksum reads the PINNED snapshot; the fragmented
        # landing write reads the same pin — independent, concurrent
        frag = f"{root}/landing"
        (n, chk), _ = concurrent(
            lambda: _lane_checksum(snapshot, state_parts),
            lambda: snapshot.repartition(16).write.parquet(frag),
        )
        rows.append(("upsert", n, chk, int(n > 0)))

        # compact rewrites the landing IN PLACE — serial by necessity
        report = compact(spark, frag, target_bytes=1 << 30)
        # post-compact the landing is static: its conservation checksum,
        # the fragmentation probe, and the NEXT stage's z-order write
        # (which only READS the landing) run concurrently
        zdir = f"{root}/zorder"
        (n, chk), frag_files, _ = concurrent(
            lambda: _lane_checksum(spark.read.parquet(frag), state_parts),
            lambda: fragmentation_report(spark, frag, 1 << 30)["n_files"],
            lambda: write_zordered_cells(
                spark.read.parquet(frag), zdir, "user_id", "n_changes", n_files=4
            ),
        )
        compact_ok = int(report["compacted"] is True and frag_files < 16)
        rows.append(("compact", n, chk, compact_ok))

        zed = read_zordered_cells(spark, zdir)
        # the clustering claim, measured on the CURVE the writer cells
        # on: per-file Z-VALUE intervals are pairwise disjoint (a
        # single axis is NOT — z-order trades strict one-axis ranges
        # for bounded rectangles on both). The z-value is recomputed
        # from the read-back with the writer's own _zframe over
        # identical data, so the bounds agree by construction.
        from ..sinks.clustered import _zframe

        # three independent consumers of the (static) z-ordered store:
        # span probe, conservation checksum, and the shard stage's write
        sdir = f"{root}/shards"
        spans, (n, chk), manifest = concurrent(
            lambda: (
                _zframe(
                    zed.select(
                        F.input_file_name().alias("f"), "user_id", "n_changes"
                    ),
                    "user_id",
                    "n_changes",
                )
                .groupBy("f")
                .agg(F.min("_z").alias("lo"), F.max("_z").alias("hi"))
                .collect()  # <= 4 rows: one per clustered file
            ),
            lambda: _lane_checksum(zed, state_parts),
            lambda: write_training_shards(zed, sdir, N_AUDIT_SHARDS, key="user_id"),
        )
        ivs = sorted((r.lo, r.hi) for r in spans)
        # <= not < even under the cell writer: distinct z-values in
        # ADJACENT cells can share a boundary only if a z-value leaked
        # across cells, which files==cells forbids — but equal (lo, hi)
        # endpoints BETWEEN files cannot occur at all here, so the <=
        # form stays correct and keeps the check writer-agnostic
        # (ADVICE r12 #2 documented why equi-depth needed <=).
        z_ok = int(
            len(ivs) <= 4
            and all(ivs[i][1] <= ivs[i + 1][0] for i in range(len(ivs) - 1))
        )
        rows.append(("zorder", n, chk, z_ok))

        back = spark.read.parquet(sdir).drop("_shard")
        # conservation checksum and the manifest verify both read the
        # finished shard store — concurrent
        (n, chk), verify = concurrent(
            lambda: _lane_checksum(back, state_parts),
            lambda: verify_shards(spark, sdir),
        )
        shard_ok = int(manifest["total_rows"] == n and bool(verify["ok"]))
        rows.append(("shards", n, chk, shard_ok))

    return spark.createDataFrame(
        sorted(rows),
        "stage string, n_rows bigint, checksum_mod bigint, ok int",
    ).orderBy("stage")


def _q160_sql() -> str:
    """The chain's end state recomputed ONCE from the raw corpus
    (q126's last-write-wins fold over the clean slices 0 and 2 —
    _gated_upsert_sql's CTE shape), demanded at all four conservation
    stages; the gate row rebuilt from slice counts (clean slices
    violate nothing BY CONSTRUCTION of _clean_events; the poisoned
    slice fails range_value on every row)."""
    from ..streaming.quality import ACCEPTED_EVENT_TYPES, VALUE_CAP

    accepted = ", ".join(
        "'" + t.replace("'", "''") + "'" for t in ACCEPTED_EVENT_TYPES
    )
    state_row = (
        "CAST(user_id AS VARCHAR) || ':' || CAST(cents AS VARCHAR)"
        " || ':' || CAST(n_changes AS VARCHAR)"
        " || ':' || COALESCE(CAST(ms AS VARCHAR), chr(1))"
    )
    gate_row = (
        "CAST(batch_id AS VARCHAR) || ':' || check_name"
        " || ':' || CAST(violations AS VARCHAR)"
        " || ':' || CAST(total AS VARCHAR) || ':' || CAST(passed AS VARCHAR)"
    )
    return f"""
WITH clean AS (
  SELECT * FROM events
  WHERE value > 0 AND value <= {VALUE_CAP} AND user_id IS NOT NULL
    AND event_type IN ({accepted})
  QUALIFY COUNT(*) OVER (PARTITION BY event_id) = 1
), ch AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op
  FROM clean WHERE event_id % {_Q160_SLICES} <> 1
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_changes
  FROM ch
), state AS (
  SELECT user_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         n_changes,
         epoch_ms(CAST(ts AS TIMESTAMP)) AS ms
  FROM ranked WHERE rn = 1 AND op = 'upsert'
), state_agg AS (
  SELECT COUNT(*) AS n,
         CAST(COALESCE(SUM({_h60_sql(state_row)}), 0) % {_CHECKSUM_MOD} AS BIGINT)
           AS chk
  FROM state
), counts AS (
  SELECT ks.k, COALESCE(c.n, 0) AS n
  FROM (VALUES (0), (1), (2)) ks(k)
  LEFT JOIN (
    SELECT event_id % {_Q160_SLICES} AS k, COUNT(*) AS n FROM clean GROUP BY 1
  ) c USING (k)
), gate_cells AS (
  SELECT k AS batch_id, c.check_name,
         CASE WHEN k = 1 AND c.check_name = 'range_value' THEN n
              ELSE 0 END AS violations,
         n AS total,
         CASE WHEN k = 1 AND c.check_name = 'range_value' AND n > 0 THEN 0
              ELSE 1 END AS passed
  FROM counts, (VALUES ('accepted_values_event_type'), ('completeness_user_id'),
                       ('range_value'), ('unique_event_id')) AS c(check_name)
)
SELECT 'gate' AS stage, COUNT(*) AS n_rows,
       CAST(COALESCE(SUM({_h60_sql(gate_row)}), 0) % {_CHECKSUM_MOD} AS BIGINT)
         AS checksum_mod,
       1 AS ok
FROM gate_cells
UNION ALL
SELECT s.stage, a.n AS n_rows, a.chk AS checksum_mod, 1 AS ok
FROM state_agg a, (VALUES ('compact'), ('shards'), ('upsert'), ('zorder')) AS s(stage)
ORDER BY stage
"""


# ------------------------------------------------------------------ q163
# S5 under the driver gate: the last pytest-only write surface. The
# reference's store IS a sqlite file its users query with the sqlite3
# CLI (README.md:103-105; schema sms-db.pl:47-58, PRAGMA user_version=2
# at :50); q163 proves the whole write+readback protocol end-to-end the
# way q134 does for shards.

_STORE_SENTINEL = 1_500_000_000_000  # epoch-millis base, README.md:117


def _store_frames_from_docs(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Deterministic canonical store derived from the documents corpus —
    every field a pure function of (doc_id, source, text) so the DuckDB
    oracle can recompute the audit from the raw table. The derivation
    deliberately exercises the round-trip hazards: NULL columns
    (recipient_name on doc_id%3==0 — sqlite NULL vs empty string), the
    parts.data polymorphism (every message carries a text/plain part;
    doc_id%5==0 additionally a binary attachment, sms-db.pl:54-55 /
    P8's two-lane model), and the hash INT UNIQUE column's text
    affinity (64-hex sha256, unique via the doc_id prefix)."""
    text_c = F.coalesce(F.col("text"), F.lit(""))
    messages = docs.select(
        (F.col("doc_id") + 1).alias("_id"),
        (F.lit(_STORE_SENTINEL) + F.col("doc_id") * 1000).cast("long").alias("timestamp"),
        F.concat(F.lit("+1"), F.lpad((F.col("doc_id") % 1000).cast("string"), 4, "0")).alias("sender_address"),
        F.col("source").alias("sender_name"),
        F.lit("+15550001111").alias("recipient_address"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("contact-"), (F.col("doc_id") % 7).cast("string")))
        .alias("recipient_name"),
        ((F.col("doc_id") % 2) + 1).cast("int").alias("msg_box"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(2)).otherwise(F.lit(1)).cast("int").alias("message_type"),
        (F.col("doc_id") % 3).cast("int").alias("source_format"),
        F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit(":"), text_c), 256).alias("hash"),
    )
    text_parts = docs.select(
        (F.col("doc_id") * 2 + 1).alias("_id"),
        (F.col("doc_id") + 1).alias("message_id"),
        F.lit(None).cast("binary").alias("data"),
        text_c.alias("text"),
        F.lit("text/plain").alias("content_type"),
        F.lit(None).cast("string").alias("filename"),
    )
    bin_parts = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") * 2 + 2).alias("_id"),
        (F.col("doc_id") + 1).alias("message_id"),
        F.encode(text_c, "UTF-8").alias("data"),
        F.lit(None).cast("string").alias("text"),
        F.lit("application/octet-stream").alias("content_type"),
        F.concat(F.lit("att_"), F.col("doc_id").cast("string"), F.lit(".bin")).alias("filename"),
    )
    return messages, text_parts.unionByName(bin_parts)


def q163_sqlite_store_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 end-to-end: derive a canonical store from the corpus, write it
    through the real sink (sinks/sqlite_sink.write_store_sqlite — the
    single-writer sqlite path, S5's documented deviation), read it back
    with read_store_sqlite, and hash-gate per-msg_box counts/checksums
    recomputed FROM THE READ-BACK frames against the oracle's recompute
    from the raw documents table. A value-hash match proves the DDL,
    the insert lanes, the parts.data polymorphism, NULL round-trips,
    and the two-lane read inversion all agree end-to-end.

    Pinned in-result rather than asserted: `user_version` is the
    PRAGMA readout of the written file (the oracle demands 2,
    sms-db.pl:50) and `cli_ok` is a querying.md-shaped join run
    through the sqlite3 engine itself — the store must stay
    CLI-queryable, the reference's headline contract (README.md:105) —
    compared against the read-back frames' own join count.

    Scale note: the upstream frame derivation is distributed; the file
    write is the documented inherently-serial lane (one single-writer
    db file). The audit output is 2 bounded rows."""
    import sqlite3

    from ..sinks.sqlite_sink import read_store_sqlite, write_store_sqlite

    docs = load_table(spark, sf_dir, "documents")
    messages, parts = _store_frames_from_docs(docs)
    tmp = tempfile.mkdtemp(prefix="sms_db_spark_sqlite_audit_")
    try:
        db = f"{tmp}/store.db"
        write_store_sqlite(messages, parts, db)
        r_msgs, r_parts = read_store_sqlite(spark, db)
        con = sqlite3.connect(db)
        try:
            user_version = con.execute("PRAGMA user_version").fetchone()[0]
            # the reference's documented query shape (querying.md:35-39)
            cli_joined = con.execute(
                "SELECT count(*) FROM messages"
                " JOIN parts ON parts.message_id = messages._id"
            ).fetchone()[0]
        finally:
            con.close()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # the CLI-parity count rides the final detach job as a crossJoined
    # aggregate (r18 — it was its own count() driver round-trip)
    frame_joined_agg = (
        r_msgs.join(r_parts, r_msgs["_id"] == r_parts["message_id"])
        .agg(F.count(F.lit(1)).alias("_frame_joined"))
    )
    from ..operators.sketches import _h60

    null0 = F.lit("\x00")
    msg_h = _h60(
        F.concat_ws(
            "\x01",
            F.col("_id").cast("string"),
            F.col("timestamp").cast("string"),
            "sender_address",
            "sender_name",
            "recipient_address",
            F.coalesce(F.col("recipient_name"), null0),
            F.col("msg_box").cast("string"),
            F.col("message_type").cast("string"),
            F.col("source_format").cast("string"),
            "hash",
        )
    )
    part_h = _h60(
        F.concat_ws(
            "\x01",
            F.col("_id").cast("string"),
            F.col("message_id").cast("string"),
            F.coalesce(F.col("text"), null0),
            F.coalesce(F.md5(F.col("data")), null0),
            "content_type",
            F.coalesce(F.col("filename"), null0),
        )
    )
    msg_agg = (
        r_msgs.withColumn("mh", msg_h)
        .groupBy("msg_box")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            (F.sum(F.col("mh").cast("decimal(38,0)")) % _CHECKSUM_MOD)
            .cast("bigint")
            .alias("msg_checksum_mod"),
        )
    )
    part_agg = (
        r_parts.withColumn("ph", part_h)
        .join(
            r_msgs.select(F.col("_id").alias("message_id"), "msg_box"),
            "message_id",
        )
        .groupBy("msg_box")
        .agg(
            F.sum(F.when(F.col("text").isNotNull(), 1).otherwise(0)).alias("n_text_parts"),
            F.sum(F.when(F.col("data").isNotNull(), 1).otherwise(0)).alias("n_bin_parts"),
            (F.sum(F.col("ph").cast("decimal(38,0)")) % _CHECKSUM_MOD)
            .cast("bigint")
            .alias("part_checksum_mod"),
        )
    )
    return _detached(
        msg_agg.join(part_agg, "msg_box")
        .crossJoin(frame_joined_agg)
        .withColumn("user_version", F.lit(int(user_version)))
        .withColumn(
            "cli_ok",
            (F.col("_frame_joined") == F.lit(int(cli_joined))).cast("int"),
        )
        .drop("_frame_joined")
        .orderBy("msg_box")
    )


def _q163_oracle() -> str:
    """DuckDB recompute of q163's audit straight from documents: the
    same field derivations, the same _h60 row hashes over the SAME
    post-readback surfaces (text parts hash their text lane + a NULL
    data lane; binary parts the reverse, with md5 over the UTF-8 bytes
    — the corpus is ASCII, the q55 oracles' standing assumption).
    user_version/cli_ok are the law's constants (q135's `1 AS disk_ok`
    pattern): the Spark side reads them from the real file."""
    text_c = "coalesce(text, '')"
    msg_row = (
        "concat_ws(chr(1), CAST(doc_id + 1 AS VARCHAR), "
        f"CAST({_STORE_SENTINEL} + doc_id * 1000 AS VARCHAR), "
        "'+1' || lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0'), "
        "source, '+15550001111', "
        "CASE WHEN doc_id % 3 = 0 THEN chr(0) ELSE 'contact-' || CAST(doc_id % 7 AS VARCHAR) END, "
        "CAST(doc_id % 2 + 1 AS VARCHAR), "
        "CASE WHEN doc_id % 5 = 0 THEN '2' ELSE '1' END, "
        "CAST(doc_id % 3 AS VARCHAR), "
        f"sha256(CAST(doc_id AS VARCHAR) || ':' || {text_c}))"
    )
    text_part_row = (
        "concat_ws(chr(1), CAST(doc_id * 2 + 1 AS VARCHAR), "
        f"CAST(doc_id + 1 AS VARCHAR), {text_c}, chr(0), "
        "'text/plain', chr(0))"
    )
    bin_part_row = (
        "concat_ws(chr(1), CAST(doc_id * 2 + 2 AS VARCHAR), "
        f"CAST(doc_id + 1 AS VARCHAR), chr(0), md5({text_c}), "
        "'application/octet-stream', "
        "'att_' || CAST(doc_id AS VARCHAR) || '.bin')"
    )
    return f"""
WITH msgs AS (
  SELECT CAST(doc_id % 2 + 1 AS INT) AS msg_box,
         {_h60_sql(msg_row)} AS mh
  FROM documents
),
parts AS (
  SELECT CAST(doc_id % 2 + 1 AS INT) AS msg_box, 1 AS is_text, 0 AS is_bin,
         {_h60_sql(text_part_row)} AS ph
  FROM documents
  UNION ALL
  SELECT CAST(doc_id % 2 + 1 AS INT) AS msg_box, 0 AS is_text, 1 AS is_bin,
         {_h60_sql(bin_part_row)} AS ph
  FROM documents WHERE doc_id % 5 = 0
),
m AS (
  SELECT msg_box, COUNT(*) AS n_msgs,
         CAST(SUM(mh) % {_CHECKSUM_MOD} AS BIGINT) AS msg_checksum_mod
  FROM msgs GROUP BY msg_box
),
p AS (
  SELECT msg_box, CAST(SUM(is_text) AS BIGINT) AS n_text_parts,
         CAST(SUM(is_bin) AS BIGINT) AS n_bin_parts,
         CAST(SUM(ph) % {_CHECKSUM_MOD} AS BIGINT) AS part_checksum_mod
  FROM parts GROUP BY msg_box
)
SELECT m.msg_box, m.n_msgs, m.msg_checksum_mod,
       p.n_text_parts, p.n_bin_parts, p.part_checksum_mod,
       2 AS user_version, 1 AS cli_ok
FROM m JOIN p USING (msg_box)
ORDER BY msg_box
"""


Q163_SQL = _q163_oracle()


QUERIES = {
    "q134_shard_manifest_audit": QuerySpec(
        q134_shard_manifest_audit,
        Q134_SQL,
        "batch shard-writer manifest vs raw-corpus recompute (oracle-hashed)",
    ),
    "q135_stream_shard_manifest_audit": QuerySpec(
        q135_stream_shard_manifest_audit,
        Q135_SQL,
        "streaming additive-manifest law vs batch writer and raw corpus",
    ),
    "q139_fold_audit": QuerySpec(
        q139_fold_audit,
        Q139_SQL,
        "cold-batch fold exactness: folded layout == raw-corpus recompute",
    ),
    "q142_versioned_store_audit": QuerySpec(
        q142_versioned_store_audit,
        _q142_sql(),
        "versioned store: commit x2, flip, rollback, read-back, diff",
    ),
    "q143_metricslog_readback": QuerySpec(
        q143_metricslog_readback,
        Q143_SQL,
        "metrics-log protocol round-trip: reset purge + read-back",
    ),
    "q145_versioned_merge_audit": QuerySpec(
        q145_versioned_merge_audit,
        _q145_sql(),
        "zero-window MERGE INTO: commit, keyed merge, read-back, stats",
    ),
    "q146_gated_upsert_audit": QuerySpec(
        q146_gated_upsert_audit,
        _gated_upsert_sql("event_id % 4 = 3"),
        "quality-gated upsert: quarantine + reset hygiene, store read-back",
    ),
    "q148_sharded_export_audit": QuerySpec(
        q148_sharded_export_audit,
        _q148_sql(),
        "distributed XML export: fragment serializer + re-import hash",
    ),
    "q149_stream_gated_upsert_audit": QuerySpec(
        q149_stream_gated_upsert_audit,
        _gated_upsert_sql("event_id % 4 <> 2"),
        "stream-triggered gated upsert: mid-stream quarantine, read-back",
    ),
    "q150_cow_merge_audit": QuerySpec(
        q150_cow_merge_audit,
        _Q150_SQL,
        "copy-on-write MERGE: footer-range pruning, table == full merge",
    ),
    "q151_layout_audit": QuerySpec(
        q151_layout_audit,
        _Q151_SQL,
        "compaction + Z-order: rows preserved, both-axis footer pruning",
    ),
    "q152_stream_neardup_audit": QuerySpec(
        q152_stream_neardup_audit,
        _q152_sql(),
        "streaming near-dup: watermarked band self-join == batch recompute",
    ),
    "q153_band_store_audit": QuerySpec(
        q153_band_store_audit,
        _q153_sql(),
        "band store: delta pairing == batch union pairs, append fold exact",
    ),
    "q154_bucketed_join_audit": QuerySpec(
        q154_bucketed_join_audit,
        _Q154_SQL,
        "bucketed store: zero-exchange co-located join, content-hashed",
    ),
    "q155_partitioned_prune_audit": QuerySpec(
        q155_partitioned_prune_audit,
        _Q155_SQL,
        "day-partitioned store: pruned slice + one-day backfill, hashed",
    ),
    "q156_streaming_parity_audit": QuerySpec(
        q156_streaming_parity_audit,
        _q156_sql(),
        "document streaming lanes == their batch twins, one hashed row each",
    ),
    "q169_streaming_events_parity_audit": QuerySpec(
        q169_streaming_events_parity_audit,
        _q169_sql(),
        "events streaming lanes (windows, sessions) == their batch twins",
    ),
    "q170_cascade_delete_audit": QuerySpec(
        q170_cascade_delete_audit,
        _q170_sql(),
        "ON DELETE CASCADE on the versioned store: no orphan parts, hashed",
    ),
    "q175_cow_cascade_delete_audit": QuerySpec(
        q175_cow_cascade_delete_audit,
        _q175_sql(),
        "file-pruned CoW cascade delete: half the files untouched, hashed",
    ),
    "q157_bucketed_antijoin_dedup_audit": QuerySpec(
        q157_bucketed_antijoin_dedup_audit,
        _q157_sql(),
        "store-side exchange-free anti-join dedup against a bucketed store",
    ),
    "q158_stream_join_ingest_audit": QuerySpec(
        q158_stream_join_ingest_audit,
        _q158_sql(),
        "stream-stream attribution join == batch range-join twin",
    ),
    "q178_stream_ingest_audit": QuerySpec(
        q178_stream_ingest_audit,
        _q178_sql(),
        "idempotent redundant-delivery ingest == batch dedup twin",
    ),
    "q159_stream_quality_monitor_audit": QuerySpec(
        q159_stream_quality_monitor_audit,
        _q159_sql(),
        "streaming quality monitor: per-batch log == raw-slice recompute",
    ),
    "q160_day2_chain_audit": QuerySpec(
        q160_day2_chain_audit,
        _q160_sql(),
        "composed day-2 chain: gate→upsert→compact→zorder→shards conserved",
    ),
    "q163_sqlite_store_audit": QuerySpec(
        q163_sqlite_store_audit,
        Q163_SQL,
        "S5 sqlite store write+readback round-trip == raw recompute",
    ),
}
