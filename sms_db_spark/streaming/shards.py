"""Streaming training-shard materialization: the batch shard writer
(sinks/shards.py) run continuously — each microbatch lands its rows in
the same hash-derived shard layout, and the integrity manifest is
maintained incrementally because BOTH of its measures are additive
(counts sum; the content checksum is a sum of row hashes), so
per-batch stats merge to exactly the one-shot batch writer's manifest.
That additive-merge law is the same contract as the register sketches
and the CDC upsert state, applied to the trainer handoff — and it is
pinned by test: stream N drops, the merged manifest equals
write_training_shards' manifest on the same corpus. The layout, hash,
and checksum definitions are IMPORTED from sinks/shards.py (one
implementation), so the law cannot drift apart silently.

Layout: `_shard=K/_batch=B` (two partition levels). The shard level is
what the trainer consumes; the batch level is the exactly-once unit:

  - a REPLAYED or re-numbered microbatch first removes EVERY
    `_batch=B` directory for its own id and every id above it (same-id
    stale data from a pre-reset epoch can hide in shards the new
    batch's rows don't reach — dynamic overwrite alone would miss
    them), then appends its partitions fresh and replaces its manifest
    entry: at-least-once delivery cannot double-land rows or
    double-count stats, and two numbering epochs never mix;
  - the cleanup walk is manifest-gated: in steady state (no recorded
    batch id >= the current one) no tree listing happens at all — the
    O(shards x batches) walk runs only in the replay/reset case that
    created the stale dirs.

Manifest IO is Hadoop-FS + atomic rename (fsutil.read_text /
write_text_atomic): works on HDFS/S3A and a crash can never leave a
truncated manifest for the replay to trip over.

Maintenance note: the generic compactor is NOT aware of this two-level
layout and must not run on it. Cold shards are folded offline by
rewriting one `_shard=K` subtree into a single batch directory and
collapsing that shard's per-batch manifest entries into one — the
stats are additive, so the collapse is exact."""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..session import concurrent
from ..sinks.shards import check_shard_input, row_hash_col, shard_transform
from .windows import EVENT_SCHEMA  # noqa: F401 (one wire schema, see windows.py)

STREAM_MANIFEST = "_stream_manifest.json"


def _load_manifest(spark: SparkSession, shard_dir: str) -> dict:
    text = fsutil.read_text(spark, os.path.join(shard_dir, STREAM_MANIFEST))
    return json.loads(text) if text else {"batches": {}}


def _purge_for_batch(sess: SparkSession, shard_dir: str, batch_id: int, manifest: dict) -> None:
    """The landing hygiene shared by apply_shard_batch and
    skip_shard_batch: clear this id's own directories and — when the
    manifest proves a checkpoint reset — every higher-numbered (dead
    epoch) directory and staged fold. Manifest entries are NOT touched
    here (the caller trims and writes them; the order data-then-manifest
    keeps a crash conservative: leftover dirs re-purge next time)."""
    jvm, fs = fsutil.hadoop_fs(sess, shard_dir)
    base = jvm.org.apache.hadoop.fs.Path(shard_dir)
    if not fs.exists(base):
        return
    # Own-batch landing MUST be idempotent regardless of manifest state:
    # a crash between the data append and the manifest write leaves
    # `_batch=<batch_id>` data with NO manifest entry, so a manifest-gated
    # purge would skip it and the replay would append the same rows twice
    # (permanent checksum failure). Always clear this id's dirs first —
    # one glob over `_shard=*/_batch=<batch_id>`, O(n_shards), cheap.
    own = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(os.path.join(shard_dir, "_shard=*", f"_batch={batch_id}"))
    )
    for st in own or []:
        fsutil.delete(sess, st.getPath().toString())
    if not any(int(b) > batch_id for b in manifest["batches"]):
        return
    # checkpoint reset: batch numbering restarted, so directories from
    # ids ABOVE the current one are a dead epoch — purge them all.
    # This walk stays manifest-gated (steady state never pays it);
    # dirs a crash orphaned above batch_id without a manifest entry
    # are unreachable to the restarted numbering only until it
    # re-reaches that id, at which point the own-id glob above
    # clears them.
    for sh in fs.listStatus(base):
        name = sh.getPath().getName()
        if sh.isDirectory() and name.startswith(".fold_"):
            # a staged-but-uncommitted fold holds PRE-RESET rows;
            # letting recover_interrupted_fold replay it after
            # the reset would resurrect the dead epoch
            fsutil.delete(sess, sh.getPath().toString())
        elif sh.isDirectory() and name.startswith("_shard="):
            for bt in fs.listStatus(sh.getPath()):
                name = bt.getPath().getName()
                if name.startswith("_batch=") and int(name.split("=", 1)[1]) > batch_id:
                    fsutil.delete(sess, bt.getPath().toString())


def skip_shard_batch(sess: SparkSession, shard_dir: str, batch_id: int) -> None:
    """The no-data half of a landing, for callers that DECIDE not to
    land a batch (the drift gate's quarantine, an empty window): run
    exactly the hygiene apply_shard_batch would run — own-id purge,
    dead-epoch purge after a checkpoint reset, manifest trim to ids
    below this one — without appending any rows. Without this, a
    skipped first batch of a new numbering epoch would leave the dead
    epoch's same/lower-numbered directories AND manifest entries in
    place for later clean batches to splice against (they only purge
    ids >= their own): the epoch-splice corruption the metrics-log
    protocol guards against, on the shard side. A fresh store is left
    untouched (no dirs, no manifest created)."""
    manifest = _load_manifest(sess, shard_dir)
    jvm, fs = fsutil.hadoop_fs(sess, shard_dir)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(shard_dir)):
        return
    _purge_for_batch(sess, shard_dir, batch_id, manifest)
    trimmed = {b: v for b, v in manifest["batches"].items() if int(b) < batch_id}
    if trimmed != manifest["batches"]:
        manifest["batches"] = trimmed
        fsutil.write_text_atomic(
            sess,
            os.path.join(shard_dir, STREAM_MANIFEST),
            json.dumps(manifest, sort_keys=True, indent=1),
        )


def apply_shard_batch(
    batch: DataFrame, batch_id: int, shard_dir: str, n_shards: int, key: str
) -> None:
    """Land one microbatch into the shard layout, idempotently."""
    sess = batch.sparkSession
    check_shard_input(batch, key)
    manifest = _load_manifest(sess, shard_dir)
    _purge_for_batch(sess, shard_dir, batch_id, manifest)
    sharded = (
        shard_transform(batch, n_shards, key)
        .withColumn("_batch", F.lit(batch_id))
        .localCheckpoint(eager=True)  # stats and write read the same rows
    )
    stats = (
        sharded.withColumn("_rh", row_hash_col(sharded.columns))
        .groupBy("_shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_rh").cast("decimal(38,0)")).alias("checksum"),
        )
        .collect()
    )
    (
        sharded.write.mode("append")  # its own _batch dirs were purged above
        .partitionBy("_shard", "_batch")
        .parquet(shard_dir)
    )
    manifest["n_shards"] = n_shards
    manifest["key"] = key
    manifest["batches"] = {
        b: v for b, v in manifest["batches"].items() if int(b) < batch_id
    }
    manifest["batches"][str(batch_id)] = {
        str(int(r._shard)): {"n_rows": int(r.n_rows), "checksum": int(r.checksum)}
        for r in stats
    }
    fsutil.write_text_atomic(
        sess,
        os.path.join(shard_dir, STREAM_MANIFEST),
        json.dumps(manifest, sort_keys=True, indent=1),
    )


def _fold_dirname(shard_id: int, target: int) -> str:
    return f".fold_{shard_id}_{target}"


_FOLD_META = "_fold_meta.json"


def _finalize_fold(spark: SparkSession, shard_dir: str, live_dir: str, meta: dict) -> None:
    """Post-rename half of the fold commit (idempotent, marker-driven):
    collapse the cold manifest entries into the target's, then drop the
    marker. A replay that finds nothing left to collapse just clears
    the marker."""
    sid, tgt, cold = int(meta["shard"]), int(meta["target"]), meta["cold"]
    manifest = _load_manifest(spark, shard_dir)
    acc = {"n_rows": 0, "checksum": 0}
    for b in cold:
        entry = manifest["batches"].get(str(b), {})
        s = entry.pop(str(sid), None)
        if s is not None:
            acc["n_rows"] += s["n_rows"]
            acc["checksum"] += s["checksum"]
        if not entry:
            manifest["batches"].pop(str(b), None)
    if acc["n_rows"]:
        # additive collapse: merged_manifest and verify see the same
        # sums. tgt itself is cold[0], so its pre-fold entry was popped
        # into acc above — a replay after a crashed marker-delete pops
        # the already-merged entry and writes the same value back.
        manifest["batches"].setdefault(str(tgt), {})[str(sid)] = acc
        fsutil.write_text_atomic(
            spark,
            os.path.join(shard_dir, STREAM_MANIFEST),
            json.dumps(manifest, sort_keys=True, indent=1),
        )
    fsutil.delete(spark, os.path.join(live_dir, _FOLD_META))


def _commit_fold(spark: SparkSession, shard_dir: str, staged: str) -> dict | None:
    """Commit sequence of the fold protocol (shared by the happy path
    and crash recovery — both replay the same idempotent steps from the
    marker, which RIDES THROUGH the rename so no step is unrecoverable):
    delete the folded cold dirs, rename the staged dir into place, then
    finalize (manifest collapse + marker drop). Returns the fold meta,
    or None if the staged dir has no marker (not a fold dir)."""
    meta_text = fsutil.read_text(spark, os.path.join(staged, _FOLD_META))
    if meta_text is None:
        return None
    meta = json.loads(meta_text)
    sid, tgt = int(meta["shard"]), int(meta["target"])
    shard_path = os.path.join(shard_dir, f"_shard={sid}")
    # a failed delete raises before the rename: a leftover cold dir would count twice
    for b in meta["cold"]:  # idempotent: already-deleted dirs are skipped
        fsutil.delete(spark, os.path.join(shard_path, f"_batch={b}"))
    dst = os.path.join(shard_path, f"_batch={tgt}")
    fsutil.rename(spark, staged, dst)
    _finalize_fold(spark, shard_dir, dst, meta)
    return meta


def recover_interrupted_fold(
    spark: SparkSession, shard_dir: str, shard_id: int | None = None
) -> list[dict]:
    """Finish any fold whose process died mid-commit. Two pending shapes,
    both marker-driven and idempotent: a staged `.fold_*` dir (died
    before the rename — the staged data is complete, so replay the whole
    commit) and a live `_batch=B/_fold_meta.json` (died after the rename
    — replay only the manifest collapse). Safe to call unconditionally
    (no-op when nothing is pending).

    shard_id scopes recovery to ONE shard's pending folds — what
    fold_cold_batches passes so its entry-time recovery never commits a
    DIFFERENT shard's fold that is legitimately still in flight. The
    unscoped form is for maintenance-window startup, when no fold is
    running."""
    jvm, fs = fsutil.hadoop_fs(spark, shard_dir)
    base = jvm.org.apache.hadoop.fs.Path(shard_dir)
    prefix = ".fold_" if shard_id is None else f".fold_{int(shard_id)}_"
    out = []
    if not fs.exists(base):
        return out
    for st in fs.listStatus(base):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            meta = _commit_fold(spark, shard_dir, os.path.join(shard_dir, name))
            if meta is not None:
                out.append(meta)
    shard_glob = "_shard=*" if shard_id is None else f"_shard={int(shard_id)}"
    markers = fs.globStatus(
        jvm.org.apache.hadoop.fs.Path(
            os.path.join(shard_dir, shard_glob, "_batch=*", _FOLD_META)
        )
    )
    for st in markers or []:
        live_dir = st.getPath().getParent().toString()
        meta = json.loads(fsutil.read_text(spark, st.getPath().toString()))
        _finalize_fold(spark, shard_dir, live_dir, meta)
        out.append(meta)
    return out


def _stage_fold(
    spark: SparkSession,
    shard_dir: str,
    shard_id: int,
    manifest: dict,
    target_bytes: int | None,
) -> str | None:
    """The DATA half of a cold fold: rewrite one shard's cold `_batch=B`
    dirs into a staged `.fold_*` dir and write its commit marker —
    no deletes, no renames, no manifest writes. Touches only this
    shard's own staged dir, so stages of DIFFERENT shards are disjoint
    and safe to run concurrently (fold_cold_batches_all); the shared
    manifest is only READ here. Returns the staged path, or None when
    the shard has fewer than two cold batches (nothing to fold)."""
    bids = sorted(
        int(b) for b, e in manifest["batches"].items() if str(shard_id) in e
    )
    cold = bids[:-1]  # newest stays: it is the at-least-once replay unit
    if len(cold) < 2:
        return None
    tgt = cold[0]
    shard_path = os.path.join(shard_dir, f"_shard={shard_id}")
    cold_dirs = [os.path.join(shard_path, f"_batch={b}") for b in cold]
    staged = os.path.join(shard_dir, _fold_dirname(shard_id, tgt))
    fsutil.delete(spark, staged)  # stale attempt
    # the fold IS this layout's compaction, so it uses compaction's
    # sizing: ceil(cold_bytes / target) output files, measured from the
    # actual listing. A hardcoded coalesce(1) funneled a shard's whole
    # cold history through ONE task into one unbounded file — a
    # single-task bottleneck exactly at the scale this layout targets.
    from ..sinks.compaction import DEFAULT_TARGET_BYTES, _data_files

    target = DEFAULT_TARGET_BYTES if target_bytes is None else target_bytes
    cold_bytes = sum(b for d in cold_dirs for _, b in _data_files(spark, d))
    n_files = max(1, math.ceil(cold_bytes / target))
    (
        spark.read.parquet(*cold_dirs)
        .coalesce(n_files)  # merge-only: no shuffle, whole input files per task
        .write.mode("overwrite")
        .parquet(staged)
    )
    meta = {"shard": int(shard_id), "target": int(tgt), "cold": [int(b) for b in cold]}
    fsutil.write_text_atomic(spark, os.path.join(staged, _FOLD_META), json.dumps(meta))
    return staged


def fold_cold_batches_all(
    spark: SparkSession,
    shard_dir: str,
    shard_ids,
    target_bytes: int | None = None,
) -> list[dict]:
    """Fold every listed shard's cold batches: stage CONCURRENTLY,
    commit SERIALLY (guide §2.6; r18 — q139 ran eight whole folds
    back-to-back although only the manifest collapse is serial).

    The per-store concurrency contract on fold_cold_batches exists
    because the manifest collapse is a read-modify-write of one shared
    file. Splitting the fold honors it exactly: the stage half touches
    only the shard's own `.fold_*` dir (disjoint across shards — the
    heavy data rewrite, one `session.concurrent` thunk per shard, so
    its jobs keep the caller's job group and description), and every
    manifest-touching step (_commit_fold) runs serially here.
    Crash-safe at any point: each staged dir carries its marker, so
    recover_interrupted_fold finishes any subset of pending commits —
    the same replay path a single fold's crash uses.

    Call from a maintenance window with no landing in flight (the same
    precondition serial folds had). Returns the committed fold metas.
    """
    recover_interrupted_fold(spark, shard_dir)  # nothing else is in flight
    manifest = _load_manifest(spark, shard_dir)
    # sorted distinct: a repeated id would stage the same `.fold_*` dir
    # from two threads at once
    staged = concurrent(
        *[
            lambda sid=sid: _stage_fold(spark, shard_dir, sid, manifest, target_bytes)
            for sid in sorted({int(sid) for sid in shard_ids})
        ]
    )
    out = []
    for s in staged:
        if s is not None:
            meta = _commit_fold(spark, shard_dir, s)
            if meta is not None:
                out.append(meta)
    return out


def fold_cold_batches(
    spark: SparkSession, shard_dir: str, shard_id: int,
    target_bytes: int | None = None,
) -> dict | None:
    """Offline cold-batch fold for one shard: rewrite its `_batch=B`
    dirs — EXCEPT the newest (the replayable hot tail) — into a single
    compacted batch directory and collapse their manifest entries into
    one. The stats are additive, so the collapse is exact and
    verify_stream_shards is green before, during (manifest-collapse is
    the last step; sums never change), and after. This is the
    maintenance path SCALE.md §9 documents for this layout — the
    generic compactor must NOT run here.

    Crash protocol: staged data is complete before anything is deleted
    (`.fold_*` is invisible to parquet scans), and a `_fold_meta.json`
    marker makes the commit sequence replayable —
    recover_interrupted_fold (run at every fold entry) finishes a died
    commit. The only window is between the cold-dir deletes and the
    rename: scans in that instant miss the cold rows; recovery closes
    it on next entry, same contract as fsutil.atomic_swap.

    Concurrency contract: whole folds of DIFFERENT shards may not run
    in parallel — the manifest collapse is a read-modify-write of one
    shared file (last writer wins), so concurrent finalizes can lose
    each other's update. Run folds serially per store, in the same
    maintenance window as compaction (or use fold_cold_batches_all,
    which parallelizes only the manifest-free stage half and keeps
    every commit serial); entry-time recovery is scoped to this shard
    so a disobeyed contract at least cannot commit another shard's
    in-flight stage.

    Returns the fold meta {shard, target, cold}, or None when the shard
    has fewer than two cold batches (nothing to fold).
    """
    recover_interrupted_fold(spark, shard_dir, shard_id)
    manifest = _load_manifest(spark, shard_dir)
    staged = _stage_fold(spark, shard_dir, shard_id, manifest, target_bytes)
    if staged is None:
        return None
    return _commit_fold(spark, shard_dir, staged)


def merged_manifest(spark: SparkSession, shard_dir: str) -> dict:
    """Fold the per-batch stats to the batch writer's manifest shape —
    counts and checksums are additive, so this is exact, not an estimate."""
    m = _load_manifest(spark, shard_dir)
    shards: dict = {}
    for per_batch in m["batches"].values():
        for sid, s in per_batch.items():
            cur = shards.setdefault(sid, {"n_rows": 0, "checksum": 0})
            cur["n_rows"] += s["n_rows"]
            cur["checksum"] += s["checksum"]
    return {
        "n_shards": m.get("n_shards"),
        "key": m.get("key"),
        "total_rows": sum(s["n_rows"] for s in shards.values()),
        "shards": shards,
    }


def verify_stream_shards(spark: SparkSession, shard_dir: str) -> dict:
    """The same integrity gate as sinks/shards.verify_shards, against the
    merged streaming manifest."""
    from ..sinks.shards import _shard_stats

    want = merged_manifest(spark, shard_dir)["shards"]
    got = _shard_stats(spark, shard_dir)
    bad = [int(s) for s in want if s in got and got[s] != want[s]]
    missing = [int(s) for s in want if s not in got]
    extra = sorted(int(s) for s in set(got) - set(want))
    return {
        "ok": not bad and not missing and not extra,
        "bad_shards": sorted(bad),
        "missing_shards": sorted(missing),
        "extra_shards": extra,
    }


def stream_shards(
    spark: SparkSession,
    drop_dir: str,
    shard_dir: str,
    checkpoint_dir: str,
    n_shards: int,
    key: str,
    schema=None,
):
    """Watch drop_dir for record batches (parquet); maintain the shard
    layout + incremental manifest. Returns the started StreamingQuery."""
    stream = spark.readStream.schema(schema or EVENT_SCHEMA).parquet(drop_dir)
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: apply_shard_batch(b, bid, shard_dir, n_shards, key)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
