"""Streaming shard materialization: the additive manifest law (merged
per-batch stats == the one-shot batch writer's manifest), idempotent
replay, checkpoint-reset hygiene, and the integrity gate end-to-end."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sms_db_spark.sinks.shards import write_training_shards
from sms_db_spark.streaming.shards import (
    apply_shard_batch,
    merged_manifest,
    stream_shards,
    verify_stream_shards,
)
from sms_db_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
N = 8

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)


def _docs(spark):
    return load_table(spark, SF_DIR, "documents")


def test_streamed_manifest_equals_batch_writer(spark, tmp_path):
    docs = _docs(spark)
    batch_dir = str(tmp_path / "batch")
    want = write_training_shards(docs, batch_dir, N, key="doc_id")

    drop, shard_dir, ckpt = tmp_path / "drop", str(tmp_path / "stream"), tmp_path / "ckpt"
    for k in (2, 0, 1):  # out-of-order arrival
        docs.filter(F.col("doc_id") % 3 == k).write.mode("append").parquet(str(drop))
        q = stream_shards(
            spark, str(drop), shard_dir, str(ckpt), N, "doc_id", schema=DOC_SCHEMA
        )
        q.awaitTermination(120)

    got = merged_manifest(spark, shard_dir)
    assert got["shards"] == want["shards"]  # the additive law, exactly
    assert got["total_rows"] == want["total_rows"]
    assert verify_stream_shards(spark, shard_dir)["ok"]
    # the landed rows really are the corpus
    back = spark.read.parquet(shard_dir)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()


def test_replay_and_reset_are_idempotent(spark, tmp_path):
    docs = _docs(spark)
    shard_dir = str(tmp_path / "stream")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    apply_shard_batch(first, 0, shard_dir, N, "doc_id")
    apply_shard_batch(second, 1, shard_dir, N, "doc_id")
    before = merged_manifest(spark, shard_dir)
    # at-least-once: the LAST batch is re-delivered
    apply_shard_batch(second, 1, shard_dir, N, "doc_id")
    assert merged_manifest(spark, shard_dir) == before
    assert verify_stream_shards(spark, shard_dir)["ok"]

    # checkpoint reset: everything reprocessed as batch 0 — stale batch-1
    # data AND manifest entries must vanish
    apply_shard_batch(docs, 0, shard_dir, N, "doc_id")
    got = merged_manifest(spark, shard_dir)
    batch_ref = write_training_shards(docs, str(tmp_path / "ref"), N, key="doc_id")
    assert got["shards"] == batch_ref["shards"]
    assert verify_stream_shards(spark, shard_dir)["ok"]
    assert spark.read.parquet(shard_dir).count() == docs.count()


def test_reset_with_smaller_footprint_purges_same_id_stragglers(spark, tmp_path):
    """The nasty reset case: the re-numbered batch 0 touches FEWER shards
    than the pre-reset batch 0 did — its stale rows hide in shards the
    new batch never writes, where a dynamic overwrite would never look."""
    docs = _docs(spark)
    shard_dir = str(tmp_path / "stream")
    apply_shard_batch(docs, 0, shard_dir, N, "doc_id")  # full footprint
    # reset: reprocessed batch 0 is a narrow slice (likely missing shards)
    narrow = docs.filter(F.col("doc_id") < 20)
    apply_shard_batch(narrow, 0, shard_dir, N, "doc_id")
    assert spark.read.parquet(shard_dir).count() == narrow.count()
    got = merged_manifest(spark, shard_dir)
    ref = write_training_shards(narrow, str(tmp_path / "ref"), N, key="doc_id")
    assert got["shards"] == ref["shards"]
    assert verify_stream_shards(spark, shard_dir)["ok"]


def test_replay_after_crash_between_append_and_manifest(spark, tmp_path):
    """The crash window ADVICE r4 flagged: data for batch B landed but
    the process died BEFORE the manifest write. The replay of B finds no
    manifest entry for it — the own-batch purge must NOT be gated on the
    manifest, or the replay double-appends B's rows (permanent checksum
    failure). Simulated by deleting B's manifest entry while leaving its
    data on disk."""
    import json
    import os

    from sms_db_spark.fsutil import read_text, write_text_atomic
    from sms_db_spark.streaming.shards import STREAM_MANIFEST

    docs = _docs(spark)
    shard_dir = str(tmp_path / "stream")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    apply_shard_batch(first, 0, shard_dir, N, "doc_id")
    apply_shard_batch(second, 1, shard_dir, N, "doc_id")
    # crash simulation: batch 1's data is on disk, its manifest entry gone
    mpath = os.path.join(shard_dir, STREAM_MANIFEST)
    manifest = json.loads(read_text(spark, mpath))
    del manifest["batches"]["1"]
    write_text_atomic(spark, mpath, json.dumps(manifest))
    # foreachBatch replays batch 1 (checkpoint never advanced past it)
    apply_shard_batch(second, 1, shard_dir, N, "doc_id")
    assert spark.read.parquet(shard_dir).count() == docs.count()  # no dupes
    got = merged_manifest(spark, shard_dir)
    ref = write_training_shards(docs, str(tmp_path / "ref"), N, key="doc_id")
    assert got["shards"] == ref["shards"]
    assert verify_stream_shards(spark, shard_dir)["ok"]


def test_verify_shards_missing_manifest_is_loud(spark, tmp_path):
    """A store with data but no manifest must raise a clear integrity
    error, not TypeError from json.loads(None) (ADVICE r4)."""
    import pytest

    from sms_db_spark.sinks.shards import verify_shards

    docs = _docs(spark)
    path = str(tmp_path / "noman")
    docs.limit(10).write.parquet(path)
    with pytest.raises(FileNotFoundError, match="no training manifest"):
        verify_shards(spark, path)


def test_streaming_refuses_null_keys_and_reserved_columns(spark, tmp_path):
    import pytest

    docs = _docs(spark)
    with pytest.raises(ValueError, match="NULL"):
        apply_shard_batch(
            docs.withColumn("doc_id", F.lit(None).cast("long")),
            0,
            str(tmp_path / "a"),
            N,
            "doc_id",
        )
    with pytest.raises(ValueError, match="reserved"):
        apply_shard_batch(
            docs.withColumn("_shard", F.lit(1)), 0, str(tmp_path / "b"), N, "doc_id"
        )


def _three_batches(spark, shard_dir):
    docs = _docs(spark)
    for bid, k in enumerate((0, 1, 2)):
        apply_shard_batch(
            docs.filter(F.col("doc_id") % 3 == k), bid, shard_dir, N, "doc_id"
        )
    return docs


def _shard_in_all_batches(spark, shard_dir):
    from sms_db_spark.streaming.shards import _load_manifest

    m = _load_manifest(spark, shard_dir)
    per_batch = [set(e) for e in m["batches"].values()]
    common = set.intersection(*per_batch)
    assert common, "fixture needs a shard present in every batch"
    return int(sorted(common)[0])


def test_fold_cold_batches_is_exact_and_replay_safe(spark, tmp_path):
    """The offline cold-batch fold: per-shard _batch dirs collapse into
    one compacted dir + one manifest entry, with merged_manifest and
    the integrity gate unchanged — and the hot tail stays replayable."""
    import os

    from sms_db_spark.streaming.shards import fold_cold_batches

    shard_dir = str(tmp_path / "stream")
    docs = _three_batches(spark, shard_dir)
    sid = _shard_in_all_batches(spark, shard_dir)
    before = merged_manifest(spark, shard_dir)
    meta = fold_cold_batches(spark, shard_dir, sid)
    assert meta == {"shard": sid, "target": 0, "cold": [0, 1]}
    assert merged_manifest(spark, shard_dir) == before  # additive = exact
    assert verify_stream_shards(spark, shard_dir)["ok"]
    assert spark.read.parquet(shard_dir).count() == docs.count()
    batch_dirs = sorted(os.listdir(os.path.join(shard_dir, f"_shard={sid}")))
    assert batch_dirs == ["_batch=0", "_batch=2"]  # folded + hot tail
    # nothing pending to fold now (one cold dir is below the 2 minimum)
    assert fold_cold_batches(spark, shard_dir, sid) is None

    # the hot tail is still the at-least-once replay unit after the fold
    docs_b2 = docs.filter(F.col("doc_id") % 3 == 2)
    apply_shard_batch(docs_b2, 2, shard_dir, N, "doc_id")
    assert merged_manifest(spark, shard_dir) == before
    assert verify_stream_shards(spark, shard_dir)["ok"]


def test_fold_crash_recovery_replays_commit(spark, tmp_path):
    """Process death between staging and commit: the staged dir + marker
    hold everything recovery needs; the replayed commit converges to the
    same state as an uninterrupted fold."""
    import json
    import os

    from sms_db_spark.fsutil import write_text_atomic
    from sms_db_spark.streaming.shards import (
        _FOLD_META,
        _fold_dirname,
        recover_interrupted_fold,
    )

    shard_dir = str(tmp_path / "stream")
    docs = _three_batches(spark, shard_dir)
    sid = _shard_in_all_batches(spark, shard_dir)
    before = merged_manifest(spark, shard_dir)
    # stage manually = the fold's pre-crash half
    shard_path = os.path.join(shard_dir, f"_shard={sid}")
    staged = os.path.join(shard_dir, _fold_dirname(sid, 0))
    spark.read.parquet(
        os.path.join(shard_path, "_batch=0"), os.path.join(shard_path, "_batch=1")
    ).coalesce(1).write.parquet(staged)
    write_text_atomic(
        spark,
        os.path.join(staged, _FOLD_META),
        json.dumps({"shard": sid, "target": 0, "cold": [0, 1]}),
    )
    done = recover_interrupted_fold(spark, shard_dir)
    assert [m["shard"] for m in done] == [sid]
    assert merged_manifest(spark, shard_dir) == before
    assert verify_stream_shards(spark, shard_dir)["ok"]
    assert spark.read.parquet(shard_dir).count() == docs.count()
    assert not os.path.exists(staged)
    # idempotent: nothing pending on a second pass
    assert recover_interrupted_fold(spark, shard_dir) == []


def test_reset_purges_staged_fold(spark, tmp_path):
    """A checkpoint reset must also kill a staged-but-uncommitted fold:
    its rows are pre-reset data that recovery would otherwise resurrect."""
    import json
    import os

    from sms_db_spark.fsutil import write_text_atomic
    from sms_db_spark.streaming.shards import (
        _FOLD_META,
        _fold_dirname,
        recover_interrupted_fold,
    )

    shard_dir = str(tmp_path / "stream")
    docs = _three_batches(spark, shard_dir)
    sid = _shard_in_all_batches(spark, shard_dir)
    shard_path = os.path.join(shard_dir, f"_shard={sid}")
    staged = os.path.join(shard_dir, _fold_dirname(sid, 0))
    spark.read.parquet(os.path.join(shard_path, "_batch=0")).coalesce(1).write.parquet(
        staged
    )
    write_text_atomic(
        spark,
        os.path.join(staged, _FOLD_META),
        json.dumps({"shard": sid, "target": 0, "cold": [0]}),
    )
    # checkpoint reset: everything reprocessed as batch 0
    apply_shard_batch(docs, 0, shard_dir, N, "doc_id")
    assert not os.path.exists(staged)
    assert recover_interrupted_fold(spark, shard_dir) == []
    assert verify_stream_shards(spark, shard_dir)["ok"]
    assert spark.read.parquet(shard_dir).count() == docs.count()


def test_fold_cold_batches_all_matches_serial_folds(spark, tmp_path):
    """fold_cold_batches_all (r18: concurrent stages, serial commits)
    must land the exact state the serial per-shard folds produce —
    manifest, integrity gate, rows, and per-shard directory shape."""
    import os

    from sms_db_spark.streaming.shards import (
        fold_cold_batches,
        fold_cold_batches_all,
    )

    serial_dir, all_dir = str(tmp_path / "serial"), str(tmp_path / "all")
    docs = _three_batches(spark, serial_dir)
    _three_batches(spark, all_dir)
    before = merged_manifest(spark, serial_dir)

    serial_metas = [
        m
        for sid in range(N)
        if (m := fold_cold_batches(spark, serial_dir, sid)) is not None
    ]
    all_metas = fold_cold_batches_all(spark, all_dir, range(N))
    key = lambda m: m["shard"]  # noqa: E731
    assert sorted(all_metas, key=key) == sorted(serial_metas, key=key)
    assert merged_manifest(spark, all_dir) == before  # additive = exact
    assert merged_manifest(spark, all_dir) == merged_manifest(spark, serial_dir)
    assert verify_stream_shards(spark, all_dir)["ok"]
    assert spark.read.parquet(all_dir).count() == docs.count()
    for sid in {m["shard"] for m in all_metas}:
        assert sorted(os.listdir(os.path.join(all_dir, f"_shard={sid}"))) == sorted(
            os.listdir(os.path.join(serial_dir, f"_shard={sid}"))
        )
    # idempotent: nothing left to fold on a second pass
    assert fold_cold_batches_all(spark, all_dir, range(N)) == []


def test_fold_cold_batches_all_crash_between_commits_recovers(spark, tmp_path):
    """Death AFTER some serial commits with other shards still staged:
    every staged dir carries its marker, so recovery finishes exactly
    the pending subset and converges to the fully-folded state."""
    from sms_db_spark.streaming.shards import (
        _load_manifest,
        _stage_fold,
        fold_cold_batches,
        recover_interrupted_fold,
    )

    shard_dir = str(tmp_path / "stream")
    docs = _three_batches(spark, shard_dir)
    before = merged_manifest(spark, shard_dir)
    manifest = _load_manifest(spark, shard_dir)
    # stage every shard (the parallel half), commit only the first —
    # the crash point fold_cold_batches_all's docstring claims is safe
    staged = {
        sid: s
        for sid in range(N)
        if (s := _stage_fold(spark, shard_dir, sid, manifest, None)) is not None
    }
    assert len(staged) >= 2, "fixture needs at least two foldable shards"
    first = sorted(staged)[0]
    from sms_db_spark.streaming.shards import _commit_fold

    _commit_fold(spark, shard_dir, staged[first])
    done = recover_interrupted_fold(spark, shard_dir)
    assert sorted(m["shard"] for m in done) == sorted(set(staged) - {first})
    assert merged_manifest(spark, shard_dir) == before
    assert verify_stream_shards(spark, shard_dir)["ok"]
    assert spark.read.parquet(shard_dir).count() == docs.count()
    # every shard folded: a full pass finds nothing pending
    assert [fold_cold_batches(spark, shard_dir, s) for s in range(N)] == [None] * N


def test_fold_cold_batches_all_dedups_shard_ids(spark, tmp_path):
    """A repeated shard id folds once: the ids are normalized to sorted
    distinct values before the concurrent stage, so no two threads
    stage the same `.fold_*` dir."""
    from sms_db_spark.streaming.shards import _load_manifest, fold_cold_batches_all

    shard_dir = str(tmp_path / "stream")
    docs = _three_batches(spark, shard_dir)
    before = merged_manifest(spark, shard_dir)
    per_batch = [set(e) for e in _load_manifest(spark, shard_dir)["batches"].values()]
    a, b = sorted(int(s) for s in set.intersection(*per_batch))[:2]
    metas = fold_cold_batches_all(spark, shard_dir, [a, a, b])
    assert [m["shard"] for m in metas] == [a, b]
    assert merged_manifest(spark, shard_dir) == before
    assert verify_stream_shards(spark, shard_dir)["ok"]
    assert spark.read.parquet(shard_dir).count() == docs.count()


class _RefusingFS:
    """A Hadoop FileSystem proxy whose delete and rename of a path named
    `name` return False without touching it; every other call goes to
    the real FileSystem."""

    def __init__(self, fs, name):
        self._fs, self._name = fs, name

    def delete(self, p, recursive):
        return False if p.getName() == self._name else self._fs.delete(p, recursive)

    def rename(self, src, dst):
        return False if src.getName() == self._name else self._fs.rename(src, dst)

    def __getattr__(self, attr):
        return getattr(self._fs, attr)


def _refusing(name):
    from sms_db_spark import fsutil

    real = fsutil.hadoop_fs

    def hadoop_fs(spark, path):
        jvm, fs = real(spark, path)
        return jvm, _RefusingFS(fs, name)

    return hadoop_fs


def test_failed_cold_dir_delete_stops_the_fold(spark, tmp_path, monkeypatch):
    """A cold-dir delete that Hadoop refuses must stop the fold before
    the rename: renaming with `_batch=1` left behind would count its
    rows twice under an unchanged manifest. The staged dir and marker
    stay, so recovery finishes the fold exactly. Also pins the
    fsutil.delete / fsutil.rename failure rule the fold relies on, and
    write_text_atomic's delete + rename fallback."""
    from types import SimpleNamespace as NS

    import pytest

    from sms_db_spark import fsutil
    from sms_db_spark.streaming.shards import fold_cold_batches, recover_interrupted_fold

    shard_dir = str(tmp_path / "stream")
    docs = _three_batches(spark, shard_dir)
    sid = _shard_in_all_batches(spark, shard_dir)
    before = merged_manifest(spark, shard_dir)
    monkeypatch.setattr(fsutil, "hadoop_fs", _refusing("_batch=1"))
    with pytest.raises(RuntimeError, match="_batch=1"):
        fold_cold_batches(spark, shard_dir, sid)
    monkeypatch.undo()
    assert [m["shard"] for m in recover_interrupted_fold(spark, shard_dir)] == [sid]
    assert merged_manifest(spark, shard_dir) == before
    assert verify_stream_shards(spark, shard_dir)["ok"]
    assert spark.read.parquet(shard_dir).count() == docs.count()

    fsutil.delete(spark, str(tmp_path / "missing"))  # already gone: no error
    full = tmp_path / "full"
    (full / "sub").mkdir(parents=True)
    (full / "sub" / "f.txt").write_text("x")
    fsutil.delete(spark, str(full))
    assert not full.exists()

    src, dst = tmp_path / "src", str(tmp_path / "dst")
    src.mkdir()
    monkeypatch.setattr(fsutil, "hadoop_fs", _refusing("src"))
    with pytest.raises(RuntimeError) as err:
        fsutil.rename(spark, str(src), dst)
    assert str(src) in str(err.value) and dst in str(err.value)
    monkeypatch.undo()

    # write_text_atomic's fallback for a scheme with no FileContext
    # binding lands the text through delete + rename
    real = fsutil.hadoop_fs

    class Unsupported(Exception):
        java_exception = NS(
            getClass=lambda: NS(getName=lambda: "x.UnsupportedFileSystemException")
        )

    def no_file_context(*_):
        raise Unsupported()

    def hadoop_fs(spark, path):
        jvm, fs = real(spark, path)
        hfs = NS(Path=jvm.org.apache.hadoop.fs.Path, FileContext=NS(getFileContext=no_file_context))
        return NS(org=NS(apache=NS(hadoop=NS(fs=hfs)))), fs

    monkeypatch.setattr(fsutil, "hadoop_fs", hadoop_fs)
    text = tmp_path / "t.json"
    for body in ("one", "two"):
        fsutil.write_text_atomic(spark, str(text), body)
    assert text.read_text() == "two" and not (tmp_path / "t.json.tmp").exists()
