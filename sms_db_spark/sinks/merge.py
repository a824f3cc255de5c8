"""Generic MERGE INTO for a parquet store: the lakehouse upsert API
(Delta/Iceberg `MERGE INTO` subset) as one full-outer join + an atomic
rewrite.

Semantics per target key:
  - matched  + delete_condition true  → row removed
  - matched  otherwise                → source columns win (update)
  - source-only                       → inserted
  - target-only                       → kept unchanged

Where q126 / streaming/upsert.py fold a CHANGELOG (ordered events,
last-write-wins) into state, this merges a SNAPSHOT delta: the source
is already one row per key — the "recompute a slice upstream, merge it
in" workflow. One shuffle on the key (the full-outer join); the rewrite
is write-new-then-swap like sinks/compaction.py, so readers never see a
half-merged store and a failed merge leaves the target untouched.

At 100 TB: run per partition (merge the affected partitions only —
combine with sinks/partitioned.backfill_day for date-keyed stores), and
when the source is small relative to the target prefer copy-on-write of
only the FILES containing matched keys (the file-pruning join: source
keys → footer min/max ranges → touched file set); the full-outer here
is the semantics reference that path must reproduce.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil


def _resolve(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_condition: Column | None,
) -> DataFrame:
    """The MERGE semantics core: full-outer on keys, one `_action` column
    in {update, insert, delete, keep}, target schema + `_action`.
    Materialized eagerly (the checkpoint both cuts the lineage off any
    store about to be overwritten and lets stats + write share one join
    execution)."""
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"schema mismatch: target {sorted(target.columns)} vs source {sorted(source.columns)}"
        )
    data_cols = [c for c in target.columns if c not in keys]
    t = target.select(
        *[F.col(c).alias(f"t_{c}") for c in target.columns],
        F.lit(1).alias("in_t"),
    )
    s = source.select(
        *[F.col(c).alias(f"s_{c}") for c in source.columns],
        F.lit(1).alias("in_s"),
    )
    cond = [t[f"t_{k}"].eqNullSafe(s[f"s_{k}"]) for k in keys]
    joined = t.join(s, cond, "full_outer")
    matched = F.col("in_t").isNotNull() & F.col("in_s").isNotNull()
    deleted = (
        matched & delete_condition if delete_condition is not None else F.lit(False)
    )
    action = (
        F.when(deleted, "delete")
        .when(matched, "update")
        .when(F.col("in_s").isNotNull(), "insert")
        .otherwise("keep")
    )
    out_cols = [
        F.coalesce(F.col(f"s_{k}"), F.col(f"t_{k}")).alias(k) for k in keys
    ] + [
        F.when(F.col("_action").isin("update", "insert"), F.col(f"s_{c}"))
        .otherwise(F.col(f"t_{c}"))
        .alias(c)
        for c in data_cols
    ]
    return (
        joined.withColumn("_action", action)
        .select(*out_cols, "_action")
        .localCheckpoint(eager=True)
    )


def _action_counts(result: DataFrame) -> dict:
    return {
        r["_action"]: r["n"]
        for r in result.groupBy("_action").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _merge_stats(counts: dict) -> dict:
    """THE action-name → stats-key mapping, shared by merge_into,
    merge_into_cow, and versioned.merge_current so the three surfaces
    can never report differently-shaped stats."""
    return {
        "inserted": counts.get("insert", 0),
        "updated": counts.get("update", 0),
        "deleted": counts.get("delete", 0),
        "unchanged": counts.get("keep", 0),
    }


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    delete_condition: Column | None = None,
) -> dict:
    """Merge source into the parquet store at target_path. Returns
    {'inserted': n, 'updated': n, 'deleted': n, 'unchanged': n}.

    delete_condition is evaluated on the MATCHED join row, where target
    columns appear as `t_<name>` and source columns as `s_<name>`
    (e.g. `F.col("s_status") == "tombstone"`)."""
    fsutil.recover_interrupted_swap(spark, target_path)
    target = spark.read.parquet(target_path)
    result = _resolve(target, source, keys, delete_condition)
    counts = _action_counts(result)
    staged = target_path.rstrip("/") + ".merging"
    backup = target_path.rstrip("/") + ".premerge"
    result.filter(F.col("_action") != "delete").drop("_action").write.mode(
        "overwrite"
    ).parquet(staged)
    fsutil.atomic_swap(spark, target_path, staged, backup)
    return _merge_stats(counts)


def merge_into_cow(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key: str,
    delete_condition: Column | None = None,
) -> dict:
    """Copy-on-write MERGE: rewrite ONLY the target files whose footer
    key range overlaps a source key; every other file is left physically
    untouched (same name, same bytes). Semantics are exactly
    merge_into's — _resolve runs over just the touched slice plus the
    source (a key absent from every file range is a pure insert), and
    the equivalence is pinned by test.

    This is the small-delta fast path the full-outer merge_into
    docstring promises: when the source touches k of N files, the
    rewrite reads and shuffles O(k·file_size + |source|), not the whole
    store — at 100 TB with a key-clustered layout (sinks/clustered.py /
    a range-sorted write) k is typically 10^1-10^2 of 10^6 files.

    Commit protocol (plain parquet, no manifest): new files are APPENDED
    to the store dir first, touched files deleted after — a crash
    between the two leaves duplicate key versions visible rather than
    lost data (the conservative failure mode). A re-run does NOT remove
    such duplicates (the full-outer matches both physical rows); they
    need an explicit dedup pass (q20-style min-id keeper per key) — or
    a table format with a commit log (Delta/Iceberg), which closes the
    window entirely.

    Contract limits (each refused or handled, never silent):
      - single-column, non-null source keys (footer pruning is
        per-column min/max; NULLs don't appear in stats, so a null-key
        delta MUST take the full merge_into path — refused here);
      - FLAT stores only: a Hive-partitioned store is refused (the
        pruning would miss every nested file and blind-append
        duplicates) — use merge_into or per-partition backfill;
      - files with missing/partial statistics are conservatively
        treated as touched;
      - footer reads are DISTRIBUTED: the file list becomes a
        DataFrame and each task reads its files' footers with pyarrow
        over `pyarrow.fs.FileSystem.from_uri` (local/HDFS/S3) — no
        driver-side per-file IO, so 10^6-file stores don't bottleneck
        on the driver.

    Returns merge_into's stats plus files_rewritten / files_skipped.
    `unchanged` counts only rows INSIDE rewritten files; rows in skipped
    files are untouched by construction and deliberately not counted.
    """
    source, touched_set, n_skipped = _cow_prune(spark, target_path, source, key)
    if touched_set:
        slice_df = spark.read.parquet(*sorted(touched_set))
    else:
        slice_df = spark.read.parquet(target_path).limit(0)
    result = _resolve(slice_df, source, [key], delete_condition)
    counts = _action_counts(result)
    # append-new-then-delete-touched: Spark generates fresh UUID file
    # names, so the append can never clash with the files being replaced
    result.filter(F.col("_action") != "delete").drop("_action").write.mode(
        "append"
    ).parquet(target_path)
    _delete_replaced(spark, touched_set, "merge_into_cow")
    return {
        **_merge_stats(counts),
        "files_rewritten": len(touched_set),
        "files_skipped": n_skipped,
    }


def _delete_replaced(spark: SparkSession, touched_set, who: str) -> None:
    """Checked deletion of the replaced files (shared by the CoW merge
    and the CoW delete): a silently-failed delete would leave a stale
    duplicate file that the stats report as replaced."""
    for f in touched_set:
        try:
            fsutil.delete(spark, f)
        except RuntimeError as e:
            raise RuntimeError(
                f"{who}: failed to delete replaced file {f}; the "
                "store now holds duplicate key versions — dedup required"
            ) from e


def delete_cow(spark: SparkSession, target_path: str, ids: DataFrame, key: str) -> dict:
    """Copy-on-write DELETE: remove every row whose `key` appears in
    `ids`, rewriting ONLY the files whose footer key range overlaps a
    delete key — the production-scale path q170's versioned
    delete_cascade documents (deleting 0.01% of a 100 TB store must
    not rewrite 100 TB). Same prune machinery, commit protocol
    (append-new-then-delete-touched), and contract limits as
    merge_into_cow (_cow_prune: flat stores, non-null single-column
    keys, stats-less files conservatively touched); absent ids are a
    no-op (DELETE is idempotent). Returns
    {deleted, files_rewritten, files_skipped}."""
    ids, touched_set, n_skipped = _cow_prune(spark, target_path, ids.select(key).distinct(), key)
    if not touched_set:
        return {"deleted": 0, "files_rewritten": 0, "files_skipped": n_skipped}
    slice_df = spark.read.parquet(*sorted(touched_set)).localCheckpoint(
        eager=True  # three consumers (count, kept, write) + the source
        # files are about to be physically deleted out from under any
        # lazy lineage
    )
    kept = slice_df.join(F.broadcast(ids), key, "left_anti")
    n_before = slice_df.count()
    kept.write.mode("append").parquet(target_path)
    # Full-delete guard (ADVICE r16 #3): when the delete empties every
    # touched file AND no file was skipped, the store's entire row set
    # is gone — readability then hangs on the append having produced a
    # schema-bearing empty file. Spark does write one (FileFormatWriter
    # emits a single empty part file for an empty write, verified on
    # this runtime), but that is an engine detail, not a contract —
    # so CHECK it: refuse to delete the replaced files if doing so
    # would leave zero data files (an unreadable directory that even a
    # repeat idempotent delete could no longer open).
    if n_skipped == 0:
        from .compaction import _data_files

        survivors = {
            f for f, _ in _data_files(spark, target_path)
        } - touched_set
        if not survivors:
            raise RuntimeError(
                "delete_cow: deleting the final row set would leave the "
                "store with no data files (schema unreadable); the append "
                "of the empty kept set produced none on this filesystem — "
                "drop the store directory instead of row-deleting it empty"
            )
    _delete_replaced(spark, touched_set, "delete_cow")
    return {
        "deleted": n_before - kept.count(),
        "files_rewritten": len(touched_set),
        "files_skipped": n_skipped,
    }


def _cow_prune(
    spark: SparkSession, target_path: str, source: DataFrame, key: str
):
    """The shared copy-on-write front half (merge_into_cow + delete_cow):
    crash recovery, structural refusals, the distributed footer scan,
    and the broadcast BETWEEN prune join. Returns
    (checkpointed_source, touched_set, n_skipped). Every contract note
    in merge_into_cow's docstring (flat stores only, non-null keys,
    stats-less files conservatively touched, distributed footer reads)
    lives HERE."""
    fsutil.recover_interrupted_swap(spark, target_path)
    jvm, fs = fsutil.hadoop_fs(spark, target_path)
    # structural refusals FIRST (driver-side metadata only) — no cluster
    # job runs before the call is known to be valid. Flat-store check
    # compares each file's parent against the FS-qualified root, not
    # string surgery on the user's path spelling.
    from .compaction import _data_files

    qualified_root = fs.makeQualified(
        jvm.org.apache.hadoop.fs.Path(target_path)
    ).toString()
    files: list[str] = []
    for fpath, _bytes in _data_files(spark, target_path):
        parent = jvm.org.apache.hadoop.fs.Path(fpath).getParent().toString()
        if parent != qualified_root:
            raise ValueError(
                "merge_into_cow: partitioned (nested) store — pruning is "
                "flat-store only; use merge_into or backfill_day per partition"
            )
        files.append(fpath)
    # materialize the source ONCE: the prune join and _resolve must see
    # the same rows, or a nondeterministic source (limit/sample/changing
    # input) makes the touched set disagree with the resolved rows and
    # stale versions survive next to fresh inserts
    source = source.localCheckpoint(eager=True)
    if source.filter(F.col(key).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"merge_into_cow: source has NULL {key!r} keys — footer stats "
            "cannot prune NULL matches; use merge_into"
        )
    # Distributed footer scan: one task per slice of the file list reads
    # its footers with pyarrow (FileSystem.from_uri: local/HDFS/S3). The
    # driver never opens a data file — at 10^6 files the old driver-side
    # thread pool was the scale bottleneck the docstring warned about.
    from pyspark.sql import types as T

    # key type from the SOURCE — reading it off the store alone would
    # KeyError when the file Spark samples for schema inference predates
    # the key column (the schema-evolved case the stats-less fallback
    # exists for). _resolve's check compares column NAMES only, so guard
    # the TYPE here: a double-typed source key against a bigint store
    # would silently coerce the footer ranges to float64 and mis-prune.
    key_dt = source.schema[key].dataType
    tgt_schema = spark.read.parquet(target_path).schema
    if key in tgt_schema.names and tgt_schema[key].dataType != key_dt:
        raise ValueError(
            f"merge_into_cow: key type mismatch — target {key!r} is "
            f"{tgt_schema[key].dataType.simpleString()}, source is "
            f"{key_dt.simpleString()}; cast the source before merging"
        )
    range_schema = T.StructType(
        [
            T.StructField("_file", T.StringType()),
            T.StructField("_lo", key_dt),
            T.StructField("_hi", key_dt),
            T.StructField("_has_stats", T.BooleanType()),
        ]
    )

    def _footer_ranges(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.fs as pafs
        import pyarrow.parquet as pq

        from ..fsutil import pyarrow_uri

        def key_range(fpath: str):
            """(lo, hi) from footer stats; None marks 'no usable stats —
            conservatively touched'. Scheme handling via fsutil's shared
            alias table; a STILL-unrecognized scheme falls back to
            stats-less (conservatively touched) — a merge must degrade
            to rewriting more files, never fail outright on a valid
            store."""
            try:
                pfs, ppath = pafs.FileSystem.from_uri(pyarrow_uri(fpath))
            except pa.ArrowInvalid:
                return None  # unknown scheme: no footer access, prune nothing
            with pfs.open_input_file(ppath) as fh:
                md = pq.ParquetFile(fh).metadata
            if md.num_row_groups == 0:
                return None
            idx = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.num_columns)
            }
            if key not in idx:  # schema-evolved file predating the key column
                return None
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[key]).statistics
                if st is None or st.min is None or st.max is None:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            return lo, hi

        for pdf in batches:
            rows = []
            for fpath in pdf["_file"]:
                r = key_range(fpath)
                rows.append(
                    (fpath, None, None, False) if r is None else (fpath, *r, True)
                )
            yield pd.DataFrame(rows, columns=["_file", "_lo", "_hi", "_has_stats"])

    par = min(len(files), spark.sparkContext.defaultParallelism) or 1
    rdf = (
        spark.createDataFrame([(f,) for f in files], "_file string")
        .repartition(par)
        .mapInPandas(_footer_ranges, range_schema)
        # one footer pass feeds two consumers (stat-less list + prune join)
        .localCheckpoint(eager=True)
    )
    touched: list[str] = [
        r._file for r in rdf.filter(~F.col("_has_stats")).collect()
    ]
    # distributed prune: the (#files)-sized range table broadcasts
    # into a BETWEEN join against the source keys — no O(|source|)
    # driver collect; only the touched FILE LIST comes back
    touched += [
        r._file
        for r in source.select(F.col(key).alias("_k"))
        .join(
            F.broadcast(rdf.filter(F.col("_has_stats")).drop("_has_stats")),
            (F.col("_k") >= F.col("_lo")) & (F.col("_k") <= F.col("_hi")),
        )
        .select("_file")
        .distinct()
        .collect()
    ]
    touched_set = set(touched)
    n_skipped = sum(1 for f in files if f not in touched_set)
    return source, touched_set, n_skipped
