"""Property-based tests (hypothesis) for the kernels whose guarantees
are LAWS over arbitrary inputs, not behaviors on one fixture:

- dense_ids: ids are exactly the dense range and respect the key order
  for ANY input multiset and ANY incoming partitioning.
- plan_join: whatever strategy the profile picks (broadcast / salted /
  plain), the output rowset is the plain inner join's — the strategy is
  never allowed to be a semantics change.
- q140 snapshot diff: the four statuses partition the id universe and
  obey the volume laws for ANY corpus, including NULL/unicode text.
- q141 epoch shuffle: batches tile any corpus size exactly (full
  batches + one tail) and conserve id-sum membership.

Each example round-trips through real Spark jobs, so example counts are
deliberately small — these complement the fixture tests, they don't
replace them.
"""

from __future__ import annotations

import shutil
import tempfile

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


# --------------------------------------------------------------- dense_ids

_keys = st.lists(
    st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=60
)


@settings(max_examples=8, deadline=None)
@given(keys=_keys, n_part=st.integers(min_value=1, max_value=7))
def test_dense_ids_is_an_order_respecting_dense_numbering(spark, keys, n_part):
    from sms_db_spark.sources.canonical import dense_ids

    df = (
        spark.createDataFrame([(k, i) for i, k in enumerate(keys)], "k long, row long")
        .repartition(n_part)
    )
    out, n = dense_ids(df, ["k", "row"], "_id", start=1)
    out = out.collect()
    assert n == len(keys)
    ids = sorted(r._id for r in out)
    assert ids == list(range(1, len(keys) + 1))  # dense, no gaps, no dups
    by_id = sorted(out, key=lambda r: r._id)
    assert [(r.k, r.row) for r in by_id] == sorted(
        (k, i) for i, k in enumerate(keys)
    )  # numbering IS the total order


# --------------------------------------------------------------- plan_join

_pairs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # few keys → collisions + skew
        st.integers(min_value=-100, max_value=100),
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=6, deadline=None)
@given(left=_pairs, right=_pairs, broadcast_rows=st.sampled_from([0, 1_000_000]))
def test_plan_join_any_strategy_equals_plain_join(spark, left, right, broadcast_rows):
    from sms_db_spark.operators.maintenance import plan_join

    a = spark.createDataFrame(left, "k long, v long")
    b = spark.createDataFrame(right, "k long, w long")
    out, decision = plan_join(a, b, "k", broadcast_rows=broadcast_rows)
    plain = a.join(b, "k")
    assert decision["strategy"] in {"broadcast", "salted", "shuffle"}
    assert out.exceptAll(plain).count() == 0
    assert plain.exceptAll(out).count() == 0


# ------------------------------------------------------- q140 snapshot diff

_doc_text = st.one_of(st.none(), st.text(max_size=30))
_docs = st.lists(
    st.tuples(st.integers(min_value=0, max_value=10_000), _doc_text),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@settings(max_examples=5, deadline=None)
@given(docs=_docs)
def test_snapshot_diff_partitions_any_corpus(spark, docs):
    from sms_db_spark.operators.maintenance import (
        SNAP_NEW_FROM,
        SNAP_OLD_UPTO,
        _snap_bucket,
        q140_snapshot_diff,
    )

    d = tempfile.mkdtemp(prefix="snapprop-")
    try:
        spark.createDataFrame(
            [(i, t, "xx", "s0", len(t) if t else 0) for i, t in docs],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        rows = q140_snapshot_diff(spark, d).collect()
        buckets = {
            r.doc_id: r.b
            for r in spark.createDataFrame([(i,) for i, _ in docs], "doc_id long")
            .select("doc_id", _snap_bucket(F.col("doc_id")).alias("b"))
            .collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    in_union = [i for i, _ in docs if buckets[i] < SNAP_OLD_UPTO or buckets[i] >= SNAP_NEW_FROM]
    # the statuses partition old ∪ new exactly
    assert sum(r.n_docs for r in rows) == len(in_union)
    got = {r.status: r for r in rows}
    assert set(got) <= {"added", "removed", "changed", "unchanged"}
    if "added" in got:
        assert got["added"].chars_old == 0
    if "removed" in got:
        assert got["removed"].chars_new == 0
    if "unchanged" in got:
        assert got["unchanged"].chars_old == got["unchanged"].chars_new


# ------------------------------------------------------- q141 epoch shuffle

_corpus_sizes = st.integers(min_value=1, max_value=300)


@settings(max_examples=5, deadline=None)
@given(n=_corpus_sizes)
def test_epoch_shuffle_tiles_any_corpus_size(spark, n):
    from sms_db_spark.operators import curation

    d = tempfile.mkdtemp(prefix="epochprop-")
    try:
        spark.createDataFrame(
            [(i, "t", "xx", f"s{i % 3}", 1) for i in range(n)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        rows = curation.q141_epoch_shuffle(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    B = curation.EPOCH_BATCH
    assert [r.batch for r in rows] == list(range((n + B - 1) // B))
    assert all(r.n_docs == B for r in rows[:-1])
    assert rows[-1].n_docs == n - B * (len(rows) - 1)
    assert sum(r.id_sum for r in rows) == n * (n - 1) // 2  # exact membership


# --------------------------------------------------- metrics-log protocol

_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(min_value=0, max_value=6), st.booleans()),
        st.tuples(st.just("reset"), st.just(0), st.just(False)),
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=6, deadline=None)
@given(ops=_ops)
def test_metrics_log_protocol_matches_model(spark, tmp_path_factory, ops):
    """Model-based law for the shared per-batch log protocol: after ANY
    sequence of appends (with or without a report — replays, gaps,
    out-of-order ids) and checkpoint resets (numbering restarts at 0),
    the on-disk log equals a trivial in-python model of it. This is the
    invariant both monitors' exactly-once claims reduce to."""
    from sms_db_spark.streaming.metricslog import append_batch_report, read_batch_log

    log = str(tmp_path_factory.mktemp("mlog") / "log")
    model: dict[int, int] = {}  # batch_id -> payload marker
    next_payload = 0
    cursor = 0  # the stream's current batch numbering position
    for op, bid, with_report in ops:
        if op == "reset":
            cursor = 0
            continue
        # a stream only ever presents ids >= its numbering position,
        # but replays (same id, at-least-once) are legal
        bid = min(bid, cursor)
        report = None
        if with_report:
            next_payload += 1
            report = spark.createDataFrame(
                [(next_payload,)], "payload int"
            )
        append_batch_report(spark, log, bid, report)
        # model: own partition overwritten (or dropped), higher ids dropped
        model = {k: v for k, v in model.items() if k < bid}
        if with_report:
            model[bid] = next_payload
        cursor = bid + 1
    got = {
        r.batch_id: r.payload
        for r in read_batch_log(
            spark, log, ["batch_id", "payload"], "batch_id int, payload int"
        ).collect()
    }
    assert got == model


# ------------------------------------------------- versioned store lifecycle

_vops = st.lists(
    st.one_of(
        st.tuples(st.just("commit"), st.integers(min_value=1, max_value=20)),
        st.tuples(st.just("rollback"), st.integers(min_value=0, max_value=5)),
        st.tuples(st.just("prune"), st.integers(min_value=2, max_value=3)),
        st.tuples(st.just("lose_head"), st.just(0)),
    ),
    min_size=2,
    max_size=10,
)


@settings(max_examples=5, deadline=None)
@given(ops=_vops)
def test_versioned_store_invariants_under_any_op_sequence(spark, tmp_path_factory, ops):
    """Lifecycle law for the commit-pointer store: under ANY sequence of
    commits, rollbacks, prunes, and pointer losses, (a) the store always
    recovers to a readable state whose contents match what was committed
    under that name, (b) `_HEAD` never names a dir that does not exist,
    and (c) prune never deletes the live version."""
    import json as _json

    from sms_db_spark.fsutil import hadoop_fs, read_text
    from sms_db_spark.sinks.versioned import (
        commit_version,
        current_version,
        prune_versions,
        read_current,
        recover_head,
        rollback,
    )

    store = str(tmp_path_factory.mktemp("vprop") / "store")
    sizes: dict[str, int] = {}  # committed name -> row count
    lineage: list[str] = []  # names we know were once live
    for op, arg in ops:
        if op == "commit":
            name = commit_version(spark, store, spark.range(arg).select("id"))
            sizes[name] = arg
            lineage.append(name)
        elif op == "rollback":
            recover_head(spark, store)
            alive = [n for n in lineage if n in sizes]
            if not alive:
                continue
            target = alive[arg % len(alive)]
            try:
                rollback(spark, store, target)
                lineage.append(target)
            except ValueError:
                pass  # pruned/readopted-away target: refusal is legal
        elif op == "prune":
            if current_version(spark, store) is None and not sizes:
                continue
            live_before = current_version(spark, store) or recover_head(spark, store)
            doomed = prune_versions(spark, store, keep=arg)
            assert live_before not in doomed  # (c)
            for n in doomed:
                sizes.pop(n, None)
        else:  # lose_head
            jvm, fs = hadoop_fs(spark, store)
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{store}/_HEAD"), False)
        # (a)+(b) after every op: recover if needed, then audit
        if sizes:
            recover_head(spark, store)
            live = current_version(spark, store)
            assert live in sizes
            assert read_current(spark, store).count() == sizes[live]
            head = _json.loads(read_text(spark, f"{store}/_HEAD"))
            jvm, fs = hadoop_fs(spark, store)
            for n in set(head["published"]):
                # lineage may only name dirs that exist on disk
                assert fs.exists(
                    jvm.org.apache.hadoop.fs.Path(f"{store}/_versions/{n}")
                ), f"lineage names missing dir {n}"


# ------------------------------------- banded-Hamming exact recall (r13)

_bands4 = st.tuples(*([st.integers(min_value=0, max_value=0xFFFF)] * 4))


@settings(max_examples=8, deadline=None)
@given(
    base=_bands4,
    flip_bits=st.sets(st.integers(min_value=0, max_value=63), max_size=3),
)
def test_banded_hamming_recall_is_exact_below_threshold(spark, base, flip_bits):
    """The pigeonhole law the q161/q162 lanes rely on: ANY pair within
    Hamming distance 3 of each other (4 bands x 16 bits) must be
    emitted — banding is exact recall below PHASH_BANDS - 1 flips, not
    probabilistic — and the map-side verify must never emit a pair
    past the threshold (third row at distance >= 16)."""
    from sms_db_spark.operators.multimodal import hamming_banded_pairs

    other = list(base)
    for t in flip_bits:
        other[t // 16] ^= 1 << (15 - t % 16)
    far = [v ^ 0xFFFF for v in base]  # distance 64 - d(base, other ...) >= 16
    hashed = spark.createDataFrame(
        [(0, *base), (1, *other), (2, *far)],
        "doc_id long, b0 int, b1 int, b2 int, b3 int",
    )
    got = {(r.doc_a, r.doc_b) for r in hamming_banded_pairs(hashed).collect()}
    assert (0, 1) in got  # exact recall below the threshold
    assert (0, 2) not in got and (1, 2) not in got  # verify filter holds


# --------------------------------------------- audio kernel contract (r13)


@settings(max_examples=20, deadline=None)
@given(
    cut=st.integers(min_value=36, max_value=303),
    body=st.binary(min_size=260, max_size=260),
)
def test_audio_kernel_raises_on_every_truncation_point(cut, body):
    """No truncation point of a canonical 304-byte WAV may silently
    fingerprint (the review-r13 contract): every cut below the full
    container raises — ValueError from the layout/length checks —
    while the intact container always fingerprints to 4 bands. Pure
    python, no Spark session."""
    import pytest as _pytest

    from sms_db_spark.operators.multimodal import (
        AUDIO_DATA_BYTES,
        _audio_kernel,
        _wav_header,
    )

    full = _wav_header(AUDIO_DATA_BYTES) + body
    assert len(_audio_kernel(full)) == 4
    with _pytest.raises(ValueError):
        _audio_kernel(full[:cut])


def test_lsh_precap_matches_postcap_law_on_planted_band_attractor(spark):
    """The r14 pre-cap rewrite's equivalence proof, pinned in CI
    (VERDICT r14 item 5 — tools/ab_precap_lsh.py, deleted after
    d1f9644, ran the 2M-doc A/B once, out-of-band; this keeps the property alive under future
    edits, at seconds scale). A synthetic bands frame plants the
    degenerate shape the cap exists for — ONE band bucket holding 30%
    of the corpus (byte-identical signatures: boilerplate) — plus
    every boundary the cap law has: size 2 (pairs), size == cap
    (pairs), size == cap + 1 (no pairs), singletons (no pairs), and
    attractor members that ALSO share a small bucket in another band
    (they must still pair through it). Asserts:
      (a) the pair set is BIT-IDENTICAL to the post-cap law (an
          independent Python recompute: all (i<j) pairs of every
          2..cap bucket, distinct);
      (b) the executed plan never lets an over-cap bucket reach
          collect_set — the membership count-filter join sits BELOW
          the collect_set aggregate in the optimized plan (the plan
          shape test_q45_lsh_precapped_map_side pins on the real
          lane, re-asserted here on the synthetic frame so the law is
          tested where the values are)."""
    from itertools import combinations

    from sms_db_spark.operators.dedup import lsh_candidate_pairs

    cap = 8
    rows: list[tuple[int, int, str]] = []  # (doc_id, band_id, band_hash)
    n_docs = 100
    # band 0: docs 0..29 byte-identical (the 30% attractor, size 30 > cap);
    # everyone else singleton
    for d in range(n_docs):
        rows.append((d, 0, "ATTRACTOR" if d < 30 else f"s0-{d}"))
    # band 1: boundary buckets — size 2, size cap, size cap+1; two of the
    # attractor docs (3, 4) share a small bucket here and MUST still pair
    for d in range(n_docs):
        if d in (3, 4):
            h = "small-rescue"
        elif 10 <= d < 10 + cap:
            h = "exactly-cap"
        elif 40 <= d < 40 + cap + 1:
            h = "over-by-one"
        else:
            h = f"s1-{d}"
        rows.append((d, 1, h))
    bands = spark.createDataFrame(
        rows, "doc_id long, band_id int, band_hash string"
    )

    got = lsh_candidate_pairs(bands, max_bucket=cap)

    # (b) on the frame under test: collect_set's child subtree contains
    # the membership join (tree prints top-down, so the aggregate line
    # precedes the join line feeding it)
    p = got._jdf.queryExecution().optimizedPlan().toString()
    assert p.count("collect_set") == 1, p
    assert 0 <= p.index("collect_set") < p.rindex("Join"), p

    # (a) independent post-cap-law recompute
    buckets: dict[tuple[int, str], set[int]] = {}
    for d, b, h in rows:
        buckets.setdefault((b, h), set()).add(d)
    want = set()
    for members in buckets.values():
        if 2 <= len(members) <= cap:
            want |= set(combinations(sorted(members), 2))
    assert (3, 4) in want  # the rescue path is actually exercised
    # the attractor bucket itself contributes nothing: every pair among
    # its members comes from a band-1 bucket — (3,4) via small-rescue,
    # 10..17 via exactly-cap; docs 0..9 other than (3,4) never pair
    assert not any(a < 10 and b < 10 and (a, b) != (3, 4) for a, b in want)
    assert all(
        (a, b) == (3, 4) or (10 <= a < 18 and 10 <= b < 18)
        for a, b in want
        if a < 30 and b < 30
    )

    have = {(r.doc_a, r.doc_b) for r in got.collect()}
    assert have == want
