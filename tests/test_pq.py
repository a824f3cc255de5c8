"""Pin the PQ kernel laws (similarity.q166 family) against brute-force
NumPy on crafted vectors — the driver gate proves Spark==DuckDB on the
corpus; these prove both equal the MATH (L2-identity assignment with
the smaller-cid tiebreak, floored-int subspace means, integer-LUT ADC
equal to the sum of subspace dots up to quantization)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sms_db_spark.operators.similarity import (
    KMEANS_SCALE,
    PQ_DSUB,
    PQ_LUT_SCALE,
    PQ_M,
    _normalized_corpus,
    _pq_assign,
    _pq_subvecs,
    _pq_update,
    DIM,
)


def _emb_df(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_assign_is_l2_argmin_with_cid_tiebreak(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, DIM)
    cbv = rng.randn(4, DIM)  # 4 codes per subspace, from 4 donor vectors
    nv = _normalized_corpus(_emb_df(spark, vecs))
    sub = _pq_subvecs(nv)
    cb = _pq_subvecs(_normalized_corpus(_emb_df(spark, cbv))).select(
        "m", F.col("vec_id").alias("cid"), F.col("s").alias("c")
    )
    got = {
        (r.vec_id, r.m): r.cid for r in _pq_assign(sub, cb).collect()
    }
    nv_np = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cb_np = cbv / np.linalg.norm(cbv, axis=1, keepdims=True)
    for i in range(20):
        for m in range(PQ_M):
            s = nv_np[i, m * PQ_DSUB : (m + 1) * PQ_DSUB]
            d2 = ((cb_np[:, m * PQ_DSUB : (m + 1) * PQ_DSUB] - s) ** 2).sum(axis=1)
            # np.argmin returns the SMALLEST index among ties — the
            # same tiebreak the kernel's max(struct(score, -cid)) law
            # encodes
            assert got[(i, m)] == int(np.argmin(d2)), (i, m, d2)


def test_pq_update_is_floored_int_mean(spark):
    # two vectors assigned to one code in one subspace: the mean must
    # be floor(x*S) summed as ints then divided — NOT the float mean
    rows = [
        (0, 0, [0.15 + 1e-7] * PQ_DSUB, 3),
        (1, 0, [0.25 + 1e-7] * PQ_DSUB, 3),
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id long, m int, s array<double>, cid long"
    )
    out = _pq_update(assigned).collect()
    assert len(out) == 1 and out[0].m == 0 and out[0].cid == 3
    want = (
        np.floor(0.15 * KMEANS_SCALE + 1e-7 * KMEANS_SCALE)
        + np.floor(0.25 * KMEANS_SCALE + 1e-7 * KMEANS_SCALE)
    ) / 2.0 / KMEANS_SCALE
    for comp in out[0].c:
        assert comp == pytest.approx(want, abs=0)


def test_pq_lut_scale_quantizes_identically_to_oracle_floor():
    # the law both engines share: floor(w * SCALE) on the DOUBLE dot —
    # pin the constant so a drive-by "round for accuracy" change on
    # one side cannot slip past the unit suite
    assert PQ_LUT_SCALE == KMEANS_SCALE == 1_000_000


def test_normalized_corpus_survives_zero_vector(spark):
    # the review-r14 crash path: one all-zero (failed-encode) embedding
    # under Spark 4's default ANSI mode threw DIVIDE_BY_ZERO in the
    # unguarded normalization; the shared _normalized_corpus routes the
    # divisor through _safe_nrm, mapping the zero vector to the zero
    # direction instead
    emb = spark.createDataFrame(
        [(0, [0.0] * DIM), (1, [1.0] + [0.0] * (DIM - 1))],
        "vec_id long, embedding array<double>",
    )
    got = {r.vec_id: r.n for r in _normalized_corpus(emb).collect()}
    assert got[0] == [0.0] * DIM  # zero direction, not a crash
    assert got[1][0] == 1.0 and got[1][1:] == [0.0] * (DIM - 1)


def test_pq_shared_builds_fresh_state_per_invocation(spark, tmp_path):
    """No cross-invocation memo (r17 optimization round): every
    _pq_shared call returns its OWN state dict built from the parquet
    inputs — two calls over the same corpus dir share nothing, so a
    timed re-execution can never serve pre-built training state from an
    earlier invocation, and no module-level structure keyed on the
    corpus dir survives the call."""
    from sms_db_spark.operators import similarity as S

    d = tmp_path / "corpus"
    d.mkdir()
    spark.createDataFrame(
        [(j, [float(j)] * S.DIM) for j in range(4)],
        "vec_id long, embedding array<double>",
    ).write.parquet(str(d / "embeddings.parquet"))

    s1 = S._pq_shared(spark, str(d))
    s2 = S._pq_shared(spark, str(d))
    assert s1 is not s2
    # distinct pinned frames, not shared references to one build
    assert s1["nv"] is not s2["nv"]
    assert s1["nv"].count() == s2["nv"].count() == 4
    # the module holds no cache structure at all
    assert not hasattr(S, "_PQ_SHARED_CACHE")


def test_map_side_lut_and_encoder_skip_a_dropped_code(spark):
    # Lloyd can drop an empty code from a codebook: one missing
    # (m=1, cid=3) packs (_pq_pack_codebook) to a NULL slot, the
    # per-query LUTs (_pq_lut_sql, flat and residual weights) keep a
    # DENSE PQ_M x PQ_CODES grid that reads 0 there — a position-packed
    # grid would shift every later entry and ADC would read the wrong
    # code's weight — and the encoder (_pq_code_sql) never emits that
    # code, even for vectors whose subspace 1 sits exactly on the
    # dropped code's centroid
    from sms_db_spark.operators.similarity import (
        PQ_CODES,
        _dot_sql,
        _pq_code_sql,
        _pq_lut_sql,
        _pq_pack_codebook,
        _sqdist_sql,
    )

    def dropped(m, cid):
        return m == 1 and cid == 3

    def fold(terms):  # the kernels' left-to-right double fold
        acc = 0.0
        for t in terms:
            acc += t
        return acc

    rng = np.random.RandomState(11)
    cbv = rng.randn(PQ_M, PQ_CODES, PQ_DSUB)
    cb = spark.createDataFrame(
        [
            (m, cid, [float(x) for x in cbv[m, cid]])
            for m in range(PQ_M)
            for cid in range(PQ_CODES)
            if not dropped(m, cid)
        ],
        "m int, cid long, c array<double>",
    )
    vecs = rng.randn(6, DIM)
    vecs[:, PQ_DSUB : 2 * PQ_DSUB] = cbv[1, 3]
    nv = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, n array<double>",
    )
    got = (
        nv.crossJoin(_pq_pack_codebook(cb))
        .select(
            "n",
            F.expr(_pq_code_sql("n", "cbd")).alias("codes"),
            F.expr(_pq_lut_sql("n", "cbd", _dot_sql)).alias("flut"),
            F.expr(_pq_lut_sql("n", "cbd", _sqdist_sql)).alias("rlut"),
        )
        .collect()
    )
    assert len(got) == len(vecs)
    for r in got:
        assert len(r.flut) == len(r.rlut) == PQ_M * PQ_CODES
        for m in range(PQ_M):
            s = r.n[m * PQ_DSUB : (m + 1) * PQ_DSUB]
            present = [cid for cid in range(PQ_CODES) if not dropped(m, cid)]
            d2 = {c: ((cbv[m, c] - np.array(s)) ** 2).sum() for c in present}
            assert r.codes[m] == min(present, key=lambda c: (d2[c], c)), m
            for cid in range(PQ_CODES):
                k = m * PQ_CODES + cid
                if dropped(m, cid):
                    assert r.flut[k] == r.rlut[k] == 0
                    continue
                c = cbv[m, cid]
                dot = fold(x * float(y) for x, y in zip(s, c))
                sq = fold((x - float(y)) * (x - float(y)) for x, y in zip(s, c))
                assert r.flut[k] == int(np.floor(dot * PQ_LUT_SCALE)), k
                assert r.rlut[k] == int(np.floor(sq * PQ_LUT_SCALE)), k
        assert r.codes[1] != 3
