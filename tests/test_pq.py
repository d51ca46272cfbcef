"""IVF-PQ must match an independent NumPy transcription end to end
(codebook training → encoding → coarse cells → ADC top-1) from the same
deterministic inputs — the golden gate that breaks the symmetry with the
DuckDB oracle (which replays the same algebra in SQL)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest


def _phash(i: int) -> int:
    """portable_hash64 of str(i) — first 15 md5 hex chars as int."""
    return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)


def _numpy_kmeans(pts, ids, k, n_iter, round_to):
    """kmeans_fit transcription: hash-seeded init, argmin round(d2,12)
    with first-min (= cid asc) ties, per-iteration round(mean, round_to),
    empty cluster keeps its previous centroid."""
    order = sorted(range(len(ids)), key=lambda i: (_phash(ids[i]), ids[i]))
    C = pts[order[:k]].astype(float).copy()
    for _ in range(n_iter):
        d2 = ((pts[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = np.argmin(np.round(d2, 12), axis=1)
        for c in range(k):
            if np.any(a == c):
                C[c] = np.round(pts[a == c].mean(axis=0), round_to)
    return C


def _numpy_ivfpq_top1(pts, ids, m, sub, k_codes, n_iter, cent_ids):
    dim = m * sub
    books = [
        _numpy_kmeans(pts[:, j * sub : (j + 1) * sub], ids, k_codes, n_iter, 9)
        for j in range(m)
    ]
    cents = {cid: pts[list(ids).index(cid)] for cid in cent_ids}

    def cell(v):
        scored = sorted(
            (np.round(((v - cv) ** 2).sum(), 9), cid) for cid, cv in cents.items()
        )
        return scored[0][1]

    def codes(v):
        out = []
        for j in range(m):
            svec = v[j * sub : (j + 1) * sub]
            d2 = np.round(((books[j] - svec) ** 2).sum(axis=1), 12)
            out.append(int(np.argmin(d2)))  # first min = cid asc ties
        return out

    left = [(i, pts[n]) for n, i in enumerate(ids) if i % 2 == 0]
    right = [(i, pts[n]) for n, i in enumerate(ids) if i % 2 == 1]
    rcodes = {i: codes(v) for i, v in right}
    rcell = {i: cell(v) for i, v in right}
    expect = {}
    for lid, lv in left:
        lcell = cell(lv)
        best = None
        for rid, _rv in right:
            if rcell[rid] != lcell:
                continue
            adc = 0.0
            for j in range(m):  # fixed subspace order
                svec = lv[j * sub : (j + 1) * sub]
                cv = books[j][rcodes[rid][j]]
                adc += np.round(((svec - cv) ** 2).sum(), 9)
            adc = np.round(adc, 6)
            key = (adc, rid)
            if best is None or key < best:
                best = key
        if best is not None:
            expect[lid] = (best[1], best[0])
    return expect


def _fixture(spark):
    rng = np.random.default_rng(11)
    n, dim = 40, 8
    pts = np.round(rng.normal(size=(n, dim)), 6)  # exact-decimal inputs
    ids = list(range(n))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in ids],
        "id long, vec array<double>",
    )
    cent_ids = [0, 10, 20, 30]
    cents = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in cent_ids],
        "cid long, cvec array<double>",
    )
    return pts, ids, emb, cent_ids, cents


def test_ivfpq_top1_matches_numpy(spark):
    from pyspark.sql import functions as F

    from ontoea_spark.operators.pq import ivfpq_topk_join, pq_train_codebooks

    pts, ids, emb, cent_ids, cents = _fixture(spark)
    m, sub, k_codes, n_iter = 2, 4, 3, 2

    books = pq_train_codebooks(emb, m=m, k=k_codes, dim=8, n_iter=n_iter)
    left = emb.filter(F.col("id") % 2 == 0)
    right = emb.filter(F.col("id") % 2 == 1)
    got = {
        r.lid: (r.rid, r.adc_d2)
        for r in ivfpq_topk_join(
            left, right, cents, books, k=1, m=m, dim=8
        ).collect()
    }
    want = _numpy_ivfpq_top1(pts, ids, m, sub, k_codes, n_iter, cent_ids)
    assert got == want
    assert len(got) > 0

    # a corpus vector exactly between two codebook entries takes the
    # lower cid as its code, so its ADC is the query's lut[0] = 4.0
    tie_books = spark.createDataFrame(
        [(0, 1, [1.0, 0.0]), (0, 0, [-1.0, 0.0])],
        "j int, cid long, cvec array<double>",
    )
    one_cell = spark.createDataFrame([(0, [0.0, 0.0])], "cid long, cvec array<double>")
    query = spark.createDataFrame([(0, [1.0, 0.0])], "id long, vec array<double>")
    corpus = spark.createDataFrame([(1, [0.0, 3.0])], "id long, vec array<double>")
    tie = ivfpq_topk_join(query, corpus, one_cell, tie_books, k=1, m=1, dim=2)
    assert [tuple(r) for r in tie.collect()] == [(0, 1, 4.0)]


def _numpy_ivfpq_top1_nprobe(pts, ids, m, sub, k_codes, n_iter, cent_ids, nprobe):
    """Raw-vector IVF-PQ with the query probing its nprobe nearest
    cells; candidates are rids indexed in any probed cell."""
    books = [
        _numpy_kmeans(pts[:, j * sub : (j + 1) * sub], ids, k_codes, n_iter, 9)
        for j in range(m)
    ]
    cents = {cid: pts[list(ids).index(cid)] for cid in cent_ids}

    def cells(v, n):
        scored = sorted(
            (np.round(((v - cv) ** 2).sum(), 9), cid) for cid, cv in cents.items()
        )
        return [cid for _, cid in scored[:n]]

    def codes(v):
        out = []
        for j in range(m):
            svec = v[j * sub : (j + 1) * sub]
            d2 = np.round(((books[j] - svec) ** 2).sum(axis=1), 12)
            out.append(int(np.argmin(d2)))
        return out

    left = [(i, pts[n]) for n, i in enumerate(ids) if i % 2 == 0]
    right = [(i, pts[n]) for n, i in enumerate(ids) if i % 2 == 1]
    rcodes = {i: codes(v) for i, v in right}
    rcell = {i: cells(v, 1)[0] for i, v in right}
    expect = {}
    for lid, lv in left:
        probed = set(cells(lv, nprobe))
        best = None
        for rid, _rv in right:
            if rcell[rid] not in probed:
                continue
            adc = 0.0
            for j in range(m):
                svec = lv[j * sub : (j + 1) * sub]
                cv = books[j][rcodes[rid][j]]
                adc += np.round(((svec - cv) ** 2).sum(), 9)
            adc = np.round(adc, 6)
            key = (adc, rid)
            if best is None or key < best:
                best = key
        if best is not None:
            expect[lid] = (best[1], best[0])
    return expect


def test_ivfpq_nprobe_matches_numpy(spark):
    """Multi-probe raw-vector PQ vs the NumPy transcription, and the
    answered-query count must be monotone in nprobe."""
    from pyspark.sql import functions as F

    from ontoea_spark.operators.pq import ivfpq_topk_join, pq_train_codebooks

    pts, ids, emb, cent_ids, cents = _fixture(spark)
    m, sub, k_codes, n_iter = 2, 4, 3, 2
    books = pq_train_codebooks(emb, m=m, k=k_codes, dim=8, n_iter=n_iter)
    left = emb.filter(F.col("id") % 2 == 0)
    right = emb.filter(F.col("id") % 2 == 1)
    answered = []
    for np_ in (1, 2):
        got = {
            r.lid: (r.rid, r.adc_d2)
            for r in ivfpq_topk_join(
                left, right, cents, books, k=1, m=m, dim=8, nprobe=np_
            ).collect()
        }
        want = _numpy_ivfpq_top1_nprobe(
            pts, ids, m, sub, k_codes, n_iter, cent_ids, np_
        )
        assert got == want, np_
        answered.append(len(got))
    assert answered == sorted(answered)


def _numpy_residual_top1(pts, ids, m, sub, k_codes, n_iter, cent_ids, nprobe=1):
    """Faithful IVFADC: codebooks trained on coarse residuals, corpus
    codes from residuals w.r.t. each corpus vector's own cell, query LUT
    from the query's residual w.r.t. EACH PROBED CELL (= the candidate's
    encoding basis)."""
    cents = {cid: pts[list(ids).index(cid)] for cid in cent_ids}

    def cells(v, n):
        scored = sorted(
            (np.round(((v - cv) ** 2).sum(), 9), cid) for cid, cv in cents.items()
        )
        return [cid for _, cid in scored[:n]]

    def cell(v):
        return cells(v, 1)[0]

    res = np.stack([pts[n] - cents[cell(pts[n])] for n in range(len(ids))])
    books = [
        _numpy_kmeans(res[:, j * sub : (j + 1) * sub], ids, k_codes, n_iter, 9)
        for j in range(m)
    ]

    def codes(v):
        out = []
        for j in range(m):
            svec = v[j * sub : (j + 1) * sub]
            d2 = np.round(((books[j] - svec) ** 2).sum(axis=1), 12)
            out.append(int(np.argmin(d2)))
        return out

    left = [(i, n) for n, i in enumerate(ids) if i % 2 == 0]
    right = [(i, n) for n, i in enumerate(ids) if i % 2 == 1]
    rcodes = {i: codes(res[n]) for i, n in right}
    rcell = {i: cell(pts[n]) for i, n in right}
    expect = {}
    for lid, ln in left:
        probed = set(cells(pts[ln], nprobe))
        best = None
        for rid, _rn in right:
            if rcell[rid] not in probed:
                continue
            # query residual w.r.t. the CANDIDATE's cell (its encoding
            # basis) — equals the own-cell residual when nprobe == 1
            lres = pts[ln] - cents[rcell[rid]]
            adc = 0.0
            for j in range(m):
                svec = lres[j * sub : (j + 1) * sub]
                cv = books[j][rcodes[rid][j]]
                adc += np.round(((svec - cv) ** 2).sum(), 9)
            adc = np.round(adc, 6)
            key = (adc, rid)
            if best is None or key < best:
                best = key
        if best is not None:
            expect[lid] = (best[1], best[0])
    return expect


@pytest.mark.parametrize("nprobe", [1, 2])
def test_ivfpq_residual_matches_numpy(spark, nprobe):
    """residual=True (faithful FAISS IVFADC) against an independent NumPy
    transcription — codebooks trained on residualized input; at nprobe=2
    the query LUT is rebuilt per probed cell (the candidate's encoding
    basis)."""
    from pyspark.sql import functions as F

    from ontoea_spark.operators.pq import (
        ivfpq_topk_join,
        pq_train_codebooks,
        residualize,
    )

    pts, ids, emb, cent_ids, cents = _fixture(spark)
    m, sub, k_codes, n_iter = 2, 4, 3, 2

    # train codebooks on coarse residuals (vector minus own-cell centroid)
    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        "cd2",
        F.round(
            F.aggregate(
                F.zip_with("vec", "cvec", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        ),
    )
    cells = (
        scored.groupBy("id")
        .agg(F.min(F.struct("cd2", "cid")).alias("b"))
        .select("id", F.col("b.cid").alias("cell"))
    )
    res_emb = residualize(emb, cells, cents)
    books = pq_train_codebooks(res_emb, m=m, k=k_codes, dim=8, n_iter=n_iter)

    got = {
        r.lid: (r.rid, r.adc_d2)
        for r in ivfpq_topk_join(
            emb.filter(F.col("id") % 2 == 0),
            emb.filter(F.col("id") % 2 == 1),
            cents,
            books,
            k=1,
            m=m,
            dim=8,
            residual=True,
            nprobe=nprobe,
        ).collect()
    }
    want = _numpy_residual_top1(
        pts, ids, m, sub, k_codes, n_iter, cent_ids, nprobe=nprobe
    )
    assert got == want
    assert len(got) > 0


def test_ivfpq_partition_invariant(spark):
    from pyspark.sql import functions as F

    from ontoea_spark.operators.pq import ivfpq_topk_join, pq_train_codebooks

    _pts, _ids, emb, _cent_ids, cents = _fixture(spark)
    outs = []
    for parts in (2, 7):
        e = emb.repartition(parts, "vec")
        books = pq_train_codebooks(e, m=2, k=3, dim=8, n_iter=2)
        res = ivfpq_topk_join(
            e.filter(F.col("id") % 2 == 0),
            e.filter(F.col("id") % 2 == 1),
            cents,
            books,
            k=1,
            m=2,
            dim=8,
        )
        outs.append(sorted(map(tuple, res.collect())))
    assert outs[0] == outs[1]


def test_pq_validation(spark):

    from ontoea_spark.operators.pq import pq_train_codebooks, subvectors

    _pts, _ids, emb, _cent_ids, _cents = _fixture(spark)
    with pytest.raises(ValueError, match="divisible"):
        subvectors(emb, m=3, dim=8)
    with pytest.raises(ValueError, match="divisible"):
        pq_train_codebooks(emb, m=5, k=2, dim=8)
