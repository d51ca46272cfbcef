"""Distributed Lloyd's must match an independent NumPy transcription
from the same deterministic init (golden gate — no SQL oracle for
iterative algorithms)."""

from __future__ import annotations

import numpy as np


def _blobs(rng, n_per=20, dim=4):
    centers = np.array(
        [[5.0, 0, 0, 0], [0, 5.0, 0, 0], [0, 0, 5.0, 0]]
    )
    pts = np.vstack(
        [c + rng.normal(0, 0.3, size=(n_per, dim)) for c in centers]
    )
    return pts


def _numpy_lloyd(pts, init, n_iter):
    C = init.copy()
    for _ in range(n_iter):
        d2 = ((pts[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = np.argmin(np.round(d2, 12), axis=1)
        for c in range(len(C)):
            if np.any(a == c):
                C[c] = pts[a == c].mean(axis=0)
    return C, a


def test_kmeans_matches_numpy(spark):
    from ontoea_spark.operators.kmeans import assign_cells, kmeans_fit, kmeans_init

    rng = np.random.default_rng(3)
    pts = _blobs(rng)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(len(pts))],
        "id long, vec array<double>",
    )
    init = kmeans_init(emb, k=3)
    init_mat = np.array(
        [r.cvec for r in sorted(init.collect(), key=lambda r: r.cid)]
    )
    want_C, want_a = _numpy_lloyd(pts, init_mat, n_iter=5)

    got = kmeans_fit(emb, k=3, n_iter=5)
    got_C = np.array([r.cvec for r in sorted(got.collect(), key=lambda r: r.cid)])
    assert np.allclose(got_C, want_C, atol=1e-9)

    got_a = {
        r.id: r.cid for r in assign_cells(emb, got).collect()
    }
    for i in range(len(pts)):
        assert got_a[i] == want_a[i]
    # blobs must be separated: 3 distinct cells, 20 members each
    from collections import Counter

    assert sorted(Counter(got_a.values()).values()) == [20, 20, 20]

    # a point exactly between two centroids goes to the lower cid, in
    # whichever order the centroid rows arrive
    tie_cents = spark.createDataFrame(
        [(5, [-1.0, 0.0]), (3, [1.0, 0.0])], "cid long, cvec array<double>"
    )
    tie = spark.createDataFrame([(0, [0.0, 2.0])], "id long, vec array<double>")
    assert [r.cid for r in assign_cells(tie, tie_cents).collect()] == [3]


def test_null_vector_gets_no_cell(spark):
    """One NULL-vector row means the same on every nearest-centroid
    path: a NULL cid from assign_cells, no row from the IVF or IVF-PQ
    joins, and no effect on k-means or PQ training. Empty inputs give
    empty outputs."""
    from pyspark.sql import functions as F

    from ontoea_spark.operators.kmeans import assign_cells, kmeans_fit
    from ontoea_spark.operators.pq import ivfpq_topk_join, pq_train_codebooks
    from ontoea_spark.operators.simjoin import ivf_topk_join

    rng = np.random.default_rng(5)
    pts = _blobs(rng, n_per=4)
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    schema = "id long, vec array<double>"
    emb = spark.createDataFrame(rows, schema)
    # id 27 hashes before ids 0..11, so a seed query that kept NULL
    # vectors would pick it
    with_null = spark.createDataFrame(rows + [(27, None)], schema)
    empty = spark.createDataFrame([], schema)
    cents = kmeans_fit(emb, k=3, n_iter=2)

    def rows_of(df):
        return sorted(map(tuple, df.collect()))

    assert rows_of(kmeans_fit(with_null, k=3, n_iter=2)) == rows_of(cents)
    books = pq_train_codebooks(emb, m=2, k=2, dim=4)
    assert rows_of(pq_train_codebooks(with_null, m=2, k=2, dim=4)) == rows_of(books)

    cells = {r.id: r.cid for r in assign_cells(with_null, cents).collect()}
    assert cells[27] is None
    assert None not in [cells[i] for i in range(len(pts))]
    assert assign_cells(empty, cents).count() == 0

    null_left = with_null.filter((F.col("id") % 2 == 0) | F.col("vec").isNull())
    odd = emb.filter(F.col("id") % 2 == 1)
    for q, c in ((null_left, odd), (odd, null_left)):
        for out in (
            ivf_topk_join(q, c, cents, k=1, nprobe=2),
            ivfpq_topk_join(q, c, cents, books, k=1, m=2, dim=4, nprobe=2),
            ivfpq_topk_join(
                q, c, cents, books, k=1, m=2, dim=4, residual=True, nprobe=2
            ),
        ):
            got = out.collect()
            assert 27 not in {r.lid for r in got} | {r.rid for r in got}
            assert all(v is not None for r in got for v in r)
    for q, c in ((empty, odd), (odd, empty)):
        assert ivf_topk_join(q, c, cents, k=1).count() == 0
        assert ivfpq_topk_join(q, c, cents, books, k=1, m=2, dim=4).count() == 0
