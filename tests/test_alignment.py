"""End-to-end alignment quality + determinism + distributed-gradient
equivalence (SURVEY.md §5 rebuild test strategy)."""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import REPO  # noqa: F401

from ontoea_spark.training.align_pipeline import (
    evaluate,
    prepare_from_parts,
    run_benchmark_alignment,
    train,
)
from ontoea_spark.training.benchgen import generate_two_kg
from ontoea_spark.training.trainer import (
    MLPHead,
    OntoEATrainer,
    TrainConfig,
    _batch_index,
    limited_loss_grads,
)


def test_mlp_head_gradients_fd():
    """E3/E4 MLP path (losses.py:96-137): analytic backprop through
    l2norm∘tanh∘affine matches central finite differences on the full
    hier limited loss."""
    rng = np.random.default_rng(11)
    d = 6
    head = MLPHead(rng, d, d, lr=0.01)
    X = rng.normal(size=(5, d))
    tgt_p = rng.normal(size=(5, d))
    tgt_n = rng.normal(size=(5, d))
    pm, nm, bal = 0.01, 2.0, 0.2

    def loss_at(W, b, Xv):
        u = Xv @ W + b
        a = np.tanh(u)
        z = a / np.linalg.norm(a, axis=1, keepdims=True)
        loss, _, _ = limited_loss_grads(z - tgt_p, z - tgt_n, pm, nm, bal)
        return loss

    # analytic grads (capture before backward's Adagrad mutates W/b)
    W0, b0 = head.W.copy(), head.b.copy()
    z, cache = head.forward(X)
    loss, pc, nc = limited_loss_grads(z - tgt_p, z - tgt_n, pm, nm, bal)
    dz = 2.0 * pc[:, None] * (z - tgt_p) + 2.0 * nc[:, None] * (z - tgt_n)
    # recompute the internal grads without the optimizer step
    Xc, a, norms, zc = cache
    da = (dz - np.sum(dz * zc, axis=1, keepdims=True) * zc) / norms
    du = da * (1.0 - a * a)
    gw, gb, gx = Xc.T @ du, du.sum(axis=0), du @ W0.T

    eps = 1e-6
    for g_analytic, arr, setter in (
        (gw, W0, lambda m: loss_at(m, b0, X)),
        (gb, b0, lambda m: loss_at(W0, m, X)),
        (gx, X, lambda m: loss_at(W0, b0, m)),
    ):
        flat = arr.ravel()
        for i in rng.choice(flat.size, size=min(8, flat.size), replace=False):
            orig = flat[i]
            flat[i] = orig + eps
            lp = setter(arr)
            flat[i] = orig - eps
            lm = setter(arr)
            flat[i] = orig
            fd = (lp - lm) / (2 * eps)
            assert abs(fd - g_analytic.ravel()[i]) < 1e-5 * max(
                1.0, abs(fd)
            ), (i, fd, g_analytic.ravel()[i])


def test_prob_based_onto_negatives():
    """B6 (sample.py:7-41): with onto_neg_sampling='prob_based' the
    hierarchy negatives follow softmax(1 - onto_mat) per corrupted
    class — a class in strong conflict with the child (low compat) must
    be drawn far more often than a compatible one."""
    n_cls = 4
    cfg = TrainConfig(dim=8, onto_neg_sampling="prob_based", seed=9)
    m = OntoEATrainer(10, 2, n_cls, cfg)
    onto_mat = np.ones((n_cls, n_cls))
    onto_mat[2, 0] = -5.0  # class 2 conflicts hard with class 0
    m.set_onto_neg_probs(onto_mat)
    # expected distribution for child class 0 (column 0)
    x = 1.0 - onto_mat[:, 0]
    p = np.exp(x) / np.exp(x).sum()
    edges = np.zeros((4000, 2), dtype=np.int64)  # all children class 0
    edges[:, 1] = 1
    cdf = m._onto_neg_cdf
    u = m.rng.random(len(edges))
    npa = np.argmax(cdf[:, edges[:, 0]] > u[None, :], axis=0)
    freq = np.bincount(npa, minlength=n_cls) / len(npa)
    assert np.allclose(freq, p, atol=0.03), (freq, p)
    assert freq[2] > 10 * freq[0]
    # and the trainer path runs end-to-end with the flag on
    rng = np.random.default_rng(0)
    tri = rng.integers(0, [10, 2, 10], size=(20, 3)).astype(np.int64)
    sub = rng.integers(0, n_cls, size=(6, 2)).astype(np.int64)
    cv = rng.integers(0, [10, n_cls], size=(8, 2)).astype(np.int64)
    tr = rng.integers(0, 10, size=(6, 2)).astype(np.int64)
    cfg2 = TrainConfig(
        dim=8, epochs=4, sub_epoch=2, onto_neg_sampling="prob_based", seed=9
    )
    m2 = OntoEATrainer(10, 2, n_cls, cfg2)
    m2.fit(tri, sub, cv, tr, onto_mat=onto_mat)
    assert m2._onto_neg_cdf is not None


def test_schedule_step_counts():
    """E8 (ontoea.py:580-604): per iteration — sub_epoch triple/
    hierarchy/membership epochs, align_sub_epoch mapping epochs,
    onto_likelihood_epochs x (n_cls//slice) likelihood steps."""
    rng = np.random.default_rng(0)
    n_ent, n_cls = 40, 12
    cfg = TrainConfig(
        dim=8,
        epochs=20,
        sub_epoch=5,
        align_sub_epoch=2,
        onto_likelihood_epochs=3,
        likelihood_slice=4,
        batch_size=1000,
        eval_freq=10**9,  # no eval => no early stop
        seed=1,
    )
    m = OntoEATrainer(n_ent, 3, n_cls, cfg)
    tri = rng.integers(0, [n_ent, 3, n_ent], size=(30, 3)).astype(np.int64)
    sub = rng.integers(0, n_cls, size=(6, 2)).astype(np.int64)
    cv = rng.integers(0, [n_ent, n_cls], size=(10, 2)).astype(np.int64)
    tr = rng.integers(0, n_ent, size=(8, 2)).astype(np.int64)
    onto_mat = rng.random((n_cls, n_cls))
    m.fit(tri, sub, cv, tr, onto_mat=onto_mat)
    iters = 20 // 5
    assert m.step_counts["triples"] == iters * 5  # 1 batch/epoch here
    assert m.step_counts["hierarchy"] == iters * 5
    assert m.step_counts["membership"] == iters * 5
    assert m.step_counts["mapping"] == iters * 2
    assert m.step_counts["likelihood"] == iters * 3 * (12 // 4)


@pytest.fixture(scope="module")
def bench_data(spark):
    b = generate_two_kg(spark, n_ent=300, seed=42)
    return prepare_from_parts(spark, b.triples1, b.triples2, b.links, b.cv)


@pytest.fixture(scope="module")
def bench_model(bench_data):
    """One trained reference model shared by the quality / CSLS /
    candidate-parity tests (training is deterministic per seed, so
    sharing changes nothing but the suite wall)."""
    return train(bench_data, TrainConfig(dim=32, epochs=100, seed=42))


def test_alignment_quality(spark, bench_data, bench_model):
    """OntoEA-style quality on the D-W-15K-style synthetic benchmark:
    near-isomorphic KGs with 70% seed links must align almost perfectly."""
    m = evaluate(spark, bench_data, bench_model).collect()[0]
    assert m.hits1 >= 0.9, m.asDict()
    assert m.hits10 == 1.0, m.asDict()
    assert m.mrr >= 0.93, m.asDict()


def _compat_rows(spark, data) -> dict:
    from ontoea_spark.training.align_pipeline import _compat_table

    rows = _compat_table(spark, data, None, "compat", 1.0).collect()
    out = {(r.c1, r.c2): r.score for r in rows}
    assert len(out) == len(rows)
    return out


def _onto_mat_rows(data) -> dict:
    name = {r.cls_id: r.cls for r in data.cls_ids.collect()}
    return {
        (name[i], name[j]): float(data.onto_mat[i, j])
        for i in name
        for j in name
    }


def test_compat_table_is_prepared_onto_mat(spark, bench_data):
    """Evaluation scores exactly the conflict matrix the trainer saw:
    one (c1, c2) row per pair of prepared classes, with onto_mat's
    score — also for a cv class without a ``cls`` prefix (``type:b``),
    which an eval-time ontology rebuild over ``cls%`` leaves dropped."""
    t1 = spark.createDataFrame(
        [("a1", "r", "a2"), ("a2", "r", "a3")], "s string, p string, o string"
    )
    t2 = spark.createDataFrame(
        [("b1", "q", "b2"), ("b2", "q", "b3")], "s string, p string, o string"
    )
    links = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2"), ("a3", "b3")], "e1 string, e2 string"
    )
    cv = spark.createDataFrame(
        [("a1", "cls:a"), ("b1", "type:b")], "entity string, cls string"
    )
    data = prepare_from_parts(spark, t1, t2, links, cv)
    expected = _onto_mat_rows(data)
    assert ("type:b", "type:b") in expected
    assert _compat_rows(spark, data) == expected

    # the generate_two_kg benchmark: 26 leaves + 6 tree classes
    expected = _onto_mat_rows(bench_data)
    assert bench_data.n_cls == 32 and len(expected) == 1024
    assert _compat_rows(spark, bench_data) == expected


def test_compat_table_runs_no_ontology_job(spark, bench_data):
    """Building and reading the compat table costs at most one Spark job
    (the class-name collect): no ontology plan runs at eval."""
    from ontoea_spark.training.align_pipeline import _compat_table

    sc = spark.sparkContext
    group = "test-compat-table-jobs"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        _compat_table(spark, bench_data, None, "compat", 1.0).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1


# md5s of the trainer inputs prepare_from_parts builds from
# generate_two_kg(n_ent=200, seed=11, vectorized=True) in the local[4]
# test session. The trainer RNG walks these arrays in row order, so a
# plan change that reorders any of them changes every trained model
# even though each is the same set of rows.
_TRAINER_INPUT_MD5 = {
    "cls_path_ids": "c81c5b51cafe246126ee621baa6d5f90",
    "cv_ids": "d45b42144257b38865632ed0bf40e133",
    "edges": "090e16700996d41fe36793e8a090c160",
    "links_split": "e7f947c14fe63cd531e8faf6c566131a",
    "onto_mat": "c7955608c70b8439f800f2d1b55b880d",
    "sub_ids": "9582b5440d69bf2ce235535fa691ffbc",
}


def _trainer_input_md5(d) -> dict:
    """md5 of each trainer input of a prepare, in its row order."""
    import hashlib

    def md5(x) -> str:
        raw = x.tobytes() if isinstance(x, np.ndarray) else repr(x).encode()
        return hashlib.md5(raw).hexdigest()

    edges = d.edges.select("s_id", "p_id", "o_id").collect()
    return {
        "cls_path_ids": md5(
            sorted((int(k), [int(x) for x in v]) for k, v in d.cls_path_ids.items())
        ),
        "cv_ids": md5([(r.ent_id, r.cls_id) for r in d.cv_ids.collect()]),
        "edges": md5([(r.s_id, r.p_id, r.o_id) for r in edges]),
        "links_split": md5([(r.id1, r.id2, r.split) for r in d.links_split.collect()]),
        "onto_mat": md5(np.ascontiguousarray(d.onto_mat, dtype=np.float64)),
        "sub_ids": md5(np.ascontiguousarray(d.sub_ids, dtype=np.int64)),
    }


def test_trainer_inputs_keep_their_order(spark):
    """Edges, cv, split links, subclass pairs, the conflict matrix and
    the class paths come out of prepare in the pinned row order."""
    b = generate_two_kg(spark, n_ent=200, seed=11, vectorized=True)
    d = prepare_from_parts(spark, b.triples1, b.triples2, b.links, b.cv)
    assert _trainer_input_md5(d) == _TRAINER_INPUT_MD5


def test_repeated_prepares_keep_their_order(spark):
    """Back-to-back prepares of one input, in one session, give the same
    trainer inputs: no join's build side (and so no row order the
    trainer RNG walks) depends on which shuffle stage AQE sees finish
    first. The input is the ``align`` benchmark's (600 entities per KG,
    seed 4, at its 4 shuffle partitions), where an unhinted dictionary
    join flipped sides in some prepares."""
    b = generate_two_kg(
        spark, n_ent=600, n_rel=24, n_triples=4800, seed=4, vectorized=True
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        runs = []
        for _ in range(5):
            spark.catalog.clearCache()
            d = prepare_from_parts(spark, b.triples1, b.triples2, b.links, b.cv)
            runs.append(_trainer_input_md5(d))
    finally:
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert all(r == runs[0] for r in runs), runs


def test_training_determinism(bench_data):
    """Same seed => byte-identical embeddings (BASELINE determinism)."""
    cfg = TrainConfig(dim=16, epochs=10, seed=7)
    tri = np.array(
        [[r.s_id, r.p_id, r.o_id] for r in bench_data.edges.collect()],
        dtype=np.int64,
    )
    cv = np.array(
        [[r.ent_id, r.cls_id] for r in bench_data.cv_ids.collect()],
        dtype=np.int64,
    )
    tr = np.array(
        [
            [r.id1, r.id2]
            for r in bench_data.links_split.filter("split = 'train'").collect()
        ],
        dtype=np.int64,
    )
    runs = []
    for _ in range(2):
        m = OntoEATrainer(bench_data.n_ent, bench_data.n_rel, bench_data.n_cls, cfg)
        m.fit(tri, bench_data.sub_ids, cv, tr)
        runs.append((m.ent.copy(), m.rel.copy(), m.onto.copy(), m.mapping.copy()))
    for a, b in zip(runs[0], runs[1]):
        assert np.array_equal(a, b)


def test_distributed_gradients_match_driver(spark, bench_data):
    """The mapInPandas gradient shards of one spark-mode E2 step must sum
    to the same gradient regardless of partitioning (scale-out
    correctness), over either entity-weight side: the driver arrays and
    the SparkEntStore. After one step from a zero Adagrad accumulator
    the accumulator is g², so its square root is |g|, and the weights
    moved by about -lr·sign(g): together they pin the summed gradient."""
    from ontoea_spark.training.paramstore import SparkEntStore

    cfg = TrainConfig(dim=16, seed=3)
    model = OntoEATrainer(bench_data.n_ent, bench_data.n_rel, bench_data.n_cls, cfg)
    edges = bench_data.edges.selectExpr(
        "s_id AS h", "p_id AS r", "o_id AS t"
    )
    runs = {}
    for side in ("driver", "store"):
        for parts in (2, 8):
            store = (
                SparkEntStore.from_numpy(spark, model.ent, cfg.lr)
                if side == "store" else None
            )
            m = OntoEATrainer(
                bench_data.n_ent, bench_data.n_rel, bench_data.n_cls, cfg,
                ent_store=store,
            )
            if store is None:
                m.ent = model.ent.copy()
            m.rel = model.rel.copy()
            loss = m._hash_step(edges.repartition(parts), salt=0)
            if store is None:
                ent, acc = m.ent, m._opt_ent.acc
            else:
                ent, acc = store.to_numpy(), store.to_numpy("g2")
            runs[side, parts] = (
                loss, ent, m.rel, np.sqrt(acc), np.sqrt(m._opt_rel.acc)
            )
    l1, e1, r1, ge1, gr1 = runs["driver", 2]
    assert np.count_nonzero(ge1) > 0 and np.count_nonzero(gr1) > 0
    for l8, e8, r8, ge8, gr8 in runs.values():
        assert abs(l1 - l8) < 1e-6 * max(1.0, abs(l1))
        assert np.allclose(ge1, ge8, atol=1e-9)
        assert np.allclose(gr1, gr8, atol=1e-9)
        assert np.allclose(e1, e8, atol=1e-9)
        assert np.allclose(r1, r8, atol=1e-9)


def test_distributed_gradients_sparse_output(spark):
    """Shard output is O(touched ids), never O(n_ent): with a huge
    embedding table and a tiny edge set, the gradient must touch at most
    2·(1 + neg_per_pos) ids per edge (h, t, plus a corrupted id per
    negative replica) — the dense-per-shard regression (VERDICT r01 #3)
    would light up all 50k rows."""
    cfg = TrainConfig(dim=8, seed=5)
    rng = np.random.default_rng(5)
    n_ent, n_edges = 50_000, 12
    ent = rng.normal(size=(n_ent, 8))
    rel = rng.normal(size=(4, 8))
    edges = spark.createDataFrame(
        [
            (int(rng.integers(n_ent)), int(rng.integers(4)), int(rng.integers(n_ent)))
            for _ in range(n_edges)
        ],
        "h long, r long, t long",
    )
    m = OntoEATrainer(n_ent, 4, 1, cfg)
    m.ent, m.rel = ent, rel
    stats = {}
    loss = m._hash_step(edges.repartition(3), salt=0, stats=stats)
    # a row's Adagrad accumulator is g² after the first step: nonzero
    # exactly where the summed gradient is
    touched = int(np.count_nonzero(np.any(m._opt_ent.acc != 0.0, axis=1)))
    assert 0 < touched <= 2 * (1 + cfg.neg_per_pos) * n_edges
    assert loss > 0.0
    # VERDICT r4 #3: the weights SHIPPED are also O(batch), never O(n_ent)
    # — only the touched-row slices broadcast, so per-step traffic no
    # longer scales with n_ent·dim (full matrices were 51 MB/step at the
    # 100K flagship; at web-scale entity counts they simply don't fit)
    assert stats["batch_rows"] == n_edges
    assert 0 < stats["slice_ent_rows"] <= 2 * (1 + cfg.neg_per_pos) * n_edges
    assert stats["slice_ent_rows"] < n_ent // 100
    assert 0 < stats["slice_rel_rows"] <= 4


def test_batch_index_spark_matches_numpy(spark, bench_data):
    """The E2 minibatch split is one formula: evaluated as a Spark
    Column over the triples frame and over the NumPy id arrays, it puts
    every triple in the same batch, for more than one epoch salt."""
    from pyspark.sql import functions as F

    df = bench_data.edges.selectExpr(
        "CAST(s_id AS long) AS h", "CAST(p_id AS long) AS r",
        "CAST(o_id AS long) AS t",
    )
    for salt, n_b in ((7919, 3), (2003 * 7919, 5)):
        pdf = df.select(
            "h", "r", "t",
            _batch_index(F.col("h"), F.col("r"), F.col("t"), salt, n_b).alias("b"),
        ).toPandas()
        tri = pdf[["h", "r", "t"]].to_numpy()
        want = _batch_index(tri[:, 0], tri[:, 1], tri[:, 2], salt, n_b)
        assert len(tri) > 0 and len(set(want.tolist())) == n_b
        assert np.array_equal(pdf["b"].to_numpy(), want)
    # ids past ~3.47e9 overflow the int64 hash sum; NumPy and non-ANSI
    # Spark wrap it alike, and the batch must still be in range(n_b)
    big = np.array(
        [[4_000_000_000 + 7 * i, i % 3, 2**40 + 13 * i] for i in range(64)],
        dtype=np.int64,
    )
    want = _batch_index(big[:, 0], big[:, 1], big[:, 2], 7919, 5)
    assert ((0 <= want) & (want < 5)).all() and len(set(want.tolist())) > 1
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = (
            spark.createDataFrame(
                [tuple(int(v) for v in row) for row in big], "h long, r long, t long"
            )
            .select(_batch_index(F.col("h"), F.col("r"), F.col("t"), 7919, 5).alias("b"))
            .toPandas()["b"].to_numpy()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert np.array_equal(got, want)


def _fit_arrays(bench_data):
    tri = np.array(
        [[r.s_id, r.p_id, r.o_id] for r in bench_data.edges.collect()],
        dtype=np.int64,
    )
    cv = np.array(
        [[r.ent_id, r.cls_id] for r in bench_data.cv_ids.collect()],
        dtype=np.int64,
    )
    tr = np.array(
        [
            [r.id1, r.id2]
            for r in bench_data.links_split.filter("split = 'train'").collect()
        ],
        dtype=np.int64,
    )
    return tri, cv, tr


def test_fit_spark_mode_matches_local_hash(spark, bench_data):
    """VERDICT r02 #2 gate: a FULL fit() under gradient_mode='spark'
    (every E2 step's gradients computed by executors in _hash_step,
    Adagrad applied on the driver) must reproduce the 'local_hash'
    driver loop's weights to ~1e-9 — the two paths share the hash-negative
    kernel, so only float summation order across shards may differ."""
    tri, cv, tr = _fit_arrays(bench_data)
    models = {}
    for mode in ("spark", "local_hash"):
        cfg = TrainConfig(dim=16, epochs=10, seed=7, gradient_mode=mode)
        m = OntoEATrainer(bench_data.n_ent, bench_data.n_rel, bench_data.n_cls, cfg)
        m.fit(tri, bench_data.sub_ids, cv, tr, spark=spark if mode == "spark" else None)
        models[mode] = m
    a, b = models["spark"], models["local_hash"]
    assert a.step_counts == b.step_counts
    assert np.allclose(a.ent, b.ent, atol=1e-9)
    assert np.allclose(a.rel, b.rel, atol=1e-9)
    # E3-E6 run driver-side in both modes off the same RNG stream —
    # divergence here would mean E2 perturbed the stream
    assert np.array_equal(a.onto, b.onto) or np.allclose(a.onto, b.onto, atol=1e-9)
    assert np.allclose(a.mapping, b.mapping, atol=1e-9)


def test_fit_local_hash_quality(spark, bench_data):
    """The hash-negative full-batch E2 (the scale-out semantics) must
    still align the benchmark pair — quality evidence for spark mode,
    which test_fit_spark_mode_matches_local_hash pins to this exact
    path at 1e-9."""
    model = train(
        bench_data, TrainConfig(dim=32, epochs=60, seed=42, gradient_mode="local_hash")
    )
    m = evaluate(spark, bench_data, model).collect()[0]
    assert m.hits1 >= 0.9, m.asDict()
    assert m.mrr >= 0.93, m.asDict()


def test_neighbor_pool_spark_matches_local(spark):
    """B7 at cluster scale: the distributed blocked-top-k pool refresh
    must produce the SAME pool matrix as the chunked-NumPy refresh on
    the same weights (both rows ordered sim desc, id asc) — so
    pool_mode='spark' changes where the n^2 similarity work runs, not
    what gets sampled."""
    cfg = TrainConfig(dim=8, seed=11, truncated_epsilon=0.8)
    m = OntoEATrainer(n_ent=80, n_rel=4, n_cls=3, cfg=cfg)
    m.refresh_neighbor_pool()
    local = m._neighbor_pool.copy()
    m.refresh_neighbor_pool_spark(spark)
    assert np.array_equal(local, m._neighbor_pool)
    assert local.shape == (80, m._pool_width())


def test_neighbor_pool_cap(spark):
    cfg = TrainConfig(dim=8, seed=11, truncated_epsilon=0.0, pool_cap=5)
    m = OntoEATrainer(n_ent=40, n_rel=4, n_cls=3, cfg=cfg)
    m.refresh_neighbor_pool()
    assert m._neighbor_pool.shape == (40, 5)


def test_hits_candidates_parity_with_all_pairs(spark):
    """VERDICT r02 #6: the candidate-table evaluation protocol
    (blocked_topk_join(k_cand) -> ranks_vs_gold_candidates) must agree
    with the all-pairs path on the sf0.01 fixture — Hits@k exactly for
    k <= k_cand, MR as a lower bound, MRR as an upper bound (reference
    protocol: alignment.py:149-171)."""
    from tests.conftest import SF_CORRECT
    from ontoea_spark.driver_queries import (
        q_hits_metrics,
        q_hits_metrics_candidates,
    )

    full = q_hits_metrics(spark, SF_CORRECT).collect()[0]
    cand = q_hits_metrics_candidates(spark, SF_CORRECT).collect()[0]
    assert cand.hits1 == full.hits1
    assert cand.hits5 == full.hits5
    assert cand.hits10 == full.hits10
    assert cand.mr <= full.mr
    assert cand.mrr >= full.mrr - 1e-9


def test_alignment_quality_noisy(spark):
    """Robustness gate: 3x the default dropout (0.3) and 5x the noise
    edges (200) — the reference-default trainer (hier/cv MLP heads,
    sub-epoch schedule) must still align well above chance
    (observed 0.914 at seed 7/42; gate leaves slack for env drift)."""
    b = generate_two_kg(spark, n_ent=300, dropout=0.3, noise=200, seed=7)
    data = prepare_from_parts(spark, b.triples1, b.triples2, b.links, b.cv)
    model = train(data, TrainConfig(dim=32, epochs=100, seed=42))
    m = evaluate(spark, data, model).collect()[0]
    assert m.hits1 >= 0.8, m.asDict()
    assert m.mrr >= 0.85, m.asDict()


def test_alignment_csls_variant(spark, bench_data, bench_model):
    """V5 third pass: CSLS-rescaled fused scores (T4) keep quality."""
    m = evaluate(spark, bench_data, bench_model, csls_k=10).collect()[0]
    assert m.hits1 >= 0.9, m.asDict()


def test_run_benchmark_alignment_smoke(spark):
    m = run_benchmark_alignment(
        spark, n_ent=120, cfg=TrainConfig(dim=16, epochs=30, seed=42)
    ).collect()[0]
    assert 0.0 <= m.hits1 <= 1.0 and m.mr >= 1.0


def test_evaluate_candidates_parity_and_vectorized_benchgen(
    spark, bench_data, bench_model
):
    """The candidate-protocol evaluate (blocked top-k_cand + within-pool
    type rescoring) must reproduce the all-pairs evaluate() metrics when
    k_cand covers the right side — the exactness contract the 100K
    flagship run relies on. Also: the vectorized benchgen tail sampler
    must produce a valid same-shape benchmark (different RNG stream,
    same construction)."""
    from ontoea_spark.training.align_pipeline import evaluate_candidates

    model = bench_model
    full = evaluate(spark, bench_data, model).collect()[0].asDict()
    # right side is the test split (~10% of 300): k_cand=300 covers it
    cand = evaluate_candidates(
        spark, bench_data, model, k_cand=300
    ).collect()[0].asDict()
    assert cand == full, (cand, full)
    # tight pool: hits@1 must survive (pool margin >> 2*gamma here)
    tight = evaluate_candidates(
        spark, bench_data, model, k_cand=10
    ).collect()[0].asDict()
    assert tight["hits1"] == full["hits1"], (tight, full)

    b = generate_two_kg(spark, n_ent=200, n_triples=1600, seed=3, vectorized=True)
    t1 = b.triples1.collect()
    assert len(t1) > 1000
    ents = {r.s for r in t1} | {r.o for r in t1}
    assert all(e.startswith("kg1:e") for e in ents)
    assert b.links.count() == 200 and b.cv.count() == 400


def test_predict_matches_feed_canonicalize(spark, bench_data, bench_model):
    """predict_matches exports the fused-score argmax as URI pairs; on
    the near-isomorphic benchmark (hits1 >= 0.9) predictions are mostly
    the gold partner, seed_matches returns exactly the train gold, and
    the union drives canonicalize_kg end-to-end (north-rule chain:
    align -> link -> canonicalize)."""
    from ontoea_spark.pipeline.canonicalize import canonicalize_kg
    from ontoea_spark.training.align_pipeline import (
        predict_matches,
        seed_matches,
    )

    b = generate_two_kg(spark, n_ent=300, seed=42)
    gold = {r.e1: r.e2 for r in b.links.collect()}
    # snapshot the generated inputs and the prediction chain once —
    # canonicalize_kg consumes them through several EAGER stages
    # (components, rewrite checkpoint, dictionary ranks), and without
    # this each stage re-derives the whole generation / blocked-top-k
    # lineage (measured: 145s -> ~75s for this test). run_job does the
    # same localCheckpoint on its merge links for the same reason.
    t1 = b.triples1.localCheckpoint(eager=True)
    t2 = b.triples2.localCheckpoint(eager=True)

    pred = predict_matches(spark, bench_data, bench_model).localCheckpoint(
        eager=True
    )
    rows = pred.collect()
    n_eval = bench_data.links_split.filter("split != 'train'").count()
    assert len(rows) == n_eval
    acc = sum(gold.get(r.e1) == r.e2 for r in rows) / len(rows)
    assert acc >= 0.85, acc

    seeds = seed_matches(bench_data)
    n_train = bench_data.links_split.filter("split = 'train'").count()
    seed_rows = seeds.collect()
    assert len(seed_rows) == n_train
    assert all(gold[r.e1] == r.e2 for r in seed_rows)

    merged = canonicalize_kg(t1, t2, seeds.unionByName(pred))
    # every kg2 entity that got a (seed or predicted) partner merged away:
    # canonical vertex count = pre-merge entities - distinct merged pairs
    n_pre = (
        t1.unionByName(t2)
        .selectExpr("s AS e").unionAll(
            t1.unionByName(t2).selectExpr("o AS e")
        ).distinct().count()
    )
    n_merged = merged.ent_ids.count()
    assert n_merged < n_pre
    # the merged graph still decodes: edges non-empty, ids dense 0..n-1
    assert merged.edges.count() > 0
    ids = sorted(r.id for r in merged.ent_ids.select("id").collect())
    assert ids == list(range(n_merged))
