"""The param_store='spark' tier (paramstore.SparkEntStore): entity
weights + Adagrad state living as a Spark DataFrame, with the driver
moving only O(touched) rows per step.

The load-bearing gate is test_fit_store_mode_matches_local_hash: a FULL
fit() with executor-resident parameters must reproduce the 'local_hash'
driver loop to ~1e-9 — the same standard the slice-broadcast spark mode
is held to in tests/test_alignment.py."""

from __future__ import annotations

import numpy as np
import pytest

from ontoea_spark.training.benchgen import generate_two_kg
from ontoea_spark.training.align_pipeline import prepare_from_parts
from ontoea_spark.training.paramstore import (
    SparkEntStore,
    SparkNeighborPool,
    _RecordingPoolView,
    _SparsePool,
)
from ontoea_spark.training.trainer import (
    Adagrad,
    OntoEATrainer,
    TrainConfig,
    _l2_rows,
    _unit_init,
)


@pytest.fixture(scope="module")
def bench_data(spark):
    b = generate_two_kg(spark, n_ent=300, seed=42)
    return prepare_from_parts(spark, b.triples1, b.triples2, b.links, b.cv)


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


# -- store primitives -----------------------------------------------------


def test_store_roundtrip_and_gather(spark):
    rng = np.random.default_rng(3)
    ent = _unit_init(rng, 50, 8)
    store = SparkEntStore.from_numpy(spark, ent, lr=0.1, n_parts=3)
    assert np.array_equal(store.to_numpy(), ent)
    ids = np.array([0, 7, 31, 49], dtype=np.int64)
    assert np.array_equal(store.gather(ids), ent[ids])
    # unsorted / duplicate requests are caller bugs, not silent corruption
    with pytest.raises(ValueError):
        store.gather(np.array([7, 0], dtype=np.int64))
    with pytest.raises(KeyError):
        store.gather(np.array([0, 50], dtype=np.int64))


def test_store_apply_matches_driver_adagrad(spark):
    """apply must be bit-compatible with the driver update on the
    touched rows: Adagrad.step + row renorm, float64 throughout."""
    rng = np.random.default_rng(5)
    ent = _unit_init(rng, 40, 6)
    store = SparkEntStore.from_numpy(spark, ent, lr=0.1, n_parts=4)

    ref = ent.copy()
    opt = Adagrad(ref.shape, lr=0.1)
    for it in range(3):  # several steps so g2 accumulation is exercised
        ids = np.unique(rng.integers(0, 40, size=12))
        rows = rng.normal(size=(len(ids), 6))
        g = np.zeros_like(ref)
        g[ids] = rows
        opt.step(ref, g)
        ref = _l2_rows(ref)
        store.apply(ids, rows)
    got = store.to_numpy()
    # untouched rows: driver renorms every step (numeric no-op on unit
    # rows, ≤1 ulp), store leaves them bit-identical
    assert np.allclose(got, ref, atol=1e-12)
    touched_total = got[np.abs(got - ent).sum(axis=1) > 0]
    assert np.allclose(np.linalg.norm(got, axis=1), 1.0, atol=1e-12)
    assert len(touched_total) > 0


def test_distributed_init_partition_invariant(spark):
    """E1 at scale: the executor-side init is a per-id seeded stream, so
    the matrix is independent of partitioning and the driver never
    allocates it."""
    a = SparkEntStore.distributed_init(spark, 60, 8, lr=0.1, seed=9, n_parts=3)
    b = SparkEntStore.distributed_init(spark, 60, 8, lr=0.1, seed=9, n_parts=7)
    ma, mb = a.to_numpy(), b.to_numpy()
    assert np.array_equal(ma, mb)
    assert np.allclose(np.linalg.norm(ma, axis=1), 1.0, atol=1e-12)
    c = SparkEntStore.distributed_init(spark, 60, 8, lr=0.1, seed=10, n_parts=3)
    assert not np.array_equal(ma, c.to_numpy())


# -- the DataFrame pool ---------------------------------------------------


def test_spark_pool_matches_driver_pool(spark):
    """SparkNeighborPool.build row content/order == the driver B7 pool
    on the same weights (sim desc, id asc) — store-mode sampling draws
    from the identical pool, just without collecting it."""
    cfg = TrainConfig(dim=8, seed=11, truncated_epsilon=0.8)
    m = OntoEATrainer(n_ent=80, n_rel=4, n_cls=3, cfg=cfg)
    m.refresh_neighbor_pool()
    local = m._neighbor_pool

    store = SparkEntStore.from_numpy(spark, m.ent, lr=0.1, n_parts=4)
    sp = SparkNeighborPool.build(spark, store.ent_df(), m._pool_width())
    pdf = sp.df.toPandas().sort_values("idx")
    got = np.array(pdf["nbrs"].to_list(), dtype=np.int64)
    assert np.array_equal(got, local)

    # entry-level reads resolve pool[ids, j] including duplicates
    rng = np.random.default_rng(0)
    ids = rng.integers(0, 80, size=25)
    j = rng.integers(0, sp.width, size=25)
    assert np.array_equal(sp[ids, j], local[ids, j])


def test_recording_view_replay(spark):
    """The driver's recording view must capture exactly the entries the
    gradient kernel will replay (one lookup per negative), and the
    sparse pool must serve them back bit-identically — and refuse
    anything un-prefetched."""
    cfg = TrainConfig(dim=8, seed=11, truncated_epsilon=0.8)
    m = OntoEATrainer(n_ent=80, n_rel=4, n_cls=3, cfg=cfg)
    m.refresh_neighbor_pool()
    local = m._neighbor_pool
    store = SparkEntStore.from_numpy(spark, m.ent, lr=0.1, n_parts=4)
    sp = SparkNeighborPool.build(spark, store.ent_df(), m._pool_width())

    rec = _RecordingPoolView(sp, 80)
    rng = np.random.default_rng(1)
    ids = rng.integers(0, 80, size=30)
    j = rng.integers(0, sp.width, size=30)
    assert np.array_equal(rec[ids, j], local[ids, j])
    sparse = rec.sparse()
    assert isinstance(sparse, _SparsePool)
    assert sparse.shape == (80, sp.width)
    assert np.array_equal(sparse[ids, j], local[ids, j])
    # un-prefetched entries are a hard error, never a silent wrong value
    empty = _SparsePool(
        np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64), 80, sp.width
    )
    with pytest.raises(KeyError):
        empty[np.array([3]), np.array([0])]


# -- the full-fit gate ----------------------------------------------------


def test_fit_store_mode_matches_local_hash(spark, bench_data):
    """A FULL fit() with param_store='spark' — weights+Adagrad in the
    store, B7 pool as a DataFrame, E4/E6 entity rows gathered per step,
    E2 entity gradients applied executor-side — must reproduce the
    'local_hash' driver loop to ~1e-9. Differences are float summation
    order across shards and the untouched-row renorm no-op; anything
    larger means the store math diverged."""
    tri, cv, tr = _fit_arrays(bench_data)
    models = {}
    for mode, extra in (
        ("spark", dict(param_store="spark", pool_mode="spark")),
        ("local_hash", {}),
    ):
        cfg = TrainConfig(dim=16, epochs=10, seed=7, gradient_mode=mode, **extra)
        m = OntoEATrainer(bench_data.n_ent, bench_data.n_rel, bench_data.n_cls, cfg)
        m.fit(tri, bench_data.sub_ids, cv, tr,
              spark=spark if mode == "spark" else None)
        models[mode] = m
    a, b = models["spark"], models["local_hash"]
    assert a.step_counts == b.step_counts
    assert a.ent is not None  # store_final_gather default
    assert np.allclose(a.ent, b.ent, atol=1e-9)
    assert np.allclose(a.rel, b.rel, atol=1e-9)
    assert np.allclose(a.onto, b.onto, atol=1e-9)
    assert np.allclose(a.mapping, b.mapping, atol=1e-9)


def test_fit_store_mode_driver_free(spark, bench_data):
    """With store_final_gather=False the driver NEVER holds an
    O(n_ent·dim) array after fit() starts: self.ent / _opt_ent stay
    None and the trained weights are read from the store — and the
    full eval surface (evaluate / evaluate_candidates, which read
    entity rows through ent_rows()) produces metrics identical to the
    same weights evaluated dense, so the whole train→eval chain runs
    store-resident."""
    from ontoea_spark.training.align_pipeline import evaluate, evaluate_candidates

    tri, cv, tr = _fit_arrays(bench_data)
    cfg = TrainConfig(
        dim=16, epochs=5, sub_epoch=5, seed=7, gradient_mode="spark",
        param_store="spark", pool_mode="spark", store_final_gather=False,
    )
    m = OntoEATrainer(bench_data.n_ent, bench_data.n_rel, bench_data.n_cls, cfg)
    m.fit(tri, bench_data.sub_ids, cv, tr, spark=spark)
    assert m.ent is None and m._opt_ent is None
    got = m._ent_store.to_numpy()
    assert got.shape == (bench_data.n_ent, 16)
    assert np.allclose(np.linalg.norm(got, axis=1), 1.0, atol=1e-9)
    # eval helpers still work through the store gather path
    h1 = m.hits_at_1(tr[:10])
    assert 0.0 <= h1 <= 1.0

    via_store = {
        "full": evaluate(spark, bench_data, m).collect(),
        "cand": evaluate_candidates(spark, bench_data, m, k_cand=20).collect(),
    }
    m.ent = got  # flip to the dense read path: results must be identical
    via_dense = {
        "full": evaluate(spark, bench_data, m).collect(),
        "cand": evaluate_candidates(spark, bench_data, m, k_cand=20).collect(),
    }
    assert via_store == via_dense


def test_fit_defer_ent_init(spark, bench_data):
    """The at-scale entry: distributed_init builds the store on the
    executors, the trainer is constructed with it as ``ent_store`` (no
    driver ent draw at all), and fit() trains against that store."""
    tri, cv, tr = _fit_arrays(bench_data)
    cfg = TrainConfig(
        dim=16, epochs=5, sub_epoch=5, seed=7, gradient_mode="spark",
        param_store="spark", pool_mode="spark", store_final_gather=False,
    )
    store = SparkEntStore.distributed_init(
        spark, bench_data.n_ent, cfg.dim, cfg.lr, seed=cfg.seed
    )
    m = OntoEATrainer(
        bench_data.n_ent, bench_data.n_rel, bench_data.n_cls, cfg,
        ent_store=store,
    )
    assert m.ent is None
    m.fit(tri, bench_data.sub_ids, cv, tr, spark=spark)
    assert m.step_counts["triples"] > 0
    got = m._ent_store.to_numpy()
    assert np.allclose(np.linalg.norm(got, axis=1), 1.0, atol=1e-9)


def test_store_mode_config_validation(spark, bench_data):
    tri, cv, tr = _fit_arrays(bench_data)
    with pytest.raises(ValueError, match="gradient_mode"):
        OntoEATrainer(
            10, 2, 2,
            TrainConfig(param_store="spark", gradient_mode="local_hash"),
        ).fit(tri, bench_data.sub_ids, cv, tr)
    with pytest.raises(ValueError, match="pool_mode"):
        OntoEATrainer(
            bench_data.n_ent, bench_data.n_rel, bench_data.n_cls,
            TrainConfig(param_store="spark", gradient_mode="spark"),
        ).fit(tri, bench_data.sub_ids, cv, tr, spark=spark)


def _jobs(spark, name, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(name))


def test_e2_step_job_counts(spark, bench_data):
    """One hash-mode E2 step with B7 pool negatives, as fit() runs it.
    A slice step (driver arrays) is the batch pull plus one collect of
    the summed gradient. A store step adds the pool read, the touched-row
    gather, the summed frame's checkpoint and the bucket rewrite; it
    reads each drawn pool entry once and takes its touched buckets from
    the ids the driver already holds, with no job to rediscover them."""
    import pandas as pd
    from pyspark.sql import functions as F

    from ontoea_spark.training.trainer import _batch_index

    tri, _, _ = _fit_arrays(bench_data)
    triples_df = (
        spark.createDataFrame(pd.DataFrame(tri, columns=["h", "r", "t"]))
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    n_b = max(1, -(-len(tri) // TrainConfig().batch_size))
    batch = triples_df.filter(
        _batch_index(F.col("h"), F.col("r"), F.col("t"), 7919, n_b) == 0
    )
    cfg = TrainConfig(dim=16, seed=7, gradient_mode="spark")
    sliced = OntoEATrainer(bench_data.n_ent, bench_data.n_rel, bench_data.n_cls, cfg)
    sliced.refresh_neighbor_pool()
    # the store holds the slice trainer's entity rows, so both steps
    # draw the same pool and touch the same ids
    stored = OntoEATrainer(
        bench_data.n_ent, bench_data.n_rel, bench_data.n_cls, cfg,
        ent_store=SparkEntStore.from_numpy(spark, sliced.ent, cfg.lr),
    )
    stored.refresh_neighbor_pool_spark(spark)
    counts = {
        side: _jobs(spark, f"e2-step-{side}", lambda m=m: m._hash_step(batch, salt=0))
        for side, m in (("slice", sliced), ("store", stored))
    }
    assert counts["slice"] <= 3, counts
    assert counts["store"] <= 11, counts
