"""OntoEA-style joint embedding trainer — NumPy, seeded, deterministic
(SURVEY.md §2.11 E1-E8; reference: ontoea.py:120-356 TF graph,
losses.py:79-215, optimizers.py:4-20 Adagrad, initializers.py:59-65).

Faithful-semantics reimplementation of the reference's loss family:

* E2 ``limited_loss`` (L2): Σ relu(‖h+r−t‖² − pos_m) + balance·Σ
  relu(neg_m − ‖h'+r−t'‖²)                       (losses.py:79-93)
* E3 hierarchy loss on subClassOf edges — ``hier_limited_loss`` with
  the reference-default 'hier' MLP head l2norm(tanh(W·c+b))
  (losses.py:96-115, wiring ontoea.py:228-245; exact analytic backprop
  through the head, finite-difference-validated); the ``weights=None``
  plain path stays available via onto_training_method='linear'
* E4 membership loss entity→class, ``ent2onto_limited_loss`` with its
  cv-link MLP head (losses.py:118-137, ontoea.py:248-266); plain path
  behind the same flag
* E6 ``mapping_limit_loss`` with orthogonal regularizer ‖MMᵀ−I‖²
  (losses.py:169-184), weight ``alpha`` (ontoea_args_15K.json alpha=5)
* E7 Adagrad: acc += g²; θ −= lr·g/√(acc+ε)      (optimizers.py:4-20)
* E1 init 'unit': seeded N(0, σ)/row-L2-normalized (initializers.py:59-65)
* E8 schedule (ontoea.py:580-622): ``epochs // sub_epoch`` iterations of
  [sub_epoch triple epochs → sub_epoch hierarchy epochs →
  onto_likelihood_epochs of likelihood_slice-sliced E5 → sub_epoch
  membership epochs → align_sub_epoch mapping epochs]; eval per
  iteration on valid links, early-stop after 2 consecutive Hits@1
  declines (evaluation.py:39-44)

Entities are row-L2-normalized after every update (``ent_l2_norm``,
ontoea.py:193-198). All randomness flows from one ``np.random.Generator``
seeded by config — same seed ⇒ byte-identical embeddings.

This trainer is driver-side: at reference scale (15K-100K entities,
dim 300) the model is MBs — the *data* is what needs a cluster, not the
parameters. The Spark integration (align_pipeline.py) does all
entity-scale work distributed and collects only the encoded training
arrays; the hash-mode E2 step (``OntoEATrainer._hash_step``) is the
mapInPandas scale-out path for the gradient computation itself.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


@dataclass
class TrainConfig:
    dim: int = 32
    lr: float = 0.1
    epochs: int = 100
    batch_size: int = 2048
    neg_per_pos: int = 10
    pos_margin: float = 0.01
    neg_margin: float = 2.0
    balance: float = 0.1          # 'neg_param' in ontoea_args_15K.json
    alpha: float = 5.0            # mapping-loss weight
    onto_lr: float = 0.01
    seed: int = 42
    eval_freq: int = 10
    early_stop_declines: int = 2
    # E3 (ontoea.py:228-245): 'hier' wires the MLP tanh(W·c+b) before the
    # hierarchy limited loss (reference 15K default,
    # ontoea_args_15K.json onto_training_method='hier'); 'linear' is the
    # plain weights=None difference path. E4's cv-link loss always has
    # its own MLP in the reference (ontoea.py:248-266) and follows this
    # flag here so the plain path stays available for hand-checks.
    onto_training_method: str = "hier"
    # E8 (ontoea.py:580-604): per iteration — sub_epoch epochs of
    # triples, then sub_epoch of hierarchy, onto_likelihood_epochs of
    # sliced E5, sub_epoch of membership, align_sub_epoch of mapping
    sub_epoch: int = 10
    align_sub_epoch: int = 5
    onto_likelihood_epochs: int = 5
    likelihood_slice: int = 10
    # B5 (batch.py:210-265): seed negatives drawn from the corrupted
    # side's *own class* when known ('type_based'), else uniform
    seed_neg_method: str = "type_based"
    # B6 (sample.py:7-41, wiring ontoea.py:566-570): when 'prob_based',
    # onto-hierarchy negatives are drawn with probability
    # softmax(1 - onto_mat) per corrupted class — conflicting classes
    # become likelier negatives. The 15K config ships null (uniform).
    onto_neg_sampling: str | None = None
    # B3/B7 (ontoea_args_15K.json neg_sampling='truncated',
    # truncated_epsilon=0.9, truncated_freq=10): triple negatives from
    # each entity's top-(1-eps)*n nearest-neighbor pool, refreshed every
    # truncated_freq epochs (ontoea.py:606-622)
    neg_sampling: str = "truncated"
    truncated_epsilon: float = 0.9
    truncated_freq: int = 10
    # B7 pool construction. 'local': chunked NumPy self-similarity (the
    # reference shape — O(n^2) driver work, fine to ~100K entities).
    # 'spark': distributed blocked top-k self-join (simjoin), collected
    # as grouped id arrays — the path when n_ent^2 similarity no longer
    # fits one machine. pool_cap bounds the pool WIDTH in both modes
    # (the (1-eps)*n reference width is itself O(n^2/10) memory at
    # scale; a capped pool is standard truncated sampling). Pool
    # contents are sorted (sim desc, id asc), so both modes produce the
    # same pool on the same weights (parity-tested).
    pool_mode: str = "local"
    pool_cap: int = 4096
    # Where the E2 triple gradients are computed (the only loss whose
    # input scales with the KG — E3-E6 inputs are class/seed-link sized):
    #   'local'      reference semantics — RNG minibatches on the driver
    #                (ontoea.py:369-411's producer/consumer feed collapsed
    #                to one process)
    #   'spark'      one hash-mode step per minibatch (_hash_step):
    #                executors compute the gradients per shard of a
    #                triples DataFrame against broadcast TOUCHED-ROW weight
    #                slices (O(batch·negs·dim) per step, never
    #                O(n_ent·dim)) and Spark reduces (id, grad) by key.
    #                Negatives are hash-derived (deterministic,
    #                partition-invariant) instead of RNG — a documented
    #                deviation required for reproducibility across cluster
    #                sizes.
    #   'local_hash' the same step with the gradients computed on the
    #                driver — the equivalence oracle: fit() under 'spark'
    #                must match fit() under 'local_hash' to ~1e-9
    #                (tests/test_alignment.py).
    gradient_mode: str = "local"
    # Where the ENTITY weights + their Adagrad state live (the side the
    # E2/E4/E6 steps gather from and apply to):
    #   'driver'  NumPy on the driver (reference shape; all modes)
    #   'spark'   paramstore.SparkEntStore — idx-range-bucketed (idx, w,
    #             g2) DataFrames; the driver holds only per-step touched
    #             slices, the Adagrad+renorm update runs inside the store,
    #             and the B7 pool stays a DataFrame read entry by entry
    #             (no O(n_ent) broadcast anywhere). Requires
    #             gradient_mode='spark' (+ pool_mode='spark' when
    #             neg_sampling='truncated'). Same math as the driver
    #             side — fit() matches 'local_hash' to ~1e-9
    #             (tests/test_param_store.py).
    param_store: str = "driver"
    # Gather the trained matrix back to self.ent after a store-mode fit
    # (small-scale convenience). At real scale turn off and read
    # trainer._ent_store.ent_df() / write parquet instead.
    store_final_gather: bool = True


class Adagrad:
    """optimizers.py:4-20 semantics."""

    def __init__(self, shape, lr, eps=1e-8):
        self.acc = np.zeros(shape, dtype=np.float64)
        self.lr = lr
        self.eps = eps

    def step(self, param, grad):
        self.acc += grad * grad
        param -= self.lr * grad / (np.sqrt(self.acc) + self.eps)


def _unit_init(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    """E1 'unit' init: gaussian rows, L2-normalized (initializers.py:59-65)."""
    m = rng.normal(0.0, 1.0 / np.sqrt(dim), size=(n, dim))
    return _l2_rows(m)


def _l2_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return m / n


def limited_loss_grads(pos_d, neg_d, pos_margin, neg_margin, balance):
    """Shared gradient core for E2/E3/E4: given pos/neg difference vectors
    d (score = ‖d‖²), returns (loss, pos_coef, neg_coef) where the
    gradient wrt d is 2·coef·d."""
    pos_s = np.sum(pos_d * pos_d, axis=1)
    neg_s = np.sum(neg_d * neg_d, axis=1)
    pos_active = (pos_s > pos_margin).astype(np.float64)
    neg_active = (neg_s < neg_margin).astype(np.float64)
    loss = np.sum(np.maximum(pos_s - pos_margin, 0.0)) + balance * np.sum(
        np.maximum(neg_margin - neg_s, 0.0)
    )
    return loss, pos_active, -balance * neg_active


class MLPHead:
    """The reference's single-layer projection head for E3/E4:
    z = l2_normalize(tanh(X·W + b)) (losses.py:96-137; init_mlp at
    initializers.py:21-34 — W orthogonal, b truncated-normal).

    forward() caches intermediates; backward() returns dL/dX and applies
    one Adagrad step to W and b. Gradients are exact analytic backprop
    through normalize∘tanh∘affine (validated by finite differences in
    tests/test_alignment.py::test_mlp_head_gradients_fd).
    """

    def __init__(self, rng: np.random.Generator, d_in: int, d_out: int, lr: float):
        # orthogonal init (tf.initializers.orthogonal): QR of a seeded
        # gaussian, sign-fixed for determinism
        a = rng.normal(size=(d_in, d_out))
        q, r = np.linalg.qr(a)
        self.W = q * np.sign(np.diag(r))
        # truncated-normal bias: resample-free clip at 2σ (distribution
        # shape of an *initializer* — not load-bearing for parity)
        self.b = np.clip(rng.normal(0.0, 1.0, size=d_out), -2.0, 2.0)
        self._opt_w = Adagrad(self.W.shape, lr)
        self._opt_b = Adagrad(self.b.shape, lr)

    def forward(self, X: np.ndarray):
        u = X @ self.W + self.b
        a = np.tanh(u)
        norms = np.linalg.norm(a, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        z = a / norms
        return z, (X, a, norms, z)

    def backward(self, cache, dz: np.ndarray) -> np.ndarray:
        X, a, norms, z = cache
        # through z = a/‖a‖: da = (dz - (dz·z) z)/‖a‖
        da = (dz - np.sum(dz * z, axis=1, keepdims=True) * z) / norms
        du = da * (1.0 - a * a)
        gw = X.T @ du
        gb = du.sum(axis=0)
        dX = du @ self.W.T
        self._opt_w.step(self.W, gw)
        self._opt_b.step(self.b, gb)
        return dX


class OntoEATrainer:
    """Joint entity + ontology embedding model over id-encoded inputs.

    Inputs (all int64 NumPy arrays):
      triples      [n, 3]  (h, r, t) — both KGs, interleaved global ids
      sub_edges    [m, 2]  (child_cls, parent_cls) ids
      cv_links     [c, 2]  (entity, cls) ids
      train_links  [k, 2]  (e1, e2) seed alignment ids

    ``ent_store``: a :class:`paramstore.SparkEntStore` holding the entity
    weights from the start (``paramstore.distributed_init`` at scales
    where n_ent·dim does not fit one machine; requires
    param_store='spark'). The driver then draws no ``ent``, which shifts
    the init RNG stream for rel/onto, so equivalence tests build their
    store inside fit() instead.
    """

    def __init__(
        self,
        n_ent: int,
        n_rel: int,
        n_cls: int,
        cfg: TrainConfig | None = None,
        ent_store=None,
    ):
        self.cfg = cfg or TrainConfig()
        c = self.cfg
        self.rng = np.random.default_rng(c.seed)
        self.n_ent = n_ent
        self.n_rel = n_rel
        self._ent_store = ent_store     # else set by fit() in store mode
        # B7 pool: a driver [n_ent, width] id array, or a
        # paramstore.SparkNeighborPool in store mode
        self._neighbor_pool = None
        self.ent = None
        self._opt_ent = None
        if ent_store is None:
            self.ent = _unit_init(self.rng, n_ent, c.dim)
            self._opt_ent = Adagrad((n_ent, c.dim), c.lr)
        self.rel = _unit_init(self.rng, n_rel, c.dim)
        self.onto = _unit_init(self.rng, max(n_cls, 1), c.dim)
        self.mapping = np.eye(c.dim, dtype=np.float64)
        self._opt_rel = Adagrad(self.rel.shape, c.lr)
        self._opt_onto = Adagrad(self.onto.shape, c.onto_lr)
        self._opt_map = Adagrad(self.mapping.shape, c.lr)
        if c.onto_training_method == "hier":
            # E3 hier MLP [onto_dim, onto_dim] + E4 cv-link MLP
            # [dim, onto_dim] (ontoea.py:234-238, 259-261)
            self.hier_mlp = MLPHead(self.rng, c.dim, c.dim, c.onto_lr)
            self.cv_mlp = MLPHead(self.rng, c.dim, c.dim, c.onto_lr)
        else:
            self.hier_mlp = None
            self.cv_mlp = None

    # -- E2: relation triples ------------------------------------------
    def step_triples(self, triples: np.ndarray) -> float:
        c = self.cfg
        n = len(triples)
        if n == 0:
            return 0.0
        reps = c.neg_per_pos
        h, r, t = triples[:, 0], triples[:, 1], triples[:, 2]
        # negatives: corrupt h or t uniformly (batch.py:103-175 semantics,
        # collision anti-check replaced by resample-free corruption — a
        # random id collides with a true triple with negligible prob.)
        nh = np.repeat(h, reps).copy()
        nr = np.repeat(r, reps)
        nt = np.repeat(t, reps).copy()
        corrupt_head = self.rng.random(n * reps) < 0.5
        pool = self._neighbor_pool
        if pool is not None:
            # B7 truncated sampling: hard negatives from the corrupted
            # entity's nearest-neighbor pool (batch.py 'truncated' path)
            draws = self.rng.integers(0, pool.shape[1], size=n * reps)
            rand_ids = pool[np.where(corrupt_head, nh, nt), draws]
        else:
            rand_ids = self.rng.integers(0, self.n_ent, size=n * reps)
        nh[corrupt_head] = rand_ids[corrupt_head]
        nt[~corrupt_head] = rand_ids[~corrupt_head]

        pos_d = self.ent[h] + self.rel[r] - self.ent[t]
        neg_d = self.ent[nh] + self.rel[nr] - self.ent[nt]
        loss, pc, nc = limited_loss_grads(
            pos_d, neg_d, c.pos_margin, c.neg_margin, c.balance
        )
        ge = np.zeros_like(self.ent)
        gr = np.zeros_like(self.rel)
        pg = 2.0 * pc[:, None] * pos_d
        ng = 2.0 * nc[:, None] * neg_d
        np.add.at(ge, h, pg)
        np.add.at(ge, t, -pg)
        np.add.at(gr, r, pg)
        np.add.at(ge, nh, ng)
        np.add.at(ge, nt, -ng)
        np.add.at(gr, nr, ng)
        self._opt_ent.step(self.ent, ge)
        self._opt_rel.step(self.rel, gr)
        self.ent = _l2_rows(self.ent)   # ent_l2_norm (ontoea.py:193-198)
        return float(loss)

    # -- E3: class hierarchy -------------------------------------------
    def step_hierarchy(self, sub_edges: np.ndarray) -> float:
        c = self.cfg
        if len(sub_edges) == 0:
            return 0.0
        ch, pa = sub_edges[:, 0], sub_edges[:, 1]
        cdf = getattr(self, "_onto_neg_cdf", None)
        if cdf is not None:
            # B6 prob-based corruption: inverse-CDF draw from the
            # per-class conflict-weighted distribution (sample.prob_pick
            # semantics, vectorized). The CDF column is the replaced
            # node's class — here the PARENT, since hierarchy negatives
            # corrupt the tail (reference generate_neg_triples_fast uses
            # prob_dict[tail]).
            u = self.rng.random(len(sub_edges))
            npa = np.argmax(cdf[:, pa] > u[None, :], axis=0)
        else:
            npa = self.rng.integers(0, len(self.onto), size=len(sub_edges))
        if self.hier_mlp is not None:
            # hier path (losses.py:96-115): head class projected through
            # tanh(W·c+b), l2-normalized; neg shares the same head
            z, cache = self.hier_mlp.forward(self.onto[ch])
            pos_d = z - self.onto[pa]
            neg_d = z - self.onto[npa]
        else:
            pos_d = self.onto[ch] - self.onto[pa]
            neg_d = self.onto[ch] - self.onto[npa]
        loss, pc, nc = limited_loss_grads(
            pos_d, neg_d, c.pos_margin, c.neg_margin, c.balance
        )
        go = np.zeros_like(self.onto)
        pg = 2.0 * pc[:, None] * pos_d
        ng = 2.0 * nc[:, None] * neg_d
        if self.hier_mlp is not None:
            dX = self.hier_mlp.backward(cache, pg + ng)
            np.add.at(go, ch, dX)
        else:
            np.add.at(go, ch, pg + ng)
        np.add.at(go, pa, -pg)
        np.add.at(go, npa, -ng)
        self._opt_onto.step(self.onto, go)
        self.onto = _l2_rows(self.onto)
        return float(loss)

    # -- the entity-weight side ------------------------------------------
    def _ent_side(self):
        """The entity weights every E2 hash step and every E4/E6 step
        gathers from and applies to: the driver arrays while ``ent`` is
        resident, else the SparkEntStore (store mode)."""
        if self.ent is None:
            return self._ent_store
        return _DriverEnt(self.ent, self._opt_ent)

    def _gather_rows(self, ids: np.ndarray):
        """``(uniq, inv, rows)``: the sorted-unique ids, the inverse that
        maps them back to ``ids``, and their rows from the entity side —
        O(len(ids)·dim) traffic in store mode, never O(n_ent)."""
        uniq, inv = np.unique(np.asarray(ids, dtype=np.int64), return_inverse=True)
        return uniq, inv, self._ent_side().gather(uniq)

    # -- E4: membership (cv links) -------------------------------------
    def step_membership(self, cv_links: np.ndarray) -> float:
        c = self.cfg
        if len(cv_links) == 0:
            return 0.0
        e, cl = cv_links[:, 0], cv_links[:, 1]
        ncl = self.rng.integers(0, len(self.onto), size=len(cv_links))
        uniq_e, inv, rows = self._gather_rows(e)
        Ee = rows[inv]
        if self.cv_mlp is not None:
            # ent2onto path (losses.py:118-137): entity projected into
            # class space through its own MLP before the limited loss
            z, cache = self.cv_mlp.forward(Ee)
            pos_d = z - self.onto[cl]
            neg_d = z - self.onto[ncl]
        else:
            pos_d = Ee - self.onto[cl]
            neg_d = Ee - self.onto[ncl]
        loss, pc, nc = limited_loss_grads(
            pos_d, neg_d, c.pos_margin, c.neg_margin, c.balance
        )
        go = np.zeros_like(self.onto)
        pg = 2.0 * pc[:, None] * pos_d
        ng = 2.0 * nc[:, None] * neg_d
        # compact entity gradient over the touched ids only (same
        # np.add.at accumulation order as a dense scatter — bit-equal)
        ge_rows = np.zeros_like(rows)
        if self.cv_mlp is not None:
            dX = self.cv_mlp.backward(cache, pg + ng)
            np.add.at(ge_rows, inv, dX)
        else:
            np.add.at(ge_rows, inv, pg + ng)
        np.add.at(go, cl, -pg)
        np.add.at(go, ncl, -ng)
        self._ent_side().apply(uniq_e, ge_rows)
        self._opt_onto.step(self.onto, go)
        return float(loss)

    # -- B6: prob-based onto negative distribution -------------------------
    def set_onto_neg_probs(self, onto_mat: np.ndarray) -> None:
        """B6 (ontoea.py:567): onto_prob_dict = softmax(1 - onto_mat) —
        the reference's column-normalized softmax (sample.softmax
        axis=0), so column j is the negative-class distribution for a
        corrupted node of class j. Stored as a per-column CDF for
        vectorized inverse-CDF draws in step_hierarchy."""
        x = 1.0 - onto_mat
        p = np.exp(x)
        p = p / np.sum(p, axis=0, keepdims=True)
        self._onto_neg_cdf = np.cumsum(p, axis=0)

    # -- B7: truncated-neighborhood refresh --------------------------------
    def _pool_width(self) -> int:
        n = self.n_ent
        return max(
            1,
            min(
                int((1.0 - self.cfg.truncated_epsilon) * n),
                self.cfg.pool_cap,
                n - 1,
            ),
        )

    def refresh_neighbor_pool(self, chunk: int = 1024) -> None:
        """J9 self-similarity top-k pools (basic_model.py:416-431;
        refreshed every truncated_freq epochs), k = min((1-eps)*n,
        pool_cap). Chunked rows bound the similarity buffer; rows are
        sorted (sim desc, id asc) so the pool is identical to the
        distributed refresh_neighbor_pool_spark on the same weights."""
        n = len(self.ent)
        num = self._pool_width()
        pool = np.empty((n, num), dtype=np.int64)
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            sims = self.ent[lo:hi] @ self.ent.T
            sims[np.arange(lo, hi) - lo, np.arange(lo, hi)] = -np.inf
            if num < n - 1:
                cand = np.argpartition(-sims, num - 1, axis=1)[:, :num]
            else:
                cand = np.argsort(-sims, axis=1)[:, :num]
            csims = np.take_along_axis(sims, cand, axis=1)
            # deterministic (sim desc, id asc) order within each pool row
            order = np.lexsort((cand, -csims), axis=1)
            pool[lo:hi] = np.take_along_axis(cand, order, axis=1)
        self._neighbor_pool = pool

    def refresh_neighbor_pool_spark(self, spark) -> None:
        """The cluster-scale B7 refresh: the n x n self-similarity never
        materializes on one machine — a blocked top-k self-join
        (simjoin.blocked_topk_join, exclude_self) computes each entity's
        pool row distributed, and only the n x pool_width id matrix (the
        thing that must be broadcast for sampling anyway) is collected.
        Same (sim desc, id asc) row order as the local refresh —
        pool-parity is unit-tested.

        With the weights in a SparkEntStore the pool never leaves the
        cluster: the same blocked top-k join over the store's (id, vec)
        view, kept as a SparkNeighborPool that the negative derivation
        reads entry by entry."""
        import pandas as pd

        from ontoea_spark.operators import simjoin as SJ

        if self.ent is None:
            from ontoea_spark.training.paramstore import SparkNeighborPool

            self._neighbor_pool = SparkNeighborPool.build(
                spark, self._ent_store.ent_df(), self._pool_width()
            )
            return
        n, dim = self.ent.shape
        num = self._pool_width()
        e_df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "id": np.arange(n, dtype=np.int64),
                    "vec": [row.tolist() for row in self.ent],
                }
            )
        )
        topk = SJ.blocked_topk_join(
            e_df, e_df, k=num, metric="inner", exclude_self=True,
            round_to=None,
        )
        # Arrow-batched transfer + vectorized scatter: at 100K+ entities
        # the pool table is tens of millions of rows — a Row-object
        # collect loop would cost minutes and GBs on the driver
        pdf = topk.select("lid", "rid", "rk").toPandas()
        pool = np.empty((n, num), dtype=np.int64)
        pool[pdf["lid"].to_numpy(), pdf["rk"].to_numpy() - 1] = pdf[
            "rid"
        ].to_numpy()
        self._neighbor_pool = pool

    # -- E5: conflict-matrix likelihood ----------------------------------
    def step_likelihood(
        self,
        onto_mat: np.ndarray,
        sigma: float = 1.0,
        idx: np.ndarray | None = None,
    ) -> float:
        """E5 (ontoea.py:268-280, 337-356): L = -Σ M ⊙ log σ(C·Cᵀ) — pull
        class embeddings of compatible classes together, push conflicting
        ones apart, weighted by the conflict matrix M (weight ``sigma``).

        ``idx`` selects a row slice (the reference's likelihood_slice
        batching: random rows vs ALL columns per step); None trains the
        full symmetric matrix in one step."""
        C = self.onto
        if idx is None:
            S = C @ C.T
            sig = 1.0 / (1.0 + np.exp(-S))
            loss = -float(np.sum(onto_mat * np.log(np.clip(sig, 1e-12, None))))
            dS = -onto_mat * (1.0 - sig)
            g = (dS + dS.T) @ C
        else:
            Ci = C[idx]
            S = Ci @ C.T
            sig = 1.0 / (1.0 + np.exp(-S))
            M = onto_mat[idx, :]
            loss = -float(np.sum(M * np.log(np.clip(sig, 1e-12, None))))
            dS = -M * (1.0 - sig)       # (slice, n_cls)
            g = dS.T @ Ci               # column-side gradient
            np.add.at(g, idx, dS @ C)   # row-side gradient
        self._opt_onto.step(self.onto, sigma * g)
        self.onto = _l2_rows(self.onto)
        return loss

    # -- B5: type-based negative pool -------------------------------------
    def set_class_pools(self, cv_links: np.ndarray) -> None:
        """Build the onto2ent inverse index (kgs.py:169-196 G7) for
        type-based seed negatives: per entity its class id (-1 if
        untyped) and a flattened per-class entity pool."""
        ent_cls = np.full(self.n_ent, -1, dtype=np.int64)
        if len(cv_links):
            ent_cls[cv_links[:, 0]] = cv_links[:, 1]
        order = np.argsort(cv_links[:, 1], kind="stable") if len(cv_links) else []
        flat = cv_links[order, 0] if len(cv_links) else np.array([], dtype=np.int64)
        n_cls = len(self.onto)
        counts = (
            np.bincount(cv_links[:, 1], minlength=n_cls)
            if len(cv_links)
            else np.zeros(n_cls, dtype=np.int64)
        )
        offsets = np.concatenate([[0], np.cumsum(counts)[:-1]])
        self._ent_cls = ent_cls
        self._cls_pool_flat = flat
        self._cls_pool_off = offsets
        self._cls_pool_cnt = counts

    def _seed_negatives(self, e2: np.ndarray) -> np.ndarray:
        """Type-based corruption of the e2 side: same-class sample when
        the entity is typed and its class pool has >1 member, uniform
        fallback otherwise (batch.py:210-265)."""
        n = len(e2)
        uniform = self.rng.integers(0, self.n_ent, size=n)
        if (
            self.cfg.seed_neg_method != "type_based"
            or getattr(self, "_ent_cls", None) is None
        ):
            return uniform
        cs = self._ent_cls[e2]
        cnt = np.where(cs >= 0, self._cls_pool_cnt[np.maximum(cs, 0)], 0)
        draws = (self.rng.random(n) * np.maximum(cnt, 1)).astype(np.int64)
        typed = self._cls_pool_flat[
            np.minimum(
                self._cls_pool_off[np.maximum(cs, 0)] + draws,
                max(len(self._cls_pool_flat) - 1, 0),
            )
        ] if len(self._cls_pool_flat) else uniform
        return np.where(cnt > 1, typed, uniform)

    # -- E6: alignment mapping -----------------------------------------
    def step_mapping(self, train_links: np.ndarray) -> float:
        c = self.cfg
        if len(train_links) == 0:
            return 0.0
        e1, e2 = train_links[:, 0], train_links[:, 1]
        ne2 = self._seed_negatives(e2)
        m = self.mapping
        n = len(e1)
        uniq_e, inv, rows = self._gather_rows(np.concatenate([e1, e2, ne2]))
        X = rows[inv]
        E1, E2, NE2 = X[:n], X[n : 2 * n], X[2 * n :]
        p1 = E1 @ m
        pos_d = p1 - E2
        neg_d = p1 - NE2
        loss, pc, nc = limited_loss_grads(
            pos_d, neg_d, c.pos_margin, c.neg_margin, c.balance
        )
        pg = 2.0 * pc[:, None] * pos_d
        ng = 2.0 * nc[:, None] * neg_d
        gm = E1.T @ (pg + ng)
        # orthogonal regularizer d/dM ‖MMᵀ−I‖² = 4(MMᵀ−I)M
        ortho = m @ m.T - np.eye(c.dim)
        gm += 4.0 * ortho @ m
        loss += float(np.sum(ortho * ortho))
        # compact entity gradient (add.at runs in the same e1, e2, ne2
        # element order as a dense scatter — bit-equal)
        ge_rows = np.zeros_like(rows)
        np.add.at(ge_rows, inv[:n], (pg + ng) @ m.T)
        np.add.at(ge_rows, inv[n : 2 * n], -pg)
        np.add.at(ge_rows, inv[2 * n :], -ng)
        self._opt_map.step(self.mapping, c.alpha * gm)
        self._ent_side().apply(uniq_e, c.alpha * ge_rows)
        return float(loss)

    # -- E8: schedule ----------------------------------------------------
    def fit(
        self,
        triples: np.ndarray,
        sub_edges: np.ndarray,
        cv_links: np.ndarray,
        train_links: np.ndarray,
        valid_links: np.ndarray | None = None,
        onto_mat: np.ndarray | None = None,
        log: list | None = None,
        spark=None,
        triples_df=None,
    ) -> "OntoEATrainer":
        """Reference schedule (ontoea.py:580-622): ``epochs // sub_epoch``
        iterations; each runs sub_epoch epochs of E2 triples, sub_epoch of
        E3 hierarchy, onto_likelihood_epochs of sliced E5,
        sub_epoch of E4 membership, then align_sub_epoch of E6 mapping;
        eval + early-stop per iteration; truncated-neighbor refresh at
        iteration start. ``self.step_counts`` records invocations per
        loss type (asserted by the schedule unit test).

        cfg.gradient_mode selects where E2 runs (see TrainConfig). Both
        hash modes split each epoch into hash minibatches and run one
        :meth:`_hash_step` per batch: 'local_hash' over ``triples``,
        'spark' (needs a SparkSession) over ``triples_df`` (built from
        ``triples`` if not given — at real scale pass the id-encoded edge
        DataFrame directly so the driver never holds the triple set).
        E3-E6 stay driver-side: their inputs are class- and
        seed-link-sized (thousands of rows at 10^12-document scale), not
        KG-sized. In both hash modes B3 RNG corruption is replaced by the
        deterministic hash scheme; the B7 truncated-neighbor pool IS still
        built and refreshed every truncated_freq epochs, and the hash
        negatives draw hard negatives from it via the hash index."""
        c = self.cfg
        mode = c.gradient_mode
        if mode not in ("local", "local_hash", "spark"):
            raise ValueError(f"unknown gradient_mode {mode!r}")
        if c.param_store not in ("driver", "spark"):
            raise ValueError(f"unknown param_store {c.param_store!r}")
        store_mode = c.param_store == "spark"
        if store_mode and mode != "spark":
            raise ValueError("param_store='spark' requires gradient_mode='spark'")
        # the E2 hash modes' triple source and its (h, r, t) id columns
        source, cols = triples, (triples[:, 0], triples[:, 1], triples[:, 2])
        if mode == "spark":
            if spark is None:
                raise ValueError("gradient_mode='spark' needs a SparkSession")
            from pyspark.sql import functions as F

            if triples_df is None:
                import pandas as pd

                triples_df = spark.createDataFrame(
                    pd.DataFrame(
                        {
                            "h": triples[:, 0],
                            "r": triples[:, 1],
                            "t": triples[:, 2],
                        }
                    )
                ).repartition(spark.sparkContext.defaultParallelism)
            source = triples_df.select(
                *(F.col(k).cast("long") for k in "hrt")
            ).localCheckpoint(eager=True)
            cols = (F.col("h"), F.col("r"), F.col("t"))
            if store_mode:
                if c.neg_sampling == "truncated" and c.pool_mode != "spark":
                    raise ValueError(
                        "param_store='spark' keeps the B7 pool distributed"
                        " — set pool_mode='spark'"
                    )
                from ontoea_spark.training.paramstore import SparkEntStore

                if self._ent_store is None:
                    self._ent_store = SparkEntStore.from_numpy(
                        spark, self.ent, c.lr
                    )
                # drop every driver-resident O(n_ent) array for the
                # duration of training — the point of the tier
                self.ent = None
                self._opt_ent = None
        n_tri = source.count() if mode == "spark" else len(triples)
        best, declines = -1.0, 0
        bs = c.batch_size
        if c.seed_neg_method == "type_based" and len(cv_links):
            self.set_class_pools(cv_links)
        if c.onto_neg_sampling == "prob_based" and onto_mat is not None:
            self.set_onto_neg_probs(onto_mat)
        sub = max(1, c.sub_epoch)
        iters = max(1, c.epochs // sub)
        self.step_counts = dict.fromkeys(
            ("triples", "hierarchy", "likelihood", "membership", "mapping"), 0
        )
        epochs_done = 0
        for it in range(1, iters + 1):
            if (
                c.neg_sampling == "truncated"
                and epochs_done % c.truncated_freq == 0
            ):
                # B7 refresh — all modes: hard negatives are the quality
                # driver at scale (uniform corruption loses ~8 Hits@1
                # points at 5k entities)
                if c.pool_mode == "spark":
                    if spark is None:
                        raise ValueError(
                            "pool_mode='spark' needs a SparkSession "
                            "(use gradient_mode='spark')"
                        )
                    self.refresh_neighbor_pool_spark(spark)
                else:
                    self.refresh_neighbor_pool()
            # E2: sub_epoch epochs of minibatched triples
            # (launch_training_k_epo, ontoea.py:585)
            for ep in range(sub):
                if mode == "local":
                    order = self.rng.permutation(len(triples))
                    for i in range(0, len(triples), bs):
                        self.step_triples(triples[order[i : i + bs]])
                        self.step_counts["triples"] += 1
                    continue
                # hash modes keep the reference's minibatch SGD: each
                # epoch splits the triples into ceil(n / batch_size)
                # DISJOINT hash batches (re-salted per epoch so the split
                # rotates) with one gradient step per batch — a single
                # full-batch step per epoch plateaus well short of
                # minibatch quality (Hits@1 0.91 vs 0.99 at 5k entities).
                n_b = max(1, -(-n_tri // bs))
                bid = _batch_index(*cols, (it * 1000 + ep) * 7919, n_b)
                for b in range(n_b):
                    # ``source[mask]`` filters a DataFrame by a Column
                    # and selects array rows alike
                    self._hash_step(source[bid == b], self.step_counts["triples"])
                    self.step_counts["triples"] += 1
            # E3 (launch_onto_training_k_epo, ontoea.py:588)
            for _ in range(sub):
                self.step_hierarchy(sub_edges)
                self.step_counts["hierarchy"] += 1
            # E5: likelihood_slice random rows vs all columns per step,
            # n_cls//slice steps per epoch (onto_likelihood, ontoea.py:337-356)
            if onto_mat is not None:
                n_cls = len(self.onto)
                sl = min(max(1, c.likelihood_slice), n_cls)
                for _ in range(c.onto_likelihood_epochs):
                    for _s in range(max(1, n_cls // sl)):
                        idx = self.rng.choice(n_cls, size=sl, replace=False)
                        self.step_likelihood(onto_mat, idx=idx)
                        self.step_counts["likelihood"] += 1
            # E4 (launch_ent2onto_mapping_training_k_epo, ontoea.py:594)
            for _ in range(sub):
                self.step_membership(cv_links)
                self.step_counts["membership"] += 1
            # E6 (launch_mapping_training_k_epo, align_sub_epoch epochs)
            for _ in range(c.align_sub_epoch):
                self.step_mapping(train_links)
                self.step_counts["mapping"] += 1
            epochs_done = it * sub
            if (
                valid_links is not None
                and len(valid_links)
                and epochs_done % c.eval_freq == 0
            ):
                h1 = self.hits_at_1(valid_links)
                if log is not None:
                    log.append((epochs_done, h1))
                if h1 <= best:
                    declines += 1
                    if declines >= c.early_stop_declines:
                        break
                else:
                    best, declines = h1, 0
        if store_mode and c.store_final_gather:
            # small-scale convenience: bring the trained matrix back so
            # downstream eval helpers see the usual dense self.ent. At
            # real scale leave store_final_gather=False and read
            # self._ent_store.ent_df() (or write it to parquet).
            self.ent = self._ent_store.to_numpy()
        return self

    # -- E2 hash mode: one minibatch step ------------------------------
    def _hash_step(self, batch, salt: int, stats: dict | None = None) -> float:
        """One hash-negative E2 step (``limited_loss``, losses.py:79-93)
        over the entity-weight side; returns the batch loss.

        ``batch`` holds the step's triples: an ``[n, 3]`` id array
        ('local_hash': gradients on the driver) or an (h, r, t) DataFrame
        ('spark': gradients on the executors; the ids come to the driver
        once, O(batch) longs). The driver derives the step's negatives
        with the same (h, r, t, replica, salt) hash the gradient kernel
        replays, so the touched entity and relation ids are known before
        any weight moves, and the kernel gets only their rows plus the
        pool entries the derivation read — O(batch·neg_per_pos·dim),
        never O(n_ent·dim). The summed entity gradient goes to the side's
        ``apply``: as driver rows for the driver arrays, as the reduced
        (idx, g) frame for the store, so in store mode it never visits
        the driver. Relation rows (n_rel is small) and the loss come back
        to the driver, which steps the relation Adagrad.

        ``salt`` MUST advance per step (fit() passes its E2 step count):
        with a constant salt every epoch corrupts each positive into the
        SAME negatives and the margin stops teaching anything new.
        ``stats``, when given, records ``batch_rows``, ``slice_ent_rows``
        and ``slice_rel_rows`` (slice rows are bounded by the batch, not
        by n_ent)."""
        from ontoea_spark.training.paramstore import _RecordingPoolView

        c = self.cfg
        side = self._ent_side()
        resident = isinstance(side, _DriverEnt)
        on_spark = not isinstance(batch, np.ndarray)
        if on_spark:
            from pyspark.sql import functions as F

            batch = batch.select(*(F.col(k).cast("long") for k in "hrt"))
            ids = batch.toPandas()
            h, r, t = (ids[k].to_numpy() for k in "hrt")
        else:
            h, r, t = batch[:, 0], batch[:, 1], batch[:, 2]
        if stats is not None:
            stats["batch_rows"] = len(h)
        if not len(h):
            return 0.0
        pool = self._neighbor_pool
        rec = None if pool is None else _RecordingPoolView(pool, self.n_ent)
        _, rr, _, nh, nt = _hashneg_negatives(h, r, t, self.n_ent, c, salt, rec)
        touched_e = np.unique(np.concatenate([h, t, nh, nt]))
        touched_r = np.unique(np.concatenate([r, rr]))
        if stats is not None:
            stats["slice_ent_rows"] = len(touched_e)
            stats["slice_rel_rows"] = len(touched_r)
        ent_slice = (touched_e, side.gather(touched_e))
        rel_slice = (touched_r, self.rel[touched_r])
        pool_slice = None if rec is None else rec.sparse()
        if on_spark:
            sc = batch.sparkSession.sparkContext
            bcs = [sc.broadcast(v) for v in (ent_slice, rel_slice, pool_slice)]
            try:
                summed = _grad_sum_frame(
                    batch, *bcs, self.n_ent, self.n_rel, c, salt
                )
                if not resident:
                    # the entity rows join straight into the store; the
                    # frame is materialized once for its two consumers
                    summed = summed.localCheckpoint(eager=True)
                    side.apply(
                        touched_e,
                        summed.filter(F.col("kind") == K_ENT).select(
                            "idx", F.col("grad").alias("g")
                        ),
                    )
                    summed = summed.filter(F.col("kind") != K_ENT)
                # Arrow transfer: the touched-id set approaches n_ent at
                # 100K+ scale, where a Row-object loop would dominate
                got = summed.toPandas()
            finally:
                for b in bcs:
                    b.destroy()
            kind = got["kind"].to_numpy()
            idx = got["idx"].to_numpy()
            grad = np.array(got["grad"].to_list(), dtype=np.float64).reshape(
                len(got), c.dim
            )
            if resident:
                ge = np.empty((len(touched_e), c.dim))
                ge[np.searchsorted(touched_e, idx[kind == K_ENT])] = grad[
                    kind == K_ENT
                ]
                side.apply(touched_e, ge)
            r_ids, gr = idx[kind == K_REL], grad[kind == K_REL]
            loss = float(grad[kind == K_LOSS, 0].sum())
        else:
            _, ge, r_ids, gr, loss = _hashneg_batch_grads(
                h, r, t,
                _GatherView(*ent_slice, self.n_ent),
                _GatherView(*rel_slice, self.n_rel),
                c, salt, pool_slice,
            )
            side.apply(touched_e, ge)
        g = np.zeros_like(self.rel)
        g[r_ids] = gr
        self._opt_rel.step(self.rel, g)
        return loss

    # -- evaluation helpers ---------------------------------------------
    def mapped_embeds(self, ids: np.ndarray) -> np.ndarray:
        return _l2_rows(self.ent_rows(ids) @ self.mapping)

    def ent_rows(self, ids: np.ndarray) -> np.ndarray:
        """Raw (un-mapped) entity rows for an id array, in request order —
        works in both storage modes (dense slice when driver-resident,
        store gather otherwise: O(len(ids)·dim) traffic, never O(n_ent)).
        The eval helpers read through this so store-mode pipelines can
        leave ``store_final_gather=False`` and still evaluate."""
        _, inv, rows = self._gather_rows(ids)
        return rows[inv]

    def hits_at_1(self, links: np.ndarray) -> float:
        """Driver-side Hits@1 over link candidates (for early stopping;
        the full evaluation runs distributed via the simjoin operator)."""
        e1 = self.mapped_embeds(links[:, 0])
        e2 = _l2_rows(self.ent_rows(links[:, 1]))
        sim = e1 @ e2.T
        return float(np.mean(np.argmax(sim, axis=1) == np.arange(len(links))))


def _batch_index(h, r, t, salt: int, n_b: int):
    """The E2 hash minibatch of each triple for one epoch: a salted hash
    of (h, r, t) split into ``n_b`` disjoint batches. One formula for
    NumPy id arrays and Spark long Columns alike. Ids above ~3.47e9
    overflow the int64 sum: NumPy and non-ANSI Spark both wrap it (ANSI
    Spark raises). NumPy's ``%`` floors but Spark's keeps the sign, so
    the ``+ 2**31`` round makes the 31-bit residue non-negative on both,
    and every triple lands in one of ``range(n_b)``."""
    x = (h * 2654435761 + r * 97 + t * 1000003 + salt) % 2**31
    return ((x + 2**31) % 2**31) % n_b


def _hashneg_negatives(h, r, t, n_ent, cfg, salt=0, pool=None):
    """Derive the hash-negative triples for one batch: returns
    ``(hh, rr, tt, nh, nt)`` — the positives tiled ``neg_per_pos`` times
    and their corrupted copies. Pure id arithmetic, no weight access:
    the driver calls this to learn the step's touched-id set BEFORE any
    weights ship (``OntoEATrainer._hash_step``), and
    _hashneg_batch_grads calls it again on the batch or on each executor
    shard — both
    derive bit-identical negatives because the draw is a hash of
    (h, r, t, replica, salt), never an RNG."""
    reps = max(1, cfg.neg_per_pos)
    k = np.arange(1, reps + 1, dtype=np.int64)[:, None]
    mix = (
        h[None, :] * 1000003 + r[None, :] * 10007 + t[None, :] * 101
        + (k + np.int64(salt) * np.int64(reps)) * 2654435761
    ) & 0x7FFFFFFF
    corrupt_head = (mix & 1).astype(bool).ravel()
    hh, rr, tt = np.tile(h, reps), np.tile(r, reps), np.tile(t, reps)
    if pool is None:
        rand_ids = (mix % n_ent).ravel()
    else:
        # B7 truncated sampling: the corrupted side is drawn from the
        # corrupted entity's nearest-neighbor pool (hard negatives) —
        # the quality driver at scale (Hits@1 0.99 vs 0.91 uniform at
        # 5k entities); the draw index is hash-derived like everything
        # else so partition-invariance is preserved. One lookup per
        # negative, so a sparse pool holds only the entries drawn.
        j = (mix % pool.shape[1]).ravel()
        rand_ids = pool[np.where(corrupt_head, hh, tt), j]
    nh, nt = hh.copy(), tt.copy()
    nh[corrupt_head] = rand_ids[corrupt_head]
    nt[~corrupt_head] = rand_ids[~corrupt_head]
    return hh, rr, tt, nh, nt


class _GatherView:
    """Read-only stand-in for a full ``[n_global, dim]`` weight matrix
    backed by just the rows for a sorted global-id subset: ``view[ids]``
    resolves global ids to slice rows via searchsorted (O(log u) per
    lookup, vectorized). ``len()``/``shape`` report the GLOBAL extent so
    hash-negative draws (``mix % len(E)``) are unchanged. Every id looked
    up must be in the subset — ``OntoEATrainer._hash_step`` guarantees
    that by deriving the step's negatives on the driver with the same
    hash."""

    __slots__ = ("ids", "rows", "n_global")

    def __init__(self, ids: np.ndarray, rows: np.ndarray, n_global: int):
        self.ids = ids
        self.rows = rows
        self.n_global = n_global

    def __len__(self) -> int:
        return self.n_global

    @property
    def shape(self) -> tuple:
        return (self.n_global, self.rows.shape[1])

    def __getitem__(self, ids: np.ndarray) -> np.ndarray:
        return self.rows[np.searchsorted(self.ids, ids)]


def _hashneg_batch_grads(h, r, t, E, R, cfg, salt=0, pool=None):
    """Shared E2 kernel for the hash-negative gradient paths: given one
    batch of (h, r, t) and weight views that resolve every id the batch
    touches, score each positive
    ONCE and draw ``cfg.neg_per_pos`` negatives per positive (exactly
    step_triples' weighting — over-counting the positive term reps times
    drowns the balance-weighted margin and collapses training, observed
    Hits@1 0.26 vs 0.94), corrupting head or tail per replica from a hash
    of (h, r, t, replica, salt) — deterministic and partition-invariant,
    no RNG. Returns the COMPACT gradient ``(uniq_e, ge, uniq_r, gr,
    loss)`` over touched ids only, never O(n_ent). The hash step calls
    it on the whole batch ('local_hash') or per executor shard
    ('spark'), so the two modes cannot drift."""
    n = len(h)
    dim = E.shape[1]
    reps = max(1, cfg.neg_per_pos)
    if n == 0:
        z = np.zeros((0,), dtype=np.int64)
        return z, np.zeros((0, dim)), z, np.zeros((0, dim)), 0.0
    hh, rr, tt, nh, nt = _hashneg_negatives(h, r, t, len(E), cfg, salt, pool)
    pos_d = E[h] + R[r] - E[t]
    neg_d = E[nh] + R[rr] - E[nt]
    loss, pc, nc = limited_loss_grads(
        pos_d, neg_d, cfg.pos_margin, cfg.neg_margin, cfg.balance
    )
    pg = 2.0 * pc[:, None] * pos_d
    ng = 2.0 * nc[:, None] * neg_d
    m = n * reps
    eids = np.concatenate([h, t, nh, nt])
    uniq_e, inv = np.unique(eids, return_inverse=True)
    ge = np.zeros((len(uniq_e), dim))
    np.add.at(ge, inv[:n], pg)
    np.add.at(ge, inv[n : 2 * n], -pg)
    np.add.at(ge, inv[2 * n : 2 * n + m], ng)
    np.add.at(ge, inv[2 * n + m :], -ng)
    uniq_r, rinv = np.unique(np.concatenate([r, rr]), return_inverse=True)
    gr = np.zeros((len(uniq_r), dim))
    np.add.at(gr, rinv[:n], pg)
    np.add.at(gr, rinv[n:], ng)
    return uniq_e, ge, uniq_r, gr, float(loss)


# Row tags in the (kind, idx, grad) gradient frame the E2 shard pipeline
# emits: entity rows, relation rows, and one loss scalar per shard
# (padded to dim so the frame stays single-schema).
K_ENT, K_REL, K_LOSS = 0, 1, 2


def _grad_sum_frame(triples_df, b_ent, b_rel, b_pool, n_ent, n_rel, cfg, salt):
    """The E2 shard-compute + by-key-reduce pipeline of a 'spark' hash
    step: executors run :func:`_hashneg_batch_grads` per Arrow shard of
    the (long) ``triples_df`` against the broadcast ``(ids, rows)``
    weight slices (resolved through :class:`_GatherView`) and the
    broadcast :class:`paramstore._SparsePool` (or None), emit compact
    ``(kind, idx, grad)`` rows, and a hash repartition on (kind, idx) +
    vectorized partition-local sum produces one globally-summed row per
    touched id. Returns the summed frame LAZY."""
    import pandas as pd

    dim = cfg.dim

    def shard(pdf_iter):
        for pdf in pdf_iter:
            E = _GatherView(*b_ent.value, n_ent)
            R = _GatherView(*b_rel.value, n_rel)
            uniq_e, ge, uniq_r, gr, loss = _hashneg_batch_grads(
                pdf["h"].to_numpy(),
                pdf["r"].to_numpy(),
                pdf["t"].to_numpy(),
                E,
                R,
                cfg,
                salt,
                b_pool.value,
            )
            # loss rides along as a kind-2 row padded to dim
            lrow = np.zeros(dim)
            lrow[0] = loss
            yield pd.DataFrame(
                {
                    "kind": np.concatenate(
                        [
                            np.full(len(uniq_e), K_ENT),
                            np.full(len(uniq_r), K_REL),
                            [K_LOSS],
                        ]
                    ).astype("int32"),
                    "idx": np.concatenate([uniq_e, uniq_r, [0]]).astype("int64"),
                    "grad": [*ge, *gr, lrow],
                }
            )

    parts = triples_df.mapInPandas(
        shard, schema="kind int, idx long, grad array<double>"
    )

    def reduce_partition(pdf_iter):
        # Vectorized by-key sum of the shard gradients. The frame arrives
        # hash-repartitioned on (kind, idx), so the partition-local sum IS
        # the global sum per key. A Catalyst collect_list + zip_with fold
        # here is interpreted per array element — at dim 300 that fold
        # alone dominated the step (~20 s/step at 30k touched rows);
        # numpy np.add.at over the Arrow batches is ~two orders faster.
        kinds, idxs, grads = [], [], []
        for pdf in pdf_iter:
            if len(pdf):
                kinds.append(pdf["kind"].to_numpy())
                idxs.append(pdf["idx"].to_numpy())
                grads.append(np.asarray(pdf["grad"].to_list(), dtype=np.float64))
        if not kinds:
            return
        kind = np.concatenate(kinds)
        idx = np.concatenate(idxs)
        grad = np.vstack(grads)
        key = (kind.astype(np.int64) << 48) | idx
        uk, inv = np.unique(key, return_inverse=True)
        out = np.zeros((len(uk), grad.shape[1]))
        np.add.at(out, inv, grad)
        yield pd.DataFrame(
            {
                "kind": (uk >> 48).astype("int32"),
                "idx": (uk & ((1 << 48) - 1)).astype("int64"),
                "grad": list(out),
            }
        )

    n_red = max(1, triples_df.sparkSession.sparkContext.defaultParallelism)
    return parts.repartition(n_red, "kind", "idx").mapInPandas(
        reduce_partition, schema="kind int, idx long, grad array<double>"
    )


class _DriverEnt:
    """The entity-weight side held as driver arrays: the dense ``ent``
    matrix and its Adagrad. ``apply`` keeps the reference bit order —
    dense scatter, Adagrad on the full matrix, row renorm of the full
    matrix (ontoea.py:193-198) — and updates ``ent`` in place. The store
    counterpart is :class:`paramstore.SparkEntStore`, with the same
    ``gather``/``apply``."""

    def __init__(self, ent: np.ndarray, opt: Adagrad):
        self.ent = ent
        self.opt = opt

    def gather(self, ids: np.ndarray) -> np.ndarray:
        return self.ent[ids]

    def apply(self, ids: np.ndarray, grads: np.ndarray) -> None:
        g = np.zeros_like(self.ent)
        g[ids] = grads
        self.opt.step(self.ent, g)
        self.ent[...] = _l2_rows(self.ent)
