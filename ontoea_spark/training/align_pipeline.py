"""End-to-end OntoEA alignment (SURVEY.md §3.1/§3.3 lifecycle; §7 stages
4-5).

Two front doors, one core:

* :func:`prepare_from_build` — the web corpus path: the triples and
  gold links of a finished build (extract/dedup) -> crossview fixture;
* :func:`prepare_from_parts` — any two triple sets + gold links + cv
  links (used by the D-W-15K-style synthetic benchmark, benchgen.py).

Core flow:

    distinct/encode (interleaved dictionary ids)            [distributed]
    -> ontology tree, class paths, conflict matrix (once)   [distributed]
    -> collect id-encoded training arrays (KBs at 15K scale)
    -> OntoEATrainer.fit (seeded NumPy, driver)             [driver]
    -> embeddings back to DataFrames
    -> fused evaluation: blocked similarity join +
       gamma * class-compat rescoring + Hits@k/MR/MRR        [distributed]

Prepare builds the ontology once (as check.py:56-100 -> read.py:455-467);
training and evaluation both read its ``onto_mat`` / ``cls_path_ids``.

Split: gold links divide 7:2:1 train/valid/test by a deterministic
portable hash of e1 (reference pre-materializes 721_5fold folds,
kgs.py:367-369 — same ratio, hash-based for reproducibility without
files).

The distributed side never materializes an n1 x n2 matrix — evaluation
goes through the blocked/candidate join (simjoin.py), the 100 TB-safe
path; the trainer's driver-side matmul only ever sees the valid split
for early stopping.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ontoea_spark.functions.hashing import portable_hash64
from ontoea_spark.ontology import compat as OC
from ontoea_spark.ontology import fixture as OF
from ontoea_spark.ontology import tree as OT
from ontoea_spark.ontology.pathmask import padding_class_path, path_weighted_embeds
from ontoea_spark.operators import evaluation as EV
from ontoea_spark.operators import simjoin as SJ
from ontoea_spark.operators.dictionary import _fits_broadcast, _gated_broadcast
from ontoea_spark.operators.dictionary import encode_triples, two_kg_dictionaries
from ontoea_spark.session import local_frame
from ontoea_spark.training.trainer import OntoEATrainer, TrainConfig


@dataclass
class AlignmentData:
    """Id-encoded training inputs + the DataFrames they came from."""

    edges: DataFrame                # (s_id, p_id, o_id[, kg])
    links_split: DataFrame          # (id1, id2, split)
    cv_ids: DataFrame               # (ent_id, cls_id)
    cls_ids: DataFrame              # (cls, cls_id)
    sub_ids: np.ndarray             # [m, 2] (child_cls_id, parent_cls_id)
    onto_mat: np.ndarray            # [n_cls, n_cls] conflict matrix (G5)
    cls_path_ids: dict              # class_id -> [leaf_id, ..., root_id] (G2)
    n_ent: int
    n_rel: int
    n_cls: int
    # the (kg, elem, id) entity dictionary, kept so downstream consumers
    # (predict_matches -> canonicalize) can map id-level predictions back
    # to URIs; None for hand-built id-level fixtures
    ent_dict: DataFrame | None = None


def split_links(links_ids: DataFrame) -> DataFrame:
    """7:2:1 train/valid/test by portable hash of id1 (deterministic,
    engine-independent)."""
    h = F.pmod(portable_hash64(F.col("id1").cast("string")), F.lit(10))
    return links_ids.select(
        "id1",
        "id2",
        F.when(h < 7, "train").when(h < 9, "valid").otherwise("test").alias("split"),
    )


def prepare_from_parts(
    spark: SparkSession,
    triples1: DataFrame,
    triples2: DataFrame,
    links: DataFrame,
    cv: DataFrame,
) -> AlignmentData:
    """triples*: (s, p, o) URI frames; links: (e1, e2); cv: (entity, cls)."""
    # one pass over the triple stream for both dictionaries (checkpointed
    # by the builder); the per-KG encode union keeps the edge row order
    # the trainer RNG walks
    both = triples1.withColumn("kgn", F.lit(1)).unionByName(
        triples2.withColumn("kgn", F.lit(2))
    )
    ent_ids, rel_ids, n_ent, n_rel = two_kg_dictionaries(
        both, F.col("kgn"), with_sizes=True
    )
    ent_small, rel_small = _fits_broadcast(n_ent), _fits_broadcast(n_rel)
    e1m = ent_ids.filter("kg = 1")
    e2m = ent_ids.filter("kg = 2")
    edges = (
        encode_triples(triples1, e1m, rel_ids.filter("kg = 1"), ent_small, rel_small)
        .unionByName(
            encode_triples(triples2, e2m, rel_ids.filter("kg = 2"), ent_small, rel_small)
        )
        .cache()
    )
    # the dictionary sides are hinted: unhinted, AQE broadcasts whichever
    # side's shuffle stage finishes first, and the build side sets the
    # row order the trainer RNG walks. The repartition keeps the order
    # that links had after the plain plan's hash exchange on e1
    e1_ids = e1m.select(F.col("elem").alias("e1"), F.col("id").alias("id1"))
    e2_ids = e2m.select(F.col("elem").alias("e2"), F.col("id").alias("id2"))
    links_ids = (
        links.repartition("e1")
        .join(_gated_broadcast(e1_ids, ent_small), "e1")
        .join(_gated_broadcast(e2_ids, ent_small), "e2")
        .select("id1", "id2")
    )
    links_split = split_links(links_ids).cache()

    leaf = cv.select("cls").distinct()
    sub, _disj = OF.synth_ontology(spark, leaf)
    classes = OT.all_classes(sub)
    # classes is a handful of rows — one tiny partition is correct.
    # Partition on a column-derived constant (length(cls)*0): a bare
    # lit(0) is constant-folded to an empty spec and re-triggers the
    # WindowExec no-partition warning.
    cls_ids = classes.select(
        "cls",
        (
            F.row_number().over(
                Window.partitionBy(F.length("cls") * 0).orderBy("cls")
            )
            - 1
        ).cast("long").alias("cls_id"),
    ).cache()
    all_ent = ent_ids.select(F.col("elem").alias("entity"), F.col("id"))
    # cv_ids and sub_j are built as links_ids is; the class side is a few
    # rows (training holds an n_cls x n_cls matrix on the driver)
    cv_ids = (
        cv.repartition("cls")
        .join(F.broadcast(cls_ids), "cls")
        .join(_gated_broadcast(all_ent, ent_small), "entity")
        .select(F.col("id").alias("ent_id"), "cls_id")
        .cache()
    )
    child_ids = cls_ids.withColumnRenamed("cls", "child").withColumnRenamed("cls_id", "child_id")
    parent_ids = cls_ids.withColumnRenamed("cls", "parent").withColumnRenamed("cls_id", "parent_id")
    sub_j = (
        sub.repartition("child")
        .join(F.broadcast(child_ids), "child")
        .join(F.broadcast(parent_ids), "parent")
        .select("child_id", "parent_id")
    )
    sub_arr = np.array(
        [[r.child_id, r.parent_id] for r in sub_j.collect()], dtype=np.int64
    ).reshape(-1, 2)
    id_of = {r.cls: r.cls_id for r in cls_ids.collect()}
    n_cls = len(id_of)

    # G2 class paths + G5 conflict matrix (check_type_coherence v5); the
    # paths collect materializes cpd for the compat cross join
    cpd = OT.disjoint_targets(OT.class_paths(sub, iters=8), _disj).localCheckpoint(
        eager=False
    )
    cls_path_ids = {
        id_of[r.cls]: [id_of[x] for x in r.path]
        for r in cpd.select("cls", "path").collect()
    }
    onto_mat = np.zeros((n_cls, n_cls), dtype=np.float64)
    for r in OC.compat_pairs(cpd, version=5, k=1.0).collect():
        onto_mat[id_of[r.c1], id_of[r.c2]] = r.score
    return AlignmentData(
        edges=edges,
        links_split=links_split,
        cv_ids=cv_ids,
        cls_ids=cls_ids,
        sub_ids=sub_arr,
        onto_mat=onto_mat,
        cls_path_ids=cls_path_ids,
        n_ent=n_ent,
        n_rel=n_rel,
        n_cls=n_cls,
        ent_dict=ent_ids,
    )


def prepare_from_build(
    spark: SparkSession, triples: DataFrame, links: DataFrame
) -> AlignmentData:
    """Web-corpus path: a finished build's ``triples`` (s, p, o, kg<N>:
    prefixed; ``KGBuildResult.triples`` or the checkpointed build's
    snapshot) and gold ``links`` feed the same core."""
    triples1 = triples.filter(F.col("s").startswith("kg1:")).select("s", "p", "o")
    triples2 = triples.filter(F.col("s").startswith("kg2:")).select("s", "p", "o")
    word = F.expr("substr(entity, 5)")
    ents1 = triples1.selectExpr("s AS entity").union(
        triples1.selectExpr("o")
    ).distinct()
    ents2 = triples2.selectExpr("s AS entity").union(
        triples2.selectExpr("o")
    ).distinct()
    cv = (
        ents1.filter(F.length(word) > 5)
        .select("entity", F.concat(F.lit("cls:"), F.substring(word, 1, 1)).alias("cls"))
        .unionByName(
            ents2.filter(F.length(word) >= 5).select(
                "entity",
                F.concat(F.lit("cls2:"), F.substring(word, 1, 1)).alias("cls"),
            )
        )
    )
    return prepare_from_parts(spark, triples1, triples2, links, cv)


def train(data: AlignmentData, cfg: TrainConfig | None = None) -> OntoEATrainer:
    """Train on the prepared id-encoded parts. cv/train/valid links are
    seed-scale (collected); the triple set is collected ONLY in the
    default driver-side gradient_mode — under gradient_mode='spark' the
    edge DataFrame goes to fit() as-is and E2 gradients are computed on
    the executors (OntoEATrainer._hash_step), so nothing KG-sized ever
    lands on the driver (VERDICT r02 'What's wrong' #3)."""
    spark_mode = cfg is not None and cfg.gradient_mode == "spark"
    if spark_mode:
        triples = np.zeros((0, 3), dtype=np.int64)
    else:
        triples = np.array(
            [
                [r.s_id, r.p_id, r.o_id]
                for r in data.edges.select("s_id", "p_id", "o_id").collect()
            ],
            dtype=np.int64,
        ).reshape(-1, 3)
    cv = np.array(
        [[r.ent_id, r.cls_id] for r in data.cv_ids.collect()], dtype=np.int64
    ).reshape(-1, 2)
    links = data.links_split.collect()

    def pairs(split: str) -> np.ndarray:
        return np.array(
            [[r.id1, r.id2] for r in links if r.split == split], dtype=np.int64
        ).reshape(-1, 2)

    tr, va = pairs("train"), pairs("valid")
    model = OntoEATrainer(data.n_ent, data.n_rel, data.n_cls, cfg)
    model.fit(
        triples,
        data.sub_ids,
        cv,
        tr,
        valid_links=va,
        onto_mat=data.onto_mat,
        spark=data.edges.sparkSession if spark_mode else None,
        triples_df=(
            data.edges.selectExpr("s_id AS h", "p_id AS r", "o_id AS t")
            if spark_mode
            else None
        ),
    )
    return model


def _split_embeds(
    spark: SparkSession, data: AlignmentData, model: OntoEATrainer, split: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The evaluation prelude: one collect of the split's (id1, id2)
    links, then the (id, vec) frames of its mapped left and l2-normed
    right embeddings. Returns (gold[lid, gold_rid], left, right)."""
    test = data.links_split.filter(F.col("split") == split)
    links = test.select("id1", "id2").collect()
    ids1 = np.array([r.id1 for r in links], dtype=np.int64)
    ids2 = np.array([r.id2 for r in links], dtype=np.int64)
    e2 = model.ent_rows(ids2)
    norm2 = e2 / np.linalg.norm(e2, axis=1, keepdims=True)

    def embed(ids: np.ndarray, vecs: np.ndarray) -> DataFrame:
        rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
        return local_frame(spark, rows, "id long, vec array<double>")

    gold = test.select(F.col("id1").alias("lid"), F.col("id2").alias("gold_rid"))
    return gold, embed(ids1, model.mapped_embeds(ids1)), embed(ids2, norm2)


def evaluate(
    spark: SparkSession,
    data: AlignmentData,
    model: OntoEATrainer,
    split: str = "test",
    gamma: float = 0.2,
    top_k: tuple[int, ...] = (1, 5, 10),
    type_mode: str = "compat",
    delay_weight: float = 1.0,
    csls_k: int = 0,
) -> DataFrame:
    """Distributed fused evaluation on one split (V4/V5/J8/J11/A7):
    sim = inner(map(e1), e2) + gamma * type_score(cls(e1), cls(e2)) over
    the split's candidate space (test e1 x test e2 — the reference's test
    protocol, ontoea.py:709-761).

    type_mode 'compat': v5 class-compatibility scores (J11);
    type_mode 'path': V6 — cosine of the decay-mask-weighted class-path
    embeddings (G2/ontoea.py:656-681, delay_weight semantics).
    csls_k > 0: CSLS-rescale the fused scores before ranking (T4, the
    reference's third evaluation pass, evaluation.py:5-36)."""
    gold, left, right = _split_embeds(spark, data, model, split)
    scores = SJ.all_pairs_scores(left, right, metric="inner", round_to=None)
    compat = _compat_table(spark, data, model, type_mode, delay_weight)
    fused = _fuse_type_scores(scores, data, compat, gamma)
    if csls_k > 0:
        fused = SJ.csls_rescale(fused, k=csls_k, round_to=9).select(
            "lid", "rid", F.col("csls").alias("sim")
        )
    ranks = EV.ranks_vs_gold(fused, gold)
    return EV.rank_metrics(ranks, top_k=top_k)


def _class_pair_frame(
    spark: SparkSession, data: AlignmentData, mat: np.ndarray, order
) -> DataFrame:
    """(c1, c2, score) rows of a class x class matrix whose row/column i
    is class id ``order[i]``; a local relation, read without a job."""
    import pandas as pd

    name_of = {r.cls_id: r.cls for r in data.cls_ids.collect()}
    names = [name_of[c] for c in order]
    n = len(names)
    pdf = pd.DataFrame(
        {"c1": np.repeat(names, n), "c2": np.tile(names, n), "score": np.ravel(mat)}
    )
    return spark.createDataFrame(pdf, "c1 string, c2 string, score double")


def _compat_table(
    spark: SparkSession,
    data: AlignmentData,
    model: OntoEATrainer,
    type_mode: str,
    delay_weight: float,
) -> DataFrame:
    """(c1, c2, score) class-pair rescoring table — J11 'compat' (the v5
    conflict matrix prepare built, ``data.onto_mat``) or V6 'path'
    (decay-mask-weighted class-path embedding cosines). Class-count
    sized: always broadcastable."""
    if type_mode != "path":
        return _class_pair_frame(spark, data, data.onto_mat, range(data.n_cls))
    _d, pmat, mmat, order = padding_class_path(
        data.cls_path_ids, delay_weight=delay_weight
    )
    W = path_weighted_embeds(model.onto, pmat, mmat)
    nw = np.linalg.norm(W, axis=1, keepdims=True)
    nw[nw == 0] = 1.0
    Wn = W / nw
    # per-pair dots, not Wn @ Wn.T: BLAS may sum in another order
    n = len(order)
    cos = np.array([[Wn[i] @ Wn[j] for j in range(n)] for i in range(n)])
    return _class_pair_frame(spark, data, cos, order)


def _class_maps(data: AlignmentData) -> tuple[DataFrame, DataFrame]:
    """The entity -> class-name sides of the type fusion: (lid, c1) and
    (rid, c2)."""
    named = data.cv_ids.join(data.cls_ids, "cls_id")
    return (
        named.select(F.col("ent_id").alias("lid"), F.col("cls").alias("c1")),
        named.select(F.col("ent_id").alias("rid"), F.col("cls").alias("c2")),
    )


def _fuse_type_scores(
    scores: DataFrame,
    data: AlignmentData,
    compat: DataFrame,
    gamma: float,
) -> DataFrame:
    """sim + gamma * type_score over (lid, rid, sim) rows. ``compat``
    is class x class — always broadcast; ``lcls``/``rcls`` are
    ENTITY-count sized (they grow with the corpus), so their hints are
    row-count-gated on the measured cv_ids size — a hard hint OOMs at
    10^8 entities; past the gate AQE plans the joins."""
    cls_small = _fits_broadcast(data.cv_ids.count())
    lcls, rcls = _class_maps(data)
    return (
        scores.join(_gated_broadcast(lcls, cls_small), "lid", "left")
        .join(_gated_broadcast(rcls, cls_small), "rid", "left")
        .join(F.broadcast(compat), ["c1", "c2"], "left")
        .withColumn(
            "sim",
            F.col("sim") + F.lit(gamma) * F.coalesce(F.col("score"), F.lit(0.0)),
        )
        .select("lid", "rid", F.round("sim", 9).alias("sim"))
    )


def evaluate_candidates(
    spark: SparkSession,
    data: AlignmentData,
    model: OntoEATrainer,
    split: str = "test",
    gamma: float = 0.2,
    top_k: tuple[int, ...] = (1, 5, 10),
    type_mode: str = "compat",
    delay_weight: float = 1.0,
    k_cand: int = 50,
    reranked_cache: dict | None = None,
) -> DataFrame:
    """The 100x-scale V5 protocol: same fused scoring as :func:`evaluate`
    but over a blocked exact top-``k_cand`` candidate table — nothing in
    the plan materializes |test|^2 rows (the all-pairs path is the
    at-15K-reference protocol only).

    Candidates are the exact top-k_cand per lid by embedding inner
    product (blocked_topk_join); J11 type rescoring applies within the
    pool and the pool re-ranks by the fused score. |type score| <= 1, so
    a rid outside the pool can only beat a pooled one if its raw sim
    deficit is < 2*gamma: Hits@k (k <= min(top_k)) is exact WHEN the
    pool's raw-sim margin at k_cand exceeds 2*gamma, and an upper bound
    otherwise (in practice the margin holds and parity with evaluate()
    is asserted at test scale, tests/test_alignment.py — see
    ranks_vs_gold_candidates for the full bound semantics). Gold outside
    the pool scores rank k_cand + 1 (hits exact under the margin
    condition, MR lower / MRR upper bound)."""
    reranked, gold = _fused_reranked(
        spark, data, model, split, gamma, type_mode, delay_weight, k_cand,
        cache=reranked_cache,
    )
    ranks = EV.ranks_vs_gold_candidates(reranked, gold, k_cand)
    return EV.rank_metrics(ranks, top_k=top_k)


def _fused_reranked(
    spark: SparkSession,
    data: AlignmentData,
    model: OntoEATrainer,
    split: str,
    gamma: float,
    type_mode: str,
    delay_weight: float,
    k_cand: int,
    cache: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared candidate chain of evaluate_candidates / predict_matches:
    blocked exact top-k_cand by mapped inner product, J11 type fusion,
    in-pool rerank. Returns (reranked[lid, rid, sim, rk], gold[lid, gold_rid]).

    ``cache``: caller-owned dict for jobs that consume the SAME split's
    chain twice (run_job's --align --canonicalize runs the test-split
    metrics AND the match export) — the reranked frame is checkpointed
    on first build so the blocked top-k executes once per split, and
    the cache's lifetime (not a hidden memo) bounds staleness."""
    key = (split, gamma, type_mode, delay_weight, k_cand)
    if cache is not None and key in cache:
        return cache[key]
    gold, left, right = _split_embeds(spark, data, model, split)
    cands = SJ.blocked_topk_join(
        left, right, k=k_cand, metric="inner", round_to=None
    ).select("lid", "rid", "sim")
    compat = _compat_table(spark, data, model, type_mode, delay_weight)
    fused = _fuse_type_scores(cands, data, compat, gamma)
    w = Window.partitionBy("lid").orderBy(F.desc("sim"), F.asc("rid"))
    reranked = fused.withColumn("rk", F.row_number().over(w).cast("long"))
    if cache is not None:
        reranked = reranked.localCheckpoint(eager=True)
        cache[key] = (reranked, gold)
    return reranked, gold


def _uri_pairs(pairs: DataFrame, ent_dict: DataFrame) -> DataFrame:
    """(id1, id2) pairs -> (e1, e2) URI pairs through the (kg, elem, id)
    entity dictionary: id1 looks up kg 1, id2 kg 2."""
    d1 = ent_dict.filter("kg = 1").select(
        F.col("id").alias("id1"), F.col("elem").alias("e1")
    )
    d2 = ent_dict.filter("kg = 2").select(
        F.col("id").alias("id2"), F.col("elem").alias("e2")
    )
    return pairs.join(d1, "id1").join(d2, "id2").select("e1", "e2")


def predict_matches(
    spark: SparkSession,
    data: AlignmentData,
    model: OntoEATrainer,
    splits: tuple[str, ...] = ("valid", "test"),
    gamma: float = 0.2,
    type_mode: str = "compat",
    delay_weight: float = 1.0,
    k_cand: int = 50,
    reranked_cache: dict | None = None,
) -> DataFrame:
    """Predicted alignment pairs — the table canonicalization consumes.

    For each left entity of the requested splits, the fused-score argmax
    over its candidate pool (same chain as :func:`evaluate_candidates`,
    nothing materializes |split|^2 rows). Returns URI pairs (e1, e2)
    when ``data.ent_dict`` is present (prepare_from_parts keeps it),
    id pairs (id1, id2) otherwise.

    The reference never exports matches — evaluation is terminal there
    (ontoea.py test loop); here predictions feed the north rule's
    "link and canonicalize" stage (pipeline/canonicalize.py), with the
    train-split seeds merged directly by the caller (they are known
    alignments, not predictions)."""
    parts = [
        _fused_reranked(
            spark, data, model, s, gamma, type_mode, delay_weight, k_cand,
            cache=reranked_cache,
        )[0].filter(F.col("rk") == 1)
        for s in splits
    ]
    pred = parts[0]
    for p in parts[1:]:
        pred = pred.unionByName(p)
    pred = pred.select(F.col("lid").alias("id1"), F.col("rid").alias("id2"))
    if data.ent_dict is None:
        return pred
    return _uri_pairs(pred, data.ent_dict)


def seed_matches(data: AlignmentData) -> DataFrame:
    """The train-split links as URI pairs (e1, e2) — known alignments the
    canonicalization stage merges directly (no prediction involved).
    Requires ``data.ent_dict``."""
    if data.ent_dict is None:
        raise ValueError("seed_matches needs data.ent_dict (URI dictionary)")
    return _uri_pairs(
        data.links_split.filter(F.col("split") == "train"), data.ent_dict
    )


def run_benchmark_alignment(
    spark: SparkSession,
    n_ent: int = 300,
    cfg: TrainConfig | None = None,
    gamma: float = 0.2,
    seed: int = 42,
) -> DataFrame:
    """D-W-15K-style synthetic benchmark end-to-end (benchgen.py)."""
    from ontoea_spark.training.benchgen import generate_two_kg

    bench = generate_two_kg(spark, n_ent=n_ent, seed=seed)
    data = prepare_from_parts(
        spark, bench.triples1, bench.triples2, bench.links, bench.cv
    )
    model = train(data, cfg or TrainConfig(dim=32, epochs=40, seed=seed))
    return evaluate(spark, data, model, gamma=gamma)
