"""Physical-plan regression gates for the scale properties the engine
depends on: predicate pushdown reaching the parquet scan, and candidate
joins staying equi-joins (never a row-level cartesian product)."""

from __future__ import annotations

from tests.conftest import REPO, SF_CORRECT, past_broadcast_gate


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark):
    from ontoea_spark import driver_queries as DQ

    df = DQ.queries()["q1_pricing"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "PushedFilters: [" in plan, plan
    # the shipdate predicate must reach the scan, not sit in a Filter above it
    scan_part = plan[plan.index("PushedFilters") :]
    assert "l_shipdate" in scan_part[:400], scan_part[:400]


def test_embedding_neardup_is_not_all_pairs(spark):
    """The near-dup path must candidate-generate via bucket equi-joins —
    a CartesianProduct/BroadcastNestedLoop over the embedding rows is the
    n^2 regression the LSH banding exists to prevent."""
    from ontoea_spark import driver_queries as DQ

    df = DQ.queries()["dedup_embedding"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_contamination_broadcasts_benchmark_side(spark):
    from ontoea_spark import driver_queries as DQ

    df = DQ.queries()["contamination"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_lsh_topk_is_equi_join(spark):
    from ontoea_spark import driver_queries as DQ

    df = DQ.queries()["ann_lsh_top1"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivfpq_scoring_is_projection_not_pivot(spark):
    """IVF-PQ ADC scoring must be a static array-lookup projection over
    the candidate equi-join — no aggregate ON THE CANDIDATE PAIRS (the
    pivot regression would shuffle candidates x m rows through a
    groupBy(lid, rid)). Cell assignment on all three IVF paths is a
    per-row projection: no nested-loop or cartesian fan-out of the
    rows against the centroids."""
    import re

    from ontoea_spark import driver_queries as DQ

    for name in ("ann_ivfpq_top1", "ann_ivf_top1", "ann_ivf_kmeans_top1"):
        plan = _plan(DQ.queries()[name](spark, SF_CORRECT))
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        # every HashAggregate keys on a single id; a pair-keyed
        # aggregate would print both lid and rid in its keys
        for keys in re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan):
            assert not ("lid" in keys and "rid" in keys), keys


def test_source_cap_first_window_is_salt_partitioned(spark):
    """The stratified cap's first window must partition by (source, salt)
    so a hot domain never lands in a single window task; the final
    source-level window then sees at most cap * n_salts rows."""
    from ontoea_spark import driver_queries as DQ

    df = DQ.queries()["source_cap"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "_salt" in plan, plan
    # salted window comes before (deeper in the plan string than) the
    # final source-only window: two Window operators total
    assert plan.count("Window") >= 2, plan


def test_curation_pipeline_plan_shape(spark):
    """The end-to-end curation chain must stay hash-joined (no row-level
    cartesian/nested-loop) and keep the salted cap window — the composite
    plan must not degrade the properties each stage guarantees alone."""
    from ontoea_spark import driver_queries as DQ

    df = DQ.queries()["curation_pipeline"](spark, SF_CORRECT)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "salt" in plan, plan


def test_filter_ops_broadcast_gate(spark):
    """The P6/P7/J2/J4 link- and entity-set hints are row-count-gated:
    link/entity sets grow with the corpus, so a hard broadcast hint on
    them is an OOM at crawl scale. Small sides keep the broadcast plan;
    threshold 0 drops the hint (AQE plans the join), results identical."""
    from ontoea_spark.operators.filters import (
        remove_no_triples_link,
        remove_unlinked_triples,
    )

    triples = spark.createDataFrame(
        [("a", "p", "b"), ("b", "q", "c"), ("c", "p", "a")],
        "s string, p string, o string",
    )
    linked = spark.createDataFrame([("a",), ("b",)], "entity string")

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString().lower()

    hinted = remove_unlinked_triples(triples, linked)
    with past_broadcast_gate():
        gated = remove_unlinked_triples(triples, linked)
    assert "broadcast" in plan(hinted), plan(hinted)
    assert "broadcast" not in plan(gated), plan(gated)
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(hinted) == rows(gated) == [("a", "p", "b")]

    links = spark.createDataFrame([("a", "x"), ("z", "y")], "e1 string, e2 string")
    t2 = spark.createDataFrame([("x", "p", "y")], "s string, p string, o string")
    h2 = remove_no_triples_link(links, triples, t2)
    with past_broadcast_gate():
        g2 = remove_no_triples_link(links, triples, t2)
    assert "broadcast" in plan(h2), plan(h2)
    assert "broadcast" not in plan(g2), plan(g2)
    assert (
        rows(h2.select("e1", "e2")) == rows(g2.select("e1", "e2")) == [("a", "x")]
    )


def _gate_hints(spark, build):
    """(broadcast hints, result rows) of one operator call. Hints are
    counted over the optimized plans of the returned frames and of every
    frame the call localCheckpoints on the way (a checkpoint hides the
    plan it materializes)."""
    import pytest

    seen = []
    frame_cls = type(spark.range(0))
    checkpoint = frame_cls.localCheckpoint

    def spy(df, eager=True):
        seen.append(df)
        return checkpoint(df, eager)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(frame_cls, "localCheckpoint", spy)
        frames = build()
    hints = sum(
        df._jdf.queryExecution().optimizedPlan().toString().lower().count("broadcast")
        for df in seen + list(frames)
    )
    rows = [sorted(repr(tuple(r)) for r in df.collect()) for df in frames]
    return hints, rows


def test_one_constant_governs_every_gate(spark):
    """Every size-gated hint reads the one threshold at call time: with
    ``dictionary.BROADCAST_ROW_THRESHOLD`` at 0, each gated operator the
    tests above do not drive past its gate plans strictly fewer
    broadcast hints, with identical rows."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from ontoea_spark.operators.dedup import incremental_exact_dedup
    from ontoea_spark.operators.dictionary import sharing_ids
    from ontoea_spark.operators.filters import (
        links_triples_fixpoint,
        sup_cv_links,
        sup_relation_triples,
    )
    from ontoea_spark.operators.sampling import corrupt_triples, neg_antijoin
    from ontoea_spark.pipeline.canonicalize import (
        canonical_triple_provenance,
        canonicalize_kg,
        ingest_canonical_batch,
        rewrite_triples,
        vertex_provenance,
    )
    from ontoea_spark.pipeline.incremental import extend_dictionary
    from ontoea_spark.streaming.kg_stream import decoded_edges

    df = spark.createDataFrame
    spo = "s string, p string, o string"
    t1 = df([("kg1:a", "p", "kg1:b"), ("kg1:b", "q", "kg1:c")], spo)
    t2 = df([("kg2:x", "p", "kg2:y"), ("kg2:y", "q", "kg2:z")], spo)
    links = df([("kg1:a", "kg2:x"), ("kg1:b", "kg2:y")], "e1 string, e2 string")
    cv = df([("kg1:a", "cls:A"), ("kg2:y", "cls:B")], "entity string, cls string")
    mapping = df([("kg2:x", "kg1:a")], "entity string, canonical string")
    ids = "s_id long, p_id long, o_id long"
    edges = df([(0, 0, 1), (1, 1, 2)], ids)
    cand = df([(0, 0, 1), (2, 0, 1)], "h_id long, r_id long, t_id long")
    docs = "doc_id long, text string"
    old_docs = df([(1, "a b"), (2, "c d")], docs)
    new_docs = df([(3, "a b"), (4, "e f")], docs)
    occs = df([(1, "kg1:a"), (1, "kg1:new")], "kg long, elem string")
    dict_cols = "kg long, elem string, freq long, rank long, id long"
    ent = df([(1, "kg1:a", 2, 0, 0), (1, "kg1:b", 1, 1, 1)], dict_cols)
    rel = df([(1, "p", 1, 0, 0)], dict_cols)
    pages = df(
        [("u1", datetime(2024, 1, 1), "customer join table and part join table")],
        "url string, warc_ts timestamp, text string",
    )
    merge_part = df([("part", "customer")], "entity string, canonical string")

    def ingest():
        d = ingest_canonical_batch(
            rewrite_triples(t1.unionByName(t2), mapping),
            mapping,
            df([("kg2:z", "r", "kg1:c")], spo),
            df([("kg2:z", "kg1:c")], "e1 string, e2 string"),
        )
        return d.triples, d.novel_triples, d.mapping

    def canonical():
        kg = canonicalize_kg(t1, t2, links)
        return kg.edges, kg.vertices

    cases = {
        "sharing_ids": lambda: [sharing_ids(t1, t2, links)],
        "sup_relation_triples": lambda: [sup_relation_triples(links, t1)],
        "sup_cv_links": lambda: [sup_cv_links(links, cv)],
        "corrupt_triples": lambda: [
            corrupt_triples(edges, ent.select("rank", "id"))
        ],
        "neg_antijoin": lambda: [neg_antijoin(cand, edges)],
        "incremental_exact_dedup": lambda: [
            incremental_exact_dedup(old_docs, new_docs)
        ],
        "extend_dictionary": lambda: [extend_dictionary(ent, occs)],
        "canonical_triple_provenance": lambda: [
            canonical_triple_provenance(pages, merge_part)
        ],
        "vertex_provenance": lambda: [
            vertex_provenance(t1.select(F.col("s").alias("entity")), mapping)
        ],
        "ingest_canonical_batch": ingest,
        "canonicalize_kg": canonical,
        "links_triples_fixpoint": lambda: links_triples_fixpoint(links, t1, t2),
        "decoded_edges": lambda: [
            decoded_edges(ent, rel, df([(0, 0, 1, 1)], f"{ids}, kg long"))
        ],
    }
    for name, build in cases.items():
        hinted, want = _gate_hints(spark, build)
        with past_broadcast_gate():
            gated, got = _gate_hints(spark, build)
        assert gated < hinted, (name, hinted, gated)
        assert got == want, name


def test_r6_broadcast_gate_sweep(spark):
    """r6 sweep (VERDICT r5 'wrong' #1/#2): the four remaining hard
    broadcast hints on corpus-growing frames are row-count-gated (or
    dropped in favour of the planner's own size estimate). Each site:
    small input -> broadcast present; threshold 0 (the at-scale
    verdict) -> hint absent, AQE/SMJ plans the join; rows identical."""
    from pyspark.sql import functions as F

    from ontoea_spark.operators.dedup import ngram_jaccard_pairs
    from ontoea_spark.pipeline.curation import domain_quality_prior, quality_score

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString().lower()

    rows = lambda df: sorted(tuple(r) for r in df.collect())

    # (a) ngram_jaccard_pairs posting cap: the build side is now the
    # SMALL over-cap hot-shingle set (anti-join), never the corpus-
    # sized keep set
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
        "doc_id long, text string",
    )
    # max_shingle_df=1 makes the shared shingles (df=2) actual HOT
    # entries, so the anti-join build side is non-empty and the
    # threshold-0 gate genuinely drops the hint
    hinted = ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_shingle_df=1)
    with past_broadcast_gate():
        gated = ngram_jaccard_pairs(docs, n=3, threshold=0.1, max_shingle_df=1)
    assert "broadcast" in plan(hinted), plan(hinted)
    assert "broadcast" not in plan(gated), plan(gated)
    assert rows(hinted) == rows(gated)

    # (d) domain_quality_prior host-rank side
    scored = quality_score(docs)
    doc_hosts = docs.select("doc_id", F.lit("h1").alias("host"))
    ranks = spark.createDataFrame([("h1", 0.5), ("h2", 0.5)], "host string, pagerank double")
    hinted = domain_quality_prior(scored, doc_hosts, ranks)
    with past_broadcast_gate():
        gated = domain_quality_prior(scored, doc_hosts, ranks)
    # the 1-row n_hosts aggregate broadcast is always present; assert on
    # the host-rank JOIN side by plan diff: the gated plan has strictly
    # fewer broadcast hints
    assert plan(hinted).count("broadcast") > plan(gated).count("broadcast"), (
        plan(gated)
    )
    assert rows(hinted) == rows(gated)


def test_r6_fuse_type_scores_gate(spark):
    """(b) _fuse_type_scores' entity-count lcls/rcls sides are gated."""
    import numpy as np
    from pyspark.sql import functions as F

    from ontoea_spark.training.align_pipeline import AlignmentData, _fuse_type_scores

    cv_ids = spark.createDataFrame([(0, 0), (1, 1)], "ent_id long, cls_id long")
    cls_ids = spark.createDataFrame([("cls:a", 0), ("cls:b", 1)], "cls string, cls_id long")
    data = AlignmentData(
        edges=None, links_split=None, cv_ids=cv_ids, cls_ids=cls_ids,
        sub_ids=np.zeros((0, 2), dtype=np.int64),
        onto_mat=np.zeros((2, 2)), cls_path_ids={}, n_ent=2, n_rel=1, n_cls=2,
    )
    compat = spark.createDataFrame(
        [("cls:a", "cls:b", 0.5)], "c1 string, c2 string, score double"
    )
    scores = spark.createDataFrame(
        [(0, 1, 0.9)], "lid long, rid long, sim double"
    )
    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString().lower()

    hinted = _fuse_type_scores(scores, data, compat, gamma=0.2)
    with past_broadcast_gate():
        gated = _fuse_type_scores(scores, data, compat, gamma=0.2)
    assert plan(hinted).count("broadcast") > plan(gated).count("broadcast")
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(hinted) == rows(gated)


def test_r6_ranks_vs_gold_unforced(spark):
    """(c) ranks_vs_gold no longer FORCES a broadcast of the test-split
    sized gold frame: with auto-broadcast disabled the plan contains no
    broadcast join (the r5 hard hint would override the setting), while
    under normal settings the planner still broadcasts the small side."""
    from ontoea_spark.operators.evaluation import ranks_vs_gold

    scores = spark.createDataFrame(
        [(0, 1, 0.9), (0, 2, 0.8)], "lid long, rid long, sim double"
    )
    gold = spark.createDataFrame([(0, 1)], "lid long, gold_rid long")

    def final_plan(df):
        # run first: local-relation inputs have no size estimate until
        # AQE observes the shuffle, so the broadcast decision (without
        # any hint) only shows in the FINAL adaptive plan
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString().lower()

    assert "broadcast" in final_plan(ranks_vs_gold(scores, gold))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        unforced = final_plan(ranks_vs_gold(scores, gold))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "broadcasthashjoin" not in unforced, unforced
    out = sorted(tuple(r) for r in ranks_vs_gold(scores, gold).collect())
    assert out == [(0, 1)]


def _holds_python(df) -> bool:
    """Does the frame's RDD lineage hold a Python worker stage (run by
    every job that scans it)?"""
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def test_driver_rows_frames_start_no_python_worker(spark):
    """Frames built from driver-held rows reach the JVM as Arrow: their
    lineage holds no Python worker stage, before their first job and
    after it, and neither do the prepared alignment inputs built over
    them. An empty frame has no partition."""
    from types import SimpleNamespace

    import numpy as np

    from ontoea_spark.ontology.fixture import synth_ontology
    from ontoea_spark.session import local_frame
    from ontoea_spark.training.align_pipeline import _split_embeds, prepare_from_parts
    from ontoea_spark.training.benchgen import generate_two_kg

    leaves = spark.range(3).selectExpr("concat('cls:', char(97 + id)) AS cls")
    subclass, disjoint = synth_ontology(spark, leaves)
    links = spark.range(4).selectExpr("id AS id1", "id + 10 AS id2", "'test' AS split")
    data = SimpleNamespace(links_split=links)
    model = SimpleNamespace(
        ent_rows=lambda ids: np.ones((len(ids), 3)),
        mapped_embeds=lambda ids: np.ones((len(ids), 3)),
    )
    _, left, right = _split_embeds(spark, data, model, "test")
    empty = local_frame(spark, [], "lid long, rid long, sim double")
    b = generate_two_kg(spark, n_ent=40, n_triples=160, seed=3, vectorized=True)
    frames = dict(
        subclass=subclass, disjoint=disjoint, left=left, right=right, empty=empty,
        triples1=b.triples1, triples2=b.triples2, links=b.links, cv=b.cv,
    )
    assert [k for k, df in frames.items() if _holds_python(df)] == []
    d = prepare_from_parts(spark, b.triples1, b.triples2, b.links, b.cv)
    frames.update(edges=d.edges, links_split=d.links_split, cv_ids=d.cv_ids)
    for df in frames.values():
        df.count()
    assert [k for k, df in frames.items() if _holds_python(df)] == []
    assert empty.rdd.getNumPartitions() == 0 and empty.collect() == []
    assert left.count() == right.count() == 4


def test_row_lists_become_frames_only_through_local_frame():
    """Source guard: outside ``session.local_frame``, package code hands
    ``createDataFrame`` only pandas frames (an Arrow local relation, no
    Python worker), never a Python row list (a Python RDD, read by a
    worker task per slice in every job). ``local_frame`` sends its rows
    to the JVM as Arrow too, but keeps a row-list frame's plans."""
    import ast
    import pathlib

    def is_pandas(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "DataFrame"
        )

    bad = []
    for path in sorted(pathlib.Path(REPO, "ontoea_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        skip = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame"
            for n in ast.walk(fn)
        }
        pandas_names = {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign) and is_pandas(n.value)
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(tree):
            if (
                id(n) in skip
                or not isinstance(n, ast.Call)
                or not isinstance(n.func, ast.Attribute)
                or n.func.attr != "createDataFrame"
            ):
                continue
            arg = n.args[0]
            named = isinstance(arg, ast.Name) and arg.id in pandas_names
            if not (is_pandas(arg) or named):
                bad.append(f"{path.relative_to(REPO)}:{n.lineno}")
    assert bad == [], bad


def test_checkpoint_runs_the_dags_not_their_steps():
    """Source guard: ``pipeline/checkpoint.py`` runs ``build_kg`` and
    ``canonicalize_kg`` with its stage runner and calls no extraction,
    dictionary, encode or canonicalization step itself — each DAG has
    one definition."""
    import ast
    import pathlib

    from ontoea_spark.operators import dictionary
    from ontoea_spark.pipeline import canonicalize, extract, kg_build

    steps = {
        name
        for mod in (extract, dictionary, canonicalize, kg_build)
        for name, obj in vars(mod).items()
        if callable(obj) and getattr(obj, "__module__", None) == mod.__name__
    } - {"build_kg", "canonicalize_kg"}
    tree = ast.parse(
        pathlib.Path(REPO, "ontoea_spark", "pipeline", "checkpoint.py").read_text()
    )
    called = {
        n.func.id if isinstance(n.func, ast.Name) else n.func.attr
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, (ast.Name, ast.Attribute))
    }
    assert {"build_kg", "canonicalize_kg"} <= called
    assert sorted(called & steps) == []
