"""Incremental KG update: frozen existing ids, dense appended ids, and
URI-level edge parity with a full rebuild on the combined corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, past_broadcast_gate


def _decode(edges, ent_ids, rel_ids):
    """edges back to (s_uri, p_uri, o_uri, kg) via the dictionaries."""
    e = ent_ids.select("kg", F.col("id").alias("eid"), F.col("elem").alias("uri"))
    r = rel_ids.select("kg", F.col("id").alias("rid"), F.col("elem").alias("puri"))
    return (
        edges.join(e.withColumnRenamed("eid", "s_id").withColumnRenamed("uri", "s"), ["kg", "s_id"])
        .join(r.withColumnRenamed("rid", "p_id").withColumnRenamed("puri", "p"), ["kg", "p_id"])
        .join(e.withColumnRenamed("eid", "o_id").withColumnRenamed("uri", "o"), ["kg", "o_id"])
        .select("s", "p", "o", "kg")
    )


def test_incremental_matches_full_rebuild(spark):
    from ontoea_spark.pipeline.extract import extract_pages_text, extract_triples
    from ontoea_spark.pipeline.incremental import incremental_update
    from ontoea_spark.pipeline.kg_build import build_kg, split_two_kgs
    from ontoea_spark.pipeline.pages import synthesize_pages

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    docs_a = docs.filter("doc_id % 3 != 0")
    docs_b = docs.filter("doc_id % 3 = 0")

    base = build_kg(synthesize_pages(docs_a))
    base_edges = base.edges.localCheckpoint(eager=True)
    base_ent = base.ent_ids.localCheckpoint(eager=True)
    base_rel = base.rel_ids.localCheckpoint(eager=True)

    tagged_b = split_two_kgs(extract_pages_text(synthesize_pages(docs_b)))
    delta = extract_triples(tagged_b.select("kg", "text"), namespace_col="kg")
    inc = incremental_update(
        base_ent,
        base_rel,
        base_edges,
        delta,
        F.when(F.col("s").startswith("kg1:"), F.lit(1)).otherwise(F.lit(2)),
    )

    # 1) existing assignments frozen
    old = {(r.kg, r.elem): r.id for r in base_ent.collect()}
    new = {(r.kg, r.elem): r.id for r in inc.ent_ids.collect()}
    for k, v in old.items():
        assert new[k] == v

    # 2) ids stay dense and collision-free
    ids = sorted(r.id for r in inc.ent_ids.collect())
    assert ids == list(range(len(ids)))

    # 3) URI-level edge parity with a full rebuild on A ∪ B
    full = build_kg(synthesize_pages(docs))
    want = {
        tuple(r)
        for r in _decode(full.edges, full.ent_ids, full.rel_ids).collect()
    }
    got = {
        tuple(r) for r in _decode(inc.edges, inc.ent_ids, inc.rel_ids).collect()
    }
    assert got == want and len(got) > 0


def test_large_delta_takes_non_broadcast_merge(spark):
    """The delta-merge broadcast is size-gated: past the broadcast gate
    the plan must degrade to a plain (non-hinted) anti-join instead of
    force-broadcasting an unbounded backfill, with identical results."""
    from ontoea_spark.pipeline.incremental import incremental_update

    ent = spark.createDataFrame(
        [(1, "e0", 3, 0, 0), (1, "e1", 2, 1, 1)],
        "kg long, elem string, freq long, rank long, id long",
    )
    rel = spark.createDataFrame(
        [(1, "p0", 3, 0, 0)], "kg long, elem string, freq long, rank long, id long"
    )
    edges = spark.createDataFrame(
        [(0, 0, 1, 1)], "s_id long, p_id long, o_id long, kg long"
    )
    delta = spark.createDataFrame(
        [("e1", "p0", "e2"), ("e0", "p0", "e1"), ("e0", "p0", "e1")],
        "s string, p string, o string",
    )

    inc_small = incremental_update(ent, rel, edges, delta, F.lit(1))
    with past_broadcast_gate():
        inc_big = incremental_update(ent, rel, edges, delta, F.lit(1))
    # the delta is localCheckpointed before the merge, so the merged
    # plan contains ONLY the merge joins — broadcast hints must appear
    # in the small-delta plan and be absent from the gated one
    plan_small = inc_small.edges._jdf.queryExecution().optimizedPlan().toString()
    plan_big = inc_big.edges._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in plan_small.lower(), plan_small
    assert "broadcast" not in plan_big.lower(), plan_big

    rows_small = sorted(tuple(r) for r in inc_small.edges.collect())
    rows_big = sorted(tuple(r) for r in inc_big.edges.collect())
    assert rows_small == rows_big
    # only the genuinely novel edge (e1,p0,e2) appends: the delta's
    # (e0,p0,e1) is already present and its in-delta duplicate dropped
    assert len(rows_small) == 2
