"""Canonicalization semantics the driver oracle can't reach: chained /
many-to-many link sets (the oracle's gold links are 1:1 bipartite, so
the left-join rewrite it uses only equals the component minimum on that
input), the map broadcast gate, and the edge<->uri round trip."""

from __future__ import annotations

from pyspark.sql import functions as F

from ontoea_spark.pipeline.canonicalize import (
    canonical_entity_map,
    canonicalize_kg,
    rewrite_triples,
)
from tests.conftest import past_broadcast_gate


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_chain_components_min_canonical(spark):
    """Many-to-many + chained links collapse transitively to the
    component-min URI; identity rows are dropped from the map."""
    links = spark.createDataFrame(
        [
            ("kg1:a", "kg2:x"),
            ("kg1:b", "kg2:x"),  # many-to-one on kg2:x
            ("kg1:b", "kg2:y"),  # chain continues through kg1:b
            ("kg1:c", "kg2:y"),
        ],
        "e1 string, e2 string",
    )
    m = {r["entity"]: r["canonical"] for r in canonical_entity_map(links).collect()}
    assert m == {
        "kg1:b": "kg1:a",
        "kg1:c": "kg1:a",
        "kg2:x": "kg1:a",
        "kg2:y": "kg1:a",
    }


def test_rewrite_collapses_parallel_edges(spark):
    tri = spark.createDataFrame(
        [("kg1:a", "p", "kg1:z"), ("kg1:b", "p", "kg1:z")],
        "s string, p string, o string",
    )
    mapping = spark.createDataFrame(
        [("kg1:b", "kg1:a")], "entity string, canonical string"
    )
    assert _rows(rewrite_triples(tri, mapping)) == [("kg1:a", "p", "kg1:z")]


def test_rewrite_broadcast_gate(spark):
    """The canonical map is O(merged entities) — potentially 10^8+ rows
    on a crawl-scale link set — so the rewrite joins must drop the
    broadcast hint past the threshold, with identical results."""
    tri = spark.createDataFrame(
        [("kg1:a", "p", "kg2:x"), ("kg2:x", "q", "kg1:b")],
        "s string, p string, o string",
    )
    mapping = spark.createDataFrame(
        [("kg2:x", "kg1:a")], "entity string, canonical string"
    )

    def _plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString().lower()

    hinted = rewrite_triples(tri, mapping)
    with past_broadcast_gate():
        gated = rewrite_triples(tri, mapping)
    assert "broadcast" in _plan(hinted), _plan(hinted)
    assert "broadcast" not in _plan(gated), _plan(gated)
    expect = [("kg1:a", "p", "kg1:a"), ("kg1:a", "q", "kg1:b")]
    assert _rows(hinted) == _rows(gated) == expect


def test_ingest_canonical_batch_equals_rebuild(spark):
    """Incremental canonicalization ≡ full rebuild, on a batch that
    exercises the two hard merge shapes: a delta link that merges TWO
    existing components (kg2:x–kg2:y resolves to kg1:a–kg1:b), and a
    brand-new entity that becomes the merged component's new minimum
    (aa:z < kg1:a), which forces old map rows AND old triples to follow
    the dethroned canonical."""
    from ontoea_spark.pipeline.canonicalize import (
        canonical_entity_map,
        ingest_canonical_batch,
        rewrite_triples,
    )

    t_init = spark.createDataFrame(
        [
            ("kg1:a", "p", "kg1:c"),
            ("kg1:b", "q", "kg1:a"),
            ("kg2:x", "p", "kg2:w"),
            ("kg2:y", "q", "kg2:x"),
        ],
        "s string, p string, o string",
    )
    l_init = spark.createDataFrame(
        [("kg1:a", "kg2:x"), ("kg1:b", "kg2:y")], "e1 string, e2 string"
    )
    dt = spark.createDataFrame(
        [("kg3:n0", "p", "kg2:w"), ("kg1:c", "r", "aa:z")],
        "s string, p string, o string",
    )
    dl = spark.createDataFrame(
        [("kg2:x", "kg2:y"), ("aa:z", "kg1:a")], "e1 string, e2 string"
    )

    base_map = canonical_entity_map(l_init).localCheckpoint(eager=True)
    base_triples = rewrite_triples(t_init, base_map).localCheckpoint(eager=True)
    delta = ingest_canonical_batch(base_triples, base_map, dt, dl)

    full_map = canonical_entity_map(l_init.unionByName(dl))
    full_triples = rewrite_triples(t_init.unionByName(dt), full_map)
    assert _rows(delta.triples) == _rows(full_triples)
    assert _rows(delta.mapping) == _rows(full_map)
    # the change-set algebra a merge-on-read sink relies on:
    # updated = (previous \ retracted) ∪ novel
    prev = set(_rows(base_triples))
    assert set(_rows(delta.triples)) == (
        prev - set(_rows(delta.retracted_triples))
    ) | set(_rows(delta.novel_triples))
    # the dethroned canonical's dependents followed it
    m = dict(_rows(delta.mapping))
    assert m == {
        "kg1:a": "aa:z",
        "kg1:b": "aa:z",
        "kg2:x": "aa:z",
        "kg2:y": "aa:z",
    }

    # the novel-row check never shuffles the corpus under the gate:
    # both steps (corpus LEFT SEMI bcast(candidates), candidates LEFT
    # ANTI bcast(matched)) are broadcast-hash — a sort-merge anti-join
    # here would mean the corpus got shuffled
    novel_plan = (
        delta.novel_triples._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in novel_plan, novel_plan
    assert "SortMergeJoin" not in novel_plan, novel_plan

    # replay idempotence: same batch again commits nothing
    again = ingest_canonical_batch(
        delta.triples.localCheckpoint(eager=True),
        delta.mapping,
        dt,
        dl,
    )
    assert again.novel_triples.count() == 0
    assert again.retracted_triples.count() == 0
    assert again.changed_map_rows.count() == 0
    assert _rows(again.triples) == _rows(delta.triples)


def test_ingest_canonical_batch_null_endpoint_equals_rebuild(spark):
    """NULL endpoints keep the rebuild contract: like the rebuild's
    distinct, both set differences treat NULL as one value — (i) a delta
    row already present (NULL object) is not novel and not duplicated;
    (ii) a row with a NULL object whose subject merges is retracted, not
    kept next to its rewritten form."""
    from collections import Counter

    from ontoea_spark.pipeline.canonicalize import ingest_canonical_batch

    schema = "s string, p string, o string"
    cases = [
        (
            [("kg1:a", "p", "kg1:b"), ("kg1:b", "p", None)],
            [("kg1:b", "p", None)],
            [],
        ),
        (
            [("kg1:b", "p", None), ("kg1:a", "q", "kg1:c")],
            [],
            [("kg1:a", "kg1:b")],
        ),
    ]
    no_map = spark.createDataFrame([], "entity string, canonical string")
    bag = lambda df: Counter(tuple(r) for r in df.collect())
    for t, dt, dl in cases:
        prev = spark.createDataFrame(t, schema).localCheckpoint(eager=True)
        dt_df = spark.createDataFrame(dt, schema)
        dl_df = spark.createDataFrame(dl, "e1 string, e2 string")
        delta = ingest_canonical_batch(prev, no_map, dt_df, dl_df)
        full = rewrite_triples(prev.unionByName(dt_df), canonical_entity_map(dl_df))
        assert bag(delta.triples) == bag(full), (t, dt, dl)
        assert set(bag(delta.triples)) == (
            set(bag(prev)) - set(bag(delta.retracted_triples))
        ) | set(bag(delta.novel_triples))


def test_materialize_canonical_colocated_consumers(spark, tmp_path):
    """The materialized canonical tables are the graph product: edges
    bucketed by s_id, vertices by id, so the standing consumer plans —
    out-degree aggregate, vertex-attribute-to-edge join — run with ZERO
    Exchange operators, and the read-back content round-trips exactly."""
    from ontoea_spark.pipeline.canonicalize import (
        canonicalize_kg,
        materialize_canonical,
    )

    t1 = spark.createDataFrame(
        [(f"kg1:e{i}", "p", f"kg1:e{(i + 1) % 40}") for i in range(40)],
        "s string, p string, o string",
    )
    t2 = spark.createDataFrame(
        [(f"kg2:e{i}", "q", f"kg2:e{(i + 3) % 40}") for i in range(40)],
        "s string, p string, o string",
    )
    links = spark.createDataFrame(
        [(f"kg1:e{i}", f"kg2:e{i}") for i in range(0, 40, 2)],
        "e1 string, e2 string",
    )
    kg = canonicalize_kg(t1, t2, links)
    names = materialize_canonical(
        kg.edges, kg.vertices, str(tmp_path / "tables"),
        table_prefix="tcanon", n_buckets=4,
    )
    try:
        e = spark.table(names["edges"])
        v = spark.table(names["vertices"])
        assert _rows(e) == _rows(kg.edges)
        assert _rows(v) == _rows(kg.vertices)

        deg = e.groupBy("s_id").count()
        plan = deg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = v.join(e, v.id == e.s_id)
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan, plan
            assert "Exchange" not in plan, plan
            assert j.count() == kg.edges.count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        for t in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_canonical_provenance_exact_page_counts(spark):
    """The mention-level rewrite keeps n_pages an exact distinct count:
    a page asserting two variants of the same canonical fact counts
    once, where summing the pre-merge triples' page counts would count
    it twice."""
    from datetime import datetime

    from ontoea_spark.pipeline.canonicalize import canonical_triple_provenance
    from ontoea_spark.pipeline.extract import triple_provenance

    pages = spark.createDataFrame(
        [
            # u1 asserts BOTH the canonical form and a pre-merge variant
            ("u1", datetime(2024, 1, 1), "customer join table and part join table"),
            ("u2", datetime(2024, 1, 2), "customer join table"),
        ],
        "url string, warc_ts timestamp, text string",
    )
    mapping = spark.createDataFrame(
        [("part", "customer")], "entity string, canonical string"
    )
    rows = {
        (r.s, r.p, r.o): (r.n_pages, r.n_mentions, r.first_ts, r.last_ts)
        for r in canonical_triple_provenance(pages, mapping).collect()
    }
    assert rows == {
        ("customer", "join", "table"): (2, 3, 1704067200, 1704153600)
    }
    # the naive alternative (merge AFTER the per-triple aggregate, summing
    # n_pages) would report 3 pages for the same fact — u1 double-counted
    pre = {
        (r.s, r.p, r.o): r.n_pages for r in triple_provenance(pages).collect()
    }
    assert (
        pre[("customer", "join", "table")] + pre[("part", "join", "table")] == 3
    )


def test_canonicalize_kg_end_to_end(spark):
    t1 = spark.createDataFrame(
        [("kg1:a", "p", "kg1:c"), ("kg1:b", "q", "kg1:a")],
        "s string, p string, o string",
    )
    t2 = spark.createDataFrame(
        [("kg2:x", "p", "kg2:w"), ("kg2:w", "q", "kg2:x")],
        "s string, p string, o string",
    )
    links = spark.createDataFrame([("kg1:a", "kg2:x")], "e1 string, e2 string")
    kg = canonicalize_kg(t1, t2, links)

    canon = _rows(kg.triples)
    assert canon == sorted(
        [
            ("kg1:a", "p", "kg1:c"),
            ("kg1:b", "q", "kg1:a"),
            ("kg1:a", "p", "kg2:w"),
            ("kg2:w", "q", "kg1:a"),
        ]
    )

    # unified dictionary: id == rank by merged frequency (freq desc,
    # elem desc) — the merged node kg1:a ranks first with freq 4
    ids = {r["elem"]: (r["freq"], r["id"]) for r in kg.ent_ids.collect()}
    assert ids == {
        "kg1:a": (4, 0),
        "kg2:w": (2, 1),
        "kg1:c": (1, 2),
        "kg1:b": (1, 3),
    }
    rel = {r["elem"]: r["id"] for r in kg.rel_ids.collect()}
    assert rel == {"q": 0, "p": 1}

    assert _rows(kg.edges) == sorted([(0, 1, 2), (3, 0, 0), (0, 1, 1), (1, 0, 0)])

    # decode round trip: edges joined back to the dictionaries reproduce
    # the canonical triple set exactly
    e = kg.ent_ids.select("elem", "id")
    r = kg.rel_ids.select("elem", "id")
    decoded = (
        kg.edges.join(e.withColumnRenamed("id", "s_id"), "s_id")
        .withColumnRenamed("elem", "s")
        .join(r.withColumnRenamed("id", "p_id"), "p_id")
        .withColumnRenamed("elem", "p")
        .join(e.withColumnRenamed("id", "o_id"), "o_id")
        .withColumnRenamed("elem", "o")
        .select("s", "p", "o")
    )
    assert _rows(decoded) == canon

    # provenance: the merged node carries both source KGs
    verts = {r["uri"]: (r["id"], r["freq"], r["srcs"]) for r in kg.vertices.collect()}
    assert verts == {
        "kg1:a": (0, 4, "kg1,kg2"),
        "kg2:w": (1, 2, "kg2"),
        "kg1:c": (2, 1, "kg1"),
        "kg1:b": (3, 1, "kg1"),
    }
