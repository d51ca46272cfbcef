"""The D1-D5 dictionary builders: the one-pass two_kg_dictionaries and
the per-call interleaved_ids must both match a plain-Python D1/D2
reference (count, sort by (freq desc, elem desc), read.py:72-83
interleave); NULL elements get no id; the encode joins are gated."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from ontoea_spark.operators.dictionary import interleaved_ids, two_kg_dictionaries
from tests.conftest import SF_CORRECT, past_broadcast_gate


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _reference_ids(rows1, rows2, roles):
    """Plain-Python D1 + D2: (kg, elem, freq, rank, id) rows, sorted."""
    ranked = []
    for rows in (rows1, rows2):
        freq = Counter(r[role] for r in rows for role in roles)
        ranked.append(
            sorted(freq.items(), key=lambda kv: (kv[1], kv[0]), reverse=True)
        )
    r1, r2 = ranked
    m = min(len(r1), len(r2))
    out = []
    for i in range(m):  # alternate: KG1 rank-i -> 2i, KG2 rank-i -> 2i+1
        out.append((1, *r1[i], i, 2 * i))
        out.append((2, *r2[i], i, 2 * i + 1))
    nxt = 2 * m  # the longer KG's tail continues sequentially
    for kg, r in ((1, r1), (2, r2)):
        for i in range(m, len(r)):
            out.append((kg, *r[i], i, nxt))
            nxt += 1
    return sorted(out)


def test_combined_matches_per_call(spark):
    from ontoea_spark.pipeline.extract import extract_pages_text, extract_triples
    from ontoea_spark.pipeline.kg_build import split_two_kgs
    from ontoea_spark.pipeline.pages import synthesize_pages

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    tagged = split_two_kgs(extract_pages_text(synthesize_pages(docs)))
    all_triples = extract_triples(
        tagged.select("kg", "text"), namespace_col="kg"
    ).localCheckpoint(eager=True)
    t1 = all_triples.filter(F.col("s").startswith("kg1:"))
    t2 = all_triples.filter(F.col("s").startswith("kg2:"))

    ent_c, rel_c = two_kg_dictionaries(
        all_triples,
        F.when(F.col("s").startswith("kg1:"), F.lit(1)).otherwise(F.lit(2)),
    )
    assert _rows(ent_c) == _rows(interleaved_ids(t1, t2, roles=("s", "o")))
    assert _rows(rel_c) == _rows(interleaved_ids(t1, t2, roles=("p",)))

    # both builders share one core, so also pin them to an independent
    # plain-Python D1/D2
    rows1, rows2 = t1.collect(), t2.collect()
    ent_ref = _reference_ids(rows1, rows2, ("s", "o"))
    rel_ref = _reference_ids(rows1, rows2, ("p",))
    assert len(ent_ref) > 10 and len(rel_ref) > 1
    assert _rows(ent_c) == ent_ref
    assert _rows(rel_c) == rel_ref


def test_combined_empty_second_kg(spark):
    tri = spark.createDataFrame(
        [("kg1:a", "p:x", "kg1:b"), ("kg1:b", "p:x", "kg1:a")],
        "s string, p string, o string",
    )
    ent, rel = two_kg_dictionaries(
        tri, F.when(F.col("s").startswith("kg1:"), F.lit(1)).otherwise(F.lit(2))
    )
    rows = {(r.elem, r.id) for r in ent.collect()}
    # n_other = 0 => ids continue sequentially from 0 (rank == id);
    # equal freqs tie-break by elem DESC => 'kg1:b' ranks first
    assert rows == {("kg1:b", 0), ("kg1:a", 1)}
    assert [r.id for r in rel.collect()] == [0]


def test_null_elements_get_no_id(spark):
    """A NULL s/p/o is no element: no builder gives it a freq, rank or id
    (encode's inner joins could never use one), and extend_dictionary
    does not append it (NULL never matches the unseen anti-join, so it
    would be re-appended on every delta). A link with a NULL side links
    nothing: it shares no id and substitutes no partner (J2). Empty
    frames give empty dictionaries."""
    from ontoea_spark.operators.dictionary import (
        ranked_elements,
        sharing_ids,
        single_kg_dictionaries,
    )
    from ontoea_spark.operators.filters import sup_relation_triples
    from ontoea_spark.pipeline.incremental import extend_dictionary

    schema = "s string, p string, o string"
    t1 = spark.createDataFrame(
        [("kg1:a", "p:x", None), (None, "p:x", "kg1:a"), ("kg1:b", None, "kg1:a")],
        schema,
    )
    t2 = spark.createDataFrame([("kg2:c", "p:y", None)], schema)
    links = spark.createDataFrame(
        [("kg1:b", "kg2:c"), ("kg1:a", None)], "e1 string, e2 string"
    )
    both = t1.withColumn("kgn", F.lit(1)).unionByName(
        t2.withColumn("kgn", F.lit(2))
    )

    ent_ref = [(1, "kg1:a", 3, 0, 0), (1, "kg1:b", 1, 1, 2), (2, "kg2:c", 1, 0, 1)]
    ranked = ranked_elements(t1).collect()
    assert None not in {r.elem for r in ranked}, ranked
    assert sorted(map(tuple, ranked)) == [("kg1:a", 3, 0), ("kg1:b", 1, 1)]
    ent_il = interleaved_ids(t1, t2)
    assert _rows(ent_il) == ent_ref
    assert _rows(interleaved_ids(t1, t2, roles=("p",))) == [
        (1, "p:x", 2, 0, 0),
        (2, "p:y", 1, 0, 1),
    ]
    ent, rel, n_ent, n_rel = two_kg_dictionaries(
        both, F.col("kgn"), with_sizes=True
    )
    assert _rows(ent) == ent_ref and (n_ent, n_rel) == (3, 2)
    assert _rows(rel) == [(1, "p:x", 2, 0, 0), (2, "p:y", 1, 0, 1)]
    ent1, rel1 = single_kg_dictionaries(t1)
    assert _rows(ent1) == [("kg1:a", 3, 0), ("kg1:b", 1, 1)]
    assert _rows(rel1) == [("p:x", 2, 0)]
    # kg2:c is linked, so it leaves the interleave and takes kg1:b's id
    assert _rows(sharing_ids(t1, t2, links).select("kg", "elem", "id")) == [
        (1, "kg1:a", 0),
        (1, "kg1:b", 1),
        (2, "kg2:c", 1),
    ]
    assert [tuple(r) for r in sup_relation_triples(links, t1).collect()] == [
        ("kg2:c", None, "kg1:a")
    ]
    existing = ent_il.localCheckpoint(eager=True)
    delta = spark.createDataFrame(
        [(1, None), (1, "kg1:new"), (2, None)], "kg long, elem string"
    )
    merged = extend_dictionary(existing, delta)
    assert _rows(merged) == sorted(ent_ref + [(1, "kg1:new", 1, 0, 3)])

    empty = spark.createDataFrame([], schema)
    no_links = spark.createDataFrame([], "e1 string, e2 string")
    assert ranked_elements(empty).count() == 0
    assert interleaved_ids(empty, empty).count() == 0
    ent, rel, n_ent, n_rel = two_kg_dictionaries(
        empty.withColumn("kgn", F.lit(1)), F.col("kgn"), with_sizes=True
    )
    assert (ent.count(), rel.count(), n_ent, n_rel) == (0, 0, 0, 0)
    assert [df.count() for df in single_kg_dictionaries(empty)] == [0, 0]
    assert sharing_ids(empty, empty, no_links).count() == 0
    no_delta = spark.createDataFrame([], "kg long, elem string")
    assert _rows(extend_dictionary(existing, no_delta)) == ent_ref


def test_encode_broadcast_gate(spark):
    """VERDICT r4 #2: the encode joins must broadcast a small dictionary
    but DROP the hint past the broadcast gate — the entity dictionary is
    corpus-derived vocab (10^8-10^9 URIs at 100 TB) and a forced
    F.broadcast there OOMs driver and executors. Past the gate the plan
    must contain no broadcast hint (AQE then picks SMJ/shuffled-hash),
    with identical results."""
    from ontoea_spark.operators.dictionary import (
        encode_attribute_triples,
        encode_pairs,
        encode_triples,
    )

    tri = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "a"), ("a", "q", "zzz-unknown")],
        "s string, p string, o string",
    )
    ent = spark.createDataFrame([("a", 0), ("b", 1)], "elem string, id long")
    rel = spark.createDataFrame([("p", 0), ("q", 1)], "elem string, id long")

    def _plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString().lower()

    hinted = encode_triples(tri, ent, rel)
    with past_broadcast_gate():
        gated = encode_triples(tri, ent, rel)
    assert "broadcast" in _plan(hinted), _plan(hinted)
    assert "broadcast" not in _plan(gated), _plan(gated)
    assert _rows(hinted) == _rows(gated) == [(0, 0, 1), (1, 0, 0)]

    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "zzz-unknown")], "e1 string, e2 string"
    )
    hinted_p = encode_pairs(pairs, ent, ent)
    with past_broadcast_gate():
        gated_p = encode_pairs(pairs, ent, ent)
    assert "broadcast" in _plan(hinted_p)
    assert "broadcast" not in _plan(gated_p)
    assert _rows(hinted_p) == _rows(gated_p) == [(0, 1)]

    attrs = spark.createDataFrame(
        [("a", "p", "42"), ("zzz-unknown", "p", "7")],
        "e string, a string, v string",
    )
    hinted_a = encode_attribute_triples(attrs, ent, rel)
    with past_broadcast_gate():
        gated_a = encode_attribute_triples(attrs, ent, rel)
    assert "broadcast" in _plan(hinted_a)
    assert "broadcast" not in _plan(gated_a)
    assert _rows(hinted_a) == _rows(gated_a) == [(0, 0, "42")]
