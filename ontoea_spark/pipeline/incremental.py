"""Incremental KG updates — extend an existing graph with a new batch of
pages WITHOUT re-ranking the world (rebuild scope; the reference is
batch-only, so these are rebuild semantics, documented here).

The production reality at crawl scale: the corpus grows by deltas, and
re-running the full dictionary rank re-assigns every id, invalidating
every stored edge, embedding row, and checkpoint. The incremental
contract instead:

* existing (elem -> id) assignments are FROZEN (stability beats the
  interleaving aesthetic for deltas — documented deviation from the
  batch interleave, which only matters for fresh training inits);
* unseen elements get ids appended after the current max id, ordered by
  (freq desc, elem desc) within the delta — deterministic, dense,
  collision-free by construction;
* delta edges are encoded against the merged dictionary and unioned
  onto the existing edge table (an append-only Iceberg write at scale).

Shapes: the delta's unseen-element set and its novel edges are both
found by ``dictionary.anti_join_keep_small`` WITHOUT shuffling the
dictionary or the edge table — big LEFT SEMI broadcast(delta), then a
broadcast anti-join against the matched keys (gated by the dictionary
joins' broadcast gate; a backfill degrades to the shuffled anti-join);
id assignment reuses the same two-phase exact rank as the batch path;
nothing touches existing rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontoea_spark.operators.dictionary import (
    _frequencies,
    _occurrences,
    _rank,
    anti_join_keep_small,
    encode_triples_two_kg,
)


@dataclass
class IncrementalResult:
    ent_ids: DataFrame  # (kg, elem, freq, rank, id) — old rows untouched
    rel_ids: DataFrame
    edges: DataFrame    # (s_id, p_id, o_id, kg) — old ∪ newly encoded
    # the O(delta) views, for append-only sinks (Iceberg appends / the
    # streaming snapshot log): exactly the rows NOT already present
    novel_edges: DataFrame | None = None


def extend_dictionary(
    existing: DataFrame,
    delta_occurrences: DataFrame,
) -> DataFrame:
    """Append unseen elements to a dictionary with frozen existing ids.

    existing: DataFrame[kg, elem, freq, rank, id];
    delta_occurrences: DataFrame[kg, elem] — one row per occurrence in
    the delta (duplicates = frequency).

    New ids start at max(existing id) + 1, ordered by (freq desc,
    "kg\\telem" desc) over the unseen (kg, elem) pairs — the D1
    frequency ordering with the kg folded into the tie-break key,
    applied to the delta only. Returns the merged dictionary.

    The unseen check must not shuffle the dictionary (it grows with the
    corpus; a naive delta-LEFT-ANTI-dictionary puts it on the
    unbroadcastable build side): while the delta vocabulary fits the
    gate, the dictionary is scanned once with LEFT SEMI
    broadcast(delta vocab) and the unseen set comes from a broadcast
    anti-join against the matched keys; past the gate (a backfill) it
    degrades to the shuffled anti-join.

    NULL delta elements are dropped by the dictionary core's frequency
    step: they get no id (and are not re-appended on every delta).
    """
    freqs = _frequencies(delta_occurrences, ["kg"])
    unseen = anti_join_keep_small(freqs, existing, ["kg", "elem"])
    # rank the unseen tail ungrouped; kg rides through the rank key via
    # the "kg\telem" elem — rank within the whole unseen set so ids stay
    # globally dense
    ranked = _rank(
        unseen.select(
            F.concat(F.col("kg").cast("string"), F.lit("\t"), "elem").alias(
                "elem"
            ),
            "freq",
        ),
        [],
    )
    base = existing.agg(F.coalesce(F.max("id"), F.lit(-1)).alias("m"))
    split = F.split(F.col("elem"), "\t", 2)
    new_rows = (
        ranked.crossJoin(F.broadcast(base))
        .select(
            split.getItem(0).cast("long").alias("kg"),
            split.getItem(1).alias("elem"),
            F.col("freq").cast("long"),
            F.col("rank").cast("long"),
            (F.col("m") + 1 + F.col("rank")).cast("long").alias("id"),
        )
    )
    return existing.unionByName(new_rows)


def incremental_update(
    ent_ids: DataFrame,
    rel_ids: DataFrame,
    edges: DataFrame,
    delta_triples: DataFrame,
    kg_expr,
) -> IncrementalResult:
    """Fold a delta triple batch (s, p, o) into an existing encoded KG.

    ``kg_expr``: Column mapping a delta triple to its KG (1|2).
    Existing ids are frozen; delta edges are encoded against the merged
    dictionaries and appended.

    The merge is ``anti_join_keep_small`` of the deduped delta against
    the edge table: small deltas (the normal ingest regime) take the
    broadcast semi/anti plan — one scan of ``edges``, no exchange; a
    delta past the broadcast gate (a backfill) would OOM the driver if
    force-broadcast, so it degrades to a plain shuffled anti-join.
    """
    d = delta_triples.select(kg_expr.cast("long").alias("kg"), "s", "p", "o")
    d = d.localCheckpoint(eager=True)
    ent2 = extend_dictionary(
        ent_ids, _occurrences(d, ("s", "o"), F.col("kg"))
    ).localCheckpoint(eager=True)
    rel2 = extend_dictionary(
        rel_ids, _occurrences(d, ("p",), F.col("kg"))
    ).localCheckpoint(eager=True)
    new_edges = encode_triples_two_kg(d, ent2, rel2, kg_col="kg")
    # Append-only merge of only the novel rows, deduped WITHIN the
    # (small) delta: a unionByName + dropDuplicates here would
    # re-shuffle the ENTIRE edge table on every delta, making delta
    # cost O(full table) instead of O(delta + one scan).
    key = ["s_id", "p_id", "o_id", "kg"]
    novel = anti_join_keep_small(new_edges.dropDuplicates(key), edges, key)
    merged = edges.unionByName(novel)
    return IncrementalResult(
        ent_ids=ent2, rel_ids=rel2, edges=merged, novel_edges=novel
    )
