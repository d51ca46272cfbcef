"""Negative-sampling operators (SURVEY.md §2.10 B3 + §2.4 J10;
reference: batch.py:103-175 ``generate_neg_triples_fast`` — corrupt head
or tail uniformly, drop corruptions that collide with true triples).

The trainer uses seeded-RNG corruption (trainer.py); this module is the
*relational* form: corruption driven by the portable content hash, so
the result is deterministic across engines/partitionings and
oracle-checkable, and the collision filter is a real distributed
``left_anti`` join instead of the reference's in-memory set difference
(batch.py:166).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontoea_spark.functions.hashing import portable_hash64


def corrupt_triples(
    edges: DataFrame,
    ent_ids: DataFrame,
    neg_per_pos: int = 2,
    salt: str = "neg",
) -> DataFrame:
    """edges: (s_id, p_id, o_id); ent_ids: (rank, id) for the replacement
    pool. For copy i of each edge: h = hash64(s:p:o:i:salt); corrupt the
    head when h is even else the tail; replacement = the entity whose
    rank == h mod |pool| — a broadcast join on rank only while the pool
    (the full entity dictionary, corpus-growing) fits the dictionary
    joins' row-count gate; past it the rank join shuffles, and rank
    uniformity from the hash keeps that shuffle skew-free.

    Returns DataFrame[h_id, r_id, t_id] — corrupted candidates, possibly
    colliding with true triples (filter via :func:`neg_antijoin`).
    """
    from ontoea_spark.operators.dictionary import (
        _fits_broadcast,
        _gated_broadcast,
    )

    # one materialization serves the gate count, the modulus, and the
    # rank join (previously three separate evaluations of the pool plan)
    pool = ent_ids.select(
        "rank", F.col("id").alias("repl_id")
    ).localCheckpoint(eager=True)
    n = pool.count()
    psmall = _fits_broadcast(n)
    copies = edges.crossJoin(
        F.broadcast(
            edges.sparkSession.range(neg_per_pos).select(F.col("id").alias("i"))
        )
    ).withColumn("n_pool", F.lit(n).cast("long"))
    h = portable_hash64(
        F.concat_ws(
            ":",
            F.col("s_id"),
            F.col("p_id"),
            F.col("o_id"),
            F.col("i"),
            F.lit(salt),
        )
    )
    cand = copies.select(
        "s_id",
        "p_id",
        "o_id",
        h.alias("h"),
        (h % F.col("n_pool")).alias("rank"),
    ).join(_gated_broadcast(pool, psmall), "rank")
    return cand.select(
        F.when(F.col("h") % 2 == 0, F.col("repl_id"))
        .otherwise(F.col("s_id"))
        .alias("h_id"),
        F.col("p_id").alias("r_id"),
        F.when(F.col("h") % 2 == 0, F.col("o_id"))
        .otherwise(F.col("repl_id"))
        .alias("t_id"),
    )


def neg_antijoin(
    candidates: DataFrame,
    edges: DataFrame,
) -> DataFrame:
    """J10: drop corrupted triples that exist as true triples
    (batch.py:166 set difference -> distributed left_anti).

    The true-triple table is the BUILD side of a naive anti-join and
    can't broadcast, so while the candidate batch (O(batch·negs)) fits
    the gate this runs as the semi+anti broadcast pair
    (dictionary.anti_join_keep_small) — one edge-table scan, no
    shuffle; past the gate, the shuffled anti-join."""
    from ontoea_spark.operators.dictionary import anti_join_keep_small

    true_t = edges.select(
        F.col("s_id").alias("h_id"),
        F.col("p_id").alias("r_id"),
        F.col("o_id").alias("t_id"),
    )
    return anti_join_keep_small(candidates, true_t, ["h_id", "r_id", "t_id"])
