"""Gale-Shapley stable matching over a pair-score table (SURVEY.md §2.12
V3; reference: alignment.py:90-146 ``stable_alignment`` +
alignment.py:174-227 ``galeshapley``, iteration cut=100).

Driver-coordinated iterative DataFrame algorithm. Distributed state per
round:

* ``holds``   (lid, rid, sim) — current engagements;
* ``cursor``  (lid, nxt, n_prefs) — each proposer's next preference index.

One round = free proposers (anti-join vs holds) propose to their
``nxt``-th preference (preference order from one upfront window,
tie-broken (sim desc, rid asc) — argsort semantics); every receiver
keeps the best of holds ∪ proposals ((sim desc, lid asc)); displaced
proposers fall back into the free pool with an advanced cursor. Rounds
bounded by ``max_rounds`` (the reference's cut). The driver only runs an
emptiness check per round — state never collects. At 100 TB the input
must be the *candidate* top-k table from the blocked/LSH join, not all
pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoea_spark.session import local_frame


def gale_shapley(scores: DataFrame, max_rounds: int = 100) -> DataFrame:
    """scores: DataFrame[lid, rid, sim] candidate pairs (proposers = lid).

    Returns DataFrame[lid, rid, sim] — the proposer-optimal stable
    matching w.r.t. the given candidate lists.
    """
    spark = scores.sparkSession
    wpref = Window.partitionBy("lid").orderBy(F.desc("sim"), F.asc("rid"))
    prefs = scores.withColumn("pref", F.row_number().over(wpref)).cache()
    cursor = (
        prefs.groupBy("lid")
        .agg(F.max("pref").alias("n_prefs"))
        .select("lid", F.lit(1).alias("nxt"), "n_prefs")
        .localCheckpoint(eager=True)
    )
    holds = local_frame(spark, [], "lid long, rid long, sim double")

    for _ in range(max_rounds):
        free = (
            cursor.join(holds.select("lid"), "lid", "left_anti")
            .filter(F.col("nxt") <= F.col("n_prefs"))
            .select(F.col("lid").alias("flid"), F.col("nxt").alias("fnxt"))
        )
        if free.isEmpty():
            break
        proposals = free.join(
            prefs,
            (F.col("flid") == F.col("lid")) & (F.col("fnxt") == F.col("pref")),
        ).select("lid", "rid", "sim")
        cursor = cursor.join(
            free.select(F.col("flid").alias("lid"), F.lit(True).alias("was_free")),
            "lid",
            "left",
        ).select(
            "lid",
            F.when(F.col("was_free"), F.col("nxt") + 1)
            .otherwise(F.col("nxt"))
            .alias("nxt"),
            "n_prefs",
        )
        wr = Window.partitionBy("rid").orderBy(F.desc("sim"), F.asc("lid"))
        holds = (
            holds.unionByName(proposals)
            .withColumn("rn", F.row_number().over(wr))
            .filter("rn = 1")
            .drop("rn")
        )
        # truncate lineage each round (iterative plans grow exponentially)
        holds = holds.localCheckpoint(eager=True)
        cursor = cursor.localCheckpoint(eager=True)
    return holds.select("lid", "rid", "sim")
