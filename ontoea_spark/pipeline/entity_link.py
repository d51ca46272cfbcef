"""Anchor-prior entity linking — surface form -> canonical entity url.

The north-rule pipeline stage between mention detection and
canonicalization: given the anchor-text alias dictionary
(pipeline/weblinks.anchor_text_index), the web's own naming behaviour
yields the classic *commonness prior* P(entity | mention) =
n_refs(mention -> entity) / n_refs(mention -> *). Linking every mention
to its argmax-prior entity is the standard most-common-sense baseline of
anchor-dictionary entity linking (the Wikipedia-anchor linkers of
Milne&Witten / TagMe descend from exactly this table), and measuring it
against each anchor's *actual* target gives the prior's accuracy ceiling
with zero hand labels — every anchor occurrence carries its own gold
link.

Spark shape (all JVM-side, zero UDF):

* :func:`mention_entity_prior` — one keyed window over ``anchor_text``
  (single shuffle) turns the alias index into the prior table; the
  window computes the per-mention total and the deterministic argmax
  rank in the same pass.
* :func:`link_top1` — rank-1 filter of the prior table: exactly one
  (mention -> entity) row per surface form, ties broken by higher
  n_refs then lexicographic entity url, so the dictionary is
  reproducible across partitionings.
* :func:`link_mentions` — equi-join of a mention stream against the
  top-1 dictionary. The dictionary has ONE row per key, so the join is
  map-side whenever the dictionary measures small (the dictionary
  joins' ``_gated_broadcast`` gate, operators/dictionary.py — a web-scale
  surface-form vocabulary can exceed driver RAM, in which case the
  hint is dropped and AQE plans a shuffled join; head-mention skew on
  the probe side is AQE-skew-join territory, not salting, because the
  build side is unique-keyed).
* :func:`anchor_linking_accuracy` — self-evaluation: link every anchor
  occurrence by its surface form and compare to the anchor's true
  target; per-source-host counts + accuracy. Output is |hosts|-bounded.

Scale: the alias index is bounded by distinct (mention, entity) pairs —
orders of magnitude below the anchor stream; the prior/top-1 tables are
smaller still. Only :func:`link_mentions`/:func:`anchor_linking_accuracy`
touch the full mention stream, as one equi-join each.

Reference scope: the reference links entities via embedding alignment
over curated KG pairs (ontoea.py); the anchor-prior dictionary is the
webtext-tier candidate generator / baseline that feeds such aligners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoea_spark.operators.dictionary import _gated_broadcast


def mention_entity_prior(alias_index: DataFrame) -> DataFrame:
    """Alias index (dst_url, anchor_text, n_refs) -> commonness prior.

    Returns (anchor_text, entity_url, n_refs, prior, rank): prior =
    n_refs / total refs of the surface form (6dp-rounded for
    cross-engine parity), rank = deterministic argmax order (prior
    desc, then entity_url asc). One shuffle: both the per-mention total
    and the rank come from the same ``anchor_text``-keyed window.
    """
    by_mention = Window.partitionBy("anchor_text")
    order = by_mention.orderBy(F.desc("n_refs"), F.asc("dst_url"))
    return alias_index.select(
        "anchor_text",
        F.col("dst_url").alias("entity_url"),
        "n_refs",
        F.round(
            F.col("n_refs") / F.sum("n_refs").over(by_mention), 6
        ).alias("prior"),
        F.row_number().over(order).alias("rank"),
    )


def link_top1(prior: DataFrame) -> DataFrame:
    """The linking dictionary: one (anchor_text -> entity_url) row per
    surface form — the rank-1 slice of :func:`mention_entity_prior`."""
    return prior.filter(F.col("rank") == 1).select(
        "anchor_text", "entity_url", "n_refs", "prior"
    )


def link_mentions(
    mentions: DataFrame,
    top1: DataFrame,
    mention_col: str = "anchor_text",
) -> DataFrame:
    """Link a mention stream to canonical entities via the top-1 dict.

    Inner equi-join on the surface form (unlinked mentions drop — the
    caller meters coverage if needed). The dictionary side is
    localCheckpoint-materialized so the gate's count is a cheap scan,
    mirroring operators/dictionary.encode_triples.
    """
    dict_df = top1.select(
        F.col("anchor_text").alias(mention_col), "entity_url", "prior"
    ).localCheckpoint(eager=True)
    return mentions.join(_gated_broadcast(dict_df), on=mention_col)


def anchor_linking_accuracy(
    anchors: DataFrame, top1: DataFrame
) -> DataFrame:
    """Prior-ceiling self-evaluation over the anchor stream.

    Every anchor occurrence (src_url, dst_url, anchor_text) is linked by
    its surface form; its true target is the gold label. Returns per
    source host: (src_host, n_anchors, n_correct, accuracy) — the
    fraction of that host's outgoing anchors the commonness prior links
    to their actual target.
    """
    from ontoea_spark.functions import urls as U

    linked = link_mentions(
        anchors.select(
            U.url_host(F.col("src_url")).alias("src_host"),
            "dst_url",
            "anchor_text",
        ),
        top1,
    )
    return linked.groupBy("src_host").agg(
        F.count("*").cast("long").alias("n_anchors"),
        F.sum(
            (F.col("entity_url") == F.col("dst_url")).cast("long")
        ).alias("n_correct"),
        F.round(
            F.sum((F.col("entity_url") == F.col("dst_url")).cast("long"))
            / F.count("*"),
            6,
        ).alias("accuracy"),
    )
