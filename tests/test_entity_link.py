"""Anchor-prior entity linking (pipeline/entity_link.py): prior algebra,
deterministic argmax, gold-free accuracy semantics, broadcast gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE, past_broadcast_gate


def _anchors(spark):
    from ontoea_spark.pipeline.pages import synthesize_pages
    from ontoea_spark.pipeline.weblinks import extract_anchor_texts

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    return extract_anchor_texts(synthesize_pages(docs, with_links=True))


def _top1(spark):
    from ontoea_spark.pipeline.entity_link import link_top1, mention_entity_prior
    from ontoea_spark.pipeline.weblinks import anchor_text_index

    return link_top1(mention_entity_prior(anchor_text_index(_anchors(spark))))


def test_prior_sums_to_one_and_ranks_dense(spark):
    """Per surface form: priors sum to ~1 (6dp rounding slack) and the
    rank column is a dense 1..n permutation ordered by n_refs desc."""
    from ontoea_spark.pipeline.entity_link import mention_entity_prior
    from ontoea_spark.pipeline.weblinks import anchor_text_index

    pri = mention_entity_prior(anchor_text_index(_anchors(spark))).collect()
    by_m: dict[str, list] = {}
    for r in pri:
        by_m.setdefault(r.anchor_text, []).append(r)
    for rows in by_m.values():
        assert abs(sum(r.prior for r in rows) - 1.0) <= 0.5e-6 * len(rows)
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        refs = [r.n_refs for r in rows]
        assert refs == sorted(refs, reverse=True)


def test_top1_unique_and_argmax(spark):
    """Exactly one dictionary row per surface form, and it carries the
    maximal n_refs (ties broken by lexicographic entity_url)."""
    from ontoea_spark.pipeline.weblinks import anchor_text_index

    idx = anchor_text_index(_anchors(spark)).collect()
    best: dict[str, tuple] = {}
    for r in idx:
        k = (-r.n_refs, r.dst_url)
        if r.anchor_text not in best or k < best[r.anchor_text][0]:
            best[r.anchor_text] = (k, r.dst_url, r.n_refs)
    got = {r.anchor_text: (r.entity_url, r.n_refs) for r in _top1(spark).collect()}
    assert len(got) == len(best)
    for m, (_, url, refs) in best.items():
        assert got[m] == (url, refs), m


def test_linking_accuracy_matches_manual_replay(spark):
    """anchor_linking_accuracy equals a driver-side replay: per host,
    correct = anchors whose surface form's argmax entity is the true
    target; accuracy bounded (0, 1]; totals preserved (inner join loses
    nothing — every surface form is in its own dictionary)."""
    from ontoea_spark.pipeline.entity_link import anchor_linking_accuracy
    from ontoea_spark.pipeline.pages import LINKS_PER_PAGE

    anchors = _anchors(spark)
    top1 = {r.anchor_text: r.entity_url for r in _top1(spark).collect()}
    rows = anchors.collect()
    per_host: dict[str, list] = {}
    for r in rows:
        host = r.src_url.split("//")[1].split("/")[0]
        per_host.setdefault(host, []).append(top1[r.anchor_text] == r.dst_url)
    got = {
        r.src_host: (r.n_anchors, r.n_correct, r.accuracy)
        for r in anchor_linking_accuracy(anchors, _top1(spark)).collect()
    }
    assert set(got) == set(per_host)
    assert sum(n for n, _, _ in got.values()) == len(rows)
    assert len(rows) == anchors.select("src_url").distinct().count() * LINKS_PER_PAGE
    for host, oks in per_host.items():
        n, c, acc = got[host]
        assert (n, c) == (len(oks), sum(oks))
        assert 0 < acc <= 1
        assert abs(acc - sum(oks) / len(oks)) <= 0.5e-6


def test_link_mentions_broadcast_gate(spark):
    """Small dictionary -> broadcast join in the plan; tiny threshold ->
    the hint is dropped (same gate contract as dictionary encode)."""
    from ontoea_spark.pipeline.entity_link import (
        link_mentions,
        link_top1,
        mention_entity_prior,
    )
    from ontoea_spark.pipeline.weblinks import anchor_text_index

    anchors = _anchors(spark)
    top1 = link_top1(mention_entity_prior(anchor_text_index(anchors)))
    mentions = anchors.select("anchor_text")

    def _plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString().lower()

    small = link_mentions(mentions, top1)
    assert "broadcast" in _plan(small), _plan(small)
    with past_broadcast_gate():
        gated = link_mentions(mentions, top1)
    assert "broadcast" not in _plan(gated), _plan(gated)
    assert small.count() == gated.count() == mentions.count()
