"""Deterministic two-KG alignment benchmark generator (FIXTURES.md §2;
OpenEA D-W-15K-style layout: two relation-triple sets + gold ent_links +
crossview links + a class tree).

KG2 is a structural near-copy of KG1 (URI-renamed, ``dropout`` fraction
of triples removed per side independently, plus a few noise triples), so
gold alignment is known exactly and relational signal is real — the
analogue of OpenEA's sampled-from-the-same-world KG pairs. All
randomness from one seeded Generator; same seed ⇒ identical benchmark.

Class tree: 26 leaf classes cls:a..z -> band/kind levels via
ontology.fixture.leaf_parent_expr — the same tree the corpus queries
use, so compat scoring plugs straight in.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ontoea_spark.session import local_frame


@dataclass
class TwoKGBenchmark:
    triples1: DataFrame   # (s, p, o)
    triples2: DataFrame
    links: DataFrame      # (e1, e2) gold
    cv: DataFrame         # (entity, cls) both KGs
    n_ent: int


def generate_two_kg(
    spark: SparkSession,
    n_ent: int = 300,
    n_rel: int = 20,
    n_triples: int = 2400,
    dropout: float = 0.1,
    noise: int = 40,
    seed: int = 42,
    vectorized: bool = False,
) -> TwoKGBenchmark:
    """``vectorized``: use the O(n_triples) batched tail sampler instead
    of the per-row loop (which is O(n_triples * n_ent) — hours at 100K
    entities). Same distributional construction, but the batched draw
    consumes the bit generator differently, so the SAME SEED yields a
    DIFFERENT (equally deterministic) benchmark: small-scale fixtures and
    their test gates keep the default path."""
    rng = np.random.default_rng(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    cls_of = rng.integers(0, 26, size=n_ent)

    # KG1 triples: heads uniform; tails biased to the head's class bucket
    # (classes carry signal, as in typed real-world KGs)
    h = rng.integers(0, n_ent, size=n_triples)
    r = rng.integers(0, n_rel, size=n_triples)
    same_cls = rng.random(n_triples) < 0.5
    t = rng.integers(0, n_ent, size=n_triples)
    if vectorized:
        order = np.argsort(cls_of, kind="stable")
        counts = np.bincount(cls_of, minlength=26)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        idx = np.nonzero(same_cls)[0]
        ch = cls_of[h[idx]]
        t[idx] = order[starts[ch] + rng.integers(0, counts[ch])]
    else:
        for i in np.nonzero(same_cls)[0]:
            bucket = np.nonzero(cls_of == cls_of[h[i]])[0]
            t[i] = bucket[rng.integers(0, len(bucket))]
    base = sorted({(int(a), int(b), int(c)) for a, b, c in zip(h, r, t)})

    keep1 = rng.random(len(base)) >= dropout
    keep2 = rng.random(len(base)) >= dropout
    noise2 = {
        (int(a), int(b), int(c))
        for a, b, c in zip(
            rng.integers(0, n_ent, size=noise),
            rng.integers(0, n_rel, size=noise),
            rng.integers(0, n_ent, size=noise),
        )
    }

    def uri(kg: int, i: int) -> str:
        return f"kg{kg}:e{i:05d}"

    t1 = [
        (uri(1, a), f"rel:{b}", uri(1, c))
        for (a, b, c), k in zip(base, keep1)
        if k
    ]
    t2 = [
        (uri(2, a), f"rel:{b}", uri(2, c))
        for (a, b, c), k in zip(base, keep2)
        if k
    ] + [(uri(2, a), f"rel:{b}", uri(2, c)) for a, b, c in sorted(noise2)]

    links = [(uri(1, i), uri(2, i)) for i in range(n_ent)]
    cv = [
        (uri(kg, i), f"cls:{letters[cls_of[i]]}")
        for kg in (1, 2)
        for i in range(n_ent)
    ]

    return TwoKGBenchmark(
        triples1=local_frame(spark, t1, "s string, p string, o string"),
        triples2=local_frame(spark, t2, "s string, p string, o string"),
        links=local_frame(spark, links, "e1 string, e2 string"),
        cv=local_frame(spark, cv, "entity string, cls string"),
        n_ent=n_ent,
    )
