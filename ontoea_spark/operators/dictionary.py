"""Deterministic frequency-ordered dictionary encoding (SURVEY.md §2.3).

Reproduces the reference's id-assignment semantics relationally:

* D1 ``sort_elements`` (read.py:14-26): count each element's occurrences
  across the triple positions it may fill, order by (freq desc, uri desc)
  — the tie-break makes ids deterministic.
* D2 ``generate_mapping_id`` (read.py:64-96): interleave the two ranked
  KGs — KG1 rank-i -> 2i, KG2 rank-i -> 2i+1 for i < min(n1, n2); the
  longer KG's tail continues sequentially at 2*min(n1, n2).
* D3 ``generate_mapping_id_oneKG`` (read.py:99-117): rank -> id.
* D4 ``generate_sharing_id`` (read.py:29-61): linked pairs share an id.
* D5-D7 ``uris_*_2ids`` (read.py:120-163): dictionary joins; the entity
  dictionary is broadcast (per-KG vocab ≪ triples at web scale: the
  dictionary is |entities|, triples are |mentions|).

Every D1-D4 builder (and ``pipeline/incremental.extend_dictionary``) is
a thin caller of ONE private core: occurrence rows ``(group…, kg,
elem)`` -> :func:`_frequencies` (one groupBy count; NULL elements are
dropped here, so they get no freq and no id) -> :func:`_rank` (one
grouped two-phase exact rank) -> :func:`_interleave` (the read.py:72-83
arithmetic per group). D5 has one gated three-join builder,
:func:`_encode`, whose only variant is whether ``kg`` is in the key.

Scale notes: the only shuffles are the groupBy count and the range
repartition of the rank. Ids are globally dense, but no step funnels
the dictionary through one task: the rank is row_number within range
partitions plus the cumulative count of earlier partitions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoea_spark.session import Stage, in_memory

#: Row-count ceiling for a size-gated broadcast hint: the one policy
#: behind every dictionary join (D5-D7), link/entity filter (P6/P7/J2/J4)
#: and set difference whose build side grows with the corpus.  The entity
#: dictionary is corpus-derived vocab — 10^8-10^9 distinct URIs at
#: 100 TB — and ``F.broadcast`` is a hard hint Spark obeys regardless of
#: size, so an un-gated hint OOMs driver and executors at scale.  5M rows
#: x ~40 B/URI ≈ 200 MB, comfortably inside a 4 GB driver.  Read only by
#: :func:`_fits_broadcast`, at call time.
BROADCAST_ROW_THRESHOLD = 5_000_000

#: Range partitions of :func:`_rank`'s sort shuffle.
_RANGE_PARTITIONS = 32


def _fits_broadcast(rows: int) -> bool:
    """The broadcast gate: may a side measured at ``rows`` rows take a
    hard broadcast hint?"""
    return rows <= BROADCAST_ROW_THRESHOLD


def _gated_broadcast(df: DataFrame, small: bool | None = None) -> DataFrame:
    """Apply the broadcast hint only when the frame fits the gate;
    otherwise return the frame unhinted and let AQE pick sort-merge /
    shuffled-hash (or the bucketed-table path via
    ``sources.tables.write_bucketed`` for repeated encode joins).
    ``small`` is the caller's verdict when it already holds a count;
    without one, ``df`` is counted here (one job)."""
    if small is None:
        small = _fits_broadcast(df.count())
    return F.broadcast(df) if small else df


def _set_join(
    left: DataFrame, right: DataFrame, key: list[str], how: str
) -> DataFrame:
    """``left`` semi/anti ``right`` on ``key`` with set semantics: a NULL
    key column matches a NULL, as in ``distinct`` and ``EXCEPT``. Still
    an equi-join, so it plans as a hash join."""
    r = right.select(*[F.col(c).alias(f"_r_{c}") for c in key])
    on = reduce(
        lambda a, b: a & b, [F.col(c).eqNullSafe(F.col(f"_r_{c}")) for c in key]
    )
    return left.join(r, on, how)


def anti_join_keep_small(
    small: DataFrame, big: DataFrame, key: list[str]
) -> DataFrame:
    """``small`` minus ``big`` on ``key`` without ever shuffling ``big``.

    A LEFT ANTI join can only broadcast its build (right) side, so the
    naive form shuffles the big table every time. While ``small`` fits
    the gate this runs the semi+anti broadcast pair instead: big LEFT
    SEMI broadcast(small) — one scan of ``big`` emitting at most
    |small| matched keys — then small LEFT ANTI broadcast(matched).
    Past the gate it degrades to the shuffled anti-join. The one shared
    implementation of the pattern used by incremental dedup, dictionary
    extension, the incremental edge merge, negative sampling, and
    incremental canonicalization. Keys compare null-safely (set
    difference: a NULL key already in ``big`` is not new).

    ``small`` is materialized here (the gate needs its count and both
    joins reuse it — lazy checkpoint, so the count job is also the
    materialization); returns rows of ``small`` (all its columns)
    whose ``key`` is absent from ``big``.
    """
    small = small.localCheckpoint(eager=False)
    if _fits_broadcast(small.count()):
        matched = _set_join(
            big.select(*key), F.broadcast(small.select(*key)), key, "left_semi"
        )
        return _set_join(small, F.broadcast(matched), key, "left_anti")
    return _set_join(small, big.select(*key), key, "left_anti")


def _occurrences(
    triples: DataFrame, roles: tuple[str, ...], kg=None
) -> DataFrame:
    """One row per element occurrence in the given triple positions:
    DataFrame[kg, elem], or DataFrame[elem] when ``kg`` (a Column giving
    the row's KG) is None."""
    tag = [] if kg is None else [kg.cast("long").alias("kg")]
    return reduce(
        DataFrame.unionAll,
        [triples.select(*tag, F.col(r).alias("elem")) for r in roles],
    )


def _frequencies(occs: DataFrame, keys: list[str]) -> DataFrame:
    """Occurrence rows -> DataFrame[keys…, elem, freq]. A NULL element
    is no element: it is dropped before the count, so it never takes a
    rank slot or an id that no encode join could ever use."""
    return (
        occs.filter(F.col("elem").isNotNull())
        .groupBy(*keys, "elem")
        .agg(F.count("*").alias("freq"))
    )


def _rank(freqs: DataFrame, keys: list[str]) -> DataFrame:
    """Exact 0-based rank by (freq desc, elem desc) within each ``keys``
    group: DataFrame[keys…, elem, freq] -> DataFrame[keys…, elem, freq,
    rank].

    Two-phase instead of a single-partition window (which would funnel
    the whole dictionary through one task):

      1. range-repartition on (keys…, sort key): within a group,
         partition i holds sort keys strictly above partition i+1
         (elem is unique per group);
      2. ``row_number`` *within* each range partition (parallel);
      3. rank = local rank + cumulative count of the group's earlier
         partitions (a window over at most ``_RANGE_PARTITIONS`` rows
         per group — trivial).

    One range shuffle ranks every group. The rank values are independent
    of where the sampled range bounds land; the partitioned frame is
    cached so the pid column is consistent across the two branches that
    consume it.
    """
    order = [F.desc("freq"), F.desc("elem")]
    part = (
        freqs.repartitionByRange(_RANGE_PARTITIONS, *keys, *order)
        .withColumn("pid", F.spark_partition_id())
        .cache()
    )
    wl = Window.partitionBy(*keys, "pid").orderBy(*order)
    local = part.withColumn("lrank", F.row_number().over(wl))
    counts = part.groupBy(*keys, "pid").agg(F.count("*").alias("cnt"))
    # ungrouped, partition the offset window on a column-derived
    # constant (pmod(pid,1)=0): a bare lit(0) gets constant-folded to an
    # empty spec and re-triggers the WindowExec no-partition warning
    woff = (
        Window.partitionBy(*(keys or [F.pmod(F.col("pid"), F.lit(1))]))
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("cnt").over(woff), F.lit(0))
    ).select(*keys, "pid", "off")
    return local.join(F.broadcast(offsets), [*keys, "pid"]).select(
        *keys,
        "elem",
        "freq",
        (F.col("off") + F.col("lrank") - 1).cast("long").alias("rank"),
    )


def _interleave(ranked: DataFrame, group: list[str]) -> DataFrame:
    """D2 ids (read.py:72-83) within each ``group``: KG1 rank-i -> 2i,
    KG2 rank-i -> 2i+1 for i < min(n1, n2); the tail continues
    sequentially at 2*min. A KG with no partner in its group has
    n_other = 0, so its id degenerates to its rank (D3).

    DataFrame[group…, kg, elem, freq, rank] -> adds ``id``. Stays lazy:
    the other KG's size joins in as a broadcast aggregate, not a
    driver-side count().
    """
    keys = [*group, "kg"]
    sizes = ranked.groupBy(*keys).agg(F.count("*").alias("n"))
    n_other = sizes.select(
        *group,
        F.when(F.col("kg") == 1, F.lit(2)).otherwise(F.lit(1)).cast("long").alias("kg"),
        F.col("n").alias("n_other"),
    )
    joined = ranked.join(F.broadcast(n_other), keys, "left").withColumn(
        "n_other", F.coalesce(F.col("n_other"), F.lit(0))
    )
    ident = F.when(
        F.col("rank") < F.col("n_other"),
        F.lit(2) * F.col("rank") + (F.col("kg") - F.lit(1)),
    ).otherwise(F.lit(2) * F.col("n_other") + (F.col("rank") - F.col("n_other")))
    return joined.select(
        *keys, "elem", "freq", "rank", ident.cast("long").alias("id")
    )


def _dictionary(occs: DataFrame, group: list[str]) -> DataFrame:
    """The core: occurrence rows (group…, kg, elem) -> DataFrame[group…,
    kg, elem, freq, rank, id] — one count, one rank, one interleave."""
    keys = [*group, "kg"]
    return _interleave(_rank(_frequencies(occs, keys), keys), group)


def element_frequencies(
    triples: DataFrame, roles: tuple[str, ...] = ("s", "o")
) -> DataFrame:
    """D1 counting half: occurrences of each element over the given triple
    positions. roles ('s','o') counts entities, ('p',) counts relations.

    Returns DataFrame[elem: string, freq: bigint].
    """
    return _frequencies(_occurrences(triples, roles), [])


def ranked_elements(
    triples: DataFrame, roles: tuple[str, ...] = ("s", "o")
) -> DataFrame:
    """D1: rank elements by (freq desc, elem desc); rank is 0-based
    (the ungrouped :func:`_rank`).

    Returns DataFrame[elem, freq, rank].
    """
    return _rank(element_frequencies(triples, roles), [])


def _two_kg_occurrences(
    triples1: DataFrame, triples2: DataFrame, roles: tuple[str, ...]
) -> DataFrame:
    """Occurrences of two triple sets, tagged kg 1 and kg 2."""
    return _occurrences(triples1, roles, F.lit(1)).unionAll(
        _occurrences(triples2, roles, F.lit(2))
    )


def sharing_ids(
    triples1: DataFrame,
    triples2: DataFrame,
    train_links: DataFrame,
    roles: tuple[str, ...] = ("s", "o"),
) -> DataFrame:
    """D4 ``generate_sharing_id`` ordered path (read.py:29-61): aligned
    train-link pairs share one id — KG2's linked elements are removed
    before ranking/interleaving, then each linked e2 inherits its e1
    partner's id.

    train_links: DataFrame[e1, e2]; a link with a NULL side links
    nothing and is dropped. Returns (kg, elem, id); ``rank`` and
    ``freq`` only cover the elements that went through the interleave
    (linked e2 rows carry NULLs there).

    The link set grows with the corpus, so its broadcast hints are
    row-count-gated; the KG1 id lookup is semi-restricted to linked e1
    rows FIRST (O(|links|), not O(|KG1 vocab|)) and gated by the same
    count — broadcasting the full interleaved dictionary would OOM at
    crawl scale.
    """
    links_m = train_links.dropna(subset=["e1", "e2"]).localCheckpoint(eager=False)
    lsmall = _fits_broadcast(links_m.count())
    linked2 = links_m.select(
        F.lit(2).cast("long").alias("kg"), F.col("e2").alias("elem")
    ).distinct()
    freqs = _frequencies(
        _two_kg_occurrences(triples1, triples2, roles), ["kg"]
    ).join(_gated_broadcast(linked2, lsmall), ["kg", "elem"], "left_anti")
    base = _interleave(_rank(freqs, ["kg"]), [])
    e1s = links_m.select("e1").distinct()
    ids1 = (
        base.filter("kg = 1")
        .select(F.col("elem").alias("e1"), F.col("id").alias("shared_id"))
        .join(_gated_broadcast(e1s, lsmall), "e1", "left_semi")
    )
    linked_rows = (
        links_m.join(_gated_broadcast(ids1, lsmall), "e1")
        .select(
            F.lit(2).cast("long").alias("kg"),
            F.col("e2").alias("elem"),
            F.lit(None).cast("long").alias("freq"),
            F.lit(None).cast("long").alias("rank"),
            F.col("shared_id").alias("id"),
        )
    )
    return base.unionByName(linked_rows)


def interleaved_ids(
    triples1: DataFrame,
    triples2: DataFrame,
    roles: tuple[str, ...] = ("s", "o"),
) -> DataFrame:
    """D2: interleaved two-KG id assignment (read.py:72-83 semantics).

    Returns DataFrame[kg: bigint (1|2), elem: string, freq, rank, id].
    """
    return _dictionary(_two_kg_occurrences(triples1, triples2, roles), [])


def combined_dictionary_frame(all_triples: DataFrame, kg_expr) -> DataFrame:
    """D1+D2 for BOTH dictionaries of BOTH KGs in one pass — the lazy
    combined frame DataFrame[grp, kg, elem, freq, rank, id].

    Every occurrence is tagged with (grp, kg) — grp 'ent' from the s/o
    positions, 'rel' from p — so ONE groupBy count + ONE range
    repartition rank everything, instead of re-reading the triple
    stream (the expensive thing to touch at 100 TB) once per dictionary.

    ``kg_expr``: Column mapping a triple row to its KG (1 or 2). An
    intermediate frame is cache()d (two consumers inside the rank);
    materialize the RESULT before fanning out to broadcast joins —
    :func:`two_kg_dictionaries` does exactly that (a checkpointing stage
    runner snapshots it to parquet instead).
    """
    base = all_triples.select(kg_expr.cast("long").alias("kg"), "s", "p", "o")
    occs = (
        _occurrences(base, ("s", "o"), F.col("kg"))
        .withColumn("grp", F.lit("ent"))
        .unionByName(
            _occurrences(base, ("p",), F.col("kg")).withColumn("grp", F.lit("rel"))
        )
    )
    return _dictionary(occs, ["grp"])


def two_kg_dictionaries(
    all_triples: DataFrame,
    kg_expr,
    with_sizes: bool = False,
    stage: Stage = in_memory,
    prefix: str = "",
) -> tuple:
    """:func:`combined_dictionary_frame`, materialized once and split: the
    stages ``<prefix>dictionaries``, ``<prefix>ent_ids`` and
    ``<prefix>rel_ids``, run by ``stage`` (``session.Stage``).

    The localCheckpoint truncates lineage so downstream every
    broadcast-encode join reads materialized dictionary rows; without it
    each broadcast build re-runs the whole grouped rank. The frame is
    |vocab| rows — exactly the thing you want materialized.

    Returns (ent_ids, rel_ids), each DataFrame[kg, elem, freq, rank, id].
    With ``with_sizes=True`` additionally returns (n_ent, n_rel) row
    counts, computed in ONE aggregate job over the materialized frame —
    callers feed them to the encode joins' broadcast gates instead of
    paying one count job per dictionary side per encode call.
    """
    # with_sizes: lazy checkpoint — the sizes aggregate right below is
    # the materializing job. Without sizes the eager materialization
    # stays: callers fan straight out into broadcast builds.
    out = stage(
        f"{prefix}dictionaries",
        lambda: combined_dictionary_frame(all_triples, kg_expr),
        local="lazy" if with_sizes else "eager",
    )
    cols = ["kg", "elem", "freq", "rank", "id"]
    ent = stage(f"{prefix}ent_ids", lambda: out.filter("grp = 'ent'").select(*cols))
    rel = stage(f"{prefix}rel_ids", lambda: out.filter("grp = 'rel'").select(*cols))
    if with_sizes:
        sizes = {
            r["grp"]: r["n"]
            for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()
        }
        return ent, rel, sizes.get("ent", 0), sizes.get("rel", 0)
    return ent, rel


def single_kg_dictionaries(
    triples: DataFrame,
    with_sizes: bool = False,
    stage: Stage = in_memory,
    prefix: str = "",
) -> tuple:
    """D3 for BOTH the entity (roles s/o) and relation (role p)
    dictionaries of ONE triple set in a single pass: the one-KG case
    (kg ≡ 1) of :func:`two_kg_dictionaries`, with the same stages. With
    no partner KG the interleave degenerates to ``id == rank`` — D3's
    exact contract.

    Returns (ent_ids, rel_ids), each DataFrame[elem, freq, id],
    localCheckpoint-materialized; ``with_sizes=True`` adds (n_ent,
    n_rel) from one aggregate job (the materializing job) for
    downstream broadcast gates.
    """
    ent, rel, *sizes = two_kg_dictionaries(
        triples, F.lit(1), with_sizes, stage, prefix
    )
    cols = ["elem", "freq", "id"]
    return (ent.select(*cols), rel.select(*cols), *sizes)


def _encode(
    triples: DataFrame,
    ent_ids: DataFrame,
    rel_ids: DataFrame,
    key: list[str],
    ent_small: bool | None,
    rel_small: bool | None,
) -> DataFrame:
    """The three gated dictionary joins of D5: adds s_id, p_id, o_id to
    ``triples``, joining each role on (key…, elem). ``key`` is [] for
    one dictionary, ["kg"] to keep each triple in its own KG's."""
    e = ent_ids.select(*key, "elem", "id")
    r = rel_ids.select(*key, "elem", "id")
    if ent_small is None:
        ent_small = _fits_broadcast(e.count())
    if rel_small is None:
        rel_small = _fits_broadcast(r.count())
    out = triples
    for role, d, small in (("s", e, ent_small), ("p", r, rel_small), ("o", e, ent_small)):
        side = d.withColumnRenamed("elem", role).withColumnRenamed("id", f"{role}_id")
        out = out.join(_gated_broadcast(side, small), [*key, role])
    return out


def encode_triples(
    triples: DataFrame,
    ent_ids: DataFrame,
    rel_ids: DataFrame,
    ent_small: bool | None = None,
    rel_small: bool | None = None,
) -> DataFrame:
    """D5: (s,p,o) -> (s_id, p_id, o_id) via three dictionary joins.
    Inner-join semantics: rows whose element is missing from the
    dictionary drop silently (reference read.py:141-149 asserts full
    coverage instead; use :func:`encode_coverage` to assert/meter).

    The dictionary sides are broadcast only while they fit the gate
    (:func:`_fits_broadcast`) — the pipeline's dictionaries come out of
    :func:`two_kg_dictionaries` already localCheckpoint-materialized, so
    the count here is a cheap scan of materialized rows, and past the
    gate the joins degrade to AQE-planned shuffled joins instead of an
    OOM-guaranteed forced broadcast. Callers that already measured the dictionaries
    (``two_kg_dictionaries with_sizes=True``) pass
    ``_fits_broadcast(n)`` as ``ent_small``/``rel_small`` to skip the
    count jobs.

    Returns DataFrame[s_id, p_id, o_id] (bigint).
    """
    return _encode(triples, ent_ids, rel_ids, [], ent_small, rel_small).select(
        "s_id", "p_id", "o_id"
    )


def encode_triples_two_kg(
    triples: DataFrame,
    ent_ids: DataFrame,
    rel_ids: DataFrame,
    kg_col: str = "kgn",
    ent_small: bool | None = None,
    rel_small: bool | None = None,
) -> DataFrame:
    """D5 for BOTH KGs in one pass: triples tagged with their KG number
    (``kg_col``, valued 1|2) join the full two-KG dictionaries with the
    kg tag in the join key — three gated-broadcast joins total instead
    of six (two per-KG :func:`encode_triples` calls re-scan the triple
    stream and build every dictionary broadcast twice). Row-identical to
    the per-KG union: joining on (kg, elem) restricted to a triple's own
    kg is exactly the per-KG dictionary join.

    Returns DataFrame[s_id, p_id, o_id, kg] (bigint).
    """
    t = triples.select(F.col(kg_col).cast("long").alias("kg"), "s", "p", "o")
    return _encode(t, ent_ids, rel_ids, ["kg"], ent_small, rel_small).select(
        "s_id", "p_id", "o_id", "kg"
    )


def encode_pairs(
    pairs: DataFrame,
    ids1: DataFrame,
    ids2: DataFrame,
) -> DataFrame:
    """D6 (uris_pair_2ids, read.py:129-138): pairs with either side missing
    from its dictionary are silently dropped (inner-join semantics — the
    reference does the same with an `if in` filter).

    Dictionary sides broadcast only while they fit the gate (see
    :func:`encode_triples`)."""
    return (
        pairs.join(
            _gated_broadcast(
                ids1.select(F.col("elem").alias("e1"), F.col("id").alias("id1"))
            ),
            "e1",
        )
        .join(
            _gated_broadcast(
                ids2.select(F.col("elem").alias("e2"), F.col("id").alias("id2"))
            ),
            "e2",
        )
        .select("id1", "id2")
    )


def encode_attribute_triples(
    attr_triples: DataFrame,
    ent_ids: DataFrame,
    attr_ids: DataFrame,
) -> DataFrame:
    """D7 (read.py:152-163): heads without an entity id drop silently;
    the literal passes through unchanged.

    Dictionary sides broadcast only while they fit the gate (see
    :func:`encode_triples`)."""
    return (
        attr_triples.join(
            _gated_broadcast(
                ent_ids.select(F.col("elem").alias("e"), F.col("id").alias("e_id"))
            ),
            "e",
        )
        .join(
            _gated_broadcast(
                attr_ids.select(F.col("elem").alias("a"), F.col("id").alias("a_id"))
            ),
            "a",
        )
        .select("e_id", "a_id", "v")
    )
