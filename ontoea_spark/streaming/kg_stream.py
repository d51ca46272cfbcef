"""Streaming incremental KG construction — the flagship pipeline as a
stream (rebuild surface; the reference is batch-only, SURVEY.md §2.13).

Each micro-batch of crawled pages runs the SAME extraction expressions
as the batch DAG (``pipeline.kg_build``), then folds the resulting
triples into the persisted graph with ``pipeline.incremental.
incremental_update`` — frozen existing ids, appended unseen ids,
O(delta + one scan) edge merge. The stream therefore converges to the
same URI-level graph as a one-shot batch rebuild over the same pages
(id ASSIGNMENT differs by arrival order — the documented incremental
deviation from the batch interleave — but the decoded (s, p, o, kg)
edge set is identical; asserted by tests/test_streaming.py). The same
store also carries the host link graph, the canonical insert/delete
log and the corpus profile sketches.

The versioned-delta store (the Iceberg-append analogue, in plain
parquet) is one contract shared by all four kinds of state; each kind
only names its tables and its merge-on-read:

* **Layout.** Micro-batch ``n`` commits ONLY ITS DELTA as one parquet
  dir per table, ``{state_dir}/v{n}/{table}/``. Write cost is O(delta),
  never O(graph) — at 10^12 documents a full-table rewrite per
  micro-batch would be the scale killer.
* **Commit marker.** A version exists once EVERY table of its kind has
  its parquet ``_SUCCESS`` marker; a half-written version from a crashed
  batch is invisible.
* **Read.** State = the kind's merge over one multi-path scan per table
  of the committed versions (Iceberg's manifest-of-files, literally).
  foreachBatch may REPLAY a batch after a crash: a replaying batch reads
  only versions ``< before`` (its own id) and overwrites only its own
  dir, so the retry is idempotent.
* **Compaction** (offline, stream stopped — Iceberg's manifest
  compaction): the merged view is written to ``_compact_v{max}``, every
  older dir is removed and the temp dir is renamed to ``v{max}``.
  Content and version numbering are unchanged (the stream's next
  batch_id lives in its own Spark checkpoint and is strictly greater).
  The swap is not atomic, so a COMPLETE ``_compact_v{n}`` already
  replaces every ``v{m}`` with m <= n on read; an incomplete one is
  ignored, and the next compaction finishes the swap.
* **Local only.** Listing and the swap use ``os`` while Spark writes go
  through Hadoop, so a ``state_dir`` with a URI scheme other than
  ``file:`` is rejected with ``ValueError`` rather than read as empty.
"""

from __future__ import annotations

import os
import re
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontoea_spark.session import local_frame

ENT_SCHEMA = "kg long, elem string, freq long, rank long, id long"
REL_SCHEMA = ENT_SCHEMA
EDGE_SCHEMA = "s_id long, p_id long, o_id long, kg long"

_STATE_TABLES = ("ent_ids", "rel_ids", "edges")
_COMPACT = "_compact_"
_VERSION_NAME = re.compile(rf"(?:{_COMPACT})?v(\d+)")


def _local_path(path: str) -> str:
    """The ``os`` path of a state dir; ValueError unless it is local."""
    uri = urlparse(path)
    if uri.scheme not in ("", "file"):
        raise ValueError(f"streaming state needs a local state_dir, got {path!r}")
    return uri.path if uri.scheme else path


def _version_dir(state_dir: str, v: int, compact: bool = False) -> str:
    return os.path.join(state_dir, (_COMPACT if compact else "") + f"v{v}")


def _committed_dirs(state_dir: str, tables, before: int | None = None) -> dict:
    """Committed version -> its dir, ascending, for versions < ``before``.
    The newest complete ``_compact_v{n}`` stands for every version <= n."""
    local = _local_path(state_dir)
    done = {}
    for name in os.listdir(local) if os.path.isdir(local) else ():
        m = _VERSION_NAME.fullmatch(name)
        if m and all(
            os.path.exists(os.path.join(local, name, t, "_SUCCESS")) for t in tables
        ):
            done[int(m[1]), name.startswith(_COMPACT)] = os.path.join(state_dir, name)
    floor = max((v for v, compact in done if compact), default=-1)
    return {
        v: d
        for (v, compact), d in sorted(done.items())
        if (v > floor or compact and v == floor) and (before is None or v < before)
    }


def _committed_versions(state_dir: str, tables=_STATE_TABLES) -> list[int]:
    return list(_committed_dirs(state_dir, tables))


def _read(spark, state_dir: str, tables, before: int | None = None):
    """One multi-path parquet scan per table over the committed versions
    (the union is file listing, not a shuffle); None if there are none."""
    dirs = _committed_dirs(state_dir, tables, before).values()
    if not dirs:
        return None
    return tuple(
        spark.read.parquet(*[os.path.join(d, t) for d in dirs]) for t in tables
    )


def _commit(state_dir: str, v: int, tables, frames, compact: bool = False) -> None:
    _local_path(state_dir)  # reject a remote state_dir before anything lands
    for t, df in zip(tables, frames):
        path = os.path.join(_version_dir(state_dir, v, compact), t)
        df.write.mode("overwrite").parquet(path)


def _compact(state_dir: str, tables, merged) -> int:
    """Write ``merged(vmax)`` (the merged view, one frame per table) as
    ``_compact_v{vmax}``, drop every older dir, rename it to ``v{vmax}``.
    A complete ``_compact_v{vmax}`` left by an interrupted run is
    already the merged view, so only the swap is redone."""
    dirs = _committed_dirs(state_dir, tables)
    if not dirs:
        raise ValueError(f"no committed state under {state_dir}")
    vmax = max(dirs)
    tmp = _version_dir(state_dir, vmax, compact=True)
    if dirs[vmax] != tmp:
        _commit(state_dir, vmax, tables, merged(vmax), compact=True)
    local = _local_path(state_dir)
    for name in os.listdir(local):
        m = _VERSION_NAME.fullmatch(name)
        if m and int(m[1]) <= vmax and name != os.path.basename(tmp):
            shutil.rmtree(os.path.join(local, name))
    os.rename(_local_path(tmp), _local_path(_version_dir(state_dir, vmax)))
    return vmax


def _drain(spark, pages_path, state_dir, checkpoint_dir, max_files_per_trigger, fold):
    """Run ``fold(batch_df, batch_id)`` over a stream of pages files with
    an availableNow trigger (drains everything currently present, then
    stops — the bounded-source test mode; a production crawl drops the
    trigger and runs forever). Returns the terminated query."""
    from ontoea_spark.streaming.ingest import read_pages_stream

    _local_path(state_dir)  # fail here, not inside the first micro-batch
    stream = read_pages_stream(
        spark, pages_path, max_files_per_trigger=max_files_per_trigger
    )
    q = (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


# ---------------------------------------------------------------------------
# streaming KG: dictionary + edges
# ---------------------------------------------------------------------------


def read_kg_state(
    spark, state_dir: str, before: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame] | None:
    """(ent_ids, rel_ids, edges) as the UNION of committed deltas below
    ``before``. None if no snapshot exists yet."""
    return _read(spark, state_dir, _STATE_TABLES, before)


def _empty_state(spark) -> tuple[DataFrame, DataFrame, DataFrame]:
    return (
        local_frame(spark, [], ENT_SCHEMA),
        local_frame(spark, [], REL_SCHEMA),
        local_frame(spark, [], EDGE_SCHEMA),
    )


def ingest_pages_batch(
    pages: DataFrame, spark, state_dir: str, batch_id: int
) -> None:
    """The foreachBatch body: pages micro-batch -> triples -> incremental
    merge -> O(delta) versioned commit. Pure function of (parent deltas,
    batch rows), so a post-crash replay is idempotent. Only the NEW
    dictionary rows (id above the parent max — frozen-append makes that
    a range filter) and the NOVEL edges are written; the graph itself is
    never rewritten."""
    from ontoea_spark.pipeline.extract import extract_pages_text, extract_triples
    from ontoea_spark.pipeline.incremental import incremental_update
    from ontoea_spark.pipeline.kg_build import split_two_kgs

    tagged = split_two_kgs(extract_pages_text(pages))
    triples = extract_triples(tagged.select("kg", "text"), namespace_col="kg")
    state = read_kg_state(spark, state_dir, before=batch_id)
    ent, rel, edges = state if state is not None else _empty_state(spark)
    # parent max ids: tiny aggregates over the dictionary union — the
    # boundary between frozen rows and this batch's appended rows
    ent_max = ent.agg(F.coalesce(F.max("id"), F.lit(-1))).first()[0]
    rel_max = rel.agg(F.coalesce(F.max("id"), F.lit(-1))).first()[0]
    inc = incremental_update(
        ent,
        rel,
        edges,
        triples.select("s", "p", "o"),
        F.when(F.col("s").startswith("kg1:"), F.lit(1)).otherwise(F.lit(2)),
    )
    new_ent = inc.ent_ids.filter(F.col("id") > ent_max)
    new_rel = inc.rel_ids.filter(F.col("id") > rel_max)
    _commit(state_dir, batch_id, _STATE_TABLES, (new_ent, new_rel, inc.novel_edges))


def streaming_kg_build(
    spark,
    pages_path: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
):
    """Run the incremental KG build over a stream of pages files
    (availableNow drain). Returns the terminated query."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        ingest_pages_batch(batch_df, spark, state_dir, batch_id)

    return _drain(
        spark, pages_path, state_dir, checkpoint_dir, max_files_per_trigger, fold
    )


def compact_kg_state(spark, state_dir: str) -> int:
    """Offline maintenance: merge all committed deltas into one delta
    dir under the CURRENT max version id, so reads scan one file set
    instead of one per micro-batch. Returns the compacted version id."""
    return _compact(state_dir, _STATE_TABLES, lambda _: read_kg_state(spark, state_dir))


def decoded_edges(
    ent_ids: DataFrame, rel_ids: DataFrame, edges: DataFrame
) -> DataFrame:
    """Edge table decoded back to URIs: DataFrame[s, p, o, kg] — the
    id-assignment-independent view used to compare streaming and batch
    builds. The dictionaries are corpus-vocab-sized, so their broadcast
    hints are row-count-gated like every dictionary join (past the gate
    AQE plans the decode joins)."""
    from ontoea_spark.operators.dictionary import _gated_broadcast

    ent_m = ent_ids.select("kg", "elem", "id").localCheckpoint(eager=True)
    rel_m = rel_ids.select("kg", "elem", "id").localCheckpoint(eager=True)
    # independent gates: the relation vocab is typically tiny even when
    # the entity vocab is way past the threshold
    ent = _gated_broadcast(ent_m)
    rel = _gated_broadcast(rel_m)
    return (
        edges.join(
            ent.select(
                F.col("kg"), F.col("id").alias("s_id"), F.col("elem").alias("s")
            ),
            ["kg", "s_id"],
        )
        .join(
            rel.select(
                F.col("kg"), F.col("id").alias("p_id"), F.col("elem").alias("p")
            ),
            ["kg", "p_id"],
        )
        .join(
            ent.select(
                F.col("kg"), F.col("id").alias("o_id"), F.col("elem").alias("o")
            ),
            ["kg", "o_id"],
        )
        .select("s", "p", "o", "kg")
    )


# ---------------------------------------------------------------------------
# streaming host link graph (additive-state rollup)
# ---------------------------------------------------------------------------
#
# Edge weight is a sum — a commutative monoid — so unlike the
# dictionary-bearing KG state a batch commits its own partial counts
# with NO read of parent state (O(batch), zero graph-sized scans), and
# the merged view is a groupBy-sum over the committed deltas.

_HOST_TABLES = ("host_edges",)


def ingest_links_batch(pages: DataFrame, state_dir: str, batch_id: int) -> None:
    """foreachBatch body for the streaming host link graph: this batch's
    pages -> href anchors -> host-edge PARTIAL counts, committed as the
    batch's own delta dir."""
    from ontoea_spark.pipeline.weblinks import extract_links, host_link_graph

    edges = host_link_graph(extract_links(pages))
    _commit(state_dir, batch_id, _HOST_TABLES, (edges,))


def read_host_graph(
    spark, state_dir: str, before: int | None = None
) -> DataFrame | None:
    """Merged host graph = groupBy-sum over committed partial-count
    deltas (one multi-path scan). None if nothing is committed yet."""
    state = _read(spark, state_dir, _HOST_TABLES, before)
    if state is None:
        return None
    return state[0].groupBy("src_host", "dst_host").agg(
        F.sum("n_links").cast("long").alias("n_links")
    )


def streaming_host_graph(
    spark,
    pages_path: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
):
    """Incremental host-graph maintenance over a stream of pages files
    (availableNow drain). Converges to exactly the batch
    host_link_graph(extract_links(pages)) counts — addition is
    arrival-order-free, so there is no incremental deviation at all."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        ingest_links_batch(batch_df, state_dir, batch_id)

    return _drain(
        spark, pages_path, state_dir, checkpoint_dir, max_files_per_trigger, fold
    )


def compact_host_graph(spark, state_dir: str) -> int:
    """Merge all committed host-edge deltas into one PRE-AGGREGATED
    delta under the current max version id: read-time groupBy-sum over
    one pre-summed delta is the identity."""
    return _compact(
        state_dir, _HOST_TABLES, lambda _: (read_host_graph(spark, state_dir),)
    )


# ---------------------------------------------------------------------------
# streaming canonical graph: merge-on-read insert/delete log
# ---------------------------------------------------------------------------
#
# Canonicalization state is NOT an additive monoid (a batch whose links
# dethrone a canonical RETRACTS previously-committed rows). Each batch
# commits its CanonicalDelta change sets as an insert/delete log
# (``triple_log``: s,p,o,op,v) plus latest-wins map rows (``map_log``:
# entity,canonical,v) — Iceberg's merge-on-read delete files. Commit
# cost is O(delta + affected); the merged view is ONE groupBy (max_by
# over the version) per table.

_CANON_TABLES = ("triple_log", "map_log")
TRIPLE_LOG_SCHEMA = "s string, p string, o string, op string, v long"
MAP_LOG_SCHEMA = "entity string, canonical string, v long"


def read_canonical_state(
    spark, state_dir: str, before: int | None = None
) -> tuple[DataFrame, DataFrame] | None:
    """(triples, mapping) from the log: the latest op per (s,p,o) wins
    (a delete tombstone drops the row), the latest canonical per entity
    wins. None before the first commit."""
    state = _read(spark, state_dir, _CANON_TABLES, before)
    if state is None:
        return None
    tl, ml = state
    triples = (
        tl.groupBy("s", "p", "o")
        .agg(F.max_by("op", "v").alias("op"))
        .filter(F.col("op") == "insert")
        .select("s", "p", "o")
    )
    mapping = ml.groupBy("entity").agg(
        F.max_by("canonical", "v").alias("canonical")
    )
    return triples, mapping


def ingest_canonical_stream_batch(
    spark,
    delta_triples: DataFrame,
    delta_links: DataFrame,
    state_dir: str,
    batch_id: int,
) -> None:
    """foreachBatch body for streaming canonicalization: fold this
    batch's (triples, links) into the canonical graph via
    ``pipeline.canonicalize.ingest_canonical_batch`` and commit ONLY the
    change sets. The first batch bootstraps with a plain canonical
    rewrite (everything inserts)."""
    from ontoea_spark.pipeline.canonicalize import (
        canonical_entity_map,
        ingest_canonical_batch,
        rewrite_triples,
    )

    state = read_canonical_state(spark, state_dir, before=batch_id)
    cur_t = None
    if state is None:
        mapping = canonical_entity_map(delta_links).localCheckpoint(eager=True)
        novel = rewrite_triples(delta_triples, mapping)
        retracted = local_frame(spark, [], "s string, p string, o string")
        changed_map = mapping
    else:
        cur_t, cur_m = state
        # persist (NOT localCheckpoint) the merged corpus view: the
        # ingest probe-scans it 2-3x within this batch, but pinning an
        # O(corpus) checkpointed RDD per micro-batch would accumulate
        # until GC — persist is spill-safe and released in `finally`
        cur_t = cur_t.persist()
        d = ingest_canonical_batch(cur_t, cur_m, delta_triples, delta_links)
        novel, retracted, changed_map = (
            d.novel_triples,
            d.retracted_triples,
            d.changed_map_rows,
        )
    try:
        v = F.lit(batch_id).cast("long")
        log = novel.withColumn("op", F.lit("insert")).unionByName(
            retracted.withColumn("op", F.lit("delete"))
        )
        frames = (log.withColumn("v", v), changed_map.withColumn("v", v))
        _commit(state_dir, batch_id, _CANON_TABLES, frames)
    finally:
        if cur_t is not None:
            cur_t.unpersist()


def compact_canonical_state(spark, state_dir: str) -> int:
    """Collapse the insert/delete log into one all-inserts base version
    (Iceberg's MoR compaction). The merged view is unchanged by
    construction."""

    def base(vmax: int) -> tuple[DataFrame, DataFrame]:
        triples, mapping = read_canonical_state(spark, state_dir)
        v = F.lit(vmax).cast("long")
        return (
            triples.withColumn("op", F.lit("insert")).withColumn("v", v),
            mapping.withColumn("v", v),
        )

    return _compact(state_dir, _CANON_TABLES, base)


# ---------------------------------------------------------------------------
# streaming corpus profile: sketch state (additive CMS + semilattice KMV)
# ---------------------------------------------------------------------------
#
# Count-min cells are an additive monoid (read = groupBy-sum, the host
# graph shape) and KMV minima a semilattice (read = k smallest of the
# flattened deltas). Either way a micro-batch commits ONLY its own
# batch-local sketch — zero parent reads, O(batch) — and the merged view
# equals the one-shot sketch of all rows EXACTLY (monoid / semilattice
# laws), so a crawl's running cardinality and hot-key profile stays
# current per micro-batch without rescanning the corpus.

_PROFILE_TABLES = ("kmv_minima", "cms_cells")


def ingest_profile_batch(
    df: DataFrame,
    state_dir: str,
    batch_id: int,
    key_cols: tuple[str, ...],
    value_col: str,
    k: int = 64,
    d: int = 4,
    w: int = 1024,
) -> None:
    """foreachBatch body: this batch's rows -> its OWN KMV + CMS sketches,
    committed as the batch's versioned delta dir."""
    from ontoea_spark.operators.sketches import cms_sketch, kmv_sketch

    kmv = kmv_sketch(df, list(key_cols), value_col, k)
    cms = cms_sketch(df, value_col, d, w)
    _commit(state_dir, batch_id, _PROFILE_TABLES, (kmv, cms))


def read_profile(
    spark,
    state_dir: str,
    key_cols: tuple[str, ...],
    k: int = 64,
    before: int | None = None,
) -> tuple[DataFrame, DataFrame] | None:
    """(kmv_sketch, cms) merged over committed deltas: KMV per key is the
    k smallest of the union of the batch minima (collect_list state is
    bounded at k * n_versions per key; compaction resets it), CMS is the
    host-graph groupBy-sum. None if nothing committed yet."""
    state = _read(spark, state_dir, _PROFILE_TABLES, before)
    if state is None:
        return None
    kmv_minima, cms_cells = state
    kmv = kmv_minima.groupBy(*key_cols).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("minima")))),
            1,
            k,
        ).alias("minima")
    )
    cms = cms_cells.groupBy("row", "col").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return kmv, cms


def streaming_corpus_profile(
    spark,
    pages_path: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 2,
    k: int = 64,
    d: int = 4,
    w: int = 1024,
):
    """Running crawl profile over a stream of pages files: per-lang
    distinct-URL KMV + URL-frequency CMS (recrawl hot-key detector),
    maintained per micro-batch at O(batch) cost (availableNow drain)."""

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select("lang", "url")
        ingest_profile_batch(rows, state_dir, batch_id, ("lang",), "url", k, d, w)

    return _drain(
        spark, pages_path, state_dir, checkpoint_dir, max_files_per_trigger, fold
    )


def compact_profile(
    spark, state_dir: str, key_cols: tuple[str, ...], k: int = 64
) -> int:
    """Merge all committed sketch deltas into one: semilattice and
    monoid merges are idempotent/associative, so re-reading the single
    compacted delta reproduces the merged view exactly."""

    def merged(vmax: int) -> tuple[DataFrame, DataFrame]:
        return read_profile(spark, state_dir, key_cols, k)

    return _compact(state_dir, _PROFILE_TABLES, merged)
