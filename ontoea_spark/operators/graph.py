"""Connected components over candidate-pair edges — duplicate-CLUSTER
resolution (rebuild scope: pair joins from the dedup suite tell you two
docs match; canonicalization needs the transitive closure, i.e. one
representative per component).

Algorithm: iterative min-label propagation WITH pointer jumping. Each
round every node takes the minimum label among itself and its
neighbors (1 hop of spread), then labels shortcut through their own
label's label (path halving — the Kiveris-et-al-style doubling step),
so convergence is O(log diameter) rounds, not O(diameter): a plain
neighbor-min loop on a 1000-node duplicate CHAIN would need 1000
rounds and silently return wrong labels at any iteration cap. Rounds
are localCheckpoint-materialized (truncated lineage — iterative plans
grow exponentially otherwise, the links-fixpoint lesson) and stop when
no label changes; a cap hit without convergence raises instead of
returning partial labels.

Per round: one shuffle (neighbor groupBy-min) + two joins on id. The
driver sees only a changed-label COUNT per round — no row data ever
collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table — the hub
    detector behind the skew story: entities with outsized PageRank are
    exactly the join keys that need salting (operators/salting.py), and
    a KG-construction pipeline wants them measured, not guessed.

    Fixed ``iters`` power steps (deterministic, oracle-friendly) of the
    standard update rank = (1-d)/N + d * Σ_in rank/out_deg; nodes with
    no out-edges leak their mass (the common simplification — document,
    don't redistribute). Per iteration: one join rank→edges + one
    groupBy(dst) shuffle; the rank frame is localCheckpoint-materialized
    per round so the iterative plan never snowballs. Nothing but the
    vertex count touches the driver.

    An edge with a NULL endpoint is dropped before the vertex count:
    NULL is no vertex, so it neither gets a rank nor dilutes 1/N. No
    edges give an empty frame.

    Returns DataFrame[id, pagerank] (6dp-rounded at the END only).
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .dropna()
        .distinct()
    )
    verts = (
        e.select(F.col("src").alias("id"))
        .union(e.select("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = verts.count()  # materializes the lazy checkpoint in the same job
    if n == 0:
        return verts.select("id", F.lit(None).cast("double").alias("pagerank"))
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=False)
    ranks = verts.select("id", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = (
            ed.join(ranks, ed.src == ranks.id)
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            verts.join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + damping * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
            # LAZY checkpoint: the plan is truncated per round (no
            # exponential lineage) but nothing materializes until the
            # caller's single action — a fixed-iteration loop needs no
            # per-round driver sync, so the eager variant's one blocking
            # job per iteration was pure scheduling overhead
            .localCheckpoint(eager=False)
        )
    return ranks.select("id", F.round("rank", 6).alias("pagerank"))


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "id",
    left_col: str = "id1",
    right_col: str = "id2",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the minimum node id reachable through
    ``pairs`` (undirected). Nodes without any edge keep their own id
    (singleton components).

    nodes: DataFrame with ``id_col``; pairs: DataFrame[left_col, right_col].
    Ids may be any orderable type (long doc ids, URI strings, ...).
    Returns DataFrame[id, component].
    """
    # lazy checkpoints: plans are truncated immediately, but nothing
    # blocks the driver — sym/labels materialize inside round 1's one
    # convergence-count job (each round below is ONE job, not a
    # materialize job + a count job)
    sym = (
        pairs.select(
            F.col(left_col).alias("a"),
            F.col(right_col).alias("b"),
        )
        .unionAll(
            pairs.select(
                F.col(right_col).alias("a"),
                F.col(left_col).alias("b"),
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # labels stays EAGER: round 1 references it from three plan
    # branches (self rows, the neighbor join, the jump pointer) — lazy
    # would race-recompute the nodes derivation per branch
    labels = nodes.select(
        F.col(id_col).alias("id"),
        F.col(id_col).alias("comp"),
    ).localCheckpoint(eager=True)
    comp_type = labels.schema["comp"].dataType
    converged = False
    for _ in range(max_iter):
        # neighbor-min folded into ONE union+groupBy (instead of
        # join+groupBy followed by a second join back to the labels):
        # self rows carry the previous comp both as a min candidate and
        # as `old` (exactly one self row per id), so the round's changed
        # flag falls out without a separate labels join.
        contribs = (
            sym.join(labels, sym["b"] == labels["id"])
            .select(
                F.col("a").alias("id"),
                F.col("comp").alias("cand"),
                F.lit(None).cast(comp_type).alias("old"),
            )
            .unionAll(
                labels.select(
                    "id", F.col("comp").alias("cand"), F.col("comp").alias("old")
                )
            )
        )
        # drop ids that only appear as PAIR endpoints, never in nodes
        # (old is non-null exactly for the self rows): the operator's
        # contract labels the declared node set only — without this
        # filter such ids would surface as extra, mislabeled output
        # rows with a NULL changed-flag invisible to the convergence
        # count
        stepped = contribs.groupBy("id").agg(
            F.min("cand").alias("m"), F.max("old").alias("old")
        ).filter(F.col("old").isNotNull())
        # pointer jumping: comp <- label(comp) — halves remaining path
        # lengths, turning O(diameter) convergence into O(log diameter).
        # The jump reads the PREVIOUS round's (already materialized)
        # labels instead of self-joining the in-flight step: prev labels
        # satisfy label(x) <= x in the same component, so compressing
        # through them is equally valid and avoids recomputing the
        # neighbor-min subtree twice per round.
        ptr = labels.select(
            F.col("id").alias("pid"), F.col("comp").alias("pcomp")
        )
        jumped = stepped.join(
            ptr, stepped["m"] == ptr["pid"], "left"
        ).select(
            "id",
            F.coalesce(F.col("pcomp"), F.col("m")).alias("comp"),
            (F.coalesce(F.col("pcomp"), F.col("m")) != F.col("old")).alias(
                "changed"
            ),
        )
        new_labels = jumped.localCheckpoint(eager=False)
        # ONE job per round: the convergence count is what materializes
        # the (lazily checkpointed) round output — no separate
        # materialize job, no join, no shuffle in the probe
        n_changed = new_labels.filter("changed").count()
        labels = new_labels.select("id", "comp")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select("id", F.col("comp").alias("component"))
