"""End-to-end KG construction DAG (the rebuild of SURVEY.md §3.2).

pages (url, warc_ts, html, text, lang)
  -> extract text (JVM decode + regexp_extract by default; the Arrow UDF
     behind ``use_udf=True`` is byte-identical per url)
  -> mention detection -> (s, p, o) per KG (lang-split: 'en' -> kg1,
     rest -> kg2 — the two-corpus analogue of OpenEA's two KGs)
  -> dedup (set semantics) -> deterministic interleaved dictionary ids
  -> edge table (s_id, p_id, o_id, kg) + vertex table (id, uri, kg, freq)
  -> gold alignment links (shared surface form across KGs)

Everything is JVM-side; the only shuffles are the dedup, the
dictionary count/rank, and the final repartition-by-key for the
partitioned sinks. Gated broadcast joins everywhere a dictionary is
involved.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontoea_spark.operators.dictionary import (
    _fits_broadcast,
    encode_triples_two_kg,
    two_kg_dictionaries,
)
from ontoea_spark.pipeline.extract import extract_pages_text, extract_triples
from ontoea_spark.session import Stage, in_memory


@dataclass
class KGBuildResult:
    pages_text: DataFrame  # (url, warc_ts, lang, text, kg)
    triples: DataFrame  # (s, p, o) URIs of both KGs, kg<N>: prefixed
    triples1: DataFrame  # (s, p, o) URIs, kg1
    triples2: DataFrame
    ent_ids: DataFrame  # (kg, elem, freq, rank, id)
    rel_ids: DataFrame
    edges: DataFrame  # (s_id, p_id, o_id, kg)
    vertices: DataFrame  # (id, uri, kg, freq)
    links: DataFrame  # gold alignment (e1, e2) URIs


def split_two_kgs(docs_text: DataFrame, lang_col: str = "lang") -> DataFrame:
    """Tag each document with its KG ('kg1' for en, 'kg2' otherwise)."""
    return docs_text.withColumn(
        "kg", F.when(F.col(lang_col) == "en", F.lit("kg1")).otherwise(F.lit("kg2"))
    )


def gold_links(triples1: DataFrame, triples2: DataFrame) -> DataFrame:
    """Gold alignment: kg1:<w> <-> kg2:<w> for surface forms w that occur
    as an entity in BOTH KGs (the synthetic corpus's ground truth)."""
    from ontoea_spark.operators.filters import parse_entities

    e1 = parse_entities(triples1).select(
        F.col("entity").alias("e1"),
        F.regexp_replace("entity", "^kg1:", "").alias("w"),
    )
    e2 = parse_entities(triples2).select(
        F.col("entity").alias("e2"),
        F.regexp_replace("entity", "^kg2:", "").alias("w"),
    )
    return e1.join(e2, "w").select("e1", "e2")


def build_kg(pages: DataFrame, stage: Stage = in_memory) -> KGBuildResult:
    """The build DAG as stages pages_text -> triples -> dictionaries ->
    ent_ids/rel_ids -> edges -> vertices/links, each run by ``stage``."""
    tagged = stage("pages_text", lambda: split_two_kgs(extract_pages_text(pages)))
    # ONE extraction + dedup pass over the corpus (the kg tag rides along
    # in the namespace prefix, so a single distinct covers both KGs),
    # shared by every downstream branch (dictionaries, edges, links).
    # localCheckpoint instead of cache(): consumers' plans are truncated
    # to the materialized RDD (cache keeps the full extraction lineage in
    # every consumer plan). Eager: the first consumer is the dictionary
    # job, whose union branches would each ask for the same partition,
    # one computing it while the others wait on its block
    all_triples = stage(
        "triples",
        lambda: extract_triples(tagged.select("kg", "text"), namespace_col="kg"),
        local="eager",
    )
    triples1 = all_triples.filter(F.col("s").startswith("kg1:"))
    triples2 = all_triples.filter(F.col("s").startswith("kg2:"))
    # both dictionaries for both KGs in ONE pass over the triple stream
    # (one freq shuffle + one range shuffle instead of four of each);
    # with_sizes feeds the encode joins' broadcast gates from one
    # aggregate job instead of one count job per dictionary per call
    kg_expr = F.when(F.col("s").startswith("kg1:"), F.lit(1)).otherwise(F.lit(2))
    ent_ids, rel_ids, n_ent, n_rel = two_kg_dictionaries(
        all_triples, kg_expr, with_sizes=True, stage=stage
    )
    # one-pass encode of BOTH KGs: three gated-broadcast joins total
    # (the per-KG encode pair costs six and scans the triples twice)
    edges = stage(
        "edges",
        lambda: encode_triples_two_kg(
            all_triples.withColumn("kgn", kg_expr),
            ent_ids,
            rel_ids,
            ent_small=_fits_broadcast(n_ent),
            rel_small=_fits_broadcast(n_rel),
        ),
    )
    vertices = stage(
        "vertices",
        lambda: ent_ids.select("id", F.col("elem").alias("uri"), "kg", "freq"),
    )
    links = stage("links", lambda: gold_links(triples1, triples2))
    return KGBuildResult(
        pages_text=tagged,
        triples=all_triples,
        triples1=triples1,
        triples2=triples2,
        ent_ids=ent_ids,
        rel_ids=rel_ids,
        edges=edges,
        vertices=vertices,
        links=links,
    )


def materialize(
    result: KGBuildResult, out_dir: str, partitions: int = 32
) -> dict[str, str]:
    """Write partitioned edge/vertex parquet tables (Iceberg-shaped layout:
    edges partitioned by kg, repartitioned on s_id so downstream
    adjacency scans are co-located). Returns path map."""
    from ontoea_spark.sources.tables import write_edges

    paths = {
        "edges": f"{out_dir}/edges",
        "vertices": f"{out_dir}/vertices",
        "links": f"{out_dir}/links",
    }
    # format dispatch (iceberg iff a catalog is configured) lives in
    # sources/tables.py; everything below it only sees DataFrames
    write_edges(
        result.edges.repartition(partitions, "s_id"), paths["edges"]
    )
    (
        result.vertices.repartition(max(partitions // 4, 1), "id")
        .write.mode("overwrite")
        .partitionBy("kg")
        .parquet(paths["vertices"])
    )
    result.links.write.mode("overwrite").parquet(paths["links"])
    return paths
