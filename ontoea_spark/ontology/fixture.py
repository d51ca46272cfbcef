"""Deterministic synthetic ontology over the corpus's crossview classes.

The sandbox corpus yields leaf classes ``cls:<x>`` / ``cls2:<x>`` (one
per initial letter, driver_queries._cv_fixture). This module arranges
them into a fixed tree whose shape exercises every compatibility branch
(FIXTURES.md §2 file formats; reference single-parent model):

    cls*:<a-f>  -> band:af -> kind:early -> owl#Thing
    cls*:<g-m>  -> band:gm -> kind:early -> owl#Thing
    cls*:<n-s>  -> kind:late            -> owl#Thing   (depth varies!)
    cls*:<else> -> band:tz -> kind:late  -> owl#Thing
    disjointWith: band:af ~ band:gm, kind:early ~ kind:late

The n-s leaves skip the band level so paths have mixed depths
(containment vs sibling cases in check_type_v2); af~gm makes two
*same-kind* bands disjoint (disjoint must win over common-ancestor).
Everything is a pure function of the class string — reproducible in
ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontoea_spark.ontology.tree import THING_URI
from ontoea_spark.session import local_frame

_STATIC_EDGES = [
    ("band:af", "kind:early"),
    ("band:gm", "kind:early"),
    ("band:tz", "kind:late"),
    ("kind:early", THING_URI),
    ("kind:late", THING_URI),
]

_STATIC_DISJOINT = [
    ("band:af", "band:gm"),
    ("kind:early", "kind:late"),
]


def leaf_parent_expr(cls_col: str = "cls") -> F.Column:
    """Parent class of a leaf ``cls:<word-initial>`` — CASE on the letter."""
    x = F.substring(F.element_at(F.split(F.col(cls_col), ":"), 2), 1, 1)
    return (
        F.when((x >= "a") & (x <= "f"), F.lit("band:af"))
        .when((x >= "g") & (x <= "m"), F.lit("band:gm"))
        .when((x >= "n") & (x <= "s"), F.lit("kind:late"))
        .otherwise(F.lit("band:tz"))
    )


def synth_ontology(
    spark: SparkSession, leaf_classes: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """leaf_classes: DataFrame[cls] -> (subclass[child,parent],
    disjoint[child,target])."""
    leaf_edges = leaf_classes.select(
        F.col("cls").alias("child"), leaf_parent_expr("cls").alias("parent")
    ).distinct()
    static = local_frame(spark, _STATIC_EDGES, "child string, parent string")
    subclass = leaf_edges.unionByName(static)
    disjoint = local_frame(spark, _STATIC_DISJOINT, "child string, target string")
    return subclass, disjoint


# DuckDB oracle fragments -----------------------------------------------

SQL_THING = THING_URI

# expects a CTE `leafcls(cls)`; yields `onto_edges(child, parent)` and
# `disj(child, target)`
SQL_ONTO_EDGES = f"""
onto_edges AS (
  SELECT cls AS child,
         CASE WHEN substr(split_part(cls, ':', 2), 1, 1) BETWEEN 'a' AND 'f' THEN 'band:af'
              WHEN substr(split_part(cls, ':', 2), 1, 1) BETWEEN 'g' AND 'm' THEN 'band:gm'
              WHEN substr(split_part(cls, ':', 2), 1, 1) BETWEEN 'n' AND 's' THEN 'kind:late'
              ELSE 'band:tz' END AS parent
  FROM (SELECT DISTINCT cls FROM leafcls)
  UNION ALL
  SELECT * FROM (VALUES
    ('band:af', 'kind:early'), ('band:gm', 'kind:early'),
    ('band:tz', 'kind:late'),
    ('kind:early', '{SQL_THING}'), ('kind:late', '{SQL_THING}')
  ) AS s(child, parent)
),
disj AS (
  SELECT * FROM (VALUES
    ('band:af', 'band:gm'), ('kind:early', 'kind:late')
  ) AS d(child, target)
)
"""

# recursive root-ward paths; yields `cpaths(cls, path)` (path = LIST)
SQL_CLASS_PATHS = """
allcls AS (
  -- top-level UNION inside WITH RECURSIVE is parsed as the recursive
  -- union operator (no global dedup); keep the set-union nested
  SELECT DISTINCT cls FROM (
    SELECT child AS cls FROM onto_edges
    UNION ALL SELECT parent FROM onto_edges
  )
),
walk AS (
  SELECT cls, [cls] AS path, cls AS cur FROM allcls
  UNION ALL
  SELECT w.cls, list_append(w.path, e.parent), e.parent
  FROM walk w JOIN onto_edges e ON e.child = w.cur
),
cpaths AS (
  SELECT cls, path FROM walk w
  WHERE len(path) = (SELECT max(len(path)) FROM walk x WHERE x.cls = w.cls)
)
"""

# disjoint-target expansion; yields `cpd(cls, path, dtargets)`
SQL_DISJ_TARGETS = """
cpd AS (
  SELECT p.cls, p.path,
         coalesce(
           (SELECT list_sort(list(DISTINCT d.target))
            FROM unnest(p.path) AS u(anc) JOIN disj d ON d.child = u.anc),
           CAST([] AS VARCHAR[])) AS dtargets
  FROM cpaths p
)
"""
