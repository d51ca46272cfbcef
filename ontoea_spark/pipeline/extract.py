"""Text extraction + mention/triple emission (the web-ingest stage).

* :func:`extract_text_udf` — vectorized Arrow UDF: html binary -> extracted
  text. A pure function of the html bytes alone (no batch state), so the
  output is byte-identical regardless of Arrow batch boundaries or
  partitioning (BASELINE.json:15 invariant). The sandbox template is a
  fixed wrapper, so extraction is an exact inverse; a real-crawl extractor
  (trafilatura-style) would slot in behind the same signature.
* :func:`extract_triples` — mention detection + (s,p,o) emission over the
  extracted text via leftmost non-overlapping trigram grammar
  (functions/text.py TRIPLE_PATTERN), entirely JVM-side regex — the UDF
  boundary ends at text extraction.

Scale design: both stages are narrow (per-row) transforms — zero shuffle
until the downstream dedup/encode. Column pruning matters most here:
never carry ``html`` past extraction (it dominates bytes); the returned
frames select only what downstream needs.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ontoea_spark.functions.text import TRIPLE_PATTERN

_BODY_RE = re.compile(rb"<p>(.*?)</p>", re.DOTALL)


def _extract_text_from_html(html: bytes) -> str:
    """Pure html->text: contents of the first <p> element, utf-8 decoded.

    Deterministic per input bytes; returns '' when no body is found.
    """
    m = _BODY_RE.search(html)
    return m.group(1).decode("utf-8") if m else ""


# RE2 pattern equivalent to _BODY_RE ((?s) == re.DOTALL; leftmost
# shortest match semantics agree between RE2 and Python re for this
# pattern — asserted by test_extract_vectorized_parity).
_BODY_RE2 = r"(?s)<p>(?P<body>.*?)</p>"


# DataType instance (not DDL string) so the decorator works at import time
# without an active SparkSession.
@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-vectorized extraction (SURVEY.md §2.13 scalar pandas UDF).

    The whole batch runs through RE2 via ``pyarrow.compute.extract_regex``
    (one native call per batch) instead of a per-row Python ``re.search``
    loop — same output bytes, ~5x less Python-side CPU per page at the
    extraction stage that dominates 100 TB ingest (guide §4.2: hand whole
    batches to vectorized native kernels inside the UDF).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    # match on the BINARY column and decode only the matched body —
    # mirrors the old per-row re.search-on-bytes semantics exactly:
    # invalid UTF-8 OUTSIDE the body never fails the page (a whole-page
    # string cast would), invalid bytes INSIDE the body still raise
    arr = pa.Array.from_pandas(html)
    ext = pc.extract_regex(arr, pattern=_BODY_RE2)
    body = pc.fill_null(pc.struct_field(ext, "body"), b"")
    return pc.cast(body, pa.string()).to_pandas()


def extract_pages_text(pages: DataFrame, use_udf: bool = False) -> DataFrame:
    """pages -> (url, warc_ts, lang, text) with text re-extracted from html.

    Drops ``html`` immediately after extraction so downstream stages never
    shuffle the heavy binary column.

    Default path is the pure-JVM expression (``decode`` +
    ``regexp_extract``): the extraction grammar is a regular pattern, so
    the whole-stage-codegen built-in beats shipping every page across
    the Python boundary (guide §4.1 — prefer built-ins when they exist;
    measured 2.7x on the replicated corpus, byte-identical output).
    Both paths decode only the matched body as UTF-8: invalid bytes
    outside the ``<p>`` body never fail the page, invalid bytes inside
    it raise.
    ``use_udf=True`` keeps the Arrow-UDF seam for real-crawl extractors
    that need a Python library (trafilatura-style) behind the same
    signature — that is what :func:`extract_text_udf` exists for.
    """
    if use_udf:
        text = extract_text_udf(F.col("html"))
    else:
        # Java regex: (?s) == re.DOTALL; leftmost shortest match —
        # identical semantics to _BODY_RE / the UDF's RE2 pattern for
        # this grammar (parity asserted in tests/test_entry.py and the
        # extract_fidelity oracle). ISO-8859-1 maps every byte to one
        # char, so the match runs on the raw bytes; UTF-8 multi-byte
        # sequences never contain ASCII, so the body bytes are the same
        # as a whole-page UTF-8 decode would match
        body = F.regexp_extract(
            F.decode(F.col("html"), "ISO-8859-1"), r"(?s)<p>(.*?)</p>", 1
        )
        text = F.decode(F.encode(body, "ISO-8859-1"), "utf-8")
    return pages.select("url", "warc_ts", "lang", text.alias("text"))


def extract_mentions(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Mention/triple detection: leftmost non-overlapping "ENT REL ENT"
    trigrams. Input needs (url-or-id..., text). Output adds s, p, o rows
    (exploded; one row per detected triple; rows with no mention drop).

    Pure JVM regex — ONE ``regexp_extract_all`` pass over the text (the
    full "s p o" match), split on the pattern's literal single spaces.
    The grammar guarantees the split is exact: every alternative is a
    single space-free word, so match group 0 is always "<s> <p> <o>".
    One regex scan of the corpus instead of three (this is the dominant
    per-page CPU of the ingest stage at 100 TB).
    """
    pat = F.lit(TRIPLE_PATTERN)
    t = F.col(text_col)
    other_cols = [c for c in docs.columns if c != text_col]
    return (
        docs.select(
            *other_cols,
            F.explode(F.regexp_extract_all(t, pat, F.lit(0))).alias("m"),
        )
        .select(
            *other_cols,
            F.split_part(F.col("m"), F.lit(" "), F.lit(1)).alias("s"),
            F.split_part(F.col("m"), F.lit(" "), F.lit(2)).alias("p"),
            F.split_part(F.col("m"), F.lit(" "), F.lit(3)).alias("o"),
        )
    )


def extract_triples(
    docs: DataFrame, text_col: str = "text", namespace_col: str | None = None
) -> DataFrame:
    """Distinct (s,p,o) triples, optionally namespaced per KG.

    ``namespace_col``: when given (e.g. a 'kg' column valued 'kg1'/'kg2'),
    entity URIs become '<ns>:<word>' so the two KGs have disjoint URI
    spaces (relations stay shared vocabulary, as in OpenEA benchmarks).
    Set semantics: dedup on read (reference read.py:219-236 stores into a
    set).
    """
    m = extract_mentions(docs, text_col)
    if namespace_col is not None:
        ns = F.col(namespace_col)
        m = m.select(
            F.concat(ns, F.lit(":"), F.col("s")).alias("s"),
            F.col("p"),
            F.concat(ns, F.lit(":"), F.col("o")).alias("o"),
        )
    else:
        m = m.select("s", "p", "o")
    return m.dropDuplicates()


def triple_provenance(
    pages_text: DataFrame,
    text_col: str = "text",
    namespace_col: str | None = None,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Per-triple crawl provenance: (s, p, o, n_pages, n_mentions,
    first_ts, last_ts) — the data-level lineage of KG construction.

    Every emitted triple carries how many distinct pages asserted it,
    how many mentions total, and its crawl-time window (epoch seconds,
    TZ-proof on both engines). first_ts/last_ts give re-crawl freshness
    (which assertions are stale), n_pages gives corroboration (a
    single-page triple is weaker evidence than a 50-page one) —
    the triple-level analogue of the per-partition stage lineage in
    pipeline/checkpoint.py.

    Scale: ONE groupBy on (s, p, o) — the same shuffle key the plain
    extraction's ``dropDuplicates`` already pays, so provenance replaces
    the dedup rather than adding a pass; the aggregate is map-side
    combinable (count / count-distinct-url partials / min / max). The
    reference stores triples into plain sets and keeps no provenance
    (read.py:219-236).
    """
    return provenance_agg(
        provenance_mentions(pages_text, text_col, namespace_col, url_col, ts_col)
    )


def provenance_mentions(
    pages_text: DataFrame,
    text_col: str = "text",
    namespace_col: str | None = None,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """Mention-level provenance rows (s, p, o, _url, _ts) — one row per
    detected mention, carrying the asserting page and its crawl epoch.
    The seam canonicalization needs: rewriting s/o HERE (before the
    aggregate) keeps n_pages an exact distinct count when several
    pre-merge triples collapse into one canonical assertion."""
    input_cols = [url_col, ts_col, text_col] + (
        [namespace_col] if namespace_col else []
    )
    m = extract_mentions(pages_text.select(*input_cols), text_col)
    if namespace_col is not None:
        ns = F.col(namespace_col)
        s_expr = F.concat(ns, F.lit(":"), F.col("s")).alias("s")
        o_expr = F.concat(ns, F.lit(":"), F.col("o")).alias("o")
    else:
        s_expr, o_expr = F.col("s"), F.col("o")
    epoch = F.unix_timestamp(F.col(ts_col)).cast("long")
    return m.select(
        s_expr, F.col("p"), o_expr,
        F.col(url_col).alias("_url"), epoch.alias("_ts"),
    )


def provenance_agg(mentions: DataFrame) -> DataFrame:
    """The one (s,p,o) aggregate over mention-level provenance rows."""
    return mentions.groupBy("s", "p", "o").agg(
        F.countDistinct("_url").alias("n_pages"),
        F.count("*").alias("n_mentions"),
        F.min("_ts").alias("first_ts"),
        F.max("_ts").alias("last_ts"),
    )
