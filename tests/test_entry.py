"""Smoke tests for the driver contract: entry() + pipeline invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_entry_returns_edges(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.count()
    assert rows > 0
    assert [f.name for f in df.schema.fields] == ["s_id", "p_id", "o_id", "kg"]


def test_build_kg_computes_triples_in_one_task(spark):
    """The stage that first computes the triples stage runs one task per
    partition. Checkpointed lazily, the triples were first computed by
    the dictionary job, whose union branches each asked for the same
    partition: one task computed it while the others held a core waiting
    for its block (and at times logged ``Block rdd_N_0 already exists on
    this machine; not re-adding it``)."""
    from py4j.protocol import Py4JJavaError

    from ontoea_spark.pipeline.kg_build import build_kg
    from ontoea_spark.pipeline.pages import synthesize_pages

    sc = spark.sparkContext
    sc.setJobGroup("build_kg_triples", "build_kg")
    try:
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        result = build_kg(synthesize_pages(docs))
        for df in (result.edges, result.vertices, result.links):
            df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    rdd = result.triples._jdf.queryExecution().logical().rdd()
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()
    stages = {
        s for j in tracker.getJobIdsForGroup("build_kg_triples")
        for s in tracker.getJobInfo(j).stageIds
    }
    def attempt(sid):
        try:
            return store.lastStageAttempt(sid)
        except Py4JJavaError:  # a long session's store drops skipped stages first
            return None

    first = min(
        (st.submissionTime().get().getTime(), st.stageId(), st.numTasks())
        for st in map(attempt, stages)
        if st is not None and st.submissionTime().isDefined()
        and st.rddIds().contains(rdd.id())
    )
    assert first[2] == rdd.getNumPartitions(), first


def test_extraction_byte_identical(spark):
    """BASELINE.json:15 invariant: extracted text == gold text per url."""
    from ontoea_spark.pipeline.extract import extract_pages_text
    from ontoea_spark.pipeline.pages import synthesize_pages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = synthesize_pages(docs).cache()
    extracted = extract_pages_text(pages).select("url", "text")
    gold = pages.select("url", F.col("text").alias("gold_text"))
    j = extracted.join(gold, "url")
    n_total = j.count()
    n_match = j.filter(F.col("text") == F.col("gold_text")).count()
    assert n_total == docs.count()
    assert n_match == n_total, f"{n_total - n_match} urls differ"
    pages.unpersist()


def test_extraction_jvm_udf_parity(spark):
    """The default JVM-expression extractor and the Arrow-UDF seam
    (``use_udf=True``) are byte-identical per url — the invariant that
    lets the pipeline run the built-in path (guide §4.1) while keeping
    the UDF signature for real-crawl extractors; also covers link-laden
    pages (with_links=True), where the non-greedy match must stop at
    the FIRST </p>, and a hand-made malformed-bytes page set: invalid
    UTF-8 outside the <p> body extracts identically on both paths,
    invalid UTF-8 inside it fails both."""
    import datetime

    from ontoea_spark.pipeline.extract import extract_pages_text
    from ontoea_spark.pipeline.pages import synthesize_pages

    ts = datetime.datetime(2024, 1, 1)
    schema = "url string, warc_ts timestamp, lang string, html binary"
    bad_outside = spark.createDataFrame(
        [
            (f"u{i}", ts, "en", bytearray(h))
            for i, h in enumerate(
                [
                    b"<title>\xff\xfe</title><p>caf\xc3\xa9 ok</p>",
                    b"<p>plain</p>\xc3(\x80 tail",
                    "<p>na\u00efve \u2014 \u65e5\u672c</p>".encode(),
                    b"\xff no body \xfe",
                    b"<p></p><p>second</p>",
                ]
            )
        ],
        schema,
    )
    jvm = {r.url: r.text for r in extract_pages_text(bad_outside).collect()}
    udf = {
        r.url: r.text
        for r in extract_pages_text(bad_outside, use_udf=True).collect()
    }
    assert jvm == udf == {
        "u0": "caf\u00e9 ok",
        "u1": "plain",
        "u2": "na\u00efve \u2014 \u65e5\u672c",
        "u3": "",
        "u4": "",
    }
    bad_inside = spark.createDataFrame(
        [("u", ts, "en", bytearray(b"<p>bad \xff\xfe body</p>"))], schema
    )
    for use_udf in (False, True):
        with pytest.raises(Exception):
            extract_pages_text(bad_inside, use_udf=use_udf).collect()

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for with_links in (False, True):
        pages = synthesize_pages(docs, with_links=with_links).cache()
        jvm = extract_pages_text(pages).select("url", "text")
        udf = extract_pages_text(pages, use_udf=True).select(
            "url", F.col("text").alias("udf_text")
        )
        j = jvm.join(udf, "url")
        n_total = j.count()
        n_match = j.filter(F.col("text") == F.col("udf_text")).count()
        assert n_match == n_total == docs.count(), (
            f"with_links={with_links}: {n_total - n_match} urls differ"
        )
        pages.unpersist()


def test_queries_have_oracles_or_docstring(spark):
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 25


def test_driver_window_contract(spark):
    """Rotation guard: the driver checks exactly the first 50 queries()
    entries against oracles — every one of them must HAVE an oracle
    (a no-oracle query inside the window burns a checked slot), and the
    no-oracle queries must sit at the very end."""
    import __spark_entry__ as entrymod

    q = list(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert len(q) >= 50
    missing = [n for n in q[:50] if n not in o]
    assert missing == [], f"no-oracle queries inside the window: {missing}"
    no_oracle = [n for n in q if n not in o]
    assert q[-len(no_oracle):] == no_oracle, (
        "no-oracle queries must be last", no_oracle)


def test_shipped_package_is_one_file_per_version(tmp_path, monkeypatch):
    """Sessions of different processes ship one zip, named by the package
    sources, not one zip per process id."""
    import os
    import tempfile
    import zipfile
    from types import SimpleNamespace

    import __spark_entry__ as entrymod

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    shipped = []
    for pid in (101, 102):
        monkeypatch.setattr(os, "getpid", lambda pid=pid: pid)
        entrymod._ensure_shipped(SimpleNamespace(
            sparkContext=SimpleNamespace(addPyFile=shipped.append)
        ))
    assert len(shipped) == 2 and shipped[0] == shipped[1]
    assert os.listdir(tmp_path) == [os.path.basename(shipped[0])]
    with zipfile.ZipFile(shipped[0]) as z:
        assert "ontoea_spark/session.py" in z.namelist()
