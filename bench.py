#!/usr/bin/env python
"""Headline benchmark — run the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric is end-to-end KG-construction throughput
(triples/sec over the pages->extract->dedup->encode->edges pipeline,
BASELINE.json:2), reported alongside per-query wall seconds.

Set ``SPARK_BENCH_SCALING=1`` to also run the pipeline at local[2] vs
local[8] (same input — see scaling_run's docstring for why not 8 vs 32)
and report throughput at both plus scaling efficiency — the sandbox
proxy for the N vs 4N executor criterion.
That mode re-executes this script in subprocesses (a Spark local master
cannot change core count in-process).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The headline queries bench_queries times, in order.
HEADLINE_QUERIES = [
    "extract_triples",
    "dict_encode_triples",
    "kg_canonical_edges",
    "links_fixpoint",
    "q1_pricing",
    "q3_top_revenue",
    "topk_orders_per_customer",
    "events_sessionize",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_clusters",
    "doc_fingerprint",
    "pii_scrub",
    "repetition",
    "contamination",
    "ann_topk",
    "ann_ivfpq_top1",
    "host_pagerank",
    "csls_top1",
    "hits_metrics",
    "para_dedup",
    "span_dedup",
    "curation_pipeline",
]

#: Queries whose core work is a memoized fixture derivation -> the memo
#: key bench_queries clears before every timed sample. kg_canonical_edges:
#: the canonicalization chain (components -> rewrite -> unified
#: dictionary -> encode) is memoized under 'canonical_kg'; clearing it
#: times the operator chain, not a localCheckpoint read. The upstream
#: triples fixture stays warm — canonicalization starts where
#: extraction ends.
COLD_FIXTURE = {
    "extract_triples": "triples_",
    "kg_canonical_edges": "canonical_kg",
}


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def scaling_job(spark, sf_dir: str, replicate: int = 50) -> tuple[float, int]:
    """Compute-dominated scaling workload: replicate the corpus
    ``replicate``x (deterministic doc_id remap), then run the extraction
    stage end-to-end — html synthesis -> Arrow-UDF text extraction ->
    mention detection -> exact dedup (hash shuffle) -> count.

    This is the stage that dominates at 100 TB (per-page CPU + one
    shuffle); it has no global-window serialization, so throughput should
    track cores. Returns (seconds, distinct_mentions_processed) where the
    numerator for throughput is the *pre-dedup* mention count (work done),
    captured via the same job.
    """
    import time as _t

    from pyspark.sql import functions as F

    from ontoea_spark.pipeline.extract import extract_mentions, extract_pages_text
    from ontoea_spark.pipeline.pages import synthesize_pages

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    reps = spark.range(replicate).select(F.col("id").alias("rep"))
    # repartition the SMALL side first so replication happens inside 128
    # parallel tasks (replicating after a single-file scan would funnel
    # the whole expanded corpus through one shuffle-map task)
    big = docs.repartition(128).crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("rep") * n_docs).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    t0 = _t.perf_counter()
    pages = synthesize_pages(big)
    mentions = extract_mentions(
        extract_pages_text(pages).select("url", "lang", "text")
    )
    n = mentions.count()
    # exact-dedup shuffle included in the measured span
    mentions.select("s", "p", "o").dropDuplicates().count()
    return _t.perf_counter() - t0, n


def run_pipeline_once(spark, sf_dir: str) -> tuple[float, int]:
    """Full KG-construction DAG; returns (seconds, n_edges)."""
    from ontoea_spark.pipeline.kg_build import build_kg
    from ontoea_spark.pipeline.pages import synthesize_pages

    t0 = time.perf_counter()
    pages = synthesize_pages(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    result = build_kg(pages)
    n_edges = result.edges.count()
    return time.perf_counter() - t0, n_edges


def bench_queries(spark, sf_dir: str, runs: int = 3) -> tuple[dict[str, float], dict[str, dict]]:
    """Per-query wall seconds for a representative headline subset.

    Each query runs ``runs`` times in the same session; we report the
    MEDIAN (this box's turbo/thermal variance is 2-3x run-to-run, so a
    single sample routinely reads as a fake regression) plus the
    {min, max} spread. The first run pays plan compilation and fixture
    materialization; the median reflects warmed execution, which is the
    number that projects to a long-running cluster job.

    Exception: queries whose core work IS a memoized fixture derivation
    (extract_triples) get the fixture memo cleared before EVERY timed
    sample — otherwise runs 2-3 time a localCheckpoint read, not the
    operator. The downstream queries intentionally keep the fixture
    warm: their operator starts where the fixture ends.
    """
    import __spark_entry__ as entrymod

    from ontoea_spark import driver_queries as DQ

    qs = entrymod.queries()
    out: dict[str, float] = {}
    spread: dict[str, dict] = {}
    for name in HEADLINE_QUERIES:
        fn = qs.get(name)
        if fn is None:
            continue
        samples: list[float] = []
        for _ in range(runs):
            if name in COLD_FIXTURE:
                DQ.reset_memo(COLD_FIXTURE[name])
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        out[name] = round(samples[len(samples) // 2], 3)
        spread[name] = {
            "min": round(samples[0], 3),
            "max": round(samples[-1], 3),
            "runs": runs,
        }
    return out, spread


def single_run() -> dict:
    import __spark_entry__ as entrymod

    from ontoea_spark.session import get_spark

    spark = get_spark("bench")
    # ship the package zip so executor Python workers can unpickle
    # pandas-UDF closures even when bench.py is launched from another cwd
    entrymod._ensure_shipped(spark)
    pipe_s, n_edges = run_pipeline_once(spark, SF_DIR)
    queries, spread = bench_queries(spark, SF_DIR)
    # scale-meaningful throughput: the corpus at this sf is tiny (fixed
    # job overhead dominates the end-to-end pipeline wall), so also
    # measure the extraction stage on a replicated corpus — the number
    # that projects to 100 TB (see BASELINE.md scaling section)
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    # replicate=80 so >=10^6 triples flow through the measured span
    # (throughput over a corpus big enough that fixed overhead is noise)
    rep = 80
    scale_s, n_mentions = scaling_job(spark, SF_DIR, replicate=rep)
    total = round(pipe_s + sum(queries.values()), 3)
    result = {
        "metric": "kg_pipeline_plus_headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": {"kg_pipeline": round(pipe_s, 3), **queries},
        # per-query {min, max, runs} around the median reported above
        "queries_spread": spread,
        "sf": _sf_from_dir(SF_DIR),
        "kg_edges": n_edges,
        # Headline throughput: (s,p,o) triples EMITTED (pre-dedup) through
        # the replicated-corpus extract->dedup stage. One mention = one
        # emitted triple, so this is a single metric with one name.
        # (r1/r2 reported the same value under both "triples_per_sec" and
        # "extraction_mentions_per_sec" — collapsed here; compare
        # emitted_triples_per_sec against either historical key.)
        "emitted_triples_per_sec": round(n_mentions / scale_s, 1),
        "triples_emitted": n_mentions,
        # distinct edges materialized by the sf-scale pipeline per second
        # of end-to-end pipeline wall (small corpus: overhead-dominated)
        "pipeline_distinct_edges_per_sec": round(n_edges / pipe_s, 1),
        "extraction_pages_per_sec": round(n_docs * rep / scale_s, 1),
        "cores": os.environ.get("SPARK_GRAFT_CPUS", "*"),
    }
    spark.stop()
    return result


def scaling_run() -> dict:
    """Extraction-stage throughput at local[2] vs local[8] on the same
    replicated input — the sandbox proxy for N vs 4N executors.

    Why 2 vs 8 and not 8 vs 32: this box's CPU raises clocks when few
    cores are active (turbo), so 8->32 measures clock scaling as much as
    software scaling (a pure-JVM md5 map-agg with zero shuffle tops out
    at ~2.9x for 4x cores here). 2->8 keeps both points in the same
    clock regime — the honest software-scaling measurement; a real
    multi-executor cluster adds nodes, not SMT/turbo contention.
    """
    import subprocess

    out: dict[str, dict] = {}
    for cores in ("2", "8"):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = cores
        env["SPARK_BENCH_PIPELINE_ONLY"] = "1"
        env.pop("SPARK_BENCH_SCALING", None)
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            capture_output=True,
            text=True,
            check=True,
        )
        out[cores] = json.loads(proc.stdout.strip().splitlines()[-1])
    tput_n = out["2"]["mentions_per_sec"]
    tput_4n = out["8"]["mentions_per_sec"]
    # efficiency of scaling cores N -> 4N: speedup / 4
    eff = (tput_4n / tput_n) / 4.0
    return {
        "cores_n": 2,
        "cores_4n": 8,
        "throughput_n": tput_n,
        "throughput_4n": tput_4n,
        "speedup_n_to_4n": round(tput_4n / tput_n, 3),
        "scaling_efficiency": round(eff, 3),
    }


def skew_job(spark) -> dict:
    """Skew proof: hub-heavy fixtures through the salted operators vs
    their unsalted plans (north rule: "salted repartitioning for skewed
    hub entities"). Two cases:

    * cap_*: one domain holds 75% of the rows. MEASURED FINDING (r4):
      on Spark 4 the naive rank-limit window is ALREADY skew-immune —
      Catalyst's InferWindowGroupLimit plants a Partial WindowGroupLimit
      before the exchange, so each map task forwards at most ``cap``
      rows per source and the hot partition never materializes (2.06M of
      32M rows crossed the shuffle in the audit; reduce max task 0.3s).
      The naive plan therefore WINS here by ~1.3x (stratified_cap pays a
      second window pass); the salted operator is kept as the portable /
      rule-independent form and the ``cap_catalyst_partial_limit`` flag
      records whether the engine's rewrite fired.
    * join_*: one entity heads 30% of the triples, fact⨝degree join.
      Reported with the session's AQE skew-join ON (the honest
      deployment config) — explicit salting still beats it on max-task
      time because the salt spreads the hot key BEFORE the shuffle
      rather than splitting oversized reduce blocks after the fact.

    Each variant runs twice (JVM/codegen warm-up) and reports the
    second run; outputs are verified row-identical before timing.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ontoea_spark.functions.hashing import portable_hash64
    from ontoea_spark.operators.salting import salted_join
    from ontoea_spark.pipeline.curation import stratified_cap

    # big enough that the hot partition is a genuine straggler: at 4M
    # rows the 2M-row hot window sorts in under a second and salting
    # overhead (an extra shuffle + window) dominates — measured 0.6-0.9x.
    # The skew penalty the salted plans exist for appears when one
    # task's share is tens of millions of rows.
    n = int(os.environ.get("SPARK_BENCH_SKEW_ROWS", "32000000"))
    docs = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 4 != 3, F.lit("hub.example.com"))
            .otherwise(
                F.concat(F.lit("s"), F.pmod(F.col("id"), 512).cast("string"))
            )
            .alias("source"),
        )
        .localCheckpoint(eager=True)
    )

    def naive_cap(d, per_source):
        h = portable_hash64(F.col("doc_id").cast("string"))
        w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
        return (
            d.withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") <= per_source)
            .select("doc_id", "source", "rn")
        )

    import urllib.request

    base_url = None
    if spark.sparkContext.uiWebUrl:
        app_id = spark.sparkContext.applicationId
        base_url = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{app_id}"

    def _stage_rows():
        if base_url is None:
            return []
        with urllib.request.urlopen(f"{base_url}/stages?status=complete") as r:
            return json.load(r)

    def _max_task_s(before_ids) -> float | None:
        """Max single-task duration over the stages a run added — the
        straggler metric wall-clock hides (while one task sorts the hot
        partition, the other cores chew the rest; wall only shows skew
        once the hot task exceeds the whole remainder)."""
        if base_url is None:
            return None
        mx = 0.0
        for st in _stage_rows():
            key = (st["stageId"], st["attemptId"])
            if key in before_ids:
                continue
            url = (
                f"{base_url}/stages/{st['stageId']}/{st['attemptId']}"
                f"/taskSummary?quantiles=1.0"
            )
            try:
                with urllib.request.urlopen(url) as r:
                    mx = max(mx, json.load(r)["duration"][-1] / 1000.0)
            except Exception:
                pass
        return round(mx, 3)

    def timed(build):
        wall = mx = None
        for _ in range(2):
            before = {(s["stageId"], s["attemptId"]) for s in _stage_rows()}
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            mx = _max_task_s(before)
        return round(wall, 3), mx

    cap = 1000
    # row-identical both ways: naive ⊆ stratified AND stratified ⊆ naive
    # (one-directional exceptAll would pass if stratified emitted extras)
    assert (
        naive_cap(docs, cap).exceptAll(stratified_cap(docs, cap)).count() == 0
    )
    assert (
        stratified_cap(docs, cap).exceptAll(naive_cap(docs, cap)).count() == 0
    )
    naive_plan = (
        naive_cap(docs, cap)._jdf.queryExecution().executedPlan().toString()
    )
    group_limit = "WindowGroupLimit" in naive_plan
    cap_naive, cap_naive_mx = timed(lambda: naive_cap(docs, cap))
    cap_salted, cap_salted_mx = timed(lambda: stratified_cap(docs, cap))

    triples = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 10 < 3, F.lit("hub"))
            .otherwise(
                F.concat(F.lit("e"), F.pmod(F.col("id"), 100000).cast("string"))
            )
            .alias("s"),
            F.concat(F.lit("p"), F.pmod(F.col("id"), 50).cast("string")).alias("p"),
            F.concat(
                F.lit("o"), F.pmod(F.col("id"), 1000000).cast("string")
            ).alias("o"),
        )
        .localCheckpoint(eager=True)
    )
    deg = triples.groupBy("s").agg(F.count("*").alias("out_deg"))
    plain = lambda: triples.join(deg, "s")  # noqa: E731
    salted = lambda: salted_join(  # noqa: E731
        triples, deg, key="s", n_salts=16, salt_src="o"
    )
    # equal counts + one empty multiset difference => row-identical
    # (|A| == |B| and A∖B == ∅ implies A == B as multisets)
    assert plain().count() == salted().count() == n
    assert plain().exceptAll(salted()).count() == 0
    join_plain, join_plain_mx = timed(plain)
    join_salted, join_salted_mx = timed(salted)
    # the engine-can't-help case: AQE's skew-join split OFF — the regime
    # of non-sort-merge strategies / engines without adaptive replan,
    # which is what the explicit deterministic salt is FOR
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try:
        join_noaqe, join_noaqe_mx = timed(plain)
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    return {
        "rows": n,
        "cap_hot_share": 0.75,
        "cap_catalyst_partial_limit": group_limit,
        "cap_naive_s": cap_naive,
        "cap_salted_s": cap_salted,
        "cap_naive_max_task_s": cap_naive_mx,
        "cap_salted_max_task_s": cap_salted_mx,
        "cap_max_task_ratio": (
            round(cap_naive_mx / cap_salted_mx, 2) if cap_salted_mx else None
        ),
        "join_hot_share": 0.3,
        "join_plain_aqe_s": join_plain,
        "join_salted_s": join_salted,
        "join_plain_aqe_max_task_s": join_plain_mx,
        "join_plain_noaqe_s": join_noaqe,
        "join_plain_noaqe_max_task_s": join_noaqe_mx,
        "join_salted_max_task_s": join_salted_mx,
        "join_max_task_ratio": (
            round(join_plain_mx / join_salted_mx, 2) if join_salted_mx else None
        ),
    }


def main() -> None:
    if os.environ.get("SPARK_BENCH_SKEW"):
        from ontoea_spark.session import get_spark

        # UI on: the straggler evidence is per-task max duration, read
        # back through the UI REST API (wall-clock hides a hot task
        # while other cores drain the remaining partitions). 16g heap:
        # the checkpointed fixture + the hot partition's sort both live
        # in the one local-mode JVM.
        os.environ.setdefault("SPARK_DRIVER_MEM", "16g")
        spark = get_spark("bench-skew", extra_conf={"spark.ui.enabled": "true"})
        print(json.dumps({"metric": "skew_proof", **skew_job(spark)}))
        spark.stop()
        return
    if os.environ.get("SPARK_BENCH_PIPELINE_ONLY"):
        import __spark_entry__ as entrymod

        from ontoea_spark.session import get_spark

        spark = get_spark("bench-scaling")
        entrymod._ensure_shipped(spark)
        scaling_job(spark, SF_DIR, replicate=20)  # warm JVM + python workers
        secs, n_mentions = scaling_job(spark, SF_DIR)
        print(
            json.dumps(
                {
                    "metric": "extraction_scaling_wall",
                    "value": round(secs, 3),
                    "unit": "sec",
                    "queries": {"extraction_replicated": round(secs, 3)},
                    "sf": _sf_from_dir(SF_DIR),
                    "mentions_per_sec": round(n_mentions / secs, 1),
                }
            )
        )
        spark.stop()
        return

    result = single_run()
    if os.environ.get("SPARK_BENCH_SCALING"):
        result["scaling"] = scaling_run()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
