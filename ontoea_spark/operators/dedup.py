"""Deduplication suite for large-scale training-data pipelines.

Five strategies over a documents table (id, text):

* :func:`exact_duplicates` — content-hash groupBy (one shuffle on a 60-bit
  hash; canonical = min id).
* :func:`ngram_jaccard_pairs` — exact word-n-gram Jaccard via an inverted
  shingle index self-join (shuffle on shingle; hub shingles are the skew
  risk — bound by ``max_shingle_df``, the standard posting-list cap).
* :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + LSH
  banding: signatures via one groupBy-min over (doc, hash-fn), candidate
  pairs via a band-bucket self-join. This is the 100 TB path: cost is
  ~|docs|·k rows, never |docs|² — only colliding bands join.
* :func:`simhash_signatures` — 16-bit SimHash over token hashes (bitwise
  majority vote), all in JVM expressions.
* :func:`embedding_neardup_pairs` — cosine near-duplicates over an
  embedding column (delegates to the blocked similarity join for scale).

All hashes are the portable md5-based family (functions/hashing.py) so
DuckDB oracles replicate results exactly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoea_spark.functions.hashing import (
    MINHASH_PARAMS,
    minhash_expr,
    portable_hash64,
)
from ontoea_spark.functions.text import shingles_of, tokens


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content hash; canonical id = min id per group.

    Returns DataFrame[content_hash, canonical_id, n_dups] for groups with
    n_dups >= 1 (i.e. every distinct content), so callers can either keep
    canonicals or inspect duplicate clusters.
    """
    h = portable_hash64(F.col(text_col)).alias("content_hash")
    return (
        docs.select(h, F.col(id_col).cast("long").alias("id"))
        .groupBy("content_hash")
        .agg(
            F.min("id").alias("canonical_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def incremental_exact_dedup(
    existing: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingest-time dedup for a growing corpus: new (delta) documents are
    deduped within the delta (min-id canonical per content hash), then
    checked against the EXISTING corpus's content-hash index — cost is
    O(delta) plus one pass to build/read the index, never a rescan of
    the existing corpus per delta row (the incremental.py contract; in
    production the index is a persisted table appended per batch). For
    near-dup incrementality the same shape composes with the MinHash
    band tables: persist ``minhash_lsh_pairs``' band-bucket frame and
    anti-join delta bands against it.

    The index check never shuffles the index while the deduped delta
    fits the dictionary joins' broadcast gate: a naive ``delta LEFT
    ANTI index`` puts the big index on the build side (unbroadcastable),
    so it runs as index LEFT SEMI broadcast(delta) — one index scan
    emitting at most |delta| matched hashes — then delta LEFT ANTI
    broadcast(matched), both broadcast-hash joins. Past the gate it
    degrades to the shuffled anti-join.

    Returns DataFrame[doc_id, content_hash] — the surviving (novel)
    delta documents.
    """
    from ontoea_spark.operators.dictionary import anti_join_keep_small

    ex_hashes = (
        existing.select(portable_hash64(F.col(text_col)).alias("content_hash"))
        .distinct()
    )
    canon = (
        delta.select(
            portable_hash64(F.col(text_col)).alias("content_hash"),
            F.col(id_col).cast("long").alias("doc_id"),
        )
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return anti_join_keep_small(canon, ex_hashes, ["content_hash"]).select(
        "doc_id", "content_hash"
    )


def chunk_dup_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Sub-document (paragraph-level) duplication signals: split each
    document into consecutive ``chunk_tokens``-token chunks (the
    pseudo-paragraph unit when the corpus has no layout breaks), hash
    each chunk, and per document report how many of its chunks also
    appear in OTHER documents — the RefinedWeb-style signal for dropping
    boilerplate-heavy pages that document-level dedup can't see.

    Returns DataFrame[doc_id, n_chunks, n_dup_chunks, dup_ratio].

    Scale shape: one groupBy on the 60-bit chunk hash (map-side partial
    count-distinct via the (hash, doc) pre-distinct), then one hash-hash
    equi-join back — ~|tokens| / chunk_tokens rows total, never |docs|².
    A viral boilerplate chunk is a hot hash key, but its group reduces
    to one count and the join fans it back out row-per-occurrence — no
    collect_list of doc ids anywhere.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    idxs = F.sequence(
        F.lit(0), F.floor((n - F.lit(1)) / F.lit(chunk_tokens)).cast("int")
    )
    chunks = F.transform(
        idxs,
        lambda i: F.array_join(
            F.slice(toks, (i * chunk_tokens + 1).cast("int"), chunk_tokens),
            " ",
        ),
    )
    ch = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(chunks).alias("chunk"),
    ).withColumn("hh", portable_hash64(F.col("chunk")))
    cross = (
        ch.select("hh", "doc_id")
        .distinct()
        .groupBy("hh")
        .agg(F.count("*").cast("long").alias("docs"))
    )
    return (
        ch.join(cross, "hh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum((F.col("docs") >= 2).cast("long")).alias("n_dup_chunks"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6),
        )
    )


def span_dedup_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Exact substring-SPAN duplication signals: overlapping word
    ``k``-grams (every start position, unlike :func:`chunk_dup_signals`'s
    disjoint chunks), a gram is *duplicated* when it occurs >= 2 times
    anywhere in the corpus (other docs OR a repeat within the same doc),
    and per document the duplicated gram intervals ``[pos, pos+k)`` are
    merged (touching intervals coalesce) into maximal duplicated spans —
    the "dedup repeated substrings at any offset" signal of Lee et al.,
    *Deduplicating Training Data Makes Language Models Better* (the
    suffix-array ExactSubstr semantics at word granularity), which
    document- and chunk-level dedup both miss.

    Returns DataFrame[doc_id, n_tokens, n_grams, n_dup_grams,
    dup_tokens, dup_ppm, n_dup_spans] — one row per input document
    (docs shorter than ``k`` tokens report zeros). ``dup_tokens`` is the
    merged-interval cover (tokens inside >=1 duplicated gram), and
    ``dup_ppm = dup_tokens * 1e6 DIV n_tokens`` is kept in exact integer
    arithmetic so oracles match bit-for-bit with no float rounding.

    Scale shape (the 100 TB path): the gram table is ~|corpus tokens|
    rows; occurrence counting is one groupBy on the 60-bit gram hash
    with map-side partial aggregation (a viral boilerplate gram is a hot
    key that REDUCES — no posting list is ever materialized, unlike
    :func:`ngram_jaccard_pairs` which needs the pairs); the dup flag
    joins back on the same hash key; interval merging is a window
    bounded by single-document length (running ``max(pos+k)`` over the
    doc's duplicated grams — no per-doc array collection). Nothing is
    O(|docs|^2) and nothing leaves the executors.
    """
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        tokens(F.col(text_col)).alias("toks"),
    )
    base = toks.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.greatest(F.lit(0), F.size("toks") - F.lit(k - 1))
        .cast("long")
        .alias("n_grams"),
        "toks",
    )
    # shingles_of drops only the trailing i > n-k positions, so the
    # filtered list index == the gram's start position in the document
    grams = base.select(
        "doc_id",
        F.posexplode(shingles_of("toks", k)).alias("pos", "gram"),
    ).select("doc_id", "pos", portable_hash64(F.col("gram")).alias("gh"))
    dup_counts = (
        grams.groupBy("gh")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("gh")
    )
    # inner join keeps only duplicated gram occurrences; both sides are
    # already hash-partitioned on gh by the aggregate above
    dup = grams.join(dup_counts, "gh")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + F.lit(k)).over(w_prev)
    cov = dup.select(
        "doc_id",
        "pos",
        # positions are distinct and ascending, so each gram extends the
        # running cover by (pos+k) - max(pos, furthest end so far) > 0
        (
            F.col("pos")
            + F.lit(k)
            - F.greatest(F.col("pos"), F.coalesce(prev_end, F.lit(0)))
        ).alias("contrib"),
        (prev_end.isNull() | (prev_end < F.col("pos")))
        .cast("long")
        .alias("new_span"),
    )
    per_doc = cov.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_grams"),
        F.sum("contrib").cast("long").alias("dup_tokens"),
        F.sum("new_span").cast("long").alias("n_dup_spans"),
    )
    return (
        base.drop("toks")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.when(F.col("n_tokens") > 0,
                   F.expr("CAST(coalesce(dup_tokens, 0) * 1000000 DIV n_tokens AS BIGINT)"))
            .otherwise(F.lit(0).cast("long"))
            .alias("dup_ppm"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        )
    )


def doc_shingles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc: DataFrame[id, shingle]."""
    return (
        docs.select(
            F.col(id_col).cast("long").alias("id"),
            tokens(F.col(text_col)).alias("toks"),
        )
        .select("id", F.explode(shingles_of("toks", n)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id1 < id2, jaccard >= threshold).

    Inverted-index self-join: pairs sharing >=1 shingle, intersection
    counted by the join, union by |A|+|B|-∩. ``max_shingle_df`` drops
    shingles whose document frequency exceeds the cap (hub-shingle skew
    control; identical filter must be applied in any oracle).
    """
    sh = doc_shingles(docs, id_col, text_col, n)
    if max_shingle_df is not None:
        # anti-join against the SMALL side: shingles OVER the cap are
        # the hub shingles (bounded — boilerplate/stopword grams), while
        # the keep-set is nearly every distinct shingle in the corpus
        # (billions at crawl scale). r5 broadcast the corpus-sized
        # keep-set into a left_semi — an OOM at scale; the inverted
        # anti-join produces identical rows with the bounded build side,
        # and the hint stays row-count-gated for pathological caps.
        from ontoea_spark.operators.dictionary import _gated_broadcast

        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("shingle")
            .localCheckpoint(eager=False)
        )
        sh = sh.join(_gated_broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("id1"), "shingle")
    b = sh.select(F.col("id").alias("id2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1")), "id1")
        .join(sizes.select(F.col("id").alias("id2"), F.col("sz").alias("sz2")), "id2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("sz1") + F.col("sz2") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "n_inter", "jaccard")
    )
    return out


def _minhash_wide(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Wide MinHash frame DataFrame[id, m0..m{k-1}]: all k minima as
    aggregate columns in ONE groupBy(id) pass over the shingle stream
    (no pre-aggregation explode: exploding x k before the shuffle
    materializes k·|shingles| struct rows for the hash aggregate to
    chew through)."""
    sh = doc_shingles(docs, id_col, text_col, n).withColumn(
        "h", portable_hash64(F.col("shingle"))
    )
    aggs = [
        F.min(minhash_expr(F.col("h"), a, b)).alias(f"m{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """MinHash signatures: DataFrame[id, hf (0..k-1), minhash].

    shingle -> portable 60-bit hash -> k universal-hash values -> min per
    (doc, hash-fn), computed via :func:`_minhash_wide`; the (id, hf,
    minhash) long shape is restored by exploding the k aggregated
    columns AFTER — k·|docs| rows, not k·|shingles|.
    """
    per_doc = _minhash_wide(docs, id_col, text_col, n)
    per_fn = [
        F.struct(
            F.lit(i).cast("long").alias("hf"),
            F.col(f"m{i}").alias("minhash"),
        )
        for i in range(len(MINHASH_PARAMS))
    ]
    return per_doc.select(
        "id", F.explode(F.array(*per_fn)).alias("x")
    ).select("id", "x.hf", "x.minhash")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    bands: int = 4,
) -> DataFrame:
    """LSH banding over MinHash signatures -> candidate pairs (id1 < id2,
    n_bands = number of agreeing bands >= 1).

    Band key = ordered concat of the band's minhash values; docs joining
    only within identical (band, key) buckets — the |docs|²-free path.
    Band keys are built straight from the wide per-doc minima columns
    (concat in hf order — identical strings to the old explode +
    groupBy(id, band) collect_list re-aggregation, minus that second
    shuffle of the signature stream).
    """
    per_doc = _minhash_wide(docs, id_col, text_col, n)
    k = len(MINHASH_PARAMS)
    rows_per_band = k // bands
    # band membership is hf DIV rows_per_band — when bands does not
    # divide k this yields ceil(k / rows_per_band) groups (the trailing
    # hashes form a short extra band), exactly like the pre-r6
    # explode+groupBy construction; a plain range(bands) would silently
    # drop the trailing k % bands hash functions
    n_groups = -(-k // rows_per_band)
    banded = per_doc.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).cast("long").alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"m{i}").cast("string")
                                for i in range(
                                    band * rows_per_band,
                                    min((band + 1) * rows_per_band, k),
                                )
                            ],
                        ).alias("band_key"),
                    )
                    for band in range(n_groups)
                ]
            )
        ).alias("x"),
    ).select("id", "x.band", "x.band_key")
    a = banded.select(F.col("id").alias("id1"), "band", "band_key")
    b = banded.select(F.col("id").alias("id2"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").cast("long").alias("n_bands"))
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "id",
    vec_col: str = "vec",
    threshold: float = 0.9,
    n_planes: int = 4,
    bands: int = 4,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id1 < id2, sim >= threshold)
    via banded random-hyperplane LSH — the subquadratic scale path
    (reference analogue: the J8/J9 candidate machinery, batch.py:268-299,
    which materializes the dense matrix; here candidates come from bucket
    equi-joins, never |docs|² rows).

    Each of ``bands`` independent signatures hashes the vector with
    ``n_planes`` deterministic salted hyperplanes (simjoin.lsh_bucket);
    two vectors are candidates iff they share *any* band's bucket (OR of
    bands — the MinHash-banding recall trick), then exact cosine re-ranks
    and the threshold filters. Recall < 1 by construction; raise
    ``bands`` for recall, ``n_planes`` for precision.

    Cost: |emb|·bands signature rows, bucket-equi-join candidates only.
    Returns DataFrame[lid, rid, sim].
    """
    from ontoea_spark.functions.vectors import cosine
    from ontoea_spark.operators.simjoin import lsh_bucket

    base = emb.select(
        F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("v")
    )
    sig = reduce(
        DataFrame.unionByName,
        [
            base.select(
                "id",
                "v",
                F.lit(b).alias("band"),
                lsh_bucket("v", n_planes, salt=f"ndp{b}x").alias("bucket"),
            )
            for b in range(bands)
        ],
    )
    a = sig.select(
        F.col("id").alias("lid"), F.col("v").alias("v1"), "band", "bucket"
    )
    b = sig.select(
        F.col("id").alias("rid"), F.col("v").alias("v2"), "band", "bucket"
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("lid") < F.col("rid"))
        .select("lid", "rid", "v1", "v2")
        .dropDuplicates(["lid", "rid"])  # a pair may collide in >1 band
    )
    return (
        cand.select(
            "lid", "rid", F.round(cosine(F.col("v1"), F.col("v2")), round_to).alias("sim")
        )
        .filter(F.col("sim") >= threshold)
    )


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """SimHash over token hashes (with multiplicity): DataFrame[id, simhash].

    bit_j(doc) = 1 iff sum over tokens of (2*bit_j(h(tok)) - 1) > 0.
    Expressed as explode(tokens) x explode(bit index) + groupBy sum —
    shuffle rows = |tokens| * bits, fully JVM-side.
    """
    tok = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    ).withColumn("h", portable_hash64(F.col("tok")))
    bit_idx = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("j")
    votes = (
        tok.select("id", "h", bit_idx)
        .withColumn(
            "vote",
            F.expr("CAST(shiftright(h, CAST(j AS INT)) & 1 AS BIGINT) * 2 - 1"),
        )
        .groupBy("id", "j")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy("id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("CAST(shiftleft(1, CAST(j AS INT)) AS BIGINT)")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("simhash")
    )
