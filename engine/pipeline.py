"""The extraction pipeline DAG (SURVEY.md §3.1).

build_extracted / build_chunks / build_vectors compose the full
ingest: dedup -> salt/size repartition -> fused route+extract ->
chunk -> embed. All transforms are lazy DataFrame ops; the only
Python crossings are the Arrow-batched UDFs in engine/udfs.py.

Scale notes:
  * per-url latest-capture dedup (A10) uses a window over
    (url) — at 10^12 rows this is the unavoidable shuffle on the
    dedup key; it reuses AQE sizing. The extraction stage itself is
    map-only after its single repartition.
  * content_sha256 / n_chars are computed JVM-side (sha2/length)
    so whole-stage codegen covers them.
  * `html` never survives past the extract projection — downstream
    stages carry only text, keeping shuffle bytes bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from engine.partitioning import partition_key_col
from engine.udfs import (
    CHUNKS_DDL,
    chunk_map_in_pandas,
    embed_udf,
    langid_udf,
    route_extract_udf,
)

EXTRACTED_COLS = [
    "url",
    "warc_ts",
    "lang",
    "path",
    "text",
    "n_chars",
    "n_sents",
    "sent_spans",
    "content_sha256",
    "error",
]


def dedup_latest_per_url(pages: DataFrame) -> DataFrame:
    """A10: one row per url — the latest capture wins (ties broken by
    payload hash so the winner is deterministic even at equal ts)."""
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc(F.xxhash64(F.col("html")))
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def build_extracted(
    pages: DataFrame,
    num_partitions: int | None = None,
    dedup: bool = True,
    with_lang_guess: bool = False,
    canonical_urls: bool = False,
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> extracted table.

    Shuffle plan — html bytes NEVER enter a shuffle:
      1. extraction runs MAP-SIDE directly on the scan splits
         (parquet maxPartitionBytes bounds per-task payload bytes, so
         task balance rides on bytes, not rows — the same property
         A14's size buckets targeted, for free);
      2. per-url latest-capture dedup (A10) is a max_by aggregation
         AFTER extraction: partial (map-side) + final agg, ONE
         exchange carrying extracted text columns only (~half the
         html bytes, no window sort pass). The winner is the max of
         struct(warc_ts, xxhash64(html)) — identical semantics to the
         dedup_latest_per_url window incl. the equal-ts tiebreak.
    Re-crawls cost one wasted extraction per duplicate (~2% in CC),
    which is far cheaper than shuffling every payload byte to
    co-locate urls before extracting.

    canonical_urls=True rewrites url to its canonical form
    (engine/ops/urlnorm.py: defrag, case, default ports, tracking
    params) BEFORE the dedup key is formed, so capture variants of one
    resource collapse to a single output row. Off by default: the
    byte-identity contract is keyed on the raw url.

    num_partitions (both dedup modes): sets the partition count of the
    OUTPUT for downstream balance. With dedup=True it is applied as the
    shuffle-partition count of the dedup exchange itself (repartition on
    url before the agg — the groupBy reuses that partitioning, so there
    is still exactly ONE exchange); with dedup=False it is a plain
    repartition after extraction.
    """
    if canonical_urls:
        from engine.ops.urlnorm import canonical_url_col

        pages = pages.withColumn("url", canonical_url_col("url"))
    df = pages.withColumn("_ex", route_extract_udf(F.col("html")))
    df = df.select(
        "url",
        "warc_ts",
        "lang",
        F.col("_ex.path").alias("path"),
        F.col("_ex.text").alias("text"),
        F.col("_ex.error").alias("error"),
        F.col("_ex.n_sents").alias("n_sents"),
        F.col("_ex.sent_spans").alias("sent_spans"),
        F.xxhash64(F.col("html")).alias("_tb"),
    )
    if dedup:
        payload = F.struct(
            "warc_ts", "lang", "path", "text", "error", "n_sents", "sent_spans"
        )
        if num_partitions:
            # HashPartitioning(url, N) satisfies the agg's required
            # distribution, so this pins the dedup exchange's width
            # without adding a second exchange. Urls are ~unique in CC
            # (re-crawl rate ~2%), so losing map-side partial
            # reduction costs nothing.
            df = df.repartition(num_partitions, "url")
        df = (
            df.groupBy("url")
            .agg(
                # ord is a TOTAL order over possible winners: ts, then
                # payload hash, then lang (the only remaining free
                # field) — max_by ties can never flip between runs
                F.max_by(payload, F.struct("warc_ts", "_tb", "lang")).alias("_p")
            )
            .select("url", "_p.*")
        )
    else:
        df = df.drop("_tb")
        if num_partitions:
            df = df.repartition(num_partitions, "url")
    df = df.withColumn("n_chars", F.length("text").cast("long"))
    df = df.withColumn("content_sha256", F.sha2(F.col("text"), 256))
    if with_lang_guess:
        df = df.withColumn("lang_guess", langid_udf(F.col("text")))
    return df.select(*EXTRACTED_COLS, *(
        ["lang_guess"] if with_lang_guess else []
    ))


def build_chunks(extracted: DataFrame) -> DataFrame:
    """extracted -> chunks via mapInPandas fan-out (A7).

    Error/empty docs are screened by NULLing text inside the
    projection (the chunker yields no rows for null/empty text), NOT
    with a Filter: a filter on UDF-derived columns gets split into its
    own ArrowEvalPython when `extracted` is an unmaterialized
    build_extracted plan (streaming foreachBatch, chained queries),
    re-running the whole extraction UDF once for the predicate and
    once for the output — measured as 2 ArrowEvalPython nodes. The
    projection keeps the plan to exactly one extraction pass."""
    src = extracted.select(
        "url",
        F.when(F.col("error").isNull(), F.col("text")).alias("text"),
        "sent_spans",
    )
    chunks = src.mapInPandas(chunk_map_in_pandas, CHUNKS_DDL)
    return chunks.withColumn("chunk_sha256", F.sha2(F.col("chunk_text"), 256))


def build_vectors(chunks: DataFrame) -> DataFrame:
    """chunks -> vectors mirroring the embeddings table shape (A8)."""
    return chunks.select(
        F.xxhash64("url", "chunk_ix").alias("vec_id"),
        "url",
        "chunk_ix",
        embed_udf(F.col("chunk_text")).alias("embedding"),
        F.pmod(F.xxhash64("chunk_text"), F.lit(10)).cast("int").alias("label"),
    )


def build_docmeta(pages: DataFrame) -> DataFrame:
    """pages -> (url, title, description, canonical, robots, noindex):
    per-document metadata for the vector sink (engine/kernels/docmeta).
    A separate map-only pass over the html column, NOT folded into the
    pinned extraction UDF — extraction goldens never move. Joinable
    onto vectors by url; sink_vectors(meta_cols=[...]) carries the
    fields into every put_vectors entry."""
    from engine.udfs import docmeta_udf

    return pages.select("url", docmeta_udf("html").alias("_m")).select(
        "url",
        "_m.title",
        "_m.description",
        "_m.canonical",
        "_m.robots",
        "_m.noindex",
    )


def screen_noindex(pages: DataFrame) -> DataFrame:
    """Drop pages whose meta-robots directive opts out of indexing
    (noindex / none) — the respectful-corpus screen, applied BEFORE
    extraction so opted-out content never enters any derived table.
    Map-only: the docmeta parse is head-bounded, far cheaper than the
    full extraction it saves. Pages without the directive (or without
    parseable HTML) pass through untouched."""
    from engine.udfs import docmeta_udf

    return (
        pages.withColumn("_noindex", docmeta_udf("html")["noindex"])
        .filter(~F.coalesce("_noindex", F.lit(False)))
        .drop("_noindex")
    )


def merge_latest(
    existing: DataFrame, incoming: DataFrame
) -> DataFrame:
    """Cross-run re-crawl upsert over the EXTRACTED table: union the
    existing rows with a new crawl's extracted rows and keep the
    latest capture per url — the same max_by partial+final agg (and
    the same deterministic (warc_ts, content_sha256) tiebreak) as the
    within-run dedup in build_extracted, so re-ingesting N snapshots
    in any order converges to the same table. (Nuance: build_extracted
    breaks equal-warc_ts ties on xxhash64(html), which is gone by this
    stage; this merge breaks them on content_sha256. Both are
    deterministic, but an equal-ts tie split ACROSS snapshots can pick
    a different winner than a single-shot run would — real crawls
    carry distinct capture times, so this only matters for synthetic
    equal-ts duplicates.)

    Pair with dynamic partition overwrite: write only the (day,
    pbucket) partitions present in the merged output of the AFFECTED
    urls, leaving untouched partitions' files alone (jobs/ingest.py's
    write path / engine.io.tables.overwrite_partitions).
    """
    cols = [c for c in EXTRACTED_COLS if c != "url"]
    both = existing.select(*EXTRACTED_COLS).unionByName(
        incoming.select(*EXTRACTED_COLS)
    )
    payload = F.struct(*cols)
    return (
        both.groupBy("url")
        .agg(
            F.max_by(payload, F.struct("warc_ts", "content_sha256")).alias(
                "_p"
            )
        )
        .select("url", "_p.*")
        .select(*EXTRACTED_COLS)
    )


def upsert_latest(spark, table_path: str, incoming: DataFrame) -> dict:
    """Partition-pruned IN-PLACE re-crawl upsert (merge_latest's scale
    path): fold `incoming` extracted rows (carrying day/pbucket) into
    the existing extracted table at `table_path`, reading and
    rewriting ONLY affected partitions. Untouched partitions' files
    are never opened, let alone rewritten — at 100 TB a 1% re-crawl
    must not cost a full-table read+write (the r2 verdict's top scale
    objection to merge_latest).

    Pruning is two-level and exact:
      * pbucket: a url's host bucket is a pure function of the url, so
        every PRIOR capture of a re-crawled url lives under pbucket ∈
        incoming's buckets — a metadata-only partition-pruned scan;
      * url: within those buckets, a semi-join against incoming's urls
        keeps only rows that can change. ALL days of those buckets are
        scanned (a prior capture may sit under any day), which is why
        the bucket count is the resume/merge granularity knob.

    Affected partitions = partitions holding a prior capture of a
    re-crawled url (they may lose that row) ∪ partitions where a merge
    winner lands. Each is rewritten as (its prior rows with urls NOT in
    incoming) ∪ (merge winners landing there); a partition emptied by
    the merge (its only rows lost to newer captures elsewhere) is
    deleted — dynamic overwrite alone cannot express "this partition
    now has zero rows". Rewrite rows are materialized (localCheckpoint)
    BEFORE the overwrite, since they are computed FROM the files the
    overwrite replaces; Iceberg's overwritePartitions does the same
    read-then-replace under snapshot isolation, no staging copy needed.

    Idempotent (latest-wins is a semilattice): re-running the same
    upsert after a crash converges to the same table.
    """
    # partition-column inference reads day=yyyy-MM-dd dirs back as DATE;
    # the pipeline's day column is a string — normalize so the affected-
    # partition set and the semi-join compare like with like
    prior = spark.read.parquet(table_path).withColumn(
        "day", F.col("day").cast("string")
    )
    in_urls = incoming.select("url").distinct().localCheckpoint(eager=True)
    buckets = [
        r["pbucket"] for r in incoming.select("pbucket").distinct().collect()
    ]
    prior_b = prior.filter(F.col("pbucket").isin(buckets))
    prior_hits = prior_b.join(in_urls, "url", "left_semi").localCheckpoint(
        eager=True
    )
    from engine.partitioning import with_write_partitions

    merged = with_write_partitions(
        merge_latest(
            prior_hits.drop("day", "pbucket"), incoming.drop("day", "pbucket")
        )
    ).localCheckpoint(eager=True)
    aff = {
        (r["day"], r["pbucket"])
        for r in prior_hits.select("day", "pbucket").distinct().collect()
    } | {
        (r["day"], r["pbucket"])
        for r in merged.select("day", "pbucket").distinct().collect()
    }
    if not aff:
        return {"affected_partitions": 0, "emptied_partitions": 0}
    aff_df = F.broadcast(
        spark.createDataFrame(sorted(aff), "day string, pbucket int")
    )
    kept = prior_b.join(aff_df, ["day", "pbucket"], "left_semi").join(
        in_urls, "url", "left_anti"
    )
    out = kept.select(*merged.columns).unionByName(merged)
    # materialize before overwriting the partitions `kept` reads from
    out = out.localCheckpoint(eager=True)
    from engine.io.tables import overwrite_partitions

    overwrite_partitions(out, table_path, ["day", "pbucket"])
    written = {
        (r["day"], r["pbucket"])
        for r in out.select("day", "pbucket").distinct().collect()
    }
    emptied = aff - written
    from engine.io.tables import delete_partition

    for day, pb in emptied:
        # through the table seam: raises on failure / non-local paths
        # (a silently-kept superseded partition violates latest-wins)
        delete_partition(table_path, {"day": day, "pbucket": pb})
    return {"affected_partitions": len(aff), "emptied_partitions": len(emptied)}


def with_partition_key(pages: DataFrame, host_buckets: int = 64) -> DataFrame:
    """Attach the checkpoint work-unit key (A12)."""
    return pages.withColumn("part_key", partition_key_col(host_buckets=host_buckets))


def changed_docs(
    prior_extracted: DataFrame,
    incoming_extracted: DataFrame,
    id_col: str = "url",
    hash_col: str = "content_sha256",
    bucket_col: str = "pbucket",
    buckets: list | None = None,
) -> DataFrame:
    """Re-crawl delta: the incoming extracted rows whose content is NEW
    — a url never seen before, or seen with different content_sha256.
    Unchanged re-crawls are dropped, so downstream chunk/embed/put cost
    scales with the CHANGE RATE, not the crawl size: a 1% -changed
    re-crawl of a 10^12-doc corpus re-embeds ~1% of its documents.

    Scale shape (the upsert_latest pruning discipline):
      * prior is partition-pruned to incoming's host buckets when both
        sides carry bucket_col (a url's bucket is a pure function of
        the url, so every prior capture lives in incoming's buckets);
      * within those buckets a semi-join on url keeps only prior rows
        that CAN match — the resulting key set is incoming-sized, so
        AQE broadcasts it and the anti-join never shuffles incoming.
    Prior hash history is honored per url: a re-crawl matching ANY
    prior capture's hash counts as unchanged (content reverted to an
    older version is not new work for the vector store). NULL hashes
    (extraction-error docs: sha2(NULL) is NULL) compare null-safely —
    a url that errored in both crawls is UNCHANGED, not re-flagged as
    changed on every re-crawl forever.

    `buckets`: pass incoming's bucket values when the caller already
    knows them (the ingest job's batch keys ARE the buckets) to skip
    the distinct().collect() derivation."""
    prior_b = prior_extracted
    if bucket_col in prior_extracted.columns and (
        bucket_col in incoming_extracted.columns
    ):
        if buckets is None:
            buckets = [
                r[bucket_col]
                for r in incoming_extracted.select(bucket_col)
                .distinct()
                .collect()
            ]
        prior_b = prior_extracted.filter(F.col(bucket_col).isin(buckets))
    # null-safe hash key: equi-joins never match NULL = NULL, so error
    # docs (null text -> null sha) would otherwise always look changed
    nullsafe = F.coalesce(F.col(hash_col), F.lit("\x00extraction-error"))
    in_urls = incoming_extracted.select(id_col).distinct()
    prior_keys = (
        prior_b.join(in_urls, id_col, "left_semi")
        .select(id_col, nullsafe.alias("_h"))
        .distinct()
    )
    return (
        incoming_extracted.withColumn("_h", nullsafe)
        .join(prior_keys, [id_col, "_h"], "left_anti")
        .drop("_h")
    )


def upsert_replace_by_key(
    spark,
    table_path: str,
    incoming: DataFrame,
    key_col: str = "url",
    bucket_col: str = "pbucket",
    replace_keys: DataFrame | None = None,
) -> dict:
    """Replace-by-key upsert for the derived chunk/vector tables: every
    prior row whose key is in the replace set is replaced by incoming's
    rows for that key (a re-embedded doc's OLD chunk set must not
    survive — chunk counts can shrink); all other rows keep. The
    partition-pruned companion to upsert_latest for tables where a key
    owns MANY rows: only the replace set's host-bucket partitions are
    read or rewritten, so maintenance cost scales with the delta.

    `replace_keys` (a (key_col, bucket_col) frame — the bucket is a
    pure function of the key, so callers can always attach it, and
    WITHOUT it the keys' prior partitions could not be pruned into the
    rewrite, silently leaving stale rows) defaults to incoming's keys —
    but the DELTA flow must pass the full changed-doc key set
    explicitly: a changed doc that now yields ZERO chunks has no
    incoming rows, and inferring the replace set from incoming would
    leave its stale chunks live. Keys present in incoming but absent
    from replace_keys are still replaced (the union below), keeping
    the upsert idempotent unconditionally. A partition emptied by the
    replace is deleted through the table seam."""
    prior = spark.read.parquet(table_path)
    if replace_keys is None:
        replace_keys = incoming.select(key_col, bucket_col)
    elif bucket_col not in replace_keys.columns:
        raise ValueError(
            f"replace_keys must carry {bucket_col!r} alongside {key_col!r}: "
            "without it the keys' prior partitions cannot be pruned into "
            "the rewrite and stale rows would silently survive"
        )
    rk = replace_keys.localCheckpoint(eager=True)
    in_keys = (
        rk.select(key_col).union(incoming.select(key_col)).distinct()
    )
    buckets = sorted(
        {r[bucket_col] for r in rk.select(bucket_col).distinct().collect()}
        | {r[bucket_col] for r in incoming.select(bucket_col).distinct().collect()}
    )
    if not buckets:
        return {"affected_partitions": 0, "emptied_partitions": 0}
    prior_b = prior.filter(F.col(bucket_col).isin(buckets))
    kept = prior_b.join(in_keys, key_col, "left_anti")
    out = kept.select(*incoming.columns).unionByName(incoming)
    # materialize before overwriting the partitions `kept` reads from
    out = out.localCheckpoint(eager=True)
    from engine.io.tables import delete_partition, overwrite_partitions

    overwrite_partitions(out, table_path, [bucket_col])
    written = {r[bucket_col] for r in out.select(bucket_col).distinct().collect()}
    emptied = set(buckets) - written
    for pb in emptied:
        delete_partition(table_path, {bucket_col: pb})
    return {
        "affected_partitions": len(buckets),
        "emptied_partitions": len(emptied),
    }


def stale_chunk_keys(
    prior_chunks: DataFrame,
    new_chunks: DataFrame,
    changed_keys: DataFrame,
    id_col: str = "url",
    ix_col: str = "chunk_ix",
    bucket_col: str = "pbucket",
    buckets: list | None = None,
) -> DataFrame:
    """Vector-index delete set for a re-crawl delta: the (url, chunk_ix)
    pairs live in the index from a changed doc's PRIOR chunking that
    its NEW chunking no longer produces — put_vectors overwrites the
    surviving ix values, but a doc that shrank (or now errors and
    chunks to nothing) leaves a stale tail unless these keys are
    deleted. Returns one column, `key` = "url#chunk_ix", matching
    sink_vectors' put-key format exactly; feed to sink_vector_deletes.

    Set difference on the ACTUAL ix values (not counts), so non-dense
    ix gaps and zero-chunk rewrites are both handled. Scale shape:
      * prior_chunks is partition-pruned to the changed docs' host
        buckets when bucket_col is present (pass `buckets` if the
        caller already knows them — the ingest job's batch keys);
      * both sides are then semi-joined down to changed urls — the
        delta-sized set, which AQE broadcasts — so the anti-join
        shuffles only the changed docs' (url, ix) ids, never text or
        vectors, and the output is delta-sized by construction.
    Docs absent from the new crawl are NOT deleted: un-re-crawled is
    not gone (deletion of dropped urls is a corpus-policy decision,
    expressed by passing those urls as changed_keys with an empty
    new_chunks side)."""
    keys = changed_keys.select(id_col).distinct()
    prior_b = prior_chunks
    if bucket_col in prior_chunks.columns:
        if buckets is None and bucket_col in changed_keys.columns:
            buckets = [
                r[bucket_col]
                for r in changed_keys.select(bucket_col).distinct().collect()
            ]
        if buckets is not None:
            prior_b = prior_chunks.filter(F.col(bucket_col).isin(list(buckets)))
    old_ix = prior_b.join(keys, id_col, "left_semi").select(id_col, ix_col)
    new_ix = new_chunks.join(keys, id_col, "left_semi").select(id_col, ix_col)
    return old_ix.join(new_ix, [id_col, ix_col], "left_anti").select(
        F.concat_ws("#", F.col(id_col), F.col(ix_col)).alias("key")
    )
