"""Near-dup dedup job — spark-submit entry for the clustering pipeline.

    spark-submit --py-files engine.zip jobs/dedup.py \
        --input /data/documents --output /data/dedup \
        [--verify-jaccard 0.5] [--bands 8] [--rows-per-band 4]

Stages: documents scan -> MinHash+LSH candidate pairs (banded
equi-join, never all-pairs) -> optional exact shingle-Jaccard
verification over the candidates -> connected-components clustering
(large-star/small-star) -> writes:

    <output>/pairs       (doc_a, doc_b[, jaccard])
    <output>/clusters    (doc_id, cluster_id, is_canonical)
    <output>/canonical   the deduplicated documents table

Works identically from `python jobs/dedup.py` in local mode.

INCREMENTAL mode (`--index <bands parquet>`): dedup a new crawl batch
against the persisted corpus band table (bootstrap it with
`--write-bands` on a full run) — new-vs-corpus duplicates are dropped
(the corpus copy stays canonical), survivors cluster among themselves,
and `--update-index` emits <output>/bands = old ∪ surviving new, ready
for the next batch. Per-batch cost is O(batch + matching buckets),
never a corpus self-join — the batch analog of jobs/stream.py
--neardup-index.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from engine.io.tables import write_table  # noqa: E402
from engine.ops.dedup import (  # noqa: E402
    jaccard_verify,
    minhash_candidate_pairs,
    simhash_candidate_pairs,
)
from engine.ops.graph import dedup_clusters  # noqa: E402
from engine.session import get_spark  # noqa: E402


def run(args) -> dict:
    from engine.cli import fill_defaults

    fill_defaults(args, _parser())
    spark = get_spark(
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        app_name="webtext-dedup",
    )
    t0 = time.monotonic()
    since = getattr(args, "since_snapshot", None)
    if since is not None:
        # consume ONLY the files the producer committed after snapshot
        # `since` (engine/io/snapshots) — the new-crawl batch, selected
        # by table metadata instead of a side-channel hand-off; pairs
        # naturally with --index for incremental near-dup
        from engine.io.snapshots import incremental_read

        docs = incremental_read(spark, args.input, after=since)
        if docs is None:
            result = {
                "method": args.method,
                "docs": 0,
                "note": f"no files added after snapshot {since}",
                "wall_s": round(time.monotonic() - t0, 2),
            }
            print(json.dumps(result))
            return result
    else:
        from engine.io.export import read_docs

        docs = read_docs(
            spark, args.input, fmt=args.input_format,
            schema=args.input_schema,
        )

    if getattr(args, "index", None):
        return _incremental(spark, docs, args, t0)

    if args.method == "exact":
        clusters = _exact_clusters(docs, args)
        n_pairs = 0
    else:
        # Empty/null-text docs all share the sentinel fingerprint
        # (minhash of no shingles / simhash 0) and would cross-match
        # QUADRATICALLY — B empty docs -> ~B^2/2 candidate pairs, the
        # all-pairs blowup LSH exists to prevent. Screen them out of
        # pair generation; they stay in the corpus as singleton
        # clusters (dedup_clusters left-joins the full docs table).
        nonempty = docs.filter(
            F.length(F.coalesce(F.col(args.text_col), F.lit(""))) > 0
        )
        # getattr: programmatic callers (tests build a bare namespace)
        # get the CLI default; 0 disables the guard
        cap = getattr(args, "hot_bucket_cap", 256) or None
        if args.method == "simhash":
            pairs = simhash_candidate_pairs(
                nonempty,
                id_col=args.id_col,
                text_col=args.text_col,
                max_hamming=args.max_hamming,
                hot_bucket_cap=cap,
            )
        else:
            pairs = minhash_candidate_pairs(
                nonempty,
                id_col=args.id_col,
                text_col=args.text_col,
                n_bands=args.bands,
                rows_per_band=args.rows_per_band,
                hot_bucket_cap=cap,
            )
        if args.verify_jaccard is not None:
            pairs = jaccard_verify(
                pairs,
                nonempty,
                threshold=args.verify_jaccard,
                id_col=args.id_col,
                text_col=args.text_col,
            )
        # <output>/pairs is a declared output table of this job (the
        # candidate edges behind the clusters); clustering reads it
        # back, and connected_components checkpoints its own edge list
        pairs_path = os.path.join(args.output, "pairs")
        write_table(pairs, pairs_path)
        pairs = spark.read.parquet(pairs_path)
        n_pairs = pairs.count()
        clusters = dedup_clusters(docs, pairs, id_col=args.id_col)

        if getattr(args, "write_bands", False):
            # bootstrap the incremental index: persist the band table
            # of the CANONICAL survivors only (one extra minhash pass;
            # subsequent re-crawls run with --index <output>/bands
            # instead of a full self-join). Canonical-only is the same
            # invariant --update-index maintains: the index never
            # holds an id this run itself dropped, so a future batch
            # can never collide with a non-existent corpus doc.
            from engine.ops.dedup import minhash_bands

            canon_ids = clusters.filter(F.col("is_canonical") == 1).select(
                args.id_col
            )
            write_table(
                minhash_bands(
                    nonempty.join(canon_ids, args.id_col, "semi"),
                    id_col=args.id_col,
                    text_col=args.text_col,
                    n_bands=args.bands,
                    rows_per_band=args.rows_per_band,
                ),
                os.path.join(args.output, "bands"),
            )

    return _finish(spark, docs, clusters, args, t0, n_pairs)


def _incremental(spark, docs, args, t0) -> dict:
    """Incremental mode (--index): dedup a NEW crawl batch against a
    persisted LSH band table without touching the existing corpus.

    Semantics: a new doc that collides with the index is a duplicate
    of the existing corpus and is dropped (the corpus copy stays
    canonical); the survivors are then near-dup-clustered among
    themselves as usual. Work per run is O(batch) + the matching
    index buckets — never a corpus self-join. --update-index writes
    <output>/bands = old ∪ (surviving new docs' bands), so the next
    run's index already knows this batch.
    """
    from engine.ops.dedup import incremental_candidate_pairs

    if args.verify_jaccard is not None:
        raise SystemExit(
            "--verify-jaccard needs both sides' text; the index holds "
            "bands only — run verification on the full-corpus job"
        )
    if args.method != "minhash":
        raise SystemExit("--index supports --method minhash only")
    idx = spark.read.parquet(args.index)
    nonempty = docs.filter(
        F.length(F.coalesce(F.col(args.text_col), F.lit(""))) > 0
    )
    cap = getattr(args, "hot_bucket_cap", 256) or None
    pairs, new_bands = incremental_candidate_pairs(
        nonempty,
        idx,
        id_col=args.id_col,
        text_col=args.text_col,
        n_bands=args.bands,
        rows_per_band=args.rows_per_band,
        hot_bucket_cap=cap,
    )
    pairs_path = os.path.join(args.output, "pairs")
    write_table(pairs, pairs_path)
    pairs = spark.read.parquet(pairs_path)
    n_pairs = pairs.count()

    # re-ingestion: a batch id ALREADY IN the index is the corpus doc
    # itself coming back (cron re-crawl of an unchanged page). The band
    # join can't see it — self-pairs are excluded — so it's caught by
    # id membership here: drop it (the corpus copy stays canonical)
    # and, crucially, never re-append its bands via --update-index.
    reingested = docs.select(F.col(args.id_col)).join(
        idx.select(F.col("doc_id").alias(args.id_col)).distinct(),
        args.id_col,
        "semi",
    )
    # COMPONENT-level corpus verdicts (engine.ops.graph): a batch doc
    # in any pair-component containing a corpus id is dropped, even if
    # its only link to the corpus runs THROUGH another dropped batch
    # doc — matching what full-mode clustering over old ∪ new decides.
    # The same components give the survivors' clusters; docs in no pair
    # (including EMPTY-text docs, screened out of pair generation only)
    # stay as singleton clusters, exactly as full mode keeps them.
    from engine.ops.graph import incremental_dedup_clusters

    dup_vs_index, clusters = incremental_dedup_clusters(
        docs, pairs, id_col=args.id_col, reingested=reingested
    )
    survivors = docs.join(dup_vs_index, args.id_col, "anti")

    cl_path = os.path.join(args.output, "clusters")
    write_table(clusters, cl_path)
    clusters = spark.read.parquet(cl_path)
    canonical = survivors.join(
        clusters.filter(F.col("is_canonical") == 1).select(args.id_col),
        args.id_col,
        "semi",
    )
    write_table(canonical, os.path.join(args.output, "canonical"))

    if getattr(args, "update_index", False):
        # the index tracks the CORPUS: append bands of the batch docs
        # that actually joined it (canonical survivors), so a future
        # batch can never collide with an id that was itself dropped
        canon_bands = new_bands.join(
            canonical.select(F.col(args.id_col).alias("doc_id")),
            "doc_id",
            "semi",
        )
        write_table(
            idx.select("doc_id", "band", "bh").unionByName(
                canon_bands.select("doc_id", "band", "bh")
            ),
            os.path.join(args.output, "bands"),
        )

    n_batch = docs.count()
    n_dropped_idx = dup_vs_index.count()
    n_reingested = reingested.count()
    n_kept = canonical.count()
    result = {
        "mode": "incremental",
        "wall_s": round(time.monotonic() - t0, 2),
        "docs": n_batch,
        "candidate_pairs": n_pairs,
        "dropped_vs_index": n_dropped_idx,
        "reingested": n_reingested,
        "kept": n_kept,
        "removed": n_batch - n_kept,
        "dup_rate": round((n_batch - n_kept) / n_batch, 4) if n_batch else 0.0,
    }
    print(json.dumps(result))
    return result


def _exact_clusters(docs, args):
    """Exact content dedup: one hash-groupBy, no pairs, no clustering
    — cluster_id = min doc id per sha256(text). The cheapest dedup
    mode and the right first pass before any near-dup method."""
    sha = F.sha2(F.coalesce(F.col(args.text_col), F.lit("")), 256)
    keyed = docs.select(F.col(args.id_col), sha.alias("_sha"))
    reps = keyed.groupBy("_sha").agg(F.min(args.id_col).alias("cluster_id"))
    return keyed.join(reps, "_sha").select(
        args.id_col,
        "cluster_id",
        (F.col(args.id_col) == F.col("cluster_id")).cast("int").alias(
            "is_canonical"
        ),
    )


def _finish(spark, docs, clusters, args, t0, n_pairs) -> dict:
    """Shared tail of every mode: land clusters, derive the canonical
    table, print the one-line summary."""
    cl_path = os.path.join(args.output, "clusters")
    write_table(clusters, cl_path)
    clusters = spark.read.parquet(cl_path)

    canonical = docs.join(
        clusters.filter(F.col("is_canonical") == 1).select(args.id_col),
        args.id_col,
        "semi",
    )
    write_table(canonical, os.path.join(args.output, "canonical"))

    n_docs = docs.count()
    n_kept = canonical.count()
    wall = time.monotonic() - t0
    result = {
        "wall_s": round(wall, 2),
        "docs": n_docs,
        "candidate_pairs": n_pairs,
        "kept": n_kept,
        "removed": n_docs - n_kept,
        "dup_rate": round((n_docs - n_kept) / n_docs, 4) if n_docs else 0.0,
    }
    print(json.dumps(result))
    return result


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="documents parquet")
    p.add_argument(
        "--input-format",
        choices=["parquet", "jsonl"],
        default="parquet",
        help="jsonl reads gzip/plain JSONL (public-corpus layout)",
    )
    p.add_argument("--input-schema", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument(
        "--method",
        choices=["minhash", "simhash", "exact"],
        default="minhash",
    )
    p.add_argument("--bands", type=int, default=8, help="minhash LSH bands")
    p.add_argument("--rows-per-band", type=int, default=4)
    p.add_argument(
        "--max-hamming", type=int, default=8, help="simhash bit distance"
    )
    p.add_argument(
        "--verify-jaccard",
        type=float,
        default=None,
        help="exact-Jaccard threshold to confirm LSH candidates",
    )
    p.add_argument(
        "--hot-bucket-cap",
        type=int,
        default=256,
        help="LSH buckets above this occupancy are star-paired instead "
        "of all-pairs joined (0 disables). Clustering over RAW pairs is "
        "unaffected; combined with --verify-jaccard (or simhash hamming "
        "filtering) it can split hot-bucket clusters, because members "
        "linked only through a star pair that fails verification lose "
        "their path to each other — a disclosed recall trade-off",
    )
    p.add_argument(
        "--index",
        default=None,
        help="persisted LSH band table (parquet): switch to INCREMENTAL "
        "mode — dedup this batch against the existing corpus via the "
        "index, never re-fingerprinting the corpus",
    )
    p.add_argument(
        "--since-snapshot",
        type=int,
        default=None,
        help="read ONLY files added to --input after this snapshot id "
        "(engine/io/snapshots commit log) — the new-crawl batch by "
        "table metadata; pairs with --index",
    )
    p.add_argument(
        "--update-index",
        action="store_true",
        help="with --index: write <output>/bands = old index + the "
        "surviving batch docs' bands",
    )
    p.add_argument(
        "--write-bands",
        action="store_true",
        help="full mode: also persist <output>/bands (the corpus band "
        "table) to bootstrap later --index runs",
    )
    p.add_argument("--master", default="local[*]")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def main() -> None:
    run(_parser().parse_args())


if __name__ == "__main__":
    main()
