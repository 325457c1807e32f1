"""End-to-end training-corpus build — one orchestrated, stage-
resumable job over the whole chain (README's manual command sequence,
as a single spark-submit entry):

    spark-submit --py-files engine.zip jobs/corpus.py \
        --pages /data/pages --output /data/corpus \
        [--resume] [--lm-filter] [--sample-fraction 0.5]

Stages, each writing its own parquet table under <output>/:

    extract    pages -> main-content docs (route+extract+dedup latest
               per url; engine/pipeline.build_extracted)
    linefix    (opt-in, --fix-lines) line-wise corrections -> counters/
               nav stubs/caps menus removed BEFORE near-dup
               (engine/ops/linefix; RefinedWeb §3.1.3)
    langsplit  (opt-in, --monolingual LANG) paragraph-language screen:
               LANG-majority docs only, minority-language paragraphs
               dropped (engine/ops/langsplit; CCNet §4.3). Extract-time
               screens: --robots (RFC 9309), --respect-noindex,
               --license-filter (ccREL permissive slice)
    neardup    MinHash+LSH pairs -> connected components -> canonical
               docs only (engine/ops/{dedup,graph})
    linedup    corpus-wide repeated-line removal rewrite
               (engine/ops/linedup)
    substrdedup (opt-in, --substr-w) duplicated >=w-token verbatim-run
               removal rewrite -> <output>/substr_cleaned
               (engine/ops/substrdedup; Lee et al. 2022 ExactSubstr)
    curate     rule verdicts + optional LM perplexity screen —
               composes jobs/curate.run, so the audit layout
               (curate/kept, curate/rejected) and reason stats are
               identical to the standalone job
    dsir       (opt-in, --dsir-target) DSIR importance resampling
               toward a trusted target set -> <output>/dsir_selected
               (engine/ops/dsir; Xie et al. 2023)
    sample     deterministic hash sample -> <output>/final
    rebalance  (opt-in, --max-host-share) cap any host's token share
               -> <output>/balanced (engine/ops/mix, exact hard cap)
    split      (opt-in, --splits) host-keyed train/val/test labels
               -> <output>/splits, partitioned by split
    pack       (opt-in, --pack-budget) sentence-aware chunking +
               fixed-token-budget example assembly -> <output>/examples
               (engine/ops/pack; examples never mix splits; packing
               stats recorded in the manifest; chunk text persisted to
               <output>/chunks for the export join)
    export     (opt-in, --export-shard-mb) trainer-ready gzip JSONL
               shards -> <output>/export (engine/io/export; packed
               examples when --pack-budget is set, else the final
               docs table)
    report     (opt-in, --report) corpus card over the final docs
               table -> <output>/corpus_card.json (jobs/report.py);
               --report-compare adds crawl-over-crawl deltas against
               a previous run's card

`run` declares these stages as one ordered list and drives them with
one loop. Each enabled stage reads the previous enabled stage's table
and records that table as params["input"] (every stage after extract),
beside its own semantics-affecting params. After each stage commits,
<output>/corpus_manifest.json is atomically rewritten (tmp + rename,
same discipline as engine/checkpoint.py). `--resume` skips a stage
only when its manifest entry carries the same params, no earlier stage
re-ran, and its output _SUCCESS marker is present — a crash loses at
most the stage in flight, and a finished run reruns as all no-ops.
Stage outputs are plain parquet tables: any stage can also be
re-driven by its standalone job (jobs/{dedup,curate}.py) against the
same directories.

Prints ONE JSON line: per-stage rows + wall seconds + the manifest.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import types
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from engine.session import get_spark  # noqa: E402

MANIFEST = "corpus_manifest.json"


class _Stage(NamedTuple):
    """One entry of the corpus chain. `build` maps the input table (the
    previous enabled stage's output) to this stage's DataFrame, which
    the stage loop writes to <output>/<table> and counts. A stage whose
    output is not one plain parquet table (curate's kept + rejected,
    split's partitioned table, pack's side chunks table and stats,
    export's JSONL shards) sets `writes` and is called as
    build(input_path, output_path) -> rows instead."""

    name: str
    table: str
    build: Callable
    params: dict | None = None
    on: bool = True
    writes: bool = False


def _load_manifest(out_dir: str) -> dict:
    path = os.path.join(out_dir, MANIFEST)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"stages": {}}


def _commit_stage(out_dir: str, manifest: dict, stage: str, info: dict) -> None:
    manifest["stages"][stage] = info
    path = os.path.join(out_dir, MANIFEST)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX


def _stage_done(
    out_dir: str, manifest: dict, stage: str, table: str, params: dict
) -> bool:
    """A committed stage only counts when its semantics-affecting
    params match what the manifest recorded — re-running with e.g.
    --respect-noindex after a run without it must redo the stage, not
    silently skip the new screen. Entries committed before params
    were recorded (no 'params' key) match only an empty params dict."""
    if stage not in manifest["stages"]:
        return False
    if (manifest["stages"][stage].get("params") or {}) != params:
        return False
    return os.path.exists(os.path.join(out_dir, table, "_SUCCESS"))


def run(args) -> dict:
    from engine.cli import fill_defaults

    fill_defaults(args, _parser())
    spark = get_spark(
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        app_name="webtext-corpus",
    )
    out = args.output
    os.makedirs(out, exist_ok=True)
    manifest = _load_manifest(out) if args.resume else {"stages": {}}

    # -- extract ------------------------------------------------------
    def extract(pages):
        from engine.pipeline import build_extracted

        if args.robots:
            # per-HOST opt-out first (RFC 9309): disallowed urls never
            # enter any derived table; rules broadcast, pages map-only
            from engine.ops.robots import screen_robots

            robots = spark.read.parquet(args.robots)
            pages = screen_robots(pages, robots, crawler=args.crawler)
        if args.respect_noindex:
            # pages whose meta-robots opts out of indexing never
            # enter any derived table (map-only, head-bounded parse)
            from engine.pipeline import screen_noindex

            pages = screen_noindex(pages)
        if args.license_filter:
            # openly-licensed slice: keep only pages declaring a
            # permissive CC license (map-only codegen regex; strict =
            # explicit rel="license" declarations only)
            from engine.ops.license import license_filter

            pages = license_filter(
                pages, require_rel=args.license_filter == "strict"
            ).drop("license_code", "license_version", "license_rel")
        return build_extracted(pages)

    extract_params = {}
    if args.respect_noindex:
        extract_params["respect_noindex"] = True
    if args.robots:
        extract_params["robots"] = args.robots
        extract_params["crawler"] = args.crawler
    if args.license_filter:
        extract_params["license_filter"] = args.license_filter

    # -- optional: line-wise corrections (RefinedWeb §3.1.3) -----------
    # BEFORE near-dup, so boilerplate lines neither pollute minhash
    # signatures nor survive into any downstream table
    def linefix(docs):
        from engine.ops.linefix import fix_lines

        fixed = fix_lines(docs, max_removed_frac=args.max_removed_frac)
        return (
            fixed.filter(F.col("line_keep"))
            .withColumn("text", F.col("text_fixed"))
            .drop("text_fixed", "line_keep")
        )

    # -- optional: monolingual slice (CCNet paragraph language ID) -----
    def langsplit(docs):
        from engine.ops.langsplit import filter_language

        return filter_language(docs, args.monolingual, min_frac=args.lang_min_frac)

    # -- near-dup dedup to canonical docs ------------------------------
    def neardup(docs):
        from engine.ops.dedup import minhash_candidate_pairs
        from engine.ops.graph import dedup_clusters

        nonempty = docs.filter(F.length(F.coalesce(F.col("text"), F.lit(""))) > 0)
        pairs = minhash_candidate_pairs(nonempty, id_col="url")
        clusters = dedup_clusters(nonempty.select("url"), pairs, id_col="url")
        return nonempty.join(clusters.filter("is_canonical = 1").select("url"), "url")

    # -- corpus-wide line dedup rewrite --------------------------------
    def linedup(docs):
        from engine.ops.linedup import dedup_lines

        return dedup_lines(docs, id_col="url")

    # -- optional: exact-substring dedup rewrite (Lee et al. 2022) ------
    def substrdedup(docs):
        from engine.ops.substrdedup import dedup_substrings

        return dedup_substrings(docs, w=args.substr_w, id_col="url")

    # -- curation (+ optional LM screen): the standalone job, composed -
    # one dict is both the jobs/curate.py arguments and the resume key;
    # the job writes <output>/curate/{kept,rejected}
    curate_settings = {
        "min_tokens": args.min_tokens,
        "no_check_lang": not args.check_lang,
        "url_filter": bool(args.url_filter or args.url_blocklist),
        "url_blocklist": args.url_blocklist,
        "lm_filter": bool(args.lm_filter),
        "lm_pct": args.lm_pct,
        "gopher_repetition": bool(args.gopher_repetition),
        "compression_min": args.compression_min,
        "compression_max": args.compression_max,
        "drop_code": bool(args.drop_code),
    }

    def curate(in_path: str, path: str) -> int:
        from jobs.curate import run as curate_run

        res = curate_run(
            types.SimpleNamespace(
                input=in_path,
                output=os.path.dirname(path),
                id_col="url",
                master=args.master,
                shuffle_partitions=args.shuffle_partitions,
                **curate_settings,
            )
        )
        return res["kept"]

    # -- optional: DSIR importance resampling (Xie et al. 2023) ---------
    # distribution-MATCHING selection toward a trusted target set,
    # after the rule/LM screens (select from already-clean docs)
    def dsir(kept):
        from engine.ops.dsir import dsir_select_fraction, fit_dsir
        from engine.ops.sample import hash_sample

        target = spark.read.parquet(args.dsir_target)
        # the fit needs distribution-level counts, not every row:
        # cap the raw side at a deterministic sample
        raw = hash_sample(kept, args.dsir_fit_fraction, id_col="url")
        model = fit_dsir(target, raw, text_col="text")
        return dsir_select_fraction(kept, model, args.dsir_fraction, id_col="url")

    # -- deterministic sample -> final ----------------------------------
    def sample(kept):
        from engine.ops.sample import hash_sample

        return hash_sample(kept, args.sample_fraction, id_col="url")

    # -- optional: domain rebalance (host token-share cap) --------------
    # try_parse_url: malformed crawl urls yield '' instead of an ANSI
    # INVALID_URL crash (same discipline as engine/ops/urlnorm.py)
    host_expr = F.lower(
        F.coalesce(F.try_parse_url("url", F.lit("HOST")), F.lit(""))
    )

    def rebalance(docs):
        from engine.ops.mix import rebalance_domains
        from engine.ops.pack import whitespace_token_count

        # temp column names: docs may already carry an n_tokens
        # curation metric, which must survive into <output>/balanced
        docs = docs.withColumn("_rb_host", host_expr).withColumn(
            "_rb_tokens", whitespace_token_count(F.col("text"))
        )
        return rebalance_domains(
            docs, args.max_host_share, host_col="_rb_host", token_col="_rb_tokens",
            id_col="url", exact=True,
        ).drop("_rb_host", "_rb_tokens")

    # -- optional: temperature mix over a group column ------------------
    def tempmix(docs):
        from engine.ops.mix import temperature_mix
        from engine.ops.pack import whitespace_token_count

        docs = docs.withColumn("_tm_tokens", whitespace_token_count(F.col("text")))
        return temperature_mix(
            docs, args.mix_alpha, group_col=args.mix_group, token_col="_tm_tokens",
            id_col="url", min_group_tokens=args.mix_min_tokens,
        ).drop("_tm_tokens")

    # -- optional: host-keyed train/val/test split ----------------------
    def split(in_path: str, path: str) -> int:
        from engine.ops.mix import assign_splits

        weights = {
            name: float(w)
            for name, w in (kv.split("=") for kv in args.splits.split(","))
        }
        docs = spark.read.parquet(in_path).withColumn("_sp_host", host_expr)
        assign_splits(docs, weights, key_col="_sp_host").drop(
            "_sp_host"
        ).write.mode("overwrite").partitionBy("split").parquet(path)
        return spark.read.parquet(path).count()

    # -- optional: sentence-aware chunking + sequence packing -----------
    def pack(in_path: str, path: str) -> int:
        from engine.ops.pack import pack_sequences, packing_stats
        from engine.udfs import CHUNKS_DDL, chunk_map_in_pandas

        docs = spark.read.parquet(in_path)
        # text was rewritten by linedup/curation, so spans are
        # recomputed inside the chunker (legacy-row fallback)
        src = docs.filter(F.length(F.coalesce("text", F.lit(""))) > 0).select(
            "url", "text", F.lit(None).cast("array<long>").alias("sent_spans")
        )
        chunks = src.mapInPandas(chunk_map_in_pandas, CHUNKS_DDL)
        split_col = None
        if "split" in docs.columns:
            labels = docs.select("url", "split")
            chunks = chunks.join(labels, "url")
            split_col = "split"
        token_col = None
        if args.bpe_merges:
            # size examples in REAL subword tokens: train BPE on
            # this corpus (engine/ops/bpe — sample-trained,
            # map-only apply), persist merges beside the corpus
            from engine.ops.bpe import bpe_encode, save_bpe, train_bpe

            merges = train_bpe(docs, n_merges=args.bpe_merges, id_col="url")
            save_bpe(spark, merges, os.path.join(out, "bpe_merges"))
            manifest["bpe"] = {"n_merges": len(merges)}
            chunks = bpe_encode(
                chunks, merges, text_col="chunk_text", count_only=True
            )
            token_col = "n_bpe_tokens"
        # persist chunk text beside the assignments: the export
        # stage joins it back (and downstream vector jobs reuse it)
        chunks.write.mode("overwrite").parquet(os.path.join(out, "chunks"))
        chunks = spark.read.parquet(os.path.join(out, "chunks"))
        asg = pack_sequences(
            chunks, args.pack_budget, n_shards=args.pack_shards,
            split_col=split_col, token_col=token_col,
        )
        asg.write.mode("overwrite").parquet(path)
        asg = spark.read.parquet(path)
        stats = packing_stats(asg, args.pack_budget).collect()[0].asDict()
        manifest["packing"] = {k: (float(v) if v is not None else None) for k, v in stats.items()}
        return asg.count()

    # -- optional: JSONL training export --------------------------------
    def export(in_path: str, path: str) -> int:
        from engine.io.export import export_jsonl

        rows, key = spark.read.parquet(in_path), "url"
        if args.pack_budget:
            # packed path: the input is the examples table; ship the
            # materialized examples (ordered chunk concat) — the
            # trainer-ready unit
            from engine.ops.pack import assemble_examples

            chunks = spark.read.parquet(os.path.join(out, "chunks"))
            rows, key = assemble_examples(rows, chunks), "example_id"
        info = export_jsonl(
            rows, path, key_col=key, shard_max_bytes=args.export_shard_mb << 20
        )
        manifest["export"] = info
        return info["rows"]

    # the chain, in order; `on` enables the opt-in stages
    stages = [
        _Stage("extract", "extracted", extract, extract_params),
        _Stage("linefix", "linefixed", linefix,
               {"max_removed_frac": args.max_removed_frac}, on=args.fix_lines),
        _Stage("langsplit", "monolingual", langsplit,
               {"lang": args.monolingual, "min_frac": args.lang_min_frac},
               on=bool(args.monolingual)),
        _Stage("neardup", "canonical", neardup),
        _Stage("linedup", "cleaned", linedup),
        _Stage("substrdedup", "substr_cleaned", substrdedup,
               {"w": args.substr_w}, on=bool(args.substr_w)),
        _Stage("curate", "curate/kept", curate, curate_settings, writes=True),
        _Stage("dsir", "dsir_selected", dsir,
               {"target": args.dsir_target, "fraction": args.dsir_fraction},
               on=bool(args.dsir_target)),
        _Stage("sample", "final", sample, {"fraction": args.sample_fraction}),
        _Stage("rebalance", "balanced", rebalance,
               {"max_host_share": args.max_host_share},
               on=args.max_host_share < 1.0),
        _Stage("tempmix", "tempered", tempmix,
               {"mix_alpha": args.mix_alpha, "mix_group": args.mix_group,
                "mix_min_tokens": args.mix_min_tokens},
               on=args.mix_alpha is not None),
        _Stage("split", "splits", split, {"splits": args.splits},
               on=bool(args.splits), writes=True),
        _Stage("pack", "examples", pack,
               {"budget": args.pack_budget, "shards": args.pack_shards,
                "bpe_merges": args.bpe_merges},
               on=bool(args.pack_budget), writes=True),
        _Stage("export", "export", export,
               {"packed": bool(args.pack_budget),
                "shard_mb": args.export_shard_mb},
               on=bool(args.export_shard_mb), writes=True),
    ]
    stages = [st for st in stages if st.on]

    # One loop runs the chain. Each stage reads the previous enabled
    # stage's table and records it as params["input"]: toggling an
    # opt-in stage on a resumed run changes what later stages read, so
    # their committed tables must not be trusted across that change.
    # A stage that re-runs invalidates everything downstream of it —
    # its output is those stages' input, so their committed tables are
    # stale even though their own params match.
    dirty = False
    prev = None
    for st in stages:
        params = dict(st.params or {})
        if prev is not None:
            params["input"] = prev
        in_path = args.pages if prev is None else os.path.join(out, prev)
        prev = st.table
        if (
            args.resume
            and not dirty
            and _stage_done(out, manifest, st.name, st.table, params)
        ):
            continue
        dirty = True
        t0 = time.monotonic()
        path = os.path.join(out, st.table)
        if st.writes:
            rows = st.build(in_path, path)
        else:
            df = st.build(spark.read.parquet(in_path))
            df.write.mode("overwrite").parquet(path)
            rows = spark.read.parquet(path).count()
        # partitionBy writes under the session's dynamic
        # partitionOverwriteMode commit WITHOUT a root _SUCCESS (every
        # resume re-ran split and cascaded through pack/export). The
        # marker is this job's stage-completion contract, and the stage
        # has fully returned, which is exactly what _SUCCESS asserts.
        marker = os.path.join(path, "_SUCCESS")
        if os.path.isdir(path) and not os.path.exists(marker):
            open(marker, "w").close()
        info = {"rows": int(rows), "wall_s": round(time.monotonic() - t0, 2)}
        if params:
            info["params"] = params
        _commit_stage(out, manifest, st.name, info)

    # -- optional: corpus card over the final docs table ----------------
    # Runs every invocation when asked (no resume gate: the card costs
    # a few agg passes over the FINAL table and rewriting it is
    # idempotent — and a resumed run's card should reflect the tables
    # as they now stand)
    if args.report:
        from jobs.report import build_card, card_delta

        docs_table = [
            st.table for st in stages if st.name not in ("pack", "export")
        ][-1]
        card = build_card(
            spark,
            types.SimpleNamespace(
                text_col="text", id_col="url", lang_col="lang",
                host_col="host", top_hosts=20, top_ngrams=0, ngram_n=10,
            ),
            os.path.join(out, docs_table),
        )
        if args.report_compare:
            with open(args.report_compare) as f:
                baseline = json.load(f)
            base_card = baseline.get("card", baseline)
            card["compare"] = {
                "baseline": args.report_compare,
                "delta": card_delta(card, base_card),
            }
        card_path = os.path.join(out, "corpus_card.json")
        tmp = card_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"card": card, "table": docs_table}, f,
                      indent=2, sort_keys=True)
        os.replace(tmp, card_path)
        manifest["card"] = {"table": docs_table,
                            "docs": card["totals"]["docs"],
                            "path": card_path}

    result = {"output": out, "stages": manifest["stages"]}
    for k in ("packing", "bpe", "export", "card"):
        if k in manifest:
            result[k] = manifest[k]
    print(json.dumps(result))
    return result


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True, help="crawled pages parquet")
    p.add_argument("--output", required=True)
    p.add_argument(
        "--resume",
        action="store_true",
        help="skip stages already committed in corpus_manifest.json",
    )
    p.add_argument(
        "--robots",
        default=None,
        help="parquet of robots.txt bodies (host string, body string): "
        "screen pages by RFC 9309 Allow/Disallow for --crawler before "
        "extraction (engine/ops/robots)",
    )
    p.add_argument("--crawler", default="sparkbot")
    p.add_argument(
        "--license-filter",
        choices=("strict", "loose"),
        default=None,
        help="keep only pages declaring a permissive CC license "
        "(engine/ops/license): strict = rel='license' declarations "
        "only; loose = any CC url marker",
    )
    p.add_argument(
        "--respect-noindex",
        action="store_true",
        help="drop pages whose <meta name=robots> carries noindex/none "
        "before extraction (engine/pipeline.screen_noindex)",
    )
    p.add_argument("--min-tokens", type=int, default=20)
    p.add_argument(
        "--fix-lines",
        action="store_true",
        help="line-wise corrections before near-dup (RefinedWeb "
        "§3.1.3: counters / nav stubs / caps menus / lone-word lines "
        "removed; docs losing more than --max-removed-frac of their "
        "words dropped)",
    )
    p.add_argument("--max-removed-frac", type=float, default=0.05)
    p.add_argument(
        "--monolingual",
        default=None,
        metavar="LANG",
        help="keep only LANG-majority docs, rewritten to LANG-majority "
        "paragraphs (engine/ops/langsplit; CCNet §4.3)",
    )
    p.add_argument("--lang-min-frac", type=float, default=0.5)
    p.add_argument(
        "--dsir-target",
        default=None,
        help="parquet of trusted target docs: select from the curated "
        "pool by DSIR importance resampling toward this distribution "
        "(engine/ops/dsir, Xie et al. 2023)",
    )
    p.add_argument(
        "--dsir-fraction",
        type=float,
        default=0.5,
        help="fraction of the curated pool DSIR keeps",
    )
    p.add_argument(
        "--dsir-fit-fraction",
        type=float,
        default=1.0,
        help="deterministic sample of the pool used to fit the raw "
        "feature distribution (fit needs counts, not every row)",
    )
    p.add_argument(
        "--check-lang",
        action="store_true",
        help="enable the langid screen in curation (off by default)",
    )
    p.add_argument(
        "--substr-w",
        type=int,
        default=0,
        help="remove duplicated verbatim runs of at least this many "
        "tokens corpus-wide (Lee et al. 2022 ExactSubstr; 0 = off, "
        "published setting is 50)",
    )
    p.add_argument(
        "--url-filter",
        action="store_true",
        help="enable the RefinedWeb-style URL screen in curation "
        "(keyword scoring; add --url-blocklist for the domain list)",
    )
    p.add_argument(
        "--url-blocklist",
        default=None,
        help="blocked-domain list (.txt one domain per line, or "
        "parquet with a 'domain' column); implies --url-filter",
    )
    p.add_argument("--lm-filter", action="store_true")
    p.add_argument("--lm-pct", type=float, default=90.0)
    p.add_argument(
        "--compression-min",
        type=float,
        default=None,
        help="curate-stage zlib ratio floor (templated/repeated text)",
    )
    p.add_argument(
        "--compression-max",
        type=float,
        default=None,
        help="curate-stage zlib ratio ceiling (random/encoded junk)",
    )
    p.add_argument(
        "--gopher-repetition",
        action="store_true",
        help="curate-stage Gopher repetition panel (top-2/3/4-gram and "
        "dup-5..10-gram character fractions at the published cuts)",
    )
    p.add_argument(
        "--drop-code",
        action="store_true",
        help="curate-stage code/markup screen (engine/ops/codedetect; "
        "reason 'code') — route source code out of the prose corpus",
    )
    p.add_argument("--sample-fraction", type=float, default=1.0)
    p.add_argument(
        "--report",
        action="store_true",
        help="write <output>/corpus_card.json (jobs/report.py card) "
        "over the final docs table after the chain finishes",
    )
    p.add_argument(
        "--report-compare",
        default=None,
        help="with --report: a previous run's corpus_card.json — the "
        "new card gains crawl-over-crawl deltas against it",
    )
    p.add_argument(
        "--max-host-share",
        type=float,
        default=1.0,
        help="cap any one host at this token share of the corpus "
        "(<1.0 enables the rebalance stage; exact hard cap)",
    )
    p.add_argument(
        "--mix-alpha",
        type=float,
        default=None,
        help="temperature-based source mixing (XLM-R rule): resample "
        "so group token shares follow share^alpha (alpha<1 flattens "
        "toward uniform; downsample-only)",
    )
    p.add_argument(
        "--mix-group",
        default="lang",
        help="group column for --mix-alpha (default lang)",
    )
    p.add_argument(
        "--mix-min-tokens",
        type=int,
        default=0,
        help="groups below this token count are kept whole and "
        "excluded from the temperature normalizer (guards against a "
        "stray singleton group crushing the real mix)",
    )
    p.add_argument(
        "--splits",
        default=None,
        help='host-keyed split weights, e.g. "train=0.98,val=0.01,test=0.01"',
    )
    p.add_argument(
        "--pack-budget",
        type=int,
        default=None,
        help="pack chunks into examples of at most this many tokens "
        "(enables the chunk+pack stage; examples never mix splits)",
    )
    p.add_argument("--pack-shards", type=int, default=64)
    p.add_argument(
        "--bpe-merges",
        type=int,
        default=0,
        help="with --pack-budget: train a BPE tokenizer of this many "
        "merges on the corpus (engine/ops/bpe), persist it to "
        "<output>/bpe_merges, and pack by real subword token counts "
        "instead of whitespace words",
    )
    p.add_argument(
        "--export-shard-mb",
        type=int,
        default=0,
        help="write the final table (or packed examples, with "
        "--pack-budget) as deterministic gzip JSONL shards of at most "
        "this many MB uncompressed under <output>/export (0 = off)",
    )
    p.add_argument("--master", default="local[*]")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def main() -> None:
    run(_parser().parse_args())


if __name__ == "__main__":
    main()
