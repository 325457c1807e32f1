"""jobs/corpus.py — orchestrated crawl -> training-corpus build with
per-stage manifest resume."""

from __future__ import annotations

import json
import os
import types

import pytest

from engine.corpus import gen_pages_df


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpusjob") / "pages")
    gen_pages_df(spark, 200).write.mode("overwrite").parquet(path)
    return path


def _args(pages, out, **kw):
    return types.SimpleNamespace(pages=pages, output=out, **kw)


def _stage_mtimes(out):
    tables = ["extracted", "canonical", "cleaned", "curate/kept", "final"]
    return {
        t: os.path.getmtime(os.path.join(out, t, "_SUCCESS")) for t in tables
    }


def test_full_build_and_resume(spark, tmp_path, pages_path):
    from jobs.corpus import run

    out = str(tmp_path / "corpus")
    res = run(_args(pages_path, out, min_tokens=5, sample_fraction=0.5))

    st = res["stages"]
    assert set(st) == {"extract", "neardup", "linedup", "curate", "sample"}
    # accounting: each stage can only shrink the corpus
    assert st["extract"]["rows"] >= st["neardup"]["rows"]
    assert st["neardup"]["rows"] == st["linedup"]["rows"]  # rewrite keeps rows
    assert st["linedup"]["rows"] >= st["curate"]["rows"]
    assert st["curate"]["rows"] >= st["sample"]["rows"]
    assert st["sample"]["rows"] > 0
    final = spark.read.parquet(f"{out}/final")
    assert final.count() == st["sample"]["rows"]
    assert "text" in final.columns and "url" in final.columns

    # manifest on disk matches the returned stages
    with open(f"{out}/corpus_manifest.json") as f:
        assert json.load(f)["stages"] == st

    # full resume: every stage skips — no output is rewritten
    before = _stage_mtimes(out)
    res2 = run(_args(pages_path, out, min_tokens=5, sample_fraction=0.5, resume=True))
    assert _stage_mtimes(out) == before
    assert {k: v["rows"] for k, v in res2["stages"].items()} == {
        k: v["rows"] for k, v in st.items()
    }


def test_partial_resume_recomputes_only_missing_stages(spark, tmp_path, pages_path):
    from jobs.corpus import run

    out = str(tmp_path / "corpus2")
    res = run(_args(pages_path, out, min_tokens=5, sample_fraction=0.5))
    before = _stage_mtimes(out)

    # simulate a crash after stage 3: drop curate+sample from the manifest
    mpath = f"{out}/corpus_manifest.json"
    with open(mpath) as f:
        m = json.load(f)
    for s in ("curate", "sample"):
        del m["stages"][s]
    with open(mpath, "w") as f:
        json.dump(m, f)

    res2 = run(_args(pages_path, out, min_tokens=5, sample_fraction=0.5, resume=True))
    after = _stage_mtimes(out)
    # stages 1-3 untouched, 4-5 rebuilt
    for t in ("extracted", "canonical", "cleaned"):
        assert after[t] == before[t], t
    for t in ("curate/kept", "final"):
        assert after[t] > before[t], t
    # deterministic pipeline: recomputed stages land on the same rows
    assert {k: v["rows"] for k, v in res2["stages"].items()} == {
        k: v["rows"] for k, v in res["stages"].items()
    }


def test_mix_stages_rebalance_split_pack(spark, tmp_path, pages_path):
    """Opt-in tail stages: rebalance -> split -> pack. Splits are
    host-cohesive, examples never mix splits, packing stats land in
    the manifest, and every chunk of the split table is assigned."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus3")
    res = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            max_host_share=0.5,
            splits="train=0.8,val=0.1,test=0.1",
            pack_budget=128,
            pack_shards=8,
        )
    )
    st = res["stages"]
    assert {"rebalance", "split", "pack"} <= set(st)
    assert st["rebalance"]["rows"] <= st["sample"]["rows"]
    assert st["split"]["rows"] == st["rebalance"]["rows"]

    from pyspark.sql import functions as F

    splits = spark.read.parquet(f"{out}/splits")
    assert splits.groupBy("url").agg(
        F.countDistinct("split").alias("k")
    ).filter("k > 1").count() == 0

    ex = spark.read.parquet(f"{out}/examples")
    assert ex.count() == st["pack"]["rows"] > 0
    assert "split" in ex.columns
    # each doc's assignments carry its split label
    lab = splits.select(F.col("url").alias("doc_key"), F.col("split").alias("want"))
    assert ex.join(lab, "doc_key").filter("split != want").count() == 0
    # budget respected for non-oversize examples
    bad = (
        ex.groupBy("split", "shard", "example_ix")
        .agg(F.sum("n_tokens").alias("tok"), F.max(F.col("oversize").cast("int")).alias("over"))
        .filter("over = 0 AND tok > 128")
        .count()
    )
    assert bad == 0
    assert res["packing"]["n_chunks"] == ex.count()
    assert 0 < res["packing"]["fill_rate"] <= 1.0


def test_pack_with_trained_bpe_tokens(spark, tmp_path, pages_path):
    """--bpe-merges: the pack stage sizes examples in trained subword
    tokens; merges persist beside the corpus and re-applying them
    reproduces the packed counts exactly."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus_bpe")
    res = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            pack_budget=256,
            pack_shards=4,
            bpe_merges=64,
        )
    )
    assert res["bpe"]["n_merges"] > 0
    from pyspark.sql import functions as F

    from engine.ops.bpe import bpe_encode, load_bpe

    merges = load_bpe(spark, f"{out}/bpe_merges")
    assert 0 < len(merges) <= 64

    ex = spark.read.parquet(f"{out}/examples")
    assert ex.count() > 0
    # budget respected in BPE tokens for non-oversize examples
    bad = (
        ex.groupBy("shard", "example_ix")
        .agg(
            F.sum("n_tokens").alias("tok"),
            F.max(F.col("oversize").cast("int")).alias("over"),
        )
        .filter("over = 0 AND tok > 256")
        .count()
    )
    assert bad == 0
    # n_tokens in the assignment == re-encoding the chunk text with
    # the persisted merges (model round-trip, exact)
    from engine.udfs import CHUNKS_DDL, chunk_map_in_pandas

    docs = spark.read.parquet(f"{out}/final")
    src = docs.filter(F.length(F.coalesce("text", F.lit(""))) > 0).select(
        "url", "text", F.lit(None).cast("array<long>").alias("sent_spans")
    )
    chunks = bpe_encode(
        src.mapInPandas(chunk_map_in_pandas, CHUNKS_DDL),
        merges,
        text_col="chunk_text",
        count_only=True,
    ).select("url", "chunk_ix", "n_bpe_tokens")
    joined = ex.join(
        chunks.withColumnRenamed("url", "doc_key"), ["doc_key", "chunk_ix"]
    )
    assert joined.filter("n_tokens != n_bpe_tokens").count() == 0
    assert joined.count() == ex.count()


def test_substrdedup_stage_wires_into_curation(spark, tmp_path, pages_path):
    """--substr-w: the ExactSubstr rewrite runs between linedup and
    curation; rows are preserved (it rewrites, never drops), the stage
    commits to the manifest, and curation consumes the rewritten
    table."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus_substr")
    res = run(
        _args(pages_path, out, min_tokens=5, sample_fraction=1.0, substr_w=5)
    )
    st = res["stages"]
    assert "substrdedup" in st
    assert st["substrdedup"]["rows"] == st["linedup"]["rows"]
    assert os.path.exists(f"{out}/substr_cleaned/_SUCCESS")
    sub = spark.read.parquet(f"{out}/substr_cleaned")
    assert {"n_tokens", "n_tokens_removed"} <= set(sub.columns)
    # the synthetic corpus shares template boilerplate runs: something
    # must actually be removed, and no doc may lose ALL its tokens'
    # uniqueness accounting (n_tokens_removed <= n_tokens)
    from pyspark.sql import functions as F

    agg = sub.agg(
        F.sum("n_tokens_removed").alias("rm"),
        F.max(F.col("n_tokens_removed") > F.col("n_tokens")).alias("bad"),
    ).first()
    assert agg["rm"] > 0
    assert agg["bad"] is False


def test_export_stage_ships_packed_examples(spark, tmp_path, pages_path):
    """--export-shard-mb + --pack-budget: the export stage assembles
    packed examples and writes gzip JSONL shards; line count equals
    the example count and every line carries the trainer fields."""
    from jobs.corpus import run
    from tests.test_export import _read_shards

    out = str(tmp_path / "corpus_export")
    res = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            pack_budget=64,
            pack_shards=4,
            export_shard_mb=1,
        )
    )
    st = res["stages"]
    assert "export" in st and st["export"]["rows"] > 0
    assert res["export"]["n_shards"] >= 1
    assert os.path.exists(f"{out}/export/_SUCCESS")
    lines = [r for v in _read_shards(f"{out}/export").values() for r in v]
    assert len(lines) == st["export"]["rows"]
    n_examples = (
        spark.read.parquet(f"{out}/examples")
        .select("shard", "example_ix")
        .distinct()
        .count()
    )
    assert len(lines) == n_examples
    for r in lines[:5]:
        assert {"example_id", "text", "n_tokens", "n_seqs"} <= set(r)
        assert r["text"]


def test_respect_noindex_screens_before_extract(spark, tmp_path):
    """--respect-noindex: a page carrying <meta name=robots
    content=noindex> never reaches the extracted table (or any stage
    after it); without the flag it flows through."""
    from jobs.corpus import run

    doc = (
        "<html><head>{head}</head><body><p>"
        + "Sufficiently long body text for the extractor to keep. " * 8
        + "</p></body></html>"
    )
    rows = [
        (f"http://h{i}.example/keep", doc.format(head="<title>k</title>").encode())
        for i in range(12)
    ] + [
        (
            "http://h0.example/optout",
            doc.format(
                head='<meta name="robots" content="noindex"><title>o</title>'
            ).encode(),
        )
    ]
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [(u, ts, h, None, "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    p = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(p)

    out1 = str(tmp_path / "with_screen")
    run(_args(p, out1, min_tokens=2, respect_noindex=True))
    got1 = {r["url"] for r in spark.read.parquet(f"{out1}/extracted").collect()}
    assert "http://h0.example/optout" not in got1
    assert len(got1) == 12

    out2 = str(tmp_path / "no_screen")
    run(_args(p, out2, min_tokens=2))
    got2 = {r["url"] for r in spark.read.parquet(f"{out2}/extracted").collect()}
    assert "http://h0.example/optout" in got2

    # --resume + a CHANGED semantics flag must redo the stage, not
    # skip the new screen (stage params are part of the manifest
    # commit — review r3)
    run(_args(p, out2, min_tokens=2, respect_noindex=True, resume=True))
    got3 = {r["url"] for r in spark.read.parquet(f"{out2}/extracted").collect()}
    assert "http://h0.example/optout" not in got3


def test_fix_lines_stage_cleans_boilerplate_lines(spark, tmp_path):
    """--fix-lines: line-wise corrections run between extract and
    near-dup; counter/nav lines vanish from every downstream table."""
    import datetime

    from jobs.corpus import run

    # the counter/nav/menu lines ride as HEADINGS followed by content
    # (the one block shape the extractor keeps short boilerplate in —
    # a standalone short <p> is stripped by extraction itself);
    # boilerplate that SURVIVES extraction is exactly linefix's target
    words = "Sufficiently long body text for the extractor to keep. " * 8
    doc = (
        "<html><head><title>t</title></head><body>"
        "<h2>HOME NEWS SPORT WEATHER</h2><p>" + words + "</p>"
        "<h3>3 likes</h3><h3>Sign in</h3>"
        "<p>" + words.replace("keep", "hold") + "</p>"
        "</body></html>"
    )
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            (f"http://h{i}.example/a", ts, doc.encode(), None, "en")
            for i in range(8)
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    p = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(p)

    out = str(tmp_path / "corpus")
    # boilerplate is ~5.3% of the doc's words: above the default 5%
    # doc-drop threshold, so loosen it — the cleaning is what's under
    # test here (the threshold itself is pinned in tests/test_linefix)
    res = run(
        _args(p, out, min_tokens=2, fix_lines=True, max_removed_frac=0.1)
    )
    assert "linefix" in res["stages"]
    extracted = spark.read.parquet(f"{out}/extracted").collect()
    assert any("3 likes" in (r["text"] or "") for r in extracted)
    fixed = spark.read.parquet(f"{out}/linefixed").collect()
    assert fixed, "every doc dropped — threshold regression"
    assert all("3 likes" not in r["text"] for r in fixed)
    assert all("Sign in" not in r["text"] for r in fixed)
    assert all("HOME NEWS" not in r["text"] for r in fixed)
    assert all("extractor to keep" in r["text"] for r in fixed)
    final = spark.read.parquet(f"{out}/final").collect()
    assert final and all("3 likes" not in r["text"] for r in final)


def test_dsir_stage_selects_toward_target(spark, tmp_path, pages_path):
    """--dsir-target: the selection stage runs after curation, keeps
    ~the requested fraction, and re-runs under --resume when the
    fraction changes (params are part of the stage commit)."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus")
    base = run(_args(pages_path, out, min_tokens=5))
    kept = spark.read.parquet(f"{out}/curate/kept")
    # target = a slice of the pool itself (distribution sanity only)
    tpath = str(tmp_path / "target")
    kept.limit(10).write.parquet(tpath)

    out2 = str(tmp_path / "corpus_dsir")
    res = run(
        _args(
            pages_path, out2, min_tokens=5,
            dsir_target=tpath, dsir_fraction=0.5,
        )
    )
    n_pool = res["stages"]["curate"]["rows"]
    n_sel = res["stages"]["dsir"]["rows"]
    assert 0 < n_sel <= n_pool
    assert abs(n_sel - 0.5 * n_pool) <= max(2, 0.1 * n_pool)
    assert res["stages"]["sample"]["rows"] == n_sel  # final reads dsir

    # changed fraction + --resume: dsir and downstream re-run
    res2 = run(
        _args(
            pages_path, out2, min_tokens=5, resume=True,
            dsir_target=tpath, dsir_fraction=0.25,
        )
    )
    n_sel2 = res2["stages"]["dsir"]["rows"]
    assert n_sel2 < n_sel


def test_robots_screen_gates_extraction(spark, tmp_path):
    """--robots: URLs a host's robots.txt disallows for the crawler
    never reach the extracted table; other hosts are untouched."""
    import datetime

    from jobs.corpus import run

    doc = (
        "<html><head><title>t</title></head><body><p>"
        + "Sufficiently long body text for the extractor to keep. " * 8
        + "</p></body></html>"
    ).encode()
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            ("http://a.example/private/1", ts, doc, None, "en"),
            ("http://a.example/public/1", ts, doc, None, "en"),
            ("http://b.example/private/1", ts, doc, None, "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    p = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(p)
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /private/\n")],
        "host string, body string",
    )
    rp = str(tmp_path / "robots")
    robots.write.mode("overwrite").parquet(rp)

    out = str(tmp_path / "corpus")
    run(_args(p, out, min_tokens=2, robots=rp))
    got = {r["url"] for r in spark.read.parquet(f"{out}/extracted").collect()}
    assert got == {"http://a.example/public/1", "http://b.example/private/1"}


def test_license_filter_gates_extraction(spark, tmp_path):
    """--license-filter strict: only pages with a rel=license CC
    permissive declaration reach the extracted table."""
    import datetime

    from jobs.corpus import run

    body = "<p>" + "Plenty of page content for extraction here. " * 8 + "</p>"
    lic = (
        '<a rel="license" '
        'href="https://creativecommons.org/licenses/by/4.0/">CC</a>'
    )
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            ("http://a.example/open", ts,
             f"<html><body>{body}{lic}</body></html>".encode(), None, "en"),
            ("http://a.example/closed", ts,
             f"<html><body>{body}</body></html>".encode(), None, "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    p = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(p)

    out = str(tmp_path / "corpus")
    run(_args(p, out, min_tokens=2, license_filter="strict"))
    got = {r["url"] for r in spark.read.parquet(f"{out}/extracted").collect()}
    assert got == {"http://a.example/open"}


def test_monolingual_stage_screens_and_rewrites(spark, tmp_path):
    """--monolingual en: es-majority docs drop out before near-dup;
    en-majority docs lose their embedded es paragraphs."""
    import datetime

    from jobs.corpus import run

    en = (
        "the committee said that it will review all of the proposals "
        "and they were sure that this can be done when the time is right"
    )
    es = (
        "el comité dijo que se van a revisar todas las propuestas "
        "porque es muy importante para el futuro de la ciudad"
    )
    mk = lambda paras: (
        "<html><head><title>t</title></head><body>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</body></html>"
    ).encode()
    ts = datetime.datetime(2024, 1, 1)
    pages = spark.createDataFrame(
        [
            ("http://a.example/en", ts, mk([en, en]), None, "en"),
            ("http://a.example/mixed", ts, mk([en, es, en]), None, "en"),
            ("http://a.example/es", ts, mk([es, es]), None, "es"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    p = str(tmp_path / "pages")
    pages.write.mode("overwrite").parquet(p)

    out = str(tmp_path / "corpus")
    res = run(_args(p, out, min_tokens=2, monolingual="en"))
    assert "langsplit" in res["stages"]
    mono = {
        r["url"]: r["text"]
        for r in spark.read.parquet(f"{out}/monolingual").collect()
    }
    assert set(mono) == {"http://a.example/en", "http://a.example/mixed"}
    assert "comité" not in mono["http://a.example/mixed"]
    assert "committee" in mono["http://a.example/mixed"]


def test_resume_gates_on_downstream_stage_params(spark, tmp_path, pages_path):
    """Changing a TAIL stage's semantics flag on --resume must redo
    that stage (and only from it): --sample-fraction and the curate
    screen params are part of the manifest commit, and the curate
    stage honors the dirty cascade like every stage() stage."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus_gate")
    run(_args(pages_path, out, min_tokens=5, sample_fraction=1.0))
    before = _stage_mtimes(out)
    n_all = spark.read.parquet(f"{out}/final").count()

    # changed sample fraction: upstream untouched, sample redone
    res2 = run(
        _args(pages_path, out, min_tokens=5, sample_fraction=0.4, resume=True)
    )
    after = _stage_mtimes(out)
    for t in ("extracted", "canonical", "cleaned", "curate/kept"):
        assert after[t] == before[t], t
    assert after["final"] > before["final"]
    assert res2["stages"]["sample"]["rows"] < n_all

    # changed curate screen (min_tokens): curate AND sample redone
    before = after
    run(_args(pages_path, out, min_tokens=6, sample_fraction=0.4, resume=True))
    after = _stage_mtimes(out)
    for t in ("extracted", "canonical", "cleaned"):
        assert after[t] == before[t], t
    for t in ("curate/kept", "final"):
        assert after[t] > before[t], t


def test_resume_gates_on_stage_input_table(spark, tmp_path, pages_path):
    """Toggling --fix-lines on a resumed run changes what neardup
    READS (linefixed vs extracted); the input table is recorded in the
    stage params so neardup and everything downstream redo."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus_input_gate")
    run(_args(pages_path, out, min_tokens=5, fix_lines=True))
    before = _stage_mtimes(out)

    # drop --fix-lines: extract params unchanged (skips), but neardup's
    # input flips back to extracted -> neardup and downstream rebuild
    run(_args(pages_path, out, min_tokens=5, resume=True))
    after = _stage_mtimes(out)
    assert after["extracted"] == before["extracted"]
    for t in ("canonical", "cleaned", "curate/kept", "final"):
        assert after[t] > before[t], t


def test_curate_stage_compression_and_code_knobs(spark, tmp_path, pages_path):
    """--compression-min/--compression-max and --drop-code flow through
    the corpus job's curate stage, and changing them gates resume (the
    curate stage re-runs; semantics-affecting params are in the
    manifest)."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus")
    res = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            compression_min=0.05,
            compression_max=0.98,
            drop_code=True,
        )
    )
    kept = spark.read.parquet(f"{out}/curate/kept")
    assert "compression_ratio" in kept.columns
    assert "is_code" in kept.columns
    assert kept.filter("compression_ratio < 0.05").count() == 0
    assert kept.filter("is_code").count() == 0

    with open(f"{out}/corpus_manifest.json") as f:
        params = json.load(f)["stages"]["curate"]["params"]
    assert params["compression_min"] == 0.05 and params["drop_code"] is True

    # tightening the band must invalidate the curate stage on resume
    before = os.path.getmtime(os.path.join(out, "curate", "kept", "_SUCCESS"))
    res2 = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            compression_min=0.20,
            compression_max=0.98,
            drop_code=True,
            resume=True,
        )
    )
    after = os.path.getmtime(os.path.join(out, "curate", "kept", "_SUCCESS"))
    assert after > before
    assert res2["stages"]["curate"]["rows"] <= res["stages"]["curate"]["rows"]


def test_temperature_mix_stage(spark, tmp_path, pages_path):
    """--mix-alpha flattens the lang mix between rebalance and splits;
    the stage is params-gated like the others."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus")
    res = run(
        _args(
            pages_path,
            out,
            min_tokens=5,
            sample_fraction=1.0,
            mix_alpha=0.5,
        )
    )
    assert "tempmix" in res["stages"]
    assert os.path.exists(os.path.join(out, "tempered", "_SUCCESS"))
    # tempmix runs on the sampled final table (downsample-only)
    assert 0 < res["stages"]["tempmix"]["rows"] <= res["stages"]["sample"]["rows"]


def test_report_stage_writes_card_and_compares(spark, tmp_path, pages_path):
    """--report writes <output>/corpus_card.json over the final docs
    table; --report-compare adds crawl-over-crawl deltas against a
    previous run's card."""
    from jobs.corpus import run

    out1 = str(tmp_path / "c1")
    res1 = run(
        _args(pages_path, out1, min_tokens=5, sample_fraction=0.5,
              report=True)
    )
    card_path = f"{out1}/corpus_card.json"
    assert os.path.exists(card_path)
    with open(card_path) as f:
        card1 = json.load(f)
    assert card1["table"] == "final"
    assert card1["card"]["totals"]["docs"] == res1["stages"]["sample"]["rows"]
    assert res1["card"]["docs"] == card1["card"]["totals"]["docs"]

    # second run keeps everything -> deltas vs run 1 are the size gap
    out2 = str(tmp_path / "c2")
    res2 = run(
        _args(pages_path, out2, min_tokens=5, sample_fraction=1.0,
              report=True, report_compare=card_path)
    )
    with open(f"{out2}/corpus_card.json") as f:
        card2 = json.load(f)
    d = card2["card"]["compare"]["delta"]
    assert d["totals"]["docs"] == (
        res2["stages"]["sample"]["rows"] - res1["stages"]["sample"]["rows"]
    )


def test_resume_skips_partitioned_split_stage(spark, tmp_path, pages_path):
    """The splits table is written partitionBy(split) under the
    session's dynamic partitionOverwriteMode, whose commit path skips
    the root _SUCCESS — without the stage-level marker guarantee,
    every --resume re-ran split and cascaded through pack/export."""
    from jobs.corpus import run

    out = str(tmp_path / "corpus_sp")
    kw = dict(
        min_tokens=5,
        sample_fraction=1.0,
        splits="train=0.8,val=0.1,test=0.1",
        pack_budget=200,
    )
    run(_args(pages_path, out, **kw))
    marker = os.path.join(out, "splits", "_SUCCESS")
    assert os.path.exists(marker)
    mark_mtimes = {
        t: os.path.getmtime(os.path.join(out, t, "_SUCCESS"))
        for t in ("splits", "examples", "final")
    }
    res2 = run(_args(pages_path, out, resume=True, **kw))
    after = {
        t: os.path.getmtime(os.path.join(out, t, "_SUCCESS"))
        for t in ("splits", "examples", "final")
    }
    assert after == mark_mtimes  # every stage skipped, nothing rewritten
    assert set(res2["stages"]) >= {"split", "pack"}


# -- kill-mid-stage chaos harness (VERDICT r3 next #7) ----------------

# a 12-stage configuration: every non-data-dependent opt-in enabled
CHAOS_KW = dict(
    min_tokens=5,
    sample_fraction=0.5,
    fix_lines=True,
    monolingual="en",
    substr_w=8,
    max_host_share=0.5,
    splits="train=0.8,val=0.2",
    pack_budget=128,
    pack_shards=4,
    export_shard_mb=1,
)
CHAOS_STAGES = [
    "extract", "linefix", "langsplit", "neardup", "linedup",
    "substrdedup", "curate", "sample", "rebalance", "split", "pack",
    "export",
]


def _artifact_bytes(out):
    """(shard_dir, sorted file bytes) for the run's final artifact
    (export shard tree). Keyed by directory, not filename — Spark
    part names embed a per-write UUID; byte-identity is the CONTENT
    contract. Markers and .crc sidecars excluded."""
    got = {}
    root = os.path.join(out, "export")
    for dirpath, _dirs, files in os.walk(root):
        blobs = []
        for name in sorted(files):
            if name.startswith(("_", ".")):
                continue
            with open(os.path.join(dirpath, name), "rb") as f:
                blobs.append(f.read())
        if blobs:
            got[os.path.relpath(dirpath, root)] = sorted(blobs)
    return got


@pytest.fixture(scope="module")
def chaos_ref(spark, tmp_path_factory, pages_path):
    from jobs.corpus import run

    out = str(tmp_path_factory.mktemp("chaosref") / "corpus")
    res = run(_args(pages_path, out, **CHAOS_KW))
    # the config really exercises all 12 stages, in this order
    assert list(res["stages"]) == CHAOS_STAGES
    return out, res


@pytest.mark.parametrize("kill_at", range(1, len(CHAOS_STAGES) + 1))
def test_kill_mid_stage_resume_byte_equals_single_shot(
    spark, tmp_path, pages_path, chaos_ref, monkeypatch, kill_at
):
    """Chaos harness: crash the job DURING stage k's manifest commit
    (output table + _SUCCESS already on disk, manifest entry missing —
    the exact window the late-r3 _SUCCESS bug lived in), then --resume
    and require the stage accounting AND the final export shards to
    byte-equal the single-shot reference, for EVERY stage k."""
    import jobs.corpus as jc

    ref_out, ref_res = chaos_ref
    out = str(tmp_path / "corpus")
    real = jc._commit_stage
    calls = {"n": 0}

    def chaotic(out_dir, manifest, stage, info):
        calls["n"] += 1
        if calls["n"] == kill_at:
            raise RuntimeError(f"chaos_kill_before_commit:{stage}")
        real(out_dir, manifest, stage, info)

    monkeypatch.setattr(jc, "_commit_stage", chaotic)
    with pytest.raises(RuntimeError, match="chaos_kill"):
        jc.run(_args(pages_path, out, **CHAOS_KW))
    monkeypatch.setattr(jc, "_commit_stage", real)

    res = jc.run(_args(pages_path, out, resume=True, **CHAOS_KW))
    assert {k: v["rows"] for k, v in res["stages"].items()} == {
        k: v["rows"] for k, v in ref_res["stages"].items()
    }
    assert _artifact_bytes(out) == _artifact_bytes(ref_out)


def test_resume_after_legacy_extract_manifest(tmp_path, pages_path, chaos_ref):
    """A manifest whose extract entry carries only rows and wall_s (no
    params key) — the shape earlier runs left behind, and the shape an
    extract stage built outside this job writes — resumes after
    extract: extract is skipped, and every later stage lands on the
    single-shot row counts and export bytes."""
    import shutil

    from jobs.corpus import run

    ref_out, ref_res = chaos_ref
    out = str(tmp_path / "corpus")
    shutil.copytree(os.path.join(ref_out, "extracted"), f"{out}/extracted")
    with open(f"{out}/corpus_manifest.json", "w") as f:
        json.dump(
            {"stages": {"extract": {
                "rows": ref_res["stages"]["extract"]["rows"], "wall_s": 1.0,
            }}},
            f,
        )
    marker = f"{out}/extracted/_SUCCESS"
    before = os.path.getmtime(marker)

    res = run(_args(pages_path, out, resume=True, **CHAOS_KW))
    assert os.path.getmtime(marker) == before
    assert res["stages"]["extract"]["wall_s"] == 1.0
    assert {k: v["rows"] for k, v in res["stages"].items()} == {
        k: v["rows"] for k, v in ref_res["stages"].items()
    }
    assert _artifact_bytes(out) == _artifact_bytes(ref_out)
