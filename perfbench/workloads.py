"""The benchmark's workloads: set-up, the timed closed loop of job
calls, output checks and the traced per-layer split.

Every workload is a closed loop of one client: one job call at a time
from one Python process, the next call only after the previous one returned.
The system is driven only through its public entry points
(jobs/ingest.py:run, jobs/corpus.py:run, engine.pipeline.build_*,
engine.kernels.*, engine.ops.*, engine.io.tables.write_table) and timed
from outside.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
import types
import zlib

from perfbench import corpora, procstat, sparklog
from perfbench.trace import Tracer, covered, layer_self_times

# workload -> (corpus kind, pages per job call)
WORKLOADS = {
    "ingest-mix": ("mix", 300),
    "curate-corpus": ("mix-syndicated", 300),
    "ingest-pdf": ("pdf", 400),
}
# --seed picks one of POOL corpora (seeds 1..POOL), each with checksums
# pinned in pinned.json; seed 1 is the main seed, seed 2 the held-out one
POOL = 10
SETUP_REPEATS = 3
KERNEL_SAMPLE = 120
# the corpus job's stages after extract, as the workload runs them
CORPUS_ARGS = dict(
    fix_lines=True, substr_w=50, gopher_repetition=True, lm_filter=True
)
OPS_STAGES = ("linefix", "neardup", "linedup", "substrdedup", "curate")
LAYERS = (
    "engine.session", "engine.io", "engine.kernels", "engine.udfs",
    "engine.pipeline", "engine.ops", "jobs", "sched", "perfbench",
)


class CheckFailed(Exception):
    pass


def corpus_seed(seed: int) -> int:
    return (seed - 1) % POOL + 1


def read_table(out: str, name: str, cols: list[str]) -> list[list]:
    """Columns of a (possibly partitioned) parquet table, read in this
    process with pyarrow; Spark's _SUCCESS and .crc files are skipped."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(out, name), columns=cols)
    return [t.column(c).to_pylist() for c in cols]


class Run:
    """One benchmark run of one workload from one seed."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 size: int | None = None):
        self.workload = workload
        self.kind, default_n = WORKLOADS[workload]
        self.n = size or default_n
        self.seed = seed
        self.corpus_seed = corpus_seed(seed)
        self.seconds = seconds
        # the CPUs this process may run on, as `nproc` counts them
        self.nproc = len(os.sched_getaffinity(0))
        state = os.path.join(root, ".perfbench")
        self.cache = os.path.join(
            state, "cache", f"{workload}-s{self.corpus_seed}-n{self.n}")
        self.work = os.path.join(state, "work", str(os.getpid()))
        self.tracer = Tracer()
        self.spark = None
        self.ref = None

    # -- session ----------------------------------------------------------

    def start_session(self, cores: int, event_log: str | None = None):
        from engine.session import get_spark

        extra = {"spark.eventLog.enabled": "true" if event_log else "false"}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            extra.update({
                "spark.eventLog.dir": event_log,
                # zstd is Spark 4's default codec; zstandard is absent
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        # the shuffle width follows the core count
        self.spark = get_spark(
            master=f"local[{cores}]", app_name="perfbench",
            shuffle_partitions=cores, extra=extra,
        )
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark and the JVM, and wait until the JVM has exited (its
        Python workers end with it)."""
        from pyspark import SparkContext

        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def warm_workers(self, cores: int) -> None:
        """One UDF task per core, so every Python worker is forked and
        has imported the kernels before the timed calls."""
        from pyspark.sql import functions as F

        from engine.udfs import embed_udf

        self.spark.range(0, 16 * cores, 1, cores).select(
            embed_udf(F.col("id").cast("string"))
        ).write.format("noop").mode("overwrite").save()

    # -- set-up -------------------------------------------------------------

    def setup(self) -> dict:
        """SETUP_REPEATS set-ups: session start, corpus cache check (or
        generation), worker warm-up; setup_s is their median. The
        first one also pays JVM launch and any cache miss."""
        totals, starts, warms = [], [], []
        for _ in range(SETUP_REPEATS):
            self.stop_session()
            with self.tracer.span("setup", "engine.session"):
                t0 = time.monotonic()
                with self.tracer.span("session.start", "engine.session"):
                    self.start_session(self.nproc)
                t1 = time.monotonic()
                with self.tracer.span("corpus", "perfbench"):
                    self.prepare_inputs()
                t2 = time.monotonic()
                with self.tracer.span("worker.warm", "engine.udfs"):
                    self.warm_workers(self.nproc)
                t3 = time.monotonic()
            totals.append(t3 - t0)
            starts.append(t1 - t0)
            warms.append(t3 - t2)
        return {
            "setup_s": statistics.median(totals),
            "session.start_s": statistics.median(starts),
            "session.worker_warm_s": statistics.median(warms),
            "setup_all_s": [round(x, 3) for x in totals],
        }

    def prepare_inputs(self) -> None:
        self.pages = corpora.ensure_pages(
            self.cache, self.kind, self.corpus_seed, self.n)
        if self.workload == "curate-corpus":
            self.ensure_extracted()

    def ensure_extracted(self) -> None:
        """The corpus job's extract stage output and its manifest entry,
        built once per (seed, size) so every call resumes after it. The
        manifest is written last, so it marks a complete build."""
        from engine.pipeline import build_extracted

        path = os.path.join(self.cache, "extracted")
        manifest = os.path.join(self.cache, "extract_manifest.json")
        if not os.path.exists(manifest):
            t0 = time.monotonic()
            build_extracted(self.spark.read.parquet(self.pages)).write.mode(
                "overwrite"
            ).parquet(path)
            rows = self.spark.read.parquet(path).count()
            with open(manifest + ".tmp", "w") as f:
                json.dump({"stages": {"extract": {
                    "rows": rows, "wall_s": round(time.monotonic() - t0, 2)
                }}}, f)
            os.replace(manifest + ".tmp", manifest)
        self.extracted = path

    # -- one job call -------------------------------------------------------

    def fresh_output(self, tag: str) -> str:
        out = os.path.join(self.work, tag)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        if self.workload == "curate-corpus":
            os.makedirs(out)
            shutil.copytree(self.extracted, os.path.join(out, "extracted"))
            shutil.copy(
                os.path.join(self.cache, "extract_manifest.json"),
                os.path.join(out, "corpus_manifest.json"),
            )
        return out

    def call(self, out: str) -> dict:
        if self.workload == "curate-corpus":
            from jobs.corpus import run as corpus_run

            return corpus_run(types.SimpleNamespace(
                pages=self.pages, output=out, resume=True,
                master=f"local[{self.nproc}]", **CORPUS_ARGS,
            ))
        from jobs.ingest import run as ingest_run

        return ingest_run(types.SimpleNamespace(
            input=self.pages, output=out, master=f"local[{self.nproc}]"
        ))

    def timed_call(self, tag: str, span_name: str, layer: str = "jobs") -> dict:
        out = self.fresh_output(tag)
        host = procstat.HostWindow()
        with host, procstat.TreeWatch() as tw, self.tracer.span(
            span_name, layer
        ) as sp:
            t0 = time.monotonic()
            try:
                result = self.call(out)
                error = None
            except Exception as exc:  # a failed call fails every doc
                result, error = None, f"{type(exc).__name__}: {exc}"
            wall = time.monotonic() - t0
        rec = {"out": out, "wall": wall, "cpu_s": tw.cpu_s,
               "peak_rss": tw.peak_rss, "result": result, "error": error,
               "span": sp, "host": host.record()}
        rec.update(self.check(rec))
        return rec

    # -- checks -------------------------------------------------------------

    def input_docs(self) -> int:
        if self.workload == "curate-corpus":
            return self.extract_rows()
        return self.n

    def extract_rows(self) -> int:
        with open(os.path.join(self.cache, "extract_manifest.json")) as f:
            return json.load(f)["stages"]["extract"]["rows"]

    def reference(self) -> dict:
        if self.ref is None:
            self.ref = corpora.reference(corpora.read_pages(self.pages))
        return self.ref

    def check_ingest(self, out: str) -> tuple[set, int, dict]:
        """Per-url comparison of the extracted and chunks tables with the
        reference, and vectors against chunks. Returns (urls whose output
        is wrong or missing, urls extracted with no error, checksums)."""
        ref = self.reference()
        t = read_table(out, "extracted", ["url", "content_sha256", "error"])
        ex = {u: (sha, err is not None) for u, sha, err in zip(*t)}
        ch: dict[str, list] = {}
        for u, sha in zip(*read_table(out, "chunks", ["url", "chunk_sha256"])):
            c = ch.setdefault(u, [0, 0])
            c[0] += zlib.crc32(sha.encode())
            c[1] += 1
        ch = {u: tuple(c) for u, c in ch.items()}
        bad = {
            url for url, e in ref.items()
            if ex.get(url) != (e["sha"], e["error"])
            or ch.get(url, (0, 0)) != (e["chunk_crc"], e["n_chunks"])
        } | (set(ex) - set(ref))
        n_chunks = sum(n for _c, n in ch.values())
        if len(read_table(out, "vectors", ["vec_id"])[0]) != n_chunks:
            bad = set(ref)
        ok = sum(1 for url, e in ref.items() if url not in bad and not e["error"])
        sums = {
            "extracted": corpora.crc_sum(sha for sha, _err in ex.values()),
            "extracted_rows": len(ex),
            "chunks": sum(c for c, _n in ch.values()),
            "chunks_rows": n_chunks,
        }
        return bad, ok, sums

    def check(self, rec: dict) -> dict:
        """Doc counts (input, expected in the output, ok, failed) and
        checksums of one call."""
        docs = self.input_docs()
        if self.workload == "curate-corpus":
            expected = docs
        else:
            expected = len(self.reference())
        if rec["error"] is not None:
            return {"docs": docs, "expected": expected, "ok": 0,
                    "failed": docs, "sums": {}}
        if self.workload == "curate-corpus":
            return self.check_curate(rec, docs)
        bad, ok, sums = self.check_ingest(rec["out"])
        if rec["result"].get("batches_committed") != 8:
            bad, ok = set(self.reference()), 0
        return {"docs": docs, "expected": expected, "ok": ok,
                "failed": min(docs, len(bad)), "sums": sums}

    def check_curate(self, rec: dict, docs: int) -> dict:
        stages = rec["result"]["stages"]
        texts = read_table(rec["out"], "final", ["text"])[0]
        sums = {
            "kept": corpora.crc_sum(
                corpora.sha256_hex(t) for t in texts if t is not None),
            "kept_rows": len(texts),
        }
        rejected = len(read_table(rec["out"], "curate/rejected", ["url"])[0])
        # every doc entering curate is kept or rejected with a reason,
        # and the sample (fraction 1.0) keeps every kept doc
        accounted = (
            stages["curate"]["rows"] + rejected == stages["substrdedup"]["rows"]
            and sums["kept_rows"] == stages["curate"]["rows"]
            and set(OPS_STAGES) <= set(stages)
        )
        failed = 0 if accounted else docs
        return {"docs": docs, "expected": docs, "ok": docs - failed,
                "failed": failed, "sums": sums}

    def pin_key(self) -> str:
        return f"n{self.n}/s{self.corpus_seed}"

    def check_pinned(self, sums: dict, pinned: dict) -> list[str]:
        """Compare checksums with the values pinned in the benchmark for
        this (workload, corpus seed, size). Returns the mismatches; a key
        with no pinned values is one."""
        want = pinned.get(self.workload, {}).get(self.pin_key())
        if not want:
            return [f"no pinned checksums for {self.workload} {self.pin_key()}"]
        return [f"pinned {name}: {sums.get(name)} != {v}"
                for name, v in sorted(want.items()) if sums.get(name) != v]

    # -- the timed closed loop ------------------------------------------------

    def loop(self) -> list[dict]:
        """Whole job calls, one at a time, while the next one is expected
        to end inside the --seconds window (at least one call)."""
        calls = []
        begin = time.monotonic()
        while True:
            calls.append(self.timed_call(f"call{len(calls)}", "call"))
            if time.monotonic() - begin + calls[-1]["wall"] > self.seconds:
                return calls

    # -- traced split ---------------------------------------------------------

    def traced(self) -> tuple[dict, list]:
        """Per-layer metrics: one call with Spark's event log on, layer
        replays on the same input, the kernel sample, and the 1-core
        extraction rate for the scaling ratio. The tracing overhead is
        the traced call against an untraced call made just before it;
        a discarded untraced call comes first, so that neither of the
        two compared calls is the JVM's first job call. Returns the
        metrics and the job calls made."""
        from pyspark.sql import functions as F

        m: dict[str, float] = {}
        # their spans are kept out of the per-layer self times
        calls = [self.timed_call(tag, "call", layer="baseline")
                 for tag in ("warmup", "base")]
        untraced_rate = calls[1]["docs"] / calls[1]["wall"]
        # extraction rate at local[nproc], untraced, for the scaling ratio
        rate_n = self.extract_rate()

        ev_dir = os.path.join(self.work, "eventlog")
        shutil.rmtree(ev_dir, ignore_errors=True)
        self.stop_session()
        self.start_session(self.nproc, event_log=ev_dir)
        self.warm_workers(self.nproc)
        rec = self.timed_call("traced", "call.traced")
        calls.append(rec)
        if rec["failed"]:
            raise CheckFailed(f"traced call failed: {rec['error']}")
        call_sp = rec["span"]
        spans = {}

        def replay(name, layer, fn):
            with self.tracer.span(name, layer) as sp:
                out = fn()
            spans[name] = sp
            return out

        if self.workload == "curate-corpus":
            replay("io.scan", "engine.io", lambda: self.spark.read.parquet(
                self.extracted).agg(F.sum(F.length("text"))).collect())
            pairs, merged = replay("ops.pairs", "engine.ops",
                                   lambda: self.pair_counts(rec["out"]))
            replay("io.write", "engine.io", lambda: self.write_tables(
                rec["out"], {"final": None}))
        else:
            from engine.pipeline import build_chunks, build_extracted, build_vectors

            def noop(df):
                df.write.format("noop").mode("overwrite").save()

            rd = self.spark.read.parquet
            replay("io.scan", "engine.io", lambda: rd(self.pages).agg(
                F.sum(F.length("html"))).collect())
            replay("pipeline.extract", "engine.pipeline",
                   lambda: noop(build_extracted(rd(self.pages))))
            replay("pipeline.chunk", "engine.pipeline", lambda: noop(
                build_chunks(rd(os.path.join(rec["out"], "extracted")))))
            replay("pipeline.vector", "engine.pipeline", lambda: noop(
                build_vectors(rd(os.path.join(rec["out"], "chunks")))))
            replay("io.write", "engine.io", lambda: self.write_tables(
                rec["out"], {"extracted": ["day", "pbucket"],
                             "chunks": ["pbucket"], "vectors": ["pbucket"]}))
        self.stop_session()

        with self.tracer.span("kernels", "engine.kernels"):
            km = self.kernel_sample(rec["out"])
        rate_1 = self.extract_rate(cores=1)

        log = sparklog.parse(os.path.join(ev_dir, os.listdir(ev_dir)[0]))

        def win(sp):
            return sparklog.window(
                log, sp["epoch_ms"],
                sp["epoch_ms"] + 1000.0 * (sp["end"] - sp["start"]),
            )

        cw = win(call_sp)
        wall = rec["wall"]
        docs = rec["docs"]
        # Spark jobs of the call become child spans: the call's self
        # time is then the job's own Python time with no Spark job running
        off = call_sp["start"] - call_sp["epoch_ms"] / 1000.0
        for sub, end, _sids in cw["jobs"]:
            self.tracer.add("spark.job", "sched", off + sub / 1000.0,
                            off + end / 1000.0, call_sp["id"])

        udf = cw["udf"]
        run_ms = sum(u.get(sparklog.PY_RUN, 0.0) for u in udf.values())
        m["udfs.python_run_s"] = run_ms / 1000.0
        m["udfs.python_start_s"] = sum(
            u.get(sparklog.PY_START, 0.0) for u in udf.values()) / 1000.0
        m["udfs.arrow_sent_mb"] = sum(
            u.get(sparklog.PY_SENT, 0.0) for u in udf.values()) / 1e6
        m["udfs.arrow_returned_mb"] = sum(
            u.get(sparklog.PY_RETURNED, 0.0) for u in udf.values()) / 1e6
        rx = udf.get("ArrowEvalPython:route_extract_udf", {})
        rx_rows = rx.get(sparklog.ROWS_OUT, 0.0)
        m["udfs.rows_per_input_doc"] = rx_rows / self.n if rx else 0.0
        m["udfs.useful_frac"] = (
            km["route_ms_per_doc"] * rx_rows / rx[sparklog.PY_RUN]
            if rx.get(sparklog.PY_RUN) else 0.0
        )

        heavy = max(udf, key=lambda k: udf[k].get(sparklog.PY_RUN, 0.0),
                    default=None)
        m["sched.jobs"] = len(cw["jobs"])
        m["sched.tasks"] = cw["n_tasks"]
        m["sched.task_skew"] = sparklog.task_skew(
            udf[heavy]["stages"] if heavy else [])
        m["sched.gap_s"] = wall - covered(
            [(st.submit_ms, st.end_ms) for st in cw["stages"]],
            call_sp["epoch_ms"], call_sp["epoch_ms"] + 1000.0 * wall,
        ) / 1000.0
        m["sched.gc_s"] = cw["gc_s"]
        m["sched.scaling_eff_1to4"] = rate_n / (self.nproc * rate_1)

        def wall_of(name):
            sp = spans.get(name)
            return sp["end"] - sp["start"] if sp else 0.0

        m["io.scan_s"] = wall_of("io.scan")
        scanned = self.extracted if self.workload == "curate-corpus" else self.pages
        m["io.scan_mb"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _dirs, files in os.walk(scanned)
            for f in files if f.endswith(".parquet")
        ) / 1e6
        m["io.write_s"] = wall_of("io.write")
        m["io.write_mb"] = win(spans["io.write"])["output_mb"]
        for k in ("extract", "chunk", "vector"):
            m[f"pipeline.{k}_s"] = wall_of(f"pipeline.{k}")
        m["pipeline.shuffle_mb"] = (
            win(spans["pipeline.extract"])["shuffle_mb"]
            if "pipeline.extract" in spans else 0.0
        )
        m["pipeline.dedup_dropped_frac"] = (
            0.0 if self.workload == "curate-corpus"
            else (self.n - len(self.reference())) / self.n
        )

        stages = rec["result"]["stages"] if self.workload == "curate-corpus" else {}
        for s in OPS_STAGES:
            m[f"ops.{s}_s"] = float(stages.get(s, {}).get("wall_s", 0.0))
        if stages:
            m["ops.candidate_pairs"] = pairs
            m["ops.pair_yield"] = merged / pairs if pairs else 0.0
            m["ops.spill_mb"] = cw["spill_mb"]
            m["ops.shuffle_mb"] = cw["shuffle_mb"]
            m["ops.kept_frac"] = rec["sums"]["kept_rows"] / docs
            layer_walls = sum(float(v.get("wall_s", 0.0))
                              for k, v in stages.items() if k != "extract")
        else:
            for k in ("candidate_pairs", "pair_yield", "spill_mb",
                      "shuffle_mb", "kept_frac"):
                m[f"ops.{k}"] = 0.0
            layer_walls = sum(m[f"pipeline.{k}_s"]
                              for k in ("extract", "chunk", "vector"))
            layer_walls += m["io.write_s"]
        m["jobs.overhead_s"] = wall - layer_walls
        m["trace.span_cover_frac"] = layer_walls / wall

        m.update({f"kernels.{k}": v for k, v in km.items()
                  if k != "route_ms_per_doc"})

        traced_rate = docs / wall
        m["trace.traced_docs_per_s"] = traced_rate
        m["trace.untraced_docs_per_s"] = untraced_rate
        m["trace.overhead_frac"] = 1.0 - traced_rate / untraced_rate

        selfs = layer_self_times(self.tracer.spans)
        for layer in LAYERS:
            m[f"self_s.{layer}"] = selfs.get(layer, 0.0)
        return m, calls

    def write_tables(self, out: str, tables: dict) -> None:
        from engine.io.tables import write_table

        for name, parts in tables.items():
            write_table(self.spark.read.parquet(os.path.join(out, name)),
                        os.path.join(self.work, "replay", name),
                        partition_by=parts)

    def pair_counts(self, out: str) -> tuple[int, int]:
        """Candidate pairs of the neardup stage's input, and the docs
        those pairs merged away (input docs minus canonical docs)."""
        from pyspark.sql import functions as F

        from engine.ops.dedup import minhash_candidate_pairs

        docs = self.spark.read.parquet(os.path.join(out, "linefixed")).filter(
            F.length(F.coalesce(F.col("text"), F.lit(""))) > 0)
        n_in = docs.count()
        pairs = minhash_candidate_pairs(docs, id_col="url").count()
        n_canon = self.spark.read.parquet(os.path.join(out, "canonical")).count()
        return pairs, n_in - n_canon

    def extract_rate(self, cores: int | None = None) -> float:
        """docs/s of build_extracted over the cached pages (forced with a
        noop write), in a fresh untraced session of `cores` cores, or
        in the current session when cores is None."""
        from engine.pipeline import build_extracted

        if cores is not None:
            self.stop_session()
            self.start_session(cores)
            self.warm_workers(cores)
        with self.tracer.span(f"extract.local{cores or self.nproc}", "sched"):
            t0 = time.monotonic()
            build_extracted(self.spark.read.parquet(self.pages)).write.format(
                "noop").mode("overwrite").save()
            dt = time.monotonic() - t0
        if cores is not None:
            self.stop_session()
        return self.n / dt

    def kernel_sample(self, out: str) -> dict:
        """Single-process kernel costs on a seeded sample of the
        workload's pages, and the byte-equality cross-check of the
        single-process texts against the Spark output for the same urls.
        A page's route+extract time is booked to the path it took, so
        an OCR page also carries its empty text-layer attempt, as in the
        UDF."""
        from engine.kernels.chunker import chunk_rows
        from engine.kernels.embed import embed_text
        from engine.kernels.sentences import sentence_spans_batch

        rows = corpora.read_pages(self.pages)
        sample = random.Random(self.seed).sample(rows, min(KERNEL_SAMPLE, len(rows)))
        t = {"html": [0.0, 0], "pdf_text": [0.0, 0], "pdf_ocr": [0.0, 0],
             "error": [0.0, 0]}
        texts = {}
        clock = time.perf_counter
        for url, _ts, raw in sample:
            t0 = clock()
            path, text, err = corpora.route_extract(raw)
            t[path][0] += clock() - t0
            t[path][1] += 1
            if not err:
                texts[url] = text

        vals = list(texts.values())
        t0 = clock()
        sentence_spans_batch(vals)
        sent_s = clock() - t0
        t0 = clock()
        chunks = [c[5] for text in vals for c in chunk_rows(text)]
        chunk_s = clock() - t0
        t0 = clock()
        for c in chunks:
            embed_text(c)
        embed_s = clock() - t0

        self.cross_check(out, texts)

        def per(k):
            return 1000.0 * t[k][0] / t[k][1] if t[k][1] else 0.0

        route_s = sum(v[0] for v in t.values()) + sent_s
        return {
            "html_ms_per_doc": per("html"),
            "pdf_text_ms_per_doc": per("pdf_text"),
            "ocr_ms_per_doc": per("pdf_ocr"),
            "sentences_ms_per_doc": 1000.0 * sent_s / max(1, len(vals)),
            "chunker_ms_per_doc": 1000.0 * chunk_s / max(1, len(vals)),
            "embed_ms_per_chunk": 1000.0 * embed_s / max(1, len(chunks)),
            "ceiling_docs_per_s": len(sample) / route_s,
            "route_ms_per_doc": 1000.0 * route_s / len(sample),
        }

    def cross_check(self, out: str, texts: dict) -> None:
        """The sample's single-process texts must equal the Spark output
        byte for byte (compared through sha256 of the UTF-8 text)."""
        src = self.cache if self.workload == "curate-corpus" else out
        got = dict(zip(*read_table(src, "extracted", ["url", "content_sha256"])))
        bad = [u for u, text in texts.items()
               if got.get(u) != corpora.sha256_hex(text)]
        if bad:
            raise CheckFailed(
                f"kernel cross-check: {len(bad)} of {len(texts)} sample urls "
                f"differ from the Spark output, e.g. {bad[0]}"
            )
