"""Seeded input corpora, cached in the checkout, plus the single-process
reference outputs the Spark results are checked against.

Inputs are a pure function of (workload corpus, seed, size). They are
generated in the benchmark process with `engine.corpus.page_row` (the FIXTURES
mix) or `engine.synth.pdfgen` (the PDF-only corpus) and written with
pyarrow, so the program under test receives only the generated table.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import shutil
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

# one parquet file per scan task: enough splits for local[nproc]
N_FILES = 8

_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def mix_rows(seed: int, n: int) -> list[tuple]:
    """The FIXTURES mix: 80% HTML, 12% text-layer PDF, 5% scans, 3%
    null/garbage; ~2% re-crawls; log-uniform (zipf-like) hosts."""
    from engine.corpus import page_row

    return [page_row(seed, i) for i in range(n)]


_PDF_WORDS = (
    "the of and to in is that it was for on are as with they at be this have "
    "from or had by not but what all were when we there can an your which "
    "time people water long day way thing world life hand part child place "
    "work week case point company number group problem fact night area money "
    "story quality market history question business service power change"
).split()


def _pdf_sentence(rng: random.Random) -> str:
    words = [rng.choice(_PDF_WORDS) for _ in range(rng.randint(6, 18))]
    return " ".join(words).capitalize() + rng.choice(".!?")


def pdf_rows(seed: int, n: int) -> list[tuple]:
    """PDFs only: ~70% text-layer, ~30% raster scans (OCR path); the
    scans carry uppercase ASCII, which the synthetic scan font covers."""
    from engine.synth.pdfgen import make_scanned_pdf, make_text_pdf

    rng = random.Random(seed)
    base = dt.datetime(2025, 1, 1)
    rows = []
    for i in range(n):
        host = f"host{rng.randint(1, 200):04d}.example.com"
        ts = base + dt.timedelta(seconds=rng.randrange(30 * 24 * 3600))
        if rng.random() < 0.7:
            pages = [
                "\n".join(_pdf_sentence(rng) for _ in range(rng.randint(8, 25)))
                for _ in range(rng.randint(2, 5))
            ]
            raw = make_text_pdf(pages, compress=rng.random() < 0.5)
        else:
            lines = [_pdf_sentence(rng).upper() for _ in range(rng.randint(2, 8))]
            raw = make_scanned_pdf("\n".join(lines))
        rows.append((f"https://{host}/en/doc-{i}.pdf", ts, raw, None, "en"))
    return rows


# every SYNDICATE_EVERY-th page is a syndicated copy of an earlier one
SYNDICATE_EVERY = 16
_SYNDICATED = b"<p>Republished from the original site with permission of the author.</p>"


def syndicated_rows(seed: int, n: int) -> list[tuple]:
    """The FIXTURES mix plus syndicated near-copies: every 16th page
    (~6%) re-serves an earlier HTML page under a mirror host with one
    extra paragraph. The mix's only duplicates are re-crawls of one url,
    which extraction removes; these survive it, so the corpus job's
    near-duplicate stage has pairs to merge."""
    rows = mix_rows(seed, n)
    for i in range(SYNDICATE_EVERY, n, SYNDICATE_EVERY):
        url, ts, html, _text, lang = rows[i - SYNDICATE_EVERY // 2]
        if html and html.startswith(b"<html>"):
            mirror = url.replace("https://", f"https://mirror{i % 7}.", 1)
            rows[i] = (mirror, ts, html.replace(b"<body>", b"<body>" + _SYNDICATED, 1),
                       None, lang)
    return rows


GENERATORS = {"mix": mix_rows, "mix-syndicated": syndicated_rows, "pdf": pdf_rows}


def ensure_pages(cache_dir: str, kind: str, seed: int, n: int) -> str:
    """Path of the cached pages table for (kind, seed, n); generates it
    on a miss."""
    path = os.path.join(cache_dir, "pages")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    rows = GENERATORS[kind](seed, n)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cols = list(zip(*rows))
    for k in range(N_FILES):
        lo, hi = k * n // N_FILES, (k + 1) * n // N_FILES
        if lo == hi:
            continue
        ts = [t.replace(tzinfo=dt.timezone.utc) for t in cols[1][lo:hi]]
        table = pa.table(
            [list(cols[0][lo:hi]), ts, list(cols[2][lo:hi]),
             list(cols[3][lo:hi]), list(cols[4][lo:hi])],
            schema=_SCHEMA,
        )
        pq.write_table(table, os.path.join(tmp, f"part-{k:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def read_pages(path: str) -> list[tuple]:
    """(url, warc_ts, html) rows of a cached pages table."""
    t = pq.read_table(path, columns=["url", "warc_ts", "html"])
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


# -- reference outputs ----------------------------------------------------


def crc_sum(hexes) -> int:
    """Order-insensitive checksum: sum of crc32 over hex digests, the
    same arithmetic as sum(crc32(col)) in Spark SQL."""
    return sum(zlib.crc32(h.encode()) for h in hexes)


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def route_extract(raw: bytes | None) -> tuple[str, str, bool]:
    """(path, text, is_error) from the pure kernels: empty payload is
    an error; %PDF goes to the text layer, then OCR when it is empty;
    everything else is HTML; a kernel exception is an error."""
    from engine.kernels.html_extract import extract_html
    from engine.kernels.ocr import extract_ocr_text
    from engine.kernels.pdf_textlayer import extract_pdf_text, is_pdf

    if not raw:
        return "error", "", True
    try:
        if is_pdf(raw):
            text = extract_pdf_text(raw)
            if text:
                return "pdf_text", text, False
            return "pdf_ocr", extract_ocr_text(raw), False
        return "html", extract_html(raw), False
    except Exception:  # the UDF maps any kernel exception to an error row
        return "error", "", True


def reference(rows: list[tuple]) -> dict[str, dict]:
    """url -> expected extracted sha256, error flag and chunk checksum,
    for the latest capture of each url."""
    from engine.kernels.chunker import chunk_rows

    latest: dict[str, tuple] = {}
    for url, ts, raw in rows:
        if url not in latest or ts > latest[url][0]:
            latest[url] = (ts, raw)
    out = {}
    for url, (_ts, raw) in latest.items():
        _path, text, err = route_extract(raw)
        chunks = [] if err else [sha256_hex(r[5]) for r in chunk_rows(text)]
        out[url] = {
            "sha": sha256_hex(text),
            "error": err,
            "chunk_crc": crc_sum(chunks),
            "n_chunks": len(chunks),
        }
    return out
