"""Vectorized pandas/Arrow UDF wrappers around the pure kernels
(SURVEY.md §2.E). Hard constraint from BASELINE.json:15: no per-row
Python — every Python crossing here is an Arrow-batched pandas UDF.

Design notes (scale):
  * route+extract are FUSED into one scalar struct UDF so each PDF is
    parsed once, one Arrow round-trip per batch (SURVEY.md §4
    "co-locate kernels").
  * chunking is mapInPandas (1->N fan-out without materializing an
    array column of a whole document's chunks).
  * all UDFs are total: any kernel exception becomes an `error`
    value, never a task failure (a single poisoned page must not
    kill a 10^12-row job).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from engine.kernels.embed import embed_text
from engine.kernels.html_extract import extract_html
from engine.kernels.langid import guess_lang
from engine.kernels.ocr import extract_ocr_text
from engine.kernels.pdf_textlayer import extract_pdf_text, is_pdf
from engine.kernels.chunker import chunk_rows
from engine.kernels import fingerprint as fp

EXTRACT_STRUCT = StructType(
    [
        StructField("path", StringType()),
        StructField("text", StringType()),
        StructField("error", StringType()),
        StructField("n_sents", IntegerType()),
        # flattened [a0,b0,a1,b1,...] sentence spans: computed once
        # here, carried through the dedup exchange so the chunker
        # never re-runs sentence detection (it was 94% of chunk-stage
        # CPU). ~1.1KB/doc vs ~9KB text — bounded shuffle overhead.
        StructField("sent_spans", ArrayType(IntegerType())),
    ]
)

CHUNKS_DDL = (
    "url string, chunk_ix int, chunk_text string, "
    "char_start int, char_end int, sent_start int, sent_end int"
)


def _route_and_extract_one(raw) -> tuple[str, str, str | None]:
    if raw is None or len(raw) == 0:
        return ("error", "", "empty_payload")
    try:
        if is_pdf(raw):
            # Route on the extraction result itself: canonicalized
            # text is non-empty iff text_layer_coverage(raw) >= 1
            # (both reduce to "some run contains a non-whitespace
            # char"), so one parse decides the path AND produces the
            # output — the old coverage probe tokenized every content
            # stream a second time.
            text = extract_pdf_text(raw)
            if text:
                return ("pdf_text", text, None)
            return ("pdf_ocr", extract_ocr_text(raw), None)
        return ("html", extract_html(raw), None)
    except Exception as exc:  # total: poisoned rows -> error column
        return ("error", "", f"{type(exc).__name__}")


def _extract_with_sents(raw) -> tuple[str, str, str | None, int]:
    from engine.kernels.sentences import sentence_spans

    path, text, err = _route_and_extract_one(raw)
    return (path, text, err, len(sentence_spans(text)) if text else 0)


@pandas_udf(EXTRACT_STRUCT)
def route_extract_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
    """Fused media-router + three-path extractor + sentence counter
    (A1+A2+A4+A5+A6) — ONE Arrow crossing for the whole per-document
    kernel chain; a separate n_sents UDF would re-ship every byte of
    extracted text to Python a second time.

    Iterator form (SURVEY.md §2.E): the kernel-dispatch setup below —
    module resolution for the router, parsers, OCR font table and
    sentence splitter — runs ONCE PER TASK and is amortized across
    every Arrow batch the task processes, instead of re-resolving per
    batch (or per row, as the old `from ... import` inside the helper
    did)."""
    from itertools import chain

    from engine.kernels.sentences import sentence_spans_batch

    route = _route_and_extract_one  # bind once per task
    cols = ["path", "text", "error", "n_sents", "sent_spans"]
    for html in batches:
        routed = [route(raw) for raw in html]
        # sentence detection over the WHOLE batch in one vectorized
        # pass (ASCII docs joined + one numpy scan; bit-identical to
        # the per-doc path — fuzz-pinned)
        spans_list = sentence_spans_batch([t for _, t, _ in routed])
        out = [
            (path, text, err, len(spans), list(chain.from_iterable(spans)))
            for (path, text, err), spans in zip(routed, spans_list)
        ]
        yield pd.DataFrame(out, columns=cols)


@pandas_udf(StringType())
def langid_udf(text: pd.Series) -> pd.Series:
    return text.map(guess_lang)


@pandas_udf(ArrayType(FloatType()))
def embed_udf(text: pd.Series) -> pd.Series:
    return text.map(embed_text)


@pandas_udf(ArrayType(LongType()))
def minhash_udf(text: pd.Series) -> pd.Series:
    # signatures are < 2^61 so they fit in signed int64; the batch
    # path (one flat FNV + modmul matrix + reduceat per Arrow batch)
    # is fuzz-pinned bit-identical to the scalar spec
    return pd.Series(fp.minhash_sigs(list(text)))


@pandas_udf(LongType())
def simhash_udf(text: pd.Series) -> pd.Series:
    # fold to signed 64-bit for Spark LongType
    vals = fp.simhash64_many(list(text))
    return pd.Series(
        [v - (1 << 64) if v >= (1 << 63) else v for v in vals], dtype="int64"
    )


@pandas_udf(LongType())
def rolling_fp_udf(text: pd.Series) -> pd.Series:
    return text.map(lambda t: fp.rolling_fingerprint(t or ""))


@pandas_udf(DoubleType())
def cos_pairs_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise cosine over two array<float> columns — one BLAS pass
    per Arrow batch instead of a per-row Catalyst HOF lambda chain
    (~40x on 64-dim vectors). float64 throughout; callers round to 4
    decimals, far above the ~1e-14 summation-order noise vs a
    sequential-sum oracle. Zero-norm rows yield NULL (matching the JVM
    Divide expression and the DuckDB oracle) — NaN would sort ABOVE
    every real similarity in Spark and pass >= filters."""
    import numpy as np

    if not len(a):
        return pd.Series([], dtype="float64")
    A = np.array(list(a), dtype=np.float64)
    B = np.array(list(b), dtype=np.float64)
    denom = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        vals = (A * B).sum(axis=1) / denom
    # nullable Float64: plain float64 + None would round-trip as NaN
    out = pd.Series(vals, dtype="Float64")
    out[denom == 0.0] = pd.NA
    return out


DOCMETA_TYPE = StructType(
    [
        StructField("title", StringType()),
        StructField("description", StringType()),
        StructField("canonical", StringType()),
        StructField("robots", StringType()),
        StructField("noindex", BooleanType()),
    ]
)


@pandas_udf(DOCMETA_TYPE)
def docmeta_udf(html: pd.Series) -> pd.DataFrame:
    """title/description/canonical/robots/noindex from raw HTML bytes
    (engine/kernels/docmeta) — the per-vector metadata surface; kept
    OUT of the pinned extraction UDF so extraction goldens never move."""
    from engine.kernels.docmeta import extract_docmeta

    rows = [extract_docmeta(b) for b in html]
    return pd.DataFrame(
        rows,
        columns=["title", "description", "canonical", "robots", "noindex"],
    )


def chunk_map_in_pandas(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas fn: (url, text, sent_spans) batches -> CHUNKS_DDL
    rows (A7). Sentence spans were computed by the extract UDF and
    ride along as a flat [a0,b0,...] array — the chunker packs them
    without re-running sentence detection."""
    import numpy as np

    for pdf in batches:
        urls: list[str] = []
        rows: list[tuple] = []
        for url, text, flat in zip(pdf["url"], pdf["text"], pdf["sent_spans"]):
            spans = (
                np.asarray(flat, dtype=np.int64).reshape(-1, 2)
                if flat is not None
                else None  # legacy row without spans: recompute
            )
            for r in chunk_rows(text or "", spans=spans):
                urls.append(url)
                rows.append(r)
        out = pd.DataFrame(
            rows,
            columns=[
                "chunk_ix",
                "char_start",
                "char_end",
                "sent_start",
                "sent_end",
                "chunk_text",
            ],
        )
        out.insert(0, "url", urls)
        yield out[
            [
                "url",
                "chunk_ix",
                "chunk_text",
                "char_start",
                "char_end",
                "sent_start",
                "sent_end",
            ]
        ]
