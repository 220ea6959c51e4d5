"""Extraction stages as Arrow-batched mapInPandas operators.

Design (SURVEY.md §2.11, §3.4): the whole per-document transform is
expressed as vectorized stages over Arrow record batches — never
row-at-a-time Python UDFs. The per-document kernels are irreducibly
sequential *within* a document (the clause fold is order-sensitive,
A1/T6), but documents are independent, so a batch of N documents is
processed in one Python invocation with zero per-row serialization
overhead; Arrow moves the bytes.

- ``extract_stage(df)`` — the fused extraction path every job runs. One
  mapInPandas pass per document calls ``oracle.extract_document``:
  kind-route -> decode -> OCR -> clauses -> tables -> html. No shuffle
  between sub-stages, and the multi-MB ``html``/page-raster bytes never
  cross an exchange: the only shuffle in the whole job is the salted
  repartition BEFORE this stage, and only result-sized rows flow after
  it.
- ``decode_pages(df)`` — one row per decoded page, carrying the page's
  embedded images (S4). Images stay off the fused row so the extraction
  write never pays for them.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from .. import schemas
from ..oracle import ExtractedDoc, extract_document


def _doc_to_row(d: ExtractedDoc) -> dict:
    return {
        "url": d.url,
        "doc_sha": d.doc_sha,
        "kind": d.kind,
        "n_pages": d.n_pages,
        "extracted_text": d.extracted_text,
        "title": d.title,
        "clauses": d.clauses,
        "clauses_json": d.clauses_json,
        "table_pages": d.table_pages,
        "tables": (
            [{"page_no": p, "cells": c} for p, c in d.tables]
            if d.tables is not None
            else None
        ),
        "tables_json": d.tables_json,
        "n_chars": (
            len(d.extracted_text) if d.extracted_text is not None else None
        ),
        "error": d.error,
    }


def extract_stage(df: DataFrame) -> DataFrame:
    """Fused per-document extraction: (url, html:binary, ...) ->
    schemas.EXTRACTED. Documents are independent; each Arrow batch is one
    Python invocation (the reference's six process boundaries collapse
    into this single exchange, SURVEY.md §3.4)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _doc_to_row(extract_document(u, bytes(b) if b is not None else b""))
                for u, b in zip(pdf["url"], pdf["html"])
            ]
            yield pd.DataFrame(rows)

    return df.select("url", "html").mapInPandas(run, schema=schemas.EXTRACTED)


def decode_pages(df: DataFrame) -> DataFrame:
    """S2/S3/S7 analogue: (url, html) -> one row per page
    (url, page_no, width, height, pixels, images). ``images`` is the
    page's embedded-image list in index order (S4/O4, reference
    python/app.py:44-57 — the reference persists page_{n}_img_{i}.png
    files; here they ride the page row). Undecodable docs yield zero
    pages here; the fused path is authoritative for error rows."""
    from ..kernels import raster

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for u, b in zip(pdf["url"], pdf["html"]):
                blob = bytes(b) if b is not None else b""
                if raster.detect_kind(blob) != "pdf":
                    continue
                try:
                    pages = raster.decode(blob)
                except raster.RasterError:
                    continue
                try:
                    images = raster.decode_images(blob)
                except raster.RasterError:
                    # a corrupt OPTIONAL IMGS section must not drop the
                    # document's valid pages — pages carry empty image
                    # lists instead (round-2 ADVICE)
                    images = {}
                for i, p in enumerate(pages, start=1):
                    h, w = p.shape
                    out.append(
                        {
                            "url": u,
                            "page_no": i,
                            "width": w,
                            "height": h,
                            "pixels": p.tobytes(),
                            "images": [
                                {
                                    "idx": idx,
                                    "width": img.shape[1],
                                    "height": img.shape[0],
                                    "pixels": img.tobytes(),
                                }
                                for idx, img in images.get(i, [])
                            ],
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "url", "page_no", "width", "height", "pixels", "images",
                ],
            )

    return df.select("url", "html").mapInPandas(run, schema=schemas.PAGE)
