"""Single-process oracle — the reference implementation of the full
per-document transform (SURVEY.md §5 layer 2).

``extract_document`` is THE definition of correct output per url: it runs
the exact kernel chain (clause state machine, table morphology, glyph OCR,
HTML boilerplate strip) one document at a time with zero batching. The
Spark pipeline must produce byte-identical ``extracted_text``,
``clauses_json`` and ``tables_json`` per url against this function —
that operationalizes the north rule's "byte-identical extracted text per
url vs the reference" in a sandbox where the reference's own OCR stack is
neither present nor deterministic (SURVEY.md §5).

The kernels are SHARED with the Spark job: ``operators.extract_stage``
calls ``extract_document`` row-wise inside Arrow batches, so identity is
by construction; the equivalence tests guard against batching, ordering
and encoding drift, not against two diverging implementations. Table-page
selection (F3), page order (S7) and the clause/table reunion per url (J1)
all happen inside this one function.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from .kernels import raster
from .kernels.clauses import extract_clauses, serialize_clauses
from .kernels.glyphs import decode_page_text
from .kernels.html_extract import extract_html
from .kernels.tables import extract_table

MAX_DOC_BYTES = 10_000_000  # multer 10 MB cap (server/src/libs/multer.js:11)


@dataclass
class ExtractedDoc:
    url: str
    doc_sha: str
    kind: str
    n_pages: int
    extracted_text: str | None
    title: str | None
    clauses: dict[str, str] | None
    clauses_json: str | None
    table_pages: list[int] | None
    tables: list[tuple[int, list[list[str]]]] | None  # (page_no, cells)
    tables_json: str | None
    error: str | None


def _err(url: str, sha: str, kind: str, msg: str) -> ExtractedDoc:
    return ExtractedDoc(
        url=url, doc_sha=sha, kind=kind, n_pages=0, extracted_text=None,
        title=None, clauses=None, clauses_json=None, table_pages=None,
        tables=None, tables_json=None, error=msg,
    )


def extract_document(url: str, blob: bytes) -> ExtractedDoc:
    """Extract one document. NEVER raises — all failures become error rows
    (reference analogue: fitz.open failure -> {'type':'error'},
    python/app.py:32-36; validation throw -> {'status':'failed'},
    pdf.controller.js:37-48)."""
    sha = hashlib.sha256(blob).hexdigest()

    if len(blob) > MAX_DOC_BYTES:
        return _err(url, sha, "unknown", "too_large")
    if len(blob) == 0:
        return _err(url, sha, "unknown", "empty")

    kind = raster.detect_kind(blob)
    if kind == "html":
        try:
            r = extract_html(blob)
        except UnicodeDecodeError as e:
            return _err(url, sha, "html", f"bad_encoding: {e.reason}")
        except Exception as e:  # malformed beyond the parser's tolerance
            return _err(url, sha, "html", f"parse_error: {e}")
        return ExtractedDoc(
            url=url, doc_sha=sha, kind="html", n_pages=1,
            extracted_text=r.text, title=r.title, clauses=None,
            clauses_json=None, table_pages=None, tables=None,
            tables_json=None, error=None,
        )

    if kind == "pdf":
        try:
            pages = raster.decode(blob)
        except raster.RasterError as e:
            return _err(url, sha, "pdf", f"bad_container: {e}")
        # S3/S7 analogue: pages arrive ordered; OCR each (pdfService.js:98)
        page_texts = [decode_page_text(p) for p in pages]
        cr = extract_clauses(page_texts)
        if cr.error is not None:
            out = _err(url, sha, "pdf", cr.error)
            out.n_pages = len(pages)
            return out
        # table stage runs only on clause-flagged pages (F3)
        tables: list[tuple[int, list[list[str]]]] = []
        for pno in cr.table_pages:
            if 1 <= pno <= len(pages):
                cells = extract_table(pages[pno - 1])
                tables.append((pno, cells))
        return ExtractedDoc(
            url=url, doc_sha=sha, kind="pdf", n_pages=len(pages),
            extracted_text=serialize_clauses(cr.clauses), title=None,
            clauses=cr.clauses,
            clauses_json=json.dumps(cr.clauses, ensure_ascii=False),
            table_pages=cr.table_pages,
            tables=tables,
            tables_json=json.dumps(
                [{"page": p, "table": c} for p, c in tables],
                ensure_ascii=False,
            ),
            error=None,
        )

    return _err(url, sha, "unknown", "unknown_kind")
