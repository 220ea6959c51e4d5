"""In-memory spans for the traced run, and the single-process oracle replay.

Spans are recorded only around calls into the program's public functions;
the program itself is not edited. Wrapping is done at run time by
replacing a name on the module or class that the caller looks it up on,
and every wrapper is removed again when the ``Tracer.wrapped`` block ends.
"""

from __future__ import annotations

import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Single-threaded span recorder. A span's parent is the span open
    when it started; all spans of one tracer share its ``trace_id``."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(
            id=len(self.spans),
            parent=self._open[-1].id if self._open else None,
            name=name,
            start=time.perf_counter(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    @contextmanager
    def wrapped(self, targets: list[tuple[object, str, str]]):
        """Record a span named ``span_name`` around every call of
        ``owner.attr`` for each (owner, attr, span_name) while the block runs."""
        saved = []
        try:
            for owner, attr, span_name in targets:
                original = getattr(owner, attr)
                saved.append((owner, attr, original))
                setattr(owner, attr, self._wrapper(original, span_name))
            yield self
        finally:
            for owner, attr, original in reversed(saved):
                setattr(owner, attr, original)

    def _wrapper(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def to_json(self) -> dict:
        return {
            "trace_id": self.trace_id,
            "spans": [
                {
                    "id": s.id, "parent": s.parent, "name": s.name,
                    "start": s.start, "end": s.end, "attrs": s.attrs,
                }
                for s in self.spans
            ],
        }


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children[s.id], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += st[s.id]
    return dict(out)


# ------------------------------------------------------------ oracle replay

# error-string prefixes of oracle.extract_document; anything else is a
# clause-validation message
ERROR_CLASSES = (
    "too_large", "empty", "bad_container", "parse_error", "bad_encoding",
    "unknown_kind",
)
KERNELS = (
    "raster.decode",
    "glyphs.decode_page_text",
    "clauses.extract_clauses",
    "tables.extract_table",
    "html_extract.extract_html",
)
PIXEL_STEPS = (
    "pixel.threshold_binary_otsu",
    "pixel.open_rect_binary",
    "pixel.erode_rect",
    "pixel.connected_components",
)


def error_class(error: str) -> str:
    head = error.split(":", 1)[0]
    return head if head in ERROR_CLASSES else "clause"


def digest(extracted_text, clauses_json, tables_json, error) -> str:
    """The compared output of one document, as one hashable string."""
    import hashlib
    import json

    return hashlib.sha256(
        json.dumps([extracted_text, clauses_json, tables_json, error]).encode()
    ).hexdigest()


def oracle_digest(row: tuple[str, bytes]) -> tuple[str, str]:
    from pdf_parser_spark.oracle import extract_document

    d = extract_document(row[0], row[1])
    return d.url, digest(d.extracted_text, d.clauses_json, d.tables_json, d.error)


def _percentiles_ms(xs: list[float]) -> dict[str, float]:
    if not xs:
        return {"p50": 0.0, "p99": 0.0, "max": 0.0}
    xs = sorted(x * 1000 for x in xs)
    return {
        "p50": statistics.median(xs),
        "p99": xs[min(len(xs) - 1, int(0.99 * len(xs)))],
        "max": xs[-1],
    }


def replay(rows: list[tuple[str, bytes]], tracer: Tracer) -> tuple[dict[str, str], dict]:
    """Run ``oracle.extract_document`` over ``rows`` in this process with
    the kernels it calls wrapped in spans. Returns the per-url digests and
    the oracle/kernel layer metrics."""
    from pdf_parser_spark import oracle
    from pdf_parser_spark.kernels import raster, tables

    targets = [
        (raster, "decode", "raster.decode"),
        (oracle, "decode_page_text", "glyphs.decode_page_text"),
        (oracle, "extract_clauses", "clauses.extract_clauses"),
        (oracle, "extract_table", "tables.extract_table"),
        (oracle, "extract_html", "html_extract.extract_html"),
    ] + [(tables, name.split(".")[1], name) for name in PIXEL_STEPS]

    digests: dict[str, str] = {}
    doc_s: dict[str, list[float]] = defaultdict(list)
    errors: Counter = Counter()
    with tracer.wrapped(targets):
        for url, blob in rows:
            with tracer.span("oracle.extract_document") as s:
                d = oracle.extract_document(url, blob)
            digests[d.url] = digest(
                d.extracted_text, d.clauses_json, d.tables_json, d.error
            )
            if d.error is not None:
                errors[error_class(d.error)] += 1
                doc_s["error"].append(s.duration)
            else:
                doc_s[d.kind].append(s.duration)

    spans = tracer.spans
    self_s = self_time_by_name(spans)
    calls = Counter(s.name for s in spans)
    doc_total = sum(s.duration for s in spans if s.name == "oracle.extract_document")
    m: dict[str, float] = {"oracle.docs": float(len(rows)), "oracle.doc_s": doc_total}
    for kind in ("html", "pdf", "error"):
        for q, v in _percentiles_ms(doc_s[kind]).items():
            m[f"oracle.doc_ms.{kind}.{q}"] = v
    for cls in ERROR_CLASSES + ("clause",):
        m[f"oracle.error_docs.{cls}"] = float(errors[cls])
    m["kernels.oracle.extract_document.self_s"] = self_s.get("oracle.extract_document", 0.0)
    total_s: dict[str, float] = defaultdict(float)
    for s in spans:
        total_s[s.name] += s.duration
    for name in KERNELS + PIXEL_STEPS:
        if name in KERNELS:
            m[f"kernels.{name}.calls"] = float(calls[name])
        # share of document time spent inside the call, its callees
        # included: the pixel steps are part of tables.extract_table's share
        m[f"kernels.{name}.share"] = total_s[name] / doc_total if doc_total else 0.0
        m[f"kernels.{name}.s"] = total_s[name]
        m[f"kernels.{name}.self_s"] = self_s.get(name, 0.0)
    return digests, m


if __name__ == "__main__":
    # shard mode, run by run.py: the oracle digests of every N-th corpus row
    # from row K, written as one JSON object
    #     python3 spans.py SRC CORPUS K N OUT
    import json
    import sys

    src, corpus_path, k, n, out = sys.argv[1:]
    sys.path.insert(0, src)
    from corpus import read_rows

    rows = read_rows(corpus_path)[int(k)::int(n)]
    with open(out, "w") as f:
        json.dump(dict(map(oracle_digest, rows)), f)
