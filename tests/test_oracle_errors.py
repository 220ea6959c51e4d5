"""Error-channel coverage for the oracle (S1/S2 analogues): every
failure class becomes a row, never an exception."""

from pdf_parser_spark.kernels import raster
from pdf_parser_spark.oracle import MAX_DOC_BYTES, extract_document


def test_too_large_cap():
    r = extract_document("u", b"x" * (MAX_DOC_BYTES + 1))
    assert r.error == "too_large"
    assert r.extracted_text is None


def test_exactly_at_cap_is_processed():
    blob = b"<html><body><p>" + b"a" * 40 + b"</p></body></html>"
    r = extract_document("u", blob)
    assert r.error is None and r.kind == "html"


def test_empty_and_garbage():
    assert extract_document("u", b"").error == "empty"
    assert extract_document("u", b"\x00\x01\x02").error == "unknown_kind"


def test_truncated_container():
    from pdf_parser_spark.synth import make_pdf_doc

    blob = make_pdf_doc(14).blob
    r = extract_document("u", blob[: len(blob) // 2])
    assert r.error is not None and r.error.startswith("bad_container")


def test_zero_page_container():
    r = extract_document("u", raster.MAGIC + b"\x00\x00")
    assert r.kind == "pdf" and r.error is None
    assert r.n_pages == 0 and r.clauses == {}


def test_bad_utf8_html():
    r = extract_document("u", b"<html>\xff\xc3\x28</html>")
    assert r.error is not None and r.error.startswith("bad_encoding")


def test_extract_document_never_raises_on_mutated_rasters():
    """Seeded fuzz: synth raster docs with pages perturbed at the pixel
    level (thick lines, noise, all-ink and all-paper pages, tiny and
    narrow pages) and re-encoded, plus container byte flips and
    truncation. extract_document must return, and every error must be
    one of the known classes. Pages 2-5 share the first page's 5-page
    chunk, so the table kernels run on them whenever its TABLE line
    reads."""
    import numpy as np

    from pdf_parser_spark.kernels.clauses import VALIDATION_ERROR_PREFIX
    from pdf_parser_spark.synth import make_pdf_doc

    known = ("too_large", "empty", "bad_container", "parse_error",
             "bad_encoding", "unknown_kind")
    rng = np.random.Generator(np.random.PCG64(2024))
    bases = [raster.decode(make_pdf_doc(i).blob) for i in (14, 34, 54)]

    def page(like):
        h, w = like.shape
        kind = int(rng.integers(0, 8))
        if kind == 0:  # thick lines, some across the whole page
            p = like.copy()
            for _ in range(int(rng.integers(1, 12))):
                t, at = int(rng.integers(1, 9)), int(rng.integers(0, max(h, w)))
                if rng.random() < 0.5:
                    p[at : at + t, int(rng.integers(0, w)) :] = 0
                else:
                    p[int(rng.integers(0, h)) :, at : at + t] = 0
            return p
        if kind == 1:  # noise
            p = like.copy()
            p[rng.random(p.shape) < rng.random()] = 0
            return p
        if kind == 2:
            return np.zeros((h, w), np.uint8)
        if kind == 3:
            return np.full((h, w), 255, np.uint8)
        if kind == 4:  # tiny: 1x1, 1xW, Hx1 and a few pixels
            shape = [(1, 1), (1, w), (h, 1), tuple(rng.integers(1, 6, 2))][int(rng.integers(0, 4))]
            return rng.integers(0, 256, shape, dtype=np.uint8)
        if kind == 5:  # narrow (w < 100, so the window is the minimum 4)
            p = like[:, : int(rng.integers(1, 100))].copy()
            p[:, int(rng.integers(0, p.shape[1]))] = 0
            return p
        if kind == 6:  # random gray levels
            return rng.integers(0, 256, (int(rng.integers(1, 300)), int(rng.integers(1, 300))), dtype=np.uint8)
        p = like.copy()  # a grid of lines
        p[:: int(rng.integers(2, 40))] = 0
        p[:, :: int(rng.integers(2, 40))] = 0
        return p

    n_table_runs = n_container = 0
    for k in range(80):
        pages = list(bases[k % len(bases)])
        pages = pages[:1] + [page(pages[-1]) for _ in range(int(rng.integers(1, 4)))]
        blob = raster.encode(pages)
        if k % 4 == 3:  # container damage
            b = bytearray(blob)
            for pos in rng.integers(0, len(b), int(rng.integers(1, 6))):
                b[pos] ^= int(rng.integers(1, 256))
            blob = bytes(b[: int(rng.integers(0, len(b) + 1))] if rng.random() < 0.5 else b)
            n_container += 1
        r = extract_document(f"u{k}", blob)
        assert r.error is None or r.error.split(":", 1)[0] in known or r.error.startswith(
            VALIDATION_ERROR_PREFIX
        ), (k, r.error)
        n_table_runs += len(r.table_pages or [])
    assert n_container == 20 and n_table_runs >= 60


def test_extract_document_never_raises_on_mutated_html():
    """Seeded fuzz over synth html bytes: byte flips, truncation, invalid
    UTF-8 and NUL bytes, unbalanced tags and deeply nested tags.
    extract_document must return, every blob that reaches the html path
    stays there, and every error is an html-path class."""
    import numpy as np

    from pdf_parser_spark.synth import make_html_doc

    known = ("too_large", "empty", "bad_encoding", "parse_error")
    rng = np.random.Generator(np.random.PCG64(2025))
    bases = [make_html_doc(i).html for i in range(0, 40, 3)]
    bad_bytes = [b"\xff", b"\xc3\x28", b"\x80", b"\xed\xa0\x80", b"\xf4\x90\x80\x80",
                 b"\xe2\x82", b"\x00", b"\x00" * 7]
    tags = [b"<div>", b"</div>", b"<p>", b"</p>", b"<a href='x'>", b"</a>",
            b"<script>", b"</script>", b"<style>", b"<title>", b"</title>",
            b"<nav>", b"</footer>", b"<!--", b"-->", b"<![CDATA[", b"<", b">",
            b"&#x110000;", b"&#0;", b"&bogus", b"<p class='a", b"</>", b"<?xml"]

    def mutate(blob, kind):
        b = bytearray(blob)
        if kind == 0:  # byte flips, the leading "<" kept
            for pos in rng.integers(1, len(b), int(rng.integers(1, 40))):
                b[pos] ^= int(rng.integers(1, 256))
        elif kind == 1:  # truncation, down to nothing
            del b[int(rng.integers(0, len(b) + 1)) :]
        elif kind == 2:  # invalid UTF-8 and NUL bytes
            for _ in range(int(rng.integers(1, 6))):
                pos = int(rng.integers(1, len(b) + 1))
                b[pos:pos] = bad_bytes[int(rng.integers(0, len(bad_bytes)))]
        elif kind == 3:  # unbalanced tags: spliced in and cut out
            for _ in range(int(rng.integers(1, 30))):
                pos = int(rng.integers(1, len(b) + 1))
                b[pos:pos] = tags[int(rng.integers(0, len(tags)))]
            for _ in range(int(rng.integers(0, 10))):
                lo = int(rng.integers(1, len(b)))
                del b[lo : lo + int(rng.integers(1, 20))]
        else:  # deeply nested, unclosed, closed or over-closed
            tag = [b"div", b"a", b"p", b"b", b"nav", b"li"][int(rng.integers(0, 6))]
            depth = int(rng.integers(1, 20000))
            closes = depth * int(rng.integers(0, 3))
            b = bytearray(b"<html><body>" + b"<%s>" % tag * depth
                          + b"deep text here " * 8 + b"</%s>" % tag * closes)
        return bytes(b)

    counts = {}
    for k in range(240):
        blob = bases[k % len(bases)]
        # one mutation, or flips, bad bytes and tags together, then a cut
        for kind in [k % 5] if k % 6 else [0, 2, 3, 1]:
            blob = mutate(blob, kind)
        r = extract_document(f"h{k}", blob)
        cls = None if r.error is None else r.error.split(":", 1)[0]
        assert cls is None or cls in known, (k, r.error)
        assert r.kind == "html" or cls in ("too_large", "empty"), (k, r.kind, r.error)
        counts[cls] = counts.get(cls, 0) + 1
    big = b"<p>" + b"x" * MAX_DOC_BYTES
    assert extract_document("big", big).error == "too_large"
    assert counts.get(None, 0) >= 100 and counts.get("bad_encoding", 0) >= 20, counts
