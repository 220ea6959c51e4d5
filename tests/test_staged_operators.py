"""Page-row operator ``decode_pages`` (SURVEY.md §2.11): one row per
decoded page, with the page's embedded images (S4) riding the row. The
fused extraction output is checked against the oracle in
test_spark_equivalence."""

from pdf_parser_spark.operators import decode_pages


def test_decode_pages_schema_and_explode(spark, corpus_df):
    pages = decode_pages(corpus_df)
    assert pages.columns == [
        "url", "page_no", "width", "height", "pixels", "images"
    ]
    sample = pages.limit(5).collect()
    assert sample
    for r in sample:
        assert len(r.pixels) == r.width * r.height
        assert r.page_no >= 1


def test_decode_pages_carries_embedded_images(spark):
    """S4 (reference python/app.py:44-57): embedded images ride the page
    row as a nested array in extraction index order (O4); pages without
    images carry an empty array; pre-S4 blobs (no trailing section)
    decode unchanged."""
    import numpy as np

    from pdf_parser_spark import schemas
    from pdf_parser_spark.kernels import raster

    pg = [np.full((20, 30), 255, dtype=np.uint8) for _ in range(2)]
    img_a = np.arange(12, dtype=np.uint8).reshape(3, 4)
    img_b = np.full((2, 5), 7, dtype=np.uint8)
    with_imgs = raster.encode(pg, images=[(1, img_a), (1, img_b), (2, img_b)])
    without = raster.encode(pg)
    # the trailing section never changes the page bytes
    assert with_imgs.startswith(without)

    rows = [
        ("rstr://imgs", None, with_imgs, "", "en"),
        ("rstr://plain", None, without, "", "en"),
    ]
    df = spark.createDataFrame(rows, schemas.INPUT)
    got = {
        (r.url, r.page_no): r.images
        for r in decode_pages(df).collect()
    }
    p1 = got[("rstr://imgs", 1)]
    assert [(i.idx, i.width, i.height) for i in p1] == [(0, 4, 3), (1, 5, 2)]
    assert bytes(p1[0].pixels) == img_a.tobytes()
    assert bytes(p1[1].pixels) == img_b.tobytes()
    assert [(i.idx,) for i in got[("rstr://imgs", 2)]] == [(0,)]
    assert list(got[("rstr://plain", 1)]) == []
    assert list(got[("rstr://plain", 2)]) == []


def test_decode_pages_corrupt_imgs_section_keeps_pages(spark):
    """A corrupt OPTIONAL IMGS section must not drop the document's
    valid pages in the staged path: decode_images fails alone and the
    pages come through with empty image lists (round-2 ADVICE item)."""
    import numpy as np

    from pdf_parser_spark import schemas
    from pdf_parser_spark.kernels import raster

    pg = [np.full((20, 30), 255, dtype=np.uint8) for _ in range(2)]
    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    blob = raster.encode(pg, images=[(1, img)])
    corrupt = blob[:-5]  # truncate inside the trailing image pixels
    # sanity: pages decode, image section raises
    assert len(raster.decode(corrupt)) == 2
    import pytest as _pytest

    with _pytest.raises(raster.RasterError):
        raster.decode_images(corrupt)

    df = spark.createDataFrame(
        [("rstr://badimgs", None, corrupt, "", "en")], schemas.INPUT
    )
    rows = decode_pages(df).collect()
    assert sorted(r.page_no for r in rows) == [1, 2]
    assert all(list(r.images) == [] for r in rows)
