"""Glyph codec round-trip + table-structure kernels on rendered fixtures
(the analogues of python/app.py:89-234 with SURVEY.md §7.4.3 quirks)."""

import numpy as np
import pytest

from pdf_parser_spark.kernels.glyphs import (
    ALPHABET,
    decode_line,
    decode_page_text,
    decode_region,
    render_line,
    LINE_STEP,
    TEXT_MARGIN_X,
    TEXT_MARGIN_Y,
)
from pdf_parser_spark.kernels.raster import (
    RasterError,
    decode,
    decode_images,
    detect_kind,
    encode,
)
from pdf_parser_spark.kernels.tables import (
    detect_table_bboxes,
    extract_table,
    get_tables_data,
)
from pdf_parser_spark.synth import TableSpec, make_pdf_doc, render_table


def blank_page(h=400, w=700):
    return np.full((h, w), 255, dtype=np.uint8)


def test_glyph_roundtrip_all_chars():
    page = blank_page(40, 8 * (len(ALPHABET) + 4) + 16)
    render_line(page, 8, 10, ALPHABET)
    assert decode_line(page, 8, 10) == ALPHABET


def test_glyph_roundtrip_sentence():
    page = blank_page()
    text = "1. The supplier shall deliver. **End of Clauses**"
    render_line(page, TEXT_MARGIN_X, TEXT_MARGIN_Y, text)
    assert decode_line(page, TEXT_MARGIN_X, TEXT_MARGIN_Y) == text


def test_page_text_roundtrip():
    page = blank_page()
    lines = ["INTRODUCTION.", "1.", "The supplier shall deliver goods."]
    for k, ln in enumerate(lines):
        render_line(page, TEXT_MARGIN_X, TEXT_MARGIN_Y + k * LINE_STEP, ln)
    assert decode_page_text(page) == "\n".join(lines)


def test_raster_container_roundtrip():
    pages = [blank_page(50, 60), blank_page(70, 80)]
    pages[0][10, 10] = 0
    blob = encode(pages)
    out = decode(blob)
    assert len(out) == 2
    assert (out[0] == pages[0]).all() and (out[1] == pages[1]).all()
    assert detect_kind(blob) == "pdf"
    assert detect_kind(b"<!DOCTYPE html><html>") == "html"
    assert detect_kind(b"\x00\x01garbage") == "unknown"


def _pages_and_images():
    pages = [blank_page(20, 30), blank_page(20, 30)]
    img_a = np.arange(12, dtype=np.uint8).reshape(3, 4)
    img_b = np.full((2, 5), 7, dtype=np.uint8)
    return pages, [(1, img_a), (1, img_b), (2, img_b)]


def test_raster_images_section_index_order():
    """S4/O4: embedded images come back per 1-based page in idx order;
    the trailing section never changes the page bytes."""
    pages, images = _pages_and_images()
    with_imgs = encode(pages, images=images)
    assert with_imgs.startswith(encode(pages))
    got = decode_images(with_imgs)
    assert sorted(got) == [1, 2]
    assert [(i, im.shape) for i, im in got[1]] == [(0, (3, 4)), (1, (2, 5))]
    assert got[1][0][1].tobytes() == images[0][1].tobytes()
    assert got[1][1][1].tobytes() == images[1][1].tobytes()
    assert [i for i, _im in got[2]] == [0]
    assert decode_images(encode(pages)) == {}


def test_raster_truncated_images_section_keeps_pages():
    """A corrupt optional image section fails only decode_images: the
    pages still decode."""
    pages, images = _pages_and_images()
    corrupt = encode(pages, images=images)[:-5]
    out = decode(corrupt)
    assert len(out) == 2
    assert all((o == p).all() for o, p in zip(out, pages))
    with pytest.raises(RasterError):
        decode_images(corrupt)


def simple_spec(cells, x0=60, y0=40):
    n_cols = len(cells[0])
    return TableSpec(
        x0=x0,
        y0=y0,
        col_widths=[max(530 // n_cols + 1, 80)] * n_cols,
        row_heights=[26] * len(cells),
        cells=cells,
    )


def test_table_grid_extraction():
    page = blank_page(400, 700)
    cells = [["item", "qty"], ["net", "gross"], ["a1", "b2"]]
    spec = simple_spec(cells)
    render_table(page, spec)

    bboxes = detect_table_bboxes(page)
    assert len(bboxes) == 1
    l, t, r, b = bboxes[0]
    assert abs(l - spec.x0) <= 1 and abs(t - spec.y0) <= 1
    assert abs(r - (spec.x0 + spec.width)) <= 1
    assert abs(b - (spec.y0 + spec.height)) <= 1

    grid = extract_table(page)
    # rows come back REVERSED (python/app.py:207 quirk O3)
    assert grid == [["a1", "b2"], ["net", "gross"], ["item", "qty"]]


def test_table_empty_cell_and_shifted_cell():
    page = blank_page(420, 700)
    cells = [["item", "", "x"], ["a1", "b2", "c3"]]
    spec = simple_spec(cells)
    spec.col_widths = [180, 180, 180]
    spec.shifted = {(1, 1)}  # b2 drawn off-grid -> needs the retry scan
    render_table(page, spec)
    grid = extract_table(page)
    assert grid == [["a1", "b2", "c3"], ["item", "", "x"]]


def test_single_row_table_yields_empty_grid_quirk():
    # Reference parity: a 1-row table's +/-10 crop is only ~row+21 px tall,
    # so every cell fails h < H-30 (python/app.py:183) and the grid comes
    # back EMPTY. Faithful to the reference's own behavior.
    page = blank_page(400, 700)
    render_table(page, simple_spec([["top", "one"]], y0=40))
    assert len(detect_table_bboxes(page)) == 1
    assert extract_table(page) == []


def test_first_table_only_quirk():
    page = blank_page(700, 700)
    top = simple_spec([["top", "one"], ["t2", "o2"]], y0=40)
    bottom = simple_spec([["bot", "two"], ["b2", "w2"]], y0=260)
    render_table(page, top)
    render_table(page, bottom)
    assert len(detect_table_bboxes(page)) == 2
    # F4: only the FIRST (top-most) table's grid is kept (rows reversed)
    assert extract_table(page) == [["t2", "o2"], ["top", "one"]]


def test_no_table_on_text_page():
    page = blank_page()
    for k, ln in enumerate(["INTRODUCTION.", "1.", "Body text here."]):
        render_line(page, TEXT_MARGIN_X, TEXT_MARGIN_Y + k * LINE_STEP, ln)
    assert detect_table_bboxes(page) == []
    assert extract_table(page) == []


def test_get_tables_data_on_crop_border_filter():
    # directly exercise get_tables_data on a crop: the background/margin
    # component must be dropped by the w<W-30 h<H-30 filter (app.py:183)
    page = blank_page(160, 620)
    spec = simple_spec([["item", "qty"], ["a1", "b2"]], x0=20, y0=20)
    render_table(page, spec)
    crop = page[10 : spec.y0 + spec.height + 10, 10 : spec.x0 + spec.width + 10]
    rows = get_tables_data(np.ascontiguousarray(crop))
    texts = [[c.text for c in row] for row in rows]
    assert texts == [["a1", "b2"], ["item", "qty"]]


def test_synth_pdf_doc_decodes():
    doc = make_pdf_doc(14)  # i%20==14 -> first pdf index
    pages = decode(doc.blob)
    assert len(pages) == len(doc.page_lines)
    for arr, lines in zip(pages, doc.page_lines):
        assert decode_page_text(arr).split("\n")[: len(lines)] == lines


def test_synth_tables_match_specs():
    # find a seeded doc with a table and verify extraction matches the spec
    found = 0
    for i in range(14, 400, 20):
        doc = make_pdf_doc(i)
        if not doc.table_specs:
            continue
        pages = decode(doc.blob)
        for pno, specs in doc.table_specs.items():
            grid = extract_table(pages[pno - 1])
            want = [[t for t in row] for row in specs[0].cells][::-1]
            assert grid == want, f"doc {i} page {pno}"
            found += 1
        if found >= 3:
            break
    assert found >= 3
