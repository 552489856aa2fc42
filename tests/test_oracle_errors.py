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


def test_image_section_never_changes_text():
    """S4: the optional embedded-image section is a side channel. The
    same pages with no, a valid, or a truncated image section extract
    identically; only doc_sha (a hash of the raw bytes) differs."""
    from dataclasses import asdict

    import numpy as np

    from pdf_parser_spark.synth import gen_rows

    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    n_docs = 0
    for row in gen_rows(80):
        blob = bytes(row["html"])
        if raster.detect_kind(blob) != "pdf":
            continue
        try:
            pages = raster.decode(blob)
        except raster.RasterError:
            continue
        plain = raster.encode(pages)
        with_imgs = raster.encode(pages, images=[(1, img), (1, img)])
        variants = [plain, with_imgs, with_imgs[:-5]]
        docs = [asdict(extract_document(row["url"], b)) for b in variants]
        shas = {d.pop("doc_sha") for d in docs}
        assert len(shas) == 3, row["url"]
        assert docs[0] == docs[1] == docs[2], row["url"]
        n_docs += 1
    assert n_docs >= 10
