"""Golden table bytes: one sha256 over the table kernel's output on a fixed
page set, pinned to the value the pre-rewrite numpy kernels produced.

`test_spark_equivalence` and the benchmark digests compare Spark against
the *current* oracle, so a kernel change that alters table output would
pass them. This digest does not move with the kernels.

The page set:
- ``tables_json`` of ``oracle.extract_document`` for every
  ``make_pdf_doc(i)``, ``i in range(14, 2014, 20)``, that has a table page;
- a dense 1600 x 1600 page ruled every 8 px (40k cells, the worst case
  per megapixel);
- the two-table page of ``test_first_table_only_quirk``.

Regenerate (only for a deliberate output change) by printing
``_golden_digest()``.
"""

import hashlib
import json

import numpy as np

from pdf_parser_spark.kernels.tables import extract_table
from pdf_parser_spark.oracle import extract_document
from pdf_parser_spark.synth import TableSpec, make_pdf_doc, render_table

GOLDEN_SHA256 = "043a8c165c8b2ae44460a0bae4ec6136a9be0eeaed9ecb846249359d9b103c17"


def _dense_grid_page() -> np.ndarray:
    page = np.full((1600, 1600), 255, dtype=np.uint8)
    page[::8, :] = 0
    page[:, ::8] = 0
    return page


def _two_table_page() -> np.ndarray:
    page = np.full((700, 700), 255, dtype=np.uint8)
    for cells, y0 in (([["top", "one"], ["t2", "o2"]], 40),
                      ([["bot", "two"], ["b2", "w2"]], 260)):
        render_table(page, TableSpec(x0=60, y0=y0, col_widths=[266, 266],
                                     row_heights=[26, 26], cells=cells))
    return page


def _golden_digest() -> str:
    h = hashlib.sha256()
    n_docs = 0
    for i in range(14, 2014, 20):
        doc = make_pdf_doc(i)
        if not doc.table_specs:
            continue
        out = extract_document(f"golden://{i}", doc.blob)
        h.update(f"{i}\0{out.tables_json}\n".encode())
        n_docs += 1
    for name, page in (("dense", _dense_grid_page()), ("two", _two_table_page())):
        h.update(f"{name}\0{json.dumps(extract_table(page))}\n".encode())
    assert n_docs > 0
    return h.hexdigest()


def test_table_bytes_match_golden():
    assert _golden_digest() == GOLDEN_SHA256
