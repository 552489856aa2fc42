"""Extraction stages as Arrow-batched mapInPandas operators.

Design (SURVEY.md §2.11, §3.4): the whole per-document transform is
expressed as vectorized stages over Arrow record batches — never
row-at-a-time Python UDFs. The per-document kernels are irreducibly
sequential *within* a document (the clause fold is order-sensitive,
A1/T6), but documents are independent, so a batch of N documents is
processed in one Python invocation with zero per-row serialization
overhead; Arrow moves the bytes.

``extract_stage(df)`` is one mapInPandas pass per document over
``oracle.extract_document`` (kind-route -> decode -> OCR -> clauses ->
tables -> html), so the oracle's routing and error rows are the only
ones the engine produces. No shuffle anywhere between sub-stages, and
the multi-MB ``html``/page-raster bytes never cross an exchange: the
only shuffle in the whole job is the salted repartition BEFORE this
stage, and only result-sized rows flow after it. This is the plan that
survives 100 TB.
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
