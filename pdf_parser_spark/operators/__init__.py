"""Vectorized extraction stage (mapInPandas over Arrow record batches).

The engine's operator API per SURVEY.md §2.11: one fused stage,
``extract_stage``, that runs ``oracle.extract_document`` per document,
so routing and error rows have a single implementation.
"""

from .stages import extract_stage  # noqa: F401
