"""Spark-free kernel tracer.

Replays documents through ``oracle.extract_document`` with the kernel
names it and ``kernels.tables`` call wrapped at module level, so every
kernel call records a span (name, start, end, parent, doc). Spans stay in
memory until the replay ends; a layer's self time is its span minus the
part its child spans cover.

The replay runs the program's own composition instead of re-deriving it,
so it cannot drift from the program; each traced result is also compared
with an untraced ``extract_document`` call on the same bytes, which
guards the wrappers and gives the tracing overhead.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    doc: int
    note: float = 0.0  # a per-call count: pixels, pages, cells, ...


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    doc: int = 0
    _stack: list[int] = field(default_factory=list)

    def wrap(self, name: str, fn, note=None):
        def traced(*a, **kw):
            parent = self._stack[-1] if self._stack else -1
            span = Span(name, time.perf_counter(), 0.0, parent, self.doc)
            self._stack.append(len(self.spans))
            self.spans.append(span)
            try:
                out = fn(*a, **kw)
            finally:
                self._stack.pop()
                span.end = time.perf_counter()
            if note is not None:
                span.note = float(note(a, kw, out))
            return out

        return traced

    def self_times(self) -> list[float]:
        """Each span's duration minus the time its direct children cover
        (children of one span never overlap: calls are sequential)."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent >= 0:
                own[s.parent] -= s.end - s.start
        return own

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


PIXEL = ("threshold_binary_otsu", "open_rect_binary", "connected_components",
         "erode_rect")


def _targets():
    """(module, attribute, span name, note) for every wrapped kernel. The
    module is the one whose globals the caller reads, so the wrapper sees
    every call."""
    from pdf_parser_spark import oracle
    from pdf_parser_spark.kernels import raster, tables

    def pixels(a, kw, out):
        return a[0].size

    def is_retry(a, kw, out):
        return bool(kw.get("scan_offsets", a[1] if len(a) > 1 else False))

    return [
        (oracle, "extract_html", "html_extract.extract_html",
         lambda a, kw, out: len(a[0])),
        (raster, "decode", "raster.decode", lambda a, kw, out: len(out)),
        (oracle, "decode_page_text", "glyphs.decode_page_text", None),
        (oracle, "extract_clauses", "clauses.extract_clauses", None),
        (oracle, "extract_table", "tables.extract_table",
         lambda a, kw, out: sum(len(r) for r in out)),
        (tables, "detect_table_bboxes", "tables.detect_table_bboxes", None),
        (tables, "get_tables_data", "tables.get_tables_data", None),
        (tables, "decode_region", "glyphs.decode_region", is_retry),
    ] + [(tables, n, f"pixel.{n}", pixels) for n in PIXEL]


@contextmanager
def installed(tracer: Tracer):
    targets = _targets()
    saved = [(m, attr, getattr(m, attr)) for m, attr, _, _ in targets]
    for m, attr, name, note in targets:
        setattr(m, attr, tracer.wrap(name, getattr(m, attr), note))
    try:
        yield
    finally:
        for m, attr, fn in saved:
            setattr(m, attr, fn)


def replay(docs) -> tuple[Tracer, float, int]:
    """Trace ``extract_document`` over (url, blob) pairs. Returns the
    tracer, the untraced seconds for the same documents, and the number
    of documents whose traced result differed from the untraced one."""
    from pdf_parser_spark import oracle

    t0 = time.perf_counter()
    want = [oracle.extract_document(url, blob) for url, blob in docs]
    plain_s = time.perf_counter() - t0
    tracer = Tracer()
    mismatches = 0
    with installed(tracer):
        root = tracer.wrap("oracle.extract_document", oracle.extract_document)
        for k, (url, blob) in enumerate(docs):
            tracer.doc = k
            if root(url, blob) != want[k]:
                mismatches += 1
    return tracer, plain_s, mismatches


def _pct(sorted_vals: list[float], q: float) -> float:
    k = min(len(sorted_vals) - 1, int(round(q * (len(sorted_vals) - 1))))
    return sorted_vals[k]


def layers(tracer: Tracer, plain_s: float) -> dict[str, float]:
    """The kernels.* and oracle.* per-layer metrics of one replay."""
    own = tracer.self_times()
    by: dict[str, list[Span]] = {}
    own_by: dict[str, float] = {}
    for s, o in zip(tracer.spans, own):
        by.setdefault(s.name, []).append(s)
        own_by[s.name] = own_by.get(s.name, 0.0) + o

    def calls(name):
        return float(len(by.get(name, [])))

    def ms(name):
        return 1000 * sum(s.end - s.start for s in by.get(name, []))

    def noted(name):
        return sum(s.note for s in by.get(name, []))

    m: dict[str, float] = {}
    n_tab = calls("tables.extract_table")
    m["kernels.tables.extract_table.calls"] = n_tab
    m["kernels.tables.extract_table.ms"] = ms("tables.extract_table")
    m["kernels.tables.extract_table.ms_per_call"] = (
        ms("tables.extract_table") / n_tab if n_tab else 0.0
    )
    m["kernels.tables.detect_table_bboxes.ms"] = ms("tables.detect_table_bboxes")
    m["kernels.tables.get_tables_data.calls"] = calls("tables.get_tables_data")
    m["kernels.tables.get_tables_data.ms"] = ms("tables.get_tables_data")
    m["kernels.tables.cells"] = noted("tables.extract_table")
    hits = sum(1 for s in by.get("tables.extract_table", []) if s.note > 0)
    m["kernels.tables.hit_ratio"] = hits / n_tab if n_tab else 0.0
    for n in PIXEL:
        m[f"kernels.pixel.{n}.calls"] = calls(f"pixel.{n}")
        m[f"kernels.pixel.{n}.ms"] = 1000 * own_by.get(f"pixel.{n}", 0.0)
    m["kernels.pixel.mpix"] = sum(noted(f"pixel.{n}") for n in PIXEL) / 1e6
    m["kernels.glyphs.decode_page_text.calls"] = calls("glyphs.decode_page_text")
    m["kernels.glyphs.decode_page_text.ms"] = ms("glyphs.decode_page_text")
    n_region = calls("glyphs.decode_region")
    retries = noted("glyphs.decode_region")
    m["kernels.glyphs.decode_region.calls"] = n_region
    m["kernels.glyphs.decode_region.ms"] = ms("glyphs.decode_region")
    m["kernels.glyphs.retry_ratio"] = (
        retries / (n_region - retries) if n_region > retries else 0.0
    )
    m["kernels.raster.decode.calls"] = calls("raster.decode")
    m["kernels.raster.decode.ms"] = ms("raster.decode")
    m["kernels.raster.pages"] = noted("raster.decode")
    m["kernels.clauses.extract_clauses.calls"] = calls("clauses.extract_clauses")
    m["kernels.clauses.extract_clauses.ms"] = ms("clauses.extract_clauses")
    m["kernels.html_extract.extract_html.calls"] = calls("html_extract.extract_html")
    m["kernels.html_extract.extract_html.ms"] = ms("html_extract.extract_html")
    m["kernels.html_extract.extract_html.mb"] = noted("html_extract.extract_html") / 2**20
    per_doc = sorted(1000 * (s.end - s.start) for s in by.get("oracle.extract_document", []))
    p50 = _pct(per_doc, 0.5) if per_doc else 0.0
    m["oracle.extract_document.calls"] = float(len(per_doc))
    m["oracle.extract_document.ms"] = sum(per_doc)
    m["oracle.extract_document.ms_p50"] = p50
    m["oracle.extract_document.ms_p99"] = _pct(per_doc, 0.99) if per_doc else 0.0
    m["oracle.extract_document.ms_max"] = per_doc[-1] if per_doc else 0.0
    m["oracle.extract_document.self_ms"] = 1000 * own_by.get("oracle.extract_document", 0.0)
    m["oracle.straggler_ratio"] = per_doc[-1] / p50 if p50 else 0.0
    m["trace.replay_overhead_frac"] = (
        sum(per_doc) / 1000 / plain_s - 1 if plain_s else 0.0
    )
    return m
