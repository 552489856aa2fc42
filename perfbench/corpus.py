"""Seeded benchmark inputs, written to parquet in bounded chunks.

Every input is a pure function of (workload, seed): the seed picks a
window of ``synth.make_row`` indices and the workload's kind filter picks
rows from it. The program under test only ever sees the parquet files.

Rows are generated and written a chunk at a time with pyarrow (never
through a one-shot Spark write: generating a 20k-row mixed corpus that
way has OOM-killed the Spark JVM), with 16 MB row groups so Spark can
still split the fat ``html`` column across scan tasks. A finished corpus
is marked with ``_SUCCESS`` and reused by later runs with the same seed;
its generation time is never part of a measured span.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark import synth

# a seed selects one of WINDOWS disjoint index windows (seed modulo
# WINDOWS, so any integer seed works): no window needs more than WINDOW
# rows, and the last index keeps ``synth.ts_for`` within datetime's range
WINDOW = 100_000
WINDOWS = 10_000
ROW_GROUP_BYTES = 16 * 1024 * 1024
FILE_BYTES = 64 * 1024 * 1024

INPUT_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def _small_adversarial(i: int) -> bool:
    # the truncated-container row (i % 100 == 59) is a third of a PDF,
    # not a small row
    return synth.kind_for(i) == "adversarial" and i % 100 != 59


def _table_page(i: int) -> bool:
    """Whether PDF row ``i`` flags a page for the table kernel."""
    doc = synth.make_pdf_doc(i, invalid=(i % 160 == 14))  # as make_row
    return any("TABLE" in line for page in doc.page_lines for line in page)


def indices(seed: int, kinds: str, n: int) -> list[int]:
    """The first ``n`` rows of the given kinds in the seed's window.
    ``html``: HTML rows and the small adversarial rows. ``pdf``: the first
    n/2 PDF rows with a table page and the first n/2 without, so seeds
    change which documents run, not how much table-kernel work there is
    (41 to 55 of the first 96 PDF rows have a table page, by seed)."""
    start = seed % WINDOWS * WINDOW
    out: list[int] = []
    left = {True: n // 2, False: n - n // 2}
    for i in range(start, start + WINDOW):
        if len(out) == n:
            return out
        if kinds == "html":
            if synth.kind_for(i) == "html" or _small_adversarial(i):
                out.append(i)
        elif synth.kind_for(i) == "pdf":
            table = _table_page(i)
            if left[table]:
                left[table] -= 1
                out.append(i)
    raise ValueError(f"window of seed {seed} has < {n} {kinds} rows")


def _write_chunked(path: str, schema: pa.Schema, rows, row_bytes) -> None:
    """Write dict rows to ``path/part-NNNNN.parquet``, flushing a row group
    every ROW_GROUP_BYTES and starting a new file every FILE_BYTES, so at
    most one row group is held in memory."""
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    writer = None
    n_files = 0
    file_bytes = 0
    chunk: list[dict] = []
    chunk_bytes = 0

    def flush() -> None:
        nonlocal writer, n_files, file_bytes, chunk, chunk_bytes
        if not chunk:
            return
        if writer is None:
            fn = os.path.join(tmp, f"part-{n_files:05d}.parquet")
            writer = pq.ParquetWriter(fn, schema)
            n_files += 1
        writer.write_table(pa.Table.from_pylist(chunk, schema=schema))
        file_bytes += chunk_bytes
        chunk, chunk_bytes = [], 0
        if file_bytes >= FILE_BYTES:
            writer.close()
            writer, file_bytes = None, 0

    try:
        for row in rows:
            chunk.append(row)
            chunk_bytes += row_bytes(row)
            if chunk_bytes >= ROW_GROUP_BYTES:
                flush()
        flush()
    finally:
        if writer is not None:
            writer.close()
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(tmp)  # another run wrote the same corpus meanwhile
        return
    shutil.rmtree(path, ignore_errors=True)  # an unfinished copy
    os.rename(tmp, path)


# Duplicate mix of the HTML crawl, taken from the repository's curate
# corpus (BENCH/run_resume_scale.py, gen_corpus): there, id % 13 == 7
# copies the previous document's text (~8% exact duplicates) and
# id % 17 == 3 keeps the previous document's 24-word body and appends its
# own 8-word tail (a near-duplicate that shares three quarters of its
# words). Here the k-th HTML page is followed by an exact copy under
# another url when k % 13 == 7, else by a near-duplicate when k % 17 == 3.
EXACT_EVERY, EXACT_AT = 13, 7
NEAR_EVERY, NEAR_AT = 17, 3


def _vocab(lang: str) -> list[str]:
    return {"zh": synth.ZH_WORDS, "fr": synth.FR_WORDS}.get(lang, synth.WORDS)


def _near_duplicate(i: int, row: dict) -> dict:
    """Row ``i``'s page under another url with one more paragraph at the
    end of its article: new words, a third as many as the page's text has
    (the 8-word tail on a 24-word body of the curate corpus)."""
    rng = np.random.Generator(np.random.PCG64([i, 7]))
    words = _vocab(row["lang"])
    tail = " ".join(words[int(k)] for k in rng.integers(
        0, len(words), size=max(1, len(row["text"].split()) // 3)))
    html = row["html"].replace(b"\n</article>", f"\n<p>{tail}</p>\n</article>".encode(), 1)
    return {**row, "url": row["url"] + "?near", "html": html,
            "text": row["text"] + "\n\n" + tail}


def crawl_rows(seed: int, kinds: str, n: int, duplicates: bool = False):
    """The seed's ``n`` crawl rows of the given kinds; with
    ``duplicates``, HTML pages are followed by exact and near duplicates
    at the curate corpus's rates (see EXACT_EVERY and NEAR_EVERY)."""
    k = 0
    for i in indices(seed, kinds, n):
        row = synth.make_row(i)
        yield row
        if not duplicates or synth.kind_for(i) != "html":
            continue
        if k % EXACT_EVERY == EXACT_AT:
            yield {**row, "url": row["url"] + "?dup"}
        elif k % NEAR_EVERY == NEAR_AT:
            yield _near_duplicate(i, row)
        k += 1


def write_crawl(path: str, seed: int, kinds: str, n: int, duplicates: bool = False) -> None:
    """Write the crawl input table for ``crawl_rows`` unless a finished
    copy is already on disk."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _write_chunked(
            path,
            INPUT_SCHEMA,
            crawl_rows(seed, kinds, n, duplicates),
            lambda r: len(r["html"]) + len(r["text"]) + 64,
        )
