"""Per-url oracle digests and the check of a committed ``extracted`` table.

The digest of a url is a sha256 over the fields the Spark stage must
reproduce byte for byte: extracted_text, clauses_json, tables_json,
error, kind and n_pages. It is computed with ``oracle.extract_document``
over the bytes of the input table once per (workload, seed, hash of the
``pdf_parser_spark/`` sources) and cached on disk, so a later run of the
same code and seed only reads it back.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter

import pyarrow.parquet as pq

FIELDS = ("extracted_text", "clauses_json", "tables_json", "error", "kind",
          "n_pages")


def source_hash(pkg_dir: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, pkg_dir).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def digest(values) -> str:
    return hashlib.sha256(
        json.dumps(list(values), ensure_ascii=False).encode()
    ).hexdigest()


def oracle_digests(cache: str, table_dir: str) -> dict[str, str]:
    """url -> digest of ``extract_document`` over the exact bytes of the
    input table."""
    from pdf_parser_spark.oracle import extract_document

    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    t = pq.read_table(table_dir, columns=["url", "html"])
    out = {}
    for url, blob in zip(t["url"].to_pylist(), t["html"].to_pylist()):
        d = extract_document(url, blob)
        out[url] = digest(getattr(d, f) for f in FIELDS)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    tmp = f"{cache}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, cache)
    return out


def read_committed(table_dir: str) -> list[tuple[str, str]]:
    """(url, digest) for every row of a committed parquet table."""
    files = glob.glob(os.path.join(table_dir, "part_id=*", "*.parquet"))
    out: list[tuple[str, str]] = []
    for fn in files:
        t = pq.read_table(fn, columns=["url", *FIELDS]).to_pydict()
        cols = [t[c] for c in FIELDS]
        out.extend(
            (u, digest(vals)) for u, *vals in zip(t["url"], *cols)
        )
    return out


def check(expected: dict[str, str], committed: list[tuple[str, str]]) -> tuple[int, int]:
    """(committed input docs, failed urls). A url fails when its row is
    missing, duplicated or differs from the oracle digest."""
    seen = Counter(u for u, _ in committed)
    got = dict(committed)
    failed = sum(
        1 for u, d in expected.items() if seen[u] != 1 or got[u] != d
    )
    return sum(1 for u in expected if seen[u] >= 1), failed
