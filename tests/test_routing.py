"""One routing and error path: only ``kernels/`` and ``oracle.py`` may
import the extraction kernels that ``oracle.extract_document`` routes
between. Any other caller would be a second copy of the oracle's
routing and error rows, a fork of the kernels' logic. Spark-free:
the package source is parsed with ``ast``, nothing is imported."""

import ast
from pathlib import Path

PKG = "pdf_parser_spark"
PKG_ROOT = Path(__file__).resolve().parent.parent / PKG
ROUTED = {f"{PKG}.kernels.{m}" for m in ("html_extract", "tables", "clauses")}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(PKG_ROOT.parent).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported_modules(path: Path) -> set[str]:
    """Absolute names of every module ``path`` imports, relative imports
    resolved; ``from a import b`` yields both ``a`` and ``a.b`` since b
    may be a submodule."""
    mod = _module_name(path)
    pkg = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg.split(".")
                base = base[: len(base) - (node.level - 1)]
                src = ".".join(base + ([node.module] if node.module else []))
            else:
                src = node.module or ""
            out.add(src)
            out.update(f"{src}.{a.name}" for a in node.names)
    return out


def _importers(allowed) -> dict[str, set[str]]:
    found = {}
    for path in sorted(PKG_ROOT.rglob("*.py")):
        rel = path.relative_to(PKG_ROOT)
        if allowed(rel):
            continue
        hits = _imported_modules(path) & ROUTED
        if hits:
            found[str(rel)] = hits
    return found


def test_only_oracle_imports_routed_kernels():
    found = _importers(
        lambda rel: rel.parts[0] == "kernels" or str(rel) == "oracle.py"
    )
    assert found == {}, f"kernel routing forked outside oracle.py: {found}"


def test_guard_sees_oracle_imports():
    # the scan must resolve oracle.py's relative imports, or the guard
    # above would pass vacuously
    found = _importers(lambda rel: str(rel) != "oracle.py")
    assert found == {"oracle.py": ROUTED}
