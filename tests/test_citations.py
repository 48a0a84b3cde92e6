"""Every repo file a comment, docstring or test cites must exist: a
citation of a file that was never committed (or was deleted with the
route it measured) sends the reader nowhere.

Scanned: the package, bench.py and tests/. Cited forms: paths under
scripts/, plans/, perfbench/ or tests/ (package-relative citations such
as ``plans/image_pipeline.py`` resolve inside the package) and top-level
records such as ``STATUS.md`` or ``OPTIMIZATION_r14.md``. Citations of
the reference repository (``pipeline.py:78``) have other shapes and are
out of scope."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "xrddatapipeline_spark"

PATH = re.compile(r"(?<![\w/.-])(?:scripts|plans|perfbench|tests)/[\w./-]*\w")
RECORD = re.compile(r"(?<![\w/.-])[A-Z][A-Z_0-9]*(?:_r\d+)?\.md\b")


def _scanned() -> list[pathlib.Path]:
    return [
        *sorted(PKG.rglob("*.py")),
        ROOT / "bench.py",
        *sorted((ROOT / "tests").rglob("*.py")),
    ]


def test_cited_repo_files_exist():
    missing = []
    for f in _scanned():
        for n, line in enumerate(f.read_text().splitlines(), 1):
            for m in [*PATH.finditer(line), *RECORD.finditer(line)]:
                cited = m.group(0)
                if not ((ROOT / cited).exists() or (PKG / cited).exists()):
                    missing.append(f"{f.relative_to(ROOT)}:{n}: {cited}")
    assert not missing, "\n".join(missing)


def test_citation_patterns():
    """Guard against patterns that silently match nothing, or too much."""
    line = "(scripts/run_pipeline.py, tests/conftest.py; STATUS.md, OPTIMIZATION_r14.md)."
    assert PATH.findall(line) == ["scripts/run_pipeline.py", "tests/conftest.py"]
    assert RECORD.findall(line) == ["STATUS.md", "OPTIMIZATION_r14.md"]
    other = "pipeline.py:78, xrddatapipeline_spark/plans/x.py, plans.readback"
    assert PATH.findall(other) == [] and RECORD.findall(other) == []
