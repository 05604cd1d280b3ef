"""The cell-id bit layout (res·2^58 + ix·2^29 + iy) is spelled only in
geo/cells.py: every other module encodes and decodes through its codec
(numpy, Catalyst and DuckDB twins). This scans the package, the entry
module, bench.py and scripts/ for the layout's literals and the codec's
private shift constants. Tests are out of scope: they keep independent
twins on purpose."""

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
CODEC = ROOT / "socialmapper_spark" / "geo" / "cells.py"
LAYOUT = re.compile(
    r"2\s*\*\*\s*(?:58|29)\b|288230376151711744|536870912|_R_SHIFT|_IX_SHIFT"
)


def _scanned_files():
    yield from (ROOT / "socialmapper_spark").rglob("*.py")
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    yield from (ROOT / "scripts").rglob("*.py")


def _layout_hits(path: pathlib.Path) -> list[str]:
    return [
        f"{path.relative_to(ROOT)}:{i}: {line.strip()}"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if LAYOUT.search(line)
    ]


def test_scanner_flags_each_spelling():
    for spelling in ("9 * (2**58)", "x * 2 ** 29", "288230376151711744",
                     "ix*536870912", "from cells import _R_SHIFT", "F.lit(_IX_SHIFT)"):
        assert LAYOUT.search(f"cell = {spelling}"), spelling
    assert _layout_hits(CODEC)  # the codec itself does spell the layout


def test_layout_spelled_only_in_cells_module():
    files = [p for p in _scanned_files() if p.resolve() != CODEC.resolve()]
    assert len(files) > 30
    hits = [h for p in files for h in _layout_hits(p)]
    assert not hits, "cell-id layout spelled outside geo/cells.py:\n" + "\n".join(hits)
