"""XLSX/XLSM backend (B8) parity with the reference's OWN groundtruth:
item-stream (table dims, pictures, sheet groups) and byte-exact markdown.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from doc_parser_spark.functions.docx_extract import flat_items
from doc_parser_spark.functions.export_tree_md import export_tree_markdown
from doc_parser_spark.functions.xlsx_extract import extract_xlsx, parse_xlsx
from tests.test_reference_fixtures import _parse_itxt

XLSX_DIR = Path("/root/reference/tests/data/xlsx")
GT_DIR = Path("/root/reference/tests/data/groundtruth/docling_v2")

_NEEDS_REF = pytest.mark.skipif(
    not XLSX_DIR.is_dir(), reason=f"reference fixtures missing: {XLSX_DIR}"
)


def _fixtures():
    """Fixture names with groundtruth; one skipped case when the
    reference checkout is absent (collection must not fail)."""
    if not XLSX_DIR.is_dir():
        return [pytest.param("", marks=_NEEDS_REF)]
    return sorted(
        p.name for p in XLSX_DIR.iterdir()
        if (GT_DIR / f"{p.name}.itxt").exists()
    )


FIXTURES = _fixtures()


@pytest.mark.parametrize("name", FIXTURES)
def test_xlsx_itxt_parity(name):
    got = []
    for n in flat_items(parse_xlsx((XLSX_DIR / name).read_bytes())):
        if n.label == "table":
            g = n.grid or []
            got.append(("table", len(g), len(g[0]) if g else 0))
        elif n.label == "picture":
            got.append(("picture", ""))
        else:
            got.append((n.label, n.text))
    expected = _parse_itxt(GT_DIR / f"{name}.itxt")
    assert got == expected


@pytest.mark.parametrize("name", FIXTURES)
def test_xlsx_markdown_parity(name):
    ours = export_tree_markdown(
        parse_xlsx((XLSX_DIR / name).read_bytes())
    ).rstrip("\n")
    expected = (GT_DIR / f"{name}.md").read_text().rstrip("\n")
    assert ours == expected


@_NEEDS_REF
def test_extract_xlsx_surface():
    text, spans = extract_xlsx((XLSX_DIR / "test-01.xlsx").read_bytes())
    assert "first" in text and "col-4" in text
    pages = {s[3] for s in spans}
    assert pages == {1, 2, 3}  # one page per sheet
    for s, e, label, _ in spans:
        assert label == "table" and 0 <= s < e <= len(text)
