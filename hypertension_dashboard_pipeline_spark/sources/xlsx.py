"""Minimal pure-stdlib ``.xlsx`` reader (zipfile + ElementTree).

The reference ingests its codelists directly from Excel workbooks via
R's ``rio::import`` (2_data_importing_cleaning.R:204-269,
4_hypertension_phenotype_main.R:50-54): first sheet, header row, first
column holds the OMOP concept IDs.  This container has no openpyxl, and
the workbooks involved are tiny driver-side inputs (tens to hundreds of
rows, read once at plan-build time), so a dependency-free reader of the
SpreadsheetML subset those files use is the right scale trade-off: the
cluster never sees the xlsx — only the IN-literal codelists derived
from it.

Supported: shared strings, inline strings, numbers, booleans, formula
string results, sparse cells addressed by ``r="A1"`` references, sheet
selection by name.  Not supported (raises or ignores, by design): styles,
dates-as-serials (codelists are plain integers), charts, macros.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
import zipfile
from typing import Any

_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _col_index(ref: str) -> int:
    """'A' -> 0, 'Z' -> 25, 'AA' -> 26."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _sheet_paths(zf: zipfile.ZipFile) -> dict[str, str]:
    """Sheet name -> archive member path, in workbook order."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rel_target = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.findall("{*}Relationship")
    }
    out: dict[str, str] = {}
    for sheet in wb.findall(".//{*}sheet"):
        rid = sheet.get(
            "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
        )
        target = rel_target.get(rid, "")
        if target.startswith("/"):
            target = target.lstrip("/")
        elif not target.startswith("xl/"):
            target = "xl/" + target
        out[sheet.get("name", "")] = target
    return out


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        raw = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(raw)
    strings: list[str] = []
    for si in root.findall("{*}si"):
        # plain <t> or rich-text runs <r><t>; join all text nodes
        strings.append("".join(t.text or "" for t in si.iter() if t.tag.endswith("}t")))
    return strings


def _cell_value(cell: ET.Element, shared: list[str]) -> Any:
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        return "".join(
            t.text or "" for t in cell.iter() if t.tag.endswith("}t")
        )
    v = cell.find("{*}v")
    if v is None or v.text is None:
        return None
    if ctype == "s":
        return shared[int(v.text)]
    if ctype == "str":
        return v.text
    if ctype == "b":
        return v.text == "1"
    # numeric: preserve ints exactly (concept IDs), floats otherwise
    num = float(v.text)
    return int(num) if num.is_integer() else num


def read_xlsx_rows(path: str, sheet: str | None = None) -> list[list[Any]]:
    """Read one sheet of *path* as a list of rows (lists of values).

    ``sheet=None`` reads the first sheet (the reference's
    ``rio::import`` default).  Rows are padded with ``None`` to the
    widest row; missing/blank cells are ``None``.
    """
    with zipfile.ZipFile(path) as zf:
        sheets = _sheet_paths(zf)
        if not sheets:
            raise ValueError(f"no sheets in workbook: {path}")
        if sheet is None:
            member = next(iter(sheets.values()))
        elif sheet in sheets:
            member = sheets[sheet]
        else:
            raise KeyError(f"sheet {sheet!r} not in {sorted(sheets)}")
        shared = _shared_strings(zf)
        root = ET.fromstring(zf.read(member))
        rows: list[list[Any]] = []
        for row_el in root.findall(".//{*}sheetData/{*}row"):
            row: list[Any] = []
            next_col = 0
            for cell in row_el.findall("{*}c"):
                ref = cell.get("r")
                if ref:
                    m = _CELL_REF.match(ref)
                    col = _col_index(m.group(1)) if m else next_col
                else:
                    col = next_col
                while len(row) < col:
                    row.append(None)
                row.append(_cell_value(cell, shared))
                next_col = col + 1
            rows.append(row)
    width = max((len(r) for r in rows), default=0)
    return [r + [None] * (width - len(r)) for r in rows]


def write_xlsx(path: str, rows: list[list[Any]], sheet: str = "Sheet1") -> None:
    """Write a minimal single-sheet xlsx (test fixtures; inline strings
    so the reader's shared-string path is exercised separately)."""

    def esc(s: str) -> str:
        return (
            s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    def col_ref(i: int) -> str:
        ref = ""
        i += 1
        while i:
            i, rem = divmod(i - 1, 26)
            ref = chr(ord("A") + rem) + ref
        return ref

    body = []
    for ri, row in enumerate(rows, start=1):
        cells = []
        for ci, val in enumerate(row):
            if val is None:
                continue
            ref = f"{col_ref(ci)}{ri}"
            if isinstance(val, bool):
                cells.append(f'<c r="{ref}" t="b"><v>{int(val)}</v></c>')
            elif isinstance(val, (int, float)):
                cells.append(f'<c r="{ref}"><v>{val}</v></c>')
            else:
                cells.append(
                    f'<c r="{ref}" t="inlineStr"><is><t>{esc(str(val))}</t></is></c>'
                )
        body.append(f'<row r="{ri}">{"".join(cells)}</row>')

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pns = "http://schemas.openxmlformats.org/package/2006/relationships"
    ct = "http://schemas.openxmlformats.org/package/2006/content-types"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            f'<?xml version="1.0"?><Types xmlns="{ct}">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            "</Types>",
        )
        zf.writestr(
            "_rels/.rels",
            f'<?xml version="1.0"?><Relationships xmlns="{pns}">'
            f'<Relationship Id="rId1" Type="{rns}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<?xml version="1.0"?><workbook xmlns="{ns}" xmlns:r="{rns}">'
            f'<sheets><sheet name="{esc(sheet)}" sheetId="1" r:id="rId1"/></sheets>'
            "</workbook>",
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<?xml version="1.0"?><Relationships xmlns="{pns}">'
            f'<Relationship Id="rId1" Type="{rns}/worksheet" Target="worksheets/sheet1.xml"/>'
            "</Relationships>",
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0"?><worksheet xmlns="{ns}">'
            f'<sheetData>{"".join(body)}</sheetData></worksheet>',
        )
