"""Minimal OpenDocument Spreadsheet (``.ods``) reader.

Parity target: the reference loads spreadsheets via PhpSpreadsheet's
auto-detecting ``IOFactory::load`` (`src/Service/InputHandler/
ExcelInputHandler.php:108-116`), which accepts ODS alongside XLSX/XLS — so a
real user can (and in Europe, does) feed ``.ods`` supplier files through the
Excel pipeline. This module covers the format's cell substance on stdlib
zipfile + ElementTree: an ODS file is a zip whose ``content.xml`` holds
``table:table`` → ``table:table-row`` → ``table:table-cell`` with typed
values and row/column repeat counts.

All cell values surface as strings (the reference's all-strings contract,
same as the XLSX/BIFF8 paths); numbers go through the shared ``_fmt_num``
display rule (integral floats lose the '.0'). Driver-side parse by design:
supplier spreadsheets are small dimension inputs — the 100 TB path is
parquet/CSV through ``spark.read``.

``write_minimal_ods`` is a fixture GENERATOR for tests and the oracle query
only, so the reader is exercised end-to-end without opaque binary fixtures
in the repo.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
import zipfile
import zlib

from etl_edi_data_scrapper_spark.sources.biff import _fmt_num

_O = "{urn:oasis:names:tc:opendocument:xmlns:office:1.0}"
_T = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
_TX = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"

ODS_MIMETYPE = "application/vnd.oasis.opendocument.spreadsheet"

# a repeat count this large is always trailing-empty filler (LibreOffice
# writes number-columns-repeated="16384" for the blank remainder); never
# materialize it for valued cells either — nothing real repeats that much
_MAX_REPEAT = 16384


def is_ods_zip(path: str) -> bool:
    """True when ``path`` is a zip laid out as an OpenDocument spreadsheet
    (mimetype entry or content.xml, and no OOXML workbook part)."""
    try:
        with zipfile.ZipFile(path) as z:
            names = set(z.namelist())
            if "xl/workbook.xml" in names:
                return False
            if "mimetype" in names:
                return (
                    z.read("mimetype").decode("ascii", "replace").strip()
                    == ODS_MIMETYPE
                )
            return "content.xml" in names
    except (zipfile.BadZipFile, zlib.error, EOFError, OSError):
        return False  # not a readable zip: not an ODS file


def _cell_text(cell: ET.Element) -> str | None:
    """Typed cell → display string (all-strings contract)."""
    vt = cell.get(f"{_O}value-type")
    if vt in ("float", "percentage", "currency"):
        raw = cell.get(f"{_O}value")
        if raw is not None:
            return _fmt_num(float(raw))
    if vt == "boolean":
        raw = cell.get(f"{_O}boolean-value")
        if raw is not None:
            return raw.upper()  # PhpSpreadsheet surfaces booleans as TRUE/FALSE
    if vt == "date":
        raw = cell.get(f"{_O}date-value")
        if raw is not None:
            return raw
    if vt == "time":
        raw = cell.get(f"{_O}time-value")
        if raw is not None:
            return raw
    # string cells: the attribute form (valid ODF, no text:p child) first,
    # else concatenate the text:p paragraphs
    raw = cell.get(f"{_O}string-value")
    if raw is not None:
        return raw
    paras = cell.findall(f"{_TX}p")
    if paras:
        return "\n".join("".join(p.itertext()) for p in paras)
    return None


def read_ods_grid(path: str, sheet_name: str | None = None) -> dict[int, dict[int, str]]:
    """.ods file → {row: {col: text}} for one sheet (named, else the first),
    expanding table:number-rows/columns-repeated. Same grid contract as
    ``biff.read_xls_grid`` so the Excel post-processing is shared."""
    with zipfile.ZipFile(path) as z:
        content = ET.fromstring(z.read("content.xml"))
    tables = list(content.iter(f"{_T}table"))
    if not tables:
        raise ValueError(f"no spreadsheet tables in {path!r}")
    names = [t.get(f"{_T}name") for t in tables]
    if sheet_name is None:
        table = tables[0]
    elif sheet_name in names:
        table = tables[names.index(sheet_name)]
    else:
        raise ValueError(f"sheet {sheet_name!r} not found in workbook")

    grid: dict[int, dict[int, str]] = {}
    r = 0
    # iter (not findall): rows wrapped in table:table-header-rows or
    # table:table-row-group must still surface, in document order
    for row in table.iter(f"{_T}table-row"):
        row_rep = min(int(row.get(f"{_T}number-rows-repeated", "1")), _MAX_REPEAT)
        values: dict[int, str] = {}
        c = 0
        for cell in row:
            if cell.tag not in (f"{_T}table-cell", f"{_T}covered-table-cell"):
                continue
            rep = min(int(cell.get(f"{_T}number-columns-repeated", "1")), _MAX_REPEAT)
            val = None
            if cell.tag == f"{_T}table-cell":
                val = _cell_text(cell)
            if val is not None:
                for k in range(rep):
                    values[c + k] = val
            c += rep
        if values:
            for k in range(row_rep):
                grid[r + k] = dict(values)
        r += row_rep
    return grid


# --- minimal ODS writer (test-fixture generator) -----------------------------


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def write_minimal_ods(
    path: str, rows: list[list[str | float | None]], sheet_name: str = "Sheet1"
) -> None:
    """Emit a spec-shaped minimal ``.ods``: stored ``mimetype`` first (per
    ODF packaging), a manifest, and ``content.xml`` with one table. Strings
    become string cells with a ``text:p``; numbers become float cells with
    ``office:value``; ``None`` emits an empty cell. Fixture generator for
    tests and the oracle query ONLY."""
    cells_xml: list[str] = []
    for row in rows:
        parts = ["<table:table-row>"]
        for v in row:
            if v is None:
                parts.append("<table:table-cell/>")
            elif isinstance(v, str):
                parts.append(
                    '<table:table-cell office:value-type="string">'
                    f"<text:p>{_esc(v)}</text:p></table:table-cell>"
                )
            else:
                num = repr(float(v))
                parts.append(
                    f'<table:table-cell office:value-type="float" office:value="{num}">'
                    f"<text:p>{_esc(_fmt_num(float(v)))}</text:p></table:table-cell>"
                )
        parts.append("</table:table-row>")
        cells_xml.append("".join(parts))

    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<office:document-content "
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
        'office:version="1.2">'
        "<office:body><office:spreadsheet>"
        f'<table:table table:name="{_esc(sheet_name)}">'
        f"{''.join(cells_xml)}"
        "</table:table>"
        "</office:spreadsheet></office:body></office:document-content>"
    )
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" '
        'manifest:version="1.2">'
        f'<manifest:file-entry manifest:full-path="/" manifest:media-type="{ODS_MIMETYPE}"/>'
        '<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>'
        "</manifest:manifest>"
    )
    with zipfile.ZipFile(path, "w") as z:
        # mimetype must be first and stored uncompressed (ODF packaging)
        z.writestr(
            zipfile.ZipInfo("mimetype"), ODS_MIMETYPE, compress_type=zipfile.ZIP_STORED
        )
        z.writestr("META-INF/manifest.xml", manifest)
        z.writestr("content.xml", content)
