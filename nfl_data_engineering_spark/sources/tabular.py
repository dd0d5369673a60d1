"""Small-table config source/sink: Excel (S3/S10).

The reference reads its 221-row URL registry and writes a stats db as Excel
(team_rankings_scraper.py:15, :246, :251). These are driver-side small-table
ops — the registry is broadcast-sized config, not data — so the adapter
reads on the driver and lifts to a DataFrame.

The .xlsx codec here is a self-contained minimal implementation of the
public OOXML spreadsheet format (ECMA-376: a zip holding worksheet XML + an
optional shared-strings table) on stdlib ``zipfile`` + ``xml.etree``, and
the only one used: cells read back the same whichever Excel engines are
installed. It covers what a config registry/export needs — one sheet,
header row, string/number cells, shared and inline strings.
"""

from __future__ import annotations

import re
import zipfile
from xml.etree import ElementTree as ET
from xml.sax.saxutils import escape

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .html_table import REGISTRY_SCHEMA

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
           "relationships}")


def _col_index(cell_ref: str) -> int:
    """'A1' -> 0, 'AB7' -> 27 (0-based column of an A1-style reference)."""
    letters = re.match(r"[A-Z]+", cell_ref).group(0)
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def read_xlsx_pandas(path: str) -> pd.DataFrame:
    """Minimal .xlsx -> pandas: first worksheet, row 1 as header.

    Understands shared strings (t="s"), inline strings (t="inlineStr"),
    literal strings (t="str") and numeric cells — the cell types a config
    workbook produced by pandas/openpyxl/Excel actually contains."""
    with zipfile.ZipFile(path) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{_NS}si"):
                # a shared string is one <t> or rich-text runs of <r><t>
                shared.append("".join(t.text or ""
                                      for t in si.iter(f"{_NS}t")))
        sheet_names = sorted(n for n in zf.namelist()
                             if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n))
        if not sheet_names:
            raise ValueError(f"{path}: no worksheet XML found")
        root = ET.fromstring(zf.read(sheet_names[0]))
        rows: list[dict[int, object]] = []
        for row_el in root.iter(f"{_NS}row"):
            row: dict[int, object] = {}
            last_ci = -1
            for c in row_el.findall(f"{_NS}c"):
                ref = c.get("r") or ""
                # unreferenced cells follow the PREVIOUS cell's column, not
                # the count of parsed cells — ECMA-376 writers omit empty
                # cells, so len(row) would shift values left
                ci = _col_index(ref) if ref else last_ci + 1
                last_ci = ci
                ctype = c.get("t", "n")
                if ctype == "inlineStr":
                    is_el = c.find(f"{_NS}is")
                    val = "".join(t.text or ""
                                  for t in is_el.iter(f"{_NS}t")) if is_el is not None else ""
                else:
                    v = c.find(f"{_NS}v")
                    raw = v.text if v is not None else None
                    if raw is None:
                        val = None
                    elif ctype == "s":
                        val = shared[int(raw)]
                    elif ctype == "str":
                        val = raw
                    elif ctype == "b":
                        val = bool(int(raw))
                    elif re.fullmatch(r"-?\d+", raw):
                        # integer literal: parse as int directly — the
                        # float path truncates past 2^53
                        val = int(raw)
                    else:
                        # non-integer-literal numeric cell stays float:
                        # collapsing integral floats to int would change
                        # cell dtype across a write/read roundtrip (2.0
                        # reading back as 2, 1e16 as an int). Excel
                        # numeric cells are typeless; the literal form is
                        # the only type signal we have.
                        val = float(raw)
                row[ci] = val
            rows.append(row)
    if not rows:
        return pd.DataFrame()
    header = rows[0]
    # width = max populated column over ALL rows, not just the header —
    # hand-edited/third-party sheets may carry data cells beyond the
    # header's last populated cell; those get generated col{i} names
    # instead of being silently dropped
    ncols = max((max(r) + 1 for r in rows if r), default=0)
    cols = [str(header.get(i, f"col{i}")) for i in range(ncols)]
    data = [[r.get(i) for i in range(ncols)] for r in rows[1:]]
    return pd.DataFrame(data, columns=cols)


def write_xlsx_pandas(pdf: pd.DataFrame, path: str) -> None:
    """Minimal pandas -> .xlsx: one sheet, inline-string/number cells.

    Inline strings (no shared-strings indirection) keep the writer
    single-pass; every mainstream reader (Excel, openpyxl, pandas, DuckDB's
    spatial extension) accepts them."""
    def cell_xml(ref: str, v: object) -> str:
        if v is None or (isinstance(v, float) and v != v):
            return ""
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return (f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                f"{escape(str(v))}</t></is></c>")

    def col_ref(i: int) -> str:
        ref = ""
        i += 1
        while i:
            i, rem = divmod(i - 1, 26)
            ref = chr(ord("A") + rem) + ref
        return ref

    # itertuples, NOT pdf.values: .values finds the common dtype of the
    # whole frame, so an int64 column next to a float64 column upcasts to
    # float64 and corrupts ids above 2^53 before serialization
    all_rows = [list(pdf.columns)] + [
        list(t) for t in pdf.itertuples(index=False, name=None)]
    row_xml = []
    for rn, vals in enumerate(all_rows, start=1):
        cells = "".join(cell_xml(f"{col_ref(ci)}{rn}", v)
                        for ci, v in enumerate(vals))
        row_xml.append(f'<row r="{rn}">{cells}</row>')
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS[1:-1]}"><sheetData>'
        + "".join(row_xml) + "</sheetData></worksheet>")
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
        'worksheet+xml"/>'
        "</Types>")
    rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>')
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS[1:-1]}" xmlns:r="{_REL_NS[1:-1]}">'
        '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>")
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
        '2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def read_registry_excel(spark: SparkSession, path: str,
                        schema: str = REGISTRY_SCHEMA) -> DataFrame:
    """S3: driver-side Excel read of a config registry -> DataFrame
    (team_rankings_scraper.py:15 reads the 221-row URL registry xlsx).
    The frame is broadcast-sized by construction (hundreds of rows)."""
    pdf = read_xlsx_pandas(path).fillna("").astype(str)
    return spark.createDataFrame(pdf, schema=schema)


EXCEL_EXPORT_MAX_ROWS = 1_000_000  # the .xlsx format's own sheet limit


def write_excel(df: DataFrame, path: str,
                max_rows: int = EXCEL_EXPORT_MAX_ROWS) -> None:
    """S10: driver-side Excel export (team_rankings_scraper.py:251 analog).
    Only for export-sized frames — collect happens on the driver, so the
    row-count gate refuses large tables BEFORE toPandas() can OOM the
    driver (this is the one deliberate driver-side sink in the repo; large
    exports belong in the parquet/csv sinks)."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"write_excel: {n} rows exceeds the driver-side export cap "
            f"({max_rows}); use write_partitioned/csv sinks for large "
            "tables — xlsx is an export format, not a data sink")
    write_xlsx_pandas(df.toPandas(), path)
