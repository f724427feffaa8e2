"""Excel source (SURVEY.md §2.1 S3) — the reference reads `.xlsx` Euronext
files with ``pd.read_excel`` (etl/etl.py:510-511).

Spark core has no Excel reader and this container has no openpyxl, but an
`.xlsx` file is just a zip of XML parts — `xl/workbook.xml` (sheet index),
`xl/sharedStrings.xml` (string pool), `xl/worksheets/sheetN.xml` (cells).
The codec here is pure stdlib (``zipfile`` + ``xml.etree``), so S3 is a
real decode, not an env-gated stub.

Two read paths:

- ``read_excel_listing`` — driver-side decode of ONE file →
  ``spark.createDataFrame``. Correct for the reference's shape (one small
  daily listing per day; dimension-sized, never big data).
- ``read_excel_dir`` — the scale path: ``spark.read.format("binaryFile")``
  over a directory + Arrow ``mapInPandas`` decoding each file inside the
  executors. A year of daily feeds decodes with per-file parallelism and
  zero driver involvement; this is the shape that survives thousands of
  files.

A minimal ``write_xlsx`` (inline-string cells) exists so fixtures and
tests can roundtrip without any external writer.
"""

from __future__ import annotations

import io
import os
import re
import zipfile
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

HAS_EXCEL = True  # stdlib codec — always available

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


# ---------------------------------------------------------------------------
# decode (pure function over bytes — shared by driver and executor paths)
# ---------------------------------------------------------------------------


def _col_index(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 (base-26 bijective)."""
    idx = 0
    for ch in ref:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _cell_value(cell: ET.Element, shared: list[str]):
    """One <c> element → python value (str/float/bool/None)."""
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        texts = [t.text or "" for t in cell.iter(f"{_NS}t")]
        return "".join(texts) if texts else None
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if ctype == "s":
        return shared[int(v.text)]
    if ctype in ("str", "e"):
        return v.text
    if ctype == "b":
        return v.text == "1"
    return float(v.text)  # 'n' — xlsx stores all numbers as doubles


def decode_xlsx_bytes(data: bytes, sheet: str | None = None):
    """xlsx bytes → (header: list[str], rows: list[list]). First sheet by
    default, or the named one. Sparse rows are densified by cell ref."""
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.iter(f"{_NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))

        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        rel_ns = "{http://schemas.openxmlformats.org/package/2006/relationships}"
        rid_ns = ("{http://schemas.openxmlformats.org/officeDocument/2006/"
                  "relationships}id")
        targets = {r.get("Id"): r.get("Target") for r in rels.iter(f"{rel_ns}Relationship")}
        sheet_path = None
        for sh in wb.iter(f"{_NS}sheet"):
            if sheet is None or sh.get("name") == sheet:
                target = targets[sh.get(rid_ns)]
                sheet_path = target if target.startswith("xl/") else f"xl/{target}"
                break
        if sheet_path is None:
            raise ValueError(f"sheet {sheet!r} not found in workbook")

        rows: list[list] = []
        root = ET.fromstring(zf.read(sheet_path))
        for row_el in root.iter(f"{_NS}row"):
            cells: list = []
            for cell in row_el.iter(f"{_NS}c"):
                ref = cell.get("r")
                if ref:
                    m = _CELL_REF.match(ref)
                    col = _col_index(m.group(1)) if m else len(cells)
                else:
                    col = len(cells)
                while len(cells) <= col:
                    cells.append(None)
                cells[col] = _cell_value(cell, shared)
            rows.append(cells)

    if not rows:
        return [], []
    width = max(len(r) for r in rows)
    rows = [r + [None] * (width - len(r)) for r in rows]
    header = ["" if c is None else str(c) for c in rows[0]]
    return header, rows[1:]


def _coerce(value, dtype: T.DataType):
    """Excel numbers arrive as float; align to the declared schema the way
    pd.read_excel + astype would (SURVEY.md §1.2 type discipline)."""
    if value is None:
        return None
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return int(float(value))
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(value)
    if isinstance(dtype, T.BooleanType):
        return bool(value)
    if isinstance(dtype, T.StringType):
        if isinstance(value, float) and value.is_integer():
            return str(int(value))  # '42', not '42.0' — header/code columns
        return str(value)
    raise TypeError(f"unsupported excel target type: {dtype}")


def _rows_for_schema(header: list[str], rows: list[list],
                     schema: T.StructType) -> list[tuple]:
    pos = {name: i for i, name in enumerate(header)}
    missing = [f.name for f in schema.fields if f.name not in pos]
    if missing:
        raise ValueError(f"xlsx missing columns {missing}; header={header}")
    return [
        tuple(_coerce(row[pos[f.name]], f.dataType) for f in schema.fields)
        for row in rows
    ]


# ---------------------------------------------------------------------------
# read paths
# ---------------------------------------------------------------------------


def read_excel_listing(spark: SparkSession, path: str,
                       schema: T.StructType | None = None,
                       sheet: str | None = None) -> DataFrame:
    """S3 — one Euronext daily `.xlsx` → DataFrame (driver-side decode;
    these files are per-day dimension-sized, not fact-sized). Without a
    schema every column is StringType (schema-on-read caller coerces,
    matching the reference's pd.to_numeric discipline)."""
    with open(path, "rb") as fh:
        header, rows = decode_xlsx_bytes(fh.read(), sheet)
    if schema is None:
        schema = T.StructType(
            [T.StructField(name, T.StringType(), True) for name in header]
        )
    return spark.createDataFrame(_rows_for_schema(header, rows, schema), schema)


def read_excel_dir(spark: SparkSession, path: str, schema: T.StructType,
                   sheet: str | None = None,
                   pattern: str = "*.xlsx") -> DataFrame:
    """S3 at scale — every `.xlsx` under ``path`` decoded executor-side:
    binaryFile scan → mapInPandas, one Arrow batch per file. Parallelism =
    #files; the driver never touches file bytes."""
    import pandas as pd

    fields = schema.fields

    def decode(batches):
        for pdf in batches:
            for _, rec in pdf.iterrows():
                header, rows = decode_xlsx_bytes(bytes(rec["content"]), sheet)
                typed = _rows_for_schema(header, rows, schema)
                yield pd.DataFrame(
                    {f.name: [r[i] for r in typed] for i, f in enumerate(fields)}
                )

    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
        .select("path", "content")
    )
    return binary.mapInPandas(decode, schema)


# ---------------------------------------------------------------------------
# minimal writer (fixtures/tests only — inline strings, no style parts)
# ---------------------------------------------------------------------------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
    'package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
    'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    "</Types>"
)
_ROOT_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
    'relationships"><Relationship Id="rId1" Type="http://schemas.'
    'openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
    'Target="xl/workbook.xml"/></Relationships>'
)
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/'
    'main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
    'relationships"><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/>'
    "</sheets></workbook>"
)
_WORKBOOK_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/'
    'relationships"><Relationship Id="rId1" Type="http://schemas.'
    'openxmlformats.org/officeDocument/2006/relationships/worksheet" '
    'Target="worksheets/sheet1.xml"/></Relationships>'
)


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;"))


def write_xlsx(path: str, header: list[str], rows: list[tuple]) -> str:
    """Write a single-sheet xlsx: numbers as numeric cells, everything else
    as inline strings (the reader supports sharedStrings too, for files
    produced by real writers)."""
    sheet = io.StringIO()
    sheet.write(
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
        '2006/main"><sheetData>'
    )
    for r, row in enumerate([tuple(header)] + list(rows), start=1):
        sheet.write(f'<row r="{r}">')
        for c, value in enumerate(row):
            if value is None:
                continue
            col = ""
            n = c + 1
            while n:
                n, rem = divmod(n - 1, 26)
                col = chr(ord("A") + rem) + col
            ref = f"{col}{r}"
            if isinstance(value, bool):
                sheet.write(f'<c r="{ref}" t="b"><v>{int(value)}</v></c>')
            elif isinstance(value, (int, float)):
                sheet.write(f'<c r="{ref}"><v>{value!r}</v></c>')
            else:
                sheet.write(
                    f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
                    f"{_xml_escape(str(value))}</t></is></c>"
                )
        sheet.write("</row>")
    sheet.write("</sheetData></worksheet>")

    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", _CONTENT_TYPES)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WORKBOOK)
        zf.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        zf.writestr("xl/worksheets/sheet1.xml", sheet.getvalue())
    return path


# ---------------------------------------------------------------------------
# fixture for the catalog query (nation roundtripped through xlsx)
# ---------------------------------------------------------------------------

NATION_SCHEMA = T.StructType([
    T.StructField("n_nationkey", T.LongType(), True),
    T.StructField("n_name", T.StringType(), True),
    T.StructField("n_regionkey", T.LongType(), True),
])


def ensure_nation_xlsx(spark: SparkSession, sf_dir: str) -> str:
    """Materialize `nation` as xlsx files (split in two so read_excel_dir
    exercises multi-file parallelism), once per sf dir."""
    from .registry import ensure_fixture

    def build_into(tmp: str) -> None:
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        rows = [
            (r["n_nationkey"], r["n_name"], r["n_regionkey"])
            for r in nation.select(
                "n_nationkey", "n_name", "n_regionkey"
            ).collect()
        ]
        rows.sort()
        mid = max(1, len(rows) // 2)
        write_xlsx(os.path.join(tmp, "nation_part1.xlsx"),
                   [f.name for f in NATION_SCHEMA.fields], rows[:mid])
        write_xlsx(os.path.join(tmp, "nation_part2.xlsx"),
                   [f.name for f in NATION_SCHEMA.fields], rows[mid:])

    return ensure_fixture("nation_xlsx", sf_dir, build_into)
