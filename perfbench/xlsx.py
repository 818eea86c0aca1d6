"""Minimal stdlib XLSX writer for the benchmark's generated workbooks.

Kept separate from the package's own writer on purpose: if the engine's
reader and writer shared a bug, a round trip through both would hide it.
This writer stores every cell as a shared string (the layout office suites
produce), while the package's writer uses inline strings, so the reader is
exercised on a format the engine did not write itself.
"""

from __future__ import annotations

import os
import zipfile
from xml.sax.saxutils import escape

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_RNS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
_PNS = "http://schemas.openxmlformats.org/package/2006/relationships"
_CT = "application/vnd.openxmlformats-officedocument.spreadsheetml"


def _col_ref(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path: str, header: list[str], rows: list[list[str]]) -> int:
    """Write one sheet of string cells; returns the file size in bytes."""
    strings: dict[str, int] = {}

    def sid(v: str) -> int:
        return strings.setdefault(v, len(strings))

    body = []
    for r, row in enumerate([header] + rows, start=1):
        cells = "".join(
            f'<c r="{_col_ref(c)}{r}" t="s"><v>{sid(str(v))}</v></c>'
            for c, v in enumerate(row)
        )
        body.append(f'<row r="{r}">{cells}</row>')
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in strings)
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/'
            'vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            f'<Override PartName="/xl/workbook.xml" ContentType="{_CT}.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="{_CT}.worksheet+xml"/>'
            f'<Override PartName="/xl/sharedStrings.xml" ContentType="{_CT}.sharedStrings+xml"/>'
            "</Types>"
        ),
        "_rels/.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{_PNS}">'
            f'<Relationship Id="rId1" Type="{_RNS}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{_NS}" xmlns:r="{_RNS}">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
        ),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{_PNS}">'
            f'<Relationship Id="rId1" Type="{_RNS}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{_RNS}/sharedStrings" Target="sharedStrings.xml"/>'
            "</Relationships>"
        ),
        "xl/sharedStrings.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?>'
            f'<sst xmlns="{_NS}" count="{len(strings)}" uniqueCount="{len(strings)}">{sst}</sst>'
        ),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{_NS}">'
            f"<sheetData>{''.join(body)}</sheetData></worksheet>"
        ),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, content in parts.items():
            z.writestr(name, content)
    return os.path.getsize(path)
