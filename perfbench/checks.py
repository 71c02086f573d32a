"""Output checkers. Each returns a list of problems; an empty list passes.

They run outside the timed window and know nothing of the program: the
expected counts come from the generators, the query reference from
DuckDB.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import hashlib
import io
import json
import math
import os
import struct
import xml.etree.ElementTree as ET
import zipfile

from gen_ates import TABLE_ORDER
_KML = "{http://www.opengis.net/kml/2.2}"


def kmz_document(body: bytes) -> bytes:
    with zipfile.ZipFile(io.BytesIO(body)) as zf:
        return zf.read("doc.kml")


def check_kmz(body: bytes, expected: dict[str, int]) -> list[str]:
    """A KMZ holding ``doc.kml`` that parses as XML, with 6 folders in the
    export's table order, 14 styles, and ``expected[table]`` placemarks in
    each folder."""
    try:
        kml = kmz_document(body)
    except (zipfile.BadZipFile, KeyError) as e:
        return [f"not a KMZ with doc.kml: {e}"]
    try:
        root = ET.fromstring(kml)
    except ET.ParseError as e:
        return [f"doc.kml is not well-formed XML: {e}"]
    problems = []
    folders = root.findall(f"./{_KML}Document/{_KML}Folder")
    if len(folders) != len(TABLE_ORDER):
        problems.append(f"{len(folders)} folders, want {len(TABLE_ORDER)}")
    styles = [s for s in root.iter(f"{_KML}Style") if "id" in s.attrib]
    if len(styles) != 14:
        problems.append(f"{len(styles)} styles, want 14")
    for table, folder in zip(TABLE_ORDER, folders):
        got = len(folder.findall(f"{_KML}Placemark"))
        if got != expected[table]:
            problems.append(f"{table}: {got} placemarks, want {expected[table]}")
    return problems


def stamp_offsets(body: bytes) -> list[int]:
    """Offsets of the 4-byte last-modified time and date field of every
    member, in its local header and in the central directory."""
    with zipfile.ZipFile(io.BytesIO(body)) as zf:
        infos, pos = zf.infolist(), zf.start_dir
    offsets = []
    for zi in infos:
        if body[zi.header_offset:zi.header_offset + 4] != b"PK\x03\x04":
            raise zipfile.BadZipFile(f"no local header for {zi.filename}")
        offsets.append(zi.header_offset + 10)
    for _ in infos:
        if body[pos:pos + 4] != b"PK\x01\x02":
            raise zipfile.BadZipFile("short central directory")
        offsets.append(pos + 12)
        name, extra, comment = struct.unpack("<HHH", body[pos + 28:pos + 34])
        pos += 46 + name + extra + comment
    return offsets


def unstamped(body: bytes) -> bytes:
    """The archive with every last-modified field zeroed."""
    out = bytearray(body)
    for off in stamp_offsets(body):
        out[off:off + 4] = bytes(4)
    return bytes(out)


def check_repeat(first: bytes, again: bytes) -> list[str]:
    """A repeated request returns the bytes of the first answer, except
    for the members' last-modified fields: ``write_kmz`` stamps the time
    of writing, which a repeat written later may not share."""
    if again == first:
        return []
    try:
        if unstamped(again) == unstamped(first):
            return []
    except (zipfile.BadZipFile, struct.error):
        pass
    return ["repeat returned other bytes"]


def check_ndjson(paths: list[str], totals: dict[str, int]) -> list[str]:
    """One directory per table, in export order, whose part files hold
    ``totals[table]`` lines, each a GeoJSON Feature tagged with the table."""
    problems = []
    tables = [os.path.basename(p.rstrip("/")) for p in paths]
    if tables != list(TABLE_ORDER):
        return [f"tables {tables}, want {list(TABLE_ORDER)}"]
    for table, path in zip(tables, paths):
        n = 0
        for part in sorted(glob.glob(os.path.join(path, "part-*"))):
            with open(part, encoding="utf-8") as fh:
                for line in fh:
                    n += 1
                    try:
                        feat = json.loads(line)
                    except json.JSONDecodeError:
                        problems.append(f"{table}: line {n} is not JSON")
                        break
                    if (
                        not isinstance(feat, dict)
                        or feat.get("type") != "Feature"
                        or "geometry" not in feat
                        or (feat.get("properties") or {}).get("table") != table
                    ):
                        problems.append(f"{table}: line {n} is not a {table} Feature")
                        break
        if n != totals[table]:
            problems.append(f"{table}: {n} lines, want {totals[table]}")
    return problems


def _cell(v):
    """Canonical text of one value, equal for equal values across engines:
    numbers compare as floats rounded to 9 decimals (DuckDB may return an
    integer where Spark returns a double), times as ISO text."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return repr(round(f, 9) + 0.0)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def value_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows as a
    sorted multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def check_result(columns: list[str], rows, ref_columns: list[str], ref_rows) -> list[str]:
    """Spark result against its DuckDB twin: row count, then value hash."""
    if len(rows) != len(ref_rows):
        return [f"{len(rows)} rows, DuckDB has {len(ref_rows)}"]
    if value_hash(columns, rows) != value_hash(ref_columns, ref_rows):
        return ["values differ from DuckDB"]
    return []
