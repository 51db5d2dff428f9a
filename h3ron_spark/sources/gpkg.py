"""GeoPackage (GPKG) vector sink on stdlib sqlite3 — no GDAL.

Parity target: the reference's example pipeline writes its H3-cell
polygons + values to a GeoPackage via GDAL
(h3ron-ndarray/examples/h3ify_r_tiff.rs:32-58, `gdal::Driver GPKG`).
This module reproduces that sink from the PUBLIC specs alone:

  * OGC GeoPackage Encoding Standard 1.3 (OGC 12-128r18): the
    required gpkg_spatial_ref_sys / gpkg_contents /
    gpkg_geometry_columns tables, `application_id = "GPKG"`,
    `user_version`, and the GeoPackageBinary geometry blob (magic
    'GP', version, flags, srs_id, envelope, then ISO WKB).
  * OGC 06-103r4 (Simple Features / WKB): little-endian WKB for
    Point / LineString / Polygon / MultiPolygon.

Scale design note (why collect-to-driver is CORRECT here): a .gpkg
is one SQLite file — there is no parallel write. The layers a 100-TB
pipeline exports to GPKG are the SUMMARIZED vector products
(dissolved region multipolygons, isochrone contours, route lines):
thousands of rows, not the fact table. A row-count guard enforces
that contract; anything bigger belongs in parquet.

The writer is cross-validated in tests by reading the file back with
sqlite3 and independently re-parsing the WKB payload.
"""

from __future__ import annotations

import sqlite3
import struct

from pyspark.sql import DataFrame

from h3ron_spark.h3core.wkt import parse_wkt

_MAX_FEATURES = 1_000_000


def _wkb_coords(pts) -> bytes:
    # internal parse is (lat, lng); WKB stores x=lng, y=lat
    return b"".join(struct.pack("<dd", lng, lat) for lat, lng in pts)


def _wkb_body(kind: str, payload) -> bytes:
    if kind == "point":
        lat, lng = payload
        return struct.pack("<BI", 1, 1) + struct.pack("<dd", lng, lat)
    if kind == "linestring":
        return (
            struct.pack("<BII", 1, 2, len(payload)) + _wkb_coords(payload)
        )
    if kind == "polygon":
        outer, holes = payload
        rings = [outer] + list(holes)
        out = struct.pack("<BII", 1, 3, len(rings))
        for r in rings:
            out += struct.pack("<I", len(r)) + _wkb_coords(r)
        return out
    if kind == "multipolygon":
        out = struct.pack("<BII", 1, 6, len(payload))
        for poly in payload:
            out += _wkb_body("polygon", poly)
        return out
    if kind == "multilinestring":
        out = struct.pack("<BII", 1, 5, len(payload))
        for line in payload:
            out += _wkb_body("linestring", line)
        return out
    if kind == "multipoint":
        out = struct.pack("<BII", 1, 4, len(payload))
        for pt in payload:
            out += _wkb_body("point", pt)
        return out
    raise ValueError(f"unsupported geometry kind for GPKG: {kind}")


def wkt_to_gpkg_blob(wkt: str, srs_id: int = 4326) -> bytes:
    """WKT -> GeoPackageBinary: 'GP' header (version 0, flags bit 1 =
    little-endian envelope absent contributes 0; we emit envelope
    type 1 = XY) + ISO WKB."""
    kind, payload = parse_wkt(wkt)
    body = _wkb_body(kind, payload)
    # envelope from every coordinate in the body
    xs, ys = [], []

    def walk(k, p):
        if k == "point":
            ys.append(p[0]), xs.append(p[1])
        elif k in ("linestring", "multipoint"):
            for lat, lng in p:
                ys.append(lat), xs.append(lng)
        elif k == "polygon":
            outer, holes = p
            for r in [outer] + list(holes):
                for lat, lng in r:
                    ys.append(lat), xs.append(lng)
        elif k in ("multipolygon",):
            for poly in p:
                walk("polygon", poly)
        elif k in ("multilinestring",):
            for line in p:
                walk("linestring", line)

    walk(kind, payload)
    flags = 0x01 | (1 << 1)  # little-endian, envelope type 1 (XY)
    hdr = b"GP" + bytes([0, flags]) + struct.pack("<i", srs_id)
    env = struct.pack(
        "<4d", min(xs), max(xs), min(ys), max(ys)
    )
    return hdr + env + body


def write_gpkg(
    df: DataFrame,
    path: str,
    layer: str,
    wkt_col: str = "wkt",
    srs_id: int = 4326,
    geometry_type: str = "GEOMETRY",
) -> int:
    """Write a DataFrame with a WKT column (+ any scalar property
    columns) as one GeoPackage layer. Returns the feature count.
    Guarded to summarized layers (<= 1M rows) — see module docstring
    for why a single-SQLite-file sink must not receive a fact table."""
    rows = df.limit(_MAX_FEATURES + 1).collect()
    if len(rows) > _MAX_FEATURES:
        raise ValueError(
            f"write_gpkg is for summarized vector layers "
            f"(> {_MAX_FEATURES} rows; write parquet instead)"
        )
    prop_cols = [c for c in df.columns if c != wkt_col]
    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        cur.execute("PRAGMA application_id = 1196444487")  # 'GPKG'
        cur.execute("PRAGMA user_version = 10300")  # 1.3.0
        cur.execute(
            """CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
                 srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
                 organization TEXT NOT NULL,
                 organization_coordsys_id INTEGER NOT NULL,
                 definition TEXT NOT NULL, description TEXT)"""
        )
        cur.executemany(
            "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
            [
                ("Undefined cartesian", -1, "NONE", -1, "undefined", None),
                ("Undefined geographic", 0, "NONE", 0, "undefined", None),
                (
                    "WGS 84",
                    4326,
                    "EPSG",
                    4326,
                    'GEOGCS["WGS 84",DATUM["WGS_1984",'
                    'SPHEROID["WGS 84",6378137,298.257223563]],'
                    'PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]',
                    None,
                ),
            ],
        )
        cur.execute(
            """CREATE TABLE IF NOT EXISTS gpkg_contents (
                 table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL,
                 identifier TEXT UNIQUE, description TEXT DEFAULT '',
                 last_change DATETIME DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')),
                 min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
                 srs_id INTEGER)"""
        )
        cur.execute(
            """CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
                 table_name TEXT NOT NULL, column_name TEXT NOT NULL,
                 geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
                 z TINYINT NOT NULL, m TINYINT NOT NULL,
                 CONSTRAINT pk_geom_cols PRIMARY KEY (table_name, column_name))"""
        )
        prop_ddl = "".join(f", {c}" for c in prop_cols)
        cur.execute(
            f"CREATE TABLE {layer} (fid INTEGER PRIMARY KEY AUTOINCREMENT,"
            f" geom BLOB{prop_ddl})"
        )
        minx = miny = float("inf")
        maxx = maxy = float("-inf")
        ins = (
            f"INSERT INTO {layer} (geom{prop_ddl}) VALUES "
            f"({','.join(['?'] * (1 + len(prop_cols)))})"
        )
        n = 0
        for r in rows:
            blob = wkt_to_gpkg_blob(r[wkt_col], srs_id)
            ex = struct.unpack("<4d", blob[8:40])
            minx, maxx = min(minx, ex[0]), max(maxx, ex[1])
            miny, maxy = min(miny, ex[2]), max(maxy, ex[3])
            cur.execute(ins, (blob, *[r[c] for c in prop_cols]))
            n += 1
        cur.execute(
            "INSERT INTO gpkg_contents (table_name, data_type, identifier,"
            " min_x, min_y, max_x, max_y, srs_id) VALUES (?,?,?,?,?,?,?,?)",
            (layer, "features", layer, minx, miny, maxx, maxy, srs_id),
        )
        cur.execute(
            "INSERT INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
            (layer, "geom", geometry_type, srs_id),
        )
        con.commit()
        return n
    finally:
        con.close()


def read_gpkg_layer(spark, path: str, layer: str) -> DataFrame:
    """Read a GPKG feature layer back: geometry decoded from the
    GeoPackageBinary blob to WKT-equivalent coordinate arrays is the
    caller's job; this returns (fid, geom_wkb, properties...) with the
    GP header stripped — enough for round-trip validation and for
    re-ingesting exported layers."""
    con = sqlite3.connect(path)
    try:
        cur = con.execute(f"SELECT * FROM {layer}")
        cols = [d[0] for d in cur.description]
        rows = []
        for row in cur.fetchall():
            d = dict(zip(cols, row))
            blob = d.pop("geom")
            flags = blob[3]
            env_type = (flags >> 1) & 0x07
            env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}[env_type]
            d["geom_wkb"] = bytes(blob[8 + env_len :])
            rows.append(d)
        out_cols = [c for c in cols if c != "geom"] + ["geom_wkb"]
        return spark.createDataFrame(
            [[r[c] for c in out_cols] for r in rows], out_cols
        )
    finally:
        con.close()
