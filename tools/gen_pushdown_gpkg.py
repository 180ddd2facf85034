#!/usr/bin/env python3
"""Generate an sf1-scale GeoPackage with a real R*-tree for the r13
declarative-pushdown soak (driver-side tooling, like gen_gpkg_fixture.py;
the Scala library only READS gpkg). 600k points uniform over [0,100]^2,
deterministic hash coordinates — the same layout the closed PushdownSoak
experiment generated for the other formats (restore it with
`git show 6174e85:src/main/scala/graft/tools/PushdownSoak.scala`).

Usage: gen_pushdown_gpkg.py [outPath [n]]
"""
import os
import sqlite3
import struct
import sys

OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft_pushdown_sf1/pts.gpkg"
N = int(sys.argv[2]) if len(sys.argv) > 2 else 600000
os.makedirs(os.path.dirname(OUT), exist_ok=True)
if os.path.exists(OUT):
    os.remove(OUT)


def mix64(z):
    z = (z + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def coord(i, salt):
    return (mix64(i * 1000003 + salt) % 1000000) / 1e6 * 100.0


con = sqlite3.connect(OUT)
con.execute("PRAGMA page_size=4096")
con.execute("PRAGMA journal_mode=OFF")
con.execute("PRAGMA synchronous=OFF")
cur = con.cursor()
cur.execute("""CREATE TABLE gpkg_spatial_ref_sys (
  srs_name TEXT NOT NULL, srs_id INTEGER NOT NULL PRIMARY KEY,
  organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
  definition TEXT NOT NULL, description TEXT)""")
cur.execute("INSERT INTO gpkg_spatial_ref_sys VALUES ('WGS 84', 4326, 'EPSG', 4326, 'GEOGCS[...]', NULL)")
cur.execute("""CREATE TABLE gpkg_contents (
  table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL,
  identifier TEXT UNIQUE, description TEXT DEFAULT '',
  last_change DATETIME NOT NULL DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')),
  min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE, srs_id INTEGER)""")
cur.execute("""INSERT INTO gpkg_contents
  (table_name, data_type, identifier, last_change, srs_id)
  VALUES ('pts', 'features', 'pts', '2024-01-01T00:00:00.000Z', 4326)""")
cur.execute("""CREATE TABLE gpkg_geometry_columns (
  table_name TEXT NOT NULL, column_name TEXT NOT NULL,
  geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
  z TINYINT NOT NULL, m TINYINT NOT NULL)""")
cur.execute("INSERT INTO gpkg_geometry_columns VALUES ('pts', 'geom', 'POINT', 4326, 0, 0)")
cur.execute("CREATE TABLE pts (fid INTEGER PRIMARY KEY, id INTEGER, geom BLOB)")


def gpb_point(x, y):
    header = b"GP" + bytes([0, 0x03]) + struct.pack("<i", 4326)
    env = struct.pack("<4d", x, x, y, y)
    wkb = struct.pack("<BI2d", 1, 1, x, y)
    return header + env + wkb


rows = ((i + 1, i, gpb_point(coord(i, 1), coord(i, 2))) for i in range(N))
cur.executemany("INSERT INTO pts VALUES (?,?,?)", rows)
cur.execute("""CREATE VIRTUAL TABLE rtree_pts_geom USING rtree(
  id, minx, maxx, miny, maxy)""")
con.create_function("cx", 2, lambda i, s: coord(i, s))
cur.execute("""INSERT INTO rtree_pts_geom
  SELECT fid, cx(id, 1), cx(id, 1), cx(id, 2), cx(id, 2) FROM pts""")
cur.execute("""CREATE TABLE IF NOT EXISTS gpkg_extensions (
  table_name TEXT, column_name TEXT, extension_name TEXT NOT NULL,
  definition TEXT NOT NULL, scope TEXT NOT NULL)""")
cur.execute("""INSERT INTO gpkg_extensions VALUES
  ('pts', 'geom', 'gpkg_rtree_index',
   'http://www.geopackage.org/spec120/#extension_rtree', 'write-only')""")
con.commit()
con.close()
print("wrote", OUT, os.path.getsize(OUT), "bytes,", N, "rows")
