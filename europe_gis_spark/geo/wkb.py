"""Minimal WKB (well-known binary) codec — pure Python/numpy.

Geometry travels through Spark as ``BinaryType`` WKB columns (SURVEY.md
§1.1.2); this codec is the only (de)serializer, so the bytes are stable
across sessions (little-endian, IEEE doubles). Supports Point, LineString,
Polygon (with holes) and MultiPolygon — the shapes the reference actually
uses (NUTS polygons incl. multipolygons,
``/root/reference/src/data_engineering/raster_processor.py:43-57``).

Decoded form: a ``Geom`` namedtuple ``(kind, rings)`` where ``rings`` is a
list of (n,2) float64 numpy arrays. For MultiPolygon, ``parts`` holds a
list of ring-lists. Ring 0 of each part is the shell; subsequent rings are
holes. Rings are stored as given (closed: first==last vertex).
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np

WKB_POINT = 1
WKB_LINESTRING = 2
WKB_POLYGON = 3
WKB_MULTIPOLYGON = 6

_LE = 1  # little-endian byte-order flag


class Geom(NamedTuple):
    kind: int  # one of the WKB_* constants
    parts: list  # Point -> [array(1,2)]; Polygon -> [rings]; MultiPolygon -> [[rings], ...]


def encode_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", _LE, WKB_POINT, float(x), float(y))


def _encode_ring(ring: np.ndarray) -> bytes:
    ring = np.asarray(ring, dtype="<f8")
    return struct.pack("<I", len(ring)) + ring.tobytes()


def encode_polygon(rings: list[np.ndarray]) -> bytes:
    body = struct.pack("<BII", _LE, WKB_POLYGON, len(rings))
    return body + b"".join(_encode_ring(r) for r in rings)


def encode_multipolygon(parts: list[list[np.ndarray]]) -> bytes:
    body = struct.pack("<BII", _LE, WKB_MULTIPOLYGON, len(parts))
    return body + b"".join(encode_polygon(rings) for rings in parts)


def _read_header(buf: bytes, off: int) -> tuple[int, int, bool]:
    (bo,) = struct.unpack_from("<B", buf, off)
    little = bo == 1
    fmt = "<I" if little else ">I"
    (gtype,) = struct.unpack_from(fmt, buf, off + 1)
    return gtype & 0xFF, off + 5, little


def _read_ring(buf: bytes, off: int, little: bool) -> tuple[np.ndarray, int]:
    fmt = "<I" if little else ">I"
    (n,) = struct.unpack_from(fmt, buf, off)
    off += 4
    dt = "<f8" if little else ">f8"
    pts = np.frombuffer(buf, dtype=dt, count=2 * n, offset=off).reshape(n, 2)
    return pts.astype(np.float64, copy=False), off + 16 * n


def _read_polygon_body(buf: bytes, off: int, little: bool):
    fmt = "<I" if little else ">I"
    (nrings,) = struct.unpack_from(fmt, buf, off)
    off += 4
    rings = []
    for _ in range(nrings):
        ring, off = _read_ring(buf, off, little)
        rings.append(ring)
    return rings, off


def decode(buf: bytes) -> Geom:
    gtype, off, little = _read_header(buf, 0)
    if gtype == WKB_POINT:
        dt = "<f8" if little else ">f8"
        pt = np.frombuffer(buf, dtype=dt, count=2, offset=off).reshape(1, 2)
        return Geom(WKB_POINT, [pt.astype(np.float64, copy=False)])
    if gtype == WKB_LINESTRING:
        ring, _ = _read_ring(buf, off, little)
        return Geom(WKB_LINESTRING, [ring])
    if gtype == WKB_POLYGON:
        rings, _ = _read_polygon_body(buf, off, little)
        return Geom(WKB_POLYGON, rings)
    if gtype == WKB_MULTIPOLYGON:
        fmt = "<I" if little else ">I"
        (nparts,) = struct.unpack_from(fmt, buf, off)
        off += 4
        parts = []
        for _ in range(nparts):
            _, off2, lit2 = _read_header(buf, off)
            rings, off = _read_polygon_body(buf, off2, lit2)
            parts.append(rings)
        return Geom(WKB_MULTIPOLYGON, parts)
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def polygon_parts(g: Geom) -> list[list[np.ndarray]]:
    """Normalize a (Multi)Polygon Geom to a list of polygon ring-lists."""
    if g.kind == WKB_POLYGON:
        return [g.parts]
    if g.kind == WKB_MULTIPOLYGON:
        return g.parts
    raise ValueError("not a polygonal geometry")
