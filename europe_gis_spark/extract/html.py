"""Byte-deterministic HTML → text / coordinate / hostname extraction.

This is the engine-side analogue of the reference's raw-binary decode
pattern (``struct.unpack`` over scanlines,
``/root/reference/scripts/old_files/build_dem.py:63-79``) applied to the
``html:binary`` page payload: pure functions of the input bytes, fully
vendored (no bs4/lxml — library drift would break the byte-identical
golden invariant, SURVEY.md §7.4 risk 1). The per-url invariant
``text == extract_text(html)`` is frozen by golden sha256 tests.

Spark surface: Arrow-batched pandas UDFs (zero per-row Python on the
driver/executor boundary; the regex work is C-backed ``re`` over batch
elements inside the worker).
"""

from __future__ import annotations

import re

import pandas as pd

EXTRACTOR_VERSION = 1

_SCRIPT_RE = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_COMMENT_RE = re.compile(rb"(?s)<!--.*?-->")
_TAG_RE = re.compile(rb"(?s)<[^>]*>")
_WS_RE = re.compile(r"\s+")

_ENTITIES = [
    ("&amp;", "&"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
]

_GEO_META_RE = re.compile(
    rb'(?i)<meta\s+name="geo\.position"\s+content="\s*(-?\d+(?:\.\d+)?)\s*;\s*(-?\d+(?:\.\d+)?)\s*"'
)
# re.ASCII: coordinates are ASCII by definition here — Python str \d
# would otherwise match Unicode digits (fullwidth ４５ etc.) that the
# JVM-regex twin (geo_join.COORD_TEXT_JAVA, Java ASCII \d) and Spark's
# double cast both reject, silently diverging the two extraction paths
_COORD_TEXT_RE = re.compile(
    r"coordinates:\s*(-?\d+(?:\.\d+)?)\s*,\s*(-?\d+(?:\.\d+)?)", re.ASCII
)
_HOST_RE = re.compile(r"^[a-z][a-z0-9+.-]*://([^/:?#]+)")


def extract_text(html: bytes | None) -> str:
    """Deterministic tag-stripping text extraction.

    Steps (frozen; bump EXTRACTOR_VERSION on any change):
      1. drop <script>/<style> blocks and HTML comments (bytes level),
      2. replace every remaining tag with a single space,
      3. decode UTF-8 with U+FFFD replacement (non-UTF8 bytes survive
         deterministically),
      4. unescape the 6 common entities,
      5. collapse all whitespace runs to single spaces, strip.
    """
    if html is None or len(html) == 0:
        return ""
    b = _SCRIPT_RE.sub(b" ", html)
    b = _COMMENT_RE.sub(b" ", b)
    b = _TAG_RE.sub(b" ", b)
    s = b.decode("utf-8", errors="replace")
    for ent, ch in _ENTITIES:
        s = s.replace(ent, ch)
    return _WS_RE.sub(" ", s).strip()


def extract_coords(html: bytes | None, text: str | None) -> tuple[float, float] | None:
    """Coordinate extraction: geo.position meta first, then a
    'coordinates: lat, lon' pattern in the text. Returns (lat, lon)."""
    if html:
        m = _GEO_META_RE.search(html)
        if m:
            return float(m.group(1)), float(m.group(2))
    if text:
        m = _COORD_TEXT_RE.search(text)
        if m:
            return float(m.group(1)), float(m.group(2))
    return None


def extract_host(url: str | None) -> str | None:
    if not url:
        return None
    m = _HOST_RE.match(url)
    return m.group(1).lower() if m else None


# ---------------------------------------------------------------- pandas API
# These operate on whole pandas Series (one Arrow batch) — the shapes used
# inside F.pandas_udf / mapInPandas wrappers in operators/geo_join.py.


def host_series(url: pd.Series) -> pd.Series:
    return url.map(extract_host)
