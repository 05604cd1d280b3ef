"""Deterministic geoparser: text → (lat, lon, mentions).

New operator mandated by the north_star (SURVEY.md §2.8 F18) — the
reference has no text geoparser (its closest analogs are the state-bounds
attribution in query/__init__.py:222-246 and the external geocoder). The
contract is byte-identical output per url across reruns and partition
counts, so the extractor is a pure function of ``text`` with two
implementations that agree bit-for-bit:

- :func:`geoparse_cols` — pure Catalyst column expressions (regexp_extract
  + array/map built-ins). This is the production path: JVM-side, zero
  Python. It does not run inside whole-stage codegen: ``mentions`` is an
  ``F.filter`` lambda, so the ``Filter``/``Project`` above the pair
  ``Generate`` are interpreted, with no ``*(n)`` stage (a codegen-able
  ``array_except`` spelling measured no faster on the flagship).
- :func:`pair_strings` — the two ``regexp_extract`` calls alone.
  ``lat``/``lon`` each inline them about ten times, and Catalyst
  copies the whole expression into every filter it pushes below the
  projection that defines them (``FilterExec`` has no common
  subexpression elimination). ``pipeline.geoparse_pages`` therefore
  extracts the pair once behind a ``Generate``, which no predicate on
  the generator's output can cross, and passes the strings to
  :func:`geoparse_cols`.
- :func:`geoparse_py` — the numpy/pandas twin used by golden generation
  and the pytest parity suite.

Extraction rules (evaluated identically by both):

1. The FIRST substring matching ``(-?\\d{1,2}\\.\\d{4,7}), (-?\\d{1,3}\\.\\d{4,7})``
   is taken as a candidate (lat, lon) pair. If it is range-valid
   (|lat| ≤ 90, |lon| ≤ 180) those are the coordinates; if the first match
   is out of range the coordinate channel yields NULL (no further scan —
   keeps the two regex engines trivially equivalent).
2. ``mentions`` = gazetteer names contained in the text (case-sensitive
   substring), ordered by canonical gazetteer order.
3. If no valid coordinate pair but mentions exist, coordinates fall back
   to the first mention's gazetteer location.
4. Otherwise lat/lon are NULL (FIXTURES.md: ~10% of pages carry no geo
   signal).

Floats are parsed by string→double casts, which are correctly-rounded
IEEE 754 in both the JVM and CPython — bit-identical.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Synthetic gazetteer over the fixture bbox (35.0–36.0°N, 79.5–78.0°W —
# NC-like grid per FIXTURES.md §2). Canonical order matters: mention lists
# are emitted in this order. Insertion order is the canonical order.
GAZETTEER: dict[str, tuple[float, float]] = {
    "Fuquay-Varina": (35.584200, -78.800100),
    "Holly Springs": (35.651300, -78.833600),
    "Apex": (35.732700, -78.850300),
    "Cary": (35.791500, -78.781200),
    "Raleigh": (35.779600, -78.638200),
    "Durham": (35.994000, -78.898600),
    "Chapel Hill": (35.913200, -79.055800),
    "Carrboro": (35.910100, -79.075300),
    "Garner": (35.711300, -78.614200),
    "Clayton": (35.650700, -78.456400),
    "Wake Forest": (35.979900, -78.509700),
    "Pittsboro": (35.720200, -79.177300),
    "Sanford": (35.479900, -79.180300),
    "Smithfield": (35.508500, -78.339400),
    "Hillsborough": (36.075400, -79.099800),
    "Zebulon": (35.824300, -78.314600),
}

_PAIR_RE = r"(-?\d{1,2}\.\d{4,7}), (-?\d{1,3}\.\d{4,7})"
_PAIR_RE_COMPILED = re.compile(_PAIR_RE)


# ---------------------------------------------------------------------------
# Python twin (goldens / pytest oracle)
# ---------------------------------------------------------------------------

def geoparse_py(text: str | None) -> tuple[float | None, float | None, list[str]]:
    """Pure-Python geoparse; bit-identical to :func:`geoparse_cols`."""
    if text is None:
        return None, None, []
    mentions = [name for name in GAZETTEER if name in text]
    lat = lon = None
    m = _PAIR_RE_COMPILED.search(text)
    if m:
        cand_lat, cand_lon = float(m.group(1)), float(m.group(2))
        if -90.0 <= cand_lat <= 90.0 and -180.0 <= cand_lon <= 180.0:
            lat, lon = cand_lat, cand_lon
    if lat is None and mentions:
        lat, lon = GAZETTEER[mentions[0]]
    return lat, lon, mentions


# ---------------------------------------------------------------------------
# Catalyst implementation (production hot path — no UDF)
# ---------------------------------------------------------------------------

def pair_strings(text: Column) -> tuple[Column, Column]:
    """The first coordinate pair's (lat, lon) strings; "" when none."""
    return F.regexp_extract(text, _PAIR_RE, 1), F.regexp_extract(text, _PAIR_RE, 2)


def geoparse_cols(
    text: Column, raw_lat: Column | None = None, raw_lon: Column | None = None
) -> dict[str, Column]:
    """Returns {'lat','lon','mentions'} column expressions over ``text``;
    pass ``raw_lat``/``raw_lon`` if :func:`pair_strings` already ran."""
    if raw_lat is None or raw_lon is None:
        raw_lat, raw_lon = pair_strings(text)
    cand_lat = F.when(raw_lat != "", raw_lat.cast("double"))
    cand_lon = F.when(raw_lon != "", raw_lon.cast("double"))
    valid = (
        cand_lat.isNotNull()
        & cand_lon.isNotNull()
        & (F.abs(cand_lat) <= 90.0)
        & (F.abs(cand_lon) <= 180.0)
    )

    names = list(GAZETTEER)
    mentions = F.filter(
        F.array(*[F.lit(n) for n in names]),
        lambda n: F.contains(text, n),
    )
    lat_map = F.create_map(
        *[c for n in names for c in (F.lit(n), F.lit(GAZETTEER[n][0]))]
    )
    lon_map = F.create_map(
        *[c for n in names for c in (F.lit(n), F.lit(GAZETTEER[n][1]))]
    )
    # try_element_at: NULL (not error) on empty mention list / missing key —
    # required under Spark 4's default ANSI mode
    first_mention = F.try_element_at(mentions, F.lit(1))
    fallback_lat = F.try_element_at(lat_map, first_mention)
    fallback_lon = F.try_element_at(lon_map, first_mention)

    lat = F.when(valid, cand_lat).otherwise(fallback_lat)
    lon = F.when(valid, cand_lon).otherwise(fallback_lon)
    return {"lat": lat, "lon": lon, "mentions": mentions}
