"""Geohash cell encoding as dialect-shared SQL (Spark + DuckDB).

Second standard index family next to the engine's native cell grid and the
Web-Mercator XYZ tiles: base32 geohash (Niemeyer's public scheme — bits
alternate lon/lat starting with lon, MSB first, 5 bits per character).

Encoded in CLOSED FORM, not successive halving: the lon/lat cell indices
are floor-scaled quantizations

    lon_idx = floor((lon + 180) / 360 * 2^nlon)   (clamped to the range)
    lat_idx = floor((lat + 90) / 180 * 2^nlat)

whose bits are then interleaved. The arithmetic is add/div/mul/floor and
integer bit ops ONLY — single-rounded IEEE sequences with no libm calls,
so Spark and DuckDB produce bit-identical hashes everywhere, boundaries
included (no tile_xyz-style lattice-margin proof needed; that proof exists
because Mercator needs tan/log). The floor form equals the canonical
halving construction for interior points; AT an exact cell boundary the
halving form's `>= mid` rule and floor agree as well — both send the
boundary to the upper cell — the forms only split when intermediate
rounding differs, which the pytest bounds empirically (20k-point sweep +
the classic u4pruyd test vector).
"""

from __future__ import annotations

GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _shr(expr: str, n: int, dialect: str) -> str:
    return f"shiftright({expr}, {n})" if dialect == "spark" else f"(({expr}) >> {n})"


def _bit_widths(precision: int) -> tuple[int, int, int]:
    nbits = 5 * precision
    return nbits, (nbits + 1) // 2, nbits // 2


def geohash_idx_sql(lat_expr: str, lon_expr: str, precision: int) -> tuple[str, str]:
    """(lon_idx, lat_idx) quantization SQL — dialect-identical (floor,
    LEAST/GREATEST and CAST exist in both engines with the same
    semantics). Every literal is CAST AS DOUBLE so no DECIMAL arithmetic
    sneaks in (bare decimal literals parse as DECIMAL in both engines)."""
    nbits, nlon, nlat = _bit_widths(precision)

    def idx(v: str, offset: int, span: int, cells: int) -> str:
        scaled = (
            f"floor((({v}) + CAST({offset} AS DOUBLE)) / CAST({span} AS DOUBLE) "
            f"* CAST({cells} AS DOUBLE))"
        )
        return f"LEAST(GREATEST(CAST({scaled} AS BIGINT), 0), {cells - 1})"

    return idx(lon_expr, 180, 360, 1 << nlon), idx(lat_expr, 90, 180, 1 << nlat)


def geohash_interleave_sql(precision: int, dialect: str) -> str:
    """Interleaved bit value: bit k of the hash (MSB first) comes from the
    lon index for even k, lat for odd — the standard geohash order."""
    nbits, nlon, nlat = _bit_widths(precision)
    terms = []
    for k in range(nbits):
        src, b = ("gh_lon_idx", nlon - 1 - k // 2) if k % 2 == 0 else ("gh_lat_idx", nlat - 1 - (k - 1) // 2)
        terms.append(f"(({_shr(src, b, dialect)} & 1) * CAST({1 << (nbits - 1 - k)} AS BIGINT))")
    return "(" + " + ".join(terms) + ")"


def geohash_chars_sql(precision: int, dialect: str) -> str:
    """Base32 characters from the interleaved value, 5 bits per char."""
    nbits = 5 * precision
    chars = [
        f"substring('{GEOHASH_ALPHABET}', "
        f"CAST(({_shr('gh_i', nbits - 5 * (c + 1), dialect)} & 31) + 1 AS INT), 1)"
        for c in range(precision)
    ]
    return "concat(" + ", ".join(chars) + ")"


def geohash_py(lat: float, lon: float, precision: int) -> str:
    """Driver-side floor-form twin (tests + driver-side tooling)."""
    nbits, nlon, nlat = _bit_widths(precision)
    lon_idx = min(max(int((lon + 180.0) / 360.0 * (1 << nlon)), 0), (1 << nlon) - 1)
    lat_idx = min(max(int((lat + 90.0) / 180.0 * (1 << nlat)), 0), (1 << nlat) - 1)
    value = 0
    for k in range(nbits):
        if k % 2 == 0:
            bit = (lon_idx >> (nlon - 1 - k // 2)) & 1
        else:
            bit = (lat_idx >> (nlat - 1 - (k - 1) // 2)) & 1
        value = (value << 1) | bit
    return "".join(
        GEOHASH_ALPHABET[(value >> (nbits - 5 * (c + 1))) & 31] for c in range(precision)
    )
