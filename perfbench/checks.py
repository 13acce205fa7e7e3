"""Reference computations the benchmark checks operator outputs
against.  They share no code with the engine: file formats are
decoded from their specs, geometry predicates are plain numpy."""

from __future__ import annotations

import gzip
import struct
import zlib

import numpy as np

ORIGIN = np.pi * 6378137.0  # half the web-mercator square, metres
MERC_LAT_MAX = 85.05112877980659


# --- geometry ----------------------------------------------------------

def polygon_rings(wkb: bytes) -> list[np.ndarray]:
    """Rings of a little- or big-endian WKB POLYGON."""
    order = "<" if wkb[0] == 1 else ">"
    gtype, nrings = struct.unpack_from(order + "II", wkb, 1)
    if gtype != 3:
        raise ValueError(f"expected a WKB polygon, got type {gtype}")
    off, rings = 9, []
    for _ in range(nrings):
        (npts,) = struct.unpack_from(order + "I", wkb, off)
        off += 4
        pts = np.frombuffer(wkb, dtype=np.dtype("f8").newbyteorder(order),
                            count=2 * npts, offset=off)
        rings.append(pts.reshape(npts, 2).astype(np.float64))
        off += 16 * npts
    return rings


def points_in_polygon(x: np.ndarray, y: np.ndarray,
                      rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd ray cast over all rings (holes included)."""
    inside = np.zeros(len(x), dtype=bool)
    for ring in rings:
        x0, y0 = ring[:-1, 0], ring[:-1, 1]
        x1, y1 = ring[1:, 0], ring[1:, 1]
        for a, b, c, d in zip(x0, y0, x1, y1):
            crosses = (b > y) != (d > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = a + (y - b) * (c - a) / (d - b)
            inside ^= crosses & (x < xi)
    return inside


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    r = np.pi / 180.0
    dlat = (lat2 - lat1) * r
    dlon = (lon2 - lon1) * r
    a = (np.sin(dlat / 2) ** 2
         + np.cos(lat1 * r) * np.cos(lat2 * r) * np.sin(dlon / 2) ** 2)
    return 2 * 6371008.8 * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def tile_counts(lon: np.ndarray, lat: np.ndarray, base_zoom: int,
                zooms) -> dict[int, int]:
    """Distinct web-mercator tiles holding at least one point.  Points
    snap to ``base_zoom`` pixels by GDAL's tile rule,
    floor((x - top_left) / pixel_size + 1e-3), and every coarser tile
    is the one holding that pixel."""
    mx = lon * ORIGIN / 180.0
    lat = np.clip(lat, -MERC_LAT_MAX, MERC_LAT_MAX)
    my = np.log(np.tan((90.0 + lat) * np.pi / 360.0)) / np.pi * ORIGIN
    size = 256 * (1 << base_zoom)
    res = 2.0 * ORIGIN / (1 << base_zoom) / 256
    px = np.clip(np.floor((mx + ORIGIN) / res + 1e-3), 0, size - 1)
    py = np.clip(np.floor((ORIGIN - my) / res + 1e-3), 0, size - 1)
    out = {}
    for z in zooms:
        per_tile = 256 << (base_zoom - z)
        tx = px.astype(np.int64) // per_tile
        ty = py.astype(np.int64) // per_tile
        out[z] = len(np.unique(tx * size + ty))
    return out


# --- file formats ------------------------------------------------------

def tile_array(data: bytes, dtype: str, size: int) -> np.ndarray:
    """Pixels of one engine tile: raw, ``deflate:<dtype>`` (zlib) or
    ``const:<dtype>`` (one value for the whole tile)."""
    codec, _, base = dtype.rpartition(":")
    dt = np.dtype(base)
    if codec == "const":
        return np.full((size, size), np.frombuffer(data, dtype=dt)[0])
    raw = zlib.decompress(data) if codec == "deflate" else data
    return np.frombuffer(raw, dtype=dt).reshape(size, size)


def png_pixels(data: bytes) -> np.ndarray:
    """Decode an 8-bit greyscale / RGB / RGBA non-interlaced PNG."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    off, idat = 8, []
    width = height = channels = 0
    while off < len(data):
        (length,) = struct.unpack_from(">I", data, off)
        tag = data[off + 4:off + 8]
        body = data[off + 8:off + 8 + length]
        off += 12 + length
        if tag == b"IHDR":
            width, height, depth, ctype, _, _, interlace = \
                struct.unpack(">IIBBBBB", body)
            if depth != 8 or interlace:
                raise ValueError("only 8-bit non-interlaced PNG")
            channels = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    raw = np.frombuffer(zlib.decompress(b"".join(idat)), dtype=np.uint8)
    stride = width * channels
    rows = raw.reshape(height, stride + 1)
    out = np.zeros((height, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(height):
        ftype, line = rows[r, 0], rows[r, 1:].astype(np.int32)
        if ftype == 4 and not prev.any():
            ftype = 1  # Paeth with a zero row above predicts "left"
        if ftype == 0:
            cur = line
        elif ftype == 2:
            cur = (line + prev) & 0xFF
        elif ftype == 1 and channels == 1:
            cur = np.cumsum(line) & 0xFF
        elif not line.any() and not prev.any():
            cur = line
        else:
            cur = np.zeros(stride, dtype=np.int32)
            for i in range(stride):
                a = cur[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c)
                cur[i] = (line[i] + pred) & 0xFF
        out[r] = cur
        prev = cur
    return out.reshape(height, width, channels)


def _varint(buf: bytes, off: int) -> tuple[int, int]:
    val = shift = 0
    while True:
        b = buf[off]
        off += 1
        val |= (b & 0x7F) << shift
        if b < 0x80:
            return val, off
        shift += 7


def _fields(buf: bytes):
    """(field number, wire type, value) of one protobuf message."""
    off = 0
    while off < len(buf):
        key, off = _varint(buf, off)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            val, off = _varint(buf, off)
        elif wt == 2:
            n, off = _varint(buf, off)
            val, off = buf[off:off + n], off + n
        elif wt == 1:
            val, off = buf[off:off + 8], off + 8
        elif wt == 5:
            val, off = buf[off:off + 4], off + 4
        else:
            raise ValueError(f"protobuf wire type {wt}")
        yield fno, wt, val


def mvt_feature_ids(data: bytes) -> list[int]:
    """Feature ids of every layer of one (optionally gzipped) MVT."""
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    ids = []
    for fno, _, layer in _fields(data):
        if fno != 3:
            continue
        for lf, _, feat in _fields(layer):
            if lf == 2:
                ids.extend(v for f, _, v in _fields(feat) if f == 1)
    return ids


# --- text --------------------------------------------------------------

def simhash_band_pairs(keys: np.ndarray, sigs: np.ndarray,
                       n_bands: int) -> set[tuple[int, int]]:
    """Pairs of keys (a < b) sharing any of ``n_bands`` simhash words."""
    width = 64 // n_bands
    u = sigs.astype(np.int64).view(np.uint64)
    pairs: set[tuple[int, int]] = set()
    for band in range(n_bands):
        words = (u >> np.uint64(band * width)) & np.uint64((1 << width) - 1)
        order = np.argsort(words, kind="stable")
        w, k = words[order], keys[order]
        starts = np.flatnonzero(np.r_[True, w[1:] != w[:-1]])
        ends = np.r_[starts[1:], len(w)]
        for s, e in zip(starts, ends):
            if e - s > 1:
                grp = np.sort(k[s:e])
                ii, jj = np.triu_indices(e - s, k=1)
                pairs.update(zip(grp[ii].tolist(), grp[jj].tolist()))
    return pairs
