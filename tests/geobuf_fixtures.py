"""Shared codec test fixtures: deterministic county-shaped geobuf frames
and the numpy batch decode behind decode_features_fast.

The reference corpus file county.geobuf holds property-bearing Polygon
features written by an older encoder that stored no bbox field. These
frames reproduce that layout without the corpus: core.encode_feature
always appends the bbox (tag 0x2A), so `strip_bbox` cuts it off.
"""
import numpy as np
import pyarrow as pa

from geobuf_spark.codec import core
from geobuf_spark.codec import spark_codec as sc


def batch_decode(frames) -> dict:
    """Numpy decode of one single-geom-code batch of frames — the
    geometry path of spark_codec.decode_features_fast."""
    _, ids, codes, toks, first, cnt = sc._tokenize_geometry(
        pa.array(frames, type=pa.binary()))
    assert (codes == codes[0]).all()
    return sc._decode_code_group(int(codes[0]), ids, toks, first, cnt)


def strip_bbox(frame: bytes) -> bytes:
    """The frame without its bbox field (tag 0x2A)."""
    pos, out = 0, bytearray()
    while pos < len(frame):
        tag = frame[pos]
        val, nxt = core.decode_varint(frame, pos + 1)
        end = nxt + val if tag & 0x7 == 2 else nxt
        if tag != 0x2A:
            out += frame[pos:end]
        pos = end
    return bytes(out)


def county_polygons(n: int = 60, seed: int = 5) -> list:
    """n closed Polygon features of 1-3 rings (an outer ring and small
    inner rings) carrying county.geobuf's AREA / COLORKEY / index
    properties."""
    rng = np.random.default_rng(seed)
    feats = []
    for i in range(n):
        cx, cy = rng.uniform(-120, -70), rng.uniform(25, 48)
        rings = []
        for r in range(int(rng.integers(1, 4))):
            nv = int(rng.integers(4, 12))
            ang = np.sort(rng.uniform(0, 2 * np.pi, nv - 1))
            rad = (0.3 if r == 0 else 0.05) * rng.uniform(0.5, 1.0, nv - 1)
            ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
            rings.append(np.round(np.vstack([ring, ring[:1]]), 7).tolist())
        props = {"AREA": str(int(rng.integers(1000, 99999))),
                 "COLORKEY": f"#{int(rng.integers(0, 1 << 24)):06X}",
                 "index": i}
        feats.append(core.Feature.from_geojson(
            "Polygon", rings, id=i, properties=props))
    return feats
