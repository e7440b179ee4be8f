"""Geobuf codec over Spark DataFrames.

The point, line and polygon functions (`encode_points`, `decode_points`,
`decode_points_agg`, `roundtrip_points`, `encode_lines`, `decode_lines`,
`decode_lines_agg`, `encode_polygons`, `decode_polygons`,
`decode_polygons_agg`) are the one production codec: each is a column
expression over the JVM UDFs of codec/jvm/GbCodec.java, so it runs inside
whole-stage codegen with no Python worker and no Arrow serde.
codec/core.py is the per-feature reference oracle the tests hold them to.

The Arrow/numpy code below covers what has no JVM twin: the generic
import/export edge (any geometry type and dimension, with properties —
ConvertGeojson/ConvertGeobuf analog, convert_geojson.go:153-193),
fixed-schema property tables, lazy property reads, and the key and bbox
walks over raw frames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geobuf_spark.codec import core, jvm_codec


# ---------------------------------------------------------------------------
# point / line / polygon codec — column expressions over the JVM UDFs
# (codec/jvm/GbCodec.java), evaluated inside whole-stage codegen
# ---------------------------------------------------------------------------

def _udf(df: DataFrame, name: str, *cols) -> Column:
    """`name(cols…)` over the gb_* JVM UDFs, registered on df's session."""
    jvm_codec.register(df.sparkSession)
    return F.call_udf(name, *cols)


def _f64(c: str) -> Column:
    return F.col(c).cast("double")


def _long(c: str) -> Column:
    return F.col(c).cast("long")


def _coords(c: str) -> Column:
    return F.col(c).cast("array<double>")


def encode_points(df: DataFrame, id_col: str = "doc_id", lon: str = "lon",
                  lat: str = "lat", out: str = "geobuf") -> DataFrame:
    """(id, lon, lat) → (id, geobuf) Point frames (write_feature.go:192-263
    layout with the degenerate bbox). A null id/lon/lat fails the task:
    the wire format has no null encoding, so filter before encoding."""
    enc = _udf(df, "gb_point_enc", _long(id_col), _f64(lon), _f64(lat))
    return df.select(_long(id_col).alias(id_col), enc.alias(out))


def _point_columns(p: Column, id_col: str) -> list:
    return [F.element_at(p, 1).alias(id_col),
            F.element_at(p, 2).alias("lon_q"),
            F.element_at(p, 3).alias("lat_q")]


def decode_points(df: DataFrame, bin_col: str = "geobuf",
                  id_col: str = "id") -> DataFrame:
    """Point frames → (id, lon_q, lat_q), exact int64 on the 1e-7 lattice.
    Frames may carry properties, lack a bbox, or order fields freely (the
    reference decoder's field walk, read_feature.go:9-100)."""
    p = _udf(df, "gb_point", F.col(bin_col))
    return df.select(p.alias("p")).select(*_point_columns(F.col("p"), id_col))


def roundtrip_points(df: DataFrame, id_col: str = "doc_id", lon: str = "lon",
                     lat: str = "lat") -> DataFrame:
    """Fused encode→decode, gb_point(gb_point_enc(…)): proves the wire
    format on every row → (id, lon_q, lat_q)."""
    enc = _udf(df, "gb_point_enc", _long(id_col), _f64(lon), _f64(lat))
    p = F.call_udf("gb_point", enc)
    return df.select(p.alias("p")).select(*_point_columns(F.col("p"), id_col))


def decode_points_agg(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Fused decode→reduce for point frames → one row (n, sum_id,
    sum_lon_q, sum_lat_q): the decode folds into the aggregate's pipeline,
    so the decoded columns are never materialized (the ReadBoundingBox /
    LazyFeature shape, reader.go:145-166)."""
    p = F.col("p")
    return df.select(_udf(df, "gb_point", F.col(bin_col)).alias("p")).agg(
        F.count("*").alias("n"),
        F.sum(F.element_at(p, 1)).alias("sum_id"),
        F.sum(F.element_at(p, 2)).alias("sum_lon_q"),
        F.sum(F.element_at(p, 3)).alias("sum_lat_q"))


def encode_lines(df: DataFrame, id_col: str = "line_id", coords: str = "coords",
                 out: str = "geobuf") -> DataFrame:
    """(id, coords flat x,y array<double>) → (id, geobuf) LineString frames
    (writeline deltas, geom.go:204-246; bbox over the quantized lattice).
    Vertices of other widths, MultiPoint and MultiLineString go through
    encode_features_generic."""
    enc = _udf(df, "gb_line_enc", _long(id_col), _coords(coords))
    return df.select(_long(id_col).alias(id_col), enc.alias(out))


def decode_lines(df: DataFrame, bin_col: str = "geobuf",
                 id_col: str = "line_id") -> DataFrame:
    """LineString frames → (id, coords_q flat array<bigint>), exact ints;
    the vertex width comes from each frame's geometry code."""
    a = F.col("a")
    return df.select(_udf(df, "gb_line_decode", F.col(bin_col)).alias("a")).select(
        F.element_at(a, 1).alias(id_col),
        F.slice(a, 2, F.greatest(F.size(a) - 1, F.lit(0))).alias("coords_q"))


def decode_lines_agg(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Fused decode→reduce for line frames → one row (n, sum_size,
    sum_first_x): Σ size(coords_q) and Σ first x, the roads-scan shape."""
    s = F.col("s")
    return df.select(_udf(df, "gb_line_stats", F.col(bin_col)).alias("s")).agg(
        F.count("*").alias("n"),
        F.sum(F.element_at(s, 2)).alias("sum_size"),
        F.sum(F.element_at(s, 3)).alias("sum_first_x"))


def encode_polygons(df: DataFrame, id_col: str = "poly_id", coords: str = "coords",
                    ring_lens: str = "ring_lens", out: str = "geobuf") -> DataFrame:
    """(id, coords flat x,y array<double>, ring_lens array<int>) → (id,
    geobuf) Polygon frames: per ring varint(nv·2) then its deltas, the
    delta state reset at each ring (geom.go:255-273)."""
    enc = _udf(df, "gb_poly_enc", _long(id_col), _coords(coords), F.col(ring_lens))
    return df.select(_long(id_col).alias(id_col), enc.alias(out))


def decode_polygons(df: DataFrame, bin_col: str = "geobuf",
                    id_col: str = "poly_id") -> DataFrame:
    """Ring frames → (id, coords_q flat array<bigint>, ring_lens
    array<int>). The UDF emits [id, R, nv_1…nv_R, coords…]."""
    a = F.col("a")
    nr = F.element_at(a, 2).cast("int")
    return df.select(_udf(df, "gb_poly_dec", F.col(bin_col)).alias("a")).select(
        F.element_at(a, 1).alias(id_col),
        F.slice(a, nr + 3, F.greatest(F.size(a) - nr - 2, F.lit(0))).alias("coords_q"),
        F.slice(a, 3, nr).cast("array<int>").alias("ring_lens"))


def decode_polygons_agg(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Fused decode→reduce for ring frames → one row (n, sum_id,
    sum_rings, sum_coord_tokens)."""
    a = F.col("a")
    return df.select(_udf(df, "gb_poly_dec", F.col(bin_col)).alias("a")).agg(
        F.count("*").alias("n"),
        F.sum(F.element_at(a, 1)).alias("sum_id"),
        F.sum(F.element_at(a, 2)).alias("sum_rings"),
        F.sum(F.size(a) - F.element_at(a, 2) - 2).alias("sum_coord_tokens"))


# ---------------------------------------------------------------------------
# numpy batch kernels (testable without Spark)
# ---------------------------------------------------------------------------

class _FrameWriter:
    """Scatter helper for the batch encode kernels: a per-row write cursor
    over one contiguous output buffer."""

    def __init__(self, buf: np.ndarray, pos: np.ndarray):
        self.buf = buf
        self.pos = pos.copy()

    def const(self, byte: int):
        self.buf[self.pos] = byte
        self.pos = self.pos + 1

    def mat(self, mat: np.ndarray, lens: np.ndarray):
        for j in range(mat.shape[1]):
            sel = lens > j
            self.buf[self.pos[sel] + j] = mat[sel, j]
        self.pos = self.pos + lens


def _tokenize_geometry(frames: pa.Array, allow_missing: bool = False):
    """Payload-level decode prologue: field-walk every frame for the id
    (tag 0x08), geom code (tag 0x18) and geometry payload (tag 0x22),
    gather the payload byte ranges contiguously, and varint-tokenize ONLY
    those bytes. This tolerates properties, missing bbox, and any field
    order — the same per-field walk the reference decoder does
    (read_feature.go:9-100), batched.

    Returns (n, ids, codes, tokens, first, counts) where tokens are the
    geometry deltas/headers only and first/counts index them per frame.
    With allow_missing=True, geometry-less frames get code -1 and an
    empty token range instead of raising."""
    combined = pa.concat_arrays([frames.cast(pa.binary())])
    n = len(combined)
    if n == 0:
        e = np.empty(0, dtype=np.int64)
        return 0, e, e, np.empty(0, np.uint64), e, e
    flat = np.frombuffer(combined.buffers()[2], dtype=np.uint8)
    offs = np.frombuffer(combined.buffers()[1], dtype=np.int32)
    starts = offs[combined.offset : combined.offset + n].astype(np.int64)
    ends = offs[combined.offset + 1 : combined.offset + n + 1].astype(np.int64)

    ids = np.zeros(n, dtype=np.int64)
    codes = np.full(n, -1, dtype=np.int64)
    g_start = np.full(n, -1, dtype=np.int64)
    g_len = np.zeros(n, dtype=np.int64)
    for active, tag, pstart, plen, v, _ in frame_fields_walk(flat, starts, ends):
        is_id = tag == 0x08
        if is_id.any():
            ids[active[is_id]] = v[is_id].astype(np.int64)
        is_code = tag == 0x18
        if is_code.any():
            sel = active[is_code]
            fresh = codes[sel] < 0
            codes[sel[fresh]] = v[is_code][fresh].astype(np.int64)
        is_geom = tag == 0x22
        if is_geom.any():
            sel = active[is_geom]
            fresh = g_start[sel] < 0
            g_start[sel[fresh]] = pstart[is_geom][fresh]
            g_len[sel[fresh]] = plen[is_geom][fresh]
    # a truncated/corrupt frame whose geometry length overruns its frame
    # boundary would otherwise gather the NEXT frame's bytes — silent
    # cross-frame corruption, not an error
    overrun = (g_start >= 0) & (g_start + g_len > ends)
    if overrun.any():
        raise ValueError(
            f"{int(overrun.sum())} frame(s) with geometry payload running "
            "past the frame end — truncated or corrupt input")
    missing = (codes < 0) | (g_start < 0)
    if missing.any():
        if not allow_missing:
            raise ValueError("frame missing geometry-type or geometry field")
        # geometry-less frames (bare-properties features, e.g. the
        # reference's metadata dummy): sentinel code -1, empty payload —
        # the caller routes them to an empty-geometry output row
        codes[missing] = -1
        g_start[missing] = 0
        g_len[missing] = 0

    byte_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(g_len, out=byte_off[1:])
    total = int(byte_off[-1])
    row_of_byte = np.repeat(np.arange(n), g_len)
    local = np.arange(total, dtype=np.int64) - byte_off[row_of_byte]
    gbuf = flat[g_start[row_of_byte] + local]
    # a payload ending mid-varint (last byte still has the continuation
    # bit) would silently merge its final token with the next frame's
    # first token in the concatenated sweep — line-shaped batches can even
    # pass the counts%dim check and decode wrong values
    tail = byte_off[1:][g_len > 0] - 1
    if len(tail) and (gbuf[tail] >= 0x80).any():
        raise ValueError(
            f"{int((gbuf[tail] >= 0x80).sum())} frame(s) whose geometry "
            "payload ends mid-varint — truncated or corrupt input")
    tokens = core.unpack_varints(gbuf, 0, len(gbuf))
    tok_ends = np.flatnonzero(gbuf < 0x80)
    tok_starts_b = (np.concatenate(([0], tok_ends[:-1] + 1))
                    if len(tok_ends) else np.empty(0, np.int64))
    counts = np.diff(np.searchsorted(tok_starts_b, byte_off))
    first = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=first[1:])
    return n, ids, codes, tokens, first, counts


def _gather_token_group(tokens: np.ndarray, first: np.ndarray,
                        counts: np.ndarray, sel: np.ndarray):
    """Slice the per-frame token ranges of the selected frames into one
    contiguous (tokens, first, counts) triple — the group dispatch step."""
    cnt = counts[sel]
    off = np.zeros(len(sel) + 1, dtype=np.int64)
    np.cumsum(cnt, out=off[1:])
    src = (np.repeat(first[sel], cnt)
           + np.arange(int(off[-1]), dtype=np.int64) - off[:-1].repeat(cnt))
    return tokens[src], off[:-1], cnt


def _varint_matrix(v: np.ndarray):
    """(values → (N,10) byte matrix, lengths) — vectorized varint encode."""
    v = v.astype(np.uint64, copy=False)
    lens = core.varint_lengths(v)
    maxlen = int(lens.max()) if len(v) else 1
    j = np.arange(maxlen, dtype=np.uint64)
    groups = (v[:, None] >> (j[None, :] * np.uint64(7))) & np.uint64(0x7F)
    cont = np.where(np.arange(maxlen)[None, :] < (lens - 1)[:, None], 0x80, 0)
    return (groups | cont.astype(np.uint64)).astype(np.uint8), lens


def _lines_core(ids: np.ndarray, code0: int, tokens: np.ndarray,
                counts: np.ndarray):
    """LineString/MultiPoint decode over geometry-payload tokens: every
    token is a delta, so the even/odd split IS the x/y split (per dim)."""
    n = len(ids)
    dim = 2 if code0 <= 6 else code0 & 0xF
    if int(counts.sum()) % dim or (counts % dim).any():
        raise ValueError("line geometry token count not divisible by dim")
    nv = counts // dim
    d = core.unzigzag_vec(tokens).reshape(-1, dim)
    # segmented cumsum per row
    v_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nv[:-1], out=v_starts[1:])
    c = np.cumsum(d, axis=0)
    base = np.zeros((n, dim), dtype=np.int64)
    base[1:] = c[v_starts[1:] - 1]
    coords_q = c - np.repeat(base, nv, axis=0)
    return ids, coords_q.reshape(-1), nv


# ---------------------------------------------------------------------------
# generic (any geometry / properties) — the import/export edge
# ---------------------------------------------------------------------------

GEOM_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("geom_type", T.IntegerType()),
    T.StructField("dim", T.IntegerType()),
    T.StructField("coords", T.ArrayType(T.DoubleType())),
    T.StructField("ring_lens", T.ArrayType(T.IntegerType())),
    T.StructField("part_rings", T.ArrayType(T.IntegerType())),
    T.StructField("props_json", T.StringType()),
])


def encode_features_generic(df: DataFrame, out: str = "geobuf") -> DataFrame:
    """Encode rows shaped like GEOM_SCHEMA → geobuf frames (cold path)."""
    import json

    @F.pandas_udf(T.BinaryType())
    def _enc(id_s: pd.Series, gt_s: pd.Series, dim_s: pd.Series, coords_s: pd.Series,
             rl_s: pd.Series, pr_s: pd.Series, props_s: pd.Series) -> pd.Series:
        out_frames = []
        for i in range(len(id_s)):
            props = json.loads(props_s.iloc[i]) if props_s.iloc[i] else {}
            feat = core.Feature(
                geom_type=int(gt_s.iloc[i]), dim=int(dim_s.iloc[i]),
                coords=np.asarray(coords_s.iloc[i], dtype=np.float64),
                ring_lens=np.asarray(rl_s.iloc[i], dtype=np.int64),
                part_rings=np.asarray(pr_s.iloc[i], dtype=np.int64),
                id=None if pd.isna(id_s.iloc[i]) else int(id_s.iloc[i]),
                properties=props,
            )
            out_frames.append(core.encode_feature(feat))
        return pd.Series(out_frames)

    return df.withColumn(
        out,
        _enc(F.col("id"), F.col("geom_type"), F.col("dim"), F.col("coords"),
             F.col("ring_lens"), F.col("part_rings"), F.col("props_json")),
    )


def _rings_core(ids: np.ndarray, code0: int, tokens: np.ndarray,
                first: np.ndarray, counts: np.ndarray):
    """Polygon/MultiLineString decode over geometry-payload tokens →
    (ids, flat quantized coords, ring_nv, rings_per_feat, geom_type, dim).

    Wire shape (geom.go:255-273): per ring a varint len(ring)·dim, then
    that ring's packed deltas with the delta state reset at each ring.
    Ring boundaries are data-dependent, so the walk iterates
    max-rings-per-feature rounds over the active frames, vectorized
    within each round."""
    n = len(ids)
    geom_type = code0 if code0 <= 6 else code0 >> 4
    dim = 2 if code0 <= 6 else code0 & 0xF

    # ring walk over geometry-payload tokens [first, first+counts)
    g_end = first + counts
    pos = first.copy()
    ring_feat, ring_start_tok, ring_nv_l = [], [], []
    rings_per_feat = np.zeros(n, dtype=np.int64)
    active = np.flatnonzero(pos < g_end)
    while len(active):
        cnt = tokens[pos[active]].astype(np.int64)  # nv·dim
        ring_feat.append(active.copy())
        ring_start_tok.append(pos[active] + 1)
        ring_nv_l.append(cnt // dim)
        rings_per_feat[active] += 1
        pos[active] += 1 + cnt
        active = active[pos[active] < g_end[active]]
    if not ring_feat:
        e = np.empty(0, dtype=np.int64)
        return ids, e, e, rings_per_feat, geom_type, dim
    # rings discovered round-by-round → reorder feature-major, round-minor
    rf = np.concatenate(ring_feat)
    rs = np.concatenate(ring_start_tok)
    rnv = np.concatenate(ring_nv_l)
    rounds = np.concatenate([np.full(len(a), i) for i, a in enumerate(ring_feat)])
    order = np.lexsort((rounds, rf))
    rf, rs, rnv = rf[order], rs[order], rnv[order]

    # gather delta tokens per ring
    tok_counts = rnv * dim
    R = len(rnv)
    starts = np.zeros(R, dtype=np.int64)
    np.cumsum(tok_counts[:-1], out=starts[1:])
    big = np.repeat(np.arange(R), tok_counts)
    t = np.arange(int(tok_counts.sum()), dtype=np.int64) - starts[big]
    d = core.unzigzag_vec(tokens[rs[big] + t]).reshape(-1, dim)
    # segmented cumsum reset per ring
    v_starts = np.zeros(R, dtype=np.int64)
    np.cumsum(rnv[:-1], out=v_starts[1:])
    c = np.cumsum(d, axis=0)
    base = np.zeros((R, dim), dtype=np.int64)
    base[1:] = c[v_starts[1:] - 1]
    coords_q = c - np.repeat(base, rnv, axis=0)
    return ids, coords_q.reshape(-1), rnv, rings_per_feat, geom_type, dim


def _multipolygons_core(ids: np.ndarray, code0: int, tokens: np.ndarray,
                        first: np.ndarray, counts: np.ndarray):
    """MultiPolygon decode over geometry-payload tokens → (ids, flat
    quantized coords, ring_nv, rings_per_poly, polys_per_feat, dim).

    Wire shape (geom.go:276-302): per polygon a varint ring count, then
    per ring varint(len·dim) + deltas. Two-level jump walk: each round,
    every active feature consumes either a polygon header token or one
    whole ring."""
    n = len(ids)
    if not (code0 == 6 or (code0 > 6 and code0 >> 4 == 6)):
        raise ValueError("not a MultiPolygon batch")
    dim = 2 if code0 <= 6 else code0 & 0xF

    g_end = first + counts
    pos = first.copy()
    rings_left = np.zeros(n, dtype=np.int64)
    polys_per_feat = np.zeros(n, dtype=np.int64)
    # event logs (round-ordered); reordered feature-major afterwards
    poly_feat, poly_nr, poly_seq = [], [], []
    ring_feat, ring_start_tok, ring_nv_l, ring_seq = [], [], [], []
    seq = np.zeros(n, dtype=np.int64)  # per-feature event counter
    active = np.flatnonzero(pos < g_end)
    while len(active):
        hdr = active[rings_left[active] == 0]
        rng = active[rings_left[active] > 0]
        if len(hdr):
            nr = tokens[pos[hdr]].astype(np.int64)
            poly_feat.append(hdr.copy()); poly_nr.append(nr); poly_seq.append(seq[hdr].copy())
            polys_per_feat[hdr] += 1
            rings_left[hdr] = nr
            pos[hdr] += 1
            seq[hdr] += 1
        if len(rng):
            cnt = tokens[pos[rng]].astype(np.int64)
            ring_feat.append(rng.copy()); ring_start_tok.append(pos[rng] + 1)
            ring_nv_l.append(cnt // dim); ring_seq.append(seq[rng].copy())
            rings_left[rng] -= 1
            pos[rng] += 1 + cnt
            seq[rng] += 1
        active = active[pos[active] < g_end[active]]

    # feature-major, stream-ordered reconstruction
    pf = np.concatenate(poly_feat); pn = np.concatenate(poly_nr); ps = np.concatenate(poly_seq)
    po = np.lexsort((ps, pf))
    rings_per_poly = pn[po]
    if ring_feat:
        rf = np.concatenate(ring_feat); rs = np.concatenate(ring_start_tok)
        rnv = np.concatenate(ring_nv_l); rq = np.concatenate(ring_seq)
        ro = np.lexsort((rq, rf))
        rf, rs, rnv = rf[ro], rs[ro], rnv[ro]
    else:
        rnv = np.empty(0, dtype=np.int64); rs = rnv

    tok_counts = rnv * dim
    R = len(rnv)
    starts = np.zeros(R, dtype=np.int64)
    np.cumsum(tok_counts[:-1], out=starts[1:])
    big = np.repeat(np.arange(R), tok_counts)
    t = np.arange(int(tok_counts.sum()), dtype=np.int64) - starts[big]
    d = core.unzigzag_vec(tokens[rs[big] + t]).reshape(-1, dim)
    v_starts = np.zeros(R, dtype=np.int64)
    np.cumsum(rnv[:-1], out=v_starts[1:])
    c = np.cumsum(d, axis=0)
    base = np.zeros((R, dim), dtype=np.int64)
    base[1:] = c[v_starts[1:] - 1]
    coords_q = c - np.repeat(base, rnv, axis=0)
    return ids, coords_q.reshape(-1), rnv, rings_per_poly, polys_per_feat, dim


def _decode_code_group(code0: int, gids: np.ndarray, toks: np.ndarray,
                       first: np.ndarray, cnt: np.ndarray) -> dict:
    """Decode one homogeneous-geom-code group of payload-token frames →
    flat columnar pieces plus per-feature segment lengths:
    ids, gt, dim, coords_q (flat int64), feat_v (vertices/feature),
    ring_nv + rings_pf (ring lengths & rings/feature), pvals + parts_pf
    (part_rings values & parts/feature)."""
    gt = code0 if code0 <= 6 else code0 >> 4
    m = len(gids)
    ones = np.ones(m, dtype=np.int64)
    if gt == 1:
        if (cnt != 2).any():
            raise ValueError("point frame with != 2 geometry values")
        coords = core.unzigzag_vec(toks)
        return dict(ids=gids, gt=1, dim=2,  # writepointbs drops dims > 2
                    coords_q=coords, feat_v=ones, ring_nv=ones,
                    rings_pf=ones, pvals=ones, parts_pf=ones)
    if gt in (2, 4):
        ids, coords, nv = _lines_core(gids, code0, toks, cnt)
        dim = 2 if code0 <= 6 else code0 & 0xF
        return dict(ids=ids, gt=gt, dim=dim, coords_q=coords, feat_v=nv,
                    ring_nv=nv, rings_pf=ones, pvals=ones, parts_pf=ones)
    if gt in (3, 5):
        ids, coords, ring_nv, rpf, _, dim = _rings_core(
            gids, code0, toks, first, cnt)
        ring_off = np.zeros(m, dtype=np.int64)
        np.cumsum(rpf[:-1], out=ring_off[1:])
        feat_v = (np.add.reduceat(ring_nv, ring_off) if len(ring_nv)
                  else np.zeros(m, np.int64))
        return dict(ids=ids, gt=gt, dim=dim, coords_q=coords, feat_v=feat_v,
                    ring_nv=ring_nv, rings_pf=rpf, pvals=rpf, parts_pf=ones)
    if gt == 6:
        ids, coords, ring_nv, rpp, ppf, dim = _multipolygons_core(
            gids, code0, toks, first, cnt)
        poly_off = np.zeros(m, dtype=np.int64)
        np.cumsum(ppf[:-1], out=poly_off[1:])
        rings_pf = (np.add.reduceat(rpp, poly_off) if len(rpp)
                    else np.zeros(m, np.int64))
        ring_off = np.zeros(m, dtype=np.int64)
        np.cumsum(rings_pf[:-1], out=ring_off[1:])
        feat_v = (np.add.reduceat(ring_nv, ring_off) if len(ring_nv)
                  else np.zeros(m, np.int64))
        return dict(ids=ids, gt=6, dim=dim, coords_q=coords, feat_v=feat_v,
                    ring_nv=ring_nv, rings_pf=rings_pf, pvals=rpp,
                    parts_pf=ppf)
    raise ValueError(f"unknown geom type {gt}")


def decode_features_fast(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Geobuf frames → GEOM_SCHEMA rows with VECTORIZED geometry decode.

    The per-feature generic decoder costs a Python loop over every vertex
    list; here geometry goes through the payload-token batch kernels
    (reader.go:84-112 streaming scan, batched) and only the dynamic-schema
    properties parse per frame (a short walk over the props region —
    geometry/bbox bytes are jumped via their length prefixes).

    Float coords come from the exact integer lattice (go_round7(q/1e7))
    rather than the reference's per-vertex float accumulation — identical
    on every lattice value, without the reference's ≤2e-7 accumulation
    drift (geom.go:78-90 discussion in SURVEY §1.3)."""
    import json

    def _dec(batches):
        for batch in batches:
            frames = batch.column(batch.schema.get_field_index(bin_col))
            frames = pa.concat_arrays([frames.cast(pa.binary())])
            nrows = len(frames)
            if nrows == 0:
                continue
            _, all_ids, codes, all_tok, all_first, all_cnt = \
                _tokenize_geometry(frames, allow_missing=True)
            # group results, scattered back to original row order
            gt_r = np.zeros(nrows, np.int32)
            dim_r = np.full(nrows, 2, dtype=np.int32)  # bare frames: dim 2
            c_len = np.zeros(nrows, np.int64)
            c_start = np.zeros(nrows, np.int64)
            r_len = np.zeros(nrows, np.int64)
            r_start = np.zeros(nrows, np.int64)
            p_len = np.zeros(nrows, np.int64)
            p_start = np.zeros(nrows, np.int64)
            big_c, big_r, big_p = [], [], []
            cbase = rbase = pbase = 0
            for code in np.unique(codes):
                if code < 0:
                    # bare-properties frames: geom_type 0, empty geometry
                    # (decode_feature parity for all-optional fields)
                    continue
                sel = np.flatnonzero(codes == code)
                toks, first, cnt = _gather_token_group(
                    all_tok, all_first, all_cnt, sel)
                g = _decode_code_group(int(code), all_ids[sel], toks, first, cnt)
                gt_r[sel] = g["gt"]
                dim_r[sel] = g["dim"]
                cl = g["feat_v"] * g["dim"]
                off = np.zeros(len(sel), np.int64)
                np.cumsum(cl[:-1], out=off[1:])
                c_len[sel], c_start[sel] = cl, cbase + off
                off = np.zeros(len(sel), np.int64)
                np.cumsum(g["rings_pf"][:-1], out=off[1:])
                r_len[sel], r_start[sel] = g["rings_pf"], rbase + off
                off = np.zeros(len(sel), np.int64)
                np.cumsum(g["parts_pf"][:-1], out=off[1:])
                p_len[sel], p_start[sel] = g["parts_pf"], pbase + off
                big_c.append(g["coords_q"])
                big_r.append(g["ring_nv"])
                big_p.append(g["pvals"])
                cbase += len(g["coords_q"])
                rbase += len(g["ring_nv"])
                pbase += len(g["pvals"])
            bc = np.concatenate(big_c) if big_c else np.empty(0, np.int64)
            br = np.concatenate(big_r) if big_r else np.empty(0, np.int64)
            bp = np.concatenate(big_p) if big_p else np.empty(0, np.int64)

            def _reorder(vals, starts, lens, out_dtype):
                off = np.zeros(nrows + 1, np.int64)
                np.cumsum(lens, out=off[1:])
                gather = (np.repeat(starts, lens)
                          + np.arange(int(off[-1]), dtype=np.int64)
                          - np.repeat(off[:-1], lens))
                return off, vals[gather].astype(out_dtype)

            c_off, c_vals = _reorder(bc, c_start, c_len, np.int64)
            coords_f = core.go_round7(c_vals.astype(np.float64) / 1e7)
            r_off, r_vals = _reorder(br, r_start, r_len, np.int32)
            p_off, p_vals = _reorder(bp, p_start, p_len, np.int32)

            props_json = pa.array(
                [json.dumps(core.decode_properties(
                    np.frombuffer(frames[i].as_py(), dtype=np.uint8)),
                    sort_keys=True) for i in range(nrows)],
                type=pa.string())
            yield pa.RecordBatch.from_arrays([
                pa.array(all_ids, type=pa.int64()),
                pa.array(gt_r), pa.array(dim_r),
                pa.ListArray.from_arrays(
                    pa.array(c_off.astype(np.int32), type=pa.int32()),
                    pa.array(coords_f, type=pa.float64())),
                pa.ListArray.from_arrays(
                    pa.array(r_off.astype(np.int32), type=pa.int32()),
                    pa.array(r_vals, type=pa.int32())),
                pa.ListArray.from_arrays(
                    pa.array(p_off.astype(np.int32), type=pa.int32()),
                    pa.array(p_vals, type=pa.int32())),
                props_json,
            ], names=[f.name for f in GEOM_SCHEMA.fields])

    return df.select(bin_col).mapInArrow(_dec, GEOM_SCHEMA)


# ---------------------------------------------------------------------------
# properties on the hot path — key/value tables (write_feature.go:180-189,
# write_primitives.go:244-286) encoded vectorized for FIXED prop schemas
# (the web-page shape: every row carries the same keys, e.g. url/lang).
# ---------------------------------------------------------------------------

def encode_points_props_kernel(ids: np.ndarray, lon: np.ndarray, lat: np.ndarray,
                               props: list) -> pa.Array:
    """Encode N point features with fixed-schema properties.

    props: list of (key: str, kind: 'str'|'int', data) where data is
    (flat_utf8: uint8 array, offsets: int64 array len N+1) for 'str' or an
    int64 array for 'int'. Wire order follows WriteFeature: id(1),
    properties(2, one KeyValue per key), type(3), geometry(4), bbox(5)."""
    n = len(ids)
    qx, qy = core.quantize_vec(lon), core.quantize_vec(lat)
    zx, zy = core.zigzag_vec(qx), core.zigzag_vec(qy)
    mid, lid = _varint_matrix(ids.astype(np.uint64))
    mx, lx = _varint_matrix(zx)
    my, ly = _varint_matrix(zy)
    glen = lx + ly
    blen = 2 * glen
    mgl, lgl = _varint_matrix(glen.astype(np.uint64))
    mbl, lbl = _varint_matrix(blen.astype(np.uint64))

    # per-prop length arithmetic + varint matrices
    enc_props = []
    props_total = np.zeros(n, dtype=np.int64)
    for key, kind, data in props:
        kb = key.encode("utf-8")
        if len(kb) >= 128:
            raise ValueError("property key too long")
        if kind == "str":
            flat, offs = data
            slen = offs[1:] - offs[:-1]
            msl, lsl = _varint_matrix(slen.astype(np.uint64))
            val_inner = 1 + lsl + slen            # 0x0A slen s
            mvi, lvi = _varint_matrix(val_inner.astype(np.uint64))
            inner = (2 + len(kb)) + 1 + lvi + val_inner  # key part + 0x12 vi …
            min_, lin = _varint_matrix(inner.astype(np.uint64))
            total = 1 + lin + inner
            enc_props.append((kb, kind, (flat, offs, slen, msl, lsl, mvi, lvi, min_, lin)))
        elif kind == "int":
            mv, lv = _varint_matrix(data.astype(np.uint64))
            val_inner = 1 + lv                    # 0x20 varint(v)
            mvi, lvi = _varint_matrix(val_inner.astype(np.uint64))
            inner = (2 + len(kb)) + 1 + lvi + val_inner
            min_, lin = _varint_matrix(inner.astype(np.uint64))
            total = 1 + lin + inner
            enc_props.append((kb, kind, (mv, lv, mvi, lvi, min_, lin)))
        elif kind == "float":
            # FloatVal64 (write_primitives.go:228-240): 0x19 + 8 LE bytes
            le = np.ascontiguousarray(data, dtype="<f8").view(np.uint8).reshape(n, 8)
            inner = np.full(n, (2 + len(kb)) + 2 + 9, dtype=np.int64)  # 0x12 0x09 0x19 + 8
            min_, lin = _varint_matrix(inner.astype(np.uint64))
            total = 1 + lin + inner
            enc_props.append((kb, kind, (le, min_, lin)))
        else:
            raise ValueError(f"unsupported prop kind {kind!r}")
        props_total += total

    total = 1 + lid + props_total + 2 + 1 + lgl + glen + 1 + lbl + blen
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(total, out=offsets[1:])
    buf = np.empty(offsets[-1], dtype=np.uint8)
    w = _FrameWriter(buf, offsets[:-1])
    put_const, put_mat = w.const, w.mat

    def put_payload(flat, offs, slen):
        # byte-level segmented copy: Arrow utf8 payload is contiguous
        # row-major, so src is one arange; dst re-bases each row at w.pos[i]
        nb = int(slen.sum())
        if nb:
            row_of_byte = np.repeat(np.arange(n), slen)
            local = np.arange(nb, dtype=np.int64) - np.repeat(
                np.concatenate(([0], np.cumsum(slen)[:-1])), slen)
            buf[w.pos[row_of_byte] + local] = flat[int(offs[0]) + np.arange(nb)]
        w.pos = w.pos + slen

    put_const(8)
    put_mat(mid, lid)
    for kb, kind, packed in enc_props:
        if kind == "str":
            flat, offs, slen, msl, lsl, mvi, lvi, min_, lin = packed
            put_const(0x12); put_mat(min_, lin)
            put_const(0x0A); put_const(len(kb))
            for b in kb:
                put_const(b)
            put_const(0x12); put_mat(mvi, lvi)
            put_const(0x0A); put_mat(msl, lsl)
            put_payload(flat, offs, slen)
        elif kind == "int":
            mv, lv, mvi, lvi, min_, lin = packed
            put_const(0x12); put_mat(min_, lin)
            put_const(0x0A); put_const(len(kb))
            for b in kb:
                put_const(b)
            put_const(0x12); put_mat(mvi, lvi)
            put_const(0x20); put_mat(mv, lv)
        else:  # float64
            le, min_, lin = packed
            put_const(0x12); put_mat(min_, lin)
            put_const(0x0A); put_const(len(kb))
            for b in kb:
                put_const(b)
            put_const(0x12); put_const(9)
            put_const(0x19)
            put_mat(le, np.full(n, 8, dtype=np.int64))
    put_const(24)
    put_const(1)
    put_const(34)
    put_mat(mgl, lgl)
    put_mat(mx, lx); put_mat(my, ly)
    put_const(42)
    put_mat(mbl, lbl)
    put_mat(mx, lx); put_mat(my, ly); put_mat(mx, lx); put_mat(my, ly)
    assert np.array_equal(w.pos, offsets[1:])
    return pa.BinaryArray.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(offsets.astype(np.int32).tobytes()), pa.py_buffer(buf.tobytes())],
    )


def encode_points_with_props(df: DataFrame, id_col: str = "doc_id",
                             lon: str = "lon", lat: str = "lat",
                             props: list | None = None,
                             out: str = "geobuf") -> DataFrame:
    """(id, lon, lat, props…) → (id, geobuf) with the fixed-schema property
    table encoded vectorized (no per-row Python). String and integer
    property columns are supported — the web-page shape (url, lang, …)."""
    props = props or []
    kinds = {}
    for f in df.schema.fields:
        if f.name in props:
            if isinstance(f.dataType, T.StringType):
                kinds[f.name] = "str"
            elif isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType)):
                kinds[f.name] = "int"
            elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
                kinds[f.name] = "float"
            else:
                raise ValueError(f"unsupported property type for {f.name}: {f.dataType}")
    missing = [p for p in props if p not in kinds]
    if missing:
        raise ValueError(f"property columns not in DataFrame: {missing}")

    schema = T.StructType([
        T.StructField(id_col, T.LongType()),
        T.StructField(out, T.BinaryType()),
    ])
    cols = [id_col, lon, lat] + list(props)

    def _enc(batches):
        for batch in batches:
            for ci, cname in enumerate(cols):
                if batch.column(ci).null_count:
                    # a null int64 round-trips through float64 NaN into
                    # INT64_MIN garbage, and a null string's offsets read
                    # as "" — corruption, not data. Fixed-schema contract:
                    # the caller drops or fills nulls first.
                    raise ValueError(
                        f"encode_points_with_props: column {cname!r} has "
                        "null values; geobuf KeyValue has no null encoding "
                        "— filter or fill before encoding")
            ids = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            lons = batch.column(1).to_numpy(zero_copy_only=False).astype(np.float64)
            lats = batch.column(2).to_numpy(zero_copy_only=False).astype(np.float64)
            plist = []
            for k, name in enumerate(props):
                arr = batch.column(3 + k)
                if kinds[name] == "str":
                    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
                    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
                        arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
                    flat = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
                    plist.append((name, "str", (flat, offs)))
                elif kinds[name] == "int":
                    plist.append((name, "int",
                                  arr.to_numpy(zero_copy_only=False).astype(np.int64)))
                else:
                    plist.append((name, "float",
                                  arr.to_numpy(zero_copy_only=False).astype(np.float64)))
            frames = encode_points_props_kernel(ids, lons, lats, plist)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), frames], names=[id_col, out]
            )

    return df.select(*cols).mapInArrow(_enc, schema)


# ---------------------------------------------------------------------------
# lazy partial reads over raw frames — LazyFeatureTileID semantics
# (split_combine.go:333-370): decode EXACTLY one property, skipping the
# geometry/bbox bytes entirely; ReadKeys (reader.go:120-142) as the
# all-keys variant. Vectorized: bounded rounds of tag-length jumps.
# ---------------------------------------------------------------------------

def _read_varint_at(flat: np.ndarray, pos: np.ndarray):
    """Vectorized varint read at positions `pos` → (values, byte lengths)."""
    vals = np.zeros(len(pos), dtype=np.uint64)
    lens = np.zeros(len(pos), dtype=np.int64)
    done = np.zeros(len(pos), dtype=bool)
    last = len(flat) - 1
    for j in range(10):
        # clamp: rows already done may point past the buffer (a varint that
        # ends exactly at the frame/buffer boundary)
        b = flat[np.minimum(pos + j, last)]
        use = ~done
        vals[use] |= (b[use].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
        fin = use & (b < 0x80)
        lens[fin] = j + 1
        done |= fin
        if done.all():
            break
    return vals, lens


def lazy_prop_kernel(frames: pa.Array, key: str, max_props: int = 32):
    """(ids, found mask, str values or int values) — walk only the props
    region of each frame; geometry and bbox bytes are never touched.

    Returns (ids int64, kinds int8 per frame: 0=absent, 1=str, 2=int,
    3=float, str_list, int_vals, float_vals). Each frame contributes its
    FIRST property matching `key`."""
    combined = pa.concat_arrays([frames.cast(pa.binary())])
    n = len(combined)
    kb = np.frombuffer(key.encode("utf-8"), dtype=np.uint8)
    klen = len(kb)
    if n == 0:
        return (np.empty(0, np.int64), np.zeros(0, np.int8), [],
                np.empty(0, np.int64), np.empty(0, np.float64))
    flat = np.frombuffer(combined.buffers()[2], dtype=np.uint8)
    offs = np.frombuffer(combined.buffers()[1], dtype=np.int32)
    starts = offs[combined.offset : combined.offset + n].astype(np.int64)
    ends = offs[combined.offset + 1 : combined.offset + n + 1].astype(np.int64)

    # id field (tag 0x08) is optional (core.encode_feature with id=None)
    has_id = flat[np.minimum(starts, len(flat) - 1)] == 0x08
    pos = starts.copy()
    ids_u = np.zeros(n, dtype=np.uint64)
    if has_id.any():
        iv, il = _read_varint_at(flat, starts[has_id] + 1)
        ids_u[has_id] = iv
        pos[has_id] = starts[has_id] + 1 + il

    kinds = np.zeros(n, dtype=np.int8)
    sval_start = np.zeros(n, dtype=np.int64)
    sval_len = np.zeros(n, dtype=np.int64)
    ival = np.zeros(n, dtype=np.int64)
    fval = np.zeros(n, dtype=np.float64)

    active = np.flatnonzero((pos < ends) & (flat[np.minimum(pos, len(flat) - 1)] == 0x12))
    for _round in range(max_props):
        if len(active) == 0:
            break
        if _round == max_props - 1:
            raise ValueError(
                f"frame with more than {max_props} properties — raise "
                "max_props (silent truncation would read as a missing key)")
        p = pos[active]
        L, ll = _read_varint_at(flat, p + 1)
        inner = p + 1 + ll              # at 0x0A
        # klen is a varint (multi-byte for keys >= 128 chars) — a single
        # byte load misparses reference-written frames silently
        frame_klen, kll = _read_varint_at(flat, inner + 1)
        key_match = frame_klen.astype(np.int64) == klen
        if key_match.any():
            cand = active[key_match]
            kstart = inner[key_match] + 1 + kll[key_match]
            eq = np.ones(len(cand), dtype=bool)
            for j in range(klen):
                eq &= flat[kstart + j] == kb[j]
            hit = cand[eq & (kinds[cand] == 0)]
            if len(hit):
                # value message begins after the key: 0x12 vlen <field>
                hpos = pos[hit]
                hL, hll = _read_varint_at(flat, hpos + 1)
                hinner = hpos + 1 + hll        # at 0x0A
                hklen, hkll = _read_varint_at(flat, hinner + 1)
                vmsg = hinner + 1 + hkll + hklen.astype(np.int64)  # at 0x12
                vlen, vll = _read_varint_at(flat, vmsg + 1)
                vfield = vmsg + 1 + vll        # first byte of the value body
                tag = flat[vfield]
                is_str = tag == 0x0A
                is_int = tag == 0x20
                is_flt = tag == 0x19
                if is_str.any():
                    h = hit[is_str]
                    slen, sll = _read_varint_at(flat, vfield[is_str] + 1)
                    kinds[h] = 1
                    sval_start[h] = vfield[is_str] + 1 + sll
                    sval_len[h] = slen.astype(np.int64)
                if is_int.any():
                    h = hit[is_int]
                    u, _ = _read_varint_at(flat, vfield[is_int] + 1)
                    v = u.astype(np.int64)  # two's complement wrap
                    kinds[h] = 2
                    ival[h] = v
                if is_flt.any():
                    h = hit[is_flt]
                    b8 = np.stack([flat[vfield[is_flt] + 1 + j] for j in range(8)], axis=1)
                    kinds[h] = 3
                    fval[h] = np.ascontiguousarray(b8).view("<f8").reshape(-1)
        pos[active] = p + 1 + ll + L
        nx = pos[active]
        still = (nx < ends[active]) & (flat[np.minimum(nx, len(flat) - 1)] == 0x12)
        active = active[still]

    strs = [
        bytes(flat[sval_start[i] : sval_start[i] + sval_len[i]]).decode("utf-8")
        if kinds[i] == 1 else None
        for i in range(n)
    ]
    return ids_u.astype(np.int64), kinds, strs, ival, fval


def lazy_property(df: DataFrame, key: str, bin_col: str = "geobuf",
                  value_type: str = "string") -> DataFrame:
    """Extract one property per frame from a geobuf binary column without
    decoding geometry — (id, <key>). value_type: string|bigint|double."""
    spark_t = {"string": T.StringType(), "bigint": T.LongType(),
               "double": T.DoubleType()}[value_type]
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField(key, spark_t),
    ])

    def _lazy(batches):
        for batch in batches:
            frames = batch.column(batch.schema.get_field_index(bin_col))
            ids, kinds, strs, ivals, fvals = lazy_prop_kernel(frames, key)
            if value_type == "string":
                col = pa.array(strs, type=pa.string())
            elif value_type == "bigint":
                col = pa.array([int(ivals[i]) if kinds[i] == 2 else None
                                for i in range(len(ids))], type=pa.int64())
            else:
                col = pa.array([float(fvals[i]) if kinds[i] == 3 else None
                                for i in range(len(ids))], type=pa.float64())
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), col], names=["id", key])

    return df.select(bin_col).mapInArrow(_lazy, schema)


def frame_fields_walk(flat: np.ndarray, starts: np.ndarray, ends: np.ndarray,
                      max_fields: int = 64):
    """Field-level walk over frames: yields per round (active frame idx,
    tag byte, field payload start, payload length). Varint fields report
    length 0 with start at the varint."""
    n = len(starts)
    pos = starts.copy()
    rounds = []
    active = np.flatnonzero(pos < ends)
    for _round in range(max_fields):
        if len(active) == 0:
            break
        if _round == max_fields - 1:
            raise ValueError(
                f"frame with more than {max_fields} fields — raise max_fields "
                "(silent truncation would read as missing data)")
        p = pos[active]
        tag = flat[p]
        wire = tag & 0x7
        # varint fields (wire 0): value right after tag
        v, vl = _read_varint_at(flat, p + 1)
        is_len = wire == 2
        plen = np.where(is_len, v.astype(np.int64), 0)
        pstart = p + 1 + np.where(is_len, vl, 0)
        rounds.append((active.copy(), tag.copy(), pstart, plen, v, vl))
        pos[active] = np.where(is_len, pstart + plen, p + 1 + vl)
        # a field whose payload jump lands past its frame boundary would
        # otherwise drop out of the walk silently — with its tail bytes
        # unparsed, a truncated frame could still decode (e.g. a clipped
        # trailing bbox) instead of failing
        over = pos[active] > ends[active]
        if over.any():
            raise ValueError(
                f"{int(over.sum())} frame(s) with a field payload running "
                "past the frame end — truncated or corrupt input")
        active = active[pos[active] < ends[active]]
    return rounds


def frame_keys_kernel(frames: pa.Array):
    """ReadKeys (reader.go:120-142): property KEYS only — values and
    geometry are skipped. Returns (row_idx, keys list[str])."""
    combined = pa.concat_arrays([frames.cast(pa.binary())])
    n = len(combined)
    if n == 0:
        return np.empty(0, np.int64), []
    flat = np.frombuffer(combined.buffers()[2], dtype=np.uint8)
    offs = np.frombuffer(combined.buffers()[1], dtype=np.int32)
    starts = offs[combined.offset : combined.offset + n].astype(np.int64)
    ends = offs[combined.offset + 1 : combined.offset + n + 1].astype(np.int64)
    rows, keys = [], []
    for active, tag, pstart, plen, _, _ in frame_fields_walk(flat, starts, ends):
        sel = tag == 0x12  # properties field
        if not sel.any():
            continue
        for i, ps, pl in zip(active[sel], pstart[sel], plen[sel]):
            # inside KeyValue: 0x0A varint(klen) key …
            kl, kp = core.decode_varint(flat, ps + 1)
            rows.append(int(i))
            keys.append(bytes(flat[kp : kp + kl]).decode("utf-8"))
    return np.asarray(rows, dtype=np.int64), keys


def frame_bbox_kernel(frames: pa.Array):
    """ReadBB (read_feature.go:103-134): bbox by forward field skip — the
    geometry field is JUMPED via its length prefix, its deltas never
    decoded. Returns (found mask, w, s, e, n quantized int64)."""
    combined = pa.concat_arrays([frames.cast(pa.binary())])
    n = len(combined)
    e = np.zeros(n, dtype=np.int64)
    found = np.zeros(n, dtype=bool)
    w, s_, e_, n_ = e.copy(), e.copy(), e.copy(), e.copy()
    if n == 0:
        return found, w, s_, e_, n_
    flat = np.frombuffer(combined.buffers()[2], dtype=np.uint8)
    offs = np.frombuffer(combined.buffers()[1], dtype=np.int32)
    starts = offs[combined.offset : combined.offset + n].astype(np.int64)
    ends = offs[combined.offset + 1 : combined.offset + n + 1].astype(np.int64)
    for active, tag, pstart, plen, _, _ in frame_fields_walk(flat, starts, ends):
        sel = tag == 0x2A
        if not sel.any():
            continue
        hit = active[sel]
        p = pstart[sel]
        vals = np.zeros((len(hit), 4), dtype=np.int64)
        for j in range(4):
            u, ul = _read_varint_at(flat, p)
            vals[:, j] = core.unzigzag_vec(u)
            p = p + ul
        found[hit] = True
        w[hit], s_[hit], e_[hit], n_[hit] = vals[:, 0], vals[:, 1], vals[:, 2], vals[:, 3]
    return found, w, s_, e_, n_


def frame_keys(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """Exploded (key) rows per frame — schema inference over raw frames."""
    schema = T.StructType([T.StructField("key", T.StringType())])

    def _k(batches):
        for batch in batches:
            frames = batch.column(batch.schema.get_field_index(bin_col))
            _, keys = frame_keys_kernel(frames)
            yield pa.RecordBatch.from_arrays([pa.array(keys, type=pa.string())], names=["key"])

    return df.select(bin_col).mapInArrow(_k, schema)


def frame_bbox(df: DataFrame, bin_col: str = "geobuf") -> DataFrame:
    """(w_q, s_q, e_q, n_q) per frame without decoding geometry; frames
    lacking a bbox field (old encoders) yield nulls."""
    schema = T.StructType([
        T.StructField("w_q", T.LongType()), T.StructField("s_q", T.LongType()),
        T.StructField("e_q", T.LongType()), T.StructField("n_q", T.LongType()),
    ])

    def _b(batches):
        for batch in batches:
            frames = batch.column(batch.schema.get_field_index(bin_col))
            found, w, s_, e_, n_ = frame_bbox_kernel(frames)
            def col(v):
                return pa.array([int(v[i]) if found[i] else None for i in range(len(v))],
                                type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [col(w), col(s_), col(e_), col(n_)], names=["w_q", "s_q", "e_q", "n_q"])

    return df.select(bin_col).mapInArrow(_b, schema)
