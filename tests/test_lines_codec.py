"""LineString and ring-structured codec: byte parity of the JVM encoders
with the reference-semantics encoder, exact round trips through the
DataFrame functions, and the numpy payload-token decode kernels behind
decode_features_fast."""

import pathlib

import numpy as np
import pytest
from geobuf_fixtures import batch_decode, county_polygons, strip_bbox

from geobuf_spark.codec import core
from geobuf_spark.codec import spark_codec as sc

COUNTY = pathlib.Path("/root/reference/test_data/county.geobuf")


def _frames_df(spark, frames):
    return spark.createDataFrame(
        [(bytearray(f),) for f in frames], "geobuf binary")


def _line_frames(ids, coords, nv, dim=2, geom_type="LineString"):
    starts = np.concatenate(([0], np.cumsum(nv)[:-1]))
    return [core.encode_feature(core.Feature.from_geojson(
        geom_type, coords[dim * s:dim * (s + k)].reshape(-1, dim).tolist(),
        id=int(i))) for i, s, k in zip(ids, starts, nv)]


@pytest.fixture(scope="module")
def batch():
    rng = np.random.default_rng(7)
    n = 500
    nv = rng.integers(2, 50, n).astype(np.int64)
    coords = rng.integers(-1_700_000_000, 1_700_000_000, int(nv.sum()) * 2) / 1e7
    ids = rng.integers(0, 2**40, n)
    return ids, coords, nv


def test_lines_kernel_byte_parity(spark, batch):
    ids, coords, nv = batch
    starts = np.concatenate(([0], np.cumsum(nv)[:-1]))
    df = spark.createDataFrame(
        [(int(i), coords[2 * s:2 * (s + k)].tolist())
         for i, s, k in zip(ids, starts, nv)],
        "line_id bigint, coords array<double>")
    got = sorted((r.line_id, bytes(r.geobuf)) for r in sc.encode_lines(df).collect())
    assert got == sorted(zip(ids.tolist(), _line_frames(ids, coords, nv)))


def test_lines_kernel_roundtrip(batch):
    ids, coords, nv = batch
    g = batch_decode(_line_frames(ids, coords, nv))
    assert np.array_equal(g["ids"], ids)
    assert np.array_equal(g["feat_v"], nv)
    assert np.array_equal(g["coords_q"], core.quantize_vec(coords))


def test_lines_dataframe_roundtrip(spark):
    from bench import synth_lines

    lines = synth_lines(spark, 2000).cache()
    enc = sc.encode_lines(lines)
    dec = sc.decode_lines(enc)
    got = {r.line_id: list(r.coords_q) for r in dec.collect()}
    want = {
        r.line_id: list(core.quantize_vec(np.asarray(r.coords)))
        for r in lines.collect()
    }
    assert got == want


@pytest.fixture(scope="module")
def batch3d():
    rng = np.random.default_rng(11)
    n = 300
    nv = rng.integers(2, 40, n).astype(np.int64)
    coords = rng.integers(-1_700_000_000, 1_700_000_000, int(nv.sum()) * 3) / 1e7
    ids = rng.integers(0, 2**40, n)
    return ids, coords, nv


def test_lines_kernel_dim3_roundtrip(batch3d):
    # geom code embeds dim per makegeomcode (geom.go:59-76): 2<<4|3 = 0x23
    ids, coords, nv = batch3d
    frames = _line_frames(ids, coords, nv, dim=3)
    g = batch_decode(frames)
    assert g["dim"] == 3
    assert np.array_equal(g["ids"], ids)
    assert np.array_equal(g["feat_v"], nv)
    assert np.array_equal(g["coords_q"], core.quantize_vec(coords))
    # and the per-feature reference-semantics decoder agrees on dim
    f0 = core.decode_feature(frames[0], quantized=True)
    assert f0.dim == 3 and f0.geom_type == 2


def test_lines_dataframe_dim3_roundtrip(spark):
    """dim-3 LineString frames (written by the reference encoder) decode
    exactly through decode_lines: the vertex width comes from the frame's
    geometry code."""
    rng = np.random.default_rng(3)
    ids = np.arange(200)
    nv = rng.integers(2, 20, 200)
    coords = rng.integers(-1_000_000_000, 1_000_000_000, int(nv.sum()) * 3) / 1e7
    frames = _line_frames(ids, coords, nv, dim=3)
    got = {r.line_id: list(r.coords_q)
           for r in sc.decode_lines(_frames_df(spark, frames)).collect()}
    starts = np.concatenate(([0], np.cumsum(nv)[:-1]))
    want = {int(i): core.quantize_vec(coords[3 * s:3 * (s + k)]).tolist()
            for i, s, k in zip(ids, starts, nv)}
    assert got == want


# ---------------------------------------------------------------------------
# ring-structured codec (Polygon / MultiLineString)
# ---------------------------------------------------------------------------

def _ring_batch(seed, n=200, max_rings=4, dim=2):
    rng = np.random.default_rng(seed)
    rings_per_feat = rng.integers(1, max_rings + 1, n).astype(np.int64)
    ring_nv = rng.integers(3, 30, int(rings_per_feat.sum())).astype(np.int64)
    coords = rng.integers(-1_700_000_000, 1_700_000_000, int(ring_nv.sum()) * dim) / 1e7
    ids = rng.integers(0, 2**40, n)
    return ids, coords, ring_nv, rings_per_feat


def _ring_rows(ids, coords, ring_nv, rpf, dim=2):
    """(id, flat coords, ring_nv) per feature of a flattened ring batch."""
    v_start = np.concatenate(([0], np.cumsum(ring_nv)))
    r_start = np.concatenate(([0], np.cumsum(rpf)))
    return [(int(i), coords[dim * v_start[a]:dim * v_start[b]],
             ring_nv[a:b].tolist())
            for i, a, b in zip(ids, r_start[:-1], r_start[1:])]


def _ring_frames(rows, geom_type="Polygon", dim=2):
    frames = []
    for fid, flat, nvs in rows:
        rings, off = [], 0
        for k in nvs:
            rings.append(flat[off:off + dim * k].reshape(-1, dim).tolist())
            off += dim * k
        frames.append(core.encode_feature(
            core.Feature.from_geojson(geom_type, rings, id=fid)))
    return frames


@pytest.mark.parametrize("geom_type,name", [(3, "Polygon")])
def test_rings_kernel_byte_parity(spark, geom_type, name):
    rows = _ring_rows(*_ring_batch(13))
    df = spark.createDataFrame(
        [(i, c.tolist(), nvs) for i, c, nvs in rows],
        "poly_id bigint, coords array<double>, ring_lens array<int>")
    got = sorted((r.poly_id, bytes(r.geobuf))
                 for r in sc.encode_polygons(df).collect())
    assert got == sorted(zip([r[0] for r in rows], _ring_frames(rows, name)))
    assert {core.decode_feature(f).geom_type for _, f in got} == {geom_type}


def test_rings_kernel_roundtrip():
    ids, coords, ring_nv, rpf = _ring_batch(17)
    g = batch_decode(_ring_frames(_ring_rows(ids, coords, ring_nv, rpf)))
    assert g["gt"] == 3 and g["dim"] == 2
    assert np.array_equal(g["ids"], ids)
    assert np.array_equal(g["rings_pf"], rpf)
    assert np.array_equal(g["ring_nv"], ring_nv)
    assert np.array_equal(g["coords_q"], core.quantize_vec(coords))


def test_rings_kernel_dim3_roundtrip():
    ids, coords, ring_nv, rpf = _ring_batch(19, dim=3)
    frames = _ring_frames(_ring_rows(ids, coords, ring_nv, rpf, dim=3),
                          "MultiLineString", dim=3)
    g = batch_decode(frames)
    assert g["gt"] == 5 and g["dim"] == 3
    assert np.array_equal(g["coords_q"], core.quantize_vec(coords))
    # reference-semantics per-feature decoder agrees
    f0 = core.decode_feature(frames[0], quantized=True)
    assert f0.geom_type == 5 and f0.dim == 3 and f0.ring_lens.tolist() == ring_nv[:rpf[0]].tolist()


def test_polygons_dataframe_roundtrip(spark):
    rng = np.random.default_rng(23)
    rows = []
    for i in range(150):
        nr = int(rng.integers(1, 4))
        rl = [int(rng.integers(3, 12)) for _ in range(nr)]
        c = (rng.integers(-1_000_000_000, 1_000_000_000, sum(rl) * 2) / 1e7).tolist()
        rows.append((i, c, rl))
    df = spark.createDataFrame(rows, "poly_id bigint, coords array<double>, ring_lens array<int>")
    dec = sc.decode_polygons(sc.encode_polygons(df))
    got = {r.poly_id: (list(r.coords_q), list(r.ring_lens)) for r in dec.collect()}
    want = {i: (list(core.quantize_vec(np.asarray(c))), rl) for i, c, rl in rows}
    assert got == want


# ---------------------------------------------------------------------------
# MultiPolygon decode kernel
# ---------------------------------------------------------------------------

def _mp_batch(seed, n=120, dim=2):
    rng = np.random.default_rng(seed)
    polys_per_feat = rng.integers(1, 4, n).astype(np.int64)
    rings_per_poly = rng.integers(1, 3, int(polys_per_feat.sum())).astype(np.int64)
    ring_nv = rng.integers(3, 20, int(rings_per_poly.sum())).astype(np.int64)
    coords = rng.integers(-1_700_000_000, 1_700_000_000, int(ring_nv.sum()) * dim) / 1e7
    ids = rng.integers(0, 2**40, n)
    return ids, coords, ring_nv, rings_per_poly, polys_per_feat


def _mp_frames(ids, coords, ring_nv, rpp, ppf):
    ring_starts = np.concatenate(([0], np.cumsum(ring_nv)[:-1]))
    poly_ring_start = np.concatenate(([0], np.cumsum(rpp)[:-1]))
    feat_poly_start = np.concatenate(([0], np.cumsum(ppf)[:-1]))
    frames = []
    for i in range(len(ids)):
        polys = []
        for p in range(ppf[i]):
            gp = feat_poly_start[i] + p
            rings = []
            for r in range(rpp[gp]):
                s = ring_starts[poly_ring_start[gp] + r]
                k = ring_nv[poly_ring_start[gp] + r]
                rings.append(coords[2 * s:2 * (s + k)].reshape(-1, 2).tolist())
            polys.append(rings)
        frames.append(core.encode_feature(
            core.Feature.from_geojson("MultiPolygon", polys, id=int(ids[i]))))
    return frames


def test_multipolygon_kernel_roundtrip():
    ids, coords, ring_nv, rpp, ppf = _mp_batch(31)
    frames = _mp_frames(ids, coords, ring_nv, rpp, ppf)
    g = batch_decode(frames)
    assert g["dim"] == 2
    assert np.array_equal(g["ids"], ids)
    assert np.array_equal(g["parts_pf"], ppf)
    assert np.array_equal(g["pvals"], rpp)
    assert np.array_equal(g["ring_nv"], ring_nv)
    assert np.array_equal(g["coords_q"], core.quantize_vec(coords))
    # reference-semantics decoder agrees on the first feature's structure
    f0 = core.decode_feature(frames[0], quantized=True)
    assert f0.geom_type == 6 and f0.part_rings.tolist() == rpp[:ppf[0]].tolist()


# ---------------------------------------------------------------------------
# multi-ring county polygons: the reference corpus when present, and the
# committed county-shaped fixture (geobuf_fixtures) everywhere
# ---------------------------------------------------------------------------

def _assert_polygon_codec_parity(spark, polys):
    """encode_polygons → decode_polygons on id-only copies of `polys`:
    exact on the quantized lattice, and byte-identical to the per-feature
    encoder on a sample."""
    rows = [(i, f.coords.tolist(), f.ring_lens.tolist())
            for i, f in enumerate(polys)]
    df = spark.createDataFrame(
        rows, "poly_id bigint, coords array<double>, ring_lens array<int>")
    enc = {r.poly_id: bytes(r.geobuf) for r in sc.encode_polygons(df).collect()}
    dec = {r.poly_id: (list(r.coords_q), list(r.ring_lens))
           for r in sc.decode_polygons(_frames_df(spark, list(enc.values()))).collect()}
    for i, f in enumerate(polys):
        assert dec[i] == (core.quantize_vec(f.coords).tolist(), f.ring_lens.tolist()), i
    for i in range(0, len(polys), 7):
        cf = core.Feature(geom_type=3, dim=2, coords=polys[i].coords,
                          ring_lens=polys[i].ring_lens,
                          part_rings=polys[i].part_rings, id=i)
        assert core.encode_feature(cf) == enc[i], i


@pytest.mark.skipif(not COUNTY.exists(), reason="reference corpus not present")
def test_rings_kernel_on_county_polygons(spark):
    """Real-world ring structure: the reference's county dataset, Polygon
    features re-encoded through encode_polygons, must round-trip exactly
    on the quantized lattice and match the per-feature encoder's bytes."""
    polys = []
    for frame in core.read_frames(COUNTY.read_bytes()):
        f = core.decode_feature(frame)
        if f.geom_type == 3:
            polys.append(f)
        if len(polys) >= 400:
            break
    assert len(polys) >= 300
    _assert_polygon_codec_parity(spark, polys)


def test_rings_on_county_shaped_fixture(spark):
    """The county code path without the corpus: multi-ring polygons
    through encode_polygons → decode_polygons, and the property-bearing,
    bbox-less frames the older encoder wrote through decode_polygons."""
    polys = county_polygons()
    assert max(len(f.ring_lens) for f in polys) == 3
    _assert_polygon_codec_parity(spark, polys)
    frames = [strip_bbox(core.encode_feature(f)) for f in polys]
    got = {r.poly_id: (list(r.coords_q), list(r.ring_lens))
           for r in sc.decode_polygons(_frames_df(spark, frames)).collect()}
    want = {f.id: (f.coords.tolist(), f.ring_lens.tolist())
            for f in (core.decode_feature(b, quantized=True) for b in frames)}
    assert got == want


# ---------------------------------------------------------------------------
# mixed-type batches through decode_features_fast (grouped by full code)
# ---------------------------------------------------------------------------

def test_decode_features_fast_mixed_batch(spark):
    """One binary column holding all six geometry types: the grouped
    kernels must reproduce the reference decoder's structure exactly."""
    rng = np.random.default_rng(41)
    feats = []
    fid = 0

    def rand_ring(k):
        return rng.uniform(-170, 170, (k, 2)).tolist()

    for _ in range(50):
        feats.append(core.Feature.from_geojson(
            "Point", rng.uniform(-80, 80, 2).tolist(), id=fid)); fid += 1
    for name in ("LineString", "MultiPoint"):
        for _ in range(30):
            feats.append(core.Feature.from_geojson(
                name, rand_ring(int(rng.integers(2, 10))), id=fid)); fid += 1
    for name in ("Polygon", "MultiLineString"):
        for _ in range(20):
            rings = [rand_ring(int(rng.integers(3, 8)))
                     for _ in range(int(rng.integers(1, 3)))]
            feats.append(core.Feature.from_geojson(name, rings, id=fid)); fid += 1
    for _ in range(15):
        polys = [[rand_ring(int(rng.integers(3, 8)))
                  for _ in range(int(rng.integers(1, 3)))]
                 for _ in range(int(rng.integers(1, 3)))]
        feats.append(core.Feature.from_geojson("MultiPolygon", polys, id=fid)); fid += 1
    frames = [core.encode_feature(f) for f in feats]

    order = rng.permutation(len(frames))
    df = _frames_df(spark, [frames[i] for i in order]).repartition(4)
    got = {r.id: r for r in sc.decode_features_fast(df).collect()}
    assert len(got) == len(frames)
    for fr in frames:
        want = core.decode_feature(fr, quantized=True)
        r = got[want.id]
        assert (r.geom_type, r.dim) == (want.geom_type, want.dim)
        assert list(r.ring_lens) == want.ring_lens.tolist()
        assert list(r.part_rings) == want.part_rings.tolist()
        # float coords come from the exact lattice: q/1e7, go_round7'd
        assert list(r.coords) == core.go_round7(want.coords / core.POWER).tolist()


def _props_line_frame(fid: int, coords: np.ndarray, props: dict,
                      geom_type: int = 2, dim: int = 2,
                      with_bbox: bool = True) -> bytes:
    """A feature frame with properties (and optionally no bbox, like
    reference files written by older encoders — county.geobuf has none)."""
    nv = np.array([len(coords) // dim], dtype=np.int64)
    feat = core.Feature(geom_type=geom_type, dim=dim, coords=coords,
                        ring_lens=nv, part_rings=np.array([1], np.int64),
                        id=fid, properties=props)
    frame = core.encode_feature(feat)
    return frame if with_bbox else strip_bbox(frame)


def test_decode_lines_with_properties(spark):
    """Props-carrying line frames must decode exactly — a fixed
    whole-frame tokenizer silently produces garbage on them (ADVICE r01)."""
    rng = np.random.default_rng(7)
    frames, want = [], {}
    for fid in range(40):
        nv = int(rng.integers(2, 9))
        c = rng.uniform(-170, 170, nv * 2)
        props = {"name": f"road-{fid}", "lanes": fid % 5}
        frames.append(_props_line_frame(fid, c, props))
        want[fid] = core.quantize_vec(c).tolist()
    got = {r.line_id: list(r.coords_q)
           for r in sc.decode_lines(_frames_df(spark, frames)).collect()}
    assert got == want


def test_decode_rings_props_and_no_bbox(spark):
    """Polygon frames with properties AND without bbox (old-writer files)
    through decode_polygons — reader.go field-walk parity."""
    rng = np.random.default_rng(11)
    frames, want = [], {}
    for fid in range(25):
        nv = int(rng.integers(3, 8))
        c = rng.uniform(-80, 80, nv * 2)
        frames.append(_props_line_frame(
            fid, c, {"area": float(fid)}, geom_type=3,
            with_bbox=bool(fid % 2)))
        want[fid] = (core.quantize_vec(c).tolist(), [nv])
    got = {r.poly_id: (list(r.coords_q), list(r.ring_lens))
           for r in sc.decode_polygons(_frames_df(spark, frames)).collect()}
    assert got == want


def test_decode_features_fast_mixed_dim_and_props(spark):
    """decode_features_fast groups by FULL geom code: a batch mixing
    dim-2 and dim-3 LineStrings (plus props frames) stays on the
    vectorized kernels."""
    rng = np.random.default_rng(13)
    rows, want = [], {}
    fid = 0
    for dim in (2, 3):
        for _ in range(20):
            nv = int(rng.integers(2, 7))
            c = rng.uniform(-80, 80, nv * dim)
            rows.append(_props_line_frame(fid, c, {"d": dim}, dim=dim))
            want[fid] = (dim, core.go_round7(
                core.quantize_vec(c) / core.POWER).tolist())
            fid += 1
    order = rng.permutation(fid)
    df = _frames_df(spark, [rows[i] for i in order]).repartition(3)
    got = {r.id: (r.dim, list(r.coords))
           for r in sc.decode_features_fast(df).collect()}
    assert got == want
    assert {r.props_json for r in sc.decode_features_fast(df).collect()} == \
        {'{"d": 2}', '{"d": 3}'}
