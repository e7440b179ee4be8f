"""JVM codec (codec/jvm/GbCodec.java) — the production point, line and
polygon codec behind spark_codec — held to the reference oracle
codec/core.py: encode byte for byte against core.encode_feature, decode
against core.decode_feature(..., quantized=True). The jar is committed,
so these run everywhere; a missing jar with no JDK is a loud error.
"""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geobuf_spark.codec import core, jvm_codec, spark_codec


def _frames_df(spark, frames):
    return spark.createDataFrame(
        [(bytearray(f),) for f in frames], "geobuf binary")


def _point_frames(ids, lon, lat):
    return [core.encode_feature(core.Feature.from_geojson(
        "Point", [float(x), float(y)], id=int(i)))
        for i, x, y in zip(ids, lon, lat)]


def _line_frame(fid, flat, dim=2):
    return core.encode_feature(core.Feature.from_geojson(
        "LineString", np.asarray(flat).reshape(-1, dim).tolist(), id=int(fid)))


def _poly_frame(fid, flat, ring_nv):
    rings, off = [], 0
    for nv in ring_nv:
        rings.append(np.asarray(flat[off:off + 2 * nv]).reshape(-1, 2).tolist())
        off += 2 * nv
    return core.encode_feature(core.Feature.from_geojson(
        "Polygon", rings, id=int(fid)))


def _quantized(frame):
    return core.decode_feature(bytes(frame), quantized=True)


def test_register_idempotent(spark):
    assert jvm_codec.register(spark) is True
    assert jvm_codec.register(spark) is True


def test_register_raises_without_jar(spark, monkeypatch):
    """No prebuilt jar and no JDK: register fails loudly with the cause
    instead of reporting False for a caller to ignore."""
    import tools.build_jvm

    monkeypatch.setattr(tools.build_jvm, "build", lambda: None)
    fresh = spark.newSession()  # UDF registrations are per session
    with pytest.raises(RuntimeError, match="no JDK"):
        jvm_codec.register(fresh)


def test_point_agg_parity(spark):
    rng = np.random.default_rng(11)
    n = 5000
    ids = rng.integers(0, 2**40, n).astype(np.int64)
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    frames = _point_frames(ids, lon, lat)
    got = spark_codec.decode_points_agg(_frames_df(spark, frames)).collect()[0]
    want = [_quantized(f) for f in frames]
    assert tuple(got) == (
        n, sum(f.id for f in want),
        sum(int(f.coords[0]) for f in want), sum(int(f.coords[1]) for f in want))


def test_point_decode_parity(spark):
    rng = np.random.default_rng(12)
    n = 300
    ids = np.arange(n, dtype=np.int64)
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    frames = _point_frames(ids, lon, lat)
    got = {r["id"]: (r["lon_q"], r["lat_q"])
           for r in spark_codec.decode_points(_frames_df(spark, frames)).collect()}
    want = {f.id: tuple(f.coords.tolist()) for f in map(_quantized, frames)}
    assert got == want


@pytest.mark.parametrize("dim", [2, 3, 5])
def test_line_decode_parity(spark, dim):
    rng = np.random.default_rng(20 + dim)
    n, nv = 200, 7
    ids = np.arange(n, dtype=np.int64) * 3 + 1
    flat = rng.uniform(-170, 170, (n, nv * dim))
    frames = [_line_frame(i, c, dim) for i, c in zip(ids, flat)]
    got = {r["line_id"]: list(r["coords_q"])
           for r in spark_codec.decode_lines(_frames_df(spark, frames)).collect()}
    want = {f.id: f.coords.tolist() for f in map(_quantized, frames)}
    assert got == want


def test_line_agg_parity(spark):
    rng = np.random.default_rng(31)
    n, nv = 2000, 12
    ids = rng.permutation(n).astype(np.int64)
    flat = rng.uniform(-179, 179, (n, nv * 2))
    frames = [_line_frame(i, c) for i, c in zip(ids, flat)]
    got = spark_codec.decode_lines_agg(_frames_df(spark, frames)).collect()[0]
    want = [_quantized(f) for f in frames]
    assert tuple(got) == (n, sum(len(f.coords) for f in want),
                          sum(int(f.coords[0]) for f in want))


def test_corrupt_frame_raises(spark):
    # truncated payload (mid-varint) must fail the task
    buf = _point_frames([1], [10.0], [20.0])[0][:-1]  # drop the final byte
    with pytest.raises(Exception):
        spark_codec.decode_points_agg(_frames_df(spark, [buf])).collect()
    with pytest.raises(Exception):
        spark_codec.decode_points(_frames_df(spark, [buf])).collect()


def test_point_encode_byte_parity(spark):
    """encode_points frames are byte-identical to the reference encoder's,
    including negative coords, the 1e-7 lattice, and large ids."""
    rng = np.random.default_rng(21)
    n = 4000
    ids = np.concatenate([np.arange(n - 4, dtype=np.int64),
                          np.array([0, 1, 2**40, 2**62], dtype=np.int64)])
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    df = spark.createDataFrame(pd.DataFrame({"doc_id": ids, "lon": lon, "lat": lat}))
    got = [bytes(r.geobuf) for r in spark_codec.encode_points(df).collect()]
    assert sorted(got) == sorted(_point_frames(ids, lon, lat))  # ids repeat


def _poly_fixture(rng, n):
    """Random multi-ring polygons: rows of (id, flat coords, ring_nv)."""
    rows = []
    for i in range(n):
        nvs = [int(rng.integers(3, 12)) for _ in range(int(rng.integers(1, 4)))]
        rows.append((i * 7 + 1, rng.uniform(-180, 180, sum(nvs) * 2).tolist(), nvs))
    return rows


def test_poly_encode_byte_parity(spark):
    """encode_polygons frames are byte-identical to the reference
    encoder's (Polygon, dim 2), across ring counts 1-3 and negative
    coords."""
    rows = _poly_fixture(np.random.default_rng(41), 400)
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["poly_id", "coords", "ring_lens"]))
    got = [bytes(r.geobuf)
           for r in spark_codec.encode_polygons(df).orderBy("poly_id").collect()]
    assert got == [_poly_frame(*r) for r in rows]


def test_poly_decode_parity(spark):
    """decode_polygons matches the reference decoder: same ring_lens,
    same absolute quantized coords with per-ring delta reset."""
    frames = [_poly_frame(*r) for r in _poly_fixture(np.random.default_rng(42), 300)]
    got = {r["poly_id"]: (list(r["coords_q"]), list(r["ring_lens"]))
           for r in spark_codec.decode_polygons(_frames_df(spark, frames)).collect()}
    want = {f.id: (f.coords.tolist(), f.ring_lens.tolist())
            for f in map(_quantized, frames)}
    assert got == want


def test_poly_agg_and_corrupt(spark):
    rows = _poly_fixture(np.random.default_rng(43), 500)
    df = _frames_df(spark, [_poly_frame(*r) for r in rows])
    row = spark_codec.decode_polygons_agg(df).collect()[0]
    assert row["n"] == 500
    assert row["sum_id"] == sum(r[0] for r in rows)
    assert row["sum_rings"] == sum(len(r[2]) for r in rows)
    assert row["sum_coord_tokens"] == sum(len(r[1]) for r in rows)
    # a ring count token overrunning the payload must fail the task. Use
    # lattice-small coords (quantized deltas are single-byte varints, so
    # glen < 128 and every byte offset is fixed): frame = 0x08 id | 0x18 3
    # | 0x22 glen | count deltas... — corrupt the count token at gi+2.
    buf = bytearray(_poly_frame(5, [1e-7, 2e-7, 3e-7, 1e-7, 2e-7, 4e-7], [3]))
    gi = buf.index(0x22)
    assert buf[gi + 1] < 0x80 and buf[gi + 2] == 6  # glen 1 byte; count 3*2
    buf[gi + 2] = 0x7E  # claims 126 tokens; payload has 6
    with pytest.raises(Exception):
        spark_codec.decode_polygons(_frames_df(spark, [bytes(buf)])).collect()


def test_line_encode_byte_parity_and_roundtrip(spark):
    """encode_lines frames are byte-identical to the reference encoder's,
    and decode_lines of them recovers the quantized vertices."""
    rng = np.random.default_rng(22)
    rows = [(i, rng.uniform(-180, 180, int(rng.integers(2, 60)) * 2).tolist())
            for i in range(500)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["line_id", "coords"]))
    enc = spark_codec.encode_lines(df)
    got = [bytes(r.geobuf) for r in enc.orderBy("line_id").collect()]
    assert got == [_line_frame(i, c) for i, c in rows]
    dec = {r.line_id: list(r.coords_q)
           for r in spark_codec.decode_lines(enc).collect()}
    for i, c in rows:
        assert dec[i] == core.quantize_vec(np.array(c)).tolist()


def test_frames_split_parity(spark, tmp_path):
    """gb_frames (JVM stream splitter) vs core.read_frames byte-parity on
    a framed multi-feature stream, and the full many-files read plan
    (read_geobuf_files_jvm) vs the python mapInArrow reader."""
    ids = np.arange(50, dtype=np.int64)
    frames = _point_frames(ids, ids * 0.001, ids * -0.002)
    stream = core.write_frames(frames)

    # splitter parity on one stream
    jvm_codec.register(spark)
    got = (spark.createDataFrame([(stream,)], "content binary")
           .select(F.posexplode(F.expr("gb_frames(content)")))
           .orderBy("pos").collect())
    assert [bytes(r[1]) for r in got] == frames
    assert [bytes(f) for f in core.read_frames(stream)] == frames

    # many-files plan parity vs the python reader
    d = tmp_path / "many"
    d.mkdir()
    for i in range(4):
        part = frames[i * 12:(i + 1) * 12]
        (d / f"part-{i}.geobuf").write_bytes(core.write_frames(part))
    jdf = jvm_codec.read_geobuf_files_jvm(spark, str(d))
    from geobuf_spark.sources import geobuf_file
    pdf = geobuf_file.read_geobuf(spark, str(d))
    jb = sorted(bytes(r["geobuf"]) for r in jdf.collect())
    pb = sorted(bytes(r["geobuf"]) for r in pdf.collect())
    assert jb == pb == sorted(frames[:48])

    # truncated stream fails loudly
    with pytest.raises(Exception):
        (spark.createDataFrame([(stream[:-1],)], "content binary")
         .select(F.explode(F.expr("gb_frames(content)"))).collect())


def test_roundtrip_points_parity(spark):
    """gb_point(gb_point_enc(...)) codegen round-trip returns the lattice
    values the reference encoder → decoder round-trip gives."""
    from geobuf_spark.sources import pages

    p = (pages.with_minted_geometry(pages.pages(spark, 500))
         .select("page_id", "lon", "lat"))
    got = sorted(tuple(r) for r in
                 spark_codec.roundtrip_points(p, id_col="page_id").collect())
    src = p.collect()
    frames = _point_frames([r.page_id for r in src], [r.lon for r in src],
                           [r.lat for r in src])
    want = sorted((f.id, *f.coords.tolist()) for f in map(_quantized, frames))
    assert got == want


def test_point_enc_tie_lattice_parity(spark):
    """Encode parity under adversarial inputs: uniform floats mixed with
    exact half-ulp tie candidates on the 1e-7 lattice (the rounding
    boundary where two implementations would first diverge). 6k frames,
    byte-for-byte against the reference encoder."""
    rng = np.random.default_rng(7)
    n = 6000
    ids = rng.integers(0, 1 << 40, n)
    lon = np.concatenate([
        rng.uniform(-180, 180, n // 2),
        (rng.integers(-1_800_000_000, 1_800_000_000, n // 4) + 0.5) / 1e7,
        rng.integers(-1_800_000_000, 1_800_000_000, n - n // 2 - n // 4) / 1e7,
    ])
    lat = np.concatenate([
        rng.uniform(-90, 90, n // 2),
        (rng.integers(-900_000_000, 900_000_000, n // 4) + 0.5) / 1e7,
        rng.integers(-900_000_000, 900_000_000, n - n // 2 - n // 4) / 1e7,
    ])
    assert len(set(ids.tolist())) == n  # ids key the comparison
    df = spark.createDataFrame(pd.DataFrame(
        {"id": ids.astype("int64"), "lon": lon, "lat": lat}))
    got = {r.id: bytes(r.geobuf)
           for r in spark_codec.encode_points(df, id_col="id").collect()}
    assert got == dict(zip(ids.tolist(), _point_frames(ids, lon, lat)))


def test_line_poly_enc_random_parity(spark):
    """Random lines and two-ring polygons: JVM encoders vs the reference
    encoder, byte-for-byte (hypothesis-free fixed seeds — each case is one
    Spark job, so a handful of seeded draws beats per-example jobs)."""
    for seed in (1, 2, 3):
        rng = np.random.default_rng(seed)
        n = 300
        ids = np.arange(n, dtype=np.int64)
        nv = rng.integers(2, 30, n)
        flat = [np.round(rng.uniform(-180, 180, int(k) * 2), 7) for k in nv]
        df = spark.createDataFrame(pd.DataFrame(
            {"line_id": ids, "coords": [c.tolist() for c in flat]}))
        got = [bytes(r.geobuf) for r in
               spark_codec.encode_lines(df).orderBy("line_id").collect()]
        assert got == [_line_frame(i, c) for i, c in zip(ids, flat)], \
            f"line mismatch seed {seed}"

        # two-ring polygons over the same draws
        nv2 = rng.integers(2, 8, n)
        flat2 = [np.round(rng.uniform(-85, 85, int(k) * 2), 7) for k in nv2]
        ring_flat = [np.concatenate([a, b]) for a, b in zip(flat, flat2)]
        ring_nv = [[int(a), int(b)] for a, b in zip(nv, nv2)]
        dfp = spark.createDataFrame(pd.DataFrame({
            "poly_id": ids, "coords": [c.tolist() for c in ring_flat],
            "ring_lens": ring_nv}))
        got = [bytes(r.geobuf) for r in
               spark_codec.encode_polygons(dfp).orderBy("poly_id").collect()]
        assert got == [_poly_frame(i, c, r)
                       for i, c, r in zip(ids, ring_flat, ring_nv)], \
            f"poly mismatch seed {seed}"
