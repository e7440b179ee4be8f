"""The three benchmark workloads. Each calls the engine's layers only through
the public names production callers use, so a change to a layer's internals
is measured without editing this file.

A workload makes its inputs from the seed in ``setup_inputs``, runs untimed
correctness checks in ``setup_checks``, and runs one pass per ``run_pass``.
Every user-visible operation of a pass is counted as attempted; one that
raises or fails its output check is counted as failed, and the run goes on.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from geobuf_spark.codec import core, spark_codec
from geobuf_spark.functions import tiles
from geobuf_spark.jobs import tile_pages
from geobuf_spark.operators import tiling
from geobuf_spark.ops import lineage
from geobuf_spark.plans import strategy
from geobuf_spark.sources import geobuf_file, minted, pages

N_RECTS = 20_000  # rows of the sf0.1 `part` table that minted_rects reads


class CheckFailed(Exception):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def write_part_table(sf_dir: str, keys) -> None:
    """The `part` table minted_rects reads: one row per part key."""
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table({"p_partkey": pa.array(keys, type=pa.int64())}),
                   os.path.join(sf_dir, "part.parquet"))


def _lattice_sum(coords):
    """Σ of a flat coordinate array on the 1e-7 lattice, as an exact int."""
    return F.aggregate(coords, F.lit(0).cast("bigint"),
                       lambda acc, c: acc + F.round(c * F.lit(1e7)).cast("bigint"))


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.pass_no = 0

    @contextlib.contextmanager
    def op(self, name: str, record: dict):
        """One user-visible operation; its failure is counted, not raised."""
        self.attempted += 1
        try:
            yield
        except Exception as e:  # the run must go on: count and report it
            self.failed += 1
            self.errors.append(f"{self.name}/{name}: {type(e).__name__}: {e}"[:500])
            traceback.print_exc(file=sys.stderr)
            record.setdefault("failed_ops", []).append(name)

    def setup_inputs(self) -> None:
        raise NotImplementedError

    def setup_checks(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> dict:
        raise NotImplementedError

    def summary(self, passes: list[dict]) -> dict:
        raise NotImplementedError


def _median(xs):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def _quantile(xs, q):
    """Nearest-rank quantile."""
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)] if xs else float("nan")


class JoinTile(Workload):
    """pages → minted geometry → codec round-trip → planned PIP join against
    the minted rectangles → z9 tile assignment → histogram → collect."""

    name = "join_tile"
    N_PAGES = 100_000
    JOIN_Z = 7
    TILE_Z = 9
    SAMPLE_PAGES = 10_000

    def setup_inputs(self):
        sf = os.path.join(self.work, "sf")
        write_part_table(sf, range(N_RECTS))  # sf0.1's part keys
        self.rects = minted.minted_rects(self.spark, sf)
        self.expected = None

    def _points(self, n):
        tr = self.tr
        p = tr.boundary("sources", lambda: pages.with_minted_geometry(
            pages.pages(self.spark, n, seed=self.seed)).select("page_id", "lon", "lat"))
        return tr.boundary("codec", lambda: spark_codec.roundtrip_points(
            p, id_col="page_id").select(
                F.col("page_id").alias("doc_id"),
                (F.col("lon_q") / 1e7).alias("lon"),
                (F.col("lat_q") / 1e7).alias("lat")))

    def _pipeline(self):
        tr = self.tr
        pts = self._points(self.N_PAGES)
        with tr.span("plans") as a:
            joined, plan = strategy.pip_join_planned(pts, self.rects, z=self.JOIN_Z)
            a.update(cover_rows_est=plan.build_rows, decision=plan.strategy,
                     reason=plan.reason)
        joined = tr.boundary("spatial_join", lambda: joined, rows_in=self.N_PAGES)
        hist = tr.boundary("tiling", lambda: tiling.tile_histogram(
            tiling.assign_tiles_points(joined, z=self.TILE_Z)))
        return {(r.z, r.x, r.y): r.n_features for r in hist.collect()}

    def run_pass(self):
        rec: dict = {}
        with self.op("pipeline", rec):
            t0 = time.perf_counter()
            hist = self._pipeline()
            rec["pipeline_s"] = time.perf_counter() - t0
            if self.expected is None:  # the warm pass fixes the answer
                self.expected = hist
            check(hist == self.expected,
                  "histogram differs from the warm pass on the same input")
        return rec

    def setup_checks(self):
        """Σ histogram counts must equal the joined-row count, and the
        planned join must equal brute-force containment on the first
        SAMPLE_PAGES pages."""
        rec: dict = {}
        with self.op("check_hist_total", rec):
            pts = self._points(self.N_PAGES).localCheckpoint(eager=True)
            joined, _ = strategy.pip_join_planned(pts, self.rects, z=self.JOIN_Z)
            self.joined_rows = joined.count()
            total = sum(self.expected.values())
            check(total == self.joined_rows,
                  f"Σ histogram {total} != joined rows {self.joined_rows}")
        with self.op("check_brute_force", rec):
            sample = F.col("doc_id") < self.SAMPLE_PAGES
            p = pts.where(sample).toPandas()
            got = joined.where(sample).select("doc_id", "poly_id").toPandas()
            r = self.rects.toPandas()
            want = []
            for i in range(0, len(p), 500):  # every point against every rectangle
                c = p.iloc[i:i + 500]
                lon, lat = c["lon"].to_numpy()[:, None], c["lat"].to_numpy()[:, None]
                hit = ((lon >= r["minx"].to_numpy()) & (lon <= r["maxx"].to_numpy())
                       & (lat >= r["miny"].to_numpy()) & (lat <= r["maxy"].to_numpy()))
                pi, ri = np.nonzero(hit)
                want.append(c["doc_id"].to_numpy()[pi] * (1 << 32) + r["poly_id"].to_numpy()[ri])
            want = np.sort(np.concatenate(want))
            got = np.sort(got["doc_id"].to_numpy() * (1 << 32) + got["poly_id"].to_numpy())
            check(len(p) == self.SAMPLE_PAGES and len(want) > 0, "empty brute-force sample")
            check(np.array_equal(got, want),
                  f"pip_join gave {len(got)} pairs on the sample, brute force {len(want)}")

    def summary(self, passes):
        pipe = [p["pipeline_s"] for p in passes if "pipeline_s" in p]
        pipeline_s = _median(pipe)
        return {
            "pass_s": pipeline_s,
            "items_per_s": self.N_PAGES / pipeline_s,
            "detail": {
                "pipeline_s": pipeline_s,
                "pipeline_features_per_s": self.N_PAGES / pipeline_s,
                "passes": len(pipe),
                "pages": self.N_PAGES,
                "joined_rows": getattr(self, "joined_rows", None),
                "hist_rows": len(self.expected or {}),
            },
        }


class TileJob(Workload):
    """The production job ``jobs.tile_pages.run_job`` into a fresh output
    directory and run id, then a same-run-id rerun that must be a no-op."""

    name = "tile_job"
    N_PAGES = 10_000
    ZOOM = 3
    JOB_STAGE_LAYER = {"synthesize_pages": "sources", "codec_roundtrip": "codec",
                       "pip_join": "spatial_join", "tile_assign_commit": "tiling"}

    def setup_inputs(self):
        # run_job mints its own pages with a fixed seed, so the seed picks
        # the rectangles instead: a seeded sample of part keys. (Consecutive
        # keys would put the minted centres on a few lattice lines, and the
        # joined-row count would swing by half between seeds.)
        self.sf = os.path.join(self.work, "sf")
        write_part_table(self.sf, sorted(random.Random(self.seed).sample(range(1 << 31), N_RECTS)))
        self.rows_expected = None

    def setup_checks(self):
        """A job into the warm pass's output directory under a new run id
        must replace the data and append a second manifest entry. (It also
        settles the JIT before the first measured job.)"""
        rec: dict = {}
        with self.op("check_overwrite", rec):
            out = self.warm_out
            try:
                res = self._run_job(out, f"seed{self.seed}-overwrite")
                rows = self.spark.read.parquet(os.path.join(out, "data")).count()
                check(rows == res["rows_joined"] == self.rows_expected,
                      f"overwritten output holds {rows} rows, job joined "
                      f"{res['rows_joined']}, warm pass {self.rows_expected}")
                check(len(lineage.committed_runs(out)) == 2,
                      f"manifest lists {lineage.committed_runs(out)}")
            finally:
                shutil.rmtree(out, ignore_errors=True)

    def _run_job(self, out, run_id):
        tr = self.tr

        def on_plan(attrs, plan):
            attrs.update(cover_rows_est=plan.build_rows, decision=plan.strategy,
                         reason=plan.reason)

        def on_commit(attrs, entry):
            attrs["partitions"] = entry.get("partitions")

        with tr.span("jobs"), \
                tr.wrap(strategy, "choose_strategy", "plans", on_plan), \
                tr.wrap(lineage, "commit_output", "lineage", on_commit):
            return tile_pages.run_job(self.spark, self.N_PAGES, self.sf, out,
                                      self.ZOOM, run_id)

    def run_pass(self):
        self.pass_no += 1
        out = os.path.join(self.work, "tile_job", f"pass-{self.pass_no}")
        run_id = f"seed{self.seed}-pass{self.pass_no}"
        rec: dict = {}
        try:
            with self.op("job", rec):
                t0 = time.perf_counter()
                res = self._run_job(out, run_id)
                rec["job_s"] = time.perf_counter() - t0
                rows = self.spark.read.parquet(os.path.join(out, "data")).count()
                rec.update(self._output_stats(out))
                lin = self.spark.read.parquet(
                    os.path.join(out, "_lineage", f"run_id={run_id}")).count()
                check(res["commit"].get("status") == "committed",
                      f"commit status {res['commit']}")
                check(rows == res["rows_joined"],
                      f"committed rows {rows} != rows_joined {res['rows_joined']}")
                check(lin == rec["partitions"] == res["commit"]["partitions"],
                      f"lineage rows {lin}, partition dirs {rec['partitions']}, "
                      f"manifest {res['commit']['partitions']}")
                if self.rows_expected is None:
                    self.rows_expected = rows
                check(rows == self.rows_expected,
                      f"committed rows {rows} != {self.rows_expected} of the warm pass")
                rec["rows"] = rows
                if self.tr.enabled:
                    self._job_stage_spans(out, run_id, rec)
            with self.op("rerun", rec):
                t0 = time.perf_counter()
                again = tile_pages.run_job(self.spark, self.N_PAGES, self.sf, out,
                                           self.ZOOM, run_id)
                rec["rerun_s"] = time.perf_counter() - t0
                check(again["commit"].get("status") == "already_committed",
                      f"same-run-id rerun returned {again['commit']}")
        finally:
            if self.pass_no == 1:  # the warm pass's output is set-up's to check
                self.warm_out = out
            else:
                shutil.rmtree(out, ignore_errors=True)
        return rec

    @staticmethod
    def _output_stats(out):
        """Partition directories, parquet files and bytes under <out>/data."""
        data = os.path.join(out, "data")
        parts, files, nbytes = set(), 0, 0
        for d, _, names in os.walk(data):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(d, n))
                    parts.add(os.path.relpath(d, data))
        return {"partitions": len(parts), "files": files, "bytes": nbytes}

    def _job_stage_spans(self, out, run_id, rec):
        """The job's own stage timers, read back from its _metrics table."""
        rows = (self.spark.read.parquet(os.path.join(out, "_metrics"))
                .where(F.col("run_id") == run_id).collect())
        rec["stage_s"] = {r.stage: r.wall_sec for r in rows}
        for r in rows:
            attrs = {"rows_in": r.rows_in, "rows_out": r.rows_out}
            if r.stage == "tile_assign_commit":  # what the commit wrote
                attrs.update(rows_out=rec["rows"], files=rec["files"], bytes=rec["bytes"])
            self.tr.add_span(self.JOB_STAGE_LAYER.get(r.stage, r.stage),
                             r.ts - r.wall_sec, r.ts, job_stage=r.stage, **attrs)

    def summary(self, passes):
        job = [p["job_s"] for p in passes if "job_s" in p]
        job_s = _median(job)
        rows = self.rows_expected or 0
        stats = [p for p in passes if "bytes" in p]
        bytes_per_row = _median([p["bytes"] / p["rows"] for p in stats if p.get("rows")])
        return {
            "pass_s": job_s + _median([p["rerun_s"] for p in passes if "rerun_s" in p]),
            "items_per_s": rows / job_s,
            "detail": {
                "job_s": job_s,
                "job_rows_per_s": rows / job_s,
                "job_bytes_per_row": bytes_per_row,
                "rerun_s": _median([p["rerun_s"] for p in passes if "rerun_s" in p]),
                "passes": len(job),
                "pages": self.N_PAGES,
                "zoom": self.ZOOM,
                "committed_rows": rows,
                "partitions": _median([p["partitions"] for p in stats]),
                "files": _median([p["files"] for p in stats]),
            },
        }


class GeobufStore(Workload):
    """The paper's storage path: encode roads keyed by z6 tile and write
    one indexed geobuf file, scan it whole, then look up single keys."""

    name = "geobuf_store"
    N_LINES = 10_000
    KEY_Z = 6
    LOOKUPS_PER_PASS = 4
    ID_STRIDE = 10_000_000  # line-id offset per seed

    def setup_inputs(self):
        spark = self.spark
        lid = F.col("line_id")
        # bench.synth_lines' road shape: a 16–63 vertex walk from a hashed origin
        nv = F.pmod(F.hash(lid), F.lit(48)) + 16
        coords = F.flatten(F.transform(F.sequence(F.lit(0), nv - 1), lambda j: F.array(
            (self._x0(lid) + j * 1000 + F.pmod(F.hash(lid * 31 + j), F.lit(2000)) - 1000) / F.lit(1e7),
            (self._y0(lid) + j * 800 + F.pmod(F.hash(lid * 37 + j), F.lit(1600)) - 800) / F.lit(1e7),
        )))
        first = self.seed * self.ID_STRIDE
        self.lines = (spark.range(first, first + self.N_LINES)
                      .withColumnRenamed("id", "line_id")
                      .select("line_id", coords.alias("coords")).cache())
        # the scan must give back the source as the reference codec
        # (codec/core.py) quantizes and decodes it
        flat = self.lines.select(F.explode("coords").alias("c")).toPandas()["c"].to_numpy()
        decoded = core.go_round7(core.quantize_vec(flat) / core.POWER)
        self.source = (self.N_LINES, int(np.rint(decoded * core.POWER).sum()))
        self.gdir = os.path.join(self.work, "geobuf")
        os.makedirs(self.gdir, exist_ok=True)
        self.keys: list[str] = []
        self.key_i = 0

    @staticmethod
    def _x0(lid):
        return F.pmod(F.hash(lid * 7), F.lit(3_000_000_000)) - F.lit(1_500_000_000)

    @staticmethod
    def _y0(lid):
        return F.pmod(F.hash(lid * 13), F.lit(1_500_000_000)) - F.lit(750_000_000)

    def _key(self):
        lid = F.col("line_id")
        return F.concat_ws("/", tiles.tile_x(self._x0(lid) / F.lit(1e7), self.KEY_Z),
                           tiles.tile_y(self._y0(lid) / F.lit(1e7), self.KEY_Z))

    def setup_checks(self):
        pass  # every pass checks its own output

    def run_pass(self):
        tr, spark = self.tr, self.spark
        self.pass_no += 1
        path = os.path.join(self.gdir, f"pass-{self.pass_no}.geobuf")
        rec: dict = {"lookup_s": []}
        meta = None
        try:
            with self.op("write", rec):
                t0 = time.perf_counter()
                enc = tr.boundary("codec", lambda: spark_codec.encode_lines(
                    self.lines).withColumn("key", self._key()))
                meta = tr.boundary("geobuf_file.write_indexed", lambda: geobuf_file
                                   .write_geobuf_indexed(enc, path, key_col="key"))
                rec["write_s"] = time.perf_counter() - t0
                check(meta["number_features"] == self.N_LINES,
                      f"index holds {meta['number_features']} features")
                check(os.path.getsize(path) == meta["file_size"],
                      "file size differs from the index")
                rec["bytes"] = meta["file_size"]
            if meta is None:
                return rec
            with self.op("scan", rec):
                t0 = time.perf_counter()
                if tr.enabled:  # split and decode as separate boundaries
                    frames = tr.boundary("geobuf_file.split",
                                         lambda: geobuf_file.read_geobuf(spark, path))
                    feats = spark_codec.decode_features_fast(frames)
                else:
                    feats = geobuf_file.decoded_features(spark, path)
                got = tr.boundary("codec", lambda: feats.agg(
                    F.count("*").alias("n"),
                    F.sum(_lattice_sum("coords")).alias("s"))).first()
                rec["scan_s"] = time.perf_counter() - t0
                check((got.n, got.s) == self.source,
                      f"scan (count, Σcoords) {(got.n, got.s)} != source {self.source}")
            if not self.keys:  # seeded lookup order over the index's keys
                self.keys = sorted(meta["files"])
                random.Random(self.seed).shuffle(self.keys)
            for _ in range(self.LOOKUPS_PER_PASS):
                key = self.keys[self.key_i % len(self.keys)]
                self.key_i += 1
                with self.op("lookup", rec):
                    self._lookup(path, key, meta["files"][key], rec)
        finally:
            for p in (path, path + ".idx.json"):
                if os.path.exists(p):
                    os.remove(p)
        return rec

    def _lookup(self, path, key, ent, rec):
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("geobuf_file.lookup_seek") as a:
            r0 = _rchar() if tr.enabled else 0
            sub = geobuf_file.read_geobuf_subfile(self.spark, path, key)
            if tr.enabled:
                a.update(bytes_read=_rchar() - r0, key_bytes=ent["size"])
        rows = tr.boundary("codec", lambda: spark_codec.decode_features_fast(sub)).collect()
        rec["lookup_s"].append(time.perf_counter() - t0)
        check(len(rows) == ent["number_features"],
              f"lookup {key}: {len(rows)} rows != index {ent['number_features']}")

    def summary(self, passes):
        write = _median([p["write_s"] for p in passes if "write_s" in p])
        scan = _median([p["scan_s"] for p in passes if "scan_s" in p])
        lookups = [t for p in passes for t in p["lookup_s"]]
        p90 = _quantile(lookups, 0.9)
        return {
            # per-operation medians: a run holds few passes but many lookups
            "pass_s": write + scan + self.LOOKUPS_PER_PASS * _median(lookups),
            "items_per_s": 2 * self.N_LINES / (write + scan),
            "detail": {
                "write_features_per_s": self.N_LINES / write,
                "scan_features_per_s": self.N_LINES / scan,
                "lookup_p50_s": _median(lookups),
                "lookup_p90_s": p90,
                "lookups": len(lookups),
                "lookups_beyond_p90": sum(t > p90 for t in lookups),
                "bytes_per_feature": _median([p["bytes"] for p in passes if "bytes" in p])
                / self.N_LINES,
                "passes": len(passes),
                "lines": self.N_LINES,
            },
        }


def _rchar() -> int:
    """Bytes this process has read through read(2) and friends."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


WORKLOADS = {w.name: w for w in (JoinTile, TileJob, GeobufStore)}
