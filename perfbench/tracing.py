"""Traced-run tooling: an in-memory span recorder, a reader for Spark's own
SQL and stage counters, and the self-time calculator.

Spans are recorded only from the benchmark's files, around the public calls
into each layer. Spark's counters come from the driver's status stores
(both are filled with ``spark.ui.enabled=false``):

- SQL operator metrics per execution, from
  ``sharedState().statusStore()`` (``planGraph`` + ``executionMetrics``);
- task metrics per stage, from ``sc().statusStore().stageList(...)``.

Every execution and stage is attributed, by its completion time, to the
innermost span that was open when it completed. A span's self time is its
duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import contextlib
import re
import time

# SQL metric display names (SQLMetrics) read by the per-layer report
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
ROWS = "number of output rows"
BCAST_TIMES = ("time to collect", "time to build", "time to broadcast")
BCAST_BYTES = "data size"

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"^\s*([0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(metric_type: str, text: str) -> float | None:
    """Total of one formatted SQL metric value, in base units (rows, bytes,
    seconds). Spark formats sizes and timings to about three significant
    digits; sums are exact. Returns None for types the report does not use.

    >>> parse_metric("sum", "54,700,123")
    54700123.0
    >>> parse_metric("size", "total (min, med, max (stageId: taskId))\\n2.3 MiB (1 B, 2 B, 3 B (stage 0.0: task 1))")
    2411724.8
    >>> parse_metric("timing", "751 ms")
    0.751
    """
    line = text.strip().splitlines()[-1]
    m = _TOTAL_RE.match(line)
    if m is None:
        return None
    value = float(m.group(1).replace(",", ""))
    if metric_type == "sum":
        return value
    if metric_type == "size":
        return value * _SIZE_UNITS[m.group(2)]
    if metric_type in ("timing", "nsTiming"):
        return value * _TIME_UNITS[m.group(2)]
    return None


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the union of its children's intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        s, e = max(c["start"], span["start"]), min(c["end"], span["end"])
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


class SparkCounters:
    """Reads the SQL executions and stages that completed since the last
    read. Values are plain dicts; nothing here is kept on the JVM side."""

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jsc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._jvm = spark._jvm
        self._last_exec = -1
        self._seen_stages: set[tuple[int, int]] = set()

    def _drain_listener_bus(self) -> None:
        # completion events reach the status stores asynchronously
        self._jsc.listenerBus().waitUntilEmpty()

    def new_executions(self) -> list[dict]:
        self._drain_listener_bus()
        out = []
        it = self._sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            done = e.completionTime()
            if done.isEmpty():
                continue  # still running: read it next time
            values = self._sql.executionMetrics(eid)
            nodes = []
            nit = self._sql.planGraph(eid).allNodes().iterator()
            while nit.hasNext():
                n = nit.next()
                metrics = {}
                mit = n.metrics().iterator()
                while mit.hasNext():
                    m = mit.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        parsed = parse_metric(m.metricType(), v.get())
                        if parsed is not None:
                            metrics[m.name()] = parsed
                nodes.append({"name": n.name(), "metrics": metrics})
            out.append({"id": eid, "end": done.get().getTime() / 1000.0,
                        "description": e.description()[:80], "nodes": nodes})
            self._last_exec = max(self._last_exec, eid)
        return out

    def new_stages(self) -> list[dict]:
        self._drain_listener_bus()
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._gw.new_array(self._jvm.double, 0)
        stages = self._jsc.statusStore().stageList(empty, False, False,
                                                   quantiles, empty)
        out = []
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            key = (s.stageId(), s.attemptId())
            done = s.completionTime()
            if key in self._seen_stages or done.isEmpty():
                continue
            self._seen_stages.add(key)
            out.append({
                "id": key[0], "end": done.get().getTime() / 1000.0,
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "peak_exec_mem_bytes": s.peakExecutionMemory(),
            })
        return out


class Tracer:
    """In-memory span recorder. While ``enabled`` is False every method is
    a no-op pass-through, so traced and untraced passes run the same code.

    A span is a dict: name, start, end (epoch seconds), workload, pass_id
    and free-form ``attrs``; ``finish_pass`` adds its parent's name, its
    self time, and the Spark executions and stages attributed to it."""

    def __init__(self, spark, workload: str):
        self.workload = workload
        self.enabled = False
        self.pass_id: int | None = None
        self.spans: list[dict] = []
        self.counters = SparkCounters(spark)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "workload": self.workload, "pass_id": self.pass_id, "attrs": attrs}
        self.spans.append(rec)
        try:
            yield attrs
        finally:
            rec["end"] = time.time()

    def add_span(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (a job's own stage timer)."""
        if self.enabled:
            self.spans.append({"name": name, "start": start, "end": end,
                               "workload": self.workload, "pass_id": self.pass_id,
                               "attrs": attrs})

    def boundary(self, name: str, fn, **attrs):
        """Run ``fn()``, one public call into a layer. When tracing, record a
        span around it and force a DataFrame result at the boundary with
        ``localCheckpoint(eager=True)``; its row count is taken after the
        span closes."""
        if not self.enabled:
            return fn()
        from pyspark.sql import DataFrame

        with self.span(name, **attrs) as attrs:
            out = fn()
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
        if isinstance(out, DataFrame):
            attrs["rows"] = out.count()
        return out

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str, on_result=None):
        """Record a span around every call of ``module.attr`` while the
        block runs (for layer calls made inside a production job)."""
        orig = getattr(module, attr)
        if not self.enabled:
            yield
            return

        def traced(*a, **kw):
            with self.span(name) as attrs:
                res = orig(*a, **kw)
            if on_result is not None:
                on_result(attrs, res)
            return res

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def finish_pass(self) -> list[dict]:
        """Attach the pass's Spark executions and stages to its spans and
        compute self times; returns the pass's spans."""
        spans = [s for s in self.spans if s["pass_id"] == self.pass_id]
        # parent = smallest enclosing span, found by time because a job's
        # stage timers are recorded after the spans opened inside them
        eps = 1e-3
        parents = {}
        for s in spans:
            enclosing = [p for p in spans if p is not s
                         and p["start"] - eps <= s["start"]
                         and s["end"] <= p["end"] + eps
                         and p["end"] - p["start"] > s["end"] - s["start"]]
            parent = min(enclosing, key=lambda p: p["end"] - p["start"], default=None)
            parents[id(s)] = parent
            s["parent"] = parent["name"] if parent else None
        for s in spans:
            s["self_s"] = self_time(s, [c for c in spans if parents[id(c)] is s])
            s["executions"], s["stages"] = [], []

        def innermost(t: float):
            inside = [s for s in spans if s["start"] - eps <= t <= s["end"] + eps]
            return min(inside, key=lambda s: s["end"] - s["start"]) if inside else None

        for e in self.counters.new_executions():
            owner = innermost(e["end"])
            if owner is not None:
                owner["executions"].append(e)
        for st in self.counters.new_stages():
            owner = innermost(st["end"])
            if owner is not None:
                owner["stages"].append(st)
        return spans


# per-layer metrics of a traced pass, as BENCHMARK.json declares them
LAYER_METRICS = (
    "sources.self_s",
    "codec.self_s",
    "codec.python_s",
    "codec.python_boot_s",
    "codec.features",
    "codec.python_nodes",
    "plans.self_s",
    "plans.cover_rows_est",
    "spatial_join.self_s",
    "spatial_join.rows_in",
    "spatial_join.rows_out",
    "spatial_join.out_per_in",
    "spatial_join.broadcast_build_s",
    "spatial_join.broadcast_bytes",
    "tiling.self_s",
    "tiling.rows_out",
    "tiling.files_written",
    "tiling.bytes_written",
    "lineage.commit_s",
    "lineage.partitions",
    "jobs.stage_s.synthesize_pages",
    "jobs.stage_s.codec_roundtrip",
    "jobs.stage_s.pip_join",
    "jobs.stage_s.tile_assign_commit",
    "geobuf_file.write_indexed_s",
    "geobuf_file.split_s",
    "geobuf_file.lookup_seek_s",
    "geobuf_file.bytes_read_per_lookup",
    "geobuf_file.read_amplification",
    "spark.cpu_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.peak_exec_mem_bytes",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.slot_idle_frac",
    "trace.pass_s",
    "trace.untraced_pass_s",
    "trace.overhead_frac",
)


def _nodes(spans, node_name):
    return [n for s in spans for e in s["executions"] for n in e["nodes"]
            if n["name"] == node_name]


def pass_layer_metrics(spans: list[dict], cores: int) -> tuple[dict, dict]:
    """Per-layer metrics of one traced pass (a layer absent from the
    workload reads 0) plus the categorical facts recorded beside them."""
    m = dict.fromkeys(LAYER_METRICS, 0.0)
    named = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)

    def total(name, key="self_s"):
        return sum(s[key] for s in named.get(name, []))

    for layer in ("sources", "codec", "plans", "spatial_join", "tiling"):
        m[f"{layer}.self_s"] = total(layer)
    codec = named.get("codec", [])
    py = _nodes(codec, "MapInArrow")
    m["codec.python_s"] = sum(n["metrics"].get(PY_RUN, 0) for n in py)
    m["codec.python_boot_s"] = sum(n["metrics"].get(PY_BOOT, 0) for n in py)
    m["codec.features"] = sum(n["metrics"].get(ROWS, 0) for n in py)
    m["codec.python_nodes"] = len(py)
    facts = {"codec.path": ("arrow" if py else "jvm") if codec else None}

    plans = named.get("plans", [])
    if plans:
        a = plans[-1]["attrs"]
        m["plans.cover_rows_est"] = a.get("cover_rows_est", 0)
        facts["plans.decision"] = a.get("decision")
        facts["plans.reason"] = a.get("reason")

    joins = named.get("spatial_join", [])
    if joins:
        a = joins[-1]["attrs"]
        m["spatial_join.rows_in"] = a.get("rows_in") or 0
        m["spatial_join.rows_out"] = a.get("rows_out") or a.get("rows") or 0
        if m["spatial_join.rows_in"]:
            m["spatial_join.out_per_in"] = m["spatial_join.rows_out"] / m["spatial_join.rows_in"]
        bx = _nodes(joins, "BroadcastExchange")
        m["spatial_join.broadcast_build_s"] = sum(
            n["metrics"].get(k, 0) for n in bx for k in BCAST_TIMES)
        m["spatial_join.broadcast_bytes"] = sum(n["metrics"].get(BCAST_BYTES, 0) for n in bx)

    tiles = named.get("tiling", [])
    if tiles:
        a = tiles[-1]["attrs"]
        m["tiling.rows_out"] = a.get("rows_out") or a.get("rows") or 0
        m["tiling.files_written"] = a.get("files", 0)
        m["tiling.bytes_written"] = a.get("bytes", 0)

    m["lineage.commit_s"] = total("lineage")
    m["lineage.partitions"] = sum(s["attrs"].get("partitions") or 0
                                  for s in named.get("lineage", []))
    for s in spans:
        stage = s["attrs"].get("job_stage")
        if stage and f"jobs.stage_s.{stage}" in m:
            m[f"jobs.stage_s.{stage}"] += s["end"] - s["start"]

    m["geobuf_file.write_indexed_s"] = total("geobuf_file.write_indexed")
    m["geobuf_file.split_s"] = total("geobuf_file.split")
    seeks = named.get("geobuf_file.lookup_seek", [])
    if seeks:
        m["geobuf_file.lookup_seek_s"] = total("geobuf_file.lookup_seek") / len(seeks)
        read = sum(s["attrs"].get("bytes_read", 0) for s in seeks)
        m["geobuf_file.bytes_read_per_lookup"] = read / len(seeks)
        key_bytes = sum(s["attrs"].get("key_bytes", 0) for s in seeks)
        m["geobuf_file.read_amplification"] = read / key_bytes if key_bytes else 0.0

    # Spark task counters of the layer calls (the pass's own output checks,
    # which run under the root span, are left out)
    layer_spans = [s for s in spans if s["name"] != "pass"]
    stages = [st for s in layer_spans for st in s["stages"]]
    for k in ("cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = sum(st[k] for st in stages)
    m["spark.peak_exec_mem_bytes"] = max((st["peak_exec_mem_bytes"] for st in stages), default=0)
    wall = sum(s["end"] - s["start"] for s in spans if s.get("parent") == "pass")
    if wall > 0:
        m["spark.slot_idle_frac"] = 1 - sum(st["run_s"] for st in stages) / (wall * cores)
    return m, facts
