"""Span tracing for the traced benchmark run.

Spark is lazy: timing a layer's call alone only measures plan construction.
So the traced run does two things around each wrapped layer function:

* a ``<layer>.construct`` span around the call itself, which also catches
  any job the call launches eagerly;
* a ``<layer>.exec`` span that persists and counts the returned DataFrame.
  Layers run in dependency order, so downstream layers read their inputs
  from cache and each layer gets its own execution span.

Every span runs its jobs under its own Spark job group, so job and task
counts come from ``statusTracker()``. Spans are kept in memory and written
out once, when the run ends.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    build_id: int | None = None
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    self_s: float = 0.0
    _group: str = ""

    def as_dict(self) -> dict:
        d = {k: v for k, v in self.__dict__.items() if not k.startswith("_")}
        d["duration_s"] = self.end - self.start
        return d


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.build_id: int | None = None

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span._group, span.name)

    def inside(self, layer: str) -> bool:
        return any(s.layer == layer for s in self._stack)

    @contextmanager
    def span(self, name: str, layer: str):
        sp = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            start=time.perf_counter(),
            parent=self._stack[-1].id if self._stack else None,
            build_id=self.build_id,
        )
        sp._group = f"perfbench-span-{os.getpid()}-{sp.id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def resolve(self) -> None:
        """Fill self times and job/task counts of every closed span. Job
        events reach the status store asynchronously, so the listener bus
        is drained first."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        except Exception:  # noqa: BLE001 - private API; a short wait is the fallback
            time.sleep(1.0)
        tracker = self.sc.statusTracker()
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] = child_time.get(sp.parent, 0.0) + (sp.end - sp.start)
        for sp in self.spans:
            sp.self_s = (sp.end - sp.start) - child_time.get(sp.id, 0.0)
            if not sp._group:
                continue
            jobs = tracker.getJobIdsForGroup(sp._group)
            sp.jobs = len(jobs)
            tasks = failed = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            sp.tasks, sp.failed_tasks = tasks, failed
            sp._group = ""  # resolved once; the tracker may evict it later


# ---------------------------------------------------------------- layers

# (layer, module, function) wrapped in the traced run. Only public entry
# points; a call into the same layer from inside one of them is not
# re-wrapped, so each layer persists only what it hands to another layer.
LAYER_FUNCTIONS = [
    ("tables", "convml_data_spark.tables", "load_table"),
    ("scenes", "convml_data_spark.operators.scenes", "multi_input_scene_table"),
    ("sampling", "convml_data_spark.operators.sampling", "proportional_split"),
    ("sampling", "convml_data_spark.operators.sampling", "pick_scene_pairs"),
    ("sampling", "convml_data_spark.operators.sampling", "triplet_tile_locations"),
    ("tiler", "convml_data_spark.operators.tiler", "tile_regrid_nearest"),
    ("multimodal", "convml_data_spark.pipeline", "tile_images"),
    ("multimodal", "convml_data_spark.operators.multimodal", "encode_png"),
    ("materialize", "convml_data_spark.pipeline", "materialize"),
    ("grids", "convml_data_spark.operators.grids", "nearest_regrid"),
    ("grids", "convml_data_spark.operators.grids", "bilinear_regrid"),
    ("asof", "convml_data_spark.operators.asof", "asof_join"),
    ("binning", "convml_data_spark.operators.binning", "binned_statistic_2d"),
    ("binning", "convml_data_spark.operators.binning", "ecdf"),
    ("corpus", "convml_data_spark.operators.corpus", "c4_line_filters"),
    ("corpus", "convml_data_spark.operators.corpus", "gopher_quality"),
    ("corpus", "convml_data_spark.operators.corpus", "bloom_decontaminate"),
    ("corpus", "convml_data_spark.operators.corpus", "mixture_temperature_rates"),
    ("corpus", "convml_data_spark.operators.corpus", "pack_token_chunks"),
    ("dedup", "convml_data_spark.operators.dedup", "dedup_url"),
    ("dedup", "convml_data_spark.operators.dedup", "minhash_dedup"),
    ("dedup", "convml_data_spark.operators.dedup", "canonical_survivors"),
    ("persist", "convml_data_spark.operators.persist", "materialize_for_reuse"),
    ("pipeline", "convml_data_spark.pipeline", "build_tile_data"),
    ("pipeline", "convml_data_spark.pipeline", "build_regridded_scenes"),
    ("pipeline", "convml_data_spark.pipeline", "build_curation_pipeline"),
]

# layers whose call is the whole job: construction spans only
CONSTRUCT_ONLY = {"pipeline"}
# pass-ratio columns the corpus gates emit
PASS_COLUMNS = ("passed", "pass_gopher")


def _arg(args, kwargs, name: str, pos: int):
    return kwargs[name] if name in kwargs else args[pos]


class LayerWrapper:
    """Installs tracing wrappers over :data:`LAYER_FUNCTIONS` in every
    loaded module of the engine that holds a reference to them, and puts
    the originals back on :meth:`uninstall`."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.counters: dict[str, float] = {}
        self._patched: list[tuple[object, str, object]] = []

    def count(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + float(value)

    def install(self) -> None:
        import importlib

        for _layer, modname, _fname in LAYER_FUNCTIONS:
            importlib.import_module(modname)
        engine = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == "convml_data_spark" or n.startswith("convml_data_spark."))
        ]
        for layer, modname, fname in LAYER_FUNCTIONS:
            original = getattr(sys.modules[modname], fname)
            wrapped = self._wrap(layer, fname, original)
            for mod in engine:
                if getattr(mod, fname, None) is original:
                    self._patched.append((mod, fname, original))
                    setattr(mod, fname, wrapped)

    def uninstall(self) -> None:
        for mod, fname, original in reversed(self._patched):
            setattr(mod, fname, original)
        self._patched.clear()

    def _probe(self, fn):
        """Run a harness-only count in its own span, so the time it takes
        is subtracted from its parent's self time and charged to no layer."""
        with self.tracer.span("probe", "probe"):
            return fn()

    def _wrap(self, layer: str, fname: str, original):
        tracer = self.tracer

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if tracer.inside(layer):
                return original(*args, **kwargs)
            if layer == "materialize":
                with tracer.span("materialize.exec", layer):
                    wrote = original(*args, **kwargs)
                self._count_written(_arg(args, kwargs, "path", 1))
                return wrote
            with tracer.span(f"{layer}.construct", layer):
                out = original(*args, **kwargs)
            if layer in CONSTRUCT_ONLY or not isinstance(out, DataFrame):
                return out
            self._before_exec(layer, fname, args, kwargs)
            return self._execute(layer, fname, out)

        return wrapper

    def _before_exec(self, layer: str, fname: str, args, kwargs) -> None:
        """Denominators of the per-layer ratios, measured on the inputs."""
        if fname == "tile_regrid_nearest":
            tiles = _arg(args, kwargs, "tiles", 0)
            n_px = int(_arg(args, kwargs, "tile_N", 3)) ** 2
            self.count("tiler.target_px", self._probe(tiles.count) * n_px)
        elif fname == "nearest_regrid":
            pts = _arg(args, kwargs, "points", 0)
            groups = list(kwargs.get("group_cols") or [])
            n = self._probe(pts.select(*groups).distinct().count) if groups else 1
            nx = int(_arg(args, kwargs, "nx", 3))
            ny = int(_arg(args, kwargs, "ny", 6))
            self.count("grids.target_cells", n * nx * ny)
        elif fname == "bilinear_regrid":
            self.count("grids.target_cells", self._probe(_arg(args, kwargs, "targets", 1).count))
        elif fname == "asof_join":
            left = _arg(args, kwargs, "left", 0)
            right = _arg(args, kwargs, "right", 1)
            r_on = _arg(args, kwargs, "right_on", 3)
            tol = kwargs.get("tolerance_seconds")
            self.count("asof.probe_rows", self._probe(left.count))
            if tol:
                row = self._probe(
                    lambda: right.agg(
                        F.count(F.lit(1)).alias("n"),
                        (F.max(F.unix_micros(r_on)) - F.min(F.unix_micros(r_on))).alias("span"),
                    ).first()
                )
                buckets = (row["span"] or 0) / (float(tol) * 1e6) + 1.0
                self.count("asof.right_rows", row["n"])
                self.count("asof.buckets", buckets)
        elif fname == "canonical_survivors":
            self.count("dedup.candidates", self._probe(_arg(args, kwargs, "ids", 0).count))

    def _execute(self, layer: str, fname: str, df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n")]
        if layer == "multimodal" and "png" in df.columns:
            aggs.append(F.sum(F.length("png")).alias("png_bytes"))
        pass_col = next((c for c in PASS_COLUMNS if c in df.columns), None)
        if layer == "corpus" and pass_col:
            aggs.append(F.sum(F.col(pass_col).cast("long")).alias("passed"))
        with self.tracer.span(f"{layer}.exec", layer):
            df = df.persist()
            row = df.agg(*aggs).first().asDict()
        n = row["n"]
        self.count(f"{layer}.{fname}.rows", n)
        self.count(f"{layer}.rows", n)
        if "png_bytes" in row:
            self.count("multimodal.png_bytes", row["png_bytes"] or 0)
            self.count("multimodal.images", n)
        if "passed" in row:
            self.count("corpus.passed", row["passed"] or 0)
            self.count("corpus.gated", n)
        return df

    def _count_written(self, path: str) -> None:
        nbytes = files = 0
        for root, _dirs, names in os.walk(path):
            for nm in names:
                if nm.startswith(("_", ".")):
                    continue
                nbytes += os.path.getsize(os.path.join(root, nm))
                files += 1
        self.count("materialize.bytes_written", nbytes)
        self.count("materialize.files_written", files)
