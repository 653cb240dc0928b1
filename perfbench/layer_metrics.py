"""Per-layer metrics of the traced run, derived from its spans and counters.

Each value is the median over the traced builds of that build's total.
``<layer>.exec_s`` is the self time of all the layer's spans (its
construction and its persisted execution); ``pipeline.construct_s`` and
``asof.construct_s`` are the self time of construction spans alone.
Self time is a span's duration minus the time its child spans cover, so a
nested layer's time is charged to that layer only.
"""

from __future__ import annotations

import statistics

LAYERS = [
    "session", "pipeline", "scenes", "sampling", "tiler", "multimodal",
    "materialize", "grids", "asof", "tables", "binning", "corpus", "dedup",
    "persist",
]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def names_and_units() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run reports, with its unit."""
    out = [("session.start_s", "s"), ("session.jvm_peak_rss_mb", "MiB"),
           ("pipeline.construct_s", "s"),
           ("pipeline.construct_jobs", "count"), ("asof.construct_s", "s"),
           ("tables.scan_s", "s")]
    out += [(f"{layer}.exec_s", "s") for layer in LAYERS
            if layer not in ("session", "pipeline", "tables")]
    out += [
        ("scenes.rows_out", "count"), ("sampling.rows_out", "count"),
        ("tiler.rows_out", "count"), ("tiler.hit_ratio", "ratio"),
        ("multimodal.images", "count"), ("multimodal.png_bytes", "B"),
        ("materialize.bytes_written", "B"), ("materialize.files_written", "count"),
        ("materialize.bytes_per_item", "B/item"),
        ("grids.cells_out", "count"), ("grids.fill_ratio", "ratio"),
        ("asof.match_ratio", "ratio"), ("asof.rows_per_bucket", "count"),
        ("tables.rows", "count"), ("binning.bins_out", "count"),
        ("corpus.pass_ratio", "ratio"), ("dedup.pairs", "count"),
        ("dedup.survivor_ratio", "ratio"),
    ]
    # session start runs before any span, so it has no jobs of its own
    for layer in LAYERS[1:]:
        out += [(f"{layer}.jobs", "count"), (f"{layer}.tasks", "count"),
                (f"{layer}.failed_tasks", "count")]
    out += [("trace.build_s", "s"), ("trace.overhead_s", "s")]
    return out


def per_layer(spans, per_build: list[dict], runs: list[tuple[float, int]], ref_s: float,
              rss_mb: float) -> dict:
    """``spans``: every span of the run; ``per_build``: each traced build's
    counters; ``runs``: (wall seconds, items) of each traced build that
    passed its check; ``ref_s``: the untraced median build time;
    ``rss_mb``: the driver JVM's peak RSS over the run."""
    builds = sorted({s.build_id for s in spans if s.build_id is not None})
    session_s = sum(s.self_s for s in spans if s.layer == "session")

    def per_build_sum(pred, attr):
        return [sum(getattr(s, attr) for s in spans if s.build_id == b and pred(s))
                for b in builds]

    v: dict[str, float] = {"session.start_s": session_s, "session.jvm_peak_rss_mb": rss_mb}
    v["pipeline.construct_s"] = _med(per_build_sum(lambda s: s.layer == "pipeline", "self_s"))
    v["pipeline.construct_jobs"] = _med(per_build_sum(lambda s: s.layer == "pipeline", "jobs"))
    v["asof.construct_s"] = _med(per_build_sum(lambda s: s.name == "asof.construct", "self_s"))
    for layer in LAYERS[1:]:
        mine = lambda s, layer=layer: s.layer == layer  # noqa: E731
        if layer not in ("pipeline",):
            key = "tables.scan_s" if layer == "tables" else f"{layer}.exec_s"
            v[key] = _med(per_build_sum(mine, "self_s"))
        for k in ("jobs", "tasks", "failed_tasks"):
            v[f"{layer}.{k}"] = _med(per_build_sum(mine, k))

    def c(key):
        return _med(b.get(key, 0.0) for b in per_build)

    items = _med(n for _, n in runs)
    v.update({
        "scenes.rows_out": c("scenes.rows"),
        "sampling.rows_out": c("sampling.rows"),
        "tiler.rows_out": c("tiler.rows"),
        "tiler.hit_ratio": _ratio(c("tiler.rows"), c("tiler.target_px")),
        "multimodal.images": c("multimodal.images"),
        "multimodal.png_bytes": c("multimodal.png_bytes"),
        "materialize.bytes_written": c("materialize.bytes_written"),
        "materialize.files_written": c("materialize.files_written"),
        "materialize.bytes_per_item": _ratio(c("materialize.bytes_written"), items),
        "grids.cells_out": c("grids.rows"),
        "grids.fill_ratio": _ratio(c("grids.rows"), c("grids.target_cells")),
        "asof.match_ratio": _ratio(c("asof.rows"), c("asof.probe_rows")),
        "asof.rows_per_bucket": _ratio(c("asof.right_rows"), c("asof.buckets")),
        "tables.rows": c("tables.rows"),
        "binning.bins_out": c("binning.binned_statistic_2d.rows"),
        "corpus.pass_ratio": _ratio(c("corpus.passed"), c("corpus.gated")),
        "dedup.pairs": c("dedup.minhash_dedup.rows"),
        "dedup.survivor_ratio": _ratio(c("dedup.canonical_survivors.rows"), c("dedup.candidates")),
    })
    traced_s = _med(dt for dt, _ in runs)
    v["trace.build_s"] = traced_s
    v["trace.overhead_s"] = traced_s - ref_s
    units = dict(names_and_units())
    return {k: {"value": v[k], "unit": units[k]} for k in units}
