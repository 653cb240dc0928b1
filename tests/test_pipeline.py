"""Pipeline shell (spec → scene table, incremental sinks), W6 sequential
scan, X2 dotted-name UDAF, G8 encode."""

from __future__ import annotations

import os
import struct
import zlib

from pyspark.sql import functions as F

from convml_data_spark import pipeline
from convml_data_spark.operators import inference, multimodal, windows

SPEC = {
    "source": "synth",
    "inputs": ["ch1", "ch2"],
    "t_start": "2024-01-01T00:00:00",
    "t_end": "2024-01-03T00:00:00",
    "step": "1 hour",
    "offsets": {"ch2": "0 minutes"},
    "exclude_times": {"ch1": ["2024-01-01T05:00:00"]},
    "time_intervals": [["2024-01-01T00:00:00", "2024-01-02T00:00:00"]],
    "component_filters": {"hour": [0, 5, 6, 12, 18]},
}


def test_spec_compiles_to_scene_table(spark):
    spec = pipeline.SceneSpec.from_dict(SPEC)
    scenes = pipeline.build_scene_table(spark, spec)
    rows = scenes.select("scene_id", "t", "ch1", "ch2").collect()
    # day 1 hours {0,5,6,12,18} minus excluded hour 5 (incomplete scene)
    # = 4 complete scenes; interval filter is inclusive so day-2 hour 0 stays
    hours = sorted(r["t"].hour for r in rows if r["t"].day == 1)
    assert hours == [0, 6, 12, 18]
    assert all(r["scene_id"].startswith("synth__2024") for r in rows)
    assert all(r["ch1"] and r["ch2"] for r in rows)


def test_spec_from_yaml_file(spark, tmp_path):
    import yaml

    path = os.path.join(str(tmp_path), "meta.yaml")
    with open(path, "w") as fh:
        yaml.safe_dump(SPEC, fh)
    spec = pipeline.SceneSpec.from_yaml(path)
    assert spec.source == "synth" and spec.inputs == ["ch1", "ch2"]
    scenes = pipeline.build_scene_table(spark, spec)
    assert scenes.count() == 5  # 4 on day 1 + day-2 hour 0 (inclusive edge)


def test_materialize_is_incremental(spark, tmp_path):
    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("k"))
    path = os.path.join(str(tmp_path), "out")
    assert pipeline.materialize(df, path, partition_by=["k"]) is True
    assert pipeline.materialize(df, path, partition_by=["k"]) is False  # skip
    assert pipeline.materialize(df, path, partition_by=["k"], overwrite=True) is True
    back = spark.read.parquet(path)
    assert back.count() == 10
    # partitionBy produced k=0/1/2 directories (S10 partitioned sink)
    assert sorted(d for d in os.listdir(path) if d.startswith("k=")) == ["k=0", "k=1", "k=2"]


def test_split_by_time_partition(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01-01 03:00:00"), (2, "2024-01-01 17:00:00"), (3, "2024-01-02 00:30:00")],
        "id int, ts string",
    ).select("id", F.to_timestamp("ts").alias("t"))
    path = os.path.join(str(tmp_path), "split")
    assert pipeline.split_by_time_partition(df, path, time_col="t") is True
    parts = sorted(d for d in os.listdir(path) if d.startswith("_part="))
    assert parts == ["_part=2024-01-01", "_part=2024-01-02"]


def test_split_by_time_partition_layout_prunes_day_reads(spark, tmp_path):
    """The point of the S8 split (and the s8_partitioned_sink driver
    key's layout): a day-filtered read of the written directory must be
    a PARTITION-PRUNED scan — PartitionFilters on _part in the plan, and
    only the matching day's rows read."""
    import contextlib
    import io

    df = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i % 3} 0{i % 10}:00:00") for i in range(30)],
        "id int, ts string",
    ).select("id", F.to_timestamp("ts").alias("t"))
    path = os.path.join(str(tmp_path), "split")
    assert pipeline.split_by_time_partition(df, path, time_col="t") is True
    back = spark.read.parquet(path).where(F.col("_part") == "2024-01-02")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain()
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "_part" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert back.count() == 10


def test_cf_metadata_survives_parquet_roundtrip(spark, tmp_path):
    """SURVEY §7: CF units/long_name ride as column metadata and must
    survive a parquet round-trip (the reference ASSERTS on units)."""
    from convml_data_spark.functions.userfuncs import UserFunctionRegistry

    reg = UserFunctionRegistry()

    @reg.register("bt_norm", ["bt"], units="1", long_name="normalized brightness", bounded_01=True)
    def _f(bt):
        return (bt - 250.0) / 50.0

    df = spark.createDataFrame([(1, 260.0), (2, 280.0)], "id long, bt double")
    out = reg.apply(df, "bt_norm")
    path = os.path.join(str(tmp_path), "meta")
    out.write.parquet(path)
    back = spark.read.parquet(path)
    md = back.schema["bt_norm"].metadata
    assert md["units"] == "1" and md["long_name"] == "normalized brightness"


def test_materialize_skips_complete_uri_sink(spark, tmp_path):
    """The _SUCCESS skip holds on a scheme-qualified path, not only on a
    bare local one: the marker is looked up through Hadoop's FileSystem,
    so a second call on the same ``file://`` sink writes nothing."""
    df = spark.range(5)
    path = "file://" + os.path.join(str(tmp_path), "out")
    assert pipeline.materialize(df, path) is True
    assert pipeline.materialize(df, path) is False


def test_materialize_json_format(spark, tmp_path):
    """S11: the DBTarget-analog small-relation JSON sink."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    path = os.path.join(str(tmp_path), "db")
    assert pipeline.materialize(df, path, fmt="json") is True
    back = spark.read.json(path)
    assert sorted((r["id"], r["name"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_sequential_scan_carries_state(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 5.0), ("a", 3, 7.0), ("b", 1, 2.0), ("b", 2, 4.0)],
        "g string, step int, v double",
    )

    def running_max(state, row):
        state = max(state, row["v"])
        return state, {"g": row["g"], "step": row["step"], "running_max": state}

    out = windows.sequential_scan(
        df.repartition(5), ["g"], ["step"], running_max, float("-inf"),
        "g string, step int, running_max double",
    )
    got = {(r["g"], r["step"]): r["running_max"] for r in out.collect()}
    assert got == {("a", 1): 10.0, ("a", 2): 10.0, ("a", 3): 10.0, ("b", 1): 2.0, ("b", 2): 4.0}


def test_grouped_reduce_by_dotted_name(spark):
    df = spark.createDataFrame(
        [("x", 1.0), ("x", 3.0), ("y", 10.0)], "g string, v double"
    )
    out = inference.grouped_reduce_by_name(
        df, ["g"], "v", "numpy.mean", kwargs={"not_a_param": 1}
    )
    got = {r["g"]: r["value"] for r in out.collect()}
    assert got == {"x": 2.0, "y": 10.0}


def decode_gray8_png(data: bytes) -> tuple[int, int, bytes]:
    """Stdlib decoder for the engine's PNGs: checks the signature, the IHDR
    fields (8-bit grayscale), every chunk CRC and every scanline's filter
    byte; returns ``(width, height, row-major pixels)``."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    chunks, off = {}, 8
    while off < len(data):
        n, tag = struct.unpack(">I4s", data[off : off + 8])
        body, end = data[off + 8 : off + 8 + n], off + 12 + n
        assert struct.unpack(">I", data[end - 4 : end])[0] == zlib.crc32(tag + body), tag
        chunks.setdefault(tag, []).append(body)
        off = end
    assert list(chunks) == [b"IHDR", b"IDAT", b"IEND"] and chunks[b"IEND"] == [b""]
    w, h, *fields = struct.unpack(">IIBBBBB", chunks[b"IHDR"][0])
    assert fields == [8, 0, 0, 0, 0]
    raw = zlib.decompress(b"".join(chunks[b"IDAT"]))
    assert len(raw) == h * (w + 1) and raw[:: w + 1] == bytes(h)  # filter 0
    return w, h, b"".join(raw[y * (w + 1) + 1 : (y + 1) * (w + 1)] for y in range(h))


def test_encode_png_roundtrip(spark):
    docs = spark.range(3).select(F.col("id").alias("doc_id"), F.lit("x").alias("tag"))
    enc = multimodal.encode_png(multimodal.attach_fake_payload(docs, width=8, height=6))
    # every column but payload/meta passes through beside the png
    assert enc.columns == ["doc_id", "tag", "png"]
    rows = {r["doc_id"]: r for r in enc.collect()}
    assert sorted(rows) == [0, 1, 2]
    for i, r in rows.items():
        assert r["tag"] == "x"
        px = multimodal.expected_fake_pixels(i, 8, 6).astype("uint8").tobytes()
        assert decode_gray8_png(bytes(r["png"])) == (8, 6, px)


# ------------------------------------------------------- spec compositions


TILE_SPEC = {
    "source": "tst",
    "inputs": ["vis"],
    "t_start": "2024-01-01T00:00:00",
    "t_end": "2024-01-01T06:00:00",
    "step": "1 hour",
    "sampling": {
        "resolution": 24.0,
        "triplets": {"N_triplets": {"train": 4}, "tile_N": 4},
    },
    "domain": {"l_zonal": 2000.0, "l_meridional": 2000.0},
}


def test_build_tile_data_shape_check(spark):
    """Full coverage -> every tile is tile_N x tile_N (shape_ok); a raster
    that stops short of the domain -> shape_ok False for clipped tiles
    (the relational form of the reference's SceneTilesData shape raise,
    pipeline/tiles.py:258-265)."""
    spec = pipeline.DatasetSpec.from_dict(TILE_SPEC)
    d = pipeline.build_tile_data(spark, spec, src_dx=25.0, src_nx=80)
    rows = d["tile_data"].collect()
    assert len(rows) == 12  # 4 triplets x 3 tile types
    assert all(r["shape_ok"] and r["n_px"] == 16 for r in rows)
    # clipped raster: only the first 40 columns of the 80 exist
    short = pipeline.build_tile_data(spark, spec, src_dx=25.0, src_nx=40)
    short_rows = short["tile_data"].collect()
    assert any(not r["shape_ok"] for r in short_rows)
    assert all(r["n_px"] == 16 or not r["shape_ok"] for r in short_rows)


def test_tile_vectors_row_major_order(spark):
    """The per-tile vector is sorted (q, p) row-major regardless of the
    pixel rows' arrival order."""
    px = spark.createDataFrame(
        [(1, p, q, float(10 * q + p)) for q in range(2) for p in range(2)][::-1],
        "k int, p int, q int, value double",
    )
    out = pipeline.tile_vectors(px, ["k"], norm=1.0).collect()
    assert out[0]["tile_vec"] == [0.0, 1.0, 10.0, 11.0]


def test_build_regridded_scenes_per_scene_groups(spark):
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "rgt",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-01T04:00:00",
            "step": "1 hour",
            "sampling": {"resolution": 10.0},
            "domain": {"l_zonal": 100.0, "l_meridional": 100.0},
        }
    )
    out = pipeline.build_regridded_scenes(spark, spec, src_dx=7.0, src_nx=12)
    rows = out.collect()
    scenes = {r["scene_id"] for r in rows}
    assert len(scenes) == 4
    # every scene regrids onto the same covered cell set (source extent
    # 77 -> cells 0..8 on each axis), values differ per scene epoch-hour
    per_scene = {}
    for r in rows:
        per_scene.setdefault(r["scene_id"], set()).add((r["ix"], r["iy"]))
    cells = next(iter(per_scene.values()))
    assert all(c == cells for c in per_scene.values())
    assert cells == {(i, j) for i in range(9) for j in range(9)}


def test_build_rect_tile_data_index_slices(spark):
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "rct",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-01T03:00:00",
            "step": "1 hour",
            "tiles_kind": "rect-slidingwindow",
            "sampling": {"resolution": 20.0, "rect-slidingwindow": {"tile_N": 4}},
            "domain": {"l_zonal": 320.0, "l_meridional": 320.0},
        }
    )
    d = pipeline.build_tile_data(spark, spec)
    rows = d["tile_data"].collect()
    # 3 scenes x 16 tiles, every slice exactly 4x4
    assert len(rows) == 48
    assert all(r["n_px"] == 16 for r in rows)


def test_build_analytics_pipeline_invariants(spark):
    import numpy as np

    spec = pipeline.DatasetSpec.from_dict(TILE_SPEC)
    stats, model = pipeline.build_analytics_pipeline(
        spark, spec, src_dx=25.0, src_nx=80
    )
    rows = stats.collect()
    # every (bin, dim) group accounted for: n sums to n_tiles * out_dim
    assert sum(r["n"] for r in rows) == 12 * 4
    pc = model.pc.toArray()
    assert np.allclose(pc.T @ pc, np.eye(pc.shape[1]), atol=1e-8)
    assert all(abs(r["mean_emb"]) <= 1.0 + 1e-9 for r in rows)


def test_parse_aux_product_sentinel_and_declared():
    src, prod, meta = pipeline.parse_aux_product(
        "___extra___era5___alt_p__mean", {}
    )
    assert (src, prod) == ("era5", "alt_p__mean")
    assert meta["scene_mapping_strategy"] == "single_scene_per_aux_time"
    src, prod, meta = pipeline.parse_aux_product(
        "wind", {"wind": {"source": "era5", "product": "umag"}}
    )
    assert (src, prod) == ("era5", "umag")
    try:
        pipeline.parse_aux_product("undeclared", {})
        raise AssertionError("should have raised")
    except ValueError as e:
        assert "aux_products" in str(e)


def test_attach_aux_product_compiles_derived(spark):
    """A declared era5 product naming a derived variable gets the §2.11
    DAG compiled before matching; the multi-level profile rides back on
    the time key."""
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "axx",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-01T04:00:00",
            "step": "1 hour",
            "sampling": {"resolution": 24.0, "triplets": {"N_triplets": {"train": 2}}},
            "domain": {"l_zonal": 2000.0, "l_meridional": 2000.0},
            "aux_products": {
                "wind": {
                    "source": "era5",
                    "product": "umag",
                    "column_keys": ["t_aux"],
                    "n_levels": 3,
                    "scene_mapping_strategy": "all_scenes_within_dt_aux",
                }
            },
        }
    )
    profile = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", lv, 3.0, 4.0)
            for lv in range(3)
        ]
        + [("2024-01-01 02:00:00", lv, 6.0, 8.0) for lv in range(3)],
        "t_aux string, level int, u double, v double",
    ).withColumn("t_aux", F.col("t_aux").cast("timestamp"))
    scenes = pipeline.build_scene_table(spark, spec.scene)
    out = pipeline.attach_aux_product(spark, spec, scenes, "wind", profile)
    rows = out.collect()
    # 4 scenes x 3 levels, umag = hypotenuse of the matched time's (u, v)
    assert len(rows) == 12
    got = {(r["scene_id"][-4:], r["level"]): r["umag"] for r in rows}
    assert got[("0000", 0)] == 5.0 and got[("0300", 2)] == 10.0


def test_attach_aux_product_sentinel_name(spark):
    """A sentinel-named aux (___extra___<source>___<product>) needs no
    aux_products declaration and defaults to the reference's
    single_scene_per_aux_time strategy (one matched scene per aux time)."""
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "sxx",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-01T04:00:00",
            "step": "1 hour",
            "sampling": {"resolution": 24.0, "triplets": {"N_triplets": {"train": 2}}},
            "domain": {"l_zonal": 2000.0, "l_meridional": 2000.0},
        }
    )
    aux = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0), ("2024-01-01 02:00:00", 2.0)],
        "t_aux string, aux_v double",
    ).withColumn("t_aux", F.col("t_aux").cast("timestamp"))
    scenes = pipeline.build_scene_table(spark, spec.scene)
    out = pipeline.attach_aux_product(
        spark, spec, scenes, "___extra___era5___sst", aux
    )
    rows = out.collect()
    # single_scene_per_aux_time: one row per AUX time, each with its scene
    assert len(rows) == 2
    assert {r["aux_v"] for r in rows} == {1.0, 2.0}
    assert all(r["scene_scene_id"].startswith("sxx__") for r in rows)


def test_tile_images_byte_exact(spark):
    """tile_images packs the ordered tile raster JVM-side and encodes PNG:
    each PNG decodes to exactly floor(v*2.55 + 0.5) uint8 pixels in
    (q, p) order."""
    import math

    spec = pipeline.DatasetSpec.from_dict(TILE_SPEC)
    d = pipeline.build_tile_data(spark, spec, src_dx=25.0, src_nx=80)
    key = ["triplet_id", "collection", "tile_type", "scene_id"]
    px = {
        (r["triplet_id"], r["tile_type"], r["q"], r["p"]): r["value"]
        for r in d["tile_pixels"].collect()
    }
    imgs = d["tile_images"].collect()
    assert len(imgs) == 12
    for r in imgs:
        expected = bytes(
            int(math.floor(px[(r["triplet_id"], r["tile_type"], q, p)] * 2.55 + 0.5))
            for q in range(4)
            for p in range(4)
        )
        assert decode_gray8_png(bytes(r["png"])) == (4, 4, expected)


def test_tile_regrid_nearest_matches_argmin(spark):
    """The G3 closed-form nearest (round of the fractional source index)
    must agree with brute-force argmin over the WHOLE raster for every
    tile target point — the claim that lets the tile path skip per-cell
    argmin search entirely on regular sources."""
    import numpy as np

    from convml_data_spark.operators import tiler

    spec = pipeline.DatasetSpec.from_dict(TILE_SPEC)
    d = pipeline.build_tile_data(spark, spec, src_dx=25.0, src_nx=80)
    rows = d["tile_pixels"].select(
        "triplet_id", "tile_type", "x_c", "y_c", "p", "q", "si", "sj"
    ).collect()
    assert len(rows) == 12 * 16
    src = np.arange(80) * 25.0
    for r in rows:
        half = 24.0 * 4 / 2.0
        xt = r["x_c"] - half + (r["p"] + 0.5) * 24.0
        yt = r["y_c"] - half + (r["q"] + 0.5) * 24.0
        assert r["si"] == int(np.abs(src - xt).argmin())
        assert r["sj"] == int(np.abs(src - yt).argmin())


def test_attach_aux_product_undeclared_name_fails_fast(spark):
    """Once a spec declares ANY aux_products, an undeclared non-sentinel
    aux name is a typo and must raise (the reference's 'Please define'
    contract), not silently take the legacy pass-through."""
    import pytest as _pytest

    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "tt",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-01T02:00:00",
            "step": "1 hour",
            "sampling": {"resolution": 24.0, "triplets": {"N_triplets": {"train": 2}}},
            "domain": {"l_zonal": 2000.0, "l_meridional": 2000.0},
            "aux_products": {"wind": {"source": "era5", "product": "sst"}},
        }
    )
    aux = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0)], "t_aux string, v double"
    ).withColumn("t_aux", F.col("t_aux").cast("timestamp"))
    scenes = pipeline.build_scene_table(spark, spec.scene)
    with _pytest.raises(ValueError, match="aux_products"):
        pipeline.attach_aux_product(spark, spec, scenes, "typo_name", aux)


def test_analytics_pipeline_excludes_partial_tiles(spark):
    """A source raster that stops short of the domain clips some tiles;
    the analytics chain must EXCLUDE those (the reference raises on them)
    rather than crash the Arrow batch or skew the aux mean."""
    spec = pipeline.DatasetSpec.from_dict(TILE_SPEC)
    stats, _model = pipeline.build_analytics_pipeline(
        spark, spec, src_dx=25.0, src_nx=40
    )
    rows = stats.collect()
    d = pipeline.build_tile_data(spark, spec, src_dx=25.0, src_nx=40)
    n_full = sum(1 for r in d["tile_data"].collect() if r["shape_ok"])
    assert 0 < n_full < 12
    assert sum(r["n"] for r in rows) == n_full * 4


def test_build_rect_tile_data_non_square_domain(spark):
    """A non-square rect domain sizes the synthetic raster per AXIS —
    every tile slices a full tile_N x tile_N window."""
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "nsq",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-01T02:00:00",
            "step": "1 hour",
            "tiles_kind": "rect-slidingwindow",
            "sampling": {"resolution": 20.0, "rect-slidingwindow": {"tile_N": 4}},
            "domain": {"l_zonal": 320.0, "l_meridional": 640.0},
        }
    )
    d = pipeline.build_tile_data(spark, spec)
    rows = d["tile_data"].collect()
    # 2 scenes x (4 x 8) tiles, all complete
    assert len(rows) == 2 * 4 * 8
    assert all(r["n_px"] == 16 and r["shape_ok"] for r in rows)


def test_compact_to_target_files(spark, tmp_path):
    """Compaction collapses a file-per-task crumb layout into ~target-size
    files with identical data, atomically (no mixed state left behind)."""
    path = str(tmp_path / "crumbs")
    df = spark.range(10000).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("v")
    )
    df.repartition(32).write.parquet(path)
    import os as _os

    files_before = [f for f in _os.listdir(path) if f.endswith(".parquet")]
    assert len(files_before) >= 16
    n = pipeline.compact_to_target_files(spark, path, target_mb=64.0)
    assert n == 1  # tiny table -> one ~64 MB-target file
    files_after = [f for f in _os.listdir(path) if f.endswith(".parquet")]
    assert len(files_after) == 1
    assert not _os.path.exists(path + ".__compact__")
    assert not _os.path.exists(path + ".__old__")
    got = spark.read.parquet(path)
    assert got.count() == 10000
    assert got.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]


def test_materialize_orc_format(spark, tmp_path):
    """S10 sinks cover ORC natively (fmt pass-through): write, _SUCCESS
    incrementality, read-back parity."""
    path = str(tmp_path / "orc_out")
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    assert pipeline.materialize(df, path, fmt="orc") is True
    assert pipeline.materialize(df, path, fmt="orc") is False  # incremental
    back = spark.read.orc(path)
    assert back.count() == 100 and back.agg(F.sum("v")).collect()[0][0] == 9900


def test_compact_partitioned_preserves_layout(spark, tmp_path):
    """Leaf-by-leaf compaction of a Hive-partitioned table: partition
    directories (and therefore pruning) survive, crumb files collapse,
    data is identical; the root-level API refuses the same input."""
    import os as _os

    import pytest as _pytest

    path = str(tmp_path / "ptab")
    df = spark.range(4000).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("p"), (F.col("id") * 2).alias("v")
    )
    df.repartition(16).write.partitionBy("p").parquet(path)
    with _pytest.raises(ValueError, match="partitioned"):
        pipeline.compact_to_target_files(spark, path)
    res = pipeline.compact_partitioned(spark, path, target_mb=64.0)
    assert set(res) == {"p=0", "p=1", "p=2"}
    assert all(n == 1 for n in res.values())
    for leaf in res:
        files = [f for f in _os.listdir(_os.path.join(path, leaf)) if f.endswith(".parquet")]
        assert len(files) == 1
    back = spark.read.parquet(path)
    assert back.count() == 4000
    assert back.where(F.col("p") == 1).agg(F.sum("v")).collect()[0][0] == \
        df.where(F.col("p") == 1).agg(F.sum("v")).collect()[0][0]


def test_compact_partitioned_recovers_crashed_swap(spark, tmp_path):
    """A leaf parked at <leaf>.__old__ after a mid-swap crash (data dir
    missing) is RESTORED, not swept; stale suffix dirs whose data dir
    exists are swept; a leaf with a plain nested subdir is skipped."""
    import os as _os
    import shutil as _shutil

    path = str(tmp_path / "ptab2")
    df = spark.range(900).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("p"), (F.col("id") * 3).alias("v")
    )
    df.repartition(4).write.partitionBy("p").parquet(path)
    # simulate the crash window on p=1: data dir renamed away, old copy parked
    _os.rename(_os.path.join(path, "p=1"), _os.path.join(path, "p=1.__old__"))
    # stale leftovers next to a HEALTHY p=2
    _os.makedirs(_os.path.join(path, "p=2.__compact__"))
    _shutil.copytree(_os.path.join(path, "p=2"), _os.path.join(path, "p=2.__old__"))
    # plain nested subdir under p=0 -> the PARENT must not be flattened;
    # the nested dir compacts as its own leaf
    nested = _os.path.join(path, "p=0", "extra")
    spark.range(10).coalesce(1).write.parquet(nested)
    res = pipeline.compact_partitioned(spark, path, target_mb=64.0)
    assert "p=1" in res and "p=2" in res and "p=0" not in res
    assert _os.path.join("p=0", "extra") in res
    assert spark.read.parquet(nested).count() == 10
    assert not _os.path.exists(_os.path.join(path, "p=2.__old__"))
    assert not _os.path.exists(_os.path.join(path, "p=2.__compact__"))
    back = spark.read.parquet(path)
    assert back.where(F.col("p") == 1).count() == 300  # recovered, not lost


def test_dataset_spec_yaml_roundtrip(spark, tmp_path):
    """to_yaml -> from_yaml reproduces the SAME pipeline (the reference's
    meta.yaml reproducibility contract): identical tile tables."""
    import os as _os

    spec = pipeline.DatasetSpec.from_dict(TILE_SPEC)
    path = _os.path.join(str(tmp_path), "meta.yaml")
    spec.to_yaml(path)
    spec2 = pipeline.DatasetSpec.from_yaml(path)
    t1 = {tuple(r) for r in pipeline.build_triplet_dataset(spark, spec)["tiles"].collect()}
    t2 = {tuple(r) for r in pipeline.build_triplet_dataset(spark, spec2)["tiles"].collect()}
    assert t1 == t2 and len(t1) == 12


def test_build_tile_data_trajectories(spark):
    """Trajectory tile DATA end-to-end: lat/lon tile centers project onto
    the domain tangent plane (domain_center) and regrid like any tile —
    one complete 4x4 tile per scene."""
    spec = pipeline.DatasetSpec.from_dict(
        {
            "source": "trj",
            "inputs": ["vis"],
            "t_start": "2024-01-01T00:00:00",
            "t_end": "2024-01-01T04:00:00",
            "step": "1 hour",
            "tiles_kind": "trajectories",
            "sampling": {"resolution": 24.0, "trajectories": {"tile_N": 4}},
            "domain": {"l_zonal": 2000.0, "l_meridional": 2000.0},
        }
    )
    # trajectory points within ~300 m of the domain center (1e-3 deg ~ 111 m)
    traj = spark.createDataFrame(
        [
            (f"2024-01-01 {h:02d}:30:00", 10.0 + 0.001 * h, 50.0 + 0.002 * h)
            for h in range(4)
        ],
        "t_traj string, lat double, lon double",
    ).withColumn("t_traj", F.col("t_traj").cast("timestamp"))
    d = pipeline.build_tile_data(
        spark, spec, trajectory=traj, src_dx=25.0, src_nx=80,
        domain_center=(10.0, 50.0),
    )
    rows = d["tile_data"].collect()
    assert len(rows) == 4  # one tile per scene
    assert all(r["shape_ok"] and r["n_px"] == 16 for r in rows)


def test_tile_images_clamps_out_of_range_values(spark):
    """Values outside [0, value_max] saturate to 0/255 instead of being
    hex-truncated into wrong bytes (round-6 review finding)."""
    px = spark.createDataFrame(
        [(1, 0, 0, -50.0), (1, 1, 0, 150.0), (1, 0, 1, 100.0), (1, 1, 1, 0.0)],
        "k int, p int, q int, value double",
    )
    out = pipeline.tile_images(px, tile_N=2, key_cols=["k"], value_max=100.0).collect()
    # row-major (q, p): (-50 -> 0), (150*2.55 -> clamped 255), (255), (0)
    assert decode_gray8_png(bytes(out[0]["png"])) == (2, 2, bytes([0, 255, 255, 0]))


def test_tile_images_maps_nan_pixels_to_black(spark):
    """NaN orders above every double in Spark, so an unmasked NaN would
    survive greatest() and saturate through least() to byte 255 (white),
    silently rendering corrupt pixels as max brightness. Policy: NaN -> 0
    (black), same as a masked/absent value."""
    px = spark.createDataFrame(
        [(1, 0, 0, float("nan")), (1, 1, 0, 100.0), (1, 0, 1, 50.0), (1, 1, 1, 0.0)],
        "k int, p int, q int, value double",
    )
    out = pipeline.tile_images(px, tile_N=2, key_cols=["k"], value_max=100.0).collect()
    # row-major (q, p): NaN -> 0 (NOT 255), 100 -> 255,
    # 50 -> 127 (50 * 2.55 is 127.4999... in binary), 0 -> 0
    assert decode_gray8_png(bytes(out[0]["png"])) == (2, 2, bytes([0, 255, 127, 0]))


def test_dataset_spec_to_dict_idempotent():
    spec = pipeline.DatasetSpec.from_dict(TILE_SPEC)
    d1 = spec.to_dict()
    d2 = pipeline.DatasetSpec.from_dict(d1).to_dict()
    assert d1 == d2


_IMG_SPEC = {
    "source": "im",
    "inputs": ["vis"],
    "t_start": "2024-01-01T00:00:00",
    "t_end": "2024-01-01T02:00:00",
    "step": "1 hour",
    "sampling": {"resolution": 10.0},
    "domain": {"l_zonal": 40.0, "l_meridional": 40.0},
}


def test_scene_images_png_matches_byte_raster(spark):
    """The PNG half packs exactly the certified uint8 raster in row-major
    (iy, ix) order — every PNG decodes to the byte path's pixels."""
    spec = pipeline.DatasetSpec.from_dict(_IMG_SPEC)
    d = pipeline.build_scene_images(spark, spec, src_dx=10.0, src_nx=4)
    byts = {(r["scene_id"], r["ix"], r["iy"]): r["byte"] for r in d["bytes"].collect()}
    imgs = {r["scene_id"]: bytes(r["png"]) for r in d["images"].collect()}
    assert len(imgs) == 2
    for sid, png in imgs.items():
        expect = bytes(byts[(sid, ix, iy)] for iy in range(4) for ix in range(4))
        assert decode_gray8_png(png) == (4, 4, expect)
    # default rendering is INVERTED min-max: the per-scene max maps to 0
    # (dark) and the min to 255 (bright) — reference images.py:104-107
    for sid in imgs:
        scene = [v for (s, _, _), v in byts.items() if s == sid]
        assert min(scene) == 0 and max(scene) == 255


def test_scene_images_pads_uncovered_cells_to_full_raster(spark):
    """A source raster short of the domain leaves regrid cells EMPTY; the
    PNG must still hold exactly nx·ny pixels, with uncovered cells
    rendered black (0)."""
    spec = pipeline.DatasetSpec.from_dict(_IMG_SPEC)  # 4x4 cells at res 10
    # 3x3 source at 10.0 spacing covers only cells 0..2 on each axis
    d = pipeline.build_scene_images(spark, spec, src_dx=10.0, src_nx=3)
    per_scene = {}
    for r in d["bytes"].collect():
        per_scene.setdefault(r["scene_id"], {})[(r["ix"], r["iy"])] = r["byte"]
    assert all(len(v) == 9 for v in per_scene.values())  # covered cells only
    for r in d["images"].collect():
        covered = per_scene[r["scene_id"]]
        # full 4x4 despite 9 covered cells
        want = bytes(covered.get((ix, iy), 0) for iy in range(4) for ix in range(4))
        assert decode_gray8_png(bytes(r["png"])) == (4, 4, want)


def test_scene_images_user_function_dispatch_and_guards(spark):
    """image_function dispatch mirrors scene_images.py:6-17: a registered
    user function renders (values must sit in [0,1]); None and an
    unregistered name raise like the reference."""
    import pytest

    from convml_data_spark.functions.userfuncs import UserFunctionRegistry

    reg = UserFunctionRegistry()

    @reg.register("norm_vis", inputs=["value"], units="1",
                  long_name="normalized vis", bounded_01=True)
    def norm_vis(value):
        return value / 101.0

    spec = pipeline.DatasetSpec.from_dict({**_IMG_SPEC, "image_function": "norm_vis"})
    d = pipeline.build_scene_images(spark, spec, src_dx=10.0, src_nx=4, registry=reg)
    rows = d["bytes"].collect()
    assert len(rows) == 32
    # byte = trunc(v/101·255) with v the integer raster value
    for r in rows:
        assert 0 <= r["byte"] <= 255

    with pytest.raises(ValueError, match="no scene-image product"):
        none_spec = pipeline.DatasetSpec.from_dict({**_IMG_SPEC, "image_function": None})
        pipeline.build_scene_images(spark, none_spec, src_dx=10.0, src_nx=4)
    with pytest.raises(ValueError, match="not registered"):
        bad = pipeline.DatasetSpec.from_dict({**_IMG_SPEC, "image_function": "nope"})
        pipeline.build_scene_images(spark, bad, src_dx=10.0, src_nx=4, registry=reg)


def test_spec_round_trips_scene_filter_and_image_function():
    spec = pipeline.DatasetSpec.from_dict(
        {**_IMG_SPEC, "image_function": "norm_vis", "scene_filter": "im__2024.*"}
    )
    d1 = spec.to_dict()
    assert d1["image_function"] == "norm_vis"
    assert d1["scene_filter"] == "im__2024.*"
    assert pipeline.DatasetSpec.from_dict(d1).to_dict() == d1


def test_curation_pipeline_job_count_bounded(spark):
    """The composed curation program must stay ONE bounded-job-count
    program (the r16-verdict composition gate): every stage is lazy
    except connected_components, whose small near-dup graph here is
    labelled in one driver pass after its pairs' checkpoint, so the
    end-to-end job count is a small constant — measured 37 jobs at
    sf0.001 on local[1], local[2] and local[4], 38 on local[8] (AQE on;
    74–76 while CC ran star rounds at this size). A blowup here means
    a stage started materializing per-row or per-group driver state
    (e.g. an accidental action inside a loop), which no amount of
    cluster would save at 100 TB."""
    import __spark_entry__ as entrymod

    sc = spark.sparkContext
    group = "curation-jobcount"
    sc.setJobGroup(group, "curation pipeline job-count gate")
    try:
        df = entrymod.queries()["spec_curation_pipeline"](
            spark, "/root/testdata/sf0.001"
        )
        assert df.count() > 0
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 45, (
        f"curation pipeline ran {len(jobs)} jobs (bound 45) — a stage "
        "is no longer composing lazily, or CC left its one-pass path"
    )


def test_rag_retrieval_contracts(spark):
    """build_rag_retrieval structural contracts: ≤ topk rows, rrf
    scores sorted desc with id-asc tiebreak, chunk ids decompose into
    (doc_id, win_id) with win_id inside the id stride, and every result
    id is a real chunk of the corpus (the chunker and the retrievers
    agree on the id space)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = pipeline.build_rag_retrieval(docs, "spark shuffle window merge").collect()
    assert 0 < len(out) <= 15
    scores = [(-r["rrf_score"], r["id"]) for r in out]
    assert scores == sorted(scores)
    from convml_data_spark.operators import corpus

    wins = {
        r["doc_id"] * pipeline.RAG_CHUNK_STRIDE_IDS + r["win_id"]
        for r in corpus.sliding_token_windows(docs, size=64, stride=48)
        .select("doc_id", "win_id").collect()
    }
    for r in out:
        assert r["id"] == r["doc_id"] * pipeline.RAG_CHUNK_STRIDE_IDS + r["win_id"]
        assert 0 <= r["win_id"] < pipeline.RAG_CHUNK_STRIDE_IDS
        assert r["id"] in wins
        assert 1 <= r["n_lists"] <= 2


def test_curation_pipeline_stage_semantics(spark):
    """Spot-checks that each curation stage actually FIRES on the entry
    synthesis (a vacuous stage would stay parity-green forever): the
    md5-bucket-0 eval holdout never reaches the output; the
    same-source URL-dup rule (doc_id % 10 == 7 collides with
    doc_id − 20) drops the higher id whenever its partner is in the
    train half; and every output doc passes the Gopher gate it claims
    to have passed."""
    import __spark_entry__ as entrymod
    from convml_data_spark.operators import corpus

    sf = "/root/testdata/sf0.001"
    out = entrymod.queries()["spec_curation_pipeline"](spark, sf).collect()
    assert out
    ids = {r["doc_id"] for r in out}
    import hashlib

    def is_eval(d):
        return hashlib.md5(str(d).encode()).hexdigest()[0] == "0"

    assert not any(is_eval(d) for d in ids)
    # URL stage fires: a surviving d whose within-source index ≡ 7
    # (mod 10) shares its canonical URL with train partner d-20 — the
    # min-id survivor rule must have kept d-20 and dropped d
    dropped_by_url = [
        d for d in ids if (d // 20) % 10 == 7 and not is_eval(d - 20)
    ]
    assert dropped_by_url == []
    # and the rule is non-vacuous on this data: colliding pairs with
    # BOTH members in the train half exist
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    remapped = {
        r["doc_id"]
        for r in docs.where(F.expr("(doc_id div 20) % 10 = 7"))
        .select("doc_id").collect()
    }
    assert any(not is_eval(d) and not is_eval(d - 20) for d in remapped)
    # Gopher stage honored: every output doc passes at min_words=30
    gq = {
        r["doc_id"]
        for r in corpus.gopher_quality(docs, min_words=30)
        .where(F.col("pass_gopher")).select("doc_id").collect()
    }
    assert ids <= gq


def test_composed_pipelines_partitioning_independent(spark):
    """Determinism rule (README AQE-safe invariants): the composed
    curation and RAG programs must produce IDENTICAL rows under any
    input layout — every draw is an md5 expression, every survivorship
    rule a min/max — so a hostile repartition (3 partitions keyed on a
    non-id column) cannot shift a single chunk offset or fused rank."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    inp = entrymod._synthetic_curation_input(docs)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    base = rows(pipeline.build_curation_pipeline(inp))
    skew = rows(pipeline.build_curation_pipeline(inp.repartition(3, "source")))
    assert base == skew and base
    rbase = rows(pipeline.build_rag_retrieval(docs, "spark shuffle window merge"))
    rskew = rows(
        pipeline.build_rag_retrieval(
            docs.repartition(3, "lang"), "spark shuffle window merge"
        )
    )
    assert rbase == rskew and rbase
