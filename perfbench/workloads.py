"""The seeded dataset-build workloads.

Each workload makes its inputs from the seed during set-up, then runs one
whole build per call of :meth:`Workload.build` through the engine's public
API (``pipeline``, ``tables``, ``operators``), and checks every build's
output. Checksums of the regridded scenes, of ``event_analytics`` and of
``doc_curation`` are compared with a DuckDB replay made once per seed,
outside the timed builds.

Sizes are per workload; ``tiny`` is the size the benchmark's own tests use.
"""

from __future__ import annotations

import hashlib
import os
import re
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from convml_data_spark import operators, pipeline, tables

SIZES = {
    "scene_dataset": {
        "full": {
            "tiles": {"scenes": 8, "train": 12, "study": 4, "tile_N": 32},
            "regrid": {"scenes": 4, "src_nx": 100, "nx": 64},
            "events": {"events": 100_000, "days": 30, "tolerance_s": 600.0},
        },
        "tiny": {
            "tiles": {"scenes": 8, "train": 6, "study": 2, "tile_N": 32},
            "regrid": {"scenes": 2, "src_nx": 30, "nx": 20},
            "events": {"events": 5_000, "days": 3, "tolerance_s": 600.0},
        },
    },
    "doc_curation": {
        "full": {"docs": 2000},
        "tiny": {"docs": 120},
    },
}

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DUP_FRAC = 0.05


def _t0(seed: int) -> datetime:
    """Seeded start of the scene calendar: one of ~three years of days."""
    return datetime(2023, 1, 1) + timedelta(days=seed % 1000)


def _close(a: float, b: float, rel: float = 1e-9) -> bool:
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


def _noop_sink(df: DataFrame, name: str, **aggs) -> dict:
    """Execute ``df`` into the noop sink; the observed aggregates ride the
    same job and come back as the sink's checksum."""
    obs = Observation(name)
    observed = df.observe(obs, *[expr.alias(k) for k, expr in aggs.items()])
    observed.write.format("noop").mode("overwrite").save()
    return dict(obs.get)


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, seed: int, work_dir: str, size: dict):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.size = size
        self._n_obs = 0

    def generate(self) -> str:
        """Write the seeded inputs; return a digest of them."""
        return ""

    def build(self, out_dir: str) -> dict:
        raise NotImplementedError

    def items(self, result: dict) -> int:
        raise NotImplementedError

    def replay(self) -> dict:
        """Expected checksums, from DuckDB (once per seed)."""
        return {}

    def check(self, result: dict, expected: dict) -> list[str]:
        """Problems found in one build's output; empty when correct."""
        raise NotImplementedError

    def _obs_name(self, label: str) -> str:
        self._n_obs += 1
        return f"{self.name}_{label}_{self._n_obs}"


# ---------------------------------------------------------------- tile_dataset


class TileDataset(Workload):
    """The paper's headline UX: one DatasetSpec → triplet tiles with data
    and PNG images, written through ``pipeline.materialize``."""

    name = "tile_dataset"
    RESOLUTION = 100.0
    DOMAIN = 64_000.0
    SRC_DX = 200.0
    SRC_NX = 320

    def spec(self) -> pipeline.DatasetSpec:
        s = self.size
        t0 = _t0(self.seed)
        return pipeline.DatasetSpec.from_dict(
            {
                "source": "bench",
                "inputs": ["vis", "ir"],
                "t_start": t0.isoformat(),
                "t_end": (t0 + timedelta(hours=s["scenes"])).isoformat(),
                "step": "1 hour",
                "seed": self.seed,
                "sampling": {
                    "resolution": self.RESOLUTION,
                    "triplets": {
                        "N_triplets": {"train": s["train"], "study": s["study"]},
                        "tile_N": s["tile_N"],
                    },
                },
                "domain": {"l_zonal": self.DOMAIN, "l_meridional": self.DOMAIN},
            }
        )

    def n_tiles(self) -> int:
        return 3 * (self.size["train"] + self.size["study"])

    def build(self, out_dir: str) -> dict:
        d = pipeline.build_tile_data(
            self.spark, self.spec(), src_dx=self.SRC_DX, src_nx=self.SRC_NX
        )
        data_path = os.path.join(out_dir, "tile_data")
        img_path = os.path.join(out_dir, "tile_images")
        wrote_data = pipeline.materialize(d["tile_data"], data_path)
        wrote_img = pipeline.materialize(d["tile_images"], img_path)
        return {
            "wrote": [wrote_data, wrote_img],
            "paths": [data_path, img_path],
        }

    def items(self, result: dict) -> int:
        return self.n_tiles()

    def check(self, result: dict, expected: dict) -> list[str]:
        bad = []
        if result["wrote"] != [True, True]:
            bad.append(f"materialize returned {result['wrote']}")
        data = pq.read_table(result["paths"][0], columns=["triplet_id", "shape_ok"])
        images = pq.read_table(result["paths"][1], columns=["png"])
        n = self.n_tiles()
        if data.num_rows != n:
            bad.append(f"tile_data has {data.num_rows} rows, expected {n}")
        per = {}
        for t in data.column("triplet_id").to_pylist():
            per[t] = per.get(t, 0) + 1
        if set(per.values()) != {3} or len(per) != n // 3:
            bad.append("not exactly 3 tiles per triplet")
        if not all(data.column("shape_ok").to_pylist()):
            bad.append("a tile failed shape_ok")
        if images.num_rows != n:
            bad.append(f"tile_images has {images.num_rows} rows, expected {n}")
        tile_N = self.size["tile_N"]
        if any(png_dims(b) != (tile_N, tile_N) for b in images.column("png").to_pylist()):
            bad.append(f"a PNG is not {tile_N}x{tile_N}")
        return bad


def png_dims(data: bytes) -> tuple[int, int] | None:
    """(width, height) of a real PNG or of the engine's stub container."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return int.from_bytes(data[16:20], "big"), int.from_bytes(data[20:24], "big")
    if data[:7] == b"STUBPNG":
        w, h = int.from_bytes(data[7:11], "big"), int.from_bytes(data[11:15], "big")
        return (w, h) if len(data) == 15 + w * h else None
    return None


# ---------------------------------------------------------------- scene_regrid


class SceneRegrid(Workload):
    """A few large rasters regridded nearest and bilinear into the noop
    sink: a shuffle of dense pixel keys with no Python and no writes."""

    name = "scene_regrid"
    SRC_DX = 7.0
    RESOLUTION = 10.0

    def spec(self) -> pipeline.DatasetSpec:
        t0 = _t0(self.seed)
        extent = self.size["nx"] * self.RESOLUTION
        return pipeline.DatasetSpec.from_dict(
            {
                "source": "rg",
                "inputs": ["vis"],
                "t_start": t0.isoformat(),
                "t_end": (t0 + timedelta(hours=self.size["scenes"])).isoformat(),
                "step": "1 hour",
                "sampling": {"resolution": self.RESOLUTION},
                "domain": {"l_zonal": extent, "l_meridional": extent},
            }
        )

    def build(self, out_dir: str) -> dict:
        spec = self.spec()
        out = {}
        for method in ("nearest", "bilinear"):
            df = pipeline.build_regridded_scenes(
                self.spark, spec, src_dx=self.SRC_DX, src_nx=self.size["src_nx"],
                method=method,
            )
            out[method] = _noop_sink(
                df, self._obs_name(method),
                n=F.count(F.lit(1)), s=F.sum("value"),
            )
        return out

    def replay(self) -> dict:
        import duckdb

        s = self.size
        nx, res, sdx, snx = s["nx"], self.RESOLUTION, self.SRC_DX, s["src_nx"]
        t0 = _t0(self.seed)
        t1 = t0 + timedelta(hours=s["scenes"])
        scenes = f"""
            sc AS (
              SELECT unnest(generate_series(TIMESTAMP '{t0}', TIMESTAMP '{t1}',
                                            INTERVAL 1 HOUR)) AS t
            ), s AS (SELECT t FROM sc WHERE t < TIMESTAMP '{t1}'),
            px AS (
              SELECT t, ti.i AS i, tj.j AS j, ti.i * {sdx} AS x, tj.j * {sdx} AS y,
                     CAST((epoch_us(t) // 3600000000 * 13 + ti.i * 37 + tj.j * 17) % 101
                          AS DOUBLE) AS value
              FROM s CROSS JOIN range(0, {snx}) ti(i) CROSS JOIN range(0, {snx}) tj(j)
            )"""
        nearest = f"""
            WITH {scenes},
            d AS (
              SELECT t, x, y, value,
                     CAST(round(x / {res}) AS INT) AS ix, CAST(round(y / {res}) AS INT) AS iy
              FROM px
            ), r AS (
              SELECT value, row_number() OVER (
                       PARTITION BY t, ix, iy
                       ORDER BY (x - ix * {res}) * (x - ix * {res})
                                + (y - iy * {res}) * (y - iy * {res}), x, y, value) AS rn
              FROM d WHERE ix BETWEEN 0 AND {nx - 1} AND iy BETWEEN 0 AND {nx - 1}
            )
            SELECT count(*), sum(value) FROM r WHERE rn = 1"""
        bilinear = f"""
            WITH {scenes},
            c AS (
              SELECT t, ti.i * {res} / {sdx} AS fx, tj.j * {res} / {sdx} AS fy
              FROM s CROSS JOIN range(0, {nx}) ti(i) CROSS JOIN range(0, {nx}) tj(j)
            ), k AS (
              SELECT c.t, c.fx, c.fy,
                     CAST(floor(fx) AS INT) + CAST(d.di AS INT) AS ci,
                     CAST(floor(fy) AS INT) + CAST(d.dj AS INT) AS cj,
                     (1.0 - abs((fx - floor(fx)) - d.di)) * (1.0 - abs((fy - floor(fy)) - d.dj)) AS w
              FROM c CROSS JOIN (VALUES (0.0, 0.0), (0.0, 1.0), (1.0, 0.0), (1.0, 1.0)) d(di, dj)
            ), g AS (
              SELECT k.t, k.fx, k.fy, sum(w * value) AS v, count(*) AS nc
              FROM k JOIN px ON px.t = k.t AND px.i = k.ci AND px.j = k.cj
              GROUP BY k.t, k.fx, k.fy
            )
            SELECT count(*), sum(v) FROM g WHERE nc = 4"""
        con = duckdb.connect()
        try:
            out = {}
            for method, sql in (("nearest", nearest), ("bilinear", bilinear)):
                n, total = con.sql(sql).fetchone()
                out[method] = {"n": int(n), "s": float(total)}
            return out
        finally:
            con.close()

    def check(self, result: dict, expected: dict) -> list[str]:
        bad = []
        s = self.size
        cells = s["scenes"] * s["nx"] * s["nx"]
        if result["nearest"]["n"] != cells:
            bad.append(f"nearest gave {result['nearest']['n']} cells, expected {cells}")
        for method, exp in expected.items():
            got = result[method]
            if got["n"] != exp["n"] or not _close(got["s"], exp["s"]):
                bad.append(f"{method} checksum {got} != replay {exp}")
        return bad


# ---------------------------------------------------------------- event_analytics


class EventAnalytics(Workload):
    """Aux analytics over a seeded events table: hourly scene pivot, an
    as-of join, 2-D binned statistics and a keyed ECDF."""

    name = "event_analytics"

    def generate(self) -> str:
        s = self.size
        rng = np.random.default_rng(self.seed)
        n = s["events"]
        span_us = s["days"] * 86_400_000_000
        # strictly increasing, distinct microsecond timestamps
        offs = np.sort(rng.integers(0, span_us - n, n)) + np.arange(n)
        t0 = np.datetime64(_t0(self.seed), "us")
        value = np.round(rng.gamma(2.0, 50.0, n), 2)
        tbl = pa.table(
            {
                "event_id": pa.array(np.arange(n, dtype=np.int64)),
                "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
                "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
                "value": pa.array(value),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
            }
        )
        self.input_dir = os.path.join(self.work_dir, "inputs")
        os.makedirs(self.input_dir, exist_ok=True)
        path = os.path.join(self.input_dir, "events.parquet")
        pq.write_table(tbl, path)
        return _digest(tbl)

    def build(self, out_dir: str) -> dict:
        tol = self.size["tolerance_s"]
        ev = tables.load_table(self.spark, self.input_dir, "events")
        files = ev.select(
            F.col("ts").alias("t"),
            F.col("event_type").alias("input_name"),
            F.col("event_id").alias("filename"),
        )
        scenes = operators.multi_input_scene_table(
            files, EVENT_TYPES, source_name="events", time_bucket="hour"
        )
        aux = ev.where(F.col("event_type") == "error").select(
            F.col("event_id").alias("aux_event_id"), F.col("ts").alias("t_aux")
        )
        clicks = ev.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("scene_event_id"), F.col("ts").alias("scene_t")
        )
        matched = operators.asof_join(
            aux, clicks, "t_aux", "scene_t",
            tolerance_seconds=tol, right_prefix="", dt_col="dt_seconds",
        )
        bins = operators.binned_statistic_2d(
            ev, x_col="value", y_col="user_id", value_col="value",
            dx=20.0, dy=100.0, stats=["count", "min", "max", "median"], min_points=5,
        )
        cdf = operators.ecdf(
            ev.select("event_id", "event_type", "value"), "value", partition_by=["event_type"]
        )
        return {
            "scenes": _noop_sink(
                scenes, self._obs_name("scenes"),
                n=F.count(F.lit(1)), s=F.sum(F.unix_seconds("t")),
            ),
            "asof": _noop_sink(
                matched, self._obs_name("asof"),
                n=F.count(F.lit(1)), s=F.sum("scene_event_id"),
                a=F.sum("aux_event_id"), max_dt=F.max(F.abs("dt_seconds")),
            ),
            "bins": _noop_sink(
                bins, self._obs_name("bins"),
                n=F.count(F.lit(1)), c=F.sum("count"), s=F.sum("median"),
            ),
            "ecdf": _noop_sink(
                cdf, self._obs_name("ecdf"), n=F.count(F.lit(1)), s=F.sum("ecdf"),
            ),
        }

    def replay(self) -> dict:
        import duckdb

        tol_us = int(self.size["tolerance_s"] * 1e6)
        path = os.path.join(self.input_dir, "events.parquet")
        ev = f"(SELECT * FROM read_parquet('{path}'))"
        sqls = {
            "scenes": f"""
                SELECT count(*), sum(epoch(t)) FROM (
                  SELECT date_trunc('hour', ts) AS t FROM {ev} GROUP BY 1
                  HAVING count(DISTINCT event_type) = 5)""",
            # the j2_asof_single oracle, bucketed by the tolerance so the
            # candidate join stays linear in the events
            "asof": f"""
                WITH aux AS (SELECT event_id AS aux_event_id, ts AS t_aux,
                                    epoch_us(ts) // {tol_us} AS b
                             FROM {ev} WHERE event_type = 'error'),
                     sc AS (SELECT event_id AS scene_event_id, ts AS scene_t,
                                   epoch_us(ts) // {tol_us} AS b
                            FROM {ev} WHERE event_type = 'click'),
                     j AS (
                       SELECT a.aux_event_id, s.scene_event_id,
                              abs(epoch_us(a.t_aux) - epoch_us(s.scene_t)) AS adt_us,
                              row_number() OVER (
                                PARTITION BY a.aux_event_id
                                ORDER BY abs(epoch_us(a.t_aux) - epoch_us(s.scene_t)), s.scene_t,
                                         CASE WHEN s.scene_t <= a.t_aux THEN -s.scene_event_id
                                              ELSE s.scene_event_id END
                              ) AS rn
                       FROM aux a JOIN sc s
                         ON s.b BETWEEN a.b - 1 AND a.b + 1
                        AND abs(epoch_us(a.t_aux) - epoch_us(s.scene_t)) <= {tol_us})
                SELECT count(*), sum(scene_event_id), sum(aux_event_id), max(adt_us) / 1e6
                FROM j WHERE rn = 1""",
            "bins": f"""
                SELECT count(*), sum(c), sum(m) FROM (
                  SELECT count(*) AS c, quantile_cont(value, 0.5) AS m
                  FROM {ev} WHERE NOT isnan(value)
                  GROUP BY CAST(floor(value / 20.0) AS INT), CAST(floor(user_id / 100.0) AS INT)
                  HAVING count(*) > 5)""",
            "ecdf": f"""
                SELECT count(*), sum(e) FROM (
                  SELECT cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS e
                  FROM {ev})""",
        }
        keys = {
            "scenes": ("n", "s"), "asof": ("n", "s", "a", "max_dt"),
            "bins": ("n", "c", "s"), "ecdf": ("n", "s"),
        }
        con = duckdb.connect()
        try:
            return {
                k: dict(zip(keys[k], (float(v) for v in con.sql(sql).fetchone())))
                for k, sql in sqls.items()
            }
        finally:
            con.close()

    def check(self, result: dict, expected: dict) -> list[str]:
        bad = []
        max_dt = result["asof"]["max_dt"]
        if max_dt is not None and max_dt > self.size["tolerance_s"]:
            bad.append(f"as-of match with |dt| {max_dt} s > tolerance")
        for step, exp in expected.items():
            got = result[step]
            for k, v in exp.items():
                if got[k] is None or not _close(float(got[k]), v):
                    bad.append(f"{step}.{k}: {got[k]} != replay {v}")
        return bad


# ---------------------------------------------------------------- scene_dataset


class SceneDataset(Workload):
    """The paper's whole dataset build (D1–D5) from one seed: triplet
    tiles with data and PNGs (written), the regridded scenes and the aux
    event analytics, run one after the other in each build. Items are
    tiles, the product a user of the spec waits for."""

    name = "scene_dataset"
    PARTS = (("tiles", TileDataset), ("regrid", SceneRegrid), ("events", EventAnalytics))

    def __init__(self, spark: SparkSession, seed: int, work_dir: str, size: dict):
        super().__init__(spark, seed, work_dir, size)
        self.parts = {k: cls(spark, seed, work_dir, size[k]) for k, cls in self.PARTS}

    def generate(self) -> str:
        return "".join(p.generate() for p in self.parts.values())

    def build(self, out_dir: str) -> dict:
        return {k: p.build(out_dir) for k, p in self.parts.items()}

    def items(self, result: dict) -> int:
        return self.parts["tiles"].items(result["tiles"])

    def replay(self) -> dict:
        return {k: p.replay() for k, p in self.parts.items()}

    def check(self, result: dict, expected: dict) -> list[str]:
        return [
            f"{k}: {problem}"
            for k, p in self.parts.items()
            for problem in p.check(result[k], expected[k])
        ]


# ---------------------------------------------------------------- doc_curation


class DocCuration(Workload):
    """The LLM-curation composition over seeded documents: URL dedup, C4
    and Gopher gates, MinHash dedup, Bloom decontamination, mixture draw
    and sequence packing."""

    name = "doc_curation"

    def generate(self) -> str:
        """Documents drawn like the engine's sf0.1 ``documents`` table (see
        the README): 10–100 words, uniform over a 30-word vocabulary; 5 %
        are a uniformly chosen other document plus " dup"; 41 % English."""
        n = self.size["docs"]
        rng = np.random.default_rng(self.seed)
        vocab = np.array(VOCAB)
        texts = [" ".join(vocab[rng.integers(0, len(vocab), int(k))])
                 for k in rng.integers(10, 101, n)]
        for i in np.flatnonzero(rng.random(n) < DUP_FRAC):
            j = int(rng.integers(0, n - 1))
            texts[i] = texts[j + (j >= i)] + " dup"
        tbl = pa.table(
            {
                "doc_id": pa.array(np.arange(n, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
                "source": pa.array([f"src{i % 20}" for i in range(n)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        self.input_dir = os.path.join(self.work_dir, "inputs")
        os.makedirs(self.input_dir, exist_ok=True)
        pq.write_table(tbl, os.path.join(self.input_dir, "documents.parquet"))
        return _digest(tbl)

    def build(self, out_dir: str) -> dict:
        import __spark_entry__ as entry

        docs = entry._synthetic_curation_input(
            tables.load_table(self.spark, self.input_dir, "documents")
        )
        packed = pipeline.build_curation_pipeline(docs, seed=self.seed)
        pos = F.col("chunk_id") * 512 + F.col("chunk_offset")
        return _noop_sink(
            packed, self._obs_name("packed"),
            n=F.count(F.lit(1)), ids=F.sum("doc_id"), tokens=F.sum("n_tokens"),
            pos=F.sum(pos), pos_min=F.min(pos), pos_end=F.max(pos + F.col("n_tokens")),
        )

    def items(self, result: dict) -> int:
        # input documents: the packed count depends on the seed's draw
        return self.size["docs"]

    def replay(self) -> dict:
        import duckdb

        import __spark_entry__ as entry

        sql = entry._spec_curation_oracle_sql()
        # the oracle is written for seed 42: re-seed the draw and the packing
        for old, new in (("'draw42_'", f"'draw{self.seed}_'"), ("md5('42_'", f"md5('{self.seed}_'")):
            if sql.count(old) != 1:
                raise RuntimeError(f"curation oracle no longer has one {old!r}")
            sql = sql.replace(old, new)
        # DuckDB inlines a CTE at every reference, so the chained stages
        # re-run many times over (73 s at 500 docs); computing each CTE once
        # gives the same rows in about 2 s at 5000 docs
        sql, n_ctes = re.subn(r"(\b\w+) AS \(\n", r"\1 AS MATERIALIZED (\n", sql)
        if n_ctes == 0:
            raise RuntimeError("curation oracle has no CTE to materialize")
        con = duckdb.connect()
        try:
            path = os.path.join(self.input_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            n, ids, tokens, pos = con.sql(
                f"SELECT count(*), sum(doc_id), sum(n_tokens), "
                f"sum(chunk_id * 512 + chunk_offset) FROM ({sql})"
            ).fetchone()
        finally:
            con.close()
        return {"n": int(n), "ids": int(ids or 0), "tokens": int(tokens or 0), "pos": int(pos or 0)}

    def check(self, result: dict, expected: dict) -> list[str]:
        got = {k: int(result[k] or 0) for k in ("n", "ids", "tokens", "pos")}
        if got["n"] == 0:
            return ["the pipeline packed no documents"]
        bad = []
        # packing offsets are an exclusive cumsum of the token counts
        if result["pos_min"] != 0 or result["pos_end"] != got["tokens"]:
            bad.append(f"packed offsets are not contiguous: {result}")
        if got != expected:
            bad.append(f"packed checksum {got} != replay {expected}")
        return bad


def _digest(tbl: pa.Table) -> str:
    h = hashlib.sha256()
    for batch in tbl.to_batches():
        for col in batch.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()


WORKLOADS = {w.name: w for w in (SceneDataset, DocCuration)}
