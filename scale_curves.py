#!/usr/bin/env python
"""Scale-curve certification for the slowest operator families.

The 100 TB story in BASELINE.md is design-audited (bounded collects,
banded joins, O(log² n) CC rounds) but until round 17 no O(·) claim was
ever MEASURED against scale. This script runs each family at three
corpus sizes — sf0.01, sf0.1, and a synthetic ~4×-sf0.1 point — and
pins the fitted power-law exponent of wall-clock vs input rows.

Synthetic scale point (written under ``SPARK_GRAFT_SCALE_TMP``, default
/tmp/spark_graft_scale — never inside the repo or testdata):
``R`` replicas of the sf0.1 tables with disjoint id spaces
(``id + k·10⁷``; parity preserved, so incremental_dedup's even/odd
split is unchanged). Replica text is token-salted (every token gets a
``_rk`` suffix) and replica embeddings are shifted +100·k on dim 1, so
replicas neither exactly- nor near-duplicate each other: pair/cluster
volume grows linearly like organically grown data, not quadratically
like naive row duplication would force. (Salting grows the DISTINCT
token/piece vocabulary linearly where organic corpora grow it
sublinearly — worst-case for the vocabulary-space keys, noted in
BASELINE.md.)

Exponent fit: slope of log(t) between the two LARGEST points (the
sf0.01 point is fixed-overhead-dominated at local scale and is reported
but not fitted). A key whose exponent exceeds 1.3 on row count gets a
root-cause note in BASELINE.md before the artifact is believed.

Emits one JSON file (default SCALE_CURVES.json) shaped like sweep.py's
artifact: per-key [rows, min-of-N sec] points + fitted exponent.
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

REPLICAS = 4  # synthetic point = REPLICAS x sf0.1
# r18 (verdict task 7): a second, larger synthetic point — at sf0.1 every
# headline key sits on the job-launch floor and the 8-vs-32-core ratios
# certify nothing, so parallelization evidence needs a point where the
# data term actually dominates. ~sf0.8 on documents (8 x sf0.1).
REPLICAS_BIG = 8
ID_STRIDE = 10_000_000
FAMILIES = [
    # (key, table whose row count is the x-axis)
    ("dbscan_mutual_reach", "embeddings"),
    ("dbscan_ladder", "embeddings"),
    ("dedup_semantic_kmeans", "embeddings"),
    ("bpe_encode_byte_ids", "documents"),
    ("incremental_dedup", "documents"),
    ("dedup_exact_substring", "documents"),
    # r18 additions: the heaviest sweep keys whose x-axis table the
    # synthetic builder scales (streaming and lineitem-relational keys
    # excluded by construction)
    ("spec_curation_pipeline", "documents"),
    ("spec_rag_pipeline", "documents"),
    ("dedup_components", "embeddings"),
    ("dbscan_merge_events", "embeddings"),
    ("similarity_ivf_topk", "embeddings"),
]


def build_synthetic(base_dir: str, out_dir: str, replicas: int) -> None:
    import duckdb

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    reps = ", ".join(str(k) for k in range(replicas))
    con.execute(f"""
        COPY (
          SELECT doc_id + k * {ID_STRIDE} AS doc_id,
                 CASE WHEN k = 0 THEN text
                      ELSE array_to_string(list_transform(
                             string_split_regex(text, '[ \t\n\x0B\f\r]+'),
                             t -> t || '_r' || CAST(k AS VARCHAR)), ' ')
                 END AS text,
                 lang, source, n_chars
          FROM '{base_dir}/documents.parquet', UNNEST([{reps}]) AS r(k)
        ) TO '{out_dir}/documents.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (
          SELECT vec_id + k * {ID_STRIDE} AS vec_id,
                 CAST(list_transform(range(1, len(embedding) + 1),
                      i -> CASE WHEN i = 1
                                THEN embedding[i] + 100.0 * k
                                ELSE embedding[i] END) AS FLOAT[]) AS embedding,
                 label + k * 1000 AS label
          FROM '{base_dir}/embeddings.parquet', UNNEST([{reps}]) AS r(k)
        ) TO '{out_dir}/embeddings.parquet' (FORMAT PARQUET)
    """)
    # the other tables are not read by these families; symlink them so
    # _t() path resolution keeps working if a family grows a dependency
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events"):
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(base_dir, f"{name}.parquet"), dst)


def main() -> None:
    runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "2"))
    out_json = sys.argv[1] if len(sys.argv) > 1 else "SCALE_CURVES.json"
    tmp = os.environ.get("SPARK_GRAFT_SCALE_TMP", "/tmp/spark_graft_scale")
    synth = os.path.join(tmp, f"sf0.1x{REPLICAS}")
    if not os.path.exists(os.path.join(synth, "embeddings.parquet")):
        build_synthetic("/root/testdata/sf0.1", synth, REPLICAS)
    synth_big = os.path.join(tmp, f"sf0.1x{REPLICAS_BIG}")
    if not os.path.exists(os.path.join(synth_big, "embeddings.parquet")):
        build_synthetic("/root/testdata/sf0.1", synth_big, REPLICAS_BIG)

    from convml_data_spark import get_spark

    def session(cores: str):
        # the engine's session defaults, at this script's core count and heap
        s = get_spark(
            master=f"local[{cores}]",
            shuffle_partitions=int(cores),
            extra_conf={"spark.driver.memory": "48g"},
        )
        s.sparkContext.setLogLevel("ERROR")
        return s

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = session(cpus)
    import __spark_entry__ as entry

    queries = entry.queries()
    sizes = [
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
        (f"sf0.1x{REPLICAS}", synth),
        (f"sf0.1x{REPLICAS_BIG}", synth_big),
    ]
    counts: dict[str, dict[str, int]] = {}
    for label, d in sizes:
        counts[label] = {
            t: spark.read.parquet(f"{d}/{t}.parquet").count()
            for t in ("documents", "embeddings")
        }
    out: dict = {"replicas": [REPLICAS, REPLICAS_BIG], "runs": runs,
                 "sizes": counts, "keys": {}}

    def measure(sp, key, d):
        best = math.inf
        for _ in range(runs):
            t0 = time.time()
            queries[key](sp, d).count()
            best = min(best, time.time() - t0)
        return best

    for key, table in FAMILIES:
        pts = []
        for label, d in sizes:
            best = measure(spark, key, d)
            pts.append({"size": label, "rows": counts[label][table],
                        "sec": round(best, 3)})
            print(f"{key} @ {label}: {best:.2f}s", file=sys.stderr)
        # least-squares log-log slope over the three LARGEST points (the
        # sf0.01 point is fixed-overhead-dominated and stays unfitted)
        ln = [(math.log(p["rows"]), math.log(p["sec"])) for p in pts[-3:]]
        mx = sum(x for x, _ in ln) / len(ln)
        my = sum(y for _, y in ln) / len(ln)
        exp = (sum((x - mx) * (y - my) for x, y in ln)
               / sum((x - mx) ** 2 for x, _ in ln))
        out["keys"][key] = {"table": table, "points": pts,
                            "exponent": round(exp, 3)}

    # core-scaling at the big point: the same keys in a fresh 8-core
    # session; ratio ~= cores32/cores8 speedup (4 would be perfect,
    # ~1 means the key is still orchestration-bound at this size)
    spark.stop()
    spark8 = session("8")
    for key, table in FAMILIES:
        best8 = measure(spark8, key, synth_big)
        e = out["keys"][key]
        e["cores8_sec"] = round(best8, 3)
        e["core_scaling_8_over_32"] = round(best8 / e["points"][-1]["sec"], 2)
        print(f"{key} @ x{REPLICAS_BIG} local[8]: {best8:.2f}s "
              f"(ratio {e['core_scaling_8_over_32']})", file=sys.stderr)
    spark8.stop()

    with open(out_json, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({k: v["exponent"] for k, v in out["keys"].items()}))


if __name__ == "__main__":
    main()
