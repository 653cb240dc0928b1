"""Multi-consumer materialization with one deployment-wide durability
switch.

Several composed programs materialize an intermediate relation exactly
once because multiple downstream consumers would otherwise re-execute the
whole upstream plan per action (DBSCAN's edge list feeds core counts, CC
and border assignment; the analytics pipeline's embedded-tile relation
feeds the PCA fit and the binned stats). The default mechanism is
``localCheckpoint`` — executor-local block storage, no dfs write, ideal
on local[x] — but those blocks are NOT fault-tolerant: on a real cluster
an executor loss mid-query invalidates them and kills the job (the
blocks have no lineage to recompute from once truncated).

Setting ``SPARK_GRAFT_DURABLE_CHECKPOINT=1`` turns every such barrier
into a RELIABLE checkpoint into the session's checkpoint directory
(``spark.sparkContext.setCheckpointDir`` — HDFS/object store on a
cluster), which survives executor loss at the cost of one write. Where
the checkpoint lives is a property of the deployment, not of a call:
no operator takes a durability argument, and this module is the only
reader of the flag.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

ENV_FLAG = "SPARK_GRAFT_DURABLE_CHECKPOINT"


def materialize_for_reuse(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate lineage for a relation consumed by several actions.

    Reads the ``SPARK_GRAFT_DURABLE_CHECKPOINT`` env flag on each call:
    anything but ``1`` → ``localCheckpoint`` (fast, executor-local, not
    fault-tolerant); ``1`` → reliable ``checkpoint`` (requires a
    checkpoint dir — raises with instructions if none is set, rather than
    letting Spark fail deep inside the job).

    ``eager=False`` by default, but it is only partly lazy. An eager
    checkpoint runs the whole upstream plan when this is called. A lazy
    one still runs jobs at the call: building the checkpoint RDD
    prepares the physical plan, which starts every broadcast build side
    and, under AQE, shuffle stages upstream of them; the rest waits for
    the first action. ``spec_curation_pipeline`` at sf0.01 on local[2]:
    its nine lazy calls ran 22 jobs (15 with AQE off), its sink 8.
    """
    if os.environ.get(ENV_FLAG, "") != "1":
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        raise ValueError(
            "durable materialization needs a reliable checkpoint dir: call "
            "spark.sparkContext.setCheckpointDir('<dfs path>') first (or "
            f"unset {ENV_FLAG} to use executor-local checkpoints)"
        )
    return df.checkpoint(eager=eager)


def where_unpushed(df: DataFrame, condition) -> DataFrame:
    """Filter WITHOUT predicate pushdown — for conditions over
    expensive PROJECTED measures.

    Catalyst pushes a deterministic filter through a Project by
    SUBSTITUTING the projected aliases into the predicate, and filter
    predicates get no common-subexpression elimination — so a condition
    over HOF-heavy measure columns (the Gopher repetition fractions:
    per-distinct-n-gram occurrence scans) re-derives the token/ngram
    arrays once PER REFERENCE inside the predicate. Measured on the
    gopher gate at sf0.1: 0.75 s unfiltered, 16.8 s with a plain
    ``.where(pass_gopher)`` (22×), 1.7 s with this barrier — the
    filter-context sibling of the winnowing fold-input lesson.

    Mechanism: predicates referencing a NONDETERMINISTIC expression are
    never pushed, so the condition is AND-ed with an always-true guard
    on a seeded ``rand`` column projected below the filter. The rand
    value is never observed (``>= -1.0`` holds for its entire [0,1)
    range, under any partitioning, retry or speculative re-execution),
    so results stay bit-deterministic. Works on streaming DataFrames
    (per-micro-batch projection; no state), unlike a checkpoint
    barrier, and costs one double per row instead of a
    materialization.
    """
    from pyspark.sql import functions as F

    return (
        df.withColumn("_no_pushdown", F.rand(42))
        .where(condition & (F.col("_no_pushdown") >= F.lit(-1.0)))
        .drop("_no_pushdown")
    )
