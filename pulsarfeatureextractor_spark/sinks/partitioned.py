"""Resumable partitioned sink with per-partition lineage + metrics.

North-rule contract (BASELINE.json): per-partition outputs carry
lineage (snapshot-id, partition spec, input-file manifest) and metrics,
and a killed job re-emits ONLY missing partitions on rerun.

Design:

- resume bookkeeping is a driver-side JSON checkpoint manifest listing
  completed partition keys (fsync'd, atomically replaced after every
  batch commit — a crash can lose at most the in-flight batch, never
  corrupt the file);
- the partition diff is relational, not driver-side set math at scale:
  every write filters the completed keys out of the data by the
  canonical key expression, and ``resume_plan`` gives the same diff of
  a planned-partitions frame as a LEFT ANTI JOIN (SURVEY.md §2B J4);
- each batch of partitions is one atomic Spark parquet job writing
  under ``out_dir`` with dynamic partition overwrite, so a partition
  dir is either fully committed by the parquet protocol or invisible;
- the row count and the set of partition keys each write committed
  come from ``df.observe`` accumulators — no second scan — so an
  unbatched run is a single Spark execution; they are written into the
  partition's lineage sidecar together with the input snapshot id /
  spec / file manifest.

The reference has no notion of resume (a killed run restarts its
directory walk from scratch; SURVEY.md §3.1) — this is new semantics
mandated by the recast.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def load_checkpoint(path: str) -> dict:
    """Read the checkpoint manifest ({'done': {partition_key: info}})."""
    if not os.path.exists(path):
        return {"done": {}}
    with open(path) as f:
        return json.load(f)


def _save_checkpoint(path: str, ckpt: dict) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(ckpt, f, indent=1, default=str)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


# Spark's hive-style writer renders a NULL partition value as this
# directory name; using the same token in the checkpoint key keeps the
# key, the batch filter, and the on-disk layout in agreement.
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_key_expr(partition_cols: Sequence[str]):
    """THE canonical partition-key expression — every consumer (resume
    diff, batch filter, checkpoint bookkeeping, sidecar paths) derives
    keys from this ONE Spark expression, so a key can never be computed
    two different ways.  NULL-safe: ``concat_ws`` silently skips NULLs
    (which would alias ('a', NULL, 'b') with ('a', 'b')), so each value
    is coalesced to the hive null token first; non-string types render
    via Spark's cast (booleans as 'true'/'false', matching the writer's
    directory names), never Python ``str()``."""
    return F.concat_ws(
        "/",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(NULL_PARTITION))
            for c in partition_cols
        ],
    )


def resume_plan(
    planned: DataFrame, checkpoint_path: str, partition_cols: Sequence[str]
) -> DataFrame:
    """planned partitions ∖ completed partitions, as a LEFT ANTI join.

    ``planned`` must have one row per partition key.  Completed keys are
    parallelized from the checkpoint and anti-joined — the same plan
    works when 'planned' is 10^5 partitions of a 10^12-row table.
    """
    spark = planned.sparkSession
    ckpt = load_checkpoint(checkpoint_path)
    done_keys = list(ckpt["done"].keys())
    if not done_keys:
        return planned
    done_df = spark.createDataFrame(
        [(k,) for k in done_keys], schema="__done_key string"
    )
    return (
        planned.withColumn("__key", _partition_key_expr(partition_cols))
        .join(
            F.broadcast(done_df),
            F.col("__key") == F.col("__done_key"),
            "left_anti",
        )
        .drop("__key")
    )


def run_partitioned_job(
    df: DataFrame,
    out_dir: str,
    partition_cols: Sequence[str],
    checkpoint_path: "str | None" = None,
    lineage: "dict | None" = None,
    batch_size: int = 0,
    fail_after_batches: int = 0,
) -> dict:
    """Write ``df`` partitioned by ``partition_cols``, resumably.

    Returns ``{"written": [keys...], "skipped": [keys...]}``.

    - ``batch_size=0``: all missing partitions in ONE Spark job, which
      is the job's only SQL execution: the write filters out the
      checkpoint's done keys and observes the row count and the set of
      keys it wrote, and exactly those keys are recorded as done
      (fastest; resume granularity = whole run).
    - ``batch_size=k``: the distinct partition keys not yet done are
      collected first (one more execution of ``df``), then written k
      partitions per atomic job, checkpoint updated after each — a kill
      between batches loses only the in-flight batch and the rerun
      re-emits exactly the missing partitions.
    - ``fail_after_batches`` (tests only): simulate a mid-run kill.

    Scale note: the distinct-partition-keys collect is one tiny
    aggregate (#partitions rows, not #rows), and the observed key set is
    #partitions strings; the data path stays fully distributed and each
    batch job is a plain partitioned parquet write with AQE sizing.
    """
    checkpoint_path = checkpoint_path or os.path.join(out_dir, "_checkpoint.json")
    part_cols = list(partition_cols)
    lineage = lineage or {}
    ckpt = load_checkpoint(checkpoint_path)
    skipped = sorted(ckpt["done"].keys())

    # every key below is the SAME Spark-computed __key — a Python-side
    # str() of raw values would disagree on NULLs ('None') and booleans
    # ('True'), silently dropping those partitions while marking them
    # done (data loss on every rerun).
    keyed = df.withColumn("__key", _partition_key_expr(part_cols))
    if ckpt["done"]:
        keyed = keyed.where(~F.col("__key").isin(list(ckpt["done"])))
    batches: "list[list[str] | None]"
    if batch_size <= 0:
        batches = [None]  # every key not done yet, as the write finds them
    else:
        todo = sorted(r["__key"] for r in keyed.select("__key").distinct().collect())
        if not todo:
            return {"written": [], "skipped": skipped}
        batches = [todo[i:i + batch_size] for i in range(0, len(todo), batch_size)]

    spark = df.sparkSession
    # dynamic overwrite: only the partitions present in the batch are
    # replaced — an interrupted batch's rerun is idempotent.  The conf
    # is restored on exit (this runs inside shared sessions — e.g. the
    # driver verify session — which must not inherit the mode).
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    created_out_dir = not os.path.exists(out_dir)
    written: list[str] = []
    try:
        for bi, batch in enumerate(batches):
            if fail_after_batches and bi >= fail_after_batches:
                raise RuntimeError(f"simulated kill before batch {bi}")
            obs = Observation(f"batch-{bi}")
            batch_df = keyed if batch is None else keyed.where(F.col("__key").isin(batch))
            observed = batch_df.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.collect_set("__key").alias("keys"),
            ).drop("__key")
            (observed.write.mode("overwrite")
             .partitionBy(*part_cols).parquet(out_dir))
            got = obs.get
            keys = sorted(got["keys"])
            if not keys:
                continue
            metrics = {"rows": got["rows"], "partitions": len(keys)}
            for key in keys:
                sidecar = {
                    "partition": key,
                    "partition_spec": part_cols,
                    "batch_metrics": metrics,
                    **lineage,
                }
                part_dir = os.path.join(
                    out_dir, *[f"{c}={v}" for c, v in zip(part_cols, key.split("/"))]
                )
                if os.path.isdir(part_dir):
                    with open(os.path.join(part_dir, "_lineage.json"), "w") as f:
                        json.dump(sidecar, f, default=str)
                ckpt["done"][key] = sidecar
            _save_checkpoint(checkpoint_path, ckpt)
            written.extend(keys)
    finally:
        if prev_mode is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    if not written and created_out_dir:
        # an empty write still creates the directory; the contract for
        # "nothing to write" is no output at all
        shutil.rmtree(out_dir, ignore_errors=True)
    return {"written": written, "skipped": skipped}
