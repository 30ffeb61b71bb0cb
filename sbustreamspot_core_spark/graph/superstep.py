"""Iterative superstep driver: checkpoints, per-partition lineage, resume.

Iterative DataFrame jobs explode their logical plans; the fix is a storage-
backed checkpoint that truncates lineage AND doubles as the resume point
(north rule: "every superstep checkpoints per-partition lineage and delta
metrics ... so runs resume mid-iteration").  ``localCheckpoint`` is not
resumable, so checkpoints are parquet writes.

Layout under ``checkpoint_dir``:
    superstep=<k>/data/           parquet state snapshot
    superstep=<k>/lineage.json    per-partition rows + superstep metrics
    superstep=<k>/_COMPLETE       commit marker (written last)

Resume scans for the highest complete superstep and restarts the loop there.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable

from contextlib import contextmanager

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@contextmanager
def iterative_conf(spark: SparkSession):
    """Per-superstep stages are short and co-partitioned; AQE's runtime
    re-planning adds latency to every stage and its partition coalescing
    breaks co-partition reuse between supersteps, and per-superstep broadcast
    rebuilds (collect to driver) dwarf the join they replace.  Disable both
    for the duration of an iterative job, restore after."""
    conf = spark.conf
    saved = {
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled", "true"),
        "spark.sql.autoBroadcastJoinThreshold":
            conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"),
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        yield
    finally:
        for k, v in saved.items():
            conf.set(k, v)


@dataclass
class SuperstepResult:
    state: DataFrame
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    resumed_from: int | None = None


def _partition_lineage(df: DataFrame) -> list[dict]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    return [{"partition_id": r.partition_id, "rows": r.rows} for r in rows]


class SuperstepDriver:
    """Runs ``step_fn`` until convergence with checkpoint/resume.

    step_fn(state_df, superstep) -> (new_state_df, metrics_dict).
    ``metrics_dict`` must contain ``converged: bool``; everything else is
    recorded into the lineage file (e.g. ``delta`` for PageRank).

    Contract: step_fn must return ``new_state_df`` already cached and
    materialized (its metrics computation is an action, which populates the
    cache), so the driver can safely unpersist the previous state.
    """

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None = None,
                 checkpoint_interval: int = 5, write_lineage: bool = True,
                 lineage_table: str | None = None):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_interval = max(1, checkpoint_interval)
        self.write_lineage = write_lineage
        # optional Iceberg-style lineage sink (sources/snaptable.py): one
        # snapshot COMMIT per checkpointed superstep carrying the
        # per-partition rows, with the superstep's delta metrics in the
        # snapshot summary — queryable/time-travelable lineage, the north
        # rule's "lineage + delta metrics to Iceberg" sink shape
        self.lineage_table = lineage_table
        if lineage_table is not None and checkpoint_dir is None:
            # lineage commits ride the checkpoint cadence; accepting the
            # table without a checkpoint dir would silently record nothing
            raise ValueError("lineage_table requires checkpoint_dir "
                             "(lineage commits happen at checkpoints)")
        self._run_id: str | None = None

    # -- checkpoint bookkeeping -------------------------------------------
    def _step_dir(self, k: int) -> str:
        return os.path.join(self.checkpoint_dir, f"superstep={k}")

    def last_complete_superstep(self) -> int | None:
        if not self.checkpoint_dir or not os.path.isdir(self.checkpoint_dir):
            return None
        best = None
        for name in os.listdir(self.checkpoint_dir):
            if name.startswith("superstep="):
                k = int(name.split("=", 1)[1])
                if os.path.exists(os.path.join(self.checkpoint_dir, name, "_COMPLETE")):
                    best = k if best is None else max(best, k)
        return best

    def _checkpoint(self, state: DataFrame, k: int, metrics: dict) -> DataFrame:
        """Write superstep ``k``'s state, then return the re-read snapshot
        cached and materialized: the per-partition lineage aggregation is
        the action that fills the cache, and the re-read takes the written
        schema instead of inferring it (a footer-reading job), so
        truncating lineage costs the write plus one job."""
        d = self._step_dir(k)
        data_dir = os.path.join(d, "data")
        state.write.mode("overwrite").parquet(data_dir)
        reread = self.spark.read.schema(state.schema).parquet(data_dir).cache()
        if not self.write_lineage:
            reread.count()
        else:
            parts = _partition_lineage(reread)
            lineage = {
                "superstep": k,
                "wall_time": time.time(),
                "metrics": {m: v for m, v in metrics.items()},
                "partitions": parts,
            }
            with open(os.path.join(d, "lineage.json"), "w") as f:
                json.dump(lineage, f)
            if self.lineage_table is not None:
                self._commit_lineage(k, metrics, parts)
        with open(os.path.join(d, "_COMPLETE"), "w") as f:
            f.write("")
        return reread

    def _commit_lineage(self, k: int, metrics: dict, parts: list[dict]) -> None:
        from ..sources.snaptable import SnapTable, is_snaptable
        t = (SnapTable(self.lineage_table) if is_snaptable(self.lineage_table)
             else SnapTable.create(self.lineage_table))
        # idempotent under replay: this append lands BEFORE the _COMPLETE
        # marker, so a crash between them re-runs the superstep — every
        # other sink in the checkpoint is an idempotent overwrite, and the
        # lineage log must not double-count superstep k's rows.  The skip
        # is scoped to THIS run's id (persisted in the checkpoint dir so a
        # resumed run inherits it): a fresh run pointed at a reused
        # lineage table must still record its own supersteps
        if any(s["summary"].get("superstep") == k
               and s["summary"].get("run_id") == self._run_id
               for s in t.snapshots()):
            return
        # an Arrow table reaches the JVM without parallelize and its
        # pickled Python-worker tasks (see components._small_graph_components)
        df = self.spark.createDataFrame(pa.table({
            "superstep": np.full(len(parts), k, dtype=np.int32),
            "partition_id": np.array([p["partition_id"] for p in parts],
                                     dtype=np.int32),
            "rows": np.array([p["rows"] for p in parts], dtype=np.int64),
        }), "superstep int, partition_id int, rows long")
        summary = {m: v for m, v in metrics.items()
                   if isinstance(v, (int, float, bool, str))}
        t.append(df, summary={"superstep": k, "run_id": self._run_id,
                              **summary})

    def load_checkpoint(self, k: int) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._step_dir(k), "data"))

    # -- main loop ---------------------------------------------------------
    def run(self, initial_state: DataFrame,
            step_fn: Callable[[DataFrame, int], tuple[DataFrame, dict]],
            max_iters: int, resume: bool = True) -> SuperstepResult:
        resumed_from = None
        start_k = 0
        state = initial_state
        if self.checkpoint_dir:
            # run identity for lineage idempotence: a resumed run reuses
            # the crashed run's id (so a replayed superstep's lineage
            # commit is recognized and skipped), while a fresh run gets a
            # new one (so reusing a lineage table across runs records each
            # run rather than silently suppressing the later ones)
            run_id_file = os.path.join(self.checkpoint_dir, "run_id.txt")
            if resume and os.path.exists(run_id_file):
                with open(run_id_file) as f:
                    self._run_id = f.read().strip()
            else:
                self._run_id = uuid.uuid4().hex
                os.makedirs(self.checkpoint_dir, exist_ok=True)
                with open(run_id_file, "w") as f:
                    f.write(self._run_id)
        if resume and self.checkpoint_dir:
            last = self.last_complete_superstep()
            if last is not None:
                state = self.load_checkpoint(last)
                start_k = last + 1
                resumed_from = last

        all_metrics: list[dict] = []
        converged = False
        k = start_k - 1
        for k in range(start_k, max_iters):
            t0 = time.time()
            new_state, metrics = step_fn(state, k)
            metrics["step_sec"] = round(time.time() - t0, 3)
            is_ckpt = (k + 1) % self.checkpoint_interval == 0 or metrics.get("converged")
            t0 = time.time()
            if is_ckpt and self.checkpoint_dir is not None:
                # write from the (cached) state, reread to truncate lineage
                reread = self._checkpoint(new_state, k, metrics)
                new_state.unpersist()
                new_state = reread
            elif is_ckpt:
                # no storage checkpoint configured: still truncate the
                # logical plan (it grows per superstep and Catalyst analysis
                # cost explodes without this) — not resumable, but fast
                new_state = new_state.localCheckpoint(eager=True)
            metrics["ckpt_sec"] = round(time.time() - t0, 3)
            if state is not initial_state:
                state.unpersist()
            state = new_state
            all_metrics.append({"superstep": k, **metrics})
            if metrics.get("converged"):
                converged = True
                break
        return SuperstepResult(state, k + 1, converged, all_metrics, resumed_from)
