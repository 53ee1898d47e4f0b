"""Config-driven daily task DAG — the Spark re-expression of the
reference's BigQuery table/view pipeline (SURVEY §3.3):

* hard-coded topo order + ``src`` params
  (``/root/reference/tasks/bigquery.py:416-461``,
  ``configs/bigquery.py:8-322``)      → declared deps, topo-sorted here
* table task: delete-partition + append
  (``tasks/bigquery.py:182-195,315-347``) → dynamic partition overwrite
* view task (``tasks/bigquery.py:137-150``) → temp view over the chain
  (Catalyst collapses a chain of views into ONE optimized plan per
  materialized table — the intra-day fusion the reference can't do)
* fan-out views: a view that two or more tasks list in their ``deps``
  is persisted when it is built, so its readers plan over one
  ``InMemoryRelation`` and the day computes it once instead of once per
  reader (a BigQuery view re-runs for every query that reads it).
  Every frame persisted for a day is unpersisted when the day ends,
  also when a task raises: a cache that outlived its day would hold
  memory and be re-cached by every later write to a path it reads.
* self-referencing incremental table with init query
  (``sql/mango_feature_cohort_date.sql:6,20``,
  ``sql/init_mango_feature_cohort_date.sql``) → ``ctx.read_dest`` +
  ``init_fn`` bootstrap
* backfill_days re-runs (``tasks/bigquery.py:42-55,464-474``) →
  one dynamic overwrite covering the trailing window

Scale: materialized tables are date-partitioned parquet, so every
downstream daily read prunes to one partition; a day's chain of views
executes as a single Spark job per table write, not 18 BigQuery jobs.
"""

from __future__ import annotations

import json
import os
import time
from collections import Counter
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from graphlib import TopologicalSorter

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from taipei_bi_etl_spark.io import write_partitioned


@dataclass
class TaskContext:
    """Handed to every task fn: upstream outputs + own-destination access."""

    spark: SparkSession
    pipeline: "Pipeline"
    date: str  # execution date YYYY-MM-DD
    task: "TaskSpec"

    def src(self, name: str) -> DataFrame:
        """Upstream output (view plan or materialized table scan)."""
        return self.pipeline._resolve(self.spark, name)

    def read_dest(self) -> DataFrame | None:
        """This task's own existing destination (the incremental
        self-reference pattern), or None before first materialization.
        A missing directory, or one holding no data files (an init
        bootstrap that found no history writes zero partitions), is
        absent.  Any other read failure raises: an unreadable table is
        never taken for a first run, which would re-bootstrap it."""
        path = self.pipeline._table_path(self.task.name)
        if not _has_data_files(path):
            return None
        return self.spark.read.parquet(path)


def _has_data_files(path: str) -> bool:
    """Whether ``path`` holds a file Spark would read: one whose name
    does not start with ``_`` or ``.`` (``_SUCCESS``, ``.crc`` files and
    ``_temporary`` are not data), in the directory or a partition
    directory below it."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        if any(not f.startswith(("_", ".")) for f in files):
            return True
    return False


class CleanupPolicy:
    """Pre-write destination cleanup beyond the generic dynamic
    partition overwrite — the reference's two CUSTOM cleanup queries as
    declarative DAG policy (VERDICT r01 #7)."""

    def apply(self, ctx: "TaskContext", path: str) -> None:  # pragma: no cover
        raise NotImplementedError


@dataclass
class RollingWipe(CleanupPolicy):
    """``sql/cleanup_mango_cohort_retained_users.sql``: DELETE WHERE
    partition >= start_date - N days.  Dynamic overwrite already
    replaces partitions the recompute WRITES; the wipe removes window
    partitions the recompute produced no rows for (a cohort day whose
    activity aged out) — without it those go stale forever.

    Scale: pure partition-metadata surgery — directory removals, no
    data read."""

    days: int

    def apply(self, ctx: "TaskContext", path: str) -> None:
        import datetime
        import shutil

        if not os.path.exists(path):
            return
        t = ctx.task
        d0 = datetime.date.fromisoformat(ctx.date)
        lo = d0 - datetime.timedelta(days=self.days)
        for entry in os.listdir(path):
            if not entry.startswith(f"{t.partition_col}="):
                continue
            val = entry.split("=", 1)[1]
            try:
                part_date = datetime.date.fromisoformat(val)
            except ValueError:
                continue
            if lo <= part_date <= d0:
                shutil.rmtree(os.path.join(path, entry))


@dataclass
class DeleteByKeys(CleanupPolicy):
    """``sql/cleanup_mango_user_channels.sql``: DELETE rows whose key
    appears in today's source (the clients being re-attributed land in
    TODAY's partition; their previous attribution lives in OLD
    partitions and must go, or the table holds two rows per client).

    Scale path (BigQuery scans the whole table for this DELETE): the
    victim keys join against the dest ONCE to find the affected
    partitions, then ONLY those partitions are rewritten minus victims
    via dynamic overwrite — partitions untouched by any victim are
    never read or written."""

    key_col: str
    victims_fn: Callable[["TaskContext"], DataFrame]

    def apply(self, ctx: "TaskContext", path: str) -> None:
        if not os.path.exists(path):
            return
        t = ctx.task
        dest = ctx.spark.read.parquet(path)
        victims = self.victims_fn(ctx).select(self.key_col).distinct()
        affected = (
            # bounded: victim partition-key list (distinct partition values)
            dest.join(F.broadcast(victims), self.key_col, "left_semi")
            .select(t.partition_col)
            .distinct()
        )
        affected_vals = [r[0] for r in affected.collect()]
        if not affected_vals:
            return
        keep = (
            dest.filter(F.col(t.partition_col).isin(affected_vals))
            # bounded: victim partition-key list
            .join(F.broadcast(victims), self.key_col, "left_anti")
        )
        # rewrite only the affected partitions (dynamic overwrite);
        # partitions that lost ALL rows need explicit removal since an
        # empty frame writes nothing
        import shutil

        kept_vals = {
            str(r[0])
            for r in keep.select(t.partition_col).distinct().collect()
        }
        # `keep` lazily reads the very path being overwritten.  That is
        # safe ONLY under dynamic partition overwrite (commit replaces
        # matching partitions after the job has read its input); under
        # static mode Spark truncates the whole path at job start and
        # the read returns nothing.  Don't trust session config drift —
        # force dynamic for the duration of this write.
        conf = ctx.spark.conf
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = conf.get(key, None)
        conf.set(key, "dynamic")
        try:
            keep.write.mode("overwrite").partitionBy(
                t.partition_col
            ).parquet(path)
        finally:
            if prev is None:
                conf.unset(key)
            else:
                conf.set(key, prev)
        for v in affected_vals:
            if str(v) not in kept_vals:
                gone = os.path.join(path, f"{t.partition_col}={v}")
                if os.path.exists(gone):
                    shutil.rmtree(gone)


@dataclass
class TaskSpec:
    """One node: view (lazy plan) or table (date-partitioned parquet)."""

    name: str
    fn: Callable[[TaskContext], DataFrame]
    deps: Sequence[str] = ()
    kind: str = "table"  # "table" | "view"
    partition_col: str = "day"
    init_fn: Callable[[TaskContext], DataFrame] | None = None
    backfill_days: Sequence[int] = field(default_factory=tuple)
    # table writes cover [date - window_days, date] instead of the
    # single execution date (the 112-day retained-users recompute)
    window_days: int | None = None
    cleanup: CleanupPolicy | None = None


class Pipeline:
    """Topo-ordered daily pipeline over a parquet warehouse dir."""

    def __init__(self, tasks: Sequence[TaskSpec], warehouse: str):
        self.tasks = {t.name: t for t in tasks}
        if len(self.tasks) != len(tasks):
            raise ValueError("duplicate task names")
        ts = TopologicalSorter({t.name: set(t.deps) for t in tasks})
        self.order = list(ts.static_order())
        self.warehouse = warehouse
        self._views: dict[str, DataFrame] = {}
        # views two or more tasks read: run_day persists them for the day
        readers = Counter(d for t in tasks for d in t.deps)
        self._fan_out = {
            t.name for t in tasks if t.kind == "view" and readers[t.name] >= 2
        }

    def _table_path(self, name: str) -> str:
        return os.path.join(self.warehouse, name)

    def _resolve(self, spark: SparkSession, name: str) -> DataFrame:
        t = self.tasks[name]
        if t.kind == "view":
            return self._views[name]
        return spark.read.parquet(self._table_path(name))

    def run_day(self, spark: SparkSession, date: str) -> None:
        """Run the whole DAG for one execution date, idempotently: table
        writes are dynamic-partition overwrites of that date (and its
        backfill window), views are re-registered plans.  Fan-out views
        are persisted for the day and released when it ends, also when a
        task raises."""
        persisted: list[DataFrame] = []
        try:
            self._run_tasks(spark, date, persisted)
        finally:
            for df in persisted:
                df.unpersist(blocking=True)

    def _run_tasks(
        self, spark: SparkSession, date: str, persisted: list[DataFrame]
    ) -> None:
        for name in self.order:
            t = self.tasks[name]
            ctx = TaskContext(spark=spark, pipeline=self, date=date, task=t)
            if t.kind == "view":
                df = t.fn(ctx)
                if name in self._fan_out:
                    df = df.persist()
                    persisted.append(df)
                self._views[name] = df
                continue
            if t.init_fn is not None and ctx.read_dest() is None:
                init_df = t.init_fn(ctx)
                write_partitioned(
                    init_df, self._table_path(name), t.partition_col
                )
            out = t.fn(ctx)
            # restrict to the execution date plus the backfill/recompute
            # window
            if t.window_days is not None:
                window = out.filter(
                    F.col(t.partition_col).between(
                        F.date_sub(F.lit(date), t.window_days), F.lit(date)
                    )
                )
            elif t.backfill_days:
                window = (
                    out.filter(
                        F.col(t.partition_col).between(
                            F.date_sub(F.lit(date), max(t.backfill_days)),
                            F.lit(date),
                        )
                    )
                )
            else:
                window = out.filter(F.col(t.partition_col) == F.lit(date))
            if t.cleanup is not None:
                t.cleanup.apply(ctx, self._table_path(name))
            # run manifest: row count + partition bounds observed BY the
            # write action itself (df.observe — no second scan; the
            # reference's post-hoc asserts each re-scan the frame)
            obs = Observation(f"{name}@{date}")
            window = window.observe(
                obs,
                F.count(F.lit(1)).alias("n_rows"),
                F.min(t.partition_col).alias("min_part"),
                F.max(t.partition_col).alias("max_part"),
            )
            t0 = time.perf_counter()
            write_partitioned(window, self._table_path(name), t.partition_col)
            got = obs.get
            with open(
                os.path.join(self.warehouse, "_manifest.jsonl"), "a"
            ) as fh:
                fh.write(
                    json.dumps(
                        {
                            "date": date,
                            "task": name,
                            "n_rows": got["n_rows"],
                            "min_part": str(got["min_part"]),
                            "max_part": str(got["max_part"]),
                            "sec": round(time.perf_counter() - t0, 3),
                        },
                        sort_keys=True,
                    )
                    + "\n"
                )

    def run_range(self, spark: SparkSession, dates: Sequence[str]) -> None:
        for d in dates:
            self.run_day(spark, d)
