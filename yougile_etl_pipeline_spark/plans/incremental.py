"""Incremental snapshot loads — the reference's append-only hourly mart
semantics (``loaded_ts`` stamped per run, ``dags/yougile_etl_dag.py:280``,
16 appends/day ``:341``) made queryable at scale.

Layout: parquet partitioned by ``load_date`` (derived from ``loaded_ts``),
so every run appends new files into one partition directory — no rewrite,
and time travel prunes by directory. "Latest snapshot" discovery lists the
partition directories and reads the newest stamp from the newest one only,
never a full-table window.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["append_snapshot", "read_latest_snapshot", "snapshot_changes",
           "delta_join",
           "merge_upsert", "recover_merge_target",
           "merge_aggregates", "partial_aggregate", "scrub_keys",
           "missing_partitions", "backfill"]


def append_snapshot(mart: DataFrame, path: str) -> None:
    """Append one run's mart (must carry ``loaded_ts``) partitioned by its
    load date."""
    (mart.withColumn("load_date",
                     F.date_format("loaded_ts", "yyyy-MM-dd"))
         .write.mode("append").partitionBy("load_date").parquet(path))


def read_latest_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Rows of the most recent load only, found without reading the
    history.

    The newest ``load_date=`` directory that holds a data file comes
    from a listing (the rule `missing_partitions` uses, so a killed
    write's empty directory is skipped), and only that directory is
    read, with ``path`` as the partition base so ``load_date`` stays a
    DATE column. The schema comes from a Spark-written footer on the
    driver, so the one Spark job here is the top-1 over ``loaded_ts``
    that finds the newest stamp; a global max would add a shuffle stage
    that AQE runs as a second job.

    The stamp then selects the newest load's rows as data, the way
    `relational.stamp` adds it: ``array_contains`` over a one-element
    array cast to the column's type (so a missing stamp matches no
    row), which generated code reads through ``references[]``; a
    ``loaded_ts ==`` literal would be compiled into the scan stage and
    cost every hourly readback 2 new classes (ENGINE.md house rule 7).
    Nothing is lost by not pushing the stamp to parquet: Spark writes
    ``loaded_ts`` as INT96, which has no row-group statistics, so a
    pushed filter skips no row group (5 loads in one day at sf0.1: the
    scan decodes 2,017,195 rows to return 403,439 either way). Reading
    only the newest load's files needs a stamp with statistics or a
    per-file discovery (ROADMAP direction 1)."""
    from yougile_etl_pipeline_spark import fsutil

    dates = sorted(
        (name.split("=", 1)[1] for name in fsutil.listdir(path)
         if name.startswith("load_date=")
         and name != "load_date=__HIVE_DEFAULT_PARTITION__"),
        reverse=True)
    for day in dates:
        part = fsutil.join(path, f"load_date={day}")
        files = _data_files(part)
        if files:
            break
    else:
        raise FileNotFoundError(f"no load with data files under {path}")
    reader = spark.read.option("basePath", path)
    schema = fsutil.parquet_spark_schema(fsutil.join(part, files[0]))
    if schema is not None:
        reader = reader.schema(schema.add("load_date", "date"))
    loads = reader.parquet(part)
    newest = (loads.select("loaded_ts").orderBy(F.col("loaded_ts").desc())
              .limit(1).collect())
    latest_ts = newest[0][0] if newest else None
    ts_type = loads.schema["loaded_ts"].dataType
    return loads.filter(F.array_contains(
        F.array(F.lit(latest_ts).cast(ts_type)), F.col("loaded_ts")))


def _data_files(d: str) -> list[str]:
    """Non-hidden parquet files directly under directory `d` ([] when
    `d` is missing or holds none, e.g. after a killed write)."""
    from yougile_etl_pipeline_spark import fsutil

    if not fsutil.is_dir(d):
        return []
    return [f for f in fsutil.listdir(d)
            if f.endswith(".parquet") and not f.startswith(".")]


def snapshot_changes(history: DataFrame, keys: list[str],
                     tracked: list[str]) -> DataFrame:
    """Change log across snapshots: one row per (key, load) where any
    tracked attribute differs from the previous load — an SCD-style diff
    computed with one window over (keys ORDER BY loaded_ts). Shuffles on
    the business key once; comparisons are null-safe."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy("loaded_ts")
    changed = F.lit(False)
    for c in tracked:
        prev = F.lag(c).over(w)
        changed = changed | ~F.col(c).eqNullSafe(prev)
    first = F.lag(tracked[0]).over(w).isNull() & \
        F.lag("loaded_ts").over(w).isNull()
    return (history
            .withColumn("is_first_load", first)
            .withColumn("changed", changed | first)
            .filter(F.col("changed"))
            .select(*keys, "loaded_ts", "is_first_load", *tracked))


def merge_upsert(spark: SparkSession, target_path: str, updates: DataFrame,
                 keys: list[str], *, partition_col: str | None = None) -> None:
    """MERGE (upsert) into a parquet mart: rows matching `keys` are
    replaced by `updates`, new keys are inserted (extension — the
    reference only appends).

    Scale strategy: with `partition_col`, only the partitions *touched by
    the updates* are rewritten, via dynamic partition overwrite — a
    100 TB target with a 1-partition update rewrites one directory. The
    anti-join keeps surviving rows; everything stays distributed (no
    collect, no full-table rewrite). Unpartitioned targets fall back to a
    staging-directory swap (small marts only; document Delta/Iceberg for
    transactional multi-writer needs).

    All directory manipulation goes through ``fsutil`` (Hadoop
    FileSystem API), so the same code path works on hdfs:// / s3a:// /
    local — never driver-local ``os`` calls that silently no-op off-box.
    """
    from yougile_etl_pipeline_spark import fsutil

    target_exists = fsutil.exists(target_path)
    if not target_exists:
        writer = updates.write.mode("overwrite")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(target_path)
        return

    target = spark.read.parquet(target_path)

    if partition_col:
        # Partitions to rewrite = those holding the updates' NEW rows
        # plus those holding the OLD rows of any updated key: an update
        # that moves a key to a different partition_col value must also
        # rewrite the key's old partition, or the stale row survives
        # there and the business key is duplicated. Both reads are
        # key-only column scans; the key anti-join below is global (not
        # restricted to touched partitions) for the same reason.
        upd_keys = updates.select(*keys).distinct()
        touched_new = [r[0] for r in
                       updates.select(partition_col).distinct().collect()]
        touched_old = [r[0] for r in
                       target.join(upd_keys, keys, "left_semi")
                             .select(partition_col).distinct().collect()]
        touched = sorted({*touched_new, *touched_old})
        survivors = (target
                     .filter(F.col(partition_col).isin(touched))
                     .join(upd_keys, keys, "left_anti"))
        merged = survivors.unionByName(updates)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                              "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            present = {r[0] for r in
                       merged.select(partition_col).distinct().collect()}
            (merged.write.mode("overwrite").partitionBy(partition_col)
                   .parquet(target_path))
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        # Dynamic overwrite only rewrites partitions PRESENT in the written
        # data: a touched partition left with zero rows (every row moved
        # out or replaced elsewhere) keeps its stale files unless dropped
        # explicitly.
        for p_val in touched:
            if p_val not in present:
                fsutil.rmtree(
                    fsutil.join(target_path, f"{partition_col}={p_val}"))
        return

    merged = (target.join(updates.select(*keys).distinct(), keys, "left_anti")
              .unionByName(updates))
    # Crash-safe swap: write staging, move the live tree aside, promote
    # staging, then drop the old copy. A crash between any two steps
    # leaves either the old or the new mart intact under a recoverable
    # name (never a half-deleted live directory); recover_merge_target()
    # repairs the directory on the next run. Rename atomicity is the
    # filesystem's (HDFS: atomic; S3A: copy — which is why the repair
    # path exists at all).
    base = target_path.rstrip("/")
    staging, backup = base + "__staging", base + "__old"
    merged.write.mode("overwrite").parquet(staging)
    fsutil.rmtree(backup)              # leftover from a prior crash
    fsutil.rename(target_path, backup)
    fsutil.rename(staging, target_path)
    fsutil.rmtree(backup)


def recover_merge_target(target_path: str) -> str:
    """Repair a merge_upsert target after a crash mid-swap. Returns the
    state found: 'clean' (nothing to do), 'promoted_staging' (crash after
    the live tree moved aside — the fully-written staging is promoted),
    or 'restored_backup' (staging incomplete or missing — the old tree is
    put back)."""
    from yougile_etl_pipeline_spark import fsutil

    base = target_path.rstrip("/")
    staging, backup = base + "__staging", base + "__old"
    if fsutil.exists(target_path):
        # live tree intact; drop whichever temps remain
        fsutil.rmtree(staging)
        fsutil.rmtree(backup)
        return "clean"
    if fsutil.exists(fsutil.join(staging, "_SUCCESS")):
        fsutil.rename(staging, target_path)
        fsutil.rmtree(backup)
        return "promoted_staging"
    if fsutil.exists(backup):
        fsutil.rename(backup, target_path)
        fsutil.rmtree(staging)
        return "restored_backup"
    raise FileNotFoundError(
        f"no live, staging, or backup tree at {target_path}")


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str],
                  tracked: list[str]) -> DataFrame:
    """CDC-style diff of two snapshots of the same table: one row per
    business key present in either side, labeled ``added`` / ``removed``
    / ``changed`` / ``unchanged``, plus a deterministic comma-joined
    list of the tracked columns whose values differ (null-safely).

    The companion to `snapshot_changes` (which walks one table's load
    history with a window): this compares two independent materialized
    loads — the audit you run before trusting an upsert, or to emit a
    change feed downstream. One full-outer shuffle join on the business
    key; comparisons are per-row expressions. At 100 TB both sides hash-
    partition on the same key so AQE coalesces the exchange; no
    broadcast, no window, no driver state."""
    om = old.select(*keys, F.lit(1).alias("__in_old"),
                    *[F.col(c).alias(f"__o_{c}") for c in tracked])
    nm = new.select(*keys, F.lit(1).alias("__in_new"),
                    *[F.col(c).alias(f"__n_{c}") for c in tracked])
    j = om.join(nm, on=keys, how="full_outer")
    diff_flags = [
        F.when(~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}")), F.lit(c))
        for c in tracked
    ]
    changed_cols = F.filter(F.array(*diff_flags), lambda x: x.isNotNull())
    both = F.col("__in_old").isNotNull() & F.col("__in_new").isNotNull()
    changed_str = F.when(both, F.concat_ws(",", changed_cols)) \
                   .otherwise(F.lit(""))
    return j.select(
        *keys,
        F.when(F.col("__in_old").isNull(), F.lit("added"))
         .when(F.col("__in_new").isNull(), F.lit("removed"))
         .when(changed_str != "", F.lit("changed"))
         .otherwise(F.lit("unchanged")).alias("status"),
        changed_str.alias("changed_cols"))


def merge_aggregates(stored: DataFrame, batch: DataFrame,
                     keys: list[str]) -> DataFrame:
    """Fold a new batch's partial aggregates into a stored aggregate mart
    WITHOUT rescanning history — the incremental-rollup shape.

    Both inputs carry the same mergeable state per key: ``cnt`` (long),
    ``total`` (decimal — exact, so merge order can't change the result),
    ``min_v``/``max_v``. count/sum/min/max are associative+commutative,
    so ``merged(history ∪ batch) == recompute(all data)`` exactly; the
    derived mean is computed at read time from the merged state, never
    stored. At 100 TB this is the difference between an hourly job that
    reads one hour and one that reads three years; the merge shuffles
    only ``|keys| × distinct-key`` aggregate rows, not facts.

    Non-mergeable aggregates (exact median, count-distinct) need sketch
    state instead (quantile/HLL — `registry_analytics` sketches); that is
    a different contract, kept out of this operator on purpose."""
    merged = (stored.unionByName(batch)
              .groupBy(*keys)
              .agg(F.sum("cnt").alias("cnt"),
                   # keep the EXACT decimal as the stored state: the
                   # output must itself be mergeable (chained daily
                   # merges), so the sum is re-narrowed to the state
                   # scale — decimal(20,6) holds ±1e14 in micro-units,
                   # the documented range contract — and never rounded
                   # through double. Doubles are read-time views only.
                   F.sum("total").cast("decimal(20,6)").alias("total"),
                   F.min("min_v").alias("min_v"),
                   F.max("max_v").alias("max_v")))
    return merged.withColumn(
        "mean_v", F.col("total").cast("double") / F.col("cnt"))


def partial_aggregate(facts: DataFrame, keys: list[str],
                      value_col: str) -> DataFrame:
    """The mergeable state for one slice of facts (one batch, one hour,
    one partition): count / exact decimal sum / min / max per key. The
    decimal(20,6) cast makes the sum independent of partition order —
    the determinism contract every other aggregate in the engine uses."""
    v = F.col(value_col)
    return facts.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(v.cast("decimal(20,6)")).alias("total"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"))


def scrub_keys(spark: SparkSession, target_path: str, scrub: DataFrame,
               keys: list[str], *, partition_col: str | None = None) -> int:
    """Erasure sweep ("right to be forgotten"): delete every row of the
    mart matching a key in `scrub`, rewriting as little as possible.

    With `partition_col`, only partitions that actually CONTAIN a
    scrubbed key are rewritten (located by a key-only semi-join — a
    column-pruned scan), via dynamic partition overwrite; a 100 TB mart
    with victims in 3 partitions rewrites 3 directories. A partition
    left empty by the scrub is dropped explicitly (dynamic overwrite
    only touches partitions present in the written data). Unpartitioned
    targets go through the same crash-safe staging swap as
    `merge_upsert` (`recover_merge_target` repairs either way).

    Returns the number of rows removed — the audit line the erasure job
    must log."""
    from yougile_etl_pipeline_spark import fsutil

    target = spark.read.parquet(target_path)
    victims = scrub.select(*keys).distinct()
    removed = target.join(victims, keys, "left_semi").count()
    if removed == 0:
        return 0

    if partition_col:
        touched = [r[0] for r in
                   target.join(victims, keys, "left_semi")
                         .select(partition_col).distinct().collect()]
        survivors = (target.filter(F.col(partition_col).isin(touched))
                     .join(victims, keys, "left_anti"))
        present = {r[0] for r in
                   survivors.select(partition_col).distinct().collect()}
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                              "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (survivors.write.mode("overwrite").partitionBy(partition_col)
             .parquet(target_path))
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        for p_val in touched:
            if p_val not in present:
                fsutil.rmtree(
                    fsutil.join(target_path, f"{partition_col}={p_val}"))
        return removed

    if any("=" in d and fsutil.is_dir(fsutil.join(target_path, d))
           for d in fsutil.listdir(target_path)):
        raise ValueError(
            f"{target_path} is partitioned; pass partition_col= so the "
            f"scrub rewrites only victim partitions (the flat swap would "
            f"silently flatten the layout)")
    survivors = target.join(victims, keys, "left_anti")
    base = target_path.rstrip("/")
    staging, backup = base + "__staging", base + "__old"
    survivors.write.mode("overwrite").parquet(staging)
    fsutil.rmtree(backup)
    fsutil.rename(target_path, backup)
    fsutil.rename(staging, target_path)
    fsutil.rmtree(backup)
    return removed


def missing_partitions(path: str, expected: list[str],
                       *, partition_col: str = "load_date") -> list[str]:
    """Backfill planner (the reference's Airflow ``catchup`` semantics,
    ``dags/yougile_etl_dag.py`` schedule, expressed over the mart
    itself): which expected partition values have no directory — or an
    incomplete one (present but no data files, e.g. a killed write) —
    under ``path``. Driver-side metadata listing only (via the Hadoop
    FileSystem API — works on any scheme); the mart's row data is never
    read."""
    from yougile_etl_pipeline_spark import fsutil

    return [val for val in expected
            if not _data_files(fsutil.join(path, f"{partition_col}={val}"))]


def backfill(spark: SparkSession, path: str, expected: list[str],
             build_fn, *, partition_col: str = "load_date") -> list[str]:
    """Run ``build_fn(spark, value) -> DataFrame`` for every missing
    partition and append it under its directory. Idempotent by
    construction: re-running skips partitions that already landed, so a
    crashed backfill resumes where it died (each partition write is
    atomic at the directory level — the unit Airflow retries, too).
    Returns the values actually built, in order."""
    built = []
    for val in missing_partitions(path, expected,
                                  partition_col=partition_col):
        df = build_fn(spark, val)
        (df.withColumn(partition_col, F.lit(val))
           .write.mode("append").partitionBy(partition_col).parquet(path))
        built.append(val)
    return built


def delta_join(hist_a: DataFrame, delta_a: DataFrame,
               hist_b: DataFrame, delta_b: DataFrame,
               on: list[str] | str, *,
               broadcast_deltas: bool = True) -> DataFrame:
    """Incremental maintenance of a materialized inner join: the NEW
    rows the join gains when batch ``delta_a``/``delta_b`` arrive.

    Join algebra: (A ∪ dA) ⋈ (B ∪ dB) = A⋈B  ∪  dA⋈(B ∪ dB)  ∪  A⋈dB.
    The stored mart already holds A⋈B, so the delta is the two
    batch-sided joins — history never re-joins history. At 100 TB
    that's the whole point: per-load cost scales with the BATCH, and
    with small deltas broadcast both batch joins shuffle nothing
    (``broadcast_deltas``; disable when a backfill delta is large and
    should hash-join instead).

    Multiset semantics (duplicates preserved) so appending the result
    to the stored join is exactly equivalent to recomputing it.
    """
    da = F.broadcast(delta_a) if broadcast_deltas else delta_a
    db = F.broadcast(delta_b) if broadcast_deltas else delta_b
    part1 = da.join(hist_b.unionByName(delta_b), on)
    part2 = hist_a.join(db, on)
    return part1.unionByName(part2)
