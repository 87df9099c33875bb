"""The reference pipeline itself, Spark-first: five Airflow/pandas stages
(``dags/yougile_etl_dag.py:372``) as ONE lazy DataFrame lineage.

Stage map (reference → here):

1. ``get_df_yg_brd_clmn`` (``:109-138``)   → `board_columns`
2. ``get_df_yg_str_stickers`` (``:141-162``) → `sticker_states` + `hub`
3. ``get_df_yg_tasks`` (``:165-247``)      → `task_fact` (+ D1 audit)
4. ``prepare_result_df_for_insert`` (``:249-322``) → `build_yougile_mart`
5. ``insert_result_df_to_db`` (``:325-333``) → caller writes via
   `sources.sinks` (parquet partitioned by load date, or JDBC append)

Semantic parity points, each a reference gotcha (SURVEY.md §2):

* stickers are a ``map<string,string>`` — the dynamic dotted columns
  ``stickers.<uuid>`` from ``pd.json_normalize`` (``:176,182-193``)
  become ``element_at``; a task without the sticker yields NULL, exactly
  reproducing the add-missing-as-null conform (``:90-94``).
* tasks.subtasks explodes with ``explode_outer`` — pandas keeps a NaN
  row for subtask-less tasks (``:222``).
* ``deleted != True`` keeps NULLs (``:239``) — `null_safe_neq`.
* six hub joins are broadcast lookups from the exploded sticker states
  (``:257-277``).
* D1 orphan audit (``:241-244``) returns a metrics frame; the caller
  alerts — the run is NOT failed, matching the reference's
  soft-failure policy (``:243-244`` posts to Telegram and proceeds).

Scale: the fact side shuffles once (subtask join at most); every hub is
broadcast; one lineage means no XCom-style materialization between
stages.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yougile_etl_pipeline_spark.functions.scalar import (
    clean_numeric,
    coalesce_cols,
    epoch_ms_to_date,
    parse_ddmmyyyy,
    split_range,
    strip_spaces,
)
from yougile_etl_pipeline_spark.operators.relational import (
    dedup_full,
    left_lookup_join,
    member_filter,
    null_safe_neq,
    orphan_audit,
    stamp,
)
from yougile_etl_pipeline_spark.operators.reshape import (
    explode_keep_empty,
    explode_structs,
)

__all__ = ["YougileConfig", "board_columns", "sticker_states", "hub",
           "task_fact", "build_yougile_mart"]


@dataclass
class YougileConfig:
    """Pipeline configuration (the reference hardcodes these: tracked-board
    list via Airflow Variable ``:17-22``, sticker uuids as dotted column
    names ``:182-193``, hub display names ``:257-267``)."""

    tracked_boards: list[str]
    # mart attribute -> sticker uuid carried in task.stickers map
    task_stickers: dict[str, str] = field(default_factory=dict)
    # mart attribute -> sticker uuid carried in subtask.stickers map
    subtask_stickers: dict[str, str] = field(default_factory=dict)
    # mart attribute -> sticker display name (hub slice key, :257-267)
    hub_names: dict[str, str] = field(default_factory=dict)


def board_columns(boards: DataFrame, columns: DataFrame,
                  tracked_boards: list[str]) -> DataFrame:
    """Stage 1 (``dags/yougile_etl_dag.py:109-138``): project/rename both
    entities, left-join columns→boards on board_id, filter to tracked
    boards (P5)."""
    b = boards.select(F.col("title").alias("board_name"),
                      F.col("projectId").alias("project_id"),
                      F.col("id").alias("board_id"))
    c = columns.select(F.col("title").alias("column_name"),
                       F.col("boardId").alias("board_id"),
                       F.col("id").alias("column_id"))
    j = left_lookup_join(c, b, "board_id")
    return member_filter(j, "board_name", tracked_boards)


def sticker_states(stickers: DataFrame) -> DataFrame:
    """Stage 2 (``:141-162``): explode the nested states array (R1) and
    extract id/name natively (R3 — replaces the two dict-get lambdas at
    ``:156-157`` with struct access, zero UDFs)."""
    s = stickers.select(F.col("id").alias("str_sticker_id"),
                        F.col("name").alias("str_sticker_name"),
                        F.col("states").alias("str_sticker_states"))
    return explode_structs(
        s, "str_sticker_states", "state",
        {"id": "str_sticker_state_id", "name": "str_sticker_state_name"})


def hub(states: DataFrame, display_name: str, attr: str) -> DataFrame:
    """``get_local_hub`` (``:101-106``): slice one sticker's states into a
    two-column lookup (state_id → human name)."""
    return states.filter(F.col("str_sticker_name") == display_name).select(
        F.col("str_sticker_state_id").alias(f"{attr}_state_id"),
        F.col("str_sticker_state_name").alias(attr))


def task_fact(tasks: DataFrame, subtasks: DataFrame,
              cfg: YougileConfig) -> tuple[DataFrame, DataFrame]:
    """Stage 3 (``:165-247``): rename, explode subtask ids (R2, outer),
    join subtask attributes (J2), coalesce duplicate sticker fields (F1),
    null-keeping deleted filter (P6). Returns (fact, audit) — audit is the
    D1 orphan-metric frame (``:241-244``)."""
    t = tasks.select(
        F.col("title").alias("task_name"),
        F.col("timestamp").alias("task_creation_dt"),
        F.col("id").alias("task_id"),
        F.col("columnId").alias("column_id"),
        F.col("subtasks").alias("subtask_ids"),
        *[F.element_at("stickers", uuid).alias(f"{attr}_state_id")
          for attr, uuid in cfg.task_stickers.items()],
    )
    t = explode_keep_empty(t, "subtask_ids", "subtask_id")

    st = subtasks.select(
        F.col("id").alias("subtask_id"),
        F.col("title").alias("subtask_name"),
        F.col("deleted").alias("deleted"),
        *[F.element_at("stickers", uuid).alias(f"{attr}_raw")
          for attr, uuid in cfg.subtask_stickers.items()],
        F.col("deadline.startDate").alias("deadline_start_ms"),
        F.col("deadline.deadline").alias("deadline_end_ms"),
    )
    # F1: the reference coalesces duplicated sticker fields
    # (loading_dates1/2, discharging_place1/2, :227-234).
    if {"loading_dates1", "loading_dates2"} <= set(cfg.subtask_stickers):
        st = st.withColumn("loading_dates",
                           coalesce_cols("loading_dates1_raw",
                                         "loading_dates2_raw")) \
               .drop("loading_dates1_raw", "loading_dates2_raw")
    if {"discharging_place1", "discharging_place2"} <= set(cfg.subtask_stickers):
        st = st.withColumn("discharging_place",
                           coalesce_cols("discharging_place1_raw",
                                         "discharging_place2_raw")) \
               .drop("discharging_place1_raw", "discharging_place2_raw")
    st = st.withColumnsRenamed(
        {c: c.removesuffix("_raw") for c in st.columns if c.endswith("_raw")})

    fact = t.join(st, "subtask_id", "left")
    # P6: pandas-semantics filter — tasks whose subtask list was empty
    # (deleted NULL after the outer explode + left join) must survive.
    fact = fact.filter(null_safe_neq(F.col("deleted"), True))
    # D1: subtask id present but its attributes missing ⇒ lost data.
    audit = orphan_audit(fact, "subtask_id", "subtask_name")
    return fact, audit


def build_yougile_mart(
    boards: DataFrame, columns: DataFrame, stickers: DataFrame,
    tasks: DataFrame, subtasks: DataFrame,
    cfg: YougileConfig, loaded_ts: dt.datetime,
) -> tuple[DataFrame, DataFrame]:
    """Stages 1–4 as one lineage; returns (mart, audit).

    Column set mirrors ``sql/ddl.sql:2-24`` / the final projection at
    ``dags/yougile_etl_dag.py:298-319``."""
    brd_clmn = board_columns(boards, columns, cfg.tracked_boards)
    states = sticker_states(stickers)
    fact, audit = task_fact(tasks, subtasks, cfg)

    # Stage 4 (:249-322): six broadcast hub joins + normalization.
    enr = left_lookup_join(fact, brd_clmn, "column_id")
    for attr, display in cfg.hub_names.items():
        enr = left_lookup_join(enr, hub(states, display, attr),
                               f"{attr}_state_id")

    # F2+F3: strip spaces then split 'dd.MM.yyyy-dd.MM.yyyy' (:283-284).
    # Presence-guarded: the config decides which sticker-derived columns
    # exist (mirrors the reference, where these lines only make sense for
    # the stickers its mapping dict produced).
    if "loading_dates" in enr.columns:
        enr = enr.withColumn("loading_dates", strip_spaces("loading_dates"))
        start_s, end_s = split_range("loading_dates")
        # F4: permissive dd.MM.yyyy parse (:288-289).
        enr = enr.withColumn("loading_start_date", parse_ddmmyyyy(start_s))
        enr = enr.withColumn("loading_end_date", parse_ddmmyyyy(end_s))
    # F5: epoch-ms → UTC-floored dates (:290-292).
    enr = enr.withColumn("task_creation_date",
                         epoch_ms_to_date("task_creation_dt"))
    enr = enr.withColumn("deadline_start_date",
                         epoch_ms_to_date("deadline_start_ms"))
    enr = enr.withColumn("deadline_end_date",
                         epoch_ms_to_date("deadline_end_ms"))
    # F6: ''→NULL→double quantities (:294-295).
    for q in ("quantity_plan", "quantity_fact"):
        if q in enr.columns:
            enr = enr.withColumn(q, clean_numeric(q))

    out_cols = [
        "task_name", "task_creation_date", "task_id",
        "subtask_name", "subtask_id", "board_name", "column_name",
        *cfg.hub_names,
        "quantity_plan", "quantity_fact",
        "loading_dates", "loading_start_date", "loading_end_date",
        "discharging_place", "deadline_start_date", "deadline_end_date",
    ]
    mart = enr.select(*[c for c in out_cols if c in enr.columns])
    # A1: final dedup (:319), then the P9 stamp (:280) as data — exact,
    # since every row of one run carries the same loaded_ts.
    mart = stamp(dedup_full(mart), "loaded_ts",
                 F.lit(loaded_ts).cast("timestamp"))
    return mart.select("loaded_ts", *mart.columns[:-1]), audit
