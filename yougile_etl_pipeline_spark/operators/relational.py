"""Relational operators (SURVEY.md §2.2–§2.6) with pinned semantics.

Each wrapper exists because the pandas original has a semantic subtlety a
naive Spark translation would break; the wrapper pins the correct behavior
and documents the scale strategy.
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "left_lookup_join",
    "null_safe_neq",
    "member_filter",
    "dedup_full",
    "stamp",
    "dedup_by_key",
    "union_by_name",
    "orphan_audit",
    "salted_join",
    "interval_join",
    "asof_join",
    "merge_intervals",
    "resample_ffill",
    "resample_interpolate",
    "grouped_topk",
]


def grouped_topk(df: DataFrame, group_cols: list[str],
                 order_cols: list[str], k: int) -> DataFrame:
    """Two-phase per-group top-k: the k smallest rows per group under
    the total order of ``order_cols``, WITHOUT a per-group total sort.

    A bare ``row_number() OVER (PARTITION BY group ORDER BY ...)``
    funnels every group's ENTIRE row set through one task for a full
    sort — with few, skewed group values (per-language corpus quotas:
    English ≫ everything else) that single task is the scale-killer at
    100 TB (VERDICT r07 "What's wrong" #1). This operator keeps the
    result bit-identical while bounding every task:

    * Phase 1 — partition-local top-k, ZERO shuffle: an Arrow-batched
      ``mapInPandas`` keeps, per input partition, only the k smallest
      rows per group seen so far (state ≤ |groups|·k rows, compacted
      per batch). This is the map-side combiner Spark's window
      operator lacks.
    * Phase 2 — global stitch: the survivors (≤ k·partitions·groups
      rows) go through the ordinary ``row_number`` window; each
      group's sort input is now bounded by k·partitions regardless of
      data volume or skew.

    ``order_cols`` must be a TOTAL order (append a unique id as the
    last column) or ties make both phases nondeterministic. Columns
    are compared ascending NULLS FIRST, matching Spark's default
    ascending window order (phase 1 sorts with pandas ``sort_values``
    ``na_position='first'`` so a null order key survives the local
    combiner exactly when the phase-2 window would rank it). String
    comparison agrees between the phases for ALL valid Unicode —
    pandas compares code points and Spark compares UTF-8 bytes, and
    UTF-8 byte order equals code-point order by construction; callers
    with non-default collations should pre-encode.

    ``order_cols`` must NOT be floating-point (raises on Double/Float
    order columns, ADVICE r09): pandas sorts NaN as NA (first, under
    ``na_position='first'``) while Spark's window orders NaN AFTER all
    numbers, and Arrow makes NULL and NaN doubles indistinguishable in
    phase 1 — the local combiner could evict rows the phase-2 window
    would keep. Quantize float order keys to integers (or format them
    to strings) before calling.
    """
    from pyspark.sql.types import DoubleType, FloatType
    from pyspark.sql.window import Window

    import pandas as pd

    sort_cols = list(order_cols)
    groups = list(group_cols)
    for c in sort_cols:
        if isinstance(df.schema[c].dataType, (DoubleType, FloatType)):
            raise ValueError(
                f"grouped_topk: order column {c!r} is floating-point — "
                f"pandas (NaN-as-NA, sorted first) and Spark (NaN after "
                f"all numbers) disagree on NaN placement, so the local "
                f"combiner could evict rows the window phase would "
                f"keep; quantize to integer ppm or stringify first")

    def _local_topk(batches):
        state: pd.DataFrame | None = None
        for pdf in batches:
            cur = (pdf if state is None
                   else pd.concat([state, pdf], ignore_index=True))
            cur = cur.sort_values(sort_cols, kind="mergesort",
                                  na_position="first",
                                  ignore_index=True)
            state = cur.groupby(groups, sort=False,
                                dropna=False).head(k)
        if state is not None and len(state):
            yield state

    local = df.mapInPandas(_local_topk, schema=df.schema)
    w = Window.partitionBy(*groups).orderBy(*sort_cols)
    return (local.withColumn("__rk", F.row_number().over(w))
                 .filter(F.col("__rk") <= k).drop("__rk"))


def left_lookup_join(fact: DataFrame, dim: DataFrame, on: str | list[str],
                     *, broadcast_dim: bool = True) -> DataFrame:
    """J1/J3–J8 — left join to a dimension ("hub") on *explicit* keys.

    The reference uses pandas natural joins (``merge(how='left')`` with no
    ``on=``, ``dags/yougile_etl_dag.py:132,237,270-277``) which silently
    join on every shared column — keys are pinned explicitly here
    (SURVEY.md §2.3 gotcha). Dimensions are broadcast: at 100 TB the fact
    side never shuffles for a hub lookup.
    """
    dim_side = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(dim_side, on=on, how="left")


def null_safe_neq(col: Column | str, value: Any) -> Column:
    """P6 — pandas-semantics ``col != value`` that KEEPS nulls.

    ``df[df['deleted'] != True]`` in pandas keeps NaN rows
    (``dags/yougile_etl_dag.py:239``); Spark's ``!=`` drops them under
    three-valued logic. ``NOT (col <=> value)`` restores the pandas
    behavior (SQL: ``col IS DISTINCT FROM value``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return ~c.eqNullSafe(F.lit(value))


def member_filter(df: DataFrame, col: str, values: list) -> DataFrame:
    """P5 — membership filter (``query('x in @LIST')``,
    ``dags/yougile_etl_dag.py:135``). An IN-list compiles to a pushed-down
    predicate reaching the parquet scan; for huge lists, join against a
    broadcast DataFrame instead."""
    return df.filter(F.col(col).isin(values))


def dedup_full(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """A1 — ``drop_duplicates`` (``dags/yougile_etl_dag.py:319``).

    Full-row distinct = hash aggregate over all columns — one shuffle on
    the full row; fine at mart width. See `dedup_by_key` for the 100 TB
    variant (shuffle on the business key only)."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def stamp(df: DataFrame, name: str, value: Any) -> DataFrame:
    """P9 — add column `name` holding one per-run constant (the
    reference's ``loaded_ts``, ``dags/yougile_etl_dag.py:280``) as data.

    A timestamp, date, int, long or boolean literal is written into
    whole-stage generated Java as a constant, so every new value gives
    the stage new source: a fresh Janino compile and a cold JIT on every
    hourly load. Here the value enters as ``explode`` of a one-element
    array: constant folding turns the array into an array literal, which
    generated code reaches through ``references[]``, and a generator's
    output is not a foldable alias, so ``FoldablePropagation`` cannot
    put the literal back. Builds that differ only in `value` compile to
    identical code. `value` is anything ``F.lit`` accepts, a Column
    included; one row in, one row out."""
    return df.select("*", F.explode(F.array(F.lit(value))).alias(name))


def dedup_by_key(df: DataFrame, keys: list[str],
                 order_by: list[Column]) -> DataFrame:
    """A1 at scale — keep exactly one row per business key, chosen by a
    deterministic order (``row_number() == 1``). Shuffles on `keys` only;
    AQE splits skewed keys. `order_by` must be a total order within a key
    for reproducible output."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


def dedup_by_key_agg(df: DataFrame, keys: list[str],
                     asc_cols: list[str]) -> DataFrame:
    """`dedup_by_key` restructured as an aggregation, for the case where
    ``keys + asc_cols`` are ALL of `df`'s columns and the survivor order
    is ascending over `asc_cols`: ``min(struct(asc_cols))`` picks exactly
    the ``row_number() == 1`` row (struct comparison is field-by-field
    lexicographic with NULLS FIRST — the same total order the window
    formulation's default ascending sort uses), so the output is
    identical row-for-row.

    Why it exists (r16 optimization round, guide §2.3 "aggregate before
    you shuffle"): the window formulation locally sorts the full input
    before its partial WindowGroupLimit, while this aggregates with a
    map-side partial min — no sort of the input stream at all; measured
    2× at sf0.1 (1.03 s → 0.54 s median) with a bit-identical result.
    Columns NOT covered by keys+asc_cols would be dropped by the struct
    projection, so this variant deliberately takes no payload columns —
    use `dedup_by_key` for the general case."""
    out_type = dict(df.dtypes)
    m = F.min(F.struct(*[F.col(c) for c in asc_cols])).alias("__m")
    return (df.groupBy(*keys).agg(m)
              .select(*keys,
                      *[F.col(f"__m.{c}").cast(out_type[c]).alias(c)
                        for c in asc_cols]))


def union_by_name(*dfs: DataFrame) -> DataFrame:
    """U1 — by-name union-all (``pd.concat``, ``dags/yougile_etl_dag.py:217``).

    By name, not positional, since page schemas vary; missing columns
    become NULLs (mirrors concat's outer alignment)."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )


def salted_join(big: DataFrame, skewed: DataFrame, on: str,
                *, how: str = "inner", salt: int = 8) -> DataFrame:
    """Skew-resistant equi-join: salt the big side's key into `salt`
    sub-keys and replicate the other side once per salt value.

    For hot keys that AQE's skew splitting can't fix (e.g. a single key
    holding >1 partition budget after splitting, or non-AQE engines).
    The replicated side grows ×salt — use when `skewed` is small relative
    to the hot partition, which is exactly the skew scenario. Results are
    identical to the plain join (salt columns are internal).

    Only ``inner`` and ``left`` are supported: an outer side that is
    replicated would emit its unmatched rows once per salt value, so
    right/full (and semi/anti on the replicated side) are rejected rather
    than silently duplicated. ``pmod`` (not ``abs % salt``) keeps the salt
    in range even when xxhash64 returns Long.MIN_VALUE, whose abs()
    overflows back to a negative."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: the "
            "replicated side would emit unmatched rows once per salt")
    big_s = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*big.columns), F.lit(salt)).cast("int"))
    rep = skewed.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)])))
    out = big_s.join(rep, [on, "__salt"], how)
    return out.drop("__salt")


def orphan_audit(fact: DataFrame, probe_col: str, miss_col: str) -> DataFrame:
    """D1 — lost-data invariant: rows where the foreign key is present but
    the joined attribute is NULL ⇒ the child row failed to arrive
    (``dags/yougile_etl_dag.py:241-244``). Returns a 1-row metrics frame;
    caller alerts when ``orphan_count > 0``."""
    return fact.select(
        F.sum(
            (F.col(probe_col).isNotNull() & F.col(miss_col).isNull())
            .cast("long")
        ).alias("orphan_count")
    )


def interval_join(left: DataFrame, right: DataFrame, *,
                  keys: list[str], left_ts: str, right_ts: str,
                  max_gap_ms: int, suffix: str = "_r") -> DataFrame:
    """Banded range join: pairs (l, r) with the same `keys` and
    ``l_ts < r_ts <= l_ts + max_gap_ms``.

    A naive key-only equi-join followed by the range filter compares every
    pair within a key — quadratic in hot keys. Here both sides are also
    blocked on a `max_gap_ms`-wide time bucket, and the left side probes
    its own and the next bucket: the join becomes an equi-join on
    (keys, bucket) whose candidate count is bounded by events-per-bucket,
    the standard banded range-join rewrite. Result is identical to the
    naive formulation (verified by oracle differential).
    """
    # integer bucket ids (ms longs stay exact under `div`)
    probes = left.withColumn(
        "__b", F.expr(f"{left_ts} div {max_gap_ms}")
    ).withColumn("__probe", F.explode(F.array(F.col("__b"),
                                              F.col("__b") + 1)))
    rb = right.select(
        *[F.col(c) for c in keys],
        *[F.col(c).alias(f"{c}{suffix}")
          for c in right.columns if c not in keys],
    ).withColumn("__rb", F.expr(f"{right_ts}{suffix} div {max_gap_ms}"))
    cond = [probes[c] == rb[c] for c in keys] + \
           [probes["__probe"] == rb["__rb"]]
    out = probes.join(rb, cond)
    rt = F.col(f"{right_ts}{suffix}")
    out = out.filter((rt > F.col(left_ts))
                     & (rt <= F.col(left_ts) + max_gap_ms))
    # the join condition referenced both sides' key columns; keep left's
    return out.drop(*[rb[c] for c in keys]).drop("__b", "__probe", "__rb")


def asof_join(left: DataFrame, right: DataFrame, *, on: str,
              left_ts: str, right_ts: str,
              right_cols: list[str], suffix: str = "_asof",
              tiebreak: str | None = None,
              direction: str = "backward",
              tolerance=None) -> DataFrame:
    """As-of join: each left row picks, among right rows with the same
    `on` key, the LATEST with ``right_ts <= left_ts`` (backward, the
    default — price as of trade time, last click before purchase) or
    the EARLIEST with ``right_ts >= left_ts`` (forward — next action
    after an event). Optional `tolerance` (a Column, or a string
    Spark-SQL expression such as ``"INTERVAL 2 HOURS"`` / a numeric
    literal for numeric timestamps) voids matches farther than that
    from the left timestamp — the pandas ``merge_asof`` knobs, which
    Spark has no native operator for.

    Scale shape — the union-sort trick, NOT a range join: tag both
    inputs, union, and run one ``last(..., ignorenulls=True)`` window per
    payload column ordered by (ts, right-first). Cost is ONE shuffle on
    the key plus a per-key sort — at 100 TB this is the same plan a
    co-partitioned merge join would give, with no quadratic candidate
    set (a naive ``r.ts <= l.ts`` join explodes per key; the banded
    `interval_join` bounds it only for bounded gaps). `direction` only
    flips the sort order; `tolerance` is a post-window mask on the one
    matched row per left row — neither changes the cost shape.

    Determinism: at equal (ts), right rows sort before left rows (the
    comparison is inclusive both directions) and among equal-ts right
    rows the greatest `tiebreak` wins going backward, the least going
    forward (default tiebreak: `right_ts` when no payload columns). The
    matched payload is carried as ONE struct filled by a single
    ``last(ignorenulls)`` — per-column fills would splice values from
    DIFFERENT right rows whenever the matched row holds a NULL (chimera
    rows). NULL keys follow equi-join semantics: a NULL-key left row
    matches nothing; NULL-key right rows match nothing. Output: every
    left row + `right_ts{suffix}` + each right payload col suffixed.
    """
    from pyspark.sql.window import Window

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    fwd = direction == "forward"
    if tiebreak is None:
        tiebreak = right_cols[0] if right_cols else right_ts
    payload = [right_ts, *right_cols]
    r = right.filter(F.col(on).isNotNull()).select(
        F.col(on), F.col(right_ts).alias("__ts"), F.lit(1).alias("__is_r"),
        F.col(tiebreak).alias("__tb"),
        F.struct(*[F.col(c).alias(c) for c in payload]).alias("__p"),
        F.lit(None).alias("__l_marker"),
    )
    l = left.select(
        F.col(on), F.col(left_ts).alias("__ts"), F.lit(0).alias("__is_r"),
        F.lit(None).cast(r.schema["__tb"].dataType).alias("__tb"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l_marker"),
    )
    w = (Window.partitionBy(on)
               .orderBy(F.col("__ts").desc() if fwd else F.col("__ts"),
                        F.col("__is_r").desc(),
                        F.col("__tb").desc_nulls_first() if fwd
                        else F.col("__tb").asc_nulls_first())
               .rowsBetween(Window.unboundedPreceding, 0))
    filled = (l.filter(F.col(on).isNotNull()).unionByName(r)
               .withColumn("__m", F.last("__p", ignorenulls=True).over(w)))
    # NULL-key left rows bypass the window entirely (match = NULL struct)
    null_left = (l.filter(F.col(on).isNull())
                  .withColumn("__m", F.col("__p")))
    out = filled.filter(F.col("__is_r") == 0).unionByName(null_left)
    if tolerance is not None:
        tol = F.expr(tolerance) if isinstance(tolerance, str) else tolerance
        mts = F.col(f"__m.{right_ts}")
        gap = (mts - F.col("__ts")) if fwd else (F.col("__ts") - mts)
        out = out.withColumn(
            "__m", F.when(mts.isNull() | (gap <= tol), F.col("__m")))
    for c in left.columns:
        out = out.withColumn(c, F.col(f"__l_marker.{c}"))
    keep = [*left.columns,
            F.col(f"__m.{right_ts}").alias(f"{right_ts}{suffix}"),
            *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in right_cols]]
    return out.select(*keep)


def merge_intervals(df: DataFrame, keys: list[str],
                    start_col: str, end_col: str) -> DataFrame:
    """Merge overlapping/touching intervals per key (the gaps-and-islands
    problem): output one row per maximal merged interval with its span
    and member count.

    Single-window formulation: ordered by (start, end), a row opens a new
    island iff its start exceeds the running max end of ALL earlier rows
    (running max — not lag(end) — so an interval nested inside a long one
    can't split the island); the island id is then a running sum of those
    open-flags, and one groupBy collapses each island. One shuffle on
    (keys), both windows + the aggregate reuse its partitioning. Exact
    comparisons only — no epsilon — so the SQL oracle is bit-identical.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    opens = (prev_max_end.isNull()
             | (F.col(start_col) > prev_max_end)).cast("int")
    island = F.sum(opens).over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    return (df.withColumn("__island", island)
            .groupBy(*keys, "__island")
            .agg(F.min(start_col).alias("span_start"),
                 F.max(end_col).alias("span_end"),
                 F.count(F.lit(1)).alias("n_intervals"))
            .drop("__island"))


def resample_ffill(events: DataFrame, key: str, ts_col: str,
                   value_col: str, *, unit: str = "hour",
                   id_col: str = "event_id") -> DataFrame:
    """Resample an irregular event stream onto a regular per-key time
    grid with forward fill — the gap-filling shape every time-series
    mart needs (sensor rollups, balance snapshots, activity panels).

    Per key: grid = sequence(floor(min ts), max ts, 1 unit) exploded
    map-side (no shuffle to BUILD the grid — it explodes from one
    bounds row per key); events collapse to one deterministic row per
    (key, bucket) (latest by (ts, id) — a total order); the grid left
    joins those buckets and ``last(value, ignorenulls=True)`` over the
    key's ordered window carries values across empty buckets. Empty
    buckets report ``n_events = 0``, and a key's grid never extends
    beyond ITS OWN span (no cross-key grid inflation — at 100 TB a
    sparse key must not generate three years of rows).
    """
    from pyspark.sql.window import Window

    # one grid step per `unit` (hour/day/week...): truncation and step
    # derive from the same unit so buckets and grid points always align
    bucket = F.date_trunc(unit, F.col(ts_col))
    bounds = (events.groupBy(key)
              .agg(F.date_trunc(unit, F.min(ts_col)).alias("__t0"),
                   F.max(ts_col).alias("__t1")))
    grid = bounds.select(
        key, F.explode(F.sequence(
            "__t0", "__t1", F.expr(f"INTERVAL 1 {unit}"))).alias("h"))

    wb = (Window.partitionBy(key, "__h")
          .orderBy(F.col(ts_col).desc(), F.col(id_col).desc()))
    hourly = (events
              .withColumn("__h", bucket)
              .withColumn("__n", F.count(F.lit(1))
                          .over(Window.partitionBy(key, "__h")))
              .withColumn("__rn", F.row_number().over(wb))
              .filter(F.col("__rn") == 1)
              .select(key, F.col("__h").alias("h"),
                      F.col(value_col).alias("__val"),
                      F.col("__n").alias("n_events")))

    wf = (Window.partitionBy(key).orderBy("h")
          .rowsBetween(Window.unboundedPreceding, 0))
    return (grid.join(hourly, [key, "h"], "left")
            .select(key, "h",
                    F.last("__val", ignorenulls=True).over(wf)
                     .alias("value_ffill"),
                    F.coalesce("n_events", F.lit(0)).alias("n_events")))


def resample_interpolate(events: DataFrame, key: str, ts_col: str,
                         value_col: str, *, unit: str = "hour",
                         id_col: str = "event_id") -> DataFrame:
    """`resample_ffill`'s linear-interpolation sibling: empty grid
    buckets get the straight line between the NEAREST anchored
    buckets on either side instead of a carried constant — the
    gap-fill a metrics panel or sensor series wants when values
    trend between observations.

    Same grid/anchor machinery as `resample_ffill` (per-key bounded
    grids, deterministic latest-(ts, id) bucket survivor, ONE
    shuffle on the key shared by the windows). The interpolation
    anchors come from two `last/first(ignorenulls)` windows over the
    same ordering; the anchor TIME rides the same null condition as
    the anchor VALUE, so both always come from the same row (no
    chimera fills). Leading/trailing gaps (no anchor on one side)
    fall back to the single available anchor — pandas
    ``interpolate(limit_direction='both')`` semantics. The
    interpolation ``v0 + (v1 − v0) · (Δt ⁄ ΔT)`` is evaluated in the
    same operand order on any engine (one correctly-rounded double
    division, one multiply, one add), keeping the result
    oracle-pairable bit-exactly."""
    from pyspark.sql.window import Window

    bucket = F.date_trunc(unit, F.col(ts_col))
    bounds = (events.groupBy(key)
              .agg(F.date_trunc(unit, F.min(ts_col)).alias("__t0"),
                   F.max(ts_col).alias("__t1")))
    grid = bounds.select(
        key, F.explode(F.sequence(
            "__t0", "__t1", F.expr(f"INTERVAL 1 {unit}"))).alias("h"))

    wb = (Window.partitionBy(key, "__h")
          .orderBy(F.col(ts_col).desc(), F.col(id_col).desc()))
    hourly = (events
              .withColumn("__h", bucket)
              .withColumn("__n", F.count(F.lit(1))
                          .over(Window.partitionBy(key, "__h")))
              .withColumn("__rn", F.row_number().over(wb))
              .filter(F.col("__rn") == 1)
              .select(key, F.col("__h").alias("h"),
                      F.col(value_col).alias("__val"),
                      F.col("__n").alias("n_events")))

    # BOTH anchor scans are RUNNING frames (unboundedPreceding →
    # current): the forward-looking pair runs over DESCENDING h, where
    # "last non-null so far" is exactly "nearest non-null at-or-after
    # h". An explicit (current → unboundedFollowing) frame computes
    # the same values but Spark evaluates shrinking frames
    # non-incrementally — measured 12.6 s vs 1.7 s at sf0.1 for the
    # identical result (the value SCALE.md and COVERAGE.md E19 record;
    # ADVICE r09 #3). Same single shuffle either way; the reversed
    # window only adds a local re-sort.
    w_past = (Window.partitionBy(key).orderBy("h")
              .rowsBetween(Window.unboundedPreceding, 0))
    w_rev = (Window.partitionBy(key).orderBy(F.col("h").desc())
             .rowsBetween(Window.unboundedPreceding, 0))
    anchor_h = F.when(F.col("__val").isNotNull(), F.col("h"))
    j = grid.join(hourly, [key, "h"], "left")
    x = (j.withColumn("__vp", F.last("__val", ignorenulls=True)
                      .over(w_past))
          .withColumn("__hp", F.last(anchor_h, ignorenulls=True)
                      .over(w_past))
          .withColumn("__vn", F.last("__val", ignorenulls=True)
                      .over(w_rev))
          .withColumn("__hn", F.last(anchor_h, ignorenulls=True)
                      .over(w_rev)))
    dt = (F.unix_millis("h") - F.unix_millis("__hp")).cast("double")
    span = (F.unix_millis("__hn") - F.unix_millis("__hp")).cast("double")
    interp = (F.when(F.col("__val").isNotNull(), F.col("__val"))
              .when(F.col("__vp").isNull(), F.col("__vn"))
              .when(F.col("__vn").isNull(), F.col("__vp"))
              .otherwise(F.col("__vp")
                         + (F.col("__vn") - F.col("__vp"))
                         * (dt / span)))
    return x.select(key, "h", interp.alias("value_interp"),
                    F.coalesce("n_events", F.lit(0)).alias("n_events"))
