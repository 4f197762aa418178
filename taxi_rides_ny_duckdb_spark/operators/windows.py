"""Window/time operators (EXTENSION beyond the reference's single
row_number dedup — SURVEY §2.4): top-k per group, sessionization,
batch sliding windows. All pure DataFrame plans."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def top_k_per_group(
    df: DataFrame, group_cols: list[str], order_col: str, k: int, descending: bool = True,
    tiebreak_cols: list[str] = (),
) -> DataFrame:
    """Classic top-k per group via row_number ≤ k. Tie-break columns
    make the result deterministic (required for oracle hashing).
    One shuffle on the group keys; Spark's WindowExec sorts within
    partitions — for huge groups prefer pre-aggregation or AQE skew
    handling."""
    ordering = [F.col(order_col).desc() if descending else F.col(order_col).asc()]
    ordering += [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*group_cols).orderBy(*ordering)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def sessionize(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization: lag(ts) per user, new-session flag on
    gap > threshold, running sum → session index.

    Oracle-parity notes: the order within a user must be total (ts +
    tiebreak), and the gap comparison uses epoch seconds (integer
    arithmetic, exact in both engines). Two window passes over one
    shuffle on user_col."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
    gap_s = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.lag(ts_col).over(w))
    is_new = F.when(gap_s.isNull() | (gap_s > gap_minutes * 60), 1).otherwise(0)
    return df.withColumn("session_seq", F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ))


def sliding_window_agg(
    df: DataFrame, ts_col: str, width: str, slide: str, agg_exprs: list[Column],
    extra_keys: list[str] = (),
) -> DataFrame:
    """Sliding (hopping) windows — each row lands in width/slide
    windows; Spark expands them JVM-side (no explode needed)."""
    win = F.window(F.col(ts_col), width, slide)
    out = df.groupBy(win.alias("w"), *[F.col(c) for c in extra_keys]).agg(*agg_exprs)
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *[F.col(c) for c in out.columns if c != "w"],
    )


def funnel_stages(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """Ordered funnel analysis (first-touch semantics): for each user
    who performed ``stages[0]``, the FIRST time they performed each
    subsequent stage STRICTLY AFTER their first completion of the
    previous one — the classic product-analytics conversion query
    (view → click → purchase), exact, not sequence-pattern-approximate.

    Output: one row per user who reached stage 1 —
    ``(user, stage1_us, ..., stageK_us, stages_completed)`` with each
    stage's first-completion time as epoch MICROSECONDS (integer —
    sidesteps cross-engine timestamp-unit rendering) and NULL once a
    stage was never reached after its predecessor.

    Plan at scale: stage i is a map-side ``type = stage_i`` filter
    (pushed to the scan) aggregated to user grain, then an equi-join
    on the user key against the user-grain funnel-so-far frame —
    K-1 user-keyed shuffles of user-sized (not event-sized) frames.
    Conditional-aggregation single-pass forms exist for fixed K but
    recompute every stage over the full event scan; the join chain
    touches each stage's events once and keeps every intermediate
    user-bounded. First-touch ties inside one timestamp are broken by
    the MIN aggregate itself (µs-exact on both engines).
    """
    if len(stages) < 2:
        raise ValueError("funnel needs >= 2 stages")
    if len(set(stages)) != len(stages):
        # output columns are named {stage}_us — a repeated stage name
        # would collide; repeated-action funnels (view → view) should
        # disambiguate the labels upstream
        raise ValueError(f"stage names must be distinct, got {stages}")
    us = F.unix_micros(F.col(ts_col))
    cur = (
        events.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(us).alias("__t0"))
    )
    for i, stage in enumerate(stages[1:], start=1):
        nxt = (
            events.filter(F.col(type_col) == stage)
            .select(F.col(user_col), us.alias("__ts"))
            .join(cur.select(user_col, f"__t{i-1}"), user_col)
            .filter(F.col("__ts") > F.col(f"__t{i-1}"))
            .groupBy(user_col)
            .agg(F.min("__ts").alias(f"__t{i}"))
        )
        cur = cur.join(nxt, user_col, "left")
    completed = F.lit(1)
    for i in range(1, len(stages)):
        completed = completed + F.col(f"__t{i}").isNotNull().cast("int")
    # stages_completed counts the longest PREFIX completed; a NULL
    # stage makes every later __t NULL by construction (each join
    # filters on the previous stage's time), so the sum IS the prefix
    # length.
    return cur.select(
        F.col(user_col),
        *[
            F.col(f"__t{i}").alias(f"{stage}_us")
            for i, stage in enumerate(stages)
        ],
        completed.cast("long").alias("stages_completed"),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    grain: str = "day",
) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity
    period (the cohort), counted in every later period they were
    active — ``(cohort_period, period_offset, n_users)`` where
    ``n_users`` is the count of cohort members active exactly
    ``period_offset`` periods after their first activity. Offset 0 is
    the cohort size (every member is active in their first period).

    Determinism: periods are ``date_trunc(grain)`` TIMESTAMPs (the
    calendar-bucket parity convention); offsets are exact integer
    epoch-µs arithmetic, valid for 'day'/'hour'-class fixed-width
    grains (month arithmetic would need months_between — not needed
    here and deliberately unsupported; raises).

    Plan at scale: first-activity is one user-keyed aggregation;
    (user, period) activity is a distinct at user×period grain; the
    cohort label joins back on the user key and the matrix is one
    aggregation at cohort×offset grain — three event-bounded
    shuffles, each output strictly smaller than its input, no window,
    no Python.
    """
    if grain not in ("day", "hour"):
        raise ValueError(f"grain must be 'day' or 'hour', got {grain!r}")
    period_us = {"day": 86_400_000_000, "hour": 3_600_000_000}[grain]
    period = F.date_trunc(grain, F.col(ts_col))
    active = events.select(
        F.col(user_col), period.alias("__period")
    ).distinct()
    cohorts = active.groupBy(user_col).agg(F.min("__period").alias("__cohort"))
    offset = (
        (F.unix_micros(F.col("__period")) - F.unix_micros(F.col("__cohort")))
        / F.lit(period_us)
    ).cast("long")
    return (
        active.join(cohorts, user_col)
        .select(F.col("__cohort").alias("cohort_period"), offset.alias("period_offset"))
        .groupBy("cohort_period", "period_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def event_transition_matrix(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """First-order Markov transition counts + probabilities over each
    user's time-ordered event stream: ``(prev_type, next_type, n,
    p_r)`` where ``p_r = n / Σ n over prev_type`` — the behavioral
    fingerprint behind next-action prediction, anomaly screens
    ("error → error loops"), and bot detection.

    Ordering is total: (ts, then ``order_cols`` — default the event
    type itself) so lag() is deterministic under ties on BOTH engines.
    A user's first event has no predecessor and is excluded (standard
    convention). Probabilities are exact integer ratios rounded to 9dp.

    Plan at scale: one user-keyed window (the per-user sort is the
    irreducible cost of sequence analysis — Spark sorts within user
    partitions, no global sort), then an aggregation that collapses to
    |types|² rows. The row-total join is against a |types|-row
    aggregate — broadcast."""
    order_cols = order_cols if order_cols is not None else [type_col]
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in order_cols]
    )
    pairs = (
        events.select(
            F.lag(F.col(type_col)).over(w).alias("prev_type"),
            F.col(type_col).alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("__tot"))
    return pairs.join(F.broadcast(totals), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.col("__tot").cast("double"), 9).alias(
            "p_r"
        ),
    )
