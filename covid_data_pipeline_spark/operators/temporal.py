"""Temporal warehouse operators: point-in-time enrichment, snapshot
CDC diff, and linear interpolation over a dense calendar.

These generalize the reference's date-cursor pipeline (its mart is
rebuilt per ingest day and alert rows compare "today vs yesterday";
cf. /root/reference/airflow/dags/covid_dag.py cursor loop) into the
three temporal primitives a warehouse needs at 100 TB:

- :func:`pit_enrich` — "which dim version was current when this fact
  happened" without an inequality join: union both sides and take a
  running ``last(ignorenulls)`` per key. One hash shuffle on the key,
  no range-join explosion, no broadcastable-side requirement.
- :func:`snapshot_diff` — CDC between two snapshots of a keyed
  relation (insert / delete / update / unchanged) via a single
  full-outer join with null-safe column comparison.
- :func:`interpolate_daily` — dense per-key daily calendar with linear
  interpolation between observed points (the resample step
  forward-fill cannot honestly do for numeric series).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from covid_data_pipeline_spark.functions.scalar import round_stable
from pyspark.sql.window import Window


def pit_enrich(
    fact: DataFrame,
    dim: DataFrame,
    keys: Sequence[str],
    fact_ts: str,
    dim_ts: str,
    payload_cols: Sequence[str],
    fact_tie: str,
    dim_tie: str,
) -> DataFrame:
    """For each fact row, attach the payload of the latest dim row with
    ``dim_ts <= fact_ts`` for the same key (NULLs when none exists).

    Implementation is the union-and-window point-in-time join: tag dim
    rows side=0 and fact rows side=1, sort per key by
    ``(ts, side, tie)``, and carry the last non-null dim payload
    forward. A dim row timestamped exactly at ``fact_ts`` IS visible to
    that fact row (side 0 sorts first — "at or before" semantics).

    Scale shape: ONE hash exchange on ``keys`` and one sort — the same
    cost as a window function over either input. The naive alternative
    (theta-join on ``dim_ts <= fact_ts`` + keep latest) explodes to
    |fact| x |dim versions per key| intermediate rows and usually
    degenerates to BroadcastNestedLoopJoin when key selectivity is
    poor; this formulation never materializes a pair. ``dim_tie`` /
    ``fact_tie`` must be per-side-unique columns (e.g. an event id) so
    duplicate timestamps order deterministically under any
    partitioning (repo float/tie policy).
    """
    keys = list(keys)
    payload = F.struct(*[F.col(c) for c in payload_cols])
    d = dim.select(
        *keys,
        F.col(dim_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(dim_tie).cast("long").alias("__tie"),
        payload.alias("__payload"),
        F.lit(None).cast("long").alias("__fact_tie"),
    )
    f = fact.select(
        *keys,
        F.col(fact_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.col(fact_tie).cast("long").alias("__tie"),
        F.lit(None).cast(d.schema["__payload"].dataType).alias("__payload"),
        F.col(fact_tie).cast("long").alias("__fact_tie"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side", "__tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    enriched = (
        d.unionByName(f)
        .withColumn("__hit", F.last("__payload", ignorenulls=True).over(w))
        .where(F.col("__side") == 1)
    )
    out_cols = (
        keys
        + [F.col("__fact_tie").alias(fact_tie), F.col("__ts").alias(fact_ts)]
        + [F.col(f"__hit.{c}").alias(c) for c in payload_cols]
    )
    return enriched.select(*out_cols)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """CDC between two snapshots of a keyed relation.

    Emits one row per key present in either snapshot with
    ``change_type`` in {'insert', 'delete', 'update', 'unchanged'} and
    both versions of every compared column (``old_<c>`` / ``new_<c>``).
    Column comparison is null-safe (NULL == NULL is unchanged).

    Scale shape: a single full-outer sort-merge join on ``keys`` — both
    snapshots shuffle once; AQE handles skewed keys. No window, no
    driver-side state. This is the batch equivalent of a changelog
    (what Delta/Iceberg CDF would emit) computed from plain snapshots.
    """
    keys = list(keys)
    o = old.select(
        *keys,
        F.lit(True).alias("__in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *keys,
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    joined = o.join(n, keys, "full_outer")
    return joined.select(
        *keys,
        F.when(F.col("__in_old").isNull(), F.lit("insert"))
        .when(F.col("__in_new").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
        *[F.col(f"old_{c}") for c in compare_cols],
        *[F.col(f"new_{c}") for c in compare_cols],
    )


def interpolate_daily(
    daily: DataFrame,
    keys: Sequence[str],
    day_col: str,
    val_col: str,
) -> DataFrame:
    """Dense per-key daily calendar with linear interpolation.

    ``daily`` holds at most one row per (keys, day). Output has one row
    per (keys, day) for every day in each key's [min, max] span;
    observed days keep their value, missing days get the linear
    interpolation between the nearest observed neighbors. (Edges cannot
    be missing: the span is delimited by observations.)

    Float policy: interpolate as ``prev + (next - prev) * (d / n)``
    with integer-valued operands and exactly this association — each
    IEEE op then rounds identically in any engine, so the oracle can
    state the same expression and hash-match without a round guard.

    Scale shape: calendar rows are generated executor-side per key
    (``sequence`` + ``explode``), the fill join shuffles on
    (keys, day), and both neighbor lookups are two window passes over
    one (keys)-partitioned sort. Nothing is proportional to the global
    date range x key count on the driver.
    """
    keys = list(keys)
    bounds = daily.groupBy(*keys).agg(
        F.min(day_col).alias("__d0"), F.max(day_col).alias("__d1")
    )
    cal = bounds.select(
        *keys, F.explode(F.sequence("__d0", "__d1")).alias(day_col)
    )
    grid = cal.join(daily, keys + [day_col], "left")
    w_back = (
        Window.partitionBy(*keys)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(day_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    observed_day = F.when(F.col(val_col).isNotNull(), F.col(day_col))
    g = (
        grid.withColumn("__pv", F.last(val_col, ignorenulls=True).over(w_back))
        .withColumn("__pd", F.last(observed_day, ignorenulls=True).over(w_back))
        .withColumn("__nv", F.first(val_col, ignorenulls=True).over(w_fwd))
        .withColumn("__nd", F.first(observed_day, ignorenulls=True).over(w_fwd))
    )
    span = F.datediff(F.col("__nd"), F.col("__pd"))
    offset = F.datediff(F.col(day_col), F.col("__pd"))
    interp = (
        F.when(F.col(val_col).isNotNull(), F.col(val_col).cast("double"))
        .when(
            F.col("__pv").isNotNull() & F.col("__nv").isNotNull(),
            F.col("__pv") + (F.col("__nv") - F.col("__pv")) * (offset / span),
        )
        .when(F.col("__pv").isNotNull(), F.col("__pv").cast("double"))
        .otherwise(F.col("__nv").cast("double"))
    )
    return g.select(
        *keys,
        day_col,
        F.col(val_col).isNotNull().alias("observed"),
        interp.alias("interp_value"),
    )


def burst_days(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    sigmas: int = 2,
) -> DataFrame:
    """Days whose event count bursts above ``mean + sigmas·σ`` of that
    event type's own daily history (population σ) — the volume-anomaly
    monitor for ingest pipelines and event streams.

    The z-test is INTEGER-EXACT: with per-type day count n, Σc = S1,
    Σc² = S2, the condition ``c > S1/n + s·σ`` rewrites to

        c·n − S1 > 0   AND   (c·n − S1)² > s²·(n·S2 − S1²)

    — all BIGINT products of exact counts, so the flagged set is
    bit-identical on any engine and any partitioning (no float mean, no
    float stddev, no sqrt). Types with a single observed day have zero
    variance and flag nothing (a burst needs history).

    Shape: one (type, day) count with map-side combine; per-type
    moments reduce to |types| rows and re-enter via broadcast — the
    daily-count relation is the largest thing shuffled, never events."""
    day = F.to_date(F.col(ts_col))
    daily = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(type_col), day.alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    moments = daily.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("cnt").alias("__s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("__s2"),
    )
    # The quadratic terms run in DECIMAL(38,0): dev² of a BIGINT daily
    # count overflows long at extreme volumes (and ANSI mode would
    # throw mid-job); decimal keeps the comparison exact integer math.
    dev = (F.col("cnt") * F.col("__n") - F.col("__s1")).cast("decimal(38,0)")
    var_n2 = (
        F.col("__n").cast("decimal(38,0)") * F.col("__s2")
        - F.col("__s1").cast("decimal(38,0)") * F.col("__s1")
    )
    return (
        # bcast: const(|event_types|) per-type moments
        daily.join(F.broadcast(moments), type_col)
        .where(F.col("__n") > 1)
        .where((dev > 0) & (dev * dev > F.lit(sigmas * sigmas) * var_n2))
        .select(type_col, "day", "cnt")
    )


def scd2_apply(
    history: DataFrame | None,
    snapshot: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    effective,
    close_missing: bool = False,
) -> DataFrame:
    """Apply one day's full dimension snapshot to an SCD Type-2 history
    (the warehouse dim-maintenance verb; the reference's dims are
    replace-only — this is the history-preserving upgrade):

    * attribute change → the open row closes at ``effective`` and a new
      row opens (``valid_from=effective, valid_to=NULL``);
    * new key → a row opens;
    * unchanged key → its open row is untouched;
    * key missing from the snapshot → closed iff ``close_missing``
      (full-snapshot semantics where disappearance means deletion),
      else left open (Kimball default: dims never die).

    History schema: ``keys + attrs + valid_from + valid_to +
    is_current``; pass ``history=None`` for the initial build.
    Comparisons are null-safe per attribute. Contract: ``effective``
    must not precede any open row's ``valid_from`` (snapshots applied
    in order); re-applying the same snapshot at the same ``effective``
    is a no-op — apply is idempotent.

    Scale shape: closed history is carried untouched (no join — at
    warehouse scale it is the bulk of the table and ideally lives in
    closed partitions); only the OPEN slice full-outer-joins the
    snapshot on the keys, and the per-key verdict emits 1–2 rows via a
    single explode. One key shuffle total, no windows. Pair with
    ``SnapshotWarehouse`` so each application is a commit (time travel
    over the dimension's own history of histories)."""
    keys, attrs = list(keys), list(attrs)
    eff = F.lit(effective)
    eff_type = snapshot.select(eff.alias("__e")).schema[0].dataType
    null_eff = F.lit(None).cast(eff_type)

    def _open_from_snapshot(df: DataFrame) -> DataFrame:
        return df.select(
            *keys,
            *attrs,
            eff.alias("valid_from"),
            null_eff.alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    if history is None:
        return _open_from_snapshot(snapshot)

    out_cols = keys + attrs + ["valid_from", "valid_to", "is_current"]
    closed = history.filter(~F.col("is_current")).select(*out_cols)
    cur = history.filter(F.col("is_current"))

    o = cur.select(
        *keys,
        F.lit(True).alias("__in_old"),
        F.col("valid_from").alias("__vf"),
        *[F.col(c).alias(f"__o_{c}") for c in attrs],
    )
    n = snapshot.select(
        *keys,
        F.lit(True).alias("__in_new"),
        *[F.col(c).alias(f"__n_{c}") for c in attrs],
    )
    j = o.join(n, keys, "full_outer")

    changed = F.lit(False)
    for c in attrs:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))

    def _struct(attr_side: str, vf, vt, cur_flag: bool):
        return F.struct(
            *[F.col(f"__{attr_side}_{c}").alias(c) for c in attrs],
            vf.alias("valid_from"),
            vt.alias("valid_to"),
            F.lit(cur_flag).alias("is_current"),
        )

    close_old = _struct("o", F.col("__vf"), eff, False)
    keep_open = _struct("o", F.col("__vf"), null_eff, True)
    open_new = _struct("n", eff, null_eff, True)

    verdict = (
        F.when(F.col("__in_old").isNull(), F.array(open_new))
        .when(
            F.col("__in_new").isNull(),
            F.array(close_old) if close_missing else F.array(keep_open),
        )
        .when(changed, F.array(close_old, open_new))
        .otherwise(F.array(keep_open))
    )
    emitted = (
        j.withColumn("__row", F.explode(verdict))
        .select(*keys, "__row.*")
        .select(*out_cols)
    )
    return closed.unionByName(emitted)


def holt_linear(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    alpha: float = 0.5,
    beta: float = 0.5,
    horizon: int = 7,
) -> DataFrame:
    """Holt's linear-trend exponential smoothing over each type's daily
    count series: per type, the final smoothed ``level``/``trend`` and
    the ``horizon``-day-ahead forecast (textbook init s₁=y₁, b₁=y₂−y₁,
    then sₜ = α·yₜ + (1−α)(sₜ₋₁+bₜ₋₁), bₜ = β(sₜ−sₜ₋₁) + (1−β)bₜ₋₁).

    Execution shape: ONE (type, day) count shuffle, then the recurrence
    folds JVM-side inside ``F.aggregate`` over the collected per-type
    series — state is O(days-per-type), never O(events), so a year of a
    100 TB event stream folds 365 doubles per type. Types with <2
    observed days are dropped (the init needs two points).

    Determinism: the fold is a fixed left-to-right IEEE-754 double
    recurrence — bit-identical on any engine that writes the same
    update expressions (the oracle's recursive CTE does), and the
    default α=β=0.5 keeps every intermediate a dyadic rational. Output
    doubles are ROUNDed (4) anyway.
    """
    from covid_data_pipeline_spark.functions.text import let

    daily = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(type_col), F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    series = daily.groupBy(type_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cnt"))),
            lambda s: s["cnt"].cast("double"),
        ).alias("ys")
    )
    ys = F.col("ys")
    n = F.size(ys)
    a, b = F.lit(float(alpha)), F.lit(float(beta))
    init = F.struct(
        F.element_at(ys, 1).alias("lvl"),
        (F.element_at(ys, 2) - F.element_at(ys, 1)).alias("trd"),
    )

    def _step(acc, y):
        new_lvl = a * y + (F.lit(1.0) - a) * (acc["lvl"] + acc["trd"])
        return let(
            new_lvl,
            lambda nl: F.struct(
                nl.alias("lvl"),
                (b * (nl - acc["lvl"]) + (F.lit(1.0) - b) * acc["trd"]).alias(
                    "trd"
                ),
            ),
        )

    fitted = series.where(n >= 2).select(
        type_col,
        F.aggregate(F.slice(ys, 2, n - 1), init, _step).alias("h"),
    )
    return fitted.select(
        type_col,
        round_stable(F.col("h.lvl"), 4).alias("level"),
        round_stable(F.col("h.trd"), 4).alias("trend"),
        round_stable(
            F.col("h.lvl") + F.lit(float(horizon)) * F.col("h.trd"), 4
        ).alias(f"forecast_{horizon}d"),
    )


def cusum_changepoints(
    events: DataFrame,
    ts_col: str = "ts",
    k_sigma: float = 0.5,
    h_sigma: float = 4.0,
    mu: float | None = None,
    sigma: float | None = None,
) -> DataFrame:
    """Two-sided CUSUM change detection (Page 1954) over the global
    daily event count: per day, the positive/negative cumulative sums
    ``S⁺ₜ = max(0, S⁺ₜ₋₁ + (yₜ − μ − k·σ))`` (mirror for S⁻) and a
    ``breach`` flag when either exceeds ``h·σ`` — the standard
    sequential drift detector for ingest-volume monitoring.

    μ and σ derive from EXACT integer moments (Σy, Σy² as BIGINTs, like
    :func:`burst_days`), so the float recurrence starts from
    bit-identical constants on every engine/partitioning; the fold
    itself is a fixed-order IEEE double recurrence over O(days) state
    inside ``F.aggregate``. One count shuffle total; the day series —
    not the event table — is the only thing collected into the fold.

    Pass BOTH ``mu``/``sigma`` to monitor against a pre-calibrated
    reference regime (the production deployment: fit on history, watch
    the live feed); defaults derive them from the data itself.
    """
    daily = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if (mu is None) != (sigma is None):
        raise ValueError("pass both mu and sigma, or neither")
    if mu is not None:
        one = daily.agg(
            F.sort_array(F.collect_list(F.struct("day", "cnt"))).alias("s")
        ).select(
            "s",
            F.lit(float(mu)).alias("m"),
            F.lit(float(sigma)).alias("sd"),
        )
    else:
        one = daily.agg(
            F.sort_array(F.collect_list(F.struct("day", "cnt"))).alias("s"),
            F.count(F.lit(1)).alias("n"),
            F.sum("cnt").alias("s1"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
        )
        nd = F.col("n").cast("double")
        # identical op order to the oracle: q1 = Σy/n, q2 = Σy²/n,
        # σ = √(q2 − μ²)
        one = one.select(
            "s",
            (F.col("s1") / nd).alias("m"),
            (F.col("s2") / nd).alias("q"),
        ).select(
            "s", "m", F.sqrt(F.col("q") - F.col("m") * F.col("m")).alias("sd")
        )

    k, h = F.lit(float(k_sigma)), F.lit(float(h_sigma))
    m, sd = F.col("m"), F.col("sd")
    init = F.struct(
        F.lit(0.0).alias("sp"),
        F.lit(0.0).alias("sn"),
        F.expr(
            "CAST(array() AS array<struct<day:date,sp:double,sn:double>>)"
        ).alias("out"),
    )

    def _step(acc, e):
        y = e["cnt"].cast("double")
        nsp = F.greatest(F.lit(0.0), acc["sp"] + (y - m - k * sd))
        nsn = F.greatest(F.lit(0.0), acc["sn"] + (m - y - k * sd))
        return F.struct(
            nsp.alias("sp"),
            nsn.alias("sn"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        e["day"].alias("day"),
                        nsp.alias("sp"),
                        nsn.alias("sn"),
                    )
                ),
            ).alias("out"),
        )

    folded = one.select(
        F.explode(F.aggregate(F.col("s"), init, _step)["out"]).alias("r"), sd
    )
    return folded.select(
        F.col("r.day").alias("day"),
        F.round(F.col("r.sp"), 4).alias("cusum_pos"),
        F.round(F.col("r.sn"), 4).alias("cusum_neg"),
        ((F.col("r.sp") > h * sd) | (F.col("r.sn") > h * sd)).alias("breach"),
    )


def growth_accounting(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Weekly user growth accounting (the standard startup-metrics
    decomposition): each active (user, week) is classified *new*
    (first-ever week), *retained* (also active the prior calendar
    week) or *resurrected* (returning after a gap), and each week's
    *churned* count is the prior week's actives who did not return —
    computed as ``active(w−7) − retained(w)``, an identity that needs
    no extra join against the user set.

    All-integer construction: one distinct (user, week) shuffle —
    domain compression, events collapse immediately — a per-user LAG,
    a week rollup, and a self-join on the 7-day-shifted week. Scales
    with |active users × weeks|, never |events|."""
    wk = F.date_trunc("week", F.col(ts_col)).cast("date")
    uw = (
        events.where(F.col(ts_col).isNotNull())
        .select(F.col(user_col).alias("u"), wk.alias("wk"))
        .distinct()
    )
    w = Window.partitionBy("u").orderBy("wk")
    cls = uw.withColumn("pw", F.lag("wk").over(w)).select(
        "wk",
        F.when(F.col("pw").isNull(), F.lit("new"))
        .when(F.datediff(F.col("wk"), F.col("pw")) == 7, F.lit("retained"))
        .otherwise(F.lit("resurrected"))
        .alias("status"),
    )
    agg = cls.groupBy("wk").agg(
        F.sum(F.when(F.col("status") == "new", 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.sum(F.when(F.col("status") == "retained", 1).otherwise(0))
        .cast("long")
        .alias("retained_users"),
        F.sum(F.when(F.col("status") == "resurrected", 1).otherwise(0))
        .cast("long")
        .alias("resurrected_users"),
        F.count(F.lit(1)).alias("active_users"),
    )
    prev = agg.select(
        F.col("wk").alias("pwk"), F.col("active_users").alias("prev_active")
    )
    return (
        agg.join(prev, F.col("pwk") == F.date_sub(F.col("wk"), 7), "left")
        .select(
            F.col("wk").alias("week"),
            "new_users",
            "retained_users",
            "resurrected_users",
            "active_users",
            (F.coalesce(F.col("prev_active"), F.lit(0)) - F.col("retained_users"))
            .cast("long")
            .alias("churned_users"),
        )
    )


def holt_winters_seasonal(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    period: int = 7,
    alpha: float = 0.5,
    beta: float = 0.5,
    gamma: float = 0.5,
) -> DataFrame:
    """Holt–Winters ADDITIVE seasonal smoothing of each type's daily
    count series (the seasonal completion of :func:`holt_linear` —
    the reference's day-cursor alerts compare raw day-over-day deltas,
    which a weekly cycle trivially false-alarms; cf.
    /root/reference/airflow/dags/covid_alerts_dag.py threshold rule).

    Textbook additive form with ``m = period``:
    init over the first two seasons (requires ``n ≥ 2m``):
    ``ℓ₀ = mean(y₁..y_m)``, ``b₀ = (mean(y_{m+1}..y_{2m}) − ℓ₀)/m``,
    ``s_i = y_i − ℓ₀``; then for t = m+1..n::

        ℓₜ = α(yₜ − sₜ₋ₘ) + (1−α)(ℓₜ₋₁ + bₜ₋₁)
        bₜ = β(ℓₜ − ℓₜ₋₁) + (1−β)bₜ₋₁
        sₜ = γ(yₜ − ℓₜ) + (1−γ)sₜ₋ₘ

    Execution shape: ONE (type, day) count shuffle, then the recurrence
    folds JVM-side inside ``F.aggregate`` over the collected per-type
    series — the seasonal state is a ``period``-element queue whose
    head is always ``sₜ₋ₘ`` (rotate: drop head, append new tail), so
    state is O(period + days-per-type doubles) per type, never
    O(events). A year of a 100 TB event stream folds 365 doubles.

    Determinism: ℓ₀/b₀ derive from EXACT integer day-count sums
    (``(Σ₁−Σ₀)/m²`` with BIGINT numerators), and the fold is a fixed
    left-to-right IEEE-754 recurrence — the oracle's recursive CTE
    replays the identical update expressions over an identical LIST
    queue, so the fit is value-hash verified. Defaults α=β=γ=0.5 keep
    every step a dyadic combination. Output doubles ROUND(4) anyway.

    Returns one row per type with ≥ 2·period observed days: final
    ``level``/``trend``, and seasonally-adjusted forecasts
    ``forecast_1`` (= ℓ + b + s_{t+1−m}) and ``forecast_p``
    (= ℓ + m·b + s_t, the same weekday one season out).
    """
    m = int(period)
    a, b, g = F.lit(float(alpha)), F.lit(float(beta)), F.lit(float(gamma))
    daily = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(type_col), F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    series = daily.groupBy(type_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "cnt"))),
            lambda s: s["cnt"],
        ).alias("ys")
    )
    ys = F.col("ys")
    n = F.size(ys)
    # exact BIGINT season sums -> identical IEEE init constants
    sum1 = F.aggregate(
        F.slice(ys, 1, m), F.lit(0).cast("long"), lambda acc, y: acc + y
    )
    sum2 = F.aggregate(
        F.slice(ys, m + 1, m), F.lit(0).cast("long"), lambda acc, y: acc + y
    )
    lvl0 = sum1.cast("double") / F.lit(float(m))
    trd0 = (sum2 - sum1).cast("double") / F.lit(float(m * m))
    seas0 = F.transform(
        F.slice(ys, 1, m), lambda y: y.cast("double") - F.col("h0.lvl")
    )
    prepared = series.where(n >= 2 * m).select(
        type_col,
        "ys",
        F.struct(lvl0.alias("lvl"), trd0.alias("trd")).alias("h0"),
    )
    init = F.struct(
        F.col("h0.lvl").alias("lvl"),
        F.col("h0.trd").alias("trd"),
        seas0.alias("seas"),
    )

    def _step(acc, y):
        from covid_data_pipeline_spark.functions.text import let

        yd = y.cast("double")
        s_m = F.element_at(acc["seas"], 1)  # s_{t-m}: queue head
        new_lvl = a * (yd - s_m) + (F.lit(1.0) - a) * (acc["lvl"] + acc["trd"])

        def _with_lvl(nl):
            new_trd = b * (nl - acc["lvl"]) + (F.lit(1.0) - b) * acc["trd"]
            new_s = g * (yd - nl) + (F.lit(1.0) - g) * s_m
            return F.struct(
                nl.alias("lvl"),
                new_trd.alias("trd"),
                F.concat(
                    F.slice(acc["seas"], 2, m - 1), F.array(new_s)
                ).alias("seas"),
            )

        return let(new_lvl, _with_lvl)

    fitted = prepared.select(
        type_col,
        F.aggregate(F.slice(ys, m + 1, n - m), init, _step).alias("h"),
    )
    # after folding t = m+1..n the queue head is s_{t+1-m}; its tail is
    # s_t — the same weekday one full season ahead of the last point.
    return fitted.select(
        type_col,
        round_stable(F.col("h.lvl"), 4).alias("level"),
        round_stable(F.col("h.trd"), 4).alias("trend"),
        round_stable(
            F.col("h.lvl") + F.col("h.trd") + F.element_at(F.col("h.seas"), 1),
            4,
        ).alias("forecast_1"),
        round_stable(
            F.col("h.lvl")
            + F.lit(float(m)) * F.col("h.trd")
            + F.element_at(F.col("h.seas"), m),
            4,
        ).alias("forecast_p"),
    )


def kaplan_meier(
    subjects: DataFrame,
    duration_col: str = "t_days",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan-Meier survival estimate (Kaplan & Meier 1958) with right
    censoring over a SUBJECTS relation: one row per subject with an
    integer ``duration_col`` and a boolean ``event_col`` (True = the
    terminal event was observed at that duration; False = censored —
    the subject was still "alive" when observation ended, which naive
    lifetime histograms mistake for short lifetimes and bias the curve
    down). At each duration t with d_t observed events and n_t subjects
    still at risk (duration >= t): ``S(t) = prod_{u<=t} (1 - d_u/n_u)``.

    Float policy (the DSIR micro-nat pattern): each factor is a ratio
    of exact BIGINTs; its log is integer-scaled to micro-nats BEFORE
    the cumulative sum, so the running product is an exact BIGINT
    cumsum — cross-engine hash-stable — and only the display
    ``km_survival`` divides/exps. Steps stop before a zero factor
    (all-at-risk churned: S hits exactly 0, log undefined).

    Scale shape: everything after the caller's per-subject reduction is
    DOMAIN-COMPRESSED onto distinct durations — risk counts, event
    counts, and the cumulative log all run on a durations-sized
    relation, so the global windows are trivially cheap at any corpus
    size. Returns (duration_col, n_risk, n_events, log_surv_micronats,
    km_survival)."""
    per_t = subjects.groupBy(duration_col).agg(
        F.count(F.lit(1)).alias("n_ending"),
        F.sum(F.when(F.col(event_col), 1).otherwise(0)).alias("n_events"),
    )
    w_risk = Window.orderBy(duration_col).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = per_t.select(
        duration_col,
        "n_events",
        F.sum("n_ending").over(w_risk).alias("n_risk"),
    )
    steps = risk.where(
        (F.col("n_events") > 0) & (F.col("n_risk") > F.col("n_events"))
    )
    micro = F.round(
        F.log(
            (F.col("n_risk") - F.col("n_events")).cast("double")
            / F.col("n_risk").cast("double")
        )
        * F.lit(1000000.0),
        0,
    ).cast("long")
    w_cum = Window.orderBy(duration_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        steps.withColumn("__micro", micro)
        .select(
            duration_col,
            "n_risk",
            "n_events",
            F.sum("__micro").over(w_cum).alias("log_surv_micronats"),
        )
        .withColumn(
            "km_survival",
            F.round(
                F.exp(F.col("log_surv_micronats") / F.lit(1000000.0)), 4
            ),
        )
    )


def repair_cumulative_monotone(
    daily: DataFrame,
    keys: Sequence[str],
    day_col: str,
    cum_col: str,
) -> DataFrame:
    """Repair a CUMULATIVE counter series that occasionally decreases —
    the defining data defect of the reference's domain (JHU cumulative
    case files issued downward corrections, so naive day-over-day
    deltas go negative; the reference's mart clamps deltas at zero,
    cf. covid mart GREATEST(0, ·) — this operator fixes the SERIES
    instead, so every downstream delta is honest).

    Policy: running maximum per key (a cumulative quantity can never
    decrease; a dip is an upstream correction whose information lives
    in the LEVEL, not the dip). Emits the original value, the repaired
    value, and a flag so corrections stay auditable.

    One window over a (keys, day) sort — the same single shuffle any
    per-key series op costs; at 100 TB the repaired column is computed
    in the same pass that reads the series, no second materialization.
    """
    keys = list(keys)
    w = (
        Window.partitionBy(*keys)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    repaired = F.max(F.col(cum_col)).over(w)
    return daily.select(
        *keys,
        day_col,
        F.col(cum_col).alias("reported"),
        repaired.alias("repaired"),
        (repaired != F.col(cum_col)).alias("was_corrected"),
    )


def holt_winters_residuals(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    period: int = 7,
    alpha: float = 0.5,
    beta: float = 0.5,
    gamma: float = 0.5,
    k_mad: float = 3.0,
) -> DataFrame:
    """Seasonality-aware anomaly scoring: each day's ONE-STEP-AHEAD
    Holt-Winters forecast error, flagged against a robust
    MAD-of-residuals threshold — the detector a weekly-cycled feed
    needs where plain z-scores (events_zscore_anomalies) false-alarm
    every weekend and CUSUM tracks level, not season.

    For every folded day (t > period, i.e. from the second season
    on): ``fitted_t = ℓₜ₋₁ + bₜ₋₁ + s_{t-period}`` (the
    state BEFORE folding day t — a true forecast, so an anomaly can't
    mask itself), ``resid_t = yₜ − fitted_t``; a day is anomalous when
    ``|resid| > k_mad · 1.4826 · MAD(resid)`` with the MAD the exact
    lower median of |resid| (domain-compressed selection, never a
    float aggregate). Same fold/emission shape as
    :func:`holt_winters_seasonal` (state O(period+days) per type; the
    residual relation is days-sized, so the median window is cheap).

    Returns (type_col, day, observed, fitted, resid, is_anomaly) for
    every scored day — the flag column carries the verdict so the
    output is non-degenerate on clean data.
    """
    m = int(period)
    a, b, g = F.lit(float(alpha)), F.lit(float(beta)), F.lit(float(gamma))
    daily = (
        events.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(type_col), F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    series = daily.groupBy(type_col).agg(
        F.sort_array(F.collect_list(F.struct("day", "cnt"))).alias("s")
    )
    s = F.col("s")
    ys = F.transform(s, lambda e: e["cnt"])
    n = F.size(s)
    sum1 = F.aggregate(
        F.slice(ys, 1, m), F.lit(0).cast("long"), lambda acc, y: acc + y
    )
    sum2 = F.aggregate(
        F.slice(ys, m + 1, m), F.lit(0).cast("long"), lambda acc, y: acc + y
    )
    lvl0 = sum1.cast("double") / F.lit(float(m))
    trd0 = (sum2 - sum1).cast("double") / F.lit(float(m * m))
    prepared = series.where(n >= 2 * m).select(
        type_col,
        "s",
        F.struct(lvl0.alias("lvl"), trd0.alias("trd")).alias("h0"),
    )
    seas0 = F.transform(
        F.slice(ys, 1, m), lambda y: y.cast("double") - F.col("h0.lvl")
    )
    out0 = F.expr(
        "CAST(array() AS array<struct<day:date,fitted:double,resid:double>>)"
    )
    init = F.struct(
        F.col("h0.lvl").alias("lvl"),
        F.col("h0.trd").alias("trd"),
        seas0.alias("seas"),
        out0.alias("out"),
    )

    def _step(acc, e):
        from covid_data_pipeline_spark.functions.text import let

        yd = e["cnt"].cast("double")
        s_m = F.element_at(acc["seas"], 1)
        fitted = acc["lvl"] + acc["trd"] + s_m
        new_lvl = a * (yd - s_m) + (F.lit(1.0) - a) * (acc["lvl"] + acc["trd"])

        def _with_lvl(nl):
            new_trd = b * (nl - acc["lvl"]) + (F.lit(1.0) - b) * acc["trd"]
            new_s = g * (yd - nl) + (F.lit(1.0) - g) * s_m
            return F.struct(
                nl.alias("lvl"),
                new_trd.alias("trd"),
                F.concat(
                    F.slice(acc["seas"], 2, m - 1), F.array(new_s)
                ).alias("seas"),
                F.concat(
                    acc["out"],
                    F.array(
                        F.struct(
                            e["day"].alias("day"),
                            fitted.alias("fitted"),
                            (yd - fitted).alias("resid"),
                        )
                    ),
                ).alias("out"),
            )

        return let(new_lvl, _with_lvl)

    folded = prepared.select(
        type_col,
        F.aggregate(F.slice(s, m + 1, n - m), init, _step).alias("h"),
    )
    rows = folded.select(
        type_col, F.explode(F.col("h.out")).alias("r")
    ).select(
        type_col,
        F.col("r.day").alias("day"),
        F.col("r.fitted").alias("fitted"),
        F.col("r.resid").alias("resid"),
    )
    w_type = Window.partitionBy(type_col)
    w_ord = Window.partitionBy(type_col).orderBy(F.abs(F.col("resid")), "day")
    ranked = rows.select(
        type_col,
        "day",
        "fitted",
        "resid",
        F.row_number().over(w_ord).alias("__rk"),
        F.count(F.lit(1)).over(w_type).alias("__n"),
    )
    # lower median of |resid| per type: rk == (n+1) div 2
    mad_rel = ranked.where(
        F.col("__rk") == F.expr("(__n + 1) div 2")
    ).select(type_col, F.abs(F.col("resid")).alias("__mad"))
    thresh = F.lit(float(k_mad)) * F.lit(1.4826) * F.col("__mad")
    return (
        ranked.join(mad_rel, type_col)
        .select(
            type_col,
            "day",
            round_stable("fitted", 4).alias("fitted"),
            round_stable("resid", 4).alias("resid"),
            (
                (F.col("__mad") > 0) & (F.abs(F.col("resid")) > thresh)
            ).alias("is_anomaly"),
        )
    )


def nelson_aalen(
    subjects: DataFrame,
    duration_col: str = "t_days",
    event_col: str = "event",
) -> DataFrame:
    """Nelson-Aalen cumulative hazard estimate over the same SUBJECTS
    relation :func:`kaplan_meier` consumes: ``H(t) = sum_{u<=t}
    d_u / n_u``. The hazard-scale companion of KM — additive, so
    hazards difference cleanly between cohorts, and its slope reads as
    the instantaneous event rate (KM's product form obscures both);
    ``exp(-H)`` is the Fleming-Harrington survival estimate, close to
    KM except under heavy ties.

    Same float policy: each increment is a ratio of exact BIGINTs
    integer-scaled to micro-units BEFORE the cumulative sum (exact
    BIGINT cumsum, display division only), same domain compression
    onto distinct durations. Unlike KM this has no zero-factor stop:
    the step where everyone at risk fails is representable (H jumps by
    1). Returns (duration_col, n_risk, n_events, cum_hazard_micro,
    na_survival)."""
    per_t = subjects.groupBy(duration_col).agg(
        F.count(F.lit(1)).alias("n_ending"),
        F.sum(F.when(F.col(event_col), 1).otherwise(0)).alias("n_events"),
    )
    w_risk = Window.orderBy(duration_col).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = per_t.select(
        duration_col,
        "n_events",
        F.sum("n_ending").over(w_risk).alias("n_risk"),
    )
    steps = risk.where(F.col("n_events") > 0)
    micro = F.round(
        F.lit(1000000.0)
        * F.col("n_events").cast("double")
        / F.col("n_risk").cast("double"),
        0,
    ).cast("long")
    w_cum = Window.orderBy(duration_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        steps.withColumn("__micro", micro)
        .select(
            duration_col,
            "n_risk",
            "n_events",
            F.sum("__micro").over(w_cum).alias("cum_hazard_micro"),
        )
        .withColumn(
            "na_survival",
            F.round(
                F.exp(-F.col("cum_hazard_micro") / F.lit(1000000.0)), 4
            ),
        )
    )


def logrank_test(
    subjects: DataFrame,
    duration_col: str = "t_mins",
    event_col: str = "ended",
    group_col: str = "grp",
) -> DataFrame:
    """Log-rank (Mantel-Cox) test between two survival cohorts — the
    inferential companion to :func:`kaplan_meier`/:func:`nelson_aalen`:
    does cohort 1 churn at a different hazard than cohort 0, accounting
    for right censoring? At each event time t: observed group-1 events
    d1_t vs hypergeometric expectation d_t·n1_t/n_t with variance
    d_t·n1_t·(n_t−n1_t)·(n_t−d_t) / (n_t²·(n_t−1)); the statistic is
    z = (O1 − E1)/sqrt(V).

    Exactness: all risk/event counts are exact integers on the
    duration-compressed domain (two suffix-window cumsums, |distinct
    durations| rows); each per-time E and V term is integer-scaled to
    micro units after ONE double division over exact integer products
    (numerators in DECIMAL(38,0)/HUGEINT — n⁴ outgrows BIGINT past
    ~55k subjects), so the sums are exact BIGINT and z spends floats
    only on the final division + sqrt. Returns one row:
    (n_grp1, n_grp0, o1, e1_micro, v_micro, z)."""
    g1 = F.when(F.col(group_col), 1).otherwise(0)
    evt = F.when(F.col(event_col), 1).otherwise(0)
    per_t = subjects.groupBy(duration_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_ending"),
        F.sum(g1).cast("long").alias("n_ending_1"),
        F.sum(evt).cast("long").alias("d"),
        F.sum(evt * g1).cast("long").alias("d1"),
    )
    w_risk = Window.orderBy(duration_col).rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = per_t.select(
        duration_col,
        "d",
        "d1",
        F.sum("n_ending").over(w_risk).cast("long").alias("n"),
        F.sum("n_ending_1").over(w_risk).cast("long").alias("n1"),
    )
    steps = risk.where((F.col("d") > 0) & (F.col("n") > 1))
    e1_micro = F.round(
        F.lit(1000000.0)
        * F.expr("CAST(CAST(d AS DECIMAL(38,0)) * n1 AS DOUBLE)")
        / F.col("n").cast("double"),
        0,
    ).cast("long")
    v_micro = F.round(
        F.lit(1000000.0)
        * F.expr(
            "CAST(CAST(d AS DECIMAL(38,0)) * n1 * (n - n1) * (n - d)"
            " AS DOUBLE)"
        )
        / (
            F.col("n").cast("double")
            * F.col("n").cast("double")
            * (F.col("n") - 1).cast("double")
        ),
        0,
    ).cast("long")
    totals = subjects.agg(
        F.sum(g1).cast("long").alias("n_grp1"),
        F.sum(1 - g1).cast("long").alias("n_grp0"),
    )
    agg = steps.select(
        "d1", e1_micro.alias("__e"), v_micro.alias("__v")
    ).agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("__e").cast("long").alias("e1_micro"),
        F.sum("__v").cast("long").alias("v_micro"),
    )
    z = (
        F.col("o1").cast("double") - F.col("e1_micro") / F.lit(1000000.0)
    ) / F.sqrt(F.col("v_micro") / F.lit(1000000.0))
    # bcast: const(1) scalar O/E/V agg
    return totals.crossJoin(F.broadcast(agg)).select(
        "n_grp1",
        "n_grp0",
        "o1",
        "e1_micro",
        "v_micro",
        round_stable(z, 4).alias("z"),
    )


def sax_words(
    df: DataFrame,
    key_cols: Sequence[str],
    t_col: str,
    value_col: str,
    paa_width: int,
    alphabet: int = 4,
) -> DataFrame:
    """SAX — Symbolic Aggregate approXimation (Lin, Keogh, Lonardi &
    Chiu, DMKD 2003) on the exact integer lattice: compress each key's
    (t, value) series into a short symbol string whose alphabet is
    equi-depth over the corpus, the representation similarity search /
    motif discovery / anomaly grammars run on instead of raw series.

    Deviation from the classic recipe, for exactness: PAA segments are
    fixed ``t div paa_width`` buckets and the per-segment feature is
    the integer SUM (not a z-normalized float mean), with breakpoints
    taken as exact ORDER-STATISTIC values of the segment-sum
    distribution (rank ``ceil(i*n/alphabet)``) rather than Gaussian
    quantiles — every comparison is BIGINT vs BIGINT, so the symbols
    (and the word) replay bit-for-bit in any SQL engine. Equi-depth
    breakpoints keep the classic property that symbols are ~equally
    likely.

    Scale shape: one map-side-combining rollup to |keys x segments|;
    the order-statistic ranks come from the distributed
    :func:`~covid_data_pipeline_spark.operators.sampling.value_order_rank`
    (range-bucketed two-level rank — no partition-less global window;
    ADVICE r8), and only the ``alphabet-1`` breakpoint VALUES are
    collected to the driver. The rollup is bounded by time span x
    keys, never corpus rows — same class as the bucket-count cumsums.
    Returns per-key rows: ``key_cols + (n_segments, sax_word)``."""
    if paa_width < 1:
        raise ValueError(f"paa_width must be >= 1, got {paa_width}")
    if not 2 <= alphabet <= 26:
        raise ValueError(f"alphabet must be in [2, 26], got {alphabet}")
    keys = list(key_cols)
    seg = (
        df.withColumn("_seg", F.expr(f"CAST({t_col} AS BIGINT) div {int(paa_width)}"))
        .groupBy(*keys, "_seg")
        .agg(F.sum(F.col(value_col).cast("bigint")).alias("_tot"))
        .localCheckpoint(eager=False)  # rank + symbol + word reuse it
    )
    # exact order-statistic breakpoints over the compact segment
    # rollup, ranked DISTRIBUTED (value_order_rank's range-bucketed
    # two-level rank) — the breakpoint VALUE at a rank is tie-invariant
    # under any total (value, tiebreak) order, so the hash tiebreak
    # only serves to make row_number well-defined within a bucket.
    from covid_data_pipeline_spark.operators.sampling import (
        value_order_rank,
    )

    n = seg.count()
    bp_ranks = [
        (i * n + alphabet - 1) // alphabet for i in range(1, alphabet)
    ]
    if n:
        ranked = value_order_rank(
            seg.withColumn("_tb", F.xxhash64(*keys, F.col("_seg"))),
            "_tot",
            "_tb",
            rank_col="_r",
        )
        bps = sorted(
            r["_tot"]
            for r in ranked.where(F.col("_r").isin(bp_ranks))
            .select("_tot")
            .collect()
        )
    else:
        bps = []
    sym_idx = sum(
        (F.col("_tot") > F.lit(int(b))).cast("int") for b in bps
    ) if bps else F.lit(0)
    labeled = seg.withColumn(
        "_sym",
        F.char(F.lit(97) + sym_idx),  # 97 = 'a'
    )
    return labeled.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_seg"), F.col("_sym")))
                ),
                lambda s: s["_sym"],
            ),
            "",
        ).alias("sax_word"),
    )


def seasonal_strength(
    df: DataFrame,
    key_cols: Sequence[str],
    t_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Seasonal-strength score (the STL diagnostic of Cleveland et al.
    1990, computed STL-free on the exact integer lattice): per key,
    how much of a regular series' variance is explained by its
    seasonal profile —

        strength = max(0, 1 − SS(value − seasonal_median) / SS(value))

    with the seasonal component the per-phase (``t mod period``)
    MEDIAN, the robust choice. Exactness: values must be integral;
    medians are DOUBLED order statistics (``v_{(n+1) div 2} +
    v_{(n+2) div 2}`` — integer for even and odd group sizes alike),
    residuals stay integer, and both sums of squares use the
    mean-free form ``n·Σw² − (Σw)²`` in DECIMAL(38,0), so the single
    final division is the only float op. Returns per key:
    ``key_cols + (n_obs, strength)``; a constant series (SS total 0)
    yields NULL via try_divide.

    Scale shape: the order-stat window partitions by (key, phase) —
    parallel across keys and phases, never global; everything after
    the per-(key, phase) median join is |keys x observations| with
    map-side-combining rollups."""
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    d38 = "decimal(38,0)"
    base = df.select(
        *keys,
        F.col(t_col).cast("bigint").alias("__t"),
        F.col(value_col).cast("bigint").alias("__v"),
    ).withColumn("__ph", F.pmod(F.col("__t"), F.lit(period)))
    w = Window.partitionBy(*keys, "__ph").orderBy("__v", "__t")
    ranked = base.withColumn("__rn", F.row_number().over(w))
    gsz = base.groupBy(*keys, "__ph").agg(F.count(F.lit(1)).alias("__gn"))
    med2 = (
        ranked.join(gsz, [*keys, "__ph"])
        .where(
            (F.col("__rn") == F.expr("(__gn + 1) div 2"))
            | (F.col("__rn") == F.expr("(__gn + 2) div 2"))
        )
        .groupBy(*keys, "__ph")
        .agg(
            # odd group: the middle rank matches BOTH conditions but is
            # one row — double it; even: two middle rows sum once each
            F.when(F.max("__gn") % 2 == 1, F.sum("__v") * 2)
            .otherwise(F.sum("__v"))
            .alias("__m2")
        )
    )
    r = base.join(med2, [*keys, "__ph"]).select(
        *keys,
        (F.col("__v") * 2).cast(d38).alias("__w"),
        (F.col("__v") * 2 - F.col("__m2")).cast(d38).alias("__r"),
    )
    agg = r.groupBy(*keys).agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum("__w").alias("__sw"),
        F.sum(F.col("__w") * F.col("__w")).alias("__sww"),
        F.sum("__r").alias("__sr"),
        F.sum(F.col("__r") * F.col("__r")).alias("__srr"),
    )
    ss_tot = (F.col("__n") * F.col("__sww")
              - F.col("__sw") * F.col("__sw")).cast("double")
    ss_res = (F.col("__n") * F.col("__srr")
              - F.col("__sr") * F.col("__sr")).cast("double")
    # greatest() skips NULL operands, so the zero-total-variance case
    # (constant series -> try_divide NULL) must stay NULL explicitly
    ratio = F.try_divide(ss_res, ss_tot)
    return agg.select(
        *keys,
        F.col("__n").cast("bigint").alias("n_obs"),
        F.when(
            ratio.isNotNull(),
            F.round(F.greatest(F.lit(1.0) - ratio, F.lit(0.0)), 6),
        ).alias("strength"),
    )


def ransac_trend(
    df: DataFrame,
    key_cols: Sequence[str],
    x_col: str,
    y_col: str,
    eps: int = 10,
    min_span: int = 1,
    max_candidates: int | None = None,
) -> DataFrame:
    """Deterministic RANSAC line fit per key (Fischler & Bolles, CACM
    1981, derandomized for replay): the robust-trend sibling of
    Theil-Sen that also reports WHICH fraction of the series the
    consensus line explains — Theil-Sen always returns a slope;
    RANSAC's inlier count tells you whether any line fits at all.

    Derandomization: instead of random point pairs, candidates are the
    n div 2 HALF-OFFSET pairs (point i with point i + n div 2 in x
    order) — the classic spread that avoids short-baseline noise
    amplification, costs O(n) candidates per key (n = points per key),
    and is a pure function of the data. Consensus is counted ENTIRELY
    in integers: point (x, y) is an inlier of the line through
    (x1, y1), (x2, y2) iff

        |(y - y1)·dx - dy·(x - x1)| <= eps · |dx|

    (the vertical-distance test cleared of division), so the winning
    candidate — max inliers, ties to the smallest (x1, x2) — is exact
    on any engine; only the reported slope is one final division.
    Candidates with x-span < ``min_span`` are skipped (vertical
    degenerate). Returns per key: ``key_cols + (n_points, n_inliers,
    slope, x1, x2)``.

    Degenerate-key contract (ADVICE r9): keys that yield NO valid
    candidate pair — single-point keys, or keys whose every
    half-offset pair has x-span < ``min_span`` — are NOT omitted:
    they surface with their true ``n_points`` and NULL
    ``n_inliers/slope/x1/x2`` (the per-key counts are left-joined
    back), so a caller can tell "no line fits" from "key vanished".

    Scale shape: per-key rank via a partitioned window, candidate
    pairing is a keyed self-equi-join on (key, rank offset), and the
    candidate x point consensus join is keyed by the key columns —
    |candidates| x |points| = n²/2 rows PER KEY, the honest cost of
    full consensus counting (days-per-series bounded). For long or
    SKEWED series, ``max_candidates`` caps the per-key candidate count
    by a deterministic rank STRIDE (keep ranks 1, 1+s, 1+2s, ... with
    s = ceil((n div 2) / max_candidates)): consensus work becomes
    O(max_candidates · n) per key — a 1M-point key at max_candidates=32
    costs 32M consensus rows instead of 5·10¹¹ — while remaining a
    pure function of the data (no sampling RNG), so results stay
    partition-invariant and replayable. With the cap, the winner is
    the best of the SURVIVING candidates (classic RANSAC's trade:
    fewer hypotheses, same exact scoring)."""
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    if eps < 0 or min_span < 1:
        raise ValueError(f"bad eps/min_span {eps}/{min_span}")
    if max_candidates is not None and max_candidates < 1:
        raise ValueError(f"max_candidates must be >= 1, got {max_candidates}")
    pts = df.select(
        *keys,
        F.col(x_col).cast("bigint").alias("__x"),
        F.col(y_col).cast("bigint").alias("__y"),
    ).filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    pts = pts.localCheckpoint(eager=False)  # ranked pairing + consensus
    w = Window.partitionBy(*keys).orderBy("__x", "__y")
    ranked = pts.withColumn("__r", F.row_number().over(w))
    nkey = pts.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    a = ranked.join(nkey, keys).withColumn(
        "__r2", F.col("__r") + F.expr("__n div 2")
    )
    if max_candidates is not None:
        # deterministic stride thinning: ceil((n div 2)/cap) via
        # integer arithmetic; keep candidate start ranks 1, 1+s, ...
        stride = F.expr(
            f"greatest(1, ((__n div 2) + {int(max_candidates)} - 1)"
            f" div {int(max_candidates)})"
        )
        a = a.where((F.col("__r") - 1) % stride == 0)
    b = ranked.select(
        *keys,
        F.col("__r").alias("__r2"),
        F.col("__x").alias("__x2"),
        F.col("__y").alias("__y2"),
    )
    cand = (
        a.join(b, [*keys, "__r2"])
        .select(
            *keys,
            F.col("__x").alias("__x1"),
            F.col("__y").alias("__y1"),
            "__x2",
            "__y2",
            "__n",
        )
        .where(F.abs(F.col("__x2") - F.col("__x")) >= min_span)
    )
    j = cand.join(pts.select(*keys, "__x", "__y"), keys)
    dx = F.col("__x2") - F.col("__x1")
    dy = F.col("__y2") - F.col("__y1")
    resid = F.abs(
        (F.col("__y") - F.col("__y1")) * dx - dy * (F.col("__x") - F.col("__x1"))
    )
    scored = j.groupBy(*keys, "__x1", "__y1", "__x2", "__y2", "__n").agg(
        F.sum((resid <= F.lit(int(eps)) * F.abs(dx)).cast("long")).alias(
            "__inl"
        )
    )
    # argmax as ONE max(struct): inliers maximal, every tiebreak field
    # NEGATED so "max" selects the smallest (x1, x2, y1, y2) — the same
    # total order an oracle's ORDER BY inl DESC, x1, x2, y1, y2 gives
    best = scored.groupBy(*keys).agg(
        F.max(
            F.struct(
                F.col("__inl"),
                (-F.col("__x1")).alias("__nx1"),
                (-F.col("__x2")).alias("__nx2"),
                (-F.col("__y1")).alias("__ny1"),
                (-F.col("__y2")).alias("__ny2"),
                F.col("__n"),
            )
        ).alias("__b")
    )
    from covid_data_pipeline_spark.functions.scalar import round_stable

    y1 = -F.col("__b.__ny1")
    y2 = -F.col("__b.__ny2")
    x1 = -F.col("__b.__nx1")
    x2 = -F.col("__b.__nx2")
    fitted = best.select(
        *keys,
        F.col("__b.__inl").cast("bigint").alias("n_inliers"),
        round_stable(
            (y2 - y1).cast("double") / (x2 - x1).cast("double"), 6
        ).alias("slope"),
        x1.cast("bigint").alias("x1"),
        x2.cast("bigint").alias("x2"),
    )
    # Degenerate keys (no valid candidate) keep a row: true n_points
    # from the |keys|-sized count rollup, NULL fit columns from the
    # left join. Both sides are hash-partitioned on the same keys.
    return nkey.select(
        *keys, F.col("__n").cast("bigint").alias("n_points")
    ).join(fitted, keys, "left")


def robust_zscore(
    df: DataFrame,
    key_cols: Sequence[str],
    x_col: str,
    value_col: str,
) -> DataFrame:
    """Modified z-score anomaly detection (Iglewicz & Hoaglin, "How to
    Detect and Handle Outliers" 1993) — the median/MAD robust twin of
    the classic mean/std z-score (which a single whale inflates until
    it masks every other outlier): M = 0.6745·(v − median)/MAD,
    flagged past the standard 3.5.

    Exactness on the doubled-order-statistic lattice (the
    seasonal_strength machinery): values must be integral; the per-key
    median is the DOUBLED order statistic ``med2 = v_{(n+1) div 2} +
    v_{(n+2) div 2}`` (integer for odd and even n alike), the absolute
    deviations ``d = |2v − med2|`` stay integer, and the doubled
    median of d gives ``mad4 = 4·MAD`` exactly. The OUTLIER VERDICT
    clears all denominators: |M| > 3.5 ⟺ 1349·d > 1750·mad4 —
    pure BIGINT, engine- and partition-invariant, and naturally
    correct in the MAD = 0 degenerate case (any deviation from the
    median of a majority-constant series is flagged). Only the display
    ``robust_z = 1.349·(2v − med2)/mad4`` spends one division (NULL
    via try_divide when MAD = 0). Returns every input row:
    ``key_cols + (x, v, robust_z, is_outlier)``.

    Scale shape: two chained per-key order-statistic windows
    (partitioned by key — parallel across the key space, never
    global) + model-sized median joins back; rows with NULL x/value
    are excluded."""
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    base = df.select(
        *keys,
        F.col(x_col).cast("bigint").alias("x"),
        F.col(value_col).cast("bigint").alias("v"),
    ).filter(F.col(x_col).isNotNull() & F.col(value_col).isNotNull())
    base = base.localCheckpoint(eager=False)  # feeds 2 medians + output

    def med2_of(rel: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(col, "x")
        ranked = rel.withColumn("__rn", F.row_number().over(w))
        gsz = rel.groupBy(*keys).agg(F.count(F.lit(1)).alias("__gn"))
        return (
            ranked.join(gsz, keys)
            .where(
                (F.col("__rn") == F.expr("(__gn + 1) div 2"))
                | (F.col("__rn") == F.expr("(__gn + 2) div 2"))
            )
            .groupBy(*keys)
            .agg(
                # odd n: the single middle rank matches both conditions
                F.when(F.max("__gn") % 2 == 1, F.sum(col) * 2)
                .otherwise(F.sum(col))
                .alias(out)
            )
        )

    med = med2_of(base, "v", "med2")
    devs = base.join(med, keys).withColumn(
        "__d", F.abs(F.col("v") * 2 - F.col("med2"))
    )
    devs = devs.localCheckpoint(eager=False)  # feeds mad median + output
    mad = med2_of(devs.select(*keys, "x", F.col("__d").alias("v")),
                  "v", "mad4")
    from covid_data_pipeline_spark.functions.scalar import round_stable

    out = devs.join(mad, keys)
    return out.select(
        *keys,
        "x",
        "v",
        round_stable(
            F.try_divide(
                F.lit(1.349)
                * (F.col("v") * 2 - F.col("med2")).cast("double"),
                F.col("mad4").cast("double"),
            ),
            4,
        ).alias("robust_z"),
        (F.col("__d") * 1349 > F.col("mad4") * 1750).alias("is_outlier"),
    )


def trimmed_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    trim_num: int = 1,
    trim_den: int = 10,
) -> DataFrame:
    """Trimmed and winsorized means per key (Tukey; Dixon & Yuen 1974)
    — the robust location estimates between the mean (efficient,
    fragile) and the median (robust, wasteful): drop — or clamp to the
    cut boundary — the lowest and highest ``floor(n·trim_num/
    trim_den)`` values and average the rest. The standard aggregate
    for whale-dominated metrics (revenue per cohort, tokens per doc).

    Exactness: values must be integral; the per-key cut count
    ``g = n·trim_num div trim_den`` and the rank window are exact, so
    the trimmed sum, the boundary values (the order statistics at
    ranks g+1 and n−g), and the winsorized sum ``S_kept + g·(lo+hi)``
    are all BIGINT/DECIMAL(38,0) — each mean spends ONE division.
    Which duplicates of a tied boundary value get cut is rank-
    arbitrary but VALUE-invariant (equal values), so the sums are
    deterministic on any engine/partitioning. Returns per key:
    ``key_cols + (n, n_cut_each_side, trimmed_mean,
    winsorized_mean)``; keys where trimming would drop everything
    (n ≤ 2g) yield NULL means via try_divide.

    Scale shape: one per-key rank window (partitioned — parallel
    across the key space) + one map-side-combining rollup; NULL
    values are excluded."""
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    if not (0 < trim_num < trim_den):
        raise ValueError(f"bad trim fraction {trim_num}/{trim_den}")
    d38 = "decimal(38,0)"
    base = df.select(
        *keys, F.col(value_col).cast("bigint").alias("__v")
    ).filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(*keys).orderBy("__v")
    ranked = base.withColumn("__rn", F.row_number().over(w))
    nkey = base.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    j = ranked.join(nkey, keys).withColumn(
        "__g", F.expr(f"(__n * {int(trim_num)}) div {int(trim_den)}")
    )
    kept = (F.col("__rn") > F.col("__g")) & (
        F.col("__rn") <= F.col("__n") - F.col("__g")
    )
    agg = j.groupBy(*keys).agg(
        F.max("__n").alias("n"),
        F.max("__g").alias("__g2"),
        F.sum(F.when(kept, F.col("__v")).otherwise(F.lit(0)))
        .cast(d38)
        .alias("__sk"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("__nk"),
        # order statistics at the cut boundaries (NULL when n <= 2g)
        F.max(
            F.when(F.col("__rn") == F.col("__g") + 1, F.col("__v"))
        ).alias("__lo"),
        F.max(
            F.when(
                F.col("__rn") == F.col("__n") - F.col("__g"), F.col("__v")
            )
        ).alias("__hi"),
    )
    from covid_data_pipeline_spark.functions.scalar import round_stable

    empty = F.col("__nk") <= 0
    wins_sum = (
        F.col("__sk")
        + (F.col("__g2").cast(d38)
           * (F.col("__lo") + F.col("__hi")).cast(d38))
    )
    return agg.select(
        *keys,
        F.col("n").cast("bigint").alias("n"),
        F.col("__g2").cast("bigint").alias("n_cut_each_side"),
        round_stable(
            F.try_divide(
                F.col("__sk").cast("double"), F.col("__nk").cast("double")
            ),
            4,
        ).alias("trimmed_mean"),
        round_stable(
            F.when(
                ~empty,
                wins_sum.cast("double") / F.col("n").cast("double"),
            ),
            4,
        ).alias("winsorized_mean"),
    )
