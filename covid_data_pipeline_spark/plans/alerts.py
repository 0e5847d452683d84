"""alerts: threshold alerting over the star schema, idempotent sink.

Reference: the four Trino SQLs (alert_case_spike.sql, alert_death_spike.sql,
alert_incidence.sql, deaths_incidence.sql) re-expressed as ONE Spark plan
that serves all four:

  fact JOIN dim → LAG(confirmed), LAG(deaths) per location_key over
  report_date (one window) → filter to the alert day ABOVE the window →
  per AlertSpec: unclamped delta + rate → threshold → formatted
  description, packed as one array element → explode → NOT EXISTS
  dedup → append

One join and one window instead of four of each unioned: the four
queries differ only in measure, threshold and rendering, and every
spec reads the same per-location history.

Policy notes (SURVEY.md §7.3): alerts do NOT clamp negative deltas —
they filter ``prev IS NOT NULL`` and ``delta > 0``; this is deliberately
different from the mart's GREATEST clamp.

The sink is a Warehouse table by default (tests, portability); a JDBC
URL switches to the reference's Postgres-style sink. Dedup is a
broadcast anti-join on (alert_date, country, alert_type) — the Spark
decorrelation of the reference's correlated NOT EXISTS.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from covid_data_pipeline_spark.operators.relational import anti_join, dim_join
from covid_data_pipeline_spark.operators.windows import with_deltas
from covid_data_pipeline_spark.plans import schemas as S
from covid_data_pipeline_spark.sources.writers import Warehouse, write_jdbc

@dataclass(frozen=True)
class AlertSpec:
    """One alert query: measure, rate derivation, threshold, rendering."""

    alert_type: str
    severity: str
    measure: str  # fact column the LAG applies to (confirmed/deaths)
    # (delta_col, prev_col, population) -> boolean threshold Column
    predicate: Callable[[Column, Column, Column], Column]
    # (delta_col, population) -> metric_value DOUBLE Column
    metric: Callable[[Column, Column], Column]
    # (delta_col, population) -> description string Column
    description: Callable[[Column, Column], Column]


def _rate(delta: Column, population: Column) -> Column:
    return delta.cast("double") / population


def _per_100k(delta: Column, population: Column) -> Column:
    return delta.cast("double") * 100000.0 / population


# The four reference alert queries, thresholds per their WHERE clauses.
ALERT_SPECS: tuple[AlertSpec, ...] = (
    AlertSpec(  # alert_case_spike.sql
        alert_type="CASE_RATE_POPULATION",
        severity="HIGH",
        measure="confirmed",
        predicate=lambda d, p, pop: (d > 0)
        & (pop > 0)
        & (_rate(d, pop) >= S.CASE_RATE_THRESHOLD),
        metric=lambda d, pop: d.cast("double"),
        description=lambda d, pop: F.format_string(
            "COVID alert: %.3f%% of population infected today (%s new cases)",
            _rate(d, pop) * 100,
            d.cast("string"),
        ),
    ),
    AlertSpec(  # alert_death_spike.sql
        alert_type="DEATH_RATE_POPULATION",
        severity="HIGH",
        measure="deaths",
        predicate=lambda d, p, pop: (d > 0)
        & (pop > 0)
        & (_rate(d, pop) >= S.DEATH_RATE_THRESHOLD),
        metric=lambda d, pop: d.cast("double"),
        description=lambda d, pop: F.format_string(
            "COVID death alert: %.5f%% of population died today (%s new deaths)",
            _rate(d, pop) * 100,
            d.cast("string"),
        ),
    ),
    AlertSpec(  # alert_incidence.sql
        alert_type="INCIDENCE_100K",
        severity="MEDIUM",
        measure="confirmed",
        predicate=lambda d, p, pop: _per_100k(d, pop) > S.INCIDENCE_100K_THRESHOLD,
        metric=lambda d, pop: _per_100k(d, pop),
        description=lambda d, pop: F.format_string(
            "Daily incidence: %.2f per 100k population", _per_100k(d, pop)
        ),
    ),
    AlertSpec(  # deaths_incidence.sql
        alert_type="DEATH_SPIKE_100K",
        severity="HIGH",
        measure="deaths",
        predicate=lambda d, p, pop: _per_100k(d, pop) > S.DEATHS_100K_THRESHOLD,
        metric=lambda d, pop: _per_100k(d, pop),
        description=lambda d, pop: F.format_string(
            "High daily COVID mortality: %.2f per 100k population",
            _per_100k(d, pop),
        ),
    ),
)


def build_alerts(fact: DataFrame, dim: DataFrame, report_date: str) -> DataFrame:
    """Every alert spec's candidate rows for the day (pre-dedup), from one
    fact ⋈ dim join and one LAG window over both measures."""
    measures = sorted({spec.measure for spec in ALERT_SPECS})
    joined = dim_join(
        fact.select("report_date", "location_key", *measures),
        dim.select("location_key", "country_name", "population"),
        on=["location_key"],
        how="inner",
    )
    hist = with_deltas(
        joined,
        partition_by=["location_key"],
        order_by=["report_date"],
        cols=measures,
        clamp=False,  # alert policy: raw delta, no clamp
        prev_suffix="_prev",
        delta_prefix="new_",
    )
    day = hist.filter(F.col("report_date") == F.lit(report_date).cast("date"))
    pop = F.col("population")
    hits = []
    for spec in ALERT_SPECS:
        delta = F.col(f"new_{spec.measure}")
        prev = F.col(f"{spec.measure}_prev")
        hits.append(
            F.when(
                prev.isNotNull()  # first-observed-day rows never alert
                & spec.predicate(delta, prev, pop),
                F.struct(
                    F.lit(spec.alert_type).alias("alert_type"),
                    F.lit(spec.severity).alias("severity"),
                    spec.metric(delta, pop).alias("metric_value"),
                    spec.description(delta, pop).alias("description"),
                ),
            )
        )
    fired = day.select(
        F.col("report_date").alias("alert_date"),
        F.col("country_name").alias("country"),
        F.explode(F.array(*hits)).alias("hit"),
    ).filter(F.col("hit").isNotNull())
    return fired.select(
        "alert_date",
        "country",
        "hit.alert_type",
        "hit.severity",
        "hit.metric_value",
        "hit.description",
        F.current_timestamp().alias("created_at"),
    )


def run_all_alerts(
    spark: SparkSession,
    wh: Warehouse,
    report_date: str,
    jdbc_url: str | None = None,
    jdbc_table: str = "covid_alerts",
    jdbc_properties: dict[str, str] | None = None,
) -> int:
    """Run the four alert queries for the day; dedup against existing
    alerts (idempotent — the reference's NOT EXISTS contract); append.
    Returns the number of new alert rows.

    One Observation on the append counts the new rows. With a JDBC sink
    the rows are cached first, because they feed two sinks; the JDBC
    write is skipped when there are none."""
    candidates = build_alerts(wh.read(S.FACT_TABLE), wh.read(S.DIM_TABLE), report_date)
    if wh.exists(S.ALERTS_TABLE):
        existing = wh.read(S.ALERTS_TABLE).filter(
            F.col("alert_date") == F.lit(report_date).cast("date")
        )
        candidates = anti_join(
            candidates, existing, ["alert_date", "country", "alert_type"]
        )

    # The Observation goes above the cache: one inside a cached plan
    # reports nothing.
    new_rows = candidates.cache() if jdbc_url else candidates
    obs = Observation()
    try:
        wh.append(
            new_rows.observe(obs, F.count(F.lit(1)).alias("rows")),
            S.ALERTS_TABLE,
            partition_by=["alert_date"],
        )
        n = obs.get["rows"]
        if jdbc_url and n:
            write_jdbc(
                new_rows,
                jdbc_url,
                jdbc_table,
                mode="append",
                properties=jdbc_properties,
            )
        return n
    finally:
        if jdbc_url:
            new_rows.unpersist()


def render_notification(spark: SparkSession, wh: Warehouse, report_date: str) -> str:
    """HTML digest of the day's alerts (reference covid_alerts_dag.py:38-59
    renders an email body driver-side; a bounded collect is correct here —
    alert rows per day are O(countries))."""
    if not wh.exists(S.ALERTS_TABLE):
        return ""
    rows = (
        wh.read(S.ALERTS_TABLE)
        .filter(F.col("alert_date") == F.lit(report_date).cast("date"))
        .orderBy("country", "alert_type")
        .collect()
    )
    if not rows:
        return ""
    items = "\n".join(
        f"<li><b>{r['country']}</b> [{r['severity']}] {r['alert_type']}: "
        f"{r['description']}</li>"
        for r in rows
    )
    return f"<h3>COVID alerts for {report_date}</h3>\n<ul>\n{items}\n</ul>"


def notify_alerts(
    spark: SparkSession,
    wh: Warehouse,
    report_date: str,
    sink: Callable[[str, str], None],
    subject_prefix: str = "COVID alerts",
) -> bool:
    """Render the day's alert digest and hand it to ``sink(subject,
    html_body)`` — the engine-side completion of the reference's
    EmailOperator step (covid_alerts_dag.py:38-59: render → send when
    non-empty). Delivery transport (SMTP, webhook, pager) is the
    caller's sink; the engine owns the digest contract: NO send when the
    day has no alerts (the reference's ShortCircuitOperator), one send
    otherwise. Returns True iff the sink was invoked."""
    body = render_notification(spark, wh, report_date)
    if not body:
        return False
    sink(f"{subject_prefix} for {report_date}", body)
    return True
