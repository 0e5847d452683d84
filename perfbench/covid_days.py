"""Seeded JHU-style daily reports for the ``medallion_days`` workload.

Modelled on ``tests/covid_fixtures.py`` but at the size of a real JHU
daily report: ``countries x provinces`` admin rows per day. The CSVs
carry what the raw/ods layers must handle:

* both header epochs — day 0 has the 8-column 2020 header
  (``Province/State``, ``Latitude`` aliases, ``M/d/yyyy H:mm`` times),
  later days the 14-column header;
* JHU names the ods layer renames (``US``, ``Russia``, ``Korea, South``);
* NULL counters (empty cells, summed as 0 by the ods rollup);
* downward corrections of cumulative counts (clamped by the mart);
* one country with no population row (dropped by the mart's inner join).

The generator also derives, in plain Python, the mart rows and the alert
set ``run_day`` must produce, so the output check works for any seed.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import random
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

FIRST_DAY = dt.date(2021, 3, 1)
# JHU spelling -> World-Bank spelling, as plans.schemas.COUNTRY_NORMALIZATION.
RENAMED = {"US": "United States", "Russia": "Russian Federation", "Korea, South": "Korea, Rep."}
NO_POPULATION = "Atlantis"
POPULATION_YEARS = (2020, 2021, 2022)

# Thresholds of plans.schemas, restated so a change there fails the check.
CASE_RATE = 0.00005
DEATH_RATE = 0.0000005
INCIDENCE_100K = 10.0
DEATHS_100K = 1.0
RISK = ((5000, "Critical"), (1000, "High"), (100, "Medium"))

EARLY_HEADER = [
    "Province/State", "Country/Region", "Last Update", "Confirmed",
    "Deaths", "Recovered", "Latitude", "Longitude",
]
LATE_HEADER = [
    "FIPS", "Admin2", "Province_State", "Country_Region", "Last_Update",
    "Lat", "Long_", "Confirmed", "Deaths", "Recovered", "Active",
    "Combined_Key", "Incident_Rate", "Case_Fatality_Ratio",
]


@dataclass(frozen=True)
class MartRow:
    report_date: str
    country_name: str
    population: int
    total_confirmed: int
    total_deaths: int
    total_recovered: int
    current_active_cases: int
    new_cases_today: int
    new_deaths_today: int
    cases_per_100k: int
    fatality_rate_percent: float
    recovery_rate_percent: float
    risk_category: str


def _half_up(x: float, places: int) -> Decimal:
    # Spark rounds a double through its Double.toString decimal, HALF_UP.
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)


class CovidDays:
    """Cumulative per-province series drawn from ``seed``, ``days`` days to
    start with and one more per ``add_day`` call; a seed gives the same
    series however many days are drawn.

    ``cells[d][(country, province)]`` is ``(confirmed, deaths, recovered)``
    as reported on day ``d``; any counter may be ``None`` (an empty cell).
    """

    def __init__(self, seed: int, days: int, countries: int = 200, provinces: int = 20):
        self.rng = rng = random.Random(seed)
        named = ["US", "Russia", "Korea, South", NO_POPULATION]
        self.countries = named + [f"Land {i:03d}" for i in range(countries - len(named))]
        self.provinces = [f"Prov {j:02d}" for j in range(provinces)]
        # Odd populations not divisible by 5, so no rate lands exactly on
        # a threshold.
        self.population = {
            RENAMED.get(c, c): int(10 ** rng.uniform(5.5, 8)) // 10 * 10 + rng.choice((1, 3, 7, 9))
            for c in self.countries
            if c != NO_POPULATION
        }
        # Daily growth per province, as a share of the country population
        # split over its provinces: spans both sides of the alert thresholds.
        self.growth = {
            c: rng.uniform(0.2e-4, 2.5e-4) * self.population.get(RENAMED.get(c, c), 10**6) / provinces
            for c in self.countries
        }
        self.state = {
            (c, p): [rng.randrange(1000, 50000), rng.randrange(10, 500), rng.randrange(100, 20000)]
            for c in self.countries
            for p in self.provinces
        }
        self.days: list[str] = []
        self.cells: list[dict[tuple[str, str], tuple[int | None, ...]]] = []
        for _ in range(days):
            self.add_day()

    def add_day(self) -> None:
        rng, d = self.rng, len(self.days)
        # One country a day files a correction that shrinks its total.
        corrected = rng.choice(self.countries)
        day = {}
        for (c, p), s in self.state.items():
            if d:
                g = self.growth[c]
                s[0] += int(rng.uniform(0.5, 1.5) * g)
                s[1] += int(rng.uniform(0.0, 0.03) * g)
                s[2] += int(rng.uniform(0.3, 1.0) * g)
                if c == corrected and p == self.provinces[0]:
                    s[0] = max(0, s[0] - int(3 * g * len(self.provinces)) - 1)
            cell = list(s)
            if rng.random() < 0.01:
                cell[rng.randrange(3)] = None
            day[(c, p)] = tuple(cell)
        self.days.append((FIRST_DAY + dt.timedelta(days=d)).isoformat())
        self.cells.append(day)

    # ---------------------------------------------------------------- inputs

    def population_rows(self) -> list[tuple[str, str, int, int]]:
        return [
            (name, f"C{i:03d}", year, pop)
            for i, (name, pop) in enumerate(sorted(self.population.items()))
            for year in POPULATION_YEARS
        ]

    def csv_text(self, d: int) -> str:
        date = self.days[d]
        month, day_of_month, year = int(date[5:7]), int(date[8:10]), int(date[:4])
        early = d == 0
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(EARLY_HEADER if early else LATE_HEADER)
        for i, ((c, p), (conf, deaths, rec)) in enumerate(self.cells[d].items()):
            cells = ["" if v is None else v for v in (conf, deaths, rec)]
            if early:
                w.writerow([p, c, f"{month}/{day_of_month}/{year} 10:00", *cells, 1.5, 2.5])
            else:
                active = "" if None in (conf, deaths, rec) else conf - deaths - rec
                w.writerow([
                    i, "Adm", p, c, f"{date} 10:00:00", 1.5, 2.5, *cells,
                    active, f"{p}, {c}", 12.5, 1.1,
                ])
        return buf.getvalue()

    def write_csv(self, d: int, directory: str) -> str:
        """Land day ``d``; the file name carries the date (ods derives the
        report date from it)."""
        path = os.path.join(directory, f"{self.days[d]}.csv")
        with open(path, "w") as f:
            f.write(self.csv_text(d))
        return path

    # ------------------------------------------------------- expected output

    def country_totals(self, d: int) -> dict[str, tuple[int, int, int]]:
        """The ods rollup: per normalized country, ``sum(coalesce(x, 0))``."""
        out: dict[str, list[int]] = {}
        for (c, _), cell in self.cells[d].items():
            acc = out.setdefault(RENAMED.get(c, c), [0, 0, 0])
            for k, v in enumerate(cell):
                acc[k] += v or 0
        return {c: tuple(v) for c, v in out.items()}

    def expected_mart(self, d: int) -> list[MartRow]:
        today = self.country_totals(d)
        prev = self.country_totals(d - 1) if d else {}
        rows = []
        for c, (conf, deaths, rec) in sorted(today.items()):
            pop = self.population.get(c)
            if pop is None:
                continue
            pc, pd = prev.get(c, (conf, deaths))[:2]
            per_100k = int(_half_up(float(conf) / pop * 100000, 0))
            rate = lambda n: float(_half_up(float(n) / conf * 100, 2)) if conf > 0 else 0.0  # noqa: E731
            risk = next((label for t, label in RISK if per_100k > t), "Low")
            rows.append(MartRow(
                self.days[d], c, pop, conf, deaths, rec, conf - deaths - rec,
                max(conf - pc, 0), max(deaths - pd, 0), per_100k,
                rate(deaths), rate(rec), risk,
            ))
        return rows

    def expected_alerts(self, d: int) -> set[tuple[str, str, str]]:
        """``(alert_date, country, alert_type)`` raised on day ``d``."""
        if d == 0:
            return set()
        today, prev = self.country_totals(d), self.country_totals(d - 1)
        out = set()
        for c, (conf, deaths, _) in today.items():
            pop = self.population.get(c)
            if pop is None or c not in prev:
                continue
            dc, dd = conf - prev[c][0], deaths - prev[c][1]
            checks = {
                "CASE_RATE_POPULATION": dc > 0 and float(dc) / pop >= CASE_RATE,
                "DEATH_RATE_POPULATION": dd > 0 and float(dd) / pop >= DEATH_RATE,
                "INCIDENCE_100K": float(dc) * 100000.0 / pop > INCIDENCE_100K,
                "DEATH_SPIKE_100K": float(dd) * 100000.0 / pop > DEATHS_100K,
            }
            out |= {(self.days[d], c, t) for t, hit in checks.items() if hit}
        return out
