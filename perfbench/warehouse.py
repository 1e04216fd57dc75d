"""Seeded date-partitioned report warehouse and report queries for the
``report_queries`` workload, with the DuckDB oracle that checks them.

The warehouse has the network-report grain of the daily job's table
(date, app, ad unit, format, country) with integer metrics, so every sum
is exact and the oracle comparison needs no tolerance except for the
alert scores. Anomalous (app, unit, day) CTR shifts are planted as in
:mod:`fakeapi`, so the alert query's recall can be measured.
"""

from __future__ import annotations

import datetime
import random
from dataclasses import dataclass

import numpy as np

FIRST_DATE = datetime.date(2024, 1, 1)
DIM_COLS = {
    "APP": "app_name",
    "AD_UNIT": "ad_unit_name",
    "FORMAT": "format",
    "COUNTRY": "country",
}
METRIC_COLS = {
    "AD_REQUESTS": "ad_requests",
    "CLICKS": "clicks",
    "IMPRESSIONS": "impressions",
    "ESTIMATED_EARNINGS": "estimated_earnings_micros",
}
FORMATS = ("BANNER", "INTERSTITIAL", "REWARDED", "NATIVE")
THRESHOLD = 25.0
MAX_RESULT_ROWS = 2_000


@dataclass
class Warehouse:
    n_dates: int
    units_per_app: int
    n_countries: int
    apps: list[str]
    table: "object"  # pyarrow.Table
    planted: set  # {(date, app, unit)}

    @property
    def dates(self) -> list[datetime.date]:
        return [FIRST_DATE + datetime.timedelta(days=i) for i in range(self.n_dates)]


def make_warehouse(
    seed: int, n_dates: int, n_apps: int, units_per_app: int, n_countries: int
) -> Warehouse:
    """One row per (date, app, unit, country); metrics drawn per cell with
    a per-(app, unit) base CTR, a +-5% daily wobble and planted shifts."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    apps = [f"App {i:03d}" for i in range(n_apps)]
    unit_app = np.repeat(np.arange(n_apps), units_per_app)
    unit_names = np.array(
        [f"unit-{a:03d}-{j:02d}" for a in range(n_apps) for j in range(units_per_app)]
    )
    # the shared unit: app 1 also serves app 0's first unit
    unit_app = np.append(unit_app, 1)
    unit_names = np.append(unit_names, unit_names[0])
    n_units = len(unit_app)
    base_ctr = rng.uniform(0.005, 0.05, n_units)
    unit_fmt = rng.integers(0, len(FORMATS), n_units)

    factor = rng.uniform(0.95, 1.05, (n_dates, n_units))
    planted = set()
    last = np.full(n_units, -100)
    for d in range(8, n_dates):
        hit = (rng.random(n_units) < 0.03) & (d - last > 8)
        shift = np.where(rng.random(n_units) < 0.5, 1.6, 0.5)
        factor[d, hit] *= shift[hit]
        last[hit] = d
        day = FIRST_DATE + datetime.timedelta(days=d)
        planted.update((day, apps[unit_app[u]], unit_names[u]) for u in np.flatnonzero(hit))

    n_cells = n_dates * n_units * n_countries
    d_idx = np.repeat(np.arange(n_dates), n_units * n_countries)
    u_idx = np.tile(np.repeat(np.arange(n_units), n_countries), n_dates)
    c_idx = np.tile(np.arange(n_countries), n_dates * n_units)
    impr = rng.integers(200, 5_000, n_cells)
    clicks = np.rint(impr * base_ctr[u_idx] * factor[d_idx, u_idx]).astype(np.int64)
    requests = (impr * rng.uniform(1.1, 1.6, n_cells)).astype(np.int64)
    earnings = clicks * rng.integers(20_000, 400_000, n_cells)
    epoch = np.datetime64(FIRST_DATE.isoformat(), "D")
    table = pa.table(
        {
            "date": pa.array(epoch + d_idx.astype("timedelta64[D]")),
            "app_name": pa.DictionaryArray.from_arrays(
                pa.array(unit_app[u_idx], pa.int32()), pa.array(apps)
            ).cast(pa.string()),
            "ad_unit_name": pa.array(unit_names[u_idx]),
            "format": pa.array(np.array(FORMATS)[unit_fmt[u_idx]]),
            "country": pa.array(np.char.add("C", c_idx.astype(str))),
            "ad_requests": pa.array(requests),
            "clicks": pa.array(clicks),
            "impressions": pa.array(impr.astype(np.int64)),
            "estimated_earnings_micros": pa.array(earnings),
        }
    )
    return Warehouse(n_dates, units_per_app, n_countries, apps, table, planted)


@dataclass(frozen=True)
class Query:
    kind: str  # "report" | "alerts"
    spec: object = None  # ReportSpec for "report"
    report_date: datetime.date | None = None  # for "alerts"
    input_rows: int = 0  # warehouse rows the query's filters select


def make_queries(seed: int, wh: Warehouse, n: int) -> list[Query]:
    """Report specs (1-, 7-, 30-day or full range; 1-3 dimensions; a
    five-app APP IN-list half the time; a sort), with every fifth query an
    alert scoring for one of the last eight report dates. The mix of
    kinds, widths and filtered queries repeats every ten queries, so every
    run holds the same mix; dates, dimensions, apps, metrics and sorts are
    seeded."""
    from admob_data_pipeline_spark.sources.report_spec import ReportSpec

    rng = random.Random(seed)
    dates = wh.dates
    widths = [w for w in (1, 7, 30) if w < len(dates)] + [len(dates)]
    rows_per_date = wh.table.num_rows // wh.n_dates
    rows_per_app = rows_per_date / len(wh.apps)
    out = []
    for i in range(n):
        if i % 5 == 4:
            d = rng.choice(dates[-8:])
            span = (d - dates[0]).days + 1
            out.append(Query("alerts", report_date=d, input_rows=span * rows_per_date))
            continue
        width = widths[i % 5 % len(widths)]
        start = rng.randrange(0, len(dates) - width + 1)
        filters = {}
        rows = width * rows_per_date
        if (i // 5) % 2 == 1:
            picked = tuple(sorted(rng.sample(wh.apps, min(5, len(wh.apps)))))
            filters["APP"] = picked
            rows = int(width * rows_per_app * len(picked))
        # keep results small, so that shipping rows to the driver does not
        # dominate and the seed's choice of dimensions moves the query time
        # little (median query time across five seeds spread 0.22 with up
        # to 20,000 result rows, 0.07 with 2,000): redraw wide groupings
        while True:
            dims = tuple(rng.sample(["DATE", *DIM_COLS], rng.randint(1, 3)))
            if _groups(dims, width, wh, filters) <= MAX_RESULT_ROWS:
                break
        metrics = tuple(rng.sample(list(METRIC_COLS), rng.randint(1, 3)))
        if rng.random() < 0.5:
            sort = ((rng.choice(metrics), "DESCENDING"),)
        else:
            sort = ((rng.choice(dims), "ASCENDING"),)
        spec = ReportSpec(
            date_range=(str(dates[start]), str(dates[start + width - 1])),
            dimensions=dims,
            metrics=metrics,
            dimension_filters=filters,
            sort_conditions=sort,
        )
        out.append(Query("report", spec=spec, input_rows=rows))
    return out


def _groups(dims, width: int, wh: Warehouse, filters) -> int:
    """Upper bound on the number of result rows of a grouping."""
    apps = len(filters.get("APP", wh.apps))
    units = wh.units_per_app * apps + 1
    card = {"DATE": width, "APP": apps, "AD_UNIT": units, "FORMAT": len(FORMATS),
            "COUNTRY": wh.n_countries}
    n = 1
    for d in dims:
        n *= card[d]
    return n


def report_sql(spec, src: str) -> str:
    """The DuckDB statement equivalent to ``compile_report(spec)``."""
    where = [f"date BETWEEN DATE '{spec.date_range[0]}' AND DATE '{spec.date_range[1]}'"]
    for dim, values in spec.dimension_filters.items():
        lits = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
        where.append(f"{DIM_COLS[dim]} IN ({lits})")
    sel = [
        f"{'date' if d == 'DATE' else DIM_COLS[d]} AS {d.lower()}" for d in spec.dimensions
    ]
    aggs = [f"CAST(SUM({METRIC_COLS[m]}) AS BIGINT) AS {m.lower()}" for m in spec.metrics]
    group = ", ".join(str(i + 1) for i in range(len(sel)))
    return (
        f"SELECT {', '.join(sel + aggs)} FROM {src} WHERE {' AND '.join(where)} "
        f"GROUP BY {group}"
    )


def alerts_sql(report_date: datetime.date, src: str) -> str:
    """DuckDB form of ``ctr_anomaly_from_fact`` over the rows up to
    ``report_date`` (join on the ad unit only, as the reference does)."""
    d = f"DATE '{report_date}'"
    return f"""
    WITH last7 AS (
        SELECT app_name, ad_unit_name,
               SUM(clicks)::DOUBLE / NULLIF(SUM(impressions), 0) AS avg_ctr_7d
        FROM {src} WHERE date BETWEEN {d} - 7 AND {d} - 1
        GROUP BY app_name, ad_unit_name),
    today AS (
        SELECT app_name, ad_unit_name,
               SUM(clicks)::DOUBLE / NULLIF(SUM(impressions), 0) AS today_ctr
        FROM {src} WHERE date = {d}
        GROUP BY app_name, ad_unit_name)
    SELECT t.app_name, t.ad_unit_name, t.today_ctr, l.avg_ctr_7d,
           (t.today_ctr - l.avg_ctr_7d) / NULLIF(l.avg_ctr_7d, 0) * 100 AS pct
    FROM today t JOIN last7 l ON t.ad_unit_name = l.ad_unit_name
    """


def sort_ok(rows: list[tuple], cols: list[str], spec) -> bool:
    """True when ``rows`` are ordered by the spec's sort conditions."""
    keys = []
    for name, order in spec.sort_conditions:
        i = cols.index(name.lower())
        keys.append((i, order.upper().startswith("DESC")))
    for a, b in zip(rows, rows[1:]):
        for i, desc in keys:
            if a[i] == b[i]:
                continue
            if (a[i] > b[i]) != desc:
                return False
            break
    return True
