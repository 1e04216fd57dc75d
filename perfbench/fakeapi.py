"""Seeded fake AdMob Reporting API for the ``daily_etl`` workload.

Generates, per account and report date, the network and mediation chunk
streams the real ``{kind}Report:generate`` endpoint returns, with the
payload quirks the flatten/coerce layer exists for:

- about 5% of chunks carry no ``row`` (header, footer and keep-alive chunks);
- about 20% of dimension values miss their ``displayLabel``;
- integer metrics arrive as ``integerValue``/``microsValue`` strings, some
  as ``decimalValue`` (``"123.0"``), some metric keys are missing (-> 0);
- about 1% of rows carry a malformed date (-> NULL date).

Ad units are unique per app except one unit that two apps share (at
nearly the same CTR), so the reference's join-on-``ad_unit_name`` fan-out
happens. Odd days are alert days: about 3% of the units (the shared unit
always on day 1) get a +40% CTR shift against a quiet +-5% daily wobble,
spaced at least 9 days apart per unit. Even days are quiet. The shift is
upward only and no larger, so that the trailing window of the first few
days, which holds only one or two earlier dates, does not make the day
after an alert day alert as well: the mix of alert days and quiet days is
the same for every seed.

:class:`FakeAdMobApi` is the injected transport of
``AdMobHttpChunkSource``; it honours ``dateRange`` and the ``APP``
``dimensionFilters`` and counts requests and response bytes.
:func:`expected_alerts` recomputes the alert set with the reference's
semantics (ratio-of-sums CTR, join on ad unit only).
"""

from __future__ import annotations

import datetime
import json
import random
from dataclasses import dataclass, field

THRESHOLD = 25.0
FORMATS = ("BANNER", "INTERSTITIAL", "REWARDED", "NATIVE")
AD_SOURCES = ("AdMob Network", "Meta Audience Network", "AppLovin")
COUNTRIES = {"US": "United States", "IN": "India"}
MEDIATION_GROUPS = ("default", "tier-1")
FIRST_DATE = datetime.date(2024, 3, 1)


@dataclass(frozen=True)
class Unit:
    app_id: str
    app_label: str
    unit_id: str
    unit_label: str
    fmt: str
    base_impr: int
    base_ctr: float


@dataclass
class Account:
    publisher_id: str
    units: list[Unit]
    allow_list: tuple[str, ...]  # APP display labels for the CSV export
    # (date) -> {"network": [chunk, ...], "mediation": [chunk, ...]}
    days: dict = field(default_factory=dict)
    # (date) -> [(date|None, app_name, ad_unit_name, clicks, impressions, earnings)]
    flat: dict = field(default_factory=dict)
    planted: set = field(default_factory=set)  # {(date, app_label, unit_label)}


def _metric_int(rng: random.Random, v: int) -> dict:
    if rng.random() < 0.1:
        return {"decimalValue": f"{v}.0"}
    return {"integerValue": str(v)}


def _dim(value: str, label: str, rng: random.Random, p_missing: float) -> dict:
    if rng.random() < p_missing:
        return {"value": value}
    return {"value": value, "displayLabel": label}


def make_accounts(
    seed: int, n_accounts: int, n_apps: int, units_per_app: int
) -> list[Account]:
    rng = random.Random(seed)
    accounts = []
    for a in range(n_accounts):
        pub = f"pub-{seed % 10000:04d}{a:04d}"
        units: list[Unit] = []
        for i in range(n_apps):
            app_id = f"ca-app-{pub}~{i:04d}"
            app_label = f"App {a}-{i}"
            for j in range(units_per_app):
                units.append(
                    Unit(
                        app_id,
                        app_label,
                        f"ca-app-{pub}/{i:04d}{j:02d}",
                        f"unit-{a}-{i}-{j}",
                        FORMATS[rng.randrange(len(FORMATS))],
                        rng.randrange(4_000, 60_000),
                        rng.uniform(0.005, 0.05),
                    )
                )
        # the shared unit: app 0's first unit also serves app 1
        u0 = units[0]
        app1 = units[units_per_app]
        units.append(
            Unit(
                app1.app_id, app1.app_label, u0.unit_id, u0.unit_label, u0.fmt,
                rng.randrange(4_000, 60_000), u0.base_ctr * rng.uniform(0.97, 1.03),
            )
        )
        labels = sorted({u.app_label for u in units})
        allow = tuple(sorted(rng.sample(labels, max(1, len(labels) // 3))))
        accounts.append(Account(pub, units, allow))
    return accounts


def generate_day(acct: Account, day_index: int, rng: random.Random) -> None:
    """Fill ``acct.days`` / ``acct.flat`` / ``acct.planted`` for one date.

    ``acct.flat`` holds the network rows exactly as the flatten/coerce
    kernel must produce them (label coalesce, malformed date -> None,
    missing metric -> 0), the ground truth of the output checks.
    """
    date = FIRST_DATE + datetime.timedelta(days=day_index)
    ymd = date.strftime("%Y%m%d")
    shifted = set()
    if day_index % 2 == 1:
        recent = {
            (app, unit)
            for (d, app, unit) in acct.planted
            if (date - d).days <= 8
        }
        free = [i for i, u in enumerate(acct.units) if (u.app_label, u.unit_label) not in recent]
        k = max(1, round(0.03 * len(acct.units)))
        shifted = set(rng.sample(free, min(k, len(free))))
        if day_index == 1:
            shifted.add(0)  # the shared unit, so the fan-out alerts
    net_rows, med_rows, flat = [], [], []
    for ui, u in enumerate(acct.units):
        impr = max(1, int(u.base_impr * rng.uniform(0.95, 1.05)))
        factor = rng.uniform(0.95, 1.05)
        if ui in shifted:
            factor *= 1.40
            acct.planted.add((date, u.app_label, u.unit_label))
        clicks = int(round(impr * u.base_ctr * factor))
        earnings = clicks * rng.randrange(20_000, 400_000)
        requests = int(impr * rng.uniform(1.1, 1.6))
        bad_date = rng.random() < 0.01
        # the alert keys keep their labels in the network report: a missing
        # one renames the (app, unit) group for a day, and through the
        # unit-only join that can make a quiet day alert. Other dimensions
        # (and the keys in the mediation report) miss labels often.
        app_dim = _dim(u.app_id, u.app_label, rng, 0.0)
        unit_dim = _dim(u.unit_id, u.unit_label, rng, 0.0)
        metrics = {
            "AD_REQUESTS": _metric_int(rng, requests),
            "CLICKS": {"integerValue": str(clicks)},
            "IMPRESSIONS": {"integerValue": str(impr)},
            "IMPRESSION_CTR": {"doubleValue": clicks / impr},
            "MATCHED_REQUESTS": _metric_int(rng, int(requests * 0.9)),
            "MATCH_RATE": {"doubleValue": 0.9},
            "IMPRESSION_RPM": {"doubleValue": earnings / impr / 1000.0},
            "SHOW_RATE": {"doubleValue": impr / requests},
        }
        if rng.random() < 0.1:
            metrics["ESTIMATED_EARNINGS"] = {"decimalValue": f"{earnings}.0"}
        else:
            metrics["ESTIMATED_EARNINGS"] = {"microsValue": str(earnings)}
        if rng.random() < 0.05:  # missing-metric fallback (-> 0)
            del metrics[rng.choice(("SHOW_RATE", "MATCHED_REQUESTS", "MATCH_RATE"))]
        net_rows.append(
            {
                "row": {
                    "dimensionValues": {
                        "DATE": {"value": "2024-3-x" if bad_date else ymd},
                        "APP": app_dim,
                        "FORMAT": _dim(u.fmt, u.fmt.title(), rng, 0.2),
                        "AD_UNIT": unit_dim,
                    },
                    "metricValues": metrics,
                }
            }
        )
        flat.append(
            (
                None if bad_date else date,
                app_dim.get("displayLabel", u.app_id),
                unit_dim.get("displayLabel", u.unit_id),
                clicks,
                impr,
                earnings,
            )
        )
        for src in AD_SOURCES:
            for country in COUNTRIES:
                share = rng.uniform(0.05, 0.4)
                m_impr = int(impr * share)
                m_clicks = int(clicks * share)
                med_rows.append(
                    {
                        "row": {
                            "dimensionValues": {
                                "DATE": {"value": ymd},
                                "APP": _dim(u.app_id, u.app_label, rng, 0.2),
                                "AD_UNIT": _dim(u.unit_id, u.unit_label, rng, 0.2),
                                "AD_SOURCE": _dim(src.lower(), src, rng, 0.2),
                                "AD_SOURCE_INSTANCE": _dim(
                                    f"{src.lower()}-{country}", f"{src} ({country})", rng, 0.2
                                ),
                                "MEDIATION_GROUP": _dim(
                                    MEDIATION_GROUPS[len(src) % 2], "Group", rng, 0.2
                                ),
                                "COUNTRY": _dim(country, COUNTRIES[country], rng, 0.2),
                            },
                            "metricValues": {
                                "AD_REQUESTS": _metric_int(rng, int(requests * share)),
                                "CLICKS": {"integerValue": str(m_clicks)},
                                "IMPRESSIONS": {"integerValue": str(m_impr)},
                                "ESTIMATED_EARNINGS": {
                                    "microsValue": str(int(earnings * share))
                                },
                                "OBSERVED_ECPM": _metric_int(rng, 1_500_000),
                            },
                        }
                    }
                )
    acct.days[date] = {
        "network": _with_rowless_chunks(net_rows, date, rng),
        "mediation": _with_rowless_chunks(med_rows, date, rng),
    }
    acct.flat[date] = flat


def _with_rowless_chunks(rows: list[dict], date, rng: random.Random) -> list[dict]:
    """Header + rows + footer, with row-less keep-alive chunks sprinkled in
    so about 5% of all chunks have no ``row``."""
    header = {"header": {"dateRange": {"startDate": str(date), "endDate": str(date)}}}
    out = [header]
    for r in rows:
        out.append(r)
        if rng.random() < 0.05:
            out.append({"header": {"keepAlive": True}})
    out.append({"footer": {"matchingRowCount": str(len(rows))}})
    return out


def _row_matches(chunk: dict, apps) -> bool:
    """The service-side ``APP`` filter (by value or label); row-less chunks
    always pass. Payloads are stored per date, which is the ``dateRange``
    filter."""
    row = chunk.get("row")
    if row is None:
        return True
    dims = row["dimensionValues"]
    if apps is not None:
        app = dims["APP"]
        if app["value"] not in apps and app.get("displayLabel") not in apps:
            return False
    return True


class FakeAdMobApi:
    """Injectable ``Transport`` answering the token endpoint and
    ``{kind}Report:generate`` from pre-generated chunks.

    Payloads are serialised once per (account, kind, date, filter) and
    cached, so the timed loop pays only for the lookup.
    """

    def __init__(self, accounts: list[Account]):
        self.accounts = {a.publisher_id: a for a in accounts}
        self.requests = 0
        self.response_bytes = 0
        self._cache: dict = {}

    def prepare(self) -> None:
        """Serialise every payload the daily job will request."""
        for acct in self.accounts.values():
            for date in acct.days:
                for kind in ("network", "mediation"):
                    self._payload(acct.publisher_id, kind, date, None)
                self._payload(acct.publisher_id, "mediation", date, acct.allow_list)

    def _payload(self, pub: str, kind: str, date, apps) -> bytes:
        key = (pub, kind, date, apps)
        raw = self._cache.get(key)
        if raw is None:
            chunks = self.accounts[pub].days.get(date, {}).get(kind, [])
            allowed = set(apps) if apps is not None else None
            raw = json.dumps([c for c in chunks if _row_matches(c, allowed)]).encode()
            self._cache[key] = raw
        return raw

    def __call__(self, url: str, headers, body: bytes) -> bytes:
        self.requests += 1
        if url.endswith("/token"):
            raw = json.dumps({"access_token": "fake-token", "expires_in": 3600}).encode()
            self.response_bytes += len(raw)
            return raw
        # .../v1/accounts/<pub>/<kind>Report:generate
        parts = url.rsplit("/", 2)
        pub, kind = parts[-2], parts[-1].split("Report:")[0]
        spec = json.loads(body)["reportSpec"]
        start = datetime.date(**spec["dateRange"]["startDate"])
        end = datetime.date(**spec["dateRange"]["endDate"])
        if start != end:
            raise ValueError("the daily job requests single-date reports only")
        apps = None
        for f in spec.get("dimensionFilters", []):
            if f["dimension"] == "APP":
                apps = tuple(sorted(f["matchesAny"]["values"]))
        raw = self._payload(pub, kind, start, apps)
        self.response_bytes += len(raw)
        return raw


def partition_totals(rows) -> tuple[int, int, int, int]:
    """(rows, clicks, impressions, earnings) of flattened network rows."""
    return (
        len(rows),
        sum(r[3] for r in rows),
        sum(r[4] for r in rows),
        sum(r[5] for r in rows),
    )


def expected_alerts(table: dict):
    """Alert messages ``ctr_alert_job`` must post for a table holding
    ``table`` (partition date -> flattened network rows), with the reference's
    semantics: report date = max date; today and trailing-7-day CTR as
    ratio of sums per (app, unit); today joined to last7 on the unit only
    (fan-out). Returns (messages, ambiguous): ``messages`` is a sorted list
    of per-app sorted unit-name tuples; ``ambiguous`` counts scores within
    1e-3 of the threshold, where rounding may decide either way.
    """
    dates = [d for d in table if d is not None]
    if not dates:
        return [], 0
    report = max(dates)

    def ctr_by_key(day_filter):
        acc: dict = {}
        for d, rows in table.items():
            if d is None or not day_filter(d):
                continue
            for _, app, unit, clicks, impr, _ in rows:
                c, i = acc.get((app, unit), (0, 0))
                acc[(app, unit)] = (c + clicks, i + impr)
        return {k: (c / i if i else None) for k, (c, i) in acc.items()}

    today = ctr_by_key(lambda d: d == report)
    last7 = ctr_by_key(lambda d: 1 <= (report - d).days <= 7)
    per_app: dict = {}
    ambiguous = 0
    for (app, unit), t in today.items():
        for (_, unit7), avg in last7.items():
            if unit7 != unit or t is None or not avg:
                continue
            pct = (t - avg) / avg * 100.0
            if abs(abs(pct) - THRESHOLD) < 1e-3:
                ambiguous += 1
            if abs(pct) > THRESHOLD:
                per_app.setdefault(app, []).append(unit)
    return sorted(tuple(sorted(u)) for u in per_app.values()), ambiguous


def units_in_message(text: str) -> tuple[str, ...]:
    """Unit names of one Slack alert message (``- <unit>: today ...``)."""
    return tuple(
        sorted(
            line[2:].split(": today ", 1)[0]
            for line in text.split("\n")
            if line.startswith("- ")
        )
    )
