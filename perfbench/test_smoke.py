"""Smoke tests for the benchmark itself, at tiny scale.

    python3 -m pytest perfbench -q -p no:cacheprovider

The generator, check and metric-name tests need no Spark; the last test
runs every workload through the real runner on tiny inputs (a few
minutes), so a broken benchmark fails here rather than in a long run.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import common  # noqa: E402
import corpus  # noqa: E402
import fakeapi  # noqa: E402
import run  # noqa: E402
import warehouse  # noqa: E402


def _accounts(seed=7, days=10):
    accts = fakeapi.make_accounts(seed, 1, 6, 4)
    rng = random.Random(seed)
    for d in range(days):
        fakeapi.generate_day(accts[0], d, rng)
    return accts


def test_fake_api_is_seeded_and_has_payload_quirks():
    a, b = _accounts(), _accounts()
    assert a[0].days == b[0].days and a[0].planted == b[0].planted
    chunks = [c for day in a[0].days.values() for c in day["network"] + day["mediation"]]
    rowless = sum("row" not in c for c in chunks) / len(chunks)
    assert 0.02 < rowless < 0.10
    dims = [
        v
        for c in chunks
        if "row" in c
        for k, v in c["row"]["dimensionValues"].items()
        if k != "DATE"
    ]
    no_label = sum("displayLabel" not in v for v in dims) / len(dims)
    assert 0.1 < no_label < 0.3
    metrics = [
        m for c in chunks if "row" in c for m in c["row"]["metricValues"].values()
    ]
    assert any("decimalValue" in m for m in metrics)
    flat = [r for rows in a[0].flat.values() for r in rows]
    assert any(r[0] is None for r in flat), "no malformed dates"
    # one ad unit is served by two apps (the join fan-out case)
    units = {}
    for u in a[0].units:
        units.setdefault(u.unit_id, set()).add(u.app_id)
    assert sum(len(v) == 2 for v in units.values()) == 1
    assert a[0].planted, "no planted anomalies"


def test_fake_api_honours_date_and_app_filter():
    (acct,) = _accounts()
    api = fakeapi.FakeAdMobApi([acct])
    date = fakeapi.FIRST_DATE + datetime.timedelta(days=3)
    d = {"year": date.year, "month": date.month, "day": date.day}
    url = f"https://x/v1/accounts/{acct.publisher_id}/mediationReport:generate"
    body = {"reportSpec": {"dateRange": {"startDate": d, "endDate": d}}}
    full = json.loads(api(url, {}, json.dumps(body).encode()))
    body["reportSpec"]["dimensionFilters"] = [
        {"dimension": "APP", "matchesAny": {"values": list(acct.allow_list)}}
    ]
    part = json.loads(api(url, {}, json.dumps(body).encode()))
    rows = [c["row"] for c in part if "row" in c]
    assert 0 < len(rows) < sum("row" in c for c in full)
    for r in rows:
        app = r["dimensionValues"]["APP"]
        assert app.get("displayLabel") in acct.allow_list or app["value"] in acct.allow_list
        assert r["dimensionValues"]["DATE"]["value"] in (date.strftime("%Y%m%d"), "2024-3-x")
    assert api.requests == 2 and api.response_bytes > 0


def test_expected_alerts_keep_the_join_fanout():
    d0 = datetime.date(2024, 1, 8)
    table = {
        d0 - datetime.timedelta(days=1): [
            (None, "A", "shared", 10, 1000, 0),
            (None, "B", "shared", 40, 1000, 0),
            (None, "A", "solo", 10, 1000, 0),
        ],
        d0: [
            (None, "A", "shared", 10, 1000, 0),
            (None, "B", "shared", 40, 1000, 0),
            (None, "A", "solo", 10, 1000, 0),
        ],
    }
    msgs, ambiguous = fakeapi.expected_alerts(table)
    # A/shared vs B's 7-day CTR (-75%) and B/shared vs A's (+300%) alert;
    # the same-app comparisons and A/solo do not
    assert msgs == [("shared",), ("shared",)] and ambiguous == 0
    text = "- shared: today 0.010000 vs 7d avg 0.040000 (-75.0000%)\n- x: today 1"
    assert fakeapi.units_in_message(text) == ("shared", "x")


def test_warehouse_queries_are_seeded_and_oracle_sql_runs():
    duckdb = pytest.importorskip("duckdb")
    pytest.importorskip("admob_data_pipeline_spark")
    wh = warehouse.make_warehouse(3, 12, 4, 2, 3)
    assert wh.table.num_rows == 12 * (4 * 2 + 1) * 3
    q1 = warehouse.make_queries(3, wh, 30)
    assert q1 == warehouse.make_queries(3, wh, 30)
    assert {q.kind for q in q1} == {"report", "alerts"}
    con = duckdb.connect()
    con.register("t", wh.table)
    for q in q1:
        if q.kind == "report":
            rows = con.sql(warehouse.report_sql(q.spec, "t")).fetchall()
            assert len(rows) <= warehouse.MAX_RESULT_ROWS
        else:
            con.sql(warehouse.alerts_sql(q.report_date, "t")).fetchall()
    spec = next(q.spec for q in q1 if q.kind == "report")
    cols = [d.lower() for d in spec.dimensions] + [m.lower() for m in spec.metrics]
    name, order = spec.sort_conditions[0]
    i = cols.index(name.lower())
    rows = sorted(
        [tuple(range(len(cols))), tuple(x + 1 for x in range(len(cols)))],
        key=lambda r: r[i],
        reverse=order.startswith("DESC"),
    )
    assert warehouse.sort_ok(rows, cols, spec)
    assert not warehouse.sort_ok(rows[::-1], cols, spec)


def test_corpus_plants_duplicates_with_known_jaccard():
    c = corpus.make_corpus(5, 400)
    assert c == corpus.make_corpus(5, 400)
    texts = dict(c.docs)
    assert c.exact_dups and c.near_pairs and c.short_docs
    for i in c.exact_dups:
        assert any(texts[j] == texts[i] for j in texts if j < i)
    sets = corpus.capped_shingles(c)
    pairs = corpus.planted_pairs(c, sets)
    assert all(j >= corpus.THRESHOLD for j in pairs.values())
    for t in texts.values():
        assert all(tok.isalpha() and tok.islower() for tok in t.split(" "))
    floor = corpus.recall_floor(list(pairs.values()))
    assert 0.5 < floor < 1.0


def test_tail_percentile_rule():
    assert common.tail_percentile(10) is None
    assert common.tail_percentile(20) == 50.0
    assert common.tail_percentile(40) == 75.0
    assert common.tail_percentile(100) == 90.0
    assert common.percentile([1.0, 2.0, 3.0], 50.0) == 2.0


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.layer_units()
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_every_workload_runs_and_checks_at_tiny_scale(monkeypatch, tmp_path):
    pytest.importorskip("pyspark")
    import workloads

    monkeypatch.setattr(workloads.DailyEtl, "N_APPS", 3)
    monkeypatch.setattr(workloads.DailyEtl, "UNITS_PER_APP", 2)
    monkeypatch.setattr(workloads.DailyEtl, "MAX_OPS", 6)
    monkeypatch.setattr(workloads.ReportQueries, "N_DATES", 12)
    monkeypatch.setattr(workloads.ReportQueries, "N_APPS", 4)
    monkeypatch.setattr(workloads.ReportQueries, "N_COUNTRIES", 2)
    monkeypatch.setattr(workloads.CorpusCuration, "N_DOCS", 150)
    for name in workloads.WORKLOADS:
        for trace in (0, 1):
            args = SimpleNamespace(workload=name, seed=1, seconds=0.0, trace=trace)
            out = run.run(args, str(tmp_path))
            assert out["correct"], (name, trace)
            assert out["attempted"] >= 1
            want = run.layer_units() if trace else run.END_TO_END
            assert set(out["metrics"]) == set(want)
    # only the traced runs' span dumps outlive a run
    left = os.listdir(tmp_path / ".perfbench_work")
    assert left and all(f.startswith("spans-") for f in left), left
