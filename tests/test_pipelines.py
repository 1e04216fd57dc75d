"""End-to-end pipeline jobs against the synthetic chunk source (§3
lifecycles — flatten, union, sinks, idempotent reload, alerting)."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from admob_data_pipeline_spark import pipelines
from admob_data_pipeline_spark.sinks import writers
from admob_data_pipeline_spark.sources import chunks as chunks_mod
from admob_data_pipeline_spark.sources.tables import load_table


class SyntheticSource:
    """Offline ChunkSource: nested chunks synthesized from lineitem."""

    def __init__(self, sf_dir):
        self.sf_dir = sf_dir

    def fetch(self, spark, kind, spec):
        li = load_table(spark, self.sf_dir, "lineitem")
        if kind == "mediation":
            li = li.where(F.col("l_orderkey") % 2 == 0)
        return chunks_mod.synthesize_chunks_from_lineitem(li)


@pytest.fixture
def cfg(tmp_path):
    return pipelines.JobConfig(
        publisher_id="accounts/pub-123",
        staging_dir=str(tmp_path / "staging"),
        table_dir=str(tmp_path / "tables"),
        report_date=datetime.date(1998, 9, 1),
    ).validate()


def test_config_validation_fails_fast(tmp_path):
    with pytest.raises(ValueError, match="publisher_id"):
        pipelines.JobConfig(
            publisher_id="", staging_dir=str(tmp_path), table_dir=str(tmp_path)
        ).validate()


def test_publisher_normalization(cfg):
    assert cfg.normalized_publisher == "pub-123"


def test_dual_report_export_writes_jsonl(spark, sf_dir, cfg):
    src = SyntheticSource(sf_dir)
    out = pipelines.dual_report_export_job(spark, cfg, src)
    assert out is not None
    path = f"{cfg.staging_dir}/admob_19980901.jsonl"
    assert os.path.isdir(path)
    # union kept both scans: mediation is the even-orderkey half
    assert out.count() > load_table(spark, sf_dir, "lineitem").count() * 0.9
    # O3 schema alignment: network-only and mediation-only columns coexist,
    # NULL-filled on the other side
    assert "impression_rpm" in out.columns  # network-only
    assert "observed_ecpm_micros" in out.columns  # mediation-only
    net_rows = out.where(F.col("observed_ecpm_micros").isNull())
    med_rows = out.where(F.col("impression_rpm").isNull())
    assert net_rows.count() > 0 and med_rows.count() > 0


@pytest.mark.parametrize(
    "days, spike, want",
    [
        # u1 spikes 5x on day 9 against 8 days of flat history
        pytest.param(
            range(1, 10),
            True,
            {"fact_rows": 18, "zero_impression_rows": 0, "scored_pairs": 2, "alerts_fired": 1},
            id="spike",
        ),
        # flat history: every pair is scored, none fires
        pytest.param(
            range(1, 10),
            False,
            {"fact_rows": 18, "zero_impression_rows": 0, "scored_pairs": 2, "alerts_fired": 0},
            id="quiet",
        ),
        # only the report date: no trailing history, so nothing to score
        pytest.param(
            range(9, 10),
            False,
            {"fact_rows": 2, "zero_impression_rows": 0, "scored_pairs": 0, "alerts_fired": 0},
            id="report_date_only",
        ),
    ],
)
def test_alert_job_end_to_end(spark, sf_dir, cfg, days, spike, want):
    """Full §3.3 lifecycle: reload table, anomaly query, Slack messages,
    job-health metrics — on alert days and on quiet ones."""
    import json

    import pandas as pd

    rows = []
    for day in days:
        for unit in ("u1", "u2"):
            rows.append(
                {
                    "date": datetime.date(2024, 1, day),
                    "app_name": "app",
                    "ad_unit_name": unit,
                    "clicks": 500 if (spike and day == 9 and unit == "u1") else 100,
                    "impressions": 1000,
                }
            )
    table_path = f"{cfg.table_dir}/network_report"
    writers.append_to_table(spark.createDataFrame(pd.DataFrame(rows)), table_path)

    calls = []
    sink = writers.SlackSink(
        "https://hooks.example/x", transport=lambda u, p, t: (calls.append(p), 200)[1]
    )

    class NoTodaySource:
        def fetch(self, spark_, kind, spec):
            li = load_table(spark_, sf_dir, "lineitem").limit(0)
            return chunks_mod.synthesize_chunks_from_lineitem(li)

    metrics: dict = {}
    scored = pipelines.ctr_alert_job(
        spark, cfg, NoTodaySource(), slack=sink, metrics_out=metrics
    )
    assert metrics == want
    got = {r.ad_unit_name: r for r in scored.collect()}
    assert len(got) == want["scored_pairs"]
    assert sink.sent == 1
    if spike:
        assert got["u1"].is_alert and got["u1"].pct_change == 400.0
        assert not got["u2"].is_alert
        assert b"u1" in calls[0] and b"u2" not in calls[0]
    else:
        assert [json.loads(c)["text"] for c in calls] == [
            "No native CTR anomalies today."
        ]


def test_multi_account_fanout(cfg):
    cfg.accounts = ("accounts/pub-1", "accounts/pub-2")
    seen = []
    results = pipelines.run_for_accounts(cfg, lambda sub: seen.append(sub) or "ok")
    assert set(results) == set(cfg.accounts)
    assert {s.normalized_publisher for s in seen} == {"pub-1", "pub-2"}
    assert all("pub-" in s.staging_dir for s in seen)


def test_cli_runs_jobs_end_to_end(spark, sf_dir, tmp_path):
    """The __main__ CLI wires config, source, and jobs (X2/X3 surface)."""
    from admob_data_pipeline_spark.__main__ import main

    common = [
        "--sf-dir", sf_dir,
        "--staging-dir", str(tmp_path / "stage"),
        "--table-dir", str(tmp_path / "tables"),
        "--date", "1998-09-01",
    ]
    assert main(["--job", "export", *common], spark=spark) == 0
    assert os.path.isdir(str(tmp_path / "stage" / "admob_19980901.jsonl"))
    assert main(["--job", "network_reload", *common], spark=spark) == 0
    assert os.path.isdir(str(tmp_path / "tables" / "network_report"))
    assert main(["--job", "alerts", *common, "--threshold", "0.0"], spark=spark) == 0
