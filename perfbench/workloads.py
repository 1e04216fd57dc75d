"""The three workloads: inputs, one operation, its output check and the
per-layer counts each one reports in the traced run.

Each workload is a closed loop with one client (the driver thread). Its
inputs are generated in :meth:`setup` from the seed; the package only ever
sees those generated inputs. :meth:`run` is the timed operation;
:meth:`after` (untimed) updates the workload's model of the expected
state and returns the problems the output check found.
"""

from __future__ import annotations

import datetime
import json
import os
import random
from contextlib import nullcontext
from dataclasses import replace

import corpus as corpus_gen
import fakeapi
import warehouse as wh_gen
from tracing import Tracer

# Signature of the known alert-job defect: ``ctr_alert_job(...,
# metrics_out=...)`` fails inside ``Observation.get`` (``toPyRow``) with a
# JVM AssertionError on every report date where no alert fires, the first
# date of a table without earlier history included.
KNOWN_DEFECT = ("PythonSQLUtils.toPyRow", "java.lang.AssertionError")


def _dir_files(root: str, since: float) -> list[tuple[str, int]]:
    """Regular files under ``root`` modified at or after ``since``."""
    out = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            if st.st_mtime >= since:
                out.append((p, st.st_size))
    return out


def _tree_bytes(root: str) -> int:
    return sum(size for _, size in _dir_files(root, 0.0))


class Workload:
    name = ""
    # traced runs keep going until this many operations are done; the count
    # metrics are taken over them, so they repeat exactly for a seed
    count_ops = 1
    # operations run before the timed window, while the JVM loads and
    # compiles the code paths: attempted and checked like the rest, their
    # time counts as set-up
    preamble = 1
    # the timed window runs past ``--seconds`` until this many operations
    # were attempted, in whole cycles of the workload's operation mix. The
    # counts are set so the window ends on them, not on the clock: a run
    # then holds the same operations at the same point of the JVM's warm-up
    # whatever the host's speed, and the tail percentile does not switch
    window_ops = 1
    cycle = 1

    def __init__(self, spark, work, seed: int, tracer: Tracer | None):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.layer: dict[str, float] = {}  # per-layer counters (traced ops)

    def bump(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    # hooks with nothing to do by default
    def expected_failure(self, op, error: str) -> bool:
        return False

    def final_checks(self) -> list[tuple[int, str]]:
        """Checks run after the timed loop: (operation index, problem)."""
        return []

    def install(self, tracer: Tracer) -> None:
        pass

    def before_traced(self) -> None:
        pass

    def after_traced(self, op, result, error, since: float) -> None:
        pass


# ---------------------------------------------------------------------------
class DailyEtl(Workload):
    """One account-day as the reference's cron runs it: dual export to
    JSONL, app-filtered CSV export, CTR alert job with Slack and
    ``metrics_out``; every fifth operation re-delivers an earlier date."""

    name = "daily_etl"
    count_ops = 2
    N_ACCOUNTS, N_APPS, UNITS_PER_APP, MAX_OPS = 1, 20, 10, 12
    # dates 0-2 (quiet, alert, quiet): the JVM loads and compiles both
    # paths of the job before timing starts, which opens on an alert date
    preamble = 3
    # date 3, a re-delivery (whose report date is still date 3), quiet
    # date 4, which lands its rows and fails on the known defect, and date
    # 5: three alert-path samples
    window_ops = 4

    def setup(self) -> None:
        from admob_data_pipeline_spark.sinks import writers
        from admob_data_pipeline_spark.sources import http_source

        rng = random.Random(self.seed)
        self.accounts = fakeapi.make_accounts(
            self.seed, self.N_ACCOUNTS, self.N_APPS, self.UNITS_PER_APP
        )
        next_day = [0] * self.N_ACCOUNTS
        delivered, self.ops = [], []
        while len(self.ops) < self.MAX_OPS:
            # every fifth operation re-delivers a seeded earlier date
            if len(self.ops) % 5 == 4:
                a, d = rng.choice(delivered)
                self.ops.append((a, d, True))
                continue
            a = len(delivered) % self.N_ACCOUNTS
            d = next_day[a]
            next_day[a] += 1
            delivered.append((a, d))
            self.ops.append((a, d, False))
        day_rng = random.Random(self.seed + 1)
        for d in range(max(next_day)):
            for acct in self.accounts:
                fakeapi.generate_day(acct, d, day_rng)
        self.api = fakeapi.FakeAdMobApi(self.accounts)
        self.api.prepare()
        self.posts: list[str] = []
        self.slack = writers.SlackSink(
            "https://hooks.slack.invalid/bench", transport=self._post
        )
        auth = http_source.OAuthRefreshTokenAuth("bench-id", "bench-secret", "bench-token")
        self.landing = self.work.sub("landing")
        self.sources = {
            acct.publisher_id: http_source.AdMobHttpChunkSource(
                auth, acct.publisher_id, transport=self.api, landing_dir=self.landing
            )
            for acct in self.accounts
        }
        # model of each account's table: partition date -> rows
        self.model = {acct.publisher_id: {} for acct in self.accounts}
        self.table_totals: dict[str, tuple] = {}
        self.planted_seen = self.planted_found = 0

    def _post(self, url: str, payload: bytes, timeout: float) -> int:
        self.posts.append(payload.decode())
        return 200

    def _cfg(self, acct, date, base: str):
        from admob_data_pipeline_spark import pipelines

        return pipelines.JobConfig(
            publisher_id=acct.publisher_id,
            staging_dir=os.path.join(base, "staging", acct.publisher_id),
            table_dir=os.path.join(base, "table", acct.publisher_id),
            report_date=date,
        ).validate()

    def _account_day(self, acct, date, src, base: str) -> dict:
        from admob_data_pipeline_spark import pipelines

        cfg = self._cfg(acct, date, base)
        pipelines.dual_report_export_job(self.spark, cfg, src)
        pipelines.filtered_csv_export_job(
            self.spark, replace(cfg, app_filter=acct.allow_list), src
        )
        metrics: dict = {}
        pipelines.ctr_alert_job(
            self.spark, cfg, src, slack=self.slack, metrics_out=metrics
        )
        return metrics

    def op(self, i: int):
        return self.ops[i] if i < len(self.ops) else None

    def run(self, op):
        a, d, _ = op
        acct = self.accounts[a]
        date = fakeapi.FIRST_DATE + datetime.timedelta(days=d)
        self.posts = []
        return self._account_day(
            acct, date, self.sources[acct.publisher_id], self.work.path
        )

    def items(self, op) -> int:
        a, d, _ = op
        acct = self.accounts[a]
        return len(acct.flat[fakeapi.FIRST_DATE + datetime.timedelta(days=d)])

    def expected_failure(self, op, error: str) -> bool:
        return all(sig in error for sig in KNOWN_DEFECT)

    def _table_dir(self, pub: str) -> str:
        return os.path.join(self.work.path, "table", pub, "network_report")

    def _read_partition(self, pub: str, date) -> tuple[int, int, int, int]:
        import pyarrow.parquet as pq

        t = pq.read_table(
            os.path.join(self._table_dir(pub), f"date={date}"),
            columns=["clicks", "impressions", "estimated_earnings_micros"],
        )
        return (
            t.num_rows,
            int(t.column("clicks").to_numpy().sum()),
            int(t.column("impressions").to_numpy().sum()),
            int(t.column("estimated_earnings_micros").to_numpy().sum()),
        )

    def after(self, op, result, error: str | None) -> list[str]:
        a, d, redeliver = op
        acct = self.accounts[a]
        pub = acct.publisher_id
        date = fakeapi.FIRST_DATE + datetime.timedelta(days=d)
        model = self.model[pub]
        delivered = acct.flat[date]
        model[date] = [r for r in delivered if r[0] == date]
        if any(r[0] is None for r in delivered):
            model[None] = [r for r in delivered if r[0] is None]
        # the known defect raises after the table write and the Slack
        # posts, so those outputs are checked for such operations too
        if error is not None and not self.expected_failure(op, error):
            return []
        problems = []
        got = self._read_partition(pub, date)
        want = fakeapi.partition_totals(model[date])
        if got != want:
            problems.append(f"{pub} {date}: partition (rows, clicks, impr, earn) {got} != {want}")
        parts = sorted(
            p for p in os.listdir(self._table_dir(pub)) if p.startswith("date=2")
        )
        want_parts = sorted(f"date={k}" for k in model if k is not None)
        if parts != want_parts:
            problems.append(f"{pub}: table partitions {parts} != {want_parts}")
        totals = tuple(
            sum(x)
            for x in zip(*(self._read_partition(pub, p[5:]) for p in parts))
        )
        if redeliver and totals != self.table_totals.get(pub):
            problems.append(
                f"{pub} {date}: re-delivery changed table totals "
                f"{self.table_totals.get(pub)} -> {totals}"
            )
        self.table_totals[pub] = totals
        want_msgs, ambiguous = fakeapi.expected_alerts(model)
        if want_msgs:
            got_msgs = sorted(fakeapi.units_in_message(json_text(p)) for p in self.posts)
        else:
            got_msgs = [json_text(p) for p in self.posts]
            want_msgs = ["No native CTR anomalies today."]
        if got_msgs != want_msgs and not ambiguous:
            problems.append(f"{pub} {date}: slack alert set {got_msgs} != {want_msgs}")
        # recall of the planted anomalies on the report date (the max
        # date). Unit labels name their app except for the shared unit.
        report = max(k for k in model if k is not None)
        alerted = {u for p in self.posts for u in fakeapi.units_in_message(json_text(p))}
        for (pd, _, unit) in acct.planted:
            if pd == report:
                self.planted_seen += 1
                self.planted_found += unit in alerted
        return problems

    # -- traced run ------------------------------------------------------
    def install(self, tracer: Tracer) -> None:
        from admob_data_pipeline_spark import pipelines
        from admob_data_pipeline_spark.operators import alerts
        from admob_data_pipeline_spark.sinks import writers
        from admob_data_pipeline_spark.sources import chunks, http_source

        self._flatten_calls: list = []
        self._flatten = chunks.flatten_chunks

        def record_flatten(t, args, kwargs):
            self._flatten_calls.append((args, kwargs))

        def record_path(t, args, kwargs):
            t.written_paths.append(args[1] if len(args) > 1 else kwargs["path"])

        tracer.wrap(pipelines, "dual_report_export_job", "pipelines.export")
        tracer.wrap(pipelines, "filtered_csv_export_job", "pipelines.csv_export")
        tracer.wrap(pipelines, "ctr_alert_job", "pipelines.alert")
        tracer.wrap(http_source.AdMobHttpChunkSource, "fetch", "http_source.fetch")
        tracer.wrap(self.api.__class__, "__call__", "api.request")
        tracer.wrap(chunks, "flatten_chunks", "chunks.flatten", record_flatten)
        tracer.wrap(writers, "write_if_nonempty", "writers.nonempty_probe")
        tracer.wrap(writers, "write_jsonl", "writers.jsonl", record_path)
        tracer.wrap(writers, "write_csv", "writers.csv", record_path)
        tracer.wrap(writers, "overwrite_date_partitions", "writers.overwrite", record_path)
        tracer.wrap(writers.SlackSink, "post_text", "slack.post")
        tracer.wrap(alerts, "ctr_anomaly_from_fact", "alerts.score")

    def before_traced(self) -> None:
        self._counters = (
            self.api.requests, self.api.response_bytes,
            self.slack.sent, self.slack.failed,
            set(os.listdir(self.landing)),
        )
        self._flatten_calls = []

    def after_traced(self, op, result, error, since: float) -> None:
        req, rbytes, sent, failed, landed = self._counters
        self.bump("api.requests", self.api.requests - req)
        self.bump("api.response_bytes", self.api.response_bytes - rbytes)
        self.bump("slack.posts", self.slack.sent - sent + self.slack.failed - failed)
        self.bump("slack.failed", self.slack.failed - failed)
        new = set(os.listdir(self.landing)) - landed
        self.bump(
            "http_source.landed_bytes",
            sum(os.path.getsize(os.path.join(self.landing, f)) for f in new),
        )
        for path in set(self.tracer.written_paths):
            files = _dir_files(path, since)
            self.bump("writers.files_written", len(files))
            self.bump("writers.bytes_written", sum(size for _, size in files))
        self.tracer.written_paths.clear()
        for args, kwargs in self._flatten_calls:
            chunks_df = args[0]
            self.bump("chunks.rows_in", chunks_df.count())
            self.bump("chunks.rows_out", self._flatten(*args, **kwargs).count())
        self.bump(
            "alerts.fired",
            sum(len(fakeapi.units_in_message(json_text(p))) for p in self.posts),
        )
        if result:
            self.bump("alerts.scored_pairs", result.get("scored_pairs", 0))

    def final_layer(self) -> dict[str, float]:
        live_rows = 0
        stored = 0
        for acct in self.accounts:
            pub = acct.publisher_id
            live_rows += sum(len(rows) for rows in self.model[pub].values())
            stored += _tree_bytes(os.path.join(self.work.path, "table", pub))
            stored += _tree_bytes(os.path.join(self.work.path, "staging", pub))
        return {
            "writers.stored_bytes_per_row": stored / live_rows if live_rows else 0.0,
            "alerts.recall": self.planted_found / self.planted_seen
            if self.planted_seen
            else 0.0,
        }



def json_text(payload: str) -> str:
    return json.loads(payload)["text"]


# ---------------------------------------------------------------------------
class ReportQueries(Workload):
    """Seeded report-spec queries and alert scorings over a date-partitioned
    warehouse that set-up writes with ``overwrite_date_partitions``."""

    name = "report_queries"
    count_ops = 10
    cycle = 10  # make_queries repeats its mix every ten queries
    # one whole cycle of warm-up: the first cycle's median query time ran
    # 10-60% above the later cycles'
    preamble = 10
    window_ops = 20
    N_DATES, N_APPS, UNITS_PER_APP, N_COUNTRIES, MAX_OPS = 45, 40, 8, 12, 400

    def setup(self) -> None:
        import pyarrow.parquet as pq
        from admob_data_pipeline_spark.sinks import writers

        self.wh = wh_gen.make_warehouse(
            self.seed, self.N_DATES, self.N_APPS, self.UNITS_PER_APP, self.N_COUNTRIES
        )
        stage = self.work.sub("wh_stage")
        pq.write_table(self.wh.table, os.path.join(stage, "rows.parquet"))
        self.path = os.path.join(self.work.sub("warehouse"), "network_report")
        writers.overwrite_date_partitions(self.spark.read.parquet(stage), self.path)
        self.fact = self.spark.read.parquet(self.path)
        self.queries = wh_gen.make_queries(self.seed, self.wh, self.MAX_OPS)
        self.results: list = []
        self.planted_seen = self.planted_found = 0

    def op(self, i: int):
        return i if i < len(self.queries) else None

    def run(self, i: int):
        from pyspark.sql import functions as F

        from admob_data_pipeline_spark.operators import alerts
        from admob_data_pipeline_spark.sources.report_spec import compile_report

        tr, q = self.tracer, self.queries[i]
        if q.kind == "report":
            df = compile_report(self.fact, q.spec, wh_gen.DIM_COLS, wh_gen.METRIC_COLS)
            with tr.span("query.exec") if tr else nullcontext():
                rows = df.collect()
            return df.columns, [tuple(r) for r in rows]
        with tr.span("alerts.score") if tr else nullcontext():
            fact = self.fact.where(F.col("date") <= F.lit(str(q.report_date))).select(
                "date", "app_name", "ad_unit_name", "clicks", "impressions"
            )
            rows = alerts.ctr_anomaly_from_fact(fact).collect()
        return None, [tuple(r) for r in rows]

    def items(self, i: int) -> int:
        return self.queries[i].input_rows

    def after(self, i: int, result, error) -> list[str]:
        q = self.queries[i]
        if error is None:
            self.results.append((i, q, result))
            if q.kind == "alerts":
                fired = {(r[0], r[1]) for r in result[1] if r[5]}
                for (pd, app, unit) in self.wh.planted:
                    if pd == q.report_date:
                        self.planted_seen += 1
                        self.planted_found += (app, unit) in fired
        return []

    def final_checks(self) -> list[tuple[int, str]]:
        """Every collected result against DuckDB over the same parquet
        files (untimed, after the loop)."""
        import duckdb

        con = duckdb.connect()
        src = f"read_parquet('{self.path}/*/*.parquet', hive_partitioning=true)"
        problems = []
        for i, q, (cols, rows) in self.results:
            if q.kind == "report":
                want = con.sql(wh_gen.report_sql(q.spec, src)).fetchall()
                if sorted(rows) != sorted(want):
                    problems.append((i, f"{q.spec}: {len(rows)} rows, DuckDB {len(want)}"))
                elif not wh_gen.sort_ok(rows, cols, q.spec):
                    problems.append((i, f"{q.spec}: rows not in sort order"))
                continue
            # (app, unit, trailing CTR) orders the fan-out rows of one key
            want = sorted(con.sql(wh_gen.alerts_sql(q.report_date, src)).fetchall(), key=_key)
            got = sorted(rows, key=_key)
            if len(got) != len(want):
                problems.append((i, f"alerts {q.report_date}: {len(got)} rows, DuckDB {len(want)}"))
                continue
            for g, w in zip(got, want):
                app, unit, today, avg, pct, is_alert = g
                ok = (app, unit) == (w[0], w[1]) and abs(today - w[2]) <= 1e-6 and abs(avg - w[3]) <= 1e-6
                ok = ok and abs(pct - w[4]) <= 1e-3
                if abs(abs(w[4]) - wh_gen.THRESHOLD) > 1e-3:
                    ok = ok and is_alert == (abs(w[4]) > wh_gen.THRESHOLD)
                if not ok:
                    problems.append((i, f"alerts {q.report_date}: {g} != DuckDB {w}"))
                    break
        con.close()
        return problems

    def install(self, tracer: Tracer) -> None:
        from admob_data_pipeline_spark.sources import report_spec

        # run() imports compile_report on every call, so it gets the wrapper
        tracer.wrap(report_spec, "compile_report", "report_spec.compile")

    def after_traced(self, i: int, result, error, since: float) -> None:
        if error is not None:
            return
        if self.queries[i].kind == "report":
            self.bump("query.rows_out", len(result[1]))
        else:
            self.bump("alerts.scored_pairs", len(result[1]))
            self.bump("alerts.fired", sum(1 for r in result[1] if r[5]))

    def final_layer(self) -> dict[str, float]:
        return {
            "alerts.recall": self.planted_found / self.planted_seen
            if self.planted_seen
            else 0.0
        }


def _key(r):
    return (r[0], r[1], r[3])


# ---------------------------------------------------------------------------
class CorpusCuration(Workload):
    """One pass of ``corpus_filter`` then ``minhash_lsh_pairs`` over a
    seeded corpus with planted exact and near duplicates."""

    name = "corpus_curation"
    count_ops = 2
    preamble = 2
    window_ops = 4
    N_DOCS = 800

    def _load(self, c: corpus_gen.Corpus, name: str):
        """Write the corpus as a parquet file (with pyarrow) and scan it."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        d = self.work.sub(name)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([i for i, _ in c.docs], pa.int64()),
                    "text": pa.array([t for _, t in c.docs]),
                }
            ),
            os.path.join(d, "docs.parquet"),
        )
        return self.spark.read.parquet(d)

    def setup(self) -> None:
        self.corpus = corpus_gen.make_corpus(self.seed, self.N_DOCS)
        self.sets = corpus_gen.capped_shingles(self.corpus)
        self.planted = corpus_gen.planted_pairs(self.corpus, self.sets)
        self.floor = corpus_gen.recall_floor(list(self.planted.values()))
        self.docs = self._load(self.corpus, "corpus")
        self.last: dict = {}

    def op(self, i: int):
        return i

    def run(self, _):
        from admob_data_pipeline_spark.operators import dedup, text

        tr = self.tracer
        with tr.span("text.filter") if tr else nullcontext():
            flags = text.corpus_filter(self.docs).collect()
        with tr.span("dedup.lsh") if tr else nullcontext():
            pairs = dedup.minhash_lsh_pairs(self.docs).collect()
        return flags, pairs

    def items(self, _) -> int:
        return len(self.corpus.docs)

    def after(self, _, result, error) -> list[str]:
        if error is not None:
            return []
        flags, pairs = result
        problems = []
        reason = {r["doc_id"]: r["reason"] for r in flags}
        if len(reason) != len(self.corpus.docs):
            problems.append(f"corpus_filter returned {len(reason)} of {len(self.corpus.docs)} docs")
        missed = [i for i in self.corpus.exact_dups if reason.get(i) != "duplicate"]
        if missed:
            problems.append(f"exact duplicates not flagged duplicate: {sorted(missed)[:5]}")
        short = [
            i for i in self.corpus.short_docs if reason.get(i) not in ("too_short", "duplicate")
        ]
        if short:
            problems.append(f"short docs not flagged too_short: {sorted(short)[:5]}")
        found = {(r["a"], r["b"]) for r in pairs}
        for a, b in found:
            j = corpus_gen.jaccard(self.sets[a], self.sets[b])
            if j < corpus_gen.THRESHOLD:
                problems.append(f"pair ({a}, {b}) has Jaccard {j:.4f} < threshold")
                break
        recall = len(found & set(self.planted)) / len(self.planted) if self.planted else 1.0
        if recall < self.floor:
            problems.append(f"dedup recall {recall:.4f} below floor {self.floor:.4f}")
        self.last = {
            "text.kept_ratio": sum(1 for r in flags if r["keep"]) / max(1, len(flags)),
            "dedup.pairs_found": float(len(found)),
            "dedup.recall": recall,
        }
        return problems

    def final_layer(self) -> dict[str, float]:
        return dict(self.last)


WORKLOADS = {w.name: w for w in (ReportQueries, CorpusCuration, DailyEtl)}
