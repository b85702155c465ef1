"""The benchmark's workloads. Each drives the program through its public
entry points in one driver process with a single closed-loop client:
every step starts when the previous one has finished.

A workload's ``setup`` runs once, untimed by the end-to-end metrics
other than ``setup_s``; ``round`` is the unit of timed work and is
repeated whole until the run's seconds are used up.
"""

from __future__ import annotations

import dataclasses
import gc
import os
import statistics
from datetime import date, datetime

import gen
from check import (
    ACCOUNT_PAYLOAD,
    SUB_PAYLOAD,
    expected_mrr,
    expected_versions,
    mart_mismatches,
    register_testdata,
    snapshot_mismatches,
    suite_parity,
)

MODELS = [
    "stg_accounts", "stg_subscriptions", "stg_support_tickets",
    "snap_accounts", "snap_subscriptions", "dim_date", "dim_account",
    "dim_subscription", "fct_subscription_month", "fct_account_month",
    "mart_mrr_waterfall_month",
]
FACTS = ("fct_subscription_month", "fct_account_month")
SNAPSHOTS = ("snap_accounts", "snap_subscriptions")
# the feeds the models read; feature_usage and churn_events have no model
DAILY_FEEDS = ("accounts", "subscriptions", "support_tickets")
# every month of the warehouse's date spine (dim_date defaults)
SPINE = [date(y, m, 1) for y in (2023, 2024, 2025) for m in range(1, 13)]


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(_dir_files(path).values())


def _ts(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


def traced_warehouse(spark, root: str, tracer):
    """A ``sources.tables.Warehouse`` whose writes run inside spans, so
    the sources layer's write path is measured where the pipeline calls
    it. When tracing, the files each write adds or replaces, and the rows
    in them, are counted from the table directory before and after."""
    import pyarrow.parquet as pq

    from duckdb_dbt_finance_warehouse_spark.sources.tables import Warehouse

    class TracedWarehouse(Warehouse):
        def _traced(self, kind, schema, table, call):
            with tracer.span(f"{kind}:{schema}.{table}", "sources.write") as s:
                before = _dir_files(self.path(schema, table)) if tracer.enabled else {}
                call()
                if tracer.enabled:
                    after = _dir_files(self.path(schema, table))
                    new = {p: n for p, n in after.items() if before.get(p) != n}
                    s["files"] = len(new)
                    s["bytes"] = sum(new.values())
                    s["partitions"] = len({os.path.dirname(p) for p in new})
                    s["rows"] = sum(pq.ParquetFile(p).metadata.num_rows for p in new if p.endswith(".parquet"))

        def write(self, df, schema, table, *a, **kw):
            self._traced("write", schema, table, lambda: Warehouse.write(self, df, schema, table, *a, **kw))

        def write_staged(self, df, schema, table, *a, **kw):
            self._traced("write_staged", schema, table, lambda: Warehouse.write_staged(self, df, schema, table, *a, **kw))

    return TracedWarehouse(spark, root)


class WarehouseDaily:
    """Reference-volume feeds get one full build in set-up; each round
    lands one day's batch as CSV, builds it incrementally with the
    batch's raised ``reprocess_months`` and runs the 48 declared tests."""

    name = "warehouse_daily"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        from duckdb_dbt_finance_warehouse_spark.models import build_pipeline

        self.pipeline = build_pipeline()
        self._wrap_model_fns()
        self.wh = traced_warehouse(self.spark, ctx.path("warehouse"), self.tracer)
        self.arrivals: list[tuple[str, str]] = []
        self.account_arrivals: list[tuple[str, str]] = []

    def _wrap_model_fns(self) -> None:
        """Time the model functions (the models layer) apart from the
        materialization around them."""
        tracer = self.tracer
        for name, m in self.pipeline.models.items():
            def fn(c, _fn=m.fn, _name=name):
                with tracer.span(_name, "models.construct"):
                    return _fn(c)

            self.pipeline.models[name] = dataclasses.replace(m, fn=fn)

    # -- steps -------------------------------------------------------
    def land(self, paths: dict[str, str], ts: str, mode: str) -> None:
        from duckdb_dbt_finance_warehouse_spark.sources.csv import ingest_csv

        for feed, path in paths.items():
            with self.tracer.span(feed, "sources.ingest"):
                ingest_csv(self.wh, path, feed, mode=mode, batch_ts=_ts(ts))
        self.arrivals.append((ts, paths["subscriptions"]))
        self.account_arrivals.append((ts, paths["accounts"]))

    def build(self, variables: dict, full_refresh: bool) -> None:
        from duckdb_dbt_finance_warehouse_spark.plans.materialize import materialize
        from duckdb_dbt_finance_warehouse_spark.plans.registry import Context

        snap_before = self._snapshot_counts() if self.tracer.enabled else None
        with self.tracer.span("build", "plans.build"):
            ctx = Context(self.spark, self.wh, self.pipeline, variables, full_refresh)
            for name in self.pipeline.topo_order():
                with self.tracer.span(name, "plans.model"):
                    materialize(ctx, self.pipeline.models[name])
        if snap_before is not None:
            self.ctx.note_snapshot(snap_before, self._snapshot_counts())

    def test(self) -> list[str]:
        from duckdb_dbt_finance_warehouse_spark.plans.testing import declared_reference_tests

        with self.tracer.span("declared_reference_tests", "plans.tests.construct"):
            checks = declared_reference_tests(self.wh)
        failed = []
        for name, violations in checks.items():
            with self.tracer.span(name, "plans.tests.execute"):
                n = violations.count()
            if n:
                failed.append(name)
        return failed

    def _snapshot_counts(self) -> dict[str, tuple[int, int]]:
        import pyarrow.dataset as ds

        out = {}
        for snap in SNAPSHOTS:
            p = self.wh.path("snapshots", snap)
            if not os.path.isdir(p):
                out[snap] = (0, 0)
                continue
            t = ds.dataset(p, format="parquet").to_table(columns=["dbt_valid_to"])
            out[snap] = (t.num_rows, t.num_rows - t.column(0).null_count)
        return out

    # -- independent checks -------------------------------------------
    def verify(self, months: list[date]) -> list[str]:
        con = self.ctx.duck
        bad = mart_mismatches(
            con,
            self.wh.path("mart", "mart_mrr_waterfall_month"),
            expected_mrr(con, self.arrivals, months),
        )
        for snap, key, arrivals, payload in (
            ("snap_subscriptions", "subscription_id", self.arrivals, SUB_PAYLOAD),
            ("snap_accounts", "account_id", self.account_arrivals, ACCOUNT_PAYLOAD),
        ):
            bad += snapshot_mismatches(
                con, self.wh.path("snapshots", snap), key, expected_versions(con, arrivals, key, payload)
            )
        return bad

    # -- workload protocol -----------------------------------------------
    def setup(self) -> None:
        seed = self.ctx.seed
        with self.ctx.own():
            base = gen.base_feeds(seed, 1.0)
            paths = {}
            os.makedirs(self.ctx.path("inputs/base"), exist_ok=True)
            for feed in DAILY_FEEDS:
                paths[feed] = self.ctx.path(f"inputs/base/{feed}.csv")
                gen.write_csv(base[feed], paths[feed])
            self.stream = gen.DailyBatches(seed, base)
        self.land(paths, gen.BASE_TS, "replace")
        self.build({}, True)
        with self.ctx.own():
            bad = self.verify(SPINE)
        if bad:
            self.ctx.correct = False
            self.ctx.note_failures(bad)

    def round(self, r: int) -> tuple[int, int]:
        b = self.stream.write_next(self.ctx.path(f"inputs/batch_{self.stream.k:04d}"))
        self.ctx.note_batch_input(b)
        self.ctx.quiesce()
        with self.ctx.timed("batch"), self.tracer.span(f"batch{b['index']}", "batch"):
            self.land(b["paths"], b["ts"], "append")
            self.build(b["vars"], False)
        with self.ctx.timed("tests"):
            test_failures = self.test()
        # the incremental facts restate from `reprocess_months` before
        # the spine's last month (2025-12)
        restated = [m for m in SPINE if m >= date(2025, 12 - b["vars"]["reprocess_months"], 1)]
        bad = self.verify(restated)
        self.ctx.note_failures(bad + test_failures)
        # one landing, one incremental build, 48 tests
        return 2 + 48, (1 if bad else 0) + len(test_failures)

    def queries_ms(self) -> list[float]:
        """Per declared test: median over the run's batches of its time."""
        by_name: dict[str, list[float]] = {}
        for s in self.tracer.select(layer="plans.tests.execute"):
            by_name.setdefault(s["name"], []).append(s["end"] - s["start"])
        return [statistics.median(v) * 1e3 for v in by_name.values()]


# Operator-suite entries: the two operator families the warehouse models
# do not exercise, each an open item of ROADMAP.md (README.md gives the
# reasons). A run executes each once in set-up and REPS times per round;
# the list is short because a run must fit its time budget (README.md).
SUITE_ENTRIES = [
    "x_khop_reach",    # iterative graph: jobs run during construction
    "x_ann_ivf_topk",  # stored-index ANN probe through Arrow Python workers
]
REPS = 3
SUITE_SCALE = 0.01


class OperatorSuite:
    """Read-only analytical queries over a generated TPC-H-ish corpus:
    one untimed warm execution per entry in set-up (its rows are checked
    against the entry's DuckDB oracle), then rounds in which each entry
    is constructed afresh and executed into a noop sink ``REPS`` times
    in a row."""

    name = "operator_suite"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.bad: set[str] = set()

    def _execute(self, name: str, spec) -> None:
        from duckdb_dbt_finance_warehouse_spark.operators.dedup import release_persisted

        with self.tracer.span(name, "suite.construct"):
            df = spec.fn(self.spark, self.data)
        with self.tracer.span(name, "suite.execute"):
            df.write.format("noop").mode("overwrite").save()
        release_persisted()

    def setup(self) -> None:
        from duckdb_dbt_finance_warehouse_spark.operators.dedup import release_persisted
        from duckdb_dbt_finance_warehouse_spark.sources.tables import TESTDATA_TABLES
        from duckdb_dbt_finance_warehouse_spark.suite import REGISTRY

        with self.ctx.own():
            self.data = gen.write_testdata(self.ctx.path("inputs/testdata"), self.ctx.seed, SUITE_SCALE)
            register_testdata(self.ctx.duck, self.data, TESTDATA_TABLES)
        self.specs = {n: REGISTRY[n] for n in SUITE_ENTRIES}
        for name, spec in self.specs.items():
            with self.tracer.span(name, "suite.first_run"):
                df = spec.fn(self.spark, self.data)
                rows, cols = df.collect(), df.columns
            release_persisted()
            with self.ctx.own():
                oracle = spec.resolved_oracle(self.data)
                if oracle is not None:
                    problems = suite_parity(self.ctx.duck, oracle, rows, cols)
                    if problems:
                        self.bad.add(name)
                        self.ctx.note_failures([f"{name}: {problems[0]}"])
                df = rows = None
                gc.collect()

    def round(self, r: int) -> tuple[int, int]:
        self.ctx.quiesce()
        for name, spec in self.specs.items():
            for _ in range(REPS):
                self.ctx.quiesce(light=True)
                with self.ctx.timed(f"entry:{name}"):
                    self._execute(name, spec)
        # an execution of an entry whose rows missed its oracle fails
        return REPS * len(self.specs), REPS * len(self.bad)

    def queries_ms(self) -> list[float]:
        return [statistics.median(v) * 1e3 for v in self.ctx.samples_by_prefix("entry:").values()]


WORKLOADS = {w.name: w for w in (WarehouseDaily, OperatorSuite)}
