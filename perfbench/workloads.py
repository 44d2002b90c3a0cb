"""The benchmark's workloads.

Each workload prepares its inputs untimed, then runs ops in a closed loop
with one client: an op starts only after the previous one returned.
``op`` returns the seconds its timed part took; ``check`` then verifies
the op's output untimed and raises ``CheckFailed`` when it is wrong.

With tracing on, ``trace`` wraps the public functions of each layer the
op reaches and ``layers`` turns one op's spans into per-layer numbers.
Every workload reports every per-layer metric; one a workload does not
reach reads 0.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import statistics
import time

import numpy as np

from . import gen


class CheckFailed(Exception):
    pass


# The registry queries of ``query_mix``: two whose builders run eager
# driver-side loops (the leave-one-out 1-NN candidate kernel and
# residual-quantizer Lloyd iterations), plus one plain scan and aggregate
# that shows the fixed cost of a query.
QUERY_MIX = (
    "q01_pricing_summary",
    "ml_knn_loo_accuracy",
    "sim_rq_distortion",
)

SPARK_COUNTERS = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_read_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"),
    ("input_bytes", "bytes"),
    ("output_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)

LAYER_METRICS = (
    [("session.get_spark_s", "s")]
    + [
        ("pipeline.run_pipeline.s", "s"),
        ("pipeline.run_pipeline.self_s", "s"),
        ("pipeline.jobs", "count"),
        ("pipeline.stages", "count"),
    ]
    + [(f"pipeline.stage.{st}_s", "s") for st in ("ingestion", "validation", "transformation", "storage")]
    + [
        ("sources.collect_all.s", "s"),
        ("sources.collect_all.jobs", "count"),
        ("sources.fetch_orders.s", "s"),
        ("sources.degenerate_drop_failures", "count"),
        ("quality.validate_schema.s", "s"),
        ("quality.quality_scores.s", "s"),
        ("quality.quality_scores.jobs", "count"),
        ("operators.clean.s", "s"),
        ("operators.enrich.s", "s"),
        ("operators.standardize.s", "s"),
        ("storage.save_orders.s", "s"),
        ("storage.save_orders.jobs", "count"),
        ("storage.save_orders.bytes_written", "bytes"),
        ("storage.save_orders.files_written", "count"),
        ("storage.export.s", "s"),
        ("storage.export.jobs", "count"),
        ("storage.export.bytes_written", "bytes"),
        ("storage.summary_report.s", "s"),
        ("storage.summary_report.jobs", "count"),
        ("storage.save_pipeline_run.s", "s"),
        ("storage.save_quality_metrics.s", "s"),
        ("storage.read_orders.s", "s"),
        ("storage.read_orders_month.s", "s"),
        ("storage.stats.s", "s"),
        ("storage.orders_files", "count"),
        ("storage.stored_bytes_per_input_byte", "ratio"),
        ("streaming.drain_s", "s"),
        ("streaming.micro_batches", "count"),
        ("streaming.batch_p50_s", "s"),
        ("streaming.add_batch_s", "s"),
        ("streaming.rows_read_per_input_row", "ratio"),
    ]
    + [(f"registry.{q}.{part}_s", "s") for q in QUERY_MIX for part in ("build", "exec")]
    + [("registry.build_jobs", "count"), ("registry.exec_jobs", "count")]
    + [(f"spark.{k}", u) for k, u in SPARK_COUNTERS]
    + [("process.peak_rss_mb", "MB")]
    + [("trace.op_p50_s", "s"), ("trace.cold_op_s", "s"), ("trace.overhead_s", "s")]
)


def _tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(root) for f in files
    )


def _orders_files(root: str) -> int:
    return sum(
        f.endswith(".parquet")
        for _, _, files in os.walk(os.path.join(root, "orders"))
        for f in files
    )


class Workload:
    name = ""
    records_per_op = 0  # input records one op accepts, for records_per_s; 0: not reported

    def __init__(self, spark, work: str, seed: int, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.extra: dict[int, dict] = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext({})

    def prepare(self) -> None:
        pass

    def op(self, i: int) -> float:
        raise NotImplementedError

    def check(self, i: int) -> None:
        pass

    def stored_ratio(self, i: int) -> float | None:
        """Bytes under the op's warehouse root divided by the bytes of its
        input files; None for a workload that stores nothing."""
        root = self.extra.get(i, {}).get("root")
        return None if root is None else _tree_bytes(root) / self.input_bytes

    def cleanup(self, i: int) -> None:
        pass

    def trace(self) -> None:
        pass

    def probe(self) -> dict[str, float]:
        return {}

    # ----------------------------------------------------- span reading
    def layers(self, i: int, spans: list[dict]) -> dict[str, float]:
        tr = self.tracer
        out: dict[str, float] = {}

        def named(name: str) -> list[dict]:
            return [s for s in spans if s["name"] == name]

        def secs(name: str) -> float:
            return sum(s["end"] - s["start"] for s in named(name))

        def jobs(name: str) -> set[int]:
            js: set[int] = set()
            for s in named(name):
                js |= tr.subtree_jobs(s, spans)
            return js

        for metric, _ in LAYER_METRICS:
            if metric.endswith(".s"):
                out[metric] = secs(metric[:-2])
            elif metric.endswith(".jobs") and metric.count(".") == 2:
                out[metric] = float(len(jobs(metric[:-5])))
        runs = named("pipeline.run_pipeline")
        out["pipeline.run_pipeline.self_s"] = sum(tr.self_time(s, spans) for s in runs)
        counters = tr.spark_counters(jobs("pipeline.run_pipeline"))
        out["pipeline.jobs"] = counters["jobs"]
        out["pipeline.stages"] = counters["stages"]
        for name in ("save_orders", "export"):
            out[f"storage.{name}.bytes_written"] = tr.spark_counters(
                jobs(f"storage.{name}")
            ).get("output_bytes", 0.0)
        all_jobs: set[int] = set()
        for s in spans:
            all_jobs |= set(s["jobs"])
        counters = tr.spark_counters(all_jobs)
        for k, _ in SPARK_COUNTERS:
            out[f"spark.{k}"] = counters.get(k, 0.0)
        return out


# ---------------------------------------------------------- pipeline_small
class PipelineSmall(Workload):
    """One CLI invocation of the paper's pipeline: 100 offline API
    records, no drop directory, a fresh warehouse root per op."""

    name = "pipeline_small"
    API_LIMIT = 100
    records_per_op = API_LIMIT

    def prepare(self) -> None:
        from scalable_data_ingestion_spark.sources.api import fake_posts

        self.expected = {f"API-{i:04d}" for i in range(1, self.API_LIMIT + 1)}
        self.input_bytes = len(json.dumps(fake_posts(self.API_LIMIT)).encode())

    def _manager(self, root: str, drop: str):
        from scalable_data_ingestion_spark.pipeline.config import Config
        from scalable_data_ingestion_spark.pipeline.manager import PipelineManager

        cfg = Config(
            overrides={
                "warehouse": {"root": root},
                "files": {
                    "input_dir": drop,
                    "processed_dir": os.path.join(root, "processed"),
                    "error_dir": os.path.join(root, "errors"),
                },
                "api": {"offline": True},
            }
        )
        return PipelineManager(self.spark, cfg)

    def op(self, i: int) -> float:
        root = os.path.join(self.work, f"wh{i}")
        self.extra[i] = {"root": root}
        t0 = time.perf_counter()
        result = self._manager(root, os.path.join(self.work, "no-drop")).run_pipeline(
            api_limit=self.API_LIMIT
        )
        dt = time.perf_counter() - t0
        self.extra[i]["result"] = result
        return dt

    def check(self, i: int) -> None:
        from scalable_data_ingestion_spark.storage import Warehouse

        result, root = self.extra[i]["result"], self.extra[i]["root"]
        if not result.success:
            raise CheckFailed(f"run failed: {result.error_message}")
        if result.records_processed != len(self.expected):
            raise CheckFailed(f"records_processed={result.records_processed}")
        with open(os.path.join(root, "reports", f"summary_{result.run_id}.json")) as fh:
            total = json.load(fh)["total_records"]
        if total != len(self.expected):
            raise CheckFailed(f"summary total_records={total}")
        stored = [r[0] for r in Warehouse(self.spark, root).read_orders().select("order_id").collect()]
        if len(stored) != len(set(stored)) or set(stored) != self.expected:
            raise CheckFailed("stored order ids differ from the expected set")

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.extra[i]["root"], ignore_errors=True)

    def trace(self) -> None:
        _wrap_pipeline(self.tracer)

    def layers(self, i: int, spans: list[dict]) -> dict[str, float]:
        out = super().layers(i, spans)
        result, root = self.extra[i]["result"], self.extra[i]["root"]
        for stage, sr in result.stage_results.items():
            out[f"pipeline.stage.{stage}_s"] = sr.execution_time
        out["storage.orders_files"] = float(_orders_files(root))
        out["storage.save_orders.files_written"] = out["storage.orders_files"]
        out["storage.stored_bytes_per_input_byte"] = self.stored_ratio(i)
        return out

    def probe(self) -> dict[str, float]:
        """Untimed: a drop directory that exists but is empty, and one
        that holds a CSV file and no JSON file. Both are valid drops; a
        run that fails on either counts."""
        failures = 0
        empty = os.path.join(self.work, "drop-empty")
        csv_only = os.path.join(self.work, "drop-csv-only")
        os.makedirs(empty, exist_ok=True)
        rng = np.random.default_rng(self.seed)
        orders = gen.make_orders(rng, gen.distinct_order_ids(rng, 10))
        gen.write_order_csvs(rng, csv_only, [o.csv_row(rng) for o in orders], 1)
        for k, drop in enumerate((empty, csv_only)):
            root = os.path.join(self.work, f"probe-wh{k}")
            result = self._manager(root, drop).run_pipeline(api_limit=self.API_LIMIT)
            failures += not result.success
            shutil.rmtree(root, ignore_errors=True)
        return {"sources.degenerate_drop_failures": float(failures)}


def _wrap_pipeline(tracer) -> None:
    from scalable_data_ingestion_spark.pipeline import manager
    from scalable_data_ingestion_spark.sources import api
    from scalable_data_ingestion_spark.storage import Warehouse

    tracer.wrap(manager.PipelineManager, "run_pipeline", "pipeline.run_pipeline")
    tracer.wrap(manager, "collect_all", "sources.collect_all")
    tracer.wrap(api, "fetch_orders", "sources.fetch_orders")
    tracer.wrap(manager, "validate_schema", "quality.validate_schema")
    tracer.wrap(manager, "quality_scores", "quality.quality_scores")
    for fn in ("clean", "enrich", "standardize"):
        tracer.wrap(manager, fn, f"operators.{fn}")
    _wrap_storage(tracer, Warehouse)


def _wrap_storage(tracer, Warehouse) -> None:
    for fn in ("save_orders", "export", "summary_report", "save_pipeline_run",
               "save_quality_metrics", "stats"):
        tracer.wrap(Warehouse, fn, f"storage.{fn}")


# ----------------------------------------------------------- stream_upsert
class StreamUpsert(Workload):
    """A streaming drain of many small CSV files into a warehouse that
    already holds earlier orders, then the read-back a user of the
    warehouse makes: latest-wins orders, a few months, and stats."""

    name = "stream_upsert"
    MONTHS = ("2023-03", "2023-11", "2024-07")

    def prepare(self) -> None:
        from scalable_data_ingestion_spark.sources.files import read_csv_dir
        from scalable_data_ingestion_spark.storage import Warehouse
        from scalable_data_ingestion_spark.streaming.ingest import process_batch

        self.drop_dir = os.path.join(self.work, "drop")
        seed_dir = os.path.join(self.work, "seed-drop")
        self.first, self.drop = gen.upsert_drops(self.seed, seed_dir, self.drop_dir)
        self.records_per_op = self.drop.accepted_rows
        self.input_bytes = self.first.input_bytes + self.drop.input_bytes
        self.expected = self.drop.expected
        self.expected_months = {
            m: sum(v[3].startswith(m) for v in self.expected.values()) for m in self.MONTHS
        }
        # The earlier orders enter the template warehouse untimed, through
        # the batch reader and the same per-batch function the stream
        # runs; each op starts from a copy of it.
        self.template = os.path.join(self.work, "template-wh")
        process_batch(read_csv_dir(self.spark, seed_dir), Warehouse(self.spark, self.template))
        self.template_files = _orders_files(self.template)

    def op(self, i: int) -> float:
        from scalable_data_ingestion_spark.storage import Warehouse
        from scalable_data_ingestion_spark.streaming.ingest import start_ingest

        root = os.path.join(self.work, f"wh{i}")
        ckpt = os.path.join(self.work, f"ckpt{i}")
        self.extra[i] = {"root": root, "ckpt": ckpt}
        shutil.copytree(self.template, root)
        t0 = time.perf_counter()
        with self.span("streaming.drain") as drain:
            query = start_ingest(self.spark, self.drop_dir, Warehouse(self.spark, root), ckpt)
            query.awaitTermination()
        wh = Warehouse(self.spark, root)
        with self.span("storage.read_orders"):
            rows = (
                wh.read_orders()
                .select("order_id", "quantity", "price", "total_amount")
                .toPandas()
            )
        with self.span("storage.read_orders_month"):
            months = {m: wh.read_orders_month(m).count() for m in self.MONTHS}
        stats = wh.stats()
        dt = time.perf_counter() - t0
        if self.tracer:
            self.tracer.adopt_group(drain, str(query.runId))
        self.extra[i].update(
            rows=rows, months=months, stats=stats, progress=query.recentProgress
        )
        return dt

    def check(self, i: int) -> None:
        x = self.extra[i]
        rows = x["rows"]
        if len(rows) != len(self.expected) or set(rows["order_id"]) != set(self.expected):
            raise CheckFailed("stored order ids differ from the expected set")
        for key, qty, price, total in rows.itertuples(index=False, name=None):
            want = self.expected[key]
            got = (int(qty), round(price * 100), round(total * 100))
            if got != want[:3]:
                raise CheckFailed(f"{key} reads back {got}, expected {want[:3]}")
        if x["months"] != self.expected_months:
            raise CheckFailed(f"month counts {x['months']} != {self.expected_months}")
        if x["stats"]["total_orders"] != len(self.expected):
            raise CheckFailed(f"stats total_orders={x['stats']['total_orders']}")

    def cleanup(self, i: int) -> None:
        for key in ("root", "ckpt"):
            shutil.rmtree(self.extra[i][key], ignore_errors=True)
        self.extra[i].pop("rows", None)

    def trace(self) -> None:
        from scalable_data_ingestion_spark.storage import Warehouse
        from scalable_data_ingestion_spark.streaming import ingest

        for fn in ("clean", "enrich", "standardize"):
            self.tracer.wrap(ingest, fn, f"operators.{fn}")
        _wrap_storage(self.tracer, Warehouse)

    def layers(self, i: int, spans: list[dict]) -> dict[str, float]:
        out = super().layers(i, spans)
        x = self.extra[i]
        batches = [p for p in x["progress"] if p["numInputRows"] > 0]
        out["streaming.drain_s"] = sum(
            s["end"] - s["start"] for s in spans if s["name"] == "streaming.drain"
        )
        out["streaming.micro_batches"] = float(len(batches))
        if batches:
            out["streaming.batch_p50_s"] = statistics.median(
                p["durationMs"]["triggerExecution"] / 1000 for p in batches
            )
        out["streaming.add_batch_s"] = sum(p["durationMs"].get("addBatch", 0) for p in batches) / 1000
        out["streaming.rows_read_per_input_row"] = (
            sum(p["numInputRows"] for p in batches) / self.drop.input_rows
        )
        out["storage.orders_files"] = float(_orders_files(x["root"]))
        out["storage.save_orders.files_written"] = out["storage.orders_files"] - self.template_files
        out["storage.stored_bytes_per_input_byte"] = self.stored_ratio(i)
        return out


# --------------------------------------------------------------- query_mix
def _canon(value):
    """One result cell in a form both engines agree on."""
    import datetime

    if value is None:
        return None
    if hasattr(value, "tolist"):
        value = value.tolist()
    if isinstance(value, (list, tuple)):
        return tuple(_canon(v) for v in value)
    if isinstance(value, float):
        return None if math.isnan(value) else value
    if isinstance(value, datetime.datetime):
        if value.hour == value.minute == value.second == value.microsecond == 0:
            return str(value.date())
        return str(value)
    if isinstance(value, datetime.date):
        return str(value)
    if isinstance(value, dict):
        return tuple(sorted((k, _canon(v)) for k, v in value.items()))
    return value


def _sort_key(row):
    return repr(tuple(round(v, 6) if isinstance(v, float) else v for v in row))


def _rows(pdf) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=_sort_key)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


class QueryMix(Workload):
    """One pass over ``QUERY_MIX`` in a seeded order: each query is built,
    materialized through the noop sink, and its caches are cleared. The
    tables are the same for every seed, so a run-to-run difference is the
    engine's, not the data's; the seed permutes the query order."""

    name = "query_mix"
    DATA_SEED = 0

    def prepare(self) -> None:
        import duckdb

        from scalable_data_ingestion_spark import registry

        self.sf = os.path.join(self.work, "sf")
        tables = gen.analytic_tables(self.DATA_SEED, self.sf)
        self.queries = registry.queries()
        oracles = registry.oracles()
        rng = np.random.default_rng(self.seed)
        self.order = [QUERY_MIX[k] for k in rng.permutation(len(QUERY_MIX))]
        con = duckdb.connect()
        for t in tables:
            path = os.path.join(self.sf, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {q: _rows(con.execute(oracles[q]).fetchdf()) for q in QUERY_MIX}
        con.close()
        self.mismatches: list[str] = []

    def op(self, i: int) -> float:
        timed = 0.0
        for q in self.order:
            t0 = time.perf_counter()
            with self.span(f"registry.{q}.build"):
                df = self.queries[q](self.spark, self.sf)
            with self.span(f"registry.{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
            timed += time.perf_counter() - t0
            if i == 0:
                self._compare(q, df)
            self.spark.catalog.clearCache()
        return timed

    def _compare(self, q: str, df) -> None:
        cols, rows = _rows(df.toPandas())
        want_cols, want = self.expected[q]
        if cols != want_cols:
            self.mismatches.append(f"{q}: columns {cols} != {want_cols}")
        elif len(rows) != len(want):
            self.mismatches.append(f"{q}: {len(rows)} rows, oracle {len(want)}")
        elif not all(_same(a, b) for a, b in zip(rows, want)):
            self.mismatches.append(f"{q}: values differ from the oracle")

    def check(self, i: int) -> None:
        if i == 0 and self.mismatches:
            raise CheckFailed("; ".join(self.mismatches))

    def layers(self, i: int, spans: list[dict]) -> dict[str, float]:
        out = super().layers(i, spans)
        for part in ("build", "exec"):
            jobs: set[int] = set()
            for s in spans:
                if s["name"].startswith("registry.") and s["name"].endswith(f".{part}"):
                    out[f"{s['name']}_s"] = s["end"] - s["start"]
                    jobs |= set(s["jobs"])
            out[f"registry.{part}_jobs"] = float(len(jobs))
        return out


WORKLOADS = {w.name: w for w in (PipelineSmall, StreamUpsert, QueryMix)}
