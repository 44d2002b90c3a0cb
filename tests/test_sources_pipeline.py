"""Sources (API/file), warehouse, pipeline orchestration tests —
reference-suite analogs 1, 5, 6, 7, 8, 10 (SURVEY.md §5)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from scalable_data_ingestion_spark.pipeline import Config, PipelineManager
from scalable_data_ingestion_spark.sources.api import fake_posts, posts_to_orders
from scalable_data_ingestion_spark.sources.files import (
    collect_all,
    quarantine,
    read_csv_dir,
    read_json_dir,
)
from scalable_data_ingestion_spark.storage import Warehouse


# ---- test 1 analog: API ingestion mapping (tests.py:56-82) -------------
def test_api_posts_to_orders(spark):
    posts = [
        {"userId": 1, "id": 1, "title": "my phone post", "body": "b"},
        {"userId": 2, "id": 2, "title": "computer things", "body": "b"},
        {"userId": 3, "id": 3, "title": "unmatched title", "body": "b"},
    ]
    rows = {r["order_id"]: r for r in posts_to_orders(spark, posts).collect()}
    assert sorted(rows) == ["API-0001", "API-0002", "API-0003"]
    assert rows["API-0001"]["product"] == "iPhone 15"
    assert rows["API-0002"]["product"] == "MacBook Pro"
    assert rows["API-0001"]["customer_name"] == "Customer 1"
    assert rows["API-0001"]["customer_email"] == "customer1@example.com"
    # price = 50 + (id % 20) * 25.99
    assert rows["API-0001"]["price"] == 75.99
    assert rows["API-0002"]["price"] == 101.98
    assert rows["API-0001"]["total_amount"] == rows["API-0001"]["price"]
    # deterministic fallback product from the fixed list
    assert rows["API-0003"]["product"] in {
        "iPhone 15", "MacBook Pro", "AirPods Pro", "iPad Air", "Apple Watch"
    }
    assert posts_to_orders(spark, []).count() == 0


def test_fake_posts_deterministic():
    assert fake_posts(5) == fake_posts(5)
    assert len(fake_posts(100)) == 100


# ---- file ingestion: CSV + JSON shapes + quarantine (A5 fixture) -------
@pytest.fixture()
def drop_dir(tmp_path):
    d = tmp_path / "input"
    d.mkdir()
    (d / "orders1.csv").write_text(
        "order_id,customer_name,customer_email,product,quantity,price,discount,total_amount,order_date\n"
        "CSV-0001,Alice A,alice@example.com,iPhone 15,1,999.99,0.0,999.99,2024-01-10\n"
        "CSV-0002,Bob B,bob@example.com,iPad Air,2,599.99,0.0,1199.98,2024-01-11\n"
    )
    (d / "orders_list.json").write_text(
        json.dumps(
            [
                {"order_id": "JSN-0001", "customer_name": "Carol C",
                 "customer_email": "carol@example.com", "product": "MacBook Pro",
                 "quantity": "1", "price": "1999.99", "order_date": "2024-01-12"}
            ]
        )
    )
    (d / "orders_wrapped.json").write_text(
        json.dumps(
            {"orders": [
                {"order_id": "JSN-0002", "customer_name": "Dan D",
                 "customer_email": "dan@example.com", "product": "AirPods Pro",
                 "quantity": "2", "price": "249.99", "order_date": "2024-01-13"}
            ]}
        )
    )
    (d / "orders_single.json").write_text(
        json.dumps(
            {"order_id": "JSN-0003", "customer_name": "Eve E",
             "customer_email": "eve@example.com", "product": "Nintendo Switch",
             "quantity": "1", "price": "299.99", "order_date": "2024-01-14"}
        )
    )
    return str(d)


def test_csv_ingestion_with_lineage(spark, drop_dir):
    df = read_csv_dir(spark, drop_dir)
    good, bad = quarantine(df)
    rows = {r["order_id"]: r for r in good.collect()}
    assert sorted(rows) == ["CSV-0001", "CSV-0002"]
    assert rows["CSV-0001"]["source"] == "file_csv"
    assert rows["CSV-0001"]["source_file"].endswith("orders1.csv")
    assert bad.count() == 0


def test_json_three_shapes(spark, drop_dir):
    good, _ = quarantine(read_json_dir(spark, drop_dir))
    ids = sorted(r["order_id"] for r in good.collect())
    assert ids == ["JSN-0001", "JSN-0002", "JSN-0003"]


def test_collect_all_union_dedup(spark, drop_dir):
    df = collect_all(spark, input_dir=drop_dir, api_limit=5, offline_api=True)
    ids = [r["order_id"] for r in df.select("order_id").collect()]
    assert len(ids) == len(set(ids))
    # API(5) + CSV(2) + JSON(3), no key overlap across prefixes
    assert len(ids) == 10
    sources = {r["source"] for r in df.select("source").distinct().collect()}
    assert sources == {"api_rest", "file_csv", "file_json"}


# ---- test 5 analog: warehouse save + read-back (tests.py:157-185) -------
def test_warehouse_upsert_roundtrip(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df1 = spark.createDataFrame(
        [("API-0001", "iPhone 15", 999.99, 1), ("API-0002", "iPad Air", 599.99, 2)],
        ["order_id", "product", "price", "quantity"],
    )
    wh.save_orders(df1)
    # upsert: same key, new value wins on read-back
    df2 = spark.createDataFrame(
        [("API-0001", "iPhone 15 Pro", 1199.99, 1)],
        ["order_id", "product", "price", "quantity"],
    )
    wh.save_orders(df2)
    back = {r["order_id"]: r for r in wh.read_orders(order_by="order_id", desc=False).collect()}
    assert len(back) == 2
    assert back["API-0001"]["product"] == "iPhone 15 Pro"
    assert back["API-0002"]["price"] == 599.99

    wh.compact()
    assert wh.read_orders(order_by="order_id", desc=False).count() == 2

    stats = wh.stats()
    assert stats["total_orders"] == 2
    assert stats["orders_today"] == 2


def test_warehouse_default_fill(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    wh.save_orders(spark.createDataFrame([("X-0001",)], ["order_id"]))
    row = wh.read_orders().first()
    assert row["quantity"] == 1 and row["price"] == 0.0 and row["total_amount"] == 0.0


def test_summary_report(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh3"))
    df = spark.createDataFrame(
        [("A", 10.0, 100.0), ("B", 20.0, 200.0), ("A", 30.0, 300.0)],
        ["customer_segment", "price", "total_amount"],
    )
    path = str(tmp_path / "report.json")
    rep = wh.summary_report(df, path=path)
    assert rep["total_records"] == 3
    assert rep["numeric"]["price"]["median"] == 20.0
    assert rep["numeric"]["price"]["mean"] == 20.0
    assert rep["categorical"]["customer_segment"]["top_values"]["A"] == 2
    assert rep["revenue"]["sum"] == 600.0
    assert os.path.exists(path)


# ---- tests 6/7/10 analog: orchestration, error policy, end-to-end ------
def test_pipeline_end_to_end(spark, tmp_path, drop_dir):
    config = Config(
        overrides={
            "warehouse": {"root": str(tmp_path / "wh")},
            "files": {"input_dir": drop_dir},
            "api": {"offline": True},
        }
    )
    mgr = PipelineManager(spark, config)
    result = mgr.run_pipeline(api_limit=20)
    assert result.success, result.error_message
    assert result.stages_completed == ["ingestion", "validation", "transformation", "storage"]
    assert result.records_processed > 0
    assert result.quality["overall_score"] > 0

    # stored orders are enriched + standardized
    stored = mgr.warehouse.read_orders(order_by="order_id", desc=False)
    assert "customer_segment" in stored.columns
    assert "risk_level" in stored.columns
    assert stored.count() == result.records_processed

    # run + metrics persisted
    runs = mgr.warehouse.table("pipeline_runs")
    assert runs.filter(F.col("run_id") == result.run_id).count() == 1
    metrics = mgr.warehouse.table("data_quality_metrics")
    assert metrics.filter(F.col("run_id") == result.run_id).count() > 0

    # markdown report (X4)
    report = mgr.markdown_report(result)
    assert "# Pipeline Execution Report" in report and result.run_id in report

    # status (X3)
    status = mgr.status()
    assert status["warehouse"]["total_orders"] == result.records_processed


def test_pipeline_stage_toggles(spark, tmp_path):
    config = Config(
        overrides={"warehouse": {"root": str(tmp_path / "wh")}, "api": {"offline": True}}
    )
    mgr = PipelineManager(spark, config)
    mgr.enable_transformation = False
    mgr.enable_storage = False
    result = mgr.run_pipeline(api_limit=5)
    assert result.success
    assert result.stages_completed == ["ingestion", "validation"]
    assert "transformation" not in result.stage_results


def test_pipeline_ingestion_failure_aborts(spark, tmp_path, monkeypatch):
    config = Config(
        overrides={"warehouse": {"root": str(tmp_path / "wh")}, "api": {"offline": True}}
    )
    mgr = PipelineManager(spark, config)
    import scalable_data_ingestion_spark.pipeline.manager as mgr_mod

    def boom(*a, **k):
        raise RuntimeError("ingest broke")

    monkeypatch.setattr(mgr_mod, "collect_all", boom)
    result = mgr.run_pipeline(api_limit=5)
    assert not result.success
    assert result.stages_failed == ["ingestion"]
    assert "ingest broke" in result.error_message
    # abort policy: nothing after ingestion ran
    assert set(result.stage_results) == {"ingestion"}


def test_health_check(spark, tmp_path):
    config = Config(
        overrides={"warehouse": {"root": str(tmp_path / "wh")}, "api": {"offline": True}}
    )
    mgr = PipelineManager(spark, config)
    health = mgr.health_check()
    assert health["status"] == "healthy"
    assert health["checks"] == {"spark": "healthy", "api": "healthy", "filesystem": "healthy"}


# ---- test 8 analog: config loading (tests.py:260-280) ------------------
def test_config_dot_notation(tmp_path):
    cfg = Config()
    assert cfg.get("data_quality.quality_threshold") == 80
    assert cfg.get("nope.nope", "fallback") == "fallback"

    yaml_path = tmp_path / "c.yaml"
    yaml_path.write_text("warehouse:\n  root: /custom/root\napi:\n  timeout: 5\n")
    cfg2 = Config(str(yaml_path))
    assert cfg2.get("warehouse.root") == "/custom/root"
    assert cfg2.get("api.timeout") == 5
    assert cfg2.get("api.retry_attempts") == 3  # default preserved


def test_warehouse_deletion_vectors(spark, tmp_path):
    """Delete-without-rewrite cycle: tombstone append, live read via
    broadcast anti-join, idempotent re-delete, vacuum folds the debt."""
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "whdv"))
    rows = [
        (f"DV-{i:04d}", "widget" if i % 2 else "gadget", float(i), 1)
        for i in range(20)
    ]
    wh.save_orders(
        spark.createDataFrame(rows, ["order_id", "product", "price", "quantity"])
    )
    assert wh.delete_orders_where(F.col("product") == "gadget") == 10
    live = wh.read_orders_live()
    assert live.count() == 10
    assert {r["product"] for r in live.select("product").distinct().collect()} == {
        "widget"
    }
    # raw read still sees every row — no data file was rewritten
    assert wh.read_orders().count() == 20
    # tombstoned rows are no longer live: re-delete matches nothing
    assert wh.delete_orders_where(F.col("product") == "gadget") == 0
    # read-side merge is one BROADCAST anti-join (tombstones are small)
    plan = wh.read_orders_live()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # vacuum: physical rewrite, tombstones cleared, live set unchanged
    wh.vacuum_deletes()
    import os

    assert not os.path.isdir(str(tmp_path / "whdv" / "orders__deletes"))
    assert wh.read_orders().count() == 10
    assert wh.read_orders_live().count() == 10


# ---- run shape: degenerate drops, cache release, bookkeeping, job budget --
def _manager(spark, root, drop=None) -> PipelineManager:
    overrides = {"warehouse": {"root": str(root)}, "api": {"offline": True}}
    if drop is not None:
        overrides["files"] = {"input_dir": str(drop)}
    return PipelineManager(spark, Config(overrides=overrides))


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("layout", ["empty", "csv_only"])
def test_pipeline_degenerate_drop_dirs(spark, tmp_path, drop_dir, layout):
    """An empty drop and a CSV-only drop are valid: the run succeeds with
    the API rows (plus the CSV rows), instead of failing on a glob that
    matches nothing."""
    drop = tmp_path / f"drop_{layout}"
    drop.mkdir()
    expected = {f"API-{i:04d}" for i in range(1, 6)}
    if layout == "csv_only":
        (drop / "orders1.csv").write_text(open(os.path.join(drop_dir, "orders1.csv")).read())
        expected |= {"CSV-0001", "CSV-0002"}
    mgr = _manager(spark, tmp_path / "wh", drop)
    result = mgr.run_pipeline(api_limit=5)
    assert result.success, result.error_message
    assert result.records_processed == len(expected)
    stored = {r["order_id"] for r in mgr.warehouse.read_orders().select("order_id").collect()}
    assert stored == expected


def test_pipeline_nulls_a_malformed_csv_number(spark, tmp_path):
    """A CSV row with quantity `abc` does not fail the run (the union
    used to ANSI-cast it to the API frame's bigint): the field becomes
    null and cleaning fills it with 1. Valid fields keep their types."""
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "orders1.csv").write_text(
        "order_id,customer_name,customer_email,product,quantity,price,discount,total_amount,order_date\n"
        "CSV-0001,Alice A,alice@example.com,iPhone 15,abc,999.99,0.0,999.99,2024-01-10\n"
        "CSV-0002,Bob B,bob@example.com,iPad Air,2,599.99,0.0,1199.98,2024-01-11\n"
    )
    union = collect_all(spark, input_dir=str(drop), api_limit=5)
    assert union.schema["quantity"].dataType.simpleString() == "bigint"
    assert union.schema["price"].dataType.simpleString() == "double"
    spark.catalog.clearCache()

    mgr = _manager(spark, tmp_path / "wh", drop)
    result = mgr.run_pipeline(api_limit=5)
    assert result.success, result.error_message
    stored = {
        r["order_id"]: (r["quantity"], r["price"])
        for r in mgr.warehouse.read_orders().collect()
    }
    assert stored["CSV-0001"] == (1, 999.99)
    assert stored["CSV-0002"] == (2, 599.99)


def test_pipeline_releases_its_caches(spark, tmp_path, drop_dir):
    """The run unpersists every frame it cached (the ingest and transform
    frames and the quarantine parses of the drop) without clearing the
    session's other caches."""
    spark.catalog.clearCache()
    mgr = _manager(spark, tmp_path / "wh", drop_dir)
    assert mgr.run_pipeline(api_limit=5).success
    assert _cache_empty(spark)

    user_frame = spark.range(3).cache()
    user_frame.count()
    _manager(spark, tmp_path / "wh2", drop_dir).run_pipeline(api_limit=5)
    assert user_frame.is_cached and not _cache_empty(spark)
    user_frame.unpersist()
    assert _cache_empty(spark)


def test_pipeline_releases_caches_on_failure(spark, tmp_path, drop_dir, monkeypatch):
    import scalable_data_ingestion_spark.pipeline.manager as mgr_mod

    def boom(df):
        raise RuntimeError("enrich broke")

    spark.catalog.clearCache()
    monkeypatch.setattr(mgr_mod, "enrich", boom)
    result = _manager(spark, tmp_path / "wh", drop_dir).run_pipeline(api_limit=5)
    assert not result.success
    assert result.stages_failed == ["transformation"]
    assert _cache_empty(spark)


def test_pipeline_records_bookkeeping_failure(spark, tmp_path, monkeypatch):
    """A failed pipeline_runs write does not fail the run, and it is not
    silent: the result carries the error."""

    def broken(self, run):
        raise OSError("disk full")

    monkeypatch.setattr(Warehouse, "save_pipeline_run", broken)
    mgr = _manager(spark, tmp_path / "wh")
    result = mgr.run_pipeline(api_limit=5)
    assert result.success
    assert result.bookkeeping_error == "OSError: disk full"
    assert "disk full" in mgr.markdown_report(result)


@pytest.mark.parametrize("validation", ["disabled", "fails"])
def test_pipeline_counts_ingest_without_quality_scores(spark, tmp_path, monkeypatch, validation):
    """The ingest row count comes from the quality aggregate; when that
    does not run or raises, the run counts the ingest frame itself."""
    import scalable_data_ingestion_spark.pipeline.manager as mgr_mod

    mgr = _manager(spark, tmp_path / "wh")
    if validation == "disabled":
        mgr.enable_validation = False
    else:
        monkeypatch.setattr(mgr_mod, "quality_scores", lambda df: 1 / 0)
    result = mgr.run_pipeline(api_limit=7)
    assert result.success
    assert result.stages_completed == ["ingestion", "transformation", "storage"]
    assert result.stages_failed == ([] if validation == "disabled" else ["validation"])
    assert result.stage_results["ingestion"].records == 7
    assert result.records_processed == 7


# Measured: 18 jobs for a warm 100-record offline run on local[4]; the
# budget guards the one-materialization-per-frame shape (27 before it).
PIPELINE_JOB_BUDGET = 18


def test_warm_pipeline_job_budget(spark, tmp_path):
    sc = spark.sparkContext
    _manager(spark, tmp_path / "warmup").run_pipeline(api_limit=100)
    group = "test-pipeline-job-budget"
    sc.setJobGroup(group, "warm run_pipeline")
    try:
        result = _manager(spark, tmp_path / "wh").run_pipeline(api_limit=100)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert result.success, result.error_message
    assert result.records_processed == 100
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= PIPELINE_JOB_BUDGET, len(jobs)


@pytest.mark.parametrize("shape", ["empty", "filtered"])
def test_save_orders_writes_nothing_for_no_rows(spark, tmp_path, shape):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [("E-0001", "x", 1.0, 1, "2024-01-01")],
        "order_id string, product string, price double, quantity bigint, order_date string",
    )
    df = df.limit(0) if shape == "empty" else df.filter("false")
    wh.save_orders(df)
    orders = tmp_path / "wh" / "orders"
    parts = list(orders.rglob("*.parquet")) if orders.exists() else []
    assert sum(spark.read.parquet(str(p)).count() for p in parts) == 0


def test_summary_report_keys_and_values(spark, tmp_path):
    """The report's shape and values on the test_summary_report fixture,
    key order included (the JSON written is byte-stable but for the
    timestamp)."""
    wh = Warehouse(spark, str(tmp_path / "wh4"))
    df = spark.createDataFrame(
        [("A", 10.0, 100.0), ("B", 20.0, 200.0), ("A", 30.0, 300.0)],
        ["customer_segment", "price", "total_amount"],
    )
    rep = wh.summary_report(df)
    assert list(rep) == ["generated_at", "total_records", "numeric", "categorical", "revenue"]
    assert rep["total_records"] == 3
    describe = ["count", "mean", "std", "min", "max", "median"]
    assert {c: list(v) for c, v in rep["numeric"].items()} == {
        "price": describe,
        "total_amount": describe,
    }
    assert rep["numeric"]["price"] == {
        "count": 3, "mean": 20.0, "std": 10.0, "min": 10.0, "max": 30.0, "median": 20.0
    }
    assert rep["numeric"]["total_amount"] == {
        "count": 3, "mean": 200.0, "std": 100.0, "min": 100.0, "max": 300.0, "median": 200.0
    }
    assert rep["categorical"] == {
        "customer_segment": {"distinct_in_top10": 2, "top_values": {"A": 2, "B": 1}}
    }
    assert list(rep["revenue"]) == ["sum", "mean", "max", "min"]
    assert rep["revenue"] == {"sum": 600.0, "mean": 200.0, "max": 300.0, "min": 100.0}
