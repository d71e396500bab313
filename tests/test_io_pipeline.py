"""Sources, sinks, routing, and the declarative pipeline layer —
end-to-end round-trips on tmp dirs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from multi_source_data_lake_with_etl_pipeline_spark.catalog import load_table, register_views, sql
from multi_source_data_lake_with_etl_pipeline_spark.plans.pipeline import (
    ETLJob,
    TransformStep,
    build_plan,
    run_job,
)
from multi_source_data_lake_with_etl_pipeline_spark.sinks.files import write_file
from multi_source_data_lake_with_etl_pipeline_spark.sinks.routing import (
    LoaderManager,
    MultiTargetLoader,
    route_by_content,
)
from multi_source_data_lake_with_etl_pipeline_spark.sources.files import (
    infer_format,
    read_file,
    validate_source,
)
from multi_source_data_lake_with_etl_pipeline_spark.sources.registry import ExtractorRegistry


def test_file_roundtrip_formats(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, v double"
    )
    for fmt in ("parquet", "csv", "jsonl"):
        path = str(tmp_path / f"out_{fmt}")
        write_file(df, path, file_format=fmt, mode="overwrite", coalesce=1)
        back = read_file(spark, path, file_format=fmt)
        assert back.count() == 2
        assert {r["name"] for r in back.collect()} == {"a", "b"}


def test_infer_format_and_validate(spark, tmp_path):
    assert infer_format("x.ndjson") == "jsonl"
    assert infer_format("x.parquet") == "parquet"
    with pytest.raises(ValueError):
        infer_format("x.xyz")
    assert validate_source(spark, str(tmp_path))
    assert not validate_source(spark, str(tmp_path / "missing"))


def test_sql_passthrough_over_catalog(spark, sf_dir):
    register_views(spark, sf_dir)
    out = sql(spark, "SELECT count(*) AS n FROM orders WHERE o_orderstatus = 'F'")
    assert out.collect()[0]["n"] > 0


def test_content_routing_rules():
    # DAG routing (multi_source_ingestion_dag.py:272-277)
    assert route_by_content("daily_transactions") == ["structured", "archive"]
    assert route_by_content("app_events") == ["semi_structured", "archive"]
    assert route_by_content("users") == ["structured", "semi_structured", "archive"]
    assert route_by_content("misc_blob") == ["archive"]


def test_multi_target_and_loader_manager(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "id long, name string")
    results = MultiTargetLoader().load(
        df,
        [
            {"path": str(tmp_path / "t1"), "file_format": "parquet", "mode": "overwrite"},
            {"path": str(tmp_path / "t2"), "file_format": "csv", "mode": "overwrite"},
        ],
    )
    assert all(r["status"] == "success" for r in results)

    mgr = LoaderManager()
    res = mgr.route_and_load(
        df,
        {
            "zone_a": {"type": "file", "params": {"path": str(tmp_path / "za"),
                                                  "file_format": "parquet", "mode": "overwrite"}},
            "bad": {"type": "file", "params": {"path": str(tmp_path / "zb"),
                                               "file_format": "nope"}},
        },
    )
    assert res["zone_a"]["status"] == "success"
    assert res["bad"]["status"] == "failed"  # error-tolerant (V6)
    stats = mgr.get_stats()
    assert stats["total_loads"] == 2 and stats["failed"] == 1


def test_declarative_job_end_to_end(spark, sf_dir, tmp_path):
    """§3.2 lifecycle as one lazy plan: extract → clean → validate →
    filter-valid → load, mirroring the integration test flow
    (test_system_integration.py:110-194)."""
    job = ETLJob(
        source_type="parquet_table",
        source_config={"sf_dir": sf_dir, "table": "customer"},
        transformations=[
            TransformStep("cleaning"),
            TransformStep(
                "validation",
                {"rules": [
                    {"field": "c_name", "required": True, "min_length": 1},
                    {"field": "c_acctbal", "min": -1000.0, "max": 10_000_000.0},
                ]},
            ),
            TransformStep("filter_valid"),
        ],
        target_config={
            "silver": {"type": "file",
                       "params": {"path": str(tmp_path / "silver"),
                                  "file_format": "parquet", "mode": "overwrite"}},
        },
    )
    result = run_job(spark, job)
    assert result["status"] == "completed"
    out = spark.read.parquet(str(tmp_path / "silver"))
    assert out.count() > 0
    assert "_validation_errors" in out.columns and "_cleaned_at" in out.columns


def test_custom_extractor_and_transform(spark):
    reg = ExtractorRegistry()
    reg.register("inline", lambda spark, rows, **_: spark.createDataFrame(rows, "id long"))
    from multi_source_data_lake_with_etl_pipeline_spark.plans.pipeline import register_transform

    register_transform("double_id", lambda df, **p: df.withColumn("id", F.col("id") * 2))
    job = ETLJob(
        source_type="inline",
        source_config={"rows": [(1,), (2,)]},
        transformations=[TransformStep("double_id")],
        target_config={},
    )
    plan = build_plan(spark, job, reg)
    assert sorted(r["id"] for r in plan.collect()) == [2, 4]


def test_deep_merge_config():
    from multi_source_data_lake_with_etl_pipeline_spark.plans.pipeline import deep_merge

    base = {"reader": {"format": "parquet", "opts": {"a": 1, "b": 2}}, "mode": "append"}
    override = {"reader": {"opts": {"b": 9, "c": 3}}, "mode": "overwrite"}
    merged = deep_merge(base, override)
    assert merged == {
        "reader": {"format": "parquet", "opts": {"a": 1, "b": 9, "c": 3}},
        "mode": "overwrite",
    }
    assert base["reader"]["opts"] == {"a": 1, "b": 2}  # no mutation


def test_jdbc_option_mapping_and_dispatch(spark):
    """S1 federation semantics → spark.read.jdbc options (VERDICT r1
    #5). No driver jar in this container, so a fake reader captures
    what WOULD hit the JDBC source."""
    from multi_source_data_lake_with_etl_pipeline_spark.sources.jdbc import (
        build_jdbc_options,
        jdbc_extract,
    )

    opts = build_jdbc_options(
        "jdbc:postgresql://db:5432/lake", table="orders",
        where="o_totalprice > 1000", limit=50, offset=10,
        partition_column="o_orderkey", lower_bound=1, upper_bound=60000,
        num_partitions=8, user="u", password="p",
    )
    # WHERE/LIMIT/OFFSET pushed into a source-side subquery
    assert opts["dbtable"] == (
        "(SELECT * FROM orders WHERE o_totalprice > 1000 LIMIT 50 OFFSET 10) sub"
    )
    assert opts["partitionColumn"] == "o_orderkey" and opts["numPartitions"] == "8"
    assert opts["lowerBound"] == "1" and opts["upperBound"] == "60000"

    with pytest.raises(ValueError):
        build_jdbc_options("jdbc:x", table="t", query="SELECT 1")
    with pytest.raises(ValueError):
        build_jdbc_options("jdbc:x", table="t", partition_column="c")

    captured = {}

    def fake_reader(options, predicates):
        captured["options"], captured["predicates"] = options, predicates
        return spark.createDataFrame([(1,)], "id long")

    reg = ExtractorRegistry()
    out = reg.extract(
        spark, "jdbc", url="jdbc:postgresql://db/lake", table="orders",
        where="o_orderstatus = 'O'",
        predicates=["o_orderkey % 2 = 0", "o_orderkey % 2 = 1"],
        reader=fake_reader,
    )
    assert out.count() == 1
    assert captured["predicates"] == ["o_orderkey % 2 = 0", "o_orderkey % 2 = 1"]
    assert "o_orderstatus = 'O'" in captured["options"]["dbtable"]

    with pytest.raises(ValueError):  # predicates XOR range partitioning
        jdbc_extract(
            spark, "jdbc:x", table="t", predicates=["a=1"],
            partition_column="c", lower_bound=0, upper_bound=9, num_partitions=2,
            reader=fake_reader,
        )


def test_mongo_option_mapping_and_dispatch(spark):
    """S2/S8 federation semantics → mongodb-format options (VERDICT r1
    missing #1). No server/jar in this container, so a fake reader
    captures what WOULD hit the Mongo source."""
    import json

    from multi_source_data_lake_with_etl_pipeline_spark.sources.mongo import (
        build_mongo_options,
        build_pipeline,
    )

    # find-style args compose a source-side $match/$project/$limit
    opts = build_mongo_options(
        "mongodb://db:27017", "lake", "events",
        filter_dict={"event_type": "click", "value": {"$gte": 10}},
        projection=["user_id", "value"], limit=100,
        partition_field="_id", partition_size_mb=64,
    )
    stages = json.loads(opts["aggregation.pipeline"])
    assert stages == [
        {"$match": {"event_type": "click", "value": {"$gte": 10}}},
        {"$project": {"user_id": 1, "value": 1}},
        {"$limit": 100},
    ]
    assert opts["database"] == "lake" and opts["collection"] == "events"
    assert opts["partitioner.options.partition.field"] == "_id"
    assert opts["partitioner.options.partition.size"] == "64MB"

    # S8 raw pipeline passthrough, exclusive with find-style args
    raw = [{"$group": {"_id": "$status", "n": {"$sum": 1}}}]
    assert build_pipeline(pipeline=raw) == raw
    with pytest.raises(ValueError):
        build_pipeline(pipeline=raw, limit=5)

    captured = {}

    def fake_reader(options):
        captured["options"] = options
        return spark.createDataFrame([(1,)], "id long")

    reg = ExtractorRegistry()
    out = reg.extract(
        spark, "mongodb", uri="mongodb://db:27017", database="lake",
        collection="users", filter_dict={"active": True}, reader=fake_reader,
    )
    assert out.count() == 1
    assert json.loads(captured["options"]["aggregation.pipeline"]) == [
        {"$match": {"active": True}}
    ]


@pytest.fixture(scope="module")
def http_json_server():
    """Local http.server serving envelope-wrapped JSON (S6 test rig)."""
    import http.server
    import threading

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            import json as _json

            page = self.path.rstrip("/").rsplit("/", 1)[-1]
            if page == "boom":
                self.send_error(500, "boom")
                return
            body = _json.dumps(
                {"data": [{"id": int(page) * 10 + i, "name": f"rec{page}-{i}"} for i in range(3)]}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_rest_api_parallel_fetch(spark, http_json_server):
    """S6 scale path: URL-list DataFrame → mapInPandas fetch → typed
    parse; dead endpoints become error rows, not task failures."""
    from multi_source_data_lake_with_etl_pipeline_spark.sources.rest import (
        rest_api_parallel,
        unwrap_envelope,
    )

    assert unwrap_envelope({"results": [1, 2]}) == [1, 2]
    assert unwrap_envelope({"x": 1}) == [{"x": 1}]
    assert unwrap_envelope([3]) == [3]

    urls = [f"{http_json_server}/page/{i}" for i in range(4)] + [f"{http_json_server}/boom"]
    out = rest_api_parallel(spark, urls, schema="id long, name string").collect()
    good = [r for r in out if r["_fetch_error"] is None]
    bad = [r for r in out if r["_fetch_error"] is not None]
    assert len(good) == 12 and len(bad) == 1
    assert {r["id"] for r in good} == {p * 10 + i for p in range(4) for i in range(3)}
    assert "boom" in bad[0]["url"]

    # schema inference path
    inferred = rest_api_parallel(spark, urls[:2])
    assert {"id", "name"} <= set(inferred.columns)
    assert inferred.filter(F.col("id").isNotNull()).count() == 6


def test_restapi_python_datasource(spark, http_json_server):
    """S6 as a Spark Python DataSource: format('restapi') scan with one
    InputPartition per URL; error-as-row; typed parse via from_json."""
    from multi_source_data_lake_with_etl_pipeline_spark.sources.pyds import (
        parsed_records,
        register_rest_datasource,
    )

    register_rest_datasource(spark)
    urls = [f"{http_json_server}/page/{i}" for i in range(3)] + [
        f"{http_json_server}/boom"
    ]
    raw = (
        spark.read.format("restapi")
        .option("urls", ",".join(urls))
        .option("timeout", "10")
        .load()
    )
    assert raw.rdd.getNumPartitions() == 4  # one partition per URL
    typed = parsed_records(raw, "id long, name string")
    good = typed.filter(F.col("_fetch_error").isNull())
    assert good.count() == 9
    assert {r.id for r in good.collect()} == {p * 10 + i for p in range(3) for i in range(3)}
    assert typed.filter(F.col("_fetch_error").isNotNull()).count() == 1


def test_yaml_write_read_roundtrip(spark, tmp_path):
    """L6 YAML parity (reference common_utils.py:141-171)."""
    df = spark.createDataFrame([(1, "a", 1.5), (2, "b", 2.5)], "id long, name string, v double")
    path = str(tmp_path / "out.yaml")
    write_file(df, path, file_format="yaml", mode="overwrite")
    back = read_file(spark, path, file_format="yaml")
    assert sorted((r["id"], r["name"], r["v"]) for r in back.collect()) == [
        (1, "a", 1.5), (2, "b", 2.5),
    ]
    # append mode extends the document list
    write_file(spark.createDataFrame([(3, "c", 3.5)], "id long, name string, v double"),
               path, file_format="yaml", mode="append")
    assert read_file(spark, path, file_format="yaml").count() == 3


class TestTrainingShards:
    def test_write_verify_and_determinism(self, spark, tmp_path):
        from multi_source_data_lake_with_etl_pipeline_spark.sinks.shards import (
            shard_id,
            verify_shards,
            write_training_shards,
        )
        from pyspark.sql import functions as F

        df = spark.range(0, 500).selectExpr(
            "id AS doc_id", "id % 7 AS n_tokens", "concat('t', id) AS text"
        )
        m = write_training_shards(df, str(tmp_path / "sh"), 4, "doc_id", "n_tokens")
        assert m["total_rows"] == 500
        assert len(m["shards"]) == 4
        assert sum(s["tokens"] for s in m["shards"]) == sum(i % 7 for i in range(500))
        # audit passes on intact output
        assert verify_shards(spark, str(tmp_path / "sh"))["ok"]
        # shard assignment is per-row deterministic: independent of the
        # source partitioning
        a = {r.doc_id: r.s for r in df.repartition(13).select(
            "doc_id", shard_id("doc_id", 4).alias("s")).collect()}
        b = {r.doc_id: r.s for r in df.coalesce(1).select(
            "doc_id", shard_id("doc_id", 4).alias("s")).collect()}
        assert a == b

    def test_verify_detects_tamper(self, spark, tmp_path):
        import glob
        import os

        from multi_source_data_lake_with_etl_pipeline_spark.sinks.shards import (
            verify_shards,
            write_training_shards,
        )

        df = spark.range(0, 100).selectExpr("id AS doc_id", "concat('t', id) AS text")
        write_training_shards(df, str(tmp_path / "sh"), 2, "doc_id")
        # drop one data file → that shard's rows/fingerprint change
        victim = glob.glob(str(tmp_path / "sh" / "_shard=*" / "*.parquet"))[0]
        os.remove(victim)
        res = verify_shards(spark, str(tmp_path / "sh"))
        assert not res["ok"] and len(res["mismatches"]) >= 1


def test_influx_flux_builders_and_dispatch(spark):
    """S3 federation semantics → Flux strings + injectable reader
    (VERDICT r3 missing #1; reference influx_connector.py:142-189,
    229-272)."""
    import datetime as dt

    from multi_source_data_lake_with_etl_pipeline_spark.sources.influx import (
        build_fields_flux,
        build_flux_query,
        build_measurements_flux,
        influx_extract,
        influx_lake_scan,
    )
    from multi_source_data_lake_with_etl_pipeline_spark.sources.registry import (
        ExtractorRegistry,
    )

    flux = build_flux_query(
        "lake", "cpu", start="-2h", stop="now()",
        fields=["usage", "idle"], tags={"host": "h1", "dc": "eu"},
    )
    assert 'from(bucket: "lake")' in flux
    assert "range(start: -2h, stop: now())" in flux
    assert 'r._measurement == "cpu"' in flux
    assert 'r._field == "usage" or r._field == "idle"' in flux
    assert 'r.host == "h1"' in flux and 'r.dc == "eu"' in flux
    # clause order matches the reference builder: range, measurement,
    # fields, tags
    assert flux.index("range(") < flux.index("_measurement")
    assert flux.index("_measurement") < flux.index("_field")
    assert flux.index("_field") < flux.index("r.host")

    assert "schema.measurements" in build_measurements_flux("lake")
    ff = build_fields_flux("lake", "cpu")
    assert "measurementFieldKeys" in ff and '"cpu"' in ff

    # injectable reader: records -> DataFrame with unioned tag columns
    seen = {}

    def fake_reader(q):
        seen["flux"] = q
        return [
            {"time": dt.datetime(2024, 1, 1, 0, 0), "measurement": "cpu",
             "field": "usage", "value": 0.5, "host": "h1"},
            {"time": dt.datetime(2024, 1, 1, 0, 1), "measurement": "cpu",
             "field": "usage", "value": 0.7, "host": "h2"},
        ]

    df = influx_extract(
        spark, "lake", "cpu", start="-1h", fields=["usage"], reader=fake_reader
    )
    assert sorted(df.columns) == ["field", "host", "measurement", "time", "value"]
    assert df.count() == 2
    assert 'r._field == "usage"' in seen["flux"]

    # registry dispatch
    df2 = ExtractorRegistry().extract(
        spark, "influx", bucket="lake", measurement="cpu", reader=fake_reader
    )
    assert df2.count() == 2

    # without a reader and without the client lib: loud, documented
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        influx_extract(spark, "lake", "cpu")

    # lake-side compilation of the same scan semantics
    pts = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 0, 0), "cpu", "usage", 0.5, "h1"),
            (dt.datetime(2024, 1, 1, 6, 0), "cpu", "idle", 0.2, "h1"),
            (dt.datetime(2024, 1, 1, 0, 5), "mem", "usage", 0.9, "h1"),
            (dt.datetime(2024, 1, 1, 0, 6), "cpu", "usage", 0.4, "h2"),
        ],
        "time timestamp, measurement string, field string, value double, host string",
    )
    got = influx_lake_scan(
        pts, measurement="cpu", start="2024-01-01 00:00:00",
        stop="2024-01-01 01:00:00", fields=["usage"], tags={"host": "h1"},
    ).collect()
    assert len(got) == 1 and got[0]["value"] == 0.5


def test_influx_hardening(spark):
    """Round-4 review fixes: Flux quote escaping / tag-key validation,
    relative time bounds on the lake scan (the extract API's DEFAULTS),
    and all-null columns in the record lifter."""
    import datetime as dt

    import pytest as _pytest

    from multi_source_data_lake_with_etl_pipeline_spark.sources.influx import (
        build_flux_query,
        influx_lake_scan,
        records_to_df,
    )

    # a double quote in a value must not break out of the Flux string
    flux = build_flux_query('la"ke', 'c"pu', tags={"host": 'h"1'})
    assert 'from(bucket: "la\\"ke")' in flux
    assert 'r._measurement == "c\\"pu"' in flux
    assert 'r.host == "h\\"1"' in flux
    # tag keys are bare member accesses — non-identifiers are refused
    with _pytest.raises(ValueError):
        build_flux_query("lake", "cpu", tags={'h" or true or r.x == "': "v"})

    # relative bounds ('-1h'/'now()' — influx_extract's defaults) must
    # select recent rows instead of throwing/NULLing under ANSI cast
    now = dt.datetime.now()
    pts = spark.createDataFrame(
        [
            (now - dt.timedelta(minutes=5), "cpu", "usage", 1.0),
            (now - dt.timedelta(hours=3), "cpu", "usage", 2.0),
        ],
        "time timestamp, measurement string, field string, value double",
    )
    got = influx_lake_scan(pts, measurement="cpu", start="-1h", stop="now()").collect()
    assert [r["value"] for r in got] == [1.0]
    # absolute strings still work, and -7d/now() parse
    assert influx_lake_scan(pts, start="-7d").count() == 2

    # a column that is None in EVERY record must not crash inference
    df = records_to_df(
        spark,
        [
            {"time": dt.datetime(2024, 1, 1), "measurement": "cpu",
             "field": "usage", "value": None, "host": None},
            {"time": dt.datetime(2024, 1, 1), "measurement": "cpu",
             "field": "usage", "value": None, "host": None},
        ],
    )
    assert df.count() == 2
    assert dict(df.dtypes)["host"] == "string"
    # int/float mixes widen to double
    df2 = records_to_df(
        spark,
        [
            {"time": dt.datetime(2024, 1, 1), "measurement": "m",
             "field": "f", "value": 1},
            {"time": dt.datetime(2024, 1, 1), "measurement": "m",
             "field": "f", "value": 2.5},
        ],
    )
    assert dict(df2.dtypes)["value"] == "double"
    assert {r["value"] for r in df2.collect()} == {1.0, 2.5}


def test_yamlite_fallback_roundtrip_and_cross_codec(spark, tmp_path, monkeypatch):
    """The YAML surface must work WITHOUT PyYAML (VERDICT r4 missing
    #3): the flat-subset codec round-trips typed scalars, each codec
    reads the other's output for flat rows, and non-subset input fails
    loudly instead of mis-parsing."""
    import builtins
    import sys

    import yaml as real_yaml

    from multi_source_data_lake_with_etl_pipeline_spark.sources import yamlite

    rows = [
        {"id": 1, "name": "a b", "v": 1.5, "ok": True, "note": None},
        {"id": 2, "name": "needs: quoting # here", "v": -2.0, "ok": False, "note": "x"},
    ]
    # pure-codec round trip
    assert yamlite.parse(yamlite.dump_rows(rows)) == rows
    # cross-codec: PyYAML reads yamlite; yamlite reads safe_dump
    assert real_yaml.safe_load(yamlite.dump_rows(rows)) == rows
    dumped = real_yaml.safe_dump(rows, sort_keys=False, default_flow_style=False)
    assert yamlite.parse(dumped) == rows
    # non-subset input is rejected, never silently mangled
    with pytest.raises(ValueError, match="unsupported"):
        yamlite.parse("- nested:\n    deep: 1\n")
    with pytest.raises(NotImplementedError):
        yamlite.dump_rows([{"id": [1, 2]}])
    # end-to-end write/read with PyYAML made unimportable
    real_import = builtins.__import__

    def no_yaml(name, *a, **k):
        if name == "yaml":
            raise ImportError("simulated absent PyYAML")
        return real_import(name, *a, **k)

    monkeypatch.delitem(sys.modules, "yaml", raising=False)
    monkeypatch.setattr(builtins, "__import__", no_yaml)
    df = spark.createDataFrame([(1, "a", 1.5), (2, "o'b", None)], "id long, name string, v double")
    path = str(tmp_path / "fb.yaml")
    write_file(df, path, file_format="yaml", mode="overwrite")
    back = read_file(spark, path, file_format="yaml")
    assert sorted((r["id"], r["name"], r["v"]) for r in back.collect()) == [
        (1, "a", 1.5), (2, "o'b", None),
    ]


def test_jdbc_pushdown_toggle_options():
    """DSv2 pushdown toggles map to the public spark.read.jdbc option
    names; unset toggles stay absent (Spark defaults apply)."""
    from multi_source_data_lake_with_etl_pipeline_spark.sources.jdbc import (
        build_jdbc_options,
    )

    opts = build_jdbc_options(
        "jdbc:postgresql://h/db",
        table="t",
        push_down_aggregate=True,
        push_down_limit=True,
        push_down_predicate=False,
    )
    assert opts["pushDownAggregate"] == "true"
    assert opts["pushDownLimit"] == "true"
    assert opts["pushDownPredicate"] == "false"
    plain = build_jdbc_options("jdbc:postgresql://h/db", table="t")
    assert not any(k.startswith("pushDown") for k in plain)


def test_yamlite_rejects_yaml_only_escapes_with_line_context():
    """PyYAML safe_dump emits YAML-only escapes ("\\0", "\\x07", "\\e")
    for control characters inside double-quoted scalars; yamlite's JSON
    string parser cannot read those. They must be rejected as the
    standard line-numbered ValueError, never a bare JSONDecodeError."""
    import pytest

    from multi_source_data_lake_with_etl_pipeline_spark.sources import yamlite

    text = '- a: "ok"\n  b: "bell\\x07"\n'
    with pytest.raises(ValueError, match="line 2"):
        yamlite.parse(text)
    # PyYAML cross-check when present: its emission of the same row is
    # exactly what the subset rejects
    try:
        import yaml
    except ImportError:
        return
    dumped = yaml.safe_dump([{"a": "ok", "b": "bell\x07"}])
    with pytest.raises(ValueError):
        yamlite.parse(dumped)


def test_load_table_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    """Round-10 optimization: load_table pins the parquet schema per
    file identity (size+mtime) to skip footer re-inference. A rewrite
    of the file must invalidate the entry — a stale schema would
    mis-read the new bytes."""
    import os
    import time as _time

    from multi_source_data_lake_with_etl_pipeline_spark.catalog import (
        load_table,
    )

    sf = str(tmp_path)
    p = os.path.join(sf, "tbl.parquet")
    spark.createDataFrame([(1, "a")], "k long, s string").coalesce(
        1
    ).write.mode("overwrite").parquet(p)
    df1 = load_table(spark, sf, "tbl")
    assert set(df1.columns) == {"k", "s"}
    assert df1.count() == 1
    df1b = load_table(spark, sf, "tbl")  # served from the cache
    assert df1b.schema == df1.schema and df1b.count() == 1
    _time.sleep(0.01)
    spark.createDataFrame(
        [(2, "b", 3.5)], "k long, s string, x double"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df2 = load_table(spark, sf, "tbl")  # new identity -> re-inferred
    assert set(df2.columns) == {"k", "s", "x"}
    assert df2.count() == 1
