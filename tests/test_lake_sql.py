"""Round 10: SQL-text front end for lake DML/DDL — every statement
family dispatches onto the existing LakeTable methods; a pipeline run
purely via SQL strings matches its Python-API twin; parameters bind as
typed literals (injection-safe)."""

from __future__ import annotations

import datetime

import pytest

from multi_source_data_lake_with_etl_pipeline_spark.lake import LakeTable
from multi_source_data_lake_with_etl_pipeline_spark.lake_sql import (
    LakeSqlRunner,
    _bind,
    _split_top,
    lake_sql,
)


@pytest.fixture()
def runner(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
            "id long, name string, v long",
        ),
    )
    return LakeSqlRunner(spark, {"t": t}), t


class TestHelpers:
    def test_split_top_respects_quotes_and_parens(self):
        segs = _split_top(
            "a = 'x WHEN y' WHEN (b WHEN c) WHEN d", "WHEN"
        )
        assert segs == ["a = 'x WHEN y' ", " (b WHEN c) ", " d"]

    def test_bind_types_and_escaping(self):
        out = _bind(
            "a = :s AND b = :n AND c = :f AND d = :none AND e = :dt",
            {
                "s": "o'brien",
                "n": 7,
                "f": 1.5,
                "none": None,
                "dt": datetime.date(2024, 6, 1),
            },
        )
        assert "'o''brien'" in out and " 7 " in out and "1.5" in out
        assert "NULL" in out and "DATE '2024-06-01'" in out

    def test_bind_skips_markers_inside_strings(self):
        assert _bind("a = ':x' AND b = :y", {"y": 1}) == "a = ':x' AND b = 1"

    def test_bind_unknown_and_unused_raise(self):
        with pytest.raises(KeyError):
            _bind("a = :missing", {"other": 1})
        with pytest.raises(ValueError, match="never referenced"):
            _bind("a = :x", {"x": 1, "stray": 2})


class TestStatements:
    def test_select_with_params(self, runner):
        r, t = runner
        df = r.sql("SELECT name FROM t WHERE v > :lo ORDER BY name", {"lo": 15})
        assert [x["name"] for x in df.collect()] == ["b", "c"]

    def test_update_delete(self, runner):
        r, t = runner
        res = r.sql("UPDATE t SET v = v + :bump WHERE id = :id", {"bump": 5, "id": 2})
        assert res["updated"] == 1
        res = r.sql("DELETE FROM t WHERE name = :n", {"n": "c"})
        assert res["deleted"] == 1
        got = {x["id"]: x["v"] for x in t.read().collect()}
        assert got == {1: 10, 2: 25}

    def test_injection_value_stays_data(self, runner):
        r, t = runner
        # a classic injection payload arrives as a VALUE — bound as a
        # string literal it matches nothing instead of everything
        res = r.sql(
            "DELETE FROM t WHERE name = :n", {"n": "x' OR '1'='1"}
        )
        assert res["deleted"] == 0
        assert t.read().count() == 3

    def test_merge_sql_matches_python_twin(self, spark, tmp_path):
        mk = lambda p: LakeTable.create(
            spark, str(tmp_path / p),
            spark.createDataFrame(
                [(1, 10), (2, 20)], "k long, v long"
            ),
        )
        t_sql, t_py = mk("sql"), mk("py")
        src = spark.createDataFrame(
            [(2, 200), (3, 300)], "k long, v long"
        )
        src.createOrReplaceTempView("updates_view")
        LakeSqlRunner(spark, {"t": t_sql}).sql(
            "MERGE INTO t AS tgt USING updates_view AS src "
            "ON tgt.k = src.k "
            "WHEN MATCHED THEN UPDATE SET v = src.v "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)"
        )
        t_py.merge_into(
            src, "tgt.k = src.k",
            [
                {"when": "matched", "action": "update", "set": {"v": "src.v"}},
                {
                    "when": "not_matched",
                    "action": "insert",
                    "values": {"k": "src.k", "v": "src.v"},
                },
            ],
        )
        assert sorted(map(tuple, t_sql.read().collect())) == sorted(
            map(tuple, t_py.read().collect())
        )

    def test_merge_subquery_source_and_clause_conditions(self, runner):
        r, t = runner
        r.sql(
            "MERGE INTO t USING (SELECT id, v * 2 AS v2 FROM t) AS src "
            "ON tgt.id = src.id "
            "WHEN MATCHED AND src.v2 > :min THEN UPDATE SET v = src.v2 "
            "WHEN MATCHED THEN DELETE",
            {"min": 25},
        )
        got = {x["id"]: x["v"] for x in t.read().collect()}
        assert got == {2: 40, 3: 60}  # id=1 (v2=20 <= 25) deleted

    def test_merge_wrong_alias_rejected(self, runner):
        r, _ = runner
        with pytest.raises(ValueError, match="alias must be"):
            r.sql(
                "MERGE INTO t AS target USING t AS src ON 1=1 "
                "WHEN MATCHED THEN DELETE"
            )

    def test_merge_update_set_star_on_bucketed_table(self, spark, tmp_path):
        """UPDATE SET * takes the source's columns but recomputes the
        generated bucket column, which the source does not carry."""
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            spark.range(0, 40).selectExpr("id AS k", "id * 3 AS v"),
            bucket_by=("k", 4), optimized_write=True,
        )
        spark.createDataFrame(
            [(5, -1), (17, -2), (900, -3)], "k long, v long"
        ).createOrReplaceTempView("upd")
        LakeSqlRunner(spark, {"t": t}).sql(
            "MERGE INTO t AS tgt USING upd AS src ON tgt.k = src.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        got = t.read()
        assert got.count() == 41
        assert {r["k"]: r["v"] for r in got.filter("v < 0").collect()} == {
            5: -1, 17: -2, 900: -3,
        }
        assert got.filter("k_bucket <> pmod(xxhash64(k), 4)").count() == 0

    def test_alter_constraint_lifecycle(self, runner, spark):
        r, t = runner
        r.sql("ALTER TABLE t ADD CONSTRAINT v_pos CHECK (v > 0)")
        assert "v_pos" in t.constraints()
        with pytest.raises(Exception):
            t.append(spark.createDataFrame([(9, "x", -5)], "id long, name string, v long"))
        r.sql("ALTER TABLE t DROP CONSTRAINT v_pos")
        assert t.constraints() == {}

    def test_alter_rename_drop_column(self, runner):
        r, t = runner
        r.sql("ALTER TABLE t RENAME COLUMN v TO val")
        assert "val" in [f.name for f in t.read().schema.fields]
        r.sql("ALTER TABLE t DROP COLUMN val")
        assert "val" not in [f.name for f in t.read().schema.fields]

    def test_tblproperties_and_defaults(self, runner):
        r, t = runner
        r.sql("ALTER TABLE t SET TBLPROPERTIES ('owner' = 'me', 'x' = '1')")
        assert t.props()["owner"] == "me"
        r.sql("ALTER TABLE t UNSET TBLPROPERTIES ('x')")
        assert "x" not in t.props()
        with pytest.raises(ValueError, match="engine-owned"):
            r.sql("ALTER TABLE t SET TBLPROPERTIES ('constraint.evil' = '1=1')")
        r.sql("ALTER TABLE t ALTER COLUMN v SET DEFAULT 99")
        r, t2 = r, t  # defaults materialize on omission
        t.append(t.spark.createDataFrame([(7, "g")], "id long, name string"))
        assert {x["id"]: x["v"] for x in t.read().collect()}[7] == 99
        r.sql("ALTER TABLE t ALTER COLUMN v DROP DEFAULT")

    def test_optimize_vacuum_restore_describe(self, runner):
        r, t = runner
        v0 = t.latest_version()
        t.append(t.spark.createDataFrame([(8, "h", 80)], "id long, name string, v long"))
        r.sql("OPTIMIZE t")
        n = r.sql("VACUUM t RETAIN 9999 HOURS DRY RUN")
        assert isinstance(n, int)
        hist = r.sql("DESCRIBE HISTORY t")
        ops = [x["operation"] for x in hist.collect()]
        assert ops[0] == "compact" and "create" in ops
        r.sql(f"RESTORE TABLE t TO VERSION AS OF {v0}")
        assert t.read().count() == 3
        det = r.sql("DESCRIBE DETAIL t").collect()
        assert len(det) == 1

    def test_restore_to_timestamp_sql(self, runner):
        import json, os

        r, t = runner
        # pin commit 0 time, append, pin later, restore by wall clock
        p = os.path.join(t._log_dir, f"{0:020d}.json")
        rec = json.load(open(p)); rec["ts"] = 1000.0; json.dump(rec, open(p, "w"))
        t.append(t.spark.createDataFrame([(9, "i", 90)], "id long, name string, v long"))
        p = os.path.join(t._log_dir, f"{1:020d}.json")
        rec = json.load(open(p)); rec["ts"] = 2000.0; json.dump(rec, open(p, "w"))
        r.sql(
            "RESTORE t TO TIMESTAMP AS OF "
            f"'{datetime.datetime.fromtimestamp(1500.0, tz=datetime.timezone.utc).isoformat()}'"
        )
        assert t.read().count() == 3

    def test_unknown_table_and_statement(self, runner, spark):
        r, _ = runner
        with pytest.raises(ValueError, match="unknown table"):
            r.sql("DELETE FROM ghost WHERE 1=1")
        with pytest.raises(ValueError, match="unsupported statement"):
            r.sql("TRUNCATE TABLE t")

    def test_one_shot_helper(self, spark, tmp_path):
        t = LakeTable.create(
            spark, str(tmp_path / "q"),
            spark.createDataFrame([(1, 5)], "k long, v long"),
        )
        df = lake_sql(spark, "SELECT sum(v) AS s FROM q", {"q": t})
        assert df.collect()[0]["s"] == 5


class TestRound10bStatements:
    """INSERT / CREATE TABLE / SHOW / AS OF-in-SELECT extensions."""

    def test_insert_values_and_select(self, runner, spark):
        r, t = runner
        res = r.sql("INSERT INTO t VALUES (10, 'j', 100), (11, 'k', 110)")
        assert isinstance(res, int)
        assert t.read().count() == 5
        r.sql(
            "INSERT INTO t SELECT id + :off, concat(name, '_c'), v "
            "FROM t WHERE id = 1",
            {"off": 100},
        )
        got = {x["id"]: x["name"] for x in t.read().collect()}
        assert got[101] == "a_c"

    def test_insert_column_list_positional(self, runner, spark):
        r, t = runner
        r.sql("INSERT INTO t (v, id, name) VALUES (990, 99, 'z')")
        row = [x for x in t.read().collect() if x["id"] == 99][0]
        assert (row["v"], row["name"]) == (990, "z")
        with pytest.raises(ValueError, match="count mismatch"):
            r.sql("INSERT INTO t (id, name) VALUES (1, 'a', 3)")

    def test_insert_overwrite(self, runner):
        r, t = runner
        r.sql("INSERT OVERWRITE t VALUES (7, 'only', 70)")
        assert [tuple(x) for x in t.read().collect()] == [(7, "only", 70)]

    def test_create_table_and_ctas(self, spark, tmp_path):
        r = LakeSqlRunner(spark, {}, base_dir=str(tmp_path))
        t = r.sql(
            "CREATE TABLE logs (day STRING, msg STRING, n BIGINT) "
            "PARTITIONED BY (day) TBLPROPERTIES ('owner' = 'ops')"
        )
        assert t.partition_columns() == ["day"]
        assert t.props()["owner"] == "ops"
        r.sql("INSERT INTO logs VALUES ('d1', 'hello', 1), ('d2', 'bye', 2)")
        assert r.sql("SELECT count(*) AS n FROM logs").collect()[0]["n"] == 2
        c = r.sql(
            "CREATE TABLE agg LOCATION '%s' AS "
            "SELECT day, sum(n) AS total FROM logs GROUP BY day"
            % (tmp_path / "agg_loc")
        )
        assert sorted(tuple(x) for x in c.read().collect()) == [
            ("d1", 1), ("d2", 2),
        ]
        with pytest.raises(ValueError, match="already registered"):
            r.sql("CREATE TABLE logs (a BIGINT)")

    def test_show_partitions_and_tblproperties(self, spark, tmp_path):
        r = LakeSqlRunner(spark, {}, base_dir=str(tmp_path))
        r.sql("CREATE TABLE p (day STRING, n BIGINT) PARTITIONED BY (day)")
        r.sql("INSERT INTO p VALUES ('a', 1), ('b', 2)")
        parts = sorted(x["partition"] for x in r.sql("SHOW PARTITIONS p").collect())
        assert parts == ['{"day": "a"}', '{"day": "b"}']
        r.sql("ALTER TABLE p SET TBLPROPERTIES ('x' = '1')")
        kv = {x["key"]: x["value"] for x in r.sql("SHOW TBLPROPERTIES p").collect()}
        assert kv["x"] == "1"

    def test_select_version_and_timestamp_as_of(self, runner, spark):
        import json, os

        r, t = runner
        v0 = t.latest_version()
        r.sql("INSERT INTO t VALUES (50, 'new', 500)")
        n_now = r.sql("SELECT count(*) AS n FROM t").collect()[0]["n"]
        n_v0 = r.sql(
            f"SELECT count(*) AS n FROM t VERSION AS OF {v0}"
        ).collect()[0]["n"]
        assert (n_v0, n_now) == (3, 4)
        # timestamp form: pin commit times, read between them
        p = os.path.join(t._log_dir, f"{v0:020d}.json")
        rec = json.load(open(p)); rec["ts"] = 1000.0; json.dump(rec, open(p, "w"))
        p = os.path.join(t._log_dir, f"{v0 + 1:020d}.json")
        rec = json.load(open(p)); rec["ts"] = 2000.0; json.dump(rec, open(p, "w"))
        n_ts = r.sql(
            "SELECT count(*) AS n FROM t TIMESTAMP AS OF '1970-01-01T00:25:00'"
        ).collect()[0]["n"]
        assert n_ts == 3
        # a string literal containing the pattern is NOT rewritten
        row = r.sql(
            "SELECT 't VERSION AS OF 0' AS s FROM t LIMIT 1"
        ).collect()[0]
        assert row["s"] == "t VERSION AS OF 0"

    def test_insert_into_identity_table_omits_engine_columns(
        self, spark, tmp_path
    ):
        t = LakeTable.create(
            spark, str(tmp_path / "idt"),
            spark.createDataFrame([("a",)], "name string"),
            identity_columns={"rid": (1, 1)},
        )
        r = LakeSqlRunner(spark, {"idt": t})
        r.sql("INSERT INTO idt VALUES ('b'), ('c')")  # rid engine-assigned
        rows = {x["name"]: x["rid"] for x in t.read().collect()}
        assert len(set(rows.values())) == 3


class TestDdlColumnOptions:
    """ADD COLUMN + CREATE TABLE per-column options (round 10b)."""

    def test_add_column_plain_and_default(self, runner, spark):
        r, t = runner
        r.sql("ALTER TABLE t ADD COLUMN note STRING")
        assert [f.name for f in t.read().schema.fields][-1] == "note"
        # existing rows read NULL; no backfill
        assert all(x["note"] is None for x in t.read().collect())
        r.sql("ALTER TABLE t ADD COLUMN score BIGINT DEFAULT 5")
        t.append(
            spark.createDataFrame([(9, "x", 90)], "id long, name string, v long")
        )
        rows = {x["id"]: (x["note"], x["score"]) for x in t.read().collect()}
        assert rows[9] == (None, 5)  # default fills the omitted column
        assert rows[1] == (None, None)  # never a backfill
        with pytest.raises(ValueError, match="already exists"):
            r.sql("ALTER TABLE t ADD COLUMN note STRING")

    def test_add_column_generated_via_sql(self, runner, spark):
        r, t = runner
        r.sql("ALTER TABLE t ADD COLUMN v2 BIGINT GENERATED ALWAYS AS (v * 2)")
        t.append(
            spark.createDataFrame([(9, "x", 90)], "id long, name string, v long")
        )
        rows = {x["id"]: x["v2"] for x in t.read().collect()}
        assert rows[9] == 180
        assert rows[1] == 20  # pre-birth rows compute on read

    def test_readd_dropped_name_gets_fresh_physical(self, runner, spark):
        r, t = runner
        r.sql("ALTER TABLE t DROP COLUMN v")
        r.sql("ALTER TABLE t ADD COLUMN v BIGINT")
        # dropped bytes must NOT resurrect
        assert all(x["v"] is None for x in t.read().collect())

    def test_create_table_full_column_options(self, spark, tmp_path):
        r = LakeSqlRunner(spark, {}, base_dir=str(tmp_path))
        t = r.sql(
            "CREATE TABLE ev ("
            "  rid BIGINT GENERATED ALWAYS AS IDENTITY "
            "    (START WITH 100 INCREMENT BY 10),"
            "  sid BIGINT GENERATED BY DEFAULT AS IDENTITY,"
            "  k BIGINT NOT NULL,"
            "  region STRING DEFAULT 'emea',"
            "  v BIGINT,"
            "  v2 BIGINT GENERATED ALWAYS AS (v * 2)"
            ")"
        )
        assert "k_not_null" in t.constraints()
        r.sql("INSERT INTO ev (k, v) VALUES (1, 10), (2, 20)")
        rows = sorted(t.read().collect(), key=lambda x: x["k"])
        assert [x["region"] for x in rows] == ["emea", "emea"]
        assert [x["v2"] for x in rows] == [20, 40]
        rids = [x["rid"] for x in rows]
        assert len(set(rids)) == 2 and all(x >= 100 for x in rids)
        assert all((x - 100) % 10 == 0 for x in rids)  # step honored
        sids = [x["sid"] for x in rows]
        assert len(set(sids)) == 2
        # NOT NULL enforced
        with pytest.raises(Exception):
            r.sql("INSERT INTO ev (k, v) VALUES (NULL, 5)")
        # BY DEFAULT identity accepts explicit values through append
        t.append(
            spark.createDataFrame(
                [(777, 3, "apac", 30)], "sid long, k long, region string, v long"
            )
        )
        got = {x["k"]: x["sid"] for x in t.read().collect()}
        assert got[3] == 777
        # ALWAYS identity refuses supplied values
        with pytest.raises(ValueError, match="ALWAYS AS IDENTITY"):
            t.append(
                spark.createDataFrame(
                    [(1, 4, "x", 40)], "rid long, k long, region string, v long"
                )
            )

    def test_create_table_bad_options_loud(self, spark, tmp_path):
        r = LakeSqlRunner(spark, {}, base_dir=str(tmp_path))
        with pytest.raises(ValueError, match="must be BIGINT"):
            r.sql("CREATE TABLE x (a STRING GENERATED ALWAYS AS IDENTITY, b BIGINT)")
        with pytest.raises(ValueError, match="plain data column"):
            r.sql("CREATE TABLE y (a BIGINT GENERATED ALWAYS AS IDENTITY)")
        with pytest.raises(ValueError, match="unsupported option"):
            r.sql("CREATE TABLE z (a BIGINT SPARKLY, b BIGINT)")
