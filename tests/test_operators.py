"""Operator-fidelity unit tests mirroring the reference suite's
exact-value assertions (SURVEY.md §5.1: test_etl_pipeline.py:98-146,
210-287; common_utils tests :292-341)."""

from __future__ import annotations

from pyspark.sql import functions as F

from multi_source_data_lake_with_etl_pipeline_spark.functions import scalar as S
from multi_source_data_lake_with_etl_pipeline_spark.operators import (
    cleaning,
    dedup,
    normalization,
    quality,
    validation,
)


def _one(df, col):
    return df.select(col).collect()[0][0]


def test_cleaning_reference_triples(spark):
    # test_etl_pipeline.py:98-107: '  John Doe  '→'John Doe',
    # 'JOHN@EXAMPLE.COM'→'john@example.com', status title-cased.
    df = spark.createDataFrame(
        [("  John Doe  ", "JOHN@EXAMPLE.COM", "active", "")],
        "name string, email string, status string, note string",
    )
    out = cleaning.clean(df).collect()[0]
    assert out["name"] == "John Doe"
    assert out["email"] == "john@example.com"
    assert out["status"] == "Active"
    assert out["note"] is None  # ''→null (F6)
    assert "_cleaned_at" in cleaning.clean(df).columns


def test_phone_normalization(spark):
    # data_transformers.py:72-83 cases
    df = spark.createDataFrame(
        [("5551234567",), ("1-555-123-4567",), ("(555) 123-4567",), ("12345",)],
        "phone string",
    )
    got = [r[0] for r in df.select(S.normalize_phone(F.col("phone"))).collect()]
    assert got == [
        "(555) 123-4567",
        "+1 (555) 123-4567",
        "(555) 123-4567",
        "12345",  # passthrough
    ]


def test_email_and_url_predicates(spark):
    df = spark.createDataFrame(
        [("john@test.com", "https://x.com/a"), ("invalid-email", "notaurl")],
        "e string, u string",
    )
    rows = df.select(S.is_email(F.col("e")), S.is_url(F.col("u"))).collect()
    assert [tuple(r) for r in rows] == [(True, True), (False, False)]


def test_multi_format_date_parse(spark):
    df = spark.createDataFrame(
        [("2024-01-15",), ("01/15/2024",), ("2024-01-15T10:30:00",), ("nope",)],
        "d string",
    )
    got = [r[0] for r in df.select(S.parse_date_multi(F.col("d"))).collect()]
    assert got[0].day == 15 and got[1].month == 1 and got[2].hour == 10
    assert got[3] is None


def test_detect_semantic_type(spark):
    # common_utils tests (test_etl_pipeline.py:316-325)
    cases = [
        ("123", "integer"),
        ("12.5", "float"),
        ("true", "boolean"),
        ("john@test.com", "email"),
        ("2024-01-15", "date"),
        ("https://example.com/x", "url"),
        ("hello world", "string"),
        (None, "null"),
    ]
    df = spark.createDataFrame([(v,) for v, _ in cases], "v string")
    got = [r[0] for r in df.select(S.detect_semantic_type(F.col("v"))).collect()]
    assert got == [t for _, t in cases]


def test_validation_flags_kept_not_dropped(spark):
    # test_etl_pipeline.py:109-128: invalid records kept with flags
    df = spark.createDataFrame(
        [("John", "john@test.com", 30), ("", "bad-email", 200)],
        "name string, email string, age long",
    )
    rules = [
        validation.FieldRule("name", required=True, min_length=1),
        validation.FieldRule("email", required=True, type="email"),
        validation.FieldRule("age", type="integer", min=0, max=150),
    ]
    out = validation.validate(df, rules).collect()
    assert out[0]["_is_valid"] and out[0]["_validation_errors"] == []
    assert not out[1]["_is_valid"]
    assert len(out[1]["_validation_errors"]) == 3  # missing name, bad email, age>150
    assert validation.filter_valid(validation.validate(df, rules)).count() == 1


def test_business_rules(spark):
    df = spark.createDataFrame(
        [(10.0, 5.0), (3.0, 8.0), (2000000.0, 1.0)], "amount double, fee double"
    )
    rules = [
        validation.BusinessRule("amount_range", "range", field="amount", min=0, max=1_000_000),
        validation.BusinessRule(
            "amount_gt_fee", "relationship", field1="amount", field2="fee",
            operator="greater_than",
        ),
    ]
    row = validation.validate_business_rules(df, rules).collect()[0]
    assert row["amount_range"] == 1 and row["amount_gt_fee"] == 1
    assert row["_record_count"] == 3


def test_quality_report_warnings(spark):
    # test_etl_pipeline.py:240-266: duplicates + nulls drive warnings
    df = spark.createDataFrame(
        [(1, None, 7.0), (1, None, 7.0), (2, None, 7.0)],
        "id long, missing string, const double",
    )
    rep = quality.quality_report(
        df, {"max_null_percentage": 0.4, "max_duplicate_percentage": 0.1}
    )
    w = " ".join(rep["warnings"])
    assert "missing" in w and "Duplicate rate" in w and "zero variance" in w
    assert rep["is_valid"]  # warnings never fail (data_validators.py:193)
    assert rep["metrics"]["total_records"] == 3


def test_validation_pipeline_summary(spark):
    df = spark.createDataFrame([(1,)], "id long")
    pipe = quality.ValidationPipeline(
        {"quality": lambda d: quality.quality_report(d), "boom": lambda d: 1 / 0}
    )
    results = pipe.validate(df)
    summary = quality.ValidationPipeline.get_summary(results)
    assert summary["total_validators"] == 2
    assert not summary["overall_valid"]  # boom failed
    assert results["boom"].errors


def test_dedup_keep_last(spark):
    # common_utils.py:204-226 keep='last' semantics with explicit order
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)], "k long, v string, ts long"
    )
    out = dedup.deduplicate(df, ["k"], keep="last", order_col="ts")
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "b", 2: "c"}
    assert dedup.deduplicate(df, ["k"]).count() == 2


def test_record_hash_equality(spark):
    # test_etl_pipeline.py:292-314: same fields ⇒ same hash, field-order
    # independent (we sort in with_record_hash)
    df = spark.createDataFrame(
        [("a@x.com", "John"), ("a@x.com", "John"), ("b@x.com", "Jane")],
        "email string, name string",
    )
    hashes = [r[0] for r in dedup.with_record_hash(df, ["name", "email"]).select("_record_hash").collect()]
    assert hashes[0] == hashes[1] != hashes[2]
    groups = dedup.find_duplicates(df, ["email", "name"]).collect()
    assert len(groups) == 1 and groups[0]["dup_count"] == 2


def test_normalize_schema_standard_renames(spark):
    # data_transformers.py:211-218
    df = spark.createDataFrame([(1, "x", "p")], "id long, name string, custom string")
    out = normalization.normalize_schema(df, {"custom": "custom_field"})
    assert set(out.columns) == {"record_id", "full_name", "custom_field"}


def test_coerce_types_error_tolerant(spark):
    # V6: bad value → null, stage survives (data_transformers.py:303-308)
    df = spark.createDataFrame([("30",), ("abc",)], "age string")
    got = [r[0] for r in normalization.coerce_types(df, {"age": "long"}).collect()]
    assert got == [30, None]


def test_nan_to_null(spark):
    df = spark.createDataFrame([(float("nan"),), (1.5,)], "v double")
    got = [r[0] for r in cleaning.nan_to_null(df).collect()]
    assert got == [None, 1.5]


def test_psi_drift_zero_for_identical_and_positive_for_shifted(spark):
    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        psi_drift,
    )

    a = spark.range(0, 1000).select((F.col("id") % 100 * 10.0).alias("v"))
    same = psi_drift(a, a, "v", bucket_width=100, n_buckets=10).first()
    assert same.psi == 0.0 and same.n_buckets_compared == 10
    shifted = spark.range(0, 1000).select(
        ((F.col("id") % 100) * 10.0 + 300).alias("v")
    )
    drift = psi_drift(a, shifted, "v", bucket_width=100, n_buckets=10).first()
    assert drift.psi > 0.1


class TestCountMinSketch:
    def test_cms_exact_when_no_collisions(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.sketches import (
            cms_build,
            cms_estimate,
        )

        df = spark.createDataFrame(
            [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "term string"
        )
        cms = cms_build(df, "term", depth=4, width=4096)
        terms = df.select("term").distinct()
        est = {r.term: r.cms_estimate for r in cms_estimate(cms, terms, "term", width=4096).collect()}
        # width >> distinct terms: no collisions, estimates are exact
        assert est == {"a": 5, "b": 3, "c": 1}

    def test_cms_merge_equals_union_build(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.sketches import (
            cms_build,
            cms_merge,
        )

        d1 = spark.createDataFrame([("a",)] * 2 + [("b",)], "term string")
        d2 = spark.createDataFrame([("a",)] * 3 + [("c",)], "term string")
        merged = cms_merge(cms_build(d1, "term"), cms_build(d2, "term"))
        direct = cms_build(d1.unionByName(d2), "term")
        m = {(r.row, r.bucket): r.cnt for r in merged.collect()}
        d = {(r.row, r.bucket): r.cnt for r in direct.collect()}
        assert m == d

    def test_cms_never_underestimates(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.sketches import (
            cms_build,
            cms_estimate,
        )
        from pyspark.sql import functions as F

        # tiny width forces collisions → overestimates only
        df = spark.range(0, 500).select(
            F.concat(F.lit("t"), (F.col("id") % 50).cast("string")).alias("term")
        )
        cms = cms_build(df, "term", depth=2, width=8)
        true = df.groupBy("term").count()
        est = cms_estimate(cms, true.select("term"), "term", depth=2, width=8)
        j = true.join(est, "term")
        assert j.filter(F.col("cms_estimate") < F.col("count")).count() == 0
        assert j.filter(F.col("cms_estimate") > F.col("count")).count() > 0


class TestHllSketch:
    def test_rollup_estimate_equals_direct(self, spark):
        """Union of per-group sketches must estimate exactly like one
        sketch over the whole input (mergeability — the property that
        makes distinct-count cubes possible)."""
        from multi_source_data_lake_with_etl_pipeline_spark.operators.sketches import (
            hll_estimates,
            hll_profile,
            hll_rollup,
        )
        from pyspark.sql import functions as F

        df = spark.range(0, 2000).select(
            (F.col("id") % 4).alias("g"), (F.col("id") % 700).alias("v")
        )
        per = hll_profile(df, ["g"], "v")
        merged = hll_estimates(hll_rollup(per, []), "est").first().est
        direct = hll_estimates(
            df.groupBy().agg(F.hll_sketch_agg("v", F.lit(14)).alias("hll")), "est"
        ).first().est
        assert merged == direct

    def test_estimates_near_exact(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.sketches import (
            hll_estimates,
            hll_profile,
        )
        from pyspark.sql import functions as F

        df = spark.range(0, 3000).select(
            (F.col("id") % 2).alias("g"), F.col("id").alias("v")
        )
        got = {
            r.g: r.approx_distinct
            for r in hll_estimates(hll_profile(df, ["g"], "v")).collect()
        }
        for g, exact in [(0, 1500), (1, 1500)]:
            assert abs(got[g] - exact) <= 0.05 * exact


class TestResampleFfill:
    def test_gaps_filled_with_last_seen(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.timeseries import (
            resample_ffill,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [
                (1, "2024-01-01 00:10:00", 5.0),
                (1, "2024-01-01 00:50:00", 7.0),   # same hour → max wins
                (1, "2024-01-01 03:20:00", 9.0),   # 2-hour gap
                (2, "2024-01-01 01:00:00", 1.0),
            ],
            "user_id long, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            (r.user_id, str(r.slot)): r.value_filled
            for r in resample_ffill(df, "ts", "user_id", "value").collect()
        }
        assert out == {
            (1, "2024-01-01 00:00:00"): 7.0,
            (1, "2024-01-01 01:00:00"): 7.0,  # gap → last seen
            (1, "2024-01-01 02:00:00"): 7.0,
            (1, "2024-01-01 03:00:00"): 9.0,
            (2, "2024-01-01 01:00:00"): 1.0,
        }


class TestResampleInterpolate:
    def test_linear_blend_and_edges(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.timeseries import (
            resample_interpolate,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [
                (1, "2024-01-01 01:00:00", 10.0),
                (1, "2024-01-01 04:00:00", 40.0),  # 2 empty slots between
            ],
            "user_id long, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        out = {
            str(r.slot): r.value_interp
            for r in resample_interpolate(df, "ts", "user_id", "value").collect()
        }
        assert out == {
            "2024-01-01 01:00:00": 10.0,
            "2024-01-01 02:00:00": 20.0,
            "2024-01-01 03:00:00": 30.0,
            "2024-01-01 04:00:00": 40.0,
        }


class TestSCD2:
    """scd2_build run-length collapse + scd2_apply batch merge; applying
    snapshots sequentially must equal building from the whole history."""

    def _hist(self, spark):
        from pyspark.sql import functions as F

        rows = [
            # key, ts, state
            ("A", 1, "x"), ("A", 2, "x"), ("A", 3, "y"),
            ("B", 1, "p"), ("B", 2, "q"), ("B", 3, "q"),
            ("C", 2, "m"), ("C", 3, "m"),
        ]
        return spark.createDataFrame(rows, "k string, ts long, state string")

    def test_build_collapses_runs(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.scd import scd2_build

        out = scd2_build(self._hist(spark), "k", "ts", ["state"]).collect()
        got = {(r.k, r.state, r.valid_from, r.valid_to, r.is_current) for r in out}
        assert got == {
            ("A", "x", 1, 3, False),
            ("A", "y", 3, None, True),
            ("B", "p", 1, 2, False),
            ("B", "q", 2, None, True),
            ("C", "m", 2, None, True),
        }

    def test_apply_equals_build(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.scd import (
            scd2_apply,
            scd2_build,
        )

        hist = self._hist(spark)
        dim = scd2_build(hist.filter("ts = 1"), "k", "ts", ["state"])
        for t in (2, 3):
            dim = scd2_apply(
                dim, hist.filter(f"ts = {t}"), "k", "ts", ["state"]
            ).localCheckpoint(eager=True)
        expect = scd2_build(hist, "k", "ts", ["state"])
        cols = ["k", "state", "valid_from", "valid_to", "is_current"]
        assert sorted(map(tuple, dim.select(cols).collect())) == sorted(
            map(tuple, expect.select(cols).collect())
        )

    def test_apply_null_attr_no_phantom_version(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.scd import (
            scd2_apply,
            scd2_build,
        )

        h = spark.createDataFrame(
            [("A", 1, None), ("A", 2, None)], "k string, ts long, state string"
        )
        dim = scd2_build(h.filter("ts = 1"), "k", "ts", ["state"])
        dim = scd2_apply(dim, h.filter("ts = 2"), "k", "ts", ["state"])
        assert dim.count() == 1  # NULL == NULL: no new version


class TestFuzzyJoin:
    def test_blocked_levenshtein(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.joins import fuzzy_join
        from pyspark.sql import functions as F

        a = spark.createDataFrame(
            [(1, "smith", "uk"), (2, "smyth", "uk"), (3, "smith", "fr")],
            "id_1 long, n1 string, blk string",
        )
        b = spark.createDataFrame(
            [(11, "smith", "uk"), (12, "smithers", "uk"), (13, "smith", "fr")],
            "id_2 long, n2 string, blk string",
        )
        got = {
            (r.id_1, r.id_2, r.edit_dist)
            for r in fuzzy_join(a, b, "blk", "n1", "n2", max_dist=1).collect()
        }
        # cross-block (3,11) never pairs; "smithers" fails the length band
        assert got == {(1, 11, 0), (2, 11, 1), (3, 13, 0)}

    def test_neighborhood_equals_block(self, spark):
        """FastSS deletion-neighborhood path must equal the exhaustive
        blocked path — same pairs, same distances — across insert /
        delete / substitute / identical / unrelated cases."""
        from multi_source_data_lake_with_etl_pipeline_spark.operators.joins import fuzzy_join

        names = [
            "customer_017",   # base
            "customer_917",   # substitution (dist 1)
            "custmer_017",    # deletion (dist 1)
            "customer_0017",  # insertion (dist 1)
            "customer_017",   # identical (dist 0)
            "customer_998",   # dist 2 from base — must NOT pair with it
            "totally_other",  # unrelated
            "",               # empty string edge case
            "x",              # dist 1 from "" via one insert
        ]
        a = spark.createDataFrame(
            [(i, s, "blk") for i, s in enumerate(names)],
            "id_1 long, n1 string, blk string",
        )
        b = spark.createDataFrame(
            [(100 + i, s, "blk") for i, s in enumerate(names)],
            "id_2 long, n2 string, blk string",
        )

        def run(method):
            return {
                (r.id_1, r.id_2, r.edit_dist)
                for r in fuzzy_join(
                    a, b, "blk", "n1", "n2", max_dist=1, method=method
                ).collect()
            }

        fast, exhaustive = run("neighborhood"), run("block")
        assert fast == exhaustive
        assert (0, 101, 1) in fast and (0, 105, 1) not in fast
        assert (7, 108, 1) in fast  # "" vs "x"


class TestSortedNeighborhood:
    def _df(self, spark):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            [(i, chr(ord("a") + i)) for i in range(5)], "id long, k string"
        ).select("id", "k", (F.col("id") % 2).alias("p"))

    def test_window_pairs(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.joins import (
            sorted_neighborhood_pairs,
        )

        got = {
            (r.id_1, r.id_2)
            for r in sorted_neighborhood_pairs(
                self._df(spark), "k", window=3, carry=["id"]
            ).collect()
        }
        assert got == {(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)}

    def test_partitioned_windows_never_cross(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.joins import (
            sorted_neighborhood_pairs,
        )

        got = {
            (r.id_1, r.id_2)
            for r in sorted_neighborhood_pairs(
                self._df(spark), "k", window=2, partition_by="p", carry=["id"]
            ).collect()
        }
        assert got == {(0, 2), (2, 4), (1, 3)}  # evens chain, odds chain

    def test_window_leq_one_is_empty_with_schema(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.joins import (
            sorted_neighborhood_pairs,
        )

        out = sorted_neighborhood_pairs(
            self._df(spark), "k", window=1, carry=["id"]
        )
        assert out is not None
        assert out.columns == ["id_1", "id_2"]
        assert out.count() == 0


class TestKsDrift:
    def test_separated_and_identical(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import ks_drift

        a = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
        b = spark.createDataFrame([(4.0,), (5.0,), (6.0,)], "v double")
        r = ks_drift(a, b, "v").first()
        assert (r.n_a, r.n_b, r.ks_scaled, r.ks) == (3, 3, 9, 1.0)
        same = ks_drift(a, a, "v").first()
        assert same.ks_scaled == 0 and same.ks == 0.0

    def test_ties_use_inclusive_cdf(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import ks_drift

        # a = {1,1,2}, b = {1,2,2}: at v=1, F_a=2/3, F_b=1/3 -> KS=1/3
        a = spark.createDataFrame([(1.0,), (1.0,), (2.0,)], "v double")
        b = spark.createDataFrame([(1.0,), (2.0,), (2.0,)], "v double")
        r = ks_drift(a, b, "v").first()
        assert r.ks_scaled == 3 and abs(r.ks - 1 / 3) < 1e-6


class TestFuzzyJoinDist2:
    def test_neighborhood_k2_equals_block(self, spark):
        """k=2 deletion-neighborhood candidates must reproduce the
        exhaustive blocked join exactly across two-substitution,
        insert+delete, double-insert, and double-delete cases."""
        from multi_source_data_lake_with_etl_pipeline_spark.operators.joins import fuzzy_join

        names = [
            "customer_017",
            "customer_997",    # two substitutions (dist 2)
            "custmer_17",      # two deletions (dist 2)
            "customer_x017y",  # two insertions (dist 2)
            "custmer_917",     # one deletion + one substitution (dist 2)
            "customer_017__",  # two appended chars (dist 2)
            "cXstomer_01Z",    # dist 2
            "cXsYomer_01Z",    # dist 3 from base — must NOT pair with it
            "zz",              # unrelated
            "",                # empty
            "ab",              # dist 2 from "" (two inserts)
        ]
        a = spark.createDataFrame(
            [(i, s, "blk") for i, s in enumerate(names)],
            "id_1 long, n1 string, blk string",
        )
        b = spark.createDataFrame(
            [(100 + i, s, "blk") for i, s in enumerate(names)],
            "id_2 long, n2 string, blk string",
        )

        def run(method):
            return {
                (r.id_1, r.id_2, r.edit_dist)
                for r in fuzzy_join(
                    a, b, "blk", "n1", "n2", max_dist=2, method=method
                ).collect()
            }

        fast, exhaustive = run("neighborhood"), run("block")
        assert fast == exhaustive
        assert (0, 101, 2) in fast and (0, 107, 2) not in fast
        assert (9, 110, 2) in fast  # "" vs "ab"


def test_ivf_knn_join_exactness_and_shape(spark, tmp_path):
    """Batch ANN kNN join: with nprobe == m (all centroids probed) the
    result must equal brute-force top-k exactly; ranks are dense and
    deterministically tie-broken; no query x corpus cross join."""
    import math

    from multi_source_data_lake_with_etl_pipeline_spark.llm_ops.similarity import (
        ivf_knn_join,
    )

    def vec(angle):
        return [math.cos(angle), math.sin(angle)]

    corpus = [(i, vec(0.1 * i)) for i in range(40)]
    queries = [(100, vec(0.05)), (101, vec(2.0))]
    cdf = spark.createDataFrame(corpus, "rid long, rv array<double>")
    qdf = spark.createDataFrame(queries, "qid long, qv array<double>")
    cents = [(0, vec(0.0)), (1, vec(2.0))]

    out = ivf_knn_join(qdf, cdf, cents, k=3, nprobe=2)  # nprobe == m
    rows = out.collect()
    assert {r["qid"] for r in rows} == {100, 101}
    for qid, qv in queries:
        got = sorted((r for r in rows if r["qid"] == qid), key=lambda r: r["rk"])
        assert [r["rk"] for r in got] == [1, 2, 3]
        # brute-force reference
        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return round(d / (na * nb), 4)

        ref = sorted(
            ((cos(qv, rv), rid) for rid, rv in corpus),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        assert [(r["cos_sim"], r["rid"]) for r in got] == ref
    # plan shape: candidates meet on the centroid-id equality join.
    # The only nested-loop joins allowed are the two assignment legs'
    # ONE-ROW broadcast of the centroid-matrix frame (_cids/_cvecs/
    # _cnorms) — never a query×corpus cross join.
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE echoes the plan twice
    assert "CartesianProduct" not in plan
    chunks = plan.split("BroadcastNestedLoopJoin")[1:]
    assert len(chunks) <= 2, plan
    for chunk in chunks:  # build side must be the 1-row centroid frame
        assert "_cids" in chunk[:800], plan
    # pre-assigned corpus (the amortized index-build path) is
    # result-identical to inline assignment
    from multi_source_data_lake_with_etl_pipeline_spark.llm_ops.similarity import (
        ivf_corpus_assign,
    )

    pre = ivf_corpus_assign(cdf, cents, vec_col="rv")
    out2 = ivf_knn_join(qdf, pre, cents, k=3, nprobe=2)
    assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, rows))
    # an ivf_build table read back from parquet carries _centroid (and
    # no norm column) — the reuse guard must accept that shape too,
    # not silently recompute the O(N·m) assignment per batch
    bpath = str(tmp_path / "ivf_index")
    pre.withColumnRenamed("_cid", "_centroid").drop("_rn").write.partitionBy(
        "_centroid"
    ).parquet(bpath)
    built = spark.read.parquet(bpath)
    out3 = ivf_knn_join(qdf, built, cents, k=3, nprobe=2)
    assert sorted(map(tuple, out3.collect())) == sorted(map(tuple, rows))
    plan3 = out3._jdf.queryExecution().executedPlan().toString()
    plan3 = plan3.split("== Initial Plan ==")[0]
    # only the QUERY assignment leg broadcasts the centroid frame —
    # a second one would mean the corpus was re-assigned
    assert len(plan3.split("BroadcastNestedLoopJoin")[1:]) <= 1, plan3


def test_exact_corr_matrix_known_values(spark):
    """floor(corr*1e6) matches the stdlib Pearson on exact-integer
    inputs; perfectly (anti-)correlated pairs hit the +/-1e6 rails."""
    import math

    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        exact_corr_matrix,
    )

    xs = [1, 2, 3, 4, 5, 6]
    ys = [2, 4, 6, 8, 10, 12]       # corr +1
    zs = [12, 10, 8, 6, 4, 2]       # corr -1 with xs
    ws = [5, 1, 4, 1, 5, 9]         # irregular
    df = spark.createDataFrame(
        list(zip(xs, ys, zs, ws)), "x long, y long, z long, w long"
    )
    out = {
        (r["var_x"], r["var_y"]): r
        for r in exact_corr_matrix(
            df, {"x": F.col("x"), "y": F.col("y"), "z": F.col("z"), "w": F.col("w")}
        ).collect()
    }
    assert len(out) == 6 and all(r["n_rows"] == 6 for r in out.values())
    assert out[("x", "y")]["corr_ppm"] == 1_000_000
    assert out[("x", "z")]["corr_ppm"] == -1_000_000

    def pearson(a, b):
        n = len(a)
        sa, sb = sum(a), sum(b)
        num = n * sum(x * y for x, y in zip(a, b)) - sa * sb
        den = math.sqrt(n * sum(x * x for x in a) - sa * sa) * math.sqrt(
            n * sum(y * y for y in b) - sb * sb
        )
        return num / den

    assert out[("x", "w")]["corr_ppm"] == math.floor(pearson(xs, ws) * 1e6)
    assert out[("y", "w")]["corr_ppm"] == math.floor(pearson(ys, ws) * 1e6)

    # underscore column names must not collide in the internal
    # product-sum aliases (pairs (a, b_c) and (a_b, c) both rendered
    # "_sp_a_b_c" under name concatenation)
    df2 = spark.createDataFrame(
        list(zip(xs, ys, zs, ws)), "a long, b_c long, a_b long, c long"
    )
    out2 = {
        (r["var_x"], r["var_y"]): r["corr_ppm"]
        for r in exact_corr_matrix(
            df2,
            {n: F.col(n) for n in ["a", "b_c", "a_b", "c"]},
        ).collect()
    }
    assert len(out2) == 6
    assert out2[("a", "b_c")] == 1_000_000      # ys vs xs
    assert out2[("a_b", "c")] == math.floor(pearson(zs, ws) * 1e6)


def test_spearman_corr_average_ranks(spark):
    """Histogram-rank Spearman equals Pearson on hand-computed average
    ranks, including ties."""
    import math

    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        spearman_corr,
    )

    xs = [10, 20, 20, 30, 30, 30, 40]
    ys = [1, 5, 4, 9, 9, 8, 2]
    df = spark.createDataFrame(list(zip(xs, ys)), "x long, y long")
    row = spearman_corr(df, "x", "y").collect()[0]
    assert row["n_rows"] == 7

    def avg_ranks(vals):
        order = sorted(vals)
        return [
            (order.index(v) + 1 + len(order) - order[::-1].index(v)) / 2
            for v in vals
        ]

    ra, rb = avg_ranks(xs), avg_ranks(ys)
    n = len(ra)
    sa, sb = sum(ra), sum(rb)
    num = n * sum(a * b for a, b in zip(ra, rb)) - sa * sb
    den = math.sqrt(n * sum(a * a for a in ra) - sa * sa) * math.sqrt(
        n * sum(b * b for b in rb) - sb * sb
    )
    assert abs(row["spearman_ppm"] / 1e6 - num / den) < 2e-6


def test_sq8_quantization_roundtrip(spark):
    """Codes stay in [0,255]; reconstruction error is at most half a
    quantization step per element; constant dimensions code to 0 and
    reconstruct exactly."""
    from multi_source_data_lake_with_etl_pipeline_spark.llm_ops.similarity import (
        _sq8_scale,
        sq8_bounds,
        sq8_decode,
        sq8_encode,
    )

    vecs = [
        (1, [0.0, -1.0, 7.5]),
        (2, [0.5, 1.0, 7.5]),
        (3, [1.0, 3.0, 7.5]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    bounds = sq8_bounds(df)
    assert bounds == [(0.0, 1.0), (-1.0, 3.0), (7.5, 7.5)]
    dec = sq8_decode(sq8_encode(df, bounds), bounds).collect()
    by_id = {r["vec_id"]: r for r in dec}
    for vid, vec in vecs:
        r = by_id[vid]
        assert all(0 <= c <= 255 for c in r["sq_code"])
        for d, (x, recon) in enumerate(zip(vec, r["sq_recon"])):
            lo, hi = bounds[d]
            scale = _sq8_scale(lo, hi)
            if scale == 0.0:
                assert r["sq_code"][d] == 0 and recon == lo
            else:
                assert abs(x - recon) * scale <= 0.5 + 1e-9


def test_exact_linreg_known_line(spark):
    """Exact line y=3x+7 per group: slope/intercept/R² hit the rails;
    a zero-x-variance group is dropped."""
    rows = [("a", x, 3 * x + 7) for x in (1, 2, 3, 4)]
    rows += [("b", x, 100 - 2 * x) for x in (0, 5, 10)]
    rows += [("c", 4, 9), ("c", 4, 11)]  # no x variance → dropped
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {
        r["g"]: r
        for r in quality.exact_linreg(df, ["g"], F.col("x"), F.col("y")).collect()
    }
    assert set(out) == {"a", "b"}
    assert out["a"]["slope_ppm"] == 3_000_000
    assert out["a"]["intercept_c"] == 7
    assert out["a"]["r2_ppm"] == 1_000_000
    assert out["b"]["slope_ppm"] == -2_000_000
    assert out["b"]["intercept_c"] == 100
    assert out["b"]["r2_ppm"] == 1_000_000
    assert out["a"]["n_rows"] == 4 and out["b"]["n_rows"] == 3


def test_pagerank_int_matches_reference_recurrence(spark):
    """Integer PageRank equals a driver-side replay of the exact
    integer recurrence on a small directed graph (hub + chain +
    dangling node)."""
    from multi_source_data_lake_with_etl_pipeline_spark.operators.graph import (
        pagerank_int,
    )

    E = [("a", "b"), ("c", "b"), ("b", "a"), ("b", "d"), ("d", "a")]
    df = spark.createDataFrame(E, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank_int(df, iters=4).collect()}

    nodes = sorted({x for e in E for x in e})
    deg = {n: sum(1 for s, _ in E if s == n) for n in nodes}
    r = {n: 1_000_000 for n in nodes}
    for _ in range(4):
        s = {n: 0 for n in nodes}
        for u, v in E:
            s[v] += r[u] // deg[u]
        r = {n: 150_000 + (85 * s[n]) // 100 for n in nodes}
    assert got == r
    assert len(got) == 4 and got["b"] > got["d"]  # hub outranks leaf


class TestBloomFilter:
    """Bloom membership pruning: zero false negatives (the one-sided
    guarantee the decontam/semi-join pruning path rests on), sane
    false-positive behavior, OR-mergeability."""

    def test_no_false_negatives_and_fp_bound(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.sketches import (
            bloom_build,
            bloom_might_contain,
        )

        keys = spark.range(0, 500).select((F.col("id") * 7 + 3).alias("k"))
        bloom = bloom_build(keys, "k", m_bits=1 << 13, k=5).persist()
        probe = spark.range(0, 5000).select(F.col("id").alias("k"))
        out = bloom_might_contain(probe, bloom, "k")
        member = {7 * i + 3 for i in range(500)}
        rows = {r["k"]: r["bloom_hit"] for r in out.collect()}
        # every true member must be flagged — NO false negatives
        assert all(rows[k] for k in member if k in rows)
        # false positives exist but are bounded well below the
        # non-member count at this m/n ratio (m=8192, n=500, k=5
        # → theoretical fp ~ 0.2%; assert an order of magnitude slack)
        fp = sum(1 for k, hit in rows.items() if hit and k not in member)
        non_members = sum(1 for k in rows if k not in member)
        assert fp <= non_members * 0.05, f"{fp}/{non_members} false positives"
        bloom.unpersist()

    def test_merge_equals_union_build(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.sketches import (
            bloom_build,
            bloom_merge,
            bloom_might_contain,
        )

        a = spark.range(0, 100).select(F.col("id").alias("k"))
        b = spark.range(100, 200).select(F.col("id").alias("k"))
        merged = bloom_merge(
            bloom_build(a, "k", m_bits=1 << 10, k=3),
            bloom_build(b, "k", m_bits=1 << 10, k=3),
        )
        union = bloom_build(a.union(b), "k", m_bits=1 << 10, k=3)
        assert merged.first()["_bf"] == union.first()["_bf"]
        # mismatched shapes refuse to merge (empty result, not junk)
        bad = bloom_merge(
            bloom_build(a, "k", m_bits=1 << 10, k=3),
            bloom_build(b, "k", m_bits=1 << 11, k=3),
        )
        assert bad.count() == 0

    def test_probe_is_scan_shaped(self, spark):
        """The probe plan must not shuffle the probed frame: one
        BroadcastNestedLoopJoin against the one-row bitmap frame, no
        Exchange on the probe side."""
        from multi_source_data_lake_with_etl_pipeline_spark.operators.sketches import (
            bloom_build,
            bloom_might_contain,
        )

        keys = spark.range(0, 50).select(F.col("id").alias("k"))
        probe = spark.range(0, 500).select(F.col("id").alias("k"))
        out = bloom_might_contain(probe, bloom_build(keys, "k", m_bits=1 << 10, k=3), "k")
        plan = out._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_benford_profile_known_distribution(spark):
    """100 values whose first digits are exactly 50x'1', 30x'2', 20x'9'
    -> obs counts exact, obs_ppm exact integer `div`, dev vs the
    literal Benford table."""
    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        BENFORD_PPM,
        benford_profile,
    )

    vals = [100 + i for i in range(50)] + [200 + i for i in range(30)] + [
        900 + i for i in range(20)
    ]
    df = spark.createDataFrame([(v,) for v in vals], "cents long")
    rows = {r["digit"]: r for r in benford_profile(df, F.col("cents")).collect()}
    assert set(rows) == {1, 2, 9}
    assert rows[1]["obs"] == 50 and rows[1]["obs_ppm"] == 500000
    assert rows[2]["obs"] == 30 and rows[2]["obs_ppm"] == 300000
    assert rows[9]["obs"] == 20 and rows[9]["obs_ppm"] == 200000
    assert rows[1]["benford_ppm"] == BENFORD_PPM[1]
    assert rows[9]["dev_ppm"] == 200000 - BENFORD_PPM[9]


def test_benford_profile_drops_nonpositive(spark):
    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        benford_profile,
    )

    df = spark.createDataFrame([(0,), (-5,), (123,), (None,)], "cents long")
    rows = benford_profile(df, F.col("cents")).collect()
    assert len(rows) == 1 and rows[0]["digit"] == 1 and rows[0]["obs"] == 1


def test_referential_integrity_counts(spark):
    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        referential_integrity,
    )

    child = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99), (4, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (20,), (30,)], "pk long")
    out = referential_integrity([("child->parent", child, "fk", parent, "pk")]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["edge"] == "child->parent"
    assert r["child_rows"] == 4
    assert r["null_fks"] == 1
    assert r["orphans"] == 1  # fk=99 only; NULL fk is counted separately


def test_entropy_profile_uniform_and_constant(spark):
    import math

    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        entropy_profile,
    )

    df = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "x"), ("d", "x")], "u string, k string"
    )
    rows = {r["column"]: r for r in entropy_profile(df, ["u", "k"]).collect()}
    assert rows["u"]["n_distinct"] == 4
    assert abs(rows["u"]["entropy_nats"] - round(math.log(4), 4)) < 1e-9
    assert rows["u"]["modal_ppm"] == 250000
    assert rows["k"]["n_distinct"] == 1
    assert rows["k"]["entropy_nats"] == 0.0
    assert rows["k"]["modal_ppm"] == 1000000


def test_entropy_profile_nulls_are_a_category(spark):
    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        entropy_profile,
    )

    df = spark.createDataFrame([("a",), (None,), (None,)], "v string")
    r = entropy_profile(df, ["v"]).collect()[0]
    assert r["n_distinct"] == 2 and r["modal_ppm"] == 666666


class TestTriangleCount:
    def _tc(self, spark, edges):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.graph import (
            triangle_count,
        )

        df = spark.createDataFrame(edges, "src long, dst long")
        return triangle_count(df).collect()[0]

    def test_k4_has_four_triangles(self, spark):
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        r = self._tc(spark, k4)
        assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)

    def test_path_and_star_have_none(self, spark):
        assert self._tc(spark, [(1, 2), (2, 3), (3, 4)])["n_triangles"] == 0
        assert self._tc(spark, [(0, 1), (0, 2), (0, 3)])["n_triangles"] == 0

    def test_normalizes_duplicates_direction_self_loops(self, spark):
        messy = [(1, 2), (2, 1), (1, 2), (2, 3), (1, 3), (3, 3)]
        r = self._tc(spark, messy)
        assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (3, 3, 1)

    def test_two_triangles_sharing_an_edge(self, spark):
        r = self._tc(spark, [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)])
        assert r["n_triangles"] == 2


def test_pmi_collocations_known_corpus(spark):
    """'a b' always adjacent, 'c' independent filler: PMI(a,b) must be
    the exact ln ratio and the pair must rank first."""
    import math

    from multi_source_data_lake_with_etl_pipeline_spark.llm_ops.vocab import (
        pmi_collocations,
    )

    docs = [("a b c c",)] * 10  # bigrams per doc: (a,b),(b,c),(c,c)
    df = spark.createDataFrame(docs, "text string")
    rows = pmi_collocations(df, min_count=5, k=10).collect()
    assert rows[0]["w1"] == "a" and rows[0]["w2"] == "b"
    # counts: c_ab=10, n_bg=30, c_a=10, c_b=10, n_tok=40
    expect = math.log((10 / 30) / ((10 / 40) * (10 / 40)))
    assert abs(rows[0]["pmi"] - round(expect, 4)) < 1e-9
    assert rows[0]["c_xy"] == 10
    # min_count: every emitted pair has support >= 5
    assert all(r["c_xy"] >= 5 for r in rows)


class TestZOrder:
    def test_morton2_known_values(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.zorder import (
            morton2,
        )

        df = spark.createDataFrame(
            [(0, 0), (1, 0), (0, 1), (1, 1), (3, 5)], "a long, b long"
        )
        out = [r[0] for r in df.select(morton2(F.col("a"), F.col("b"))).collect()]
        # interleave(a even bits, b odd bits): (3,5)=0b11,0b101 ->
        # a bits at 0,2 ; b bits at 1,5 -> 0b100111 = 39
        assert out == [0, 1, 2, 3, 39]

    def test_quantize_is_shift_only_and_clamps(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.zorder import (
            quantize,
        )

        df = spark.createDataFrame([(-5,), (0,), (1023,), (4096,)], "v long")
        # bounds [0, 1023] with 8 bits -> shift 2
        out = [r[0] for r in df.select(quantize(F.col("v"), 0, 1023, bits=8)).collect()]
        assert out == [0, 0, 255, 255]

    def test_zbucket_profile_locality(self, spark):
        """Two well-separated clusters in both dims must land in
        different z-buckets with tight per-bucket spans."""
        from multi_source_data_lake_with_etl_pipeline_spark.operators.zorder import (
            zbucket_profile,
        )

        lowish = [(i, i * 2) for i in range(100)]
        highish = [(120000 + i, 240000 + i) for i in range(100)]
        df = spark.createDataFrame(lowish + highish, "a long, b long")
        prof = zbucket_profile(
            df, [("a", 0, (1 << 17) - 1), ("b", 0, (1 << 18) - 1)], bucket_bits=2
        ).collect()
        assert len(prof) >= 2
        by_bucket = {r["z_bucket"]: r for r in prof}
        lo_bucket = min(by_bucket)
        hi_bucket = max(by_bucket)
        assert by_bucket[lo_bucket]["max_a"] <= 99
        assert by_bucket[hi_bucket]["min_a"] >= 120000

    def test_zorder_repartition_single_range_exchange(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.zorder import (
            zorder_repartition,
        )

        df = spark.range(1000).select(
            F.col("id").alias("a"), (F.col("id") * 3).alias("b")
        )
        out = zorder_repartition(df, [("a", 0, 1023), ("b", 0, 4095)], num_files=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange rangepartitioning") == 1
        assert "Exchange hashpartitioning" not in plan


def test_expectation_suite_single_pass_and_counts(spark):
    from multi_source_data_lake_with_etl_pipeline_spark.operators.validation import (
        Expectation,
        expectation_suite,
    )

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 50.0), (2, "z", -1.0), (None, None, None)],
        "id long, cat string, v double",
    )
    out = expectation_suite(
        df,
        [
            Expectation("id_not_null", "id", "not_null"),
            Expectation("id_unique", "id", "unique"),
            Expectation("cat_domain", "cat", "in_set", values=("a", "b")),
            Expectation("v_range", "v", "between", lo=0, hi=10),
        ],
    )
    rows = {r["expectation"]: r for r in out.collect()}
    assert rows["id_not_null"]["n_violations"] == 1
    assert rows["id_unique"]["n_violations"] == 1  # id=2 twice (nulls ignored)
    assert rows["cat_domain"]["n_violations"] == 1  # 'z'
    assert rows["v_range"]["n_violations"] == 2  # 50.0 and -1.0
    assert all(r["n_rows"] == 4 for r in rows.values())
    assert not rows["id_unique"]["passed"]
    # single pass: the whole suite folds into ONE Aggregate node
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate [") == 1


def test_expectation_suite_all_pass(spark):
    from multi_source_data_lake_with_etl_pipeline_spark.operators.validation import (
        Expectation,
        expectation_suite,
    )

    df = spark.createDataFrame([(1,), (2,)], "id long")
    out = expectation_suite(
        df,
        [
            Expectation("nn", "id", "not_null"),
            Expectation("uq", "id", "unique"),
        ],
    ).collect()
    assert all(r["passed"] for r in out)


class TestSnapshotDiff:
    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "k long, v string")

    def test_four_statuses(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.diff import (
            diff_summary,
            snapshot_diff,
        )

        old = self._mk(spark, [(1, "a"), (2, "b"), (3, "c")])
        new = self._mk(spark, [(2, "b"), (3, "CHANGED"), (4, "d")])
        got = {
            r["k"]: r["diff_status"]
            for r in snapshot_diff(old, new, ["k"]).collect()
        }
        assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
        s = {r["diff_status"]: r["n"] for r in diff_summary(old, new, ["k"]).collect()}
        assert s == {"removed": 1, "unchanged": 1, "changed": 1, "added": 1}

    def test_null_safe_compare(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.diff import (
            snapshot_diff,
        )

        old = self._mk(spark, [(1, None), (2, None)])
        new = self._mk(spark, [(1, None), (2, "now-set")])
        got = {
            r["k"]: r["diff_status"]
            for r in snapshot_diff(old, new, ["k"]).collect()
        }
        assert got == {1: "unchanged", 2: "changed"}

    def test_composite_keys_and_explicit_cols(self, spark):
        from multi_source_data_lake_with_etl_pipeline_spark.operators.diff import (
            snapshot_diff,
        )

        old = spark.createDataFrame(
            [(1, "x", "keep", "ignore-old")], "k1 long, k2 string, v string, w string"
        )
        new = spark.createDataFrame(
            [(1, "x", "keep", "ignore-new")], "k1 long, k2 string, v string, w string"
        )
        got = snapshot_diff(old, new, ["k1", "k2"], compare_cols=["v"]).collect()
        assert got[0]["diff_status"] == "unchanged"  # w excluded on purpose


def test_morton2_equals_generic_zorder_value(spark):
    """operators/zorder.morton2 (magic-mask 2-D fast path) and
    operators/zorder.zorder_value (generic n-dim bit loop) must emit
    THE SAME integer for two dimensions — same bit layout (col 0 even
    bits, col 1 odd), so either key sorts a table identically."""
    from multi_source_data_lake_with_etl_pipeline_spark.operators.zorder import (
        morton2,
        zorder_value,
    )

    vals = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321), (40000, 7)]
    df = spark.createDataFrame(vals, "a long, b long")
    rows = df.select(
        morton2(F.col("a"), F.col("b")).alias("fast"),
        zorder_value([F.col("a"), F.col("b")]).alias("generic"),
    ).collect()
    assert all(r["fast"] == r["generic"] for r in rows)


def test_epoch_upsample_zero_copies_drops_stratum(spark):
    from multi_source_data_lake_with_etl_pipeline_spark.llm_ops.sampling import (
        epoch_upsample,
    )

    df = spark.createDataFrame(
        [(1, "keep"), (2, "boost"), (3, "drop")], "id long, src string"
    )
    out = epoch_upsample(df, "src", {"boost": 2, "drop": 0}, key_col="id")
    got = sorted((r["src"], r["_epoch"]) for r in out.collect())
    assert got == [("boost", 0), ("boost", 1), ("keep", 0)]


def test_snapshot_diff_null_keys_classified(spark):
    from multi_source_data_lake_with_etl_pipeline_spark.operators.diff import (
        snapshot_diff,
    )

    old = spark.createDataFrame([(None, "x"), (1, "a")], "k long, v string")
    new = spark.createDataFrame([(1, "a")], "k long, v string")
    got = [(r["k"], r["diff_status"]) for r in snapshot_diff(old, new, ["k"]).collect()]
    # NULL keys never join: the dangling old row is REMOVED, not 'changed'
    assert sorted(got, key=str) == [(1, "unchanged"), (None, "removed")]


def test_zorder_key_rejects_wide_bits(spark):
    import pytest

    from multi_source_data_lake_with_etl_pipeline_spark.operators.zorder import (
        zorder_key,
    )

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError, match="16 bits"):
        zorder_key(df, [("a", 0, 1 << 20), ("b", 0, 1 << 20)], bits=20)


def test_exact_percentiles_matches_percentile_aggregate(spark):
    """The histogram order-statistics operator must reproduce Spark's
    exact interpolated percentile bit-for-bit — incl. ties, a
    singleton group, and NULL values (ignored)."""
    import random

    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        exact_percentiles,
    )

    rng = random.Random(7)
    rows = [
        ("g%d" % (i % 3), float(rng.randint(0, 40)) / 4.0) for i in range(500)
    ]
    rows += [("g_single", 42.5), ("g0", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    ps = {"p05": 0.05, "p50": 0.5, "p95": 0.95, "p99": 0.99}
    got = {
        r["g"]: (r["p05"], r["p50"], r["p95"], r["p99"])
        for r in exact_percentiles(df, ["g"], "v", ps).collect()
    }
    want = {
        r["g"]: (r["p05"], r["p50"], r["p95"], r["p99"])
        for r in df.groupBy("g")
        .agg(
            *[
                F.percentile("v", F.lit(p)).alias(name)
                for name, p in ps.items()
            ]
        )
        .collect()
    }
    assert got == want  # bit-exact, not approx


def test_exact_percentiles_global_and_guard(spark):
    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        bounded_hist,
        exact_percentiles,
    )

    import pytest

    df = spark.range(0, 101).select((F.col("id") % 11).cast("double").alias("v"))
    row = exact_percentiles(df, [], "v", {"med": 0.5}).collect()[0]
    want = df.agg(F.percentile("v", F.lit(0.5)).alias("m")).collect()[0]["m"]
    assert row["med"] == want
    # near-unique column trips the cardinality guard instead of
    # silently single-task-sorting the corpus
    wide = spark.range(0, 1000).select(F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="distinct values"):
        exact_percentiles(wide, [], "v", {"med": 0.5}, max_distinct=100)
    hist = wide.groupBy("v").agg(F.count(F.lit(1)).alias("_c"))
    with pytest.raises(ValueError, match="band the values"):
        bounded_hist(hist, 10, "test")


def test_spearman_corr_cardinality_guard(spark):
    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        spearman_corr,
    )

    import pytest

    df = spark.range(0, 500).select(
        F.col("id").alias("x"), (F.col("id") * 3 % 97).alias("y")
    )
    with pytest.raises(ValueError, match="spearman_corr"):
        spearman_corr(df, "x", "y", max_distinct=50).collect()


def test_mad_outlier_stats_known_values(spark):
    """Hand-computed median/MAD: group a = [1..9, 100] → med 5.5,
    adevs [4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,94.5] → MAD 2.5;
    only 100 (adev 94.5 > 7.5) is an outlier. A clean group flags 0."""
    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        mad_outlier_stats,
    )

    rows = [("a", float(v)) for v in range(1, 10)] + [("a", 100.0)]
    rows += [("b", 10.0), ("b", 12.0), ("b", 14.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r["g"]: (r["n_rows"], r["med_c"], r["mad_c"], r["n_outliers"])
        for r in mad_outlier_stats(df, ["g"], "v", z=3.0).collect()
    }
    assert got["a"] == (10, 550, 250, 1)
    assert got["b"] == (3, 1200, 200, 0)


def test_exact_percentiles_all_null_group_documented_drop(spark):
    """ADVICE r5: a group whose values are ALL NULL is DROPPED (the
    histogram filters NULLs before grouping), where Spark's percentile
    aggregate would emit the group with a NULL result. The divergence
    is documented in the docstring; this pins the actual behavior and
    the parity of the join-back recipe the docstring recommends."""
    from pyspark.sql import functions as F

    from multi_source_data_lake_with_etl_pipeline_spark.operators.quality import (
        exact_percentiles,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", None), ("b", None), ("c", 5.0)],
        "g string, v double",
    )
    out = exact_percentiles(df, ["g"], "v", {"p50": 0.5})
    got = {r["g"]: r["p50"] for r in out.collect()}
    assert got == {"a": 2.0, "c": 5.0}  # b dropped, not NULL-emitted
    # the documented recipe restores Spark parity exactly
    domain = df.select("g").distinct()
    restored = {
        r["g"]: r["p50"] for r in domain.join(out, "g", "left").collect()
    }
    spark_ref = {
        r["g"]: r["p"]
        for r in df.groupBy("g")
        .agg(F.percentile("v", F.lit(0.5)).alias("p"))
        .collect()
    }
    assert restored == spark_ref
