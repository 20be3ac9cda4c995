"""Between-requirement constraint tests + interval/stats goldens."""

import pytest

from datajudge_spark import BetweenRequirement
from datajudge_spark.operators import get_cross_cdf, get_ks_2sample
from datajudge_spark.reference import DataReference

from conftest import make_ref, make_source, within_req


def between_req(df1, df2, name1, name2, **kwargs) -> BetweenRequirement:
    return BetweenRequirement.from_dataframes(df1, df2, name1, name2, **kwargs)


def outcomes(req, spark):
    return [r.outcome for r in req.test(spark)]


class TestNRowsBetween:
    def test_equality_and_deltas(self, spark, int_table1, int_table2):
        req = between_req(int_table1, int_table1, "t1", "t1b")
        req.add_n_rows_equality_constraint()
        assert outcomes(req, spark) == [True]

        # t1 has 19 rows, t2 has 18: gain of 1/18 from t2's perspective
        req2 = between_req(int_table1, int_table2, "t1", "t2")
        req2.add_n_rows_max_gain_constraint(constant_max_relative_gain=0.1)
        req2.add_n_rows_max_gain_constraint(constant_max_relative_gain=0.01)  # fail
        req2.add_n_rows_min_gain_constraint(constant_min_relative_gain=0.01)
        req2.add_n_rows_min_gain_constraint(constant_min_relative_gain=0.1)  # fail
        assert outcomes(req2, spark) == [True, False, True, False]

        req3 = between_req(int_table2, int_table1, "t2", "t1")
        req3.add_n_rows_max_loss_constraint(constant_max_relative_loss=0.1)
        req3.add_n_rows_max_loss_constraint(constant_max_relative_loss=0.01)  # fail
        assert outcomes(req3, spark) == [True, False]

    def test_date_derived_tolerance(self, spark, date_table1, date_table2):
        # spans: t1 = 18 days, t2 = 17 days -> growth rate 18/17 - 1
        req = between_req(
            date_table1, date_table2, "d1", "d2",
            date_column="col_date", date_column2="col_date",
        )
        req.add_n_rows_max_gain_constraint(date_range_gain_deviation=0.05)
        assert outcomes(req, spark) == [True]
        assert req.get_date_growth_rate(spark) == pytest.approx(18 / 17 - 1)


class TestNumericBetween:
    def test_min_max_mean(self, spark, int_table1, int_table2):
        req = between_req(int_table1, int_table2, "t1", "t2")
        req.add_numeric_max_constraint("col_int", "col_int")
        req.add_numeric_min_constraint("col_int", "col_int")  # fail: 1 < 2
        req.add_numeric_mean_constraint("col_int", "col_int", 0.51)
        req.add_numeric_mean_constraint("col_int", "col_int", 0.49)  # fail
        assert outcomes(req, spark) == [True, False, True, False]

    def test_percentile(self, spark, int_table1, int_table2):
        req = between_req(int_table1, int_table2, "t1", "t2")
        req.add_numeric_percentile_constraint(
            "col_int", "col_int", 50, max_absolute_deviation=1
        )
        req.add_numeric_percentile_constraint(
            "col_int", "col_int", 5, max_absolute_deviation=0
        )  # fail: 5th percentile is 1 vs 2
        assert outcomes(req, spark) == [True, False]


class TestUniquesBetween:
    def test_uniques(self, spark, unique_table1, unique_table2):
        nonull = lambda lst: [v for v in lst if v is not None]  # noqa: E731
        # t1 uniques: 0..29; t2 uniques: 0..19
        req = between_req(unique_table1, unique_table2, "u1", "u2")
        req.add_uniques_superset_constraint(
            ["col_int"], ["col_int"], filter_func=nonull
        )
        req.add_uniques_equality_constraint(
            ["col_int"], ["col_int"], filter_func=nonull
        )  # fail
        req.add_n_uniques_max_loss_constraint(
            ["col_int"], ["col_int"], constant_max_relative_loss=0.1
        )
        assert outcomes(req, spark) == [True, False, True]
        # loss direction: u2 has 20 uniques vs u1's 31 -> loss 11/31 = 0.355
        req_loss = between_req(unique_table2, unique_table1, "u2", "u1")
        req_loss.add_n_uniques_max_loss_constraint(
            ["col_int"], ["col_int"], constant_max_relative_loss=0.5
        )
        req_loss.add_n_uniques_max_loss_constraint(
            ["col_int"], ["col_int"], constant_max_relative_loss=0.1
        )  # fail
        assert outcomes(req_loss, spark) == [True, False]
        req2 = between_req(unique_table2, unique_table1, "u2", "u1")
        req2.add_uniques_subset_constraint(
            ["col_int"], ["col_int"], filter_func=nonull
        )
        assert outcomes(req2, spark) == [True]
        # u1 has 31 uniques (incl NULL) vs u2's 20 -> gain 11/20 > 0.5
        req3 = between_req(unique_table1, unique_table2, "u1", "u2")
        req3.add_n_uniques_max_gain_constraint(
            ["col_int"], ["col_int"], constant_max_relative_gain=0.5
        )  # fail: gain 11/20 = 0.55
        req3.add_n_uniques_max_gain_constraint(
            ["col_int"], ["col_int"], constant_max_relative_gain=0.6
        )
        assert outcomes(req3, spark) == [False, True]


class TestRowSetOps:
    def test_row_subset_superset_equality(self, spark, mix_table1, mix_table2):
        cols = ["col_int", "col_varchar", "col_date"]
        req = between_req(mix_table1, mix_table2, "m1", "m2")
        # m1 and m2 differ on many rows (dates divided by 2, one "ho")
        req.add_row_equality_constraint(cols, cols, max_missing_fraction=1.0)
        req.add_row_equality_constraint(cols, cols, max_missing_fraction=0.1)  # fail
        req.add_row_subset_constraint(cols, cols, constant_max_missing_fraction=1.0)
        req.add_row_subset_constraint(
            cols, cols, constant_max_missing_fraction=0.05
        )  # fail
        req.add_row_superset_constraint(cols, cols, 1.0)
        req.add_row_superset_constraint(cols, cols, 0.05)  # fail
        assert outcomes(req, spark) == [True, False, True, False, True, False]

    def test_row_subset_pass(self, spark, int_table2, int_table1):
        # int_table2 (2..19) is a subset of int_table1 (1..19)
        req = between_req(int_table2, int_table1, "t2", "t1")
        req.add_row_subset_constraint(
            ["col_int"], ["col_int"], constant_max_missing_fraction=0
        )
        assert outcomes(req, spark) == [True]

    def test_row_matching_equality(self, spark, row_match_table1, row_match_table2):
        req = between_req(row_match_table1, row_match_table2, "rm1", "rm2")
        # 8 matched rows (NULL match key drops), 1 differs (99): 1/8
        req.add_row_matching_equality_constraint(
            ["col_match1", "col_match2"],
            ["col_match1", "col_match2"],
            ["col_compare1", "col_compare2"],
            ["col_compare1", "col_compare2"],
            max_missing_fraction=1 / 8,
        )
        req.add_row_matching_equality_constraint(
            ["col_match1", "col_match2"],
            ["col_match1", "col_match2"],
            ["col_compare1", "col_compare2"],
            ["col_compare1", "col_compare2"],
            max_missing_fraction=0.1,
        )  # fail
        assert outcomes(req, spark) == [True, False]


class TestColumnsBetween:
    def test_column_subset_superset(self, spark, mix_table1, int_table1):
        req = between_req(int_table1, mix_table1, "i1", "m1")
        req.add_column_subset_constraint()
        req.add_column_superset_constraint()  # fail: i1 lacks m1's columns
        assert outcomes(req, spark) == [True, False]
        req2 = between_req(mix_table1, int_table1, "m1", "i1")
        req2.add_column_subset_constraint()  # fail
        req2.add_column_superset_constraint()
        assert outcomes(req2, spark) == [False, True]

    def test_column_type(self, spark, mix_table1, int_table1):
        req = between_req(mix_table1, int_table1, "m1", "i1")
        req.add_column_type_constraint("col_int", "col_int")
        assert outcomes(req, spark) == [True]


class TestVarcharBetween:
    def test_lengths(self, spark, varchar_table1, mix_table1):
        req = between_req(varchar_table1, mix_table1, "v1", "m1")
        # v1 lengths 2..18, m1 col_varchar lengths 3..4
        req.add_varchar_max_length_constraint("col_varchar", "col_varchar")  # fail
        req.add_varchar_min_length_constraint("col_varchar", "col_varchar")  # fail
        assert outcomes(req, spark) == [False, False]


class TestCrossCdfGolden:
    def test_cross_cdf_golden(self, spark, cross_cdf_table1, cross_cdf_table2):
        """Golden from reference tests/integration/test_stats.py:27-35."""
        ref1 = make_ref(cross_cdf_table1, "c1", ["col_int"])
        ref2 = make_ref(cross_cdf_table2, "c2", ["col_int"])
        filled, l1, l2 = get_cross_cdf(spark, ref1, ref2)
        rows = sorted(
            [(r["val"], r[l1], r[l2]) for r in filled.collect()]
        )
        expected = [
            (1, 2 / 4, 0.0),
            (2, 3 / 4, 0.0),
            (3, 1.0, 1 / 5),
            (4, 1.0, 2 / 5),
            (5, 1.0, 4 / 5),
            (8, 1.0, 1.0),
        ]
        assert len(rows) == len(expected)
        for (v, c1, c2), (ev, ec1, ec2) in zip(rows, expected):
            assert v == ev
            assert c1 == pytest.approx(ec1)
            assert c2 == pytest.approx(ec2)

    def test_cross_cdf_and_ks_on_dates(self, spark, date_table1, date_table2):
        """Temporal columns bucket on their epoch proxy; the reported d is
        the statistic of the returned cross-CDF."""
        ref1 = make_ref(date_table1, "d1", ["col_date"])
        ref2 = make_ref(date_table2, "d2", ["col_date"])
        filled, l1, l2 = get_cross_cdf(spark, ref1, ref2)
        rows = sorted((r["val"], r[l1], r[l2]) for r in filled.collect())
        # samples are days 1..19 vs 2..19: cdf1 = k/19, cdf2 = (k-1)/18
        assert len(rows) == 19
        for k, (_, c1, c2) in enumerate(rows, start=1):
            assert c1 == pytest.approx(k / 19)
            assert c2 == pytest.approx(max(k - 1, 0) / 18)
        d, _ = get_ks_2sample(spark, ref1, ref2)
        assert d == pytest.approx(1 / 19)
        # d is the statistic of the cross-CDF, bit for bit
        assert d == max(abs(c1 - c2) for _, c1, c2 in rows)

    def test_ks_on_strings_is_exact(self, spark):
        # cdf1 = 1/3, 2/3, 1, 1 and cdf2 = 0, 1/2, 1/2, 1 over a..d:
        # d = 1 - 1/2 exactly
        ref1 = make_ref(
            spark.createDataFrame([("a",), ("b",), ("c",)], "s string"),
            "s1", ["s"],
        )
        ref2 = make_ref(
            spark.createDataFrame([("b",), ("d",)], "s string"), "s2", ["s"]
        )
        # no partition coalescing: the values spread over several
        # shuffle partitions, as they would on a cluster
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        old = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            d, _ = get_ks_2sample(spark, ref1, ref2)
        finally:
            spark.conf.set(key, old)
        assert d == 0.5

    def test_cross_cdf_on_timestamps_matches_naive(self, spark):
        import datetime as dt
        import random

        rng = random.Random(5)
        base = dt.datetime(2021, 3, 1)

        def sample(n, shift):
            return [
                base + dt.timedelta(
                    seconds=rng.randint(0, 40) + shift,
                    microseconds=rng.choice([0, 1, 999_999]),
                )
                for _ in range(n)
            ]

        s1, s2 = sample(60, 0), sample(45, 7)
        ref1 = make_ref(
            spark.createDataFrame([(t,) for t in s1], "t timestamp"),
            "t1", ["t"],
        )
        ref2 = make_ref(
            spark.createDataFrame([(t,) for t in s2], "t timestamp"),
            "t2", ["t"],
        )
        filled, l1, l2 = get_cross_cdf(spark, ref1, ref2)
        got = sorted((r["val"], r[l1], r[l2]) for r in filled.collect())
        want = [
            (
                v,
                sum(t <= v for t in s1) / len(s1),
                sum(t <= v for t in s2) / len(s2),
            )
            for v in sorted(set(s1) | set(s2))
        ]
        assert got == want
        d, _ = get_ks_2sample(spark, ref1, ref2)
        assert d == max(abs(c1 - c2) for _, c1, c2 in want)

    def test_ks_constraint_on_dates(self, spark, date_table1, date_table2):
        req = between_req(date_table1, date_table2, "d1", "d2")
        req.add_ks_2sample_constraint("col_date", "col_date")
        assert outcomes(req, spark) == [True]

    def test_ks_identical_samples(self, spark, int_table1):
        ref1 = make_ref(int_table1, "t1", ["col_int"])
        ref2 = make_ref(int_table1, "t1b", ["col_int"])
        d, _ = get_ks_2sample(spark, ref1, ref2)
        assert d == pytest.approx(0.0)

    def test_ks_constraint(self, spark, int_table1, int_square_table):
        req = between_req(int_table1, int_table1, "t1", "t1b")
        req.add_ks_2sample_constraint("col_int", "col_int")
        assert outcomes(req, spark) == [True]
        req2 = between_req(int_table1, int_square_table, "t1", "sq")
        req2.add_ks_2sample_constraint("col_int", "col_int", significance_level=0.5)
        assert outcomes(req2, spark) == [False]

    def test_ks_validation(self, spark, int_table1):
        req = between_req(int_table1, int_table1, "t1", "t1b")
        with pytest.raises(ValueError):
            req.add_ks_2sample_constraint("col_int", "col_int", significance_level=0)

    def test_psi_identical_passes_and_drift_fails(
        self, spark, int_table1, int_square_table
    ):
        # identical populations: PSI == 0 -> pass at any threshold
        req = between_req(int_table1, int_table1, "t1", "t1b")
        req.add_psi_constraint("col_int", "col_int", 0.0, lo=0.0, hi=100.0)
        assert outcomes(req, spark) == [True]
        # squared values drift far out of the shared bucket range -> fail
        req2 = between_req(int_table1, int_square_table, "t1", "sq")
        req2.add_psi_constraint("col_int", "col_int", 0.1, lo=0.0, hi=100.0)
        assert outcomes(req2, spark) == [False]

    def test_psi_empty_refs_fail_cleanly(self, spark, int_table1):
        # zero rows on both sides: psi is NULL -> clean failure with an
        # "insufficient data" message, not a TypeError
        empty = int_table1.where("col_int IS NULL AND col_int IS NOT NULL")
        req = between_req(empty, empty, "e1", "e2")
        req.add_psi_constraint("col_int", "col_int", 0.1, lo=0.0, hi=100.0)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "insufficient data" in results[0].failure_message

    def test_psi_validation(self, spark, int_table1):
        req = between_req(int_table1, int_table1, "t1", "t1b")
        with pytest.raises(ValueError):
            req.add_psi_constraint("col_int", "col_int", 0.1, lo=5.0, hi=5.0)

    def test_jsd_identical_passes_and_drift_fails(
        self, spark, int_table1, int_square_table
    ):
        # identical populations: JS == 0 -> pass at threshold 0
        req = between_req(int_table1, int_table1, "t1", "t1b")
        req.add_js_divergence_constraint(
            "col_int", "col_int", 0.0, lo=0.0, hi=100.0
        )
        assert outcomes(req, spark) == [True]
        # squared values drift -> JS well above 0.05, still <= ln 2
        req2 = between_req(int_table1, int_square_table, "t1", "sq")
        req2.add_js_divergence_constraint(
            "col_int", "col_int", 0.05, lo=0.0, hi=100.0
        )
        results = req2.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "Jensen-Shannon" in results[0].failure_message

    def test_jsd_validation(self, spark, int_table1):
        req = between_req(int_table1, int_table1, "t1", "t1b")
        with pytest.raises(ValueError):
            req.add_js_divergence_constraint(
                "col_int", "col_int", 0.8, lo=0.0, hi=100.0
            )  # above the ln 2 bound
        with pytest.raises(ValueError):
            req.add_js_divergence_constraint(
                "col_int", "col_int", 0.1, lo=5.0, hi=5.0
            )


class TestMaxNullFractionBetween:
    def test_null_fraction(self, spark, unique_table1, unique_table2):
        req = between_req(unique_table1, unique_table2, "u1", "u2")
        # u2 has no nulls -> threshold 0, u1 has nulls -> fail
        req.add_max_null_fraction_constraint("col_int", "col_int", 0)
        assert outcomes(req, spark) == [False]
        req2 = between_req(unique_table2, unique_table1, "u2", "u1")
        req2.add_max_null_fraction_constraint("col_int", "col_int", 0)
        assert outcomes(req2, spark) == [True]


class TestSnapshotDiff:
    def _tables(self, spark):
        old = spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")],
            "k long, v long, s string",
        )
        new = spark.createDataFrame(
            # k=1 unchanged, k=2 changed (v), k=3 changed (s), k=4 removed,
            # k=5 added
            [(1, 10, "a"), (2, 21, "b"), (3, 30, "x"), (5, 50, "e")],
            "k long, v long, s string",
        )
        return old, new

    def test_bounds_pass_and_fail(self, spark):
        old, new = self._tables(spark)
        req = between_req(new, old, "new", "old")
        req.add_snapshot_diff_constraint(
            ["k"], ["v", "s"],
            max_added_fraction=0.5, max_removed_fraction=0.5,
            max_changed_fraction=0.5,
        )
        # 2 changed of 4 old rows = 0.5 <= 0.5 passes; tighten to fail
        req.add_snapshot_diff_constraint(
            ["k"], ["v", "s"], max_changed_fraction=0.4
        )
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "~2" in results[1].failure_message

    def test_identical_snapshots_zero_fractions(self, spark):
        old, _ = self._tables(spark)
        req = between_req(old, old, "a", "b")
        req.add_snapshot_diff_constraint(
            ["k"], ["v", "s"],
            max_added_fraction=0.0, max_removed_fraction=0.0,
            max_changed_fraction=0.0,
        )
        assert [r.outcome for r in req.test(spark)] == [True]

    def test_null_compare_values_are_not_absence(self, spark):
        old = spark.createDataFrame([(1, None), (2, 5)], "k long, v long")
        new = spark.createDataFrame([(1, None), (2, 5)], "k long, v long")
        req = between_req(new, old, "n", "o")
        req.add_snapshot_diff_constraint(
            ["k"], ["v"],
            max_added_fraction=0.0, max_removed_fraction=0.0,
            max_changed_fraction=0.0,
        )
        # NULL == NULL null-safely: nothing added/removed/changed
        assert [r.outcome for r in req.test(spark)] == [True]

    def test_empty_both_fails_cleanly(self, spark):
        old = spark.createDataFrame([], "k long, v long")
        req = between_req(old, old, "e1", "e2")
        req.add_snapshot_diff_constraint(["k"], ["v"], max_changed_fraction=0.1)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "insufficient data" in results[0].failure_message

    def test_validation(self, spark):
        old, new = self._tables(spark)
        req = between_req(new, old, "n", "o")
        with pytest.raises(ValueError):
            req.add_snapshot_diff_constraint(["k"], ["v"])  # no bound
        with pytest.raises(ValueError):
            req.add_snapshot_diff_constraint([], ["v"], max_changed_fraction=0.1)
        with pytest.raises(ValueError):
            req.add_snapshot_diff_constraint(
                ["k"], ["v"], max_changed_fraction=1.5
            )


class TestForeignKey:
    def _tables(self, spark):
        parent = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "pk long, pv string"
        )
        child = spark.createDataFrame(
            [(10, 1), (11, 1), (12, 2), (13, 9), (14, None)],
            "ck long, fk long",
        )
        return child, parent

    def test_strict_fk_fails_on_orphan(self, spark):
        child, parent = self._tables(spark)
        req = between_req(child, parent, "child", "parent")
        req.add_foreign_key_constraint(["fk"], ["pk"])
        results = req.test(spark)
        assert results[0].outcome is False
        # 1 orphan (fk=9) out of 4 non-NULL-keyed rows; fk=None is exempt
        assert "0.25" in results[0].failure_message

    def test_tolerated_orphan_fraction_passes(self, spark):
        child, parent = self._tables(spark)
        req = between_req(child, parent, "child", "parent")
        req.add_foreign_key_constraint(["fk"], ["pk"], max_orphan_fraction=0.25)
        assert outcomes(req, spark) == [True]

    def test_clean_fk_passes_and_null_keys_exempt(self, spark):
        parent = spark.createDataFrame([(1,), (2,)], "pk long")
        child = spark.createDataFrame(
            [(10, 1), (11, None), (12, 2)], "ck long, fk long"
        )
        req = between_req(child, parent, "child", "parent")
        req.add_foreign_key_constraint(["fk"], ["pk"])
        assert outcomes(req, spark) == [True]

    def test_composite_key(self, spark):
        parent = spark.createDataFrame(
            [(1, "x"), (2, "y")], "pk long, pt string"
        )
        good = spark.createDataFrame([(1, "x"), (2, "y")], "fk long, ft string")
        bad = spark.createDataFrame([(1, "y")], "fk long, ft string")
        req = between_req(good, parent, "good", "parent")
        req.add_foreign_key_constraint(["fk", "ft"], ["pk", "pt"])
        assert outcomes(req, spark) == [True]
        req2 = between_req(bad, parent, "bad", "parent")
        req2.add_foreign_key_constraint(["fk", "ft"], ["pk", "pt"])
        assert outcomes(req2, spark) == [False]

    def test_empty_child_passes(self, spark):
        parent = spark.createDataFrame([(1,)], "pk long")
        child = spark.createDataFrame([], "ck long, fk long")
        req = between_req(child, parent, "empty", "parent")
        req.add_foreign_key_constraint(["fk"], ["pk"])
        assert outcomes(req, spark) == [True]


class TestMannWhitney:
    def test_pass_and_fail(self, spark):
        same = [(float(v),) for v in range(1, 61)]
        shifted = [(float(v) + 40.0,) for v in range(1, 61)]
        d1 = spark.createDataFrame(same, "c double")
        d2s = spark.createDataFrame(same, "c double")
        d3 = spark.createDataFrame(shifted, "c double")
        req = between_req(d1, d2s, "mw1", "mw2")
        req.add_mann_whitney_constraint("c", "c")
        assert outcomes(req, spark) == [True]
        req2 = between_req(d1, d3, "mw1b", "mw3")
        req2.add_mann_whitney_constraint("c", "c")  # fail: clear shift
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "p-value" in results[0].failure_message

    def test_empty_side_fails_cleanly(self, spark):
        d1 = spark.createDataFrame([(1.0,)], "c double")
        d2 = spark.createDataFrame([], "c double")
        req = between_req(d1, d2, "mwe1", "mwe2")
        req.add_mann_whitney_constraint("c", "c")
        results = req.test(spark)
        assert results[0].outcome is False
        assert "no non-null rows" in results[0].failure_message

    def test_constant_identical_passes(self, spark):
        # zero rank variance across both sides -> z undefined -> pass
        d1 = spark.createDataFrame([(5.0,)] * 10, "c double")
        d2 = spark.createDataFrame([(5.0,)] * 10, "c double")
        req = between_req(d1, d2, "mwc1", "mwc2")
        req.add_mann_whitney_constraint("c", "c")
        assert outcomes(req, spark) == [True]


class TestWassersteinMax:
    def test_pass_and_fail(self, spark):
        d1 = spark.createDataFrame([(float(v),) for v in range(100)], "c double")
        d2 = spark.createDataFrame(
            [(float(v) + 5.0,) for v in range(100)], "c double"
        )
        req = between_req(d1, d2, "ws1", "ws2")
        req.add_wasserstein_max_constraint("c", "c", 5.0)   # EMD == 5
        req.add_wasserstein_max_constraint("c", "c", 4.9)   # fail
        assert outcomes(req, spark) == [True, False]

    def test_empty_side_fails_cleanly(self, spark):
        d1 = spark.createDataFrame([(1.0,)], "c double")
        d2 = spark.createDataFrame([], "c double")
        req = between_req(d1, d2, "wse1", "wse2")
        req.add_wasserstein_max_constraint("c", "c", 1.0)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "insufficient data" in results[0].failure_message

    def test_validation(self, spark):
        d1 = spark.createDataFrame([(1.0,)], "c double")
        req = between_req(d1, d1, "wsv1", "wsv2")
        with pytest.raises(ValueError):
            req.add_wasserstein_max_constraint("c", "c", -1.0)


class TestProfileDrift:
    def test_identical_passes(self, spark, int_table1):
        req = between_req(int_table1, int_table1, "t1", "t1b")
        req.add_profile_drift_constraint(["col_int"])
        assert outcomes(req, spark) == [True]

    def test_mean_shift_fails_with_details(
        self, spark, int_table1, int_square_table
    ):
        req = between_req(int_table1, int_square_table, "t1", "sq")
        req.add_profile_drift_constraint(["col_int"])
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "drifted" in results[0].failure_message
        assert "col_int" in results[0].failure_message

    def test_validation(self, spark, int_table1):
        req = between_req(int_table1, int_table1, "t1", "t1b")
        with pytest.raises(ValueError):
            req.add_profile_drift_constraint([])
        with pytest.raises(ValueError):
            req.add_profile_drift_constraint(["col_int"], mean_rel_tol=-0.1)


class TestBootstrapMeanOverlap:
    @staticmethod
    def _sample(spark, offset):
        rows = [(i, float(100 + (i * 13) % 21 + offset)) for i in range(300)]
        return spark.createDataFrame(rows, "k long, v double")

    def test_same_distribution_overlaps(self, spark):
        # identical data shifted by a hair: CIs overlap
        req = between_req(
            self._sample(spark, 0), self._sample(spark, 0.1), "a", "b"
        )
        req.add_bootstrap_mean_overlap_constraint("k", "v", "k", "v")
        assert outcomes(req, spark) == [True]

    def test_shifted_mean_fails_and_tolerance(self, spark):
        req = between_req(
            self._sample(spark, 0), self._sample(spark, 50), "a", "b"
        )
        req.add_bootstrap_mean_overlap_constraint("k", "v", "k", "v")
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "statistically distinguishable" in results[0].failure_message
        # a generous gap tolerance absorbs the shift
        req = between_req(
            self._sample(spark, 0), self._sample(spark, 50), "a", "b2"
        )
        req.add_bootstrap_mean_overlap_constraint(
            "k", "v", "k", "v", max_gap=60.0
        )
        assert outcomes(req, spark) == [True]

    def test_empty_side_vacuous_and_validation(self, spark):
        empty = spark.createDataFrame([], "k long, v double")
        req = between_req(self._sample(spark, 0), empty, "a", "empty")
        req.add_bootstrap_mean_overlap_constraint("k", "v", "k", "v")
        assert outcomes(req, spark) == [True]
        with pytest.raises(ValueError):
            req.add_bootstrap_mean_overlap_constraint(
                "k", "v", "k", "v", max_gap=-1.0
            )
        with pytest.raises(ValueError):
            req.add_bootstrap_mean_overlap_constraint(
                "k", "v", "k", "v", n_reps=2
            )


class TestRank2Sample:
    def test_identity_passes_shift_fails(self, spark):
        d1 = spark.createDataFrame(
            [(float(v % 13),) for v in range(120)], "c double"
        )
        d2 = spark.createDataFrame(
            [(float(v % 13) + 6.0,) for v in range(110)], "c double"
        )
        req = between_req(d1, d1, "ad1", "ad1b")
        req.add_anderson_darling_constraint("c", "c", 0.001)
        req.add_cramer_von_mises_constraint("c", "c", 0.001)
        assert outcomes(req, spark) == [True, True]

        req2 = between_req(d1, d2, "ad2", "ad2b")
        req2.add_anderson_darling_constraint("c", "c", 1.0)
        req2.add_cramer_von_mises_constraint("c", "c", 0.5)
        results = req2.test(spark)
        assert [r.outcome for r in results] == [False, False]
        assert "Anderson-Darling" in results[0].failure_message
        assert "Cramér-von Mises" in results[1].failure_message

    def test_empty_side_fails_cleanly(self, spark):
        d1 = spark.createDataFrame([(1.0,)], "c double")
        d2 = spark.createDataFrame([], "c double")
        req = between_req(d1, d2, "ade1", "ade2")
        req.add_anderson_darling_constraint("c", "c", 1.0)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "no non-null rows" in results[0].failure_message

    def test_validation(self, spark):
        d1 = spark.createDataFrame([(1.0,)], "c double")
        req = between_req(d1, d1, "adv1", "adv2")
        with pytest.raises(ValueError):
            req.add_anderson_darling_constraint("c", "c", -0.1)
        with pytest.raises(ValueError):
            req.add_cramer_von_mises_constraint("", "c", 0.1)


class TestJoinCardinality:
    def test_gate_pass_and_fail(self, spark):
        from datajudge_spark import BetweenRequirement

        spark.createDataFrame(
            [(k,) for k in [1, 1, 1, 2, 3, 3]], "k long"
        ).createOrReplaceTempView("jc_l")
        spark.createDataFrame(
            [(k,) for k in [1, 1, 2, 3, 3, 3]], "k long"
        ).createOrReplaceTempView("jc_r")
        # products: k1 = 3*2 = 6, k2 = 1*1 = 1, k3 = 2*3 = 6 -> 13 rows
        req = BetweenRequirement.from_tables("jc_l", "jc_r")
        req.add_join_cardinality_constraint("k", "k", max_output_rows=13)
        req.add_join_cardinality_constraint("k", "k", max_output_rows=12)
        req.add_join_cardinality_constraint("k", "k", max_fanout=6)
        req.add_join_cardinality_constraint("k", "k", max_fanout=5)
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False, True, False]
        assert "would emit 13 rows" in results[1].failure_message
        assert "multiplies 6x" in results[3].failure_message
        assert "1=6" in results[3].failure_message

    def test_no_matching_keys_passes(self, spark):
        from datajudge_spark import BetweenRequirement

        spark.createDataFrame([(1,)], "k long").createOrReplaceTempView("jc_a")
        spark.createDataFrame([(2,)], "k long").createOrReplaceTempView("jc_b")
        req = BetweenRequirement.from_tables("jc_a", "jc_b")
        req.add_join_cardinality_constraint("k", "k", max_output_rows=0)
        assert [r.outcome for r in req.test(spark)] == [True]

    def test_requires_a_bound(self, spark):
        from datajudge_spark import BetweenRequirement

        req = BetweenRequirement.from_tables("jc_a", "jc_b")
        with pytest.raises(ValueError, match="At least one"):
            req.add_join_cardinality_constraint("k", "k")


class TestWelchTBetween:
    def test_pass_and_fail(self, spark):
        rng = __import__("random").Random(57)
        same = [(rng.randint(0, 100),) for _ in range(200)]
        d1 = spark.createDataFrame(same, "c long")
        d2 = spark.createDataFrame(
            [(rng.randint(0, 100),) for _ in range(200)], "c long"
        )
        d3 = spark.createDataFrame(
            [(v + 60,) for (v,) in same], "c long"
        )
        req = between_req(d1, d2, "wt1", "wt2")
        req.add_welch_ttest_constraint("c", "c")
        assert outcomes(req, spark) == [True]
        req2 = between_req(d1, d3, "wt1b", "wt3")
        req2.add_welch_ttest_constraint("c", "c")  # fail: mean shift
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "Welch t" in results[0].failure_message
        assert "p = " in results[0].failure_message

    def test_empty_side_fails_cleanly(self, spark):
        d1 = spark.createDataFrame([(1,), (2,), (3,)], "c long")
        d2 = spark.createDataFrame([], "c long")
        req = between_req(d1, d2, "wte1", "wte2")
        req.add_welch_ttest_constraint("c", "c")
        results = req.test(spark)
        assert results[0].outcome is False
        assert "no non-null rows" in results[0].failure_message

    def test_constant_identical_passes_single_row_fails(self, spark):
        d1 = spark.createDataFrame([(7,)] * 20, "c long")
        d2 = spark.createDataFrame([(7,)] * 25, "c long")
        req = between_req(d1, d2, "wtc1", "wtc2")
        req.add_welch_ttest_constraint("c", "c")
        assert outcomes(req, spark) == [True]
        # two constant columns with DIFFERENT means: zero variance yet a
        # certain mean shift — must fail, not pass (ADVICE r9)
        d4 = spark.createDataFrame([(5,)] * 25, "c long")
        req3 = between_req(d1, d4, "wtc1c", "wtc4")
        req3.add_welch_ttest_constraint("c", "c")
        results3 = req3.test(spark)
        assert results3[0].outcome is False
        assert "Certain mean shift" in results3[0].failure_message
        d3 = spark.createDataFrame([(7,)], "c long")
        req2 = between_req(d1, d3, "wtc1b", "wtc3")
        req2.add_welch_ttest_constraint("c", "c")
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_validation(self, spark):
        d = spark.createDataFrame([(1,)], "c long")
        req = between_req(d, d, "wtv1", "wtv2")
        with pytest.raises(ValueError):
            req.add_welch_ttest_constraint("c", "c", significance_level=0.0)


class TestWinnowingContaminationBetween:
    _PASSAGE = "the quick brown fox jumps over the lazy"  # 8 words = w+k-1

    def _corpora(self, spark):
        train = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta " + self._PASSAGE + " end"),
                (2, "one two three four five six seven eight nine ten"),
            ],
            "doc_id long, text string",
        )
        evals = spark.createDataFrame(
            [
                # contains the full 8-word passage -> guaranteed hit
                (10, "prefix words here " + self._PASSAGE + " suffix"),
                # disjoint vocabulary -> no shared fingerprints
                (11, "zymurgy quixotic jackdaw vexing pneumonia "
                     "sphinx waltz nymph quartz blitz"),
            ],
            "doc_id long, text string",
        )
        return train, evals

    def test_guarantee_and_gate(self, spark):
        train, evals = self._corpora(spark)
        # one of two eval docs contaminated: fraction 0.5
        req = between_req(train, evals, "wc_t", "wc_e")
        req.add_winnowing_contamination_constraint(
            "doc_id", "text", "doc_id", "text", max_fraction=0.5
        )
        req.add_winnowing_contamination_constraint(
            "doc_id", "text", "doc_id", "text", max_fraction=0.4
        )  # fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        msg = results[1].failure_message
        assert "1 of 2 eval documents" in msg
        assert "(10," in msg  # the contaminated doc id surfaces

    def test_min_overlap_raises_bar(self, spark):
        train, evals = self._corpora(spark)
        # the contaminated doc shares only part of its fingerprints;
        # an impossible bar (>= 1.0 overlap never exceeds 0.999...)
        req = between_req(train, evals, "wc_t2", "wc_e2")
        req.add_winnowing_contamination_constraint(
            "doc_id", "text", "doc_id", "text",
            max_fraction=0.0, min_overlap=0.999999,
        )
        assert outcomes(req, spark) == [True]

    def test_empty_eval_side_undefined(self, spark):
        train, _ = self._corpora(spark)
        evals = spark.createDataFrame(
            [(20, None)], "doc_id long, text string"
        )
        req = between_req(train, evals, "wc_t3", "wc_e3")
        req.add_winnowing_contamination_constraint(
            "doc_id", "text", "doc_id", "text", max_fraction=1.0
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_validation(self, spark):
        train, evals = self._corpora(spark)
        req = between_req(train, evals, "wc_t4", "wc_e4")
        with pytest.raises(ValueError, match="max_fraction"):
            req.add_winnowing_contamination_constraint(
                "doc_id", "text", "doc_id", "text", max_fraction=1.5
            )
        with pytest.raises(ValueError, match="min_overlap"):
            req.add_winnowing_contamination_constraint(
                "doc_id", "text", "doc_id", "text",
                max_fraction=0.5, min_overlap=1.0,
            )
