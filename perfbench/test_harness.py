"""Self-tests of the benchmark's own arithmetic and oracle.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

No Spark is started; the oracle tests use an in-memory DuckDB.
"""

from __future__ import annotations

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (clipped, compare_verdicts, interval_union,  # noqa: E402
                     neighbour_ratios, parse_sql_metric, tail_percentile)


class TailPercentile(unittest.TestCase):
    def test_twenty_values_give_the_median_rank(self):
        xs = [float(i) for i in range(20, 0, -1)]  # unsorted on purpose
        self.assertEqual(tail_percentile(xs), (50.0, 10.0, 20))

    def test_hundred_values_give_p90(self):
        pct, value, n = tail_percentile([float(i) for i in range(1, 101)])
        self.assertEqual((pct, value, n), (90.0, 90.0, 100))

    def test_ten_values_beyond_the_reported_rank(self):
        xs = [float(i) for i in range(1, 38)]
        pct, value, n = tail_percentile(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 100.0 * 27 / 37)

    def test_eleven_values_reach_the_minimum(self):
        xs = [5.0, 1.0, 3.0, 4.0, 2.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0]
        pct, value, _ = tail_percentile(xs)
        self.assertEqual(value, 1.0)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_fewer_than_eleven_report_the_minimum_at_p0(self):
        self.assertEqual(tail_percentile([3.0, 2.0, 9.0]), (0.0, 2.0, 3))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            tail_percentile([])


class IntervalUnion(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertAlmostEqual(interval_union([(0, 1), (2, 3.5)]), 2.5)

    def test_overlap_counts_once(self):
        self.assertAlmostEqual(interval_union([(0, 2), (1, 3)]), 3.0)

    def test_nested_and_touching(self):
        self.assertAlmostEqual(interval_union([(0, 10), (2, 3), (10, 12)]), 12.0)

    def test_order_does_not_matter(self):
        spans = [(5, 6), (0, 1), (0.5, 2)]
        self.assertAlmostEqual(interval_union(spans), interval_union(reversed(spans)))

    def test_empty_and_reversed(self):
        self.assertEqual(interval_union([]), 0.0)
        self.assertEqual(interval_union([(3, 1)]), 0.0)

    def test_clipped_to_window(self):
        self.assertEqual(clipped([(0, 5), (6, 7), (9, 20)], 1, 10), [(1, 5), (6, 7), (9, 10)])
        self.assertEqual(clipped([(11, 12)], 1, 10), [])


class NeighbourRatios(unittest.TestCase):
    def test_linear_warm_up_cancels(self):
        # untraced 4, 2; traced 3 sits on the trend: no overhead
        self.assertEqual(neighbour_ratios([4.0, 3.0, 2.0]), [1.0])

    def test_overhead_against_both_neighbours(self):
        got = neighbour_ratios([2.0, 2.2, 2.0, 3.3, 3.0])
        self.assertEqual(len(got), 2)
        self.assertAlmostEqual(got[0], 1.1)
        self.assertAlmostEqual(got[1], 1.32)

    def test_traced_block_without_a_right_neighbour_is_left_out(self):
        self.assertEqual(neighbour_ratios([2.0, 5.0]), [])
        self.assertEqual(neighbour_ratios([2.0, 2.0, 2.0, 9.0]), [1.0])


class DriverGap(unittest.TestCase):
    """driver_gap_s is the operation's wall time minus the union of its
    SQL execution intervals; pool time is the union of executions
    submitted inside the pool span."""

    def test_gap_and_pool_attribution(self):
        from tracing import op_layers

        spans = [
            {"name": "engine.test", "start": 100.0, "end": 104.0},
            {"name": "engine.pool", "start": 101.0, "end": 102.5},
        ]
        execs = [
            {"start": 100.2, "end": 100.7},   # before the pool
            {"start": 101.0, "end": 102.0},   # pool, overlapping the next
            {"start": 101.2, "end": 102.4},   # pool
            {"start": 103.0, "end": 103.5},   # after the pool
            {"start": 103.2, "end": None},    # never finished: ignored
        ]
        for x in execs:
            x.update(scan_bytes=10.0, scan_rows=1.0, shuffle_bytes_written=0.0,
                     shuffle_records_written=0.0, python_worker_s=0.0,
                     python_worker_start_s=0.0, python_bytes_sent=0.0)
        layers = op_layers(4.0, 100.0, 104.0, spans, execs)
        self.assertAlmostEqual(layers["engine.sql_busy_s"], 0.5 + 1.4 + 0.5)
        self.assertAlmostEqual(layers["engine.driver_gap_s"], 4.0 - 2.4)
        self.assertAlmostEqual(layers["engine.pool_sql_s"], 1.4)
        self.assertEqual(layers["engine.sql_executions"], 5.0)
        self.assertEqual(layers["engine.scan_bytes"], 40.0)
        self.assertAlmostEqual(layers["engine.test_s"], 4.0)

    def test_gap_never_negative(self):
        from tracing import op_layers

        layers = op_layers(1.0, 0.0, 2.0, [], [
            {"start": 0.0, "end": 2.0, "scan_bytes": 0.0, "scan_rows": 0.0,
             "shuffle_bytes_written": 0.0, "shuffle_records_written": 0.0,
             "python_worker_s": 0.0, "python_worker_start_s": 0.0,
             "python_bytes_sent": 0.0}])
        self.assertEqual(layers["engine.driver_gap_s"], 0.0)


class Callsites(unittest.TestCase):
    def test_modules(self):
        from tracing import callsite_module, sql_by_callsite

        self.assertEqual(callsite_module(
            "collect at /a/b/datacontract_cli_spark/operators/drift.py:47"), "operators.drift")
        self.assertEqual(callsite_module(
            "collect at /usr/lib/python3.11/concurrent/futures/thread.py:58"), "pool")
        self.assertEqual(callsite_module("collectToPython at <unknown>:0"), "other")
        got = sql_by_callsite([
            {"callsite": "pool", "start": 0.0, "end": 2.0},
            {"callsite": "pool", "start": 1.0, "end": 3.0},
            {"callsite": "other", "start": 5.0, "end": None}])
        self.assertEqual(got, {"pool": 3.0})


class VerdictComparer(unittest.TestCase):
    expected = {
        "m__a__field_required": {"result": "failed", "value": 3},
        "m__a__field_type": {"result": "passed", "value": None},
        "m__row_count": {"result": "passed", "value": 10},
    }

    def actual(self, **override):
        out = {"m__a__field_required": ("failed", 3, "3 missing"),
               "m__a__field_type": ("passed", None, None),
               "m__row_count": ("passed", 10, None)}
        out.update(override)
        return out

    def test_agreement(self):
        self.assertEqual(compare_verdicts(self.actual(), self.expected), [])

    def test_integral_float_value_agrees(self):
        run = self.actual(m__row_count=("passed", 10.0, None))
        self.assertEqual(compare_verdicts(run, self.expected), [])

    def test_value_mismatch(self):
        run = self.actual(m__a__field_required=("failed", 4, None))
        self.assertEqual(compare_verdicts(run, self.expected),
                         ["m__a__field_required: value 4, oracle 3"])

    def test_result_mismatch(self):
        run = self.actual(m__a__field_type=("failed", None, "int != string"))
        self.assertEqual(len(compare_verdicts(run, self.expected)), 1)

    def test_verdict_only_when_oracle_has_no_value(self):
        run = self.actual(m__a__field_type=("passed", 123, None))
        self.assertEqual(compare_verdicts(run, self.expected), [])

    def test_error_is_always_a_mismatch(self):
        run = self.actual(m__row_count=("error", None, "ModuleNotFoundError"))
        problems = compare_verdicts(run, self.expected)
        self.assertEqual(problems, ["m__row_count: error (ModuleNotFoundError)"])

    def test_missing_and_unexpected_checks(self):
        run = self.actual()
        del run["m__row_count"]
        run["m__b__field_unique"] = ("passed", 0, None)
        self.assertEqual(compare_verdicts(run, self.expected), [
            "m__row_count: missing from the run",
            "m__b__field_unique: not expected by the oracle (result passed)"])


class SqlMetricStrings(unittest.TestCase):
    def test_formats(self):
        self.assertEqual(parse_sql_metric("2,000,000"), 2_000_000.0)
        self.assertAlmostEqual(parse_sql_metric("51.1 MiB"), 51.1 * 2 ** 20)
        self.assertAlmostEqual(parse_sql_metric(
            "total (min, med, max (stageId: taskId))\n22.4 MiB (5.6 MiB, 5.6 MiB, "
            "5.6 MiB (stage 43.0: task 84))"), 22.4 * 2 ** 20)
        self.assertAlmostEqual(parse_sql_metric("total (min, med, max)\n1.2 s (0.3 s)"), 1.2)
        self.assertAlmostEqual(parse_sql_metric("120 ms"), 0.12)
        self.assertAlmostEqual(parse_sql_metric("2.5 m"), 150.0)
        self.assertEqual(parse_sql_metric("1356.0 B"), 1356.0)
        self.assertIsNone(parse_sql_metric(""))
        self.assertIsNone(parse_sql_metric(None))


class OracleSemantics(unittest.TestCase):
    """The oracle's reading of ODCS rules on a table small enough to check
    by eye."""

    def test_counts(self):
        import oracle

        rel = ("(SELECT * FROM (VALUES (1, 'a', 5), (2, NULL, -1), (2, 'zz', 7), "
               "(4, 'b', NULL)) t(id, s, v))")
        parent = "(SELECT * FROM (VALUES (1), (2)) p(id))"
        contract = {"schema": [
            {"name": "m", "properties": [
                {"name": "id", "logicalType": "integer", "unique": True,
                 "quality": [{"metric": "referentialIntegrity", "mustBe": 0,
                              "arguments": {"ref": "p.id"}}]},
                {"name": "s", "logicalType": "string", "required": True,
                 "logicalTypeOptions": {"enum": ["a", "b"], "maxLength": 1}},
                {"name": "v", "logicalType": "integer",
                 "logicalTypeOptions": {"minimum": 0}},
                {"name": "gone", "logicalType": "string"},
            ], "quality": [{"type": "library", "metric": "rowCount", "mustBeGreaterThan": 3}]},
            {"name": "p", "properties": []},
        ]}
        got = oracle.expected_for({"m": rel, "p": parent}, contract)["checks"]
        want = {
            "m__id__field_unique": ("failed", 1),
            "m__id__referential_integrity": ("failed", 1),
            "m__s__field_required": ("failed", 1),
            "m__s__field_enum": ("failed", 1),
            "m__s__field_max_length": ("failed", 1),
            "m__v__field_minimum": ("failed", 1),
            "m__row_count": ("passed", 4),
            "m__gone__field_is_present": ("failed", None),
            "m__gone__field_type": ("failed", None),
            "m__id__field_type": ("passed", None),
        }
        for key, (result, value) in want.items():
            self.assertEqual((got[key]["result"], got[key]["value"]), (result, value), key)

    def test_thresholds(self):
        from oracle import passes

        self.assertTrue(passes({"mustBe": 0}, 0))
        self.assertFalse(passes({"mustBeLessThan": 5}, 5))
        self.assertTrue(passes({"mustBeGreaterThan": 0}, 1))
        self.assertFalse(passes({"mustBeLessThan": 0.1}, float("nan")))


if __name__ == "__main__":
    unittest.main()
