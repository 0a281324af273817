"""Tests of the benchmark harness's own logic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import statistics
import unittest

import harness
import run


def span(id, name, kind, start, end, parent=None, rows=-1, error=None,
         layer="query", **extra):
    return dict(id=id, name=name, kind=kind, layer=layer, parent=parent,
                start=start, end=end, rows=rows, error=error, **extra)


def session_raw(query_rows=7, error=None, skip=None):
    """A session run: setup, one extraction round and one cold session
    with two stages and two queries."""
    spans = [
        span(0, "setup", "setup", 0.0, 2.0),
        span(1, "extract.triples", "warmup", 1.0, 2.0, parent=0, rows=100),
        span(2, "extract", "extract", 2.0, 7.0),
        span(3, "extract.triples", "extract_pass_n", 2.0, 3.0, parent=2, rows=100),
        span(4, "extract.triples", "extract_pass_1", 3.0, 7.0, parent=2, rows=100),
        span(5, "session", "session", 10.0, 20.0),
        span(6, "stages", "stages", 10.0, 14.0, parent=5),
        span(7, "stage.docs", "stage", 10.0, 11.0, parent=6, rows=5, layer="ingest"),
        span(8, "stage.mentions", "stage", 11.0, 14.0, parent=6, rows=9,
             layer="extract"),
        span(9, "queries", "queries", 14.0, 19.0, parent=5),
        span(10, "query.q01", "query", 14.0, 16.0, parent=9, rows=query_rows,
             error=error),
        span(11, "query.q02", "query", 16.0, 19.0, parent=9, rows=3),
        span(12, "extract.linked_ratio", "check", 19.0, 20.0, parent=5, rows=9),
    ]
    if skip:
        spans = [s for s in spans if s["name"] != skip]
    facts = [dict(name="cores", value=4, span=None),
             dict(name="session_pinned_mb", value=12.5, span=6)]
    return dict(spans=spans, facts=facts)


EXPECTED = {"rows": {"extract.triples": 100, "stage.docs": 5,
                     "stage.mentions": 9, "query.q01": 7, "query.q02": 3,
                     "runall.edges": 40},
            "invariants": ["runall.invariant_a"]}


def runall_raw(resumed_rows=40, invariant=0, resumed_invariant=0,
               resumed_hash=77.0):
    spans = [
        span(0, "runall", "runall", 0.0, 12.0, layer="checkpoints"),
        span(1, "runall.edges", "runall_cold", 0.0, 9.0, parent=0, rows=40),
        span(2, "runall.stage.passages", "runall_stage", 0.0, 4.0, parent=1),
        span(3, "runall.edges", "runall_resumed", 10.0, 12.0, parent=0,
             rows=resumed_rows),
    ]
    facts = [dict(name="cores", value=4, span=None),
             dict(name="runall_warehouse_mb", value=8.0, span=1),
             dict(name="runall.invariant_a", value=invariant, span=1),
             dict(name="runall.edges_hash", value=77.0, span=1),
             dict(name="runall.invariant_a", value=resumed_invariant, span=3),
             dict(name="runall.edges_hash", value=resumed_hash, span=3)]
    return dict(spans=spans, facts=facts)


class QuartilesTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        q1, med, q3 = harness.quartiles(values)
        self.assertEqual([q1, med, q3], statistics.quantiles(values, n=4))
        self.assertEqual(med, statistics.median(values))

    def test_one_sample_is_its_own_quartiles(self):
        self.assertEqual(harness.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            harness.quartiles([])


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        spans = [span(0, "root", "session", 0.0, 10.0),
                 span(1, "a", "stage", 1.0, 4.0, parent=0),
                 span(2, "b", "stage", 3.0, 5.0, parent=0),
                 span(3, "c", "stage", 7.0, 8.0, parent=0),
                 span(4, "a1", "stage", 1.0, 2.0, parent=1)]
        selfs = harness.self_times(spans)
        self.assertAlmostEqual(selfs[0], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(selfs[1], 2.0)
        self.assertAlmostEqual(selfs[4], 1.0)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(0, "root", "runall_cold", 0.0, 4.0),
                 span(1, "late", "runall_stage", 3.0, 6.0, parent=0)]
        self.assertAlmostEqual(harness.self_times(spans)[0], 3.0)


class CheckTest(unittest.TestCase):
    def test_clean_session_passes(self):
        attempted, failures, bad = harness.check(session_raw(), EXPECTED)
        # warm-up, two passes, two stages, two queries, the linked ratio
        self.assertEqual((attempted, failures, bad), (8, [], set()))

    def test_row_mismatch_fails_the_op_and_its_ancestors(self):
        attempted, failures, bad = harness.check(session_raw(query_rows=8),
                                                 EXPECTED)
        self.assertEqual(len(failures), 1)
        self.assertIn("query.q01: 8 rows, expected 7", failures[0])
        self.assertEqual(bad, {10, 9, 5})

    def test_exception_fails_the_op(self):
        _, failures, bad = harness.check(session_raw(error="boom"), EXPECTED)
        self.assertEqual(failures, ["query.q01: boom"])
        self.assertIn(10, bad)

    def test_missing_query_is_attempted_and_failed(self):
        attempted, failures, _ = harness.check(session_raw(skip="query.q02"),
                                               EXPECTED)
        self.assertEqual(attempted, 8)
        self.assertEqual(failures, ["session: query.q02 did not run"])

    def test_runall_resumed_must_match_expected_and_cold(self):
        _, failures, bad = harness.check(runall_raw(resumed_rows=39), EXPECTED)
        self.assertEqual(failures, ["runall.edges: 39 rows, expected 40"])
        self.assertIn(3, bad)
        unrecorded = dict(EXPECTED, rows={})
        _, failures, _ = harness.check(runall_raw(resumed_rows=39), unrecorded)
        self.assertEqual(failures,
                         ["runall.edges: 39 edges, the cold run had 40"])

    def test_runall_invariant_must_be_zero(self):
        _, failures, bad = harness.check(runall_raw(invariant=2), EXPECTED)
        self.assertEqual(failures,
                         ["runall.edges: runall.invariant_a = 2, expected 0"])
        self.assertEqual(bad, {1, 0})
        _, failures, bad = harness.check(runall_raw(resumed_invariant=3),
                                         EXPECTED)
        self.assertEqual(failures,
                         ["runall.edges: runall.invariant_a = 3, expected 0"])
        self.assertEqual(bad, {3, 0})

    def test_runall_invariant_must_be_recorded_by_both_runs(self):
        raw = runall_raw()
        raw["facts"] = [f for f in raw["facts"]
                        if not (f["span"] == 3 and "invariant" in f["name"])]
        _, failures, bad = harness.check(raw, EXPECTED)
        self.assertEqual(failures,
                         ["runall.edges: runall.invariant_a not recorded"])
        self.assertEqual(bad, {3, 0})

    def test_runall_resumed_edges_must_hash_like_the_cold_ones(self):
        _, failures, bad = harness.check(runall_raw(resumed_hash=78.0),
                                         EXPECTED)
        self.assertEqual(failures,
                         ["runall.edges: edge hash [78.0], the cold run had [77.0]"])
        self.assertEqual(bad, {3, 0})
        raw = runall_raw()
        raw["facts"] = [f for f in raw["facts"] if f["name"] != "runall.edges_hash"]
        _, failures, _ = harness.check(raw, EXPECTED)
        self.assertEqual(len(failures), 1)

    def test_error_outside_an_op_counts(self):
        raw = runall_raw()
        raw["spans"][0]["error"] = "checkpoint table unreadable"
        attempted, failures, _ = harness.check(raw, EXPECTED)
        self.assertEqual(attempted, 3)
        self.assertEqual(len(failures), 1)


class EndToEndTest(unittest.TestCase):
    def test_session_metrics(self):
        raw = session_raw()
        _, _, bad = harness.check(raw, EXPECTED)
        m = harness.end_to_end_samples(raw, bad, "session")
        self.assertEqual(m["setup_s"], [2.0])
        self.assertEqual(m["extract_triples_per_s"], [100.0])
        self.assertEqual(m["build_s"], [4.0])
        self.assertEqual(m["answer_s"], [5.0])
        self.assertEqual(m["total_s"], [9.0])
        self.assertEqual(m["stored_mb"], [12.5])

    def test_times_are_steal_adjusted(self):
        raw = session_raw()
        # a quarter of the host's CPU demand went to other guests
        raw["spans"][6].update(busy_jiffies=300, steal_jiffies=100)
        m = harness.end_to_end_samples(raw, set(), "session")
        self.assertEqual(m["build_s"], [3.0])
        self.assertEqual(m["total_s"], [8.0])

    def test_failed_session_is_not_a_timing(self):
        raw = session_raw(query_rows=1)
        _, _, bad = harness.check(raw, EXPECTED)
        m = harness.end_to_end_samples(raw, bad, "session")
        self.assertNotIn("answer_s", m)
        self.assertNotIn("total_s", m)

    def test_runall_metrics(self):
        raw = runall_raw()
        _, _, bad = harness.check(raw, EXPECTED)
        m = harness.end_to_end_samples(raw, bad, "runall")
        self.assertEqual((m["build_s"], m["answer_s"], m["total_s"],
                          m["stored_mb"]), ([9.0], [2.0], [11.0], [8.0]))

    def test_scaling_efficiency_and_trace_overhead(self):
        raw = session_raw()
        raw["spans"].append(span(13, "extract.triples", "extract_pass_n_untraced",
                                 7.0, 7.8, parent=2, rows=100))
        m = harness.per_layer(raw)
        self.assertEqual(m["extract.scaling_efficiency_1v4"], (1.0, "ratio"))
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 0.25)
        raw["facts"][0]["value"] = 1
        self.assertNotIn("extract.scaling_efficiency_1v4",
                         harness.per_layer(raw))


class FailedShareTest(unittest.TestCase):
    def table_share(self, table):
        return {row[0]: row for row in table}["failed_share"]

    def test_clean_run_is_correct_with_zero_share(self):
        result, table, failures = run.summarize(session_raw(), EXPECTED,
                                                "session", traced=False)
        self.assertEqual((result["correct"], result["attempted"],
                          result["failed"], failures), (True, 8, 0, []))
        self.assertEqual(self.table_share(table)[2], 0.0)
        self.assertEqual(set(result["metrics"]), set(harness.END_TO_END_UNITS))

    def test_mismatch_is_counted_against_attempted(self):
        result, table, failures = run.summarize(session_raw(query_rows=8),
                                                EXPECTED, "session", traced=False)
        self.assertFalse(result["correct"])
        self.assertEqual((result["attempted"], result["failed"]), (8, 1))
        self.assertEqual(self.table_share(table)[2], 1 / 8)
        # the failed session gives no build, answer or total time
        self.assertNotIn("answer_s", result["metrics"])
        self.assertIn("answer_s: not measured", failures)


if __name__ == "__main__":
    unittest.main()
