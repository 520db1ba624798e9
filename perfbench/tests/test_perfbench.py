"""Unit tests for the benchmark's own logic (no JVM, no Spark).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_build", "test")


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_ops(self):
        for w in workloads.SPEC:
            self.assertEqual(workloads.generate(w, 5, 2), workloads.generate(w, 5, 2), w)
            self.assertEqual(workloads.warmup_ops(w, 5), workloads.warmup_ops(w, 5), w)

    def test_other_seed_other_constants(self):
        for w in workloads.SPEC:
            self.assertNotEqual(workloads.generate(w, 5, 2), workloads.generate(w, 6, 2), w)

    def test_template_order_is_seed_independent(self):
        for w in workloads.SPEC:
            a = [o["template"] for o in workloads.generate(w, 1, 2)]
            b = [o["template"] for o in workloads.generate(w, 2, 2)]
            self.assertEqual(a, b, w)
        deck = workloads.query_deck(0)
        self.assertEqual(sorted(set(deck)), sorted(workloads.TEMPLATES))
        self.assertEqual(len(deck), sum(w for _, w in workloads.INTERACTIVE.values())
                         + len(workloads.ANALYTIC))

    def test_warmup_covers_every_template(self):
        for w in workloads.SPEC:
            warm = workloads.warmup_ops(w, 1)
            self.assertEqual({o["template"] for o in warm},
                             {o["template"] for o in workloads.generate(w, 1, 2)}, w)
            # warm-up ops never share an id with a timed op
            self.assertTrue(all(o["id"] < 0 for o in warm))

    def test_kql_ops_carry_oracle_and_tables(self):
        for op in workloads.generate("query", 3, 2):
            self.assertTrue(op["kql"] and op["sql"] and op["tables"])
            for t in op["tables"]:
                self.assertIn(t, run.WORKLOAD_TABLES["query"])

    def test_tables_are_seeded(self):
        import pyarrow.parquet as pq
        shutil.rmtree(SCRATCH, ignore_errors=True)
        try:
            paths = {}
            for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
                d = os.path.join(SCRATCH, tag)
                datagen.write_tables(d, seed, 0.001, ["orders", "events", "documents"])
                paths[tag] = d
            for t in ("orders", "events", "documents"):
                a = pq.read_table(f"{paths['a']}/{t}.parquet")
                self.assertTrue(a.equals(pq.read_table(f"{paths['b']}/{t}.parquet")), t)
                self.assertFalse(a.equals(pq.read_table(f"{paths['c']}/{t}.parquet")), t)
            # a table's rows do not depend on which other tables are written
            d = os.path.join(SCRATCH, "d")
            datagen.write_tables(d, 1, 0.001, ["orders"])
            self.assertTrue(pq.read_table(f"{d}/orders.parquet").equals(
                pq.read_table(f"{paths['a']}/orders.parquet")))
        finally:
            shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_whole_cycles(self):
        for w in workloads.SPEC:
            ops = workloads.generate(w, 1, 3)
            cycles = [o["cycle"] for o in ops]
            self.assertEqual(len(set(cycles)), 3, w)
            self.assertEqual(cycles, sorted(cycles), w)

    def test_stream_batches_are_seeded(self):
        a = run.stream_batches(3, 2, 50, 600)
        b = run.stream_batches(3, 2, 50, 600)
        c = run.stream_batches(4, 2, 50, 600)
        self.assertEqual(a.keys(), b.keys())
        for k in a:
            self.assertEqual(list(a[k]["event_id"]), list(b[k]["event_id"]))
            self.assertEqual(list(a[k]["ts"]), list(b[k]["ts"]))
        self.assertNotEqual(list(a[("session", 0, 1)]["ts"]), list(c[("session", 0, 1)]["ts"]))


class StatsTest(unittest.TestCase):
    def test_percentile(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([1.0, 2.0], 50), 1.5)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_union_and_self_time(self):
        self.assertEqual(stats.union([(3, 4), (0, 1), (0.5, 2)]), [(0, 2), (3, 4)])
        self.assertEqual(stats.length([(0, 1), (0.5, 2), (5, 5)]), 2)
        # children overlap each other and stick out of the parent
        self.assertAlmostEqual(stats.self_time((0, 10), [(-1, 2), (1, 3), (8, 12)]), 5)

    def test_layer_split_sums_to_wall(self):
        op = (0.0, 10.0)
        layers = [("catalog", [(0.0, 1.0)]), ("parse", [(1.0, 1.5)]),
                  ("plan", [(1.5, 3.0)]), ("catalyst.optimization", [(3.0, 3.5)]),
                  ("catalyst.planning", [(3.5, 4.0)]),
                  ("exec", [(3.8, 6.0), (7.0, 9.0), (9.5, 11.0)])]
        s = stats.layer_split(op, layers)
        self.assertAlmostEqual(s["catalog"], 1.0)
        self.assertAlmostEqual(s["plan"], 1.5)
        # exec overlapping planning is not counted twice; past the op is clipped
        self.assertAlmostEqual(s["exec"], 2.0 + 2.0 + 0.5)
        self.assertAlmostEqual(s["other"], 1.0 + 0.5)
        self.assertAlmostEqual(sum(s.values()), 10.0)
        self.assertTrue(all(v >= 0 for v in s.values()))


class FailedOpsTest(unittest.TestCase):
    """A throwing op and a wrong answer both count as failed and neither
    contributes a latency sample."""

    class FakeOracle:
        def check_kql(self, op, result):
            return oracle.compare_rows(result, op["want"])

    def test_throwing_and_wrong_ops_are_failed(self):
        ops = {i: {"id": i, "kind": "kql", "want": [[i + 1, c]]} for i, c in enumerate("abc")}
        recs = [
            {"id": 0, "template": "t", "ok": True, "error": None, "result": [[1, "a"]],
             "t0": 0.0, "t1": 1.0, "traced": False},
            {"id": 1, "template": "t", "ok": False, "error": "java.lang.RuntimeException: boom",
             "result": None, "t0": 1.0, "t1": 1.001, "traced": False},
            {"id": 2, "template": "t", "ok": True, "error": None, "result": [[3, "WRONG"]],
             "t0": 1.0, "t1": 1.002, "traced": False},
        ]
        failed = run.check_ops(recs, ops, self.FakeOracle())
        self.assertEqual(failed, 2)
        self.assertEqual([r["failed"] for r in recs], [False, True, True])
        out = {"phases": [{"traced": False, "start": 0.0, "end": 2.0},
                          {"traced": True, "start": 2.0, "end": 9.0}],
               "env": {"vm_hwm_kb": 2048}, "setup_s": 3.0}
        m, extra = run.e2e_metrics(out, recs)
        self.assertEqual(extra["latency_samples"][0], 1)
        self.assertEqual(m["latency_p50_s"][0], 1.0)        # the fast failures are not samples
        self.assertAlmostEqual(extra["failed_ratio"][0], 2 / 3)
        # correct ops per second of the untraced phase
        self.assertAlmostEqual(m["throughput_ops_s"][0], 1 / 2.0)
        self.assertEqual(m["setup_s"][0], 3.0)

    def test_value_comparison(self):
        self.assertIsNone(oracle.compare_rows([[1, 2.00001, "x"]], [[1, 2.0, "x"]]))
        self.assertIsNotNone(oracle.compare_rows([[1, 2.01, "x"]], [[1, 2.0, "x"]]))
        self.assertIsNotNone(oracle.compare_rows([[1]], [[1], [2]]))
        self.assertIsNotNone(oracle.compare_rows([[True]], [[1]]))


def _ev(ts, user, event_id=0, et="view", v=50.0):
    return (ts, et, v, event_id, user)


MIN = 60_000_000


class SinkCheckTest(unittest.TestCase):
    """The stream sinks are checked against a recompute of the batches
    fed; a sink that lost or invented rows fails its stream."""

    def fed(self):
        b0 = [_ev(0, 1, 1, v=10.0), _ev(1 * MIN, 1, 2), _ev(2 * MIN, 2, 3, "click", 70.0),
              _ev(30 * MIN, 1, 4)]
        b1 = [_ev(70 * MIN, 2, 5), _ev(71 * MIN, 2, 5), _ev(140 * MIN, 3, 6)]
        right = [[_ev(5 * MIN, 1), _ev(40 * MIN, 1)], [_ev(75 * MIN, 2)]]
        return {"kql_bin": [b0, b1], "session": [b0, b1], "dedup": [b0, b1],
                "join": [b0, b1], "join_r": right}

    def sinks(self):
        h = 3_600_000_000
        return {
            # update mode: key (0, view) updated in both batches
            "kql_bin": [[0, "view", 2, 100.0], [0, "click", 1, 70.0], [0, "view", 2, 100.0],
                        [h, "view", 2, 100.0], [2 * h, "view", 1, 50.0]],
            # at a 25-minute watermark the first sessions of users 1
            # and 2 (ends 6 and 7 min) are closed
            "session": [[1, 0, 6 * MIN, 2], [2, 2 * MIN, 7 * MIN, 1]],
            "session_watermark": 25 * MIN,
            "dedup": [1, 2, 3, 4, 5, 6],
            "join": [[1, 0, 5 * MIN], [1, 1 * MIN, 5 * MIN], [1, 30 * MIN, 40 * MIN],
                     [2, 70 * MIN, 75 * MIN], [2, 71 * MIN, 75 * MIN]],
        }

    def test_right_sinks_pass(self):
        self.assertEqual(oracle.check_sinks(self.sinks(), self.fed(), 20.0), {})

    def test_wrong_sinks_fail(self):
        for stream, wrong in [
                ("kql_bin", lambda x: x[:-1]),                          # a window lost
                ("kql_bin", lambda x: x[:1] + [[0, "click", 2, 70.0]] + x[2:]),
                ("dedup", lambda x: x + [5]),                           # a duplicate kept
                ("dedup", lambda x: x[:-1]),                            # an event lost
                ("dedup", lambda x: []),
                ("session", lambda x: x[:1]),                           # a closed session lost
                ("session", lambda x: [[1, 0, 6 * MIN, 3]] + x[1:]),    # a wrong count
                ("session", lambda x: x + [[1, 30 * MIN, 35 * MIN, 2]]),
                ("join", lambda x: x[1:]),
                ("join", lambda x: x + [[3, 140 * MIN, 141 * MIN]])]:
            sinks = self.sinks()
            sinks[stream] = wrong(sinks[stream])
            self.assertEqual(list(oracle.check_sinks(sinks, self.fed(), 20.0)), [stream], stream)

    def test_wrong_sink_fails_the_last_feed(self):
        fed = self.fed()
        stream_in = {(s, 0): b for s, b in fed.items() if s != "join_r"}
        stream_in[("join", 1)] = fed["join_r"]
        warm = [{"kind": "stream", "stream": s, "cycle": 0} for s in ("kql_bin", "session", "dedup", "join")]
        ops = {i: {"id": i, "kind": "stream", "stream": s, "cycle": 1}
               for i, s in enumerate(["kql_bin", "session", "dedup", "join"])}
        recs = [{"id": i, "template": op["stream"], "ok": True, "error": None,
                 "result": {"input_rows": len(fed[op["stream"]][1]) + (len(fed["join_r"][1]) if op["stream"] == "join" else 0)},
                 "t0": 0.0, "t1": 1.0, "traced": False} for i, op in ops.items()]
        sinks = self.sinks()
        self.assertEqual(run.check_ops(recs, ops, None, stream_in, warm, sinks, 20.0), 0)
        sinks["dedup"] = sinks["dedup"][:-1]
        self.assertEqual(run.check_ops(recs, ops, None, stream_in, warm, sinks, 20.0), 1)
        self.assertTrue(recs[2]["failed"] and recs[2]["why"].startswith("dedup sink"))


class IncrementalDedupTest(unittest.TestCase):
    """dedupIncremental keeps no exact duplicate and drops no doc below
    the Jaccard threshold against the index and lower-id batch docs."""

    def setUp(self):
        import duckdb
        self.orc = oracle.Oracle.__new__(oracle.Oracle)
        self.orc.con = duckdb.connect()
        base = "a b c d e f g h i j"
        docs = [(0, base), (1, "k l m n o p q r s t"),        # indexed
                (2, "  " + base.upper()),                       # exact dup of 0
                (3, base.replace("j", "x")),                    # Jaccard 9/11 vs 0
                (4, "u v w x y z aa bb cc dd"),                 # new
                (5, "u v w x y z aa bb cc ee"),                 # 9/11 vs 4
                (6, "u v w x y z aa bb ff gg")]                 # 8/12 vs 4: keep
        self.orc.con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        self.orc.con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
        self.history = [{"stage": "minhash_index_build", "doc_lo": 0, "doc_hi": 2}]
        self.op = {"stage": "dedup_incremental", "doc_lo": 2, "doc_hi": 7}

    def check(self, kept):
        return self.orc.check_llm(self.op, {"kept": kept}, self.history)

    def test_right_answer_passes(self):
        self.assertIsNone(self.check([4, 6]))
        # a missed near duplicate (minhash recall) is not a failure
        self.assertIsNone(self.check([3, 4, 5, 6]))

    def test_wrong_answers_fail(self):
        self.assertIsNotNone(self.check([2, 4, 6]))     # an exact duplicate kept
        self.assertIsNotNone(self.check([4]))           # 6 dropped falsely
        self.assertIsNotNone(self.check([]))            # everything dropped
        self.assertIsNotNone(self.check([4, 6, 9]))     # an id outside the batch


if __name__ == "__main__":
    unittest.main()
