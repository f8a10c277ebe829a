"""Tests of the benchmark's own logic: statistics, the seeded generator and
every cli_files output check (each must pass a right answer and flag a wrong
one). Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import sample  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(HERE), "fixtures", "sf0.01")


def show(header, rows):
    """Render a table the way Spark's Dataset.show() does."""
    widths = [max(len(str(c)) for c in col) for col in zip(header, *rows)]
    border = "+" + "+".join("-" * w for w in widths) + "+"
    line = lambda cells: "|" + "|".join(str(c).rjust(w) for c, w in zip(cells, widths)) + "|"
    return "\n".join([border, line(header), border] + [line(r) for r in rows] + [border]) + "\n"


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        self.assertEqual(checks.tail(list(range(1, 101))), (90, 90, 100))
        p, v, n = checks.tail(list(range(1, 21)))
        self.assertEqual((p, v, n), (50, 10, 20))
        self.assertEqual(sum(1 for x in range(1, 21) if x > v), 10)

    def test_never_fewer_than_ten_beyond(self):
        for n in (20, 25, 37, 64, 200):
            xs = [float(i % 7) + i / 1000 for i in range(n)]
            p, v, _ = checks.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)
            # one percentile higher would leave fewer than ten beyond
            if p < 99:
                s = sorted(xs)
                v2 = s[max(0, -(-(p + 1) * n // 100) - 1)]
                self.assertLess(sum(1 for x in xs if x > v2), 10)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(checks.tail([1.0, 2.0, 3.0]), (50, 2.0, 3))
        self.assertEqual(checks.tail([5.0] * 30)[0], 50)
        # 16 samples: only p37 has ten beyond, and a tail is never below the median
        self.assertEqual(checks.tail(list(range(1, 17))), (50, 8.5, 16))


class OpMedianTest(unittest.TestCase):
    def test_typical_runs_of_the_middle_ops(self):
        runs = [("a", 1.0), ("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.1), ("b", 2.8),
                ("c", 4.9), ("c", 5.1), ("c", 5.2), ("d", 6.0), ("d", 6.0), ("d", 6.0)]
        # the medians of the middle ops b and c, averaged
        self.assertAlmostEqual(checks.op_median(runs), (2.1 + 5.1) / 2)
        # one slower run of b moves the pooled median, not the op median
        slower = [("b", 3.5) if r == ("b", 2.8) else r for r in runs]
        self.assertAlmostEqual(checks.op_median(slower), checks.op_median(runs))
        self.assertNotAlmostEqual(checks.median([x for _, x in slower]),
                                  checks.median([x for _, x in runs]))


class SampleRuleTest(unittest.TestCase):
    def test_quantile_picks_keep_the_stream_share(self):
        times = {f"events_{i:02d}": i / 10 for i in range(10)}
        times.update({f"stream_{i:02d}": 1 + i / 10 for i in range(6)})
        # 8 x 6 / 16 = 3 stream ops; batch quantiles 0.1 .. 0.9 of 10 ops
        self.assertEqual(sample.sample(times, k=8),
                         ["events_01", "events_03", "events_05", "events_07", "events_09",
                          "stream_01", "stream_03", "stream_05"])

    def test_excluded_ops_are_never_picked(self):
        times = {f"events_{c}": t for t, c in enumerate("abcde")}
        times.update({"stream_ann_probe": 1.0, "stream_b": 2.0, "stream_c": 3.0})
        self.assertEqual(sample.sample(times, k=4), ["events_b", "events_d", "stream_b", "stream_c"])

    def test_events_stream_is_the_rule_applied_to_the_measured_times(self):
        timing = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCH_r13.json")
        if not os.path.exists(timing):
            self.skipTest("no BENCH_r13.json beside the benchmark")
        with open(timing) as f:
            times = json.load(f)["parsed"]["queries"]
        with open(os.path.join(os.path.dirname(HERE), "src", "main", "scala", "perfbench",
                               "Workloads.scala")) as f:
            scala = f.read()
        listed = re.findall(r'"([a-z_]+)"', scala.split("val eventsStream")[1].split(")")[0])
        self.assertEqual(listed, sample.sample(
            {op: t for op, t in times.items() if op.startswith(("events_", "stream_"))}))


class MetricNamesTest(unittest.TestCase):
    """The run prints exactly the metrics BENCHMARK.json declares, with their units."""

    result = {"samples": [{"pass": 1, "traced": t, "op": "x", "kind": "query", "seconds": 1.0,
                           "output": "", "error": None, "exit": 0, "build_s": 0.5,
                           "action_s": 0.5} for t in (False, True)],
              "passes": [{"pass": 1, "traced": False, "seconds": 1.0},
                         {"pass": 2, "traced": True, "seconds": 1.0}],
              "layers": [{}], "probes": {}, "probe_digests": {},
              "bytes_written_per_input_byte": 0.0, "session_start_s": 1.0, "setup_s": [0.1], "cold_pass_s": 1.0,
              "first_op_s": 2.0,
              "peak_rss_mb": 100.0, "gc_s": 0.0, "steal_ticks": 0}

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_end_to_end(self):
        metrics, _ = run.end_to_end(self.result, [1.1, 0.9], 0.0)
        self.assertEqual({k: u for k, (_, u) in metrics.items()},
                         {m["name"]: m["unit"] for m in self.bench["end_to_end"]})

    def test_per_layer(self):
        for workload, manifest in (("events_stream", None), ("cli_files", {"commands": []})):
            values, _ = run.per_layer(self.result, workload, manifest)
            self.assertEqual({k: run.unit_of(k) for k in values},
                             {m["name"]: m["unit"] for m in self.bench["per_layer"]})


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.a = gen.generate(FIXTURES, os.path.join(cls.tmp, "a"), 11)
        cls.b = gen.generate(FIXTURES, os.path.join(cls.tmp, "b"), 11)
        cls.c = gen.generate(FIXTURES, os.path.join(cls.tmp, "c"), 12)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def files(self, name):
        root = os.path.join(self.tmp, name)
        return sorted(os.path.relpath(os.path.join(d, f), root)
                      for d, _, fs in os.walk(root) for f in fs)

    def test_same_seed_is_byte_identical(self):
        self.assertEqual(self.files("a"), self.files("b"))
        for f in self.files("a"):
            self.assertTrue(filecmp.cmp(os.path.join(self.tmp, "a", f),
                                        os.path.join(self.tmp, "b", f), shallow=False), f)
        self.assertEqual(self.a, self.b)

    def test_other_seed_changes_inputs_and_order(self):
        differ = [f for f in ("lineitem.parquet", "lineitem.csv", "orders.json", "orders.avro")
                  if not filecmp.cmp(os.path.join(self.tmp, "a", f),
                                     os.path.join(self.tmp, "c", f), shallow=False)]
        self.assertEqual(len(differ), 4)
        self.assertNotEqual([c["id"] for c in self.a["commands"]],
                            [c["id"] for c in self.c["commands"]])


class CliCheckTest(unittest.TestCase):
    """Each check accepts the right answer and flags a wrong one."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.inp = os.path.join(cls.tmp, "in")
        cls.out = os.path.join(cls.tmp, "out")
        os.makedirs(cls.out)
        cls.m = gen.generate(FIXTURES, cls.inp, 5)
        cls.cmds = {}
        for c in cls.m["commands"]:
            cls.cmds.setdefault(c["kind"], []).append(c["args"])

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def check(self, kind, args, stdout, exit_code=0):
        return checks.check_command(kind, args, stdout, exit_code, self.m, self.inp, self.out)

    def assertFlags(self, kind, args, good, bad, good_exit=0, bad_exit=0):
        self.assertEqual(self.check(kind, args, good, good_exit), [])
        self.assertNotEqual(self.check(kind, args, bad, bad_exit), [])

    def test_view(self):
        cols = self.m["columns"]["lineitem"]
        args = self.cmds["view"][0]
        self.assertFlags("view", args, show(cols, [["1"] * len(cols)] * 5),
                         show(cols, [["1"] * len(cols)] * 4))

    def test_schema(self):
        cols = self.m["columns"]["orders"]
        hdr = ["column_name", "data_type", "is_nullable", "ordinal_position"]
        good = show(hdr, [[c, "BIGINT", "YES", i + 1] for i, c in enumerate(cols)])
        bad = show(hdr, [[c, "BIGINT", "YES", i + 1] for i, c in enumerate(cols[:-1])])
        self.assertFlags("schema", self.cmds["schema"][0], good, bad)

    def test_count(self):
        for args in self.cmds["count"]:
            n = self.m["rows"]["lineitem" if "lineitem" in args[2] else "orders"]
            self.assertFlags("count", args, show(["count(1)"], [[n]]), show(["count(1)"], [[n + 1]]))

    def test_query(self):
        rows = self.m["expect"]["query"]
        hdr = ["l_returnflag", "l_linestatus", "n_lines", "qty"]
        wrong = [r[:3] + [r[3] + 1] for r in rows]
        self.assertFlags("query", self.cmds["query"][0], show(hdr, rows), show(hdr, wrong))

    def test_query_output(self):
        args = self.cmds["query_output"][0]
        rows = self.m["expect"]["query_output"]
        hdr = ["o_orderpriority", "n_lines", "qty"]
        out = os.path.join(self.out, "join.parquet")
        os.makedirs(out, exist_ok=True)
        table = lambda rs: pa.table({h: [r[i] for r in rs] for i, h in enumerate(hdr)})
        pq.write_table(table(rows), os.path.join(out, "part-0.parquet"))
        self.assertEqual(self.check("query_output", args, show(hdr, rows)), [])
        # a wrong written file is flagged even when stdout is right
        pq.write_table(table([r[:2] + [r[2] - 1] for r in rows]), os.path.join(out, "part-0.parquet"))
        self.assertNotEqual(self.check("query_output", args, show(hdr, rows)), [])

    def test_parquet_meta(self):
        hdr = ["created_by", "num_rows", "num_row_groups", "num_columns"]
        n = self.m["rows"]["lineitem"]
        self.assertFlags("view-parquet-meta", self.cmds["view-parquet-meta"][0],
                         show(hdr, [["x", n, 1, 11]]), show(hdr, [["x", n - 1, 1, 11]]))

    def test_compare_reports_exactly_the_beyond_epsilon_diffs(self):
        beyond, inside = self.m["beyond"], self.m["inside"]
        hdr = ["only_left", "only_right", "differing", "equal_rows", "is_equal"]
        args = self.cmds["compare"][0]
        row = lambda n, only=0: [[only, 0, n, self.m["rows"]["lineitem"] - n, "false"]]
        self.assertFlags("compare", args, show(hdr, row(beyond)), show(hdr, row(beyond - 1)), -1, -1)
        # counting the inside-epsilon deltas as diffs is wrong too
        self.assertNotEqual(self.check("compare", args, show(hdr, row(beyond + inside)), -1), [])
        self.assertNotEqual(self.check("compare", args, show(hdr, row(beyond, only=1)), -1), [])
        self.assertNotEqual(self.check("compare", args, show(hdr, row(beyond)), 0), [])

    def test_convert_round_trip(self):
        for args in self.cmds["convert"]:
            name = os.path.basename(args[2])
            src = os.path.join(self.inp, self.m["sources"][name])
            out = os.path.join(self.out, name)
            os.makedirs(out, exist_ok=True)
            if src.endswith(".parquet"):
                t = pq.read_table(src)
            else:
                with open(src) as f:
                    t = pa.Table.from_pylist([json.loads(line) for line in f])
            pq.write_table(t, os.path.join(out, "part-0.parquet"))
            self.assertEqual(self.check("convert", args, ""), [], name)
            pq.write_table(t.slice(1), os.path.join(out, "part-0.parquet"))
            self.assertNotEqual(self.check("convert", args, ""), [], name)

    def test_describe(self):
        hdr = ["col_name", "n", "n_null", "mean", "std", "vmin", "vmax"]
        rows = [[c, n, 0, repr(mean), "1.0", lo, hi]
                for c, n, lo, hi, mean in self.m["expect"]["describe"]]
        wrong = [r[:3] + [repr(float(r[3]) * 1.01)] + r[4:] for r in rows]
        self.assertFlags("describe", self.cmds["describe"][0], show(hdr, rows), show(hdr, wrong))

    def test_compact(self):
        args = self.cmds["compact"][0]
        out = os.path.join(self.out, "compacted")
        os.makedirs(out, exist_ok=True)
        pq.write_table(pq.read_table(os.path.join(self.inp, "lineitem.parquet")),
                       os.path.join(out, "part-0.parquet"))
        n = self.m["spray_files"]
        self.assertFlags("compact", args, f"files: {n} -> 1\n", f"files: {n} -> {n}\n")

    def test_schema_diff_names_the_injected_column(self):
        hdr = ["column_name", "left_type", "right_type", "status"]
        cols = self.m["columns"]["lineitem"]
        added = self.m["added_column"]
        good = show(hdr, [[c, "x", "x", "same"] for c in cols] + [[added, "NULL", "y", "added"]])
        bad = show(hdr, [[c, "x", "x", "same"] for c in cols] + [["other", "NULL", "y", "added"]])
        self.assertFlags("schema-diff", self.cmds["schema-diff"][0], good, bad, -1, -1)


if __name__ == "__main__":
    unittest.main()
