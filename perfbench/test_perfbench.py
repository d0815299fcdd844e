"""Self-tests of the benchmark's own arithmetic and inputs.

    python3 -m unittest discover -s perfbench
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import lake  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


class TailRule(unittest.TestCase):
    def test_eleventh_largest_has_ten_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 21)))
        self.assertEqual((value, pct, n), (10, 50.0, 20))

    def test_order_does_not_matter(self):
        samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
        self.assertEqual(metrics.tail(samples)[0], 1.0)

    def test_boundary_eleven_samples(self):
        self.assertEqual(metrics.tail(list(range(11)))[:2], (0, 100 / 11))

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(metrics.tail([3, 1, 2]), (3, 100.0, 3))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, layer, start, end):
        return {"id": i, "parent": parent, "layer": layer, "start": start, "end": end}

    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_length([(1, 4), (3, 6), (8, 10), (9, 9.5)]), 7)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(5, 5)]), 0)

    def test_nested_and_overlapping_children(self):
        spans = [
            self.span(1, 0, "op", 0, 10),
            self.span(2, 1, "action", 1, 4),
            self.span(3, 1, "action", 3, 6),    # overlaps its sibling
            self.span(4, 1, "ops.build", 8, 12),  # runs past its parent: clipped
            self.span(5, 2, "job", 2, 3),
            self.span(6, 5, "stage", 2, 2.5),
        ]
        self.assertEqual(metrics.self_times(spans),
                         {"op": 3, "action": 5, "ops.build": 4, "job": 0.5, "stage": 0.5})

    def test_self_times_sum_to_root_when_children_nest(self):
        spans = [self.span(1, 0, "op", 0, 8), self.span(2, 1, "a", 1, 5),
                 self.span(3, 2, "b", 2, 3)]
        self.assertEqual(sum(metrics.self_times(spans).values()), 8)


def op(i, name, pass_, ok=True, hash_="h", **kw):
    rec = {"id": i, "name": name, "pass": pass_, "traced": False, "ok": ok, "hash": hash_,
           "latency_ms": 100.0 * i, "check_ms": 1.0, "start": 0, "end": 1}
    if not ok:
        rec["error"] = "boom"
    rec.update(kw)
    return rec


class FailedAndWrongFractions(unittest.TestCase):
    def summarize(self, ops, verdicts):
        art = {"ops": ops, "passes": [{"pass": 0, "traced": False, "wall_ms": 1000.0,
                                       "check_ms": 4.0, "ops": 1}],
               "vm_hwm_kb": 2048, "warm_end": 5000.0, "launched": 1000.0,
               "error_log_messages": [], "engine_tmp_leftovers": [], "verdicts": verdicts}
        return run.summarize("scan", 1, 0, art, {})

    def test_warm_up_failures_count_and_wrong_outputs_count(self):
        ops = [op(1, "q_a", -1, ok=False), op(2, "q_a", -1), op(3, "q_a", 0),
               op(4, "q_b", 0, hash_="bad"), op(5, "q_b", 0), op(6, "q_a", 0)]
        result, record = self.summarize(ops, {"q_a": {"h": None},
                                              "q_b": {"h": None, "bad": "rows 1 != 2"}})
        self.assertEqual((result["attempted"], result["failed"]), (6, 1))
        self.assertFalse(result["correct"])
        self.assertEqual(record["failed_frac"], 1 / 6)
        self.assertEqual((record["checked"], record["wrong"]), (5, 1))
        self.assertEqual(record["wrong_frac"], 1 / 5)
        self.assertIn("boom", record["errors"][0])

    def test_unchecked_output_counts_as_wrong(self):
        _, record = self.summarize([op(1, "q_a", 0), op(2, "q_a", 0, hash_="other")],
                                   {"q_a": {"h": None}})
        self.assertEqual(record["wrong"], 1)

    def test_all_good(self):
        result, record = self.summarize([op(1, "q_a", -1), op(2, "q_a", 0)],
                                        {"q_a": {"h": None}})
        self.assertTrue(result["correct"])
        self.assertEqual((record["failed_frac"], record["wrong_frac"]), (0, 0))
        self.assertEqual(record["end_to_end"]["setup_s"], (5000 - 1000 - 1) / 1000)
        self.assertEqual(record["end_to_end"]["ops_per_s"], 1 / 0.996)


class EndToEnd(unittest.TestCase):
    def test_ops_per_s_is_the_median_pass_rate_and_checks_are_not_timed(self):
        passes = [{"pass": i, "ops": 4, "wall_ms": w + 50.0, "check_ms": 50.0}
                  for i, w in enumerate((2000.0, 1000.0, 4000.0))]
        ops = [op(1, "q_a", 0), op(2, "q_a", 1), op(3, "q_a", 2)]
        e2e, info = metrics.end_to_end(ops, passes, 1000.0, 3500.0, 4096)
        self.assertEqual(e2e["ops_per_s"], 2.0)
        self.assertEqual((e2e["setup_s"], e2e["peak_rss_mb"], e2e["op_p50_s"]), (2.5, 4.0, 0.2))
        self.assertEqual((e2e["op_tail_s"], info["tail_samples"]), (0.3, 3))


class MetricNames(unittest.TestCase):
    def test_grammar(self):
        for good in ("setup_s", "scheduler.tasks_per_stage", "io.rows_read_per_result_row", "a-1"):
            self.assertRegex(good, metrics.NAME_RE)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é"):
            self.assertNotRegex(bad, metrics.NAME_RE)

    def test_every_metric_name_and_unit_is_well_formed_and_unique(self):
        names = [m[0] for m in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for name, unit, better, *_ in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertRegex(name, metrics.NAME_RE)
            self.assertRegex(unit, metrics.UNIT_RE)
            self.assertIn(better, ("lower", "higher"))

    def test_benchmark_json_matches_the_definitions(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual(bench["end_to_end"], [
            {"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in metrics.END_TO_END])
        self.assertEqual(bench["per_layer"], [
            {"name": n, "unit": u, "better": b} for n, u, b, _ in metrics.PER_LAYER])
        self.assertEqual([w["name"] for w in bench["workloads"]], list(workloads.WORKLOADS))
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"]))


def sha256(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


class LakeInputs(unittest.TestCase):
    def test_planted_counts_hold_and_seed_fixes_the_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ia, ib = lake.generate(3, a), lake.generate(3, b)
            self.assertEqual(sha256(ia["csv"]), sha256(ib["csv"]))
            self.assertEqual(sha256(ia["json"]), sha256(ib["json"]))
            with tempfile.TemporaryDirectory() as c:
                self.assertNotEqual(sha256(lake.generate(4, c)["csv"]), sha256(ia["csv"]))
            con = duckdb.connect()
            raw = pd.read_csv(ia["csv"], dtype=str, keep_default_na=False)
            kept = raw[(raw.city != "") & (raw.city_ibge_code != "")]
            exp = ia["expected"]
            self.assertEqual(len(kept), exp["covid_rows_loaded"])
            self.assertLess(len(kept), len(raw))
            blanks = kept[lake.RATE].isin(["", " "]).sum()
            self.assertEqual(blanks, exp["covid_zero_rates"])
            ref = lake.covid_reference(con, ia["csv"])
            self.assertEqual(len(ref), exp["covid_rows_loaded"])
            self.assertEqual(int((ref[lake.RATE] == 0).sum()), exp["covid_zero_rates"])
            muni = lake.municipios_reference(con, ia["json"])
            self.assertEqual(len(muni), exp["municipios_rows"])
            self.assertTrue(set(ref.city_ibge_code) <= set(muni["id"]))


class Compare(unittest.TestCase):
    def test_equal_up_to_row_and_column_order(self):
        a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
        self.assertIsNone(checks.compare(a, a[["y", "x"]].iloc[::-1]))

    def test_value_row_and_column_differences(self):
        a = pd.DataFrame({"x": [1, 2]})
        self.assertIn("differs", checks.compare(a, pd.DataFrame({"x": [1, 3]})))
        self.assertIn("rows", checks.compare(a, pd.DataFrame({"x": [1]})))
        self.assertIn("columns", checks.compare(a, pd.DataFrame({"z": [1, 2]})))


if __name__ == "__main__":
    unittest.main()
