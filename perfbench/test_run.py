"""Tests of the benchmark itself: python3 -m unittest discover -s perfbench

The pure tests take about a second. `JvmRunTest` drives the real harness on
the generated sf0.001 tables with one good and one failing query and takes
about half a minute (it builds the harness first if needed).
"""
import datetime
import hashlib
import importlib.util
import json
import os
import shutil
import tempfile
import unittest

import numpy as np
import pandas as pd

import run


def op(name, seconds, ok=True, stages=None):
    return {"name": name, "construct_s": seconds / 4, "seconds": seconds, "ok": ok,
            "error": "" if ok else "boom", "stages": stages or {}, "layers": {}}


def result(ops, workload="corpus", seed=7):
    return {"workload": workload, "seed": seed, "cpus": 4, "setup_s": 30.0,
            "session_s": 5.0, "setup_ops": ops, "verify_ops": ops, "staged_bytes": 2 * run.MB,
            "window_s": 10.0, "retained_heap_bytes": 100 * run.MB,
            "passes": [{"seconds": sum(o["seconds"] for o in ops), "traced": False,
                        "ops": ops}]}


class AccountingTest(unittest.TestCase):
    def test_failed_op_keeps_its_attempt_time(self):
        ops = [op("q_a", 1.0), op("q_b", 3.0), op("q_c", 0.5, ok=False)]
        with tempfile.TemporaryDirectory() as tmp:
            res, info = run.summarize(result(ops), tmp, [], trace=0)
        self.assertAlmostEqual(res["metrics"]["pass_s"]["value"], 4.5)
        self.assertEqual(res["failed"], 1)
        self.assertFalse(res["correct"])
        # 3 timed operations plus two checked outputs (cold and warm) per query
        self.assertEqual(res["attempted"], 3 + 2 * len(run.CORPUS))
        self.assertAlmostEqual(info["failed_frac"], 1 / res["attempted"])

    def test_check_mismatches_count_as_failed(self):
        with tempfile.TemporaryDirectory() as tmp:
            res, info = run.summarize(result([op("q_a", 1.0)]), tmp, ["q_a"], trace=0)
        self.assertEqual(res["failed"], 1)
        self.assertEqual(info["check_failed"], ["q_a"])

    def test_pass_s_is_the_median_pass(self):
        d = result([op("q_a", 1.0)])
        d["passes"] = [dict(d["passes"][0], seconds=t) for t in (9.0, 5.0, 6.0)]
        with tempfile.TemporaryDirectory() as tmp:
            res, _ = run.summarize(d, tmp, [], trace=0)
        self.assertEqual(res["metrics"]["pass_s"]["value"], 6.0)

    def test_pipeline_per_layer_reads_flows_and_stages(self):
        e1 = op("e1", 5.0, stages={"master": 2.0, "curation": 3.0})
        e1["layers"] = {"execute": {"jobs": 86.0, "output_records": 10.0}}
        e2 = op("e2", 1.0, stages={"stage": 0.5, "drain": 0.4, "redrain": 0.1})
        d = result([e1, e2], "pipeline")
        d["passes"][0]["traced"] = True
        with tempfile.TemporaryDirectory() as tmp:
            res, _ = run.summarize(d, tmp, [], trace=1)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual((m["Pipeline.e1_s"], m["Pipeline.jobs"], m["Pipeline.master_s"]), (5.0, 86.0, 2.0))
        self.assertEqual((m["streaming.e2_s"], m["streaming.drain_s"]), (1.0, 0.4))
        self.assertEqual((m["operators.jobs"], m["sinks.output_records"]), (86.0, 10.0))

    def test_operators_sources_and_sinks_sum_execute_phases_only(self):
        q = op("q_a", 2.0)
        q["layers"] = {
            "construct": {"jobs": 5.0, "task_run_s": 3.0, "input_bytes": 7.0, "exchanges": 1.0},
            "execute": {"jobs": 2.0, "task_run_s": 4.0, "input_bytes": 11.0, "exchanges": 2.0}}
        d = result([q])
        d["passes"][0]["traced"] = True
        with tempfile.TemporaryDirectory() as tmp:
            res, _ = run.summarize(d, tmp, [], trace=1)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual((m["SparkEntry.construct_jobs"], m["operators.jobs"]), (5.0, 2.0))
        self.assertEqual((m["operators.task_run_s"], m["operators.input_bytes"]), (4.0, 11.0))
        self.assertEqual(m["sources.input_bytes"], m["operators.input_bytes"])
        # task_run_s / (pass wall x N)
        self.assertAlmostEqual(m["operators.slot_busy_frac"], 4.0 / (2.0 * 4))
        self.assertEqual(m["plans.exchanges"], 3.0)

    def test_seed_is_recorded(self):
        with tempfile.TemporaryDirectory() as tmp:
            _, info = run.summarize(result([op("q_a", 1.0)], seed=123), tmp, [], trace=0)
        self.assertEqual(info["seed"], 123)


class MetricNamesTest(unittest.TestCase):
    spec = json.load(open(os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")))

    def test_end_to_end_names_and_units_match_benchmark_json(self):
        with tempfile.TemporaryDirectory() as tmp:
            res, _ = run.summarize(result([op("q_a", 1.0)]), tmp, [], trace=0)
        want = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, want)

    def test_per_layer_names_and_units_match_benchmark_json(self):
        d = result([op("q_a", 1.0)])
        d["passes"].append(dict(d["passes"][0], traced=True))
        with tempfile.TemporaryDirectory() as tmp:
            res, _ = run.summarize(d, tmp, [], trace=1)
        want = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, want)
        self.assertEqual(res["metrics"]["SparkEntry.staged_mb"]["value"], 2.0)

    def test_workloads_match_benchmark_json(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))


class DigestTest(unittest.TestCase):
    def test_digest_is_order_insensitive_and_detects_a_changed_value(self):
        df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None], "s": ["a", "b", "c"]})
        shuffled = df.iloc[[2, 0, 1]][["s", "v", "k"]]
        self.assertEqual(run.digest_df(df), run.digest_df(shuffled))
        changed = df.copy()
        changed.loc[1, "v"] = 1.2500001
        self.assertNotEqual(run.digest_df(df), run.digest_df(changed))

    def test_digest_normalizes_as_tools_compare_py(self):
        spec = importlib.util.spec_from_file_location(
            "compare", os.path.join(os.path.dirname(run.HERE), "tools", "compare.py"))
        compare = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(compare)
        df = pd.DataFrame({
            "f": [0.1, 1e20, None, -0.0, 1 / 3],
            "g": np.array([0.1, 2.5, 1e-7, 3.0, -1.5], dtype=np.float32),
            "i": [1, -2, 3, 40000000000, 0],
            "t": pd.to_datetime(["2024-01-01", "2024-01-01 10:00:00",
                                 "2024-01-01 10:00:00.123456", None, "1999-12-31"], format="ISO8601"),
            "d": [datetime.date(2024, 1, 2), None, datetime.date(1995, 6, 1),
                  datetime.date(2000, 2, 29), datetime.date(2024, 1, 2)],
            "s": ["a", None, "b c", "", "dup"]})
        ref = compare.norm_df(df)
        lines = sorted("\x01".join("" if v is None else str(v) for v in row)
                       for row in zip(*(ref[c] for c in ref.columns)))
        want = hashlib.sha256("".join(l + "\n" for l in lines).encode()).hexdigest()
        self.assertEqual(run.digest_df(df), (len(df), want))

    def test_check_names_every_mismatch_of_both_passes(self):
        with tempfile.TemporaryDirectory() as tmp:
            for sub in run.CHECKED:
                for i, q in enumerate(run.CORPUS):
                    os.makedirs(os.path.join(tmp, sub, q))
                    pd.DataFrame({"x": [i, i + 1]}).to_parquet(
                        os.path.join(tmp, sub, q, "part-0.parquet"))
            pins = {"corpus": {}}
            for q in run.CORPUS:
                rows, dig = run.digest_dir(os.path.join(tmp, "check", q))
                pins["corpus"][q] = {"rows": rows, "digest": dig}
            self.assertEqual(run.check("corpus", tmp, pins), [])
            stale = run.CORPUS[1]
            pd.DataFrame({"x": [99, 100]}).to_parquet(
                os.path.join(tmp, "warm", stale, "part-0.parquet"))
            shutil.rmtree(os.path.join(tmp, "check", run.CORPUS[3]))
            self.assertEqual(run.check("corpus", tmp, pins),
                             [f"check/{run.CORPUS[3]}", f"warm/{stale}"])


class JvmRunTest(unittest.TestCase):
    def test_failing_query_is_counted_and_timed(self):
        data = run.inputs(0.001)
        cp, archive = run.build()
        with tempfile.TemporaryDirectory(dir=run.WORK) as work:
            out = os.path.join(work, "result.json")
            run.jvm(cp, archive, ["mode=run", "workload=t", "queries=q_dedup_exact,q_missing",
                         f"data={data}", "seed=5", "seconds=0", "trace=0", "cpus=2",
                         f"work={work}", f"out={out}"], os.path.join(work, "tmp"))
            with open(out) as fh:
                d = json.load(fh)
            # the warm re-run wrote the good query's output for the check
            self.assertTrue(os.listdir(os.path.join(work, "warm", "q_dedup_exact")))
        self.assertEqual(d["seed"], 5)
        by = {o["name"]: o for o in d["passes"][0]["ops"]}
        self.assertTrue(by["q_dedup_exact"]["ok"])
        self.assertFalse(by["q_missing"]["ok"])
        self.assertGreater(by["q_missing"]["seconds"], 0.0)
        self.assertFalse([o for o in d["setup_ops"] if o["name"] == "q_missing"][0]["ok"])


if __name__ == "__main__":
    unittest.main()
