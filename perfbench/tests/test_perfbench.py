"""Self-tests of the benchmark (no JVM needed).

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import re
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import metrics  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def scratch(name):
    d = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                     os.path.join(ROOT, ".bench_build")), "tests", name)
    shutil.rmtree(d, ignore_errors=True)
    return d


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_digest_other_seed_other_digest(self):
        for w in ("mj_text", "sql_mix"):
            da = scratch(f"{w}-a")
            a = gen.generate(w, 7, da)
            b = gen.generate(w, 7, scratch(f"{w}-b"))
            c = gen.generate(w, 8, scratch(f"{w}-c"))
            self.assertEqual(a["digest"], b["digest"], w)
            self.assertEqual(a["digest"], gen.digest_dir(da), w)
            self.assertNotEqual(a["digest"], c["digest"], w)

    def test_cached_inputs_are_reused(self):
        d = scratch("cache")
        first = gen.generate("mj_text", 3, d)
        self.assertEqual(first, gen.generate("mj_text", 3, d))

    def test_inputs_of_another_generator_are_regenerated(self):
        d = scratch("stale")
        first = gen.generate("mj_text", 3, d)
        with open(os.path.join(d, "manifest.json"), "w") as f:
            json.dump(dict(first, generator="older", digest="stale"), f)
        self.assertEqual(gen.generate("mj_text", 3, d), first)


def fake_run(cpus=4):
    """A harness result with two untraced and two traced passes of three
    ops, and one Catalyst query for each traced op."""
    ops, passes, queries, t, span = [], [], [], 1_000_000, 10
    for p, traced in ((1, False), (2, True), (3, True), (4, False)):
        passes.append({"pass": p, "traced": traced, "wall_s": 1.5})
        for name, layer in (("maple_wc", "engine"), ("juice_wc", "engine"),
                            ("put_text", "sources")):
            span += 1
            spark = {"jobs": 2, "stages": 3, "tasks": 8, "task_busy_ms": 900,
                     "sched_delay_ms": 10, "gc_ms": 5, "shuffle_write_b": 10**6,
                     "shuffle_read_b": 10**6, "shuffle_records": 1000, "spill_mem_b": 0,
                     "spill_disk_b": 0, "output_b": 2 * 10**6, "peak_task_mem_b": 10**7,
                     "stage_shuffle_records": [0, 600, 400] if name == "juice_wc" else [1000],
                     "stage_skew": [[100, 40, 20]]} if traced else None
            ops.append({"pass": p, "traced": traced, "span": span, "name": name, "layer": layer,
                        "start_us": t, "end_us": t + 700_000, "error": None,
                        "result": 1000 if name == "maple_wc" else 0, "digest": "",
                        "persisted": 1, "storage_b": 10**6, "spark": spark})
            if traced:
                ms = t // 1000
                queries.append({"op": 0, "scan_rows": 500, "scan_b": 10**5, "phases": {
                    "analysis": [ms, ms + 3], "optimization": [ms + 3, ms + 7],
                    "planning": [ms + 7, ms + 12]}})
            t += 750_000
    spans = [{"id": 1, "parent": 0, "name": "pass", "start_us": 0, "end_us": 1000},
             {"id": 2, "parent": 1, "name": "op:engine.maple_wc", "start_us": 100, "end_us": 900},
             {"id": 3, "parent": 2, "name": "spark.job", "start_us": 200, "end_us": 500},
             {"id": 4, "parent": 2, "name": "spark.job", "start_us": 400, "end_us": 600},
             {"id": 5, "parent": 2, "name": "catalyst.planning", "start_us": 150, "end_us": 200}]
    return {"setup_s": 9.0, "check_pass_s": 4.0, "heap_after_setup_mb": 60.0,
            "heap_after_measure_mb": 64.0, "cpus": cpus, "passes": passes, "ops": ops,
            "queries": queries}, spans


class MetricsTest(unittest.TestCase):
    def test_names_are_well_formed_unique_and_match_the_spec(self):
        s = spec()
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in s[k]]
        names += [w["name"] for w in s["workloads"]]
        for n in names:
            self.assertRegex(n, NAME)
            self.assertTrue(n[0].isalnum() and len(n) <= 64, n)
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in s["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in s["per_layer"]],
                         metrics.per_layer_spec([w["name"] for w in s["workloads"]]))
        self.assertTrue(all(w["name"] in gen.WORKLOADS for w in s["workloads"]))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_every_metric_is_emitted_with_a_unit(self):
        s = spec()
        res, spans = fake_run()
        e2e, extra = metrics.end_to_end(res, input_mb=6.0)
        layer_spec = [(m["name"], m["unit"], m["better"]) for m in s["per_layer"]]
        layer, _ = metrics.per_layer(res, spans, layer_spec, extra)
        for values, key in ((e2e, "end_to_end"), (layer, "per_layer")):
            want = [(m["name"], m["unit"], m["better"]) for m in s[key]]
            out = metrics.emit(values, want)
            self.assertEqual(set(out), {n for n, _, _ in want})
            for n, v in out.items():
                self.assertTrue(v["unit"], n)
                self.assertTrue(math.isfinite(v["value"]), n)
        self.assertEqual(e2e["setup_s"], 9.0)
        self.assertAlmostEqual(layer["engine.inter_pairs"], 1000)
        # only the Juice grouping stage (the first that shuffles) counts
        self.assertAlmostEqual(layer["exchange.records_per_inter_pair"], 0.6)
        self.assertAlmostEqual(layer["catalyst.planning_ms"], 3 * 5)
        self.assertAlmostEqual(layer["core.scan_rows"], 3 * 500)
        with self.assertRaises(KeyError):
            metrics.emit({}, metrics.END_TO_END)

    def test_queries_are_credited_to_the_operation_by_time(self):
        ops = [{"span": 7, "start_us": 5_000_400, "end_us": 5_200_300},
               {"span": 8, "start_us": 5_200_900, "end_us": 5_300_000}]
        q = lambda op, start_ms: {"op": op, "phases": {"analysis": [start_ms, start_ms + 2]}}
        got = metrics.attribute_queries(ops, [
            q(0, 5000),   # phase start floored below the op's first microsecond
            q(0, 5100),
            q(0, 5200),   # the millisecond in which op 7 ends and op 8 starts
            q(0, 5301),   # within the slack after op 8
            q(0, 4000),   # before every op
            q(7, 5250)])  # tagged by the harness: kept as tagged
        self.assertEqual([x["phases"]["analysis"][0] for x in got[7]], [5000, 5100, 5250])
        self.assertEqual([x["phases"]["analysis"][0] for x in got[8]], [5200, 5301])
        self.assertEqual([x["phases"]["analysis"][0] for x in got[0]], [4000])

    def test_catalyst_phases_become_spans_under_their_operation(self):
        s = spec()
        res, spans = fake_run()
        layer_spec = [(m["name"], m["unit"], m["better"]) for m in s["per_layer"]]
        _, out = metrics.per_layer(res, spans, layer_spec, metrics.end_to_end(res, 6.0)[1])
        added = out[len(spans):]
        traced = {o["span"] for o in res["ops"] if o["traced"]}
        self.assertEqual(len(added), 3 * len(traced))
        self.assertTrue(all(x["parent"] in traced and x["name"].startswith("catalyst.")
                            for x in added))
        self.assertEqual(len({x["id"] for x in out}), len(out))

    def test_tail_is_the_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.op_tail(list(range(1, 201))), (190, 95.0, 10))
        self.assertEqual(metrics.op_tail(list(range(1, 22))), (11, 52.4, 10))
        self.assertEqual(metrics.op_tail(list(range(1, 15))), (8, 57.1, 6))

    def test_self_time_subtracts_the_union_of_children(self):
        res, spans = fake_run()
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["bench"], 200 / 1e6)
        self.assertAlmostEqual(st["engine"], 350 / 1e6)  # 800 - (150..200 + 200..600)
        self.assertAlmostEqual(st["spark_jobs"], 500 / 1e6)


if __name__ == "__main__":
    unittest.main()
