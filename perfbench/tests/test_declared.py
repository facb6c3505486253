"""BENCHMARK.json and the runner agree on every metric name."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import run  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def catalog_result():
    ops = [{"op": i, "name": "p1_scan", "ok": True, "lat_s": 0.1, "traced": i % 2 == 1,
            "blocks_left": 0} for i in (1, 2)]
    return {"layers": {}, "traced_units": 1, "ops": ops, "cores": 4, "steal_frac": 0.0,
            "calib": {"mt_s": 1.0, "st_s": 1.0}, "jobs_by_query": {"p1_scan": 2},
            "build_jobs_by_query": {"p1_scan": 1, "clean+pack": 5},
            "verify": {"runs": [{"survivors": 70}], "input_docs": 100},
            "passes": [{"wall_s": 1.0, "traced": t, "failed": 0} for t in (False, True)]}


class Declared(unittest.TestCase):
    def test_end_to_end_names(self):
        values = dict.fromkeys(["setup_s", "lat_p50_ms", "lat_p90_ms", "items_per_s",
                                "retained_heap_mb"], 1.0)
        self.assertEqual(set(run.declared(values, "end_to_end")), set(values))

    def test_per_layer_names(self):
        spans = [[1, 0, 1, "query", 0, 100], [2, 1, 1, "queries.build", 0, 40],
                 [3, 1, 1, "queries.run", 40, 100]]
        values = run.per_layer("catalog", catalog_result(), spans)
        metrics = run.declared(values, "per_layer")
        self.assertEqual(metrics["queries.build_jobs"]["value"], 1.0)
        self.assertEqual(metrics["queries.rel_jobs"]["value"], 2.0)
        self.assertEqual(metrics["text.survivor_frac"]["value"], 0.7)
        with self.assertRaises(SystemExit):
            run.declared({**values, "undeclared.metric": 0.0}, "per_layer")

    def test_stream_limit_is_stated(self):
        why = {w["name"]: w["why"] for w in SPEC["workloads"]}["stream"]
        self.assertIn(f"{int(run.STREAM_LAT_LIMIT_MS)} ms", why)


if __name__ == "__main__":
    unittest.main()
