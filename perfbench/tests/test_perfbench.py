"""Self-test of the benchmark.

    python3 -m unittest discover -s perfbench/tests

The record tests feed hand-made run records to the report code and run in
well under a second. The planted-failure tests run the real benchmark
(building it first if needed) for about a minute each.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import run  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def span(i, kind, parent, start, end, name="x", **attrs):
    return {"id": i, "parent": parent, "kind": kind, "name": name,
            "start": float(start), "end": float(end), "attrs": attrs}


def record(traced=False, fail_ms=5000.0):
    """Cold pass plus two warm ones over keys a and b, and a key c that
    throws after `fail_ms` in every pass."""
    spans = [span("w", "workload", None, 0, 100000), span("s", "setup", "w", 0, 2100)]
    t = 3000
    for p in range(3):
        pid = f"p{p}"
        is_traced = traced and p == 1
        start = t
        for key, ms, ok in (("a", 100 * (3 - p), True), ("b", 400, True),
                            ("c", fail_ms, False)):
            oid = f"{pid}-{key}"
            spans.append(span(oid, "op", pid, t, t + ms, key, **{"class": "key", "ok": ok}))
            spans.append(span(oid + "-b", "build", oid, t, t + ms / 2))
            spans.append(span(oid + "-a", "action", oid, t + ms / 2, t + ms))
            if is_traced and ok:
                spans.append(span(oid + "-j", "job", oid + "-a", t + ms / 2, t + ms))
                spans.append(span(oid + "-st", "stage", oid + "-j", t + ms / 2, t + ms,
                                  tasks=4, run_ms=ms, cpu_ns=ms * 1e6,
                                  shuffle_read_bytes=0, shuffle_write_bytes=0,
                                  spill_bytes=0, input_rows=10))
                spans.append(span(oid + "-q", "query", None, t + ms / 2, t + ms / 2 + 1,
                                  executed_nodes=3, qe=1))
            t += ms
        spans.append(span(pid, "pass", "w", start, t, index=p, traced=is_traced, gc_ms=5))
    return {"run_id": "r", "workload": "etl_sf001", "seed": 1, "trace": traced,
            "cores": 4, "rss_peak_mb": 900.0, "checks": [], "extra": {},
            "setup_s": [4.0, 2.5, 3.0],
            "spans": spans}


class RecordTest(unittest.TestCase):
    def test_failed_key_is_counted_and_never_timed(self):
        quick = run.end_to_end(run.Record(record(fail_ms=1.0)))
        slow = run.end_to_end(run.Record(record(fail_ms=90000.0)))
        self.assertEqual(quick, slow)
        # after the first third of the two warm passes the last is steady:
        # a=100 + b=400 ms
        self.assertAlmostEqual(slow["pass_s"][0], 0.5)
        self.assertAlmostEqual(slow["cold_pass_s"][0], 0.7)
        # the median of the set-up JVMs, timed from process start
        self.assertAlmostEqual(slow["setup_s"][0], 3.0)

    def test_wrong_result_fails_every_run_of_the_key(self):
        r = run.Record(record())
        run.mark_wrong(r, {"a": "value mismatch", "b": None})
        failed = {s["name"] for s in r.spans
                  if s["kind"] == "op" and not s["attrs"]["ok"]}
        self.assertEqual(failed, {"a", "c"})

    def test_end_to_end_names_match_benchmark_json(self):
        got = run.end_to_end(run.Record(record()))
        want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)

    def test_per_layer_names_match_benchmark_json(self):
        got = run.per_layer(run.Record(record(traced=True)))
        want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
        self.assertEqual({k: u for k, (_, u) in got.items()}, want)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(run.tail(list(range(10))))
        self.assertEqual(run.tail(list(range(20))), (9, 50.0))


def bench(*args):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--seed", "7",
         "--seconds", "1", "--trace", "0", *args],
        capture_output=True, text=True, timeout=1200)
    lines = out.stdout.strip().splitlines()
    return out.returncode, lines, json.loads(lines[-1])


class PlantedFailureTest(unittest.TestCase):
    def test_planted_throwing_key_is_failed_and_untimed(self):
        rc, lines, res = bench("--workload", "etl_sf001", "--plant", "throw")
        self.assertEqual(rc, 0)
        self.assertFalse(res["correct"])
        # the cold pass, three warm passes and the output check each ran it
        self.assertEqual(res["failed"], 5)
        self.assertTrue(any("FAILED planted_throw" in ln for ln in lines))
        self.assertFalse(any("planted_throw" in ln and " p50 " in ln for ln in lines))
        self.assertEqual(set(res["metrics"]),
                         {m["name"] for m in SPEC["end_to_end"]})

    def test_planted_wrong_docstore_answer_is_failed(self):
        rc, lines, res = bench("--workload", "docstore_rw", "--plant", "wrong")
        self.assertEqual(rc, 0)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertTrue(any("FAILED lookup: wrong answer" in ln for ln in lines))


if __name__ == "__main__":
    unittest.main()
