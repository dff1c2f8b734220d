"""Tests of the benchmark's own helpers. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import datetime as dt
import itertools
import json
import os
import random
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import lib  # noqa: E402
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in (11, 20, 37, 100, 1000):
            xs = list(range(n, 0, -1))  # unsorted input
            pct, value, count = lib.tail(xs)
            self.assertEqual(count, n)
            self.assertEqual(sum(1 for x in xs if x > value), 10)
            self.assertAlmostEqual(pct, 100.0 * (n - 10) / n)

    def test_p90_of_a_hundred(self):
        pct, value, _ = lib.tail([float(i) for i in range(1, 101)])
        self.assertEqual((pct, value), (90.0, 90.0))

    def test_too_few_samples_gives_the_maximum(self):
        self.assertEqual(lib.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))
        self.assertEqual(lib.tail(list(range(10)))[1], 9)

    def test_gmean(self):
        self.assertAlmostEqual(lib.gmean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(lib.gmean([0.5] * 7), 0.5)
        # one outlier moves it far less than the arithmetic mean
        self.assertLess(lib.gmean([1.0] * 9 + [100.0]), 2.0)

    def test_median(self):
        self.assertEqual(lib.median([3, 1, 2]), 2)
        self.assertEqual(lib.median([4, 1, 2, 3]), 2.5)


class DeterminismTest(unittest.TestCase):
    def test_cold_refreshes(self):
        a = list(itertools.islice(lib.cold_refreshes(7), 30))
        b = list(itertools.islice(lib.cold_refreshes(7), 30))
        c = list(itertools.islice(lib.cold_refreshes(8), 30))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_warm_pool_and_zipf(self):
        self.assertEqual(lib.warm_pool(3), lib.warm_pool(3))
        self.assertNotEqual(lib.warm_pool(3), lib.warm_pool(4))
        # every seed serves the same mix: the same kind at every Zipf rank
        self.assertEqual([r["kind"] for r in lib.warm_pool(3)],
                         [r["kind"] for r in lib.warm_pool(4)])

        def draws(seed):
            z = lib.Zipf(44, 1.1, random.Random(seed))
            return [z.draw() for _ in range(2000)]
        self.assertEqual(draws(5), draws(5))
        seq = draws(1)
        self.assertTrue(all(0 <= r < 44 for r in seq))
        self.assertGreater(seq.count(0), seq.count(10))

    def test_reader_requests(self):
        day = dt.date(2021, 3, 2)
        a, b = lib.reader_requests(5), lib.reader_requests(5)
        self.assertEqual([a(day, i) for i in range(12)], [b(day, i) for i in range(12)])

    def test_events_and_cell_order(self):
        self.assertEqual(lib.events_rows(1, 500), lib.events_rows(1, 500))
        self.assertNotEqual(lib.events_rows(1, 500), lib.events_rows(2, 500))
        rows = lib.events_rows(1, 500)
        self.assertEqual(rows["ts"], sorted(rows["ts"]))
        self.assertEqual(lib.cell_order(9), lib.cell_order(9))
        self.assertEqual(sorted(lib.cell_order(9)), sorted(lib.PARITY_CELLS))


class KeysTest(unittest.TestCase):
    def test_cold_keys_are_distinct(self):
        paths = [r["path"] for refresh in itertools.islice(lib.cold_refreshes(11), 300)
                 for r in refresh]
        self.assertEqual(len(paths), len(set(paths)))

    def test_distinct_keys_rejects_a_repeat(self):
        keys = lib.DistinctKeys()
        keys.add(dict(lib.OPTIONS))
        with self.assertRaises(AssertionError):
            keys.add(dict(lib.OPTIONS))

    def test_cold_mix_is_the_same_for_every_seed(self):
        def shapes(seed):
            return [(r[0]["buckets"] > 300, r[1]["path"].split("&num_days=")[1][:2], r[3]["kind"])
                    for r in itertools.islice(lib.cold_refreshes(seed), 30)]
        self.assertEqual(shapes(2), shapes(3))
        kinds = [s[2] for s in shapes(2)]
        self.assertEqual(kinds.count("raw"), kinds.count("broadband_agg"))

    def test_warm_pool_fits_the_lrus(self):
        for seed in range(20):
            agg, ts = lib.assert_fits_lru(lib.warm_pool(seed))
            self.assertLessEqual(agg, lib.AGG_LRU)
            self.assertLessEqual(ts, lib.TS_LRU)

    def test_lru_fit_rejects_overflow(self):
        start = lib.ARCHIVE_START
        agg = [lib.heatmap(start, start + dt.timedelta(hours=1, seconds=i))
               for i in range(lib.AGG_LRU + 1)]
        with self.assertRaises(AssertionError):
            lib.assert_fits_lru(agg)
        raw = [lib.raw(start + dt.timedelta(seconds=i)) for i in range(lib.TS_LRU + 1)]
        with self.assertRaises(AssertionError):
            lib.assert_fits_lru(raw)
        lib.assert_fits_lru(agg[:lib.AGG_LRU] + raw[:lib.TS_LRU])
        with self.assertRaises(AssertionError):
            lib.assert_fits_lru([raw[0], raw[0]])


class ChecksTest(unittest.TestCase):
    def test_auto_interval_bucket_counts(self):
        end = lib.ARCHIVE_END
        for span, n in ((dt.timedelta(hours=24), 288), (dt.timedelta(days=7), 672)):
            self.assertEqual(lib.heatmap(end - span, end)["buckets"], n)
        # 30 d → 1 h buckets; the 28-day archive fills 672 of the 720
        self.assertEqual(lib.heatmap(end - dt.timedelta(days=30), end)["buckets"], 672)
        self.assertEqual(lib.resolve_interval(30 * 86400), ("1h", 3600))
        self.assertEqual(lib.resolve_interval(3600), ("10s", 10))
        self.assertEqual(lib.raw(lib.ARCHIVE_START)["points"], 1800)

    def test_heatmap_check(self):
        req = lib.heatmap(lib.ARCHIVE_END - dt.timedelta(hours=24), lib.ARCHIVE_END)
        good = {"time_count": 288, "frequency_count": 2, "values": [[1.0, 2.0]] * 288}
        self.assertIsNone(lib.check(req, 200, json.dumps(good)))
        self.assertIsNotNone(lib.check(req, 500, json.dumps(good)))
        bad = dict(good, values=[[1.0, None]] * 288)
        self.assertIsNotNone(lib.check(req, 200, json.dumps(bad)))
        short = dict(good, time_count=287, values=[[1.0, 2.0]] * 287)
        self.assertIsNotNone(lib.check(req, 200, json.dumps(short)))

    def test_same_daily(self):
        series = [{"time_of_day": "00:00:00", "value": 1.0}]
        a = json.dumps({s: series for s in ("mean", "min", "max", "count")})
        b = json.dumps({s: [{"time_of_day": "00:00:00", "value": 1.5}]
                        for s in ("mean", "min", "max", "count")})
        self.assertTrue(lib.same_daily(a, a))
        self.assertFalse(lib.same_daily(a, b))


class SessionDriftTest(unittest.TestCase):
    SESSIONS = os.path.join(HERE, "harness", "src", "main", "scala", "perfbench",
                            "Sessions.scala")

    def test_harness_sessions_match_the_program_mains(self):
        self.assertEqual(lib.session_drift(os.path.dirname(HERE), self.SESSIONS), [])

    def test_builder_calls(self):
        src = """val x = 1
        val spark = SparkSession.builder()
          // a comment (with parentheses)
          .master(sys.env.getOrElse("M", s"local[$cpus]"))
          .config("a.b", "1")  // trailing
          .config("c", cpus)
          .getOrCreate()"""
        self.assertEqual(lib.builder_calls(src), [
            'config("a.b","1")', 'config("c",cpus)',
            'master(sys.env.getOrElse("M",s"local[$cpus]"))'])

    def test_a_changed_main_is_reported(self):
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory() as tmp:
            for _, _, rel in lib.SESSION_MAINS:
                os.makedirs(os.path.dirname(os.path.join(tmp, rel)), exist_ok=True)
                shutil.copy(os.path.join(os.path.dirname(HERE), rel), os.path.join(tmp, rel))
            main = os.path.join(tmp, lib.SESSION_MAINS[0][2])
            with open(main) as f:
                src = f.read()
            with open(main, "w") as f:
                f.write(src.replace('"16m"', '"32m"'))
            drift = lib.session_drift(tmp, self.SESSIONS)
        self.assertEqual(len(drift), 2)
        self.assertIn('lacks graft.serve.ServeMain\'s .config("spark.sql.files.maxPartitionBytes","32m")',
                      drift[0])


class BenchmarkJsonTest(unittest.TestCase):
    def test_metrics_match_what_the_harness_prints(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        layers = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
        self.assertEqual(layers, run.LAYERS)
        names = [w["name"] for w in bench["workloads"]]
        self.assertTrue(set(names) <= set(run.WORKLOADS))
        t = run.Tally(1.0)
        for i in range(12):
            t.add({"kind": "cell", "path": str(i)}, 200, b"{}", 0.0, 0.5 + i / 10, None)
        printed = run.end_to_end({"tally": t, "setup_s": 2.0, "wall": 10.0,
                                  "rounds": [1.0], "cpu_ms": 100.0, "ops": 12, "heap": 50.0})
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         {k: unit for k, (_, unit) in printed.items()})
        self.assertTrue(all(v > 0 for v, _ in printed.values()))
        cells = run.Tally(None)  # contract cells: no latency limit, nothing to count
        cells.add({"kind": "cell", "path": "q"}, 200, b"{}", 0.0, 0.5, None)
        self.assertEqual(cells.ok_in_limit, 0)


if __name__ == "__main__":
    unittest.main()
