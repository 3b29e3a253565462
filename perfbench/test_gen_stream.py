"""Self-tests of the stream_gmall input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime as dt
import hashlib
import json
import tempfile
import unittest
from pathlib import Path

import gen_stream as g
from run import ROOT, STREAM

# the inputs a stream_gmall run generates: run.py's schedule over the
# measured window of BENCHMARK.json's run_seconds
SECONDS = json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
PARAMS = dict(log_rate=STREAM["log_rate"], order_rate=STREAM["order_rate"],
              run_ms=STREAM["warm_ms"] + SECONDS * 1000,
              burst_ms=STREAM["burst_ms"], burst_x=STREAM["burst_x"])
BATCH_MS = STREAM["trigger_ms"]      # the narrowest a micro-batch can be
DAY_MS = 86_400_000


def generate(seed):
    d = tempfile.TemporaryDirectory()
    GeneratorTest.dirs.append(d)
    truth = g.write(d.name, seed, **PARAMS)
    return Path(d.name), truth


def rows(path):
    for line in path.read_text().splitlines():
        due, js = line.split("\t", 1)
        yield int(due), json.loads(js)


class GeneratorTest(unittest.TestCase):
    dirs = []

    @classmethod
    def tearDownClass(cls):
        for d in cls.dirs:
            d.cleanup()

    def test_same_seed_same_bytes(self):
        (a, _), (b, _) = generate(7), generate(7)
        for name in ("log.tsv", "cdc.tsv"):
            self.assertEqual(hashlib.sha256((a / name).read_bytes()).digest(),
                             hashlib.sha256((b / name).read_bytes()).digest())
        (c, _) = generate(8)
        self.assertNotEqual((a / "log.tsv").read_bytes(), (c / "log.tsv").read_bytes())

    def test_truth_equals_recount(self):
        d, truth = generate(11)
        errors, dau = 0, set()
        for _, r in rows(d / "log.tsv"):
            if "err" in r:
                errors += 1
            elif "page" in r and "last_page_id" not in r["page"]:
                day = dt.datetime.fromtimestamp(r["ts"] / 1000, dt.timezone.utc).date()
                dau.add((r["common"]["mid"], day))
        info, details = {}, []
        for _, r in rows(d / "cdc.tsv"):
            if r["table"] == "order_info":
                info[r["data"]["id"]] = r["data"]["create_time"]
            elif r["table"] == "order_detail":
                details.append(r["data"])
        parse = lambda s: dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
        joined = [x for x in details if abs(
            (parse(x["create_time"]) - parse(info[x["order_id"]])).total_seconds()) <= 86_400]
        self.assertEqual(errors, truth["errors"])
        self.assertEqual(len(dau), truth["dau_rows"])
        self.assertEqual(len(joined), truth["ow_rows"])
        self.assertAlmostEqual(sum(x["split_total_amount"] for x in joined),
                               truth["ow_amount"], places=6)
        self.assertEqual(sum(1 for _ in rows(d / "log.tsv")), truth["log_events"])

    def test_every_seed_has_the_state_scenarios(self):
        for seed in range(10):
            d, truth = generate(seed)
            entries = {}
            for due, r in rows(d / "log.tsv"):
                if "err" not in r and "page" in r and "last_page_id" not in r["page"]:
                    entries.setdefault(r["common"]["mid"], []).append((due, r["ts"]))
            same_batch = across_batches = across_days = False
            for evs in entries.values():
                for (d1, t1), (d2, t2) in zip(evs, evs[1:]):
                    same_day = t1 // DAY_MS == t2 // DAY_MS
                    same_batch |= same_day and d1 // BATCH_MS == d2 // BATCH_MS
                    across_batches |= same_day and d1 // BATCH_MS != d2 // BATCH_MS
                    across_days |= t2 // DAY_MS == t1 // DAY_MS + 1
            self.assertTrue(same_batch and across_batches and across_days, seed)
            info_due, info_ts, kinds = {}, {}, set()
            cdc = list(rows(d / "cdc.tsv"))
            for due, r in cdc:
                if r["table"] == "order_info":
                    info_due[r["data"]["id"]] = due
                    info_ts[r["data"]["id"]] = r["ts"]
            for due, r in cdc:
                if r["table"] == "order_detail":
                    o = r["data"]["order_id"]
                    if r["ts"] - info_ts[o] > 86_400:
                        kinds.add("beyond_bound")
                    elif due < info_due[o]:
                        kinds.add("detail_first")
                    elif due > info_due[o]:
                        kinds.add("info_first")
            self.assertEqual(kinds, {"beyond_bound", "detail_first", "info_first"}, seed)
            self.assertTrue(all(truth["scenarios"].values()), seed)


if __name__ == "__main__":
    unittest.main()
