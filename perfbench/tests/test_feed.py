"""Tests of the seeded CDC feed generator.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import feed  # noqa: E402


class FeedTest(unittest.TestCase):

    def test_byte_identical_for_a_seed(self):
        with tempfile.TemporaryDirectory() as tmp:
            digests = []
            for i in range(2):
                path = os.path.join(tmp, "feed%d.tsv" % i)
                digests.append(feed.write_feed(feed.microbatch_feed(7, 6, 300), path))
            with open(os.path.join(tmp, "feed0.tsv"), "rb") as a, \
                    open(os.path.join(tmp, "feed1.tsv"), "rb") as b:
                self.assertEqual(a.read(), b.read())
            self.assertEqual(digests[0], digests[1])
        self.assertEqual(feed.digest(feed.backfill_feed(7, 100, 5, 3)),
                         feed.digest(feed.backfill_feed(7, 100, 5, 3)))

    def test_seeds_differ(self):
        self.assertNotEqual(feed.digest(feed.microbatch_feed(1, 4, 300)),
                            feed.digest(feed.microbatch_feed(2, 4, 300)))

    def test_planted_faults(self):
        files = feed.microbatch_feed(3, 10, 1000)
        msgs = [m for f in files for m in f]
        self.assertEqual(len(msgs), 10000)
        corrupt = [m for m in msgs if m.corrupt]
        self.assertTrue(50 < len(corrupt) < 150, len(corrupt))
        for m in corrupt:
            with self.assertRaises(ValueError):
                json.loads(m.value)
        deletes = sum(1 for m in msgs if not m.corrupt and
                      json.loads(m.value)["op"] == "delete")
        self.assertTrue(0.15 < deletes / len(msgs) < 0.25, deletes)

    def test_late_rule_matches_the_planted_late_messages(self):
        # every message delivered late is behind the recorded watermark,
        # and no message delivered on time is
        for seed in range(4):
            files = feed.microbatch_feed(seed, 8, 1000)
            dead, late, admitted = feed.admission(files)
            self.assertEqual(sorted(id(m) for m in late),
                             sorted(id(m) for m in feed.planted_late(files)))
            self.assertTrue(late)
            published = [m for f in files for m in f if m.published]
            self.assertEqual(len(dead) + len(late) + len(admitted), len(published))

    def test_admission_of_a_prefix_is_the_prefix_of_the_admission(self):
        files = feed.microbatch_feed(5, 8, 500)
        fate = feed.statuses(files)
        fate3 = feed.statuses(files[:3])
        for f in files[:3]:
            for m in f:
                self.assertEqual(fate.get(id(m)), fate3.get(id(m)))

    def test_backfill_replays_use_disjoint_keys_and_lsns(self):
        files = feed.backfill_feed(9, 200, 4, 3)
        self.assertEqual([len(f) for f in files], [800] * 3)
        keys = [set(m.key for m in f) for f in files]
        lsns = [set(m.lsn for m in f) for f in files]
        for i in range(3):
            for j in range(i + 1, 3):
                self.assertFalse(keys[i] & keys[j])
                self.assertFalse(lsns[i] & lsns[j])

    def test_toast_markers(self):
        env = feed.envelope(15, 4, "click", 1.5, 7)
        self.assertEqual(env["op"], "update")
        self.assertEqual(env["unchangedCols"], ["k", "value"])
        self.assertIsNone(env["after"]["k"])
        self.assertIsNone(env["after"]["value"])
        ins = feed.envelope(15, 4, "signup", 1.5, 7)
        self.assertNotIn("unchangedCols", ins)
        self.assertEqual(ins["after"], {"user_id": "4", "value": "1.5", "k": "7"})
        self.assertEqual(feed.envelope(15, 4, "error", 1.5, 7)["after"], {})


if __name__ == "__main__":
    unittest.main()
