import json
import os
import sys
import unittest

HERE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, HERE)

import run  # noqa: E402


class StreamScheduleTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "config.json")) as f:
            self.sc = json.load(f)["stream_logs"]

    def test_segments_split_each_round_at_the_offered_rate(self):
        seg = run.segments(self.sc, 10)
        per_round = self.sc["offered_rate_rps"] * 10 / self.sc["rounds"]
        self.assertEqual(seg["t1"] + seg["t2"], int(per_round))
        self.assertLess(seg["t1"], seg["t2"])  # T1, the control, gets the smaller share

    def test_chunk_times_pool_every_round_of_one_pipeline(self):
        res = {"phases": [
            {"pipeline": "t1", "phase": "cold", "chunk_ms": [900.0]},
            {"pipeline": "t1", "phase": "capacity", "chunk_ms": [10.0, 11.0]},
            {"pipeline": "t2", "phase": "capacity", "chunk_ms": [30.0, 31.0]},
            {"pipeline": "t1", "phase": "latency"},
            {"pipeline": "t1", "phase": "capacity", "chunk_ms": [12.0, 13.0]}]}
        self.assertEqual(run.chunk_ms(res, "t1"), [10.0, 11.0, 12.0, 13.0])


if __name__ == "__main__":
    unittest.main()
