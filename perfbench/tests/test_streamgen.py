import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import streamgen  # noqa: E402

MIN = 60000


def rec(seq, rid, minute, level="ERROR"):
    return (seq, level, rid, streamgen.BASE_MS + int(minute * MIN))


class ReferenceDedupTest(unittest.TestCase):
    def test_first_occurrence_passes_and_close_repeat_is_suppressed(self):
        recs = [rec(0, "A", 0), rec(1, "A", 4)]
        self.assertEqual(streamgen.reference_t2(recs), {0})

    def test_window_is_two_sided_half_width_inclusive(self):
        self.assertEqual(streamgen.reference_t2([rec(0, "A", 0), rec(1, "A", 5)]), {0})
        self.assertEqual(streamgen.reference_t2([rec(0, "A", 0), rec(1, "A", 5.001)]), {0, 1})
        # an earlier time within half a window is a duplicate too
        self.assertEqual(streamgen.reference_t2([rec(0, "A", 10), rec(1, "A", 6)]), {0})

    def test_suppressed_duplicates_refresh_the_stored_time(self):
        # each record is 4 minutes after the previous one: all but the
        # first are duplicates although the last is 12 minutes after it
        recs = [rec(0, "A", 0), rec(1, "A", 4), rec(2, "A", 8), rec(3, "A", 12)]
        self.assertEqual(streamgen.reference_t2(recs), {0})

    def test_quiet_gap_longer_than_half_window_re_emits(self):
        recs = [rec(0, "A", 0), rec(1, "A", 6), rec(2, "A", 7)]
        self.assertEqual(streamgen.reference_t2(recs), {0, 1})

    def test_ids_are_independent_and_id_less_records_pass(self):
        recs = [rec(0, "A", 0), rec(1, "B", 1), rec(2, None, 1, "INFO"),
                rec(3, "A", 2), rec(4, None, 2, "INFO")]
        self.assertEqual(streamgen.reference_t2(recs), {0, 1, 2, 4})

    def test_t1_keeps_exactly_the_info_records(self):
        recs = [rec(0, None, 0, "INFO"), rec(1, "A", 0), rec(2, None, 1, "WARN"),
                rec(3, None, 1, "INFO")]
        self.assertEqual(streamgen.reference_t1(recs), {0, 3})


class GeneratorTest(unittest.TestCase):
    args = dict(step_ms=36, disorder_ms=120000, hot_ids=20, hot_share=0.5, tail_ids=20000)

    def test_same_seed_same_records(self):
        a = streamgen.generate(7, 2000, **self.args)
        self.assertEqual(a, streamgen.generate(7, 2000, **self.args))
        self.assertNotEqual(a, streamgen.generate(8, 2000, **self.args))

    def test_properties_the_checks_rely_on(self):
        recs = streamgen.generate(1, 50000, **self.args)
        self.assertEqual([r[0] for r in recs], list(range(50000)))
        # per-key event time strictly increasing
        last = {}
        for _, _, rid, ts in recs:
            if rid is not None:
                self.assertGreater(ts, last.get(rid, ts - 1))
                last[rid] = ts
        # global disorder under the 10-minute watermark
        self.assertLess(streamgen.max_disorder_ms(recs), 10 * MIN)
        # event time spans several 10-minute retention windows
        self.assertGreater(recs[-1][3] - recs[0][3], 3 * 10 * MIN)
        # a substantial share of the id-bearing records are duplicates
        ids = [r[0] for r in recs if r[2] is not None]
        kept = streamgen.reference_t2(recs)
        dups = sum(1 for s in ids if s not in kept)
        self.assertGreater(dups / len(ids), 0.3)

    def test_max_disorder(self):
        recs = [(0, "INFO", None, 100), (1, "INFO", None, 40), (2, "INFO", None, 120),
                (3, "INFO", None, 110)]
        self.assertEqual(streamgen.max_disorder_ms(recs), 60)


if __name__ == "__main__":
    unittest.main()
