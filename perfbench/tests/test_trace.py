"""Self-time arithmetic: per-layer self times plus the unattributed
share always add up to the traced wall."""
import unittest

from lib import trace


def total(spans):
    layers, unattributed, wall = trace.self_times(spans)
    return sum(layers.values()) + unattributed, wall, layers, unattributed


class SelfTimes(unittest.TestCase):

    def test_nested_spans(self):
        spans = [
            (1, "run", 0, 100, 0),
            (2, "ingest.op", 10, 50, 1),
            (3, "sink.write", 20, 30, 2),
            (4, "analytics.rms", 60, 90, 0),  # listener span, parent by containment
        ]
        s, wall, layers, un = total(spans)
        self.assertAlmostEqual(wall, 100e-9)
        self.assertAlmostEqual(layers["ingest"], 30e-9)
        self.assertAlmostEqual(layers["sink"], 10e-9)
        self.assertAlmostEqual(layers["analytics"], 30e-9)
        self.assertAlmostEqual(un, 30e-9)
        self.assertAlmostEqual(s, wall)

    def test_self_time_of_a_layer_sums_its_spans(self):
        spans = [(1, "run", 0, 100, 0), (2, "queries.q1", 0, 10, 1),
                 (3, "operators.sql", 10, 40, 1), (4, "queries.q2", 40, 45, 1),
                 (5, "operators.sql", 45, 100, 1)]
        _, _, layers, un = total(spans)
        self.assertAlmostEqual(layers["queries"], 15e-9)
        self.assertAlmostEqual(layers["operators"], 85e-9)
        self.assertEqual(un, 0)

    def test_overlapping_threads_never_exceed_the_wall(self):
        spans = [
            (1, "run", 0, 100, 0),
            (2, "bench.wait", 5, 95, 1),
            (3, "streaming.batch", 10, 60, 0),
            (4, "fixtures.land", 40, 70, 0),  # generator thread, overlaps the batch
            (5, "sink.write", 20, 30, 0),
        ]
        s, wall, layers, un = total(spans)
        self.assertAlmostEqual(s, wall)
        self.assertAlmostEqual(layers["sink"], 10e-9)
        self.assertAlmostEqual(un, 10e-9)
        # the later-started of two equally deep spans owns the overlap
        self.assertAlmostEqual(layers["fixtures"], 30e-9)
        self.assertAlmostEqual(layers["streaming"], 30e-9)

    def test_identical_intervals_do_not_loop(self):
        spans = [(1, "run", 0, 10, 0), (2, "sink.a", 2, 8, 0), (3, "sink.b", 2, 8, 0)]
        s, wall, layers, _ = total(spans)
        self.assertAlmostEqual(layers["sink"], 6e-9)
        self.assertAlmostEqual(s, wall)

    def test_spans_outside_the_root_are_clipped(self):
        spans = [(1, "run", 10, 20, 0), (2, "sessions.stop", 15, 30, 0)]
        s, wall, layers, un = total(spans)
        self.assertAlmostEqual(layers["sessions"], 5e-9)
        self.assertAlmostEqual(s, wall)


if __name__ == "__main__":
    unittest.main()
