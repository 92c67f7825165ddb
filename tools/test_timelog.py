"""timelog.py merges TIME logs without inflating floors or mis-pairing CPU.

    python3 tools/test_timelog.py
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import timelog  # noqa: E402


def time_line(name, reps, rows=10, cpu=None):
    """A TIME line in the exact layout `graft.tools.Profile time` prints."""
    med = sorted(reps)[len(reps) // 2]
    cpu = cpu or [r * 2 for r in reps]
    return (f"TIME {name:<24} median={med:7.3f} s  reps={','.join(f'{r:.3f}' for r in reps)}"
            f"  rows={rows}  cpu={','.join(f'{c:.3f}' for c in cpu)}\n")


class TimelogTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def write(self, name, text):
        path = os.path.join(self.tmp.name, name)
        with open(path, "w") as f:
            f.write(text)
        return path

    def floors(self, committed, *logs):
        src = self.write("committed.json", json.dumps({
            "what": "w", "sf": "/data/sf0.1", "cpus": 4, "n_queries": len(committed),
            "total_of_medians_sec": 0,
            "medians_sec": {k: v[0] for k, v in committed.items()},
            "cpu_medians_sec": {k: v[1] for k, v in committed.items() if v[1] is not None}}))
        out = os.path.join(self.tmp.name, "out.json")
        timelog.floors(src, [self.write(f"log{i}", t) for i, t in enumerate(logs)], out)
        with open(out) as f:
            return json.load(f)

    def test_floors_never_rise(self):
        doc = self.floors({"a": (1.0, 3.0), "b": (2.0, 4.0)},
                          time_line("a", [1.5, 1.6, 1.7]) + time_line("b", [1.0, 1.2, 1.4]))
        self.assertEqual(doc["medians_sec"], {"a": 1.0, "b": 1.2})
        self.assertEqual(doc["total_of_medians_sec"], 2.2)
        self.assertEqual(doc["sf"], "/data/sf0.1")

    def test_later_log_wins_per_query(self):
        doc = self.floors({"a": (5.0, None)},
                          time_line("a", [0.5, 0.5, 0.5]) + time_line("new", [3.0, 3.0, 3.0]),
                          time_line("a", [0.8, 0.8, 0.8]))
        # The re-run's 0.8 replaces the chunked 0.5 before the min against
        # the committed 5.0; a query new to the file is added.
        self.assertEqual(doc["medians_sec"], {"a": 0.8, "new": 3.0})
        self.assertEqual(doc["n_queries"], 2)

    def test_cpu_follows_the_wall_winner(self):
        doc = self.floors({"a": (1.0, 9.0), "b": (1.0, 7.0), "c": (1.0, 5.0)},
                          time_line("a", [0.7, 0.8, 0.9], cpu=[2.0, 2.5, 9.0])
                          + time_line("b", [1.5, 1.5, 1.5], cpu=[0.1, 0.1, 0.1])
                          + time_line("c", [0.5, 0.5, 0.5], cpu=[-1.0, -1.0, -1.0]))
        self.assertEqual(doc["medians_sec"], {"a": 0.8, "b": 1.0, "c": 0.5})
        # a: the winning log's cpu median; b: floor held, committed cpu
        # kept; c: the winner had no valid cpu, so no stale cpu remains.
        self.assertEqual(doc["cpu_medians_sec"], {"a": 2.5, "b": 7.0})

    def test_malformed_lines_are_skipped(self):
        log = ("CHUNK a,b\n"
               "TIME a median=abc s  reps=1.0  rows=3\n"
               "TIME a median=  0.100 s  reps=0.1.0,0.100  rows=3  cpu=0.1\n"
               "TIME b median=  0.100 s  reps=0.100\n"
               "garbage TIME c median=  0.100 s  reps=0.100  rows=3\n"
               "CHUNKFAIL a,b\n"
               + time_line("d", [0.2, 0.3, 0.4]))
        doc = self.floors({"a": (1.0, None), "b": (1.0, None)}, log)
        self.assertEqual(doc["medians_sec"], {"a": 1.0, "b": 1.0, "d": 0.3})

    def test_profile_line_layout_parses(self):
        rec = timelog.parse_line(
            "TIME j1_dim_join              median=  0.123 s  reps=0.130,0.123,0.120"
            "  rows=100  cpu=0.400,-1.000,0.300")
        self.assertEqual(rec, ("j1_dim_join", 0.123, [0.13, 0.123, 0.12], 100, 0.4))

    def test_scale_min_of_reps_and_flagging(self):
        base = self.write("base", time_line("a", [1.0, 1.2, 1.1]) + time_line("b", [1.0, 1.0, 1.0]))
        base2 = self.write("base2", time_line("a", [0.5, 0.9, 0.9]))
        x10 = self.write("x10", time_line("a", [2.0, 2.0, 2.0], rows=100)
                         + time_line("b", [5.0, 5.0, 5.0]) + time_line("only10", [1.0]))
        out = os.path.join(self.tmp.name, "scale.json")
        timelog.scale(out, [f"1x={base},{base2}", f"10x={x10}"])
        with open(out) as f:
            doc = json.load(f)
        self.assertEqual(doc["queries"]["a"]["sec_1x"], 0.5)
        self.assertEqual(doc["queries"]["a"]["ratio_10x"], 4.0)
        self.assertEqual(doc["queries"]["a"]["rows_10x"], 100)
        self.assertEqual(doc["flagged"], ["b"])
        self.assertNotIn("only10", doc["queries"])


if __name__ == "__main__":
    unittest.main()
