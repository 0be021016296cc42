#!/usr/bin/env python3
"""Self-test of the benchmark's arithmetic on fixed inputs:

    python3 perfbench/selftest.py

Checks the tail percentile rule, self time from nested spans, and that
the per-module sums equal the listener's totals for a pass.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def test_percentiles():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile(xs, 90) == 90.0
    # 100 samples: p90 leaves exactly ten beyond it, p95 only five.
    assert stats.tail_percentile(xs) == (90.0, 90.0, 10)
    # 1000 samples: p99 leaves ten beyond it.
    assert stats.tail_percentile(list(range(1000)))[:1] == (99.0,)
    # 40 samples: p75 leaves ten.
    assert stats.tail_percentile(list(range(40))) == (75.0, 29, 10)
    # 15 samples: even the median leaves only seven.
    assert stats.tail_percentile(list(range(15))) is None
    # An op's wall time over a run's passes is its lower quartile: the
    # fastest for up to four passes, the second fastest for five to eight.
    for n in (3, 4):
        assert stats.percentile([3.0, 1.0, 2.0, 5.0][:n], 25) == 1.0
    assert stats.percentile([5.0, 1.0, 4.0, 2.0, 3.0], 25) == 2.0
    assert stats.percentile([float(i) for i in range(8, 0, -1)], 25) == 2.0


def test_self_time():
    spans = {
        1: (0, 0, 100),     # pass
        2: (1, 0, 60),      # op
        3: (2, 0, 20),      # build
        4: (2, 20, 60),     # action
        5: (4, 25, 35),     # job
        6: (4, 30, 50),     # job overlapping the first
        7: (4, 55, 70),     # job running past the action's end
        8: (1, 60, 90),     # op
    }
    s = stats.self_times(spans)
    assert s[1] == 10          # 100 - [0,90)
    assert s[2] == 0           # build + action cover it
    assert s[3] == 20
    assert s[4] == 40 - 25 - 5  # [25,50) and [55,60) covered
    assert s[5] == 10 and s[8] == 30
    assert stats.union_length([(0, 10), (5, 15), (20, 25)], 0, 100) == 20
    assert stats.union_length([(0, 10)], 3, 5) == 2


def test_module_sums():
    ops = [
        {"group": "g-a", "module": "text", "start_ns": 0, "end_ns": 100},
        {"group": "g-b", "module": "dedup", "start_ns": 100, "end_ns": 200},
    ]
    jobs = [
        {"id": 0, "group": "g-a", "start_ns": 10, "stages": [0, 1]},
        {"id": 1, "group": "g-a", "start_ns": 20, "stages": [1, 2]},  # stage 1 skipped
        {"id": 2, "group": "stream-run", "start_ns": 150, "stages": [3]},  # by time
        {"id": 3, "group": None, "start_ns": 250, "stages": [4]},  # harness
    ]

    def stage(i, cpu):
        s = dict.fromkeys(stats.STAGE_FIELDS, 0)
        s.update(id=i, tasks=2, cpu_s=cpu)
        return s

    stages = [stage(0, 1.0), stage(1, 2.0), stage(2, 4.0), stage(3, 8.0), stage(4, 16.0)]
    by_mod, tot = stats.module_totals(jobs, stages, ops)
    assert by_mod["text"]["cpu_s"] == 7.0 and by_mod["text"]["jobs"] == 2
    assert by_mod["dedup"]["cpu_s"] == 8.0 and by_mod["dedup"]["jobs"] == 1
    assert by_mod["harness"]["cpu_s"] == 16.0
    for f in stats.STAGE_FIELDS + ("jobs",):
        assert sum(m.get(f, 0) for m in by_mod.values()) == tot[f], f
    assert tot["cpu_s"] == 31.0 and tot["tasks"] == 10 and tot["jobs"] == 4


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
