"""The open-loop generator reports its lateness, and a late run is invalid."""

import os
import time

from harness import Run
from workloads import TailSteady


def generator(tmp_path, publish):
    gen = object.__new__(TailSteady)  # no inputs or Spark needed for the schedule
    gen.run = Run(seed=0, seconds=1.0, trace=False, work=str(tmp_path), cache=str(tmp_path))
    gen.watch = str(tmp_path / "watch")
    os.makedirs(gen.watch)
    gen.staged = []
    for i in range(6):
        p = tmp_path / f"part-{i:05d}.parquet"
        p.write_bytes(b"x")
        gen.staged.append(str(p))
    gen.published, gen.late_max, gen.tracer = [], 0.0, None
    gen.publish = publish
    return gen


def test_on_time_generator_publishes_on_schedule(tmp_path):
    gen = generator(tmp_path, os.rename)
    t0 = time.time() + 0.05
    gen._generate(t0)
    assert len(gen.published) == 6
    assert sorted(os.listdir(gen.watch)) == [os.path.basename(p) for p in gen.staged]
    dues = [d for d, _, _ in gen.published]
    assert dues == [t0 + (i + 0.5) / TailSteady.RATE_SEGMENTS_PER_S for i in range(6)]
    assert gen.late_max < TailSteady.MAX_LATE_S
    gen.record_validity()
    assert gen.run.failed == 0 and gen.run.attempted == 1


def test_stalled_generator_reports_lateness_and_invalidates_the_run(tmp_path):
    def slow_publish(src, dst):
        time.sleep(0.3)  # slower than the schedule's 1/RATE spacing
        os.rename(src, dst)

    gen = generator(tmp_path, slow_publish)
    gen._generate(time.time())
    # six publishes of 0.3 s against a 0.125 s spacing fall behind by > 0.5 s
    assert gen.late_max > TailSteady.MAX_LATE_S
    gen.record_validity()
    assert gen.run.failed == 1
    assert "generator fell behind" in gen.run.failures[0]
