"""Pieces shared by the workloads: the per-cycle record, operation
counting and the warehouse space measurement."""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field
from typing import Callable


@dataclass
class Context:
    spark: object
    work: str  # this run's private directory inside the checkout
    seed: int
    cores: int  # Spark task threads; pipeline parallelism never exceeds it
    boundary: object  # layers.Boundary


@dataclass
class Cycle:
    wall: float = 0.0  # seconds of the timed work (checks excluded)
    jobs: list[float] = field(default_factory=list)  # per job / drain
    rows: int = 0  # input rows the cycle fed the program
    attempted: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)  # traced extras
    # the cycle's output checks; run.py calls it outside every timed
    # interval, set-up included
    verify: Callable[[], None] = lambda: None

    def op(self, name: str, ok: bool, detail: str = "") -> None:
        """Count one operation; a failure is reported on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAILED {name}: {detail}"[:2000], file=sys.stderr)

    def check(self, name: str, fn) -> None:
        """Run one output check; an exception or False fails it."""
        try:
            res = fn()
            ok, detail = (res, "") if isinstance(res, bool) else res
        except Exception as e:  # a check that cannot run did not hold
            ok, detail = False, f"{type(e).__name__}: {e}"
        self.op(name, ok, detail)


def count_pipeline(cycle: Cycle, runs: dict) -> None:
    for name, run in runs.items():
        cycle.op(f"job {name}", run.status.value == "succeeded", run.error or run.status.value)


class JobClock:
    """Wall time of each ``Worker.execute`` (one pipeline job attempt),
    recorded with tracing on or off."""

    def __init__(self):
        self.times: list[float] = []

    def install(self) -> None:
        from crmint_spark.workers.base import Worker

        orig = Worker.execute
        clock = self

        def timed_execute(worker):
            t = time.perf_counter()
            try:
                return orig(worker)
            finally:
                clock.times.append(time.perf_counter() - t)

        Worker.execute = timed_execute

    def take(self) -> list[float]:
        out, self.times = self.times, []
        return out


class Sequence:
    """A workload whose cycle runs the cycles of its parts one after
    another, on the same day index. Its wall time, jobs, rows and
    operations are the sums of the parts'."""

    def __init__(self, name: str, parts: list):
        self.name = name
        self.parts = parts
        self.warehouses = [w for p in parts for w in p.warehouses]

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def run_cycle(self, i: int, clock) -> Cycle:
        subs = [p.run_cycle(i, clock) for p in self.parts]
        c = Cycle(
            wall=sum(s.wall for s in subs),
            jobs=[j for s in subs for j in s.jobs],
            rows=sum(s.rows for s in subs),
        )

        def verify() -> None:
            # the parts count their operations and set their traced
            # extras while they run and while they are checked
            for s in subs:
                s.verify()
            c.attempted = sum(s.attempted for s in subs)
            c.failed = sum(s.failed for s in subs)
            c.layer = {k: v for s in subs for k, v in s.layer.items()}

        c.verify = verify
        return c


def space_amp(*warehouses: str) -> float:
    """Bytes of the files under the warehouses, each inode once, over the bytes
    of the parquet files live tables reference. Live tables are the
    ``<project>/<dataset>/<table>`` directories; the version store,
    job history, layout records and model registry are overhead."""
    seen: set[int] = set()
    total = 0
    live_seen: set[int] = set()
    live = 0
    for warehouse in warehouses:
        for dirpath, _dirs, files in os.walk(warehouse):
            rel = os.path.relpath(dirpath, warehouse)
            top = rel.split(os.sep)[0]
            is_live = not top.startswith("_") and rel.count(os.sep) >= 2
            for f in files:
                try:
                    st = os.lstat(os.path.join(dirpath, f))
                except OSError:
                    continue
                if st.st_ino not in seen:
                    seen.add(st.st_ino)
                    total += st.st_size
                if is_live and f.endswith(".parquet") and st.st_ino not in live_seen:
                    live_seen.add(st.st_ino)
                    live += st.st_size
    return total / live if live else float("nan")
