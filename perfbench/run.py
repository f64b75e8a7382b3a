"""Pipeline benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds nothing: the engine is the
``crmint_spark`` package beside this directory. The run generates its
inputs from the seed, starts one Spark session, sets up the workload,
runs ``WARMUP`` untimed cycles, then times a fixed number of whole
cycles: one per ``NOMINAL_CYCLE_S`` seconds of ``--seconds``, at least
``MIN_CYCLES``. The count does not depend on how fast the cycles run,
so every commit times the same days. It checks the program's outputs
after every cycle, outside every timed interval. The last line of
standard output is the JSON result.

With ``--trace 0`` it reports the end-to-end metrics. With ``--trace 1``
it reports the per-layer metrics: timed cycles follow ``TRACE_PATTERN``,
the per-layer figures are per-cycle means over the traced cycles of its
first round, and ``trace.overhead_pct`` compares the median traced and
untraced cycle. Spans are written to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()

WORKLOADS = ("propensity_daily", "audience_scripts")
#: untimed cycles before the first timed one
WARMUP = 1
#: a run times one cycle per this many seconds of --seconds (about what
#: a cycle takes on the development host) ...
NOMINAL_CYCLE_S = {"propensity_daily": 10.0, "audience_scripts": 5.0}
#: ... and at least this many
MIN_CYCLES = 3
#: a traced run times its cycles in this order: the first, still warming
#: up, untraced and left out of trace.overhead_pct; then traced,
#: untraced, untraced, traced, so a steady trend cancels out of the
#: overhead. It runs at least one whole pattern.
TRACE_PATTERN = (False, True, False, False, True)
#: the per-layer figures are means over the traced cycles of the first
#: round, which fall on the same days in every run
TRACED_CYCLES = TRACE_PATTERN.count(True)
#: space_amp is taken after this many timed cycles, so that it does not
#: depend on --seconds
SPACE_AFTER = MIN_CYCLES
DRIVER_MEMORY = "3g"
#: C1 only, compiling at a tenth of the usual invocation counts. With
#: the default tiered JIT, C2 was still compiling through every timed
#: cycle of a 45 s run (its threads used more CPU than all of Spark's
#: own threads), so a timed cycle measured how far the JIT had got, and
#: under load from other processes it went 25-70% slower instead of
#: about 10-15%. This way the JIT has done most of its work by the end
#: of the warm-up cycle and the timed cycles of a run lie close
#: together. C1 alone gets a 48 MB code cache, which these runs fill
#: (the sweeper then evicts and recompiles), so the cache keeps the
#: tiered default size.
JIT_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.1 -XX:ReservedCodeCacheSize=240m"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    """Spark task threads: two, or one on a single-core host. The tasks
    of these inputs are short, so a cycle is bound by per-job latency,
    not by task threads; two threads time the same as three on a 4-core
    host and leave the other cores to the Python driver, the JIT and
    the output checks, which steadies the figures."""
    return 2 if (os.cpu_count() or 1) >= 2 else 1


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside its work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "spark-warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, k: int):
    from crmint_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=k,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JIT_OPTIONS}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def timed_cycles(workload: str, seconds: float, trace: bool) -> int:
    n = max(MIN_CYCLES, math.ceil(seconds / NOMINAL_CYCLE_S[workload]))
    return max(n, len(TRACE_PATTERN)) if trace else n


def verify(c) -> float:
    """Run the cycle's output checks; returns the seconds they took."""
    t = time.perf_counter()
    c.verify()
    return time.perf_counter() - t


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "crmint_spark", "__init__.py")):
        print("perfbench: run from a checkout root that holds crmint_spark/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    from perfbench import layers
    from perfbench.common import Context, JobClock, space_amp
    from perfbench.trace import Tracer

    k = cores()
    tracer = Tracer()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, k)
        session_s = time.perf_counter() - t
        boundary = layers.Boundary()
        clock = JobClock()
        clock.install()
        layers.install(tracer, spark, boundary)
        ctx = Context(spark=spark, work=work, seed=args.seed, cores=k, boundary=boundary)
        wl = make_workload(args.workload, ctx)
        t = time.perf_counter()
        wl.setup()
        load_s = time.perf_counter() - t
        attempted = failed = 0
        i = 0
        warm: list[float] = []
        check_s = 0.0  # the warm-up checks are the benchmark's, not set-up
        for _ in range(WARMUP):
            c = wl.run_cycle(i, clock)
            check_s += verify(c)
            attempted, failed, i = attempted + c.attempted, failed + c.failed, i + 1
            warm.append(c.wall)
        setup_s = time.perf_counter() - PROCESS_START - check_s
        counters = layers.SparkCounters(spark) if args.trace else None
        phases = layers.CatalystPhases(spark) if args.trace else None
        if counters is not None:
            counters.collect(boundary.job_groups)  # mark set-up jobs as seen
        timed: list = []
        traced_walls: list[float] = []
        untraced_walls: list[float] = []
        per_layer: list[dict] = []
        amp = None
        for _ in range(timed_cycles(args.workload, args.seconds, bool(args.trace))):
            traced = bool(args.trace) and TRACE_PATTERN[len(timed) % len(TRACE_PATTERN)]
            tracer.enabled, tracer.cycle = traced, i
            if phases is not None:
                phases.active = traced
            boundary.job_groups.clear()
            first_query = len(boundary.queries)
            c = wl.run_cycle(i, clock)
            tracer.enabled = False
            verify(c)
            attempted, failed, i = attempted + c.attempted, failed + c.failed, i + 1
            timed.append(c)
            if counters is not None:
                catalyst = phases.take()
                groups = boundary.job_groups + [str(q.runId) for q in boundary.queries[first_query:]]
                spark_counts = counters.collect(groups)
                if len(timed) > 1:
                    (traced_walls if traced else untraced_walls).append(c.wall)
                if traced and len(per_layer) < TRACED_CYCLES:
                    m = layers.span_metrics([s for s in tracer.spans if s.cycle == i - 1])
                    m.update(spark_counts)
                    m.update(catalyst)
                    m.update(layers.stream_progress(boundary.queries[first_query:]))
                    m.update(c.layer)
                    per_layer.append(m)
            if len(timed) == SPACE_AFTER:
                amp = space_amp(*wl.warehouses)
        if args.trace:
            metrics = {}
            for name, unit, _better in layers.PER_LAYER:
                vals = [m.get(name, 0.0) for m in per_layer]
                metrics[name] = {"value": sum(vals) / len(vals), "unit": unit}
            metrics["session.start_s"]["value"] = session_s
            for name, v in layers.process_metrics(spark).items():
                metrics[name]["value"] = v
            metrics["trace.overhead_pct"]["value"] = 100.0 * (
                median(traced_walls) / median(untraced_walls) - 1.0
            )
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}-p{os.getpid()}.jsonl"))
        else:
            walls = [c.wall for c in timed]
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cycle_s": {"value": median(walls), "unit": "s"},
                "job_s": {"value": median([j for c in timed for j in c.jobs]), "unit": "s"},
                "rows_per_s": {"value": median([c.rows / c.wall for c in timed]), "unit": "rows/s"},
                "space_amp": {"value": amp, "unit": "ratio"},
            }
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        print(
            f"perfbench: session {session_s:.2f} s, inputs and tables {load_s:.2f} s, warm-up cycles "
            + ", ".join(f"{w:.2f}" for w in warm)
            + " s; timed cycles "
            + ", ".join(f"{c.wall:.2f}" for c in timed)
            + " s",
            file=sys.stderr,
        )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def make_workload(name: str, ctx):
    if name == "propensity_daily":
        from dataclasses import replace

        from perfbench.common import Sequence
        from perfbench.propensity import Propensity
        from perfbench.stream import Stream

        # the day's event drop is ingested first, in a directory of its
        # own, then the day's ML pipelines run
        ingest = Stream(replace(ctx, work=os.path.join(ctx.work, "ingest")))
        return Sequence(name, [ingest, Propensity(ctx)])
    from perfbench.audience import Audience

    return Audience(ctx)


if __name__ == "__main__":
    sys.exit(main())
