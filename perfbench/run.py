"""Benchmark entry point.

    python3 perfbench/run.py --workload <pipeline_web|operators> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it records the host, versions, input
sizes and per-iteration detail.

``--trace 0`` reports the end-to-end metrics of the workload:
``setup_s`` (median CPU time of three set-ups, each generating the
inputs and warming the workers and the JIT; the first also starts the
session), ``cpu_s`` (median CPU time of an iteration) and
``peak_rss_mb``. CPU times are summed over the driver, its JVM and the
Python workers. Iterations repeat until ``--seconds`` have passed; each
takes longer than 20 s on 4 CPUs, so with ``--seconds 1`` a run makes
one, in a fresh JVM. The wall times are on the info line.

``--trace 1`` reports every per-layer metric, from Spark's event log.
The layers split over the two workloads, so a traced run makes one
traced iteration of the named workload and then one of the other.
See README.md.
"""

from __future__ import annotations

import argparse
import json
import random
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3
WORKLOADS = ("pipeline_web", "operators")
# pages of the pipeline corpus
PIPELINE_PAGES = 100
# largest share of the traced iteration that the layer figures may
# leave unaccounted for (or count twice)
ACCOUNTED_TOLERANCE = 0.05
UNITS = {
    "jobs": "count", "tasks": "count", "ms_per_doc": "ms",
    "accounted_frac": "ratio", "failed_frac": "ratio",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _check_checkout() -> None:
    missing = [
        p for p in ("docling_eval_spark/__init__.py", "__spark_entry__.py", "bench.py")
        if not (ROOT / p).is_file()
    ]
    if missing:
        sys.exit(f"perfbench: not a source checkout, missing {missing} under {ROOT}")


def _workload(name: str, cores: int):
    import operators
    import pipeline

    if name == "pipeline_web":
        return pipeline, pipeline.PipelineWeb(PIPELINE_PAGES, cores)
    return operators, operators.Operators()


def main(argv=None) -> int:
    args = _parse(argv)
    _check_checkout()
    sys.path[:0] = [str(ROOT), str(HERE)]
    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    import sparkenv

    sparkenv.prepare_env(work)
    import eventlog
    from calls import Calls
    from procmon import PeakRss, steal_s

    cores = sparkenv.cpu_count()
    names = [args.workload]
    if args.trace:
        names += [n for n in WORKLOADS if n != args.workload]
    wls = {n: _workload(n, cores) for n in names}
    info = {
        "workload": args.workload, "seed": args.seed, "cpus": cores,
        "trace": args.trace, **sparkenv.versions(), "inputs": {},
    }
    spark = None
    setup_s, setup_cpu_s, notes, attempted, failed = [], [], [], 0, 0
    run_s = {n: [] for n in names}
    cpu_s = {n: [] for n in names}
    digests = {n: [] for n in names}
    calls, spans, gate_s = {}, {}, {}
    stolen = {n: [] for n in names}
    log_dir = work / "eventlog" if args.trace else None
    with PeakRss() as rss:
        try:
            for rep in range(1 if args.trace else SETUP_REPS):
                t0, cpu0 = time.perf_counter(), rss.cpu_s()
                if spark is None:
                    spark = sparkenv.start_session(work, cores, eventlog_dir=log_dir)
                for n, (_, wl) in wls.items():
                    info["inputs"][n] = wl.make_inputs(spark, work / f"inputs{rep}" / n, args.seed)
                sparkenv.warm_workers(spark, cores)
                setup_s.append(time.perf_counter() - t0)
                setup_cpu_s.append(rss.cpu_s() - cpu0)

            for n, (_, wl) in wls.items():
                t_start = time.perf_counter()
                while not run_s[n] or (
                    not args.trace and time.perf_counter() - t_start < args.seconds
                ):
                    out = work / n / f"iteration{len(run_s[n])}"
                    calls[n] = Calls(spark, traced=bool(args.trace))
                    epoch_ms, steal0, cpu0 = time.time() * 1000, steal_s(), rss.cpu_s()
                    t0 = time.perf_counter()
                    wl.iterate(spark, out, calls[n])
                    run_s[n].append(time.perf_counter() - t0)
                    cpu_s[n].append(rss.cpu_s() - cpu0)
                    spans[n] = (epoch_ms, time.time() * 1000)
                    stolen[n].append(steal_s() - steal0)
                    digests[n].append(wl.digest(out))
                if n != args.workload:
                    continue  # gated in its own runs
                t0 = time.perf_counter()
                a, f, gate_notes = wl.check(spark, out, args.seed)
                attempted, failed = attempted + a, failed + f
                notes += gate_notes
                # outputs must not depend on the run: repeat one call of
                # the iteration and compare output digests
                for name, same in wl.replay(spark, out, random.Random(args.seed)):
                    attempted += 1
                    if not same:
                        failed += 1
                        notes.append(f"output digest differs on a second run: {name}")
                gate_s[n] = time.perf_counter() - t0
            canary_s = _canary(spark) if args.trace else None
        finally:
            if spark is not None:
                spark.stop()
            sparkenv.shutdown_jvm()
            sparkenv.reap_children()

    attempted += 1
    if any(len(set(d)) != 1 for d in digests.values()):
        failed += 1
        notes.append(f"output digests differ across iterations: {digests}")

    if args.trace:
        stats = eventlog.group_stats(eventlog.read_events(str(log_dir)))
        metrics = {}
        for n, (mod, wl) in wls.items():
            metrics.update(mod.layer_metrics(calls[n], stats, wl.docs))
        # every job of a traced iteration must carry a layer's job group
        attempted += 1
        untagged = stats[None].intervals if None in stats else []
        stray = [j for j in untagged if any(lo <= j[0] <= hi for lo, hi in spans.values())]
        if stray:
            failed += 1
            notes.append(f"{len(stray)} jobs without a job group in a traced iteration")
        # the layer figures, each a wall-time difference that includes
        # the layer's driver time, must add up to the traced iteration
        mod = wls[args.workload][0]
        traced_s = run_s[args.workload][0]
        own = calls[args.workload]
        accounted = mod.accounted_s(own, metrics) / traced_s
        attempted += 1
        if abs(accounted - 1.0) > ACCOUNTED_TOLERANCE:
            failed += 1
            notes.append(f"layer figures account for {accounted:.3f} of the traced run")
        metrics.update(
            {
                "host.canary_s": canary_s,
                "trace.run_s": traced_s,
                "trace.untraced_run_s": own.total(),
                "trace.overhead_s": traced_s - own.total(),
                "trace.accounted_frac": accounted,
                "failed_frac": failed / attempted,
            }
        )
        result = {n: {"value": metrics[n], "unit": _unit(n)} for n in per_layer_names()}
    else:
        result = {
            "setup_s": {"value": statistics.median(setup_cpu_s), "unit": "s"},
            "cpu_s": {"value": statistics.median(cpu_s[args.workload]), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
    info.update(
        {
            "setup_s": setup_s, "setup_cpu_s": setup_cpu_s, "run_s": run_s, "cpu_s": cpu_s,
            "steal_s": stolen, "gate_s": gate_s, "digests": digests,
            "notes": notes, "peak_rss_mb": rss.peak_mb,
        }
    )
    print(json.dumps({"info": info}))
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": result}
        ),
        flush=True,
    )
    return 0


def _canary(spark) -> float:
    """Wall time of ``bench._canary``: fixed JVM-only work whose plan
    never changes, so it tracks the host's speed, not the program's.
    It runs after the traced iterations, so it never warms the JVM for
    them."""
    from bench import _canary as canary_df

    from calls import noop

    t0 = time.perf_counter()
    noop(canary_df(spark))
    return time.perf_counter() - t0


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last in UNITS:
        return UNITS[last]
    return "MB" if last.endswith("_mb") else "s"


def per_layer_names() -> list[str]:
    import operators
    import pipeline

    return pipeline.metric_names() + operators.metric_names() + [
        "host.canary_s", "trace.run_s", "trace.untraced_run_s",
        "trace.overhead_s", "trace.accounted_frac", "failed_frac",
    ]


if __name__ == "__main__":
    sys.exit(main())
