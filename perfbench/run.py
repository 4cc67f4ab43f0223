"""Closed-loop benchmark of the engine, one workload per process.

    python3 perfbench/run.py --workload etl_regions --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (the directory holding the
``etl_property_rumah123_spark`` package). One client calls the
package's public entry points: set-up, an untimed warm-up (described
with each workload), then timed operations, one at a time, until
``--seconds`` have passed (at least one), then correctness checks.
Workloads and why:

- ``etl_regions`` (etl_regions.py): the reference job, the only
  workload that runs the Python DataSource and writes to an external
  store (a throwaway Postgres);
- ``corpus_llm`` (corpus_llm.py): the LLM-data operators (dedup with
  connected components, a persisted ANN index, the snapshot log) and
  the streaming layer (TWS gate, session windows); it bypasses the
  listing source and every Postgres sink.

End-to-end metrics (every workload prints all of them):

- ``setup_s``: process start until the session is up and the inputs
  are staged (Postgres included for ``etl_regions``);
- ``pass_s``: median wall time of one operation (a six-region tick, or
  a corpus pass);
- ``rows_per_s``: clean listings merged per timed second
  (``etl_regions``), or events drained per second of steady-state
  micro-batch time across both streaming queries (``corpus_llm``:
  each query's first batch carries its start-up and counts in
  ``pass_s`` only);
- ``batch_ms_p50``: median latency of one region run (``etl_regions``)
  or of one steady-state micro-batch of the TWS gate (``corpus_llm``).

A failed or wrong-result operation counts in ``failed``; the failure
fraction is ``failed / attempted``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, the
wrapped functions' spans go to ``.perfbench_out/`` as JSON lines, and
``trace.overhead_s`` is the median traced operation's time minus that
of one untraced operation run right after them. A settling operation,
untraced and discarded, runs before the traced ones, so neither side
is the first after warm-up. Both sides do the same kind of work: a
corpus pass repeats the same inputs, and every tick carries the same
shares of new, changed and unchanged listings.
The line before it is ``{"env": ...}``: nproc, load, other JVMs, the
driver heap, peak RSS, each timing's sample count and a
``contaminated`` flag.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_property_rumah123_spark"
DRIVER_MEM = "4g"

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "batch_ms_p50": "ms",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "runner.region_s": "s",
    "runner.jobs_per_region": "count",
    "sources.listing_source.extract_s": "s",
    "sources.listing_source.scans_per_region": "count",
    "operators.cleaning.transform_s": "s",
    "operators.cleaning.rows_kept_ratio": "ratio",
    "sinks.pgwire.stage_s": "s",
    "sinks.pgwire.rows_staged": "count",
    "sinks.pgwire.pg_xacts": "count",
    "sinks.jdbc_merge.merge_s": "s",
    "sinks.jdbc_merge.rows_inserted": "count",
    "sinks.jdbc_merge.rows_updated": "count",
    "sinks.jdbc_merge.dead_tuples": "count",
    "sinks.jdbc_merge.update_useful_ratio": "ratio",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "sources.catalog.table_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.cpu_ratio": "ratio",
    "operators.dedup.cc_s": "s",
    "operators.dedup.cc_jobs": "count",
    "operators.similarity.index_write_s": "s",
    "operators.similarity.probe_s": "s",
    "sinks.table_log.commit_s": "s",
    "sinks.table_log.commits": "count",
    "sinks.table_log.read_s": "s",
    "sinks.table_log.files_written": "count",
    "sinks.table_log.mb_written": "MB",
    "streaming.tws.add_batch_ms": "ms",
    "streaming.tws.state_rows": "count",
    "streaming.tws.state_mb": "MB",
    "streaming.tws.state_commit_ms": "ms",
    "streaming.pipelines.add_batch_ms": "ms",
    "streaming.pipelines.state_mb": "MB",
    "streaming.wal_commit_ms": "ms",
    "streaming.rows_out_ratio": "ratio",
    "python_udf_s": "s",
}


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot: on a virtual
    machine, steal is time the host ran someone else on our CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _calibrate() -> float:
    """Seconds for a fixed single-thread Python loop: lets a reader see
    host speed drift between runs."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str) -> None:
    """Environment the driver JVM and its Python workers inherit: must
    be set before the session starts."""
    for sub in ("scratch", "tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers unpickle package classes (the listing DataSource);
    # they resolve the package from PYTHONPATH, not from our sys.path
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as ex:  # noqa: BLE001 - e.g. a signal cut a py4j call short
        _log(f"spark.stop failed ({type(ex).__name__}); stopping the JVM")
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is waited for below either way
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort on a hung JVM
            proc.kill()
            proc.wait()


def run(args) -> dict:
    from context import (
        Context, driver_jvm_pid, java_pids, median, process_age_s, vm_hwm_mb,
    )
    from spans import SparkStats, Tracer

    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    nproc = len(os.sched_getaffinity(0))
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "loadavg_start": _loadavg(),
        "cpu_ticks_start": _cpu_ticks(),
        "other_jvms": len(java_pids()),
        "cpu_calibration_s": _calibrate(),
        "driver_heap": DRIVER_MEM,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
    }
    env["contaminated"] = env["other_jvms"] > 0 or env["loadavg_start"][0] >= nproc

    tracer = Tracer(args.trace == 1)
    ctx = Context(
        root=ROOT, work=work, seed=args.seed, tiny=args.tiny,
        corrupt_expected=args.corrupt_expected, tracer=tracer,
    )
    if args.workload == "etl_regions":
        from etl_regions import EtlRegions as workload_cls
    else:
        from corpus_llm import CorpusLlm as workload_cls
    wl = workload_cls(ctx)
    spark = None
    try:
        from etl_property_rumah123_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                # JVM temp files stay in the run's scratch directory
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                ),
            },
        )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        _log(f"session up at {process_age_s():.2f} s")
        wl.setup(spark)
        setup_s = process_age_s()
        _log(f"set-up {setup_s:.2f} s (session {session_s:.2f} s)")
        t0 = time.perf_counter()
        wl.warmup()
        _log(f"warm-up {time.perf_counter() - t0:.2f} s")

        if tracer.enabled:
            # the first operation after warm-up carries first-touch cost
            # (JIT, the noop-write path, regions the warm-up skipped):
            # it runs untraced and is discarded, so the traced operations
            # and their untraced twin both run on settled state
            tracer.enabled = False
            _log(f"settling operation: {wl.run_pass():.3f} s")
            tracer.enabled = True
            wl.begin_traced()
        windows, times = [], []
        deadline = time.perf_counter() + args.seconds
        while not times or time.perf_counter() < deadline:
            tracer.trace_id += 1
            start = time.time()
            times.append(wl.run_pass())
            windows.append((start, time.time()))
            _log(f"operation {tracer.trace_id}: {times[-1]:.3f} s")
        if tracer.enabled:
            wl.end_traced()
            tracer.enabled = False
            untraced_s = wl.run_pass()
            tracer.enabled = True
            _log(f"untraced operation: {untraced_s:.3f} s")
        wl.check()

        # VmHWM of the driver JVM plus this process: G1 heap growth makes
        # it vary by a quarter run to run, so it is a per-layer figure
        # and a field of the env stamp, not a bounded end-to-end metric
        env["peak_rss_mb"] = vm_hwm_mb(driver_jvm_pid(spark)) + vm_hwm_mb()
        if tracer.enabled:
            stats = SparkStats(spark)
            stats.load()
            metrics = dict.fromkeys(LAYER_UNITS, 0.0)
            metrics.update(wl.layer_metrics(stats, windows))
            metrics["session.start_s"] = session_s
            metrics["process.peak_rss_mb"] = env["peak_rss_mb"]
            metrics["trace.overhead_s"] = median(times) - untraced_s
            units = LAYER_UNITS
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"),
                [{"env": env}, {"jobs": stats.jobs}, {"stages": stats.stages},
                 {"metrics": metrics}],
            )
        else:
            metrics = dict(wl.e2e())
            metrics["setup_s"] = setup_s
            units = E2E_UNITS
        env.update(wl.stamp())
    finally:
        try:
            try:
                wl.close()
            finally:
                if spark is not None:
                    _stop_jvm(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = _loadavg()
    (steal0, total0), (steal1, total1) = env.pop("cpu_ticks_start"), _cpu_ticks()
    env["cpu_steal_frac"] = round((steal1 - steal0) / max(total1 - total0, 1), 4)
    env["failures"] = ctx.failures[:20]
    return {
        "env": env,
        "result": {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {
                name: {"value": metrics[name], "unit": units[name]} for name in units
            },
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["etl_regions", "corpus_llm"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    ap.add_argument(
        "--corrupt-expected", action="store_true",
        help="smoke test: plant one wrong expected value (must count as a failure)",
    )
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    # SIGTERM unwinds through the finally blocks (Postgres, JVM, scratch)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = run(args)
    print(json.dumps({"env": out["env"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
