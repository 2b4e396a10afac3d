"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed`` under ``.perfbench_work/`` (removed at exit), a session
is started from ``nsl_kdd_spark.session.get_session`` with
``master=local[<nproc>]``, the workload's warm operations run (with
the session start they are ``setup_s``), then whole cycles run until
``--seconds`` of timed work is done.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (a separate,
traced invocation). The line before it carries the workload's own
figures and the host-noise record. The full record of the run (operation
log, spans, status-store counters) is written to
``.perfbench_runs/<workload>-s<seed>-t<trace>-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("olap_mix", "nsl_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _contain_temp_files(work: Path) -> None:
    """Keep Spark's block manager, Python's and the JVM's temp files in
    the run's work directory (the JVM inherits this environment)."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata file: HotSpot writes it to /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def _stop_spark(spark) -> None:
    """Stop the session and wait until the gateway JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith(("_frac", "_yield", "_per_result_row")):
        return "ratio"
    return "count"


def run(args: argparse.Namespace, work: Path) -> dict:
    import stats
    from counters import StatusStore, attribute
    from host import HostNoise, own_peak_rss_mb, peak_rss_mb
    from layers import PER_LAYER, layer_metrics, span_table
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS, Runner

    noise = HostNoise()
    wl = WORKLOADS[args.workload](ROOT, work, args.seed)   # input generation: untimed

    from nsl_kdd_spark import session

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = session.get_session(master=f"local[{cores}]")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = Tracer(sc) if args.trace else NullTracer()
    try:
        for call in wl.traced_calls():
            tracer.wrap(*call)
        runner = Runner(tracer)
        warm_log = stats.OpLog()
        t_warm = time.perf_counter()
        with tracer.span("session.warm"):
            for op in wl.warm_ops(spark, tracer):
                runner.execute(op, warm_log)
        warm_wall = time.perf_counter() - t_warm
        warm_extras = dict(runner.extras)
        rng = random.Random(args.seed)
        log = stats.OpLog()
        cycles = 0
        while log.busy_s < args.seconds:
            for op in wl.cycle(spark, tracer, rng):
                runner.execute(op, log)
            cycles += 1
        attributed = None
        if args.trace:
            store = StatusStore(sc)
            store.fetch()
            attributed = attribute(store, tracer.spans)
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = peak_rss_mb(jvm_pid) + own_peak_rss_mb()
    finally:
        tracer.unwrap_all()
        _stop_spark(spark)

    setup_s = session_s + warm_log.busy_s
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (log.ops_per_s(), "1/s"),
        **{f"{c}_s": (v, "s") for c, v in wl.timings(log).items()},
    }
    every = stats.OpLog(warm_log.records + log.records)
    figures = {
        "workload": wl.name, "seed": args.seed, "cycles": cycles,
        "failed_ops_frac": every.failed_frac,
        # recorded, not gated: the JVM grows its heap at GC-dependent
        # moments, so this spreads wider across seeds than any bound
        "peak_rss_mb": rss_mb,
        **wl.named_metrics(log, runner.extras),
        "sizes": wl.sizes(),
        "host": noise.record(),
    }
    record = {
        "args": vars(args), "figures": figures,
        "e2e": {k: v for k, (v, _) in e2e.items()},
        "setup": {"session_s": session_s, "warm_busy_s": warm_log.busy_s, "warm_wall_s": warm_wall},
        "ops": [vars(r) for r in every.records],
        "measured_ops": [r.op_id for r in log.records],
        "errors": [r.error for r in every.records if not r.ok],
    }
    if args.trace:
        result_rows = {r.name: warm_extras.get(r.op_id, {}).get("result_rows", 0) for r in warm_log.records}
        layers = layer_metrics(tracer.spans, attributed, log,
                               {"ops": runner.extras, "result_rows": result_rows},
                               {"session.start": session_s, "session.warm": warm_log.busy_s}, cores)
        record.update(spans=tracer.spans, span_table=span_table(tracer.spans, attributed), layers=layers,
                      plan_nodes=attributed["nodes"])
        metrics = {k: {"value": layers[k], "unit": _unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {
        "result": {"correct": every.failed == 0, "attempted": every.attempted, "failed": every.failed,
                   "metrics": metrics},
        "figures": figures,
        "record": record,
    }


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    # on SIGTERM unwind normally, so the JVM is stopped and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "nsl_kdd_spark" / "__init__.py").is_file() or not (ROOT / "tools" / "compare.py").is_file():
        print(f"perfbench: the engine sources are not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        _contain_temp_files(work)
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    runs = ROOT / ".perfbench_runs"
    runs.mkdir(exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}.json"
    (runs / name).write_text(json.dumps(out["record"], indent=1, default=str))
    print(json.dumps(out["figures"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
