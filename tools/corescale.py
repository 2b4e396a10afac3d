"""Core-scaling evidence PAST the stage-overhead floor (r13 verdict #4).

The driver's 8-vs-32-core scaling block over the sf0.1 headline reads
~1.0 everywhere because every headline cell sits at the per-job
scheduling floor at that SF (the constant-work CPU canary scales 2.7x,
so the harness honors $SPARK_GRAFT_CPUS — the queries are simply too
small). This tool measures the cells that are actually compute-bound —
dedup100k jaccard (20x-replicated documents, the heaviest dedup tier)
and sf1 q52 exact percentiles (6M-row lineitem) — at two core counts,
each in its OWN subprocess/JVM (cold session per core count; same
min-of-N + noop-sink + clearCache methodology as bench.py), and writes
``records/CORESCALE_r14.json`` with the ratios.

Usage:
    python tools/corescale.py                # orchestrate 32 vs 8
    python tools/corescale.py --run 8        # one core count (internal)

This is deliberately NOT part of bench.py: the driver contract pins
bench.py to one master (local[$SPARK_GRAFT_CPUS]) so the driver itself
can vary the core count; this tool provides the committed-record
evidence on tiers the driver's window doesn't cover.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _measure(fn, reset=None, reps: int = 3, retries: int = 2) -> float:
    """bench.py's methodology exactly: the reset (cache drop +
    input re-pin) runs BEFORE the timer starts — the timed region is
    the operator alone, never fixture re-materialization — plus the
    bench's adaptive retry (extra reps while the spread exceeds 3x,
    bounded) because this host's sustained-load steal bursts have been
    measured swallowing a whole min-of-3 window on the heavy cells."""
    seen: list[float] = []
    while len(seen) < reps or (
        len(seen) < reps + retries and max(seen) > 3 * min(seen)
    ):
        if reset is not None:
            reset()
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        seen.append(round(time.perf_counter() - t0, 3))
    return min(seen)


def run_one(cores: int) -> dict:
    from bench import ensure_sf1_dir, read_cpu_steal, scaled_documents
    from nsl_kdd_spark.operators.dedup import jaccard_pairs
    from nsl_kdd_spark.plans.catalog import QUERIES
    from nsl_kdd_spark.session import get_session

    from pyspark.sql import functions as F

    steal_start = read_cpu_steal()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session(
        app_name=f"corescale-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory":
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
            "spark.driver.extraJavaOptions":
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}

    # constant-work CPU canary — proves the core count is honored
    def canary():
        return (
            spark.range(0, 8_000_000_000, 1, 64)
            .select(F.xxhash64("id").alias("h"))
            .agg(F.sum("h").alias("s"))
        )

    out["calib_range_xxhash64"] = _measure(canary, reps=3)

    # dedup100k jaccard: the heaviest dedup-tier cell (compute-bound:
    # shingle hash + prefix-index self-join + exact verify)
    docs = scaled_documents(spark, sf_dir, 20).persist()
    docs.count()

    def repin():
        spark.catalog.clearCache()
        docs.persist()
        docs.count()

    out["dedup100k_jaccard"] = _measure(
        lambda: jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8),
        reset=repin, reps=3,
    )
    docs.unpersist()

    # sf1 q52 exact percentiles: 6M-row lineitem, distributed exact
    # percentile (counts + window) — shuffle/agg-bound past the floor
    sf1_dir = ensure_sf1_dir(spark, sf_dir)

    out["sf1_q52_percentiles"] = _measure(
        lambda: QUERIES["q52_percentiles"](spark, sf1_dir),
        reset=spark.catalog.clearCache, reps=3,
    )
    steal_end = read_cpu_steal()
    if steal_start and steal_end and steal_end[1] > steal_start[1]:
        out["host_steal_pct"] = round(
            100.0 * (steal_end[0] - steal_start[0])
            / (steal_end[1] - steal_start[1]), 2
        )
    spark.stop()
    return out


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--run":
        print(json.dumps(run_one(int(sys.argv[2]))))
        return

    # This sandbox's hypervisor steal AMPLIFIES with thread count
    # (13-22% sampled steal + 55-77% idle during 32-thread runs while
    # 8-thread runs read ~0%), and bursts outlast a whole min-of-3
    # window — measured swings of 7.6 -> 55.7 s on the SAME 32-core
    # cell across back-to-back invocations. So: alternate fresh
    # 32c/8c JVM pairs N times (tight temporal pairing), report the
    # per-cell MIN across rounds as the demonstrated-capability
    # estimator (BASELINE.md's envelope rule), and keep EVERY raw
    # round in the record with its own steal canary so the estimator
    # is auditable rather than cherry-picked.
    rounds = int(os.environ.get("CORESCALE_ROUNDS", "3"))
    core_counts = [int(c) for c in (sys.argv[1:] or ["32", "8"])]
    raw: list[dict] = []
    for r in range(rounds):
        for c in core_counts:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--run", str(c)],
                capture_output=True, text=True, cwd=REPO,
            )
            if proc.returncode != 0:
                raise RuntimeError(
                    f"round {r}, {c} cores: child exited with {proc.returncode}; "
                    f"completed rounds: {json.dumps(raw)}\n{proc.stderr}"
                )
            line = proc.stdout.strip().splitlines()[-1]
            raw.append({"round": r, "cores": c, **json.loads(line)})

    def best(cores: int) -> dict:
        runs = [x for x in raw if x["cores"] == cores]
        cells = [k for k in runs[0] if k not in ("round", "cores", "host_steal_pct")]
        return {cell: min(x[cell] for x in runs) for cell in cells}

    hi, lo = core_counts[0], core_counts[-1]
    bhi, blo = best(hi), best(lo)
    ratios = {cell: round(blo[cell] / bhi[cell], 2) for cell in bhi}
    record = {
        "metric": f"wall-clock sec at local[{hi}] vs local[{lo}], noop "
                  "sink, fresh JVM per (round, core count), per-cell min "
                  f"over {rounds} alternating rounds x min-of-3 reps",
        "core_counts": core_counts,
        f"cores_{hi}": bhi,
        f"cores_{lo}": blo,
        f"ratio_{lo}c_over_{hi}c": ratios,
        "raw_rounds": raw,
    }
    path = os.path.join(REPO, "records", "CORESCALE_r14.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=2)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
