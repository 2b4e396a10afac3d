"""The benchmark's workloads: seeded inputs, operations and output checks.

Each workload generates its inputs from the seed (untimed), lists the
operations of one *cycle* of its mix, and checks every operation's
output outside the timed part. A run executes the workload's warm
operations (with the session start they are ``setup_s``), then whole
cycles, in seed order, until the timed work reaches ``--seconds``.
Whole cycles keep the mix of operations identical across seeds, so
only the data and the order change with the seed.

Every workload reduces its measured operations to three timings, the
end-to-end metrics ``primary_s``, ``secondary_s`` and ``tertiary_s``
(see README.md for the per-workload meaning).
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import gen_dedup
import gen_nsl
import gen_tables
from stats import OpLog, OpRecord, mean, median, tail_percentile


class CheckFailed(Exception):
    """An operation returned, but its output is wrong."""


@dataclass
class Op:
    kind: str
    name: str
    run: Callable[[], object]                          # the timed part
    check: Callable[[object], dict | None] | None = None  # untimed; raises CheckFailed
    before: Callable[[], None] | None = None           # untimed set-up of the operation
    work: float = 0.0                                  # items processed, for items/s


@dataclass
class Runner:
    """Executes operations one at a time (a closed loop with one client)."""

    tracer: object
    next_id: int = 0
    extras: dict[int, dict] = field(default_factory=dict)

    def execute(self, op: Op, log: OpLog) -> object:
        if op.before:
            op.before()
        op_id = self.next_id
        self.next_id += 1
        result, error = None, ""
        with self.tracer.operation(op_id, f"op.{op.kind}"):
            t0 = time.perf_counter()
            try:
                result = op.run()
            # a failing operation is counted in the log; the run goes on
            except Exception:  # noqa: BLE001
                error = traceback.format_exc(limit=3)
            latency = time.perf_counter() - t0
        if not error and op.check:
            try:
                self.extras[op_id] = op.check(result) or {}
            except CheckFailed as exc:
                error = f"check: {exc}"
            except Exception:  # noqa: BLE001
                error = "check raised: " + traceback.format_exc(limit=3)
        log.add(OpRecord(op.kind, op.name, latency, not error, error, op.work, op_id))
        return result


def _load_compare(root: Path):
    """``tools/compare.py`` holds the canonicalisation the oracle gate uses."""
    spec = importlib.util.spec_from_file_location("_perfbench_compare", root / "tools" / "compare.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a sink's output directory."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return size, files


# ---------------------------------------------------------------------------
# dedup operations (part of olap_mix)
# ---------------------------------------------------------------------------

RECALL_FLOOR = 0.9   # 8 hashes in bands of 2 find ~0.99 of pairs at J >= 0.7


class DedupOps:
    """Exact prefix-filtered Jaccard join and MinHash-LSH on one corpus."""

    kinds = ("jaccard", "minhash")

    def __init__(self, work: Path, seed: int):
        from nsl_kdd_spark.operators import dedup

        self._dedup = dedup
        self.path = str(work / "docs")
        docs, self.planted = gen_dedup.write_corpus(seed, self.path)
        self.text = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        self.qualifying = {p for p, j in self.planted.items() if j >= gen_dedup.THRESHOLD}
        self._shingles: dict[int, set[str]] = {}
        self._df = None

    def sizes(self) -> dict:
        return {"docs": len(self.text), "dup_frac": gen_dedup.DUP_FRAC,
                "planted_pairs": len(self.planted), "planted_qualifying": len(self.qualifying),
                "input_bytes": sum(os.path.getsize(os.path.join(self.path, f)) for f in os.listdir(self.path)),
                "shards": gen_dedup.SHARDS, "threshold": gen_dedup.THRESHOLD,
                "shingle_n": gen_dedup.SHINGLE_N}

    def traced_calls(self) -> list[tuple]:
        return [(self._dedup, "jaccard_pairs", "operators.dedup.jaccard_pairs"),
                (self._dedup, "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs")]

    def _true_jaccard(self, a: int, b: int) -> float:
        for d in (a, b):
            if d not in self._shingles:
                self._shingles[d] = gen_dedup.shingles(self.text[d])
        return gen_dedup.jaccard(self._shingles[a], self._shingles[b])

    def _check_pairs(self, pairs: list[tuple[int, int]]) -> set[tuple[int, int]]:
        found = set(pairs)
        for a, b in found:
            j = self._true_jaccard(a, b)
            if not j >= gen_dedup.THRESHOLD:
                raise CheckFailed(f"pair ({a}, {b}) has Jaccard {j}")
        return found

    def op(self, spark, kind: str, tracer) -> Op:
        fn_name = "jaccard_pairs" if kind == "jaccard" else "minhash_lsh_pairs"

        def run():
            if self._df is None:
                self._df = spark.read.parquet(self.path)
            fn = getattr(self._dedup, fn_name)
            df = fn(self._df, "doc_id", "text", threshold=gen_dedup.THRESHOLD,
                    **({"n": gen_dedup.SHINGLE_N} if kind == "jaccard" else {"shingle_n": gen_dedup.SHINGLE_N}))
            with tracer.span("spark.action"):
                return [(r["id_a"], r["id_b"]) for r in df.collect()]

        def check(pairs) -> dict:
            found = self._check_pairs(pairs)
            hit = len(found & self.qualifying)
            if kind == "jaccard" and hit != len(self.qualifying):
                raise CheckFailed(f"jaccard_pairs missed {len(self.qualifying) - hit} planted pairs")
            recall = hit / len(self.qualifying)
            if kind == "minhash" and not recall >= RECALL_FLOOR:
                raise CheckFailed(f"minhash recall {recall} below {RECALL_FLOOR}")
            return {"verified_pairs": len(found), "recall": recall}

        return Op(kind, fn_name, run, check, work=len(self.text))

    def ops(self, spark, tracer) -> list[Op]:
        return [self.op(spark, kind, tracer) for kind in self.kinds]

    def named_metrics(self, log: OpLog, extras: dict[int, dict]) -> dict:
        recall = [extras[r.op_id]["recall"] for r in log.records if r.kind == "minhash" and r.ok]
        return {
            "dedup_jaccard_docs_per_s": log.work_per_s("jaccard"),
            "dedup_minhash_docs_per_s": log.work_per_s("minhash"),
            "dedup_minhash_recall": recall[-1] if recall else None,
        }


# ---------------------------------------------------------------------------
# olap_mix
# ---------------------------------------------------------------------------

READS = (
    "q01_pricing_summary",     # scan + aggregate
    "q03_revenue_by_nation",   # five-table star join
    "q18_window_lag",          # window
    "q43_cube",                # cube (the rollup / grouping-sets family)
    "q54_asof_join",           # as-of join
)


class OlapMix:
    """Closed loop of catalog reads (noop sink), sink writes and dedup
    operator calls."""

    name = "olap_mix"

    def __init__(self, root: Path, work: Path, seed: int):
        import duckdb

        from nsl_kdd_spark.plans import catalog
        from nsl_kdd_spark.sources import parquet, sinks

        self._catalog, self._parquet, self._sinks = catalog, parquet, sinks
        self._compare = _load_compare(root)
        self.data = str(work / "tables")
        self.out = work / "out"
        self.rows = gen_tables.write_tables(seed, self.data)
        self.input_bytes = sum(os.path.getsize(os.path.join(self.data, f)) for f in os.listdir(self.data))
        self._duck = duckdb.connect()
        for t in self.rows:
            self._duck.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        self.dedup = DedupOps(work, seed)

    def sizes(self) -> dict:
        return {"rows": self.rows, "input_bytes": self.input_bytes, "reads": list(READS),
                "dedup": self.dedup.sizes()}

    def traced_calls(self) -> list[tuple]:
        return [
            (self._catalog.QUERIES, q, "plans.build") for q in READS
        ] + [
            (self._catalog, "load_tables", "sources.parquet.load_tables"),
            (self._parquet, "load_tables", "sources.parquet.load_tables"),
            (self._sinks, "write_parquet", "sources.sinks.write_parquet"),
            (self._sinks, "write_shards", "sources.sinks.write_shards"),
        ] + self.dedup.traced_calls()

    def _oracle(self, q: str) -> tuple[list[str], list[tuple]]:
        res = self._duck.sql(self._catalog.ORACLE[q])
        return [d[0] for d in res.description], [tuple(r) for r in res.fetchall()]

    def _value_hash(self, cols: list[str], rows: list[tuple]) -> str:
        idx = [cols.index(c) for c in sorted(cols)]
        key = self._compare.rows_key([tuple(r[i] for i in idx) for r in rows])
        return hashlib.sha256(repr(key).encode()).hexdigest()

    def _check_oracle(self, q: str, got: tuple[list[str], list[tuple]]) -> dict:
        s_cols, s_rows = got
        d_cols, d_rows = self._oracle(q)
        if len(s_rows) != len(d_rows):
            raise CheckFailed(f"{q}: {len(s_rows)} rows, oracle {len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            raise CheckFailed(f"{q}: columns {sorted(s_cols)} vs oracle {sorted(d_cols)}")
        if self._value_hash(s_cols, s_rows) != self._value_hash(d_cols, d_rows):
            raise CheckFailed(f"{q}: value hash differs from the oracle")
        return {"result_rows": len(s_rows)}

    def _read(self, spark, q: str, tracer, first: bool) -> Op:
        def run():
            df = self._catalog.QUERIES[q](spark, self.data)
            with tracer.span("spark.action"):
                if first:
                    return list(df.columns), [tuple(r) for r in df.collect()]
                df.write.format("noop").mode("overwrite").save()
            return None

        check = (lambda got: self._check_oracle(q, got)) if first else None
        return Op("read", q, run, check)

    def _writes(self, spark) -> list[Op]:
        sinks = self._sinks

        def tables():
            return self._parquet.load_tables(spark, self.data)

        return [
            write_op(spark, self.out / "orders_by_priority", lambda: tables().orders,
                     lambda df, p: sinks.write_parquet(df, p, partition_by=["o_orderpriority"],
                                                       sort_within_partitions=["o_orderdate"]),
                     self.rows["orders"]),
            write_op(spark, self.out / "events_shards", lambda: tables().events,
                     lambda df, p: sinks.write_shards(df, p, n_shards=8, key_col="user_id"),
                     self.rows["events"]),
        ]

    def warm_ops(self, spark, tracer) -> list[Op]:
        return ([self._read(spark, q, tracer, True) for q in READS] + self._writes(spark)
                + self.dedup.ops(spark, tracer))

    @staticmethod
    def timings(log: OpLog) -> dict[str, float]:
        """Mean latency of the catalog reads, the writes and the dedup
        calls. A mean, not a median: the five reads of a cycle are five
        different queries, and their median is whichever one lands in
        the middle."""
        return {"primary": mean(log.latencies("read")), "secondary": mean(log.latencies("write")),
                "tertiary": mean(log.latencies(*DedupOps.kinds))}

    def named_metrics(self, log: OpLog, extras: dict[int, dict]) -> dict:
        tail = tail_percentile(log.latencies("read"))
        return {
            "olap_qps": log.ops_per_s(),
            "olap_read_p50_s": median(log.latencies("read")),
            # a percentile at or below the median is no tail: too few reads
            "olap_read_tail": None if tail is None or tail[0] <= 50 else
            {"percentile": tail[0], "value_s": tail[1], "samples": tail[2]},
            "olap_read_samples": len(log.latencies("read")),
            "olap_write_p50_s": median(log.latencies("write")),
            **self.dedup.named_metrics(log, extras),
        }

    def cycle(self, spark, tracer, rng: random.Random) -> list[Op]:
        ops = ([self._read(spark, q, tracer, False) for q in READS] + self._writes(spark)
               + self.dedup.ops(spark, tracer))
        rng.shuffle(ops)
        return ops


def write_op(spark, out: Path, source: Callable, sink: Callable, expect: int) -> Op:
    """A sink write of ``source()`` to ``out``; the check reads it back."""
    path = str(out)

    def check(_):
        n = spark.read.parquet(path).count()
        if n != expect:
            raise CheckFailed(f"{out.name}: read back {n} rows, wrote {expect}")
        size, files = _dir_stats(path)
        return {"output_bytes": size, "files_written": files}

    return Op("write", out.name, lambda: sink(source(), path), check,
              before=lambda: shutil.rmtree(path, ignore_errors=True))


# ---------------------------------------------------------------------------
# nsl_pipeline
# ---------------------------------------------------------------------------

# a gross-failure check, not a quality target: the small fixed config
# scores 0.88-0.97 depending on the seed, and predicting every row an
# attack scores 0.73 on these files
F1_FLOOR = 0.8


class NslPipeline:
    """The paper's pipeline: the ``kmeans_rf`` fit, the scoring action on
    its metrics frame, and an export of the scored test rows through
    ``sources.sinks``."""

    name = "nsl_pipeline"

    def __init__(self, root: Path, work: Path, seed: int):
        from nsl_kdd_spark import pipeline
        from nsl_kdd_spark.sources import sinks

        self._pipeline, self._sinks = pipeline, sinks
        self.cfg = pipeline.NslConfig(kmeans_k=2, rf_trees=3, rf_depth=4)
        self.train = str(work / "train.txt")
        self.test = str(work / "test.txt")
        self.out = work / "out"
        self.truth = gen_nsl.write_nsl(seed, self.train, self.test)
        self._out: dict | None = None

    def sizes(self) -> dict:
        c = self.cfg
        return {**self.truth, "kmeans_k": c.kmeans_k, "rf_trees": c.rf_trees,
                "rf_depth": c.rf_depth, "min_cluster_rows": c.min_cluster_rows}

    def traced_calls(self) -> list[tuple]:
        p = self._pipeline
        return [
            (p, "load_nsl_kdd", "sources.csv.load_nsl_kdd"),
            (p, "prepare", "pipeline.prepare"),
            (p, "build_features", "pipeline.build_features"),
            (p, "drop_constant_columns", "operators.relational.drop_constant_columns"),
            (p, "attribute_ratio", "ml.ar.attribute_ratio"),
            (p, "fit_categories", "ml.features.fit_categories"),
            (p, "fit_standardizer", "ml.features.fit_standardizer"),
            (p, "assemble", "ml.features.assemble"),
            (p, "kmeans_assign", "ml.cluster.kmeans_assign"),
            (p, "split_clusters", "ml.cluster.split_clusters"),
            (p, "train_cluster_models", "ml.cluster.train_cluster_models",
             lambda models: {"models": len(models)}),
            (p, "score_clusters", "ml.cluster.score_clusters"),
            (p, "binary_metrics", "ml.metrics.binary_metrics"),
            (self._sinks, "write_parquet", "sources.sinks.write_parquet"),
        ]

    def _fitted(self) -> dict:
        if self._out is None:
            raise RuntimeError("no fitted model: the fit failed")
        return self._out

    def _fit(self, spark) -> Op:
        def run():
            self._out = None
            self._out = self._pipeline.kmeans_rf(spark, self.train, self.test, self.cfg)
            return self._out

        # each fit caches its own prepared tables; drop the last fit's
        # before the next one so runs do not accumulate cached data
        return Op("fit", "kmeans_rf", run, before=spark.catalog.clearCache)

    def _score(self, tracer) -> Op:
        def run():
            metrics = self._fitted()["metrics"]
            with tracer.span("spark.action"):
                return metrics.collect()[0].asDict()

        def check(m: dict) -> dict:
            n = m["tp"] + m["fn"] + m["fp"] + m["tn"]
            if n != self.truth["test_rows"]:
                raise CheckFailed(f"scored {n} rows, test file has {self.truth['test_rows']}")
            if m["tp"] + m["fn"] != self.truth["test_attack_rows"]:
                raise CheckFailed(f"tp+fn={m['tp'] + m['fn']}, test file has "
                                  f"{self.truth['test_attack_rows']} attack rows")
            if not m["f1"] >= F1_FLOOR:
                raise CheckFailed(f"f1 {m['f1']} below {F1_FLOOR}")
            return {"f1": m["f1"]}

        return Op("score", "binary_metrics", run, check)

    def _export(self, spark) -> Op:
        return write_op(spark, self.out / "predictions", lambda: self._fitted()["scored"],
                        self._sinks.write_parquet, self.truth["test_rows"])

    def warm_ops(self, spark, tracer) -> list[Op]:
        return self.cycle(spark, tracer, None)

    @staticmethod
    def timings(log: OpLog) -> dict[str, float]:
        """Per cycle: the time to a fitted model, to the test metrics and
        to the exported predictions. Scoring and export alone take about
        a second and half a second, and spread wider between runs than
        any bound allows, so they are gated only as part of the pipeline
        that includes them (and reported alone in the figures line)."""
        n = len(log.latencies("fit"))
        if not n:
            return dict.fromkeys(("primary", "secondary", "tertiary"), math.nan)
        fit, score, export = (sum(log.latencies(k)) for k in ("fit", "score", "write"))
        return {"primary": fit / n, "secondary": (fit + score) / n, "tertiary": (fit + score + export) / n}

    def named_metrics(self, log: OpLog, extras: dict[int, dict]) -> dict:
        f1 = [extras[r.op_id]["f1"] for r in log.records if r.kind == "score" and r.ok]
        return {
            "nsl_fit_s": median(log.latencies("fit")),
            "nsl_score_s": median(log.latencies("score")),
            "nsl_export_s": median(log.latencies("write")),
            "nsl_f1": f1[-1] if f1 else None,
        }

    def cycle(self, spark, tracer, rng: random.Random | None) -> list[Op]:
        return [self._fit(spark), self._score(tracer), self._export(spark)]


WORKLOADS = {w.name: w for w in (OlapMix, NslPipeline)}
