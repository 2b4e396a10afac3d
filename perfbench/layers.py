"""Per-layer metrics of a traced run, from its spans, the Spark status
store and the operation log.

Every per-layer metric is a mean per operation of the measured window
(or per call where the name says so), so runs with a different number
of cycles compare. A layer a workload does not use reports 0.
"""

from __future__ import annotations

from counters import COUNTERS
from stats import OpLog, clip, self_times, union_length

# the status-store counters reported as per-layer metrics; the parquet
# and CSV sources report their own input bytes from the scan nodes
SPARK = tuple(c for c in COUNTERS if c not in ("input_bytes", "output_bytes"))

PER_LAYER = (
    "session.start_s", "session.warm_s",
    "plans.build_s", "plans.jobs_per_query",
    "sources.parquet.input_bytes", "sources.parquet.rows_scanned_per_result_row",
    "sources.sinks.write_s", "sources.sinks.output_bytes", "sources.sinks.files_written",
    "sources.csv.load_s", "sources.csv.input_bytes",
    "pipeline.prepare_s", "pipeline.build_features_s",
    "ml.ar.attribute_ratio_s", "ml.features.fit_categories_s", "ml.features.fit_standardizer_s",
    "ml.cluster.kmeans_assign_s", "ml.cluster.train_cluster_models_s", "ml.cluster.models_trained",
    "ml.cluster.score_clusters_s", "ml.metrics.binary_metrics_s",
    "operators.dedup.jaccard_pairs_s", "operators.dedup.minhash_lsh_pairs_s",
    "operators.dedup.candidate_pairs", "operators.dedup.verified_pairs",
    "operators.dedup.candidate_yield",
    *(f"spark.{c}" for c in SPARK),
    "spark.core_busy_frac", "spark.driver_only_s",
    "trace.span_coverage_frac",
)


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(spans: list[dict], attributed: dict, log: OpLog, extras: dict[int, dict],
                  setup_spans: dict[str, float], cores: int) -> dict[str, float]:
    ops = {r.op_id: r for r in log.records}
    top = {sp["id"]: sp for sp in spans if sp["parent"] is None and sp["op"] in ops}
    window = [sp for sp in spans if sp["op"] in ops]
    selft = self_times(spans)
    kinds: dict[str, int] = {}
    for r in log.records:
        kinds[r.kind] = kinds.get(r.kind, 0) + 1
    n_ops = len(ops)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.start_s"] = setup_spans.get("session.start", 0.0)
    out["session.warm_s"] = setup_spans.get("session.warm", 0.0)

    def self_sum(prefix: str) -> float:
        return sum(selft[sp["id"]] for sp in window if sp["name"] == prefix)

    def op_kind(sp) -> str:
        return ops[sp["op"]].kind

    n_read, n_write, n_fit = kinds.get("read", 0), kinds.get("write", 0), kinds.get("fit", 0)
    # olap_mix reads and every workload's writes
    out["plans.build_s"] = _mean(self_sum("plans.build"), n_read)
    span_of = {sp["id"]: sp for sp in window}
    per_span = attributed["span"]

    def counters_of(kind: str, key: str) -> float:
        return sum(c[key] for sid, c in per_span.items() if sid in span_of and op_kind(span_of[sid]) == kind)

    out["plans.jobs_per_query"] = _mean(counters_of("read", "jobs"), n_read)
    scans = [m for sid, name, m in attributed["nodes"]
             if sid in span_of and op_kind(span_of[sid]) == "read" and name.startswith("Scan parquet")]
    out["sources.parquet.input_bytes"] = _mean(sum(m.get("size of files read", 0.0) for m in scans), n_read)
    scanned = sum(m.get("number of output rows", 0.0) for m in scans)
    result_rows = sum(extras.get("result_rows", {}).get(ops[sp["op"]].name, 0)
                      for sp in top.values() if op_kind(sp) == "read")
    out["sources.parquet.rows_scanned_per_result_row"] = scanned / result_rows if result_rows else 0.0
    out["sources.sinks.write_s"] = _mean(self_sum("sources.sinks.write_parquet")
                                         + self_sum("sources.sinks.write_shards"), n_write)
    write_extras = [extras["ops"].get(i, {}) for i, r in ops.items() if r.kind == "write"]
    out["sources.sinks.output_bytes"] = _mean(sum(e.get("output_bytes", 0) for e in write_extras), n_write)
    out["sources.sinks.files_written"] = _mean(sum(e.get("files_written", 0) for e in write_extras), n_write)
    # nsl_pipeline (per fit)
    out["sources.csv.load_s"] = _mean(self_sum("sources.csv.load_nsl_kdd"), n_fit)
    csv_bytes = sum(m.get("size of files read", 0.0) for sid, name, m in attributed["nodes"]
                    if sid in span_of and name.startswith("Scan csv"))
    out["sources.csv.input_bytes"] = _mean(csv_bytes, n_fit)
    for metric, span in (("pipeline.prepare_s", "pipeline.prepare"),
                         ("pipeline.build_features_s", "pipeline.build_features"),
                         ("ml.ar.attribute_ratio_s", "ml.ar.attribute_ratio"),
                         ("ml.features.fit_categories_s", "ml.features.fit_categories"),
                         ("ml.features.fit_standardizer_s", "ml.features.fit_standardizer"),
                         ("ml.cluster.kmeans_assign_s", "ml.cluster.kmeans_assign"),
                         ("ml.cluster.train_cluster_models_s", "ml.cluster.train_cluster_models"),
                         ("ml.cluster.score_clusters_s", "ml.cluster.score_clusters"),
                         ("ml.metrics.binary_metrics_s", "ml.metrics.binary_metrics")):
        out[metric] = _mean(self_sum(span), n_fit)
    out["ml.cluster.models_trained"] = _mean(
        sum(sp.get("models", 0) for sp in window if sp["name"] == "ml.cluster.train_cluster_models"), n_fit)
    # dedup operations (olap_mix): the operator call plus the action that runs its plan
    for kind, metric in (("jaccard", "operators.dedup.jaccard_pairs_s"),
                         ("minhash", "operators.dedup.minhash_lsh_pairs_s")):
        durs = [sp["end"] - sp["start"] for sp in top.values() if op_kind(sp) == kind]
        out[metric] = _mean(sum(durs), len(durs))
    dedup_ops = [sp for sp in top.values() if op_kind(sp) in ("jaccard", "minhash")]
    cand = 0.0
    for op in dedup_ops:
        # candidates: rows out of the self-join that pairs documents
        # sharing a prefix shingle (jaccard) or a band bucket (minhash),
        # the largest join of the action's plan; every later join or
        # aggregate reads a subset of them
        rows = [m.get("number of output rows", 0.0) for sid, name, m in attributed["nodes"]
                if sid in span_of and span_of[sid]["op"] == op["op"]
                and span_of[sid]["name"] == "spark.action" and "Join" in name]
        cand += max(rows, default=0.0)
    verified = sum(extras["ops"].get(op["op"], {}).get("verified_pairs", 0) for op in dedup_ops)
    out["operators.dedup.candidate_pairs"] = _mean(cand, len(dedup_ops))
    out["operators.dedup.verified_pairs"] = _mean(verified, len(dedup_ops))
    out["operators.dedup.candidate_yield"] = verified / cand if cand else 0.0
    # Spark engine, over every span of the measured window
    wall = sum(sp["end"] - sp["start"] for sp in top.values())
    for c in SPARK:
        out[f"spark.{c}"] = _mean(sum(v[c] for sid, v in per_span.items() if sid in span_of), n_ops)
    out["spark.core_busy_frac"] = (out["spark.executor_run_s"] * n_ops) / (wall * cores) if wall else 0.0
    job_iv = [(s, e) for sid, s, e in attributed["jobs"] if s is not None]
    idle = sum((sp["end"] - sp["start"]) - union_length(clip(job_iv, sp["start"], sp["end"]))
               for sp in top.values())
    out["spark.driver_only_s"] = _mean(idle, n_ops)
    covered = sum(union_length(clip([(c["start"], c["end"]) for c in window if c["parent"] == sp["id"]],
                                    sp["start"], sp["end"])) for sp in top.values())
    out["trace.span_coverage_frac"] = covered / wall if wall else 0.0
    return out


def span_table(spans: list[dict], attributed: dict) -> dict[str, dict[str, float]]:
    """Per span name: calls, total and self time, and summed counters."""
    selft = self_times(spans)
    table: dict[str, dict[str, float]] = {}
    for sp in spans:
        row = table.setdefault(sp["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                            **dict.fromkeys(COUNTERS, 0.0)})
        row["calls"] += 1
        row["total_s"] += sp["end"] - sp["start"]
        row["self_s"] += selft[sp["id"]]
        for c in COUNTERS:
            row[c] += attributed["span"].get(sp["id"], {}).get(c, 0.0)
    return table
