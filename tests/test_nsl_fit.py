"""The NSL-KDD fit path on small generated files: fused feature
statistics against the standalone operators, and an end-to-end
``kmeans_rf`` fit (confusion-matrix totals, repeatability, the number
of Spark jobs feature fitting takes).

The files are NSL-KDD-shaped (43 headerless fields, trailing difficulty,
``su_attempted=2``, constant ``num_outbound_cmds``, attack names only in
the test file) and drawn from a fixed seed, so every run sees the same
bytes."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.ml.feature import StringIndexer
from pyspark.sql import functions as F

from nsl_kdd_spark.ml.ar import attribute_ratio, select_features
from nsl_kdd_spark.ml.classify import make_rf
from nsl_kdd_spark.ml.cluster import make_cluster_pipeline, split_clusters
from nsl_kdd_spark.ml.features import fit_categories, fit_feature_stats, fit_standardizer
from nsl_kdd_spark.operators.relational import drop_constant_columns
from nsl_kdd_spark.pipeline import NslConfig, build_features, kmeans_rf, prepare
from nsl_kdd_spark.schema import nsl_kdd_roles, nsl_kdd_schema

TRAIN_LABELS = {"normal": 160, "neptune": 90, "smurf": 40, "satan": 30,
                "ipsweep": 25, "guess_passwd": 15, "back": 10, "rootkit": 2}
TEST_LABELS = {"normal": 120, "neptune": 60, "smurf": 20, "satan": 20,
               "mscan": 30, "saint": 15, "guess_passwd": 25, "back": 10}
TEST_ROWS = sum(TEST_LABELS.values())
FIT = NslConfig(kmeans_k=2, rf_trees=3, rf_depth=4)
# Spark jobs of prepare + build_features on these files, under the
# engine's adaptive execution: the constant-column pass (the train cache
# fill, a shuffle-map job and a result job) and the two statistics
# passes (a shuffle-map job and a result job each). The per-operator
# fit this replaced ran 17.
FEATURE_FIT_JOBS = 7


def _write_nsl(path, counts: dict[str, int], rng: np.random.Generator) -> None:
    roles = nsl_kdd_roles()
    vocab = {"protocol_type": ["tcp", "udp", "icmp"],
             "service": ["http", "smtp", "ftp", "private", "ecr_i", "domain"],
             "flag": ["SF", "S0", "REJ", "RSTO"]}
    lines = []
    for label, n in counts.items():
        attack = label != "normal"
        # attacks lean to other values than normal traffic, with overlap
        shift = (sum(map(ord, label)) % 5) / 4.0 if attack else 0.0
        for _ in range(n):
            row = []
            for field in nsl_kdd_schema().fieldNames():
                if field == "labels":
                    row.append(label)
                elif field in roles.nominal:
                    v = vocab[field]
                    row.append(v[min(len(v) - 1, int(rng.integers(0, 2) + 2 * shift))])
                elif field == "num_outbound_cmds":
                    row.append("0")
                elif field == "su_attempted":
                    row.append(str(int(rng.choice([0, 1, 2], p=[0.9, 0.05, 0.05]))))
                elif field in roles.binary:
                    row.append(str(int(rng.random() < 0.2 + 0.5 * shift)))
                else:
                    row.append(f"{rng.gamma(2.0, 1.0 + 3.0 * shift):.2f}")
            row.append(str(int(rng.integers(1, 21))))   # difficulty
            lines.append(",".join(row))
    order = rng.permutation(len(lines))
    path.write_text("".join(lines[i] + "\n" for i in order))


@pytest.fixture(scope="module")
def nsl_files(tmp_path_factory):
    root = tmp_path_factory.mktemp("nsl")
    rng = np.random.default_rng(20240501)
    train, test = root / "train.txt", root / "test.txt"
    _write_nsl(train, TRAIN_LABELS, rng)
    _write_nsl(test, TEST_LABELS, rng)
    return str(train), str(test)


def _confusion(out) -> tuple:
    m = out["metrics"].first()
    return m["tp"], m["fn"], m["fp"], m["tn"]


def test_kmeans_rf_end_to_end(spark, nsl_files):
    spark.catalog.clearCache()
    out = kmeans_rf(spark, *nsl_files, cfg=FIT)
    first = _confusion(out)
    assert sum(first) == TEST_ROWS
    assert out["scored"].count() == TEST_ROWS
    spark.catalog.clearCache()
    assert _confusion(kmeans_rf(spark, *nsl_files, cfg=FIT)) == first


def test_feature_fit_jobs_and_constant_column(spark, nsl_files):
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = "test-nsl-feature-fit"
    sc.setJobGroup(group, "prepare + build_features")
    try:
        prepared = prepare(spark, *nsl_files)
        build_features(prepared, FIT)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= FEATURE_FIT_JOBS
    assert "num_outbound_cmds" not in prepared.train.columns
    assert prepared.test.columns == prepared.train.columns


def test_fused_stats_match_standalone_operators(spark, nsl_files):
    roles = nsl_kdd_roles()
    # the exact constant test drops what the approximate distinct count did
    raw = spark.read.csv(nsl_files[0], schema=nsl_kdd_schema(True))
    counts = raw.agg(*[F.approx_count_distinct(c).alias(c) for c in roles.numeric]).first()
    kept = drop_constant_columns(raw, list(roles.numeric)).columns
    assert [c for c in roles.numeric if c not in kept] == \
        [c for c in roles.numeric if counts[c] <= 1] == ["num_outbound_cmds"]

    train = prepare(spark, *nsl_files).train
    numeric = [c for c in roles.numeric if c in train.columns]
    binary = [c for c in roles.binary if c in train.columns]
    stats = fit_feature_stats(train, numeric, binary, roles.nominal, "labels5")
    ar_rows = attribute_ratio(train, numeric, binary, "labels5", exact_scale=None).collect()
    assert stats.ratios == ar_rows
    for t in (0.05, 0.5, 1.0):
        assert select_features(stats.ratios, t) == select_features(ar_rows, t)
    scaler = fit_standardizer(train, numeric, exact_scale=None)
    assert stats.means == scaler.means
    assert stats.stddevs == scaler.stddevs
    assert stats.categories == {c: fit_categories(train, c) for c in roles.nominal}


def test_fused_ratios_edge_cases(spark):
    """Zero global mean (x / 0 is null -> 0.0), a binary column that is
    all ones in a class (odds denominator 0 -> sentinel), an all-null
    class, a NaN mean and ties broken by feature name."""
    nan = float("nan")
    df = spark.createDataFrame(
        [("a", 0.0, 1.0, 2.0, 1.0, 1.0, 1.0), ("a", 0.0, 3.0, 4.0, 1.0, 0.0, 0.0),
         ("b", 0.0, nan, 2.0, 0.0, 1.0, None), ("b", 0.0, 1.0, 4.0, 1.0, 0.0, None),
         ("c", 0.0, 2.0, 3.0, 0.0, None, None)],
        "k string, z double, x double, y double, p double, q double, r double",
    )
    numeric, binary = ["z", "x", "y"], ["p", "q", "r"]
    stats = fit_feature_stats(df, numeric, binary, [], "k")
    ar_rows = attribute_ratio(df, numeric, binary, "k", exact_scale=None).collect()
    assert [r.feature for r in stats.ratios] == [r.feature for r in ar_rows]
    for got, want in zip(stats.ratios, ar_rows):
        assert got.ratio == want.ratio or (math.isnan(got.ratio) and math.isnan(want.ratio))
    assert math.isnan(stats.ratios[0].ratio)             # NaN ranks first
    assert dict(stats.ratios)["z"] == 0.0
    assert dict(stats.ratios)["p"] == 1000.0


def test_cluster_indexer_matches_fitted_string_indexer(spark):
    """The per-cluster indexer built from split_clusters' counts orders
    labels as StringIndexer.fit does: by count, ties alphabetical, nulls
    left out."""
    rows = [(0, "normal")] * 3 + [(0, "attack")] * 3 + [(0, None)] * 4 + \
        [(1, "attack")] * 2 + [(1, "normal")] * 5 + [(1, "other")] * 5
    df = spark.createDataFrame(rows, "cluster int, labels2 string")
    split = split_clusters(df, min_rows=1)
    assert split.modeled == [0, 1]
    for k in (0, 1):
        fitted = StringIndexer(inputCol="labels2", outputCol="label", handleInvalid="skip") \
            .fit(df.filter(F.col("cluster") == k))
        built = make_cluster_pipeline(make_rf(), split.label_counts[k]).getStages()[0]
        assert built.labels == fitted.labels
        assert built.getHandleInvalid() == "skip"
