"""Reference-parity pipeline: NSL-KDD intrusion detection end-to-end
(SURVEY.md §3, §7).

Composes the engine's operators into the reference notebook's flow —
load -> repair -> label -> attribute-ratio selection -> OHE ->
standardize -> cluster -> per-cluster RF -> score -> metrics — as a
library API instead of 168 cells. Every stage is the Spark-first
rebuild of the cited reference cell (no Python row UDFs, exact
aggregation where determinism matters, broadcast-map label lookups).

The fit shared by every entry point makes few passes over the data:

- one CSV read per file: ``prepare`` caches the loaded, repaired,
  labelled and id'd table before anything scans it;
- one constant-column pass over the cached train table;
- two statistics passes (``fit_feature_stats``): a global aggregate for
  the z-score parameters, global means and one-hot vocabularies, and a
  per-class aggregate from which the attribute ratios are derived on
  the driver;
- one projection, built once, applies one-hot and z-score to train and
  test;
- the models read narrow cached vector tables (``id``, ``labels2``,
  ``labels5``, ``raw_features``), not the wide prepared table.

Model sizes default to the reference's (RF 500x20) but every entry
point takes overrides so tests run in seconds.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# attribute_ratio, fit_categories and fit_standardizer are not called by
# the fit (fit_feature_stats computes the same statistics in two
# passes); they stay importable from here with the rest of the
# pipeline's operators
from nsl_kdd_spark.ml.ar import attribute_ratio, select_features  # noqa: F401
from nsl_kdd_spark.ml.classify import attack_probability, make_rf, train_binary_classifier
from nsl_kdd_spark.ml.cluster import (
    DEFAULT_SEED,
    kmeans_assign,
    score_clusters,
    split_clusters,
    train_cluster_models,
)
from nsl_kdd_spark.ml.features import (  # noqa: F401
    assemble,
    fit_categories,
    fit_feature_stats,
    fit_standardizer,
)
from nsl_kdd_spark.ml.labels import with_labels
from nsl_kdd_spark.ml.metrics import binary_metrics
from nsl_kdd_spark.operators.relational import (
    drop_constant_columns,
    one_hot_columns,
    replace_values,
    with_deterministic_id,
)
from nsl_kdd_spark.schema import attack_mapping, nsl_kdd_roles
from nsl_kdd_spark.sources.csv import load_nsl_kdd

# what the models and scoring read of a feature table
VECTOR_COLS = ("id", "labels2", "labels5", "raw_features")


@dataclass
class NslConfig:
    min_ar_numeric: float = 0.05
    min_ar_binary: float = 0.05
    kmeans_k: int = 8
    rf_trees: int = 500
    rf_depth: int = 20
    seed: int = DEFAULT_SEED
    min_cluster_rows: int = 25
    threshold: float = 0.5


@dataclass
class NslPrepared:
    train: DataFrame
    test: DataFrame
    feature_cols: list[str] = field(default_factory=list)


def prepare(spark: SparkSession, train_path: str, test_path: str) -> NslPrepared:
    """load -> repair -> label -> id, fitted on train only.

    Repairs (data-driven, reference README.md:676,993): su_attempted
    2.0 -> 0.0; constant columns dropped (num_outbound_cmds). Labels:
    labels2 regex + labels5 taxonomy map (strict=False for test files
    with unseen attack names — the reference instead extends its dict;
    unseen -> null -> filterable). id: deterministic row_number.

    Each file is read once: the table is cached before the
    constant-column pass scans it, and that pass fills the train cache.
    """
    roles = nsl_kdd_roles()
    mapping = attack_mapping()

    def _prep(path: str) -> DataFrame:
        df = replace_values(load_nsl_kdd(spark, path), "su_attempted", {2.0: 0.0})
        df = with_labels(df, "labels", mapping, strict=False)
        # ids assigned once on the cached table (SURVEY §4.3: never let
        # monotonically_increasing_id recompute over uncached lineage)
        return with_deterministic_id(df, "id").cache()

    train = drop_constant_columns(_prep(train_path), list(roles.numeric))
    test = _prep(test_path).select(*train.columns)
    return NslPrepared(train=train, test=test)


def build_features(
    prepared: NslPrepared, cfg: NslConfig
) -> tuple[DataFrame, DataFrame, list[str]]:
    """AR selection + OHE (train vocabularies) + z-score
    standardization (train stats), applied to train and test.

    All statistics come from two aggregate passes over the cached train
    table (``fit_feature_stats``). The one-hot and z-score columns are
    built once and applied with one ``select`` to both tables: z-scored
    numeric columns stay in place, one-hot columns follow the input
    columns."""
    roles = nsl_kdd_roles()
    columns = prepared.train.columns
    numeric = [c for c in roles.numeric if c in columns]
    binary = [c for c in roles.binary if c in columns]

    stats = fit_feature_stats(prepared.train, numeric, binary, roles.nominal, "labels5")
    keep_numeric = [c for c in select_features(stats.ratios, cfg.min_ar_numeric) if c in numeric]
    keep_binary = [c for c in select_features(stats.ratios, cfg.min_ar_binary) if c in binary]

    zscores = stats.standardizer(keep_numeric).columns()
    ohe = [col for c in roles.nominal for col in one_hot_columns(c, stats.categories[c])]
    projection = [zscores[c].alias(c) if c in zscores else F.col(c) for c in columns] + ohe

    ohe_cols = [f"{c}_{v}" for c in roles.nominal for v in stats.categories[c]]
    feature_cols = keep_numeric + keep_binary + ohe_cols
    return prepared.train.select(*projection), prepared.test.select(*projection), feature_cols


def _vectors(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """Assembled ``raw_features`` with only the columns downstream reads."""
    return assemble(df, feature_cols, index_binary=False).select(*VECTOR_COLS)


def kmeans_rf(
    spark: SparkSession,
    train_path: str,
    test_path: str,
    cfg: NslConfig | None = None,
) -> dict[str, DataFrame]:
    """The reference's best single model (KMeans + per-cluster RF,
    README.md:1543-1762): returns {"scored": (id, prob, pred, labels2),
    "metrics": one-row report} for the test set."""
    cfg = cfg or NslConfig()
    prepared = prepare(spark, train_path, test_path)
    train_f, test_f, feature_cols = build_features(prepared, cfg)

    train_v = _vectors(train_f, feature_cols).cache()
    test_v = _vectors(test_f, feature_cols)

    model, train_c = kmeans_assign(
        train_v, "raw_features", k=cfg.kmeans_k, seed=cfg.seed
    )
    test_c = model.transform(test_v)

    split = split_clusters(train_c, min_rows=cfg.min_cluster_rows)
    rf = lambda: make_rf(  # noqa: E731
        num_trees=cfg.rf_trees, max_depth=cfg.rf_depth, seed=cfg.seed,
        features_col="raw_features",
    )
    models = train_cluster_models(train_c, split, rf)

    probs = score_clusters(test_c.cache(), split, models, prob_col="prob")
    scored = (
        test_c.select("id", "labels2")
        .join(probs, on="id", how="inner")
        .withColumn(
            "pred",
            F.when(F.col("prob") >= cfg.threshold, 1.0).otherwise(0.0),
        )
        .withColumn(
            "y", F.when(F.col("labels2") == "attack", 1.0).otherwise(0.0)
        )
    )
    return {"scored": scored, "metrics": binary_metrics(scored, "y", "pred")}


def category_rf(
    spark: SparkSession,
    train_path: str,
    test_path: str,
    category: str,
    cfg: NslConfig | None = None,
) -> dict[str, DataFrame]:
    """Per-category specialist (M16): <category>-vs-normal RF
    (README.md:2216-2238 for DoS; Probe/R2L+U2R identical shape)."""
    cfg = cfg or NslConfig()
    prepared = prepare(spark, train_path, test_path)
    train_f, test_f, feature_cols = build_features(prepared, cfg)

    cats = (category,) if category != "R2L_U2R" else ("R2L", "U2R")
    sub = train_f.filter(F.col("labels5").isin("normal", *cats))
    train_v = _vectors(sub, feature_cols).cache()
    test_v = _vectors(test_f, feature_cols)

    model = train_binary_classifier(
        train_v,
        make_rf(num_trees=cfg.rf_trees, max_depth=cfg.rf_depth, seed=cfg.seed,
                features_col="raw_features"),
    )
    probs = attack_probability(model, test_v.cache(), prob_col="prob")
    # labels5 rides along so callers can score the reference's
    # category-vs-normal slice (README.md:2332 filters the test set to
    # normal + the category before its e=0.5 report) as well as the
    # full-test labels2 view
    scored = (
        test_v.select("id", "labels2", "labels5")
        .join(probs, on="id")
        .withColumn("pred", F.when(F.col("prob") >= cfg.threshold, 1.0).otherwise(0.0))
        .withColumn("y", F.when(F.col("labels2") == "attack", 1.0).otherwise(0.0))
    )
    subset = scored.filter(F.col("labels5").isin("normal", *cats))
    return {
        "scored": scored,
        "metrics": binary_metrics(scored, "y", "pred"),
        "metrics_subset": binary_metrics(subset, "y", "pred"),
    }


def gaussian_rf(
    spark: SparkSession,
    train_path: str,
    test_path: str,
    cfg: NslConfig | None = None,
) -> dict[str, DataFrame]:
    """The reference's alternative clustering family (M13,
    README.md:1831-1950): PCA(k=2) -> GaussianMixture(k) -> per-cluster
    RF, scored and assembled exactly like the KMeans path."""
    from nsl_kdd_spark.ml.cluster import gaussian_mixture_assign
    from nsl_kdd_spark.ml.features import pca_project

    cfg = cfg or NslConfig()
    prepared = prepare(spark, train_path, test_path)
    train_f, test_f, feature_cols = build_features(prepared, cfg)

    train_v = _vectors(train_f, feature_cols).cache()
    test_v = _vectors(test_f, feature_cols)

    pca_model, train_p = pca_project(train_v, k=2, input_col="raw_features")
    test_p = pca_model.transform(test_v)

    gm_model, train_c = gaussian_mixture_assign(
        train_p, "pca_features", k=cfg.kmeans_k, seed=cfg.seed
    )
    test_c = gm_model.transform(test_p)

    split = split_clusters(train_c, min_rows=cfg.min_cluster_rows)
    rf = lambda: make_rf(  # noqa: E731
        num_trees=cfg.rf_trees, max_depth=cfg.rf_depth, seed=cfg.seed,
        features_col="raw_features",
    )
    models = train_cluster_models(train_c, split, rf)
    probs = score_clusters(test_c.cache(), split, models, prob_col="prob")
    scored = (
        test_c.select("id", "labels2")
        .join(probs, on="id", how="inner")
        .withColumn("pred", F.when(F.col("prob") >= cfg.threshold, 1.0).otherwise(0.0))
        .withColumn("y", F.when(F.col("labels2") == "attack", 1.0).otherwise(0.0))
    )
    return {"scored": scored, "metrics": binary_metrics(scored, "y", "pred")}


def combine_scores(
    base: DataFrame,
    prob_cols: list[str],
    weights: list[float] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """The reference's decision layer (F4/F5/F6, README.md:3113-3334):
    given a table with per-model probability columns, add
    soft-vote blend, per-model hard preds, and the OR-vote."""
    from nsl_kdd_spark.functions.scalar import hard_vote_or, soft_vote
    from nsl_kdd_spark.functions.scalar import threshold as thr

    out = base.withColumn(
        "blend", soft_vote(*prob_cols, weights=weights)
    ).withColumn("blend_pred", thr(F.col("blend"), threshold))
    pred_cols = []
    for c in prob_cols:
        out = out.withColumn(f"{c}_pred", thr(F.col(c), threshold))
        pred_cols.append(f"{c}_pred")
    return out.withColumn("or_vote", hard_vote_or(*pred_cols))


def nsl_ensemble(
    spark: SparkSession,
    train_path: str,
    test_path: str,
    cfg: NslConfig | None = None,
) -> dict[str, DataFrame]:
    """The reference's full composition (README.md:1543-3712): KMeans+RF,
    GM+RF, and three per-category RFs produce probability columns;
    the decision layer blends them (weighted soft vote
    (3k+gm+dos+probe+r2l)/7, OR hard vote) and an LR stacker fit on a
    CV split re-weighs them. Returns per-strategy one-row metric
    tables for the test set.

    Features/vectors are built ONCE and shared across all five model
    families (the reference re-prepares per section); every prob table
    is (id, prob) joined back broadcast-style (J1 assembly)."""
    from nsl_kdd_spark.functions.scalar import hard_vote_or, soft_vote
    from nsl_kdd_spark.functions.scalar import threshold as thr
    from nsl_kdd_spark.ml.classify import (
        instance_weights,
        stacker_probability,
        train_lr_stacker,
    )
    from nsl_kdd_spark.ml.cluster import gaussian_mixture_assign
    from nsl_kdd_spark.ml.features import pca_project
    from nsl_kdd_spark.operators.joins import assemble as join_assemble

    cfg = cfg or NslConfig()
    prepared = prepare(spark, train_path, test_path)
    train_f, test_f, feature_cols = build_features(prepared, cfg)
    full_v = assemble(train_f, feature_cols, index_binary=False).cache()
    test_v = _vectors(test_f, feature_cols).cache()
    # randomSplit sorts each partition by every orderable column, so the
    # split must see the full table; narrow only its halves
    fit_v, cv_v = full_v.randomSplit([0.8, 0.2], seed=cfg.seed)
    fit_v = fit_v.select(*VECTOR_COLS).cache()
    cv_v = cv_v.select(*VECTOR_COLS).cache()

    rf = lambda: make_rf(  # noqa: E731
        num_trees=cfg.rf_trees, max_depth=cfg.rf_depth, seed=cfg.seed,
        features_col="raw_features",
    )

    def cluster_family(assigner) -> tuple[DataFrame, DataFrame]:
        """fit on fit_v, score cv_v and test_v -> (cv probs, test probs)."""
        model, fit_c = assigner(fit_v)
        cv_c = model.transform(cv_v).cache()
        test_c = model.transform(test_v).cache()
        split = split_clusters(fit_c, min_rows=cfg.min_cluster_rows)
        models = train_cluster_models(fit_c.cache(), split, rf)
        return (
            score_clusters(cv_c, split, models, prob_col="prob"),
            score_clusters(test_c, split, models, prob_col="prob"),
        )

    def km_assign(df):
        return kmeans_assign(df, "raw_features", k=cfg.kmeans_k, seed=cfg.seed)

    def gm_assign(df):
        pca_model, df_p = pca_project(df, k=2, input_col="raw_features")
        gm_model, assigned = gaussian_mixture_assign(
            df_p, "pca_features", k=cfg.kmeans_k, seed=cfg.seed
        )
        class _Chain:
            def transform(self, other):
                return gm_model.transform(pca_model.transform(other))
        return _Chain(), assigned

    km_cv, km_test = cluster_family(km_assign)
    gm_cv, gm_test = cluster_family(gm_assign)

    def category_family(cats: tuple[str, ...]) -> tuple[DataFrame, DataFrame]:
        sub = fit_v.filter(F.col("labels5").isin("normal", *cats))
        model = train_binary_classifier(sub, rf())
        return (
            attack_probability(model, cv_v, prob_col="prob"),
            attack_probability(model, test_v, prob_col="prob"),
        )

    dos_cv, dos_test = category_family(("DoS",))
    probe_cv, probe_test = category_family(("Probe",))
    r2l_cv, r2l_test = category_family(("R2L", "U2R"))

    def assemble_probs(base: DataFrame, probs: list[DataFrame]) -> DataFrame:
        named = [
            p.withColumnRenamed("prob", name)
            for p, name in zip(
                probs, ["p_km", "p_gm", "p_dos", "p_probe", "p_r2l"]
            )
        ]
        return join_assemble(base.select("id", "labels2"), named, on="id")

    cv_tbl = assemble_probs(cv_v, [km_cv, gm_cv, dos_cv, probe_cv, r2l_cv]).cache()
    test_tbl = assemble_probs(
        test_v, [km_test, gm_test, dos_test, probe_test, r2l_test]
    ).cache()

    prob_cols = ["p_km", "p_gm", "p_dos", "p_probe", "p_r2l"]
    stacker = train_lr_stacker(
        instance_weights(cv_tbl, "labels2", {"normal": 1.0, "attack": 100.0}),
        prob_cols,
    )

    def decide(tbl: DataFrame) -> DataFrame:
        out = tbl.withColumn(
            "blend", soft_vote(*prob_cols, weights=[3.0, 1.0, 1.0, 1.0, 1.0])
        )
        for c in prob_cols:
            out = out.withColumn(f"{c}_pred", thr(F.col(c), cfg.threshold))
        out = out.withColumn(
            "or_vote", hard_vote_or(*[f"{c}_pred" for c in prob_cols])
        )
        out = out.join(stacker_probability(stacker, out, "p_stack"), on="id")
        return out.withColumn("y", F.when(F.col("labels2") == "attack", 1.0).otherwise(0.0))

    decided = decide(test_tbl)
    strategies = {
        "kmeans_rf": thr(F.col("p_km"), cfg.threshold),
        "blend": thr(F.col("blend"), cfg.threshold),
        "or_vote": F.col("or_vote"),
        "lr_stack": thr(F.col("p_stack"), cfg.threshold),
    }
    metrics = {}
    for name, pred in strategies.items():
        scored = decided.withColumn("pred", pred)
        metrics[name] = binary_metrics(scored, "y", "pred")
    return {"scored": decided, "metrics": metrics}
