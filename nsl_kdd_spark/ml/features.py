"""Feature-engineering operators (SURVEY.md §2.10 M4-M9).

Wraps the pyspark.ml estimators the reference uses (VectorAssembler /
VectorIndexer / VectorSlicer / StandardScaler-equivalent / PCA) behind
small functions, plus the expression-based standardizer and OHE that
replace the reference's Python-UDF paths.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.ml.feature import PCA, VectorAssembler, VectorIndexer, VectorSlicer
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from nsl_kdd_spark.functions.scalar import exact_avg, exact_stddev, zscore
from nsl_kdd_spark.ml.ar import ratios_from_aggregates
from nsl_kdd_spark.operators.relational import one_hot


@dataclass(frozen=True)
class StandardizerModel:
    """Fitted z-score parameters (tiny driver-side dict, like the
    reference's collected mu/sigma — README.md:1322-1337 — but kept as
    an explicit, reusable model object)."""

    means: dict[str, float]
    stddevs: dict[str, float]

    def columns(self, columns: Sequence[str] | None = None) -> dict[str, Column]:
        """The z-score expression per column, for callers that fold it
        into a wider projection."""
        cols = list(columns) if columns is not None else list(self.means)
        return {c: zscore(c, F.lit(self.means[c]), F.lit(self.stddevs[c])) for c in cols}

    def transform(self, df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
        return df.withColumns(self.columns(columns))


def fit_standardizer(
    df: DataFrame, columns: Sequence[str], exact_scale: int | None = 2
) -> StandardizerModel:
    """One aggregation job for all columns (the reference runs the
    same shape; README.md:1323-1324). Fit on train, apply to train/cv/
    test — never refit per split."""
    aggs = []
    for c in columns:
        if exact_scale is not None:
            aggs += [exact_avg(c, exact_scale).alias(f"__m_{c}"),
                     exact_stddev(c, exact_scale).alias(f"__s_{c}")]
        else:
            aggs += [F.avg(c).alias(f"__m_{c}"), F.stddev(c).alias(f"__s_{c}")]
    row = df.agg(*aggs).first()
    return StandardizerModel(
        means={c: float(row[f"__m_{c}"]) for c in columns},
        stddevs={c: float(row[f"__s_{c}"]) for c in columns},
    )


def fit_categories(df: DataFrame, column: str) -> list[str]:
    """Category vocabulary for OHE, sorted for determinism. The
    reference collects per-dataset vocabularies (README.md:1058-1061,
    its §7.4 fidelity quirk); fit on train and reuse for test unless
    reproducing the reference exactly."""
    return sorted(r[0] for r in df.select(column).distinct().collect() if r[0] is not None)


@dataclass(frozen=True)
class FeatureStats:
    """Every train-side statistic the NSL feature fit needs, from
    :func:`fit_feature_stats`."""

    ratios: list[Row]                  # attribute_ratio's (feature, ratio) rows, in its order
    means: dict[str, float | None]     # per numeric column
    stddevs: dict[str, float | None]   # per numeric column, sample stddev
    categories: dict[str, list[str]]   # per nominal column, sorted, nulls dropped

    def standardizer(self, columns: Sequence[str]) -> StandardizerModel:
        return StandardizerModel(
            means={c: float(self.means[c]) for c in columns},
            stddevs={c: float(self.stddevs[c]) for c in columns},
        )


def fit_feature_stats(
    df: DataFrame,
    numeric_cols: Sequence[str],
    binary_cols: Sequence[str],
    nominal_cols: Sequence[str],
    label_col: str,
) -> FeatureStats:
    """Attribute ratios, z-score parameters and one-hot vocabularies in
    two aggregate passes, where the standalone operators take one pass
    each (two for :func:`attribute_ratio`, one per column for
    :func:`fit_categories`):

    - one global ``agg``: ``avg`` and ``stddev`` per numeric column,
      ``collect_set`` per nominal column;
    - one ``groupBy(label_col)``: per-class ``avg`` per numeric column,
      ``sum`` and ``count`` per binary column.

    The ratios are then derived on the driver from the few result rows
    (:func:`ratios_from_aggregates`). Results equal
    ``attribute_ratio(..., exact_scale=None)``,
    ``fit_standardizer(..., exact_scale=None)`` and
    :func:`fit_categories` exactly. Cache ``df`` first: it is read
    twice."""
    glob = df.agg(
        *[F.avg(c).alias(f"__m_{c}") for c in numeric_cols],
        *[F.stddev(c).alias(f"__s_{c}") for c in numeric_cols],
        *[F.collect_set(c).alias(f"__v_{c}") for c in nominal_cols],
    ).first()
    per_class = df.groupBy(label_col).agg(
        *[F.avg(c).alias(f"__avg_{c}") for c in numeric_cols],
        *[agg for c in binary_cols
          for agg in (F.sum(c).alias(f"__sum_{c}"), F.count(c).alias(f"__cnt_{c}"))],
    ).collect()
    means = {c: glob[f"__m_{c}"] for c in numeric_cols}
    return FeatureStats(
        ratios=ratios_from_aggregates(per_class, means, numeric_cols, binary_cols),
        means=means,
        stddevs={c: glob[f"__s_{c}"] for c in numeric_cols},
        categories={c: sorted(glob[f"__v_{c}"]) for c in nominal_cols},
    )


def one_hot_encode(
    df: DataFrame,
    columns: Sequence[str],
    categories: dict[str, Sequence[str]],
    drop_input: bool = True,
) -> DataFrame:
    """Multi-column OHE via conditional projection (replaces D2's
    struct UDF, README.md:1052-1078)."""
    out = df
    for c in columns:
        out = one_hot(out, c, categories[c], drop_input=drop_input)
    return out


def assemble(
    df: DataFrame,
    input_cols: Sequence[str],
    output_col: str = "raw_features",
    index_binary: bool = True,
    max_categories: int = 2,
) -> DataFrame:
    """VectorAssembler (+ optional VectorIndexer marking binary dims
    categorical — M7/M8, README.md:1354-1355)."""
    assembled = VectorAssembler(
        inputCols=list(input_cols), outputCol=output_col
    ).transform(df)
    if not index_binary:
        return assembled
    indexer = VectorIndexer(
        inputCol=output_col, outputCol="indexed_features", maxCategories=max_categories
    ).fit(assembled)
    return indexer.transform(assembled)


def slice_features(
    df: DataFrame, names: Sequence[str], input_col: str = "indexed_features",
    output_col: str = "features",
) -> DataFrame:
    """VectorSlicer by feature name (M9, README.md:1489...3607)."""
    slicer = VectorSlicer(inputCol=input_col, outputCol=output_col, names=list(names))
    return slicer.transform(df)


def pca_project(
    df: DataFrame, k: int = 2, input_col: str = "features",
    output_col: str = "pca_features",
):
    """PCA(k) fit+transform; returns (model, transformed) — M10."""
    model = PCA(k=k, inputCol=input_col, outputCol=output_col).fit(df)
    return model, model.transform(df)
