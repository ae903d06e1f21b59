"""Feature-selection scoring: ANOVA F, Pearson correlation pruning, binned
mutual information — reference M13/M14/M15 (operations/api.py:633-649,
interface/apis.py:244-304) as exact DataFrame aggregations.

Scale notes: ANOVA F is ONE groupBy(target) pass + a tiny driver combine
(exact — no sampling); the correlation matrix is one corr() call per pair
on assembled aggregates (p² driver-side scalars, data passes = 1 via a
single covariance aggregate); MI bins with width_bucket-style exprs then
one groupBy — all shuffle-light.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def anova_f_scores(df: DataFrame, feature_cols: list[str], target: str) -> dict:
    """Exact sklearn f_classif parity (M13): F = MS_between / MS_within
    computed from per-class (count, sum, sumsq) — one aggregate pass for
    ALL features (operations/api.py:640-649 uses SelectKBest(f_classif))."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in feature_cols:
        aggs.append(F.sum(F.col(c).cast("double")).alias(f"{c}__s"))
        aggs.append(F.sum(F.pow(F.col(c).cast("double"), 2)).alias(f"{c}__ss"))
    per_class = df.groupBy(target).agg(*aggs).collect()

    n_classes = len(per_class)
    n_total = sum(r["__n"] for r in per_class)
    scores = {}
    for c in feature_cols:
        tot_s = sum(r[f"{c}__s"] for r in per_class)
        tot_ss = sum(r[f"{c}__ss"] for r in per_class)
        grand_mean = tot_s / n_total
        ss_between = sum(
            r["__n"] * (r[f"{c}__s"] / r["__n"] - grand_mean) ** 2 for r in per_class
        )
        ss_within = tot_ss - sum(r[f"{c}__s"] ** 2 / r["__n"] for r in per_class)
        df_between = n_classes - 1
        df_within = n_total - n_classes
        if df_between <= 0 or df_within <= 0 or ss_within <= 0:
            scores[c] = float("inf") if ss_between > 0 else 0.0
        else:
            scores[c] = (ss_between / df_between) / (ss_within / df_within)
    return scores


def pearson_corr_matrix(df: DataFrame, cols: list[str]) -> dict:
    """Pairwise Pearson correlations in ONE aggregate pass (sums, squares,
    cross-products) — exact df.corr parity (M14, apis.py:281-304) without
    p passes over the data."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast("double")).alias(f"{c}__s"))
        aggs.append(F.sum(F.pow(F.col(c).cast("double"), 2)).alias(f"{c}__ss"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(
                F.sum(F.col(a).cast("double") * F.col(b).cast("double")).alias(
                    f"{a}|{b}__xy"
                )
            )
    row = df.agg(*aggs).first()
    n = row["__n"]
    corr = {}
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            # an all-null column yields null sums (Spark sum skips nulls);
            # correlation is undefined there — report 0.0 (nothing to
            # prune on) instead of crashing the fit
            if None in (row[f"{a}|{b}__xy"], row[f"{a}__s"], row[f"{b}__s"],
                        row[f"{a}__ss"], row[f"{b}__ss"]) or not n:
                corr[(a, b)] = 0.0
                continue
            cov = row[f"{a}|{b}__xy"] / n - (row[f"{a}__s"] / n) * (row[f"{b}__s"] / n)
            va = row[f"{a}__ss"] / n - (row[f"{a}__s"] / n) ** 2
            vb = row[f"{b}__ss"] / n - (row[f"{b}__s"] / n) ** 2
            denom = math.sqrt(va * vb)
            corr[(a, b)] = cov / denom if denom > 0 else 0.0
    return corr


def prune_correlated(
    scores: dict, corr: dict, threshold: float = 0.90
) -> list[str]:
    """Reference pruning rule (apis.py:287-293): for each pair with
    |corr| > 0.90 drop the LOWER-importance feature. Deterministic order."""
    dropped: set[str] = set()
    for (a, b), r in sorted(corr.items()):
        if abs(r) <= threshold or a in dropped or b in dropped:
            continue
        dropped.add(b if scores.get(a, 0) >= scores.get(b, 0) else a)
    return [c for c in scores if c not in dropped]


def f_regression_scores(
    df: DataFrame, feature_cols: list[str], target: str
) -> dict:
    """Exact sklearn ``f_regression`` parity (M15 regression branch,
    interface/apis.py:252-254): univariate F = r²·(n−2)/(1−r²) where r is
    the Pearson correlation with the target — derived from the same
    single-pass moment aggregate as pearson_corr_matrix (no extra scan)."""
    cols = list(feature_cols) + [target]
    corr = pearson_corr_matrix(df, cols)
    n = df.count()
    scores = {}
    for c in feature_cols:
        r = corr.get((c, target), corr.get((target, c), 0.0))
        denom = 1.0 - r * r
        scores[c] = (r * r * (n - 2) / denom) if denom > 1e-15 else float("inf")
    return scores


def mutual_information_binned(
    df: DataFrame, feature_cols: list[str], target: str, bins: int = 10
) -> dict:
    """Binned MI estimate (M15 scale path — sklearn mutual_info_classif is
    a kNN estimator, not distributable exactly; SURVEY §7 #2): equi-width
    bin each feature, then MI from the (bin, class) contingency counts.
    One min/max pass + ONE melted contingency pass for ALL features (was
    one groupBy job per feature — guide §1.2: batch scalar jobs; the
    per-feature (bin, class) counts are identical, each feature's rows
    are just tagged with its name before one grouped count)."""
    from collections import defaultdict

    mm = df.agg(
        *[F.min(c).alias(f"{c}__mn") for c in feature_cols],
        *[F.max(c).alias(f"{c}__mx") for c in feature_cols],
    ).first()
    scores: dict = {}
    binnable = []
    bin_structs = []
    for c in feature_cols:
        mn, mx = mm[f"{c}__mn"], mm[f"{c}__mx"]
        if mn is None or mx == mn:
            scores[c] = 0.0
            continue
        width = (mx - mn) / bins
        # least() skips NULLs, so the isNotNull guard is what maps a NULL
        # feature value to a NULL bin; the post-explode bin filter then
        # drops those rows from that feature's contingency table
        bin_col = F.when(
            F.col(c).isNotNull(),
            F.least(F.floor((F.col(c) - F.lit(mn)) / F.lit(width)), F.lit(bins - 1)),
        )
        binnable.append(c)
        bin_structs.append(
            F.struct(F.lit(c).alias("__c"), bin_col.alias("__bin"))
        )
    if binnable:
        counts = (
            df.select(
                F.explode(F.array(*bin_structs)).alias("__cb"),
                F.col(target).alias("__y"),
            )
            .filter(F.col("__cb.__bin").isNotNull())
            .groupBy(F.col("__cb.__c").alias("__c"), F.col("__cb.__bin").alias("__bin"), "__y")
            .count()
            .collect()
        )
        by_feature: dict = defaultdict(list)
        for r in counts:
            by_feature[r["__c"]].append(r)
        for c in binnable:
            # probabilities over the rows where the feature is observed
            n = sum(r["count"] for r in by_feature[c])
            pxy = {(r["__bin"], r["__y"]): r["count"] / n for r in by_feature[c]}
            px, py = defaultdict(float), defaultdict(float)
            for (bx, y), p in pxy.items():
                px[bx] += p
                py[y] += p
            mi = sum(
                p * math.log(p / (px[bx] * py[y]))
                for (bx, y), p in pxy.items()
                if p > 0
            )
            scores[c] = max(mi, 0.0)
    return scores


def select_features(
    df: DataFrame,
    feature_cols: list[str],
    target: str,
    corr_threshold: float = 0.90,
) -> list[str]:
    """engineer_features selection stage (apis.py:244-304): score (ANOVA F),
    then drop one of each highly-correlated pair keeping the higher score."""
    scores = anova_f_scores(df, feature_cols, target)
    corr = pearson_corr_matrix(df, feature_cols)
    return prune_correlated(scores, corr, corr_threshold)
