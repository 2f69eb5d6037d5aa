"""The full EDA pipeline, re-expressed Spark-first: every stage of the
reference engine (ref: eda_workspace/public_eda_pipeline.py:61-906) over
EDA-shaped parquet inputs, emitting the same 29 artifact tables +
summary.json + markdown report (schemas locked by tests against
FIXTURES.md §A5 / the reference's public_tables/).

Execution split (SURVEY.md §3):
- distributed (Spark): row counts, wide target sums, horizontal fill
  counts, customer_id joins, chunked null-rate profiling, distinct counts,
  anti-join unseen categories, moment matrices for every correlation,
  contingency counts, quantiles, rank-based AUC, GBT adversarial model
- driver (pandas/numpy over <=O(features x targets) reductions): pair
  loops, clustering, Fisher p-values, artifact shaping, report text

Scale notes: the driver only ever holds moment matrices and result tables;
row data never leaves the executors except the explicitly driver-scale
screen sample (mirroring the reference's design).
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_cyberpolka_eda_spark.functions.sampling import hash_sample
from datafusion_cyberpolka_eda_spark.operators import ml as ML
from datafusion_cyberpolka_eda_spark.operators import profile as P
from datafusion_cyberpolka_eda_spark.operators import stats as S
from datafusion_cyberpolka_eda_spark.operators.relational import (
    horizontal_not_null_count,
    horizontal_sum,
    ntile_bucket,
)
from datafusion_cyberpolka_eda_spark.sources.catalog import target_family


@dataclass
class EdaConfig:
    """Pipeline knobs; defaults mirror the reference's constants."""

    seed: int = 42
    antagonist: str = "target_10_1"
    screen_sample_pct: float = 12  # ref line 472
    adv_sample_pct: float = 20  # ref lines 418, 425
    indicator_sample_pct: float = 30  # ref lines 332, 336
    whale_sample_pct: float = 12  # ref lines 604, 608
    n_extra_dense: int = 320  # ref line 465
    n_popular_targets: int = 10  # ref line 321
    n_indicator_features: int = 30  # ref line 324
    min_co_count_lift: int = 100  # ref line 170
    whale_min_top: int = 50  # ref line 625
    whale_min_rest: int = 1000  # ref line 625
    rare_rate_threshold: float = 0.005  # ref line 599
    adv_max_iter: int = 120  # ref line 448 (CatBoost iterations)
    adv_max_depth: int = 6
    adv_step_size: float = 0.08
    selected_targets: list[str] = field(
        default_factory=lambda: ["target_1_1", "target_3_2", "target_10_1", "target_9_6"]
    )


def _pretty(df: pd.DataFrame, n: int = 10) -> str:
    if df is None or df.empty:
        return "(empty)"
    return df.head(n).to_string(index=False)


def run_pipeline(
    spark: SparkSession, data_dir: str, out_dir: str, cfg: EdaConfig | None = None
) -> dict:
    cfg = cfg or EdaConfig()
    tables_dir = os.path.join(out_dir, "public_tables")
    os.makedirs(tables_dir, exist_ok=True)

    def save(df: pd.DataFrame, name: str, index: bool = False) -> None:
        df.to_csv(os.path.join(tables_dir, name), index=index)

    # per-stage wall clock, returned (not written into summary.json — its
    # key set is a locked artifact contract) for perf tracking
    stage_seconds: dict[str, float] = {}
    _t_last = time.perf_counter()

    def tick(stage: str) -> None:
        nonlocal _t_last
        now = time.perf_counter()
        stage_seconds[stage] = round(now - _t_last, 3)
        _t_last = now

    id_col = "customer_id"
    train_main = spark.read.parquet(os.path.join(data_dir, "train_main_features.parquet")).cache()
    test_main = spark.read.parquet(os.path.join(data_dir, "test_main_features.parquet")).cache()
    train_extra = spark.read.parquet(os.path.join(data_dir, "train_extra_features.parquet")).cache()
    train_target = spark.read.parquet(os.path.join(data_dir, "train_target.parquet")).cache()

    main_features = [c for c in train_main.columns if c != id_col]
    num_main = [c for c in main_features if c.startswith("num_feature_")]
    cat_main = [c for c in main_features if c.startswith("cat_feature_")]
    extra_features = [c for c in train_extra.columns if c != id_col]
    target_cols = [c for c in train_target.columns if c != id_col]

    # ---- inventory + target prevalence (ref 76-116): one wide sum agg ----
    n_train = train_main.count()
    n_test = test_main.count()
    sums_row = train_target.agg(
        *[F.sum(F.col(t).cast("long")).alias(t) for t in target_cols]
    ).collect()[0]
    target_df = pd.DataFrame(
        [
            {
                "target": t,
                "family": target_family(t),
                "positive_count": int(sums_row[t]),
                "positive_rate": int(sums_row[t]) / n_train,
            }
            for t in target_cols
        ]
    ).sort_values("positive_rate", ascending=False)
    save(target_df, "target_stats.csv")

    family_df = (
        target_df.groupby("family", as_index=False)
        .agg(
            n_targets=("target", "count"),
            mean_rate=("positive_rate", "mean"),
            min_rate=("positive_rate", "min"),
            max_rate=("positive_rate", "max"),
        )
        .sort_values("mean_rate", ascending=False)
    )
    save(family_df, "target_family_stats.csv")

    tick("inventory_targets")
    # ---- adversarial shift (ref 410-459): pyspark.ml GBT ----
    # Boosting is inherently sequential (depth x iterations distributed
    # passes, most cores idle between barriers), and it shares no inputs
    # with the screen/whale stages below — so it runs in a concurrent job
    # thread (Spark's scheduler handles multi-threaded job submission)
    # while the main thread keeps the cluster busy. Results are identical:
    # same seeded fit, just overlapped wall-clock.
    import threading

    adv_result: dict = {}

    def _fit_adversarial() -> None:
        try:
            adv_result["auc"] = ML.adversarial_shift_auc(
                train_main,
                test_main,
                feature_cols=main_features,
                key_col=id_col,
                sample_pct=cfg.adv_sample_pct,
                seed=cfg.seed,
                max_iter=cfg.adv_max_iter,
                max_depth=cfg.adv_max_depth,
                step_size=cfg.adv_step_size,
            )
        except BaseException as exc:  # surfaced on join below
            adv_result["error"] = exc

    _adv_t0 = time.perf_counter()
    adv_thread = threading.Thread(target=_fit_adversarial, name="adversarial-gbt")
    adv_thread.start()
    # ---- opened-targets histogram (ref 126-135): horizontal sum, no
    # driver row data ----
    opened = train_target.select(
        horizontal_sum([F.col(t).cast("int") for t in target_cols]).alias("opened_targets")
    )
    sum_dist = (
        opened.groupBy("opened_targets")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("opened_targets")
        .toPandas()
    )
    sum_dist["share"] = sum_dist["count"] / n_train
    save(sum_dist, "opened_targets_distribution.csv")

    tick("opened_histogram")
    # ---- target dependencies (ref 140-181): ONE grouped pass over the
    # positive-target index gives the corr matrix AND co-occurrence counts
    # AND prevalences ----
    m = S.binary_cross_moments(train_target, target_cols)
    corr = S.corr_from_moments(m)
    save(corr, "target_correlation_matrix.csv", index=True)

    prev = m["sum_x"] / n_train
    pair_rows = []
    for i, ta in enumerate(target_cols):
        for j in range(i + 1, len(target_cols)):
            tb = target_cols[j]
            co_count = int(m["sum_xy"][i, j])
            co_rate = co_count / n_train
            expected = float(prev[i] * prev[j])
            pair_rows.append(
                {
                    "target_a": ta,
                    "target_b": tb,
                    "corr": float(corr.iloc[i, j]),
                    "co_count": co_count,
                    "co_rate": co_rate,
                    "expected_independent_rate": expected,
                    "pair_lift": (co_rate / expected) if expected > 0 else np.nan,
                }
            )
    pair_df = pd.DataFrame(pair_rows)
    save(pair_df, "target_pair_stats.csv")

    top_pos_pairs = pair_df.sort_values("corr", ascending=False).head(30)
    top_neg_pairs = pair_df.sort_values("corr", ascending=True).head(30)
    top_lift_pairs = (
        pair_df[pair_df["co_count"] >= cfg.min_co_count_lift]
        .sort_values("pair_lift", ascending=False)
        .head(30)
    )
    save(top_pos_pairs, "top_positive_target_pairs.csv")
    save(top_neg_pairs, "top_negative_target_pairs.csv")
    save(top_lift_pairs, "top_cooccurrence_lift_pairs.csv")

    corr_anti = corr.loc[cfg.antagonist].drop(cfg.antagonist)
    anti_profile = pd.DataFrame(
        {
            "other_target": corr_anti.index,
            "correlation": corr_anti.values,
            "abs_correlation": np.abs(corr_anti.values),
        }
    ).sort_values("abs_correlation", ascending=False)
    save(anti_profile, "target_10_1_profile.csv")

    tick("target_dependencies")
    # ---- clustering on |corr| distance (ref 183-230): driver-scale ----
    dist = 1.0 - np.abs(corr.to_numpy(dtype=float))
    np.fill_diagonal(dist, 0.0)
    cluster_eval_rows = []
    labels_k4 = None
    for k in (3, 4, 5):
        labels = ML.agglomerative_average(dist, k)
        if k == 4:
            labels_k4 = labels
        sil = (
            ML.silhouette_precomputed(dist, labels)
            if len(np.unique(labels)) > 1
            else np.nan
        )
        counts = pd.Series(labels).value_counts()
        cluster_eval_rows.append(
            {
                "k": k,
                "silhouette_precomputed": sil,
                "largest_cluster_share": float(counts.max() / len(target_cols)),
                "min_cluster_size": int(counts.min()),
                "max_cluster_size": int(counts.max()),
            }
        )
    cluster_eval_df = pd.DataFrame(cluster_eval_rows)
    save(cluster_eval_df, "target_cluster_quality.csv")

    cluster_assign_df = pd.DataFrame({"target": target_cols, "cluster_k4": labels_k4})
    cluster_assign_df["family"] = cluster_assign_df["target"].map(target_family)
    save(cluster_assign_df, "target_clusters_k4.csv")

    cluster_summary_rows = []
    for cl_id, g in cluster_assign_df.groupby("cluster_k4"):
        ts = g["target"].tolist()
        if len(ts) > 1:
            sub = corr.loc[ts, ts].to_numpy(dtype=float)
            iu = np.triu_indices(len(ts), k=1)
            avg_abs = float(np.abs(sub[iu]).mean())
        else:
            avg_abs = np.nan
        fam_mode = g["family"].value_counts(normalize=True)
        cluster_summary_rows.append(
            {
                "cluster_k4": int(cl_id),
                "n_targets": len(ts),
                "avg_abs_corr_inside": avg_abs,
                "dominant_family": str(fam_mode.index[0]),
                "dominant_family_share": float(fam_mode.iloc[0]),
                "targets": ", ".join(sorted(ts)),
            }
        )
    cluster_summary_df = pd.DataFrame(cluster_summary_rows).sort_values(
        "n_targets", ascending=False
    )
    save(cluster_summary_df, "target_cluster_summary.csv")

    tick("clustering")
    # ---- missingness (ref 235-280): chunked wide null-rate aggs ----
    extra_miss = P.null_rates(train_extra, extra_features).toPandas()
    extra_miss_df = (
        extra_miss.rename(columns={"column": "feature"})
        .assign(source="extra", feature_type="num")
        .sort_values("null_rate", ascending=False)
    )
    save(extra_miss_df, "extra_missingness_summary.csv")

    main_miss = P.null_rates(train_main, main_features).toPandas()
    main_miss_df = main_miss.rename(columns={"column": "feature"}).assign(source="main")
    main_miss_df["feature_type"] = np.where(
        main_miss_df["feature"].str.startswith("cat_feature_"), "cat", "num"
    )
    miss_all_df = pd.concat([main_miss_df, extra_miss_df], ignore_index=True).sort_values(
        "null_rate", ascending=False
    )
    save(miss_all_df, "feature_missingness_summary.csv")
    save(extra_miss_df.head(10), "top10_missing_features.csv")

    r = extra_miss_df["null_rate"]
    miss_bands = pd.DataFrame(
        {
            "band": [">99%", ">95%", ">90%", "50-90%", "10-50%", "<=10%"],
            "count": [
                int((r > 0.99).sum()),
                int((r > 0.95).sum()),
                int((r > 0.90).sum()),
                int(((r > 0.50) & (r <= 0.90)).sum()),
                int(((r > 0.10) & (r <= 0.50)).sum()),
                int((r <= 0.10).sum()),
            ],
        }
    )
    save(miss_bands, "extra_missingness_bands.csv")

    tick("missingness")
    # ---- filled-count as activity signal (ref 283-318): stays
    # distributed end-to-end (the reference pulls 750k rows to pandas;
    # Spark computes AUC/deciles/point-biserial without materializing) ----
    open_cols = [c for c in target_cols if c != cfg.antagonist]
    fill_df = (
        train_extra.select(
            F.col(id_col),
            horizontal_not_null_count(extra_features).alias("filled_extra_count"),
        )
        .join(
            train_target.select(
                F.col(id_col),
                (
                    horizontal_sum([F.col(c).cast("int") for c in open_cols]) > 0
                ).cast("int").alias("target_any_open"),
            ),
            on=id_col,
            how="inner",
        )
        .cache()
    )
    auc_fill_row = S.auc_by_rank(fill_df, "target_any_open", "filled_extra_count").collect()[0]
    auc_fill = auc_fill_row["auc"] if auc_fill_row["auc"] is not None else float("nan")
    pb_corr, pb_p = S.point_biserial(fill_df, "target_any_open", "filled_extra_count")

    deciles = ntile_bucket(
        fill_df,
        "filled_extra_count",
        10,
        bucket_col="decile",
        tiebreak_cols=[id_col],
    )
    fill_dec_df = (
        deciles.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("filled_extra_count").alias("avg_filled"),
            F.min("filled_extra_count").alias("min_filled"),
            F.max("filled_extra_count").alias("max_filled"),
            F.avg(F.col("target_any_open").cast("double")).alias("target_rate"),
        )
        .orderBy("decile")
        .toPandas()
    )
    # 0-based decile labels like pd.qcut(labels=False) (ref line 307);
    # ntile splits ties across buckets where qcut keeps them together — a
    # documented divergence (SURVEY.md §5.3 tie policy)
    fill_dec_df["decile"] = fill_dec_df["decile"] - 1
    save(fill_dec_df, "filled_extra_count_deciles.csv")

    tick("filled_count")
    # ---- missing-indicator AUC screen (ref 321-364): closed-form AUC for
    # a binary score — AUC = 0.5 + (P(ind|pos) - P(ind|neg))/2 — so the
    # whole screen is ONE grouped pass over the null-feature index, no
    # per-pair jobs ----
    pop_targets = (
        target_df[target_df["target"] != cfg.antagonist]
        .head(cfg.n_popular_targets)["target"]
        .tolist()
    )
    moderate_feats = (
        extra_miss_df[
            (extra_miss_df["null_rate"] >= 0.20) & (extra_miss_df["null_rate"] <= 0.98)
        ]
        .head(cfg.n_indicator_features)["feature"]
        .tolist()
    )
    miss_auc_rows = []
    if moderate_feats:
        sample = hash_sample(
            train_extra.select(id_col, *moderate_feats), id_col, cfg.indicator_sample_pct, cfg.seed
        ).join(
            hash_sample(
                train_target.select(id_col, *pop_targets), id_col, cfg.indicator_sample_pct, cfg.seed
            ),
            on=id_col,
            how="inner",
        )
        sums = S.null_indicator_sums(sample, moderate_feats, pop_targets)
        n_s = sums["n"]
        null_rate_map = dict(zip(extra_miss_df["feature"], extra_miss_df["null_rate"]))
        for fi, f in enumerate(moderate_feats):
            ind_sum = float(sums["ind"][fi])
            if ind_sum == 0 or ind_sum == n_s:
                continue  # constant indicator (ref line 348-349)
            miss_rate = ind_sum / n_s
            for ti, t in enumerate(pop_targets):
                pos = float(sums["y"][ti])
                neg = n_s - pos
                if pos == 0 or neg == 0:
                    auc = np.nan  # degenerate class guard (ref safe_auc)
                else:
                    iy = float(sums["iy"][fi, ti])
                    a = iy / pos
                    b = (ind_sum - iy) / neg
                    auc = 0.5 + (a - b) / 2.0
                auc_eff = np.nan if not np.isfinite(auc) else max(auc, 1.0 - auc)
                miss_auc_rows.append(
                    {
                        "target": t,
                        "feature": f,
                        "auc_single_feature": auc,
                        "auc_effective": auc_eff,
                        "null_rate": null_rate_map.get(f, np.nan),
                        "missing_rate_indicator": miss_rate,
                    }
                )
    miss_auc_df = pd.DataFrame(
        miss_auc_rows,
        columns=[
            "target",
            "feature",
            "auc_single_feature",
            "auc_effective",
            "null_rate",
            "missing_rate_indicator",
        ],
    ).sort_values("auc_effective", ascending=False) if miss_auc_rows else pd.DataFrame(
        columns=[
            "target",
            "feature",
            "auc_single_feature",
            "auc_effective",
            "null_rate",
            "missing_rate_indicator",
        ]
    )
    save(miss_auc_df, "missing_indicator_auc_popular_targets.csv")

    tick("indicator_auc")
    # ---- cardinality + unseen categories (ref 369-405): ALL features in
    # a constant number of stacked passes (a per-feature loop costs 4
    # full-table jobs per column) ----
    prof = (
        P.cardinality_unseen_profile(train_main, test_main, cat_main)
        .toPandas()
        .set_index("feature")
        .reindex(cat_main)
        .fillna({"train_nunique": 0, "test_nunique": 0,
                 "unseen_unique_categories": 0, "unseen_rate_test_rows": 0.0})
        .reset_index()
    )
    card_df = prof[["feature", "train_nunique", "test_nunique"]].astype(
        {"train_nunique": int, "test_nunique": int}
    ).sort_values("train_nunique", ascending=False)
    unseen_df = prof[
        ["feature", "unseen_unique_categories", "unseen_rate_test_rows"]
    ].astype({"unseen_unique_categories": int}).sort_values(
        "unseen_rate_test_rows", ascending=False
    )
    save(card_df, "categorical_cardinality.csv")
    save(unseen_df, "categorical_unseen_categories.csv")

    tick("cardinality_unseen")

    tick("adversarial_launch")
    # ---- wide linear screen (ref 463-594): sampled 3-way join, mean
    # impute, ONE chunked moments pass for the feature x target corr ----
    extra_dense = (
        extra_miss_df.sort_values("null_rate", ascending=True)
        .head(cfg.n_extra_dense)["feature"]
        .tolist()
    )
    feat_screen = main_features + extra_dense

    main_exprs = [
        (
            F.coalesce(F.col(c).cast("double"), F.lit(-1.0)).alias(c)
            if c in cat_main
            else F.col(c).cast("double").alias(c)
        )
        for c in main_features
    ]
    screen = (
        hash_sample(train_main, id_col, cfg.screen_sample_pct, cfg.seed)
        .select(F.col(id_col), *main_exprs)
        .join(
            hash_sample(train_extra, id_col, cfg.screen_sample_pct, cfg.seed).select(
                F.col(id_col), *[F.col(c).cast("double").alias(c) for c in extra_dense]
            ),
            on=id_col,
            how="inner",
        )
        .join(
            hash_sample(train_target, id_col, cfg.screen_sample_pct, cfg.seed).select(
                F.col(id_col), *[F.col(t).cast("double").alias(t) for t in target_cols]
            ),
            on=id_col,
            how="inner",
        )
        .cache()
    )
    n_screen = screen.count()
    screen_imp = S.mean_impute(screen, feat_screen)
    # one assembled-vector Correlation pass instead of thousands of chunked
    # sum expressions — same values (ddof cancels), ~10x on wide screens
    corr_mat = S.corr_matrix_assembled(screen_imp, feat_screen, target_cols)

    miss_rate_map = dict(zip(miss_all_df["feature"], miss_all_df["null_rate"]))
    type_map = {
        f: ("cat" if f.startswith("cat_feature_") else "num") for f in feat_screen
    }
    source_map = {f: ("main" if f in main_features else "extra") for f in feat_screen}
    linear_rows = []
    for f in feat_screen:
        for t in target_cols:
            c = corr_mat.loc[f, t]
            if np.isfinite(c):
                linear_rows.append(
                    {
                        "target": t,
                        "feature": f,
                        "pearson_corr": float(c),
                        "abs_corr": float(abs(c)),
                        "feature_type": type_map[f],
                        "source": source_map[f],
                        "null_rate": float(miss_rate_map.get(f, np.nan)),
                    }
                )
    linear_df = pd.DataFrame(linear_rows).sort_values(
        ["target", "abs_corr"], ascending=[True, False]
    )
    save(linear_df, "feature_target_linear_corr.csv")

    top10_per_target = linear_df.groupby("target", as_index=False).head(10)
    save(top10_per_target, "target_top10_features_linear.csv")

    mix_rows = []
    for t, g in top10_per_target.groupby("target"):
        mix_rows.append(
            {
                "target": t,
                "mean_abs_corr_top10": float(g["abs_corr"].mean()) if len(g) else np.nan,
                "n_cat_top10": int((g["feature_type"] == "cat").sum()),
                "n_num_top10": int((g["feature_type"] == "num").sum()),
                "n_main_top10": int((g["source"] == "main").sum()),
                "n_extra_top10": int((g["source"] == "extra").sum()),
            }
        )
    target_mix_df = pd.DataFrame(mix_rows).sort_values(
        "mean_abs_corr_top10", ascending=False
    )
    save(target_mix_df, "target_top10_feature_mix.csv")

    feature_uni = (
        top10_per_target.groupby("feature", as_index=False)
        .agg(
            n_targets_top10=("target", "nunique"),
            mean_abs_corr_when_top10=("abs_corr", "mean"),
            max_abs_corr_when_top10=("abs_corr", "max"),
        )
        .sort_values(
            ["n_targets_top10", "mean_abs_corr_when_top10"], ascending=[False, False]
        )
    )
    save(feature_uni, "feature_universality_top10.csv")

    feature_signal = (
        linear_df.groupby("feature", as_index=False)
        .agg(
            max_abs_corr=("abs_corr", "max"),
            mean_abs_corr=("abs_corr", "mean"),
            n_targets_abs_corr_gt_005=("abs_corr", lambda s: int((s > 0.05).sum())),
            n_targets_abs_corr_gt_010=("abs_corr", lambda s: int((s > 0.10).sum())),
        )
        .merge(
            pd.DataFrame(
                {
                    "feature": feat_screen,
                    "source": [source_map[f] for f in feat_screen],
                    "feature_type": [type_map[f] for f in feat_screen],
                    "null_rate": [miss_rate_map.get(f, np.nan) for f in feat_screen],
                }
            ),
            on="feature",
            how="left",
        )
        .sort_values(["max_abs_corr", "mean_abs_corr"], ascending=[False, False])
    )
    save(feature_signal, "feature_signal_summary.csv")

    selected_present = [t for t in cfg.selected_targets if t in target_cols]
    selected_top5 = (
        linear_df[linear_df["target"].isin(selected_present)]
        .groupby("target", as_index=False)
        .head(5)
    )
    save(selected_top5, "golden_linear_top5_selected_targets.csv")

    tick("linear_screen")
    # ---- whale screen (ref 598-669): distributed contingencies + exact
    # Fisher tail on the driver ----
    rare_targets = target_df[target_df["positive_rate"] < cfg.rare_rate_threshold][
        "target"
    ].tolist()
    whale_cols = [
        "target", "feature", "top1_rate", "rest99_rate", "lift", "pvalue"
    ]
    if rare_targets and num_main:
        whale_in = hash_sample(
            train_main.select(id_col, *num_main), id_col, cfg.whale_sample_pct, cfg.seed
        ).join(
            hash_sample(
                train_target.select(id_col, *rare_targets), id_col, cfg.whale_sample_pct, cfg.seed
            ),
            on=id_col,
            how="inner",
        )
        whale_all = S.whale_scan(
            whale_in,
            features=num_main,
            targets=rare_targets,
            quantile=0.99,
            min_top=cfg.whale_min_top,
            min_rest=cfg.whale_min_rest,
        )
    else:
        whale_all = pd.DataFrame(columns=whale_cols)
    if len(whale_all):
        whale_all = whale_all.rename(columns={})
        whale_sig = (
            whale_all[(whale_all["lift"] >= 2.0) & (whale_all["pvalue"] < 0.05)][
                whale_cols
            ]
            .sort_values("lift", ascending=False)
        )
    else:
        whale_sig = pd.DataFrame(columns=whale_cols)
    save(whale_sig, "whale_signals.csv")

    if len(whale_sig):
        whale_feature_candidates = (
            whale_sig.groupby("feature", as_index=False)
            .agg(
                n_rare_targets=("target", "nunique"),
                median_lift=("lift", "median"),
                max_lift=("lift", "max"),
                min_pvalue=("pvalue", "min"),
            )
            .sort_values(["n_rare_targets", "median_lift"], ascending=[False, False])
        )
    else:
        whale_feature_candidates = pd.DataFrame(
            columns=["feature", "n_rare_targets", "median_lift", "max_lift", "min_pvalue"]
        )
    save(whale_feature_candidates, "whale_feature_candidates.csv")
    whale_top_per_target = (
        whale_sig.groupby("target", as_index=False).head(3)
        if len(whale_sig)
        else pd.DataFrame(columns=whale_cols)
    )
    save(whale_top_per_target, "whale_top3_per_target.csv")

    tick("whale")
    adv_thread.join()
    if "error" in adv_result:
        raise adv_result["error"]
    adv_auc = float(adv_result["auc"])
    stage_seconds["adversarial_gbt_wall"] = round(time.perf_counter() - _adv_t0, 3)
    tick("adversarial_join_wait")
    # ---- summary + report (ref 674-905) ----
    n_lt_1 = int((target_df["positive_rate"] < 0.01).sum())
    n_lt_01 = int((target_df["positive_rate"] < 0.001).sum())
    n_lt_50 = int((target_df["positive_count"] < 50).sum())
    min_pos = int(target_df["positive_count"].min())
    neg_share = float((corr_anti < 0).mean())
    mean_corr_anti = float(corr_anti.mean())
    k4_row = cluster_eval_df.loc[cluster_eval_df["k"] == 4].iloc[0]
    clear_4 = bool(
        (k4_row["largest_cluster_share"] <= 0.60)
        and (k4_row["silhouette_precomputed"] >= 0.08)
    )
    n_unseen_feats = int((unseen_df["unseen_unique_categories"] > 0).sum())
    max_unseen_rate = (
        float(unseen_df["unseen_rate_test_rows"].max()) if len(unseen_df) else np.nan
    )

    summary = {
        "rows_train": n_train,
        "rows_test": n_test,
        "n_targets": len(target_cols),
        "n_features_main": len(main_features),
        "n_features_extra": len(extra_features),
        "targets_lt_1pct": n_lt_1,
        "targets_lt_01pct": n_lt_01,
        "targets_lt_50": n_lt_50,
        "min_positive_count": min_pos,
        "target_10_1_negative_share": neg_share,
        "target_10_1_mean_corr": mean_corr_anti,
        "filled_extra_count_auc": float(auc_fill),
        "filled_extra_count_pointbiserial": float(pb_corr),
        "adversarial_auc_main_features": float(adv_auc),
        "cat_features_with_unseen_in_test": n_unseen_feats,
        "max_unseen_rate_test_rows": max_unseen_rate,
        "clear_4_target_clusters": clear_4,
        "k4_silhouette": float(k4_row["silhouette_precomputed"]),
        "k4_largest_cluster_share": float(k4_row["largest_cluster_share"]),
        "significant_whale_pairs": int(len(whale_sig)),
        "n_features_screened_linear": len(feat_screen),
        "screen_sample_rows": int(n_screen),
    }
    with open(os.path.join(tables_dir, "summary.json"), "w") as fh:
        json.dump(summary, fh, ensure_ascii=False, indent=2)

    report = f"""# EDA Report: Multi-Label Targets ({len(target_cols)} targets)

## Executive Summary
Target distribution, inter-target dependencies, missingness structure,
train/test shift, linear feature signal and whale effects — computed
distributed-first on Spark (moment aggregations, anti-joins, rank AUC),
with driver-side statistics only on reduced matrices.

- {n_lt_1} of {len(target_cols)} targets have prevalence <1%; minimum positive count {min_pos}.
- `{cfg.antagonist}` negative-correlation share: {neg_share:.2%} (mean corr {mean_corr_anti:.4f}).
- AUC(`filled_extra_count` -> any open): {float(auc_fill):.4f}; point-biserial r {pb_corr:.4f} (p={pb_p:.2e}).
- Adversarial AUC (main features, {cfg.adv_sample_pct:.0f}% sample): {adv_auc:.4f}.
- k=4 clustering: silhouette {k4_row['silhouette_precomputed']:.4f} -> {"clear structure" if clear_4 else "no clear 4-cluster structure"}.
- Significant whale pairs (lift>=2, p<0.05): {len(whale_sig)}.

## 1. Data Landscape
- Train rows: **{n_train}** / Test rows: **{n_test}**
- Targets: **{len(target_cols)}**; main features: **{len(main_features)}**; extra features: **{len(extra_features)}**

## 2. Target Landscape
```text
{_pretty(target_df, 10)}
```
Top positive pairs:
```text
{_pretty(top_pos_pairs[["target_a", "target_b", "corr", "co_count"]], 10)}
```
Top negative pairs:
```text
{_pretty(top_neg_pairs[["target_a", "target_b", "corr", "co_count"]], 10)}
```
Top co-occurrence lift pairs:
```text
{_pretty(top_lift_pairs[["target_a", "target_b", "pair_lift", "co_count", "co_rate"]], 10)}
```
Cluster quality:
```text
{_pretty(cluster_eval_df, 10)}
```

## 3. Missingness
```text
{_pretty(miss_bands, 10)}
```
Filled-count deciles:
```text
{_pretty(fill_dec_df[["decile", "n", "avg_filled", "target_rate"]], 10)}
```

## 4. Categorical Risk Surface
- Cat features with unseen test categories: **{n_unseen_feats}** (max row-rate {max_unseen_rate:.6f})
```text
{_pretty(card_df, 10)}
```

## 5. Train/Test Shift
Adversarial AUC: **{adv_auc:.4f}** — {"shift detected" if adv_auc > 0.6 else "no strong covariate shift"}.

## 6. Wide Linear Screen ({len(feat_screen)} features x {len(target_cols)} targets on {n_screen} sampled rows)
```text
{_pretty(feature_signal[["feature", "source", "feature_type", "max_abs_corr", "mean_abs_corr"]], 15)}
```

## 7. Whale Effects
```text
{_pretty(whale_top_per_target, 15)}
```

## Artifacts
All tables in `public_tables/`; summary scalars in `public_tables/summary.json`.
"""
    with open(os.path.join(out_dir, "EDA_REPORT.md"), "w") as fh:
        fh.write(report)

    tick("summary_report")
    for df in (train_main, test_main, train_extra, train_target, fill_df, screen):
        df.unpersist()
    summary = dict(summary)
    summary["stage_seconds"] = stage_seconds
    return summary
