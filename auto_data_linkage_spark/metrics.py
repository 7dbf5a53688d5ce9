"""Evaluation metrics (reference parity: autolinker.py:149-223 unsupervised
information-gain objective; :1190-1232 supervised pairwise P/R/F1).

All pair-level metrics are computed in Spark (the reference pulls clusters
to pandas/sklearn at autolinker.py:1243 — we stay distributed).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class UnsupervisedMetrics:
    # reference naming (autolinker.py:160-185): "scaled" = log base c
    # (#multi-record clusters), "adjusted" = log base u (max #distinct
    # values of any attribute column in the original data)
    scaled_gain: float
    adjusted_gain: float
    information_gain_power_ratio: float

    # backward-compat alias (pre-round-2 field name)
    @property
    def standardized_gain(self) -> float:
        return self.adjusted_gain


def information_gain_power_ratio(
    data: DataFrame,
    clusters: DataFrame,
    attribute_columns: list[str],
    unique_id: str = "unique_id",
    *,
    base_u: int | None = None,
) -> UnsupervisedMetrics:
    """The reference's unsupervised objective
    (``_calculate_unsupervised_metrics``, autolinker.py:149-223).

    Both entropy terms are computed over the **matched subset** (records in
    multi-record clusters, autolinker.py:202-206): per-column entropy of
    that subset minus the mean per-cluster entropy, **summed** over columns
    (np.sum, autolinker.py:213-214), once in log base ``c`` (#multi-record
    clusters → scaled gain I_s) and once in log base ``u`` (max distinct
    count of any attribute column in the *original* data, evaluate_linker
    autolinker.py:596-602 → adjusted gain I_a). The objective is
    ``I_s ** I_a`` (autolinker.py:217).

    Implementation note: entropies in any base are the natural-log entropy
    divided by ``ln(base)``, so one melt + two aggregations produce both
    bases — the reference runs four separate entropy-agg jobs.
    """
    counts = clusters.groupBy("cluster_id").count()
    multi = counts.where(F.col("count") > 1)
    c = multi.count()
    if c == 0:
        return UnsupervisedMetrics(0.0, 0.0, 0.0)
    matched = clusters.join(
        F.broadcast(multi.withColumnRenamed("count", "_csize")),
        "cluster_id",
        "inner",
    )

    if base_u is None:
        # max distinct-value count across attribute columns of the ORIGINAL
        # data (A8, autolinker.py:596-602) — one job via a single agg
        row = data.agg(
            *[F.countDistinct(col).alias(col) for col in attribute_columns]
        ).collect()[0]
        base_u = max(max(row[col] for col in attribute_columns), 2)
    base_c = max(c, 2)

    # one melt pass over the matched subset; value counts per
    # (cluster, column, value) feed both entropy terms
    melted = matched.select(
        "cluster_id",
        "_csize",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(col).alias("col"),
                        F.coalesce(
                            F.col(col).cast("string"), F.lit("null_")
                        ).alias("val"),
                    )
                    for col in attribute_columns
                ]
            )
        ).alias("kv"),
    ).select("cluster_id", "_csize", "kv.col", "kv.val")
    vc = melted.groupBy("cluster_id", "_csize", "col", "val").count().cache()

    # natural-log entropy of each column over the whole matched subset
    n_matched = matched.count()
    overall = (
        vc.groupBy("col", "val")
        .agg(F.sum("count").alias("n"))
        .select(
            "col",
            (
                -(F.col("n") / F.lit(float(n_matched)))
                * F.log(F.col("n") / F.lit(float(n_matched)))
            ).alias("term"),
        )
        .groupBy("col")
        .agg(F.sum("term").alias("h"))
    )
    h_matched = {r["col"]: float(r["h"] or 0.0) for r in overall.collect()}

    # natural-log per-cluster entropy, then per-column mean over clusters
    p = F.col("count") / F.col("_csize")
    within = (
        vc.select("cluster_id", "col", (-p * F.log(p)).alias("term"))
        .groupBy("cluster_id", "col")
        .agg(F.sum("term").alias("h"))
        .groupBy("col")
        .agg(F.avg("h").alias("mh"))
    )
    h_within = {r["col"]: float(r["mh"] or 0.0) for r in within.collect()}
    vc.unpersist()

    gain_nat = sum(
        h_matched.get(col, 0.0) - h_within.get(col, 0.0)
        for col in attribute_columns
    )
    scaled_gain = gain_nat / math.log(base_c)
    adjusted_gain = gain_nat / math.log(base_u)
    return UnsupervisedMetrics(
        scaled_gain=scaled_gain,
        adjusted_gain=adjusted_gain,
        # pow(I_s, I_a), autolinker.py:217; guard the negative-base /
        # fractional-exponent domain error the reference would hit
        information_gain_power_ratio=math.pow(scaled_gain, adjusted_gain)
        if scaled_gain > 0
        else 0.0,
    )


def clustering_scores(
    clusters: DataFrame,
    true_label: str,
    cluster_col: str = "cluster_id",
) -> dict[str, float]:
    """Supervised clustering scores computed IN SPARK from the
    (cluster, label) contingency counts — replaces the reference's
    ``toPandas`` + sklearn path (autolinker.py:1234-1257) with a few
    aggregations; no driver-side row data.

    Returns homogeneity, completeness, V-measure (entropy-based; public
    formulas) and adjusted Rand index (pair-count formula).
    """
    cont = (
        clusters.groupBy(cluster_col, true_label)
        .count()
        .select(
            F.col(cluster_col).alias("k"),
            F.col(true_label).alias("c"),
            F.col("count").cast("double").alias("n"),
        )
    ).cache()
    n_total = cont.agg(F.sum("n")).collect()[0][0]
    if not n_total:
        return {k: 0.0 for k in (
            "homogeneity", "completeness", "v_measure", "adjusted_rand"
        )}

    # ONE aggregation over the contingency cells, each carrying its row
    # (nk) and column (nc) totals: every entropy is a per-cell sum
    #   H(C)   = -Σ (n/N) ln(nc/N)     H(C|K) = -Σ (n/N) ln(n/nk)
    #   H(K)   = -Σ (n/N) ln(nk/N)     H(K|C) = -Σ (n/N) ln(n/nc)
    # so terms that are equal (one cluster: nk = N and n = nc) are
    # summed in the same order and the ratios come out exact.
    cells = cont.withColumn(
        "nk", F.sum("n").over(Window.partitionBy("k"))
    ).withColumn("nc", F.sum("n").over(Window.partitionBy("c")))
    p = F.col("n") / n_total

    def ent(num, den):
        return F.sum(-p * F.log(num / den))

    h_c, h_k, h_c_given_k, h_k_given_c = (
        float(v or 0.0)
        for v in cells.agg(
            ent(F.col("nc"), F.lit(n_total)),
            ent(F.col("nk"), F.lit(n_total)),
            ent(F.col("n"), F.col("nk")),
            ent(F.col("n"), F.col("nc")),
        ).first()
    )
    homogeneity = 1.0 if h_c == 0 else 1.0 - h_c_given_k / h_c
    completeness = 1.0 if h_k == 0 else 1.0 - h_k_given_c / h_k
    v = (
        0.0
        if homogeneity + completeness == 0
        else 2 * homogeneity * completeness / (homogeneity + completeness)
    )

    # adjusted Rand from pair counts
    def comb2(col):
        return col * (col - 1) / 2

    nk = cont.groupBy("k").agg(F.sum("n").alias("nk"))
    nc = cont.groupBy("c").agg(F.sum("n").alias("nc"))
    sum_ij = cont.agg(F.sum(comb2(F.col("n")))).collect()[0][0] or 0.0
    sum_k = nk.agg(F.sum(comb2(F.col("nk")))).collect()[0][0] or 0.0
    sum_c = nc.agg(F.sum(comb2(F.col("nc")))).collect()[0][0] or 0.0
    total_pairs = n_total * (n_total - 1) / 2
    expected = sum_k * sum_c / total_pairs if total_pairs else 0.0
    max_index = (sum_k + sum_c) / 2
    ari = (
        0.0
        if max_index == expected
        else (sum_ij - expected) / (max_index - expected)
    )
    cont.unpersist()
    return {
        "homogeneity": homogeneity,
        "completeness": completeness,
        "v_measure": v,
        "adjusted_rand": float(ari),
    }


def pairwise_prf(
    clusters: DataFrame,
    true_label: str,
    unique_id: str = "unique_id",
) -> dict[str, float]:
    """Supervised pairwise precision/recall/F1/Jaccard from cluster vs
    true-label pair counts (reference autolinker.py:1190-1232), computed
    entirely with aggregations — no pair self-joins.

    #pairs sharing a key = Σ n·(n−1)/2 over key group sizes; true positives
    come from group sizes of the (cluster, label) pair.
    """

    def pair_count(df: DataFrame, keys: list[str]) -> int:
        sizes = df.groupBy(*keys).count()
        row = sizes.agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p")
        ).collect()[0]
        return int(row["p"] or 0)

    predicted = pair_count(clusters, ["cluster_id"])
    actual = pair_count(clusters, [true_label])
    tp = pair_count(clusters, ["cluster_id", true_label])
    fp = predicted - tp
    fn = actual - tp
    precision = tp / predicted if predicted else 0.0
    recall = tp / actual if actual else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if (precision + recall) > 0
        else 0.0
    )
    jaccard = tp / (tp + fp + fn) if (tp + fp + fn) > 0 else 0.0
    return {
        "true_positives": float(tp),
        "false_positives": float(fp),
        "false_negatives": float(fn),
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "jaccard": jaccard,
    }
