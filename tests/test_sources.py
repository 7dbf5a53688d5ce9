import json
import os

import pytest

from auto_data_linkage_spark.sources.catalog import (
    RunLog,
    drop_views,
    list_views,
    read_csv,
    read_parquet,
    read_table,
    register_view,
)


def test_parquet_and_table_roundtrip(spark, sf_dir):
    df = read_parquet(spark, f"{sf_dir}/region.parquet")
    register_view(df, "region_v")
    assert read_table(spark, "region_v").count() == df.count()


def test_csv_with_schema(spark, tmp_path):
    p = str(tmp_path / "x.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    df = read_csv(spark, p, schema="a int, b string")
    rows = df.orderBy("a").collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, "x"), (2, "y")]


def test_view_lifecycle_pattern_drop(spark, sf_dir):
    df = read_parquet(spark, f"{sf_dir}/region.parquet")
    register_view(df, "__trial__a")
    register_view(df, "__trial__b")
    register_view(df, "keepme")
    assert set(list_views(spark, "__trial__*")) == {"__trial__a", "__trial__b"}
    assert drop_views(spark, "__trial__*") == 2
    assert list_views(spark, "__trial__*") == []
    assert "keepme" in list_views(spark)


def test_runlog_sink(tmp_path):
    log = RunLog(str(tmp_path), "trial-1")
    log.log_params(rule="l.a = r.a", max_evals=5)
    log.log_metrics(f1=0.9, recall=1.0)
    log.log_artifact("model", {"m": {"2": 0.9}})
    path = log.save()
    with open(path) as f:
        saved = json.load(f)
    assert saved["params"]["max_evals"] == 5
    assert saved["metrics"]["recall"] == 1.0
    assert saved["artifacts"]["model"]["m"]["2"] == 0.9


def test_clustering_scores_perfect_and_degenerate(spark, people):
    from auto_data_linkage_spark.metrics import clustering_scores

    perfect = people.withColumn("cluster_id", people["recid"])
    s = clustering_scores(perfect, "recid")
    assert s["homogeneity"] == 1.0
    assert s["completeness"] == 1.0
    assert s["v_measure"] == 1.0
    assert s["adjusted_rand"] == 1.0

    allone = people.withColumn("cluster_id", people["recid"].substr(0, 0))
    s2 = clustering_scores(allone, "recid")
    assert s2["homogeneity"] == 0.0
    assert s2["adjusted_rand"] == 0.0


def test_clustering_scores_degenerate_exact_on_many_partitions(spark, people):
    """One cluster over many input partitions: H(C|K) and H(C) are sums
    of the same per-cell terms, so homogeneity must be exactly 0 on
    every run, whatever order the partial sums merge in."""
    from pyspark.sql import functions as F

    from auto_data_linkage_spark.metrics import clustering_scores

    allone = people.withColumn("cluster_id", F.lit(""))
    for n_parts in (3, 5, 7, 11, 13):
        s = clustering_scores(allone.repartition(n_parts), "recid")
        assert s["homogeneity"] == 0.0
        assert s["adjusted_rand"] == 0.0


def test_clustering_scores_match_sklearn_if_available(spark, people):
    try:
        from sklearn.metrics import (
            adjusted_rand_score,
            homogeneity_score,
            completeness_score,
        )
    except ImportError:
        import pytest

        pytest.skip("sklearn not installed")
    from auto_data_linkage_spark.metrics import clustering_scores

    clustered = people.withColumn(
        "cluster_id", (people["unique_id"].cast("int") % 4).cast("string")
    )
    ours = clustering_scores(clustered, "recid")
    rows = clustered.select("cluster_id", "recid").collect()
    k = [r["cluster_id"] for r in rows]
    c = [r["recid"] for r in rows]
    assert ours["homogeneity"] == __import__("pytest").approx(homogeneity_score(c, k), abs=1e-9)
    assert ours["completeness"] == __import__("pytest").approx(completeness_score(c, k), abs=1e-9)
    assert ours["adjusted_rand"] == __import__("pytest").approx(adjusted_rand_score(c, k), abs=1e-9)


def test_runlog_to_mlflow_optional(tmp_path):
    """to_mlflow mirrors params/metrics/artifacts when mlflow is
    installed; without it, the error names the remedy and the JSON sink
    keeps working (the S5 boundary: optional dependency, never a hard
    one)."""
    log = RunLog(str(tmp_path), "trial-ml")
    log.log_params(rule="l.a = r.a")
    log.log_metrics(score=0.5)
    log.log_artifact("model", {"comparisons": []})
    try:
        import mlflow  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="mlflow"):
            log.to_mlflow()
        assert log.save()  # JSON path unaffected
        return
    run_id = log.to_mlflow(
        experiment="adls-test",
        tracking_uri=f"file://{tmp_path}/mlruns",
    )
    assert run_id
