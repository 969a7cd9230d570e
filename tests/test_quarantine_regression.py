"""Quarantine split + cross-run metrics regression report."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_validation_spark.operators.constraints import split_valid_invalid
from data_validation_spark.operators.health import metrics_regression_report
from data_validation_spark.plans.suite import (
    Component,
    Constraint,
    ValidationSuite,
)


# -- split_valid_invalid ------------------------------------------------------

@pytest.fixture(scope="module")
def qdf(spark):
    rows = [("d1", 5, "web"), ("d2", -1, "web"), ("d3", 7, "api"),
            (None, 3, "api")]
    return spark.createDataFrame(rows,
                                 "doc_id string, score int, source string")


def _qsuite():
    return ValidationSuite(
        name="q", components=[Component("score", "numeric")],
        partition_cols=["source"],
        constraints=[
            Constraint("score_pos", "bounds", {"component": "score",
                                               "min": 0}),
            Constraint("id_nn", "not_null", {"component": "doc_id"}),
        ])


def test_split_valid_invalid(spark, qdf):
    clean, quarantined = split_valid_invalid(qdf, _qsuite())
    # clean keeps the INPUT schema exactly
    assert clean.columns == qdf.columns
    assert sorted(r["doc_id"] for r in clean.collect()) == ["d1", "d3"]
    bad = {r["doc_id"]: (set(r["errors"]), r["partition"])
           for r in quarantined.collect()}
    assert bad["d2"] == ({"score_pos"}, "source=web")
    assert bad[None] == ({"id_nn"}, "source=api")
    # the two sides partition the input
    assert clean.count() + quarantined.count() == qdf.count()


def test_split_requires_row_level(spark, qdf):
    s = ValidationSuite(name="s", constraints=[
        Constraint("u", "unique", {"keys": ["doc_id"]})])
    with pytest.raises(ValueError, match="no\\s+row-level"):
        split_valid_invalid(qdf, s)


# -- metrics_regression_report ------------------------------------------------

def _metrics(spark, series):
    """series: list of (partition, component, metric, [v1, v2, ...])."""
    rows = []
    for part, comp, met, values in series:
        for i, v in enumerate(values):
            rows.append((f"run{i}", part, comp, met, float(v),
                         dt.datetime(2026, 1, 1 + i)))
    return spark.createDataFrame(
        rows, "run_id string, partition string, component string, "
              "metric string, value double, ts timestamp")


def test_regression_flags_step_change(spark):
    m = _metrics(spark, [
        ("p", "n_tok", "mean", [100, 101, 99, 100, 250]),   # step → flag
        ("p", "n_tok", "pinv", [0.0, 0.0, 0.0, 0.0, 0.001]),  # tiny → MAD 0
        ("p", "src", "n", [50, 51, 49, 52, 50]),            # stable
    ])
    out = {(r["component"], r["metric"]): r for r in
           metrics_regression_report(m, k=3.0).collect()}
    step = out[("n_tok", "mean")]
    assert step["flagged"] is True
    assert step["last_value"] == 250.0 and step["median_prev"] == 100.0
    # MAD = 0 and no absolute floor → any deviation flags; with a floor
    # above the deviation it must not
    assert out[("n_tok", "pinv")]["flagged"] is True
    floored = {(r["component"], r["metric"]): r for r in
               metrics_regression_report(m, k=3.0, min_deviation=0.01)
               .collect()}
    assert floored[("n_tok", "pinv")]["flagged"] is False
    assert out[("src", "n")]["flagged"] is False


def test_regression_short_history_reports_null(spark):
    m = _metrics(spark, [
        ("p", "c", "mean", [100.0]),            # no prior at all
        ("p", "c", "n", [100, 250]),            # 1 prior < min_history
    ])
    out = {r["metric"]: r for r in
           metrics_regression_report(m, min_history=3).collect()}
    assert out["mean"]["flagged"] is None
    assert out["n"]["flagged"] is None
    assert out["mean"]["n_runs"] == 1


def test_regression_end_to_end_with_runner(spark, tmp_path):
    """Three real run_validation cycles into one sink; the third input
    carries a level shift — the report flags exactly the shifted
    metric series."""
    from data_validation_spark.plans.runner import (
        METRICS_TABLE, run_validation)
    from data_validation_spark.sources.table_provider import TableProvider

    sink = TableProvider(spark, str(tmp_path))
    suite = ValidationSuite(
        name="mon", components=[Component("v", "numeric")],
        constraints=[Constraint("v_nn", "not_null", {"component": "v"})])
    base = spark.range(500).select(
        (F.col("id") % 100).cast("double").alias("v"))
    for i in range(4):
        df = base if i < 3 else base.withColumn("v", F.col("v") + 1000)
        run_validation(spark, df, suite, sink=sink, resume=False,
                       run_id=f"r{i}")
    rep = metrics_regression_report(
        sink.read(METRICS_TABLE).where(F.col("component") == "v"),
        min_history=3, min_deviation=1.0)
    flagged = {(r["metric"]): bool(r["flagged"])
               for r in rep.collect()}
    assert flagged["mean"] and flagged["min"] and flagged["max"]
    assert not flagged["n"]
