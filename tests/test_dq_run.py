"""One DQ run end to end: the metrics frame is a JVM-local relation, one
persisted classification feeds both quarantine sinks, the history opens
without a Spark job, and the run's jobs carry ``dq:`` descriptions."""

import math
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from pyspark_data_quality_spark import METRIC_SCHEMA, DQManager, MetricResult
from pyspark_data_quality_spark.core.models import metric_frame
from pyspark_data_quality_spark.operators import CompletenessColRatioRule
from pyspark_data_quality_spark.plans.config import rules_from_config, run_suite
from pyspark_data_quality_spark.sinks import quarantine_route, read_metrics, write_metrics

#: FK + approximate uniqueness + a scoped predicate: the analytic
#: (window) path, a broadcast join and a rule with a NULL-able scope.
SUITE = [
    {"type": "fk", "name": "fk_ref", "columns": ["k"], "ref_table": "ref",
     "ref_columns": ["rk"]},
    {"type": "unique", "name": "u_k_sub", "columns": ["k", "sub"]},
    {"type": "predicate", "name": "p_scoped", "predicate": "v >= 0",
     "condition": "flag = 'on'"},
]


@pytest.fixture
def suite_inputs(spark):
    rows = [
        (1, 1, 1, 5.0, "on"),     # duplicate (k, sub) with id 2
        (2, 1, 1, -1.0, "off"),   # duplicate (k, sub) with id 1; scope off
        (3, 2, 1, -2.0, "on"),    # scoped predicate fails
        (4, 9, 1, 1.0, "on"),     # orphan key
        (5, None, 1, 1.0, None),  # NULL key, NULL scope
        (6, None, 1, -3.0, "on"),  # NULL key again, predicate fails
        (7, 3, None, 2.0, "on"),  # NULL sub
        (8, 3, 2, None, "on"),    # NULL value in scope
        (9, 2, 2, 1.0, "on"),     # passes everything
    ]
    df = spark.createDataFrame(rows, "id int, k int, sub int, v double, flag string")
    ref = spark.createDataFrame([(1,), (2,), (3,)], "rk int")
    return df, ref


def _result(spark, df, ref, run_id="r1"):
    mgr = DQManager(spark, dataset="ds", run_id=run_id).set_data(df)
    for rule in rules_from_config(SUITE, tables={"ref": ref}):
        mgr.add_rule(rule)
    return mgr.run()


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _comparable(row):
    return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in row)


# -- metrics frame ------------------------------------------------------------


def _metrics():
    ts = datetime(2024, 3, 10, 12, 30, 15, 123456, tzinfo=timezone.utc)
    return [
        MetricResult(dataset="d", run_id="r", run_ts=ts, metric_name="m1",
                     column="a", value_double=float("nan"), threshold=0.9,
                     ingest_datetime=ts, extra_info={"k": "v", "n": "2"}),
        MetricResult(dataset="d", run_id="r", run_ts=ts, metric_name="m2",
                     column="b", value_double=None, threshold_result=None,
                     value_string="FAILURE", ingest_datetime=ts),
        MetricResult(dataset="d", run_id="r", run_ts=ts, metric_name="m3",
                     column="c", value_double=0.5, threshold_range=1.0,
                     ingest_datetime=ts, extra_info={}),
    ]


def test_metric_frame_matches_row_path(spark):
    metrics = _metrics()
    got = metric_frame(spark, metrics)
    old = spark.createDataFrame([m.as_row() for m in metrics], METRIC_SCHEMA)
    assert got.schema == METRIC_SCHEMA
    assert [_comparable(r) for r in got.collect()] == [
        _comparable(r) for r in old.collect()
    ]
    assert got.collect()[0]["extra_info"] == {"k": "v", "n": "2"}
    assert got.collect()[2]["extra_info"] == {}

    empty = metric_frame(spark, [])
    assert empty.schema == METRIC_SCHEMA and empty.collect() == []
    # a zero-rule run yields the same empty, typed frame
    zero = DQManager(spark).set_data(spark.range(3)).run().get_metric_results()
    assert zero.schema == METRIC_SCHEMA and zero.collect() == []


def test_metric_results_plan_as_local_relation(spark, suite_inputs):
    metrics = _result(spark, *suite_inputs).get_metric_results()
    qe = metrics._jdf.queryExecution()
    logical = qe.optimizedPlan().toString()
    physical = qe.executedPlan().toString()
    assert "LocalRelation" in logical
    assert "LogicalRDD" not in logical
    assert "EvalPython" not in physical and "PythonUDF" not in physical
    assert metrics.count() == len(SUITE)


def test_metric_run_ts_instant_survives_session_timezone(spark):
    metrics = _metrics()
    expected = int(metrics[0].run_ts.timestamp() * 1_000_000)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        got = metric_frame(spark, metrics).select(
            F.unix_micros("run_ts").alias("us"), F.unix_micros("ingest_datetime").alias("ius")
        ).collect()
        old = spark.createDataFrame(
            [m.as_row() for m in metrics], METRIC_SCHEMA
        ).select(F.unix_micros("run_ts").alias("us")).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert {r["us"] for r in got} == {expected}
    assert {r["ius"] for r in got} == {expected}
    assert {r["us"] for r in old} == {expected}


# -- one classification for both sinks -------------------------------------------


def test_split_partitions_the_input(spark, suite_inputs):
    df, ref = suite_inputs
    res = _result(spark, df, ref)
    before = _persistent_rdds(spark)
    with res.split() as (valid, invalid):
        assert valid.columns == df.columns
        assert invalid.columns == df.columns + ["failed_rules"]
        valid_rows = valid.collect()
        invalid_rows = invalid.collect()
        assert _persistent_rdds(spark) - before  # the classification is cached
    assert _persistent_rdds(spark) == before

    # valid ∪ invalid = input, row for row, and no row on both sides
    routed = [tuple(r) for r in valid_rows] + [tuple(r)[:-1] for r in invalid_rows]
    assert sorted(routed, key=str) == sorted(map(tuple, df.collect()), key=str)
    valid_ids = {r["id"] for r in valid_rows}
    assert not valid_ids & {r["id"] for r in invalid_rows}

    reasons = {r["id"]: sorted(r["failed_rules"]) for r in invalid_rows}
    assert reasons == {
        r["id"]: sorted(r["failed_rules"]) for r in res.get_invalid_df().collect()
    }
    assert reasons[1] == reasons[2] == ["u_k_sub"]
    assert "p_scoped" in reasons[3] and "fk_ref" in reasons[4]
    assert 9 in valid_ids
    assert valid_ids == {r["id"] for r in res.get_valid_df().collect()}


def test_split_releases_cache_when_block_raises(spark, suite_inputs):
    df, ref = suite_inputs
    res = _result(spark, df, ref)
    before = _persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with res.split() as (valid, _):
            valid.count()
            raise RuntimeError("boom")
    assert _persistent_rdds(spark) == before


def test_quarantine_route_releases_cache(spark, suite_inputs, tmp_path):
    df, ref = suite_inputs
    res = _result(spark, df, ref)
    base = str(tmp_path / "q")
    before = _persistent_rdds(spark)
    paths = quarantine_route(res, base)
    assert _persistent_rdds(spark) == before
    valid = spark.read.parquet(paths["valid"])
    invalid = spark.read.parquet(paths["invalid"])
    assert valid.count() + invalid.count() == df.count()
    assert valid.join(invalid, "id").count() == 0

    # the invalid write raises after the valid one cached the
    # classification: the cache is still released
    other = tmp_path / "q2"
    (other / "invalid").mkdir(parents=True)
    with pytest.raises(Exception, match="PATH_ALREADY_EXISTS|already exists"):
        quarantine_route(res, str(other), mode="error")
    assert spark.read.parquet(str(other / "valid")).count() == valid.count()
    assert _persistent_rdds(spark) == before


# -- metrics history ------------------------------------------------------------


def test_read_metrics_opens_history_without_a_job(spark, tmp_path):
    path = str(tmp_path / "hist")
    df = spark.createDataFrame([(1, "a"), (2, None)], "id int, name string")
    for run in ("r1", "r2"):
        res = DQManager(spark, dataset="7", run_id=run).set_data(df).add_rule(
            CompletenessColRatioRule(columns=["name"])
        ).run()
        write_metrics(res.get_metric_results(), path)

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = len(sc.statusTracker().getJobIdsForGroup(None))
    hist = read_metrics(spark, path, dataset="7")
    bus.waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(None)) == before

    inferred = spark.read.parquet(path).filter(F.col("dataset") == 7)
    assert hist.columns == inferred.columns
    assert dict(hist.dtypes)["dataset"] == "string"  # not inferred as int
    assert sorted(map(_comparable, hist.collect())) == sorted(
        map(_comparable, inferred.withColumn("dataset", F.col("dataset").cast("string"))
            .collect())
    )
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_metrics(spark, str(tmp_path / "missing"))


# -- job descriptions -------------------------------------------------------------


def _job_descriptions(spark, after_job: int) -> dict[int, tuple]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    out = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        if job.jobId() > after_job:
            desc, group = job.description(), job.jobGroup()
            out[job.jobId()] = (
                desc.get() if desc.isDefined() else None,
                group.get() if group.isDefined() else None,
            )
    return out


def test_dq_run_jobs_are_described(spark, suite_inputs, tmp_path):
    df, ref = suite_inputs
    sc = spark.sparkContext
    spark.range(1).collect()  # a job id to count from
    first = max(_job_descriptions(spark, -1))
    sc.setLocalProperty("spark.job.description", "caller")
    try:
        config = {
            "dataset": "ds", "run_id": "r7", "rules": SUITE,
            "monitor": {"path": str(tmp_path / "hist")},
        }
        run = run_suite(spark, df, config, tables={"ref": ref})
        run.regressions.collect()
        quarantine_route(run.result, str(tmp_path / "q"))
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)

    jobs = _job_descriptions(spark, first)
    ours = {d for d, _ in jobs.values() if d and d.startswith("dq:")}
    assert ours == {f"dq:ds:r7:{o}" for o in ("metrics", "history", "valid", "invalid")}
    assert all(g is None for _, g in jobs.values())  # the group is never set
