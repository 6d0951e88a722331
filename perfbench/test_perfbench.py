"""Tests of the benchmark itself, at tiny scale.

Run from the repository root::

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import copy
import os
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import expect  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a = gen.dq_input(5, 3000)
    b = gen.dq_input(5, 3000)
    c = gen.dq_input(6, 3000)
    assert a[0].equals(b[0]) and a[1].equals(b[1]) and a[2] == b[2]
    assert not a[0].equals(c[0])
    t1, truth1 = gen.corpus(5, n_docs=300)
    t2, truth2 = gen.corpus(5, n_docs=300)
    assert t1.equals(t2) and truth1 == truth2


def test_dq_input_keys_are_unique():
    li, _, _ = gen.dq_input(3, 5000)
    n = duckdb.sql(
        "SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM li "
        "GROUP BY ALL HAVING count(*) > 1)").fetchone()[0]
    assert n == 0


def _write_outputs(lineitem: str, out: str, rules: list[dict]) -> None:
    """Write the valid/invalid split the rules define, computed in DuckDB,
    the way quarantine_route lays it out."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{lineitem}')")
    viol = []
    for spec in rules:
        v, _ = expect.rule_sql(spec)
        viol.append(f"CASE WHEN {v} THEN '{spec['name']}' END")
    con.execute("CREATE TABLE ann AS SELECT *, list_filter([" + ", ".join(viol)
                + "], x -> x IS NOT NULL) AS failed_rules FROM lineitem")
    for side, cond in (("valid", "= 0"), ("invalid", "> 0")):
        os.makedirs(f"{out}/{side}")
        cols = "* EXCLUDE (failed_rules)" if side == "valid" else "*"
        con.execute(f"COPY (SELECT {cols} FROM ann WHERE len(failed_rules) {cond}) "
                    f"TO '{out}/{side}/part-0.parquet' (FORMAT parquet)")


def test_wrong_expectation_fails_the_dq_check(tmp_path):
    li, orders, _ = gen.dq_input(2, 4000)
    paths = gen.write_tables({"lineitem": li, "orders": orders}, str(tmp_path / "in"))
    rules = [r for r in workloads.DQ_RULES if r["type"] != "fk"]
    exp = expect.dq_expectation(paths["lineitem"], paths["orders"], rules)
    out = str(tmp_path / "out")
    _write_outputs(paths["lineitem"], out, rules)
    metric_rows = [(m["metric_name"], m["column"], m["value"]) for m in exp["metrics"]]
    n_hist = len(exp["metrics"])

    def problems(e):
        return expect.check_dq(e, out, metric_rows, n_hist, 0)

    assert problems(exp) == []
    wrong = copy.deepcopy(exp)
    wrong["invalid"] += 1
    assert problems(wrong)
    wrong = copy.deepcopy(exp)
    wrong["rule_fails"]["r_discount"] -= 1
    assert problems(wrong)
    wrong = copy.deepcopy(exp)
    wrong["metrics"][4]["value"] += 1e-3
    assert problems(wrong)
    wrong = copy.deepcopy(exp)
    wrong["row_hash"] += 1
    assert problems(wrong)


def test_wrong_truth_fails_the_corpus_check(tmp_path):
    table, truth = gen.corpus(4, n_docs=200)
    paths = gen.write_tables({"documents": table}, str(tmp_path / "in"))
    out = tmp_path / "curated"
    out.mkdir()
    exact = {c for _, c in truth["exact"]}
    near = {e for _, e, _ in truth["near"]}
    duckdb.sql(
        f"COPY (SELECT doc_id, CASE WHEN doc_id IN ({','.join(map(str, exact))}) "
        f"THEN 'exact_dup' WHEN doc_id IN ({','.join(map(str, near))}) THEN 'near_dup' "
        f"ELSE 'kept' END AS curation_status FROM read_parquet('{paths['documents']}')) "
        f"TO '{out}/part-0.parquet' (FORMAT parquet)")
    stats = [("kept", "train", table.num_rows)]
    assert expect.check_corpus(paths["documents"], truth, str(out), stats) == []
    kept = next(i for i in range(200) if i not in {o for o, _ in truth["exact"]})
    wrong = {**truth, "exact": truth["exact"] + [(0, kept)]}
    assert expect.check_corpus(paths["documents"], wrong, str(out), stats)
    assert expect.check_corpus(paths["documents"], truth, str(out),
                               [("kept", "train", table.num_rows - 1)])


def test_wrong_rows_fail_the_entry_check(tmp_path):
    import __spark_entry__ as entry_mod

    table, _ = gen.corpus(6, n_docs=100)
    paths = gen.write_tables({"documents": table}, str(tmp_path / "in"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{paths['documents']}')")
    sql = entry_mod.oracle_sql()["dq_tfidf"]
    exp = expect.entry_expectation(con, sql)
    out = tmp_path / "out"
    out.mkdir()
    con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
    assert expect.check_entry(exp, str(out)) == []
    wrong = copy.deepcopy(exp)
    wrong["rows"][3] = wrong["rows"][3][:-1] + (wrong["rows"][3][-1] + 1e-6,)
    assert expect.check_entry(wrong, str(out))
    assert expect.check_entry({**exp, "rows": exp["rows"][1:]}, str(out))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("session"))
    session = run._session(work, 2)
    yield session
    run._stop(session)


class _TinyDQ(workloads.DQSuite):
    rows = 3000


def _outputs(wl) -> tuple:
    con = duckdb.connect()
    sides = tuple(
        con.execute(f"SELECT count(*), {expect._ROW_HASH} FROM "
                    f"read_parquet('{wl.out}/{s}/*.parquet')").fetchone()
        for s in ("valid", "invalid"))
    metrics = tuple((r.metric_name, r.column, r.value_double) for r in wl.run.metrics.collect())
    return sides, metrics


def test_traced_and_untraced_units_give_identical_outputs(spark, tmp_path):
    import spans

    wl = _TinyDQ(str(tmp_path), 9)
    wl.prepare()
    wl.open(spark)
    tracer = spans.Tracer(spark)
    seen = []
    for i, traced in enumerate((False, True)):
        if traced:
            tracer.install()
            first_exec = tracer.next_execution_id()
        tracer.enabled, tracer.iteration = traced, i
        wl.reset()
        with tracer.span("bench"):
            wl.unit(spark, tracer, i)
        tracer.enabled = False
        assert wl.check(spark, i) == []
        seen.append(_outputs(wl))
    tracer.uninstall()
    assert seen[0] == seen[1]
    tracer.collect_iteration(1, first_exec)
    layers = {s.name for s in tracer.spans}
    assert {"bench", "plans.config", "plans.analysis", "result", "sinks.metrics",
            "sinks.quarantine"} <= layers
    root = next(s for s in tracer.spans if s.parent is None)
    total_self = sum(s.self_ms for s in tracer.spans)
    assert total_self == pytest.approx(root.wall_ms, rel=1e-6)
    analysis = [s for s in tracer.spans if s.name == "plans.analysis"]
    assert sum(s.counters["jobs"] for s in analysis) >= 1
    # the fused pass scans the whole lineitem file at least once
    size = os.path.getsize(wl.paths["lineitem"])
    assert sum(s.counters["scan_bytes"] for s in analysis) >= 0.9 * size
    assert all(0 <= s.driver_ms <= s.self_ms + 1e-6 for s in tracer.spans)


def test_benchmark_json_names_every_printed_metric():
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in bench["workloads"]:
        assert w["name"] in workloads.WORKLOADS
    assert layers == run.per_layer_metrics()
