"""The benchmark's workloads. Each one makes its inputs and expectations
(``prepare``), then runs units of work through the package's public API
(``unit``), and checks each unit's outputs outside the timed region
(``check``). ``reset`` restores the state a unit starts from."""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import expect
import gen

#: The DQ suite: about 22 predicate-shaped rules plus one approximate
#: uniqueness and one foreign key, over the defect-injected lineitem.
DQ_RULES = [
    {"type": "completeness", "name": "c_measures", "threshold": 0.95,
     "columns": ["l_quantity", "l_extendedprice", "l_returnflag"]},
    {"type": "completeness", "name": "c_keys", "columns": ["l_orderkey", "l_partkey"]},
    {"type": "completeness", "name": "c_dates", "columns": ["l_shipdate", "l_discount"]},
    {"type": "row_completeness", "name": "rc_keys_qty", "threshold": 0.9,
     "columns": ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity"]},
    {"type": "range", "name": "r_discount", "column": "l_discount",
     "min_value": 0.0, "max_value": 0.1, "threshold": 0.95},
    {"type": "range", "name": "r_tax", "column": "l_tax", "min_value": 0.0, "max_value": 0.08},
    {"type": "range", "name": "r_quantity", "column": "l_quantity",
     "min_value": 1, "max_value": 50, "threshold": 0.95},
    {"type": "range", "name": "r_price", "column": "l_extendedprice", "min_value": 0,
     "threshold": 0.95},
    {"type": "range", "name": "r_linenumber", "column": "l_linenumber",
     "min_value": 1, "max_value": 7},
    {"type": "range", "name": "r_suppkey", "column": "l_suppkey", "min_value": 0},
    {"type": "in_set", "name": "s_returnflag", "column": "l_returnflag",
     "allowed": ["A", "N", "R"], "threshold": 0.95},
    {"type": "in_set", "name": "s_linestatus", "column": "l_linestatus",
     "allowed": ["O", "F"], "threshold": 0.95},
    {"type": "regex", "name": "x_returnflag", "column": "l_returnflag",
     "pattern": "[ANR]", "threshold": 0.95},
    {"type": "regex", "name": "x_linestatus", "column": "l_linestatus",
     "pattern": "[OF]", "threshold": 0.95},
    {"type": "predicate", "name": "p_price_floor", "threshold": 0.95,
     "predicate": "l_extendedprice >= l_quantity * 900"},
    {"type": "predicate", "name": "p_discount_flag", "threshold": 0.95,
     "predicate": "l_discount <= 0.1 OR l_returnflag = 'R'"},
    {"type": "predicate", "name": "p_tax_discount", "predicate": "l_tax + l_discount < 0.2"},
    {"type": "predicate", "name": "p_scoped_qty", "predicate": "l_quantity <= 40",
     "condition": "l_returnflag = 'N'", "threshold": 0.5},
    {"type": "predicate", "name": "p_flag_len", "predicate": "length(l_linestatus) = 1"},
    {"type": "predicate", "name": "p_shipdate", "threshold": 0.99,
     "predicate": "l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'"},
    {"type": "unique", "name": "u_pk_approx", "columns": ["l_orderkey", "l_linenumber"],
     "threshold": 0.99},
    {"type": "fk", "name": "fk_orders", "columns": ["l_orderkey"], "ref_table": "orders",
     "ref_columns": ["o_orderkey"], "threshold": 0.95},
]
#: Prior runs in the metrics history, restored before every unit.
HISTORY_RUNS = 5
#: Registry entries run through ``__spark_entry__.queries()`` over the
#: corpus, each checked against its ``oracle_sql()``.
CORPUS_ENTRIES = ("dq_tfidf",)


class Workload:
    name = ""
    #: rows of the main input; a stage reading at least this many input
    #: records is a full source scan
    source_rows = 0
    input_rows = 0

    def __init__(self, work_dir: str, seed: int):
        self.dir = os.path.join(work_dir, self.name)
        self.seed = seed

    def prepare(self) -> None:
        """Generate the inputs and their expectations (no Spark)."""

    def open(self, spark) -> None:
        """Build the lazy input frames once the session exists."""

    def reset(self) -> None:
        """Restore the state a unit starts from (outside timing)."""

    def unit(self, spark, tracer, i: int) -> None:
        raise NotImplementedError

    def check(self, spark, i: int) -> list[str]:
        raise NotImplementedError


class DQSuite(Workload):
    """``run_suite`` with a monitor block, the regressions frame, then
    ``quarantine_route`` writing valid and invalid parquet."""

    name = "dq_suite"
    rows = 100_000

    def prepare(self):
        li, orders, _ = gen.dq_input(self.seed, self.rows)
        self.paths = gen.write_tables({"lineitem": li, "orders": orders},
                                      os.path.join(self.dir, "in"))
        self.source_rows = self.input_rows = li.num_rows
        self.history_seed = os.path.join(self.dir, "history_seed")
        _seed_history(self.history_seed, DQ_RULES, self.seed)
        self.expected = expect.dq_expectation(self.paths["lineitem"], self.paths["orders"],
                                              DQ_RULES)

    def open(self, spark):
        self.lineitem = spark.read.parquet(self.paths["lineitem"])
        self.orders = spark.read.parquet(self.paths["orders"])
        self.history = os.path.join(self.dir, "history")
        self.out = os.path.join(self.dir, "out")

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.rmtree(self.history, ignore_errors=True)
        shutil.copytree(self.history_seed, self.history)

    def config(self, i: int) -> dict:
        return {
            "dataset": "lineitem", "run_id": f"bench-{self.seed}-{i}", "rules": DQ_RULES,
            "monitor": {"path": self.history, "lookback": HISTORY_RUNS, "write": True},
        }

    def unit(self, spark, tracer, i):
        from pyspark_data_quality_spark.plans.config import run_suite
        from pyspark_data_quality_spark.sinks.quarantine import quarantine_route

        run = run_suite(spark, self.lineitem, self.config(i), tables={"orders": self.orders})
        with tracer.span("sinks.metrics"):
            self.regressions = run.regressions.collect()
        quarantine_route(run.result, self.out)
        self.run = run

    def check(self, spark, i):
        rows = [(r.metric_name, r.column, r.value_double) for r in self.run.metrics.collect()]
        problems = []
        if len(self.regressions) != len(rows):
            problems.append(f"{len(self.regressions)} regression rows != {len(rows)} metrics")
        history = duckdb.connect().execute(
            f"SELECT count(*) FROM read_parquet('{self.history}/*/*/*.parquet')"
        ).fetchone()[0]
        return problems + expect.check_dq(self.expected, self.out, rows, history,
                                          HISTORY_RUNS * len(self.expected["metrics"]))


class CorpusCuration(Workload):
    """``curate_corpus`` over a corpus with seeded exact and near
    duplicates, the curated corpus written as parquet, then
    ``curation_stats``; then each ``CORPUS_ENTRIES`` registry entry over
    the same documents, written as parquet."""

    name = "corpus_curation"
    docs = 5_000

    def prepare(self):
        import __spark_entry__ as entry_mod

        table, self.truth = gen.corpus(self.seed, n_docs=self.docs)
        self.in_dir = os.path.join(self.dir, "in")
        self.paths = gen.write_tables({"documents": table}, self.in_dir)
        self.source_rows = self.input_rows = table.num_rows
        oracles = entry_mod.oracle_sql()
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{self.paths['documents']}')")
        self.expected = {n: expect.entry_expectation(con, oracles[n]) for n in CORPUS_ENTRIES}

    def open(self, spark):
        import __spark_entry__ as entry_mod

        queries = entry_mod.queries()
        self.entries = [(n, queries[n]) for n in CORPUS_ENTRIES]
        self.frame = spark.read.parquet(self.paths["documents"])
        self.out = os.path.join(self.dir, "out")

    def reset(self):
        shutil.rmtree(self.out, ignore_errors=True)

    def unit(self, spark, tracer, i):
        from pyspark_data_quality_spark.pipelines.curation import curate_corpus, curation_stats

        with tracer.span("pipelines.curation"):
            curated = curate_corpus(self.frame, languages=None, min_quality=0.0)
            curated.write.parquet(f"{self.out}/curated")
            self.stats = [tuple(r) for r in curation_stats(curated).collect()]
        for name, fn in self.entries:
            with tracer.span(f"entry.{name}"):
                fn(spark, self.in_dir).write.parquet(f"{self.out}/{name}")

    def check(self, spark, i):
        problems = expect.check_corpus(self.paths["documents"], self.truth,
                                       f"{self.out}/curated", self.stats)
        return problems + [f"{n}: {p}" for n in CORPUS_ENTRIES
                           for p in expect.check_entry(self.expected[n], f"{self.out}/{n}")]


WORKLOADS = {w.name: w for w in (DQSuite, CorpusCuration)}


def _seed_history(path: str, rules: list[dict], seed: int) -> None:
    """Write ``HISTORY_RUNS`` prior runs of metric rows (the engine's
    14-field metric schema, partitioned like ``write_metrics``) with
    pyarrow, so setting up the history runs no Spark job."""
    import datetime

    import numpy as np

    shutil.rmtree(path, ignore_errors=True)
    rng = np.random.default_rng([seed, 3])
    day0 = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    schema = pa.schema([
        ("run_id", pa.string()), ("run_ts", pa.timestamp("us", tz="UTC")),
        ("metric_name", pa.string()), ("column", pa.string()), ("dimension", pa.string()),
        ("severity_level", pa.string()), ("threshold_result", pa.float64()),
        ("threshold_range", pa.float64()), ("threshold", pa.float64()),
        ("value_double", pa.float64()), ("value_string", pa.string()),
        ("ingest_datetime", pa.timestamp("us", tz="UTC")),
        ("extra_info", pa.map_(pa.string(), pa.string())),
    ])
    rows = [(m, c) for spec in rules for m, c, _ in expect.rule_sql(spec)[1]]
    n = len(rows)
    for k in range(HISTORY_RUNS):
        ts = day0 + datetime.timedelta(days=k)
        t = pa.table({
            "run_id": [f"history-{k}"] * n, "run_ts": [ts] * n,
            "metric_name": [m for m, _ in rows], "column": [c for _, c in rows],
            "dimension": ["validity"] * n, "severity_level": ["medium"] * n,
            "threshold_result": rng.uniform(0.95, 1.0, n),
            "threshold_range": [None] * n, "threshold": [0.9] * n,
            "value_double": rng.uniform(0.95, 1.0, n),
            "value_string": ["success"] * n, "ingest_datetime": [ts] * n,
            "extra_info": [[]] * n,
        }, schema=schema)
        part = os.path.join(path, "dataset=lineitem", f"run_date={ts.date()}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(t, os.path.join(part, "part-0.parquet"))
