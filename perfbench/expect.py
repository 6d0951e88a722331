"""Expected outputs, computed with DuckDB from the generated inputs, and the
checks that compare each unit's outputs with them.

Nothing here uses Spark: the expectations are an independent second
implementation of every rule, written in SQL.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb

#: Near-duplicate recall floor for the curation workload.
NEAR_DUP_RECALL_FLOOR = 0.9
#: HLL estimates must stay within this many relative standard deviations
#: (3 rsd: a correct sketch leaves the band about once in 370 runs).
HLL_RSD_BAND = 3.0

#: Lineitem columns, hashed with timestamps as epoch micros so the Spark
#: and pyarrow encodings of the same instant hash alike.
_ROW_HASH = (
    "sum(hash(l_orderkey, l_partkey, l_suppkey, l_linenumber::BIGINT, "
    "l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, "
    "l_linestatus, epoch_us(l_shipdate))::HUGEINT)"
)


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def rule_sql(spec: dict) -> tuple[str, list[tuple[str, str, str]]]:
    """``(violation, metrics)`` for one rule spec: the row-violation
    predicate and one ``(metric_name, column, value_sql)`` per metric row
    the rule emits, in the engine's documented semantics (a NULL predicate
    fails; a NULL scope is out of scope)."""
    t = spec["type"]
    scope = spec.get("condition") or "TRUE"

    def ratio(pred: str) -> str:
        return f"avg(CASE WHEN {scope} THEN coalesce({pred}, FALSE)::DOUBLE END)"

    def violation(pred: str) -> str:
        return f"coalesce(({scope}) AND NOT coalesce({pred}, FALSE), FALSE)"

    if t == "completeness":
        cols = spec["columns"]
        pred = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        return violation(pred), [
            ("completeness_col_ratio", c, ratio(f"{c} IS NOT NULL")) for c in cols
        ]
    if t == "row_completeness":
        pred = " AND ".join(f"{c} IS NOT NULL" for c in spec["columns"])
        return violation(pred), [
            ("completeness_raw_ratio", "", ratio(pred))
        ]
    if t == "range":
        c = spec["column"]
        conds = []
        if spec.get("min_value") is not None:
            conds.append(f"{c} >= {spec['min_value']}")
        if spec.get("max_value") is not None:
            conds.append(f"{c} <= {spec['max_value']}")
        pred = "(" + " AND ".join(conds) + ")"
        return violation(pred), [("validity_range", c, ratio(pred))]
    if t == "in_set":
        c = spec["column"]
        pred = f"({c} IN ({', '.join(_q(str(v)) for v in spec['allowed'])}))"
        return violation(pred), [("validity_set", c, ratio(pred))]
    if t == "regex":
        c = spec["column"]
        pred = f"regexp_full_match({c}, {_q(spec['pattern'])})"
        return violation(pred), [("validity_regex", c, ratio(pred))]
    if t == "predicate":
        pred = f"({spec['predicate']})"
        return violation(pred), [
            ("predicate_ratio", ",".join(spec.get("columns", [])), ratio(pred))
        ]
    if t == "fk":
        (c,), (rc,) = spec["columns"], spec["ref_columns"]
        pred = f"({c} IN (SELECT {rc} FROM {spec['ref_table']}))"
        return violation(pred), [("referential_integrity", c, ratio(pred))]
    if t == "unique":
        keys = ", ".join(spec["columns"])
        keyed = f"count(*) FILTER (WHERE {scope}) OVER (PARTITION BY {keys}) > 1"
        distinct = f"count(DISTINCT ({keys})) FILTER (WHERE {scope})"
        total = f"count(*) FILTER (WHERE {scope})"
        return f"coalesce(({scope}) AND {keyed}, FALSE)", [
            ("unique_ratio", ",".join(spec["columns"]),
             f"least({distinct}::DOUBLE / {total}, 1.0)")
        ]
    raise ValueError(f"no SQL for rule type {t!r}")


def dq_expectation(lineitem: str, orders: str, rules: list[dict]) -> dict:
    """Expected valid/invalid counts, per-rule fail counts, metric values and
    the input's row hash for one lineitem parquet and rule list."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet({_q(lineitem)})")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet({_q(orders)})")
    viol, metrics = [], []
    for spec in rules:
        v, m = rule_sql(spec)
        viol.append(f'{v} AS "{spec["name"]}"')
        metrics.extend((spec, *x) for x in m)
    con.execute(f"CREATE TABLE flags AS SELECT {', '.join(viol)} FROM lineitem")
    names = [r["name"] for r in rules]
    fails = con.execute(
        "SELECT " + ", ".join(f'count(*) FILTER (WHERE "{n}")' for n in names)
        + " FROM flags"
    ).fetchone()
    invalid = con.execute(
        "SELECT count(*) FROM flags WHERE " + " OR ".join(f'"{n}"' for n in names)
    ).fetchone()[0]
    total, row_hash = con.execute(f"SELECT count(*), {_ROW_HASH} FROM lineitem").fetchone()
    values = con.execute(
        "SELECT " + ", ".join(sql for *_, sql in metrics) + " FROM lineitem"
    ).fetchone()
    return {
        "rows": total,
        "row_hash": int(row_hash),
        "valid": total - invalid,
        "invalid": invalid,
        "rule_fails": dict(zip(names, fails)),
        "metrics": [
            {"rule": spec["name"], "metric_name": mn, "column": col,
             "value": None if v is None else float(v),
             "approx_rsd": spec.get("rsd", 0.01) if spec["type"] == "unique"
             and not spec.get("exact") else None}
            for (spec, mn, col, _), v in zip(metrics, values)
        ],
    }


def check_dq(exp: dict, out_dir: str, metric_rows: list[tuple], history_rows: int,
             seeded_history: int) -> list[str]:
    """Problems with one dq unit's outputs (empty = correct)."""
    con = duckdb.connect()
    problems = []
    valid = f"read_parquet({_q(out_dir + '/valid/*.parquet')})"
    invalid = f"read_parquet({_q(out_dir + '/invalid/*.parquet')})"
    n_valid, h_valid = con.execute(f"SELECT count(*), {_ROW_HASH} FROM {valid}").fetchone()
    n_invalid, h_invalid = con.execute(
        f"SELECT count(*), {_ROW_HASH} FROM {invalid}").fetchone()
    if (n_valid, n_invalid) != (exp["valid"], exp["invalid"]):
        problems.append(f"valid/invalid {n_valid}/{n_invalid} != "
                        f"{exp['valid']}/{exp['invalid']}")
    if int(h_valid or 0) + int(h_invalid or 0) != exp["row_hash"]:
        problems.append("valid + invalid rows are not exactly the input rows")
    got = dict(con.execute(
        f"SELECT r, count(*) FROM (SELECT unnest(failed_rules) r FROM {invalid}) GROUP BY r"
    ).fetchall())
    for name, want in exp["rule_fails"].items():
        if got.get(name, 0) != want:
            problems.append(f"rule {name}: {got.get(name, 0)} failing rows != {want}")
    if len(metric_rows) != len(exp["metrics"]):
        problems.append(f"{len(metric_rows)} metric rows != {len(exp['metrics'])}")
    for (mn, col, val), m in zip(metric_rows, exp["metrics"]):
        if (mn, col) != (m["metric_name"], m["column"]):
            problems.append(f"metric {(mn, col)} != {(m['metric_name'], m['column'])}")
        elif m["approx_rsd"] is not None:
            if val is None or abs(val - m["value"]) > HLL_RSD_BAND * m["approx_rsd"] * m["value"]:
                problems.append(f"{m['rule']}: HLL {val} outside "
                                f"{HLL_RSD_BAND} rsd of {m['value']}")
        elif (None if val is None else round(val, 6)) != (
                None if m["value"] is None else round(m["value"], 6)):
            problems.append(f"{m['rule']} {col}: {val} != {m['value']}")
    if history_rows != seeded_history + len(exp["metrics"]):
        problems.append(f"metrics history has {history_rows} rows, expected "
                        f"{seeded_history} + {len(exp['metrics'])}")
    return problems


def check_corpus(docs_path: str, truth: dict, curated_dir: str, stats: list[tuple]) -> list[str]:
    con = duckdb.connect()
    problems = []
    n_docs = con.execute(f"SELECT count(*) FROM read_parquet({_q(docs_path)})").fetchone()[0]
    if sum(n for *_, n in stats) != n_docs:
        problems.append(f"curation_stats counts sum to {sum(n for *_, n in stats)}, "
                        f"input has {n_docs} documents")
    status = dict(con.execute(
        f"SELECT doc_id, curation_status FROM read_parquet({_q(curated_dir + '/*.parquet')})"
    ).fetchall())
    if len(status) != n_docs:
        problems.append(f"curated output has {len(status)} documents, input {n_docs}")
    missed = [c for _, c in truth["exact"] if status.get(c) != "exact_dup"]
    if missed:
        problems.append(f"{len(missed)} injected exact duplicates not caught, e.g. {missed[:3]}")
    near = truth["near"]
    hit = sum(status.get(e) == "near_dup" for _, e, _ in near)
    recall = hit / len(near) if near else 1.0
    if recall < NEAR_DUP_RECALL_FLOOR:
        problems.append(f"near-dup recall {recall:.3f} < {NEAR_DUP_RECALL_FLOOR}")
    return problems


def normalize(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    return v


def _sorted_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    idx = [cols.index(c) for c in sorted(cols)]
    return sorted(
        (tuple(normalize(r[i]) for i in idx) for r in rows),
        key=lambda row: tuple((v is not None, str(type(v)), v) for v in row),
    )


def entry_expectation(con, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return {"columns": sorted(cols), "rows": _sorted_rows(cols, cur.fetchall())}


def check_entry(exp: dict, out_dir: str) -> list[str]:
    cur = duckdb.connect().execute(f"SELECT * FROM read_parquet({_q(out_dir + '/*.parquet')})")
    cols = [d[0] for d in cur.description]
    rows = _sorted_rows(cols, cur.fetchall())
    if sorted(cols) != exp["columns"]:
        return [f"columns {sorted(cols)} != {exp['columns']}"]
    if len(rows) != len(exp["rows"]):
        return [f"{len(rows)} rows != {len(exp['rows'])}"]
    diff = next(((a, b) for a, b in zip(rows, exp["rows"]) if a != b), None)
    return [f"first differing row {diff[0]} != {diff[1]}"] if diff else []
