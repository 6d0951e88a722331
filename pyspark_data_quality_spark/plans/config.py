"""Config-driven rule construction: a DQ suite as data, not code.

The reference's pydantic-settings `Config` shell (`core/config.py:5-6`,
README.md:170-178) pointed at env-driven configuration but defined no
keys; this module completes the idea in the direction production DQ
actually needs — rule suites declared in JSON/YAML-shaped dicts
(checked into a repo, reviewed like code, deployed without code
changes) and compiled to the same declarative :class:`..operators.Rule`
objects the fluent API builds. Only plan-construction happens here: the
resulting rules still fuse into ONE aggregation job via DQManager.

Spec format — one dict per rule::

    {"type": "range", "column": "o_totalprice", "min_value": 0,
     "threshold": 0.99, "severity_level": "high",
     "condition": "o_orderstatus = 'F'"}

``type`` selects the rule class (see ``RULE_TYPES``); ``severity_level``
is the enum's string value; ``condition`` is a SQL string (the only
condition form that is data, not code). ``fk`` rules name their
reference table (``ref_table``) and resolve it through the ``tables``
mapping argument — the one rule kind that needs a DataFrame.
"""

from __future__ import annotations

from typing import Any, Callable, Mapping

from pyspark.sql import DataFrame

from ..core.enums import SeverityLevel
from ..core.errors import RuleConfigurationError
from ..operators import (
    CompletenessColRatioRule,
    CompletenessRawRatioRule,
    FreshnessRule,
    PredicateRule,
    RangeRule,
    RegexMatchRule,
    ReferentialIntegrityRule,
    SetMembershipRule,
    UniqueRule,
)
from ..operators.base import Rule

#: spec ``type`` -> rule class (kwargs pass through to the constructor)
RULE_TYPES: dict[str, Callable[..., Rule]] = {
    "completeness": CompletenessColRatioRule,
    "row_completeness": CompletenessRawRatioRule,
    "unique": UniqueRule,
    "regex": RegexMatchRule,
    "range": RangeRule,
    "in_set": SetMembershipRule,
    "predicate": PredicateRule,
    "freshness": FreshnessRule,
    "fk": ReferentialIntegrityRule,
}


def rule_from_spec(
    spec: Mapping[str, Any],
    *,
    tables: Mapping[str, DataFrame] | None = None,
) -> Rule:
    """Build one rule from one spec dict. Unknown ``type`` or unknown
    constructor keys raise :class:`RuleConfigurationError` with the
    offending spec — a config typo must fail the suite load, not
    silently drop a check."""
    kw = dict(spec)
    rtype = kw.pop("type", None)
    if rtype not in RULE_TYPES:
        raise RuleConfigurationError(
            f"unknown rule type {rtype!r}; known: {sorted(RULE_TYPES)}"
        )
    if "severity_level" in kw and not isinstance(
        kw["severity_level"], SeverityLevel
    ):
        try:
            kw["severity_level"] = SeverityLevel(kw["severity_level"])
        except ValueError as e:
            raise RuleConfigurationError(
                f"bad severity_level {kw['severity_level']!r}: "
                f"{[s.value for s in SeverityLevel]}"
            ) from e
    if rtype == "fk":
        ref_name = kw.pop("ref_table", None)
        if not ref_name or not tables or ref_name not in tables:
            raise RuleConfigurationError(
                f"fk rule needs ref_table resolvable via `tables`; got "
                f"{ref_name!r}, known {sorted(tables or {})}"
            )
        kw["ref_df"] = tables[ref_name]
    try:
        return RULE_TYPES[rtype](**kw)
    except TypeError as e:
        raise RuleConfigurationError(
            f"bad parameters for rule type {rtype!r}: {e} (spec={spec})"
        ) from e


def rules_from_config(
    specs: list[Mapping[str, Any]],
    *,
    tables: Mapping[str, DataFrame] | None = None,
) -> list[Rule]:
    """Compile a whole suite (e.g. ``json.load`` of a reviewed config
    file) to rule objects, in order."""
    return [rule_from_spec(s, tables=tables) for s in specs]


class SuiteRun:
    """Return bundle of :func:`run_suite` — the check result, its metric
    rows, and (when a monitor block ran) the run-over-run regression
    report."""

    __slots__ = ("result", "metrics", "regressions")

    def __init__(self, result, metrics, regressions):
        self.result = result
        self.metrics = metrics
        self.regressions = regressions


def run_suite(
    spark,
    df: DataFrame,
    config: Mapping[str, Any],
    *,
    tables: Mapping[str, DataFrame] | None = None,
) -> SuiteRun:
    """The whole DQ loop as one reviewed config: compile ``rules``,
    run them as ONE fused aggregation pass (DQManager), and — when the
    config carries a ``monitor`` block — judge this run's metrics
    against the persisted history and append them to it. A complete
    Deequ-style anomaly-constraint pipeline with zero code changes::

        {"dataset": "orders",
         "rules": [{"type": "completeness", "columns": ["o_custkey"]},
                   {"type": "range", "column": "o_totalprice",
                    "min_value": 0}],
         "monitor": {"path": "s3://dq/metrics/orders",
                     "lookback": 30, "threshold": 3.0,
                     "direction": "down", "write": true}}

    ``monitor`` keys: ``path`` (required — the metrics-sink location),
    ``lookback``/``threshold``/``min_periods``/``direction`` (passed to
    :func:`..sinks.metrics.monitor_metrics`), ``write`` (default True:
    append this run's metrics — the run_id anti-join makes the
    judge/write order immaterial for the VERDICT; pass ``write: false``
    to gate the append on your own alerting logic, e.g. quarantine a
    regressed run's metrics instead of recording them).

    Returns a :class:`SuiteRun` with the lazy check ``result``, the
    ``metrics`` frame (already materialized driver-side by the fused
    pass), and ``regressions`` (the monitor report, or None without a
    monitor block). The whole config — rules AND monitor block — is
    validated BEFORE the fused pass runs: a typo must fail the suite
    load, never waste the full data scan (same contract as
    :func:`rule_from_spec`), and an unknown monitor key is a typo that
    would otherwise silently weaken the alerting gate (``thresold``
    running at the default 3.0). A retried orchestrator task whose
    ``run_id`` already reached the history SKIPS the append (with a
    warning): re-appending would double-weight the run in every future
    baseline window, shrinking baseline_stddev for the next
    ``lookback`` runs."""
    specs = config.get("rules", [])
    if not specs:
        raise RuleConfigurationError("run_suite: config has no rules")
    rules = rules_from_config(specs, tables=tables)

    mon = config.get("monitor")
    if mon is not None:
        if "path" not in mon:
            raise RuleConfigurationError(
                "run_suite: monitor block requires 'path'"
            )
        unknown = set(mon) - {
            "path", "lookback", "threshold", "min_periods",
            "direction", "write",
        }
        if unknown:
            raise RuleConfigurationError(
                f"run_suite: unknown monitor key(s) {sorted(unknown)} — "
                "a typo here would silently weaken the alerting gate"
            )
        if mon.get("direction", "down") not in ("both", "down", "up"):
            raise RuleConfigurationError(
                "run_suite: monitor direction must be both/down/up, got "
                f"{mon['direction']!r}"
            )

    from ..manager import DQManager

    mgr = DQManager(
        spark,
        dataset=str(config.get("dataset") or ""),
        run_id=config.get("run_id"),
    ).set_data(df)
    for r in rules:
        mgr.add_rule(r)
    result = mgr.run()
    metrics = result.get_metric_results()

    regressions = None
    if mon is not None:
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        from ..sinks.metrics import (
            monitor_metrics,
            read_metrics,
            write_metrics,
        )

        # ONE dataset resolution for write AND monitor: DQManager may
        # have fallen back to the env-driven Config default, and a
        # mismatch here would write under dataset=X while the history
        # read scans the whole path unpruned
        ds = mgr.dataset or None
        kw = {
            k: mon[k]
            for k in ("lookback", "threshold", "min_periods", "direction")
            if k in mon
        }
        with result.tag_jobs("history"):
            regressions = monitor_metrics(spark, mon["path"], metrics,
                                          dataset=ds, **kw)
            if mon.get("write", True):
                already = False
                try:
                    already = (
                        read_metrics(spark, mon["path"], dataset=ds)
                        .filter(F.col("run_id") == mgr.run_id)
                        .limit(1)
                        .count()
                        > 0
                    )
                except AnalysisException as e:
                    if "PATH_NOT_FOUND" not in str(e):
                        raise
                if already:
                    import warnings

                    warnings.warn(
                        f"run_suite: run_id {mgr.run_id!r} already in the "
                        "metrics history — skipping the append (a retried "
                        "task must not double-weight its run in future "
                        "baselines)",
                        stacklevel=2,
                    )
                else:
                    write_metrics(metrics, mon["path"])
    return SuiteRun(result, metrics, regressions)
