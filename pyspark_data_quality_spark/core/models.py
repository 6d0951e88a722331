"""Typed metric-result model and its fixed Spark schema.

The 14-field output schema matches the reference's metric DataFrame
(``result_obj.py:15-30``) field-for-field so a user of the reference can
consume this engine's metrics unchanged:

    dataset, run_id, run_ts, metric_name, column, dimension,
    severity_level, threshold_result, threshold_range, threshold,
    value_double, value_string, ingest_datetime, extra_info

Unlike the reference (pydantic models serialized row-by-row,
``core/models.py:6-20``), this is a plain dataclass: the hot path never
serializes per-row through pydantic, and ``extra_info`` is constrained to
``dict[str, str]`` (the reference stuffed a live ``Column`` object into it,
``completeness_raw_check.py:114`` — a serialization bug we do not replicate).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import TYPE_CHECKING, Iterable

from pyspark.sql.types import (
    DoubleType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

#: Fixed metric output schema (14 fields, reference ``result_obj.py:15-30``).
METRIC_SCHEMA = StructType(
    [
        StructField("dataset", StringType(), True),
        StructField("run_id", StringType(), True),
        StructField("run_ts", TimestampType(), True),
        StructField("metric_name", StringType(), True),
        StructField("column", StringType(), True),
        StructField("dimension", StringType(), True),
        StructField("severity_level", StringType(), True),
        StructField("threshold_result", DoubleType(), True),
        StructField("threshold_range", DoubleType(), True),
        StructField("threshold", DoubleType(), True),
        StructField("value_double", DoubleType(), True),
        StructField("value_string", StringType(), True),
        StructField("ingest_datetime", TimestampType(), True),
        StructField("extra_info", MapType(StringType(), StringType()), True),
    ]
)


def _utcnow() -> datetime:
    # AWARE UTC on purpose: TimestampType.toInternal converts a NAIVE
    # datetime via time.mktime — the driver's OS timezone, NOT the
    # session timezone — so naive-UTC values shift by the driver's
    # offset on any non-UTC machine. An aware value goes through
    # calendar.timegm: the correct instant everywhere.
    return datetime.now(timezone.utc)


@dataclass
class MetricResult:
    """One typed observation row (one rule x column)."""

    dataset: str = ""
    run_id: str = ""
    run_ts: datetime = field(default_factory=_utcnow)
    metric_name: str = ""
    column: str = ""
    dimension: str = ""
    severity_level: str = ""
    threshold_result: float | None = None
    threshold_range: float | None = None
    threshold: float | None = None
    value_double: float | None = None
    value_string: str | None = None
    ingest_datetime: datetime = field(default_factory=_utcnow)
    extra_info: dict[str, str] = field(default_factory=dict)

    def as_row(self) -> tuple:
        """Tuple in METRIC_SCHEMA field order (``extra_info`` a dict)."""
        return (
            self.dataset,
            self.run_id,
            self.run_ts,
            self.metric_name,
            self.column,
            self.dimension,
            self.severity_level,
            _f(self.threshold_result),
            _f(self.threshold_range),
            _f(self.threshold),
            _f(self.value_double),
            self.value_string,
            self.ingest_datetime,
            {str(k): str(v) for k, v in (self.extra_info or {}).items()},
        )


def _f(v) -> float | None:
    return None if v is None else float(v)


def metric_frame(spark: "SparkSession", metrics: Iterable[MetricResult]) -> "DataFrame":
    """``metrics`` as a METRIC_SCHEMA frame that plans as a LocalRelation.

    The rows go to the JVM as one Arrow table and live in the plan
    itself. A list of tuples would go through ``parallelize`` plus a
    Python ``map`` (``RDD._reserialize``): every action on the frame — a
    monitor join, a history write, a collect — would start Python
    workers to re-read a few hundred rows. Aware-UTC timestamps
    (``_utcnow``) become Arrow UTC instants, so the session timezone
    does not shift them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(METRIC_SCHEMA)
    rows = [m.as_row() for m in metrics]
    columns = list(zip(*rows)) if rows else [()] * len(schema)
    arrays = [
        pa.array(
            [list(v.items()) for v in col] if pa.types.is_map(f.type) else col,
            type=f.type,
        )
        for f, col in zip(schema, columns)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=schema), METRIC_SCHEMA)
