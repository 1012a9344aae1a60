"""Regular time grids (T4 in SURVEY.md §2.3).

Reference parity: /root/reference/src/timevectors.rs:167-243.
The length formula is replicated bit-for-bit in f64 arithmetic:
``len = max(1, floor((end - start + inc) / inc))`` — Python floats ARE f64,
so ``math.floor`` over the same expression matches Rust exactly
(pinned by src/timevectors.rs:401-418: [1,1.9,1]→1 point, [1,2,1]→2 points).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from prometheus_parquet_server_spark.sqltext import sql_double, sql_ident


@dataclass(frozen=True)
class RegularTimeRange:
    """Arithmetic grid ``t_n = start + n * increment`` for n in [0, len).

    ``time_offset`` mirrors the reference's shift-to-midnight
    ``query_time_offset`` (src/timevectors.rs:184-188): it is subtracted from
    start/end at construction, and the serialization layer adds it back.
    """

    start: float
    end: float
    increment: float
    time_offset: float = 0.0
    _len: int = field(init=False, default=0)

    def __post_init__(self) -> None:
        start = float(self.start) - float(self.time_offset)
        end = float(self.end) - float(self.time_offset)
        inc = float(self.increment)
        if inc <= 0.0:
            raise ValueError(f"increment must be > 0, got {inc}")
        if end < start:
            raise ValueError(f"end {end} < start {start}")
        object.__setattr__(self, "start", start)
        object.__setattr__(self, "end", end)
        object.__setattr__(self, "increment", inc)
        # src/timevectors.rs:181-182
        object.__setattr__(
            self, "_len", max(1, int(math.floor((end - start + inc) / inc)))
        )

    def __len__(self) -> int:
        return self._len

    def is_prefix_of(self, other: "RegularTimeRange") -> bool:
        """Same start and step, no more instants: this grid's instants are
        ``other``'s first ones as the identical floats (both enumerate
        ``start + n*inc``). A grid with another start is never a prefix —
        ``start' + m*inc`` need not equal ``start + (k+m)*inc`` in f64."""
        return (
            self.start == other.start
            and self.increment == other.increment
            and self._len <= other._len
        )

    def instants(self) -> list[float]:
        """Materialized grid (src/timevectors.rs:233-243): start + n*inc."""
        return [self.start + n * self.increment for n in range(self._len)]

    def to_df(self, spark: SparkSession, col_name: str = "gts") -> DataFrame:
        """Distributed grid: ``spark.range(len)`` keeps generation on
        executors; the f64 expression matches :meth:`instants` bit-for-bit
        (same IEEE mul-then-add)."""
        return spark.range(self._len).selectExpr(
            f"{sql_double(self.start)} + CAST(id AS DOUBLE) * "
            f"{sql_double(self.increment)} AS {sql_ident(col_name)}"
        )
