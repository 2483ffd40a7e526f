"""Order-independent digest of a DataFrame: its row count and the exact sum
of ``xxhash64`` over every output column of each row.

It forces the whole plan in one aggregation, so a timed pass pays for all of
its output (unlike ``count()``, which lets Spark prune columns, or a noop
write). The sum is taken as ``decimal(38,0)`` so it cannot overflow, and
addition makes it independent of row and partition order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# engine bookkeeping columns that are not part of the output contract
SKIP = ("part_id",)


def digest_columns(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in SKIP]


def digest(df: DataFrame) -> tuple[int, int]:
    h = F.xxhash64(*[F.col(c) for c in digest_columns(df)])
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)
