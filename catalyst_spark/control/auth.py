"""Ban registry (C2/C3), txn ids (C6).

Reference behavior:
- ban registry (ref services/token/auth.go:27-40): a set; banned
  requests are refused 401 after a tarpit sleep (middlewares/auth.go:
  30-53). The engine has no request front, so there is no tarpit:
  the ban set applies as a broadcast anti-join over the token column.
- auto-ban (C3, ref core/handler.go:213-250): token-typed backend
  errors add the token to the set.
- txn id (C6, ref middlewares/logger.go:56-62): sha256(XFF + start-ns).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class BanRegistry:
    """The banned-token set (C2) with auto-ban hooks (C3).

    Driver-side state, applied to data via a broadcast anti-join —
    the set stays tiny (tokens, not data), so shipping it to every
    executor is free at any scale. Persist/restore via a parquet/Delta
    path for cross-job continuity."""

    def __init__(self, banned: set[str] | None = None) -> None:
        self._banned: set[str] = set(banned or ())

    def bannish(self, token: str) -> None:
        self._banned.add(token)

    def is_banned(self, token: str) -> bool:
        return token in self._banned

    @property
    def tokens(self) -> frozenset[str]:
        return frozenset(self._banned)

    def save(self, spark, path: str) -> None:
        spark.createDataFrame(
            [(t,) for t in sorted(self._banned)], "token string"
        ).write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, spark, path: str) -> "BanRegistry":
        rows = spark.read.parquet(path).collect()
        return cls({r["token"] for r in rows})


def filter_banned(
    df: DataFrame, registry: BanRegistry, token_col: str = "token"
) -> DataFrame:
    """Drop rows whose token is banned (broadcast anti-join; falls back
    to a literal isin for tiny sets, which Catalyst constant-folds)."""
    if not registry.tokens:
        return df
    banned_df = df.sparkSession.createDataFrame(
        [(t,) for t in sorted(registry.tokens)], f"{token_col} string"
    )
    return df.join(F.broadcast(banned_df), on=token_col, how="left_anti")


def txn_id(xff: str, start_ns: int) -> str:
    """sha256(X-Forwarded-For + start-nanos) — ref middlewares/logger.go:56-62."""
    return hashlib.sha256(f"{xff}{start_ns}".encode()).hexdigest()

