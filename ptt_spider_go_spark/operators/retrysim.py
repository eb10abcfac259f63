"""HTTP-429 retry ledger (T2) over simulated fetch statuses.

Reference: crawler/retry.go:20-52 — only status 429 is retried, at most
3 attempts total (constants.go:32); other statuses and network errors
pass through / fail immediately. The backoff arithmetic
(crawler/retry.go:57-93) is reproduced as column expressions
(functions.columns.retry_backoff_ms / retry_after_delay_ms) for parity
accounting — the engine never sleeps; a 429'd URL is re-enqueued into
the next superstep with attempt+1, and the cumulative backoff is
recorded in the fetch log.

`fetch_events(url, attempt, status, ...)` is a datagen sidecar: the
status the server would return on the given attempt. A URL missing from
fetch_events gets status 200 (the common case) — modeled with a left
join + coalesce so the events table stays sparse. Two Retry-After
shapes are accepted:

- `retry_after` (string): the raw header — integer seconds OR an
  RFC1123 HTTP-date, decoded with the full reference semantics
  (date - now, expired -> initial-delay floor, 30 s cap) against the
  deterministic `now` timestamp;
- `retry_after_s` (int, legacy): pre-parsed positive seconds only.

When both columns exist the raw header wins (it is the superset).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ptt_spider_go_spark.config import RETRY_MAX_ATTEMPTS
from ptt_spider_go_spark.functions.columns import (
    retry_after_delay_ms,
    retry_backoff_ms,
)

#: Deterministic simulation clock for HTTP-date Retry-After decoding —
#: the sim never reads the wall clock (replayable, oracle-checkable).
RETRY_SIM_NOW = "2026-01-01 00:00:00"


def apply_fetch_status(frontier: DataFrame, fetch_events: DataFrame | None,
                       now: Column | None = None,
                       fetched: Column | None = None) -> DataFrame:
    """Resolve this superstep's fetch outcomes.

    frontier must carry an `attempt` column (1-based). Returns it
    tagged with `outcome` and the final HTTP `status`:
      ok        — status 200, proceeds to parse
      retry_429 — status 429 and attempt < RETRY_MAX_ATTEMPTS; the only
                  rows whose attempt (+1) and backoff_ms (accumulated)
                  advance, for re-enqueueing
      failed    — 429 with attempts exhausted (retry.go:39-41), or any
                  other non-200 status (never retried, retry.go:28-30)
    Rows where `fetched` is false (default: every row is fetched) are
    not fetched this superstep: their outcome and status are NULL.
    """
    resolved, status, delay, tmp_cols = frontier, F.lit(200), F.lit(0), []
    if fetch_events is not None:
        # Renamed join keys: retry rows feed back into this function
        # next superstep, so same-name dataframe["col"] references would
        # be ambiguous across rounds.
        ev = fetch_events.select(
            F.col("url").alias("_url"),
            F.col("attempt").alias("_att"),
            F.col("status").alias("_status"),
            *[F.col(c).alias(a)
              for c, a in (("retry_after", "_rah"), ("retry_after_s", "_ra"))
              if c in fetch_events.columns],
        )
        tmp_cols = ev.columns
        resolved = frontier.join(
            ev,
            on=[F.col("url") == F.col("_url"),
                F.col("attempt") == F.col("_att")],
            how="left",
        )
        status = F.coalesce(F.col("_status"), F.lit(200))
        if "_rah" in tmp_cols:
            delay = retry_after_delay_ms(
                F.col("_rah"), F.col("attempt"),
                now if now is not None
                else F.lit(RETRY_SIM_NOW).cast("timestamp"),
            )
        elif "_ra" in tmp_cols:
            delay = retry_backoff_ms(F.col("attempt"), F.col("_ra"))
        else:
            delay = retry_backoff_ms(F.col("attempt"))

    if fetched is not None:
        status = F.when(fetched, status)
    resolved = resolved.withColumn("status", status)
    retry = (F.col("status") == 429) & (F.col("attempt") < RETRY_MAX_ATTEMPTS)
    return resolved.withColumns({
        "outcome": F.when(F.col("status") == 200, F.lit("ok"))
        .when(retry, F.lit("retry_429"))
        .when(F.col("status").isNotNull(), F.lit("failed")),
        "backoff_ms": F.when(retry, F.col("backoff_ms") + delay)
        .otherwise(F.col("backoff_ms")),
        "attempt": F.when(retry, F.col("attempt") + 1)
        .otherwise(F.col("attempt")),
    }).drop(*tmp_cols)
