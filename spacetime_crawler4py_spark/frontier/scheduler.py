"""Politeness-aware batch scheduler with the LIFO ordering contract.

Reference semantics being reproduced (SURVEY.md §2.6 O8, §2.8 T2):

- Crawl order: the frontier is a LIFO stack — ``to_be_downloaded
  .pop()`` pops the highest-seq entry (crawler/frontier.py:50-54,62;
  evidenced by the crawl log starting at the LAST seed).  Our
  contract: within a scheduled batch, fetch order is ``seq DESC``;
  in strict mode (batch_size=1) this IS the reference's exact
  single-threaded order.
- Politeness: 500 ms per-host delay (config.ini:12,
  crawler/worker.py:34).  A micro-batch spanning ``window_ms`` may
  contain at most ``window_ms // delay_ms`` URLs per host.

Skew handling (north_rule: "salted-hash partitioning by registrable
domain to avoid hot-host skew"): the per-host top-k is a window over
``host`` — the one groupBy key that IS skewed (one host carried 34%
of the reference crawl).  The window input is therefore pre-limited:
rows are first cut to the per-host cap via a two-level rank
(salted sub-key rank, then exact rank over survivors), so the
shuffle for the hot host moves O(cap × n_salts) rows instead of its
full backlog.  Politeness caps make per-batch row counts small; the
salting matters when a 10^10 frontier has 10^7 pending rows on one
host and we must not shuffle them all to one task every batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_DELAY_MS = 500  # config.ini:12


def per_host_cap(window_ms: int, delay_ms: int = DEFAULT_DELAY_MS) -> int:
    return max(1, window_ms // delay_ms)


def next_batch(
    pending: DataFrame,
    window_ms: int = 32_000,
    delay_ms: int = DEFAULT_DELAY_MS,
    max_urls: int | None = None,
    n_salts: int = 16,
    robots: DataFrame | None = None,
    order: str = "lifo",  # "lifo" | "fifo_per_host"
    approx_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Select the next politeness-legal micro-batch.

    Returns ``(batch, intermediate)``: ``batch`` is the pending
    columns + ``fetch_order`` (0-based position in the batch; the
    politeness scheduler's time axis); the caller unpersists
    ``intermediate`` once ``batch`` is materialized (the
    ``with_contiguous_index`` contract).  When a
    ``robots`` table is given, its ``crawl_delay_ms`` overrides the
    default per-host delay (north_rule T6) and the per-host cap
    becomes row-local: ``window_ms // crawl_delay_ms``.

    Ordering modes:
    - ``lifo`` (default): global seq DESC — byte-for-byte the
      reference's stack order at batch_size=1 (crawler/
      frontier.py:50-54; what the golden order test pins).
    - ``fifo_per_host``: priority-queue semantics — within each
      host the OLDEST discovered URL schedules first (seq ASC),
      hosts interleave by their heads' seq.  This is the
      starvation-free ordering a production frontier wants: a hot
      host's deep backlog cannot indefinitely delay early
      discoveries, while politeness caps still bound each host's
      share of the batch.
    """
    from spacetime_crawler4py_spark.frontier.robots import with_host_delay

    if order not in ("lifo", "fifo_per_host"):
        raise ValueError(f"unknown scheduling order {order!r}: use 'lifo' or 'fifo_per_host'")
    pending = with_host_delay(pending, robots, default_delay_ms=delay_ms)
    cap = F.greatest(
        (F.lit(window_ms) / F.col("crawl_delay_ms")).cast("int"), F.lit(1)
    )

    seq_order = F.desc("seq") if order == "lifo" else F.asc("seq")

    # Stage 1 (salted pre-cut): rank within (host, salt) shards —
    # the hot host's backlog is cut to cap rows per shard before the
    # exact per-host window sees it.
    salt = F.pmod(F.xxhash64("url_hash"), F.lit(n_salts))
    pre = (
        pending.withColumn("_shard_rank", F.row_number().over(
            Window.partitionBy("host", salt).orderBy(seq_order)
        ))
        .where(F.col("_shard_rank") <= cap)
        .drop("_shard_rank")
    )

    # Stage 2 (exact per-host cap): ≤ cap × n_salts rows per host now.
    w_host = Window.partitionBy("host").orderBy(seq_order)
    capped = (
        pre.withColumn("_host_rank", F.row_number().over(w_host))
        .where(F.col("_host_rank") <= cap)
        .drop("_host_rank", "crawl_delay_ms")
    )

    # Stage 3 (batch order contract): lifo → global seq DESC;
    # fifo_per_host → priority queue by per-host head age.  The dense
    # 0-based fetch_order is assigned via operators/ids.py — a bare
    # Window.orderBy would funnel the whole batch through one task,
    # millions of rows at 10^5-host scale, so the distributed shape
    # is the default; ``approx_rows`` (an upper bound the crawl loop
    # derives from its discovered/completed counters) lets small
    # frontiers skip the range-sampling fixed costs.
    from spacetime_crawler4py_spark.operators.ids import with_contiguous_index

    batch, _interm = with_contiguous_index(
        capped, [seq_order], "fetch_order", 0, approx_rows=approx_rows
    )
    if max_urls is not None:
        batch = batch.where(F.col("fetch_order") < max_urls)
    return batch, _interm
