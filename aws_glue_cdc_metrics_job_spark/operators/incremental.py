"""High-watermark incremental ingest (SURVEY.md C1).

The reference implements this twice with different advance rules:
- bronze: predicate pushed into the source, watermark advanced to wall-clock
  now() after write (scripts/cdc_metrics_job.py:57-67,90) -- can lose rows
  committed between the source query and the clock read;
- silver: filter strictly above the stored mark, advance to
  max(processed event date) (:130-132,146-147) -- the correct rule.

The engine implements the silver rule: advance only to what was actually
processed. The filter uses ``>=`` or ``>`` per the reference's two sites
(bronze >= :64, silver > :132); duplicates that re-enter under ``>=`` are
dropped by the deterministic keyed dedup downstream (SURVEY.md C4).

The maximum processed value is not computed here: the caller observes it
on the write it already runs (``DataFrame.observe``), so advancing a
watermark costs no Spark job.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..state import WatermarkStore


def incremental_read(
    df: DataFrame,
    ts_col: str,
    store: WatermarkStore,
    table: str,
    inclusive: bool = False,
) -> DataFrame:
    """Rows newer than the stored watermark. Parquet row-group stats /
    partition pruning make this filter a near-free scan-skip when the data
    is laid out by the same column (SURVEY.md S5/S7)."""
    wm = store.get(table)
    c = F.col(ts_col)
    return df.filter(c >= wm) if inclusive else df.filter(c > wm)


def advance_watermark(store: WatermarkStore, table: str, value) -> str | None:
    """Advance to ``value``, the max(ts) actually processed -- call only
    after the downstream write succeeds (at-least-once,
    scripts/cdc_metrics_job.py:146-147). Returns the new watermark, or None
    when ``value`` is None (nothing was processed)."""
    if value is None:
        return None
    if isinstance(value, dt.datetime):
        val = value.strftime("%Y-%m-%d %H:%M:%S")
    elif isinstance(value, dt.date):
        val = value.strftime("%Y-%m-%d")
    else:
        val = str(value)
    return store.advance(table, val)
