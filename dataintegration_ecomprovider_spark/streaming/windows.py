"""Watermarked windowed aggregation over the event stream (SURVEY §2.10).

Net-new relative to the reference (which aggregates only at import time):
the events table is a stream; late data is bounded by a watermark and
aggregates emit per tumbling window.  The SAME expression tree runs in
batch mode (no watermark needed) — that batch form is the oracle-checked
query surface; the streaming form is exercised in tests.

Scale: windowed aggregation shuffles on (window, group keys) once with
map-side partial aggregation; watermark bounds state size — without it a
100 TB stream accumulates unbounded per-window state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tumbling_agg(
    events: DataFrame,
    ts_col: str,
    window_duration: str,
    group_cols: Sequence[str],
    aggs: Sequence[Column],
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window aggregate; pass `watermark` (e.g. '10 minutes') when
    `events` is streaming.  Output carries window_start/window_end as
    formatted strings so batch results hash identically across engines."""
    df = events
    if watermark is not None:
        df = df.withWatermark(ts_col, watermark)
    out = df.groupBy(F.window(F.col(ts_col), window_duration), *group_cols).agg(*aggs)
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("window.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
        *group_cols,
        *[c for c in out.columns if c not in ("window", *group_cols)],
    )
