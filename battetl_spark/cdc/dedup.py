"""LSN-ordered last-writer-wins dedup (one winner row per key).

Reference semantics being reproduced (SURVEY.md §2.3):
- watermark drop of already-applied data  — Loader.py:144-234 (U1)
- newest-load-wins overwrite of overlaps  — Loader.py:236-332 (U2)
Here both collapse to: keep the max-lsn event per (conv_id, turn_idx).

``groupBy(key).agg(max_by(struct(*), lsn))`` is a hash aggregation with
**map-side partial combine** — each task reduces its own slice of a hot key
before the shuffle, so a conversation receiving most updates costs one
partial row per task, not one shuffled row per event. A pure Catalyst plan
(no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from battetl_spark.schemas import KEY_COLS


def lww_winners(
    events: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Reduce a change-event batch to one winner per key (max lsn).

    Output schema == input schema, one row per distinct key.
    """
    key_cols = key_cols or KEY_COLS
    payload = [c for c in events.columns if c not in key_cols]
    won = events.groupBy(*key_cols).agg(
        F.max_by(F.struct(*payload), F.col("lsn")).alias("__w")
    )
    return won.select(*key_cols, *[F.col(f"__w.{c}").alias(c) for c in payload])
