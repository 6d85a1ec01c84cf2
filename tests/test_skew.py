"""Pathological hot-key skew: one (conv_id, turn_idx) receives 80% of all
events (FIXTURES.md F2 skew requirement). The merge's map-side partial
``max_by`` must still produce the oracle state."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from battetl_spark import fixtures as FX
from battetl_spark.cdc import merge_apply
from battetl_spark.lake import LakeTable
from battetl_spark.schemas import KEY_COLS, TRANSCRIPT_TABLE_SCHEMA
from tests.conftest import assert_pdf_equal

pytestmark = pytest.mark.merge

ALL = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "_last_lsn"]


def hot_key_events(n=4000, seed=13):
    rng = np.random.default_rng(seed)
    hot = rng.random(n) < 0.8
    conv = np.where(hot, "conv-000000", [f"conv-{i:06d}" for i in rng.integers(0, 50, n)])
    turn = np.where(hot, 0, rng.integers(0, 8, n)).astype(np.int32)
    lsn = np.arange(1, n + 1, dtype=np.int64)
    op = np.where(rng.random(n) < 0.9, "u", "d")
    pdf = pd.DataFrame(
        {
            "lsn": lsn, "op": op, "conv_id": conv, "turn_idx": turn,
            "role": "user",
            "text": [f"{c}/{t}/L{m}" for c, t, m in zip(conv, turn, lsn)],
            "tool": None,
            "ts": pd.Timestamp("2026-01-01") + pd.to_timedelta(lsn, unit="s"),
            "source_partition": (lsn % 4).astype(np.int32),
        }
    )
    # shuffle arrival order fully (worst-case disorder for the hot key)
    return pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)


def test_hot_key_matches_oracle(spark, tmp_path):
    events = hot_key_events()
    expected = FX.pandas_oracle_replay(None, events)
    t = LakeTable.create(
        spark, str(tmp_path / "hot"), TRANSCRIPT_TABLE_SCHEMA,
        num_buckets=8, key_cols=KEY_COLS, sort_cols=KEY_COLS,
    )
    for i, ch in enumerate(np.array_split(events, 3)):
        merge_apply(
            t, FX.change_events_df(spark, ch.reset_index(drop=True)),
            epoch_id=i,
        )
    got = t.scan().orderBy(*KEY_COLS).toPandas()[ALL].reset_index(drop=True)
    assert_pdf_equal(got, expected, KEY_COLS)
    # the hot key's final image is the global max-lsn update for it
    hot = expected[(expected.conv_id == "conv-000000") & (expected.turn_idx == 0)]
    if len(hot):
        got_hot = got[(got.conv_id == "conv-000000") & (got.turn_idx == 0)]
        assert got_hot._last_lsn.iloc[0] == hot._last_lsn.iloc[0]
