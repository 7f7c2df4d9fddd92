"""transformWithStateInPandas variant of the streaming CEP matcher
(Spark 4's arbitrary-stateful-processing API — the successor to
applyInPandasWithState, with typed state handles, explicit timers and
RocksDB-friendly layouts).

The TWS state-server protocol requires ``google.protobuf`` at runtime
(pyspark's StateMessage_pb2) and a state store provider with
column-family support (RocksDB).  Where protobuf is not installed,
health_monitor_cc_flink_spark.protobuf_shim bootstraps the Google Cloud
SDK's vendored runtime; tests/test_streaming_cep_tws.py sets the RocksDB
provider and runs this path for real.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)


# ---------------------------------------------------------------------------
# CEP pattern matcher on the TWS API — the state-complexest operator's
# forward-path twin (VERDICT r6 task 2b).  Match/carry semantics, state
# layout and the timer policy all come from the single-source kernel in
# streaming/stateful.py (`cep_finalize` / `_CEP_STATE_SCHEMA`), so the
# two APIs cannot drift; what this class adds is the TWS mechanics:
# typed ValueState, explicit event-time timers (registerTimer /
# handleExpiredTimer instead of setTimeoutTimestamp), and dead-state
# removal via ValueState.clear().
# ---------------------------------------------------------------------------


class CepClickPurchaseProcessor(StatefulProcessor):
    """click FOLLOWED BY purchase within the pattern window with no
    error between, watermark-finalized — see
    ``stateful.streaming_cep_click_purchase`` for the semantics
    contract; this is the transformWithStateInPandas twin."""

    def __init__(
        self,
        pattern_window_us: int = 1_800_000_000,
        ts_col: str = "ts",
        key_col: str = "user_id",
    ):
        self.pattern_window_us = pattern_window_us
        self.ts_col = ts_col
        self.key_col = key_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        from .stateful import _CEP_STATE_SCHEMA

        self.handle = handle
        self.state = handle.getValueState("cep", _CEP_STATE_SCHEMA)

    def _step(self, key, new_rows: list, wm_ms: int) -> Iterator[pd.DataFrame]:
        from .stateful import cep_emit, cep_finalize

        k = int(key[0])
        if self.state.exists():
            t_us, eid, etype, last_click, last_err = self.state.get()
            buf = list(zip(t_us, eid, etype))
        else:
            buf, last_click, last_err = [], -1, -1
        buf.extend(new_rows)

        matches, remainder, last_click, last_err, timer_ms = cep_finalize(
            buf, last_click, last_err, wm_ms, self.pattern_window_us
        )

        # one live timer per key: clear whatever is armed, re-arm if needed
        for t in list(self.handle.listTimers()):
            self.handle.deleteTimer(t)
        if timer_ms is None:
            # dead key: drop the value (deleteIfExists is init-only in
            # the TWS handle lifecycle; clear() is the data-path form)
            self.state.clear()
        else:
            self.state.update(
                (
                    [r[0] for r in remainder],
                    [r[1] for r in remainder],
                    [r[2] for r in remainder],
                    last_click,
                    last_err,
                )
            )
            self.handle.registerTimer(timer_ms)
        yield cep_emit(matches, k, self.key_col)

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame], timerValues) -> Iterator[pd.DataFrame]:
        new_rows: list = []
        for pdf in rows:
            new_rows.extend(
                zip(
                    (pdf[self.ts_col].astype("int64") // 1000).tolist(),
                    pdf["event_id"].astype("int64").tolist(),
                    pdf["event_type"].tolist(),
                )
            )
        yield from self._step(key, new_rows, timerValues.getCurrentWatermarkInMs())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo) -> Iterator[pd.DataFrame]:
        yield from self._step(key, [], timerValues.getCurrentWatermarkInMs())

    def close(self) -> None:
        pass


def tws_cep_click_purchase(
    df: DataFrame,
    pattern_window_us: int = 1_800_000_000,
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """transformWithStateInPandas CEP matcher; same output schema and
    exactly-once finalized match set as the applyInPandasWithState
    form (asserted row-for-row by tests/test_streaming_cep_tws.py)."""
    from .stateful import cep_out_schema

    return df.groupBy(key_col).transformWithStateInPandas(
        CepClickPurchaseProcessor(pattern_window_us, ts_col, key_col),
        outputStructType=cep_out_schema(key_col),
        outputMode="append",
        timeMode="eventTime",
    )
