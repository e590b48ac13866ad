"""Streaming message-assembly sources (SURVEY.md §2.1 S3/S4/S5).

- S4 (key-value pivot): ``applyInPandasWithState`` keyed by station — the
  record emits the moment its completion bitmask fills (reference
  include/source/mqtt.h:126-167). Divergence (documented): the reference
  discards partial assemblies after 5 s; registering a processing-time
  timer for that makes availableNow runs re-trigger indefinitely (observed
  on Spark 4.1), so partials stay in state until completion — bounded by
  #stations, so state stays small. Event-time timers
  (``transformWithStateInPandas``) would give the reference's discard, but
  Spark's transformWithState Python protocol needs the ``protobuf``
  package, which this engine does not depend on.
- S5 (EAV accumulation): idiomatic Spark — watermark + tumbling window +
  ordered collect; the window close replaces the reference's 5 s commit
  timer (include/source/mqtt.h:250-349).
- S3 (count-based): same state-op pattern as S4 with the expected-count
  check instead of the bitmask (emit when n_parts == expected_n).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def stream_kv_assembly(kv: DataFrame, names: list[str]) -> DataFrame:
    """kv: streaming (hash long, name string, value string). Emits one row
    (hash, values array in `names` order) per completed assembly."""
    out_schema = StructType(
        [StructField("hash", LongType()), StructField("values", ArrayType(StringType()))]
    )
    state_schema = StructType(
        [StructField("names", ArrayType(StringType())), StructField("vals", ArrayType(StringType()))]
    )
    expected = list(names)

    def update(key, pdfs, state: GroupState):
        got: dict[str, str] = {}
        if state.exists:
            snames, svals = state.get
            got = dict(zip(snames, svals))
        completed = []
        for pdf in pdfs:
            for name, value in zip(pdf["name"], pdf["value"]):
                if name in expected and name not in got:  # first value wins
                    got[str(name)] = str(value)
                if all(n in got for n in expected):
                    completed.append([got[n] for n in expected])
                    got = {}
        if got:
            state.update((list(got.keys()), list(got.values())))
        elif state.exists:
            state.remove()
        yield pd.DataFrame({"hash": [key[0]] * len(completed), "values": completed})

    return kv.groupBy("hash").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_eav_windows(eav: DataFrame) -> DataFrame:
    """eav: streaming (hash long, ts timestamp, name string, value string).
    Emits one ordered collection per (hash, 5 s window) once the 10 s
    watermark closes the window."""
    item = F.concat_ws("=", F.col("name"), F.col("value"))
    return (
        eav.withWatermark("ts", "10 seconds")
        .groupBy("hash", F.window("ts", "5 seconds"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.concat_ws(",", F.sort_array(F.collect_list(item))).alias("items"),
        )
        .select("hash", F.col("window.start").alias("window_start"), "n_items", "items")
    )
