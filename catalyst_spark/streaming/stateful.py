"""Custom stateful streaming operator: Graphite TCP per-connection
framing with cross-batch state (applyInPandasWithState).

The reference keeps no per-series state (each datapoint is forwarded
independently), but its TCP listener frames a connection by the token
on the connection's FIRST line. In the stream model that connection
state must survive micro-batches; GroupState holds it per conn_id.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


# --- Graphite TCP per-connection framing (P7 parity, streaming twin of
# parsers.graphite.frame_connection_lines; ref catalyser/graphite.go:
# 240-273). State per connection: (token, tokenLength) learned from the
# connection's FIRST line, or an aborted flag if that line carried no
# "TOKEN@." — the Go code returns, so every later line is dropped.

FRAME_OUTPUT_SCHEMA = T.StructType([
    T.StructField("conn_id", T.StringType()),
    T.StructField("line_seq", T.LongType()),
    T.StructField("token", T.StringType()),
    T.StructField("line", T.StringType()),
])

FRAME_STATE_SCHEMA = T.StructType([
    T.StructField("token", T.StringType()),
    T.StructField("token_length", T.IntegerType()),
    T.StructField("aborted", T.BooleanType()),
])


def _frame_update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    (conn_id,) = key
    token, token_length, aborted = (
        state.get if state.exists else (None, None, False)
    )
    pdf = pd.concat([p[["line_seq", "line"]] for p in pdfs], ignore_index=True)
    pdf = pdf.sort_values("line_seq", ignore_index=True)
    trimmed = pdf["line"].astype(str).str.strip()
    if not aborted and token is None and len(trimmed):
        first = trimmed.iloc[0]
        prefix = first.split("@.", 1)[0]
        if "@." in first and prefix:
            token, token_length = prefix, len(prefix) + 2
        else:
            aborted = True
    state.update((token, token_length, aborted))
    if aborted or token is None:
        yield pd.DataFrame(columns=["conn_id", "line_seq", "token", "line"])
        return
    keep = trimmed.str.len() > token_length
    yield pd.DataFrame({
        "conn_id": conn_id,
        "line_seq": pdf.loc[keep, "line_seq"].astype("int64"),
        "token": token,
        "line": trimmed[keep].str.slice(token_length),
    })


def stream_frame_connections(lines: DataFrame) -> DataFrame:
    """(conn_id, line_seq, line) stream -> length-framed (token, line)
    rows with per-connection state across micro-batches."""
    return (
        lines.select("conn_id", "line_seq", "line")
        .groupBy("conn_id")
        .applyInPandasWithState(
            _frame_update,
            outputStructType=FRAME_OUTPUT_SCHEMA,
            stateStructType=FRAME_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
