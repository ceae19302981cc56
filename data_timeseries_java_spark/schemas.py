"""Engine schemas — the Spark mapping of the reference's proto catalog.

Reference: ``src/TimeSeriesProtos.proto`` (see SURVEY.md §1). Protobuf
messages become StructTypes; ``KV<String, proto>`` becomes a plain ``key``
column; epoch-millis ``int64 time`` becomes TimestampType (millisecond
precision retained).
"""

from __future__ import annotations

from pyspark.sql import types as T

# TSProto (src/TimeSeriesProtos.proto:30-37): one raw tick.
# is_live=False marks engine-generated gap-fill rows.
TICK_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("event_time", T.TimestampType(), False),
    T.StructField("bid", T.DoubleType(), False),
    T.StructField("ask", T.DoubleType(), False),
    T.StructField("is_live", T.BooleanType(), False),
])

# WorkDataPoint (proto:88-92): one log-return observation.
RETURN_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
    T.StructField("time", T.TimestampType(), False),
    T.StructField("value", T.DoubleType(), False),
])

# WorkPacketConfig (proto:65-68): the static instrument universe.
INSTRUMENT_SCHEMA = T.StructType([
    T.StructField("key", T.StringType(), False),
])
