"""data_timeseries_java_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference repo ``GoogleCloudPlatform/data-timeseries-java`` (a Dataflow 1.9
FX tick → OHLC candle → pairwise-correlation sample), re-expressed
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, Structured
Streaming for the streaming path, and Pandas UDFs only where built-in
operators cannot express the semantics.

Beyond reference parity it adds text analysis (language-ID, quality
scoring, token counting, fingerprinting) and a multimodal tier with REAL
pure-Python codecs (PNG, baseline JPEG, PCM WAV, MJPEG-AVI video) behind
Arrow-batched decode/resize/feature operators — facades:
``api.FXEngine``, ``api.MediaEngine``.

Design target: 100 TB on a 1000-executor cluster. Partition by event date,
bucket by instrument key, broadcast dimension tables, keep every expression
inside whole-stage codegen.
"""

from data_timeseries_java_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
