"""Engine schemas (SURVEY §1.5 mapping of the reference's tuple types).

The reference is tuple-at-a-time with primitive Java types
(``FlinkCooccurrences.java:55-61``, ``ItemCooccurrences.java:14-42``). We use
long-form relational rows throughout — deltas are ``(item, other_item,
increment)`` rows, not array batches or maps — so every intermediate is
joinable, prunable, and oracle-checkable. Counts are INT/LONG, never SHORT
(the reference's ``short`` counts saturate at 32767; SURVEY §1.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: (user, item, ts) interaction — DataStream<Tuple3<Integer,Integer,Long>>
#: (``FlinkCooccurrences.java:55-61``) plus the engine's determinism columns:
#: ts_ms (event time, epoch millis) and seq (total-order tie-breaker, SURVEY §7).
INTERACTION = T.StructType(
    [
        T.StructField("user", T.IntegerType(), False),
        T.StructField("item", T.IntegerType(), False),
        T.StructField("ts_ms", T.LongType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)

#: Sampled/flagged interaction — Tuple3<Integer,Integer,Boolean>
#: (``ItemInteractionCounterTwoInputStreamOperator.java:27-33``).
FLAGGED_INTERACTION = T.StructType(
    INTERACTION.fields + [T.StructField("sampled", T.BooleanType(), False)]
)

#: Long-form cooccurrence delta — the exploded form of ``ItemCooccurrences``
#: (``ItemCooccurrences.java:14-42``); window_start is the tumbling window
#: the delta fires in (outputs carry window.maxTimestamp(); SURVEY §1.4).
COOC_DELTA = T.StructType(
    [
        T.StructField("window_start", T.LongType(), False),
        T.StructField("item", T.IntegerType(), False),
        T.StructField("other_item", T.IntegerType(), False),
        T.StructField("increment", T.IntegerType(), False),
    ]
)

#: Row-sum delta — Tuple2<Integer,Integer>
#: (``UserInteractionCounterOneInputStreamOperator.java:49-51``).
ROW_SUM_DELTA = T.StructType(
    [
        T.StructField("window_start", T.LongType(), False),
        T.StructField("item", T.IntegerType(), False),
        T.StructField("delta", T.LongType(), False),
    ]
)

#: Top-K result row — the exploded form of
#: Tuple2<Integer, IntDoublePriorityQueue>
#: (``ItemRowRescorerTwoInputStreamOperator.java:22-27``).
TOPK_RESULT = T.StructType(
    [
        T.StructField("item", T.IntegerType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("other_item", T.IntegerType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-held ``rows`` (tuples in the field order of the DDL string
    ``schema``) as a DataFrame.

    THE way to build a driver-local frame: the rows travel as one Arrow
    table, which analyzes to a ``LocalRelation``. ``createDataFrame(list)``
    instead parallelizes a Python RDD (a ``LogicalRDD``) that the optimizer
    cannot see into and that forks Python workers every time it is scanned,
    even when empty. A ``LocalRelation`` is folded at plan time: an empty
    one drops out of a union or join with no Spark task at all.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema=struct)
