"""``util.local_frame``: a driver-built frame as a JVM LocalRelation must
read back exactly as ``createDataFrame(rows, schema)`` would, for every
type the schema registry can declare, nulls included, and collecting it
must run no Spark job."""

import datetime as dt
from decimal import Decimal

import pyarrow as pa
from pyspark.sql import types as T

from vivace_graph_v3_spark.util import local_frame

from tests.conftest import last_job_id

FIELDS = [
    ("i", T.IntegerType(), -7),
    ("l", T.LongType(), 2**40),
    ("d", T.DoubleType(), 0.1),
    ("s", T.StringType(), "héllo"),
    ("b", T.BooleanType(), True),
    ("ts", T.TimestampType(), dt.datetime(2021, 3, 4, 5, 6, 7, 890123)),
    ("dt", T.DateType(), dt.date(1969, 12, 31)),
    ("dec", T.DecimalType(12, 3), Decimal("-12.345")),
    ("arr", T.ArrayType(T.StringType()), ["a", None, "c"]),
]


def test_local_frame_matches_create_data_frame(spark):
    schema = T.StructType([T.StructField(n, t) for n, t, _ in FIELDS])
    full = tuple(v for _, _, v in FIELDS)
    rows = [full, (None,) * len(FIELDS)]
    # one null per column, each in its own row
    rows += [tuple(None if j == i else v for j, v in enumerate(full))
             for i in range(len(FIELDS))]
    local = local_frame(spark, rows, schema)
    assert local.schema == schema
    j0 = last_job_id(spark)
    got = local.collect()
    assert last_job_id(spark) == j0
    assert got == spark.createDataFrame(rows, schema).collect()
    assert local._jdf.queryExecution().optimizedPlan().getClass() \
        .getSimpleName() == "LocalRelation"


def test_local_frame_from_arrow_and_empty(spark):
    schema = T.StructType([T.StructField("id", T.StringType()),
                           T.StructField("n", T.LongType())])
    table = pa.table({"id": ["a", "b"], "n": [1, None]},
                     schema=pa.schema([("id", pa.string()), ("n", pa.int64())]))
    assert local_frame(spark, table, schema).collect() == \
        spark.createDataFrame([("a", 1), ("b", None)], schema).collect()
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []
