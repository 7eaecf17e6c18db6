"""Contract of the compiled reader-schema conformer
(`sources.confluent.compile_conformer`), without a Spark session.

For each reader type: one writer value the conformer accepts (and what
it returns) and one it rejects with the per-record AvroError that
`decode_confluent` side-drops into `_decode_error`.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from kafka_elasticsearch_injector_spark.sources import AvroError
from kafka_elasticsearch_injector_spark.sources.confluent import (
    compile_conformer,
)

UTC = dt.timezone.utc

# (reader type, accepted writer value, conformed value, rejected value)
CASES = [
    (T.LongType(), 7, 7, True),                       # bool is not an int
    (T.IntegerType(), -3, -3, 1.0),
    (T.DoubleType(), 2, 2, False),                    # int fits a double
    (T.FloatType(), 0.5, 0.5, "0.5"),
    (T.BooleanType(), True, True, 1),
    (T.StringType(), "s", "s", b"s"),
    (T.BinaryType(), bytearray(b"b"), bytearray(b"b"), "b"),
    (T.DecimalType(10, 2), Decimal("1.2000"), Decimal("1.20"),
     Decimal("1.234")),                               # lossless vs lossy
    (T.DecimalType(4, 2), Decimal("12.3"), Decimal("12.30"),
     Decimal("123.4")),                               # precision overflow
    (T.DecimalType(10, 2), Decimal("-0.5"), Decimal("-0.50"),
     Decimal("NaN")),
    (T.DateType(), dt.date(2020, 2, 29), dt.date(2020, 2, 29),
     dt.datetime(2020, 2, 29)),                       # date vs datetime
    (T.TimeType(), dt.time(23, 59), dt.time(23, 59), dt.datetime(2020, 1, 1)),
    (T.TimestampType(), dt.datetime(2020, 1, 1, tzinfo=UTC),
     dt.datetime(2020, 1, 1, tzinfo=UTC), dt.date(2020, 1, 1)),
    (T.TimestampNTZType(), dt.datetime(2020, 1, 1), dt.datetime(2020, 1, 1),
     1577836800000),
    (T.ArrayType(T.LongType()), [1, None], [1, None], [1, True]),
    (T.MapType(T.StringType(), T.DoubleType()), {"a": 1, "b": None},
     {"a": 1, "b": None}, {"a": "x"}),
]


@pytest.mark.parametrize(
    "dtype, ok, conformed, bad", CASES,
    ids=[f"{c[0].simpleString()}-{i}" for i, c in enumerate(CASES)])
def test_conformer_accepts_and_rejects(dtype, ok, conformed, bad):
    conform = compile_conformer(dtype)
    out = conform(ok)
    assert out == conformed and type(out) is type(conformed)
    assert conform(None) is None
    with pytest.raises(AvroError, match="does not fit reader column type"):
        conform(bad)


def test_conformer_error_text():
    with pytest.raises(AvroError) as err:
        compile_conformer(T.LongType())(True)
    assert str(err.value) == (
        "writer value of type bool does not fit reader column type bigint "
        "(logical-type divergence between writer and reader schemas?)")
    with pytest.raises(AvroError, match=r"type Decimal .* decimal\(4,2\)"):
        compile_conformer(T.DecimalType(4, 2))(Decimal("Infinity"))


def test_conformer_struct_projection_by_name():
    reader = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("inner",
                      T.StructType([T.StructField("a", T.IntegerType())])),
    ])
    conform = compile_conformer(reader)
    # missing fields → null, extra fields dropped, nested by name too
    assert conform({"id": 1, "extra": "x", "inner": {"a": 2, "b": 3}}) == {
        "id": 1, "name": None, "inner": {"a": 2}}
    # a non-dict for a struct, at any depth, is null — not an error
    assert conform(None) is None
    assert conform([1, "x"]) is None
    assert conform({"id": 1, "name": "n", "inner": 5}) == {
        "id": 1, "name": "n", "inner": None}
    # a misfit nested value rejects the whole record
    with pytest.raises(AvroError, match="reader column type int"):
        conform({"id": 1, "inner": {"a": "2"}})


def test_conformer_localizes_naive_instants_to_session_zone():
    conform = compile_conformer(T.TimestampType(), "America/Sao_Paulo")
    assert conform(dt.datetime(2021, 5, 6, 7, 8, 9)) == dt.datetime(
        2021, 5, 6, 10, 8, 9, tzinfo=UTC)
    aware = dt.datetime(2021, 5, 6, 7, 8, 9, tzinfo=UTC)
    assert conform(aware) is aware
    with pytest.raises(AvroError, match="reader column type timestamp"):
        conform(dt.date(2021, 5, 6))
    # a wall-clock time the zone skips raises (side-dropped per record)
    with pytest.raises(Exception, match="2021-03-14 02:30:00"):
        compile_conformer(T.TimestampType(), "America/New_York")(
            dt.datetime(2021, 3, 14, 2, 30))
    # without a zone the naive value is left to the caller's conversion
    naive = dt.datetime(2021, 5, 6, 7, 8, 9)
    assert compile_conformer(T.TimestampType())(naive) is naive
