"""functions/literals.py: constant numeric arrays built in one JVM round
trip, with exact values and py4j's element types; and the PQ argmin
built on them."""

from __future__ import annotations

import math
import struct

import numpy as np
import py4j.clientserver
import py4j.protocol
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dieter___etl___monarchmoney_spark.functions.literals import const_mat, const_vec
from dieter___etl___monarchmoney_spark.queries.search_ops import _pq_code, _py_l2sq

DOUBLES = [0.1, -0.0, 5e-324, 1e308, -2.5e-07]
RELEASE = py4j.protocol.MEMORY_COMMAND_NAME + py4j.protocol.MEMORY_DEL_SUBCOMMAND_NAME


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_doubles_round_trip_bit_for_bit(spark):
    df = spark.range(1).select(
        const_vec(DOUBLES).alias("v"), const_mat([DOUBLES, DOUBLES[::-1]]).alias("m")
    )
    assert df.schema["v"].dataType.elementType == T.DoubleType()
    assert df.schema["m"].dataType.elementType.elementType == T.DoubleType()
    row = df.first()
    assert [_bits(x) for x in row["v"]] == [_bits(x) for x in DOUBLES]
    assert [[_bits(x) for x in r] for r in row["m"]] == [
        [_bits(x) for x in r] for r in (DOUBLES, DOUBLES[::-1])
    ]


@pytest.mark.parametrize(
    ("values", "element_type"),
    [
        ([2147483647, -2147483648], T.IntegerType()),
        ([2147483648], T.LongType()),
        ([-2147483649], T.LongType()),
        ([1, 2147483648], T.LongType()),
        (np.arange(3, dtype=np.int64), T.IntegerType()),
    ],
)
def test_ints_keep_py4j_element_types(spark, values, element_type):
    """Ints are written plain, so Spark types them by range exactly as
    the per-element ``F.lit`` form does."""
    df = spark.range(1).select(
        const_vec(values).alias("v"), F.array(*[F.lit(int(x)) for x in values]).alias("old")
    )
    assert df.schema["v"].dataType.elementType == element_type
    assert df.schema["old"].dataType == df.schema["v"].dataType
    row = df.first()
    assert row["v"] == [int(x) for x in values] == row["old"]


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf])
def test_non_finite_values_raise(bad):
    with pytest.raises(ValueError):
        const_vec([0.0, bad])
    with pytest.raises(ValueError):
        const_mat([[0.0], [bad]])


def test_const_mat_costs_a_handful_of_round_trips(spark, monkeypatch):
    rows = np.random.RandomState(0).randn(8, 32).tolist()
    sent = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        # not counted: the release py4j sends whenever ANY Python proxy of
        # a JVM object is garbage-collected, whatever created it
        if not command.startswith(RELEASE):
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    const_mat(rows)
    monkeypatch.undo()
    assert 0 < len(sent) <= 5, len(sent)


def _codes(spark, vecs, cents):
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vecs)], "i int, v array<double>")
    rows = df.select("i", _pq_code(F.col("v"), cents).alias("k")).orderBy("i").collect()
    return [r["k"] for r in rows]


def test_pq_code_ties_to_the_lowest_codeword(spark):
    cents = [[1.0, 1.0], [0.0, 0.0], [0.0, 0.0], [-1.0, -1.0]]
    # [0, 0] ties codewords 1 and 2; [0, 1] ties 0 and 1 (both at 1.0)
    assert _codes(spark, [[0.0, 0.0], [0.0, 1.0], [-2.0, -2.0]], cents) == [1, 0, 3]


def test_pq_code_matches_a_driver_side_argmin(spark):
    rng = np.random.RandomState(7)
    cents = rng.randn(8, 32).tolist()
    vecs = rng.randn(200, 32).tolist()
    want = [min(range(8), key=lambda k: (_py_l2sq(v, cents[k]), k)) for v in vecs]
    assert _codes(spark, vecs, cents) == want
