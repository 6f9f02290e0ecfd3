"""functions/lits.py: the one-py4j-call literal arrays must be
BIT-identical (and type-identical) to the F.array(*F.lit) idiom they
replace — the r16 plan-construction optimization changes how literals
cross py4j, never what lands in the plan. ``local_table`` columns are
held to the same values, and must plan as a ``LocalRelation``."""

import math
import struct

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyspark_etl_twitter_spark.functions.lits import (
    lit_doubles,
    lit_doubles_2d,
    lit_doubles_3d,
    lit_ints,
    lit_longs,
    local_table,
)

# adversarial doubles: shortest-repr edge cases, subnormals, exact ints,
# negative zero, huge/tiny exponents, non-finite
HARD_DOUBLES = [
    0.1,
    2.675,
    1.0,
    -0.0,
    0.0,
    5e-324,
    1.7976931348623157e308,
    2.2250738585072014e-308,
    1 / 3,
    math.pi,
    -math.e,
    123456789.123456789,
    1e16,
    9.999999999999999e15,
    6.02e23,
    -1e-300,
    float("nan"),
    float("inf"),
    float("-inf"),
]


def _bits(x):
    return struct.pack("<d", x)


def test_lit_doubles_bit_identical(spark):
    old = F.array(*[F.lit(float(v)) for v in HARD_DOUBLES])
    new = lit_doubles(HARD_DOUBLES)
    row = spark.range(1).select(old.alias("o"), new.alias("n")).first()
    assert len(row["o"]) == len(row["n"]) == len(HARD_DOUBLES)
    for a, b in zip(row["o"], row["n"]):
        assert _bits(a) == _bits(b), (a, b)
    schema = spark.range(1).select(new.alias("n")).schema
    assert schema["n"].dataType.simpleString() == "array<double>"
    tbl = local_table(spark, "v double", {"v": HARD_DOUBLES}).collect()
    assert [_bits(r["v"]) for r in tbl] == [_bits(v) for v in row["o"]]


def test_lit_doubles_nested_shapes(spark):
    mat = [HARD_DOUBLES[:4], HARD_DOUBLES[4:8]]
    t3 = [mat, [HARD_DOUBLES[8:12], HARD_DOUBLES[12:16]]]
    row = (
        spark.range(1)
        .select(
            lit_doubles_2d(mat).alias("m"),
            lit_doubles_3d(t3).alias("t"),
            F.array(
                *[F.array(*[F.lit(v) for v in r]) for r in mat]
            ).alias("m_old"),
        )
        .first()
    )
    for a, b in zip(row["m"], row["m_old"]):
        for x, y in zip(a, b):
            assert _bits(x) == _bits(y)
    assert [list(r) for r in row["t"][0]] == [list(r) for r in row["m"]]
    tbl = local_table(spark, "m array<array<double>>", {"m": [mat]}).first()
    for a, b in zip(tbl["m"], row["m_old"]):
        assert [_bits(x) for x in a] == [_bits(y) for y in b]


def test_local_table_float_cast_matches_literal_idiom(spark):
    """ivf_assignments' trained centroids: built as doubles, cast to
    array<float> Spark-side — the same float32 bits as the element_at
    over a literal 2-D array it replaced."""
    vecs = [HARD_DOUBLES[:8], HARD_DOUBLES[8:16]]
    old = spark.range(len(vecs)).select(
        F.element_at(lit_doubles_2d(vecs), (F.col("id") + 1).cast("int"))
        .cast("array<float>")
        .alias("c")
    )
    new = local_table(spark, "c array<double>", {"c": vecs}).select(
        F.col("c").cast("array<float>").alias("c")
    )
    assert new.schema["c"].dataType == old.schema["c"].dataType
    pack = lambda rows: [struct.pack("<8f", *r["c"]) for r in rows]  # noqa: E731
    assert pack(new.collect()) == pack(old.collect())


def test_lit_ints_and_longs(spark):
    vals = [0, 1, -1, 2**31 - 1, -(2**31)]
    row = (
        spark.range(1)
        .select(
            lit_ints(vals).alias("i"),
            lit_longs(vals + [2**62]).alias("l"),
            F.array(*[F.lit(int(v)) for v in vals]).alias("i_old"),
        )
        .first()
    )
    assert list(row["i"]) == list(row["i_old"]) == vals
    assert list(row["l"]) == vals + [2**62]
    schema = spark.range(1).select(
        lit_ints(vals).alias("i"), lit_longs(vals).alias("l")
    ).schema
    assert schema["i"].dataType.simpleString() == "array<int>"
    assert schema["l"].dataType.simpleString() == "array<bigint>"
    with pytest.raises(ValueError):
        lit_ints([2**31])
    longs = vals + [2**63 - 1, -(2**63)]
    tbl = local_table(spark, "i int, l bigint", {"i": vals + [0, 0], "l": longs})
    assert [(r["i"], r["l"]) for r in tbl.collect()] == list(zip(vals + [0, 0], longs))
    with pytest.raises(ValueError):
        local_table(spark, "i int", {"i": [2**31]})


def test_lit_strings_parity(spark):
    from pyspark_etl_twitter_spark.functions.lits import lit_strings

    vals = ["plain", "it's", "a\\b", 'quo"te', "unié", "i'll"]
    row = (
        spark.range(1)
        .select(
            lit_strings(vals).alias("n"),
            F.array(*[F.lit(v) for v in vals]).alias("o"),
            lit_strings(["ctl\x01char"]).alias("c"),  # fallback path
        )
        .first()
    )
    assert list(row["n"]) == list(row["o"]) == vals
    assert list(row["c"]) == ["ctl\x01char"]
    # full stopword list round-trips (the hot caller)
    from pyspark_etl_twitter_spark.functions.stopwords import ENGLISH_STOPWORDS

    got = spark.range(1).select(lit_strings(ENGLISH_STOPWORDS).alias("s")).first()
    assert list(got["s"]) == list(ENGLISH_STOPWORDS)


def test_empty_rejected():
    for fn in (lit_doubles, lit_doubles_2d, lit_doubles_3d, lit_ints, lit_longs):
        with pytest.raises(ValueError):
            fn([])


def _leaf(df) -> str:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    return leaves.apply(0).getClass().getSimpleName()


def test_local_table_empty_and_local_relation(spark):
    """An empty table keeps its declared types (where an empty literal
    array cannot), and every table is a LocalRelation leaf — also under
    a session with the Arrow conf off, where list and pandas inputs to
    createDataFrame become Python-RDD scans."""
    schema = "q_id bigint, qp int, emb array<double>"
    cols = {"q_id": [1], "qp": [2], "emb": [[0.5]]}
    empty = {name: [] for name in cols}
    assert local_table(spark, schema, empty).schema == StructType.fromDDL(schema)
    assert local_table(spark, schema, empty).collect() == []
    plain = spark.newSession()
    plain.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    for session in (spark, plain):
        for data in (empty, cols):
            assert _leaf(local_table(session, schema, data)) == "LocalRelation"
    assert _leaf(plain.createDataFrame([(1,)], "x bigint")) == "LogicalRDD"
