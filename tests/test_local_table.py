"""Driver-built tables (catalog.local_table): JVM-side LocalRelation
plans that keep the given schema and the rows the list-built
``createDataFrame`` returned."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from calorista_spark.catalog import local_table

# the search_foods schema (sources/rest.py): two non-nullable fields
SEARCH_FOODS = T.StructType(
    [
        T.StructField("query", T.StringType(), False),
        T.StructField("max_results", T.IntegerType(), False),
        T.StructField("payload", T.StringType(), True),
    ]
)
EXERCISES = T.StructType(
    [
        T.StructField("date", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
    ]
)
# a commit-log store schema as the empty snapshot read and the empty
# change feed see it (sources/commitlog.py)
STORE = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType()),
        T.StructField("day", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("amount", T.DecimalType(12, 2)),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "pt", T.StructType([T.StructField("x", T.DoubleType())])
        ),
    ]
)
CDF_EMPTY = T.StructType(
    list(STORE.fields)
    + [
        T.StructField("_change_type", T.StringType()),
        T.StructField("_commit_version", T.LongType()),
    ]
)

# (call site, schema, rows): one case per converted createDataFrame
SITES = [
    (
        "corpus_e2e rates",
        "source string, rate_bp long",
        [("code", 10000), ("web", 5000), ("wiki", 0)],
    ),
    (
        "corpus_lm merges",
        "merge_rank int, left string, right string, pair_count long",
        [(1, "t", "h", 12), (2, "th", "e▁", 9)],
    ),
    (
        "table_format carried flags",
        "event_date string, files_carried boolean",
        [("2024-01-05", False), ("2024-01-06", True)],
    ),
    (
        "bpe vocab",
        "word string, cnt long, symbols array<string>",
        [("héllo", 3, ["h", "é", "llo▁"]), ("日本", 1, ["日", "本▁"])],
    ),
    (
        "ann kmeans centroids",
        "bucket int, centroid array<double>",
        [(0, [0.125, -2.5, 1e-300]), (1, [])],
    ),
    (
        "ann empty probe",
        "q_id long, probe_bucket int, cand_id long, sim double, rank int",
        [],
    ),
    (
        "ann pq codebook",
        "subspace int, code int, centroid array<double>",
        [(0, 0, [0.5, 0.25]), (0, 1, [-0.5, float("inf")])],
    ),
    (
        "ann empty adc",
        "q_id long, cand_id long, adc_dist_q bigint, sim double, rank int",
        [],
    ),
    (
        "ann adc luts",
        "q_id long, luts array<array<bigint>>",
        [(7, [[1, 2], [3, 4, 2**40]]), (8, [[]])],
    ),
    ("near-dup empty index", "doc_id long, sig array<bigint>", []),
    (
        "kll band estimates",
        "day string, p50 double, p90 double",
        [("2024-01-01", 1.5, 9.25), ("2024-01-02", -0.0, 3.0)],
    ),
    ("rest exercises", EXERCISES, [(None, '{"exercises": []}')]),
    ("rest search_foods", SEARCH_FOODS, [("apple", 10, None)]),
    ("commitlog bloom files", "file string", [("part-0.parquet",)]),
    ("commitlog empty read", STORE, []),
    (
        "commitlog dv pairs",
        "__dv_path string, __dv_sidecar string",
        [("/t/a.parquet", "/t/_dv/a.bin")],
    ),
    ("commitlog empty cdf", CDF_EMPTY, []),
    (
        "commitlog compact salts",
        "__p string, __off int, __bounds array<double>, "
        "__salts array<bigint>",
        [("2024-01-01", 0, [1.5, 2.5], [11, -3, 5]), (None, 3, [], [7])],
    ),
]


def _optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan()


@pytest.mark.parametrize(
    "schema,rows",
    [(s, r) for _, s, r in SITES],
    ids=[site for site, _, _ in SITES],
)
def test_rows_and_schema_match_list_built_frame(spark, schema, rows):
    got = local_table(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert _optimized_plan(got).nodeName() == "LocalRelation"


def test_plan_is_local_relation_without_arrow_conf(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_table(spark, [("web", 5000)], "source string, rate_bp long")
        assert _optimized_plan(df).nodeName() == "LocalRelation"
    finally:
        spark.conf.set(key, before)


def test_schema_round_trips(spark):
    df = local_table(spark, [("apple", 10, "{}")], SEARCH_FOODS)
    assert df.schema == SEARCH_FOODS
    assert [f.nullable for f in df.schema] == [False, False, True]
    nested = local_table(
        spark,
        [(1, [0.5, None], [[1], [2, 3]])],
        "id long, v array<double>, luts array<array<bigint>>",
    )
    assert nested.schema["v"].dataType == T.ArrayType(T.DoubleType())
    assert nested.schema["luts"].dataType == T.ArrayType(
        T.ArrayType(T.LongType())
    )
    assert nested.collect()[0].asDict() == {
        "id": 1,
        "v": [0.5, None],
        "luts": [[1], [2, 3]],
    }
    empty = local_table(spark, [], CDF_EMPTY)
    assert empty.schema == CDF_EMPTY
    assert empty.count() == 0
