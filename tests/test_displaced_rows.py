"""Displaced-registry-row differentials (VERDICT r8 #1).

Round 9 rotated text_repetition_quality and pdf_decode_image_codecs
into the 50-row driver registry; text_stats and media_features yielded
their rows (their kernels are subsets of text_quality_score +
tfidf_top_terms and of the doc_fingerprint binary mapInPandas path).
Both stay implemented — these tests keep the exact Spark-vs-DuckDB
differential the driver used to run for them, over sf0.001.

The same differential pins the element-model queries
(rag_chunk_elements, rag_chunk_typed_page, pdf_export_markdown), which
run the partitioner and the hybrid chunker end to end.
"""

from __future__ import annotations

import math

import pytest


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def con():
    import duckdb

    sf_dir = "/root/testdata/sf0.001"
    c = duckdb.connect()
    for t in ("documents",):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                  f"read_parquet('{sf_dir}/{t}.parquet')")
    yield c


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        return f"f:{v:.6g}"
    return str(v)


def _compare(sdf, con, sql):
    scols = sorted(sdf.columns)
    srows = sorted(tuple(_canon(r[c]) for c in scols)
                   for r in sdf.collect())
    odf = con.execute(sql).df()
    ocols = sorted(odf.columns)
    assert scols == ocols
    orows = sorted(tuple(_canon(v) for v in row)
                   for row in odf[ocols].itertuples(index=False, name=None))
    assert len(srows) == len(orows) > 0
    assert srows == orows


def test_text_stats_differential(spark, con):
    from oxidizepdf_spark.queries import (
        NORM_SQL,
        ORACLE_TEXT_STATS,
        _TOKEN_RE,
        q_text_stats,
    )

    sql = ORACLE_TEXT_STATS.format(
        norm=NORM_SQL.format(col="text"), token_re=_TOKEN_RE)
    _compare(q_text_stats(spark, "/root/testdata/sf0.001"), con, sql)


def test_media_features_differential(spark, con):
    from oxidizepdf_spark.queries import (
        _media_features_oracle,
        q_media_features,
    )

    _compare(q_media_features(spark, "/root/testdata/sf0.001"), con,
             _media_features_oracle())


@pytest.mark.parametrize(
    "name", ["rag_chunk_elements", "rag_chunk_typed_page", "pdf_export_markdown"]
)
def test_element_query_differential(spark, con, name):
    from oxidizepdf_spark.queries import build_oracles, build_queries

    _compare(build_queries()[name](spark, "/root/testdata/sf0.001"), con,
             build_oracles()[name])
