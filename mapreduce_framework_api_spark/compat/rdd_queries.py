"""Declared queries that exercise the RDD compatibility layer.

``q_text_wordcount_rdd`` proves the generalized map_fn/reduce_fn surface
(SURVEY.md §2.4 #2) end-to-end on the documents table with the same oracle
as the DataFrame flagship. The RDD path is the compatibility lane, not the
performance lane — the DataFrame flagship is what runs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from mapreduce_framework_api_spark.compat.mapreduce import (
    combined_mapper,
    wordcount_map,
    wordcount_reduce,
)
from mapreduce_framework_api_spark.registry import register
from mapreduce_framework_api_spark.sources import table

_WORDCOUNT_ORACLE = """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), t -> t <> '')) AS token
  FROM documents
)
SELECT token, COUNT(*) AS cnt
FROM toks
GROUP BY token
ORDER BY token
"""


@register("q_text_wordcount_rdd", group="A", oracle=_WORDCOUNT_ORACLE)
def q_text_wordcount_rdd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count via mapPartitionsWithIndex + reduceByKey, ordered at the
    DataFrame sink — the mr_create/mr_start/mr_finish lineage
    (``mapreduce.h:130,153,162``) with mr_produce/mr_consume replaced by
    generator yield / shuffle read."""
    docs = table(spark, sf_dir, "documents")
    lines = docs.select("text").rdd.map(lambda r: r[0])
    counted = lines.mapPartitionsWithIndex(
        combined_mapper(wordcount_map, wordcount_reduce)
    ).reduceByKey(wordcount_reduce, numPartitions=32)
    schema = T.StructType(
        [
            T.StructField("token", T.StringType(), False),
            T.StructField("cnt", T.LongType(), False),
        ]
    )
    # Global order on the (small, post-aggregation) result happens JVM-side:
    # an RDD sortByKey here would add a Python-side range-sampling job + an
    # extra pickled shuffle for a sort the DataFrame sink does anyway.
    return spark.createDataFrame(counted, schema=schema).orderBy("token")
