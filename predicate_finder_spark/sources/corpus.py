"""Corpus readers (SURVEY.md §2.1 S1/S2).

The reference loads the LC-QuAD JSON array with json.load
(pretreatment/QueryFilter.py:29-31) and reads/writes TSV result files with
the csv module (xgboost/performance.py:7-18, baseline/baseline.py:164-166).
Spark equivalents with explicit schemas — no inference in the data path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LCQUAD_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType(), True),
        T.StructField("corrected_question", T.StringType(), True),
        T.StructField("sparql_query", T.StringType(), True),
        T.StructField("sparql_template_id", T.IntegerType(), True),
    ]
)

# the reference's "simple question" templates (QueryFilter.py:33-39)
SIMPLE_TEMPLATE_IDS = (1, 2, 101, 151, 152)


def read_question_corpus(
    spark: SparkSession, path: str, simple_only: bool = True
) -> DataFrame:
    """S1: LC-QuAD-style JSON array scan (multiline) + template filter F1."""
    df = spark.read.schema(LCQUAD_SCHEMA).option("multiLine", True).json(path)
    if simple_only:
        df = df.filter(F.col("sparql_template_id").isin(*SIMPLE_TEMPLATE_IDS))
    return df


def extract_gold_uris(questions: DataFrame) -> DataFrame:
    """F3: regex '<(.*?)>' over the SPARQL text -> entity/predicate URIs by
    position (reference QueryFilter.py:27,56,71,86 parses templates 1/2/101
    with the entity first and the predicate second; 151/152 reversed — the
    reference treats position per template, we emit both parses)."""
    uris = F.expr(r"regexp_extract_all(sparql_query, '<(.*?)>', 1)")
    return questions.select(
        "_id",
        "corrected_question",
        "sparql_template_id",
        F.try_element_at(uris, F.lit(1)).alias("uri1"),
        F.try_element_at(uris, F.lit(2)).alias("uri2"),
    )


def parse_gold(questions: DataFrame) -> DataFrame:
    """Template-position-aware gold parse (reference QueryFilter.py:56-86
    dispatched at :252-258): templates 1/101 put the PREDICATE URI first in
    the SPARQL text and the entity second (get_for_1_101, :69-80); templates
    2/151/152 the entity first, predicate second (get_for_2 :56-66,
    get_for_151_152 :83-93).

    Output mirrors get_stand_ans_for_test (:239-267): entity = URI local
    name, entity_surface = its first underscore segment (:58), pred = the
    predicate URI local name.
    """
    g = extract_gold_uris(questions)
    ent_first = F.col("sparql_template_id").isin(2, 151, 152)
    ent_uri = F.when(ent_first, F.col("uri1")).otherwise(F.col("uri2"))
    pred_uri = F.when(ent_first, F.col("uri2")).otherwise(F.col("uri1"))
    standard_ent = F.substring_index(ent_uri, "/", -1)
    return g.select(
        "_id",
        "corrected_question",
        "sparql_template_id",
        ent_uri.alias("entity_uri"),
        standard_ent.alias("entity"),
        F.substring_index(standard_ent, "_", 1).alias("entity_surface"),
        pred_uri.alias("pred_uri"),
        F.substring_index(pred_uri, "/", -1).alias("pred"),
    )


def read_tsv(spark: SparkSession, path: str, schema: T.StructType | str) -> DataFrame:
    """S2: TSV scan with explicit schema (reference csv.reader(delimiter='\\t'))."""
    return spark.read.schema(schema).option("sep", "\t").csv(path)


def read_gold_questions(spark: SparkSession, path: str) -> DataFrame:
    """The reference's gold answer set: headerless TSV of
    (question, entity, predicate) — data/gold_test.csv, produced by
    pretreatment/QueryFilter.py:240-269 and consumed row-by-row by
    xgboost/performance.py:5-12.  Column names align with
    plans.questions.question_accuracy (qid = the question text: the
    reference joins gold to results on item[0], the raw question)."""
    df = read_tsv(spark, path, "qid string, entity string, pred string")
    # python csv yields '' for empty fields; Spark yields null — normalize so
    # equality comparisons count misses instead of dropping rows from avg()
    return df.select(
        F.coalesce("qid", F.lit("")).alias("qid"),
        F.coalesce("entity", F.lit("")).alias("entity"),
        F.coalesce("pred", F.lit("")).alias("pred"),
    )


def read_baseline_results(spark: SparkSession, path: str) -> DataFrame:
    """The reference baseline scorer's emitted answers: comma CSV with a
    header and rows (query, entity, predicate, score, sparql) —
    data/new_base_all_result.csv, written by baseline/baseline.py:96-169.
    quote/escape mirror python csv's doubled-quote convention so questions
    containing commas parse identically."""
    schema = "qid string, entity string, pred string, score double, sparql string"
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    return df.select(
        F.coalesce("qid", F.lit("")).alias("qid"),
        F.coalesce("entity", F.lit("")).alias("entity"),
        F.coalesce("pred", F.lit("")).alias("pred"),
        "score",
    )
