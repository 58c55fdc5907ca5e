"""SQL surface — the engine's capabilities through plain ``spark.sql``.

The reference exposes Parallel SQL (Calcite -> streaming expressions,
solr/core/.../handler/sql — SURVEY.md §2.10). On Spark, Catalyst replaces
Calcite wholesale: registering the corpus and index artifacts as views
makes the entire engine queryable in SQL. This module generates a
PURE-SQL BM25 top-k (tokenization -> tf -> SmallFloat-quantized norms ->
idf -> score) in Spark's dialect — no engine code in the plan at all,
whole-stage-codegen end to end. It computes bit-identical scores to the
engine's f64 mode and to the DuckDB oracle (same expression tree, two
dialects), which the driver contract asserts.

Use the packed-postings engine for serving; use this surface for ad-hoc
SQL analytics over the same corpus (joins against other tables, facets,
window functions — anything Spark SQL can say).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sparklucene.analysis import stoplist_sql

#: Spark dialect: regexp_extract_all needs the explicit group index 0
TOKS_SPARK = "regexp_extract_all(lower(text), '[a-z0-9_]+', 0)"


def quantize_length_spark(col: str) -> str:
    """SmallFloat length quantization in Spark SQL (keep top 4 bits)."""
    s = f"(cast(floor(log2({col})) as bigint) - 3)"
    return (f"(case when {col} < 8 then {col} "
            f"else shiftleft(shiftright({col}, cast({s} as int)), cast({s} as int)) end)")


def corpus_ctes_spark() -> str:
    """Spark-SQL WITH-clause body mirroring the engine's analysis chain
    (dialect twin of driver_queries.corpus_ctes for DuckDB)."""
    stop = stoplist_sql()
    return f"""
tok AS (
  SELECT doc_id, explode({TOKS_SPARK}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, cast(count(*) as bigint) AS tf
  FROM tok WHERE term NOT IN {stop}
  GROUP BY doc_id, term
),
doclen AS (
  SELECT d.doc_id, cast(coalesce(t.dl, 0) as bigint) AS dl
  FROM documents d
  LEFT JOIN (SELECT doc_id, cast(count(*) as bigint) AS dl
             FROM tok WHERE term NOT IN {stop} GROUP BY doc_id) t
  ON d.doc_id = t.doc_id
),
meta AS (
  SELECT doc_id, dl, cast({quantize_length_spark('dl')} as bigint) AS dlq
  FROM doclen
),
gstats AS (
  SELECT cast(count(*) FILTER (WHERE dl >= 1) as bigint) AS doc_count,
         cast(sum(dl) as bigint) AS sum_dl,
         cast(count(*) as bigint) AS n_docs
  FROM meta
),
tstats AS (
  SELECT term, cast(count(*) as bigint) AS df, cast(sum(tf) as bigint) AS cf
  FROM tf GROUP BY term
)"""


def bm25_topk_sparksql(terms: list[str], k: int = 10, msm: int = 1,
                       mode: str = "or") -> str:
    """Pure Spark-SQL BM25 top-k over the ``documents`` view — float-op
    identical to the engine's f64 mode and the DuckDB oracle."""
    tin = "(" + ", ".join(f"'{t}'" for t in sorted(terms)) + ")"
    having = {"or": f"count(*) >= {msm}",
              "and": f"count(*) = {len(set(terms))}"}[mode]
    idf = "ln(1.0 + (g.doc_count - s.df + 0.5) / (s.df + 0.5))"
    avgdl = "(g.sum_dl / cast(g.doc_count as double))"
    denom = f"(tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * m.dlq / {avgdl}))"
    return f"""WITH {corpus_ctes_spark()},
term_scores AS (
  SELECT tf.doc_id, cast(({idf} * tf.tf) / {denom} as float) AS s
  FROM tf
  JOIN tstats s ON tf.term = s.term
  JOIN meta m ON tf.doc_id = m.doc_id
  CROSS JOIN gstats g
  WHERE tf.term IN {tin}
)
SELECT doc_id, cast(cast(sum(cast(s as double)) as float) as double) AS score
FROM term_scores
GROUP BY doc_id
HAVING {having}
ORDER BY score DESC, doc_id ASC
LIMIT {k}"""


def register_corpus_view(spark: SparkSession, sf_dir: str,
                         name: str = "documents") -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df.createOrReplaceTempView(name)
    return df
