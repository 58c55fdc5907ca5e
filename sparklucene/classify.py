"""Index-backed text classification — Lucene's classification module.

Mirrors the capability surface of the reference's classification module
(public knowledge of apache/lucene-solr branch_8x,
u8:lucene/classification/src/java/org/apache/lucene/classification/
SimpleNaiveBayesClassifier.java ~260 LoC and
KNearestNeighborClassifier.java ~250 LoC): train on the indexed corpus's
labeled documents, assign a class to unseen text using only statistics the
inverted index already maintains (term frequencies, per-class token
counts, document counts).

Both classifiers are pinned to an exact, SQL-reproducible spec so the
DuckDB oracle can re-derive every score (the reference's constants are
not pinnable offline; the CAPABILITY is what's claimed — see COVERAGE.md):

* **Multinomial Naive Bayes with add-one smoothing** (the textbook model
  SimpleNaiveBayesClassifier implements):

      score(c, d) = ln(N_c / N)
                    + sum_t tf_d(t) * ln(cf_c(t) + 1)
                    - (sum_t tf_d(t)) * ln(tokens_c + V)

  where N_c = docs labeled c, cf_c(t) = collection frequency of t within
  class c, tokens_c = total tokens in class c, V = training vocabulary
  size. Terms unseen in class c contribute ln(0 + 1) = 0 to the middle
  sum, so the (doc, term) x (class, term) equi-join needs only EXISTING
  pairs — no dense vocab-by-class matrix is ever materialized.
  Float determinism: each per-term addend is rounded to float32 before
  a float64 sum (exact, order-proof — the bm25.py summation contract),
  and the prior/missing-mass terms are single f64 expressions identical
  on both engines.

* **k-NN majority vote** (KNearestNeighborClassifier): the unseen doc's
  TF-IDF cosine neighbours among TRAINING docs (same weighting as
  mlt.knn_text — Lucene 8.x idf, float32-rounded cosine), then the
  modal class among the top-k (ties: larger vote count first, class
  ascending).

Scale shape (100 TB): class stats are one groupBy over the training
tokens (partial-agg, vocab x classes rows, ~0.1% of corpus); scoring is
an equi-join on term + one groupBy (doc, class) + a broadcast of the
tiny per-class totals; argmax is a size-C window per doc. Nothing
driver-side scales with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparklucene.analysis import make_tokenize_udf


def _tf(df: DataFrame, text_col: str) -> DataFrame:
    tok = make_tokenize_udf()
    return (df.select("doc_id", F.explode(tok(F.col(text_col))).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").cast("double").alias("tf")))


def naive_bayes_classify(train: DataFrame, test: DataFrame,
                         label_col: str = "lang", text_col: str = "text",
                         ) -> DataFrame:
    """Assign each test doc its argmax Naive Bayes class.

    Returns (doc_id, label, score) — score is the winning class's
    log-posterior as float32 (rounded for cross-engine hash stability).
    Ties break label ascending. Docs whose every token is unseen in
    training still classify (priors + missing-mass only).
    """
    train_tf = _tf(train, text_col).join(
        train.select("doc_id", F.col(label_col).alias("label")), "doc_id")

    # per-class stats: doc count, token total; global: N, vocab size
    cls_cf = (train_tf.groupBy("label", "term")
              .agg(F.sum("tf").alias("cf")))
    cls_tot = (cls_cf.groupBy("label")
               .agg(F.sum("cf").alias("tokens_c")))
    cls_docs = (train.groupBy(F.col(label_col).alias("label"))
                .agg(F.count("*").cast("double").alias("n_c")))
    n_train = train.count()
    vocab = train_tf.select("term").distinct().count()

    test_tf = _tf(test, text_col)
    # derive doc length from the TEST relation, not the token stream: a
    # doc whose text tokenizes to NOTHING (all stopwords/punctuation)
    # still classifies — by priors alone, dl=0 — like the reference's
    # SimpleNaiveBayesClassifier; deriving from test_tf silently dropped
    # such docs (found by the classify fuzz family, seed 150111)
    test_len = (test.select("doc_id")
                .join(test_tf.groupBy("doc_id")
                      .agg(F.sum("tf").alias("_dl")), "doc_id", "left")
                .select("doc_id",
                        F.coalesce(F.col("_dl"), F.lit(0.0)).alias("dl")))

    # matched-term mass: f32-rounded addends summed in f64 (order-proof)
    addend = (F.col("tf") * F.log(F.col("cf") + F.lit(1.0))) \
        .cast("float").cast("double")
    matched = (test_tf.join(F.broadcast(cls_cf), "term")
               .groupBy("doc_id", "label")
               .agg(F.sum(addend).alias("matched")))

    # every (doc, class) pair exists in the frame even when matched==0
    base = (test_len.crossJoin(F.broadcast(
                cls_docs.join(cls_tot, "label")))
            .join(matched, ["doc_id", "label"], "left")
            .select(
                "doc_id", "label",
                (F.log(F.col("n_c") / F.lit(float(n_train)))
                 + F.coalesce(F.col("matched"), F.lit(0.0))
                 - F.col("dl") * F.log(F.col("tokens_c")
                                       + F.lit(float(vocab)))
                 ).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"),
                                             F.asc("label"))
    return (base.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "label",
                    F.col("score").cast("float").cast("double")
                    .alias("score"))
            .orderBy("doc_id"))


def knn_classify(train: DataFrame, test: DataFrame, k: int = 5,
                 label_col: str = "lang", text_col: str = "text",
                 ) -> DataFrame:
    """Assign each test doc the modal class of its k nearest training
    docs by TF-IDF cosine (Lucene 8.x idf over TRAINING stats; float32
    cosine; neighbour ties doc_id ASC; vote ties count DESC, label ASC).

    Returns (doc_id, label, votes). Test docs sharing no term with any
    training doc have no neighbours and are absent (cosine undefined) —
    KNearestNeighborClassifier returns null there too.
    """
    train_tf = _tf(train, text_col)
    test_tf = _tf(test, text_col)

    n = train.count()
    ts = (train_tf.groupBy("term")
          .agg(F.countDistinct("doc_id").cast("double").alias("df")))
    idf = F.log(F.lit(1.0) + (F.lit(float(n)) - F.col("df") + 0.5)
                / (F.col("df") + 0.5))

    tw = (train_tf.join(ts, "term")
          .select(F.col("doc_id").alias("t_id"), "term",
                  (F.col("tf") * idf).alias("w")))
    qw = (test_tf.join(ts, "term")  # unseen test terms drop: df=0 undefined
          .select(F.col("doc_id").alias("q_id"), "term",
                  (F.col("tf") * idf).alias("qw")))

    tn = (tw.groupBy("t_id")
          .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("tn")))
    qn = (qw.groupBy("q_id")
          .agg(F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qn")))

    dots = (tw.join(qw, "term")
            .groupBy("q_id", "t_id")
            .agg(F.sum(F.col("w") * F.col("qw")).alias("dot")))
    cos = (dots.join(tn, "t_id").join(qn, "q_id")
           .select("q_id", "t_id",
                   (F.col("dot") / (F.col("tn") * F.col("qn")))
                   .cast("float").cast("double").alias("cosine")))
    wnd = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("t_id"))
    nbrs = (cos.withColumn("rn", F.row_number().over(wnd))
            .filter(F.col("rn") <= k))
    votes = (nbrs.join(train.select(F.col("doc_id").alias("t_id"),
                                    F.col(label_col).alias("label")), "t_id")
             .groupBy("q_id", "label")
             .agg(F.count("*").alias("votes")))
    vw = Window.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("label"))
    return (votes.withColumn("rn", F.row_number().over(vw))
            .filter(F.col("rn") == 1)
            .select(F.col("q_id").alias("doc_id"), "label", "votes")
            .orderBy("doc_id"))
