"""Streaming-expression algebra — Solr's dataflow operators on DataFrames.

The reference exposes a relational dataflow language over sorted tuple
streams (public knowledge of solr/solrj/.../io/stream/*: SelectStream,
SortStream, RankStream, UniqueStream, MergeStream, HashJoinStream,
InnerJoinStream, IntersectStream, ComplementStream, RollupStream,
StatsStream, FetchStream, ParallelStream — SURVEY.md §2.9). Each maps to a
Catalyst-native DataFrame transformation; this module pins that mapping as
a concrete, documented API so a reference user can port expressions 1:1.

Scale notes per operator:
  * hash_join broadcasts the small side explicitly (Solr's HashJoinStream
    materializes the hashed stream in memory — broadcast is the cluster
    equivalent); inner_join leaves Catalyst free to pick sort-merge, which
    is what InnerJoinStream's sorted-stream merge becomes at scale.
  * parallel(n, keys) is Solr's explicit hash re-partition; Spark's shuffle
    is the managed version of the same thing.
  * rollup/stats become partial+final hash aggregation (Catalyst) — the
    distributed-merge logic Solr implements by hand in FacetModule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def select_stream(df: DataFrame, mapping: dict[str, Column | str]) -> DataFrame:
    """SelectStream: projection + rename + per-tuple evaluators."""
    cols = [(F.col(v) if isinstance(v, str) else v).alias(k)
            for k, v in mapping.items()]
    return df.select(*cols)


def rank_stream(df: DataFrame, k: int, *order: Column | str) -> DataFrame:
    """RankStream (``top``): top-k by comparator — orderBy + limit lets
    Spark run per-partition top-k with a tiny final merge (TopDocs.merge
    shape), never a full sort at scale."""
    return df.orderBy(*order).limit(k)


def unique_stream(df: DataFrame, cols: list[str]) -> DataFrame:
    """UniqueStream: dedup on key (Solr assumes sorted input; Spark's
    dropDuplicates is the shuffle-based generalization)."""
    return df.dropDuplicates(cols)


def merge_stream(a: DataFrame, b: DataFrame, *order: Column | str) -> DataFrame:
    """MergeStream: k-way merge of sorted streams == union + re-sort
    (the merge-vs-sort distinction is a single-node optimization detail;
    Catalyst's sort on unioned sorted runs is near-linear)."""
    return a.unionByName(b).orderBy(*order)


def hash_join(left: DataFrame, right: DataFrame, on: list[str],
              how: str = "inner") -> DataFrame:
    """HashJoinStream / OuterHashJoinStream: right side is hashed in
    memory -> broadcast hash join."""
    return left.join(F.broadcast(right), on=on, how=how)


def inner_join(left: DataFrame, right: DataFrame, on: list[str],
               how: str = "inner") -> DataFrame:
    """InnerJoinStream / LeftOuterJoinStream: sort-merge join on sorted
    streams — hint Catalyst to SortMergeJoin (its distributed form)."""
    return left.hint("merge").join(right, on=on, how=how)


def intersect_stream(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """IntersectStream: keep left tuples whose key appears in right
    (semi-join semantics, non-duplicating)."""
    return left.join(right.select(*on), on=on, how="left_semi")


def complement_stream(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """ComplementStream: keep left tuples whose key does NOT appear in
    right (anti-join)."""
    return left.join(right.select(*on), on=on, how="left_anti")


def rollup_stream(df: DataFrame, over: list[str], metrics: list[Column]) -> DataFrame:
    """RollupStream: grouped metrics over the sort key — partial+final agg."""
    return df.groupBy(*over).agg(*metrics)


def stats_stream(df: DataFrame, metrics: list[Column]) -> DataFrame:
    """StatsStream: global aggregates."""
    return df.agg(*metrics)


def fetch_stream(df: DataFrame, lookup: DataFrame, on: list[str],
                 fields: list[str]) -> DataFrame:
    """FetchStream: batched enrichment by key — broadcast left join pulling
    ``fields`` from the lookup table."""
    return df.join(F.broadcast(lookup.select(*on, *fields)), on=on, how="left")


def reduce_stream(df: DataFrame, by: list[str], fn, schema: str) -> DataFrame:
    """ReducerStream: the grouped-map UDAF surface — Solr groups the
    sorted tuple stream by the ``by`` fields and hands each group to a
    user Reduce operation. The Spark form is ``groupBy().applyInPandas``:
    ``fn(pdf) -> pdf`` receives one group as an Arrow-batched pandas
    frame and returns its reduction rows (distributed partial groups are
    impossible here — Spark shuffles the whole group to one task, which
    is exactly ReducerStream's contract)."""
    return df.groupBy(*by).applyInPandas(fn, schema=schema)


def having_stream(df: DataFrame, predicate: Column) -> DataFrame:
    """HavingStream (``having(expr)``): keep tuples satisfying a boolean
    evaluator — a narrow Catalyst filter (post-aggregation in the usual
    rollup(...) | having(...) composition)."""
    return df.filter(predicate)


def cartesian_product(df: DataFrame, field: str,
                      out: str | None = None) -> DataFrame:
    """CartesianProductStream (``cartesianProduct(stream, field)``,
    u8:solr/solrj/.../io/stream/CartesianProductStream.java): emit one
    tuple per element of a multi-valued field, the other fields
    duplicated — Spark's ``explode``, a narrow rowwise expansion (no
    shuffle; output partitioning follows the input)."""
    return df.withColumn(out or field, F.explode(F.col(field)))


def random_stream(df: DataFrame, key_col: str, n: int,
                  seed: str = "0") -> DataFrame:
    """RandomStream / ``random()`` (public knowledge:
    ``u8:solr/solrj/.../io/stream/RandomStream.java``, Solr's
    RandomSortField): n pseudo-random rows, DETERMINISTIC for a given
    seed — reruns and retries return the same sample (Solr seeds its
    random sort per request; this engine pins the seed explicitly so the
    sample is layout- and scale-invariant, the property the
    deterministic-sampling textops also guarantee).

    Order key = sha256(seed ':' key) — a pure per-row expression, so the
    plan is scan → TakeOrderedAndProject; no shuffle beyond the top-n
    merge, membership independent of partitioning.
    """
    h = F.sha2(F.concat(F.lit(str(seed) + ":"),
                        F.col(key_col).cast("string")), 256)
    return (df.withColumn("_rnd", h)
            .orderBy(F.col("_rnd").asc(), F.col(key_col).asc())
            .limit(n).drop("_rnd"))


def knn_regress(points: DataFrame, queries: DataFrame, feat_cols: list[str],
                target_col: str, k: int = 5,
                id_col: str = "doc_id", qid_col: str = "qid") -> DataFrame:
    """knnRegress / ``knn()`` regression (public knowledge:
    ``u8:solr/solrj/.../io/eval/KnnRegressionEvaluator.java``): for each
    query row, predict the mean ``target_col`` of its k nearest training
    points by euclidean distance over ``feat_cols``.

    Scale shape: the QUERY set is the small side — broadcast-joined
    against the distributed training points (never points × points); the
    per-query k-NN cut is a window over (qid, dist) — each query's
    candidate set is grouped, partial-aggregated after the rank filter.
    Ties at the k-boundary break by ascending point id (pinned, so the
    prediction is deterministic).
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    q = queries.select(F.col(qid_col).alias("_qid"),
                       *[F.col(c).alias(f"_q_{c}") for c in feat_cols])
    dist = None
    for c in feat_cols:
        d = (F.col(c).cast("double") - F.col(f"_q_{c}").cast("double"))
        dist = d * d if dist is None else dist + d * d
    pairs = (points.select(id_col, target_col, *feat_cols)
             .crossJoin(broadcast(q))
             .withColumn("_dist", F.sqrt(dist)))
    w = Window.partitionBy("_qid").orderBy(F.col("_dist").asc(),
                                           F.col(id_col).asc())
    return (pairs.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .groupBy(F.col("_qid").alias(qid_col))
            .agg(F.avg(F.col(target_col).cast("double")).alias("prediction"),
                 F.count(F.lit(1)).alias("k_used")))


def sessionize(events: DataFrame, ts_col: str = "ts",
               gap: str = "30 minutes", by: tuple = ("user_id",),
               value_col: str = "value",
               watermark: str | None = None) -> DataFrame:
    """Session windows — gap-based sessionization (public knowledge:
    Spark's documented ``session_window`` pattern; the capability Solr
    users build with daemon+rollup streams over event logs): consecutive
    events of a group belonging to one session while each arrives within
    ``gap`` of the previous (boundary INCLUSIVE — an event at exactly
    prev+gap extends the session, Spark's pinned semantics);
    session_end = last event + gap. Works identically on a batch frame
    (complete result, the oracle shape) and a streaming one (pass
    ``watermark``; state is bounded by the gap horizon).

    Scale shape: one partial+final agg keyed by (session_window, group);
    no self-join, no window-function over the full stream.
    """
    src = (events.withWatermark(ts_col, watermark)
           if events.isStreaming and watermark else events)
    return (src.groupBy(F.session_window(F.col(ts_col), gap).alias("s"),
                        *by)
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum(F.col(value_col).cast("double"))
                 .cast("float").cast("double").alias("sum_value"))
            .select(*by, F.col("s.start").alias("session_start"),
                    F.col("s.end").alias("session_end"),
                    "n_events", "sum_value"))


def gather_nodes(edges: DataFrame, roots: DataFrame, rounds: int,
                 from_col: str = "src", to_col: str = "dst") -> DataFrame:
    """GatherNodesStream / ``nodes()`` (public knowledge:
    ``u8:solr/solrj/.../io/graph/GatherNodesStream.java``): breadth-first
    edge walk from a root node set for a FIXED number of gather rounds.

    Pinned spec: returns every node reachable in <= ``rounds`` hops with
    its minimal hop distance as ``level`` (roots at level 0 — Solr's
    returnRoot=true shape); a node discovered at two levels keeps the
    smaller one (Solr's per-traversal dedup).

    ``roots`` is a one-column DataFrame named ``node``. Scale shape: the
    round count is an operator constant (a plan literal, never
    data-proportional), so the loop unrolls into ``rounds`` join stages.
    Each round is one equi-join of the edge table against the current
    frontier plus an anti-join against the seen set — all shuffles are
    keyed by node id; Catalyst broadcasts the frontier side automatically
    when it is small (AQE), which is the common fan-out case. Nothing is
    collected to the driver.
    """
    seen = roots.select(F.col("node")).distinct() \
        .withColumn("level", F.lit(0).cast("long"))
    frontier = seen.select("node")
    for lvl in range(1, rounds + 1):
        nxt = (edges.join(frontier.withColumnRenamed("node", from_col),
                          from_col)
               .select(F.col(to_col).alias("node")).distinct()
               .join(seen.select("node"), "node", "left_anti")
               .withColumn("level", F.lit(lvl).cast("long")))
        seen = seen.unionByName(nxt)
        frontier = nxt.select("node")
    return seen.orderBy("level", "node")


def graph_query(docs: DataFrame, root, id_col: str, from_col: str,
                to_col: str, max_depth: int = -1) -> DataFrame:
    """GraphQuery / ``{!graph}`` query parser (public knowledge:
    u8:solr/core/src/java/org/apache/solr/search/join/GraphQuery.java
    ~400 LoC, GraphQueryParser.java): docs matching the root query, plus
    every doc transitively linked from them, traversing until FIXPOINT
    (``maxDepth=-1``) or the depth cap.

    Link rule (Solr's): gather the frontier docs' ``from_col`` values;
    the next frontier is every unvisited doc whose ``to_col`` equals one
    of them. Returns (``id_col``, ``level``) with the minimal hop level
    (roots = 0, returnRoot=true).

    Unlike :func:`gather_nodes` (fixed unrolled rounds), the fixpoint
    form needs one driver-side emptiness check per level — the loop
    count is bounded by the GRAPH DIAMETER, an operator-scale constant
    for the hierarchies {!graph} serves (Solr's own implementation is
    the same breadth-first rounds on one node). Cycles terminate via the
    visited anti-join. Each frontier is locally checkpointed so lineage
    stays O(1) per level; joins are keyed equi-joins (AQE broadcasts the
    frontier when small — the common case). Nothing data-proportional
    reaches the driver: the per-level action is count()==0 only.
    """
    roots = (docs.filter(root)
             .select(F.col(id_col).alias("id"),
                     F.col(from_col).alias("_v")).distinct()
             .localCheckpoint(eager=True))
    out = roots.select("id").withColumn("level", F.lit(0).cast("long"))
    visited = roots.select("id")
    frontier = roots
    depth = 0
    while max_depth < 0 or depth < max_depth:
        vals = frontier.select(F.col("_v").alias("_match")).distinct()
        nxt = (docs.join(vals, docs[to_col] == F.col("_match"))
               .select(F.col(id_col).alias("id"),
                       F.col(from_col).alias("_v")).distinct()
               .join(visited, "id", "left_anti")
               .localCheckpoint(eager=True))  # cut the growing lineage
        if nxt.isEmpty():
            break
        depth += 1
        out = out.unionByName(
            nxt.select("id").withColumn("level",
                                        F.lit(depth).cast("long")))
        visited = visited.unionByName(nxt.select("id")) \
            .localCheckpoint(eager=True)
        frontier = nxt
    return out.orderBy("level", "id")


def significant_terms(index, corpus: DataFrame, query, k: int = 10,
                      min_doc_freq: int = 1, min_term_length: int = 1
                      ) -> DataFrame:
    """SignificantTermsStream: terms over-represented in a query's result
    set vs the whole corpus (u8:solr/solrj/.../io/stream/
    SignificantTermsStream.java — SURVEY.md §2.9, previously scoped out).

    Pinned engine spec (relative-risk form of Solr's foreground/background
    scoring): for each term t appearing in at least ``min_doc_freq`` of
    the foreground docs F = docs(query),

        score(t) = (fg_df * N) / (F * bg_df)

    computed as ONE integer-product division (bit-deterministic across
    engines), where fg_df = |{d in F : t in d}|, bg_df = the term
    dictionary's df, N = doc_count. Output: (term, fg_df, bg_df, score),
    score DESC, term ASC, top k.

    Scale shape: the foreground doc set never leaves the cluster — the
    match set is joined to the corpus (semi-join on doc_id), matching
    docs are re-tokenized with the Arrow-vectorized analyzer (cost ∝
    |F|, Solr's term-vector walk equivalent), per-term distinct-doc
    counts are a partial-aggregated groupBy, and background df comes
    from the term dictionary (termstats) — no full-postings scan, no
    driver-side collect.
    """
    from sparklucene.analysis import make_tokenize_udf
    from sparklucene.search import matches

    tok = make_tokenize_udf()
    fg_docs = matches(index, query).select("doc_id")
    fg_terms = (corpus.join(fg_docs, "doc_id", "left_semi")
                .select("doc_id",
                        F.explode(F.array_distinct(tok(F.col("content"))))
                        .alias("term")))
    if min_term_length > 1:
        fg_terms = fg_terms.filter(F.length("term") >= min_term_length)
    fg_df = (fg_terms.groupBy("term")
             .agg(F.count("*").alias("fg_df"))
             .filter(F.col("fg_df") >= min_doc_freq))
    fg_n = fg_docs.agg(F.count("*").alias("fg_n"))
    bg = index.termstats().select("term", F.col("df").alias("bg_df"))
    n_docs = int(index.stats["doc_count"])
    return (fg_df.join(bg, "term").crossJoin(F.broadcast(fg_n))
            .select("term", "fg_df", "bg_df",
                    ((F.col("fg_df") * F.lit(n_docs)).cast("double")
                     / (F.col("fg_n") * F.col("bg_df")).cast("double"))
                    .alias("score"))
            .orderBy(F.desc("score"), F.asc("term")).limit(k))


def shortest_path(edges: DataFrame, from_node: str, to_node: str,
                  max_depth: int, from_col: str = "src",
                  to_col: str = "dst") -> DataFrame:
    """ShortestPathStream / ``shortestPath()`` (public knowledge:
    ``u8:solr/solrj/.../io/graph/ShortestPathStream.java``): level-
    synchronous BFS over a directed edge relation from ``from_node``
    toward ``to_node``, bounded by ``max_depth`` hops.

    Pinned spec (the reference's iterative-join semantics): a node first
    reached at level L is never re-expanded at a deeper level (per-
    traversal visited set — cycle and explosion control), but EVERY
    distinct shortest path of length L that reaches the target in the
    same iteration is emitted (Solr returns all tied shortest paths, one
    tuple per path). If the target is unreachable within ``max_depth``
    the result is empty. Output: one row per path — ``path`` is the
    '->'-joined node string from root to target, ``level`` its hop count.

    Scale shape: each BFS round is one equi-join of the (deduplicated)
    edge table against the current frontier keyed by node id, plus an
    anti-join against the visited set — all shuffles keyed, nothing
    data-proportional on the driver. The per-round found/exhausted test
    is a count() action (a scalar), mirroring the reference's own
    per-iteration driver barrier. Rounds are bounded by the operator
    constant ``max_depth``. Paths are carried as a string column whose
    width is bounded by max_depth * node-id width (plan literal bounds,
    not data bounds).
    """
    e = (edges.select(F.col(from_col).alias("_sp_src"),
                      F.col(to_col).alias("_sp_dst")).distinct())
    spark = edges.sparkSession
    frontier = (spark.createDataFrame([(from_node, from_node)],
                                      "node string, path string"))
    if from_node == to_node:
        return frontier.withColumn("level", F.lit(0).cast("long")) \
            .select("path", "level")
    visited = frontier.select("node")
    out_schema = "path string, level bigint"
    for lvl in range(1, max_depth + 1):
        nxt = (e.join(frontier.withColumnRenamed("node", "_sp_src"),
                      "_sp_src")
               .select(F.col("_sp_dst").alias("node"),
                       F.concat(F.col("path"), F.lit("->"),
                                F.col("_sp_dst")).alias("path"))
               .join(visited, "node", "left_anti"))
        nxt = nxt.localCheckpoint(eager=True)  # cut the growing lineage
        hits = nxt.filter(F.col("node") == to_node)
        if hits.limit(1).count() > 0:
            return (hits.select("path",
                                F.lit(lvl).cast("long").alias("level"))
                    .orderBy("path"))
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt.select("node").distinct()) \
            .distinct()
        frontier = nxt
    return spark.createDataFrame([], out_schema)


def score_nodes(nodes: DataFrame, termstats: DataFrame, doc_count: int,
                node_col: str = "node", count_col: str = "count",
                ) -> DataFrame:
    """ScoreNodesStream / ``scoreNodes()`` (public knowledge:
    ``u8:solr/solrj/.../io/graph/ScoreNodesStream.java``): annotate a
    node-tuple stream (typically the output of ``nodes()`` with a
    ``count(*)`` aggregation) with a tf-idf relevance score so graph
    recommendations rank by informativeness rather than raw frequency.

    Pinned spec: nodeScore = count * ln(doc_count / df), rounded through
    float32 (the engine's cross-engine determinism contract for
    transcendental results — JVM log and other libms differ in the last
    double bit), where df is the node term's document frequency in the
    index's term dictionary (the reference issues a TermsComponent
    lookup per node batch; here the dictionary IS a relation so the
    lookup is a join). Nodes absent from the dictionary are dropped
    (df=0 has no defined idf — the reference only emits nodes it could
    resolve). Ties order by node asc.

    Scale shape: the node stream is operator-output-sized (k-bounded by
    the upstream gather), so Catalyst broadcasts it against the term
    dictionary; df never leaves the cluster un-aggregated.
    """
    ts = termstats.select(F.col("term").alias(node_col),
                          F.col("df").alias("_sn_df"))
    return (nodes.join(ts, node_col)
            .select(node_col, F.col(count_col),
                    (F.col(count_col).cast("double")
                     * F.log(F.lit(float(doc_count)) /
                             F.col("_sn_df").cast("double")))
                    .cast("float").cast("double")
                    .alias("node_score"))
            .orderBy(F.desc("node_score"), F.asc(node_col)))


def timeseries(df: DataFrame, ts_col: str, start: str, end: str,
               gap: int, unit: str,
               metrics: dict[str, tuple[Column, object]]) -> DataFrame:
    """TimeSeriesStream / ``timeseries()`` (public knowledge:
    ``u8:solr/solrj/.../io/stream/TimeSeriesStream.java``, backed by the
    JSON range facet): bucketed metrics over a time column with
    gap-filling — EVERY bucket in [start, end) appears exactly once,
    empty buckets carry each metric's fill value (the facet's zero
    buckets; mincount=0 semantics).

    Pinned spec: buckets are anchored at ``start`` with width ``gap``
    ``unit`` (MONTH | DAY | HOUR); rows with ts outside [start, end) are
    ignored; the final bucket may be partial (range-facet behavior);
    output is (bucket_start timestamp, *metrics) sorted bucket asc.
    For MONTH gaps ``start`` must sit on a month boundary (the reference
    allows arbitrary date-math anchors; the month-arithmetic bucket
    index below needs the boundary — DAY/HOUR anchors are free).

    ``metrics`` maps output column -> (aggregate Column, fill value).

    Scale shape: the bucket index is one narrow integer expression (no
    UDF), the aggregation is partial+final hash agg on the bucket id,
    and the calendar is an operator-constant relation (bucket count is a
    plan literal) broadcast for the zero-fill outer join — nothing
    data-proportional leaves the cluster.
    """
    from datetime import datetime, timedelta

    t0 = datetime.fromisoformat(start)
    t1 = datetime.fromisoformat(end)
    if t1 <= t0:
        raise ValueError("end must be after start")
    unit = unit.upper()
    ts = F.col(ts_col)
    if unit == "MONTH":
        if t0.day != 1 or t0.hour or t0.minute or t0.second:
            raise ValueError("MONTH gaps need a month-boundary start")
        base = t0.year * 12 + (t0.month - 1)
        idx = ((F.year(ts) * 12 + (F.month(ts) - 1)) - base) \
            .cast("long") / F.lit(gap)
        idx = F.floor(idx)
        starts = []
        m = 0
        while True:
            y, mo = divmod(base + m, 12)
            b = datetime(y, mo + 1, 1)
            if b >= t1:
                break
            starts.append(b)
            m += gap
    else:
        secs = {"DAY": 86400, "HOUR": 3600}[unit] * gap
        # both epoch conversions happen Spark-side so the session
        # timezone cancels (python .timestamp() would re-interpret the
        # naive anchor in the driver's OS zone)
        idx = F.floor((F.unix_timestamp(ts) - F.unix_timestamp(F.lit(t0)))
                      / F.lit(secs))
        starts, b = [], t0
        while b < t1:
            starts.append(b)
            b = b + timedelta(seconds=secs)
    spark = df.sparkSession
    cal = spark.createDataFrame(
        [(i, s) for i, s in enumerate(starts)],
        "_ts_idx long, bucket_start timestamp")
    agg = (df.filter((ts >= F.lit(t0)) & (ts < F.lit(t1)))
           .groupBy(idx.alias("_ts_idx"))
           .agg(*[c.alias(n) for n, (c, _) in metrics.items()]))
    out = F.broadcast(cal).join(agg, "_ts_idx", "left")
    fills = [F.coalesce(F.col(n), F.lit(fill)).alias(n)
             for n, (_, fill) in metrics.items()]
    return out.select("bucket_start", *fills).orderBy("bucket_start")


def features_selection(docs: DataFrame, is_positive, k: int = 10,
                       min_df: int = 1, text_col: str = "text",
                       stopwords=None) -> DataFrame:
    """FeaturesSelectionStream / ``features()`` (public knowledge:
    ``u8:solr/solrj/.../io/stream/FeaturesSelectionStream.java`` backed
    by ``u8:solr/core/.../search/IGainTermsQParserPlugin.java``): rank
    terms by information gain for separating a binary class — the
    feature-selection half of the reference's text-classification
    pipeline (``features()`` -> ``train()``).

    Pinned spec (standard binary information gain over binary term
    presence, the IGain parser's model): with N training docs, P
    positives, and per term t: n_t docs containing t, p_t positives
    containing t,

        H(x)  = -(x·log2 x + (1-x)·log2(1-x)),  0·log2 0 := 0
        IG(t) = H(P/N) - (n_t/N)·H(p_t/n_t)
                       - ((N-n_t)/N)·H((P-p_t)/(N-n_t))

    rounded through float32 (the engine's transcendental-determinism
    contract). Output: (term, df, pos_df, ig) — ig desc, term asc, top
    ``k``; terms in fewer than ``min_df`` docs are dropped.

    ``is_positive`` is a boolean Column over ``docs`` (the classQ).

    Scale shape: one Arrow-vectorized tokenize pass, one partial+final
    groupBy(term) counting (df, pos_df) with a conditional sum, the two
    global counts broadcast as a 1-row cross join, and the IG expression
    narrow — no UDF in the aggregation, no driver-side data.
    """
    from sparklucene.analysis import ENGLISH_STOP_WORDS, make_tokenize_udf

    tok = make_tokenize_udf(stopwords if stopwords is not None
                            else ENGLISH_STOP_WORDS)
    labeled = docs.select(F.col(text_col).alias("_fs_text"),
                          is_positive.cast("int").alias("_fs_pos"))
    totals = labeled.agg(F.count("*").alias("n"),
                         F.sum("_fs_pos").alias("p"))
    terms = (labeled.select(
                "_fs_pos",
                F.explode(F.array_distinct(tok(F.col("_fs_text"))))
                .alias("term"))
             .groupBy("term")
             .agg(F.count("*").alias("df"),
                  F.sum("_fs_pos").alias("pos_df"))
             .filter(F.col("df") >= min_df))

    def h(x):  # binary entropy, 0 log 0 = 0
        x1 = F.lit(1.0) - x
        t0 = F.when(x <= 0.0, F.lit(0.0)).otherwise(x * F.log2(x))
        t1 = F.when(x1 <= 0.0, F.lit(0.0)).otherwise(x1 * F.log2(x1))
        return -(t0 + t1)

    n = F.col("n").cast("double")
    p = F.col("p").cast("double")
    df_ = F.col("df").cast("double")
    pdf = F.col("pos_df").cast("double")
    # a term present in EVERY doc has an empty complement: its weight is
    # 0, but the inner ratio would be 0/0 — guard the whole addend
    compl = F.when(n - df_ <= 0.0, F.lit(0.0)) \
        .otherwise(((n - df_) / n) * h((p - pdf) / (n - df_)))
    ig = h(p / n) - (df_ / n) * h(pdf / df_) - compl
    return (terms.crossJoin(F.broadcast(totals))
            .select("term", "df", "pos_df",
                    ig.cast("float").cast("double").alias("ig"))
            .orderBy(F.desc("ig"), F.asc("term")).limit(k))


def train_logit(docs: DataFrame, is_positive, terms: list[str],
                iterations: int = 3, lr: float = 0.5,
                text_col: str = "text", stopwords=None) -> DataFrame:
    """TextLogitStream / ``train()`` (public knowledge:
    ``u8:solr/solrj/.../io/stream/TextLogitStream.java`` backed by
    ``u8:solr/core/.../search/TextLogisticRegressionQParserPlugin.java``):
    train a binary logistic-regression classifier over term features —
    the modelling half of the reference's ``features() -> train()`` text
    pipeline.

    Pinned spec (batch gradient ascent on the log-likelihood, the
    textbook model the reference's per-shard-SGD approximates; exact so
    the SQL oracle can unroll it):

        x_d      = [1, b_1 .. b_m]   (intercept + binary term presence)
        sigma(z) = 1 / (1 + exp(-z))
        w_0      = 0
        w_{i+1}  = w_i + lr/N * X^T (y - sigma(X w_i))

    for a FIXED iteration count. Float determinism: z and sigma are
    single f64 expression trees (glibc exp on both engines); every
    per-doc gradient addend is rounded to float32 before the f64 sum
    (exact and order-proof — the bm25.py summation contract); the
    published weights are float32-rounded.

    Returns (feature, weight): '__intercept__' row first, then the
    terms in the caller's order.

    Scale shape: ONE tokenize + conditional-agg pass materializes the
    N x (m+1) feature frame (m is an operator constant — the features()
    output, never data-scale); each iteration is one partial+final
    aggregation producing m+1 doubles to the driver, and the weight
    vector re-enters the next plan as literals. Driver traffic is
    O(iterations * m), independent of corpus size.
    """
    import math

    from sparklucene.analysis import ENGLISH_STOP_WORDS, make_tokenize_udf

    tok = make_tokenize_udf(stopwords if stopwords is not None
                            else ENGLISH_STOP_WORDS)
    bcols = [F.array_contains(F.col("_toks"), t).cast("double")
             .alias(f"b{j}") for j, t in enumerate(terms)]
    feat = (docs.select(is_positive.cast("double").alias("y"),
                        tok(F.col(text_col)).alias("_toks"))
            .select("y", *bcols)
            .localCheckpoint(eager=True))  # tokenize once, reuse per iter
    n = feat.count()

    m = len(terms)
    w = [0.0] * (m + 1)  # [intercept, w_1..w_m]
    for _ in range(int(iterations)):
        z = F.lit(w[0])
        for j in range(m):
            z = z + F.lit(w[j + 1]) * F.col(f"b{j}")
        resid = F.col("y") - F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        aggs = [F.sum(resid.cast("float").cast("double")).alias("g0")]
        aggs += [F.sum((resid * F.col(f"b{j}")).cast("float")
                       .cast("double")).alias(f"g{j + 1}")
                 for j in range(m)]
        g = feat.agg(*aggs).collect()[0]
        w = [w[j] + lr / float(n) * float(g[f"g{j}"])
             for j in range(m + 1)]

    spark = docs.sparkSession
    rows = [("__intercept__", float(__import__("numpy").float32(w[0])))]
    rows += [(t, float(__import__("numpy").float32(w[j + 1])))
             for j, t in enumerate(terms)]
    return spark.createDataFrame(rows, "feature string, weight double")
