"""Document routing / sharded collections — Solr's implicit, compositeId
and time-routed-alias routing surface re-expressed Spark-first.

Reference behavior (public): Solr routes documents to shards by a route
key (``router.field`` / compositeId prefix,
u8:solr/solrj/src/java/org/apache/solr/common/cloud/ImplicitDocRouter.java,
CompositeIdRouter.java); a query carrying ``_route_=`` touches ONLY the
matching shard(s), while an unrouted query fans out to every shard and
merges per-shard top-k. Solr's DEFAULT distributed scoring uses
**per-shard statistics** (LocalStatsCache,
u8:solr/core/.../search/stats/LocalStatsCache.java); distributed IDF is
the opt-in ExactStatsCache
(u8:solr/core/.../search/stats/ExactStatsCache.java), which merges
df/doc_count across shards once per request so every shard scores with
GLOBAL statistics and distributed ranking equals single-index ranking.
This module pins exactly those semantics: ``stats="local"`` (default)
vs ``stats="global"``.

Spark-first shape: one sub-index per route value under
``<base>/route=<encoded>/`` (hive-style layout), plus a tiny
``routes.json`` manifest. A routed query opens ONE sub-index — at 100 TB
this is the partition-pruning story: the scan reads 1/N of the postings
bytes by directory layout alone, before any Spark filter runs. Fan-out
unions the per-route k-bounded top-k frames (each one the ordinary
two-phase plan) and takes the global top-k — candidate rows shipped to
the driver stay <= n_routes * k. The global-stats mode first sums the
query terms' df/cf over the per-route driver-held term dictionaries
(no Spark job, never the postings).

CompositeId router: Solr splits the 32-bit murmur3 hash ring into
``n_shards`` contiguous ranges and routes ``shard_key!id`` by
``hash16(shard_key) << 16 | hash16(id)`` so all docs sharing a prefix
co-locate within at most a couple of adjacent ranges. We mirror that
STRUCTURE exactly (hash ring, contiguous ranges, prefix drives the high
16 bits, ``_route_="key!"`` prunes to the ranges covering the prefix's
2^16-wide window) but derive the bits from sha256 instead of
murmur3_x86_32: sha256 is computable identically by Spark
(``sha2(x, 256)``) and any SQL oracle, making shard assignment itself
verifiable end-to-end, and the hash choice does not change the routing
semantics (documented divergence from Solr's murmur3).

Route cardinality contract: like Solr shard counts, the number of
distinct route values is operator-scale (10s-1000s), not data-scale —
the build enumerates them with one distinct() and builds per-route
indexes through a thread pool (each build is itself a fully parallel
Spark job; overlapping them keeps the cluster busy while one route's
merge stage drains).
"""

from __future__ import annotations

import hashlib
import json
import os
from concurrent.futures import ThreadPoolExecutor
from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparklucene.build import build_index
from sparklucene.scorer import GlobalStats, TermStats
from sparklucene.search import Index, search

# --------------------------------------------------------------------------
# route-value path safety
# --------------------------------------------------------------------------

_SAFE_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_.")


def route_dirname(route: str) -> str:
    """Encode a route value into a filesystem-safe directory component.

    Route values are DATA — a value containing '/', '..', '%', or any
    other path-hostile character must not be able to escape the base
    directory or collide with another value's directory. Percent-encode
    every byte outside [A-Za-z0-9-_.] ('%' itself is unsafe, so the
    encoding is injective); reject empty values. A leading '.' is
    encoded too, so '.', '..' and hidden-file names cannot occur."""
    if not isinstance(route, str) or route == "":
        raise ValueError(f"invalid route value: {route!r}")
    out = []
    for i, b in enumerate(route.encode("utf-8")):
        c = chr(b)
        if c in _SAFE_CHARS and not (i == 0 and c == "."):
            out.append(c)
        else:
            out.append(f"%{b:02X}")
    return "route=" + "".join(out)


def _routes_path(base_dir: str) -> str:
    return os.path.join(base_dir, "routes.json")


def _write_manifest(base_dir: str, payload: dict) -> None:
    tmp = _routes_path(base_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, indent=2, sort_keys=True)
    os.replace(tmp, _routes_path(base_dir))


def _build_many(spark: SparkSession, jobs: list[tuple[str, DataFrame, str]],
                max_workers: int | None, **build_kwargs) -> dict[str, dict]:
    """Build every (route, sub_corpus, sub_dir) index through a thread
    pool. Each build_index call is itself a fully parallel Spark job;
    overlapping them (Spark's scheduler is thread-safe) hides the
    serial merge/stats tail of one route behind the invert of the next —
    the fix for route counts in the 100s."""
    workers = max(1, min(len(jobs), max_workers or 4))

    def one(job):
        rt, sub, sub_dir = job
        stats = build_index(spark, sub, sub_dir, **build_kwargs)
        return rt, {"dir": os.path.basename(sub_dir),
                    "n_docs": stats["n_docs"]}

    if workers == 1:
        results = [one(j) for j in jobs]
    else:
        with ThreadPoolExecutor(max_workers=workers) as pool:
            results = list(pool.map(one, jobs))
    return dict(results)


# --------------------------------------------------------------------------
# implicit router (route by field value)
# --------------------------------------------------------------------------

def build_routed_index(spark: SparkSession, corpus: DataFrame,
                       base_dir: str, route_col: str = "lang",
                       max_workers: int | None = None,
                       **build_kwargs) -> dict:
    """Build one sub-index per distinct ``route_col`` value (Solr's
    ImplicitDocRouter). Returns the route manifest
    {route: {"n_docs": ..., "dir": ...}}."""
    routes = sorted(r[0] for r in corpus.select(route_col).distinct()
                    .collect() if r[0] is not None)
    if not routes:
        raise ValueError(f"no route values in column {route_col!r}")
    os.makedirs(base_dir, exist_ok=True)
    jobs = [(rt, corpus.filter(F.col(route_col) == rt),
             os.path.join(base_dir, route_dirname(rt))) for rt in routes]
    manifest = _build_many(spark, jobs, max_workers, **build_kwargs)
    _write_manifest(base_dir, {"router": "implicit", "route_col": route_col,
                               "routes": manifest})
    return manifest


def load_routes(base_dir: str) -> dict:
    with open(_routes_path(base_dir)) as fh:
        return json.load(fh)


def _merged_stats(spark: SparkSession, dirs: list[str],
                  terms: list[str]) -> GlobalStats:
    """ExactStatsCache merge: global doc_count/sum_dl from the per-shard
    stats manifests, global per-term df/cf summed over each shard's
    driver-held term dictionary (``Index.term_stats_for``). No Spark
    job, never touches posting cells; a term absent from every shard
    stays absent."""
    doc_count = 0
    sum_dl = 0
    merged: dict[str, TermStats] = {}
    for d in dirs:
        idx = Index.shared(spark, d)
        doc_count += int(idx.stats["doc_count"])
        sum_dl += int(idx.stats["sum_dl"])
        for t, ts in idx.term_stats_for(terms).items():
            m = merged.get(t, TermStats(df=0, cf=0))
            merged[t] = TermStats(df=m.df + ts.df, cf=m.cf + ts.cf)
    return GlobalStats(doc_count=doc_count, sum_dl=sum_dl,
                       term_stats=merged)


def _fanout(spark: SparkSession, base_dir: str, routes: dict, query, k: int,
            mode: str, prune: bool, stats: str) -> DataFrame:
    from sparklucene.query import qualify
    from sparklucene.search import _as_query

    dirs = {rt: os.path.join(base_dir, info["dir"])
            for rt, info in sorted(routes.items())
            if info.get("dir") is not None}
    if not dirs:  # manifest where every shard is empty (dir=None):
        # same guard as routed_facet_field/routed_grouped_topk/
        # routed_suggest — ThreadPoolExecutor(max_workers=0) raises.
        return spark.createDataFrame(
            [], "doc_id long, score double, route string")
    override = None
    if stats == "global":
        q = qualify(_as_query(query))
        terms = sorted(set(q.terms()) | set(q.neg_terms()))
        override = _merged_stats(spark, list(dirs.values()), terms)
    elif stats != "local":
        raise ValueError(f"stats must be 'local' or 'global': {stats!r}")
    # Solr's coordinator shape, literally: every shard request is an
    # INDEPENDENT query issued concurrently (a serial loop — or one
    # union plan, whose branches the scheduler effectively serializes —
    # pays n_routes × per-request latency), and the coordinator merges
    # the k-bounded responses. Driver state stays <= n_routes * k rows.
    def _part(item):
        rt, d = item
        rows = search(Index.shared(spark, d), query, k=k, mode=mode,
                      prune=prune, stats_override=override).collect()
        return [(int(r["doc_id"]), float(r["score"]), rt) for r in rows]

    with ThreadPoolExecutor(max_workers=min(8, len(dirs))) as pool:
        hits = [h for part in pool.map(_part, sorted(dirs.items()))
                for h in part]
    hits.sort(key=lambda h: (-h[1], h[0]))  # == ORDER BY score DESC, doc_id
    return spark.createDataFrame(hits[:k],
                                 "doc_id long, score double, route string")


def routed_search(spark: SparkSession, base_dir: str, query,
                  route: str | None = None, k: int = 10,
                  mode: str = "lucene8", prune: bool = True,
                  stats: str = "local") -> DataFrame:
    """Search a routed collection.

    ``route=<value>`` → ONE sub-index is opened and scanned (shard
    pruning); ``route=None`` → fan-out over every route, merged by
    (score desc, doc_id asc). ``stats`` picks the distributed-IDF mode:
    ``"local"`` = per-shard statistics (Solr default LocalStatsCache),
    ``"global"`` = merged statistics (ExactStatsCache) — with global
    stats the fan-out ranking is identical to one unrouted index.
    Result carries a ``route`` column."""
    meta = load_routes(base_dir)
    routes = meta["routes"]
    if route is not None:
        if route not in routes:
            raise KeyError(f"unknown route {route!r}: not one of "
                           f"{sorted(routes)}")
        idx = Index.shared(spark, os.path.join(base_dir, routes[route]["dir"]))
        return (search(idx, query, k=k, mode=mode, prune=prune)
                .withColumn("route", F.lit(route)))
    return _fanout(spark, base_dir, routes, query, k, mode, prune, stats)


# --------------------------------------------------------------------------
# compositeId hash-range router
# --------------------------------------------------------------------------

RING = 1 << 32  # the 32-bit hash ring


def hash16(s: str) -> int:
    """High-16-bit route hash: first 4 hex digits of sha256(utf8(s)).
    (Solr uses murmur3_x86_32 >> 16; see module docstring for why the
    bit source differs while the ring structure is identical.)"""
    return int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:4], 16)


def hash32(s: str) -> int:
    """Full-ring hash: first 8 hex digits of sha256(utf8(s))."""
    return int(hashlib.sha256(s.encode("utf-8")).hexdigest()[:8], 16)


def composite_hash32(doc_key: str, shard_key: str | None = None) -> int:
    """CompositeIdRouter hash: ``shard_key!id`` → shard_key drives the
    high 16 bits (co-location), id the low 16; a bare id hashes over the
    full ring."""
    if shard_key is None:
        return hash32(doc_key)
    return (hash16(shard_key) << 16) | hash16(doc_key)


def shard_of(h: int, n_shards: int) -> int:
    """Contiguous-range shard for ring position ``h``: the ring splits
    into n_shards ranges [ceil(s*2^32/n), ceil((s+1)*2^32/n)) and
    ``(h * n) >> 32`` is the exact inverse mapping."""
    return (h * n_shards) >> 32


def _hash32_col(id_col: str, key_col: str | None):
    """Spark Column computing the composite ring hash."""
    def h(col, n):  # first n hex digits of sha256 -> long
        return F.conv(F.substring(F.sha2(F.col(col).cast("string"), 256),
                                  1, n), 16, 10).cast("long")
    if key_col is None:
        return h(id_col, 8)
    return F.shiftleft(h(key_col, 4), 16) + h(id_col, 4)


def build_hashed_index(spark: SparkSession, corpus: DataFrame,
                       base_dir: str, n_shards: int,
                       id_col: str = "doc_id",
                       shard_key_col: str | None = None,
                       max_workers: int | None = None,
                       **build_kwargs) -> dict:
    """CompositeId router build: assign each doc a ring hash (from
    ``shard_key_col!id_col`` when a shard-key column is given, else from
    ``id_col`` alone), split the ring into ``n_shards`` contiguous
    ranges, and build one sub-index per shard.

    The shard assignment is a narrow Catalyst expression over the hash
    ring — at 100 TB the corpus is scanned once and each shard's build
    reads only its hash-range slice."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1: {n_shards}")
    os.makedirs(base_dir, exist_ok=True)
    hcol = _hash32_col(id_col, shard_key_col)
    shard = F.shiftright(hcol * F.lit(n_shards), 32)  # == (h * n) >> 32
    tagged = corpus.withColumn("_shard", shard)
    # one tiny count-agg finds populated shards (a composite shard key
    # with few distinct values legitimately leaves ring ranges empty —
    # an empty Solr shard exists too, it just matches nothing)
    counts = {int(r["_shard"]): int(r["n"])
              for r in tagged.groupBy("_shard").agg(
                  F.count("*").alias("n")).collect()}
    jobs = []
    for s in range(n_shards):
        if counts.get(s, 0) == 0:
            continue
        sub = tagged.filter(F.col("_shard") == s).drop("_shard")
        jobs.append((f"s{s}", sub,
                     os.path.join(base_dir, route_dirname(f"s{s}"))))
    manifest = _build_many(spark, jobs, max_workers, **build_kwargs)
    for s in range(n_shards):
        nm = f"s{s}"
        if nm not in manifest:
            manifest[nm] = {"dir": None, "n_docs": 0}
        manifest[nm]["range"] = [-(-RING * s // n_shards) if s else 0,
                                 -(-RING * (s + 1) // n_shards)]
    _write_manifest(base_dir, {
        "router": "compositeId", "n_shards": n_shards, "id_col": id_col,
        "shard_key_col": shard_key_col, "routes": manifest})
    return manifest


def shards_for_route_key(meta: dict, route_key: str) -> list[str]:
    """Shards covering ``_route_=<shard_key>!`` — the 2^16-wide ring
    window [hash16(key)<<16, hash16(key)<<16 | 0xFFFF]."""
    n = int(meta["n_shards"])
    lo = hash16(route_key) << 16
    return sorted({f"s{shard_of(lo, n)}", f"s{shard_of(lo | 0xFFFF, n)}"})


def hashed_search(spark: SparkSession, base_dir: str, query,
                  route_key: str | None = None, doc_key: str | None = None,
                  k: int = 10, mode: str = "lucene8", prune: bool = True,
                  stats: str = "local") -> DataFrame:
    """Search a compositeId-routed collection.

    ``route_key="<shard_key>"`` prunes to the shard(s) covering that
    prefix's ring window (Solr ``_route_=key!``); ``doc_key`` prunes to
    the single shard owning one document id; neither → full fan-out
    with ``stats`` local/global semantics as in :func:`routed_search`."""
    meta = load_routes(base_dir)
    if meta.get("router") != "compositeId":
        raise ValueError("hashed_search requires a compositeId manifest")
    routes = meta["routes"]
    if route_key is not None or doc_key is not None:
        if doc_key is not None:
            names = [f"s{shard_of(composite_hash32(doc_key), int(meta['n_shards']))}"]
        else:
            names = shards_for_route_key(meta, route_key)
        parts = [
            search(Index.shared(spark, os.path.join(base_dir, routes[nm]["dir"])),
                   query, k=k, mode=mode, prune=prune)
            .withColumn("route", F.lit(nm))
            for nm in names
            if nm in routes and routes[nm].get("dir") is not None
        ]
        if not parts:  # every covered shard is empty
            from sparklucene.search import RESULT_SCHEMA
            return (spark.createDataFrame([], RESULT_SCHEMA)
                    .withColumn("route", F.lit(None).cast("string")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    return _fanout(spark, base_dir, routes, query, k, mode, prune, stats)


# --------------------------------------------------------------------------
# time-routed alias (Solr TRA)
# --------------------------------------------------------------------------

def build_time_routed_index(spark: SparkSession, corpus: DataFrame,
                            base_dir: str, ts_col: str,
                            max_workers: int | None = None,
                            **build_kwargs) -> dict:
    """Time-routed alias (u8:solr/core/.../cloud/api/collections/
    TimeRoutedAlias.java): one sub-index per MONTH bucket of ``ts_col``
    (Solr's router.interval analog, fixed at +1MONTH here). Bucket
    labels are 'yyyy-MM'. At 100 TB this is the time-partition-pruning
    story: a bounded time filter opens only the overlapping buckets."""
    bucket = F.date_format(F.col(ts_col).cast("timestamp"), "yyyy-MM")
    tagged = corpus.withColumn("_tra", bucket)
    buckets = sorted(r[0] for r in tagged.select("_tra").distinct()
                     .collect() if r[0] is not None)
    if not buckets:
        raise ValueError(f"no non-null timestamps in {ts_col!r}")
    os.makedirs(base_dir, exist_ok=True)
    jobs = [(b, tagged.filter(F.col("_tra") == b).drop("_tra"),
             os.path.join(base_dir, route_dirname(b))) for b in buckets]
    manifest = _build_many(spark, jobs, max_workers, **build_kwargs)
    _write_manifest(base_dir, {"router": "time", "ts_col": ts_col,
                               "interval": "month", "routes": manifest})
    return manifest


def _month_key(d: date) -> str:
    return f"{d.year:04d}-{d.month:02d}"


def time_routed_search(spark: SparkSession, base_dir: str, query,
                       start: date, end: date, k: int = 10,
                       mode: str = "lucene8", prune: bool = True,
                       stats: str = "local") -> DataFrame:
    """Search only the month buckets intersecting [start, end] (both
    inclusive, bucket granularity — Solr TRA prunes collections by
    bucket; finer-grained time filters compose as ordinary fq on top).
    Fan-out over the covered buckets follows routed_search semantics."""
    if end < start:
        raise ValueError("end < start")
    meta = load_routes(base_dir)
    if meta.get("router") != "time":
        raise ValueError("time_routed_search requires a time-router manifest")
    lo, hi = _month_key(start), _month_key(end)
    covered = {b: info for b, info in meta["routes"].items()
               if lo <= b <= hi}
    if not covered:
        from sparklucene.search import RESULT_SCHEMA
        return (spark.createDataFrame([], RESULT_SCHEMA)
                .withColumn("route", F.lit(None).cast("string")))
    return _fanout(spark, base_dir, covered, query, k, mode, prune, stats)


# --------------------------------------------------------------------------
# distributed faceting with refinement
# --------------------------------------------------------------------------

def routed_facet_field(spark: SparkSession, base_dir: str, query,
                       docs: DataFrame, facet_col: str, limit: int = 5,
                       overrequest: int | None = None,
                       mode: str = "f64") -> DataFrame:
    """Two-phase distributed faceting with refinement — Solr's
    FacetComponent algorithm over a sharded collection (public
    knowledge: u8:solr/core/.../handler/component/FacetComponent.java
    DistribFieldFacet + refinement requests):

    Phase 1 — every shard facets its OWN matching docs and ships only
    its top ``limit + overrequest`` buckets (overrequest defaults to
    Solr's ``limit * 1.5 + 10`` heuristic). A bucket that is globally
    top-``limit`` can sit below one shard's cutoff, so naive merged
    counts would under-count or miss it.

    Phase 2 — refinement: the coordinator unions the candidate bucket
    VALUES and asks every shard that did not report a candidate for
    that bucket's exact count. Counts for every RETURNED bucket are
    therefore exact (each is summed over all shards).

    Exactness of the top-``limit`` SET matches Solr's documented
    contract, which is conditional: because ``limit(ship)`` ships a
    shard's ENTIRE bucket list whenever that shard has at most
    ``limit + overrequest`` distinct values, the result equals the
    unsharded facet whenever every shard's bucket domain fits in the
    ship window (low-cardinality fields — the common case, and the
    fixture case the oracle checks). When a shard truncates, a bucket
    that falls below the ship cutoff on EVERY shard never enters the
    candidate set and cannot be refined, so the returned top-``limit``
    can miss it — Solr's FacetComponent has the same
    overrequest-dependent failure mode (its cure is raising
    ``facet.overrequest.count``, mirrored here by ``overrequest``).

    ``docs`` supplies (doc_id, facet_col); matching is route-disjoint so
    the per-shard join never sees another shard's docs. Driver-side
    state is the candidate VALUE list — bounded by
    ``n_routes * (limit + overrequest)``, operator scale, never corpus
    scale. Each per-shard count is one partial-aggregated groupBy; the
    refinement pass reuses the same aggregate filtered to candidates
    (exactly "ask the shard for these buckets' counts").

    Returns (value, cnt) ordered cnt DESC, value ASC, LIMIT ``limit``.
    """
    from sparklucene.search import matches

    if overrequest is None:
        overrequest = int(limit * 1.5) + 10
    ship = limit + overrequest
    meta = load_routes(base_dir)
    attrs = docs.select(F.col("doc_id"),
                        F.col(facet_col).cast("string").alias("value"))
    dirs = [info["dir"] if os.path.isabs(info["dir"])
            else os.path.join(base_dir, info["dir"])
            for _, info in sorted(meta["routes"].items())
            if info.get("dir")]  # skip empty hash-range shards
    if not dirs:  # manifest where every hash-range shard is empty
        return spark.createDataFrame([], "value string, cnt long")

    # phase 1: per-shard top (limit+overrequest) candidate buckets.
    # Shard requests go out in PARALLEL (Solr's coordinator issues
    # concurrent shard requests; a serial loop pays n_routes × the
    # per-request fixed latency) — each thread builds its shard's
    # count frame and collects only its shipped bucket VALUES.
    def _shard(path):
        m = matches(Index.shared(spark, path), query, mode=mode).select("doc_id")
        c = (m.join(attrs, "doc_id")
             .groupBy("value").agg(F.count("*").alias("cnt")))
        vals = [r["value"] for r in
                (c.orderBy(F.desc("cnt"), F.asc("value")).limit(ship)
                 .select("value").collect())]
        return c, vals

    cand: set = set()
    counts = []
    with ThreadPoolExecutor(max_workers=min(8, len(dirs))) as pool:
        for c, vals in pool.map(_shard, dirs):
            counts.append(c)
            cand.update(vals)
    cand_list = sorted(cand)

    # phase 2: exact per-shard counts for every candidate — again
    # concurrent shard requests, each response candidate-bounded
    # (<= n_routes * ship rows); the coordinator sums exact integer
    # counts per bucket, exactly Solr's refinement-response merge
    def _refine(c):
        return [(r["value"], int(r["cnt"])) for r in
                (c.filter(F.col("value").isin(cand_list))
                 .groupBy("value").agg(F.sum("cnt").alias("cnt"))
                 .collect())]

    totals: dict[str, int] = {}
    with ThreadPoolExecutor(max_workers=min(8, len(counts))) as pool:
        for resp in pool.map(_refine, counts):
            for v, n in resp:
                totals[v] = totals.get(v, 0) + n
    top = sorted(totals.items(), key=lambda t: (-t[1], t[0]))[:limit]
    return spark.createDataFrame(top, "value string, cnt long")


def routed_grouped_topk(spark: SparkSession, base_dir: str, query,
                        docs: DataFrame, group_col: str,
                        n_groups: int = 3, group_limit: int = 2,
                        mode: str = "f64",
                        stats: str = "global") -> DataFrame:
    """Two-phase distributed grouping — Solr's grouping across shards
    (public knowledge: u8:solr/core/.../search/grouping/distributed/
    command/{SearchGroupsFieldCommand,TopGroupsFieldCommand}.java):

    Phase 1 — every shard ranks its OWN groups by group head (max doc
    score, ties group value asc) and ships its top ``n_groups``; the
    coordinator unions the candidates (driver state bounded by
    ``n_routes * n_groups``).

    Phase 2 — every shard returns its top ``group_limit`` docs within
    each candidate group; the merge keeps the global per-group top
    ``group_limit`` (each shard's within-group top contains its members
    of the global top, so the merge is exact for candidate groups).
    Groups are finally re-ranked by merged head and cut to
    ``n_groups``.

    Exactness, pinned and provable for THIS group sort (head = max doc
    score, ties by group value): a global top-``n_groups`` group is
    always shipped by the shard holding its best doc — any group ranked
    above it there has a shard-local head >= its global head, hence a
    global head at least as good, so at most ``n_groups - 1`` groups
    can outrank it on that shard (ties break by group value identically
    at both levels). Phase 1's union therefore contains every final
    group and the merged result EQUALS the unsharded grouped top-k —
    which is what the oracle's replay of the pipeline computes. Solr's
    documented distributed-grouping caveats concern group sorts this
    operator does not offer (sort-by-field heads, group.offset,
    ngroups). ``stats="global"`` (ExactStatsCache) makes doc scores
    equal the unrouted engine's.

    Returns (grp, head, rk, doc_id, score) ordered by
    (head desc, grp asc, rk asc).
    """
    meta = load_routes(base_dir)
    dirs = {rt: (info["dir"] if os.path.isabs(info["dir"])
                 else os.path.join(base_dir, info["dir"]))
            for rt, info in sorted(meta["routes"].items())
            if info.get("dir")}
    if not dirs:  # manifest where every hash-range shard is empty
        return spark.createDataFrame(
            [], "grp string, head double, rk long, doc_id long, score double")
    override = None
    if stats == "global":
        from sparklucene.query import qualify
        from sparklucene.search import _as_query
        q = qualify(_as_query(query))
        terms = sorted(set(q.terms()) | set(q.neg_terms()))
        override = _merged_stats(spark, list(dirs.values()), terms)
    elif stats != "local":
        raise ValueError(f"stats must be 'local' or 'global': {stats!r}")
    attrs = docs.select("doc_id",
                        F.col(group_col).cast("string").alias("grp"))
    from pyspark.sql import Window as _W

    # phase 1 in PARALLEL shard requests (Solr coordinator shape): each
    # thread builds its shard's scored frame and collects only its top
    # n_groups group heads
    def _shard(item):
        rt, d = item
        scored = (search(Index.shared(spark, d), query, k=None, mode=mode,
                         stats_override=override)
                  .join(attrs, "doc_id"))
        heads = (scored.groupBy("grp").agg(F.max("score").alias("shead"))
                 .orderBy(F.desc("shead"), F.asc("grp")).limit(n_groups))
        return rt, scored, [r["grp"] for r in heads.select("grp").collect()]

    shard_scored = {}
    cand: set[str] = set()
    with ThreadPoolExecutor(max_workers=min(8, len(dirs))) as pool:
        for rt, scored, grps in pool.map(_shard, sorted(dirs.items())):
            shard_scored[rt] = scored
            cand.update(grps)
    cand_list = sorted(cand)

    # phase 2 in PARALLEL shard requests: each shard returns its top
    # group_limit docs per candidate group (<= |cand| * group_limit
    # rows — operator scale); the coordinator merges the responses on
    # a tiny local frame with the SAME window expressions, so merge
    # semantics are pinned by one code path
    def _top(item):
        rt, scored = item
        sr = F.row_number().over(
            _W.partitionBy("grp").orderBy(F.desc("score"),
                                          F.asc("doc_id")))
        part = (scored.filter(F.col("grp").isin(cand_list))
                .withColumn("sr", sr).filter(F.col("sr") <= group_limit)
                .select("grp", "doc_id", "score"))
        return [(r["grp"], int(r["doc_id"]), float(r["score"]))
                for r in part.collect()]

    with ThreadPoolExecutor(max_workers=min(8, len(shard_scored))) as pool:
        resp = [r for rows in pool.map(_top, sorted(shard_scored.items()))
                for r in rows]
    per_shard_top = spark.createDataFrame(
        resp, "grp string, doc_id long, score double")
    rk = F.row_number().over(
        _W.partitionBy("grp").orderBy(F.desc("score"), F.asc("doc_id")))
    merged = (per_shard_top.withColumn("rk", rk.cast("long"))
              .filter(F.col("rk") <= group_limit))
    ghead = (merged.groupBy("grp").agg(F.max("score").alias("head"))
             .orderBy(F.desc("head"), F.asc("grp")).limit(n_groups))
    return (merged.join(F.broadcast(ghead), "grp")
            .select("grp", "head", "rk", "doc_id", "score")
            .orderBy(F.desc("head"), F.asc("grp"), F.asc("rk")))


def routed_suggest(spark: SparkSession, base_dir: str, prefix: str,
                   k: int = 10) -> DataFrame:
    """Distributed suggester merge — Solr's cross-shard suggestion
    merging (public knowledge: u8:solr/core/.../handler/component/
    SpellCheckComponent.java finishStage / SuggestComponent distributed
    merge): every shard contributes its prefix-matching dictionary
    slice and the coordinator merges by summed weight.

    Shards partition documents, so summing per-shard df/cf gives the
    EXACT global statistics — unlike top-k bucket shipping, the full
    prefix slice is vocab-scale metadata with the startswith predicate
    pushed into each shard's term-sorted dictionary parquet (FST-seek
    analog), so exactness costs nothing. Merged ranking (cf desc, term
    asc) is therefore identical to the unsharded suggester, which is
    what the oracle checks. Returns (term, df, cf).
    """
    from sparklucene.suggest import _dict_body

    meta = load_routes(base_dir)
    parts = []
    for rt, info in sorted(meta["routes"].items()):
        if not info.get("dir"):
            continue
        d = (info["dir"] if os.path.isabs(info["dir"])
             else os.path.join(base_dir, info["dir"]))
        parts.append(_dict_body(Index.shared(spark, d), None)
                     .filter(F.col("term").startswith(prefix)))
    if not parts:  # manifest where every hash-range shard is empty
        return spark.createDataFrame([], "term string, df long, cf long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (out.groupBy("term")
            .agg(F.sum("df").cast("long").alias("df"),
                 F.sum("cf").cast("long").alias("cf"))
            .orderBy(F.desc("cf"), F.asc("term")).limit(k))
