"""url_blocklist_filter_table == url_blocklist_filter on shared inputs.

The table form exists for blocklists past expression size (UT1 ~4M
domains); its contract is exact semantic equality with the pinned
expression form, checked here per-row on hosts covering every match
class: exact domain, subdomain, deeper subdomain, similar-suffix
non-match, TLD-level block, schemeless (no host), and port/path noise.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparklucene.textops import url_blocklist_filter, url_blocklist_filter_table

URLS = [
    "https://bad.com/page",            # exact block
    "http://www.bad.com/x?q=1",        # subdomain block
    "https://a.b.bad.com:8080/deep",   # deeper subdomain + port
    "https://notbad.com/",             # similar suffix, NOT blocked
    "https://bad.com.evil.org/",       # blocked domain as inner label only
    "ftp://mirror.example.net/f",      # other scheme, clean
    "no-scheme-at-all",                # no host extracted
    "https://TLDBLOCK.xyz/",           # blocked at TLD level
    "https://sub.tldblock.xyz/",
]
BLOCK = ("bad.com", "xyz")


def _mk(spark):
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(range(len(URLS))), "url": URLS}))


def test_table_form_equals_expression_form(spark):
    docs = _mk(spark)
    bl = spark.createDataFrame(pd.DataFrame({"domain": list(BLOCK)}))
    expr_rows = {r["doc_id"]: (r["domain"], r["blocked"])
                 for r in url_blocklist_filter(docs, BLOCK).collect()}
    tbl = url_blocklist_filter_table(docs, bl)
    tbl_rows = {r["doc_id"]: (r["domain"], r["blocked"])
                for r in tbl.collect()}
    assert tbl_rows == expr_rows
    assert tbl.count() == len(URLS)  # join-back never duplicates/drops
    blocked = {k for k, (_, b) in tbl_rows.items() if b}
    assert blocked == {0, 1, 2, 7, 8}
    # the table form's working columns may not shadow input columns
    for col in ("_k", "_sfx", "_blk"):
        with pytest.raises(ValueError, match=col):
            url_blocklist_filter_table(docs.withColumn(col, F.lit(1)), bl)


def test_table_form_empty_blocklist(spark):
    docs = _mk(spark)
    bl = spark.createDataFrame(pd.DataFrame({"domain": ["x.org"]})).limit(0)
    out = url_blocklist_filter_table(docs, bl)
    assert out.filter(F.col("blocked")).count() == 0
    assert out.count() == len(URLS)
    # an empty / whitespace-only DOMAIN is rejected by both forms
    for blank in ("", "  ", "\t"):
        with pytest.raises(ValueError, match="must be non-empty"):
            url_blocklist_filter(docs, ("bad.com", blank))
        bad = spark.createDataFrame(pd.DataFrame({"domain": ["bad.com",
                                                             blank]}))
        with pytest.raises(Exception, match="must be non-empty"):
            url_blocklist_filter_table(docs, bad).collect()


def test_both_forms_null_url_yields_null_blocked(spark):
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "url": [None, "https://ok.org/"]})
    ).withColumn("url", F.col("url").cast("string"))
    bl_df = spark.createDataFrame(pd.DataFrame({"domain": ["bad.com"]}))
    for out in (url_blocklist_filter(docs, ("bad.com",)),
                url_blocklist_filter_table(docs, bl_df)):
        rows = {r["doc_id"]: r["blocked"] for r in out.collect()}
        assert rows[0] is None and rows[1] is False
    # empty-blocklist corner: still NULL for a NULL host, in BOTH forms
    for out in (url_blocklist_filter(docs, ()),
                url_blocklist_filter_table(docs, bl_df.limit(0))):
        rows = {r["doc_id"]: r["blocked"] for r in out.collect()}
        assert rows[0] is None and rows[1] is False


def test_table_form_case_insensitive_list(spark):
    docs = _mk(spark)
    bl = spark.createDataFrame(pd.DataFrame({"domain": ["BAD.COM"]}))
    got = {r["doc_id"] for r in
           url_blocklist_filter_table(docs, bl)
           .filter(F.col("blocked")).collect()}
    assert got == {0, 1, 2}
