"""sparklucene — a PySpark-native full-text inverted-index + BM25 engine.

A from-scratch, Spark-first reimplementation of the capabilities of the
reference Lucene/Solr system (see SURVEY.md): StandardAnalyzer-equivalent
analysis, per-doc-range inverted-index segments with a term-range-merged
dictionary, delta-gap + variable-byte posting compression, and top-k BM25
(k1=1.2, b=0.75) query execution with block-max WAND / MAXSCORE pruning — all
expressed as DataFrame transformations + vectorized Arrow/pandas UDFs.

Reference semantics (public Apache Lucene 8.x knowledge):
  - BM25: lucene/core/.../search/similarities/BM25Similarity.java
  - Norms: lucene/core/.../util/SmallFloat.java (intToByte4/byte4ToInt)
  - VByte: lucene/core/.../store/DataOutput.java (writeVInt)
  - Block-max: lucene/core/.../codecs/lucene84/Lucene84SkipWriter.java
"""

__version__ = "0.1.0"

from sparklucene import _zipstat, analysis, bm25, codec, norms  # noqa: F401

# every engine UDF unpickles references to sparklucene.*, so each reused
# Python worker installs this during its first engine task
_zipstat.install()
