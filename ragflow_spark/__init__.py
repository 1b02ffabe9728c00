"""ragflow_spark — a PySpark-native web-scale main-content extraction engine.

A from-scratch reimplementation of the data-processing capabilities of
RAGFlow's deepdoc + chunking stack (reference: tuxmai/ragflow v0.20.1),
re-expressed Spark-first:

* input:  a Common-Crawl-style table ``pages(url, warc_ts, html, text, lang)``
* output: ``chunks(url, chunk_ord, content, content_ltks, content_sm_ltks, ...)``,
  committed per url-hash bucket; the driver logs each commit in a resume
  manifest
* all per-document logic runs inside Arrow-vectorized ``mapInPandas`` UDFs,
  all corpus-level logic (bucketing, dedup, metrics) is DataFrame ops.

No code is copied from the reference; behavior is matched from its public
semantics (file:line citations in each module's docstring).
"""

__version__ = "0.1.0"
