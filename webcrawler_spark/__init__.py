"""webcrawler_spark — a PySpark-native batch-iterative web-crawl engine.

A from-scratch rebuild of the capabilities of Pendulun/WebCrawler
(a threaded polite crawler; see SURVEY.md) re-expressed Spark-first:

* the thread-per-worker frontier becomes a driver-side BSP round loop —
  one Spark job per round over snapshot tables (``engine.py`` over
  ``tables.py``);
* cross-thread mailboxes/locks become the shuffle;
* the in-memory priority heap becomes window ranks over a frontier table;
* the URL-seen set becomes an exact left-anti join against a seen table;
* fetching the live web becomes an equi-join against an offline
  Common-Crawl-style ``pages`` table (or, with a transport plugged in,
  a per-host applyInPandas fetch executor).

Plus the large-scale training-data operators a 100 TB corpus pipeline
needs: dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard), ANN
similarity search, text quality/language statistics, and multimodal
binary-column plumbing (``operators/dedup.py`` / ``similarity.py`` /
``textstats`` / ``multimodal.py``).
"""

__version__ = "0.1.0"
