"""kit_spark — a PySpark-native crawl-frontier + fetch-scheduler engine.

A from-scratch, Spark-first reimplementation of the capabilities of
spire-rs/kit (robots.txt exclusion, sitemap inclusion, byte-accounted IO)
scaled out to a 10^10-URL frontier over image+caption tables:

* ``kit_py``      — pure-Python semantic core (UDF kernels + oracle crawler)
* ``functions``   — vectorized pandas/Arrow UDFs & columnar helpers
* ``operators``   — frontier dataflow (dedup, politeness, robots gate, ...)
* ``sources``     — table layer (parquet snapshots; Iceberg-ready), synthesis
* ``plans``       — plan inspection/assertion helpers
* ``streaming``   — Structured Streaming incremental curation
* ``crawl``       — the batch crawl-round driver (checkpoint/resume)
"""

__version__ = "0.1.0"
