"""webscraping_spark — a from-scratch PySpark-native URL-frontier + fetch
scheduler engine with the crawl capabilities of richardpenman/webscraping.

Not a port: the reference library (read-only at /root/reference) defines
WHAT is computed — URL canonicalization, seen-set membership, frontier
ordering, per-domain politeness, robots gating, page-cache semantics,
text/link extraction — while this package re-expresses all of it as
idiomatic Spark: DataFrame joins for cache/dedup and for the exact
hash-keyed seen set, window functions for politeness scheduling, and
vectorized pandas/Arrow UDFs (never per-row Python) for the string
kernels Spark lacks built-ins for.

Layout:
  functions/  pure-Python + pandas normalization kernel and its pandas-UDF
              bindings (urlnorm, textkernel, extract, geo, xpath, hashing)
  operators/  Spark operators: seen set (exact anti-join), frontier
              push/pull, politeness planner, robots gate, dedup family,
              similarity search, text stats, multimodal plumbing
  sources/    deterministic fixture synthesis, image codecs, the
              parquet-snapshot (Iceberg-style) table layer
  plans/      the BSP crawl superstep loop + the sequential Py3 semantic
              oracle used as the correctness ground truth
  streaming/  Structured Streaming (foreachBatch) crawl variant
"""

__version__ = "0.1.0"
