"""PySpark-native spatial-join + tiling engine whose numeric core
reimplements the Slovenian datum pipeline of
mrihtar/GeoCoordinateConverter (SURVEY.md; BASELINE.json north_star).

Layout:
  constants / geodesy / aft / geoid / cells — pure-NumPy float64 numeric core
  kernels      — Arrow-UDF wrappers (one Arrow crossing per chain)
  sources/     — web-page corpus synthesis + geoparsing (schema-on-read)
  operators/   — PIP join, kNN join, tile agg, dedup, similarity, text stats
  functions/   — DMS + scalar helpers
  plans/       — SparkSession builders tuned for the 100 TB design point
  streaming/   — Structured Streaming variants (batch is the north rule)
"""

__version__ = "0.1.0"
