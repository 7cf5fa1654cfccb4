"""drone_spark — a PySpark-native link-graph analytics engine.

Brand-new engine with the capabilities of the reference system
(bupt-wenxiaole/DRONE, a Go master/worker subgraph-centric graph engine —
see SURVEY.md): PageRank, connected components, label propagation and
triangle counting over an edge table extracted from Common-Crawl-style
web pages, plus the training-data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing) a 100 TB corpus needs.

Architecture (idiomatic Spark, NOT a port):
- DataFrame/SQL logical plans; Catalyst/AQE pick physical strategy.
- Iterative algorithms are a driver loop over per-superstep DataFrame
  jobs (shuffles replace the reference's hand-rolled gRPC message paths,
  /root/reference/src/worker/PRWorker.go:60-127).
- Per-superstep state snapshots + metrics go to a versioned table
  catalog (Iceberg in production; versioned parquet here) for lineage
  truncation and resume.
- Python touches data only through Arrow-vectorized UDFs.
"""

__version__ = "0.1.0"
