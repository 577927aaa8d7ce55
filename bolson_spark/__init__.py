"""bolson_spark — a PySpark-native engine with the capabilities of
teratide/bolson (streaming JSON -> Arrow IPC conversion), re-expressed
Spark-first, plus the large-scale analytics surface (relational ops,
dedup, similarity search, text analysis) a training-data pipeline needs.

Layout
------
- ``session``     : SparkSession builder + testdata table loaders
- ``schemas``     : explicit Arrow/Spark schemas (battery, trip, events)
- ``operators``   : the reference's pipeline operators (parse, seq and
                    its per-partition layout, serialize-IPC) and the
                    convert composition, as pure DataFrame->DataFrame fns
- ``functions``   : text analysis, dedup (exact/minhash/ngram/simhash),
                    similarity search (cosine knn, IVF), multimodal stubs
- ``sources``     : schema-enforced readers (parquet/json/lines)
- ``streaming``   : Structured Streaming pipeline (source -> convert ->
                    foreachBatch IPC sink with schema handshake)
- ``queries``     : the registry consumed by __spark_entry__.py
                    (Spark callable + DuckDB oracle SQL per operator)

Reference parity citations use ``<file>:<line>`` paths relative to the
reference repo (teratide/bolson).
"""

__version__ = "0.1.0"

MAX_IPC_SIZE = 5 * 1024 * 1024 - 10 * 1024  # 5232640; publisher.h:39-41
MAX_ROWS_DEFAULT = 1024  # cli.cpp:37-39
SEQ_COL = "bolson_seq"  # parse/arrow.cpp:147-159
# ONE definition of the sessionization inactivity gap: the batch query
# (queries_ext), its oracle, and the streaming stateful twin all derive
# from this — a re-hardcoded copy in any of them could silently diverge
SESSION_GAP_MIN = 60
