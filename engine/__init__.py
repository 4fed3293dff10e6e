"""engine — a from-scratch PySpark-native streaming feature-engineering engine.

Re-implements the query and data-processing capabilities of the reference
``logicalclocks/flink-online-fs`` (a Flink 1.14 feature-store client + streaming
feature pipeline) as idiomatic PySpark: DataFrame/SQL logical plans optimized by
Catalyst, Structured Streaming micro-batches for the stream path, Arrow-vectorized
pandas UDFs for the (rare) Python hot paths, and an exactly-once ``foreachBatch``
ledger sink.

Module map (see SURVEY.md §7):

- :mod:`engine.session`  — SparkSession builder tuned for local[N] + cluster use
- :mod:`engine.schema`   — Feature / FeatureGroup metadata model (reference
  ``base/Feature.java``, ``flink/StreamFeatureGroup.java``)
- :mod:`engine.synth`    — deterministic audio-clip + transcript table generator
- :mod:`engine.audio`    — vectorized PCM16 WAV encode/decode (Arrow/pandas UDFs)
- :mod:`engine.query`    — Query DSL: select / join / filter tree / asOf
  (reference ``base/constructor/*``, ``flink/constructor/Query.java``)
- :mod:`engine.windows`  — tumbling / sliding / session windowed aggregates
  (reference ``TransactionFraudExample.java``, ``TransactionCountAggregate.java``)
- :mod:`engine.state`    — applyInPandasWithState window store + stream-stream join
- :mod:`engine.skew`     — salted two-phase aggregation for skewed keys
- :mod:`engine.sink`     — exactly-once foreachBatch sink with commit ledger +
  per-partition lineage/metrics (reference ``FlinkEngine.writeDataStream``)
- :mod:`engine.serving`  — point / batch feature-vector lookup (reference
  ``base/engine/VectorServer.java``)
- :mod:`engine.text`     — language-ID, quality scoring, token counting,
  fingerprinting over document tables
- :mod:`engine.dedup`    — exact / MinHash-LSH / SimHash / n-gram-Jaccard /
  embedding-cosine deduplication
- :mod:`engine.similarity` — brute-force + LSH-bucketed cosine top-k ANN
- :mod:`engine.multimodal` — opaque binary media columns: metadata, batch
  plumbing, stubbed decoders

Importing the package installs :mod:`engine._zipguard`: on CPython
3.10–3.12 a Python worker otherwise re-reads the directory of every zip on
``sys.path`` (``pyspark.zip``, py4j, a ``--py-files`` ``engine.zip``) at the
start of each task, about 150 ms of CPU per task. Every engine reader and UDF
unpickles an ``engine.*`` function, so each reused worker is guarded from its
second task on.
"""

from engine import _zipguard

_zipguard.install()

__version__ = "0.1.0"
