"""messikinesisprovider_spark — a PySpark-native analytics & streaming engine.

A from-scratch rebuild of the capabilities of Cantara/MessiKinesisProvider
(reference: /root/reference, a Java Messi-SPI-over-AWS-Kinesis library) as an
idiomatic Spark engine:

- ``schema``    — the MessiMessage envelope as a Spark StructType
                  (reference: MessiClientTck.java:70-113).
- ``ulid``      — monotonic, time-sortable 128-bit ULIDs
                  (reference: KinesisMessiProducer.java:68-80).
- ``cursor``    — the six-type resumable cursor model
                  (reference: KinesisMessiCursor.java, KinesisStreamingBuffer.java:247-281).
- ``log``       — MessiLog: a partitioned-Parquet shard log with publish /
                  cursor-scan / checkpoint semantics (batch replay layer).
- ``operators`` — the batch query surface (relational wrappers over Catalyst
                  built-ins) plus LLM-data-pipeline extensions: dedup,
                  similarity search, text analysis, multimodal columns.
- ``streaming`` — Structured-Streaming consumption: per-shard ordering,
                  watermarks, windows, effectively-once dedup, retrying sink.
- ``sources``   — the file-backed broker simulator (with a real-wire-shape
                  skin for conformance tests) and the (gated) real-Kinesis
                  connector binding.

Everything here is public-knowledge-only: Apache Spark APIs, the reference's
observable behavior, and published papers.
"""

__version__ = "0.1.0"
