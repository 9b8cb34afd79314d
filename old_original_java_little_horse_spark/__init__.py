"""PySpark-native analytics/workflow engine with the capabilities of the
reference engine ``coltmcnealy-lh/old-original-java-little-horse``.

The reference is a Kafka-Streams workflow orchestrator (event-sourced
state machine + indexed query store).  This package re-expresses those
capabilities Spark-first:

- ``engine``     — the event-fold state machine (pure Python core,
                   executed via ``mapInPandas`` in batch and one
                   row-based ``transformWithState`` processor in
                   streaming).
- ``sdk``        — workflow-as-code builder emitting WFSpec JSON
                   (port of the reference's Python SDK surface).
- ``operators``  — relational parity operators (filters, joins, aggs,
                   windows, index posting lists) as DataFrame plans.
- ``functions``  — scalar/expression library (mutations, comparisons,
                   JSONPath) + LLM-data-pipeline ops (dedup, similarity,
                   text analysis, multimodal).
- ``sources``    — parquet/kafka source + sink builders.
- ``streaming``  — Structured Streaming wiring of the engine (RocksDB
                   state store; protobuf required, resolved by
                   ``protobuf_compat``).
- ``plans``      — plan-inspection helpers (explain/shuffle audits).
"""

__version__ = "0.1.0"
