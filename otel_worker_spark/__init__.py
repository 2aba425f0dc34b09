"""otel_worker_spark — a PySpark-native OTEL-style log/telemetry pipeline.

A brand-new engine (NOT a port) with the query and data-processing
capabilities of the reference `fiberplane/otel-worker` (a Rust OTLP
collector, see /root/reference), re-expressed Spark-first:

- parse:   one ``mapInArrow`` kernel (``parse_arrow``) that
           detokenizes, parses and flattens each batch into span rows
           (the reference's ``Span::from_collector_request`` triple
           flatten, otel-worker-core/src/api/models/otel.rs:49-118);
           ``proto`` feeds it from OTLP-protobuf wire bytes
- enrich:  broadcast hash-join against service lookup dims
- route:   per-signal sinks (traces / logs / metrics) as the partitions
           of one write, one commit per batch; the per-sink count + sum
           receipts are observed on that write and read back as a view
           of the commit log (otel-worker-core/src/service.rs:32-54)
- store:   parquet + atomic commit-log table layer (stands in for
           Iceberg, whose jars are not in this image; the interface —
           atomic snapshot append, idempotent-by-batch, delete,
           per-partition lineage — matches what Iceberg provides on a
           real cluster)
- serve:   DataFrame query layer mirroring the reference HTTP API
           (traces_list / trace_get / span_get / deletes,
           otel-worker-core/src/data/sql.rs:22-119)
- ops:     large-scale training-data operators (dedup, similarity
           search, text analysis, multimodal plumbing)

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the public reference repo.
"""

from . import worker_imports as _worker_imports

__version__ = "0.1.0"

# inside a PySpark task (a worker unpickling one of our kernels) this
# spares every later task in the worker a re-read of pyspark.zip, py4j
# and the spark-core jar; a no-op on the driver and on CPython >= 3.12
_worker_imports.install()
