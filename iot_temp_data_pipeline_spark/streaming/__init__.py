"""Structured Streaming surface (SURVEY.md §2.10).

The reference has no true streaming engine — its "streaming" is Airflow
cron (`*/30 * * * *`) + FileSensor + full-refresh dbt runs
(`airflow/dags/iot_temperature_dag.py:202-239`). Here the same
micro-batch semantics are native Structured Streaming:

- FileSensor + cron + hash-skip  → file source + ``trigger(availableNow
  =True)`` with checkpointed exactly-once file tracking (core.py)
- dlt CSV ingestion              → the SAME column expressions as the
  batch path, bound to a readStream DataFrame (ingest.py)
- W1 latest-wins dedup           → watermark + ``dropDuplicates``
  with bounded state (dedup.py)
- full-refresh marts per run     → ``foreachBatch`` re-running the batch
  model chain per micro-batch (pipeline.py)
- a re-run must be harmless      → one exactly-once micro-batch sink
  (core.run_batches): each write carries ``txn = (query id, batch id)``;
  per-batch partials overwrite their own ``batch_id=N`` partition
  (core.run_partials) and versioned MERGEs skip a batch their manifest
  already holds, so a batch replayed after a crash lands once
- beyond-reference: event-time tumbling windows with late-data
  watermarking (windows.py) and a custom stateful operator via
  ``applyInPandasWithState`` (stateful.py)
"""
