"""Deployable consumer entrypoint — the engine's equivalent of running the
reference binary (main.go:25-68: env config → Kafka subscribe → consume
loop → MySQL target).

``python -m etl_consumer_spark`` builds everything from the environment:

- Config from the reference's envconfig names (SERVER/DBNAME/TABLE/KAFKA/
  GROUP/...; config.py) plus the Spark-only knobs;
- table specs from ``TABLESPECS`` (JSON file; see :func:`load_table_specs`)
  — either explicit wire fields or a captured Debezium/Connect ``schema``
  block per table (the reference reads the same block per message,
  data/model.go:34-53);
- transport from ``TRANSPORT``: ``kafka`` (needs the spark-sql-kafka jar
  and a broker) or ``file:<dir>`` (broker-free parquet envelope stream —
  identical downstream columns; ``MAX_FILES_PER_TRIGGER`` bounds each
  micro-batch so backfills commit state incrementally);
- state from ``STATE_PATH``, a local directory holding the
  bucket-partitioned partial-rewrite store (one writer per table; a URI
  such as ``s3a://`` is rejected — object-store state needs a deploy-time
  Delta MERGE);
- ``SCD2_TABLES=t1,t2`` additionally maintains a Type-2 history table
  (``<name>__history``: validity intervals, deletes close the open
  version) for the named tables;
- optional Debezium Connect REST control (X1/X2 pause/resume) when
  ``DEBEZIUM_CONTROL=1``.

The spec-file shapes::

    {"orders": {"pk": ["o_orderkey"],
                "fields": [{"name": "o_orderkey", "type": "int64"},
                           {"name": "amount", "type": "bytes",
                            "logical": "org.apache.kafka.connect.data.Decimal",
                            "scale": 2, "precision": 18}]}}

    {"orders": {"pk": ["o_orderkey"], "schema": {<captured connect schema>}}}
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from etl_consumer_spark.client.debezium import DebeziumAPI
from etl_consumer_spark.config import Config
from etl_consumer_spark.session import get_spark
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore
from etl_consumer_spark.sources.envelope import WireField, wire_fields_from_connect_schema
from etl_consumer_spark.sources.kafka import file_envelope_stream, kafka_stream
from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec


def load_table_specs(path: str) -> list[TableSpec]:
    with open(path) as fh:
        raw = json.load(fh)
    specs: list[TableSpec] = []
    for table, body in raw.items():
        pk = body.get("pk") or []
        if not pk:
            raise ValueError(f"table {table!r}: 'pk' is required")
        if "schema" in body:
            fields = wire_fields_from_connect_schema(body["schema"])
        elif "fields" in body:
            fields = [
                WireField(
                    name=f["name"],
                    type=f.get("type", "string"),
                    logical=f.get("logical"),
                    scale=int(f.get("scale", 0)),
                    precision=int(f.get("precision", 18)),
                )
                for f in body["fields"]
            ]
        else:
            raise ValueError(f"table {table!r}: provide 'fields' or a connect 'schema'")
        specs.append(TableSpec(table, fields, list(pk)))
    return specs


def build_pipeline(spark: SparkSession, cfg: Config | None = None) -> tuple[CDCPipeline, object]:
    """Construct the pipeline + transport from the environment. Returns
    (pipeline, transport DataFrame); callers decide how to run (streaming
    start() vs availableNow drain)."""
    cfg = cfg or Config()
    specs = load_table_specs(os.environ["TABLESPECS"])
    store = PartitionedParquetStateStore(
        spark, os.environ.get("STATE_PATH", "/tmp/etl_consumer_spark/state")
    )
    api = None
    if os.environ.get("DEBEZIUM_CONTROL", "0") in ("1", "true"):
        api = DebeziumAPI(cfg.debezium_addr, cfg.debezium_port, cfg.connector)
    scd2 = {t for t in os.environ.get("SCD2_TABLES", "").split(",") if t}
    pipe = CDCPipeline(
        spark,
        cfg,
        specs,
        store,
        api=api,
        dead_letter_path=os.environ.get("DEAD_LETTER_PATH"),
        scd2_tables=scd2,
    )
    transport_spec = os.environ.get("TRANSPORT", "kafka")
    if transport_spec.startswith("file:"):
        # MAX_FILES_PER_TRIGGER bounds each micro-batch of a file-transport
        # backfill (state commit between batches); unset = one batch.
        mfpt = os.environ.get("MAX_FILES_PER_TRIGGER")
        transport = file_envelope_stream(
            spark,
            transport_spec[len("file:"):],
            max_files_per_trigger=int(mfpt) if mfpt else None,
        )
    elif transport_spec == "kafka":
        transport = kafka_stream(spark, cfg)
    else:
        raise ValueError(f"unknown TRANSPORT {transport_spec!r} (use 'kafka' or 'file:<dir>')")
    return pipe, transport


def main() -> None:
    cfg = Config()
    # the launcher picks the master (spark-submit --master, else local[*])
    spark = get_spark(master="", shuffle_partitions=cfg.shuffle_partitions)
    pipe, transport = build_pipeline(spark, cfg)
    once = os.environ.get("RUN_ONCE", "0") in ("1", "true")
    query = pipe.start(transport, trigger_available_now=once)
    query.awaitTermination()


if __name__ == "__main__":
    main()
