"""Sinks K1-K3: state store, dead-letter, Kafka republish."""

from etl_consumer_spark.sinks.dead_letter import dead_letter_rows, write_dead_letters
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore, evolve_frame
from etl_consumer_spark.sinks.republish import republish_frame, write_republish

__all__ = [
    "PartitionedParquetStateStore",
    "evolve_frame",
    "dead_letter_rows",
    "republish_frame",
    "write_dead_letters",
    "write_republish",
]
