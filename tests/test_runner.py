"""Deployable-entrypoint tests: env-driven pipeline construction + an
end-to-end availableNow run over the file transport (the way a reference
binary user would actually launch the engine, main.go:25-68)."""

from __future__ import annotations

import json

import pytest

from etl_consumer_spark.runner import build_pipeline, load_table_specs
from etl_consumer_spark.sinks.partitioned_state import PartitionedParquetStateStore

from tests.test_streaming import DB, SERVER, TOPIC, envelope, make_transport, row

SPECS = {
    "batch_seq": {
        "pk": ["id"],
        "fields": [
            {"name": "id", "type": "int64"},
            {"name": "province_id", "type": "int32"},
            {"name": "seq", "type": "int32"},
            {"name": "amount", "type": "bytes",
             "logical": "org.apache.kafka.connect.data.Decimal", "scale": 2},
            {"name": "created_day", "type": "int32",
             "logical": "io.debezium.time.Date"},
        ],
    }
}


def test_load_table_specs_fields_and_schema(tmp_path):
    p = tmp_path / "specs.json"
    p.write_text(json.dumps(SPECS))
    specs = load_table_specs(str(p))
    assert specs[0].name == "batch_seq" and specs[0].pk_cols == ["id"]
    decimal = next(f for f in specs[0].fields if f.name == "amount")
    assert decimal.logical and decimal.scale == 2

    connect = {
        "orders": {
            "pk": ["o_id"],
            "schema": {
                "fields": [
                    {"field": "after", "fields": [
                        {"field": "o_id", "type": "int64"},
                        {"field": "note", "type": "string"},
                    ]}
                ]
            },
        }
    }
    p2 = tmp_path / "specs2.json"
    p2.write_text(json.dumps(connect))
    specs2 = load_table_specs(str(p2))
    assert [f.name for f in specs2[0].fields] == ["o_id", "note"]

    with pytest.raises(ValueError):
        p3 = tmp_path / "bad.json"
        p3.write_text(json.dumps({"t": {"fields": []}}))
        load_table_specs(str(p3))


def test_runner_end_to_end_file_transport(spark, tmp_path, monkeypatch):
    specs_file = tmp_path / "specs.json"
    specs_file.write_text(json.dumps(SPECS))
    monkeypatch.setenv("TABLESPECS", str(specs_file))
    monkeypatch.setenv("STATE_PATH", str(tmp_path / "state"))
    monkeypatch.setenv("TRANSPORT", f"file:{tmp_path / 'transport'}")
    monkeypatch.setenv("DEAD_LETTER_PATH", str(tmp_path / "dl"))
    monkeypatch.setenv("SERVER", SERVER)
    monkeypatch.setenv("DBNAME", DB)
    monkeypatch.setenv("TABLE", "batch_seq")

    # the transport dir must exist before the stream source is defined
    msgs = [
        (TOPIC, envelope(None, row(1, 10, 0, 12345, 18993), pos=100)),
        (TOPIC, envelope(row(1, 10, 0, 12345, 18993), None, pos=101)),
        (TOPIC, envelope(None, row(2, 20, 1, 500, 18994), pos=102)),
    ]
    make_transport(spark, msgs, str(tmp_path / "transport"))

    pipe, transport = build_pipeline(spark)
    assert isinstance(pipe.store, PartitionedParquetStateStore)
    pipe.store.init(
        "batch_seq",
        spark.createDataFrame(
            [], "id long, province_id long, seq long, amount double, created_day date"
        ),
        ["id"],
    )
    q = pipe.start(transport, checkpoint_dir=str(tmp_path / "ck"), trigger_available_now=True)
    q.awaitTermination(120)
    state = pipe.store.read("batch_seq").collect()
    assert [r["id"] for r in state] == [2]
    assert state[0]["amount"] == 5.00


def test_runner_bad_transport(spark, tmp_path, monkeypatch):
    specs_file = tmp_path / "specs.json"
    specs_file.write_text(json.dumps(SPECS))
    monkeypatch.setenv("TABLESPECS", str(specs_file))
    monkeypatch.setenv("STATE_PATH", str(tmp_path / "state"))
    monkeypatch.setenv("TRANSPORT", "carrier-pigeon")
    with pytest.raises(ValueError, match="carrier-pigeon"):
        build_pipeline(spark)


def test_runner_rejects_uri_state_path(spark, tmp_path, monkeypatch):
    """An object-store STATE_PATH fails at build time, before anything is
    written: the store's commit renames are only atomic on a local
    filesystem."""
    specs_file = tmp_path / "specs.json"
    specs_file.write_text(json.dumps(SPECS))
    (tmp_path / "t").mkdir()
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("TABLESPECS", str(specs_file))
    monkeypatch.setenv("STATE_PATH", "s3a://b/state")
    monkeypatch.setenv("TRANSPORT", f"file:{tmp_path / 't'}")
    before = sorted(p.name for p in tmp_path.iterdir())
    with pytest.raises(ValueError, match="s3a://b/state"):
        build_pipeline(spark)
    assert sorted(p.name for p in tmp_path.iterdir()) == before


def test_runner_max_files_per_trigger_env(spark, tmp_path, monkeypatch):
    """MAX_FILES_PER_TRIGGER must reach the file source: two transport
    files + the env knob = two micro-batches, with the second batch's
    update applied on top of the first batch's committed state."""
    specs_file = tmp_path / "specs.json"
    specs_file.write_text(json.dumps(SPECS))
    monkeypatch.setenv("TABLESPECS", str(specs_file))
    monkeypatch.setenv("STATE_PATH", str(tmp_path / "state"))
    monkeypatch.setenv("TRANSPORT", f"file:{tmp_path / 'transport'}")
    monkeypatch.setenv("SERVER", SERVER)
    monkeypatch.setenv("DBNAME", DB)
    monkeypatch.setenv("TABLE", "batch_seq")
    monkeypatch.setenv("MAX_FILES_PER_TRIGGER", "1")

    make_transport(
        spark,
        [(TOPIC, envelope(None, row(7, 70, 0, 7000, 18993), pos=300))],
        str(tmp_path / "transport"),
    )
    make_transport(
        spark,
        [(TOPIC, envelope(row(7, 70, 0, 7000, 18993), row(7, 71, 1, 7700, 18993), pos=301))],
        str(tmp_path / "transport"),
    )

    pipe, transport = build_pipeline(spark)
    pipe.store.init(
        "batch_seq",
        spark.createDataFrame(
            [], "id long, province_id long, seq long, amount double, created_day date"
        ),
        ["id"],
    )
    epochs = []
    orig = pipe.process_batch
    pipe.process_batch = lambda df, e: (epochs.append(e), orig(df, e))[1]
    q = pipe.start(transport, checkpoint_dir=str(tmp_path / "ck"), trigger_available_now=True)
    q.awaitTermination(120)
    assert len(epochs) >= 2, f"expected >=2 micro-batches, got {epochs}"
    state = pipe.store.read("batch_seq").collect()
    assert [(r["id"], r["province_id"], r["amount"]) for r in state] == [(7, 71, 77.00)]
