from etl_consumer_spark.config import Config
from etl_consumer_spark.sources.envelope import WireField
from etl_consumer_spark.streaming.pipeline import CDCPipeline, TableSpec
from trace import StoreProxy, Tracer


class FakeStore:
    def __init__(self):
        self.calls = []

    def exists(self, table):
        self.calls.append(("exists", table))
        return True

    def evolve(self, table, statement):
        self.calls.append(("evolve", table, statement))

    def read(self, table):
        self.calls.append(("read", table))
        return "frame"

    def init(self, table, df, pk_cols, layout=None):
        self.calls.append(("init", table, df, tuple(pk_cols), layout))

    def read_leading_range(self, table, values):
        self.calls.append(("read_leading_range", table, tuple(values)))
        return "range"


def test_proxy_forwards_store_methods():
    store, tracer = FakeStore(), Tracer()
    proxy = StoreProxy(store, tracer)
    assert proxy.exists("t") is True
    assert proxy.read("t") == "frame"
    assert proxy.read_leading_range("t", [1, 2]) == "range"
    proxy.init("t", "df", ["id"], layout={"n": 1})
    proxy.evolve("t", "ALTER TABLE t ADD COLUMNS (c INT)")
    assert store.calls == [
        ("exists", "t"), ("read", "t"), ("read_leading_range", "t", (1, 2)),
        ("init", "t", "df", ("id",), {"n": 1}),
        ("evolve", "t", "ALTER TABLE t ADD COLUMNS (c INT)"),
    ]
    assert [s["name"] for s in tracer.spans] == ["state.init", "state.evolve"]


def test_pipeline_sees_the_same_store_through_the_proxy():
    store = FakeStore()
    proxy = StoreProxy(store, Tracer())
    spec = TableSpec("t", [WireField("id", "int64")], ["id"])
    # scd2 tables need read_leading_range: the proxy must expose it
    pipe = CDCPipeline(None, Config(), [spec], store=proxy, scd2_tables={"t"})
    pipe._evolve_state_schema("ALTER TABLE t ADD COLUMNS (c INT)")
    assert ("evolve", "t", "ALTER TABLE t ADD COLUMNS (c INT)") in store.calls
    assert ("exists", "t__history") in store.calls
    assert ("evolve", "t__history", "ALTER TABLE t ADD COLUMNS (c INT)") in store.calls


def test_proxy_hides_what_the_store_lacks():
    class Minimal:
        def upsert(self, table, events, pk_cols):
            return 0

    proxy = StoreProxy(Minimal(), Tracer())
    assert hasattr(proxy, "upsert")
    assert not hasattr(proxy, "evolve")
    assert not hasattr(proxy, "read_leading_range")


def test_self_time_subtracts_children():
    tr = Tracer()
    parent = tr.add("batch", 0.0, 10.0)
    tr.add("upsert", 2.0, 5.0, parent)
    tr.add("evolve", 4.0, 6.0, parent)  # overlaps the first child
    assert tr.self_times()[parent] == 6.0
