import hashlib
import os

import workloads
from gen import APPLIED, DDL, Field, Mix, Stream, Table, write_file


def _digest(root):
    out = {}
    for d in ("staging", "expected"):
        for name in sorted(os.listdir(os.path.join(root, d))):
            with open(os.path.join(root, d, name), "rb") as fh:
                out[f"{d}/{name}"] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_identical_files(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    workloads.build("live_mixed", 7, 4, a)
    workloads.build("live_mixed", 7, 4, b)
    workloads.build("live_mixed", 8, 4, c)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_files_are_in_binlog_order_and_widen_after_ddl(tmp_path):
    t = Table("t", [Field("id", "int64"), Field("v")], ["id"])
    s = Stream(3, t, Mix(insert=0.5, delete=0.1))
    s.seed_rows(50)
    before = s.file(20)
    ddl = s.add_column(Field("extra", "int64"), "BIGINT")
    after = s.file(20)
    assert ddl.fate == DDL and t.initial == t.fields[:2]
    assert all(e.fate == APPLIED for e in before + after)
    assert b'"extra"' not in b"".join(e.value for e in before)
    assert all(b'"extra"' in e.value for e in after if b'"after":{' in e.value)
    os.makedirs(tmp_path / "s")
    os.makedirs(tmp_path / "e")
    path = write_file(str(tmp_path / "s"), str(tmp_path / "e"), "f.parquet", before + [ddl] + after)
    assert os.path.getsize(path) > 0
