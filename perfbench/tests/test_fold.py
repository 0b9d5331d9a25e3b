import base64
import json

from fold import Fold, decode, rows_wrong
from gen import APPLIED, DECIMAL, MICROTIME, TOMBSTONE, ZONEDTS, Field

FIELDS = [Field("id", "int64"), Field("v")]


def env(pos, before, after):
    return json.dumps({"payload": {"before": before, "after": after,
                                   "source": {"table": "t", "pos": pos}}}).encode()


def test_hand_worked_fold():
    fold = Fold({"t": (FIELDS, ["id"])})
    fold.seed("t", [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    stream = [
        (env(1, None, {"id": 3, "v": "c"}), APPLIED),                  # insert 3
        (env(2, {"id": 1, "v": "a"}, {"id": 1, "v": "a2"}), APPLIED),  # update 1
        (env(3, {"id": 2, "v": "b"}, None), APPLIED),                  # delete 2
        (env(4, {"id": 9, "v": "z"}, None), APPLIED),                  # delete of a missing key
        (b"", TOMBSTONE),                                              # tombstone: no effect
        (env(5, None, {"id": 4, "v": "o'neil"}), APPLIED),             # insert, quote stripped
        (env(6, {"id": 3, "v": "c"}, {"id": 3, "v": "c2"}), APPLIED),  # update of a new row
        (env(7, {"id": 4, "v": "o'neil"}, None), APPLIED),             # delete of a new row
        (env(8, None, {"id": 2, "v": "b2"}), APPLIED),                 # re-insert 2
        (env(9, {"id": 1, "v": "a2"}, {"id": 1, "v": "a3"}), APPLIED), # last writer wins
    ]
    for value, fate in stream:
        fold.apply(value, fate)
    assert fold.expected("t") == {(1,): (1, "a3"), (2,): (2, "b2"), (3,): (3, "c2")}


def test_rows_wrong_counts_differences_missing_and_duplicates():
    expected = {(1,): (1, "a"), (2,): (2, "b"), (3,): (3, "c")}
    assert rows_wrong(expected, [(1, "a"), (2, "b"), (3, "c")], 1) == 0
    assert rows_wrong(expected, [(1, "a"), (2, "x"), (3, "c"), (3, "c"), (4, "d")], 1) == 3
    assert rows_wrong(expected, [(1, "a")], 1) == 2


def test_decoders():
    assert decode(Field("p", "bytes", DECIMAL, scale=2), base64.b64encode(b"\xff\x38").decode()) == -2.0
    assert decode(Field("t", "int64", MICROTIME), 3_661_000_000) == "1:1:1"
    assert decode(Field("z", "string", ZONEDTS), "1970-01-01T00:00:01Z") == (7 * 3600 + 1) * 1_000_000
    assert decode(Field("b", "boolean"), True) == 1
