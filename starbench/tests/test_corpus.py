"""The generator is a pure function of its seed."""

from __future__ import annotations

import csv
import io
import os

from starbench import corpus


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def _write_all(root: str, seed: int) -> None:
    corpus.write_csv_corpus(os.path.join(root, "csv"), seed, n_files=3, rows_per_file=50)
    for k, rows in enumerate(corpus.unique_key_files(seed, 2, 40)):
        corpus.write_jsonl(os.path.join(root, "jsonl"), f"part-{k}.jsonl", rows, k,
                           frozenset({3}))


def test_same_seed_gives_byte_identical_files(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 7)
    _write_all(str(tmp_path / "c"), 8)
    a, b, c = (_tree(str(tmp_path / x)) for x in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_csv_has_the_reference_quirks(tmp_path):
    files = corpus.write_csv_corpus(str(tmp_path), 3, n_files=3, rows_per_file=400)
    names = sorted(os.listdir(tmp_path))
    assert names == ["MOCK_DATA (1).csv", "MOCK_DATA (2).csv", "MOCK_DATA.csv"]
    with open(tmp_path / "MOCK_DATA.csv", "rb") as f:
        raw = f.read()
    assert raw.startswith(b"\xef\xbb\xbf")
    rows = list(csv.DictReader(io.StringIO(raw.decode("utf-8-sig"))))
    assert [r["id"] for r in rows] == [str(i) for i in range(1, 401)]
    assert rows == files[-1]
    multiline = sum("\n" in r["product_description"] for r in rows) / len(rows)
    assert 0.6 < multiline < 0.76
    assert sum(r["store_state"] == "" for r in rows) / len(rows) > 0.75


def test_files_land_under_a_hidden_name_first(tmp_path):
    corpus.write_jsonl(str(tmp_path), "part-0.jsonl", [{"id": "1"}], 0)
    assert os.listdir(tmp_path) == ["part-0.jsonl"]


def test_malformed_lines_do_not_parse(tmp_path):
    import json

    rows = corpus.unique_key_files(1, 1, 5)[0]
    data = corpus.jsonl_bytes(rows, 2, frozenset({1})).decode().splitlines()
    ok = [json.loads(line) for i, line in enumerate(data) if i != 1]
    assert [m["arrival_seq"] for m in ok] == [2 * corpus.SEQ_STRIDE + i for i in (1, 3, 4, 5)]
    try:
        json.loads(data[1])
    except ValueError:
        pass
    else:
        raise AssertionError("line 1 should be malformed")


def test_open_loop_lander_keeps_its_schedule(tmp_path):
    lander = corpus.OpenLoopLander(str(tmp_path), seed=4, n_files=4, rows_per_file=10,
                                   files_per_s=20.0, malformed_ratio=0.1)
    lander.start()
    lander.join(timeout=10)
    assert sorted(os.listdir(tmp_path)) == [lander.name(k) for k in range(4)]
    assert lander.landed == sorted(lander.landed)
    assert all(t >= d for t, d in zip(lander.landed, lander.due))
    assert max(lander.late_s) < 1.0
