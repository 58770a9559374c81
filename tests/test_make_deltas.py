"""``tools/make_deltas.py``: a round's record is read from the archived
full record its compact bench line names, when that file exists."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import make_deltas  # noqa: E402

COMPACT = {"value": 10.0, "queries": {"a": 1.0},
           "full_record": "BENCH/bench_full_x.json"}


def _write(path: Path, obj: dict) -> str:
    path.write_text(json.dumps(obj))
    return str(path)


def test_load_reads_the_full_record(tmp_path, monkeypatch):
    monkeypatch.setattr(make_deltas, "_ROOT", str(tmp_path))
    (tmp_path / "BENCH").mkdir()
    _write(tmp_path / "BENCH" / "bench_full_x.json", {"queries": {"a": 1.0, "b": 2.0}})
    got = make_deltas.load(_write(tmp_path / "r.json", {"parsed": COMPACT}))
    assert got["queries"] == {"a": 1.0, "b": 2.0}
    assert got["value"] == 10.0


def test_load_falls_back_to_the_compact_line(tmp_path, monkeypatch):
    monkeypatch.setattr(make_deltas, "_ROOT", str(tmp_path))
    # the named full record is missing
    assert make_deltas.load(_write(tmp_path / "r.json", {"parsed": COMPACT}))["queries"] == {"a": 1.0}
    # no full record named
    bare = {k: v for k, v in COMPACT.items() if k != "full_record"}
    assert make_deltas.load(_write(tmp_path / "s.json", bare))["queries"] == {"a": 1.0}
