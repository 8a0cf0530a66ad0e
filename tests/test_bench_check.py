"""The per-query regression gate over ``bench_history.jsonl``: with no
files it pairs the two newest records of the same cpus and sf."""

from __future__ import annotations

import json

from scripts.bench_check import main


def _write(path, records):
    path.write_text("".join(json.dumps(r) + "\n" for r in records))


def _rec(cpus, sf, ts, **queries):
    return {"metric": "headline_queries_total", "value": sum(queries.values()),
            "queries": queries, "sf": sf, "cpus": cpus, "ts": ts}


def test_regressed_query_exits_1(tmp_path):
    hist = tmp_path / "h.jsonl"
    _write(hist, [_rec(8, 0.1, 1, q1=1.0, q2=2.0), _rec(8, 0.1, 2, q1=1.0, q2=3.0)])
    assert main(["--history", str(hist)]) == 1


def test_clean_pair_exits_0(tmp_path):
    hist = tmp_path / "h.jsonl"
    _write(hist, [_rec(8, 0.1, 1, q1=1.0, q2=2.0), _rec(8, 0.1, 2, q1=1.1, q2=1.9)])
    assert main(["--history", str(hist)]) == 0


def test_other_cpus_or_sf_never_paired(tmp_path, capsys):
    hist = tmp_path / "h.jsonl"
    # the newest like-for-like pair is (ts 1, ts 3): clean. Pairing ts 4
    # with ts 2 (other sf) or ts 3 with ts 2 would flag q1.
    _write(hist, [
        _rec(8, 0.1, 1, q1=1.0),
        _rec(32, 0.1, 2, q1=0.1),
        _rec(8, 0.1, 3, q1=1.0),
        _rec(8, 1.0, 4, q1=9.0),
    ])
    assert main(["--history", str(hist)]) == 0
    assert "ts 1 -> 3" in capsys.readouterr().out
    # no record shares both cpus and sf with another: nothing to compare
    _write(hist, [_rec(8, 0.1, 1, q1=1.0), _rec(32, 0.1, 2, q1=9.0), _rec(8, 1.0, 3, q1=9.0)])
    assert main(["--history", str(hist)]) == 2


def test_explicit_pair_still_compares_two_files(tmp_path):
    old, new = tmp_path / "old.json", tmp_path / "new.json"
    old.write_text(json.dumps({"parsed": {"queries": {"q1": 1.0}}}))
    new.write_text(json.dumps({"queries": {"q1": 2.0}}))
    assert main([str(old), str(new)]) == 1
    assert main([str(new), str(old)]) == 0
