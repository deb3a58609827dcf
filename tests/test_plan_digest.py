"""``tools/plan_digest.py --diff`` on synthetic dumps (no Spark session)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import plan_digest as pd


def _dump(plans: dict, order: dict | None = None, oracles: dict | None = None) -> dict:
    d = {pd.SESSION: {"spark.sql.shuffle.partitions": "4"}, **plans}
    if order is not None:
        d[pd.ORDER] = order
    if oracles is not None:
        d[pd.ORACLES] = oracles
    return d


def _base() -> dict:
    names = [f"q{i:02d}" for i in range(60)]
    return _dump(
        {n: f"Project {n}" for n in names + ["s0", pd.UNSTABLE[0]]},
        {"queries": names, "staged_queries": ["s0"], "test_only_queries": [pd.UNSTABLE[0]]},
        {n: f"md5-{n}" for n in names + ["s0", pd.UNSTABLE[0]]},
    )


def _diff(tmp_path, a: dict, b: dict, capsys) -> tuple[int, str]:
    pa, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    rc = pd.diff(str(pa), str(pb))
    return rc, capsys.readouterr().out


def test_identical_dumps_pass(tmp_path, capsys):
    rc, out = _diff(tmp_path, _base(), _base(), capsys)
    assert rc == 0
    assert out.strip().splitlines()[-1].endswith("0 order changes, 0 oracle changes")


def test_order_change_is_reported_and_fails(tmp_path, capsys):
    b = _base()
    order = b[pd.ORDER]["queries"]
    # rotate two entries from behind the window to its head: q55 and q57 move,
    # q48 and q49 are pushed out of the first GATE_WINDOW
    for name in ("q57", "q55"):
        order.remove(name)
        order.insert(0, name)
    rc, out = _diff(tmp_path, _base(), b, capsys)
    assert rc == 1
    moved = sorted(line.split()[3] for line in out.splitlines()
                   if line.startswith("moved in queries:"))
    assert moved == ["q48", "q49", "q55", "q57"]
    assert "moved in queries: q55 55 -> 0 (enters the gate window)" in out
    assert "moved in queries: q49 49 -> 51 (leaves the gate window)" in out
    assert "4 order changes, 0 oracle changes" in out


def test_oracle_change_is_reported_and_fails(tmp_path, capsys):
    b = _base()
    b[pd.ORACLES]["q03"] = "md5-other"
    rc, out = _diff(tmp_path, _base(), b, capsys)
    assert rc == 1
    assert "oracle differs: q03" in out
    assert "0 order changes, 1 oracle changes" in out


def test_entry_in_one_dump_only_fails(tmp_path, capsys):
    b = _base()
    del b["s0"]
    b[pd.ORDER]["staged_queries"].remove("s0")
    del b[pd.ORACLES]["s0"]
    rc, out = _diff(tmp_path, _base(), b, capsys)
    assert rc == 1
    assert "1 unmatched" in out
    assert "staged_queries: s0" in out
    assert "oracle only in" in out


def test_unstable_only_change_passes(tmp_path, capsys):
    b = _base()
    b[pd.UNSTABLE[0]] = "Expand in another order"
    rc, out = _diff(tmp_path, _base(), b, capsys)
    assert rc == 0
    assert f"differs (unstable across runs, check its parity test): {pd.UNSTABLE[0]}" in out
    assert "0 differ, 1 unstable differ" in out


def test_old_dump_gets_one_warning(tmp_path, capsys):
    a = _dump({"q00": "Project q00"})
    rc, out = _diff(tmp_path, a, _dump({"q00": "Project q00"}, {"queries": ["q00"]}, {}),
                    capsys)
    assert rc == 0
    warnings = [line for line in out.splitlines() if line.startswith("warning:")]
    assert len(warnings) == 1 and "old dump" in warnings[0]


def test_moved_names_are_the_moved_block():
    a = list("abcdefgh")
    assert pd._moved(a, a) == set()
    assert pd._moved(a, list("habcdefg")) == {"h"}
    assert pd._moved(a, list("bcdaefgh")) == {"a"}
    assert pd._moved(a, list("aefbcdgh")) == {"e", "f"}
    assert pd._moved(a, list("abxcd")) == set()  # an added name moves nothing
