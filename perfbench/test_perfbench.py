"""The benchmark's own checks; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd
import pytest

import regdata
import registry_wl
import run
import tibia

HERE = os.path.dirname(os.path.abspath(__file__))


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _land_two_days(root: str, seed: int) -> str:
    world = tibia.World(seed, players=120, worlds=2)
    for d in range(2):
        world.land(os.path.join(root, str(d)), d)
    return _tree_digest(root)


def test_same_seed_same_landed_inputs(tmp_path):
    a = _land_two_days(str(tmp_path / "a"), 5)
    b = _land_two_days(str(tmp_path / "b"), 5)
    c = _land_two_days(str(tmp_path / "c"), 6)
    assert a == b
    assert a != c


def test_same_seed_same_registry_tables(tmp_path):
    sizes = dict(events=300, users=40)
    regdata.write_tables(str(tmp_path / "a"), 5, **sizes)
    regdata.write_tables(str(tmp_path / "b"), 5, **sizes)
    regdata.write_tables(str(tmp_path / "c"), 6, **sizes)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))


def test_landing_has_malformed_pages_the_oracle_excludes(tmp_path):
    world = tibia.World(3, players=400, worlds=2)
    landed = world.land(str(tmp_path), 0)
    st = landed["stats"]
    assert st["bad_pages"] > 0 and st["entries_ok"] < st["entries"]
    # every surviving poll row comes from a file that parses
    good = set()
    for f in os.listdir(tmp_path / "online"):
        try:
            json.loads((tmp_path / "online" / f).read_text())
            good.add(int(f[4:7]))
        except ValueError:
            pass
    assert {k for *_r, k in landed["polls"]} <= good


def test_tibia_oracle_catches_a_corrupted_table(tmp_path):
    world, oracle = tibia.World(4, players=300, worlds=2), tibia.Oracle()
    for d in range(3):
        oracle.day(d, world.land(str(tmp_path / str(d)), d))
    cols, rows = oracle.tables()["exp_gain"]
    assert rows and {r[cols.index("period")] for r in rows} == {"yesterday", "7days"}
    bad = list(rows)
    i = cols.index("gain")
    bad[0] = bad[0][:i] + (bad[0][i] + 1,) + bad[0][i + 1:]
    assert tibia.canon_rows(rows) == tibia.canon_rows(list(reversed(rows)))
    assert tibia.canon_rows(bad) != tibia.canon_rows(rows)


def test_registry_oracle_catches_a_corrupted_result(tmp_path):
    data = str(tmp_path / "data")
    regdata.write_tables(data, 2, events=400, users=30)
    sql = {"daily": "SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY 1"}
    oracle = registry_wl.DuckOracle(data, sql)
    good = oracle.con.execute(sql["daily"]).fetchdf()
    assert registry_wl.canon(good.sample(frac=1.0, random_state=1)) == oracle.expected("daily")
    bad = good.copy()
    bad.loc[0, "n"] += 1
    assert registry_wl.canon(bad) != oracle.expected("daily")
    assert registry_wl.canon(pd.DataFrame(good.iloc[1:])) != oracle.expected("daily")


def test_metric_and_workload_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.end_to_end_names()
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names()
    assert set(registry_wl.WORKLOADS) | {"tibia_cron"} == set(run.WORKLOADS)


@pytest.mark.parametrize("lat,expect", [
    ([float(i) for i in range(1, 31)], (20.0, 100.0 * 20 / 30, 30)),
    ([3.0, 1.0, 2.0], (3.0, 100.0, 3)),
])
def test_tail_latency(lat, expect):
    assert run.tail_latency(lat) == expect
