"""Tests of the benchmark's pure parts: the seeded generator and its
plant, the tail-percentile rule, self-time arithmetic and metric names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench.etl import NIGHTLY_TABLES, TOUCHED
from perfbench.gen_repo import (
    RepoGen, TableSpec, cleanse_expected, expected_value, row_digest,
)
from perfbench.layers import METRICS
from perfbench.query_mix import SIZES, generate
from perfbench.spans import Span, self_times
from perfbench.stats import geomean, tail

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _nightly(root: str, seed: int, rounds: int = 3) -> RepoGen:
    gen = RepoGen(root, seed, NIGHTLY_TABLES)
    gen.level0()
    for _ in range(rounds):
        gen.level5(TOUCHED)
    return gen


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _nightly(str(tmp_path / "a"), 7)
    b = _nightly(str(tmp_path / "b"), 7)
    c = _nightly(str(tmp_path / "c"), 8)
    assert _files(a.root) == _files(b.root)
    assert a.plant == b.plant
    assert [a.expected_table(t.name) for t in NIGHTLY_TABLES] == \
        [b.expected_table(t.name) for t in NIGHTLY_TABLES]
    assert _files(a.root) != _files(c.root)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_plant_counts_per_seed(tmp_path, seed):
    """The seed moves content, not shape: every seed plants the same
    I/U/0/D counts, and the counts match the change rows written."""
    gen = _nightly(str(tmp_path / "r"), seed)
    ref = _nightly(str(tmp_path / "ref"), 99)
    assert sorted(gen.plant.stats.values(), key=json.dumps) == \
        sorted(ref.plant.stats.values(), key=json.dumps)
    l5 = sorted(os.listdir(os.path.join(gen.root, "level_5")))
    for ds in l5:
        with open(os.path.join(gen.root, "level_5", ds, "xaud.crs")) as fh:
            rows = [line.split("|") for line in fh if line.endswith("|\n")]
        for t in NIGHTLY_TABLES:
            st = gen.plant.stats[(t.name, ds)]
            listed = sum(1 for row in rows if row[1] == t.name)
            if t.name not in TOUCHED:
                assert listed == 0 and not any(st.values())
                continue
            swap = 2 if t.unique else 0
            # the change table lists each I/U/0/D key once, and one key
            # of the swapped pair
            assert listed == (st["ninsert"] + st["nupdate"] + st["nnullupdate"]
                              + st["ndelete"] - 2 * swap + swap // 2)
            assert st["nnullupdate"] >= 1
    # expected final rows = initial + inserts - deletes
    for t in NIGHTLY_TABLES:
        ins = sum(v["ninsert"] - v["ndelete"] for (n, ds), v in gen.plant.stats.items()
                  if n == t.name)
        assert gen.expected_table(t.name)[0] == ins


def test_view_plants(tmp_path):
    """The __agg and __minmax plants of a hand-checked table."""
    spec = TableSpec("t", "t", 0, ["id", "grp", "qty"], view=True)
    gen = RepoGen(str(tmp_path / "v"), 1, [spec])
    gen.state["t"] = {1: ["1", "3", "7"], 2: ["2", "3", "2"], 3: ["3", "3", ""],
                      4: ["4", "", "5"], 5: ["5", "9", ""]}
    groups = {"3": (3, ["7", "2"]), "\\N": (1, ["5"]), "9": (1, [])}
    agg = sum(row_digest([g, str(n), str(len(v)),
                          f"{sum(map(int, v))}.00" if v else "\\N"])
              for g, (n, v) in groups.items())
    minmax = sum(row_digest([g, str(n)] + ([f"{min(map(int, v))}.00",
                                            f"{max(map(int, v))}.00"]
                                           if v else ["\\N", "\\N"]))
                 for g, (n, v) in groups.items())
    assert gen.expected_agg_view("t") == (3, agg % (1 << 64))
    assert gen.expected_minmax_view("t") == (3, minmax % (1 << 64))


def test_cleanse_model():
    assert cleanse_expected("a\x01b\tc\\d") == "ab c d"
    assert cleanse_expected("é–’♯\x0b") == "é-'?"
    assert expected_value("d", "1750-03-01") == "1800-01-01"
    assert expected_value("amount", "12.50") == "12.5000000000"
    assert expected_value("shape", "LINESTRING(172.25 -41.50,170.10 -40.00)") == \
        "SRID=4167;LINESTRING(332.25 -41.50,330.10 -40.00)"
    assert expected_value("qty", "") == "\\N"


def test_query_tables_match_test_data_profile(tmp_path):
    """The generated query tables are deterministic per seed and follow
    the profile measured on the test data at sf0.01 (TESTDATA.md)."""
    import duckdb

    generate(str(tmp_path / "a"), 4)
    generate(str(tmp_path / "b"), 4)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    con = duckdb.connect()
    for t in SIZES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path / 'a' / t}.parquet'")

    def one(sql):
        return con.execute(sql).fetchone()

    assert [one(f"SELECT count(*) FROM {t}")[0] for t in SIZES] == \
        [15000, 60000, 10000, 500]
    # measured on sf0.01: 1500 customers, orders 1995-01-01..2001-08-01
    assert one("SELECT count(DISTINCT o_custkey), min(o_orderdate)::DATE::VARCHAR, "
               "max(o_orderdate)::DATE::VARCHAR FROM orders") == \
        (1500, "1995-01-01", "2001-08-01")
    # 2000 parts, 100 suppliers, ships 1995-01-02..2001-11-04, 54% of
    # rows inside Q1's shipdate cut, price independent of quantity
    part, supp, lo, hi, q1, corr = one(
        "SELECT max(l_partkey) + 1, max(l_suppkey) + 1, min(l_shipdate)::DATE::VARCHAR, "
        "max(l_shipdate)::DATE::VARCHAR, avg((l_shipdate <= DATE '1998-09-02')::INT), "
        "corr(l_quantity, l_extendedprice) FROM lineitem")
    assert (part, supp, lo, hi) == (2000, 100, "1995-01-02", "2001-11-04")
    assert 0.52 < q1 < 0.56 and abs(corr) < 0.03
    # 150 users, value median 34.6 (exponential, mean 50)
    users, med = one("SELECT count(DISTINCT user_id), median(value) FROM events")
    assert users == 150 and 32 < med < 37
    # 20 sources round robin, 5% near duplicates, 10-99 words
    srcs, dups, words = one(
        "SELECT count(DISTINCT source), avg((text LIKE '% dup')::INT), "
        "max(len(string_split(text, ' '))) FROM documents WHERE source = 'src' || doc_id % 20")
    assert srcs == 20 and 0.02 < dups < 0.08 and words <= 100


def test_tail_rule_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    pct, v = tail(xs)
    assert (pct, v) == (90.0, 90)
    assert sum(1 for x in xs if x > v) == 10
    pct, v = tail(list(range(1, 21)))           # 20 samples: rank 10
    assert (pct, v) == (50.0, 10)
    assert sum(1 for x in range(1, 21) if x > v) == 10
    # fewer than 20: a rank with ten above it lies below the median
    assert tail(list(range(1, 13))) == (50.0, 6.5)
    assert tail([3.0, 1.0, 2.0]) == (50.0, 2.0)
    with pytest.raises(ValueError):
        tail([])


def test_geomean():
    assert geomean([2.0]) == pytest.approx(2.0)
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)


def _span(name, start, end, parent=None):
    return Span(name, start, end, parent, "r")


def test_self_time_nested():
    spans = [_span("a", 0, 10), _span("b", 1, 4, 0), _span("c", 2, 3, 1),
             _span("d", 5, 9, 0)]
    assert self_times(spans) == [3, 2, 1, 4]
    assert sum(self_times(spans)) == 10


def test_self_time_overlapping_children():
    # children that overlap each other (and one that spills past the
    # parent's end) cover only the union of their intervals
    spans = [_span("a", 0, 10), _span("b", 1, 5, 0), _span("c", 3, 7, 0),
             _span("d", 9, 12, 0)]
    assert self_times(spans)[0] == pytest.approx(10 - (6 + 1))


def test_metric_names():
    e2e = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [m["name"] for m in e2e["end_to_end"] + e2e["per_layer"]]
    names += list(METRICS) + [w["name"] for w in e2e["workloads"]]
    for n in names:
        assert NAME.match(n), n
    for m in e2e["end_to_end"] + e2e["per_layer"]:
        assert UNIT.match(m["unit"]), m
    assert [METRICS[m["name"]] for m in e2e["per_layer"]] == \
        [m["unit"] for m in e2e["per_layer"]]
    assert len(set(names) - {w["name"] for w in e2e["workloads"]}) == \
        len(e2e["end_to_end"]) + len(e2e["per_layer"])
    assert [m["name"] for m in e2e["per_layer"]] == list(METRICS)
