"""The ``query_mix`` workload: declared queries from
``__spark_entry__.queries()`` run one after another on seeded parquet
tables, each materialised through the ``noop`` sink, with caches
released between queries. The seed shuffles the order of each pass.

The tables reproduce the project's test data (TESTDATA.md: orders,
lineitem, events, documents) at its sf0.01 row counts: the schemas and
the value distributions below were measured with DuckDB on that data at
sf0.01 and sf0.1, where one generator gives the same shapes with ranges
scaled to the row counts. They are generated here from the seed so the
program sees only generated inputs. That data departs from the TPC-H
specification (dense keys from 0, dates from 1995, prices drawn
independently of quantity), and so does this. Correctness is checked
after the timed passes against each query's DuckDB oracle
(``__spark_entry__.oracle_sql()``) with the order-insensitive value
hash of ``scripts/check_oracle.py``.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the rows whose cost a .count() timing prunes away (q1, dedup_simhash,
# docs_gopher_rules, text_redact_pii), the rows that share
# operators.merge with the uploads (cdc_*, full_diff), and one sketch
# aggregate over events
QUERIES = [
    "q1_pricing_summary", "cdc_classify", "cdc_minmax_refresh", "full_diff",
    "dedup_simhash", "docs_gopher_rules", "text_redact_pii",
    "events_hll_distinct",
]

# tables each query reads (rows read per pass feed rows_per_s)
INPUTS = {
    "q1_pricing_summary": ["lineitem"], "cdc_classify": ["orders"],
    "cdc_minmax_refresh": ["orders"], "full_diff": ["orders"],
    "dedup_simhash": ["documents"], "docs_gopher_rules": ["documents"],
    "text_redact_pii": ["documents"], "events_hll_distinct": ["events"],
}

# rows per table: the test data at sf0.01
SIZES = {"orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500}

# the documents' 30 words; a near duplicate is another document's text
# with " dup" appended
_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window"]
_DUP_RATE = 0.05
_LANGS, _LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
_SOURCES = 20
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]


def _days(rng: np.random.Generator, n: int, lo: dt.date, days: int) -> np.ndarray:
    """``n`` midnights drawn uniformly from ``lo`` .. ``lo + days - 1``."""
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _documents(seed: int, n: int) -> list[str]:
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 99)))
             for _ in range(n)]
    for i in range(n):
        if rng.random() < _DUP_RATE:
            j = rng.randrange(n - 1)
            texts[i] = texts[j + (j >= i)] + " dup"
    return texts


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the query tables for ``seed``; returns rows per table.

    Every column is uniform over the range given unless noted; ranges
    that grow with the data are written per row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_o, n_l = SIZES["orders"], SIZES["lineitem"]

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    def pick(values: list[str], n: int, p=None) -> pa.Array:
        return pa.array(rng.choice(values, n, p=p))

    write("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_o // 10, n_o, dtype=np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_o),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_o), 2)),
        "o_orderdate": pa.array(_days(rng, n_o, dt.date(1995, 1, 1), 2405),
                                pa.timestamp("us")),
        "o_orderpriority": pick(_PRIORITIES, n_o),
    }))
    write("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_o * 2 // 15, n_l, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_o // 150, n_l, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_l), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_l),
        "l_linestatus": pick(["F", "O"], n_l),
        "l_shipdate": pa.array(_days(rng, n_l, dt.date(1995, 1, 2), 2499),
                               pa.timestamp("us")),
    }))
    n_e = SIZES["events"]
    # timestamps ascend with event_id over 30 days; values are
    # exponential with mean 50
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e))
    write("events", pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_e * 3 // 200, n_e, dtype=np.int64)),
        "event_type": pick(_EVENTS, n_e),
        "value": pa.array(np.round(rng.exponential(50, n_e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    }))
    n_d = SIZES["documents"]
    texts = _documents(seed, n_d)
    write("documents", pa.table({
        "doc_id": pa.array(np.arange(n_d, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(_LANGS, n_d, _LANG_P),
        "source": pa.array([f"src{i % _SOURCES}" for i in range(n_d)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    return dict(SIZES)


def _check_oracle_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryMix:
    name = "query_mix"

    def __init__(self, spark, work: str, seed: int, root: str):
        import __spark_entry__ as entry

        self.spark, self.work, self.seed = spark, work, seed
        self.rng = random.Random(seed)
        fns = entry.queries()
        self.queries = {q: fns[q] for q in QUERIES}
        self.oracles = entry.oracle_sql()
        self.oracle = _check_oracle_module(root)
        self.data = None
        self.sizes: dict[str, int] = {}

    def setup_once(self, rep: int) -> None:
        self.data = os.path.join(self.work, f"setup{rep}", "tables")
        self.sizes = generate(self.data, self.seed)

    def warm_up(self) -> None:
        """One untimed pass."""
        self.command(self.prepare())

    def prepare(self) -> dict:
        return {}

    def _release(self) -> None:
        from linz_bde_uploader_spark.operators.dedup import release_caches

        release_caches()
        self.spark.catalog.clearCache()

    def run_query(self, name: str) -> float:
        t = time.perf_counter()
        df = self.queries[name](self.spark, self.data)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t
        self._release()
        return wall

    def command(self, prep: dict, on_query=None) -> dict:
        """One pass over every query in a seeded order; ``on_query``
        wraps each query (the traced pass opens a span there)."""
        order = list(QUERIES)
        self.rng.shuffle(order)
        walls = {}
        for q in order:
            walls[q] = on_query(q, self.run_query) if on_query else self.run_query(q)
        rows = sum(self.sizes[t] for q in order for t in INPUTS[q])
        return {"wall": sum(walls.values()), "attempted": len(order), "failed": 0,
                "ops": list(walls.values()), "rows": rows, "changes": 0,
                "queries": walls}

    def check(self) -> list[str]:
        """The oracle check, after the timed passes and their cache
        releases."""
        return self._oracle_check()

    def _oracle_check(self) -> list[str]:
        """Each query's rows against its DuckDB oracle (row count,
        column names, value hash)."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in SIZES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t + '.parquet')}'")
            problems = []
            for q in QUERIES:
                sdf = self.queries[q](self.spark, self.data)
                scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
                self._release()
                cur = con.execute(self.oracles[q])
                dcols = [d[0] for d in cur.description]
                drows = cur.fetchall()
                if len(srows) != len(drows) or sorted(scols) != sorted(dcols):
                    problems.append(f"{q}: {len(srows)} rows {sorted(scols)} vs "
                                    f"oracle {len(drows)} rows {sorted(dcols)}")
                elif self.oracle.table_hash(srows, scols) != self.oracle.table_hash(drows, dcols):
                    problems.append(f"{q}: value hash differs from oracle")
            return problems
        finally:
            con.close()
