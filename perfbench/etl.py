"""The ETL workload ``nightly_l5``, driven through
``BdeUploader.apply_updates``: a nightly incremental over mostly-small
tables. The repository is pre-loaded at level 0; each timed command is
one ``-incremental`` over the next level-5 dataset, which changes ~1% of
the same table every time (the others exit early). It is a closed loop
with one client and ``parallel_tables=1``, with dataset transactions on
(as a conf-driven run has them).
"""

from __future__ import annotations

import os
import time

from perfbench.gen_repo import BDE_COPY_BLOCK, RepoGen, TableSpec

# nightly_l5: three data tables plus the change table. Every dataset
# changes the same table, the largest, which carries a maintained view
# and a unique column (so each dataset also has a key swap); the other
# two exit early. Every timed command therefore does the same work.
NIGHTLY_TABLES = [
    TableSpec("crs_title", "ttl", 12000, ["id", "code", "grp", "qty", "name", "ts"],
              view=True, unique=True),
    TableSpec("crs_mark", "mrk", 3000, ["id", "grp", "qty", "amount", "shape"]),
    TableSpec("crs_line", "lin", 1500, ["id", "grp", "qty", "name", "d"], gz=True),
]
TOUCHED = ["crs_title"]

N_BUCKETS = 4


def uploader_conf(tables: list[TableSpec]) -> tuple[str, str]:
    """(uploader conf text, tables.conf text) for a table set plus the
    level-5 change table."""
    conf = f"bde_copy_configuration <<EOT\n{BDE_COPY_BLOCK.strip()}\nEOT\n"
    lines = ["TABLE l5_change_table l5_change_table files xaud"]
    lines += [t.conf_line() for t in tables]
    return conf, "\n".join(lines) + "\n"


def dir_bytes(root: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that are new or changed size between two
    ``dir_bytes`` listings."""
    return sum(n for p, n in after.items() if before.get(p) != n)


class Upload:
    """One repository + store + ledger + uploader under ``root``."""

    def __init__(self, spark, repo_root: str, root: str, tables: list[TableSpec]):
        from linz_bde_uploader_spark.catalog.tables import parse_tables_conf
        from linz_bde_uploader_spark.config import (
            parse_conf_text, upload_config_from_conf,
        )
        from linz_bde_uploader_spark.control.ledger import Ledger
        from linz_bde_uploader_spark.driver import BdeUploader
        from linz_bde_uploader_spark.sources.repository import BdeRepository
        from linz_bde_uploader_spark.sources.store import TableStore

        conf, tables_conf = uploader_conf(tables)
        self.config = upload_config_from_conf(parse_conf_text(conf))
        self.store_root = os.path.join(root, "store")
        self.store = TableStore(self.store_root, n_buckets=N_BUCKETS)
        self.ledger = Ledger(os.path.join(root, "ctl"))
        self.uploader = up = BdeUploader(spark, BdeRepository(repo_root), self.store,
                                         self.ledger, parse_tables_conf(tables_conf),
                                         self.config)
        # per-table walls: an instance wrapper that resolves the class
        # method at call time, so a traced pass's class patch still runs
        self.op_log: list[tuple[str, float]] = []
        for level in ("0", "5"):
            attr = f"upload_table_level{level}"

            def timed(job, ds, table, *args, _attr=attr, **kwargs):
                t = time.perf_counter()
                try:
                    return getattr(BdeUploader, _attr)(up, job, ds, table, *args, **kwargs)
                finally:
                    self.op_log.append((table.name, time.perf_counter() - t))
            setattr(up, attr, timed)

    def run(self, **kwargs) -> tuple[float, list]:
        t = time.perf_counter()
        results = self.uploader.apply_updates(**kwargs)
        return time.perf_counter() - t, results


def bad_results(results, expected: int) -> int:
    """Results that count as failed: error, rolled back, or skipped
    (no skip is planned), plus any table x dataset that never ran."""
    bad = sum(1 for r in results if r.status not in ("loaded", "warning"))
    return bad + max(0, expected - len(results))


def content_check(spark, upload: Upload, gen: RepoGen) -> list[str]:
    """Compare every table's row count and content hash (and each
    maintained view's ``__agg`` and ``__minmax`` rows) with the
    generator's plant, in one Spark action."""
    from functools import reduce

    from pyspark.sql import functions as F

    def digest(label, df, cols):
        line = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N"))
                                     for c in cols])
        term = F.conv(F.substring(F.md5(line), 1, 15), 16, 10).cast("decimal(38,0)")
        return df.agg(F.lit(label).alias("label"), F.count(F.lit(1)).alias("n"),
                      F.sum(term).alias("h"))

    parts, want = [], {}
    for t in gen.tables:
        parts.append(digest(t.name, upload.store.read(spark, t.name), t.columns))
        want[t.name] = gen.expected_table(t.name)
        if t.view:
            for suffix, cols, expected in (
                    ("agg", ["grp", "n", "n_vals", "total"], gen.expected_agg_view),
                    ("minmax", ["grp", "n", "vmin", "vmax"], gen.expected_minmax_view)):
                view = f"{t.name}__{suffix}"
                parts.append(digest(view, upload.store.read(spark, view), cols))
                want[view] = expected(t.name)
    got = {r["label"]: (r["n"], int(r["h"] or 0) % (1 << 64))
           for r in reduce(lambda x, y: x.unionByName(y), parts).collect()}
    return [f"{k}: rows/hash {got.get(k)} != plant {w}"
            for k, w in want.items() if got.get(k) != w]


def stats_check(upload: Upload, gen: RepoGen, datasets: list[str]) -> list[str]:
    """Compare the ledger's upload_stats for each (table, dataset) with
    the plant's I/U/0/D counts."""
    rows = {(s["table_name"], s["dataset"]): s for s in upload.ledger.stats_rows()}
    problems = []
    for ds in datasets:
        for t in gen.tables:
            want = gen.plant.stats[(t.name, ds)]
            got = rows.get((t.name, ds))
            got = {k: got[k] for k in want} if got else None
            if got != want:
                problems.append(f"{t.name}@{ds}: stats {got} != plant {want}")
    return problems


class Nightly:
    name = "nightly_l5"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.gen = None
        self.upload = None
        self.applied: list[str] = []

    def setup_once(self, rep: int) -> None:
        """Generate the repository's level-0 snapshot."""
        root = os.path.join(self.work, f"setup{rep}")
        self.gen = RepoGen(os.path.join(root, "repo"), self.seed, NIGHTLY_TABLES)
        self.applied = [self.gen.level0()]
        self.root = root

    def warm_up(self) -> None:
        """Pre-load the store at level 0 (``-full``), then apply one
        level-5 dataset untimed."""
        self.upload = Upload(self.spark, self.gen.root, self.root, NIGHTLY_TABLES)
        self.preload_s, results = self.upload.run(level0=True)
        if bad_results(results, len(NIGHTLY_TABLES)):
            raise RuntimeError(f"pre-load failed: {[(r.table, r.status) for r in results]}")
        self.command(self.prepare())

    def prepare(self) -> dict:
        """Write the next level-5 dataset (untimed); returns its
        ``.crs`` data rows and bytes."""
        rows, size = self.gen.plant.crs_rows, self.gen.plant.crs_bytes
        self.applied.append(self.gen.level5(TOUCHED))
        return {"rows": self.gen.plant.crs_rows - rows,
                "crs_bytes": self.gen.plant.crs_bytes - size}

    def command(self, prep: dict) -> dict:
        """One timed ``-incremental`` over the newest dataset. Its
        operations are the table merges that had changes to apply."""
        ds = self.applied[-1]
        self.upload.op_log.clear()
        before = dir_bytes(self.upload.store_root)
        wall, results = self.upload.run(level5=True)
        n = len(NIGHTLY_TABLES)
        changes = sum(v["ninsert"] + v["nupdate"] + v["ndelete"]
                      for (_, d), v in self.gen.plant.stats.items() if d == ds)
        return {"wall": wall, "attempted": n, "failed": bad_results(results, n),
                "ops": [w for t, w in self.upload.op_log if t in TOUCHED],
                "changes": changes,
                "store_bytes": bytes_written(before, dir_bytes(self.upload.store_root)),
                **prep}

    def check(self) -> list[str]:
        return (stats_check(self.upload, self.gen, self.applied)
                + content_check(self.spark, self.upload, self.gen))
