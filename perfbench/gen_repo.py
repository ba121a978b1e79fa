"""Seeded BDE repository generator for the ETL workloads.

Writes ``.crs`` files in the layout ``BdeRepository`` reads
(``<root>/level_0/<YYYYMMDDhhmmss>/<tag>.crs[.gz]`` and ``level_5/...``)
and keeps, next to every file it writes, the *plant*: what a correct
upload must report and store.

- per table x dataset: the ledger stats a correct merge records
  (``ninsert``, ``nupdate``, ``nnullupdate``, ``ndelete``);
- per table: the expected row count and an order-insensitive content
  hash of the cleansed rows (``expected_table``), and for tables with a
  maintained view the expected ``<table>__agg`` and ``<table>__minmax``
  rows (``expected_agg_view``, ``expected_minmax_view``).

The expected values are computed here from the generator's own model
of the bde_copy cleanse (``cleanse_expected``), never by running the
program. The seed decides the content (keys, values, which rows
change); the shape (tables, sizes, change counts, which tables a
dataset touches) is the same for every seed, so runs on different
seeds do the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

# The benchmark's own bde_copy block: the rule grammar the reference conf
# uses (control-character deletes and replaces, '|' and '\', identity
# rules for kept non-ASCII, 1:1 maps, UTF-8 enforcement with an unmapped
# replacement, date floors, WKT prefix and longitude offset).
BDE_COPY_BLOCK = r"""
minimum_year 1800
invalid_datetime_string 1800-01-01 00:00:00
invalid_date_string 01/01/1800
wkt_prefix SRID=4167;
longitude_offset 160.0
max_errors 0
replace \x01 delete Removing control character 0x01
replace \x02 delete Removing control character 0x02
replace \x09 \x20 Replacing tab with space
replace \x0B delete Removing vertical tab
replace | \x20 Replacing pipe with space
replace \\ \x20 Replacing backslash with space
replace é é
replace è è
replace ā ā
replace – - Replacing en dash
replace ’ ' Replacing right quote
utf8_encoding enforced
utf8_replace_unmapped ?
"""

# char -> replacement ('' deletes), mirroring BDE_COPY_BLOCK
_CHAR_MAP = {"\x01": "", "\x02": "", "\t": " ", "\x0b": "", "|": " ",
             "\\": " ", "é": "é", "è": "è",
             "ā": "ā", "–": "-", "’": "'"}
_ALLOWED_NON_ASCII = {"é", "è", "ā"}
_C0_DROPPED = {chr(c) for c in range(0x20)} - {"\t", "\n", "\r"}
_MIN_YEAR = 1800
_XAUD_COLUMNS = [("id", "integer", False), ("tablename", "varchar", False),
                 ("tablekeyvalue", "integer", False), ("action", "char", False),
                 ("timestamp", "datetime", False)]

# characters planted into varchar values: mapped, kept, deleted and
# unmapped (the last become '?')
_PLANTS = ["é", "–", "’", "\x01", "\t", "\\", "è",
           "ā", "♯", "♭", "\x0b"]
_WORDS = ["parcel", "lot", "deposited", "plan", "section", "block",
          "survey", "title", "estate", "mark", "line", "road", "river",
          "hill", "town", "east", "west", "north", "south"]


def cleanse_expected(text: str) -> str:
    """The stored value of a varchar field under BDE_COPY_BLOCK: every
    input character is mapped once, remaining C0 controls are dropped,
    and non-ASCII characters the map does not keep become '?'."""
    out = []
    for ch in text:
        ch = _CHAR_MAP.get(ch, ch)
        for c in ch:
            if c in _C0_DROPPED:
                continue
            if ord(c) > 127 and c not in _ALLOWED_NON_ASCII:
                c = "?"
            out.append(c)
    return "".join(out)


def _shift_wkt(wkt: str) -> str:
    """Expected geometry: SRID prefix plus the longitude offset on
    every coordinate pair, keeping the source's decimals."""
    head, _, rest = wkt.partition("(")
    pairs = []
    for pair in rest.rstrip(")").split(","):
        x, y = pair.split()
        dec = len(x.split(".", 1)[1]) if "." in x else 0
        pairs.append(f"{float(x) + 160.0:.{dec}f} {y}")
    return f"SRID=4167;{head}({','.join(pairs)})"


# column kind -> (crs header type, nullable)
_KINDS = {
    "id": ("integer", False), "grp": ("integer", True),
    "qty": ("integer", True), "code": ("varchar", False),
    "name": ("varchar", True), "amount": ("decimal", True),
    "d": ("date", True), "ts": ("datetime", True),
    "shape": ("geometry", True),
}


def expected_value(kind: str, raw: str) -> str:
    """Canonical string of the stored value for one raw field, the
    form ``content_hash`` hashes (Spark's cast-to-string of the loaded
    column; NULL is ``\\N``)."""
    if raw == "":
        return "\\N"
    if kind in ("id", "grp", "qty"):
        return str(int(raw))
    if kind in ("code", "name"):
        return cleanse_expected(raw)
    if kind == "amount":
        return f"{Decimal(raw):.10f}"
    if kind == "d":
        return "1800-01-01" if int(raw[:4]) < _MIN_YEAR else raw
    if kind == "ts":
        return "1800-01-01 00:00:00" if int(raw[:4]) < _MIN_YEAR else raw
    if kind == "shape":
        return _shift_wkt(raw)
    raise ValueError(kind)


def row_digest(values: list[str]) -> int:
    """Per-row hash term: the first 60 bits of md5 over the canonical
    values joined by 0x1f, in column order."""
    line = "\x1f".join(values).encode("utf-8")
    return int(hashlib.md5(line).hexdigest()[:15], 16)


@dataclass
class TableSpec:
    name: str
    tag: str
    rows: int
    kinds: list[str]
    view: bool = False          # view=grp:qty:minmax
    unique: bool = False        # unique=code, gets a key swap
    gz: bool = False            # ships as .crs.gz

    @property
    def columns(self) -> list[str]:
        return [("audit_id" if k == "id" else k) for k in self.kinds]

    def conf_line(self) -> str:
        parts = [f"TABLE {self.name} key=audit_id"]
        if self.unique:
            parts.append("unique=code")
        if self.view:
            parts.append("view=grp:qty:minmax")
        parts.append(f"files {self.tag}")
        return " ".join(parts)


@dataclass
class Plant:
    """What a correct upload of everything written so far reports."""

    # (table, dataset) -> {"ninsert", "nupdate", "nnullupdate", "ndelete"}
    stats: dict[tuple[str, str], dict[str, int]] = field(default_factory=dict)
    crs_rows: int = 0     # data rows written, all files
    crs_bytes: int = 0    # bytes on disk, all files


def _change_counts(n_rows: int) -> tuple[int, int, int, int]:
    """(updates, inserts, deletes, null updates) for ~1% changes."""
    c = max(3, n_rows // 100)
    return c // 2, c // 4, c - c // 2 - c // 4, max(1, c // 10)


class RepoGen:
    """Deterministic repository writer: the same seed and the same call
    sequence give byte-identical files and plants."""

    def __init__(self, root: str, seed: int, tables: list[TableSpec],
                 start: dt.datetime = dt.datetime(2024, 1, 1)):
        self.root = root
        self.rng = random.Random(seed)
        self.tables = tables
        self.state: dict[str, dict[int, list[str]]] = {t.name: {} for t in tables}
        self.next_key = {t.name: 1_000 + 7 * i for i, t in enumerate(tables)}
        self.next_code = 0
        self.clock = start
        self.plant = Plant()

    # ----------------------------------------------------------- values
    def _name(self) -> str:
        rng = self.rng
        words = [rng.choice(_WORDS) for _ in range(rng.randint(2, 5))]
        if rng.random() < 0.15:
            words.insert(rng.randrange(len(words)), rng.choice(_PLANTS))
        return " ".join(words)

    def _field(self, kind: str, key: int) -> str:
        rng = self.rng
        if kind == "id":
            return str(key)
        if kind == "code":
            self.next_code += 1
            return f"C{self.next_code:08d}"
        if _KINDS[kind][1] and rng.random() < 0.02:
            return ""
        if kind == "grp":
            return str(rng.randrange(24))
        if kind == "qty":
            return str(rng.randrange(1, 5000))
        if kind == "name":
            return self._name()
        if kind == "amount":
            return f"{rng.randrange(1, 10**8) / 100:.2f}"
        if kind == "d":
            year = 1750 if rng.random() < 0.01 else rng.randint(1990, 2023)
            return f"{year:04d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
        if kind == "ts":
            year = 1750 if rng.random() < 0.01 else rng.randint(1990, 2023)
            return (f"{year:04d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d} "
                    f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:"
                    f"{rng.randrange(60):02d}")
        if kind == "shape":
            pts = [f"{rng.randint(16600, 17899) / 100:.2f} "
                   f"{-rng.randint(3400, 4700) / 100:.2f}"
                   for _ in range(rng.choice((1, 2, 3)))]
            return (f"POINT({pts[0]})" if len(pts) == 1
                    else f"LINESTRING({','.join(pts)})")
        raise ValueError(kind)

    def _new_row(self, t: TableSpec) -> list[str]:
        key = self.next_key[t.name]
        self.next_key[t.name] += 1 + self.rng.randrange(3)
        return [self._field(k, key) for k in t.kinds]

    def _update(self, t: TableSpec, row: list[str]) -> list[str]:
        """A change every loader sees: a new qty (or amount/grp)."""
        new = list(row)
        for kind in ("qty", "amount", "grp"):
            if kind in t.kinds:
                i = t.kinds.index(kind)
                while new[i] == row[i] or new[i] == "":
                    new[i] = self._field(kind, 0)
                return new
        raise ValueError(f"{t.name} has no updatable column")

    # ------------------------------------------------------------ files
    @staticmethod
    def _header(table: str, cols: list[tuple[str, str, bool]],
                start: str, end: str) -> str:
        lines = "".join(f"COLUMN\t {c:<30} {typ} {'NULL' if null else 'NOT NULL'}\n"
                        for c, typ, null in cols)
        return (f"HEDR\t 2.0.0\nSOFTWARE perfbench V1.0\nSCHEMA\t V1.0\n"
                f"USER\t crs_bde\nSTART\t {start}\nEND\t {end}\n"
                f"SQL\t SELECT * FROM {table}\nTABLE\t{table}\n{lines}DESC\n")

    def _write(self, path: str, header: str, lines: list[str], gz: bool) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        body = "".join(line + "\n" for line in lines).encode("utf-8")
        data = (header + f"SIZE          {len(body)}\n{{CRS-DATA}}\n").encode() + body
        if gz:
            path += ".gz"
            data = gzip.compress(data, mtime=0)
        with open(path, "wb") as fh:
            fh.write(data)
        self.plant.crs_rows += len(lines)
        self.plant.crs_bytes += len(data)

    def _write_snapshot(self, level: int, ds: str, t: TableSpec,
                        start: str, end: str) -> None:
        rows = self.state[t.name]
        lines = ["|".join(rows[k]) + "|" for k in sorted(rows)]
        cols = [(c, *_KINDS[k]) for c, k in zip(t.columns, t.kinds)]
        self._write(os.path.join(self.root, f"level_{level}", ds, t.tag + ".crs"),
                    self._header(t.name, cols, start, end), lines, t.gz)

    def _tick(self) -> tuple[str, str, str]:
        start = self.clock.strftime("%Y-%m-%d %H:%M:%S")
        self.clock += dt.timedelta(minutes=20)
        end = self.clock.strftime("%Y-%m-%d %H:%M:%S")
        return self.clock.strftime("%Y%m%d%H%M%S"), start, end

    # --------------------------------------------------------- datasets
    def level0(self) -> str:
        """Write the initial full snapshot of every table."""
        ds, start, end = self._tick()
        for t in self.tables:
            rows = self.state[t.name]
            while len(rows) < t.rows:
                key = self.next_key[t.name]
                rows[key] = self._new_row(t)
            self._write_snapshot(0, ds, t, start, end)
            self.plant.stats[(t.name, ds)] = {
                "ninsert": t.rows, "nupdate": 0, "nnullupdate": 0, "ndelete": 0}
        return ds

    def _mutate(self, t: TableSpec, swap: bool) -> tuple[dict[str, int], list[int]]:
        """Apply ~1% U/I/D plus null updates (and a key swap) to one
        table's state; returns its stats and the keys the change table
        lists."""
        rng = self.rng
        rows = self.state[t.name]
        n_upd, n_ins, n_del, n_null = _change_counts(len(rows))
        keys = sorted(rows)
        picked = rng.sample(keys, n_upd + n_del + n_null + (2 if swap else 0))
        upd = picked[:n_upd]
        dele = picked[n_upd:n_upd + n_del]
        null = picked[n_upd + n_del:n_upd + n_del + n_null]
        listed = list(upd) + list(dele) + list(null)
        for k in upd:
            rows[k] = self._update(t, rows[k])
        for k in dele:
            del rows[k]
        for _ in range(n_ins):
            key = self.next_key[t.name]
            rows[key] = self._new_row(t)
            listed.append(key)
        x = 0
        if swap:
            # two rows trade their unique code; the change table names
            # only the first, so the merge must find the displaced one
            k1, k2 = picked[-2:]
            ci = t.kinds.index("code")
            rows[k1][ci], rows[k2][ci] = rows[k2][ci], rows[k1][ci]
            listed.append(k1)
            x = 2
        stats = {"ninsert": n_ins + x, "nupdate": n_upd,
                 "nnullupdate": n_null, "ndelete": n_del + x}
        return stats, listed

    def level5(self, touched: list[str]) -> str:
        """Write the next level-5 dataset: a full snapshot of every
        table plus the change table. Only ``touched`` tables change;
        the rest are listed in no change row (the merge's early exit)."""
        ds, start, end = self._tick()
        xaud = []
        for t in self.tables:
            stats = {"ninsert": 0, "nupdate": 0, "nnullupdate": 0, "ndelete": 0}
            if t.name in touched:
                stats, listed = self._mutate(t, swap=t.unique)
                for k in sorted(listed):
                    xaud.append(f"{len(xaud) + 1}|{t.name}|{k}|U|{start}|")
            self.plant.stats[(t.name, ds)] = stats
            self._write_snapshot(5, ds, t, start, end)
        header = self._header("cbe_data", _XAUD_COLUMNS, start, end)
        self._write(os.path.join(self.root, "level_5", ds, "xaud.crs"),
                    header, xaud, False)
        return ds

    # ------------------------------------------------------ expectations
    def expected_table(self, name: str) -> tuple[int, int]:
        """(row count, content hash) of the table after everything
        written so far is applied. The hash is the sum mod 2^64 of
        ``row_digest`` over rows, so row order does not matter."""
        t = next(s for s in self.tables if s.name == name)
        rows = self.state[name]
        total = sum(row_digest([expected_value(k, v) for k, v in zip(t.kinds, r)])
                    for r in rows.values())
        return len(rows), total % (1 << 64)

    def _groups(self, name: str) -> dict[str, tuple[int, list[int]]]:
        """Per grp of table ``name``: (row count, non-null qty values)."""
        t = next(s for s in self.tables if s.name == name)
        gi, qi = t.kinds.index("grp"), t.kinds.index("qty")
        groups: dict[str, tuple[int, list[int]]] = {}
        for r in self.state[name].values():
            g = expected_value("grp", r[gi])
            n, vals = groups.get(g, (0, []))
            if r[qi] != "":
                vals.append(int(r[qi]))
            groups[g] = (n + 1, vals)
        return groups

    def expected_agg_view(self, name: str) -> tuple[int, int]:
        """(group count, hash) of ``<name>__agg``: per grp, the row
        count, the non-null qty count and the qty total."""
        groups = self._groups(name)
        total = sum(row_digest([g, str(n), str(len(vals)),
                                f"{sum(vals)}.00" if vals else "\\N"])
                    for g, (n, vals) in groups.items())
        return len(groups), total % (1 << 64)

    def expected_minmax_view(self, name: str) -> tuple[int, int]:
        """(group count, hash) of ``<name>__minmax``: per grp, the row
        count and the min and max of the non-null qty values."""
        groups = self._groups(name)
        total = sum(row_digest([g, str(n)] + ([f"{min(vals)}.00", f"{max(vals)}.00"]
                                              if vals else ["\\N", "\\N"]))
                    for g, (n, vals) in groups.items())
        return len(groups), total % (1 << 64)
