"""Seeded inputs for the benchmark, in the engine's testdata format.

Every directory written here holds the ten testdata tables, so the engine
(through ``plans.adapters`` and the catalog) and the DuckDB oracle read the
same files. The base tables come from ``tools/make_testdata.py``; DuckDB and
pyarrow derive the windows and daily change sets from them.

- ``catalog_dir``: the whole base data set, for the catalog query mix.
- ``Medallion``: a seeded window of order history (day 0), then one new
  directory per day holding the next ship day of order lines plus a seeded
  re-pricing of 1% of the existing lines' ``l_discount``.

``lineitem`` is de-duplicated on ``(l_orderkey, l_linenumber)`` over the
whole table before any window is cut: silver's keyed dedup collapses
duplicate keys by design, so duplicates left in the source would make every
gold mart disagree with the oracle.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.make_testdata import generate

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

REPRICE_SHARE = 0.01
DISCOUNTS = [round(0.01 * i, 2) for i in range(1, 11)]


def base_tables(out_dir: str, seed: int, scale: int) -> str:
    """Generate the base tables and de-duplicate ``lineitem`` by key."""
    generate(out_dir, scale=scale, seed=seed)
    path = os.path.join(out_dir, "lineitem.parquet")
    li = pq.read_table(path)
    con = duckdb.connect()
    deduped = con.execute(
        "SELECT * FROM li QUALIFY row_number() OVER ("
        " PARTITION BY l_orderkey, l_linenumber"
        " ORDER BY l_shipdate, l_partkey, l_suppkey, l_extendedprice) = 1"
        " ORDER BY l_orderkey, l_linenumber"
    ).arrow()
    con.close()
    pq.write_table(deduped.cast(li.schema), path)
    return out_dir


def _write_dir(out_dir: str, base: str, lineitem: pa.Table) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        if t != "lineitem":
            shutil.copyfile(os.path.join(base, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet"))
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    return out_dir


# Option rows as the adapters define them: one 'discount' row per line with
# l_discount > 0 and one 'tax' row per line with l_tax > 0.
_OPTIONS_SQL = """
SELECT l_orderkey AS k, l_linenumber AS n, 'discount' AS opt,
       CAST(-(l_extendedprice * l_discount) AS DECIMAL(18,4)) AS price
FROM {t} WHERE l_discount > 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', CAST(l_extendedprice * l_tax AS DECIMAL(18,4))
FROM {t} WHERE l_tax > 0
"""


def expected_changes(old: pa.Table | None, new: pa.Table) -> dict[str, dict[str, int]]:
    """CDC rows one pipeline run should log when the source moves from
    ``old`` to ``new`` (``old`` None: the cold build).

    - order_items is watermarked: the bronze read is inclusive, so the lines
      at the previous maximum ship time are read and logged again.
    - order_item_options and date_dim are snapshot-diffed.
    """
    con = duckdb.connect()
    con.register("new_li", new)
    if old is None:
        con.register("old_li", new.slice(0, 0))
        items = con.execute("SELECT count(*) FROM new_li").fetchone()[0]
    else:
        con.register("old_li", old)
        items = con.execute(
            "SELECT count(*) FROM new_li WHERE l_shipdate >= (SELECT max(l_shipdate) FROM old_li)"
        ).fetchone()[0]
    ins, upd, dele = con.execute(
        f"""
        WITH o AS ({_OPTIONS_SQL.format(t='old_li')}), n AS ({_OPTIONS_SQL.format(t='new_li')})
        SELECT count(*) FILTER (WHERE o.k IS NULL),
               count(*) FILTER (WHERE o.k IS NOT NULL AND n.k IS NOT NULL AND o.price <> n.price),
               count(*) FILTER (WHERE n.k IS NULL)
        FROM o FULL OUTER JOIN n ON o.k = n.k AND o.n = n.n AND o.opt = n.opt
        """
    ).fetchone()
    dates = con.execute(
        "SELECT count(*) FROM (SELECT DISTINCT CAST(l_shipdate AS DATE) FROM new_li"
        " EXCEPT SELECT DISTINCT CAST(l_shipdate AS DATE) FROM old_li)"
    ).fetchone()[0]
    con.close()
    return {
        "order_items": {"insert": items, "update": 0, "delete": 0},
        "order_item_options": {"insert": ins, "update": upd, "delete": dele},
        "date_dim": {"insert": dates, "update": 0, "delete": 0},
    }


@dataclass
class Medallion:
    """Day 0 is a ``window_days`` window of ship days starting at a seeded
    date; ``next_day`` derives day k+1 from day k."""

    root: str
    seed: int
    scale: int
    window_days: int
    max_days: int

    def __post_init__(self) -> None:
        self.base = base_tables(os.path.join(self.root, "base"), self.seed, self.scale)
        self.rng = np.random.default_rng(self.seed)
        self._all = pq.read_table(os.path.join(self.base, "lineitem.parquet"))
        ship = self._all.column("l_shipdate").to_numpy().astype("datetime64[D]")
        days = np.unique(ship)
        # leave room for max_days appended ship days after the window
        first = int(self.rng.integers(0, len(days) - self.window_days - self.max_days))
        self._days = days[first : first + self.window_days + self.max_days]
        self._ship = ship
        self.day = 0
        keep = (ship >= self._days[0]) & (ship < self._days[self.window_days])
        self.lineitem = self._all.filter(pa.array(keep))
        self.dir = _write_dir(self._day_dir(0), self.base, self.lineitem)
        self.expected = expected_changes(None, self.lineitem)

    def _day_dir(self, k: int) -> str:
        return os.path.join(self.root, f"day{k:03d}")

    def next_day(self) -> str:
        """Append the next ship day and re-price a seeded share of the
        existing lines; returns the new directory and sets ``expected``."""
        if self.day >= self.max_days:
            raise RuntimeError(f"the window has room for {self.max_days} appended days")
        self.day += 1
        old = self.lineitem
        disc = old.column("l_discount").to_numpy().copy()
        picks = self.rng.choice(len(disc), size=max(1, int(len(disc) * REPRICE_SHARE)), replace=False)
        for i in picks:
            # a quarter of the picks drop the discount (option delete); the
            # rest move to a different non-zero rate (update, or insert from 0)
            if self.rng.random() < 0.25 and disc[i] > 0:
                disc[i] = 0.0
            else:
                disc[i] = self.rng.choice([d for d in DISCOUNTS if d != round(float(disc[i]), 2)])
        repriced = old.set_column(
            old.schema.get_field_index("l_discount"), "l_discount", pa.array(disc, pa.float64())
        )
        new_day = self._days[self.window_days + self.day - 1]
        appended = self._all.filter(pa.array(self._ship == new_day))
        self.lineitem = pa.concat_tables([repriced, appended.cast(repriced.schema)])
        self.expected = expected_changes(old, self.lineitem)
        self.dir = _write_dir(self._day_dir(self.day), self.base, self.lineitem)
        return self.dir


def catalog_dir(root: str, seed: int, scale: int) -> str:
    return base_tables(os.path.join(root, "base"), seed, scale)
