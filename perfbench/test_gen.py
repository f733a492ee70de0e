"""The input generator is deterministic per seed. Run from the repo root:

    python -m pytest perfbench/test_gen.py -q
"""

import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import Medallion, catalog_dir  # noqa: E402


def _days(root: str, seed: int, n: int = 2):
    src = Medallion(root, seed, scale=1, window_days=20, max_days=n)
    out = [(pq.read_table(os.path.join(src.dir, "lineitem.parquet")), src.expected)]
    for _ in range(n):
        src.next_day()
        out.append((pq.read_table(os.path.join(src.dir, "lineitem.parquet")), src.expected))
    return out


def test_same_seed_same_rows_and_counts(tmp_path):
    a = _days(str(tmp_path / "a"), seed=5)
    b = _days(str(tmp_path / "b"), seed=5)
    for (rows_a, exp_a), (rows_b, exp_b) in zip(a, b):
        assert rows_a.equals(rows_b)
        assert exp_a == exp_b
    # every day appends lines and changes some options
    for _, exp in a[1:]:
        assert exp["order_items"]["insert"] > 0
        assert sum(exp["order_item_options"].values()) > 0


def test_other_seed_other_rows(tmp_path):
    a = _days(str(tmp_path / "a"), seed=5, n=1)
    b = _days(str(tmp_path / "b"), seed=6, n=1)
    assert not a[0][0].equals(b[0][0])


def test_lineitem_keys_unique(tmp_path):
    li = pq.read_table(os.path.join(catalog_dir(str(tmp_path), seed=3, scale=1), "lineitem.parquet"))
    keys = set(zip(li.column("l_orderkey").to_pylist(), li.column("l_linenumber").to_pylist()))
    assert len(keys) == li.num_rows
