"""Build derived bench-only scale points from the driver's sf0.1 tables.

The 2x-of-baseline criterion is judged at sf0.1, where
several queries are fixed-overhead-bound; a 10x point exposes shuffle-volume
regressions those numbers hide. No sf1 directory ships with the sandbox, so
this derives one: K key-shifted copies of every sf0.1 fact table, with key
offsets applied consistently across tables so referential integrity holds
(lineitem.l_orderkey copy i joins orders.o_orderkey copy i, etc.). Copy 0 is
the identity, so queries that pin specific ids (emb vec_id < 8 query set)
keep their semantics. Dimension tables (region/nation) are not scaled, like
real dims. Document/embedding copies keep identical text/vectors -- at 10x
every doc has 10 exact dups, which is precisely the workload the dedup
operators exist for.

Further scale points:

- ``--skew``: hot-key mode. Derives ``.bench_sf1_skew`` from an existing
  ``.bench_sf1``: ~20% of event rows (event_id % 5 == 0) are remapped to
  ONE user (user_id=1) and ONE event type ('view'), producing a hot key
  ~13000x heavier than the median user while total row count, schema and
  all other tables stay identical (symlinked). This is the stress fixture
  for the sessionize/window family and the salted-join playbook -- the
  judged bar is "no query superlinear vs its uniform-10x number".
- ``K`` is a CLI arg, so ``python tools/scale_up.py 100 .bench_sf10``
  derives the 100x decade point used for the top-expensive-query scaling
  evidence in bench.py's ``sf10`` block.

Output dirs are gitignored. Usage:
    python tools/scale_up.py [K] [DST]     # default K=10, DST=.bench_sf1
    python tools/scale_up.py --skew        # .bench_sf1 -> .bench_sf1_skew
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# key column -> offset name; offsets are max(key)+1 per source table so
# shifted ranges never collide
SHIFTS: dict[str, list[tuple[str, str]]] = {
    "customer": [("c_custkey", "c")],
    "supplier": [("s_suppkey", "s")],
    "part": [("p_partkey", "p")],
    "orders": [("o_orderkey", "o"), ("o_custkey", "c")],
    "lineitem": [("l_orderkey", "o"), ("l_partkey", "p"), ("l_suppkey", "s")],
    "events": [("event_id", "e"), ("user_id", "u")],
    "documents": [("doc_id", "d")],
    "embeddings": [("vec_id", "v")],
}
UNSCALED = ["region", "nation"]

TABLES = UNSCALED + list(SHIFTS)


def build_scaled(k: int, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    offsets = {
        "c": con.execute(f"SELECT max(c_custkey)+1 FROM '{SRC}/customer.parquet'").fetchone()[0],
        "s": con.execute(f"SELECT max(s_suppkey)+1 FROM '{SRC}/supplier.parquet'").fetchone()[0],
        "p": con.execute(f"SELECT max(p_partkey)+1 FROM '{SRC}/part.parquet'").fetchone()[0],
        "o": con.execute(f"SELECT max(o_orderkey)+1 FROM '{SRC}/orders.parquet'").fetchone()[0],
        "e": con.execute(f"SELECT max(event_id)+1 FROM '{SRC}/events.parquet'").fetchone()[0],
        "u": con.execute(f"SELECT max(user_id)+1 FROM '{SRC}/events.parquet'").fetchone()[0],
        "d": con.execute(f"SELECT max(doc_id)+1 FROM '{SRC}/documents.parquet'").fetchone()[0],
        "v": con.execute(f"SELECT max(vec_id)+1 FROM '{SRC}/embeddings.parquet'").fetchone()[0],
    }
    for t in UNSCALED:
        con.execute(f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
        print(f"{t}: copied unscaled")
    for t, shifts in SHIFTS.items():
        cols = [c[0] for c in con.execute(f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'").fetchall()]
        shifted = dict(shifts)
        selects = []
        for i in range(k):
            exprs = [
                f"{c} + {i * offsets[shifted[c]]} AS {c}" if c in shifted else c for c in cols
            ]
            selects.append(f"SELECT {', '.join(exprs)} FROM '{SRC}/{t}.parquet'")
        con.execute(
            f"COPY ({' UNION ALL '.join(selects)}) TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.execute(f"SELECT count(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows ({k}x)")


def build_skew(src_dir: str, dst: str) -> None:
    """Hot-key rewrite of the uniform 10x point: one user and one event
    type absorb ~20% of all event rows; every other table is a symlink to
    the uniform directory so only the skewed fact differs."""
    if not os.path.isdir(src_dir):
        raise SystemExit(f"build the uniform point first (missing {src_dir})")
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
COPY (
  SELECT event_id, ts,
         CASE WHEN event_id % 5 = 0 THEN 1 ELSE user_id END AS user_id,
         CASE WHEN event_id % 5 = 0 THEN 'view' ELSE event_type END AS event_type,
         value, props
  FROM '{src_dir}/events.parquet'
) TO '{dst}/events.parquet' (FORMAT PARQUET)
"""
    )
    hot = con.execute(
        f"SELECT count(*) FILTER (user_id = 1), count(*) FROM '{dst}/events.parquet'"
    ).fetchone()
    print(f"events: hot user holds {hot[0]}/{hot[1]} rows ({100 * hot[0] / hot[1]:.1f}%)")
    for t in TABLES:
        if t == "events":
            continue
        link = os.path.join(dst, f"{t}.parquet")
        if not os.path.exists(link):
            os.symlink(os.path.join(os.path.abspath(src_dir), f"{t}.parquet"), link)
    print(f"other tables symlinked to {src_dir}")


def main() -> int:
    args = [a for a in sys.argv[1:]]
    if "--skew" in args:
        args.remove("--skew")
        src_dir = args[0] if args else os.path.join(ROOT, ".bench_sf1")
        build_skew(src_dir, os.path.join(ROOT, ".bench_sf1_skew"))
        return 0
    k = int(args[0]) if args else 10
    dst = args[1] if len(args) > 1 else os.path.join(
        ROOT, ".bench_sf1" if k == 10 else f".bench_sf{k // 10}"
    )
    build_scaled(k, dst)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
