"""Standalone test-data generator: schema-compatible parquet for all ten
tables, so the repo runs WITHOUT the harness-provided /root/testdata.

The tables mirror TESTDATA.md's shapes (TPC-H-ish warehouse + events +
documents + embeddings): same column names and arrow types, referential
integrity across region -> nation -> customer/supplier -> orders ->
lineitem, plausible value distributions (status/priority/type vocabularies,
1995-2001 order dates, token-bag document text whose n_chars matches the
text, unit-scale 64-dim embeddings). Values are NOT the harness's values —
every correctness path that matters (tools/oracle_check.py, the CLI
pipeline, bench.py) compares Spark against DuckDB **on the same files**,
so the gate is data-independent by construction. Unit tests that pin
counts measured on the harness data are the exception; run those against
the harness dirs.

Usage: python tools/make_testdata.py OUT_DIR [--scale N]
  --scale 1 (default) matches sf0.001's row counts; 10 matches sf0.01.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUSES = ["F", "O"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "fr", "de", "zh"]
WORDS = (
    "the a big small fast slow table row column value key hash join scan "
    "filter group agg window sort merge batch stream query plan spark data "
    "part order line customer vector"
).split()

# Document text spells each of those words two ways ("scan", "scan1"):
# with the 40 bare words every corpus document shared a 3-gram with the
# doc_id % 97 = 0 benchmark subset, so decontamination left
# docs_curation_pipeline nothing (80 words leave it 22 rows at scale 1).
# Not more: the DuckDB oracles of docs_bigram_logprob and
# docs_selection_pipeline plan a cross product that grows with the fourth
# power of the vocabulary, and at 120 words they outgrew 1.5 GB.
DOC_SPELLINGS = 2

US_PER_DAY = 86_400_000_000


def _ts_us(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array((days_from_epoch * US_PER_DAY).astype("int64"), pa.timestamp("us"))


def generate(out_dir: str, scale: int = 1, seed: int = 20260814) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    write(
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            }
        ),
    )
    n_nation = 25
    write(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(n_nation), pa.int32()),
                "n_name": pa.array([f"NATION_{i:02d}" for i in range(n_nation)]),
                "n_regionkey": pa.array(
                    [i % 5 for i in range(n_nation)], pa.int32()
                ),
            }
        ),
    )

    n_cust = 150 * scale
    write(
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(range(1, n_cust + 1), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
                "c_nationkey": pa.array(
                    rng.integers(0, n_nation, n_cust), pa.int32()
                ),
                "c_acctbal": pa.array(
                    np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)
                ),
                "c_mktsegment": pa.array(
                    [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n_cust)]
                ),
            }
        ),
    )

    n_supp = 10 * scale
    write(
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(range(1, n_supp + 1), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
                "s_nationkey": pa.array(rng.integers(0, n_nation, n_supp), pa.int32()),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
            }
        ),
    )

    n_part = 200 * scale
    write(
        "part",
        pa.table(
            {
                "p_partkey": pa.array(range(1, n_part + 1), pa.int64()),
                "p_name": pa.array(
                    [
                        " ".join(rng.choice(WORDS, 3).tolist())
                        for _ in range(n_part)
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{i}" for i in rng.integers(11, 56, n_part)]
                ),
                "p_type": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
                            rng.choice(["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"], n_part),
                        )
                    ]
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, n_part), 2)),
            }
        ),
    )

    # orders: 1995-01-01 .. 2001-08-01 (epoch days 9131 .. 11535)
    n_ord = 1500 * scale
    odays = rng.integers(9131, 11536, n_ord)
    write(
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array(range(1, n_ord + 1), pa.int64()),
                "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
                "o_orderstatus": pa.array(
                    [STATUSES[i] for i in rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])]
                ),
                "o_totalprice": pa.array(np.round(rng.uniform(850, 355000, n_ord), 2)),
                "o_orderdate": _ts_us(odays),
                "o_orderpriority": pa.array(
                    [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]
                ),
            }
        ),
    )

    n_li = 4 * n_ord
    li_order = np.repeat(np.arange(1, n_ord + 1), 4)
    li_linenumber = np.tile(np.arange(1, 5), n_ord).astype("int32")
    qty = rng.integers(1, 51, n_li).astype("float64")
    price = np.round(rng.uniform(900, 105000, n_li), 2)
    write(
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(li_order, pa.int64()),
                "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
                "l_linenumber": pa.array(li_linenumber, pa.int32()),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(price),
                "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_li), 2)),
                "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_li), 2)),
                "l_returnflag": pa.array(
                    [RETURN_FLAGS[i] for i in rng.choice(3, n_li, p=[0.25, 0.5, 0.25])]
                ),
                "l_linestatus": pa.array(
                    [LINE_STATUSES[i] for i in rng.integers(0, 2, n_li)]
                ),
                "l_shipdate": _ts_us(np.repeat(odays, 4) + rng.integers(1, 122, n_li)),
            }
        ),
    )

    # events: 150 users * scale over a 30-day window, microsecond ts
    n_ev = 1000 * scale
    base_us = 11536 * US_PER_DAY
    ev_us = base_us + rng.integers(0, 30 * US_PER_DAY, n_ev)
    etypes = rng.choice(len(EVENT_TYPES), n_ev, p=[0.4, 0.3, 0.15, 0.05, 0.1])
    write(
        "events",
        pa.table(
            {
                "event_id": pa.array(range(1, n_ev + 1), pa.int64()),
                "ts": pa.array(ev_us.astype("int64"), pa.timestamp("us")),
                "user_id": pa.array(rng.integers(1, 150 * scale + 1, n_ev), pa.int64()),
                "event_type": pa.array([EVENT_TYPES[i] for i in etypes]),
                "value": pa.array(np.round(rng.uniform(0, 500, n_ev), 6)),
                "props": pa.array(
                    [
                        '{"variant": "%s", "n": %d}'
                        % (rng.choice(["a", "b", "c"]), rng.integers(0, 100))
                        for _ in range(n_ev)
                    ]
                ),
            }
        ),
    )

    # documents: 500 token-bag docs over 20 sources / 5 langs, with ~10%
    # planted near-duplicates so dedup operators have work to do. Each
    # token's word is drawn from ``rng`` and its spelling from a stream of
    # its own, so ``rng`` makes the same draws as with bare words and the
    # tables generated after this one keep their values.
    spelling_rng = np.random.default_rng([seed, 1])

    def spell(stems: list[str]) -> list[str]:
        spellings = spelling_rng.integers(0, DOC_SPELLINGS, len(stems))
        return [f"{w}{k}" if k else w for w, k in zip(stems, spellings)]

    n_doc = 500
    texts: list[str] = []
    for i in range(n_doc):
        if i and i % 10 == 0:
            base = texts[i - 1].split()
            k = max(1, len(base) // 20)
            idx = rng.integers(0, len(base), k)
            for j in idx:
                base[j] = spell([str(rng.choice(WORDS))])[0]
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(spell(rng.choice(WORDS, rng.integers(60, 240)).tolist())))
    write(
        "documents",
        pa.table(
            {
                "doc_id": pa.array(range(n_doc), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array([LANGS[i] for i in rng.integers(0, 5, n_doc)]),
                "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
    )

    # embeddings: 64-dim float32, a few tight clusters + noise so IVF/PQ
    # recall paths behave like real data
    n_emb, dim, n_clusters = 500, 64, 8
    centers = rng.normal(0, 1, (n_clusters, dim))
    labels = rng.integers(0, n_clusters, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.3, (n_emb, dim))
    write(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(range(n_emb), pa.int64()),
                "embedding": pa.array(
                    [v.astype("float32").tolist() for v in vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(labels.astype("int32"), pa.int32()),
            }
        ),
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("out_dir")
    ap.add_argument("--scale", type=int, default=1, help="1 = sf0.001-sized, 10 = sf0.01-sized")
    ap.add_argument("--seed", type=int, default=20260814)
    args = ap.parse_args()
    generate(args.out_dir, scale=args.scale, seed=args.seed)
    print(f"wrote 10 tables to {args.out_dir} (scale {args.scale})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
