"""PageRank on the integer picos lattice (operators/graph.py): exact
pure-Python replay parity, partitioning invariance, rank-mass sanity, and
edge-builder shape."""

import contextlib
from collections import defaultdict

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from aws_glue_cdc_metrics_job_spark.operators.graph import (
    PR_SCALE,
    copurchase_edges,
    pagerank,
)

EDGES = [
    (1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3),  # triangle
    (3, 4), (4, 3),                                   # pendant
    (5, 6), (6, 5),                                   # separate pair
]


def _replay(edges, iterations, scale=PR_SCALE, damping=85):
    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    n = len(deg)
    tele = (100 - damping) * scale // (100 * n)
    r = {v: scale // n for v in deg}
    for _ in range(iterations):
        nxt = defaultdict(int)
        for s, d in edges:
            nxt[d] += damping * r[s] // (100 * deg[s])
        r = {v: c + tele for v, c in nxt.items()}
    return r


def test_matches_pure_python_replay(spark):
    df = spark.createDataFrame(EDGES, "SRC long, DST long")
    got = {
        row["NODE"]: row["RANK_PICOS"]
        for row in pagerank(df, iterations=4).collect()
    }
    assert got == _replay(EDGES, 4)


@pytest.mark.slow  # two checkpointed 3-hop runs, ~30 s
def test_partitioning_invariance(spark):
    df = spark.createDataFrame(EDGES, "SRC long, DST long")
    a = sorted(map(tuple, pagerank(df.coalesce(1), iterations=3).collect()))
    b = sorted(map(tuple, pagerank(df.repartition(7), iterations=3).collect()))
    assert a == b


def test_rank_mass_bounded(spark):
    """Floor division only LOSES mass: total rank stays in (0.99, 1.0] of
    scale after several hops on a connected symmetric graph."""
    ring = [(i, (i + 1) % 50) for i in range(50)] + [((i + 1) % 50, i) for i in range(50)]
    df = spark.createDataFrame(ring, "SRC long, DST long")
    total = (
        pagerank(df, iterations=5)
        .agg(F.sum("RANK_PICOS").alias("T"))
        .collect()[0]["T"]
    )
    assert 0.99 * PR_SCALE < total <= PR_SCALE


def test_copurchase_edges_symmetric_distinct(spark):
    rows = [(1, 10), (1, 11), (1, 11), (2, 10), (2, 12), (3, 13)]
    df = spark.createDataFrame(rows, "b long, i long")
    e = {(r["SRC"], r["DST"]) for r in copurchase_edges(df, "b", "i").collect()}
    assert e == {(10, 11), (11, 10), (10, 12), (12, 10)}  # 13 isolated, dups collapsed


def test_empty_graph(spark):
    df = spark.createDataFrame([], "SRC long, DST long")
    assert pagerank(df, iterations=2).count() == 0


def test_triangle_counts_k4(spark):
    """K4: every node is in C(3,2)=3 triangles with CC exactly 1."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import triangle_counts

    nodes = [1, 2, 3, 4]
    k4 = [(a, b) for a in nodes for b in nodes if a < b]
    df = spark.createDataFrame(k4, "SRC long, DST long")
    got = {r["NODE"]: (r["DEG"], r["N_TRIANGLES"], r["CC_PPM"]) for r in triangle_counts(df).collect()}
    assert got == {v: (3, 3, 1000000) for v in nodes}


def test_triangle_counts_path_and_mixed(spark):
    """Path graph: zero triangles; adding one chord closes exactly one.
    Input direction/duplication must not matter (symmetrized internally)."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import triangle_counts

    path = [(1, 2), (2, 3), (3, 4), (2, 1), (3, 2)]  # dups + reversals
    df = spark.createDataFrame(path, "SRC long, DST long")
    assert all(r["N_TRIANGLES"] == 0 for r in triangle_counts(df).collect())

    chord = path + [(1, 3)]
    got = {r["NODE"]: r["N_TRIANGLES"] for r in triangle_counts(
        spark.createDataFrame(chord, "SRC long, DST long")).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 0}


def test_triangle_counts_match_brute_force(spark):
    """Random-ish deterministic graph vs an O(n^3) Python count."""
    from itertools import combinations

    from aws_glue_cdc_metrics_job_spark.operators.graph import triangle_counts

    edges = sorted({(min(a, b), max(a, b)) for a, b in
                    ((i * 7 % 23, (i * i + 3) % 23) for i in range(160)) if a != b})
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {v: 0 for v in adj}
    for u, v, w in combinations(sorted(adj), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            for x in (u, v, w):
                want[x] += 1
    df = spark.createDataFrame(edges, "SRC long, DST long")
    got = {r["NODE"]: r["N_TRIANGLES"] for r in triangle_counts(df).collect()}
    assert got == want


def test_personalized_pagerank_concentrates_on_seed_component(spark):
    """Mass stays in the seed's connected component; an all-absent seed
    set returns empty; replay parity with the pure-Python recurrence."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame(EDGES, "SRC long, DST long")
    got = {
        r["NODE"]: r["RANK_PICOS"]
        for r in personalized_pagerank(df, seeds=[5], iterations=4).collect()
    }
    # component {5, 6} holds all positive mass; triangle+pendant get none
    assert got[5] > 0 and got[6] > 0
    assert all(got[v] == 0 for v in (1, 2, 3, 4))

    # python replay of the seeded recurrence
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in EDGES:
        deg[s] += 1
    k = 1
    tele = 15 * PR_SCALE // (100 * k)
    r = {v: (PR_SCALE if v == 5 else 0) for v in deg}
    for _ in range(4):
        nxt = defaultdict(int)
        for s, d in EDGES:
            nxt[d] += 85 * r[s] // (100 * deg[s])
        r = {v: nxt[v] + (tele if v == 5 else 0) for v in deg}
    assert got == r

    assert personalized_pagerank(df, seeds=[999], iterations=2).count() == 0


# --- round-6: general DIRECTED graphs (dangling mass + teleport-only
# nodes), replayed against the full Page-et-al recurrence in pure Python.

DIRECTED = [
    (1, 2), (1, 3),   # 1 fans out; nothing points back at 1
    (2, 3),           # 3 is dangling (no out-edges)
    (4, 1),           # 4 feeds 1 and is itself teleport-only
]


def _replay_general(edges, iterations, scale=PR_SCALE, damping=85, seeds=None):
    """Pure-Python replay of the universe recurrence: dangling mass is
    redistributed uniformly (global) or to the seeds (personalized)."""
    from collections import defaultdict

    out = defaultdict(int)
    for s, _ in edges:
        out[s] += 1
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    n = len(nodes)
    if seeds is None:
        targets, k = nodes, n
        r = {v: scale // n for v in nodes}
    else:
        targets = {s for s in seeds if s in nodes}
        k = len(targets)
        r = {v: (scale // k if v in targets else 0) for v in nodes}
    tele = 15 * scale // (100 * k)
    for _ in range(iterations):
        nxt = {v: 0 for v in nodes}
        for s, d in edges:
            nxt[d] += damping * r[s] // (100 * out[s])
        dm = sum(r[v] for v in nodes if out[v] == 0)
        share = damping * dm // (100 * k)
        r = {v: nxt[v] + (tele + share if v in targets else 0) for v in nodes}
    return r


def test_directed_dangling_matches_replay(spark):
    """Dangling sinks keep (and redistribute) their mass; teleport-only
    sources never vanish -- the round-5 VERDICT defect, now exact."""
    df = spark.createDataFrame(DIRECTED, "SRC long, DST long")
    got = {
        r["NODE"]: r["RANK_PICOS"]
        for r in pagerank(df, iterations=4).collect()
    }
    want = _replay_general(DIRECTED, 4)
    assert got == want
    assert set(got) == {1, 2, 3, 4}  # full universe, including dangling 3
    assert got[3] > 0 and got[4] > 0  # sink and teleport-only node retain mass


def test_directed_mass_conserved(spark):
    """With dangling redistribution the total rank mass stays within
    floor-leak distance of scale even on a digraph full of sinks."""
    star = [(i, 100) for i in range(1, 40)]  # 39 sources -> one sink
    df = spark.createDataFrame(star, "SRC long, DST long")
    total = (
        pagerank(df, iterations=5)
        .agg(F.sum("RANK_PICOS").alias("T"))
        .collect()[0]["T"]
    )
    assert 0.99 * PR_SCALE < total <= PR_SCALE


def test_directed_out_degree_reported(spark):
    df = spark.createDataFrame(DIRECTED, "SRC long, DST long")
    got = {r["NODE"]: r["N_NEIGHBORS"] for r in pagerank(df, iterations=1).collect()}
    assert got == {1: 2, 2: 1, 3: 0, 4: 1}


def test_personalized_directed_seed_keeps_restart_mass(spark):
    """A seed with out-edges but NO in-edges must keep receiving its
    restart mass every hop (it vanished after hop 1 before round 6), and
    dangling mass returns to the seed set."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame(DIRECTED, "SRC long, DST long")
    got = {
        r["NODE"]: r["RANK_PICOS"]
        for r in personalized_pagerank(
            df, seeds=[4], iterations=3
        ).collect()
    }
    want = _replay_general(DIRECTED, 3, seeds=[4])
    assert got == want
    assert got[4] > 0  # node 4 has no in-edges yet holds restart mass


@contextlib.contextmanager
def _checkpointed_frames():
    """Record every frame handed to ``localCheckpoint`` inside the block:
    the plans an operator materializes, hop by hop."""
    frames, original = [], ClassicDataFrame.localCheckpoint

    def record(self, *args, **kwargs):
        frames.append(self)
        return original(self, *args, **kwargs)

    ClassicDataFrame.localCheckpoint = record
    try:
        yield frames
    finally:
        ClassicDataFrame.localCheckpoint = original


def _bucket_local_joins(frames, key):
    """For every sort-merge join on ``key`` in the executed plans of
    ``frames``, whether that join's edge (left) side reads a bucketed scan
    with no Exchange between the join and the scan -- i.e. the hop rides
    the bucketed layout instead of re-shuffling the edges."""

    def depth(line):
        return len(line) - len(line.lstrip(" :+-|"))

    joins = []
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.split("== Initial Plan ==")[0].splitlines()
        for i, line in enumerate(lines):
            if f"SortMergeJoin [{key}" not in line:
                continue
            child = depth(lines[i + 1])
            side = []
            for nxt in lines[i + 2:]:
                if depth(nxt) <= child:
                    break
                side.append(nxt)
            joins.append(
                not any("Exchange" in x for x in side)
                and any("FileScan" in x and "Bucketed: true" in x for x in side)
            )
    return joins


def test_pagerank_bucketed_matches_plain_and_plan(spark, tmp_path):
    """Layout-only twin: identical values to pagerank() on a symmetric
    graph (with and without the symmetric flag) and on a directed graph
    with dangling and teleport-only nodes, and every hop of the
    plans the operator materializes reads the bucketed edge table with no
    exchange above its scan -- only the rank side is exchanged (plus the
    contribution agg)."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import pagerank_bucketed

    for i, (edges, symmetric) in enumerate(((EDGES, False), (EDGES, True), (DIRECTED, False))):
        df = spark.createDataFrame(edges, "SRC long, DST long")
        want = sorted(map(tuple, pagerank(df, iterations=3).collect()))
        with _checkpointed_frames() as frames:
            got_df = pagerank_bucketed(
                df, "pr_bkt_test", iterations=3, num_buckets=4,
                path=str(tmp_path / f"pr_bkt{i}"), symmetric=symmetric,
            )
        assert sorted(map(tuple, got_df.collect())) == want, edges
        joins = _bucket_local_joins(frames, "SRC")
        assert len(joins) == 3 and all(joins), (edges, joins)
    spark.sql("DROP TABLE IF EXISTS pr_bkt_test")


def test_bucketed_hop_keeps_the_edge_side_local_for_any_node_width(spark, tmp_path):
    """The node frames every bucketed walk hands to ``_hop`` are
    checkpoints, and a checkpoint's width need not match the bucket count:
    a frame hash-partitioned on NODE at 7 partitions, and one coalesced by
    AQE from the suite's 8 shuffle partitions, both against a 4-bucket
    edge table. Either way the merge join reads the bucketed edge scan with
    no Exchange above it, and only the node side moves."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import _hop, _write_bucketed

    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    df = spark.createDataFrame(EDGES + DIRECTED, "SRC long, DST long")
    ed = _write_bucketed(df, "hop_bkt_test", "SRC", 4, str(tmp_path / "hop_bkt"))
    nodes = df.select(F.col("SRC").alias("NODE")).union(df.select("DST")).distinct()
    frames = [
        nodes.repartition(7, "NODE").select("NODE", F.lit(1).alias("R")).localCheckpoint(),
        nodes.groupBy("NODE").agg(F.lit(1).alias("R")).localCheckpoint(),
    ]
    assert frames[0].rdd.getNumPartitions() == 7
    assert frames[1].rdd.getNumPartitions() != 4
    in_deg = defaultdict(int)
    for src, dst in EDGES + DIRECTED:
        in_deg[dst] += 1
    for frame in frames:
        hop = _hop(ed, frame, 6, "SRC", F.col("R"), buckets=4)
        assert dict(map(tuple, hop.collect())) == in_deg
        assert _bucket_local_joins([hop], "SRC") == [True]
    spark.sql("DROP TABLE IF EXISTS hop_bkt_test")


def _lpa_replay(edges, iterations):
    """Pure-Python replay of deterministic synchronous label propagation
    (most-frequent in-neighbor label, ties to the smallest label, keep own
    label with no in-edges)."""
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    lab = {v: v for v in nodes}
    for _ in range(iterations):
        cnt = {}
        for s, d in set(edges):
            cnt.setdefault(d, {}).setdefault(lab[s], 0)
            cnt[d][lab[s]] += 1
        lab = {
            v: (min(cnt[v].items(), key=lambda kv: (-kv[1], kv[0]))[0] if v in cnt else lab[v])
            for v in nodes
        }
    return lab


def test_label_propagation_matches_replay_and_converges(spark):
    """Two cliques + a bridge: labels converge within each clique and the
    whole trajectory equals the pure-Python deterministic recurrence."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import label_propagation

    clique1 = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a != b]
    clique2 = [(a, b) for a in (10, 11, 12) for b in (10, 11, 12) if a != b]
    bridge = [(3, 10), (10, 3)]
    edges = clique1 + clique2 + bridge
    df = spark.createDataFrame(edges, "SRC long, DST long")

    for iters in (1, 2, 3):
        got = {
            r["NODE"]: r["COMMUNITY"]
            for r in label_propagation(df, iterations=iters).collect()
        }
        assert got == _lpa_replay(edges, iters), iters

    final = _lpa_replay(edges, 3)
    assert len({final[v] for v in (1, 2, 3)}) == 1  # clique 1 agrees
    assert len({final[v] for v in (10, 11, 12)}) == 1  # clique 2 agrees


def test_label_propagation_no_in_edges_keeps_label(spark):
    """A pure source keeps its own label; its target adopts it."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import label_propagation

    df = spark.createDataFrame([(7, 8)], "SRC long, DST long")
    got = {
        r["NODE"]: r["COMMUNITY"]
        for r in label_propagation(df, iterations=2).collect()
    }
    assert got == {7: 7, 8: 7}


def test_symmetric_flag_matches_autodetect(spark):
    """symmetric=True is a pure fast path on a symmetric graph: identical
    results to auto-detection, for both global and personalized ranks."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame(EDGES, "SRC long, DST long")
    auto = sorted(map(tuple, pagerank(df, iterations=3).collect()))
    fast = sorted(map(tuple, pagerank(
        df, iterations=3, symmetric=True).collect()))
    assert auto == fast

    pauto = sorted(map(tuple, personalized_pagerank(
        df, seeds=[5], iterations=3).collect()))
    pfast = sorted(map(tuple, personalized_pagerank(
        df, seeds=[5], iterations=3, symmetric=True).collect()))
    assert pauto == pfast


# --- round-6b: HITS hubs & authorities -------------------------------------


def _hits_replay(edges, iterations, scale=10**9):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    es = sorted(set(edges))
    n = len(nodes)
    h = {v: scale // n for v in nodes}
    a = {v: scale // n for v in nodes}
    for _ in range(iterations):
        ap = defaultdict(int)
        for s, d in es:
            ap[d] += h[s]
        t = sum(ap.values())
        a = {v: ap.get(v, 0) * scale // t for v in nodes}
        hp = defaultdict(int)
        for s, d in es:
            hp[s] += a[d]
        t = sum(hp.values())
        h = {v: hp.get(v, 0) * scale // t for v in nodes}
    return a, h


def test_hits_matches_pure_python_replay(spark):
    from aws_glue_cdc_metrics_job_spark.operators.graph import hits

    # bipartite-ish directed graph with a pure hub (10), a pure authority
    # (20), and mixed nodes
    edges = [(10, 20), (10, 21), (11, 20), (11, 22), (21, 22), (12, 20)]
    df = spark.createDataFrame(edges, "SRC long, DST long")
    got = {
        r["NODE"]: (r["AUTH_NANOS"], r["HUB_NANOS"], r["IN_DEGREE"], r["OUT_DEGREE"])
        for r in hits(df, iterations=3).collect()
    }
    a, h = _hits_replay(edges, 3)
    for v in a:
        assert got[v][0] == a[v], (v, got[v], a[v])
        assert got[v][1] == h[v], (v, got[v], h[v])
    # pure hub has zero authority, pure authority has zero hub score
    assert got[10][0] == 0 and got[10][1] > 0
    assert got[20][0] > 0 and got[20][1] == 0
    # degrees: node 20 has 3 in-edges and no out-edges
    assert got[20][2] == 3 and got[20][3] == 0


def test_hits_empty_graph(spark):
    from aws_glue_cdc_metrics_job_spark.operators.graph import hits

    df = spark.createDataFrame([], "SRC long, DST long")
    assert hits(df).count() == 0


def test_katz_matches_pure_python_replay(spark):
    """x_{t+1}(v) = sum over in-edges (u,v) of alpha*(scale + x_t(u)) with
    per-edge floor division -- the Spark trajectory must equal the exact
    integer recurrence."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import katz_centrality

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (2, 4)]
    df = spark.createDataFrame(edges, "SRC long, DST long")
    alpha, scale = 100_000, 10**9
    got = {
        r["NODE"]: (r["KATZ_NANOS"], r["IN_DEGREE"])
        for r in katz_centrality(
            df, iterations=3, alpha_ppm=alpha
        ).collect()
    }
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    x = {v: 0 for v in nodes}
    for _ in range(3):
        nxt = {v: 0 for v in nodes}
        for s, d in set(edges):
            nxt[d] += alpha * (scale + x[s]) // 10**6
        x = nxt
    indeg = {v: sum(1 for _, d in set(edges) if d == v) for v in nodes}
    assert got == {v: (x[v], indeg[v]) for v in nodes}


def test_katz_guards_overflow_and_alpha(spark):
    """ADVICE r7: the guard must bound the ACTUAL truncated accumulator
    against BIGINT, not the infinite-series spectral radius -- a growing
    (r > 1) but representable 3-hop walk is exact and must compute."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import katz_centrality

    # star: node 0 has in-degree 20; alpha 100000 ppm * 20 = 2e6 > 1e6
    # breaks the old spectral bound, yet the 3-hop worst case is ~1.4e10
    # nanos -- far inside BIGINT, so it must now succeed
    star = [(i, 0) for i in range(1, 21)]
    df = spark.createDataFrame(star, "SRC long, DST long")
    out = {
        r["NODE"]: r["KATZ_NANOS"]
        for r in katz_centrality(df, alpha_ppm=100_000).collect()
    }
    # exact replay: only length-1 paths end at the hub (leaves have no
    # in-edges), so x(0) = 20 * (alpha * scale // 1e6) at every T >= 1
    assert out[0] == 20 * (100_000 * 10**9 // 10**6)
    # enough hops on the same growing walk DOES overflow -> raise, naming
    # the failing hop inputs
    with pytest.raises(ValueError, match="overflow BIGINT"):
        katz_centrality(df, alpha_ppm=999_999, iterations=12)
    with pytest.raises(ValueError, match="alpha_ppm"):
        katz_centrality(df, alpha_ppm=0)
    with pytest.raises(ValueError, match="alpha_ppm"):
        katz_centrality(df, alpha_ppm=10**6)


def test_hits_bucketed_matches_plain_and_plan(spark, tmp_path):
    """Dual-bucketed layout twin: identical values to hits(), and EACH
    half-step's join reads its co-located edge copy (SRC-bucketed for hub
    pooling, DST-bucketed for auth pooling) with no exchange above the
    edge scan."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import hits, hits_bucketed

    edges = [(1, 10), (2, 10), (2, 11), (3, 11), (3, 12), (4, 12), (10, 4)]
    df = spark.createDataFrame(edges, "SRC long, DST long")
    want = sorted(map(tuple, hits(df, iterations=2).collect()))
    with _checkpointed_frames() as frames:
        got_df = hits_bucketed(
            df, "hits_bkt_test", iterations=2, num_buckets=4,
            path=str(tmp_path / "hits_bkt"),
        )
    assert sorted(map(tuple, got_df.collect())) == want

    # plan pins on the plans the operator materializes: each half-step
    # joins its OWN copy bucket-locally (SRC copy pools hubs, DST copy
    # pools authorities)
    for key in ("SRC", "DST"):
        joins = _bucket_local_joins(frames, key)
        assert len(joins) >= 2 and all(joins), (key, joins)
    spark.sql("DROP TABLE IF EXISTS hits_bkt_test_src")
    spark.sql("DROP TABLE IF EXISTS hits_bkt_test_dst")


def test_hits_rejects_scale_not_exceeding_node_count(spark):
    """scale <= n floors the uniform init to 0 and would silently NULL every
    score through the `div __T` renormalization -- fail fast instead
    (ADVICE r6)."""
    import pytest as _pytest

    from aws_glue_cdc_metrics_job_spark.operators.graph import hits

    ring = [(i, (i + 1) % 10) for i in range(10)]
    df = spark.createDataFrame(ring, "SRC long, DST long")
    with _pytest.raises(ValueError, match="scale"):
        hits(df, scale=10)


def test_hits_mass_conserved(spark):
    """Each half-step renormalizes to <= scale total (floor division only
    loses sub-node units)."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import hits

    ring = [(i, (i + 1) % 20) for i in range(20)]
    df = spark.createDataFrame(ring, "SRC long, DST long")
    row = (
        hits(df, iterations=2)
        .agg(
            F.sum("AUTH_NANOS").alias("a"),
            F.sum("HUB_NANOS").alias("h"),
        )
        .collect()[0]
    )
    assert 10**9 - 20 <= row["a"] <= 10**9
    assert 10**9 - 20 <= row["h"] <= 10**9


# --- round-6b: common-neighbor link prediction ------------------------------


def test_link_prediction_hand_checked(spark):
    from aws_glue_cdc_metrics_job_spark.operators.graph import (
        common_neighbor_link_prediction,
    )

    # 4-cycle 1-2-3-4: the two diagonals (1,3) and (2,4) are unconnected
    # and each shares BOTH its middles -- jaccard 2/(2+2-2) = 1.0
    edges = [(1, 2), (2, 3), (1, 4), (3, 4)]
    sym = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, "SRC long, DST long")
    rows = sorted(
        common_neighbor_link_prediction(df, min_common=2).collect(),
        key=lambda r: (r["NODE_A"], r["NODE_B"]),
    )
    assert [(r["NODE_A"], r["NODE_B"]) for r in rows] == [(1, 3), (2, 4)]
    for r in rows:
        assert r["N_COMMON"] == 2
        assert r["DEG_A"] == 2 and r["DEG_B"] == 2
        assert r["JACCARD_PPM"] == 1_000_000


def test_link_prediction_excludes_existing_edges(spark):
    from aws_glue_cdc_metrics_job_spark.operators.graph import (
        common_neighbor_link_prediction,
    )

    # triangle: every pair is connected -> no predictions
    edges = [(1, 2), (2, 3), (1, 3)]
    sym = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, "SRC long, DST long")
    assert common_neighbor_link_prediction(df).count() == 0


def test_link_prediction_middle_cap(spark):
    from aws_glue_cdc_metrics_job_spark.operators.graph import (
        common_neighbor_link_prediction,
    )

    # star: center 0 with leaves 1..5 -- every leaf pair shares only the
    # hub middle, so capping the middle degree below 5 removes all pairs
    star = [(0, i) for i in range(1, 6)]
    sym = star + [(b, a) for a, b in star]
    df = spark.createDataFrame(sym, "SRC long, DST long")
    uncapped = common_neighbor_link_prediction(df)
    assert uncapped.count() == 10  # C(5,2) leaf pairs
    capped = common_neighbor_link_prediction(
        df, max_middle_degree=4
    )
    assert capped.count() == 0


# --- round-6b: multi-source BFS hop distance --------------------------------


def test_bfs_hops_chain_and_min_distance(spark):
    from aws_glue_cdc_metrics_job_spark.operators.graph import bfs_hops

    # chain 1->2->3->4 plus shortcut 1->3: node 3 is MIN(2 via chain, 1
    # via shortcut) = 1
    edges = [(1, 2), (2, 3), (3, 4), (1, 3)]
    df = spark.createDataFrame(edges, "SRC long, DST long")
    got = {
        r["NODE"]: r["HOPS"]
        for r in bfs_hops(df, sources=[1], max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 2}


def test_bfs_hops_multi_source_and_absent_seed(spark):
    from aws_glue_cdc_metrics_job_spark.operators.graph import bfs_hops

    edges = [(1, 2), (10, 11)]
    df = spark.createDataFrame(edges, "SRC long, DST long")
    got = {
        r["NODE"]: r["HOPS"]
        for r in bfs_hops(df, sources=[1, 10, 99], max_hops=3).collect()
    }
    # 99 is absent from the graph but still reported at hop 0
    assert got == {1: 0, 10: 0, 99: 0, 2: 1, 11: 1}


def test_bfs_hops_early_exit_and_validation(spark):
    from aws_glue_cdc_metrics_job_spark.operators.graph import bfs_hops

    df = spark.createDataFrame([(1, 2)], "SRC long, DST long")
    # max_hops far beyond the diameter: early exit, same answer
    got = {
        r["NODE"]: r["HOPS"]
        for r in bfs_hops(df, sources=[1], max_hops=50).collect()
    }
    assert got == {1: 0, 2: 1}
    with pytest.raises(ValueError):
        bfs_hops(df, sources=[], max_hops=1)
    with pytest.raises(ValueError):
        bfs_hops(df, sources=[1], max_hops=-1)


# --- round-6b: weighted PageRank ---------------------------------------------


def test_weighted_pagerank_reduces_to_unweighted(spark):
    from aws_glue_cdc_metrics_job_spark.operators.graph import pagerank, pagerank_weighted

    df = spark.createDataFrame(EDGES, "SRC long, DST long")
    w1 = df.withColumn("WEIGHT", F.lit(1))
    a = {
        r["NODE"]: r["RANK_PICOS"]
        for r in pagerank_weighted(w1, iterations=3).collect()
    }
    b = {
        r["NODE"]: r["RANK_PICOS"]
        for r in pagerank(df, iterations=3).collect()
    }
    assert a == b


def test_weighted_pagerank_matches_replay_and_drops_bad_weights(spark):
    from collections import defaultdict

    from aws_glue_cdc_metrics_job_spark.operators.graph import pagerank_weighted

    edges = [(1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 1, 5), (4, 1, 2)]
    df = spark.createDataFrame(
        edges + [(9, 1, 0), (9, 2, -5)],  # non-positive weights: dropped
        "SRC long, DST long, WEIGHT long",
    )
    got = {
        r["NODE"]: (r["RANK_PICOS"], r["OUT_STRENGTH"])
        for r in pagerank_weighted(df, iterations=3).collect()
    }
    assert 9 not in got  # all its edges were invalid

    strength = defaultdict(int)
    for s, _, w in edges:
        strength[s] += w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    tele = 15 * 10**12 // (100 * n)
    r = {v: 10**12 // n for v in nodes}
    for _ in range(3):
        nxt = {v: 0 for v in nodes}
        for s, d, w in edges:
            nxt[d] += 85 * r[s] * w // (100 * strength[s])
        dm = sum(r[v] for v in nodes if strength[v] == 0)
        r = {v: nxt[v] + tele + 85 * dm // (100 * n) for v in nodes}
    assert {v: got[v][0] for v in nodes} == r
    assert got[1][1] == 4 and got[4][1] == 2  # strengths


def test_weighted_pagerank_bucketed_matches_plain_and_plan(spark, tmp_path):
    """Layout-only twin: identical values to pagerank_weighted() on a
    weighted graph and on a directed graph with dangling and
    teleport-only nodes, and every hop of the plans the operator
    materializes reads the bucketed edge table with no exchange above its
    scan -- only the rank side is exchanged (plus the contribution agg)."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import (
        pagerank_weighted,
        pagerank_weighted_bucketed,
    )

    weighted = [(1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 1, 5), (4, 1, 2), (5, 4, 7)]
    directed = [(s, d, w) for (s, d), w in zip(DIRECTED, (3, 1, 2, 2))]
    for i, edges in enumerate((weighted, directed)):
        df = spark.createDataFrame(edges, "SRC long, DST long, WEIGHT long")
        want = sorted(map(tuple, pagerank_weighted(df, iterations=3).collect()))
        with _checkpointed_frames() as frames:
            got_df = pagerank_weighted_bucketed(
                df, "wpr_bkt_test", iterations=3, num_buckets=4,
                path=str(tmp_path / f"wpr_bkt{i}"),
            )
        assert sorted(map(tuple, got_df.collect())) == want, edges
        joins = _bucket_local_joins(frames, "SRC")
        assert len(joins) == 3 and all(joins), (edges, joins)
    spark.sql("DROP TABLE IF EXISTS wpr_bkt_test")


def test_weighted_pagerank_symmetric_takes_fast_path(spark):
    """Every node of a symmetric weighted graph has out- and in-edges, so
    the weighted walk takes the fast recurrence (no universe cross join
    for the dangling mass) and still equals the pure-Python replay of the
    general weighted recurrence."""
    from aws_glue_cdc_metrics_job_spark.operators.graph import pagerank_weighted

    edges = [(a, b, (a * 7 + b * 3) % 5 + 1) for a, b in EDGES]
    df = spark.createDataFrame(edges, "SRC long, DST long, WEIGHT long")
    out = pagerank_weighted(df, iterations=4)
    assert "Cross" not in out._jdf.queryExecution().logical().toString()
    got = {r["NODE"]: (r["RANK_PICOS"], r["OUT_STRENGTH"]) for r in out.collect()}

    strength = defaultdict(int)
    for s, _, w in edges:
        strength[s] += w
    nodes = sorted(strength)
    n = len(nodes)
    r = {v: PR_SCALE // n for v in nodes}
    for _ in range(4):
        nxt = {v: 0 for v in nodes}
        for s, d, w in edges:
            nxt[d] += 85 * r[s] * w // (100 * strength[s])
        dm = sum(r[v] for v in nodes if strength[v] == 0)
        r = {v: nxt[v] + 15 * PR_SCALE // (100 * n) + 85 * dm // (100 * n) for v in nodes}
    assert got == {v: (r[v], strength[v]) for v in nodes}


class TestSsspHops:
    def _edges(self, spark, rows):
        return spark.createDataFrame(rows, "SRC long, DST long, W long")

    def test_cheaper_multi_hop_beats_direct(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.graph import sssp_hops

        # 1 -> 3 direct costs 10; 1 -> 2 -> 3 costs 2 + 3 = 5
        edges = self._edges(spark, [(1, 3, 10), (1, 2, 2), (2, 3, 3)])
        out = {r["NODE"]: r["DIST"] for r in sssp_hops(edges, [1], 3).collect()}
        assert out == {1: 0, 2: 2, 3: 5}
        # with only one hop allowed, the direct edge wins
        one = {r["NODE"]: r["DIST"] for r in sssp_hops(edges, [1], 1).collect()}
        assert one == {1: 0, 2: 2, 3: 10}

    def test_multi_source_min_and_unreachable(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators.graph import sssp_hops

        edges = self._edges(spark, [(1, 9, 100), (2, 9, 7), (5, 6, 1)])
        out = {r["NODE"]: r["DIST"] for r in sssp_hops(edges, [1, 2], 2).collect()}
        assert out[9] == 7          # min over sources
        assert 5 not in out and 6 not in out  # disconnected component absent

    def test_negative_weight_rejected(self, spark):
        import pytest

        from aws_glue_cdc_metrics_job_spark.operators.graph import sssp_hops

        edges = self._edges(spark, [(1, 2, -5)])
        with pytest.raises(ValueError, match="non-negative"):
            sssp_hops(edges, [1], 2)

    def test_unchecked_map_respects_broadcast_ceiling(self, spark, monkeypatch):
        """When |sources| + |edges| exceeds the broadcast ceiling (here a
        few rows), every hop after the first is sized by the previous
        round's counted distance map: hop 2's map (3 rows) still
        broadcasts, hop 3's (5 rows) hints shuffled-hash."""
        import re

        from aws_glue_cdc_metrics_job_spark.operators import graph as G

        monkeypatch.setattr(G, "_BCAST_MAX_BYTES", 3 * (48 + 16 * 2))
        assert G._bcast_row_ceiling(2) == 3
        rows = [(1, 2, 4), (2, 3, 1), (1, 3, 9), (3, 4, 2), (4, 5, 1), (2, 5, 8)]
        edges = self._edges(spark, rows)
        with _checkpointed_frames() as frames:
            out = G.sssp_hops(edges, [1], 3)
        hints = [
            m.group(1)
            for df in frames
            for m in re.finditer(r"strategy=(\w+)", df._jdf.queryExecution().analyzed().toString())
        ]
        assert hints == ["broadcast", "broadcast", "shuffle_hash"], hints
        assert sorted(map(tuple, out.collect())) == [(1, 0), (2, 4), (3, 5), (4, 7), (5, 12)]


class TestNodeSidePolicy:
    """Byte-derived broadcast ceiling (VERDICT r8 item 5): the default
    ceiling comes from estimated BroadcastHashRelation bytes, and counts
    above it fall back to the shuffled-hash hint, never SMJ."""

    def test_default_ceiling_is_byte_derived(self):
        from aws_glue_cdc_metrics_job_spark.operators import graph as G

        # 2-col node frame under the default 256 MB budget: 48 + 16*2 = 80
        # bytes/row -> ~3.3M rows; the old 8M row default is ABOVE it
        ceiling = G._bcast_row_ceiling(2)
        assert ceiling == (256 * 1024**2) // 80
        assert ceiling < 8_000_000

    def test_fallback_is_shuffled_hash_above_ceiling(self, spark):
        from aws_glue_cdc_metrics_job_spark.operators import graph as G

        frame = spark.createDataFrame([(1, 2)], "NODE long, R long")
        over = G._bcast_row_ceiling(2) + 1
        plan = G._node_side(frame, over)._jdf.queryExecution().logical().toString()
        assert "shuffle_hash" in plan.lower()
        under = G._node_side(frame, 10)._jdf.queryExecution().logical().toString()
        assert "broadcast" in under.lower()


def test_null_baskets_emit_no_pairs(spark):
    """ADVICE r8: NULL basket ids must produce no co-occurrence pairs
    (the pre-r8 self-join semantics), not collapse into one pseudo-basket."""
    from aws_glue_cdc_metrics_job_spark.operators.relational import basket_pairs

    rows = [(None, 1), (None, 2), (None, 3), ("b1", 1), ("b1", 2)]
    df = spark.createDataFrame(rows, "b string, i long")
    got = basket_pairs(df, "b", "i", min_support=1).collect()
    assert [(r["ITEM_A"], r["ITEM_B"], r["N_AB"], r["N_A"], r["N_B"]) for r in got] == [
        (1, 2, 1, 1, 1)
    ]
    # LIFT denominator counts only the one real basket
    assert got[0]["LIFT"] == 1.0

    edges = copurchase_edges(df, "b", "i")
    assert sorted((r["SRC"], r["DST"]) for r in edges.collect()) == [(1, 2), (2, 1)]
