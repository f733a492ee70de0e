"""Distributed link analysis over co-occurrence graphs.

PageRank (Page et al., "The PageRank Citation Ranking", 1999) as pure
join+aggregate iterations on the exact integer picos lattice: every rank
is a BIGINT number of 1e-12 rank units, teleport and damping are integer
``div`` operations, and per-edge contributions are summed as longs -- so
the trajectory is bit-identical at any partitioning AND replayable in any
SQL engine (the graded oracle unrolls the same iterations in DuckDB).
Floor division leaks a sub-ppm of rank mass per hop; ordering is
unaffected and exactness is what buys the cross-engine value-hash.

100 TB shape: the edge table is built per-basket (self-equi-join on the
basket key -- quadratic only in each basket's own distinct-item count,
never a global product, same discipline as relational.basket_pairs); each
iteration is ONE shuffle join of the rank table against the
degree-annotated edges plus one keyed aggregation -- no driver state
except the scalar node count. Lineage is cut per round with
``localCheckpoint`` (the dedup.connected_components pattern). For a
long-running iterative deployment, :func:`pagerank_bucketed` persists the
degree-annotated edges bucketed by SRC so only the (small) rank table
moves per iteration -- the edge side of every hop reads bucket-local with
zero exchange (plan-pinned in tests/test_graph.py).

One node prep (:func:`_node_prep`), one hop step (:func:`_hop`) and one
walk loop (:func:`_walk`) serve the whole iterative family: the uniform,
personalized, weighted and bucketed PageRank walks are parameterizations
of the same kernel; HITS and Katz reuse the prep and the hop step, and
label propagation reuses the prep.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_SCALE = 10**12  # rank unit = 1e-12 of total mass ("picos")


def _ckpt_big(df: DataFrame) -> DataFrame:
    """Lineage cut for EDGE-SIZED intermediates: localCheckpoint with
    SERIALIZED memory+disk storage. The JVM default materializes
    deserialized row objects, which inflate an edge table 3-5x and took
    the 100x decade bench down with 'java.lang.OutOfMemoryError: Java
    heap space' inside maybeCacheDiskValuesInMemory; serialized blocks
    spill gracefully instead. Node-sized frames (ranks, labels, degree
    tables) keep the default level -- they are small and hot."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)


# Broadcast ceiling for the node-sized side of a hop join, derived from
# ESTIMATED BUILD BYTES: a bare row count ignores the BroadcastHashRelation
# overhead -- UnsafeRow headers + the hash map cost ~50-100+ bytes per
# narrow (long, long) row -- and the width of the frame, so a row ceiling
# tuned for 2-column frames over-broadcasts a 3-column rank+degree frame.
# rows_max = budget / (48 B fixed + 16 B per column). Scale-adaptive by
# DATA (the caller passes the measured node count, a driver scalar every
# iterative operator already holds), not by core count.
_BCAST_MAX_BYTES = 256 * 1024**2


def _bcast_row_ceiling(n_cols: int) -> int:
    """Row ceiling for a broadcast hash relation of ``n_cols`` narrow
    columns under the byte budget: ~48 B/row fixed (UnsafeRow header +
    hash-map slot/chaining) + ~16 B per long-ish column."""
    return _BCAST_MAX_BYTES // (48 + 16 * max(n_cols, 1))


def _node_side(frame: DataFrame, n: int) -> DataFrame:
    """Join-strategy policy for the NODE-SIZED side (ranks / labels /
    scores / frontier / degree map) of an edge x node hop join.

    The default SMJ re-sorts the EDGE side every hop (measured: ~45% of a
    3-hop pagerank at the 10x point); broadcasting the node frame leaves
    the edge scan shuffle- and sort-free, so a hop costs one checkpoint
    scan + the keyed contribution aggregation -- guide section 3.1's
    "broadcast the side that fits", with the fit decided by the MEASURED
    node count x estimated build bytes rather than Catalyst's LogicalRDD
    size guess (which is `defaultSizeInBytes`, i.e. never broadcastable).
    Above the ceiling, shuffled-hash still beats SMJ: the node side
    shuffles, but neither side sorts. Values are join-strategy-independent
    (exact integer lattice), pinned by the unrolled-CTE oracles."""
    if n <= _bcast_row_ceiling(len(frame.columns)):
        return F.broadcast(frame)
    return frame.hint("shuffle_hash")


# Width policy for checkpointed frames that hop loops scan repeatedly:
# AQE coalesces post-shuffle partitions by BYTES, so a pair stream that is
# small on the wire (a few MB compressed) but expensive per row downstream
# (in-row pair enumeration, 3+ hop joins, wedge closing) can materialize
# as 1-2 partitions and serialize every hop onto 1-2 cores (measured:
# 2.6-3.0 s single-task stages inside every copurchase pagerank hop at
# sf0.1, and the single-task decade blowup at 100x). The repartition
# target derives from the MEASURED row count (guide section 2: make
# partitioning scale-adaptive from input size): at least the cluster
# width, at most one partition per _EDGE_ROWS_PER_PART rows; frames whose
# materialized layout already meets the target are left untouched (the
# common case at scale, where byte-based AQE sizing is already right).
_EDGE_ROWS_PER_PART = 2_000_000  # ~64 MB of narrow long rows
_MIN_ROWS_TO_WIDEN = 50_000  # below this a narrow layout is fine


def _ckpt_edges(df: DataFrame) -> tuple[DataFrame, int]:
    """Materialize a multiply-consumed edge-sized frame ONCE and give it
    compute-proportional width. Lazy serialized localCheckpoint, then one
    bounded count (the driver scalar most callers need anyway) to (a)
    force materialization inside ONE query execution -- deriving nodes /
    degrees / hops from the checkpoint instead of from parallel lineage,
    which re-executes the whole build per consumer (exchange reuse does
    not cross query executions; measured as the basket->pair pipeline
    running twice per pagerank call) -- and (b) feed the width policy
    above. Returns (frame, row_count)."""
    ck = _ckpt_big(df)
    n = ck.count()
    sc = df.sparkSession.sparkContext
    target = max(sc.defaultParallelism, math.ceil(n / _EDGE_ROWS_PER_PART))
    if n >= _MIN_ROWS_TO_WIDEN and ck.rdd.getNumPartitions() < target:
        # keyless round-robin: skew-proof (a hub key cannot pin one
        # partition) and deterministic under retry (sort-before-repartition
        # is on by default); the frame is small by construction here --
        # wide layouts skip this branch -- so the extra pass is cheap.
        ck = _ckpt_big(ck.repartition(target))
    return ck, n


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + exact clustering coefficient (ppm) via
    degree-ordered edge orientation (Schank & Wagner 2005; the MapReduce
    classic from Suri & Vassilvitskii, WWW'11).

    Orient every undirected edge from its lower-(degree, id) endpoint to
    the higher one: each node's ORIENTED out-degree is then O(sqrt(E)),
    so the wedge self-join's fan-out is bounded regardless of hub skew --
    the difference between this and the naive adjacency join is exactly
    what survives a power-law graph at 100 TB. Each triangle forms one
    wedge at its lowest-rank vertex plus one closing-edge probe: two
    equi-joins, no node ever enumerates a hub's full neighborhood
    quadratically. All arithmetic is integer (CC ppm = 2e6*T div
    deg*(deg-1)), so results are value-hash exact cross-engine.

    Input: directed edge list (SRC, DST); symmetrized and de-duplicated
    internally. Returns (NODE, DEG, N_TRIANGLES, CC_PPM) for every node
    with at least one edge.

    Known hazard (the documented basket_pairs policy): the
    in-row wedge enumeration collects each oriented source's
    out-neighborhood into one array, so a single row holds
    O(oriented-outdeg^2) pair structs. Degree orientation bounds the
    oriented out-degree at ~sqrt(2E) -- tight enough for every graph this
    engine builds -- but on an adversarial graph that is still O(E) pairs
    in one row; cap or pre-split super-hubs upstream if the input can
    contain one.

    ``und``/``deg``/``ori`` are each referenced 2-3 times downstream;
    without materialization every reference re-expands its whole subtree
    (measured: 94 input scans / 238 exchanges in the unchecked plan), so
    they are localCheckpoint'ed once and reused -- the same
    lineage-cutting discipline as connected components and pagerank.
    """
    und, _ = _ckpt_edges(
        edges.select(
            F.least("SRC", "DST").alias("A"), F.greatest("SRC", "DST").alias("B")
        )
        .where(F.col("A") != F.col("B"))
        .distinct()
    )
    deg = (
        und.select(F.col("A").alias("N"))
        .unionAll(und.select(F.col("B").alias("N")))
        .groupBy("N")
        .agg(F.count(F.lit(1)).cast("long").alias("DEG"))
        .localCheckpoint(eager=False)
    )
    n_nodes = deg.count()  # bounded driver scalar: sizes the join policy
    da = deg.select(F.col("N").alias("A"), F.col("DEG").alias("DA"))
    db = deg.select(F.col("N").alias("B"), F.col("DEG").alias("DB"))
    ad = und.join(_node_side(da, n_nodes), "A").join(_node_side(db, n_nodes), "B")
    lo_first = F.struct(F.col("DA"), F.col("A")) < F.struct(F.col("DB"), F.col("B"))
    ori = ad.select(
        F.when(lo_first, F.col("A")).otherwise(F.col("B")).alias("SRC"),
        F.when(lo_first, F.col("B")).otherwise(F.col("A")).alias("DST"),
        F.when(lo_first, F.col("DB")).otherwise(F.col("DA")).alias("DDEG"),
    )
    # inherits width from the (possibly widened) und checkpoint via the
    # narrow broadcast-join chain -- no second count/repartition
    ori = _ckpt_big(ori)
    # wedges enumerate IN-ROW: each oriented source's out-neighbors,
    # sorted by the same (DDEG, DST) rank the old self-join compared,
    # explode to exactly the ordered pairs -- no generate-then-discard
    # self-join; the oriented out-degree bound (O(sqrt E)) bounds the
    # per-row array. The closing-edge probe hints shuffle-hash so the
    # (much larger) wedge stream is neither sorted nor buffered.
    wedges = (
        ori.groupBy("SRC")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("DDEG").alias("D"), F.col("DST").alias("N")))
            ).alias("__a")
        )
        .select(
            F.col("SRC").alias("U"),
            F.explode(
                F.expr(
                    "flatten(transform(__a, (x, i) ->"
                    " transform(slice(__a, i + 2, size(__a) - i - 1),"
                    "           y -> struct(x.N AS V, y.N AS W))))"
                )
            ).alias("__p"),
        )
        .select("U", "__p.V", "__p.W")
    )
    closing = ori.select(F.col("SRC").alias("V"), F.col("DST").alias("W"))
    tri = wedges.join(closing.hint("shuffle_hash"), ["V", "W"]).select("U", "V", "W")
    per_node = (
        tri.select(F.col("U").alias("N"))
        .unionAll(tri.select(F.col("V").alias("N")))
        .unionAll(tri.select(F.col("W").alias("N")))
        .groupBy("N")
        .agg(F.count(F.lit(1)).cast("long").alias("N_TRIANGLES"))
    )
    return (
        deg.join(per_node, "N", "left")
        .select(
            F.col("N").alias("NODE"),
            F.col("DEG"),
            F.coalesce(F.col("N_TRIANGLES"), F.lit(0)).cast("long").alias("N_TRIANGLES"),
            F.when(F.col("DEG") >= 2, F.expr(
                "(2000000 * coalesce(N_TRIANGLES, 0)) div (DEG * (DEG - 1))"
            )).otherwise(F.lit(0)).cast("long").alias("CC_PPM"),
        )
    )


def copurchase_edges(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Symmetric distinct co-occurrence edges (SRC, DST), SRC <> DST.

    Collapses to DISTINCT (basket, item) first so intra-basket repetition
    never fans out; the pair stage joins a basket only with itself. Items
    that never co-occur are absent (isolated nodes carry no link signal).
    Cap or pre-split mega-baskets upstream if one basket can hold
    thousands of distinct items (the documented basket_pairs hazard)."""
    # ONE exchange builds each basket's sorted distinct-item array
    # (collect_set dedups intra-basket repeats in the same agg), and a
    # nested transform explodes exactly the SRC < DST pairs in-row -- the
    # old shape paid a (basket, item) distinct plus a self-join (4
    # exchanges where this has 2). Canonical SRC < DST pairs first: the
    # dedup shuffle carries HALF the rows. Mirroring is an EXPLODE in the
    # same pass -- a union of the distinct with its own flipped projection
    # would recompute the pair stage per branch (no stage reuse across
    # union arms, measured: 33 s -> 56 s at the 10x point)
    pairs = (
        # NULL baskets carry no co-occurrence signal (a self-join on the
        # basket key never matches NULL keys; groupBy would collapse
        # them into ONE pseudo-basket and emit spurious pairs)
        df.select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .where(F.col("__b").isNotNull())
        .groupBy("__b")
        .agg(F.array_sort(F.collect_set("__i")).alias("__items"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__items, (x, i) ->"
                    " transform(slice(__items, i + 2, size(__items) - i - 1),"
                    "           y -> struct(x AS SRC, y AS DST))))"
                )
            ).alias("__e")
        )
        .select("__e.SRC", "__e.DST")
        .distinct()
    )
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("SRC").alias("SRC"), F.col("DST").alias("DST")),
                F.struct(F.col("DST").alias("SRC"), F.col("SRC").alias("DST")),
            )
        ).alias("__e")
    ).select("__e.SRC", "__e.DST")


def _node_prep(ed: DataFrame, symmetric: bool = False, seeds: list[int] | None = None):
    """The node universe of an edge frame and its bounded driver scalars,
    shared by every walk, HITS and Katz.

    ``nd`` is (NODE, OUT, IN): OUT is the out-degree -- or, when ``ed``
    carries a weight column ``W``, the out-strength (sum of out-weights)
    -- and IN the in-degree; 0 marks a dangling node or a teleport-only
    one. It comes from ONE shuffle over the materialized (or bucketed)
    edge frame: a union of the SRC arm (flag = weight, or 1) with the DST
    arm (flag = 0) folded by a single groupBy. Weights are positive, so a
    0 flag is exactly an in-edge. Then ONE scalar job returns a single row
    (n, n_out, n_in, max_in, k), where k counts the surviving ``seeds``
    (k = n without seeds) -- never row data.

    ``symmetric=True`` is the caller's contract that every edge has its
    mirror (anything built by copurchase_edges): the universe then EQUALS
    the out-node set, so the union is skipped (a bucketed edge table
    groups on its own bucket key with no exchange) and IN = OUT."""
    if symmetric:
        nd = ed.groupBy(F.col("SRC").alias("NODE")).agg(
            F.count(F.lit(1)).cast("long").alias("OUT")
        )
        nd = nd.select("NODE", "OUT", F.col("OUT").alias("IN"))
    else:
        w = F.col("W") if "W" in ed.columns else F.lit(1)
        nd = (
            ed.select(F.col("SRC").alias("NODE"), w.alias("__o"))
            .unionAll(ed.select(F.col("DST").alias("NODE"), F.lit(0).alias("__o")))
            .groupBy("NODE")
            .agg(
                F.sum("__o").cast("long").alias("OUT"),
                F.count_if(F.col("__o") == 0).cast("long").alias("IN"),
            )
        )
    nd = nd.localCheckpoint(eager=False)
    in_seeds = F.lit(True) if seeds is None else F.col("NODE").isin(seeds)
    row = nd.agg(
        F.count(F.lit(1)),
        F.count_if(F.col("OUT") > 0),
        F.count_if(F.col("IN") > 0),
        F.max("IN"),
        F.count_if(in_seeds),
    ).first()
    return (nd, *(int(v or 0) for v in row))


def _hop(
    ed: DataFrame,
    frame: DataFrame,
    n: int,
    key: str,
    expr,
    buckets: int = 0,
) -> DataFrame:
    """One hop of every iterative operator here: join the edges' ``key``
    endpoint to the node-sized ``frame`` (NODE, ...) and sum ``expr`` per
    OTHER endpoint, returning (NODE, __S) -- ONE edge-sized join plus one
    keyed aggregation, partial-aggregated map-side.

    The node side takes :func:`_node_side`'s broadcast/shuffled-hash
    policy. An edge table bucketed on ``key`` passes its bucket count as
    ``buckets``: the join is then forced to sort-merge, so the executed
    plan reads the edge side bucket-local with NO exchange above its scan
    and only the node-sized frame moves into the bucket layout, whatever
    the width of the checkpoint it arrives as (plan-pinned in
    tests/test_graph.py)."""
    other = "DST" if key == "SRC" else "SRC"
    if buckets:
        e, f = ed.hint("merge"), frame
    else:
        e, f = ed, _node_side(frame, n)
    return (
        e.join(f, e[key] == f["NODE"])
        .groupBy(F.col(other).alias("NODE"))
        .agg(F.sum(expr).cast("long").alias("__S"))
    )


def _walk(
    ed: DataFrame,
    iterations: int,
    scale: int,
    damping_pct: int,
    seeds: list[int] | None = None,
    symmetric: bool = False,
    buckets: int = 0,
) -> DataFrame:
    """The one PageRank-family walk loop. ``ed`` is (SRC, DST) with
    optional columns that pick the walk:

    - ``W`` (positive integer edge weight): contribution
      ``(damping_pct * R * W) div (100 * OUT)`` with OUT the
      out-strength; without it w = 1, OUT = out-degree and the
      contribution is ``(damping_pct * R) div (100 * OUT)``.
    - ``OUT`` (bucketed tables bake degree/strength into the layout):
      with the table's bucket count in ``buckets`` the hop reads OUT off
      the edge side and joins bucket-locally (:func:`_hop`); otherwise
      OUT rides the NODE-SIZED rank side (one node x node join inside
      the broadcast/hash subtree), so each hop does exactly ONE
      edge-sized join.

    ``seeds`` is the restart set: None restarts on all n nodes, otherwise
    on the k seeds present in the universe (absent seeds drop identically
    on both engines; none present returns the empty frame). Mass starts
    on, teleports to, and -- from dangling nodes -- returns to the
    restart set:

        r0(v)      = scale div k                          (v restarts)
        r_{t+1}(v) = SUM over in-edges u->v of contribution(u)
                     + [v restarts] * ((100-damping_pct)*scale div (100*k)
                                       + (damping_pct * D_t) div (100*k))

    with D_t the rank on dangling nodes. The general recurrence runs over
    the FULL universe (left join + coalesce, a 1-row broadcast of D_t),
    so nodes without in-edges keep their teleport mass. When every node
    has both an out- and an in-edge (any symmetric graph), D_t = 0 and
    every node receives contributions, so the fast form -- contributions
    + teleport, no universe join -- yields the same integers.

    Returns (NODE, RANK_PICOS, N_NEIGHBORS), or OUT_STRENGTH in place of
    N_NEIGHBORS for a weighted walk."""
    weighted = "W" in ed.columns
    out_name = "OUT_STRENGTH" if weighted else "N_NEIGHBORS"
    nd, n, n_out, n_in, _, k = _node_prep(ed, symmetric, seeds)
    if k == 0:
        return ed.sparkSession.createDataFrame(
            [], f"NODE long, RANK_PICOS long, {out_name} long"
        )
    restarts = F.lit(True) if seeds is None else F.col("NODE").isin(seeds)
    tele = ((100 - damping_pct) * scale) // (100 * k)
    fast = n_out == n and n_in == n
    strength = nd.select("NODE", "OUT")
    w = " * W" if weighted else ""
    contrib = F.expr(f"({damping_pct} * R{w}) div (100 * OUT)").cast("long")
    ranks = nd.select(
        "NODE", F.when(restarts, F.lit(scale // k)).otherwise(F.lit(0)).cast("long").alias("R")
    )
    for _ in range(iterations):
        r = ranks if buckets else ranks.join(strength, "NODE")
        s = _hop(ed, r, n, "SRC", contrib, buckets)
        got, restart_mass = F.col("__S"), F.lit(tele)
        if not fast:
            s = nd.select("NODE").join(s, "NODE", "left").crossJoin(
                F.broadcast(
                    ranks.join(nd.where(F.col("OUT") == 0), "NODE", "left_semi").agg(
                        F.coalesce(F.sum("R"), F.lit(0)).cast("long").alias("__D")
                    )
                )
            )
            got = F.coalesce(got, F.lit(0))
            restart_mass = restart_mass + F.expr(f"({damping_pct} * __D) div (100 * {k})")
        ranks = s.select(
            "NODE",
            (got + F.when(restarts, restart_mass).otherwise(F.lit(0))).cast("long").alias("R"),
        ).localCheckpoint(eager=False)
    return ranks.join(strength, "NODE").select(
        "NODE", F.col("R").alias("RANK_PICOS"), F.col("OUT").alias(out_name)
    )


def _write_bucketed(
    df: DataFrame, table: str, key: str, num_buckets: int, path: str | None
) -> DataFrame:
    """Persist ``df`` hash-bucketed and sorted on ``key``
    (sources.write_bucketed) and read it back through the catalog, where
    the bucket spec lives."""
    from ..sources.parquet_io import write_bucketed

    write_bucketed(df, table, [key], num_buckets, sort_cols=[key], path=path)
    return df.sparkSession.table(table)


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = 85,
    symmetric: bool = False,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a GENERAL directed edge list.

    N = |distinct SRC union DST| (the node universe), D_t = total rank on
    dangling (zero-out-degree) nodes at step t:

    r0(v)      = scale div N
    r_{t+1}(v) = (100-damping_pct)*scale div (100*N)
                 + (damping_pct * D_t) div (100*N)
                 + SUM over in-edges u->v of damping_pct*r_t(u) div (100*deg(u))

    computed over the FULL universe every hop (left join + coalesce), so
    teleport-only nodes -- sources with no in-edges, dangling sinks --
    keep their mass instead of silently vanishing, and dangling mass is
    redistributed uniformly as in the original formulation (Page et al.
    1999, section 2.7).

    Fast path: when the graph has no dangling node AND every node has an
    in-edge (any symmetric graph, e.g. co-purchase), the recurrence above
    degenerates to the in-edge-only form -- same values, fewer operators.
    Callers whose edges are symmetric BY CONSTRUCTION (copurchase_edges
    mirrors every pair) pass ``symmetric=True`` to skip the universe
    flags and select the fast recurrence directly -- same results,
    measured ~40% cheaper per 3-hop run. Passing it on an asymmetric
    graph is a contract violation: nodes outside the out-node set
    silently drop.

    The pair stream is checkpointed FIRST (_ckpt_edges) and the universe
    derives from the checkpoint, so the (possibly expensive) edge build
    executes exactly once. Per hop: ONE edge-side join + one keyed
    aggregation (+ on the general path: a node-sized left join and a
    1-row broadcast of the dangling mass -- never edge-sized). Returns
    (NODE, RANK_PICOS, N_NEIGHBORS) where N_NEIGHBORS is the out-degree
    (0 for dangling nodes)."""
    ed, _ = _ckpt_edges(edges.select("SRC", "DST"))
    return _walk(ed, iterations, scale, damping_pct, symmetric=symmetric)


def pagerank_bucketed(
    edges: DataFrame,
    table: str,
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = 85,
    num_buckets: int = 8,
    path: str | None = None,
    symmetric: bool = False,
) -> DataFrame:
    """:func:`pagerank` for long-running iterative deployments: the
    degree-annotated edge table is persisted ONCE, hash-bucketed and
    sorted on SRC (sources.write_bucketed), and every hop's rank join is
    forced to sort-merge -- so the executed per-hop plan reads the edge
    side bucket-local with ZERO exchange and zero sort above its scan
    (pinned in tests/test_graph.py); only the node-sized rank table is
    exchanged (to the bucket partitioning) each iteration, plus the
    contribution aggregation, which Spark partial-aggregates map-side so
    the second shuffle carries at most nodes-per-partition x partitions
    rows, never the edge cardinality. At 100 TB this converts the
    iterative workload's dominant cost -- re-shuffling the edge table
    every hop -- into a one-time ingest write, exactly like the
    orders_lineitem_revenue_bucketed recipe. The node universe is built
    from the bucketed scan by the same prep as :func:`pagerank`. Results
    are bit-identical to :func:`pagerank` (same lattice recurrence,
    layout-only change).
    """
    # NB: deg + join + write share ONE query execution (exchange reuse
    # covers the build); checkpointing the pair stream first was measured
    # SLOWER at the decade point (an extra full materialization pass)
    deg = edges.groupBy("SRC").agg(F.count(F.lit(1)).cast("long").alias("DEG"))
    ed = _write_bucketed(edges.join(deg, "SRC"), table, "SRC", num_buckets, path)
    return _walk(
        ed.select("SRC", "DST", F.col("DEG").alias("OUT")),
        iterations,
        scale,
        damping_pct,
        symmetric=symmetric,
        buckets=num_buckets,
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = 85,
    symmetric: bool = False,
) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set) --
    the related-items primitive: rank every node by proximity to the
    seeds. Identical machinery to :func:`pagerank` (join+agg hops on the
    integer picos lattice, per-hop localCheckpoint, oracle-replayable),
    except mass starts on -- and teleports back to -- the seeds only:
    dangling mass returns to the SEED set (the restart distribution), and
    the hop is computed over the full node universe so a seed with
    out-edges but no in-edges keeps receiving its restart mass instead of
    vanishing after hop 1. Seeds absent from the node universe are
    dropped identically on both engines (the surviving-seed count divides
    the teleport mass); an all-absent seed set returns the empty frame.
    Fast path as in :func:`pagerank`: on a symmetric graph the universe
    left-join and dangling stage degenerate away and the in-edge-only
    recurrence replays bit-identically.
    """
    ed, _ = _ckpt_edges(edges.select("SRC", "DST"))
    return _walk(
        ed,
        iterations,
        scale,
        damping_pct,
        seeds=[int(x) for x in seeds],
        symmetric=symmetric,
    )


def pagerank_weighted(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = 85,
    weight_col: str = "WEIGHT",
) -> DataFrame:
    """PageRank over a WEIGHTED directed edge list: each node splits its
    rank across out-edges in proportion to integer edge weights
    (contribution = damping * r * w div (100 * strength(u)), strength =
    sum of u's out-weights) -- the co-purchase-count / click-count /
    citation-frequency form of the walk, where a 10x-heavier edge carries
    10x the mass. Same exact-lattice discipline as :func:`pagerank`
    (BIGINT picos, floor division, localCheckpoint per hop) and the same
    universe recurrence: ranks live on the full node set via left join +
    coalesce, dangling (zero-strength) nodes redistribute uniformly via a
    1-row broadcast; on a graph where every node has out- and in-edges
    the dangling mass is 0 and the fast recurrence of :func:`pagerank`
    applies. With all weights equal it reduces exactly to
    :func:`pagerank` (pinned in test_graph).

    Weights must be positive integers -- rows with a non-positive or NULL
    weight are dropped before anything else (a zero/negative weight makes
    strength semantics undefined); parallel edges are summed into one
    weighted edge first. Per hop: ONE edge-sized shuffle join +
    one keyed aggregation, exactly the unweighted cost -- the weight is a
    column, not extra rows. Overflow: r * w <= scale * total-weight must
    stay under 2^63; at the default picos scale that bounds per-edge
    weights to ~9e6 -- rescale weights (only ratios matter) beyond that.

    Returns (NODE, RANK_PICOS, OUT_STRENGTH)."""
    ed, _ = _ckpt_edges(_weighted_edges(edges, weight_col))
    return _walk(ed, iterations, scale, damping_pct)


def _weighted_edges(edges: DataFrame, weight_col: str) -> DataFrame:
    """(SRC, DST, W): positive long weights, parallel edges pre-summed."""
    return (
        edges.select("SRC", "DST", F.col(weight_col).cast("long").alias("W"))
        .where(F.col("W") > 0)
        .groupBy("SRC", "DST")
        .agg(F.sum("W").cast("long").alias("W"))
    )


def pagerank_weighted_bucketed(
    edges: DataFrame,
    table: str,
    iterations: int = 3,
    scale: int = PR_SCALE,
    damping_pct: int = 85,
    weight_col: str = "WEIGHT",
    num_buckets: int = 8,
    path: str | None = None,
) -> DataFrame:
    """:func:`pagerank_weighted` for long-running iterative deployments:
    the weight- and strength-annotated edge table (SRC, DST, W, S) is
    persisted ONCE, hash-bucketed + sorted on SRC
    (sources.write_bucketed), and every hop's rank join is forced to
    sort-merge -- the executed per-hop plan reads the edge side
    bucket-local with ZERO exchange and zero sort above its scan (pinned
    in tests/test_graph.py), only the node-sized rank table moves per
    iteration. Exactly :func:`pagerank_bucketed`'s layout conversion
    applied to the weighted walk: the per-hop edge reshuffle -- the
    dominant iterative cost at 100 TB -- becomes a one-time ingest write.
    Results are bit-identical to :func:`pagerank_weighted` (same lattice
    recurrence, layout-only change; pinned in test_graph)."""
    # strength + join + write share ONE query execution (see
    # pagerank_bucketed: a pre-write checkpoint measured slower)
    ew = _weighted_edges(edges, weight_col)
    st = ew.groupBy("SRC").agg(F.sum("W").cast("long").alias("S"))
    ed = _write_bucketed(ew.join(st, "SRC"), table, "SRC", num_buckets, path)
    return _walk(
        ed.select("SRC", "DST", "W", F.col("S").alias("OUT")),
        iterations,
        scale,
        damping_pct,
        buckets=num_buckets,
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 2,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007, made deterministic): every node starts as its own label; each
    round, a node adopts the label that is MOST FREQUENT among its
    in-neighbors' current labels, ties broken by the smallest label, and a
    node with no in-edges keeps its label. Synchronous updates + the
    (count desc, label asc) tie-break make the whole trajectory a pure
    function of the edge set -- bit-identical at any partitioning and
    replayable in SQL (the graded oracle unrolls the same rounds with
    QUALIFY row_number), unlike the asynchronous/random-order LPA in the
    literature, which is deliberately traded away for gradeability.

    Per round: ONE edge-sized shuffle join (labels onto SRC), one
    (DST, label) count aggregation -- partial-aggregated map-side, so the
    shuffle after it carries at most (node x distinct-neighbor-label)
    rows -- and a node-keyed top-1 window over that bounded frame. The
    node universe rides a left join + coalesce, so isolated-side nodes
    never vanish (the pagerank universe discipline). Lineage is cut per
    round with localCheckpoint. Returns (NODE, COMMUNITY).
    """
    # edges first (_ckpt_edges: one materialization + width policy), then
    # the node universe FROM the checkpoint through the shared prep -- a
    # universe built on parallel lineage would re-execute the edge build
    # once per consumer query execution
    ed, _ = _ckpt_edges(edges.select("SRC", "DST").distinct())
    nodes, n, *_ = _node_prep(ed)
    labels = nodes.select("NODE", F.col("NODE").alias("L"))
    from pyspark.sql import Window

    for _ in range(iterations):
        lb = _node_side(labels, n)
        counts = (
            ed.join(lb, ed["SRC"] == lb["NODE"])
            .groupBy(F.col("DST").alias("NODE"), F.col("L"))
            .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        )
        w = Window.partitionBy("NODE").orderBy(F.col("__n").desc(), F.col("L"))
        best = (
            counts.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("NODE", F.col("L").alias("__best"))
        )
        labels = (
            labels.join(best, "NODE", "left")
            .select("NODE", F.coalesce(F.col("__best"), F.col("L")).alias("L"))
            .localCheckpoint(eager=False)
        )
    return labels.select("NODE", F.col("L").alias("COMMUNITY"))


HITS_SCALE = 10**9  # hub/authority unit = 1e-9 of total mass ("nanos")


def hits(
    edges: DataFrame,
    iterations: int = 2,
    scale: int = HITS_SCALE,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, "Authoritative Sources in a
    Hyperlinked Environment", JACM 1999) on an exact integer lattice:
    scores are BIGINT nanos, each half-step L1-normalizes by rescaling to
    ``scale`` total mass with floor division -- so the whole trajectory is
    a pure function of the edge set, bit-identical at any partitioning and
    replayed verbatim by the unrolled-CTE oracle (the pagerank
    discipline). Authority(v) pools its in-neighbors' hub mass; hub(u)
    pools its out-neighbors' authority mass; scores live on the FULL node
    universe via left join + coalesce, so pure hubs keep authority 0 and
    pure authorities keep hub 0 instead of vanishing.

    Per half-step: ONE edge-sized shuffle join + one keyed aggregation
    (partial-aggregated map-side), a node-sized left join, and a 1-row
    broadcast of the global mass -- no driver state beyond the node count.
    Lineage is cut per half-step with localCheckpoint.

    Overflow bound: every post-normalization score is <= scale, so a
    node's pooled mass is <= scale and pooled * scale <= 1e18 < 2^63 at
    the default; the GLOBAL pre-normalization mass is <= |E| * scale, so
    the default nanos lattice is exact up to ~9e9 edges -- lower ``scale``
    beyond that. ``scale`` must also exceed the node count or the uniform
    init floors to zero.

    Returns (NODE, AUTH_NANOS, HUB_NANOS, IN_DEGREE, OUT_DEGREE)."""
    ed, _ = _ckpt_edges(edges.select("SRC", "DST").distinct())
    # universe + BOTH degrees from the shared prep's one shuffle over the
    # checkpoint, so the final select needs no fresh degree aggregations
    nodes, n, *_ = _node_prep(ed)
    return _hits_core(ed, ed, nodes, n, iterations, scale)


def _hits_core(
    ed_src: DataFrame,
    ed_dst: DataFrame,
    nodes: DataFrame,
    n: int,
    iterations: int,
    scale: int,
    buckets: int = 0,
) -> DataFrame:
    """The half-step loop shared by :func:`hits` (one in-memory edge
    frame for both joins) and :func:`hits_bucketed` (``ed_src`` bucketed
    on SRC for the hub-pooling join, ``ed_dst`` bucketed on DST for the
    auth-pooling join, both with ``buckets`` buckets, so each half-step's
    executed plan has NO exchange above its co-located edge scan).

    ``nodes`` carries (NODE, OUT, IN) degrees -- both callers compute them
    in their prep -- so the final select is one node-sized join."""
    if n == 0:
        return nodes.sparkSession.createDataFrame(
            [], "NODE long, AUTH_NANOS long, HUB_NANOS long, IN_DEGREE long, OUT_DEGREE long"
        )
    if scale <= n:
        # the docstring constraint, enforced: scale <= n floors the
        # uniform init to 0, making the first half-step total 0 and
        # silently NULLing every score through `div __T`
        raise ValueError(f"scale ({scale}) must exceed the node count ({n})")
    score = {c: nodes.select("NODE", F.lit(scale // n).cast("long").alias(c)) for c in "AH"}
    for step in range(2 * iterations):
        # even steps pool hub mass into each edge's DST (authorities), odd
        # steps pool the new authority mass into each edge's SRC (hubs)
        out, src, key, e = (
            ("A", "H", "SRC", ed_src) if step % 2 == 0 else ("H", "A", "DST", ed_dst)
        )
        s = _hop(e, score[src], n, key, F.col(src), buckets)
        total = s.agg(F.sum("__S").cast("long").alias("__T"))
        score[out] = (
            nodes.join(s, "NODE", "left")
            .crossJoin(F.broadcast(total))
            .select(
                "NODE",
                F.expr(f"(coalesce(__S, 0L) * {scale}) div __T").cast("long").alias(out),
            )
            .localCheckpoint(eager=False)
        )
    return (
        score["A"].join(score["H"], "NODE")
        .join(nodes, "NODE")
        .select(
            "NODE",
            F.col("A").alias("AUTH_NANOS"),
            F.col("H").alias("HUB_NANOS"),
            F.coalesce(F.col("IN"), F.lit(0)).cast("long").alias("IN_DEGREE"),
            F.coalesce(F.col("OUT"), F.lit(0)).cast("long").alias("OUT_DEGREE"),
        )
    )


def hits_bucketed(
    edges: DataFrame,
    table: str,
    iterations: int = 2,
    scale: int = HITS_SCALE,
    num_buckets: int = 8,
    path: str | None = None,
) -> DataFrame:
    """:func:`hits` for long-running iterative deployments (the
    pagerank_bucketed discipline applied to BOTH half-steps): HITS joins
    the edge list on SRC in the hub-pooling half and on DST in the
    auth-pooling half, so ONE bucketing cannot co-locate both. The
    distinct edge list is persisted TWICE -- ``{table}_src`` bucketed +
    sorted on SRC, ``{table}_dst`` on DST -- and each half-step
    sort-merge-joins the node-sized score frame against its co-located
    copy with ZERO exchange above the edge scan (plan-pinned in
    test_graph); the degree aggregations group on their copy's bucket key
    and are exchange-free too. 2x the ingest write and storage buys an
    iterative workload in which no edge byte ever re-shuffles. Results
    are bit-identical to :func:`hits` (same lattice trajectory,
    layout-only change)."""
    # one materialization feeds BOTH bucketed writes, at measured-row width
    ed, _ = _ckpt_edges(edges.select("SRC", "DST").distinct())
    ed_src, ed_dst = (
        _write_bucketed(
            ed, f"{table}_{k.lower()}", k, num_buckets,
            os.path.join(path, k.lower()) if path else None,
        )
        for k in ("SRC", "DST")
    )
    # each degree agg groups on its copy's bucket key (exchange-free
    # map-side aggregation); the full join assembles the universe with
    # both degrees
    outdeg = ed_src.groupBy(F.col("SRC").alias("NODE")).agg(
        F.count(F.lit(1)).cast("long").alias("OUT")
    )
    indeg = ed_dst.groupBy(F.col("DST").alias("NODE")).agg(
        F.count(F.lit(1)).cast("long").alias("IN")
    )
    nodes = outdeg.join(indeg, "NODE", "full").select(
        "NODE",
        F.coalesce(F.col("OUT"), F.lit(0)).cast("long").alias("OUT"),
        F.coalesce(F.col("IN"), F.lit(0)).cast("long").alias("IN"),
    ).localCheckpoint(eager=False)
    return _hits_core(ed_src, ed_dst, nodes, nodes.count(), iterations, scale, num_buckets)


def common_neighbor_link_prediction(
    edges: DataFrame,
    max_middle_degree: int | None = None,
    min_common: int = 1,
) -> DataFrame:
    """Neighborhood-overlap link prediction (Liben-Nowell & Kleinberg,
    "The Link Prediction Problem for Social Networks", CIKM 2003): score
    every UNCONNECTED node pair that shares at least ``min_common``
    neighbors by the exact Jaccard of their neighborhoods, in integer ppm
    (1e6 * common div (degA + degB - common)) so the ranking replays
    bit-identically in SQL.

    Shape: wedges are enumerated through their MIDDLE node (one self-join
    of the adjacency list on the middle key), so the fan-out is
    sum(deg(m)^2) -- the classic graph-join hazard that orientation fixes
    for triangles but CANNOT fix here, because every common neighbor of a
    pair must be seen no matter how the edge points. The scale control is
    ``max_middle_degree``: middles above the cap are excluded BEFORE the
    self-join (a deterministic, oracle-replayable filter), bounding the
    blowup at cap^2 per middle -- the MOSS-stoplist discipline. A
    super-hub middle is also the right thing to drop semantically: sharing
    a neighbor that everyone shares carries no link signal (the same
    reason IDF down-weights stop words). Degrees and the Jaccard
    denominator always use the FULL graph's degrees; only wedge
    enumeration is capped.

    Candidate pairs already connected by an edge are anti-joined away
    (link PREDICTION scores absent edges only). Returns
    (NODE_A, NODE_B, N_COMMON, DEG_A, DEG_B, JACCARD_PPM) with
    NODE_A < NODE_B."""
    if min_common < 1:
        raise ValueError(f"min_common must be >= 1, got {min_common}")
    und, _ = _ckpt_edges(
        edges.select(
            F.least("SRC", "DST").alias("A"), F.greatest("SRC", "DST").alias("B")
        )
        .where(F.col("A") != F.col("B"))
        .distinct()
    )
    nbr = und.select(F.col("A").alias("N"), F.col("B").alias("M")).unionAll(
        und.select(F.col("B").alias("N"), F.col("A").alias("M"))
    )
    deg = (
        nbr.groupBy("N")
        .agg(F.count(F.lit(1)).cast("long").alias("DEG"))
        .localCheckpoint(eager=False)
    )
    n_nodes = deg.count()  # bounded driver scalar: sizes the join policy
    mid = nbr.select(F.col("M"), F.col("N"))
    if max_middle_degree is not None:
        mdeg = deg.select(F.col("N").alias("M"), F.col("DEG").alias("__MD"))
        mid = (
            mid.join(_node_side(mdeg, n_nodes), "M")
            .where(F.col("__MD") <= max_middle_degree)
            .select("M", "N")
        )
        # capped middles bound the per-middle adjacency at
        # max_middle_degree entries, so wedges can be enumerated IN-ROW:
        # one groupBy builds each middle's sorted neighbor array and a
        # nested transform explodes exactly the NODE_A < NODE_B pairs --
        # no self-join, no generate-then-filter half-discard (measured
        # 2.7x at the 10x point, bit-identical pair multiset)
        common = (
            mid.groupBy("M")
            .agg(F.array_sort(F.collect_list("N")).alias("__ns"))
            .select(
                F.explode(
                    F.expr(
                        "flatten(transform(__ns, (x, i) ->"
                        " transform(slice(__ns, i + 2, size(__ns) - i - 1),"
                        "           y -> struct(x AS NODE_A, y AS NODE_B))))"
                    )
                ).alias("__p")
            )
            .select("__p.NODE_A", "__p.NODE_B")
            .groupBy("NODE_A", "NODE_B")
            .agg(F.count(F.lit(1)).cast("long").alias("N_COMMON"))
            .where(F.col("N_COMMON") >= min_common)
        )
    else:
        # uncapped graphs keep the self-join: a hub middle's collected
        # adjacency array would be unbounded per row, the exact hazard
        # max_middle_degree exists to control. (Width inherits from the
        # widened und checkpoint through the narrow union/filter chain.)
        mid = _ckpt_big(mid)
        w1 = mid.select("M", F.col("N").alias("NODE_A"))
        w2 = mid.select("M", F.col("N").alias("NODE_B"))
        common = (
            w1.join(w2, "M")
            .where(F.col("NODE_A") < F.col("NODE_B"))
            .groupBy("NODE_A", "NODE_B")
            .agg(F.count(F.lit(1)).cast("long").alias("N_COMMON"))
            .where(F.col("N_COMMON") >= min_common)
        )
    cand = common.join(
        und.select(F.col("A").alias("NODE_A"), F.col("B").alias("NODE_B")),
        ["NODE_A", "NODE_B"],
        "left_anti",
    )
    da = deg.select(F.col("N").alias("NODE_A"), F.col("DEG").alias("DEG_A"))
    db = deg.select(F.col("N").alias("NODE_B"), F.col("DEG").alias("DEG_B"))
    return (
        cand.join(_node_side(da, n_nodes), "NODE_A")
        .join(_node_side(db, n_nodes), "NODE_B")
        .select(
            "NODE_A",
            "NODE_B",
            "N_COMMON",
            "DEG_A",
            "DEG_B",
            F.expr("(1000000 * N_COMMON) div (DEG_A + DEG_B - N_COMMON)")
            .cast("long")
            .alias("JACCARD_PPM"),
        )
    )


KATZ_SCALE = 10**9  # Katz unit = 1e-9 per unit of path mass ("nanos")


def katz_centrality(
    edges: DataFrame,
    iterations: int = 3,
    alpha_ppm: int = 50_000,
    scale: int = KATZ_SCALE,
) -> DataFrame:
    """Katz centrality (Katz, "A new status index derived from sociometric
    analysis", Psychometrika 1953) truncated at ``iterations`` hops on an
    exact integer lattice: x_0 = 0 and

        x_{t+1}(v) = sum over in-edges (u, v) of
                     (alpha_ppm * (scale + x_t(u))) div 1e6

    -- so x_T(v) counts every path of length 1..T ending at v, damped by
    alpha^length, with the floor division applied PER EDGE PER HOP so the
    whole trajectory replays verbatim in any SQL engine (the pagerank/HITS
    lattice discipline). Unlike PageRank, contributions are NOT divided by
    out-degree: a node with many strong walkers pointing at it scores
    high even if those walkers also point elsewhere -- the influence form
    of the walk.

    Overflow guard: a spectral-radius bound such as
    ``alpha_ppm * max_in_degree < 1e6`` is an INFINITE-series condition --
    the truncated T-hop sum is finite for any alpha, and in-degree grows
    with data scale, so such a bound would reject exact, representable
    results. The guard instead replays the worst-case accumulator exactly
    on driver integers --
    ``X_{t+1} = max_in_degree * ((alpha_ppm * (scale + X_t)) div 1e6)`` --
    and raises only if a per-edge product or a per-node sum could actually
    exceed BIGINT within the requested ``iterations``. Per hop: ONE
    edge-sized shuffle join + one keyed aggregation + a node-sized left
    join, lineage cut per hop with localCheckpoint.

    Returns (NODE, KATZ_NANOS, IN_DEGREE)."""
    if not 0 < alpha_ppm < 10**6:
        raise ValueError(f"alpha_ppm must be in (0, 1e6), got {alpha_ppm}")
    ed, _ = _ckpt_edges(edges.select("SRC", "DST").distinct())
    nodes, n, _, _, max_in, _ = _node_prep(ed)
    worst = 0
    for hop in range(1, iterations + 1):
        per_edge_product = alpha_ppm * (scale + worst)
        worst = max_in * (per_edge_product // 10**6)
        if per_edge_product >= 2**63 or worst >= 2**63:
            raise ValueError(
                f"katz_centrality would overflow BIGINT at hop {hop}: "
                f"worst-case accumulator {worst} (alpha_ppm={alpha_ppm}, "
                f"max_in_degree={max_in}, scale={scale}) -- lower "
                "alpha_ppm, scale, or iterations"
            )
    contrib = F.expr(f"({alpha_ppm} * ({scale} + X)) div 1000000").cast("long")
    x = nodes.select("NODE", F.lit(0).cast("long").alias("X"))
    for _ in range(iterations):
        s = _hop(ed, x, n, "SRC", contrib)
        x = nodes.join(s, "NODE", "left").select(
            "NODE", F.coalesce(F.col("__S"), F.lit(0)).cast("long").alias("X")
        ).localCheckpoint(eager=False)
    return x.join(nodes, "NODE", "left").select(
        "NODE",
        F.col("X").alias("KATZ_NANOS"),
        F.coalesce(F.col("IN"), F.lit(0)).cast("long").alias("IN_DEGREE"),
    )


def bfs_hops(
    edges: DataFrame,
    sources: list[int],
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source breadth-first hop distance: the minimum number of
    directed hops from ANY source to each reachable node, capped at
    ``max_hops`` -- the reachability/blast-radius primitive (which parts
    does a recall touch within k supply steps; which docs sit within k
    citation hops of a contaminated set).

    Frontier iteration, the textbook distributed BFS: each round joins the
    CURRENT FRONTIER ONLY (never the full visited set) against the edge
    table, dedups the targets, and anti-joins away already-visited nodes,
    so every node enters the frontier at most once and total join work
    across all rounds is bounded by one traversal of each edge from its
    first-reached source side. Frontier and visited sets are node-sized;
    lineage is cut per round with localCheckpoint; the only driver signal
    is the per-round empty check (a bounded scalar) that stops early once
    the reachable set is exhausted.

    Sources are taken literally: a source absent from the edge set is
    still reported at HOPS 0 (the caller asked about it), matching the
    VALUES-seeded recursive-CTE oracle replay. Returns (NODE, HOPS) with
    HOPS in [0, max_hops]."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    seeds = spark.createDataFrame(
        [(int(s),) for s in sorted(set(sources))], "NODE long"
    )
    visited = seeds.select("NODE", F.lit(0).cast("long").alias("HOPS"))
    frontier = visited.select("NODE")
    ed, _ = _ckpt_edges(edges.select("SRC", "DST").distinct())
    fsize = len(set(sources))  # frontier cardinality, tracked per round
    for h in range(1, max_hops + 1):
        fr = _node_side(frontier, fsize)
        nxt = (
            ed.join(fr, ed["SRC"] == fr["NODE"])
            .select(F.col("DST").alias("NODE"))
            .distinct()
            .join(visited, "NODE", "left_anti")
            .localCheckpoint(eager=False)
        )
        fsize = nxt.count()  # the old isEmpty scalar, now reused to size
        if fsize == 0:       # the next round's frontier-join policy
            break
        visited = visited.unionByName(
            nxt.select("NODE", F.lit(h).cast("long").alias("HOPS"))
        ).localCheckpoint(eager=False)
        frontier = nxt
    return visited


def sssp_hops(
    edges: DataFrame,
    sources: list[int],
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source single-source-shortest-path, hop-bounded Bellman-Ford:
    the minimum integer-weight cost from ANY source to each node
    reachable within ``max_hops`` relaxation rounds -- the weighted
    companion to :func:`bfs_hops` (cheapest supply route within k steps,
    minimum-latency citation chain). Edge weights are BIGINT lattice
    costs (cents, millis), so every relaxation is exact integer adds and
    mins that replay verbatim in an unrolled-CTE oracle.

    Per round: join the CURRENT distance map's rows against the edge
    table (hash join on the node key), add weights, and fold the
    candidates into the map with one groupBy-min -- the standard
    distributed Bellman-Ford relaxation, total work per round bounded by
    |edges| + |dist|. Unlike BFS, a node can re-enter with a CHEAPER
    cost, so rounds relax the whole map, not a frontier; after round t
    the map is exact for every path of <= t hops (the Bellman-Ford
    invariant). Lineage is cut per round with localCheckpoint.

    Negative weights are rejected: hop-bounded relaxation is still
    well-defined with them, but a negative-cycle graph has no finite
    fixpoint and silent acceptance would hide modeling errors.

    Returns (NODE, DIST) -- one row per reached node, DIST BIGINT,
    sources at 0."""
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    if not sources:
        raise ValueError("sources must be non-empty")
    spark = edges.sparkSession
    dist = spark.createDataFrame(
        [(int(s), 0) for s in sorted(set(sources))], "NODE long, DIST long"
    )
    # checkpoint FIRST, validate against the blocks: the other order runs
    # the edge build once for the negative-weight probe and again for the
    # checkpoint materialization (exchange reuse does not cross query
    # executions)
    ed, e_cnt = _ckpt_edges(
        edges.select(F.col("SRC"), F.col("DST"), F.col("W").cast("bigint").alias("W"))
    )
    if bool(ed.where(F.col("W") < 0).head(1)):
        raise ValueError("sssp_hops requires non-negative edge weights")
    dsize = len(set(sources))  # distance-map cardinality, tracked per round
    # the distance map can never exceed |sources| + |edges| (only DST
    # nodes enter). When that proven bound fits the broadcast ceiling the
    # policy can never flip to shuffled-hash, so the per-hop sizing counts
    # are pure overhead and are skipped.
    bound = dsize + e_cnt
    fits = bound <= _bcast_row_ceiling(2)
    for h in range(max_hops):
        dm = _node_side(dist, dsize)
        relaxed = ed.join(dm, ed["SRC"] == dm["NODE"]).select(
            F.col("DST").alias("NODE"), (F.col("DIST") + F.col("W")).alias("DIST")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("NODE")
            .agg(F.min("DIST").cast("bigint").alias("DIST"))
            .localCheckpoint(eager=False)
        )
        if h + 1 < max_hops:
            # a round's count is a bounded scalar that ALSO shares the
            # round's materialization with the next hop's join
            dsize = bound if fits else dist.count()
    return dist
