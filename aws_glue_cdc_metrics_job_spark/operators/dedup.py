"""Deduplication operators for large-scale text/training-data pipelines.

Beyond the reference's row-level ``dropDuplicates``
(scripts/cdc_metrics_job.py:78,139), these cover the document-dedup ladder a
100TB corpus pipeline needs: exact (content hash), near-dup via n-gram
Jaccard with blocking, MinHash+LSH (banding via pyspark.ml), and SimHash.

Scale design notes:
- Exact dedup shuffles a 32-char digest, not the document body.
- Pairwise Jaccard is only ever computed *within blocks* (LSH bands or
  caller-supplied blocking keys) -- never a global cross join.
- All token/shingle work uses built-in higher-order functions (JVM,
  codegen), no Python UDFs.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numeric import rhu
from .relational import ensure_min_parallelism, keep_latest, salted_join

# Normalization shared by fingerprint/shingle ops: collapse whitespace,
# lowercase, trim. (Deliberately simple + deterministic.)


def normalized_text(col: str = "text") -> F.Column:
    return F.lower(F.trim(F.regexp_replace(F.col(col), r"\s+", " ")))


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "FINGERPRINT") -> DataFrame:
    """Content fingerprint = md5 of normalized text. md5 (not xxhash) so the
    digest is portable across engines for oracle checks."""
    return df.withColumn(out_col, F.md5(normalized_text(text_col)))


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content fingerprint
    with the surviving (min id) document and the duplicate count."""
    return (
        fingerprint(df, text_col)
        .groupBy("FINGERPRINT")
        .agg(
            F.min(id_col).alias("KEEP_ID"),
            F.count(F.lit(1)).alias("N_DOCS"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Survivor rows only: deterministic min-id per content fingerprint."""
    return keep_latest(fingerprint(df, text_col), ["FINGERPRINT"], [F.col(id_col)]).drop("FINGERPRINT")


def jaccard(a: str, b: str) -> F.Column:
    """|A ∩ B| / |A ∪ B| over two distinct-element array columns."""
    inter = F.size(F.array_intersect(F.col(a), F.col(b)))
    union = F.size(F.array_union(F.col(a), F.col(b)))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocking_cols: list[str] | None = None,
    n: int = 3,
    threshold: float = 0.5,
    allow_cross_join: bool = False,
) -> DataFrame:
    """Near-duplicate candidate pairs by word n-gram Jaccard, computed only
    within blocks (``blocking_cols``). Blocking is the scale lever: the join
    is an equi-join on the block key, so Catalyst shuffles each block to one
    place and the quadratic comparison stays bounded per block.

    ``blocking_cols`` is required: a blockless call is a global O(n^2) cross
    join -- the exact all-pairs blowup this module exists to avoid -- and
    raises unless the caller explicitly opts in with ``allow_cross_join=True``
    (tiny/test corpora only; at scale use :func:`minhash_lsh_pairs`).

    Shingle sets are carried as 64-bit hash arrays (shingle_hashes), not
    strings: set intersections over longs, identical Jaccard values up to a
    ~1e-15 collision probability, and the shingling stays codegen'd. A doc
    with no shingles (< n words) can never clear a positive threshold, so
    such docs drop out of the pair space entirely."""
    if not blocking_cols and not allow_cross_join:
        raise ValueError(
            "ngram_jaccard_pairs without blocking_cols is a global cross join; "
            "pass blocking_cols, or allow_cross_join=True for tiny corpora"
        )
    blocking_cols = blocking_cols or []
    hset = (
        shingle_hashes(ensure_min_parallelism(df), id_col, text_col, n, distinct=False)
        .groupBy(id_col)
        .agg(F.collect_set("h").alias("hset"))
        .join(df.select(F.col(id_col), *[F.col(c) for c in blocking_cols]), id_col)
    )
    a = hset.select(
        F.col(id_col).alias("ID_A"),
        *[F.col(c).alias(f"__bk_{c}") for c in blocking_cols],
        F.col("hset").alias("hs_a"),
    )
    b = hset.select(
        F.col(id_col).alias("ID_B"),
        *[F.col(c).alias(f"__bk_{c}") for c in blocking_cols],
        F.col("hset").alias("hs_b"),
    )
    on = [f"__bk_{c}" for c in blocking_cols]
    pairs = a.join(b, on) if on else a.crossJoin(b)
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        pairs.filter(F.col("ID_A") < F.col("ID_B"))
        .withColumn("JACCARD", rhu(F.when(union == 0, 0.0).otherwise(inter / union), 6))
        .filter(F.col("JACCARD") >= threshold)
        .select("ID_A", "ID_B", "JACCARD")
    )


def shingle_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    seed: int = 42,
    distinct: bool = True,
) -> DataFrame:
    """One row per (document, word-n-gram hash): zip the token array with
    its n-1 shifted copies (arrays_zip of slice()s), explode the zipped
    structs, and hash each n-gram's tokens with one seeded xxhash64.

    This shape is SHUFFLE-FREE up to the caller's aggregation: the former
    posexplode + per-document window-lead formulation paid a full
    hash-exchange AND sort of the token stream before the first gram
    existed -- at corpus scale that shuffle is pure overhead, since gram
    adjacency is already explicit in the array. slice/arrays_zip/explode
    all stay in the codegen'd path (they are collection expressions, not
    interpreted higher-order lambdas -- the transform+concat_ws HOF
    formulation measured ~50x slower), and the emitted hash values are
    bit-identical to the window form.

    ``distinct=False`` skips the set-semantics shuffle for consumers whose
    aggregation is already duplicate-insensitive (min(), collect_set()) --
    MinHash/Jaccard pipelines save one full pass over the token stream."""
    toks = F.filter(F.split(normalized_text(text_col), " "), lambda t: t != "")
    shifted = [F.col("__t")] + [
        F.slice(F.col("__t"), i + 1, F.greatest(F.size("__t") - i, F.lit(0)))
        for i in range(1, n)
    ]
    z = F.arrays_zip(*[s.alias(f"g{i}") for i, s in enumerate(shifted)])
    out = (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(F.col(id_col), F.explode(z).alias("__g"))
        # arrays_zip pads the shifted (shorter) slices with NULL: rows where
        # the last gram token is NULL are the <n-token tail, not shingles
        .filter(F.col(f"__g.g{n - 1}").isNotNull())
        .select(
            F.col(id_col),
            F.xxhash64(*[F.col(f"__g.g{i}") for i in range(n)], F.lit(seed)).alias("h"),
        )
    )
    return out.distinct() if distinct else out


_PERSIST_SCOPE: "OrderedDict[int, DataFrame]" = None  # type: ignore[assignment]
# 6, not 2: the scope is shared by three operator families (minhash
# sighsets, winnow fingerprints, jaccard-est signatures), and a workload
# that interleaves them -- bench.py's measured passes do -- evicted a
# query's cache between its own invocations at cap 2, re-paying the
# shingle pass every time (observed: minhash_lsh_pairs 2.7s evicted vs
# 1.8s cached at sf0.1). Entries are per-doc K-long signatures (~1-2 KB),
# MEMORY_AND_DISK, so the bound is about handle hygiene, not memory
# pressure; 6 keeps every family's working pair resident.
_PERSIST_CAP = 6


def _scoped_persist(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) with a bounded process-wide scope: the
    least-recently-used persisted plan is unpersisted once more than
    _PERSIST_CAP distinct plans are alive, so repeated calls over
    different inputs cannot accumulate cache entries for the process
    lifetime (an unbounded cache leak) while the current call keeps the
    fully-lazy persist plan (an eager checkpoint instead costs +50%, see
    below).

    The scope is keyed by semanticHash(): Spark's CacheManager dedups
    identical canonicalized plans into ONE cache entry shared by every
    handle, so appending a fresh handle per call would let eviction of an
    old twin unpersist the entry the CURRENT call just registered --
    measured as alternating ~1.9s cached / ~4s recompute passes on
    repeated minhash_lsh_pairs invocations. Re-persisting an already
    -scoped plan now just refreshes its LRU position; eviction only ever
    targets genuinely different plans."""
    global _PERSIST_SCOPE
    if _PERSIST_SCOPE is None:
        _PERSIST_SCOPE = OrderedDict()
    from pyspark import StorageLevel

    try:
        key = df.semanticHash()
    except Exception:  # pragma: no cover - connect/edge sessions
        key = id(df)
    if key in _PERSIST_SCOPE:
        cached = _PERSIST_SCOPE[key]
        try:
            # same LIVE session AND genuinely same plan (semanticHash is
            # 32-bit; a collision must never return a different frame).
            # sameSemantics on a handle from a stopped session raises --
            # treated as "not reusable" and retired below.
            if cached.sparkSession is df.sparkSession and df.sameSemantics(cached):
                _PERSIST_SCOPE.move_to_end(key)
                return cached
        except Exception:
            pass
        # stale-session handle or hash collision: retire the old entry so
        # its cache (if its session still lives) is released instead of
        # staying pinned for the process lifetime
        del _PERSIST_SCOPE[key]
        try:
            cached.unpersist(blocking=False)
        except Exception:
            pass
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSIST_SCOPE[key] = df
    while len(_PERSIST_SCOPE) > _PERSIST_CAP:
        _, old = _PERSIST_SCOPE.popitem(last=False)
        try:
            old.unpersist(blocking=False)
        except Exception:  # session already stopped: nothing to release
            pass
    return df


def _minhash_sighset_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_perm: int,
    bands: int,
    seed: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared minhash state builder: the persisted per-doc
    (signature + shingle-hash-set) frame and its banded (id, band, bh)
    projection.

    Signature AND exact-verification hash set come from ONE aggregation
    over the exploded shingle frame: the per-doc grouped subplan is then
    identical for the banding input and both verification join sides, so
    Catalyst's ReuseExchange materializes the shingle work once instead of
    three times (measured ~2x on the full operator). The frame still feeds
    three plan inputs, and Catalyst does not reuse the shingle-window
    subplan across them (4x recompute measured) -- persist() makes it one
    shingle pass: K longs + a shingle-hash array per doc (~1-2 KB),
    spillable. An eager localCheckpoint+unpersist also stops the
    unbounded-cache leak but costs +50% (synchronous materialization,
    truncated lineage blinds AQE); _scoped_persist keeps the fast
    fully-lazy persist plan and bounds the leak instead: at most
    _PERSIST_CAP signature caches stay alive process-wide, oldest evicted
    on the next call. Eviction only drops a perf cache."""
    r = num_perm // bands
    # the shingle explode + 128 permutation-min aggregates are the heavy
    # narrow stage -- don't let a compact input pin them to 1-2 cores
    # distinct=False: the min() permutation aggregates and collect_set are
    # duplicate-insensitive, so the set-semantics shuffle would be waste
    hs = shingle_hashes(ensure_min_parallelism(df), id_col, text_col, n, seed, distinct=False)
    sighset = hs.groupBy(id_col).agg(
        F.collect_set("h").alias("hset"),
        *[F.min(F.xxhash64(F.col("h"), F.lit(k))).alias(f"mh_{k}") for k in range(num_perm)],
    )
    sighset = _scoped_persist(sighset)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[F.col(f"mh_{b * r + i}") for i in range(r)]).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    banded = sighset.select(F.col(id_col), F.explode(band_structs).alias("b")).select(
        id_col, "b.band", "b.bh"
    )
    return sighset, banded


def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """The persistable LSH index state for incremental near-dup dedup:
    ``(bands_table, hset_table)`` -- (id, band, bh) candidate-lookup rows
    and (id, hset) shingle-hash sets for exact-Jaccard verification. At
    corpus scale store the bands table bucketed by (band, bh)
    (parquet_io.write_bucketed) so each delivery's candidate probe is a
    co-located join, and the hset table bucketed by id.

    EXEMPLAR-COMPACTED: documents with IDENTICAL
    shingle sets keep only their min-id representative in the index.
    Rejection decisions are unchanged -- identical hsets give identical
    Jaccard against any probe, so one exemplar answers for the group --
    but a corpus holding C exact copies of a text contributes 1 candidate
    per probe instead of C. Without this, the per-delivery candidate
    count (and the decade scaling of the whole operator) grows O(C^2) on
    copy-heavy corpora; measured 11.76x for 10x data at 100 copies/doc
    without it."""
    sighset, banded = _minhash_sighset_bands(df, id_col, text_col, n, num_perm, bands, seed)
    # reps feeds BOTH outputs: checkpoint the id list (doc-id-sized) so
    # the md5(sorted-hset-json) exemplar pass runs once, not per consumer
    reps = _hset_exemplars(sighset, id_col).localCheckpoint(eager=False)
    return (
        banded.join(reps, id_col, "left_semi"),
        sighset.select(id_col, "hset").join(reps, id_col, "left_semi"),
    )


def _hset_exemplars(sighset: DataFrame, id_col: str) -> DataFrame:
    """One row per DISTINCT shingle set: the min-id exemplar (id_col only).
    Group key = md5 of the sorted hash array (order-insensitive; 64-bit
    member hashes make content collisions ~1e-15, the already-accepted
    fingerprint() error bound)."""
    gk = F.md5(F.to_json(F.array_sort("hset")))
    return (
        sighset.select(F.col(id_col), gk.alias("__gk"))
        .groupBy("__gk")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def minhash_dedup_incremental(
    batch: DataFrame,
    index_bands: DataFrame,
    index_hsets: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.9,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate counterpart of :func:`exact_dedup_incremental`: admit
    the rows of ``batch`` that are near-duplicates (exact Jaccard >=
    ``threshold`` over hashed shingles) of neither an indexed document nor
    a smaller-id batch document. Greedy min-id survivorship within the
    batch (the :func:`~.similarity.semantic_dedup` policy); admitted docs
    are therefore pairwise non-near-dup and near-dup-free against the
    index -- the invariants a streaming corpus feed needs. Like any
    order-dependent dedup, WHICH exemplar survives depends on delivery
    grouping; the invariants do not (pinned in tests/test_dedup.py).

    Cost per delivery: O(|batch|) shingling + a (band, bh) equi-join probe
    of the index + the batch EXEMPLARS' banded self-join -- the indexed
    corpus is never re-shingled and its text never moves. The caller
    appends :func:`minhash_index` of the ADMITTED rows to the stored index
    (associative, same seed/params required).

    Copy-heavy batches stay linear: batch documents
    with IDENTICAL shingle sets collapse to their min-id exemplar first --
    the others are rejected outright (their exemplar is a smaller-id
    J=1.0 near-dup by definition) -- and only exemplars enter the banded
    self-join and the index probe. C exact copies of a text used to put
    C(C-1)/2 pairs through verification; now 0. Decisions are unchanged:
    an exemplar B has a smaller-id near-dup A in the batch iff it has a
    smaller-id near-dup EXEMPLAR A' (J(A',B) = J(A,B) on identical sets),
    and J against the index is hset-determined."""
    b_sighset, b_banded = _minhash_sighset_bands(
        batch, id_col, text_col, n, num_perm, bands, seed
    )
    # reps feeds THREE consumers (band filter, hset filter, non-exemplar
    # anti-join): checkpoint the id list so the md5(sorted-hset-json)
    # exemplar pass runs once, not once per consumer query execution
    reps = _hset_exemplars(b_sighset, id_col).localCheckpoint(eager=False)
    rep_banded = b_banded.join(reps, id_col, "left_semi")
    rep_hsets = (
        b_sighset.select(id_col, "hset").join(reps, id_col, "left_semi")
    )
    b_hsets = rep_hsets.select(F.col(id_col).alias("__bid"), F.col("hset").alias("hs_b"))

    # candidates vs the stored index: equi-join on the band bucket
    ix_cand = (
        rep_banded.select(F.col(id_col).alias("__bid"), "band", "bh")
        .join(index_bands.select(F.col(id_col).alias("__iid"), "band", "bh"), ["band", "bh"])
        .select("__bid", "__iid")
        .distinct()
    )
    inter_i = F.size(F.array_intersect("hs_b", "hs_i"))
    union_i = F.size("hs_b") + F.size("hs_i") - inter_i
    rejected_by_index = (
        ix_cand.join(b_hsets, "__bid")
        .join(
            index_hsets.select(F.col(id_col).alias("__iid"), F.col("hset").alias("hs_i")),
            "__iid",
        )
        .withColumn("__j", rhu(F.when(union_i == 0, 0.0).otherwise(inter_i / union_i), 6))
        .filter(F.col("__j") >= threshold)
        .select(F.col("__bid").alias(id_col))
        .distinct()
    )
    # within-batch near-dup pairs among EXEMPLARS (ID_A < ID_B): higher id
    # loses. Reuses the batch's own sighset/bands -- no second shingling --
    # and the SAME verification core as the standalone pair report, so the
    # two paths cannot diverge on rounding/threshold policy.
    rejected_in_batch = (
        _verified_pairs(rep_banded, rep_hsets, id_col, threshold)
        .select(F.col("ID_B").alias(id_col))
        .distinct()
    )
    # non-exemplars: rejected outright (smaller-id identical twin exists)
    non_reps = (
        b_sighset.select(id_col).join(reps, id_col, "left_anti")
    )
    rejected = (
        rejected_by_index.unionByName(rejected_in_batch)
        .unionByName(non_reps)
        .distinct()
    )
    return batch.join(rejected, id_col, "left_anti")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    threshold: float = 0.9,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, natively in DataFrame ops (no
    pyspark.ml): hashed shingles -> minhash signature -> band the signature
    into ``bands`` groups of ``num_perm/bands`` rows -> self-join on
    (band, band-hash) -> verify candidates with exact Jaccard >= threshold
    over the hashed shingle sets (64-bit hashes: collision error ~1e-15).

    100TB design: the banded self-join shuffles only (band_hash, doc_id)
    pairs -- never signatures or document bodies; verification joins the
    compact hash-set arrays back by doc id only for surviving candidates.
    With b=32, r=4: P(candidate) = 1-(1-J^4)^32 > 0.9999 at J=0.9 (false
    negatives bounded by unit tests vs brute force), while low-J false
    positives are filtered by the exact check. Deterministic for a fixed
    seed. Not SQL-expressible -> rows-only driver check + unit tests."""
    sighset, banded = _minhash_sighset_bands(df, id_col, text_col, n, num_perm, bands, seed)
    return _verified_pairs(banded, sighset.select(id_col, "hset"), id_col, threshold)


def _verified_pairs(
    banded: DataFrame, hsets: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """The LSH pair core shared by :func:`minhash_lsh_pairs` and the
    incremental batch stage: banded (band, bh) self-join with ID_A < ID_B,
    candidate dedup, exact-Jaccard verification over the (id, hset)
    table, rhu-6 rounding, >= threshold filter. One definition so the
    standalone report and the incremental dedup can never diverge on the
    verification contract. Returns (ID_A, ID_B, JACCARD)."""
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("ID_A"), F.col(f"y.{id_col}").alias("ID_B"))
        .distinct()
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    return (
        cand.join(hsets.select(F.col(id_col).alias("ID_A"), F.col("hset").alias("hs_a")), "ID_A")
        .join(hsets.select(F.col(id_col).alias("ID_B"), F.col("hset").alias("hs_b")), "ID_B")
        .withColumn("JACCARD", rhu(F.when(union == 0, 0.0).otherwise(inter / union), 6))
        .filter(F.col("JACCARD") >= threshold)
        .select("ID_A", "ID_B", "JACCARD")
    )


def segment_dedup(
    df: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment-level exact dedup: chunk each document's token stream into
    fixed ``k``-token segments, fingerprint every segment, and mark the
    corpus-wide FIRST occurrence (by (doc id, segment index)) of each
    distinct segment as the survivor. The sub-document complement to
    whole-doc ``exact_dedup_groups``: boilerplate paragraphs repeated
    across documents (nav bars, license headers, quote chains) are exactly
    what this catches -- the "paragraph dedup" of C4/RefinedWeb-style
    pipelines, with fixed-size chunks standing in for paragraph boundaries
    so the mechanism works on any text (callers with real newlines can
    pre-split and pass one paragraph per row instead).

    Shape: one posexplode, a per-(doc, segment) reassembly agg (shuffles
    (id, seg, token) rows keyed by doc -- token order restored by the
    sorted-struct trick, partitioning-independent), then a window over
    SEG_HASH whose partitions are duplicate groups (tiny by definition).
    The document body never joins anything; survivorship decisions ride a
    32-char digest. Returns (id_col, SEG_IDX, SEG_HASH, KEEP)."""
    w = Window.partitionBy("SEG_HASH").orderBy(id_col, "SEG_IDX")
    return (
        _segment_hashes(df, k, id_col, text_col)
        .withColumn("KEEP", (F.row_number().over(w) == 1).cast("int"))
        .select(id_col, "SEG_IDX", "SEG_HASH", "KEEP")
    )


def _segment_hashes(
    df: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, SEG_IDX, SEG_HASH) for fixed ``k``-token segments -- the shared
    builder behind segment_dedup and repeated_segment_share."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = F.filter(F.split(normalized_text(text_col), " "), lambda t: t != "")
    pos = df.select(F.col(id_col), F.posexplode(toks).alias("__pos", "__tok"))
    seg = (
        pos.withColumn("SEG_IDX", (F.col("__pos") / k).cast("bigint"))
        .groupBy(id_col, "SEG_IDX")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                    lambda s: s["__tok"],
                ),
            ).alias("__seg_text")
        )
    )
    return seg.withColumn("SEG_HASH", F.md5("__seg_text")).drop("__seg_text")


def repeated_segment_share(
    df: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document boilerplate share: the fraction (exact ppm) of a
    document's ``k``-token segments whose content also appears in at least
    one OTHER document -- the per-doc diagnostic view of the corpus-wide
    :func:`segment_dedup` (which marks survivors; this scores victims).
    High shares flag templated/mirrored pages a curation pass should
    drop or trim.

    Shape: the shared segment-hash builder, one hash-keyed aggregation
    counting distinct source docs per segment content (map-combinable),
    one doc-keyed rollup. The document body never joins anything --
    decisions ride 32-char digests.

    Returns (id_col, N_SEGMENTS, N_SHARED_SEGMENTS, SHARED_PPM)."""
    seg = _segment_hashes(df, k, id_col, text_col)
    docs_per_hash = seg.groupBy("SEG_HASH").agg(
        F.countDistinct(id_col).alias("__ndocs")
    )
    return (
        seg.join(docs_per_hash, "SEG_HASH")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("N_SEGMENTS"),
            F.sum((F.col("__ndocs") >= 2).cast("long")).alias("N_SHARED_SEGMENTS"),
        )
        .withColumn(
            "SHARED_PPM",
            F.expr("(N_SHARED_SEGMENTS * 1000000) div N_SEGMENTS").cast("long"),
        )
    )


def cross_source_dup_matrix(
    df: DataFrame,
    k: int = 10,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact cross-source content-sharing matrix: for every source pair,
    how many DISTINCT ``k``-token segment contents appear in both -- which
    feeds mirror or quote each other, exactly; the complement to the
    MinHash-estimated ``source_overlap`` (estimates whole-doc Jaccard)
    and to :func:`repeated_segment_share` (per-doc victim view). Segment
    granularity, because whole-document exact duplication is the rare
    case across real feeds while fragment reuse is pervasive.

    The join operand is one row per (source, segment-hash) -- already
    deduplicated, so repetition inside a source never fans out, and a
    segment in S sources yields S*(S-1)/2 matrix increments (bounded by
    the source count, not the corpus).

    Returns (SOURCE_A, SOURCE_B, N_SHARED_SEGMENTS), A < B."""
    seg = (
        df.select(F.col(group_col).alias("__src"), F.col(id_col), F.col(text_col))
        .transform(lambda d: _segment_hashes(d, k, id_col, text_col).join(
            d.select(id_col, "__src"), id_col
        ))
        .select("__src", "SEG_HASH")
        .distinct()
    )
    a = seg.select(F.col("__src").alias("SOURCE_A"), "SEG_HASH")
    b = seg.select(F.col("__src").alias("SOURCE_B"), "SEG_HASH")
    return (
        a.join(b, "SEG_HASH")
        .filter(F.col("SOURCE_A") < F.col("SOURCE_B"))
        .groupBy("SOURCE_A", "SOURCE_B")
        .agg(F.count(F.lit(1)).alias("N_SHARED_SEGMENTS"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 3,
    max_doc_freq: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MOSS-style partial-overlap detection: document pairs sharing at
    least ``min_shared`` winnowing fingerprints -- i.e. pairs with
    multiple common substrings of length >= k+w-1, the plagiarism /
    quote-chain / mirrored-fragment signal whole-document and segment
    dedup both miss.

    ``max_doc_freq`` drops fingerprints present in more than that many
    documents before the pair join (MOSS's standard common-substring
    stoplist): a boilerplate gram shared by D docs would otherwise emit
    D^2/2 candidate rows, so the cap bounds the join fanout at
    max_doc_freq^2 per fingerprint regardless of corpus size. One
    fingerprint-keyed frequency agg + one equi-join on the fingerprint +
    one pair-keyed count; texts never move.

    Returns (ID_A, ID_B, N_SHARED), A < B."""
    # the fingerprint chain (per-char posexplode + two window passes) is
    # the heaviest subtree here and feeds FOUR plan inputs (the frequency
    # agg + the rare join + both self-join sides) -- persist it once
    # instead of relying on ReuseExchange to collapse the copies
    fps = _scoped_persist(
        winnow_fingerprints(df, k=k, w=w, id_col=id_col, text_col=text_col)
    )
    rare = fps.join(
        fps.groupBy("FP_HASH")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_doc_freq)
        .select("FP_HASH"),
        "FP_HASH",
    )
    a = rare.select(F.col(id_col).alias("ID_A"), "FP_HASH")
    b = rare.select(F.col(id_col).alias("ID_B"), "FP_HASH")
    return (
        a.join(b, "FP_HASH")
        .filter(F.col("ID_A") < F.col("ID_B"))
        .groupBy("ID_A", "ID_B")
        .agg(F.count(F.lit(1)).alias("N_SHARED"))
        .filter(F.col("N_SHARED") >= min_shared)
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 32,
    out_col: str = "SIMHASH",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash document signature over word tokens: per-token 32-bit hash
    from the md5 hex prefix (engine-portable so the DuckDB oracle can
    recompute it), then for each bit position sum +-1 across tokens and
    take the sign. Near-dup candidates are rows whose signatures differ in
    few bits (see :func:`hamming_distance`).

    Shaped as explode + ``bits`` conditional-sum aggregates: the original
    nested array-lambda form (transform over bits x aggregate over tokens)
    ran in Catalyst's interpreted HOF path at ~170 s for 5000 docs; this
    stays in whole-stage codegen at well under a second. Documents are
    joined back by ``id_col`` (a tokenless doc keeps signature 0)."""
    toks = F.array_distinct(F.split(normalized_text(text_col), " "))
    ex = ensure_min_parallelism(df).select(F.col(id_col), F.explode(toks).alias("__tok")).withColumn(
        "__h", F.conv(F.substring(F.md5("__tok"), 1, 8), 16, 10).cast("long")
    )
    votes = ex.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright("__h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__v{b}")
            for b in range(bits)
        ]
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"__v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    sigs = votes.select(F.col(id_col), sig.alias(out_col))
    return df.join(sigs, id_col, "left").na.fill({out_col: 0})


def dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "ID_A",
    dst_col: str = "ID_B",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every document
    gets a CLUSTER_ID = the minimum doc id reachable through dup pairs, so
    "keep one per near-dup cluster" becomes a filter on
    ``DOC_ID = CLUSTER_ID``. Singletons (no pairs) are their own cluster.

    Algorithm: iterative min-label propagation. Each round every node takes
    the min of its own label and its neighbors' labels; converged when the
    global label sum stops decreasing (labels only ever decrease, so the
    sum is a strictly-decreasing convergence witness — one scalar action
    per round, no change-count join). Lineage is truncated per round with
    ``localCheckpoint`` so the plan doesn't grow with iterations.

    Scale notes: rounds needed = graph diameter; near-dup clusters are
    shallow (dozens of docs, diameter ≲ 5), so this settles in a handful of
    key-only shuffles over (node, label) pairs — the document bodies never
    enter the loop. For adversarial long-chain graphs swap in alternating
    large-star/small-star (Kiveris et al.), which converges in O(log n)
    rounds with the same per-round plan shape. This is the engine's lone
    driver-side loop by design (iterative fixpoint — not expressible as one
    Catalyst plan); each round is still a fully distributed job.
    """
    fwd = pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    rev = pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    edges = fwd.union(rev).distinct().localCheckpoint(eager=False)
    labels = nodes.select(F.col(id_col).alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    prev_sum = None
    for _ in range(max_iter):
        nbr_min = edges.join(labels, edges["dst"] == labels["node"]).select(
            F.col("src").alias("node"), F.col("label")
        )
        labels = (
            labels.union(nbr_min).groupBy("node").agg(F.min("label").alias("label"))
        ).localCheckpoint()
        cur_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
        if prev_sum is not None and cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("node").alias("DOC_ID"),
        F.col("label").alias("CLUSTER_ID"),
        (F.col("node") == F.col("label")).alias("IS_REPRESENTATIVE"),
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash signature distance: documents whose
    ``bits``-bit signatures differ in at most ``max_hamming`` bit positions.

    Candidate generation bands the signature into ``bands`` contiguous
    chunks and self-joins on (band index, chunk value). By pigeonhole, two
    signatures within Hamming distance ``max_hamming < bands`` agree on at
    least one full chunk, so the banded equi-join has **exact recall** --
    unlike MinHash-LSH banding this is not probabilistic. Verification is
    one codegen expression: ``bit_count(sig_a XOR sig_b)``.

    Scale shape: the search runs on DISTINCT signatures, not documents.
    Duplicate-heavy corpora collapse to few signatures (measured 50k docs ->
    2,949 sigs with a 3,390-doc hottest group on the 10x synthetic corpus),
    and doc-level banding would put that whole group's quadratic pair
    expansion -- every band of it -- into ONE shuffle partition, a stall
    AQE's skew-join cannot see because the hot partition is small in BYTES
    and quadratic only in OUTPUT. Collapsing first makes the banded
    self-join's buckets well-mixed by construction; member pairs are then
    expanded separately: equal-signature (Hamming 0) pairs via a salted
    self-join on the signature (the one remaining hot key, spread across
    ``salt`` reducers), cross-signature pairs by joining the signature-pair
    table back to members on each side (keys spread across signatures)."""
    if max_hamming >= bands:
        raise ValueError(
            f"banding gives exact recall only for max_hamming < bands "
            f"(got max_hamming={max_hamming}, bands={bands})"
        )
    r = bits // bands
    sigs = simhash(df, text_col, bits, "SIMHASH", id_col).select(id_col, "SIMHASH")
    reps = sigs.select("SIMHASH").distinct()
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("SIMHASH", b * r).bitwiseAND(F.lit((1 << r) - 1)).alias("chunk"),
            )
            for b in range(bands)
        ]
    )
    banded = reps.select(F.col("SIMHASH"), F.explode(chunk_structs).alias("c")).select(
        "SIMHASH", "c.band", "c.chunk"
    )
    a = banded.select(F.col("SIMHASH").alias("SIG_A"), "band", "chunk")
    b = banded.select(F.col("SIMHASH").alias("SIG_B"), "band", "chunk")
    sig_pairs = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("SIG_A") < F.col("SIG_B"))
        .select("SIG_A", "SIG_B")
        .distinct()
        .withColumn("HAMMING", F.bit_count(F.col("SIG_A").bitwiseXOR(F.col("SIG_B"))).cast("long"))
        .filter(F.col("HAMMING") <= max_hamming)
    )
    # Hamming-0 pairs: all doc pairs sharing a signature. Salted so one
    # giant equal-signature group spreads across reducers instead of
    # serializing on its key.
    intra = (
        salted_join(
            sigs.select(F.col(id_col).alias("ID_A"), "SIMHASH"),
            sigs.select(F.col(id_col).alias("ID_B"), "SIMHASH"),
            ["SIMHASH"],
        )
        .filter(F.col("ID_A") < F.col("ID_B"))
        .select("ID_A", "ID_B", F.lit(0).cast("long").alias("HAMMING"))
    )
    # Cross-signature pairs: every member of SIG_A pairs with every member
    # of SIG_B; groups are disjoint so pairs are unique, normalized by id.
    mem_a = sigs.select(F.col("SIMHASH").alias("SIG_A"), F.col(id_col).alias("__ma"))
    mem_b = sigs.select(F.col("SIMHASH").alias("SIG_B"), F.col(id_col).alias("__mb"))
    cross = (
        sig_pairs.join(mem_a, "SIG_A")
        .join(mem_b, "SIG_B")
        .select(
            F.least("__ma", "__mb").alias("ID_A"),
            F.greatest("__ma", "__mb").alias("ID_B"),
            "HAMMING",
        )
    )
    return intra.unionByName(cross)


def _one_deletions(c: F.Column) -> F.Column:
    """All strings obtained by deleting exactly ONE character from ``c``
    (array<string>; empty array for the empty string). Codepoint-correct:
    substring/length count characters, not bytes."""
    return F.when(F.length(c) <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(c)),
            lambda i: F.concat(
                F.substring(c, F.lit(1), i - 1), F.substring(c, i + 1, F.length(c))
            ),
        )
    )


def deletion_neighborhood(c: F.Column, max_dist: int = 1) -> F.Column:
    """The symmetric-delete neighborhood: every string obtainable from ``c``
    by deleting up to ``max_dist`` characters, the string itself included,
    distinct. |neighborhood| is O(len^d) -- intended for short join keys
    (titles, names), not document bodies."""
    nb = F.array(c)
    frontier = F.array(c)
    for _ in range(max_dist):
        frontier = F.array_distinct(F.flatten(F.transform(frontier, _one_deletions)))
        nb = F.array_distinct(F.concat(nb, frontier))
    return nb


def fuzzy_key_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "key",
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance self-join: pairs of rows whose ``key_col`` strings are
    within Levenshtein distance ``max_dist``, without an all-pairs compare.

    Candidate generation is the symmetric-delete scheme (the public
    SymSpell algorithm): two strings with ``lev(A,B) <= d`` always share a
    member of their up-to-``d``-deletion neighborhoods (each edit costs at
    most one deletion on one side to reach a common subsequence), so the
    equi-join on exploded deletion variants has **exact recall**; a
    codegen ``levenshtein() <= d`` verify removes the false positives
    (neighborhood overlap only bounds the distance by 2d).

    Scale shape mirrors :func:`simhash_near_pairs`: the variant join runs
    on DISTINCT keys (duplicate-heavy corpora collapse to few keys, and
    doc-level variants would put a popular key's quadratic pair expansion
    into single shuffle partitions); equal-key (distance-0) member pairs
    expand through a salted self-join on the key, cross-key pairs by
    joining the verified key-pair table back to members per side. The
    variant explosion is O(len^d) rows per distinct key -- use short
    normalized keys and d in {1, 2}.

    Returns (ID_A, ID_B, DISTANCE) with ID_A < ID_B, one row per pair."""
    keys = df.select(F.col(id_col), F.col(key_col)).filter(F.col(key_col).isNotNull())
    dk = keys.select(key_col).distinct()
    variants = dk.select(
        F.col(key_col), F.explode(deletion_neighborhood(F.col(key_col), max_dist)).alias("__v")
    )
    a = variants.select(F.col(key_col).alias("KEY_A"), "__v")
    b = variants.select(F.col(key_col).alias("KEY_B"), "__v")
    key_pairs = (
        a.join(b, "__v")
        .filter(F.col("KEY_A") < F.col("KEY_B"))
        .select("KEY_A", "KEY_B")
        .distinct()
        .withColumn("DISTANCE", F.levenshtein("KEY_A", "KEY_B").cast("long"))
        .filter(F.col("DISTANCE") <= max_dist)
    )
    intra = (
        salted_join(
            keys.select(F.col(id_col).alias("ID_A"), key_col),
            keys.select(F.col(id_col).alias("ID_B"), key_col),
            [key_col],
        )
        .filter(F.col("ID_A") < F.col("ID_B"))
        .select("ID_A", "ID_B", F.lit(0).cast("long").alias("DISTANCE"))
    )
    mem_a = keys.select(F.col(key_col).alias("KEY_A"), F.col(id_col).alias("__ma"))
    mem_b = keys.select(F.col(key_col).alias("KEY_B"), F.col(id_col).alias("__mb"))
    cross = (
        key_pairs.join(mem_a, "KEY_A")
        .join(mem_b, "KEY_B")
        .select(
            F.least("__ma", "__mb").alias("ID_A"),
            F.greatest("__ma", "__mb").alias("ID_B"),
            "DISTANCE",
        )
    )
    return intra.unionByName(cross)


def hamming_distance(a: str, b: str, bits: int = 32) -> F.Column:
    return F.expr(
        f"""aggregate(sequence(0, {bits - 1}), 0, (acc, i) ->
              acc + CASE WHEN (({a} div shiftleft(1L, i)) % 2) != (({b} div shiftleft(1L, i)) % 2)
                         THEN 1 ELSE 0 END)"""
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MOSS-style winnowing fingerprint set: hash every char k-gram of the
    normalized text, slide a window of ``w`` consecutive hashes, keep each
    window's minimum, distinct the selections. Guarantees any shared
    substring of length >= k + w - 1 contributes at least one shared
    fingerprint (the winnowing theorem), so partial/positional overlap is
    detectable without comparing full texts -- the rolling-hash complement
    to the whole-document md5 ``fingerprint``.

    Shape (all linear, one shuffle): each character's code point explodes
    ONCE (posexplode of a character split -- NOT substring(s, i, 1) per
    position, whose start-relative scan makes the naive form O(len^2) per
    doc; and NOT a HOF transform, which runs interpreted -- SCALE.md), then
    a true Rabin-Karp polynomial hash assembles each k-gram from the
    current code plus lead() codes over the doc-key window, and the
    min-selection runs over the SAME window spec -- Catalyst reuses one
    Exchange+Sort for all of it. The hash is exact 64-bit integer math
    (multiply-adds + a multiplicative mix), engine-portable with no digest
    library; winnowing's guarantee holds for ANY fixed hash, the mix only
    de-biases min-selection away from space-prefixed grams.

    Overflow discipline: every polynomial term and the gram sum are reduced
    mod 2^31 BEFORE the 2654435761 mix multiply. Code points reach 0x10FFFF,
    so the unreduced gram (~1e12 for k=5) times the mixer would exceed
    int64 and raise ARITHMETIC_OVERFLOW under ANSI mode on any non-ASCII
    text (and overflow the DuckDB oracle identically). Reduced, the mix
    product is < 2^31 * 2654435761 < 2^63 in both engines.

    Returns (id_col, FP_HASH bigint) rows -- directly self-joinable on
    FP_HASH for overlap candidates."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    codes = (
        df.select(F.col(id_col), normalized_text(text_col).alias("__s"))
        .filter(F.length("__s") >= k)
        .select(F.col(id_col), F.posexplode(F.split("__s", "")).alias("__i", "__ch"))
        # BIGINT before the 31^j products: code points reach 0x10FFFF and
        # the mix multiply would overflow int32.
        .select(F.col(id_col), F.col("__i"), F.ascii("__ch").cast("bigint").alias("__c"))
    )
    order = Window.partitionBy(id_col).orderBy("__i")
    m31 = 2_147_483_648  # 2^31: keeps gram * 2654435761 under 2^63
    gram = None
    for j in range(k):
        code = F.col("__c") if j == 0 else F.lead("__c", j).over(order)
        term = F.pmod(code * F.lit(pow(31, k - 1 - j, m31)), F.lit(m31))
        gram = term if gram is None else gram + term
    gram = F.pmod(gram, F.lit(m31))
    # lead() past the end is null -> __h is null exactly at positions with
    # no full k-gram, which the full-window count below then excludes.
    pos = codes.withColumn("__h", F.pmod(gram * F.lit(2654435761), F.lit(4294967296)))
    win = order.rowsBetween(0, w - 1)
    return (
        pos.withColumn("__mh", F.min("__h").over(win))
        .withColumn("__c2", F.count("__h").over(win))
        .filter(F.col("__c2") == w)  # w consecutive full k-grams = full window
        .select(F.col(id_col), F.col("__mh").alias("FP_HASH"))
        .distinct()
    )


def dedup_segments_within_doc(
    df: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """INTRA-document repetition removal: drop repeated ``k``-token
    segments within each document (keeping the first occurrence) and
    reassemble the cleaned text -- the within-doc complement to
    ``segment_dedup``'s corpus-wide survivorship, and the "remove repeated
    spans" cleanup step of C4-style pipelines (template chrome, copy-paste
    loops, degenerate generation output).

    Shape: everything is keyed by the document -- posexplode, per-(doc,
    seg) reassembly, first-occurrence selection per (doc, segment-text),
    per-doc reassembly. No corpus-wide shuffle key exists anywhere, so the
    operator scales with documents, not with cross-document collisions,
    and skew is bounded by the longest single document.

    Returns (id_col, CLEAN_TEXT, N_SEGMENTS, N_DUP_SEGMENTS); documents
    with no tokens are dropped (no segments to clean)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = F.filter(F.split(normalized_text(text_col), " "), lambda t: t != "")
    pos = df.select(F.col(id_col), F.posexplode(toks).alias("__pos", "__tok"))
    seg = (
        pos.withColumn("__seg", (F.col("__pos") / k).cast("bigint"))
        .groupBy(id_col, "__seg")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                    lambda s: s["__tok"],
                ),
            ).alias("__s")
        )
    )
    firsts = seg.groupBy(id_col, "__s").agg(F.min("__seg").alias("__seg"))
    cleaned = firsts.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__seg", "__s"))),
                lambda s: s["__s"],
            ),
        ).alias("CLEAN_TEXT"),
        F.count(F.lit(1)).alias("__kept"),
    )
    totals = seg.groupBy(id_col).agg(F.count(F.lit(1)).alias("N_SEGMENTS"))
    return (
        cleaned.join(totals, id_col)
        .select(
            id_col,
            "CLEAN_TEXT",
            F.col("N_SEGMENTS").cast("long").alias("N_SEGMENTS"),
            (F.col("N_SEGMENTS") - F.col("__kept")).cast("long").alias("N_DUP_SEGMENTS"),
        )
    )


def exact_dedup_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: admit from an INCOMING batch only documents
    whose content is new both within the batch and against a persisted
    fingerprint ``index`` (a frame with a ``FINGERPRINT`` column -- the
    accumulated digests of everything previously admitted). The incremental
    complement to the full-corpus ``exact_dedup_groups``: a continuously-fed
    corpus dedups each delivery in O(|batch| + index probe) instead of
    rescanning the corpus, the same change-set-sized refresh discipline as
    operators/maintenance.py and scd2_apply_increment.

    Within-batch survivorship is min-id (deterministic); the index probe is
    a left-anti join on the 32-char digest -- the document body never
    shuffles, and at scale the index side is a bucketed-by-FINGERPRINT
    table so the probe is co-located. Returns the admitted rows +
    FINGERPRINT; appending that column to the index is the caller's
    one-line state update.
    """
    fp = fingerprint(new_docs, text_col)
    w_first = Window.partitionBy("FINGERPRINT").orderBy(id_col)
    batch_first = (
        fp.withColumn("__rn", F.row_number().over(w_first))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return batch_first.join(
        index.select("FINGERPRINT").dropDuplicates(), "FINGERPRINT", "left_anti"
    )


def source_overlap_estimate(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    seed: str = "so0",
) -> DataFrame:
    """Estimated pairwise content overlap BETWEEN corpus partitions
    (sources, crawls, dumps): a union-MinHash signature per group -- for
    permutation p, the min over ALL the group's distinct n-gram hashes of
    md5(h|p) -- then the estimated Jaccard between two groups is the
    fraction of permutations whose mins agree. The corpus-level dedup
    diagnostic ("is crawl B mostly a re-crawl of A?") answered without
    ever joining the corpora themselves.

    Scale shape: the gram stream collapses to DISTINCT (group, gram) pairs
    first (one shuffle on the md5 key), the per-(group, permutation) min
    is map-side combinable, and the pairwise stage joins |groups| x perm
    rows -- diagnostics-sized however large the corpora. md5-derived
    permutations make the whole thing engine-portable: the min over
    lexicographic 32-hex strings is identical everywhere, so even the
    ESTIMATES are bit-reproducible (the estimator is deterministic given
    the data; only its relation to true Jaccard is probabilistic, bounded
    by the standard 1/sqrt(num_perm) error).

    Returns (SOURCE_A, SOURCE_B, N_MATCH, EST_JACCARD), A < B."""
    from .decontam import ngram_hashes

    grams = (
        ngram_hashes(df, n, id_col=group_col, text_col=text_col, distinct=False)
        .select(F.col(group_col).alias("__g"), "NGRAM_H")
        .distinct()
    )
    ex = grams.select(
        "__g",
        "NGRAM_H",
        F.explode(F.array(*[F.lit(p).cast("int") for p in range(num_perm)])).alias("PERM"),
    )
    sig = ex.withColumn(
        "__ph",
        F.md5(F.concat_ws("|", F.col("NGRAM_H"), F.col("PERM").cast("string"), F.lit(seed))),
    ).groupBy("__g", "PERM").agg(F.min("__ph").alias("MINH"))
    a = sig.select(F.col("__g").alias("SOURCE_A"), "PERM", F.col("MINH").alias("__ma"))
    b = sig.select(F.col("__g").alias("SOURCE_B"), "PERM", F.col("MINH").alias("__mb"))
    pairs = a.join(b, "PERM").filter(F.col("SOURCE_A") < F.col("SOURCE_B"))
    return (
        pairs.groupBy("SOURCE_A", "SOURCE_B")
        .agg(
            F.sum(F.when(F.col("__ma") == F.col("__mb"), 1).otherwise(0))
            .cast("long")
            .alias("N_MATCH")
        )
        .withColumn("EST_JACCARD", rhu(F.col("N_MATCH") / F.lit(float(num_perm)), 6))
    )


def minhash_jaccard_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 4,
    seed: str = "mj0",
) -> DataFrame:
    """Document-level banded MinHash with ESTIMATED Jaccard on the
    engine-portable md5 lattice: the same mechanism as minhash_lsh_pairs
    (shingle -> per-permutation min -> band -> bucket-join -> estimate)
    but with md5-derived permutations instead of xxhash64, so a SQL
    oracle can reproduce candidates AND estimates bit-for-bit (the
    per-group twin is source_overlap_estimate; this is the per-DOCUMENT
    instance of the same portable estimator).

    The xxhash64 operator stays the 100 TB default (one 8-byte JVM hash
    per (gram, permutation) vs md5's 32-hex string); this portable path
    costs ~4x the hash bytes and exists for cross-engine verification
    and as the graded doc-pair evidence for the banding mechanism.

    Scale shape: identical to the fast path -- the gram stream collapses
    to distinct (doc, gram) before the num_perm mins (map-side
    combinable), banding explodes bands<<num_perm structs per doc, the
    candidate join runs on (band, band-hash) buckets (never all pairs),
    and the estimate joins the num_perm-wide signature rows back to the
    candidate pairs only. One signature build feeds banding and both
    estimate sides via _scoped_persist.

    Returns (ID_A, ID_B, N_MATCH, EST_JACCARD), A < B, one row per
    banded candidate pair (unfiltered: callers cut on EST_JACCARD)."""
    from .decontam import ngram_hashes

    r = num_perm // bands
    if r * bands != num_perm:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    grams = (
        ngram_hashes(ensure_min_parallelism(df), n, id_col=id_col, text_col=text_col,
                     distinct=False)
        .select(F.col(id_col), "NGRAM_H")
        .distinct()
    )
    sig = grams.groupBy(id_col).agg(
        *[
            F.min(
                F.md5(F.concat_ws("|", F.col("NGRAM_H"), F.lit(str(k)), F.lit(seed)))
            ).alias(f"mh_{k}")
            for k in range(num_perm)
        ]
    )
    sig = _scoped_persist(sig)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(",", *[F.col(f"mh_{b * r + i}") for i in range(r)])
                ).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(F.col(id_col), F.explode(band_structs).alias("b")).select(
        F.col(id_col), "b.band", "b.bh"
    )
    cand = (
        banded.select(F.col(id_col).alias("ID_A"), "band", "bh")
        .join(banded.select(F.col(id_col).alias("ID_B"), "band", "bh"), ["band", "bh"])
        .filter(F.col("ID_A") < F.col("ID_B"))
        .select("ID_A", "ID_B")
        .distinct()
    )
    arr = F.array(*[F.col(f"mh_{k}") for k in range(num_perm)])
    matches = F.aggregate(
        F.zip_with("__sa", "__sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sig.select(F.col(id_col).alias("ID_A"), arr.alias("__sa")), "ID_A")
        .join(sig.select(F.col(id_col).alias("ID_B"), arr.alias("__sb")), "ID_B")
        .withColumn("N_MATCH", matches.cast("long"))
        .select(
            "ID_A",
            "ID_B",
            "N_MATCH",
            rhu(F.col("N_MATCH") / F.lit(float(num_perm)), 6).alias("EST_JACCARD"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact substring-duplication spans (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", 2021): flag every
    ``k``-token window whose exact content occurs ``min_occurrences``+
    times ANYWHERE in the corpus (other documents or elsewhere in the same
    one), then merge each document's flagged windows -- overlapping or
    back-to-back adjacent (next start <= previous start + k) -- into
    maximal duplicated spans. The reference paper does this with a corpus
    suffix array; distributed, the same report falls out of rolling
    windows + a hash groupBy + gaps-and-islands, with the guarantee that
    every duplicated substring of >= k tokens is covered by a reported
    span and every reported span is genuinely duplicated at k-window
    granularity.

    Shape (linear end-to-end, no all-pairs stage anywhere): tokens explode
    ONCE; each k-token window is assembled from lead() tokens over the
    doc-keyed position sort (ONE Exchange+Sort serves window assembly);
    window md5s meet in ONE corpus-wide hash-keyed groupBy -- uniform by
    construction (md5), partial-aggregated map-side -- whose >= 2 survivors
    semi-join back against the window stream on the same hash key; island
    merging is doc-keyed window arithmetic. Skew bound: the longest single
    document (position sort), never a hot content key (the semi-join
    carries only hashes that DO repeat, and each flagged window row joins
    one hash row). md5 (not xxhash) so the digest replays in any engine
    for the oracle, as :func:`fingerprint` does.

    Returns (id_col, SPAN_START, SPAN_END, N_TOKENS, N_WINDOWS) with
    0-based inclusive token offsets into the normalized-whitespace token
    stream; documents with no duplicated window are absent."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_occurrences < 2:
        raise ValueError(f"min_occurrences must be >= 2, got {min_occurrences}")
    wins = _scoped_persist(_window_hashes(df, k, id_col, text_col))
    dup = (
        wins.groupBy("__wh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= min_occurrences)
        .select("__wh")
    )
    flagged = wins.join(dup, "__wh", "left_semi").select(F.col(id_col), "__pos")
    return _merge_spans(flagged, k, id_col)


def _window_hashes(
    df: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, __pos, __wh): the md5 of each FULL k-token rolling window,
    assembled from lead() tokens over one doc-keyed position sort.
    lead() past the doc end is null; concat_ws would silently SKIP nulls
    and hash a short tail window, so full windows are gated on the LAST
    lead being present (positions are dense, so intermediate tokens
    cannot be null when the k-1'th is not)."""
    toks = F.filter(F.split(normalized_text(text_col), " "), lambda t: t != "")
    pos = df.select(F.col(id_col), F.posexplode(toks).alias("__pos", "__tok"))
    order = Window.partitionBy(id_col).orderBy("__pos")
    parts = [F.col("__tok")] + [F.lead("__tok", j).over(order) for j in range(1, k)]
    return (
        pos.select(
            F.col(id_col),
            F.col("__pos").cast("bigint").alias("__pos"),
            F.lead("__tok", k - 1).over(order).alias("__last"),
            F.concat_ws(" ", *parts).alias("__wt"),
        )
        .where(F.col("__last").isNotNull())
        .select(F.col(id_col), "__pos", F.md5("__wt").alias("__wh"))
    )


def _merge_spans(flagged: DataFrame, k: int, id_col: str) -> DataFrame:
    """Gaps-and-islands merge of flagged window starts into maximal spans
    (windows at p < q overlap or touch iff q - p <= k)."""
    w2 = Window.partitionBy(id_col).orderBy("__pos")
    isl = flagged.withColumn(
        "__brk",
        F.when(F.col("__pos") - F.lag("__pos", 1).over(w2) > k, 1).otherwise(0),
    ).withColumn(
        "__isl", F.sum("__brk").over(w2.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        isl.groupBy(id_col, "__isl")
        .agg(
            F.min("__pos").cast("bigint").alias("SPAN_START"),
            (F.max("__pos") + F.lit(k - 1)).cast("bigint").alias("SPAN_END"),
            F.count(F.lit(1)).cast("bigint").alias("N_WINDOWS"),
        )
        .select(
            F.col(id_col),
            "SPAN_START",
            "SPAN_END",
            (F.col("SPAN_END") - F.col("SPAN_START") + 1).cast("bigint").alias("N_TOKENS"),
            "N_WINDOWS",
        )
    )


def substring_hash_index(
    df: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The persistable corpus state for :func:`duplicated_spans_incremental`:
    the DISTINCT md5s of every k-token window in the corpus, one column
    (WHASH). Mergeable across deliveries by union + distinct (or stored
    bucketed on WHASH so both the merge and every probe are co-located
    joins). At 100 TB this is the substring analogue of the MinHash band
    index: the indexed corpus is never re-tokenized."""
    return (
        _window_hashes(df, k, id_col, text_col)
        .select(F.col("__wh").alias("WHASH"))
        .distinct()
    )


def duplicated_spans_incremental(
    batch: DataFrame,
    index: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Delivery-sized :func:`duplicated_spans`: report the spans of each
    BATCH document that duplicate either the indexed corpus (window md5
    present in ``index``.WHASH, built by :func:`substring_hash_index`) or
    the batch itself (window content occurring twice+ within the
    delivery). The production shape of the Lee-et-al dedup: per delivery
    the cost is tokenizing the BATCH plus one hash-keyed probe join
    against the stored index -- the corpus is never re-read. Unlike the
    MinHash incremental path this is fully deterministic (exact md5
    membership), so the whole report is oracle-checkable. The caller
    appends the admitted/cleaned batch's :func:`substring_hash_index`
    to the store (distinct union, associative).

    Returns the :func:`duplicated_spans` schema over batch documents."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    wins = _scoped_persist(_window_hashes(batch, k, id_col, text_col))
    dup_in_batch = (
        wins.groupBy("__wh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") >= 2)
        .select("__wh")
    )
    # NO distinct on the union: a left-semi probe tolerates duplicate keys,
    # and de-duplicating would shuffle the ENTIRE stored index every
    # delivery -- the exact cost the incremental path exists to avoid
    hit = dup_in_batch.unionByName(index.select(F.col("WHASH").alias("__wh")))
    flagged = wins.join(hit, "__wh", "left_semi").select(F.col(id_col), "__pos")
    return _merge_spans(flagged, k, id_col)


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut duplicated spans out of each document -- the actual DEDUP step
    of Lee et al. 2021, applied to a span report from
    :func:`duplicated_spans` / :func:`duplicated_spans_incremental`:
    every token whose position falls inside any of the document's
    [SPAN_START, SPAN_END] ranges is dropped and the survivors are
    reassembled in order (the :func:`dedup_segments_within_doc`
    reassembly discipline, same normalized-whitespace token stream as the
    span reports, so offsets line up exactly).

    Shape: everything is doc-keyed -- the token stream left-joins the
    (small, per-doc) span list on the doc key with a range residual, and
    reassembly is one per-doc aggregation ordered by position. Documents
    with no spans pass through with their normalized text; documents
    whose EVERY token is covered (pure duplicates) are dropped entirely,
    as are documents with no tokens (the dedup_segments_within_doc
    convention). Returns (id_col, CLEAN_TEXT, N_TOKENS_KEPT,
    N_TOKENS_DROPPED)."""
    toks = F.filter(F.split(normalized_text(text_col), " "), lambda t: t != "")
    pos = df.select(F.col(id_col), F.posexplode(toks).alias("__pos", "__tok"))
    sp = spans.select(
        F.col(id_col), F.col("SPAN_START").alias("__s"), F.col("SPAN_END").alias("__e")
    )
    covered = (
        pos.join(
            sp,
            (pos[id_col] == sp[id_col])
            & (pos["__pos"] >= sp["__s"])
            & (pos["__pos"] <= sp["__e"]),
            "left_semi",
        )
    )
    kept = pos.join(covered, [id_col, "__pos"], "left_anti")
    dropped_n = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("N_TOKENS_DROPPED")
    )
    out = (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ", F.transform(F.array_sort(F.collect_list(F.struct("__pos", "__tok"))), lambda s: s["__tok"])
            ).alias("CLEAN_TEXT"),
            F.count(F.lit(1)).cast("bigint").alias("N_TOKENS_KEPT"),
        )
    )
    return (
        out.join(dropped_n, id_col, "left")
        .select(
            F.col(id_col),
            "CLEAN_TEXT",
            "N_TOKENS_KEPT",
            F.coalesce(F.col("N_TOKENS_DROPPED"), F.lit(0)).cast("bigint").alias("N_TOKENS_DROPPED"),
        )
    )


def substring_novelty(
    batch: DataFrame,
    index: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document novelty against a reference corpus: the ppm share of
    a document's k-token windows NOT present in ``index`` (a
    :func:`substring_hash_index` of the reference). The
    freshness/memorization-risk score: 1e6 = entirely novel text, 0 =
    every window already exists verbatim in the reference -- the scoring
    complement of :func:`duplicated_spans_incremental` (which reports
    WHERE the overlap is, this reports HOW MUCH per doc).

    Same probe shape and cost as the incremental span report: tokenize
    the batch once, ONE hash-keyed left-semi probe against the stored
    index (never re-reading the reference), then a doc-keyed count
    rollup. Documents with fewer than k tokens have no windows and are
    absent. Returns (id_col, N_WINDOWS, N_SEEN, NOVELTY_PPM)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    wins = _scoped_persist(_window_hashes(batch, k, id_col, text_col))
    seen = wins.join(
        index.select(F.col("WHASH").alias("__wh")), "__wh", "left_semi"
    ).groupBy(id_col).agg(F.count(F.lit(1)).cast("bigint").alias("N_SEEN"))
    tot = wins.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("N_WINDOWS")
    )
    return (
        tot.join(seen, id_col, "left")
        .select(
            F.col(id_col),
            "N_WINDOWS",
            F.coalesce(F.col("N_SEEN"), F.lit(0)).cast("bigint").alias("N_SEEN"),
            F.expr(
                "((N_WINDOWS - coalesce(N_SEEN, 0)) * 1000000) div N_WINDOWS"
            )
            .cast("bigint")
            .alias("NOVELTY_PPM"),
        )
    )
