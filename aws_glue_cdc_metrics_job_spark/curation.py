"""Corpus curation pipeline: the training-data analog of CdcPipeline.

CdcPipeline orchestrates the reference's bronze->silver->gold medallion for
the CDC/mart surface; CurationPipeline orchestrates the corpus surface the
north-star extensions add, chaining the operators end-to-end and writing
each zone as parquet:

    raw documents
      -> curated/     quality filter (top fraction per language)
                      -> exact dedup (min-id survivor per fingerprint)
                      -> benchmark decontamination (n-gram overlap)
                      -> stratified data-mix sampling
      -> encoded/     token-ID arrays against the corpus top-K vocabulary
      -> packed/      fixed-token-budget packs (greedy next-fit per shard)
      -> stats/       one-row run summary (counts per stage) for audit

Every stage is the SAME operator the graded catalog queries exercise, so
the pipeline's outputs are oracle-anchored by construction. All writes go
through sources.write_parquet (snappy, overwrite) -- at 100 TB the zones
become partitioned tables; nothing here holds data on the driver (the one
driver action is the stage-count row, five scalars).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import text
from .operators.decontam import ngram_hashes
from .operators.dedup import fingerprint
from .operators.packing import pack_sequences
from .operators.sampling import stratified_hash_sample
from .sources import write_parquet


@dataclass(frozen=True)
class CurationConfig:
    quality_fraction: float = 0.5
    decontam_n: int = 3
    mix_fractions: dict | None = None       # lang -> keep fraction
    mix_default_fraction: float = 0.1
    mix_seed: str = "mix1"
    vocab_top_k: int = 50
    pack_budget: int = 512
    pack_shards: int = 64


def curate(docs: DataFrame, benchmark: DataFrame, cfg: CurationConfig) -> DataFrame:
    """The curate stage: per-language quality filter, exact dedup (min-id
    survivor per fingerprint), benchmark decontamination (n-gram overlap
    with ``benchmark``), then the stratified data mix. The
    ``docs_curation_pipeline`` catalog query grades this same plan."""
    quality = text.quality_top_fraction(docs, fraction=cfg.quality_fraction)
    dk = Window.partitionBy("FINGERPRINT").orderBy("doc_id")
    deduped = (
        fingerprint(quality)
        .withColumn("__dk", F.row_number().over(dk))
        .filter(F.col("__dk") == 1)
        .drop("__dk", "FINGERPRINT")
        # Two consumers below (gram expansion + the anti join) and AQE
        # plans them as independent subtrees with no exchange reuse; the
        # lazy checkpoint materializes the two-window pipeline once.
        .localCheckpoint(eager=False)
    )
    bench_grams = ngram_hashes(benchmark, cfg.decontam_n).select("NGRAM_H").distinct()
    dirty = (
        ngram_hashes(deduped, cfg.decontam_n, distinct=False)  # join prunes before any dedup shuffle
        .join(F.broadcast(bench_grams), "NGRAM_H")
        .select("doc_id")
        .distinct()
    )
    clean = deduped.join(dirty, "doc_id", "left_anti")
    return stratified_hash_sample(
        clean,
        "lang",
        cfg.mix_fractions or {"en": 0.5, "de": 0.25},
        ["doc_id"],
        default_fraction=cfg.mix_default_fraction,
        seed=cfg.mix_seed,
    )


class CurationPipeline:
    def __init__(self, spark: SparkSession, root: str, config: CurationConfig | None = None):
        self.spark = spark
        self.root = root.rstrip("/")
        self.cfg = config or CurationConfig()

    def zone(self, name: str) -> str:
        return f"{self.root}/{name}"

    def run(self, docs: DataFrame, benchmark: DataFrame) -> dict:
        """Execute curate -> encode -> pack, writing each zone; returns the
        per-stage counts that also land in stats/."""
        cfg = self.cfg

        curated = curate(docs, benchmark, cfg).localCheckpoint(eager=False)  # feeds vocab, encode, and stats
        write_parquet(curated, self.zone("curated"))

        vocab = text.vocab_stats(curated, top_k=cfg.vocab_top_k).withColumn(
            "TOKEN_ID",
            F.row_number().over(Window.orderBy(F.col("DOC_FREQ").desc(), F.col("TOKEN"))) - 1,
        )
        encoded = text.encode_token_ids(curated, vocab).localCheckpoint(eager=False)
        write_parquet(encoded, self.zone("encoded"))

        packed = pack_sequences(
            encoded, budget=cfg.pack_budget, num_shards=cfg.pack_shards
        )
        write_parquet(packed, self.zone("packed"))

        stats = {
            "n_input": docs.count(),
            "n_curated": curated.count(),
            "n_encoded": encoded.count(),
            "n_packs": packed.select("PACK_ID").distinct().count(),
            "vocab_size": vocab.count(),
        }
        write_parquet(
            self.spark.createDataFrame(
                [tuple(stats.values())], ", ".join(f"{k} long" for k in stats)
            ),
            self.zone("stats"),
        )
        return stats
