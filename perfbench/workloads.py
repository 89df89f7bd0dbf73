"""The three workloads: input generation, pipeline, truth and found groups.

The pipelines see only the generated parquet table. Everything here goes
through the library's public surface: ``curator_spark.datagen`` and the
``FuzzyDedupPipeline`` / ``TieredDedupPipeline`` classes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import pandas as pd
from pyspark.sql import functions as F

from curator_spark import datagen
from curator_spark.config import ExactDedupConfig, FuzzyDedupConfig
from curator_spark.pipeline import FuzzyDedupPipeline, TieredDedupPipeline

from outputs import merge_groups

HOT_FRACTION = 0.3


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    # planted kinds the workload's stages can find (recall is over these)
    kinds: tuple
    generate: Callable  # (spark, rows, seed, partitions) -> DataFrame
    pipeline: Callable  # (spark, checkpoint_root) -> pipeline
    tiered: bool = False
    # untimed fresh runs in set-up, the pilot included
    warmups: int = 1
    # measured executions, repeated until the window ends: F fresh, R resume
    cycle: str = "FRR"

    def fuzzy_root(self, ckpt_root: str) -> str:
        return os.path.join(ckpt_root, "tier_fuzzy") if self.tiered else ckpt_root

    def execute(self, pipe, df, out_path: str, tracer=None) -> None:
        """Input table -> checkpointed removal set + cleaned table written."""
        pipe.run(df)
        cleaned = pipe.survivors() if self.tiered else pipe.remove(df)
        if tracer is None:
            cleaned.write.parquet(out_path)
        else:
            with tracer.span("duplicates.remove"):
                cleaned.write.parquet(out_path)

    def truth(self, spark, df) -> pd.DataFrame:
        """clip_id, cluster, kind."""
        if self.name == "hot_skew":
            pdf = df.select("clip_id", "transcript").toPandas()
            size = pdf.groupby("transcript")["clip_id"].transform("size")
            return pd.DataFrame({
                "clip_id": pdf["clip_id"],
                "cluster": pdf["transcript"],
                "kind": size.gt(1).map({True: "hot", False: "unique"}),
            })
        pdf = datagen.expected_clusters(spark, self.rows).toPandas()
        return pdf.rename(columns={"expected_cluster": "cluster"})[["clip_id", "cluster", "kind"]]

    def found(self, pipe, df) -> pd.DataFrame:
        """clip_id, label for every clip the system put in a group."""
        fuzzy = pipe.fuzzy if self.tiered else pipe
        comps = (
            fuzzy.components()
            .where(F.col("_duplicate_group_id").isNotNull())
            .select("clip_id", "_duplicate_group_id")
            .toPandas()
        )
        groups = [list(g["clip_id"]) for _, g in comps.groupby("_duplicate_group_id")]
        if not self.tiered:
            return merge_groups([groups])
        # the exact tier reports which rows it removed, not whom they
        # matched: link each removed row to the rows with identical content
        removed = set(
            r.clip_id for r in df.select("clip_id").join(pipe.exact.remove(df), "clip_id", "left_anti").collect()
        )
        content = df.select(
            "clip_id", F.concat_ws("|", F.md5("transcript"), F.md5("bytes")).alias("key")
        ).toPandas()
        hit_keys = set(content.loc[content["clip_id"].isin(removed), "key"])
        exact = [list(g["clip_id"]) for k, g in content.groupby("key") if k in hit_keys]
        return merge_groups([groups, exact])


def _clips(spark, rows, seed, partitions):
    return datagen.generate_clips(spark, rows, seed=seed, lite=True, num_partitions=partitions)


def _hot(spark, rows, seed, partitions):
    return datagen.generate_hot_clips(
        spark, rows, hot_fraction=HOT_FRACTION, seed=seed, num_partitions=partitions
    )


WORKLOADS = {
    w.name: w
    for w in (
        # flagship: reference config (24-char shingles, 20x13, 5 bands/round)
        Workload(
            name="fuzzy_ref",
            rows=4000,
            kinds=("exact", "fuzzy", "audio"),
            generate=_clips,
            pipeline=lambda spark, root: FuzzyDedupPipeline(spark, FuzzyDedupConfig(), root),
        ),
        # every tier: exact with PCM decode, fuzzy + SimHash filter + substring.
        # All 20 bands in one LSH round: the same edges as 5 per round (and
        # so the same removed set) from 6 fewer stages, which at this size
        # are fixed overhead. fuzzy_ref keeps the reference 5 per round.
        # Its first run after the pilot is still about 20% slower than the
        # next, so set-up runs it twice.
        Workload(
            name="tiered_full",
            rows=2000,
            kinds=("exact", "fuzzy", "substring", "audio"),
            generate=_clips,
            pipeline=lambda spark, root: TieredDedupPipeline(
                spark,
                root,
                exact_cfg=ExactDedupConfig(hash_audio_content=True),
                fuzzy_cfg=FuzzyDedupConfig(
                    simhash_hamming_threshold=12, substring_min_length=50, bands_per_iteration=20
                ),
            ),
            tiered=True,
            warmups=2,
            cycle="FR",
        ),
        # one hot LSH bucket, salted edges, distributed connected components
        Workload(
            name="hot_skew",
            rows=4000,
            kinds=("hot",),
            generate=_hot,
            pipeline=lambda spark, root: FuzzyDedupPipeline(
                spark,
                FuzzyDedupConfig(num_salts=4, salt_min_bucket_size=0, cc_driver_max_edges=0),
                root,
            ),
        ),
    )
}


def drop_downstream_of_minhash(fuzzy_root: str) -> int:
    """Delete every stage manifest after MinHashStage (a crash after the
    signature phase); returns how many were deleted."""
    n = 0
    for dirpath, _dirs, names in os.walk(fuzzy_root):
        if "manifest.json" in names and os.path.relpath(dirpath, fuzzy_root) not in ("IdMapping", "MinHashStage"):
            os.remove(os.path.join(dirpath, "manifest.json"))
            n += 1
    return n

