"""Output checks: the removed-row set and planted-truth pair scores.

The removed set is ``input clip_ids - cleaned clip_ids``. Its digest is the
sum of Spark's ``xxhash64(clip_id)`` modulo 2**64, so it does not depend on
row order or partitioning.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class OutputMismatch(AssertionError):
    pass


def removal_digest(inp: DataFrame, cleaned: DataFrame) -> tuple[int, str]:
    """(removed rows, digest) in one job; raises if ``cleaned`` is not a
    subset of the input with one row per kept id."""
    kept = cleaned.groupBy("clip_id").agg(F.count(F.lit(1)).alias("_k"))
    gone = F.col("_k").isNull()
    stats = (
        inp.select("clip_id", F.lit(1).alias("_i"))
        .join(kept, "clip_id", "full_outer")
        .agg(
            F.sum(gone.cast("int")).alias("n"),
            F.sum(F.when(gone, F.xxhash64("clip_id").cast("decimal(38,0)"))).alias("h"),
            F.sum((F.col("_i").isNull() | (F.col("_k") > 1)).cast("int")).alias("bad"),
        )
        .collect()[0]
    )
    if stats["bad"]:
        raise OutputMismatch(f"cleaned table has {stats['bad']} ids not in the input or repeated")
    return int(stats["n"] or 0), format(int(stats["h"] or 0) % (1 << 64), "016x")


def _pairs(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def pair_scores(truth: pd.DataFrame, found: pd.DataFrame, kinds: tuple) -> dict:
    """Same-cluster pair recall and precision.

    ``truth``: clip_id, cluster, kind ('unique' rows are singletons).
    ``found``: clip_id, label for every clip the system grouped.
    Recall counts planted pairs of ``kinds``; precision counts a found pair
    as true when it lies in any planted cluster (a workload that does not
    look for a kind is not wrong to find it). ``identical_recall`` covers
    the kinds whose members share a transcript and so must always be found.
    """
    df = truth.merge(found, on="clip_id", how="left")
    planted = df[df["kind"] != "unique"]
    wanted = planted[planted["kind"].isin(kinds)]
    both = wanted.dropna(subset=["label"])
    total = _pairs(wanted.groupby("cluster").size())
    hit = _pairs(both.groupby(["cluster", "label"]).size())
    found_pairs = _pairs(df.dropna(subset=["label"]).groupby("label").size())
    true_found = _pairs(planted.dropna(subset=["label"]).groupby(["cluster", "label"]).size())
    ident = wanted[wanted["kind"].isin(("exact", "audio", "hot"))]
    ident_total = _pairs(ident.groupby("cluster").size())
    ident_hit = _pairs(ident.dropna(subset=["label"]).groupby(["cluster", "label"]).size())
    return {
        "recall": hit / total if total else 1.0,
        "precision": true_found / found_pairs if found_pairs else 1.0,
        "identical_recall": ident_hit / ident_total if ident_total else 1.0,
    }


def merge_groups(groups: list) -> pd.DataFrame:
    """Union of groupings (each a list of clip_id lists) -> clip_id, label."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in (m for g in groups for m in g):
        roots = [find(c) for c in members]
        for r in roots[1:]:
            parent[r] = roots[0]
    return pd.DataFrame({"clip_id": list(parent), "label": [find(c) for c in parent]})
