"""Reference membership paths the seen-set tests compare against: the
exact anti-join oracle, the composed bloom + exact-rescue filter, and the
per-item cuckoo placement loop that the vectorized kernel replaced."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_new_urls(candidates: DataFrame, seen: DataFrame, url_col: str = "url") -> DataFrame:
    """The exact-oracle membership filter: one left_anti shuffle join."""
    return candidates.join(seen.select(F.col(url_col)), on=url_col, how="left_anti")


def filter_new(
    bloom,
    candidates: DataFrame,
    blobs: DataFrame | None,
    seen_exact: DataFrame | None,
    url_col: str = "url",
) -> DataFrame:
    """The composed scale path: bloom-prefilter, then exact anti-join
    only for the maybe-seen sliver. With no blobs yet, pure exact path.
    Result: candidate rows that are definitely not in the seen set."""
    if blobs is None:
        if seen_exact is None:
            return candidates
        return exact_new_urls(candidates, seen_exact, url_col)
    probed = bloom.probe(candidates, blobs, url_col)
    definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    if seen_exact is not None:
        return definitely_new.unionByName(exact_new_urls(maybe, seen_exact, url_col))
    return definitely_new


def place_all_loop(ck, table: np.ndarray, fps: np.ndarray, idxs: np.ndarray) -> int:
    """Per-item cuckoo placement (the pre-vectorization path): first empty
    slot of the primary, then the alternate bucket, else kick."""
    rng = random.Random(42)
    lut = ck._fp_lut()
    alts = ck._alt_index(idxs, fps)
    inserted = 0
    for fp, i1, i2 in zip(fps, idxs, alts):
        fp = np.uint16(fp)
        placed = False
        for i in (i1, i2):
            empty = np.flatnonzero(table[i] == 0)
            if empty.size:
                table[i, empty[0]] = fp
                placed = True
                break
        if not placed:
            ck._kick_insert(table, int(fp), int(i1), rng, lut)
        inserted += 1
    return inserted


def insert_all_loop(ck, table: np.ndarray, urls: pd.Series) -> int:
    fps, idxs = ck._hash_fp_idx(urls)
    return place_all_loop(ck, table, fps, idxs)
