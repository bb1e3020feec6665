"""SimHash near-duplicate detection (Charikar '02; SURVEY.md §2.10 L2).

Each document maps to a 64-bit fingerprint whose bits are the signs of
token-hash bit-votes; near-duplicates differ in few bits. Candidate
generation splits the fingerprint into 4 16-bit bands (pigeonhole: any
pair within Hamming distance 3 agrees on ≥1 band) and buckets on
(band, chunk) — one linear shuffle, in-bucket pair expansion, no
pairwise scan and nothing corpus-sized cached.

The bit-vote accumulation is data-parallel per document and genuinely
awkward as a SQL expression (64 independent popcount accumulators), so
it uses an Arrow-batched pandas UDF — the sanctioned slow path — with
numpy doing the 64-lane vote in C. Everything around it stays JVM.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..functions.text import tokens
from ..operators.util import ensure_parallelism
from .minhash import fnv1a_vec

_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


_BIT_IDX = np.arange(64, dtype=np.uint64)
_BIT_POW = np.uint64(1) << _BIT_IDX


@F.pandas_udf(LongType())
def simhash64(token_arrays: pd.Series) -> pd.Series:
    """Whole-batch simhash: flatten every doc's tokens, hash only the
    *unique* tokens (corpora repeat heavily), broadcast back, and do
    the 64-lane bit-vote with one reduceat over the flat token axis."""
    lengths = token_arrays.str.len().fillna(0).astype(np.int64).to_numpy()
    results = np.zeros(len(token_arrays), dtype=np.int64)
    keep = lengths > 0
    if keep.any():
        flat = np.concatenate(
            [np.asarray(t, dtype=object) for t in token_arrays[keep]]
        )
        uniq, inv = np.unique(flat, return_inverse=True)
        hashes = fnv1a_vec(uniq)[inv]
        votes = (
            ((hashes[:, None] >> _BIT_IDX[None, :]) & np.uint64(1)).astype(np.int8)
            * 2
            - 1
        ).astype(np.int64)
        lens = lengths[keep]
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        agg = np.add.reduceat(votes, starts, axis=0)  # (n_docs, 64)
        fps = ((agg > 0).astype(np.uint64) * _BIT_POW[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        results[keep] = fps.astype(np.int64)
    return pd.Series(results)


def with_simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    df = ensure_parallelism(df)
    return df.withColumn("simhash", simhash64(tokens(text_col)))


def candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs (id_a < id_b) with Hamming(simhash) ≤ max_hamming."""
    fp = with_simhash(df, text_col).select(F.col(id_col).alias("id"), "simhash")
    banded = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.chunk")
    from .minhash import bucket_pairs

    # localCheckpoint, not persist (cache-leak hygiene: freed with the
    # frame reference instead of living in the session CacheManager)
    cand = bucket_pairs(banded, ["band", "chunk"]).localCheckpoint()
    # verification re-attaches fingerprints to the (tiny) candidate set
    # — recompute-don't-materialize, same as minhash.candidate_pairs
    fp_ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    fp_small = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .join(fp_ids, "id", "left_semi")
        .select("id", simhash64(tokens(F.col("__t"))).alias("simhash"))
    ).localCheckpoint()  # tiny (candidate ids only); joined twice below
    verified = (
        cand.join(
            fp_small.select(F.col("id").alias("id_a"), F.col("simhash").alias("h_a")),
            "id_a",
        ).join(
            fp_small.select(F.col("id").alias("id_b"), F.col("simhash").alias("h_b")),
            "id_b",
        )
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        verified.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
