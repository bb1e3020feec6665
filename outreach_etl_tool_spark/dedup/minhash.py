"""MinHash + LSH near-duplicate detection (SURVEY.md §2.10 L2).

The 100 TB-scale path for near-dedup (Broder '97 / the MinHashLSH
family): instead of the O(n²) pairwise Jaccard, each document is
reduced to H minhash values; documents agree on a band of R
consecutive values with probability j^R (j = true Jaccard), so
banding B=H/R bands turns "Jaccard ≥ τ" into an equi-join on band
keys — a plain shuffle, linear in corpus size.

Division of labor (measured, not assumed): tokenization and banding
stay JVM-side (codegen); the signature itself is one Arrow round-trip
into a numpy kernel — the interpreted higher-order-function chain it
replaces was several times slower. Candidate generation groups band
keys into buckets and expands pairs in-bucket (one shuffle, nothing
corpus-sized cached); candidates are then verified with exact Jaccard
on distinct shingles recomputed for the candidate subset only, so the
operator's output has no LSH false positives (only the recall is
probabilistic).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..functions.expr import bind_once
from ..functions.text import tokens
from ..operators.util import ensure_parallelism


def shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles (array<string>), space-joined.

    Docs with fewer than k tokens yield one whole-doc shingle; docs
    with no tokens yield an empty array. (Note: sequence(1, hi) with
    hi < 1 would DESCEND through 0 and make slice() throw — the floor
    at 1 plus the n>0 guard covers both short and empty docs.)

    The token array is bound ONCE through ``bind_once``
    (functions/expr.py): referencing ``tokens(text)`` directly repeats
    the regex per reference — and worse, Catalyst's project collapsing
    then inlines the whole expression into every downstream consumer
    (a filter + size + explode chain re-tokenized every row 7× in the
    executed plan, measured)."""

    def _build(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
        sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
        return F.when(n > 0, F.array_distinct(sh)).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(tokens(text), _build)


def _hash_family(num_hashes: int, seed: int = 7):
    rng = np.random.RandomState(seed)
    # odd multipliers → bijective maps on Z/2^64 (datasketch-style a*h+b)
    a = rng.randint(1, 2**62, size=num_hashes, dtype=np.uint64) * 2 + 1
    b = rng.randint(0, 2**62, size=num_hashes, dtype=np.uint64)
    return a, b


def fnv1a_vec(strings: list[str]) -> np.ndarray:
    """FNV-1a over utf-8 bytes for every string (stable across Python
    versions, unlike hash()), vectorized across strings via a padded
    byte matrix (the sequential dependency is only along each string's
    bytes — shingles are ~20 bytes, so this is ~20 C passes instead of
    a Python loop per byte)."""
    enc = [s.encode("utf-8") for s in strings]
    n = len(enc)
    maxlen = max((len(e) for e in enc), default=0)
    mat = np.zeros((n, maxlen), dtype=np.uint64)
    alive = np.zeros((n, maxlen), dtype=bool)
    for i, e in enumerate(enc):
        b = np.frombuffer(e, dtype=np.uint8)
        mat[i, : len(b)] = b
        alive[i, : len(b)] = True
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    for j in range(maxlen):
        sel = alive[:, j]
        h[sel] = (h[sel] ^ mat[sel, j]) * prime  # uint64 mul wraps mod 2^64
    return h


def make_signature_udf(num_hashes: int = 32, k: int = 3):
    """Arrow-vectorized minhash signature from a token-array column.

    Division of labor: tokenization stays JVM-side (regexp_extract_all
    is codegen'd); shingling + hashing + the minhash reduction happen
    here in numpy. The pure-expression alternative chains four
    *interpreted* higher-order functions per row (transform/slice/
    concat_ws/array_distinct are not codegen'd) and measures several
    times slower than one Arrow round-trip of token arrays.

    Duplicate shingles need no dedup for signatures — duplicates never
    change a minimum. (Exact-Jaccard verification dedups separately.)
    """
    a_vec, b_vec = _hash_family(num_hashes)
    # position-weighted shingle combine: hash(shingle) is derived from
    # the k token hashes arithmetically, so no shingle *strings* are
    # ever built — tokens are hashed once (unique-deduped), and every
    # downstream step is a whole-batch numpy expression
    _rngc = np.random.RandomState(97)
    combine = _rngc.randint(1, 2**62, size=max(k, 1), dtype=np.uint64) * 2 + 1

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(token_arrays: pd.Series) -> pd.Series:
        out = [None] * len(token_arrays)
        lengths = token_arrays.str.len().fillna(0).astype(np.int64).to_numpy()
        keep = lengths > 0
        if not keep.any():
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(t, dtype=object) for t in token_arrays[keep]]
        )
        uniq, inv = np.unique(flat, return_inverse=True)
        th = fnv1a_vec(list(uniq))[inv]  # flat token hashes
        lens = lengths[keep]
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])

        # shingle hash at token position p: sum_j combine[j]*th[p+j]
        # sh spans ALL n token positions (not just the m full-shingle
        # windows): a short doc's whole-doc shingle is planted at its
        # start position, which lands past m-1 when the short doc sits
        # at the batch tail.
        n = len(th)
        m = max(n - k + 1, 1)
        sh = np.zeros(n, dtype=np.uint64)
        acc0 = combine[0] * th[:m]
        for j in range(1, k):
            seg = th[j : j + m]
            acc0 = acc0 + combine[j] * np.pad(seg, (0, m - len(seg)))
        sh[:m] = acc0

        # per-doc valid shingle window: positions start .. start+cnt-1
        # where cnt = max(len-k+1, 1); docs shorter than k get one
        # whole-doc shingle planted at their start position
        counts = np.maximum(lens - (k - 1), 1)
        short = lens < k
        if short.any():
            for d in np.flatnonzero(short):
                s, ln = starts[d], lens[d]
                acc = np.uint64(0)
                for j in range(ln):
                    acc = acc + combine[j] * th[s + j]
                sh[s] = acc
        # compact to contiguous per-doc segments, then one reduceat per
        # hash family
        cs = np.cumsum(counts)
        total = int(cs[-1])
        seg_starts = np.concatenate(([0], cs[:-1]))
        idx = np.arange(total) + np.repeat(starts - seg_starts, counts)
        sh_valid = sh[idx]
        sigs = np.empty((num_hashes, len(counts)), dtype=np.uint64)
        for i in range(num_hashes):
            vals = a_vec[i] * sh_valid + b_vec[i]  # wraps mod 2^64
            sigs[i] = np.minimum.reduceat(vals, seg_starts)
        sigs_signed = sigs.astype(np.int64)
        for j, row in enumerate(np.flatnonzero(keep)):
            out[row] = sigs_signed[:, j].tolist()
        return pd.Series(out)

    return sig_udf


def minhash_signature(
    text: Column | str, num_hashes: int = 32, k: int = 3
) -> Column:
    """Array of ``num_hashes`` minhash values (long); null for docs
    with no tokens.

    The UDF is marked non-deterministic (it isn't — same input, same
    signature) purely to pin it in place: Catalyst otherwise pushes an
    ``isNotNull(sig)`` predicate below the parallelism repartition with
    the UDF inlined, so the whole tokenize+hash kernel runs TWICE per
    row — once in the pushed filter, once in the projection above
    (observed as two stacked ArrowEvalPython nodes in the executed
    plan). Blocking the push keeps one evaluation; the filter then
    runs post-shuffle, which is the right trade — the shuffle carries
    (id, text) either way."""
    return make_signature_udf(num_hashes, k).asNondeterministic()(tokens(text))


def bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    id_col: str = "id",
    max_bucket: int = 1024,
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) of ids sharing a bucket.

    One shuffle: groupBy bucket key → per-bucket id list → in-bucket
    pair expansion. This replaces a banded self-join, which evaluates
    the upstream pipeline once PER SIDE unless the ×B corpus-sized band
    table is cached — not an option at 10^11 docs. Pair expansion is
    quadratic in bucket size by definition (those pairs ARE the
    output); ``max_bucket`` caps degenerate buckets (hash collisions /
    boilerplate floods) — buckets past the cap are truncated after an
    ascending sort so the kept subset is deterministic.
    """
    from collections.abc import Iterator

    ids_sorted = F.array_sort(F.collect_list(id_col))
    buckets = (
        banded.groupBy(*bucket_cols)
        .agg(ids_sorted.alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.slice("ids", 1, max_bucket).alias("ids"))
    )

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_a: list[np.ndarray] = []
            out_b: list[np.ndarray] = []
            for ids in pdf["ids"]:
                arr = np.asarray(ids, dtype=np.int64)
                iu, ju = np.triu_indices(len(arr), k=1)
                out_a.append(arr[iu])
                out_b.append(arr[ju])
            if out_a:
                yield pd.DataFrame(
                    {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
                )

    return buckets.mapInPandas(expand, "id_a long, id_b long").dropDuplicates(
        ["id_a", "id_b"]
    )


def candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with exact Jaccard ≥ threshold.

    Plan shape: scan → signature (narrow) → explode B band keys
    (×B rows, small) → shuffle on band key → self-join within bucket →
    exact-Jaccard verification on the candidate set only.
    """
    df = ensure_parallelism(df)
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rows = num_hashes // bands

    # Empty-shingle docs are filtered on the UDF's *output* (null sig),
    # not on size(sh): a pre-UDF filter would re-evaluate the whole
    # shingle expression a second time as a predicate (CollapseProject
    # inlines it into both the Filter and the UDF argument).
    sig = df.select(
        F.col(id_col).alias("id"),
        minhash_signature(F.col(text_col), num_hashes, k).alias("sig"),
    ).filter(F.col("sig").isNotNull())

    # Band keys only — the shingle-set payload never rides through the
    # ×B explode or the bucket shuffle.
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(F.slice("sig", b * rows + 1, rows)).alias("bkey"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bkey")
    cand = bucket_pairs(banded, ["band", "bkey"])
    # cand feeds two consumers (the id semi-join and the verify join);
    # checkpoint it so the bucket pipeline runs once. Candidates are a
    # tiny fraction of the corpus (two long columns), cacheable at any
    # scale — unlike the band table itself (×B corpus-sized; see
    # bucket_pairs). localCheckpoint, not persist: checkpointed blocks
    # are freed with the frame reference instead of living in the
    # session CacheManager.
    cand = cand.localCheckpoint()

    # Exact-Jaccard verification re-computes shingles for candidate docs
    # only: semi-join the corpus down to ids that appear in any pair
    # (AQE broadcasts the tiny id set), THEN shingle. Shingling runs on
    # ~|candidates| docs instead of the whole corpus — the recompute-
    # don't-materialize tradeoff that holds at any scale.
    #
    # No .distinct() on the id set: a semi-join build side dedups in its
    # hash table anyway, so the extra shuffle bought nothing (measured
    # −0.45 s at sf0.1). No .persist() on sh_only either: columnar
    # caching of array<string> costs ~10× its recompute, and the subset
    # re-shingled per join side is candidate-sized, not corpus-sized
    # (measured another −0.12 s).
    cand_ids = cand.select(F.col("id_a").alias("id")).union(
        cand.select(F.col("id_b").alias("id"))
    )
    sh_only = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .join(cand_ids, "id", "left_semi")
        .select("id", shingles(F.col("__t"), k).alias("sh"))
    )
    # Melt each pair into two (pair, id) rows and attach shingle sets
    # with ONE join instead of one per side: the two-join shape
    # references the scan→semi-join→shingle subplan twice, so the
    # corpus was scanned and the candidate docs re-shingled once PER
    # SIDE (two IsNotNull(doc_id) scans in the r3 plan audit). Here
    # sh_only appears once in the plan — no reliance on runtime
    # exchange reuse — and the pair regroup shuffles only
    # candidate-pair payloads (two shingle arrays per pair), which
    # stay a tiny fraction of the corpus at any scale.
    pairs_long = cand.select(
        "id_a",
        "id_b",
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id"),
    )
    side = (
        pairs_long.join(sh_only, "id")
        .groupBy("id_a", "id_b")
        .agg(
            F.first(
                F.when(F.col("id") == F.col("id_a"), F.col("sh")),
                ignorenulls=True,
            ).alias("sh_a"),
            F.first(
                F.when(F.col("id") == F.col("id_b"), F.col("sh")),
                ignorenulls=True,
            ).alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        side.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
