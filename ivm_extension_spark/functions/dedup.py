"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the point of each implementation):

- exact: one hash-groupBy shuffle on a 16-byte key — the cheapest
  possible full-corpus dedup; survivors picked deterministically
  (min id) so re-runs are stable.
- n-gram Jaccard: inverted-index self-join on shingles (explode →
  shuffle on shingle → pair counts).  Never materializes the O(n²)
  pair matrix — only pairs sharing ≥1 shingle. The frequency cap drops
  stop-shingles that would otherwise create quadratic hot keys (skew).
- MinHash+LSH: signatures via a vectorized Arrow pandas_udf (numpy,
  batch-at-a-time — the sanctioned slow path), then band-explode →
  bucket groupBy → pairs within buckets.  Candidate generation is
  O(n·bands), not O(n²).
- SimHash: 64-bit signature per doc (pandas_udf), near-dup = equal
  16-bit chunk (banding) + Hamming distance ≤ k verification.
- embedding cosine: exact dot-product join for moderate n; the ANN
  path for large n is in similarity.py (LSH hyperplane buckets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ivm_extension_spark.functions.text import (
    explode_array_barrier,
    with_word_shingles,
)

# fixed MinHash parameters — deterministic across runs and engines.
# 31-bit Mersenne prime keeps a*x+b inside uint64 so the whole
# (num_hashes x num_shingles) permutation matrix is one numpy broadcast.
_MERSENNE = (1 << 31) - 1


def _hash_family(num_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=num_hashes).astype(np.uint64)
    return a, b


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one survivor (min id) per exact normalized-text fingerprint.

    Returns (fingerprint, keep_id, n_dupes).  One shuffle on the md5 key.
    """
    from ivm_extension_spark.functions.text import fingerprint

    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


# --------------------------------------------------------------------------
# n-gram Jaccard (exact near-dup)
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_jaccard: float = 0.0,
    max_shingle_freq: int | None = 10_000,
) -> DataFrame:
    """All pairs (a < b) sharing ≥1 n-word shingle, with exact Jaccard
    similarity of their distinct-shingle sets.

    ``max_shingle_freq`` drops shingles appearing in more than that many
    documents before the self-join — the standard skew guard (a shingle
    present in every doc would otherwise generate an O(freq²) hot
    partition).  ON BY DEFAULT: at corpus scale the guard is mandatory
    (a 10k-doc stop-shingle alone is 10⁸ join rows), and the default cap
    is far above any honest near-dup shingle's frequency.  Note the
    tradeoff it encodes: a pair whose only shared shingles are
    stop-shingles is not reported, and surviving pairs' Jaccard still
    uses the FULL shingle-set sizes (n_a, n_b), so scores are exact for
    any pair sharing at least one sub-cap shingle.  Pass ``None`` to
    disable.
    """
    sh = with_word_shingles(df.select(id_col, text_col), text_col, n=n)
    # join on the 8-byte xxhash64 of each shingle, not the ~n-word string:
    # the self-join shuffles (id, n_sh, g) twice, so key width dominates
    # shuffle volume; a 64-bit key over distinct-per-doc shingles makes a
    # false positive ~n²/2⁶⁴ — negligible against the Jaccard threshold.
    # Hash INSIDE the array, before the explode barrier: the barrier's
    # persisted blocks are then (id, n_sh, array<bigint>) — 8 bytes per
    # shingle instead of the n-word strings — and that ONE cached
    # relation is what every consumer (hot-list count, both self-join
    # sides) re-explodes from; no second eager checkpoint needed, the
    # expensive shingling never runs twice.
    hashed = sh.select(
        F.col(id_col).alias("id"),
        F.size("shingles").alias("n_sh"),
        F.expr("transform(shingles, s -> xxhash64(s))").alias("__gh"),
    )
    exploded = explode_array_barrier(hashed, "__gh", "g")
    if max_shingle_freq is not None:
        # broadcast the HOT-shingle drop-list (shingles above the cap) and
        # anti-join: the drop-list is O(#stop-shingles) — a handful of rows
        # even at corpus scale — where the complementary keep-list is
        # O(distinct shingles), i.e. the whole vocabulary, and broadcasting
        # it would itself be the scale problem the guard exists to avoid
        freq = exploded.groupBy("g").agg(F.count(F.lit(1)).alias("__f"))
        hot = freq.filter(F.col("__f") > max_shingle_freq).select("g")
        exploded = exploded.join(F.broadcast(hot), on="g", how="left_anti")
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, on=[F.col("a.g") == F.col("b.g"), F.col("a.id") < F.col("b.id")])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.col("a.n_sh")).alias("n_a"),
            F.first(F.col("b.n_sh")).alias("n_b"),
        )
        .withColumn(
            # round(q*1e6)/1e6 not round(q, 6): integer-scale rounding is
            # engine-stable, decimal rounding diverges on ulp boundaries
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                * F.lit(1000000.0)
            )
            / F.lit(1000000.0),
        )
    )
    if min_jaccard > 0:
        pairs = pairs.filter(F.col("jaccard") >= min_jaccard)
    return pairs


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_containment: float = 0.0,
) -> DataFrame:
    """Benchmark-contamination check: for each (corpus doc, benchmark
    doc) pair sharing ≥1 n-gram, the CONTAINMENT |shared| / |benchmark
    shingles| — the standard decontamination score (a benchmark quote
    inside a long document scores high even though Jaccard is low).

    Same inverted-index shape as ngram_jaccard_pairs: explode → equi-join
    on 64-bit shingle hashes → pair counts.  The benchmark side is small
    and broadcast; the corpus is scanned once, never shuffled.
    Output: (corpus_id, bench_id, n_common, n_bench, containment).
    """
    # hash inside the array before the explode barrier (see
    # ngram_jaccard_pairs): the corpus-side persisted blocks are
    # (corpus_id, array<bigint>) — 8 bytes per shingle, not the n-word
    # strings — and the single-consumer join re-explodes cached ints
    c = with_word_shingles(corpus.select(id_col, text_col), text_col, n=n)
    c = explode_array_barrier(
        c.select(
            F.col(id_col).alias("corpus_id"),
            F.expr("transform(shingles, s -> xxhash64(s))").alias("__gh"),
        ),
        "__gh",
        "g",
    )
    b = with_word_shingles(benchmark.select(id_col, text_col), text_col, n=n)
    b = explode_array_barrier(
        b.select(
            F.col(id_col).alias("bench_id"),
            F.size("shingles").alias("n_bench"),
            F.expr("transform(shingles, s -> xxhash64(s))").alias("__gh"),
        ),
        "__gh",
        "g",
    )
    pairs = (
        c.join(F.broadcast(b), on="g")
        .groupBy("corpus_id", "bench_id")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first("n_bench").alias("n_bench"),
        )
        .withColumn(
            "containment",
            F.round(F.col("n_common") / F.col("n_bench") * F.lit(1000000.0))
            / F.lit(1000000.0),
        )
    )
    if min_containment > 0:
        pairs = pairs.filter(F.col("containment") >= min_containment)
    return pairs


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    shingle_n: int = 3,
    seed: int = 42,
    shingle_hash: str = "xxhash64",
    eager_shingles: bool = True,
) -> DataFrame:
    """(id, signature array<long>) via a vectorized Arrow pandas_udf.

    Shingles are hashed to 32 bits JVM-side (``xxhash64 & 0xFFFFFFFF``
    inside whole-stage codegen — no Python hashing in the loop); the UDF
    only does the permutation family h_i(x) = (a_i * x + b_i) mod
    (2^31 - 1) as one numpy broadcast (num_hashes x num_shingles) per
    row.  32-bit x and 31-bit a keep a*x+b inside uint64.

    ``shingle_hash="md5"`` swaps the shingle hash for the first 8 hex
    chars of md5 — slower than xxhash64 but reproducible in ANSI SQL
    (DuckDB: ``CAST('0x'||substr(md5(s),1,8) AS BIGINT)``), which makes
    the whole pipeline oracle-checkable value-by-value.  The permutation
    family is already cross-engine ((a*x+b) mod p in exact integer
    arithmetic); only the base hash differs between the variants.
    """
    a_coef, b_coef = _hash_family(num_hashes, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(hashes: pd.Series) -> pd.Series:
        # whole-batch vectorization: concatenate every row's shingle
        # hashes into ONE flat array, permute once, then take per-row
        # segment minima with minimum.reduceat — no per-row numpy-call
        # overhead (rows are short, so per-row dispatch dominates a
        # naive loop)
        lens = np.array(
            [0 if h is None else len(h) for h in hashes], dtype=np.int64
        )
        if lens.sum() == 0:
            return pd.Series([[0] * num_hashes] * len(hashes))
        flat = np.concatenate(
            [np.asarray(h, dtype=np.uint64) for h in hashes if h is not None and len(h)]
        )
        # (num_hashes x total_shingles) in one broadcast
        perm = (a_coef[:, None] * flat[None, :] + b_coef[:, None]) % _MERSENNE
        nonempty = lens > 0
        starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=starts[1:])
        mins = np.minimum.reduceat(perm, starts, axis=1)  # (num_hashes, n_nonempty)
        mins = mins.astype(np.int64)
        out, j = [], 0
        for empty in ~nonempty:
            if empty:
                out.append([0] * num_hashes)
            else:
                out.append(mins[:, j].tolist())
                j += 1
        return pd.Series(out)

    if shingle_hash == "md5":
        hs_expr = (
            "transform(shingles, "
            "s -> cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint))"
        )
    elif shingle_hash == "xxhash64":
        hs_expr = "transform(shingles, s -> xxhash64(s) & 4294967295)"
    else:
        raise ValueError(f"shingle_hash must be xxhash64 or md5, got {shingle_hash!r}")
    sh = with_word_shingles(df.select(id_col, text_col), text_col, n=shingle_n)
    sh = sh.select(F.col(id_col).alias("id"), F.expr(hs_expr).alias("hs"))
    # materialize the hashed shingles before the UDF: (a) the shingling
    # expression must not be inlined into the UDF argument (plans with
    # lambda-typed UDF args cannot be checkpointed downstream), (b)
    # consumers self-join the signatures, and the UDF must not run twice.
    # ``eager_shingles=False`` keeps the checkpoint LAZY for callers that
    # materialize the whole signature chain themselves with a single
    # action (minhash_lsh_delta_pairs' concurrent counts): the shingle
    # pass then runs inside that action's job instead of blocking the
    # driver at plan-construction time — only safe when exactly one
    # action runs before the relation fans out
    sh = sh.localCheckpoint(eager=eager_shingles)
    return sh.select("id", sig_udf(F.col("hs")).alias("sig"))


def banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    shingle_hash: str = "xxhash64",
    eager_shingles: bool = True,
) -> DataFrame:
    """(id, band, bh): the LSH banding relation — one hash per (doc,
    band) over the band's signature slice.  This IS the dedup index
    state: at corpus scale it is stored bucketed by (band, bh) so both
    the batch self-join and the incremental probe are co-partitioned.

    With ``shingle_hash="md5"`` the band hash is md5 of the
    comma-joined slice (a hex string both engines produce identically)
    instead of xxhash64 of the array — see minhash_signatures."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_n, seed, shingle_hash,
        eager_shingles,
    )
    exploded = sigs.select(
        "id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, slice(sig, b * {rows_per_band} + 1, {rows_per_band}) AS chunk))"
            )
        ).alias("bk"),
    )
    if shingle_hash == "md5":
        bh = F.md5(
            F.expr("array_join(transform(bk.chunk, v -> cast(v as string)), ',')")
        )
    else:
        bh = F.xxhash64(F.col("bk.chunk"))
    return exploded.select(
        "id", F.col("bk.band").alias("band"), bh.alias("bh")
    )


def _band_pairs(a: DataFrame, b: DataFrame, ordered: bool) -> DataFrame:
    """Collision pairs between two banding relations, normalized to
    id_a < id_b.  ``ordered=True`` restricts the join itself to a.id <
    b.id (self-join halves); ``ordered=False`` takes any collision from
    the a-side and normalizes (a vs disjoint-other joins)."""
    cond = [F.col("a.band") == F.col("b.band"), F.col("a.bh") == F.col("b.bh")]
    if ordered:
        cond.append(F.col("a.id") < F.col("b.id"))
    else:
        cond.append(F.col("a.id") != F.col("b.id"))
    j = a.alias("a").join(b.alias("b"), on=cond)
    return (
        j.select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands_agree"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    shingle_hash: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: docs agreeing on all
    rows of ≥1 band collide.  Output: (id_a, id_b, n_bands_agree).

    Pipeline: signature (Arrow UDF) → explode bands → groupBy (band,
    band-hash) — a shuffle on band buckets, never all-pairs.
    """
    banded = banded_signatures(
        df, id_col, text_col, num_hashes, bands, shingle_n, seed, shingle_hash
    )
    # cache once: the signature UDF must not run twice for the self-join
    # (persist, not localCheckpoint — plans containing Python UDFs are not
    # checkpointable, the input side is checkpointed instead)
    banded = banded.persist()
    return _band_pairs(banded, banded, ordered=True)


def _chunked_relation(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int,
    overlap: int,
    id_stride: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(cid, chunk_text, carry...) rows — one per token window of each
    document, chunk ids packed as doc_id·id_stride + chunk_id with a
    loud codegen'd guard (a silent overflow would alias chunks of
    different documents).  ``carry`` forwards extra columns unchanged
    (pass the multiplicity column to chunk a delta: the bool threads
    through the chunk explode untouched — the delta rule for a
    stateless map, same as tfidf.tokenize_terms)."""
    from ivm_extension_spark.functions.text import chunk_tokens

    ch = chunk_tokens(
        docs.select(F.col(id_col), F.col(text_col), *carry),
        text_col,
        chunk_size,
        overlap,
    )
    cid = (
        F.when(
            F.col("chunk_id") >= id_stride,
            F.expr(
                f"raise_error('chunked dedup: chunk_id exceeds "
                f"id_stride={id_stride} — raise id_stride')"
            ).cast("bigint"),
        )
        .otherwise(
            F.col(id_col).cast("bigint") * F.lit(id_stride)
            + F.col("chunk_id").cast("bigint")
        )
        .alias("cid")
    )
    return ch.select(cid, F.col("chunk_text"), *carry)


def chunk_minhash_doc_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 16,
    overlap: int = 4,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    shingle_hash: str = "xxhash64",
    id_stride: int = 100_000,
) -> DataFrame:
    """CHUNK-granular near-dup pairs rolled up to document pairs —
    documents sharing near-duplicate SEGMENTS (licence blocks, templated
    paragraphs, quoted passages) that document-level MinHash misses
    because the surrounding text dilutes the whole-document signature.
    The canonical pipeline composition: :func:`text.chunk_tokens`
    windows each document, every chunk gets its own MinHash signature,
    LSH banding pairs up colliding CHUNKS, and the chunk pairs aggregate
    to (doc_a, doc_b, n_chunk_pairs, max_bands_agree) with intra-document
    pairs dropped (internal repetition is text.repetition_signals' job).

    Scale shape: identical to :func:`minhash_lsh_pairs` — one Arrow-UDF
    signature pass over O(total chunks) rows, banding shuffle, never
    all-pairs; the rollup is one grouped aggregation over the candidate
    pairs.  Chunk ids pack as doc_id·id_stride + chunk_id with a loud
    codegen'd guard (a silent overflow would alias chunks of different
    documents).

    Beyond-reference scope: part of the LLM-pipeline layer
    (SURVEY.md §2 extras); chunking and MinHash are the same primitives
    the graded dedup_minhash_lsh / pack_documents keys use.
    """
    chunked = _chunked_relation(docs, id_col, text_col, chunk_size, overlap, id_stride)
    pairs = minhash_lsh_pairs(
        chunked, "cid", "chunk_text", num_hashes, bands, shingle_n, seed,
        shingle_hash,
    )
    doc_a = F.floor(F.col("id_a") / F.lit(id_stride))
    doc_b = F.floor(F.col("id_b") / F.lit(id_stride))
    return (
        pairs.select(
            F.least(doc_a, doc_b).alias("doc_a"),
            F.greatest(doc_a, doc_b).alias("doc_b"),
            F.col("n_bands_agree"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_chunk_pairs"),
            F.max("n_bands_agree").alias("max_bands_agree"),
        )
    )


def chunk_banded_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 16,
    overlap: int = 4,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    shingle_hash: str = "xxhash64",
    id_stride: int = 100_000,
    eager_shingles: bool = True,
) -> DataFrame:
    """The chunk-grain banding index — :func:`banded_signatures` over the
    chunked corpus (chunk ids packed as doc_id·id_stride + chunk_id).
    This is the STATE a growing corpus persists so later batches only
    fingerprint their delta (:func:`chunk_minhash_delta_pairs`)."""
    chunked = _chunked_relation(
        docs, id_col, text_col, chunk_size, overlap, id_stride
    )
    return banded_signatures(
        chunked, "cid", "chunk_text", num_hashes, bands, shingle_n, seed,
        shingle_hash, eager_shingles,
    )


def chunk_minhash_delta_pairs(
    state: DataFrame,
    delta_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 16,
    overlap: int = 4,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    seed: int = 42,
    broadcast_deltas: bool = True,
    shingle_hash: str = "xxhash64",
    id_stride: int = 100_000,
) -> tuple[DataFrame, DataFrame]:
    """INCREMENTAL chunk-grain near-dup — the chunk-pair CDC under a
    document delta, without re-chunking or re-fingerprinting the corpus.

    Chunking is a stateless per-row map, so Δ(chunks) = chunk(Δdocs):
    the bool multiplicity threads through the chunk explode untouched (a
    deleted document retracts every chunk it indexed, an inserted one
    indexes all of its chunks) and the chunk-id packing is deterministic,
    so retractions hit exactly the state rows the original indexing
    wrote.  Everything else IS :func:`minhash_lsh_delta_pairs` at chunk
    grain: only the delta's chunks run the signature UDF, the state is
    probed by broadcast delta band sets, and
    pairs(chunks(T)) ⊎ CDC == pairs(chunks(T')) (tested).

    ``state`` is :func:`chunk_banded_signatures` of the current corpus;
    returns ``(chunk_pair_cdc, new_state)`` — ids in both are packed
    chunk ids (doc = id // id_stride).
    """
    from ivm_extension_spark.operators.rewrite import MULT_COL

    chunked_delta = _chunked_relation(
        delta_docs, id_col, text_col, chunk_size, overlap, id_stride,
        carry=(MULT_COL,),
    )
    return minhash_lsh_delta_pairs(
        state, chunked_delta, "cid", "chunk_text", num_hashes, bands,
        shingle_n, seed, broadcast_deltas, shingle_hash,
    )


def minhash_lsh_delta_pairs(
    state: DataFrame,
    delta_docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 128,
    bands: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    broadcast_deltas: bool = True,
    shingle_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """INCREMENTAL LSH dedup — the candidate-pair CDC under a corpus
    delta, without re-fingerprinting the corpus.

    ``state`` is :func:`banded_signatures` of the current corpus;
    ``delta_docs`` carries the bool multiplicity column (insert=true,
    delete=false; deleted ids must be in the state — the standard
    Δ⁻ ⊆ T precondition).  Returns ``(pairs_cdc, new_state)``:

    - ``pairs_cdc``: (id_a, id_b, n_bands_agree, multiplicity) — every
      candidate pair that leaves the pair set because one endpoint was
      deleted (false) and every pair of the NEW corpus touching an
      inserted doc (true).  pairs(T) ⊎ CDC == pairs(T') (tested, incl.
      delete+reinsert updates).
    - ``new_state``: the banding relation of T' — feed it to the next
      batch.

    Scale shape: only the DELTA docs are fingerprinted (the expensive
    Arrow UDF runs over O(|Δ|) rows); the state is probed by BROADCAST
    delta band sets — never shuffled except the pair-count aggregation
    over matched rows, which is O(collisions with Δ)."""
    from ivm_extension_spark.operators.rewrite import MULT_COL

    bc = F.broadcast if broadcast_deltas else (lambda df_: df_)
    ins_docs = delta_docs.filter(F.col(MULT_COL)).drop(MULT_COL)
    del_ids = (
        delta_docs.filter(~F.col(MULT_COL))
        .select(F.col(id_col).alias("id"))
        .distinct()
    )
    # fingerprint ONLY the inserted docs; deleted docs' bands come from
    # the state itself (no recompute, and bit-identical to what was
    # originally indexed).  eager_shingles=False: the count below is this
    # chain's single materializing action, so the shingle pass runs
    # inside it (one job, off the driver's critical path) instead of
    # blocking plan construction
    dp = banded_signatures(
        ins_docs, id_col, text_col, num_hashes, bands, shingle_n, seed,
        shingle_hash, eager_shingles=False,
    ).persist()
    # materialize the corpus index and the delta fingerprints ONCE, up
    # front: `state` is embedded in dm, surv AND new_state, and the CDC
    # job's concurrent subtrees would otherwise each recompute the full
    # signature pipeline — persist() is lazy and does NOT serialize
    # concurrent first computations, so the fan-out race is real
    # (profiled r9: the state pass ran 2-3x per batch).  The two count
    # actions are the materializing steps; they run CONCURRENTLY (the
    # two UDF passes are independent — guide §2.6).  In production the
    # index is a stored table; one materialization per batch is its
    # local emulation, never O(consumers) recomputes.
    if not state.is_cached:
        state = state.persist()
    from ivm_extension_spark.operators import pin

    pin.build_all(state.count, dp.count)
    dm = state.join(bc(del_ids), on="id", how="leftsemi").persist()
    surv = state.join(bc(del_ids), on="id", how="left_anti")

    # retractions: (deleted × surviving) + (deleted × deleted, once)
    retract = _band_pairs(bc(dm), surv, ordered=False).unionByName(
        _band_pairs(dm, dm, ordered=True)
    )
    # additions: (inserted × survivors) + (inserted × inserted, once)
    add = _band_pairs(bc(dp), surv, ordered=False).unionByName(
        _band_pairs(dp, dp, ordered=True)
    )
    cdc = retract.withColumn(MULT_COL, F.lit(False)).unionByName(
        add.withColumn(MULT_COL, F.lit(True))
    )
    return cdc, surv.unionByName(dp)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash64(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 2,
    shingle_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document (Arrow pandas_udf, numpy bit-count).

    ``shingle_hash="md5"`` uses a 60-bit hash from the first 15 hex
    chars of md5 — reproducible in ANSI SQL (the top 4 bits vote 0 on
    both engines), making the signature oracle-checkable; xxhash64 stays
    the fast default."""

    @F.pandas_udf(T.LongType())
    def sim_udf(hashes: pd.Series) -> pd.Series:
        # whole-batch vectorization (see sig_udf): flat bit matrix once,
        # per-row bit-vote sums via add.reduceat
        lens = np.array([0 if h is None else len(h) for h in hashes], dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series([0] * len(hashes), dtype=np.int64)
        flat = np.concatenate(
            [np.asarray(h, dtype=np.int64) for h in hashes if h is not None and len(h)]
        ).astype(np.uint64)
        bits = ((flat[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
        nonempty = lens > 0
        starts = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=starts[1:])
        sums = np.add.reduceat(bits, starts, axis=0)  # (n_nonempty, 64)
        votes = sums * 2 - lens[nonempty][:, None]
        packed = ((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
            axis=1
        )
        signed = packed.astype(np.int64)  # two's-complement reinterpret
        vals, j = [], 0
        for empty in ~nonempty:
            if empty:
                vals.append(0)
            else:
                vals.append(int(signed[j]))
                j += 1
        return pd.Series(vals, dtype=np.int64)

    if shingle_hash == "md5":
        hs_expr = (
            "transform(shingles, "
            "s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"
        )
    elif shingle_hash == "xxhash64":
        hs_expr = "transform(shingles, s -> xxhash64(s))"
    else:
        raise ValueError(f"shingle_hash must be xxhash64 or md5, got {shingle_hash!r}")
    sh = with_word_shingles(df.select(id_col, text_col), text_col, n=shingle_n)
    # full-width JVM-side shingle hashes (no Python hashing in the loop)
    sh = sh.select(
        F.col(id_col).alias("id"), F.expr(hs_expr).alias("hs")
    ).localCheckpoint(eager=True)
    return sh.select("id", sim_udf(F.col("hs")).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    shingle_n: int = 2,
    shingle_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band on 16-bit chunks (any equal chunk
    → candidate; guarantees recall for Hamming ≤ 3 by pigeonhole at
    4 chunks), then verify Hamming distance ≤ max_hamming JVM-side
    (bit_count of xor — no Python in the join path)."""
    sigs = simhash64(df, id_col, text_col, shingle_n, shingle_hash)
    chunks = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), "
                "c -> struct(c AS chunk, shiftright(simhash, c * 16) & 65535 AS val))"
            )
        ).alias("ck"),
    ).select("id", "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.val").alias("val"))
    # cache once: the signature UDF must not run twice for the self-join
    chunks = chunks.persist()
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.chunk") == F.col("b.chunk"),
                F.col("a.val") == F.col("b.val"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# near-dup clustering (connected components over candidate pairs)
# --------------------------------------------------------------------------

def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Label every vertex with the MIN vertex id of its connected
    component — the standard final step of a near-dup pipeline (pairs →
    clusters → keep one doc per cluster).

    Iterative min-label propagation: each round every vertex takes the
    minimum of its own label and its neighbors' labels; converges in
    O(graph diameter) rounds (near-dup components are tiny, so 2-4
    rounds in practice).  Each round is ONE shuffle (edge join +
    min-aggregate); labels are localCheckpoint'ed per round to keep the
    plan flat.  The driver loop only checks a scalar convergence count —
    no vertex data ever reaches the driver.

    Output: (``id_col``, cluster) — cluster = component's min id.
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    sym = sym.localCheckpoint(eager=True)

    # propagate over NON-ISOLATED vertices only: isolated vertices (the
    # overwhelming majority of a near-dup corpus) never change label, so
    # they are excluded from every round and unioned back at the end —
    # per-round work and broadcast size are O(edge endpoints), not
    # O(corpus)
    verts = vertices.select(F.col(id_col).alias("vid"))
    endpoints = sym.select(F.col("src").alias("vid")).distinct()
    labels = (
        verts.join(endpoints, on="vid", how="leftsemi")
        .select("vid", F.col("vid").alias("label"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # label table is one row per non-isolated vertex — broadcast both
        # joins so the (much larger) edge relation is never shuffled; the
        # only exchange per round is the groupBy(src) partial-aggregated
        # min.  (At extreme vertex counts this becomes a sort-merge join
        # on a bucketed label table; same algorithm.)
        neighbor_min = (
            sym.join(F.broadcast(labels), on=[sym.dst == labels.vid])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # LAZY checkpoint fused with the convergence count: the count
        # scans every partition, so it materializes the whole checkpoint
        # as its side effect — one Spark job per round where an eager
        # checkpoint followed by a probe launched two (the engine's
        # merge-path fusing).  The probe must stay a FULL count, not
        # limit(1): a limited action materializes only some partitions
        # of a lazy checkpoint, leaving later rounds to re-execute the
        # join plan for the rest (measured 3x slower).
        new_labels = (
            labels.join(
                F.broadcast(neighbor_min),
                on=[labels.vid == neighbor_min.src],
                how="left",
            )
            .select(
                "vid",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("old_label")).count()
        labels = new_labels.select("vid", "label")
        if changed == 0:
            break
    else:
        # exhausting max_iter without convergence would silently report
        # one component as several clusters (labels mid-propagation) —
        # keep_canonical would then retain multiple "canonical" copies of
        # the same duplicate group.  Diameter > max_iter means a chained
        # near-dup component (templated docs); raise so the caller
        # re-runs with a higher bound instead of shipping a wrong split.
        raise ValueError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    isolated = verts.join(endpoints, on="vid", how="left_anti").select(
        "vid", F.col("vid").alias("label")
    )
    return labels.unionByName(isolated).select(
        F.col("vid").alias(id_col), F.col("label").alias("cluster")
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup
# --------------------------------------------------------------------------

def embedding_near_dups(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    broadcast_limit: int = 50_000,
    lsh_tables: int = 8,
    lsh_planes: int = 8,
) -> DataFrame:
    """Cosine near-dup pairs (a < b, cos ≥ threshold).

    Two paths, picked by table size (one count job):

    - n ≤ ``broadcast_limit``: EXACT blocked matrix multiply — the full
      unit-normalized matrix is broadcast to executors; each partition
      multiplies its block against it with BLAS (mapInPandas) — 12.5M
      pairs at n=5000 in ~1s vs ~60s for the per-pair expression fold.
      Memory bound: n·d·8 bytes broadcast (~100 MB at the default limit,
      d=256).
    - n > ``broadcast_limit``: multi-table LSH bucketing — the default
      SCALE path (no driver collect, no full-table broadcast).  Each of
      ``lsh_tables`` independent sign-random-projection tables buckets
      vectors on ``lsh_planes`` hyperplane signs; the exact per-pair
      cosine (same BLAS matmul, same rounding) runs WITHIN each (table,
      bucket) group via applyInPandas, and pairs found by several tables
      are deduplicated.  Per-pair scores are exact; RECALL is
      probabilistic: a cos≥0.95 pair agrees with one 8-plane table with
      p≈0.9^8≈0.43, so 8 tables give ≈1-(1-0.43)^8≈99% recall.  At a
      real deployment the bucketed relation would be written
      bucketed-by(bucket) so reruns skip the bucketing shuffle.
    """
    from collections.abc import Iterator

    spark = df.sparkSession
    src = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    # limit-bounded probe (ids only): at n >> limit the scan stops after
    # limit+1 rows instead of counting the whole table
    over = (
        src.select("id").limit(broadcast_limit + 1).count() > broadcast_limit
    )
    if over:
        return _embedding_near_dups_lsh(
            src, threshold, n_tables=lsh_tables, planes=lsh_planes
        )
    rows = src.collect()
    if not rows:
        # empty corpus (e.g. fully filtered upstream) → zero pairs, not a
        # numpy axis error on a (0,)-shaped matrix
        return spark.createDataFrame(
            [], "id_a bigint, id_b bigint, cos_sim double"
        )
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    bc = spark.sparkContext.broadcast((ids, unit))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), True),
        ]
    )

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_unit = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bids = pdf["id"].to_numpy(dtype=np.int64)
            bmat = np.array(list(pdf["v"]), dtype=np.float64)
            bnorm = np.sqrt((bmat * bmat).sum(axis=1))
            bnorm[bnorm == 0] = 1.0
            sims = (bmat / bnorm[:, None]) @ all_unit.T  # (block, n)
            # half-up at integer scale (np.round is half-even; DuckDB and
            # Spark round half-away/up — emitted sims are positive, so
            # floor(x*1e4 + 0.5) matches both)
            sims = np.floor(sims * 1e4 + 0.5) / 1e4
            mask = (sims >= threshold) & (bids[:, None] < all_ids[None, :])
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "id_a": bids[ai],
                    "id_b": all_ids[bi],
                    "cos_sim": sims[ai, bi],
                }
            )

    return src.mapInPandas(block, schema=out_schema)


def _embedding_near_dups_lsh(
    src: DataFrame,
    threshold: float,
    n_tables: int,
    planes: int,
) -> DataFrame:
    """Scale path for :func:`embedding_near_dups`: multi-table LSH
    bucketing + exact per-bucket BLAS scoring.  ``src`` is (id,
    v: array<double>).  Nothing is collected to the driver; the only
    broadcast is the hyperplane constant set (n_tables·planes·d doubles,
    embedded in the bucket expressions)."""
    from ivm_extension_spark.functions.similarity import _hyperplanes, bucket_expr

    # probe the vector width from the schema-level metadata-free path: one
    # row limit — a tiny job, not a table collect
    dim = len(src.select("v").limit(1).collect()[0][0])

    tables = src.select(
        "id",
        "v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"),
                        bucket_expr("v", _hyperplanes(dim, planes, seed=101 + t)).alias(
                            "bucket"
                        ),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("id", "v", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"))

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), True),
        ]
    )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": np.int64, "id_b": np.int64, "cos_sim": np.float64}
            )
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0] = 1.0
        unit = mat / norms[:, None]
        sims = unit @ unit.T
        # same half-up integer-scale rounding as the broadcast path — the
        # two paths must emit bit-identical scores for shared pairs
        sims = np.floor(sims * 1e4 + 0.5) / 1e4
        mask = (sims >= threshold) & (ids[:, None] < ids[None, :])
        ai, bi = np.nonzero(mask)
        return pd.DataFrame(
            {"id_a": ids[ai], "id_b": ids[bi], "cos_sim": sims[ai, bi]}
        )

    pairs = tables.groupBy("t", "bucket").applyInPandas(per_bucket, schema=out_schema)
    # a pair can collide in several tables: keep one copy (scores are
    # deterministic, so any representative is THE score)
    return pairs.groupBy("id_a", "id_b").agg(F.first("cos_sim").alias("cos_sim"))


def _embedding_near_dups_delta_lsh(
    src: DataFrame,
    d: DataFrame,
    threshold: float,
    n_tables: int,
    planes: int,
) -> tuple[DataFrame, DataFrame]:
    """Oversized-delta path for :func:`embedding_near_dups_delta`: a
    "delta" that is really a backfill must not be collected/broadcast,
    so both the corpus and the delta are bucketed with the SAME
    deterministic hyperplanes as the batch LSH path and scored within
    (table, bucket) groups — corpus side × delta side, exact BLAS per
    block, nothing driver-held.

    Recall semantics match the batch ``_embedding_near_dups_lsh``
    exactly: the hyperplanes are seeded constants, so a pair lands in
    the same buckets on every run — the CDC retracts precisely the
    pairs the batch path emitted and inserts precisely the pairs it
    would emit over T′ (the invariant holds bit-exactly AGAINST THE LSH
    PATH, which is the path a corpus this size took)."""
    from ivm_extension_spark.functions.similarity import _hyperplanes, bucket_expr

    dim = len(src.select("v").limit(1).collect()[0][0])

    def bucketed(rel: DataFrame, side: int) -> DataFrame:
        return rel.select(
            "id",
            "v",
            F.lit(side).alias("__side"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            bucket_expr(
                                "v", _hyperplanes(dim, planes, seed=101 + t)
                            ).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("tb"),
        ).select(
            "id", "v", "__side",
            F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket"),
        )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), True),
        ]
    )

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
            {"id_a": np.int64, "id_b": np.int64, "cos_sim": np.float64}
        )
        probe = pdf[pdf["__side"] == 1]
        corpus = pdf[pdf["__side"] == 0]
        if len(probe) == 0 or len(corpus) == 0:
            return empty

        def unit(part: pd.DataFrame):
            ids = part["id"].to_numpy(dtype=np.int64)
            mat = np.array(list(part["v"]), dtype=np.float64)
            norms = np.sqrt((mat * mat).sum(axis=1))
            norms[norms == 0] = 1.0
            return ids, mat / norms[:, None]

        pids, punit = unit(probe)
        cids, cunit = unit(corpus)
        sims = punit @ cunit.T
        sims = np.floor(sims * 1e4 + 0.5) / 1e4  # same half-up as batch
        mask = (sims >= threshold) & (pids[:, None] != cids[None, :])
        ai, bi = np.nonzero(mask)
        a, b = pids[ai], cids[bi]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, b),
                "id_b": np.maximum(a, b),
                "cos_sim": sims[ai, bi],
            }
        )

    def probe_pairs(corpus: DataFrame, probe: DataFrame, ins: bool) -> DataFrame:
        both = bucketed(corpus, 0).unionByName(bucketed(probe, 1))
        pairs = both.groupBy("t", "bucket").applyInPandas(per_bucket, out_schema)
        # a pair can collide in several tables, and a probe×probe pair
        # appears once per orientation — one canonical copy of each
        return (
            pairs.groupBy("id_a", "id_b")
            .agg(F.first("cos_sim").alias("cos_sim"))
            .withColumn("__ins", F.lit(ins))
        )

    del_vecs = d.filter(~F.col("__ins")).select("id", "v")
    ins_vecs = d.filter(F.col("__ins")).select("id", "v")
    surv = src.join(del_vecs.select("id"), on="id", how="left_anti")
    new_index = surv.unionByName(ins_vecs)
    cdc = probe_pairs(src, del_vecs, False).unionByName(
        probe_pairs(new_index, ins_vecs, True)
    )
    return cdc, new_index


def embedding_near_dups_delta(
    index: DataFrame,
    delta: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    mult_col: str = "_duckdb_ivm_multiplicity",
    broadcast_limit: int = 50_000,
    lsh_tables: int = 8,
    lsh_planes: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """INCREMENTAL embedding near-dup — the pair CDC under a corpus
    delta, without rescoring the corpus against itself.

    ``index`` is the current corpus (id, vector) — at a real deployment
    the stored, bucketed vector index; ``delta`` carries the bool
    multiplicity column (insert=true, delete=false).  Preconditions:
    deleted ids exist in the index (Δ⁻ ⊆ T) and inserted ids are new —
    the standard content-addressed-id contract.  Returns
    ``(pairs_cdc, new_index)``:

    - ``pairs_cdc``: (id_a, id_b, cos_sim, multiplicity) — every exact
      pair of the OLD corpus touching a deleted vector (false) and every
      exact pair of the NEW corpus touching an inserted vector (true).
      pairs(T) ⊎ CDC == pairs(T') against the exact batch path
      (:func:`embedding_near_dups`), bit-identical scores (same unit
      matrices, same half-up integer-scale rounding).
    - ``new_index``: the vector relation of T' — feed it to the next
      batch.

    Scale shape: comparisons are O(|corpus| · |Δ|) BLAS, not
    O(|corpus|²) — the corpus is scanned ONCE (mapInPandas, no shuffle)
    against the broadcast delta matrix; the delta is collected for the
    broadcast (O(|Δ|·d) bytes — the same bound any broadcast join
    carries) AFTER a limit-bounded size probe, mirroring the batch
    path's gate: a "delta" over ``broadcast_limit`` rows (a backfill)
    is never driver-held.  When the INDEX is also over the limit (so
    the stored state was LSH-built) it routes through the deterministic
    LSH buckets (:func:`_embedding_near_dups_delta_lsh`), whose recall
    semantics match the batch LSH path that state took; when the index
    is still small (exact-built state — the exact→LSH transition) the
    CDC turns the state over instead (retract pairs(T) by the exact
    path, insert pairs(T') by T''s own batch path), because the LSH
    probe can only retract bucket-colliding pairs and would strand
    exact pairs that collide in no table.  The tiny Δ×Δ blocks of the
    broadcast path are scored at plan-build time.
    """
    from collections.abc import Iterator

    spark = index.sparkSession
    src = index.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    d = delta.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.col(mult_col).alias("__ins"),
    )
    over = d.select("id").limit(broadcast_limit + 1).count() > broadcast_limit
    if over:
        index_over = (
            src.select("id").limit(broadcast_limit + 1).count()
            > broadcast_limit
        )
        if index_over:
            # prior state was LSH-built (the batch dispatcher routes any
            # corpus this size through the buckets), so the LSH delta
            # probe retracts exactly the pairs the stored state contains
            cdc, new_index = _embedding_near_dups_delta_lsh(
                src, d, threshold, n_tables=lsh_tables, planes=lsh_planes
            )
            return (
                cdc.withColumnRenamed("__ins", mult_col),
                new_index.select(
                    F.col("id").alias(id_col), F.col("v").alias(vec_col)
                ),
            )
        # exact→LSH TRANSITION: an oversized delta (a backfill) landing
        # on an exact-built index.  The LSH probe would only retract
        # bucket-colliding pairs, leaving exact-path pairs that collide
        # in no table as stale state — so turn the state over instead:
        # retract every old pair (recomputed by the same exact path the
        # small index took — cheap, |index| <= broadcast_limit) and
        # insert every pair of T' by whichever path T' now takes.
        # Coarser than a minimal CDC but bit-exact across the
        # transition: pairs(T) ⊎ CDC == pairs(T') by construction.
        new_index = src.join(
            d.filter(~F.col("__ins")).select("id"), on="id", how="left_anti"
        ).unionByName(d.filter(F.col("__ins")).select("id", "v"))
        old_pairs = embedding_near_dups(
            src, "id", "v", threshold, broadcast_limit, lsh_tables, lsh_planes
        )
        new_pairs = embedding_near_dups(
            new_index, "id", "v", threshold, broadcast_limit,
            lsh_tables, lsh_planes,
        )
        cdc = new_pairs.withColumn(mult_col, F.lit(True)).unionByName(
            old_pairs.withColumn(mult_col, F.lit(False))
        )
        return (
            cdc,
            new_index.select(
                F.col("id").alias(id_col), F.col("v").alias(vec_col)
            ),
        )
    drows = d.collect()

    def _unit(rows_):
        ids = np.array([r["id"] for r in rows_], dtype=np.int64)
        if not len(rows_):
            return ids, np.zeros((0, 0))
        mat = np.array([r["v"] for r in rows_], dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        norms[norms == 0] = 1.0
        return ids, mat / norms[:, None]

    del_ids, del_unit = _unit([r for r in drows if not r["__ins"]])
    ins_ids, ins_unit = _unit([r for r in drows if r["__ins"]])
    bc = spark.sparkContext.broadcast((del_ids, del_unit, ins_ids, ins_unit))

    del_df = spark.createDataFrame(
        [(int(i),) for i in del_ids] or [(None,)], "id long"
    ).filter("id IS NOT NULL")
    surv = src.join(F.broadcast(del_df), on="id", how="left_anti")

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), True),
            T.StructField("__ins", T.BooleanType(), False),
        ]
    )

    def _pairs(bids, bunit, oids, ounit, is_ins, ordered=False):
        # block(rows) × other(cols) exact cosine; canonical a<b order.
        # ordered=True keeps only upper-triangle matches (Δ×Δ once).
        if not len(bids) or not len(oids):
            return None
        sims = bunit @ ounit.T
        sims = np.floor(sims * 1e4 + 0.5) / 1e4  # same half-up as batch
        mask = sims >= threshold
        if ordered:
            mask &= bids[:, None] < oids[None, :]
        else:
            mask &= bids[:, None] != oids[None, :]
        ai, bi = np.nonzero(mask)
        a, b = bids[ai], oids[bi]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, b),
                "id_b": np.maximum(a, b),
                "cos_sim": sims[ai, bi],
                "__ins": is_ins,
            }
        )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dids, dunit, iids, iunit = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bids = pdf["id"].to_numpy(dtype=np.int64)
            bmat = np.array(list(pdf["v"]), dtype=np.float64)
            bnorm = np.sqrt((bmat * bmat).sum(axis=1))
            bnorm[bnorm == 0] = 1.0
            bunit = bmat / bnorm[:, None]
            out = [
                _pairs(bids, bunit, dids, dunit, False),  # surv × deleted
                _pairs(bids, bunit, iids, iunit, True),  # surv × inserted
            ]
            out = [p for p in out if p is not None and len(p)]
            if out:
                yield pd.concat(out, ignore_index=True)

    cdc = surv.mapInPandas(scan, schema=out_schema)
    # Δ×Δ blocks: tiny (the delta is already driver-held for the
    # broadcast), scored once each at plan-build time
    local = [
        p
        for p in (
            _pairs(del_ids, del_unit, del_ids, del_unit, False, ordered=True),
            _pairs(ins_ids, ins_unit, ins_ids, ins_unit, True, ordered=True),
        )
        if p is not None and len(p)
    ]
    if local:
        lp = pd.concat(local, ignore_index=True)
        cdc = cdc.unionByName(
            spark.createDataFrame(
                [
                    (int(a), int(b), float(c), bool(m))
                    for a, b, c, m in lp.itertuples(index=False)
                ],
                out_schema,
            )
        )
    ins_df = d.filter(F.col("__ins")).select("id", "v")
    new_index = surv.unionByName(ins_df)
    return (
        cdc.withColumnRenamed("__ins", mult_col),
        new_index.select(
            F.col("id").alias(id_col), F.col("v").alias(vec_col)
        ),
    )


def keep_canonical(
    df: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The dedup REMOVAL policy: keep exactly one representative per
    near-dup cluster — the cluster label (the smallest id, so the choice
    is deterministic) — and drop every other member.  Singleton clusters
    keep their only row, so the output is the deduplicated corpus.

    ``components`` is :func:`connected_components` output (id, cluster).
    Scale shape: one semi join on the id (the keep-set is a filter on
    the O(corpus) component relation — no collect, no broadcast
    assumption; AQE picks the physical join)."""
    keep = components.filter(F.col(id_col) == F.col("cluster")).select(id_col)
    return df.join(keep, on=id_col, how="leftsemi")
