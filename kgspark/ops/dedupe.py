"""Document deduplication operators.

Five tiers, all shuffle-conscious:

  exact        — md5 groupBy; one shuffle on a 32-byte key, no text moves
  ngram-jaccard— exact word-n-gram Jaccard via shingle-explode equi-join
                 (NOT a cross join: pairs only materialize for docs sharing
                 a shingle; at corpus scale a min-shingle-frequency filter
                 caps hot shingles)
  minhash-LSH  — shingle → k min-hashes → band buckets → equi-join →
                 exact verify; the 100 TB path (candidate count is bounded
                 by band collisions, AQE skew-join mops up hot buckets).
                 ``lsh_candidates`` is the repo's one MinHash-LSH banding;
                 entity linking calls it with name-token shingles
  simhash      — 64-bit weighted-bit fingerprint, near-dup = small hamming
                 distance within 16-bit band blocks
  embedding    — cosine over an embedding column (see ops.similarity)

Hash portability: ``hash_fn='md5'`` derives hashes from md5 hex (identical
in DuckDB → drives the SQL oracle); ``hash_fn='xxhash64'`` is the fast
JVM-native production path.  Both are deterministic and seedless.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def word_ngrams(col: Column, n: int) -> Column:
    """Distinct word n-gram shingles of a text column (JVM-side).

    Docs with fewer than ``n`` words (including empty/whitespace-only
    text) yield an empty array — mirroring DuckDB's
    ``generate_series(1, 0)`` → empty — instead of letting
    ``F.sequence(1, 0)`` emit a descending [1, 0] whose index-0 slice
    throws INVALID_PARAMETER_VALUE.START.
    """
    words = F.filter(F.split(col, r"\s+"), lambda w: w != "")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        )
    )
    return F.when(F.size(words) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def _hash32(col: Column, seed: int, hash_fn: str) -> Column:
    """Deterministic per-seed 32-bit-ish hash of a string column."""
    if hash_fn == "md5":
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10
        ).cast("long")
    return F.xxhash64(col, F.lit(seed))


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(text_hash, n_docs, keep_id): groups of byte-identical docs; the
    kept representative is the minimum id (deterministic)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("id"))
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
    )


def jaccard_pairs_exact(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.7,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via shingle-explode equi-join.

    Returns (id1, id2, jaccard) with id1 < id2, jaccard rounded to 6dp.
    Scale shape: |pairs| ≤ Σ_shingle freq², never |docs|² — pushdown-safe.

    ``max_shingle_freq`` caps the hot-shingle blowup at corpus scale: a
    shingle occurring in more than that many docs is dropped from PAIR
    GENERATION (boilerplate n-grams produce freq² candidate pairs while
    carrying no dedup signal).  The intersection count then comes only
    from surviving shingles, so pairs whose overlap is pure boilerplate
    can be missed — exact results need ``None`` (the default); at 100 TB
    use MinHash-LSH (`lsh_dup_pairs`) as the primary path.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.size(word_ngrams(F.col(text_col), n)).alias("n_sh"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("shingle"),
    )
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle").agg(F.count("*").alias("_f"))
            .filter(F.col("_f") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = sh.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1"), "shingle")
    b = sh.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("inter"), F.first("n1").alias("n1"), F.first("n2").alias("n2"))
    )
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) rows: one per distinct word n-gram of each doc."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("shingle"),
    )


def _signature(sh: DataFrame, k: int, hash_fn: str) -> DataFrame:
    """(id, h0..h{k-1}): per-seed minimum hash over each id's shingles."""
    aggs = [F.min(_hash32(F.col("shingle"), i, hash_fn)).alias(f"h{i}") for i in range(k)]
    return sh.groupBy("id").agg(*aggs)


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, h0..h{k-1}): per-doc MinHash signature over word n-grams."""
    return _signature(_shingles(df, id_col, text_col, n), k, hash_fn)


def lsh_candidates(
    sh: DataFrame, k: int, bands: int, hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH core: distinct (id1, id2) pairs, id1 < id2, whose
    k-hash signatures over (id, shingle) rows agree on at least one band.

    Band b hashes the ``k // bands`` signature values it covers, joined
    with "_", into a bucket key; candidates are the (band, bucket)
    equi-join.  ``bands > k`` would leave bands with no hash in them,
    and every id would share their one bucket, so it is refused.
    Document dedup (``lsh_dup_pairs``) and entity linking
    (``linking.lsh_candidate_pairs``) both band through here."""
    if not 0 < bands <= k:
        raise ValueError(f"LSH needs 1 <= bands <= k hashes, got bands={bands}, k={k}")
    rows = k // bands
    sig = _signature(sh, k, hash_fn)
    band_cols = F.array(
        *[
            F.xxhash64(
                F.concat_ws("_", *[F.col(f"h{b * rows + r}") for r in range(rows)]),
                F.lit(b),
            )
            for b in range(bands)
        ]
    )
    banded = sig.select("id", F.posexplode(band_cols).alias("band", "bucket"))
    a = banded.select(F.col("id").alias("id1"), "band", "bucket")
    b = banded.select(F.col("id").alias("id2"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def lsh_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, k: int = 16,
    bands: int = 8, threshold: float = 0.7, hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH candidate pairs + exact-Jaccard verification.

    Output (id1, id2, jaccard) — subset of jaccard_pairs_exact limited to
    LSH-collision candidates; recall governed by (k, bands, threshold).
    """
    cand = lsh_candidates(_shingles(df, id_col, text_col, n), k, bands, hash_fn)
    t = df.select(F.col(id_col).alias("id"), word_ngrams(F.col(text_col), n).alias("sh"))
    t1 = t.select(F.col("id").alias("id1"), F.col("sh").alias("sh1"))
    t2 = t.select(F.col("id").alias("id2"), F.col("sh").alias("sh2"))
    verified = (
        cand.join(t1, "id1").join(t2, "id2")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh1", "sh2"))
                / F.size(F.array_union("sh1", "sh2")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select("id1", "id2", "jaccard")


def simhash_blocks(df: DataFrame, id_col: str, text_col: str,
                   n_blocks: int = 4, hash_fn: str = "xxhash64") -> DataFrame:
    """(id, blocks): 64-bit SimHash over words as ``n_blocks`` equal-width
    blocks (array<int>) — per-bit majority vote of hash(word) bits.

    Block representation avoids signed-64-bit overflow under ANSI mode and
    doubles as the banding key for pair blocking; all JVM-side array
    arithmetic (no UDF).  ``hash_fn='md5'`` derives the 64 word bits from
    four 16-bit md5-hex chunks (replayable in DuckDB → drives the SQL
    oracle); ``'xxhash64'`` is the JVM-native production path.
    """
    assert 64 % n_blocks == 0, "n_blocks must divide 64"
    bpb = 64 // n_blocks
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != ""))
        ).alias("w"),
    )
    # per-word vote vector: +1/-1 per bit position 0..63
    if hash_fn == "md5":
        # bit i lives in 16-bit md5-hex chunk i//16 at offset i%16
        bits_src = words.withColumn("_m", F.md5("w"))
        vote_arr = F.array(*[
            F.when(
                F.shiftright(
                    F.conv(F.substring(F.col("_m"), 1 + 4 * (i // 16), 4), 16, 10)
                    .cast("int"),
                    i % 16,
                ).bitwiseAND(F.lit(1)) == 1, 1,
            ).otherwise(-1)
            for i in range(64)
        ])
    else:
        bits_src = words.withColumn("h", F.xxhash64("w"))
        vote_arr = F.array(*[
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            for i in range(64)
        ])
    bits = bits_src.select("id", vote_arr.alias("v"))
    summed = bits.groupBy("id").agg(
        F.aggregate(
            F.collect_list("v"),
            F.array_repeat(F.lit(0), 64),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
        ).alias("votes")
    )
    blocks = F.array(*[
        F.aggregate(
            F.slice(F.col("votes"), b * bpb + 1, bpb),
            F.lit(0),
            lambda acc, v: acc * 2 + F.when(v > 0, 1).otherwise(0),
        )
        for b in range(n_blocks)
    ])
    return summed.select("id", blocks.alias("blocks"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str, max_dist: int = 3,
                  n_blocks: int = 4, hash_fn: str = "xxhash64",
                  allow_approximate: bool = False) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_dist, blocked on
    64/n_blocks-bit blocks.  Pigeonhole: a pair within distance
    ≤ n_blocks-1 must agree on ≥1 block, so recall is total for
    ``max_dist < n_blocks``.  Beyond that bound candidate generation can
    silently drop true pairs — refuse unless ``allow_approximate``."""
    if max_dist >= n_blocks and not allow_approximate:
        raise ValueError(
            f"max_dist={max_dist} voids the {n_blocks}-block recall "
            f"guarantee (holds only for max_dist <= {n_blocks - 1}); use "
            f"more blocks or pass allow_approximate=True"
        )
    sig = simhash_blocks(df, id_col, text_col, n_blocks, hash_fn)
    blocks = sig.select(
        "id", F.col("blocks").alias("s"),
        F.posexplode(F.col("blocks")).alias("block", "key"),
    )
    a = blocks.select(F.col("id").alias("id1"), F.col("s").alias("s1"), "block", "key")
    b = blocks.select(F.col("id").alias("id2"), F.col("s").alias("s2"), "block", "key")
    cand = (
        a.join(b, ["block", "key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", "s1", "s2")
        .distinct()
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("s1"), F.col("s2"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y).cast("long")),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_dist).select(
        "id1", "id2", "hamming"
    )
