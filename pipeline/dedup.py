"""Deduplication operators (exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine) — Spark-native.

Scale notes (10^12 rows):
- exact: the shuffle key is a 192-bit content hash (xxhash64 + md5 of
  the text), ~24 bytes/row instead of whole documents; collision
  probability over 10^12 docs is < 1e-33, far below hardware error
  rates. One hash-shuffle, map-side combine.
- MinHash+LSH: signatures are pure column expressions; banding
  explodes b rows/doc and buckets by band hash — the only shuffle is
  the bucket groupBy; candidate pairs are verified with exact Jaccard,
  so precision is 1.0 and LSH only affects recall. Skewed buckets
  (boilerplate shingles) are capped by MAX_BUCKET.
- SimHash: signature via word-hash bit voting; banded by the four
  16-bit signature chunks with the SAME MAX_BUCKET cap (an unbounded
  chunk self-join has only 65,536 distinct values per band — quadratic
  blowup on boilerplate without the cap); xor+bit_count Hamming verify.
- embedding cosine: brute-force pair search is O(n^2) — kept for
  oracle checks at tiny scale; the scale path buckets by deterministic
  hyperplane signs first (pipeline/similarity.py).

Hash families: the default ``xxhash64`` family is fastest (one JVM
codegen'd hash per permutation). The ``md5`` family derives every hash
from md5 hex strings using only expressions DuckDB evaluates
identically (md5 / substr / instr / lexicographic min), so the ENTIRE
LSH pipeline — signatures, banding, bucket caps, candidate pairs —
can be reproduced by an ANSI-SQL oracle bit-for-bit. Same algorithm,
same shuffle structure; only the hash primitive differs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

MINHASH_PERMS = 64
LSH_BANDS = 16  # 16 bands x 4 rows
MAX_BUCKET = 64  # ignore degenerate buckets (boilerplate shingles)
# 128-bit signature banded as 4 x 32-bit chunks: each band has 2^32
# bucket values, so at 10^9+ docs the expected bucket size stays ~1
# and the MAX_BUCKET cap only ever drops true boilerplate clusters —
# 64-bit/4x16-bit banding saturated its 65,536 buckets/band at ≫10^7
# docs and the cap silently collapsed recall (r2 verdict)
SIMHASH_BITS = 128


def exact_dedup(docs: DataFrame, key: str = "text") -> DataFrame:
    """Exact content dedup: keep the smallest doc_id per distinct key.

    Groups by a 192-bit hash of the key (xxhash64 + md5) so the
    shuffle carries ~24 bytes per row, not the document text; the
    combined hash stands in for the key with collision probability
    ~n^2 / 2^192.
    """
    return (docs.groupBy(F.xxhash64(key).alias("_h64"),
                         F.md5(F.col(key)).alias("_h128"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_copies"))
            .select("keep_id", "n_copies"))


def word_shingles(col, n: int = 3):
    """n-word shingles of a whitespace-tokenized text column."""
    words = F.split(F.trim(col), "\\s+")
    k = F.greatest(F.size(words) - (n - 1), F.lit(0))
    return F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))


def minhash_signature(shingles, perms: int = MINHASH_PERMS,
                      family: str = "xxhash64"):
    """MinHash signature: per permutation j, min over shingles of the
    j-seeded hash. ``xxhash64``: long hashes (fastest, ANSI-safe).
    ``md5``: lexicographic min of md5 hex strings — portable across
    engines (DuckDB-oracle-able). Pure column expressions either way."""
    sig = []
    for j in range(perms):
        if family == "md5":
            h = lambda s, j=j: F.md5(F.concat(F.lit(f"{j}|"), s))
        else:
            h = lambda s, j=j: F.xxhash64(s, F.lit(j))
        sig.append(F.array_min(F.transform(shingles, h)))
    return F.array(*sig)


def _band_bucket(sig, b: int, rows: int, family: str):
    """Bucket key of band b: hash of the band's signature slice."""
    sl = F.slice(sig, b * rows + 1, rows)
    if family == "md5":
        return F.md5(F.array_join(sl, ","))
    return F.xxhash64(sl, F.lit(b))


def _capped_bucket_pairs(banded: DataFrame, payload: list[str],
                         max_bucket: int = MAX_BUCKET) -> DataFrame:
    """(band, bucket, payload...) -> distinct candidate pairs from
    buckets of size in [2, max_bucket]. One shuffle (the groupBy)."""
    buckets = (banded
               .groupBy("band", "bucket")
               .agg(F.collect_list(F.struct(*payload)).alias("ds"))
               .where((F.size("ds") > 1) & (F.size("ds") <= max_bucket)))
    return (buckets.select(F.explode(F.expr(
        "filter(transform(flatten(transform(ds, a -> transform(ds, "
        "b -> struct(a, b)))), p -> p), "
        "p -> p.a.doc_id < p.b.doc_id)")).alias("p"))
        .select(*[F.col(f"p.a.{c}").alias(f"{c}_a") for c in payload],
                *[F.col(f"p.b.{c}").alias(f"{c}_b") for c in payload])
        .dropDuplicates(["doc_id_a", "doc_id_b"]))


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      threshold: float = 0.5, shingle_n: int = 3,
                      bands: int = LSH_BANDS,
                      family: str = "xxhash64") -> DataFrame:
    """Near-duplicate pairs by MinHash banding + exact-Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b and
    jaccard >= threshold over distinct word shingles.
    """
    rows = MINHASH_PERMS // bands
    base = (docs
            .withColumn("_sh", F.array_distinct(
                word_shingles(F.col(text_col), shingle_n)))
            .where(F.size("_sh") > 0)
            .withColumn("_sig", minhash_signature(F.col("_sh"),
                                                  family=family)))
    # banding built per compile-time band index (the md5 family's
    # bucket hash needs the band constant inside a string expression)
    parts = []
    for b in range(bands):
        parts.append(F.struct(
            F.lit(b).alias("band"),
            _band_bucket(F.col("_sig"), b, rows, family).alias("bucket")))
    banded = base.select(
        "doc_id", "_sh", F.explode(F.array(*parts)).alias("bb")) \
        .select("doc_id", "_sh", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    pairs = _capped_bucket_pairs(banded, ["doc_id", "_sh"])
    jac = (F.size(F.array_intersect("_sh_a", "_sh_b"))
           / F.size(F.array_union("_sh_a", "_sh_b")))
    return (pairs.withColumn("jaccard", jac)
            .where(F.col("jaccard") >= threshold)
            .select(F.col("doc_id_a").alias("id_a"),
                    F.col("doc_id_b").alias("id_b"), "jaccard"))


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        threshold: float = 0.5, shingle_n: int = 3
                        ) -> DataFrame:
    """Exact n-gram Jaccard over ALL pairs (oracle-checkable; O(n^2) —
    tiny scales only; minhash_lsh_pairs is the scale path)."""
    t = docs.select(
        "doc_id",
        F.array_distinct(word_shingles(F.col(text_col), shingle_n))
        .alias("sh")).where(F.size("sh") > 0)
    a = t.alias("a")
    b = t.alias("b")
    pairs = (a.crossJoin(b)
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"),
                     (F.size(F.array_intersect("a.sh", "b.sh"))
                      / F.size(F.array_union("a.sh", "b.sh")))
                     .alias("jaccard")))
    return pairs.where(F.col("jaccard") >= threshold)


def simhash(col, bits: int = 64, seed: int = 0):
    """One 64-bit SimHash limb of the whitespace words of a text
    column: each word votes its hash bits +-1; signature bit = sign of
    the sum. ``seed`` picks an independent word-hash stream — the
    128-bit signature is two limbs (seed 0 and 1). Bit i is tested
    with the constant mask 1 << i (an array literal), so the
    expression tree stays a few dozen nodes whatever ``bits`` is."""
    masks = F.array(*[F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
                      for i in range(bits)])

    def word_bits(w):
        h = F.xxhash64(w) if seed == 0 else F.xxhash64(w, F.lit(seed))
        return F.transform(masks, lambda m: F.when(
            h.bitwiseAND(m) != 0, 1).otherwise(-1))

    votes = _votes(F.split(F.trim(col), "\\s+"), word_bits, bits)
    return F.aggregate(
        F.arrays_zip(votes.alias("v"), masks.alias("m")),
        F.lit(0).cast("long"),
        lambda sig, z: sig.bitwiseOR(
            F.when(z["v"] > 0, z["m"]).otherwise(F.lit(0).cast("long"))))


def simhash_bitstring(col, bits: int = SIMHASH_BITS) -> Column:
    """Portable SimHash: signature as a ``bits``-char '0'/'1' string
    (default 128 — all 32 md5 hex digits). Word-hash bit i = bit
    (i % 4) of hex digit (i // 4) of md5(word) — md5 / substr / instr
    only, so DuckDB reproduces it exactly. Each word's md5 is computed
    once."""
    masks = F.array(*[F.lit(1 << (i % 4)) for i in range(bits)])

    def word_bits(h):
        return F.transform(masks, lambda m, i: F.when(
            (F.instr(F.lit("0123456789abcdef"),
                     F.substring(h, F.floor(i / 4).cast("int") + 1,
                                 F.lit(1))) - 1).bitwiseAND(m) != 0,
            1).otherwise(-1))

    votes = _votes(F.transform(F.split(F.trim(col), "\\s+"), F.md5),
                   word_bits, bits)
    return F.array_join(F.transform(
        votes, lambda v: F.when(v > 0, "1").otherwise("0")), "")


def _votes(words: Column, word_bits, bits: int) -> Column:
    """Per-bit sums of every word's +-1 votes; all zeros for a null
    text, so its signature is all zero bits."""
    zero = F.array_repeat(F.lit(0).cast("int"), bits)
    return F.coalesce(F.aggregate(
        words, zero,
        lambda acc, w: F.zip_with(acc, word_bits(w), lambda x, y: x + y)),
        zero)


def _simhash_banded(docs: DataFrame, text_col: str,
                    family: str) -> tuple[DataFrame, list[str], Column]:
    """(banded rows, pair payload columns, hamming expr over _a/_b
    suffixed payloads) for the 128-bit SimHash, banded as 4 x 32-bit
    chunks. Band space is 2^32 per band, so bucket sizes stay ~1 up to
    billions of docs and the MAX_BUCKET cap only drops true
    boilerplate clusters. A pair within Hamming distance 3 differs in
    at most 3 of the 4 chunks, so it shares at least one band."""
    if family == "md5":
        t = docs.select("doc_id",
                        simhash_bitstring(F.col(text_col)).alias("sig"))
        chunk = [F.substring("sig", 1 + i * 32, 32) for i in range(4)]
        payload = ["doc_id", "sig"]
        ham = F.aggregate(
            F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
            F.lit(0).cast("int"),
            lambda a, i: a + F.when(
                F.col("sig_a").substr(i, F.lit(1))
                == F.col("sig_b").substr(i, F.lit(1)),
                F.lit(0)).otherwise(F.lit(1)))
    else:
        t = docs.select(
            "doc_id",
            simhash(F.col(text_col), seed=0).alias("sig0"),
            simhash(F.col(text_col), seed=1).alias("sig1"))
        chunk = [F.shiftrightunsigned(s, off)
                 .bitwiseAND(F.lit(0xFFFFFFFF)).cast("string")
                 for s in ("sig0", "sig1") for off in (32, 0)]
        payload = ["doc_id", "sig0", "sig1"]
        ham = (F.bit_count(F.col("sig0_a").bitwiseXOR(F.col("sig0_b")))
               + F.bit_count(F.col("sig1_a").bitwiseXOR(F.col("sig1_b"))))
    banded = t.select(
        *payload,
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"), chunk[i].alias("bucket"))
            for i in range(4)])).alias("c")) \
        .select(*payload, F.col("c.band").alias("band"),
                F.col("c.bucket").alias("bucket"))
    return banded, payload, ham


def simhash_near_pairs(docs: DataFrame, text_col: str = "text",
                       max_hamming: int = 3,
                       family: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by 128-bit SimHash Hamming distance, banded by
    the four 32-bit signature chunks. Buckets larger than MAX_BUCKET
    are dropped (boilerplate clusters — quantify the loss with
    :func:`simhash_band_stats`, the no-silent-caps telemetry)."""
    banded, payload, ham = _simhash_banded(docs, text_col, family)
    pairs = _capped_bucket_pairs(banded, payload)
    return (pairs.withColumn("hamming", ham)
            .where(F.col("hamming") <= max_hamming)
            .select(F.col("doc_id_a").alias("id_a"),
                    F.col("doc_id_b").alias("id_b"), "hamming"))


def simhash_band_stats(docs: DataFrame, text_col: str = "text",
                       family: str = "xxhash64",
                       max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Cap telemetry (the no-silent-caps rule): how many (band, bucket)
    cells the MAX_BUCKET cap drops and how many doc slots they held —
    at healthy band-space sizing this is ~0 outside true boilerplate."""
    banded, _, _ = _simhash_banded(docs, text_col, family)
    sz = banded.groupBy("band", "bucket").agg(F.count("*").alias("sz"))
    return sz.agg(
        F.count("*").alias("n_buckets"),
        F.sum(F.when(F.col("sz") > max_bucket, 1).otherwise(0))
        .cast("bigint").alias("n_dropped_buckets"),
        F.sum(F.when(F.col("sz") > max_bucket, F.col("sz")).otherwise(0))
        .cast("bigint").alias("n_docs_in_dropped"))


def embedding_near_pairs(emb: DataFrame, threshold: float = 0.95
                         ) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, brute force (oracle path;
    the scale path is similarity.lsh_bucketed_pairs)."""
    from pipeline.similarity import cosine
    a = emb.alias("a")
    b = emb.alias("b")
    return (a.crossJoin(b)
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("id_a"),
                    F.col("b.vec_id").alias("id_b"),
                    cosine(F.col("a.embedding"), F.col("b.embedding"))
                    .alias("cos"))
            .where(F.col("cos") >= threshold))
