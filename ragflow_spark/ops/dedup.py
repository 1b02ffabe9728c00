"""Deduplication operators for training-data pipelines.

Scale design notes (100 TB):
* exact dedup: hash-groupBy on a 64-bit fingerprint — one shuffle keyed
  by the hash, AQE coalesces; canonical row = min(doc_id).
* MinHash + LSH: shingle -> K minhashes -> B bands; candidate pairs come
  from a *band-bucket self-join* (shuffle on band hash, never a cross
  join).  Shingling and minhashing are native column expressions
  (transform/aggregate over split()), no Python UDFs.
* SimHash: 64-bit sign-sum of per-token hashes; near-dups are pairs
  within Hamming distance d, found via (d+1)-segment pigeonhole bucketing
  (exact recall at every d).
* n-gram Jaccard: exact verify step for LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import norm_text

# -- exact ---------------------------------------------------------------


def dedup_exact(df: DataFrame) -> DataFrame:
    """One row per distinct canonical text: canonical id + group size.

    Groups on ``sha2(canon, 256)`` rather than the canonical text
    itself: the map-side partial aggregate collapses local duplicates
    either way, but on a mostly-unique corpus the shuffle key would
    otherwise be the FULL document text — at the 10^12-row design
    point that is the corpus itself through the wire.  A 64-hex-char
    key carries the same grouping at ~constant width; sha256 (not
    md5/xxhash64) so adversarially constructed collisions are not a
    dedup-poisoning vector, and DuckDB replays it exactly
    (``sha256(canon)``)."""
    return (
        df.select(F.col("doc_id"), norm_text("text").alias("canon"))
        .select(F.col("doc_id"), F.sha2(F.col("canon"), 256).alias("_k"))
        .groupBy("_k")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_dups"),
        )
        .select("canonical_id", "n_dups")
    )


# -- shingles / jaccard ----------------------------------------------------


def char_ngrams_from(c: Column, n: int = 3) -> Column:
    """Distinct character n-grams from a MATERIALIZED text column
    (native exprs: sequence + transform + array_distinct — no Python).
    The transform lambda references its input once PER ELEMENT, so the
    input must be a plain column attribute, not an expression tree —
    an inlined norm_text() here re-ran the regexp O(len) times per row
    (docs/PLANS.md, expression materialization)."""
    length = F.length(c)
    idx = F.sequence(F.lit(1), F.greatest(length - (n - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(n))))


def word_shingles_from(words: Column, k: int = 3) -> Column:
    """Distinct k-word shingles from a MATERIALIZED token-array column
    (same per-element re-evaluation caveat as char_ngrams_from)."""
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    )


def shingle_stage(
    df: DataFrame, id_col: str, text_col: str, shingle: str, shingle_n: int
) -> DataFrame:
    """(id, _grams) with the canonical text / token array materialized
    in their own projections before the per-element shingle transform."""
    base = df.select(F.col(id_col).alias("id"), norm_text(text_col).alias("_c"))
    if shingle == "char":
        return base.select("id", char_ngrams_from(F.col("_c"), shingle_n).alias("_grams"))
    return base.select(
        "id", F.split(F.trim(F.col("_c")), r"\s+").alias("_w")
    ).select("id", word_shingles_from(F.col("_w"), shingle_n).alias("_grams"))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact character-n-gram Jaccard over all candidate pairs.

    The full pairwise form (used for small partitions / verify stages);
    the scale path prefilters with LSH (minhash_lsh_candidates) first.
    """
    grams = (
        df.select(F.col("doc_id").alias("id"), norm_text("text").alias("_c"))
        .select("id", F.explode(char_ngrams_from(F.col("_c"), n)).alias("g"))
        .distinct()
    )
    sizes = grams.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        grams.alias("a")
        .join(grams.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# -- minhash + LSH ---------------------------------------------------------

_M31 = (1 << 31) - 1



def _spread(df: DataFrame) -> DataFrame:
    """Repartition to cluster parallelism before a CPU-bound map stage.

    A byte-small input (one parquet split) would otherwise run the whole
    hash/signature computation in a single task — partition sizing by
    bytes is wrong for compute-bound stages.  At real scale the input
    already has many splits and this is a cheap round-robin."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _affine_params(num_hashes: int) -> list[tuple[int, int]]:
    return [
        (
            (1 * 0x9E3779B1 + i * 0x85EBCA77) % _M31 | 1,
            (1 * 0xC2B2AE3D + i * 0x27D4EB2F) % _M31,
        )
        for i in range(num_hashes)
    ]


def _affine_min_signature(hashes: Column, num_hashes: int) -> Column:
    """array<long> of num_hashes minima of affine reshuffles of a
    (materialized) 31-bit hash array — ONE traversal with an array
    accumulator, not num_hashes array_min columns.  The unrolled form
    paid num_hashes passes over the array plus a codegen unit that
    grows with num_hashes (see docs/PLANS.md, codegen-size cliff:
    measured 2.7x cold / 1.4x warm at sf0.1 for K=32).  All arithmetic
    stays under 2^56 (31-bit modulus x 25-bit-safe literals... a,b <
    2^31, h < 2^31 -> h*a < 2^62) so ANSI mode never sees overflow."""
    params = _affine_params(num_hashes)
    arr_a = F.array(*[F.lit(a).cast("long") for a, _ in params])
    arr_b = F.array(*[F.lit(b).cast("long") for _, b in params])
    idx = F.sequence(F.lit(1), F.lit(num_hashes))
    init = F.array_repeat(F.lit(_M31).cast("long"), num_hashes)
    mins = F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                idx,
                lambda i: F.pmod(
                    h * F.element_at(arr_a, i) + F.element_at(arr_b, i),
                    F.lit(_M31),
                ),
            ),
            lambda m, x: F.least(m, x),
        ),
    )
    # empty/null input keeps the pre-rewrite API value [null]*K
    # (array_min of an empty transform was null per element; an
    # aggregate's init would otherwise leak _M31 sentinels into
    # signatures persisted by callers).  Internal callers always feed
    # >=1 element (shingle/window stages clamp), so the branch is a
    # size check, never taken on the hot path.
    return F.when(
        F.coalesce(F.size(hashes), F.lit(0)) <= 0,
        F.array_repeat(F.lit(None).cast("long"), num_hashes),
    ).otherwise(mins)


def _window_hash_stage(
    df: DataFrame, id_col: str, text_col: str, shingle: str, shingle_n: int
) -> DataFrame:
    """(id, _h0) where _h0[i] is a 31-bit hash of the i-th shingle,
    computed WITHOUT materializing shingle strings: each element (word
    or char) is xxhash64'd ONCE, and a shingle's hash is the affine
    fold of its window's element hashes.  Hashing the concatenated
    shingle strings instead re-hashed every element n times through
    n-times-longer strings and was measured 6x slower at sf0.1 (the
    whole minhash signature stage: 6.4s -> 1.0s; BENCH.md r4).

    Mirrors shingle_stage's edge behavior: a doc shorter than the
    window still yields one (clamped) window, so short near-dups keep
    colliding; empty docs hash the empty token.  Signatures are
    min-reductions, so skipping array_distinct changes nothing.
    """
    base = df.select(F.col(id_col).alias("id"), norm_text(text_col).alias("_c"))
    if shingle == "char":
        length = F.length(F.col("_c"))
        elems = F.transform(
            F.sequence(F.lit(1), F.greatest(length, F.lit(1))),
            lambda i: F.col("_c").substr(i, F.lit(1)),
        )
    else:
        elems = F.split(F.trim(F.col("_c")), r"\s+")
    wh = base.select("id", elems.alias("_e")).select(
        "id",
        F.transform(
            F.col("_e"), lambda e: F.pmod(F.xxhash64(e), F.lit(_M31))
        ).alias("_wh"),
    )
    n = F.size(F.col("_wh"))
    idx = F.sequence(F.lit(1), F.greatest(n - (shingle_n - 1), F.lit(1)))
    C1 = 0x01000193  # < 2^25: products stay < 2^56, safe under ANSI

    def win(col, sz):
        def f(i):
            h = F.element_at(col, i)
            for j in range(1, shingle_n):
                h = F.pmod(
                    h * F.lit(C1)
                    + F.element_at(col, F.least(i + F.lit(j), sz)),
                    F.lit(_M31),
                )
            return h

        return f

    return wh.select("id", F.transform(idx, win(F.col("_wh"), n)).alias("_h0"))


def minhash_lsh_candidates(
    df: DataFrame,
    shingle: str = "char",
) -> DataFrame:
    """Candidate near-dup pairs from banded minhash (id_a < id_b).

    Default banding is 4 bands x 8 rows: collision threshold
    ~(1/4)^(1/8) ~= 0.84, tuned for >=0.8 near-dup detection without
    flooding the verify stage with sub-threshold candidates.

    Plan shape (scale-tuned, r4): per-doc window hashes
    (_window_hash_stage — one xxhash64 per element, shingle hash =
    arithmetic fold, no shingle strings) then the K signature minima
    as array_min over affine transforms — the whole signature is ONE
    map-side projection with zero shuffles; the earlier
    explode + groupBy-min formulation shuffled nothing either (partial
    agg) but paid one xxhash64 per (shingle x string-concat), 6x the
    arithmetic.  Band buckets then explode from the K columns and the
    only shuffles in the operator are the band-bucket self-join and
    the final distinct.
    """
    rows_per_band = 32 // 4
    # the signature array materializes in its own projection: the band
    # keys below reference it num_hashes times (cheap element_at once
    # it's a bound column; an inlined aggregate would re-run per band)
    sig = _window_hash_stage(_spread(df), "doc_id", "text", shingle, 3).select(
        "id", _affine_min_signature(F.col("_h0"), 32).alias("sig")
    )
    banded = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at(F.col("sig"), i + 1).cast("string")
                                    for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    shingle: str = "char",
) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard.

    The candidate set is explicitly repartitioned before the verify
    map: AQE's partition coalescing sizes by bytes, and the per-pair
    array intersections are CPU-bound, so a byte-small candidate set
    would otherwise verify on one core."""
    spark = df.sparkSession
    cand = minhash_lsh_candidates(df, shingle=shingle).repartition(spark.sparkContext.defaultParallelism, "id_a")
    grams = shingle_stage(df, "doc_id", "text", shingle, 3).withColumnRenamed(
        "_grams", "grams"
    )
    return (
        cand.join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("grams", "ga"), "id_a")
        .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("grams", "gb"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ga", "gb"))
            / F.size(F.array_union("ga", "gb")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# -- simhash -----------------------------------------------------------------


def token_hashes(col: Column) -> Column:
    """Per-token xxhash64 array of the whitespace tokens.  Materialize
    this in its OWN projection before feeding :func:`simhash64_from` —
    the 64 per-bit aggregates each re-evaluate their input expression
    tree, so an inlined hash array re-tokenizes+re-hashes 64x."""
    return F.transform(F.split(F.trim(col), r"\s+"), lambda t: F.xxhash64(t))


def simhash64_from(hashes: Column) -> Column:
    """64-bit SimHash from a (materialized) token-hash array column:
    per-bit sign sum, sign -> bit.

    One pass over the tokens with a 64-long array accumulator, then a
    pack fold — NOT 64 unrolled per-bit aggregates.  The unrolled form
    built an expression tree so large it fell out of whole-stage
    codegen into interpreted evaluation and ran 8-9x slower (sf0.1
    signature stage 1.7s vs 0.19s warm, 2.7s vs 0.26s with compile;
    BENCH.md r4).  ``F.shiftright`` in the Python wrapper only takes
    literal shift amounts, so the per-lambda-variable shifts go
    through ``call_function``."""
    zero64 = F.array_repeat(F.lit(0).cast("long"), 64)
    jidx = F.sequence(F.lit(0), F.lit(63))

    def bit_contribs(h: Column) -> Column:
        # [-1 | +1] per bit position: 2*bit - 1
        return F.transform(
            jidx,
            lambda j: F.call_function("shiftright", h, j).bitwiseAND(
                F.lit(1).cast("long")
            )
            * F.lit(2).cast("long")
            - F.lit(1).cast("long"),
        )

    counts = F.aggregate(
        hashes, zero64, lambda acc, h: F.zip_with(acc, bit_contribs(h), lambda a, b: a + b)
    )
    bits = F.zip_with(
        counts,
        jidx,
        lambda s, j: F.when(
            s > 0, F.call_function("shiftleft", F.lit(1).cast("long"), j)
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc.bitwiseOR(b)
    )


def simhash64(col: Column) -> Column:
    """64-bit SimHash over whitespace tokens (single-expression form;
    prefer materializing :func:`token_hashes` first on hot paths)."""
    return simhash64_from(token_hashes(col))


def simhash_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs within Hamming distance via pigeonhole banding —
    EXACT recall at every radius: a pair at distance <= d leaves at
    least one of the d+1 segments untouched, so the join is bucketed on
    single segments.  Key width shrinks as d grows (d=8 -> 7-bit keys),
    which floods the candidate stage with ~n^2/2^7 pairs per segment."""
    k = max_hamming + 1
    bounds = [round(64 * i / k) for i in range(k + 1)]

    def _mask(width: int) -> int:
        # all-ones signed long when one segment spans the full word
        return -1 if width >= 64 else (1 << width) - 1

    # Null texts are EXCLUDED (r4, deliberate semantics change): the
    # pre-r4 form hashed a null text to signature 0, so null-text docs
    # paired with each other and with genuinely-zero-signature docs —
    # junk pairs at corpus scale, and inconsistent with minhash, whose
    # verify stage drops null texts (null grams -> null jaccard).
    # The explicit scan filter plus the non-nullable coalesce also
    # keep Catalyst from deriving nullable join keys and pushing an
    # isnotnull(key) filter below each side's projection, which
    # duplicated the ENTIRE signature aggregate per row per side
    # (tests/test_plans.py pins the clean shape).
    sh = (
        _spread(df.where(F.col("text").isNotNull()))
        .select(F.col("doc_id").alias("id"), token_hashes(norm_text("text")).alias("hs"))
        .select(
            "id",
            F.coalesce(simhash64_from(F.col("hs")), F.lit(0).cast("long")).alias("sh"),
        )
    )

    def block(s: int) -> Column:
        return F.shiftright("sh", bounds[s]).bitwiseAND(
            F.lit(_mask(bounds[s + 1] - bounds[s])).cast("long")
        )

    tables = [F.struct(F.lit(s).alias("seg"), block(s).alias("key")) for s in range(k)]
    segs = sh.select(
        "id",
        "sh",
        F.explode(F.array(*tables)).alias("sk"),
    ).select("id", "sh", F.col("sk.seg").alias("seg"), F.col("sk.key").alias("key"))
    # Hamming-filter BEFORE the distinct: bit_count is a one-op ALU
    # check the join can apply as it emits, so the dedup shuffle sees
    # only true pairs (91,845 at sf0.1) instead of every banding
    # candidate (10.9M — a 119:1 reduction measured; BENCH.md r4).
    xor = F.col("a.sh").bitwiseXOR(F.col("b.sh"))
    return (
        segs.alias("a")
        .join(
            segs.alias("b"),
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("hamming", F.bit_count(xor))
        .where(F.col("hamming") <= max_hamming)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming")
        .distinct()
    )


# -- oracle-parity (md5) variants -------------------------------------------
# xxhash64 has no cross-engine twin, so the variants below derive every
# hash from md5 hex prefixes (identical bytes->hex in any engine): an
# external SQL oracle (DuckDB) reproduces the signatures exactly.  Plan
# shape (narrow map -> band explode -> bucketed self-join) is identical
# to the xxhash64 scale path above.


def minhash_signature_md5(grams: Column, num_hashes: int = 12) -> Column:
    """Array of minhashes as 15-hex-char strings (lexicographic min of a
    fixed-width hex string == numeric min of the 60-bit value)."""
    def hashed(prefix: str):
        # factory, not a default-arg lambda: a 2-param lambda would make
        # PySpark pass the array index as the second argument
        return lambda g: F.substring(F.md5(F.concat(F.lit(prefix), g)), 1, 15)

    return F.array(
        *[
            F.array_min(F.transform(grams, hashed(f"{i}|")))
            for i in range(num_hashes)
        ]
    )


def minhash_lsh_candidates_md5(
    df: DataFrame,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    shingle: str = "char",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b), md5-parity scheme.

    ``shingle='word'`` uses k-word shingles — more discriminative on
    natural text than character n-grams.
    """
    rpb = num_hashes // bands
    # grams materialize first: minhash_signature_md5 references its
    # input num_hashes times (per-column re-evaluation, docs/PLANS.md)
    banded = (
        shingle_stage(_spread(df), "doc_id", "text", shingle, shingle_n)
        .select("id", minhash_signature_md5(F.col("_grams"), num_hashes).alias("sig"))
        .select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.md5(
                                F.concat_ws(",", F.slice(F.col("sig"), b * rpb + 1, rpb))
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def simhash_md5_signatures(df: DataFrame) -> DataFrame:
    """60-bit SimHash per document from md5-derived token hashes.

    Explode (token x bit) then two groupBys — all JVM-side expressions;
    the per-bit sign sum and bit packing use only exact double/long
    arithmetic so an external oracle matches bit-for-bit.
    """
    toks = _spread(df).select(
        F.col("doc_id").alias("id"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("tok"),
    ).withColumn("hx", F.substring(F.md5(F.col("tok")), 1, 15))
    bits = toks.select(
        "id", "hx", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("j")
    )
    nib = F.conv(
        F.substring(F.col("hx"), F.lit(15) - F.floor(F.col("j") / 4).cast("int"), F.lit(1)),
        16,
        10,
    ).cast("int")
    bit = F.pmod(
        F.floor(nib / F.pow(F.lit(2.0), F.pmod(F.col("j"), F.lit(4)))).cast("int"),
        F.lit(2),
    )
    contrib = (bit * 2 - 1).alias("c")
    perbit = bits.select("id", "j", contrib).groupBy("id", "j").agg(
        F.sum("c").alias("s")
    )
    return (
        perbit.withColumn(
            "term",
            F.when(
                F.col("s") > 0, F.pow(F.lit(2.0), F.col("j")).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("id")
        .agg(F.sum("term").alias("simhash"))
        .select(F.col("id").alias("doc_id"), F.col("simhash"))
    )


# -- embedding-cosine near-dup --------------------------------------------


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: (id_a < id_b,
    sim >= threshold), sim rounded to 6.

    Correctness baseline: a blocked self cross-join with the cosine
    computed JVM-side (zip_with/aggregate — no Python).  O(n^2): use
    :func:`embedding_near_dup_lsh` as the scale path, which buckets by
    banded hyperplane sign sketches so the shuffle key is (band, sig)
    and only bucket-mates are compared.
    """
    from .simsearch import as_double, cosine_pre, finite_norm, norm

    # norms materialize below the join — once per row per side, so the
    # O(n^2) pair stage pays one dot traversal per pair (see cosine_pre).
    # finite_norm (not a bare > 0) per side: NaN-element vectors have a
    # NaN norm, and under Spark's NaN ordering both NaN > 0 and
    # NaN >= threshold are TRUE — an unguarded NaN row would emit
    # sim = NaN pairs past the threshold filter (ADVICE r4 bug class)
    a = _spread(
        emb.select(
            F.col("vec_id").alias("id_a"), as_double(F.col("embedding")).alias("_va")
        ).withColumn("_na", norm(F.col("_va"))).where(finite_norm(F.col("_na")))
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), as_double(F.col("embedding")).alias("_vb")
    ).withColumn("_nb", norm(F.col("_vb"))).where(finite_norm(F.col("_nb")))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "sim",
            F.round(
                cosine_pre(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
                6,
            ),
        )
        .where(F.col("sim") >= F.lit(threshold))
        .select("id_a", "id_b", "sim")
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.35,
) -> DataFrame:
    """Approximate near-dup pairs: banded sign-sketch bucketing generates
    candidates (pair survives iff some band matches), then the exact
    rounded cosine confirms.  Recall < 1 by construction; at 100 TB this
    is the only shape that avoids the quadratic shuffle."""
    from .simsearch import (
        LSH_BANDS,
        LSH_BITS,
        as_double,
        banded_keys,
        cosine_pre,
        finite_norm,
        lsh_signature_from,
        norm,
    )

    bands = banded_keys(F.col("_sig"), LSH_BITS, LSH_BANDS)

    keyed = (
        emb.select(F.col("vec_id").alias("id"), as_double(F.col("embedding")).alias("_v"))
        .withColumn("_n", norm(F.col("_v")))
        .where(finite_norm(F.col("_n")))  # degenerates (incl. NaN) exit before signature work
        .select("id", "_v", "_n", lsh_signature_from(F.col("_v"), LSH_BITS).alias("_sig"))
        .select("id", "_v", "_n", bands.alias("bb"))
        .select(
            "id", "_v", "_n", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey")
        )
    )
    left = keyed.select(
        F.col("id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na"),
        "band", "bkey",
    )
    right = keyed.select(
        F.col("id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
        "band", "bkey",
    )
    return (
        left.join(right, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_va", "_na", "_vb", "_nb")
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "sim",
            F.round(
                cosine_pre(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
                6,
            ),
        )
        .where(F.col("sim") >= F.lit(threshold))
        .select("id_a", "id_b", "sim")
    )
