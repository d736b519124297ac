"""Deduplication operators for training-data pipelines.

Each operator is declarative DataFrame composition: shingling /
hashing / banding / bucket-join all stay in native Spark expressions,
so Catalyst handles pushdown and AQE handles the bucket-join skew.
Scale notes per operator; no operator collects its rows. The one
intermediate read several times, the shingle table, is a local
checkpoint that lives as long as the DataFrame reading it.

- ``exact_dedup`` — hash-groupBy on a normalized fingerprint.
- ``minhash_dedup`` — shingle → k minhashes → LSH bands → bucket join
  → candidate pairs (verified with exact n-gram Jaccard).
- ``simhash`` / ``simhash_dedup`` — 64-bit weighted-majority token
  hash; near-dup when hamming distance ≤ k (bucketed by rotation).
- ``ngram_jaccard_pairs`` — exact Jaccard over shingle sets via
  explode + self-join (quadratic per shingle bucket; the verification
  primitive, not the discovery path at scale).
- ``embedding_cosine_dedup`` — random-hyperplane LSH buckets over an
  embedding column, verify cosine ≥ threshold.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from openmldb_spark.operators.text import fingerprint


def _cap_buckets(banded: DataFrame, bucket_col: str, cap: int) -> DataFrame:
    """Drop degenerate LSH buckets larger than ``cap`` — one viral /
    boilerplate bucket otherwise turns the self-join quadratic at
    100 TB (standard LSH practice; dropped buckets mean those docs are
    only compared through their other bands/segments)."""
    if not cap:
        return banded
    w = Window.partitionBy(bucket_col)
    return (
        banded.withColumn("__bn__", F.count(F.lit(1)).over(w))
        .filter(F.col("__bn__") <= cap)
        .drop("__bn__")
    )


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality WITHOUT a Spark job when the plan is
    file-backed: read one value of ``vec_col`` from the first input
    parquet file with pyarrow (driver-local footer+page read). Falls
    back to a driver-side ``first()`` for non-file plans — pass ``dim``
    explicitly in that case at scale."""
    try:
        files = df.inputFiles()
        if files:
            import pyarrow.parquet as pq

            path = files[0]
            for pre in ("file://", "file:"):
                if path.startswith(pre):
                    path = path[len(pre):]
                    break
            pf = pq.ParquetFile(path)
            if vec_col in pf.schema_arrow.names:
                batch = next(pf.iter_batches(batch_size=1, columns=[vec_col]))
                val = batch.column(0)[0].as_py()
                if val is not None:
                    return len(val)
    except Exception:  # noqa: BLE001 — remote fs / exotic plans: fall through
        pass
    return len(df.select(vec_col).first()[0])


__all__ = [
    "exact_dedup",
    "shingles",
    "minhash_signature",
    "minhash_dedup",
    "simhash",
    "simhash_dedup",
    "ngram_jaccard_pairs",
    "embedding_cosine_dedup",
]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                normalized: bool = True) -> DataFrame:
    """Keep exactly one row (min id) per identical document.

    ``normalized=True`` dedups on the casefolded/punct-stripped
    fingerprint; False on raw text equality. Single hash-shuffle on the
    fingerprint — the 100 TB-scale exact-dedup plan."""
    key = fingerprint(text_col) if normalized else F.col(text_col)
    w = Window.partitionBy(key).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def _tokenize(col, words: bool = True) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    if words:
        return F.split(F.trim(F.lower(F.regexp_replace(c, r"[^\w\s]", ""))), r"\s+")
    return F.split(F.lower(c), "")


def _grams_from_tokens(tok: Column, n: int) -> Column:
    """Distinct n-gram shingles from an ALREADY-MATERIALIZED token array
    column. Must only ever be applied to a bound column (not the raw
    tokenize expression): higher-order lambdas are interpreted without
    common-subexpression elimination, so an embedded tokenize expression
    would re-run its regexp once per shingle index — O(tokens²·regex)
    per document (measured 113 s vs <1 s over the sf1.0 documents)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(tok) - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(tok, i + 1, n), " "))
    return F.array_distinct(F.filter(grams, lambda g: F.length(g) > 0))


def _shingle_table(df: DataFrame, text_col: str, id_col: str, n: int,
                   words: bool = True) -> DataFrame:
    """(__id__, __sh__) shingle table, local-checkpointed so its readers
    (the minhash signature pass and both verify joins; both sides of
    the n-gram self-join) reuse grams built once. The checkpoint lives
    as long as the DataFrame that reads it. Tokenization is evaluated
    once per row: the token array is bound through a single-element
    ``transform`` (as ``simhash`` does), so the per-index gram lambda
    reads a lambda variable and CollapseProject cannot re-inline the
    regexp chain into it (see ``_grams_from_tokens``)."""
    # spread by id hash BEFORE tokenizing: a small parquet scan yields
    # 1-2 splits, and a checkpoint inherits them — every downstream
    # consumer (signature explode, both verify scans) would then run
    # 2-wide regardless of core count (measured: the whole shingle+sig
    # pipeline pinned to 2 tasks at sf1.0). The exchange moves raw text
    # once; tokenize+gram construction run at full parallelism.
    npart = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    grams = F.transform(F.array(_tokenize(F.col("__tx__"), words)),
                        lambda tk: _grams_from_tokens(tk, n))
    return (df.select(F.col(id_col).alias("__id__"), F.col(text_col).alias("__tx__"))
              .repartition(npart, "__id__")
              .select("__id__", F.element_at(grams, 1).alias("__sh__"))
              .localCheckpoint(eager=False))


def shingles(col, n: int = 3, words: bool = True) -> Column:
    """Distinct n-gram shingle array (word n-grams by default).

    Column-expression form: tokenization is evaluated O(1) times per row
    (shifted-slice zip_with — lambdas reference only lambda variables),
    not once per shingle index. Prefer ``_shingle_table`` inside
    operators: a checkpointed shingle table is cheaper still."""
    toks = _tokenize(col, words)
    if n <= 1:
        return F.array_distinct(F.filter(toks, lambda g: F.length(g) > 0))
    # L <= n → single gram joining all tokens (slice caps at L), exactly
    # like index-form sequence(0, greatest(L-n, 0)) == [0]
    short = F.array(F.array_join(F.slice(toks, 1, n), " "))
    m = F.size(toks) - (n - 1)
    parts = [F.slice(toks, i + 1, m) for i in range(n)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat(a, F.lit(" "), b))
    full = F.when(F.size(toks) <= n, short).otherwise(grams)
    return F.array_distinct(F.filter(full, lambda g: F.length(g) > 0))


def minhash_signature(shingle_col: Column, num_hashes: int = 64, seed: int = 42) -> Column:
    """array<bigint> of k minhashes: min over xxhash64(shingle, seed_i).

    Single pass over the shingle array: fold with an array<k> of running
    minima (k separate array_min passes would re-walk the shingles k
    times — 30× slower at k=32)."""
    seeds = F.array(*[F.lit(seed + i) for i in range(num_hashes)])
    init = F.array_repeat(F.lit(2**63 - 1), num_hashes)
    return F.aggregate(
        shingle_col,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(seeds, lambda sd: F.xxhash64(s, sd)),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding,
    verified with exact shingle Jaccard.

    Returns (id_a, id_b, jaccard) with id_a < id_b. Scale shape: the
    only shuffles are the band-bucket groupBys (bounded fan-out:
    bands × docs rows) and the verify join; no driver materialization.
    """
    rows_per_band = num_hashes // bands
    base = _shingle_table(df, text_col, id_col, shingle_n)
    # signature: explode shingles + k native min(xxhash64(shingle, seed_i))
    # aggregates — bit-identical to the array-fold minhash_signature but
    # whole-stage-codegen'd with map-side partial aggregation, instead of
    # interpreted per-element lambdas over k-wide arrays (2.6× faster at
    # sf1.0). Band value: xxhash64 of the comma-joined band slice — the
    # same bytes the array_join form produced.
    ex = base.select("__id__", F.explode("__sh__").alias("__g__"))
    sig = ex.groupBy("__id__").agg(*[
        F.min(F.xxhash64(F.col("__g__"), F.lit(seed + i))).alias(f"__h{i}__")
        for i in range(num_hashes)
    ])
    band_cols = [
        F.xxhash64(F.concat_ws(",", *[
            F.col(f"__h{b * rows_per_band + j}__").cast("string")
            for j in range(rows_per_band)
        ]), F.lit(b)).alias("__band__")
        for b in range(bands)
    ]
    # band-bucket join on ids ONLY — shingle arrays would otherwise ride
    # the bands×docs shuffle; they're re-joined for candidates below
    banded = sig.select("__id__", F.explode(F.array(*band_cols)).alias("__band__"))
    banded = _cap_buckets(banded, "__band__", max_bucket_size)
    a = banded.select(F.col("__id__").alias("id_a"), "__band__")
    b = banded.select(F.col("__id__").alias("id_b"), "__band__")
    pairs = (
        a.join(b, "__band__")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sh = base.select("__id__", "__sh__")
    pairs = (
        pairs.join(sh.withColumnRenamed("__id__", "id_a").withColumnRenamed("__sh__", "__sha__"), "id_a")
        .join(sh.withColumnRenamed("__id__", "id_b").withColumnRenamed("__sh__", "__shb__"), "id_b")
    )
    inter = F.size(F.array_intersect("__sha__", "__shb__")).cast("double")
    uni = F.size(F.array_union("__sha__", "__shb__")).cast("double")
    return (
        pairs.withColumn("jaccard", inter / uni)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _token_hashes(col, seed: int = 42, hash_fn: str = "xxhash64") -> Column:
    """array<long> of per-token hashes over word tokens."""
    toks = F.filter(_tokenize(col), lambda t: F.length(t) > 0)
    if hash_fn == "md5_60":
        return F.transform(
            toks, lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
        )
    return F.transform(toks, lambda t: F.xxhash64(t, F.lit(seed)))


def _simhash_from_hashes(hashes: Column, n: Column) -> Column:
    """64-bit weighted-majority simhash from a BOUND token-hash array
    column (see _grams_from_tokens for why it must be bound: the 64
    per-bit aggregates would otherwise each re-run tokenize+hash)."""

    def bit_expr(bit: int) -> Column:
        # helper freezes `bit` (a default-arg lambda would gain a 3rd
        # parameter and break F.aggregate's 2-arg merge contract)
        ones = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.shiftright(h, bit).bitwiseAND(F.lit(1)).cast("int"),
        )
        # majority of token hashes with the bit set → simhash bit set
        return F.shiftleft((ones * 2 > n).cast("long"), bit)

    out = bit_expr(0)
    for b in range(1, 64):
        out = out.bitwiseOR(bit_expr(b))
    return out


def simhash(col, seed: int = 42, hash_fn: str = "xxhash64") -> Column:
    """64-bit SimHash over word tokens, fully native: per token one
    hash; per bit a weighted majority via explode-free bit sums.

    ``hash_fn='md5_60'`` derives a 60-bit token hash from the first 15
    hex chars of standard MD5 instead of xxhash64 — slower, but
    portable: any engine with md5() reproduces it bit-for-bit, which
    lets the driver's DuckDB oracle recompute the exact fingerprints
    (seed is ignored on this path; used by the value-checked driver
    query).

    Column form: the token-hash array is bound through a single-element
    ``transform`` lambda so tokenize+hash evaluate once per row, not
    once per bit. Operators should prefer the materialized table path
    (``simhash_dedup``)."""
    hs = _token_hashes(col, seed, hash_fn)
    packed = F.transform(
        F.array(F.struct(hs.alias("h"))),
        lambda s: _simhash_from_hashes(s["h"], F.size(s["h"])),
    )
    return F.element_at(packed, 1)


def _popcount(col: Column) -> Column:
    return F.bit_count(col)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    seed: int = 42,
    max_bucket_size: int = 2000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance ≤ max_hamming.

    Bucketing: split the 64-bit hash into (max_hamming+1) segments —
    two docs within distance k must agree exactly on ≥1 segment
    (pigeonhole, EXACT — recall 1 up to the bucket cap), so candidates
    = same-segment-value pairs. Shuffle cost: (k+1) buckets per doc.
    """
    nseg = max_hamming + 1
    seg_bits = 64 // nseg
    # explode token hashes (the tokenize+hash chain evaluates once, in
    # the Generate) and compute the 64 per-bit majorities as native
    # codegen'd sums with map-side partial aggregation — the same bit
    # counts the per-bit interpreted array folds produced, 64 of which
    # would otherwise each walk the token array per row (17 s → <2 s
    # over the sf1.0 documents). explode_outer keeps zero-token docs:
    # their count is 0, every majority is false, simhash = 0 — exactly
    # the fold semantics. A NULL document has no fingerprint at all and
    # is dropped first, so it pairs with nothing.
    npart = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ex = (df.select(F.col(id_col).alias("__id__"), F.col(text_col).alias("__tx__"))
            .filter(F.col("__tx__").isNotNull())
            .repartition(npart, "__id__")  # don't pin tokenize+hash to the scan's 1-2 splits
            .select("__id__", F.explode_outer(
                _token_hashes(F.col("__tx__"), seed, hash_fn)).alias("__x__")))
    sums = ex.groupBy("__id__").agg(
        F.count("__x__").alias("__n__"),
        *[F.sum(F.shiftright(F.col("__x__"), b).bitwiseAND(F.lit(1)).cast("int")).alias(f"__s{b}__")
          for b in range(64)])
    hh = F.lit(0).cast("long")
    for b in range(64):
        hh = hh.bitwiseOR(F.shiftleft(
            (F.coalesce(F.col(f"__s{b}__"), F.lit(0)) * 2 > F.col("__n__")).cast("long"), b))
    h = sums.select("__id__", hh.alias("__h__"))
    segs = [
        F.struct(
            F.lit(i).alias("seg"),
            F.shiftright(F.col("__h__"), i * seg_bits)
            .bitwiseAND(F.lit((1 << seg_bits) - 1)).alias("val"),
        )
        for i in range(nseg)
    ]
    banded = h.select("__id__", "__h__", F.explode(F.array(*segs)).alias("__seg__"))
    banded = _cap_buckets(banded, "__seg__", max_bucket_size)
    a = banded.select(F.col("__id__").alias("id_a"), F.col("__h__").alias("__ha__"), "__seg__")
    b = banded.select(F.col("__id__").alias("id_b"), F.col("__h__").alias("__hb__"), "__seg__")
    pairs = (
        a.join(b, "__seg__")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ha__", "__hb__")
        .dropDuplicates(["id_a", "id_b"])
    )
    dist = _popcount(F.col("__ha__").bitwiseXOR(F.col("__hb__")))
    return (
        pairs.withColumn("hamming", dist.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via shingle explode +
    self-join. Exact but quadratic within shared-shingle buckets — use
    minhash_dedup for discovery at scale, this for verification."""
    sh = _shingle_table(df, text_col, id_col, n).withColumn("__n__", F.size("__sh__"))
    ex = sh.select("__id__", "__n__", F.explode("__sh__").alias("__g__"))
    a = ex.select(F.col("__id__").alias("id_a"), F.col("__n__").alias("na"), "__g__")
    b = ex.select(F.col("__id__").alias("id_b"), F.col("__n__").alias("nb"), "__g__")
    inter = (
        a.join(b, "__g__")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("__i__"))
    )
    jac = F.col("__i__") / (F.col("na") + F.col("nb") - F.col("__i__"))
    return (
        inter.withColumn("jaccard", jac.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_cosine_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int = 2000,
    extra_planes: int = 8,
) -> DataFrame:
    """Near-dup embedding pairs: random-hyperplane LSH sign-bucket +
    exact cosine verification. Planes are a deterministic driver-side
    constant (n_planes × dim floats) shipped as literals — no UDF.

    Unlike minhash/simhash this LSH has exactly ONE bucket per doc, so
    dropping an oversized bucket would silently lose its pairs — the
    densest near-dup clusters. Instead, buckets larger than
    ``max_bucket_size`` are SUB-BUCKETED by ``extra_planes`` additional
    sign bits (near-dups have close angles, so they mostly share the
    extra bits too); only sub-buckets still over the cap — essentially
    identical-vector floods — are dropped, a documented recall loss.

    Pass ``dim`` explicitly at scale: inferring it reads the first
    parquet row via a driver ``first()`` job."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_planes + extra_planes, dim))

    def dot_with_plane(v: Column, p: np.ndarray) -> Column:
        arr = F.array(*[F.lit(float(x)) for x in p])
        return F.aggregate(
            F.zip_with(v, arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    v = F.col(vec_col).cast("array<double>")
    sig = None
    for i in range(n_planes):
        bit = (dot_with_plane(v, planes[i]) > 0).cast("long")
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    esig = F.lit(0).cast("long")
    for i in range(extra_planes):
        bit = (dot_with_plane(v, planes[n_planes + i]) > 0).cast("long")
        esig = esig.bitwiseOR(F.shiftleft(bit, i))
    norm = F.sqrt(F.aggregate(F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x))

    h = df.select(F.col(id_col).alias("__id__"), v.alias("__v__"), sig.alias("__b__"),
                  esig.alias("__eb__"), norm.alias("__n__"))
    if max_bucket_size:
        # sub-bucket oversized sign-buckets by the extra bits, then drop
        # only sub-buckets that STILL exceed the cap
        wb = Window.partitionBy("__b__")
        h = h.withColumn("__bn__", F.count(F.lit(1)).over(wb))
        h = h.withColumn(
            "__sb__",
            F.when(F.col("__bn__") > max_bucket_size, F.col("__eb__")).otherwise(F.lit(0).cast("long")),
        ).drop("__bn__", "__eb__")
        wsb = Window.partitionBy("__b__", "__sb__")
        h = (h.withColumn("__bn__", F.count(F.lit(1)).over(wsb))
               .filter(F.col("__bn__") <= max_bucket_size)
               .drop("__bn__"))
    else:
        h = h.withColumn("__sb__", F.lit(0).cast("long")).drop("__eb__")
    a = h.select(F.col("__id__").alias("id_a"), F.col("__v__").alias("va"), F.col("__n__").alias("na"), "__b__", "__sb__")
    b = h.select(F.col("__id__").alias("id_b"), F.col("__v__").alias("vb"), F.col("__n__").alias("nb"), "__b__", "__sb__")
    pairs = (
        a.join(b, ["__b__", "__sb__"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
