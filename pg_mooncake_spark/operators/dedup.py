"""Deduplication operators for large-scale training-data pipelines.

Beyond reference parity (SURVEY.md §2.C): exact dedup, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding-cosine near-dup — each designed for
the 100 TB regime:

- no O(n²) pairwise scans: candidate generation is always an equi-join on
  a derived key (content hash, LSH band, shared shingle, LSH bucket), so
  Catalyst executes it as a shuffled hash/sort-merge join over the key;
- everything is built-in `pyspark.sql.functions` (whole-stage codegen) —
  no Python in the hot path;
- two hash flavors: `xxhash64` (fast JVM path, the production default)
  and `md5` (hex-string min, used where a DuckDB oracle must reproduce the
  signature bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ----------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup via a window over the content hash.

    Returns the input ids annotated with ``canonical_id`` (min id among
    identical texts) and ``is_duplicate``.  Scale: ONE shuffle on the
    256-bit content hash and ONE scan+hash pass; no text comparison
    ever crosses the wire — only (hash, id).

    Shape (round 15, measured): the previous groupBy+join formulation
    read the source and computed sha2 TWICE — the aggregate's partial
    exchange carries (h, min, count) rows, which Catalyst cannot reuse
    for the join side's (id, h) exchange — where a window over the
    hash computes them once.  A/B at sf10 (500k docs, ~10 copies each,
    tools/bench_dedup_exact_ab.py): join 2.34 s → window 1.51 s
    (−35%).  Swapping sha2 for an xxhash64 pair measured the SAME
    (1.64 s join / 1.64 s window): the cost was the double scan, not
    the digest — so the 256-bit hash stays.  Window partitions are one
    duplicate-group each (tiny), so the within-partition sort is
    skew-safe at any scale.
    """
    hashed = df.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("__h")
    )
    w = Window.partitionBy("__h")
    return hashed.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("canonical_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("group_size"),
    ).select(
        id_col,
        "canonical_id",
        "group_size",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )


# -------------------------------------------------------------- shingles


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of a text column (JVM higher-order only).

    tokens[i..i+k-1] joined by space, for i in 0..len-k — built by
    zipping k length-aligned shifted slices of the token array.  The
    index-lambda alternative (``transform(sequence(…), i ->
    concat_ws(element_at(toks, i), …))``) re-evaluates the ``split``
    inside the lambda per element — k × #shingles splits per row instead
    of k (measured ~3× slower on real documents).

    Short texts (< k tokens) yield an empty array: ``greatest(n-k+1, 0)``
    makes every slice empty, so the zip chain is empty too.
    """
    return F.array_distinct(word_kgrams(text, k))


def word_kgrams(text: Column, k: int = 3) -> Column:
    """All word k-grams in order (duplicates kept) — the non-distinct
    building block behind ``word_shingles``; repetition scoring needs the
    total-vs-distinct ratio, so duplicates must survive here."""
    toks = F.split(text, " ")
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    res = F.slice(toks, 1, m)
    for j in range(1, k):
        res = F.zip_with(
            res, F.slice(toks, 1 + j, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    return res


# -------------------------------------------------------------- minhash


def minhash_signature(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_k: int = 3,
    use_md5: bool = False,
) -> DataFrame:
    """MinHash signatures: sig[s] = min over shingles of hash(shingle, s).

    MAP-ONLY shape: the shingle array is hashed once per row (``xxhash64``
    per shingle; shingle strings kept verbatim in md5 oracle mode),
    materialized through an ``explode(array(...))`` generator barrier —
    Catalyst's CollapseProject would otherwise inline the shingling into
    every signature position, re-shingling each row ``num_hashes``×
    (measured ~5× slower; common-subexpression elimination does not
    cover higher-order lambdas) — then each family member is an
    ``array_min`` over cheap re-hashes of the materialized values (for
    xxhash64: a fixed 8-byte re-hash per seed instead of ``num_hashes``
    full string hashes).  Zero shuffles: ~20% faster than the previous
    explode+groupBy shape at sf0.1 (in-session A/B) and strictly better
    at scale — no #docs × num_hashes aggregation exchange at all.

    Empty docs produce an all-NULL signature (``array_min`` over an
    empty array), exactly as the aggregation shape did.
    """
    # The num_hashes member expressions are built as ONE SQL string
    # parsed JVM-side (F.expr): the per-Column py4j construction of 16
    # array_min(transform(...)) trees cost ~0.5 s of driver time per
    # query build (profiled: >8k py4j round trips for the pairs
    # pipeline), where one parse is a single round trip.  The parsed
    # tree is the same expression (same functions, same literal types),
    # so the physical plan and values are unchanged.
    if use_md5:
        hashed = word_shingles(F.col(text_col), shingle_k)
        members = [
            f"array_min(transform(`_hs`, x -> md5(concat(x, '#{s}'))))"
            for s in range(num_hashes)
        ]
    else:
        hashed = F.transform(
            word_shingles(F.col(text_col), shingle_k), lambda s: F.xxhash64(s)
        )
        members = [
            f"array_min(transform(`_hs`, h -> xxhash64(h, {s})))"
            for s in range(num_hashes)
        ]

    base = df.select(F.col(id_col), hashed.alias("_hs0"))
    barrier = base.select("*", F.explode(F.array("_hs0")).alias("_hs")).drop("_hs0")
    return barrier.select(
        id_col,
        F.expr("array(" + ", ".join(members) + ")").alias("signature"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    num_hashes: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into ``bands`` equal bands, key
    each band by its hash, and equi-join band keys → candidate pairs.

    This is the scale move: pair generation is #(bucket choose 2) summed
    over buckets, not n² — Catalyst runs it as an ordinary shuffle join
    on (band_idx, band_hash).

    Pass ``num_hashes`` when known: deriving it costs an extra action
    (and a full recompute of an un-materialized signature plan).
    """
    n = (
        num_hashes
        if num_hashes is not None
        else signatures.select(F.size("signature")).first()[0]
    )
    rows_per_band = n // bands
    banded = signatures.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.hash(
                        F.slice(
                            F.col("signature"), b * rows_per_band + 1, rows_per_band
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band_idx") == F.col("b.band_idx"))
            & (F.col(f"a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    use_md5: bool = False,
) -> DataFrame:
    """Near-duplicate pairs: MinHash → LSH bands → candidate join →
    estimated Jaccard (matching minhash fraction) ≥ threshold.

    Signatures are materialized (persist) before the band explode and the
    two estimate joins: the signature plan feeds THREE consumers, and
    re-deriving the explode+groupBy per consumer triples the heavy part
    of the pipeline.  At warehouse scale, write signatures to a table
    instead; the pipeline shape is identical.
    """
    sigs = minhash_signature(df, text_col, id_col, num_hashes, shingle_k, use_md5)
    sigs = sigs.persist()
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_hashes=num_hashes)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


# ------------------------------------------- persisted incremental index

# Hidden to parquet scans (leading underscore), visible to us: the index
# parameters are pinned at build time so extend/probe can never disagree
# with the layout on disk (a probe run with a different n_shards would
# compute different shard values and silently miss true duplicates).
_INDEX_META_FILE = "_MINHASH_INDEX_META.json"


def _hadoop_path(spark, path: str):
    """(FileSystem, Path) through the Hadoop API — works on every
    Spark-supported scheme (s3a://, hdfs://, file:), unlike driver-local
    ``os.path`` checks."""
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path(path)
    fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hp


def minhash_index_exists(spark, path: str) -> bool:
    """True if a COMPLETE persisted MinHash index exists at ``path`` on
    whatever filesystem the path's scheme selects.  Gated on the meta
    file (written last, atomically) OR the parquet job's ``_SUCCESS``
    marker (pre-metadata indexes — the old contract — committed that
    way): a crashed build leaves parquet debris but neither marker, and
    the next caller rebuilds instead of extending/probing a corrupt
    index — while a complete legacy index is never mistaken for debris
    and silently overwritten."""
    base = path.rstrip("/")
    fs, meta = _hadoop_path(spark, f"{base}/{_INDEX_META_FILE}")
    if fs.exists(meta):
        return True
    jvm = spark._jvm
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(f"{base}/_SUCCESS")))


def _write_index_meta(spark, path: str, meta: dict) -> None:
    import json as _json

    # atomic: write to a temp name, then rename over the final name —
    # a half-written meta must never make a half-built index look valid
    base = path.rstrip("/")
    fs, final = _hadoop_path(spark, f"{base}/{_INDEX_META_FILE}")
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{base}/.{_INDEX_META_FILE}.tmp"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(_json.dumps(meta, sort_keys=True).encode()))
    finally:
        out.close()
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"cannot commit index metadata at {final}")


def read_minhash_index_meta(spark, path: str):
    """The parameters the index at ``path`` was built with, or ``None``
    for a pre-metadata index (callers then fall back to their own
    arguments, the old contract)."""
    import json as _json

    fs, hp = _hadoop_path(spark, f"{path.rstrip('/')}/{_INDEX_META_FILE}")
    if not fs.exists(hp):
        return None
    stream = fs.open(hp)
    try:
        data = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return _json.loads(data.decode())


def _resolve_index_params(
    spark, path: str, num_hashes: int, bands: int, shingle_k: int,
    n_shards: int, id_col: str,
) -> tuple[int, int, int, int, str]:
    """Pinned-at-build parameters win over caller arguments: the disk
    layout is the truth — probing with a mismatched ``n_shards`` loses
    duplicates, and extending under a different ``id_col`` name splits
    the parquet schema (later reads resolve one name and see the other
    generation's ids as NULL)."""
    meta = read_minhash_index_meta(spark, path)
    if meta is None:
        return num_hashes, bands, shingle_k, n_shards, id_col
    return (
        int(meta["num_hashes"]), int(meta["bands"]),
        int(meta["shingle_k"]), int(meta["n_shards"]),
        str(meta.get("id_col") or id_col),
    )


def _banded(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    n_shards: int,
) -> DataFrame:
    """Explode a signature table into (id, signature, band_idx,
    band_hash, shard) band rows — the shared layout of the persisted
    index and its probe side."""
    rpb = num_hashes // bands
    return sigs.select(
        F.col(id_col),
        F.col("signature"),
        F.posexplode(
            F.array(
                *[
                    F.hash(F.slice(F.col("signature"), b * rpb + 1, rpb))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    ).withColumn("shard", F.pmod(F.col("band_hash"), F.lit(n_shards)))


def build_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    n_shards: int = 16,
) -> None:
    """Persist a corpus-wide MinHash band index for INCREMENTAL dedup:
    one row per (doc, band) carrying the band hash and the full
    signature, physically partitioned by ``shard = band_hash mod
    n_shards``.

    This is the 100 TB move the all-pairs job cannot make: deduping a
    new crawl increment against an existing corpus must not re-shingle
    or re-shuffle the corpus.  The index is built ONCE (map-only
    signatures → one write), and every probe joins only band rows —
    16 longs + 2 ints per (doc, band), no text.  The shard partition
    column exists for dynamic partition pruning: a broadcast probe
    prunes index shards to the probe's own band hashes, so a small
    increment reads a fraction of the index files (asserted in
    tests/test_plans.py).  At 10⁹+ docs raise ``n_shards`` so a shard
    is a few GB.

    Append new accepted batches with ``mode='append'`` via
    :func:`extend_minhash_index` to keep the index current.  The build
    parameters are pinned in ``_MINHASH_INDEX_META.json`` alongside the
    data (hidden to parquet scans); extend/probe read them back so a
    caller's mismatched defaults can never silently probe the wrong
    shard layout."""
    sigs = minhash_signature(df, text_col, id_col, num_hashes, shingle_k)
    (
        _banded(sigs, id_col, num_hashes, bands, n_shards)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    _write_index_meta(df.sparkSession, path, {
        "num_hashes": num_hashes, "bands": bands,
        "shingle_k": shingle_k, "n_shards": n_shards,
        "id_col": id_col,
    })


def extend_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    n_shards: int = 16,
) -> None:
    """Append a new (accepted) batch's band rows to an existing index —
    O(batch) work, no corpus rescan.  Parameters pinned at build time
    override the caller's arguments (disk layout is the truth); band
    rows land under the PINNED id column name so every generation of
    the index shares one parquet schema."""
    num_hashes, bands, shingle_k, n_shards, pinned_id = (
        _resolve_index_params(
            df.sparkSession, path, num_hashes, bands, shingle_k,
            n_shards, id_col,
        )
    )
    sigs = minhash_signature(df, text_col, id_col, num_hashes, shingle_k)
    if pinned_id != id_col:
        sigs = sigs.withColumnRenamed(id_col, pinned_id)
    (
        _banded(sigs, pinned_id, num_hashes, bands, n_shards)
        .write.mode("append")
        .partitionBy("shard")
        .parquet(path)
    )


def probe_minhash_index(
    spark,
    path: str,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    n_shards: int = 16,
    broadcast_probe: bool = True,
) -> DataFrame:
    """Dedup a new batch against a :func:`build_minhash_index` corpus:
    returns (new_id, corpus_id, est_jaccard) for every new document
    whose estimated Jaccard against an indexed document clears
    ``threshold``.

    Shape: batch signatures are map-only; the candidate step is ONE
    equi-join on (shard, band_idx, band_hash) with the small probe side
    broadcast — Spark's dynamic partition pruning then skips index
    shards no probe band hashes into.  Both sides carry their
    signature, so the Jaccard estimate (matching-position fraction,
    zip_with — JVM-side) needs NO extra join back to either corpus.
    Band-hash collisions (Murmur3) are filtered by the estimate
    exactly as in minhash_dedup_pairs.  Parameters pinned at build time
    override the caller's arguments — a probe with a different
    ``n_shards`` would shard-join against the wrong partitions and
    silently miss true duplicates."""
    num_hashes, bands, shingle_k, n_shards, pinned_id = (
        _resolve_index_params(
            spark, path, num_hashes, bands, shingle_k, n_shards, id_col,
        )
    )
    sigs = minhash_signature(new_df, text_col, id_col, num_hashes, shingle_k)
    probe = _banded(sigs, id_col, num_hashes, bands, n_shards).select(
        F.col(id_col).alias("new_id"),
        F.col("signature").alias("sig_new"),
        "band_idx", "band_hash", "shard",
    )
    if broadcast_probe:
        probe = F.broadcast(probe)
    # the INDEX side reads under the id column name pinned at build —
    # the probe batch's own id name is independent of it
    idx = spark.read.parquet(path).select(
        F.col(pinned_id).alias("corpus_id"),
        F.col("signature").alias("sig_old"),
        "band_idx", "band_hash", "shard",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_new", "sig_old", lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        idx.join(probe, ["shard", "band_idx", "band_hash"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id", "sig_new", "sig_old")
        .dropDuplicates(["new_id", "corpus_id"])
        .select(
            "new_id", "corpus_id", F.round(est, 6).alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


# --------------------------------------------------------------- simhash


def simhash_fingerprint(text_col: str, bits: int = 64) -> Column:
    """The SimHash fingerprint as a pure column expression: per-token
    64-bit hash votes ±1 on each bit; the sign of each bit-sum is the
    fingerprint bit.  Stateless and JVM-side, so it runs identically in
    batch scans and streaming micro-batches.

    Entirely JVM-side: tokens → xxhash64 → per-token bit array
    (transform over sequence(0,bits-1)) → element-wise fold
    (aggregate + zip_with).  Near-dup distance = hamming(sim_a, sim_b).
    """
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    # j is unrolled python-side: shiftright needs an int shift amount, and
    # the unrolled form keeps everything in one codegen'd expression.
    tok_bits = F.transform(
        toks,
        lambda t: F.array(
            *[
                (
                    F.shiftright(F.xxhash64(t), j).bitwiseAND(F.lit(1)) * 2 - 1
                ).cast("long")
                for j in range(bits)
            ]
        ),
    )
    summed = F.aggregate(
        tok_bits,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
    )
    return F.concat_ws(
        "", F.transform(summed, lambda s: F.when(s > 0, "1").otherwise("0"))
    )


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64
) -> DataFrame:
    """Per-document SimHash fingerprints (see simhash_fingerprint).

    Staged spelling (r19): the Column form hashes every token ``bits``
    times (the per-bit exprs are unrolled, each calling
    ``xxhash64(t)``), and CollapseProject re-inlines the whole
    fingerprint into every downstream reference (simhash_banded_pairs
    reads it 9×: 8 band substrings + the carried column).  Here the
    per-token hash array and the fingerprint are each materialized once
    per row via the ``explode(array(...))`` 1:1 barrier; the per-bit
    vote sums run over the materialized hash column (``bits`` cheap
    passes instead of per-token 64-wide array allocations).  Same
    votes, same integer sums, same sign rule — bit-identical (pinned in
    tests/test_opt_r19.py against the Column spelling over adversarial
    docs, incl. null and empty text; null text fingerprints to '')."""
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    b1 = df.select(
        F.col(id_col), F.explode(F.array(hashes)).alias("_sh")
    )
    # one aggregate per bit over the materialized hash array; the guard
    # reproduces the Column form's null propagation (null text → null
    # sums → concat_ws yields the same value)
    summed = F.when(
        F.col("_sh").isNotNull(),
        F.array(
            *[
                F.aggregate(
                    F.col("_sh"),
                    F.lit(0).cast("long"),
                    (
                        lambda j: lambda a, h: a
                        + (
                            F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1
                        ).cast("long")
                    )(j),
                )
                for j in range(bits)
            ]
        ),
    )
    fp = F.concat_ws(
        "", F.transform(summed, lambda s: F.when(s > 0, "1").otherwise("0"))
    )
    return b1.select(
        F.col(id_col), F.explode(F.array(fp)).alias("simhash_bits")
    )


def simhash_banded_pairs(
    fingerprints: DataFrame,
    id_col: str,
    bits: int = 64,
    bands: int = 8,
    max_hamming: int = 6,
) -> DataFrame:
    """SimHash near-duplicate *search*: band the fingerprint, equi-join
    band substrings, hamming-filter candidates.

    Pigeonhole recall guarantee: if hamming(a, b) <= bands - 1, the
    differing bits cannot touch every band, so at least one band matches
    exactly and the pair is generated.  Defaults (8 bands of 8 bits,
    max_hamming 6) make recall exact for the threshold; precision comes
    from the hamming filter.  Candidate volume is sum over band-buckets of
    (bucket choose 2) — an equi-join shuffle, never n² (the same scale
    shape as :func:`lsh_candidate_pairs`).

    The full fingerprint rides along through the band explode (bits/8
    bytes × bands per doc) so hamming is computed join-side — cheaper than
    two extra fingerprint re-join shuffles after candidate generation.

    Scale dial: band width = bits/bands controls bucket selectivity — a
    band matches ~2^-width of the corpus, so narrower bands (higher
    recall threshold) mean fatter buckets and more candidates.  For a
    lower max_hamming, prefer fewer/wider bands; for a higher one at
    corpus scale, widen the fingerprint (e.g. 128-bit via two xxhash64
    seeds) instead of shrinking bands below ~8 bits.

    NULL text: its fingerprint is '', conv('') packs to NULL and NULL
    bands never join, so two or more NULL-text documents yield no pairs
    (pinned in tests/test_opt_r19.py).
    """
    if bands <= max_hamming:
        raise ValueError(
            f"recall guarantee needs bands > max_hamming "
            f"(got bands={bands}, max_hamming={max_hamming})"
        )
    if bits > 64:
        raise ValueError("packed fingerprint path supports bits <= 64")
    width = bits // bands
    # r19: pack the bit string into ONE BIGINT per doc (bit j of the
    # string at integer position bits-1-j, built from 32-bit conv
    # chunks).  Bands become shift+mask over the packed value and
    # hamming becomes bit_count(a XOR b) — the same 8-bit groupings and
    # the same popcount of differing bits as the substring/split
    # spelling (invariant under the fixed bit permutation), at ~3 ops
    # per candidate instead of two 64-way splits + zip per pair.  The
    # fixture's templated texts cluster fingerprints hard (sf0.1: 5,050
    # docs -> 16.2M candidate pairs, one 8-bit bucket holding half the
    # corpus), so per-candidate cost IS the query: the string spelling
    # ran ~460 s at sf0.1, the packed one ~4 s.  The banding exchange
    # also carries 8 bytes instead of a 64-char string.
    packed = F.lit(0).cast("long")
    pos = 0
    while pos < bits:
        chunk = min(32, bits - pos)
        # shiftleft/bitwiseOR: plain * and + would raise ANSI
        # ARITHMETIC_OVERFLOW once bit 63 (string position 1) is set
        packed = F.shiftleft(packed, chunk).bitwiseOR(
            F.conv(
                F.substring("simhash_bits", pos + 1, chunk), 2, 10
            ).cast("long")
        )
        pos += chunk
    b1 = fingerprints.select(
        F.col(id_col), F.explode(F.array(packed)).alias("_fp64")
    )
    mask = (1 << width) - 1
    banded = b1.select(
        F.col(id_col),
        F.col("_fp64"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(
                        F.col("_fp64"), bits - width * (b + 1)
                    ).bitwiseAND(F.lit(mask))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_sub"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sub") == F.col("b.band_sub"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a._fp64").bitwiseXOR(F.col("b._fp64"))
            ).cast("bigint").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length bit strings."""
    return F.size(
        F.filter(
            F.zip_with(F.split(a, ""), F.split(b, ""), lambda x, y: x != y),
            lambda m: m,
        )
    ).cast("bigint")


# ------------------------------------------------------- n-gram jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.4,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard over word k-shingles, via an inverted-index join.

    shared(a,b) = #common shingles comes from a self-join of the exploded
    (id, shingle) relation on shingle — never a cartesian over documents.

    ``max_doc_freq`` caps hub shingles: a shingle present in > F docs
    contributes C(F, 2)+ candidate pairs (quadratic in the hub size) while
    carrying almost no similarity signal — boilerplate headers/footers at
    corpus scale.  Shingles over the cap are dropped from the similarity
    universe entirely (both the shared counts and the set sizes), so the
    Jaccard stays internally consistent over the filtered universe; pairs
    sharing ONLY hub shingles are treated as unrelated, which is the
    point.  The hub set is tiny by definition → broadcast anti-join, no
    extra shuffle of the inverted index.
    """
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_k)).alias("s")
    )
    if max_doc_freq is not None:
        # word_shingles is distinct per doc, so count(*) == doc frequency
        hubs = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("s")
        )
        sh = sh.join(F.broadcast(hubs), "s", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def shared_substring_runs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 5,
    min_run: int = 3,
    max_doc_freq: int = 64,
) -> DataFrame:
    """Cross-document EXACT shared-substring detection — the dedup
    signal of Lee et al., "Deduplicating Training Data Makes Language
    Models Better" (substring-level dup removal): two documents share a
    verbatim substring of >= shingle_k + min_run - 1 tokens iff they
    share >= min_run CONSECUTIVE positional word k-grams.

    Plan (never all-pairs): posexplode positional k-grams, equi-join on
    the k-gram (inverted index), then collapse each (pair, diagonal =
    pos_a - pos_b) to maximal runs with ONE gaps-and-islands window —
    consecutive positions on a diagonal are exactly the consecutive
    shared k-grams of one substring alignment.

    ``max_doc_freq`` caps hub k-grams on BOTH sides before the join
    (stop-phrase k-grams fan the join out quadratically at corpus scale
    while any run through them is boilerplate by definition); an oracle
    must mirror the cap.  Returns one row per detected pair:
    (id_a, id_b, max_run, max_shared_tokens).

    Scale: one shuffle keyed on the k-gram (join + doc-frequency), one
    on (id_a, id_b, diag) for the window — both high-cardinality
    composite keys; the window partitions are single alignments, never
    whole documents.
    """
    from pyspark.sql import Window

    sh = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(word_kgrams(F.col(text_col), shingle_k)).alias(
            "pos", "s"
        ),
    )
    hubs = (
        sh.groupBy("s")
        .agg(F.countDistinct("doc").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("s")
    )
    sh = sh.join(F.broadcast(hubs), "s", "left_anti")
    pairs = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.col("a.pos").alias("pa"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    return (
        pairs.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
        .groupBy("id_a", "id_b")
        .agg(F.max("run").alias("max_run"))
        .filter(F.col("max_run") >= min_run)
        .withColumn(
            "max_shared_tokens", F.col("max_run") + F.lit(shingle_k - 1)
        )
    )


# ------------------------------------------------- embedding near-dup


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    planes: int = 8,
) -> DataFrame:
    """Embedding near-duplicates: cosine ≥ threshold among LSH-bucketed
    candidates (random-hyperplane signatures).

    Hyperplane weights are a deterministic pseudo-random function of
    (plane, dimension) — pure arithmetic, reproducible in any engine.
    Bucket = sign bits of the ``planes`` projections; candidate pairs form
    only within a bucket (high-cosine pairs collide with high probability).
    """
    from pg_mooncake_spark.operators.similarity import lsh_bucket
    from pg_mooncake_spark.functions import cosine

    b = df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    x = b.alias("x")
    y = b.alias("y")
    cos = cosine(F.col(f"x.{vec_col}"), F.col(f"y.{vec_col}"))
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.round(cos, 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


# ---------------------------------------------------- connected components


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a duplicate-pair edge list — the step
    that turns pairwise near-dup output (MinHash / SimHash / Jaccard
    candidate pairs) into transitive dedup groups, so "A~B, B~C" collapses
    A, B and C into one group even when A~C was never emitted as a pair.

    Returns ``(node, component_id)`` for every node that appears in
    ``pairs``; ``component_id`` is the smallest node id in the component
    (the canonical document).  Join back to the full corpus with a left
    join + coalesce to assign singletons their own id.

    Scale design (reference parity: the reference has no graph operator —
    this is part of the §2.C training-pipeline extension surface):

    - iterative min-label propagation: each round is one equi-join on the
      node id (shuffled hash join) plus one min-aggregation — partial
      (map-side) min combine makes the shuffle traffic O(#distinct nodes),
      never O(#edges);
    - no edge or label data ever reaches the driver; the only collected
      value per round is a 0/1 convergence probe (``limit(1).count()``);
    - rounds needed = component diameter.  Near-dup clusters are shallow
      stars around a canonical doc (diameter ≤ ~4), so a handful of rounds
      converges; when a component is deeper than ``max_iter`` (an
      adversarially long chain of pairwise-similar documents), the
      operator hands off to the large-star/small-star alternation
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14), which converges in O(log n) alternations regardless of
      diameter — same output contract, so the result is always the
      min-id labeling;
    - lineage is truncated every round (``localCheckpoint``) so the
      iterated plan stays constant-size instead of doubling per round (on
      a real cluster prefer a reliable ``checkpoint`` dir for fault
      tolerance; local mode has no such distinction).
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor = (
            edges.join(
                labels.select(F.col("node").alias("dst"), "comp"), "dst"
            ).select(F.col("src").alias("node"), "comp")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        changed = (
            new_labels.join(
                labels.select("node", F.col("comp").alias("old")), "node"
            )
            .filter(F.col("comp") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            edges.unpersist()
            return labels

    # Adversarially deep components (diameter > max_iter — e.g. a long
    # chain of pairwise-similar documents) exceed label propagation's
    # diameter-bound round count.  Switch to the large-star/small-star
    # alternation (Kiveris et al., SoCC'14), which contracts every
    # component into a star rooted at its minimum id in O(log n)
    # alternations regardless of diameter.  Each phase is one
    # groupBy-min + one equi-join; the only driver traffic is the O(1)
    # convergence fingerprint.
    nodes = labels.select("node")
    star = edges  # (src, dst), symmetric
    prev_fp = None
    converged = False
    for _ in range(64):  # ≥ log2 of any feasible node count
        sym = (
            star.unionByName(
                star.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # large-star: every neighbor larger than u links to u's min
        mn = (
            sym.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m"))
        )
        ls = (
            sym.join(mn, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star: every not-larger neighbor (and u itself) links to
        # the min of u's smaller neighborhood; ls edges already point
        # larger → smaller
        mn2 = (
            ls.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m"))
        )
        joined = ls.join(mn2, "src")
        ss = (
            joined.select(F.col("dst").alias("node"), F.col("m").alias("comp"))
            .unionByName(
                joined.select(F.col("src").alias("node"), F.col("m").alias("comp"))
            )
            .where(F.col("node") != F.col("comp"))
            .select(F.col("node").alias("src"), F.col("comp").alias("dst"))
            .distinct()
            .localCheckpoint()
        )
        r = ss.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                # decimal accumulator: a long sum of 64-bit hashes
                # overflows under ANSI mode
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).first()
        fp = (r["n"], r["h"])
        star = ss
        if fp == prev_fp:  # exact fixpoint: the edge set is stable stars
            converged = True
            break
        prev_fp = fp
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            "connected_components star alternation did not converge in 64 "
            "rounds — this should be impossible for any real graph"
        )
    comp = (
        star.groupBy("src")
        .agg(F.min("dst").alias("comp"))
        .select(F.col("src").alias("node"), "comp")
    )
    return nodes.join(comp, "node", "left").select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )
