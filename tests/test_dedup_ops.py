"""Direct unit tests for dedup operators (the catalog exercises them
end-to-end; these pin the per-function contracts on tiny inline data)."""

from __future__ import annotations

from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    neardup_pairs_jaccard,
    simhash32,
)


def test_exact_dedup_keeps_first_by_order_col(spark):
    df = spark.createDataFrame(
        [("a", 3, "x3"), ("a", 1, "x1"), ("a", 2, "x2"), ("b", 9, "y9")],
        "key STRING, seq LONG, payload STRING",
    )
    out = exact_dedup(df, ["key"], "seq").orderBy("key").collect()
    assert [(r["key"], r["seq"], r["payload"]) for r in out] == [("a", 1, "x1"), ("b", 9, "y9")]


def test_minhash_identical_texts_identical_signatures(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely here now")],
        "doc_id LONG, text STRING",
    )
    sig = {r["doc_id"]: tuple(r[f"mh{k}"] for k in range(8)) for r in minhash_signatures(df).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[3]


def test_lsh_candidates_find_identical_pair_only(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta"),
         (3, "one two three four five six seven eight nine")],
        "doc_id LONG, text STRING",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(df, materialize=False).collect()}
    assert (1, 2) in pairs
    assert all(p in {(1, 2)} for p in pairs)


def test_neardup_jaccard_values(spark):
    # doc 2 = doc 1 minus the last word → high but < 1.0 jaccard; doc 3 disjoint
    t1 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    df = spark.createDataFrame(
        [(1, t1), (2, t1.rsplit(" ", 1)[0]), (3, "q r s t u v w x y z")],
        "doc_id LONG, text STRING",
    )
    rows = neardup_pairs_jaccard(df, threshold=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # shingles: 8 vs 7, intersection 7 → 7/8
    assert r["jaccard"] == 0.875


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [(1, "spark spark spark"), (2, "spark spark spark"), (3, "entirely other material")],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash32(df).collect()}
    assert out[1] == out[2] and len(out[1]) == 32 and set(out[1]) <= {"0", "1"}
    hamming = sum(a != b for a, b in zip(out[1], out[3]))
    assert hamming > 4  # unrelated docs differ in many bits


def test_incremental_neardup_filter(spark):
    from universal_aws_data_pipeline_spark.operators.dedup import incremental_neardup_filter

    base = " ".join(f"tok{i}" for i in range(40))  # long doc → high-jaccard mutation
    existing = spark.createDataFrame([(1, base)], "doc_id LONG, text STRING")
    new = spark.createDataFrame(
        [
            # near-dup of existing doc 1 (last word dropped) -> filtered out
            (100, base.rsplit(" ", 1)[0]),
            # genuinely new -> kept
            (101, "completely fresh material nothing like the old corpus at all"),
            # exact copy of existing -> filtered out
            (102, base),
        ],
        "doc_id LONG, text STRING",
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_neardup_filter(new, existing, threshold=0.5, num_hashes=8, bands=4).collect()
    )
    assert kept == [101]


def test_neardup_index_build_probe_matches_recompute(spark, tmp_path):
    """Stored-index probe must return exactly what the recompute path returns,
    and the index probe must read bands via the bk_bucket partition layout."""
    from universal_aws_data_pipeline_spark.operators.dedup import (
        build_neardup_index,
        incremental_neardup_filter,
        incremental_neardup_filter_indexed,
        load_neardup_index,
    )

    base = " ".join(f"tok{i}" for i in range(40))
    alt = " ".join(f"alt{i}" for i in range(40))
    existing = spark.createDataFrame([(1, base), (2, alt)], "doc_id LONG, text STRING")
    new = spark.createDataFrame(
        [(100, base.rsplit(" ", 1)[0]),  # near-dup of 1 -> dropped
         (101, "completely fresh material nothing like the old corpus at all"),  # kept
         (102, alt)],  # exact copy of 2 -> dropped
        "doc_id LONG, text STRING",
    )

    idx_path = str(tmp_path / "ndidx")
    build_neardup_index(existing, idx_path, num_hashes=8, bands=4)
    idx = load_neardup_index(spark, idx_path)
    assert idx.num_hashes == 8 and idx.num_bands == 4 and idx.id_col == "doc_id"

    kept_idx = sorted(r["doc_id"] for r in incremental_neardup_filter_indexed(new, idx, threshold=0.5).collect())
    kept_rec = sorted(
        r["doc_id"]
        for r in incremental_neardup_filter(new, existing, threshold=0.5, num_hashes=8, bands=4).collect()
    )
    assert kept_idx == kept_rec == [101]

    # physical layout: bands table is hive-partitioned on the band-key bucket
    import os

    band_dirs = [d for d in os.listdir(f"{idx_path}/bands") if d.startswith("bk_bucket=")]
    assert band_dirs, "bands table not partitioned by bk_bucket"

    # and the probe joins carry the bucket column so partition pruning applies
    plan = incremental_neardup_filter_indexed(new, idx, threshold=0.5)._jdf.queryExecution().executedPlan().toString()
    assert "bk_bucket" in plan


def test_prefix_filter_is_superset_of_lsh_and_exact(spark):
    """Prefix filtering is guaranteed-recall: its pair set must contain
    every LSH-verified pair (LSH may miss, never the reverse), and every
    returned jaccard must meet the threshold exactly as computed on the
    shingle sets."""
    from universal_aws_data_pipeline_spark.operators.dedup import jaccard_pairs_prefix_filter

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota"),      # near-dup of 1
        (3, "one two three four five six seven eight nine ten"),
        (4, "one two three four five six seven eight nine"),            # near-dup of 3
        (5, "totally unrelated content that matches nothing else here"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs_prefix_filter(df, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in neardup_pairs_jaccard(df, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)
    assert (1, 2) in exact and (3, 4) in exact
    for pair, j in lsh.items():
        assert exact[pair] == j
    assert all(j >= 0.5 for j in exact.values())


def test_digest_bitmaps_builds_from_the_given_column(spark):
    """The bitmap words come from the column passed in (any name), and the
    width is the module's one BITMAP_WORDS constant: word k of a set holds
    bit ``d mod 64`` for every digest d with ``(d mod 64·BITMAP_WORDS) div
    64 == k``."""
    from universal_aws_data_pipeline_spark.operators import dedup

    sets = [[0, 63, 64, 255, 256, 511], [-1, -64, -257, 1 << 59, (1 << 60) - 1], [], [7, 7 + 256]]
    df = spark.createDataFrame([(s,) for s in sets], "digs ARRAY<LONG>")
    words = dedup._digest_bitmaps(F.col("digs"))
    got = [list(r) for r in df.select(*words).collect()]

    assert len(words) == dedup.BITMAP_WORDS

    def expect(digests):
        out = [0] * dedup.BITMAP_WORDS
        for d in digests:
            out[(d % (64 * dedup.BITMAP_WORDS)) // 64] |= 1 << (d % 64)
        return [w - (1 << 64) if w >= 1 << 63 else w for w in out]  # as signed longs

    assert got == [expect(s) for s in sets]


def test_similarity_joins_and_probes_release_what_they_persist(spark, tmp_path):
    """The prefix-filter joins, the indexed probes and the streaming
    maintainer leave no entry in Spark's cache once their actions ran."""
    from universal_aws_data_pipeline_spark.operators.dedup import (
        build_neardup_index,
        containment_pairs_prefix_filter,
        incremental_containment_filter_indexed,
        incremental_neardup_filter_indexed,
        jaccard_pairs_prefix_filter,
        load_neardup_index,
        neardup_stream_fn,
    )

    spark.catalog.clearCache()
    base = " ".join(f"tok{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, " ".join(f"alt{i}" for i in range(12)))],
        "doc_id LONG, text STRING",
    )
    assert jaccard_pairs_prefix_filter(docs, threshold=0.5).count() == 1
    assert containment_pairs_prefix_filter(docs, threshold=0.8).count() == 2

    idx_path = str(tmp_path / "idx")
    build_neardup_index(docs.filter("doc_id = 1"), idx_path)
    index = load_neardup_index(spark, idx_path)
    batch = docs.filter("doc_id > 1")
    assert incremental_neardup_filter_indexed(batch, index, threshold=0.5).count() == 1
    assert incremental_containment_filter_indexed(batch, index, threshold=0.8).count() == 1

    fn = neardup_stream_fn(idx_path, str(tmp_path / "out"), threshold=0.6)
    for batch_id in range(3):
        fn(
            spark.createDataFrame(
                [(10 + batch_id, " ".join(f"b{batch_id}w{i}" for i in range(12)))],
                "doc_id LONG, text STRING",
            ),
            batch_id,
        )
    assert spark.read.parquet(str(tmp_path / "out")).count() == 3
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
