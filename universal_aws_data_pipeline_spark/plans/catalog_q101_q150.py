"""Catalog chunk: q101–q150 (dedup/similarity engines, graph, packing, stats).

Mechanically split from the former single-file catalog (round 7); the
assembler in ``plans/catalog.py`` imports every chunk and enforces the
pinned registration order, so query placement here never changes the
driver's graded window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from universal_aws_data_pipeline_spark.plans._shared import (
    QUERIES,
    register,
    _t,
    _artifact_dir,
    _MAX_DRIVER_QUERIES,
    _parquet_ready,
    _NORM_SQL,
    _Q15_ORACLE,
    _cos_sql,
    _BUCKET_SQL,
    _Q51_ORACLE,
    _hex_int_sql,
    _Q90_THETA,
    _copurchase_edges,
)

# Row-count gate for the exact-percentile class (q145/q146/q147, round-9):
# at or under this many input rows the plain `percentile` aggregate runs
# (its final-merge value map is bounded by the gate); above it, the queries
# route through robust.percentile_cont_long's batched-quickselect path.
# Module-level so forced-gate tests can monkeypatch it.
_PCTL_GATE = 10_000_000


@register(
    "q101_span_dedup_profile",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t, {_NORM_SQL} AS norm FROM documents
    ), spans AS (
      SELECT doc_id, unnest(CASE WHEN len(t) >= 8
        THEN list_distinct(list_transform(range(1, len(t) - 6),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], t[i+6], t[i+7])))
        ELSE [norm] END) AS span
      FROM t
    ), owned AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY span) AS first_doc FROM spans
    )
    SELECT doc_id, count(*) AS n_spans,
           round(avg(CASE WHEN first_doc < doc_id THEN 1.0 ELSE 0.0 END), 4) AS dup_span_frac,
           round(avg(CASE WHEN first_doc < doc_id THEN 1.0 ELSE 0.0 END), 4) >= 0.5 AS is_span_dup
    FROM owned GROUP BY doc_id
    """,
    "cross-document duplicated-span profile (Lee et al. exact-substring dedup diagnostic): per-doc fraction of 8-token spans already seen in an earlier doc (X2)",
)
def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granular exact dedup diagnostic: which documents are mostly made
    of 8-token spans that an earlier document already contains. One shuffle
    on the span key (min-over-partition window, no ORDER BY so no per-group
    sort) + a doc-id rollup; see operators/dedup.py::span_overlap_profile."""
    from universal_aws_data_pipeline_spark.operators.dedup import parallelize_text_scan, span_overlap_profile

    d = parallelize_text_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return span_overlap_profile(d, span_n=8, dup_threshold=0.5)


@register(
    "q102_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
    ), tot AS (SELECT count(*) AS n FROM toks)
    SELECT tok, count(*) AS cnt
    FROM toks, tot
    GROUP BY tok, n
    HAVING count(*) * 30 > n
    """,
    "exact heavy hitters (tokens with frequency > N/30) via two-pass Misra-Gries-style candidate mining + exact recount (X4, mergeable-sketch family)",
)
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters without a full-vocabulary shuffle: pass 1
    mines per-partition candidates (local count > local_total/k — a
    guaranteed superset of the global answer by the averaging argument),
    pass 2 recounts ONLY candidates via a broadcast semi-join. Shuffle
    bytes are O(candidates x partitions), not O(distinct tokens) — the
    difference between word vocab and n-gram/URL vocab at 100 TB. The
    oracle is the brute-force single-groupBy answer: a hash match proves
    the pruning lost nothing. See operators/sketch.py."""
    from universal_aws_data_pipeline_spark.operators.dedup import parallelize_text_scan
    from universal_aws_data_pipeline_spark.operators.sketch import heavy_hitters_exact

    d = parallelize_text_scan(_t(spark, sf_dir, "documents").select("text"))
    return heavy_hitters_exact(d, text_col="text", k=30)


@register(
    "q103_lm_perplexity",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ), bgl AS (
      SELECT doc_id, list_transform(range(1, len(t)), i -> [t[i], t[i+1]]) AS pairs
      FROM toks WHERE len(t) >= 2
    ), bg AS (
      SELECT doc_id, unnest(pairs) AS p FROM bgl
    ), bg2 AS (
      SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM bg
    ), uni AS (
      SELECT tok AS w1, count(*) AS c1
      FROM (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents)
      GROUP BY tok
    ), bgc AS (
      SELECT w1, w2, count(*) AS c2 FROM bg2 GROUP BY w1, w2
    ), v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni)
    SELECT doc_id, count(*) AS n_bigrams,
           round(avg(-ln((c2 + 0.5) / (c1 + 0.5 * v))), 4) AS avg_nll
    FROM bg2 JOIN bgc USING (w1, w2) JOIN uni USING (w1), v
    GROUP BY doc_id
    """,
    "CCNet-style corpus-LM quality score: add-alpha word-bigram model trained on the corpus, per-doc mean negative log-likelihood (X4)",
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-on-the-corpus bigram LM scoring (the CCNet quality-filter shape
    with a transparent bigram model instead of downloaded KenLM weights):
    the 'model' is two count tables built by map-side-combined groupBys;
    scoring is two equi-joins on vocab-sized tables (AQE broadcasts them
    when small). parallelize_text_scan spreads the CPU-bound
    normalize+bigram map off the single-file scan split (measured 14.5 s →
    2.6 s at sf0.1 on local[32]). See operators/text.py::bigram_lm_scores."""
    from universal_aws_data_pipeline_spark.operators.dedup import parallelize_text_scan
    from universal_aws_data_pipeline_spark.operators.text import bigram_lm_scores

    d = parallelize_text_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return bigram_lm_scores(d, alpha=0.5)


def _q104_oracle() -> str:
    cos = _cos_sql("s.embedding", "s.qv")
    return f"""
    WITH base AS (
      SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) / 127.0 AS s
      FROM embeddings
    ), qz AS (
      SELECT vec_id, embedding, s,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / s) AS BIGINT)) AS q
      FROM base
    ), queries AS (
      SELECT vec_id AS q_id, embedding AS qv, s AS q_scale, q AS qq
      FROM qz WHERE vec_id % 101 = 0
      ORDER BY vec_id LIMIT {_MAX_DRIVER_QUERIES}
    ), scored AS (
      SELECT c.vec_id AS id, q.q_id, c.embedding, q.qv,
             (c.s * q.q_scale) * CAST(list_sum(list_transform(range(1, 65), i -> c.q[i] * q.qq[i])) AS DOUBLE) AS approx
      FROM qz c, queries q
    ), short AS (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY approx DESC, id) AS rn FROM scored
    ), s AS (SELECT * FROM short WHERE rn <= 30), exact AS (
      SELECT q_id, id, round({cos}, 6) AS cos_sim FROM s
    )
    SELECT q_id, id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, id) AS rk FROM exact
    ) WHERE rk <= 10
    """


@register(
    "q104_quantized_ann",
    _q104_oracle(),
    "int8 scalar-quantized cosine shortlist + exact float re-rank — deterministic two-stage ANN, fully oracle-able (X3)",
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN tier 4: per-vector symmetric int8 quantization (scale = max|x|/127),
    integer-dot shortlist of 30 per query, exact cosine re-rank to top-10.
    Every stage is deterministic arithmetic — unlike LSH/IVF this tier hash-
    matches a SQL oracle that replays the identical pipeline. Queries =
    first _MAX_DRIVER_QUERIES (32) of vec_id % 101 == 0 (collected driver-side
    like q17's single lookup; the query set is literal-broadcast, so the
    corpus is scanned once for all queries with no join). The LIMIT is the
    point, not a fixture detail: a driver-collected query set must be
    BOUNDED BY CONTRACT or a 100x corpus silently collects 100x more rows
    into the plan. See operators/similarity.py::quantized_cosine_topk."""
    from universal_aws_data_pipeline_spark.operators.dedup import parallelize_text_scan
    from universal_aws_data_pipeline_spark.operators.similarity import quantized_cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id") % 101 == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_MAX_DRIVER_QUERIES)
        .collect()
    )
    assert len(qrows) <= _MAX_DRIVER_QUERIES  # collected literals stay bounded
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    # spread the CPU-bound quantize+dot map off the single-file scan split
    # (results are partitioning-invariant: row_number ties break on id)
    out = quantized_cosine_topk(parallelize_text_scan(e), queries, k=10, shortlist=30, id_col="vec_id")
    return out.select(F.col("q_id").cast("long").alias("q_id"), "id", "cos_sim")


@register(
    "q105_quality_calibration",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             round((least(1.0, ntok / 100.0) + alpha_ratio
                    + (1.0 - least(1.0, digit_ratio + punct_ratio))
                    + CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0 THEN 1.0 ELSE 0.5 END) / 4.0,
                   4) AS quality
      FROM (
        SELECT doc_id, lang, n, ntok,
          (n - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / n AS alpha_ratio,
          (n - length(regexp_replace(text, '[0-9]', '', 'g'))) / n AS digit_ratio,
          (n - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / n AS punct_ratio,
          CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / ntok AS mean_tok_len
        FROM (
          SELECT doc_id, lang, text,
                 CAST(length(text) AS DOUBLE) AS n,
                 len(string_split_regex(trim(text), '\\s+')) AS ntok
          FROM documents
        )
      )
    ), hist AS (
      SELECT lang, quality, count(*) AS c FROM scored GROUP BY lang, quality
    ), cum AS (
      SELECT lang, quality, c,
             sum(c) OVER (PARTITION BY lang ORDER BY quality
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
             sum(c) OVER (PARTITION BY lang) AS n
      FROM hist
    ), cuts AS (
      SELECT lang, min(quality) AS qcut
      FROM cum WHERE cumc >= ceil(0.3 * n) GROUP BY lang
    )
    SELECT s.doc_id, s.lang, s.quality, c.qcut, s.quality >= c.qcut AS kept
    FROM scored s JOIN cuts c USING (lang)
    """,
    "per-language quality-threshold calibration: exact 30th-percentile cutoff from a (lang, quality) histogram — keep the top 70% of each language (X4/X6 family)",
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-calibrated quality gating (the 'keep the best 70% of each
    language' step of a filtering pipeline, with the cutoff LEARNED from the
    corpus rather than hand-set): the exact per-language order statistic
    comes from a (lang, quality) histogram — quality is 4-dp quantized, so
    the histogram is ≤ |langs|·10^4 rows and the cumulative window runs on
    that tiny aggregate, never on per-document rows (a corpus-dominating
    language would pin a whole-row window to one task; the histogram path
    is immune). Pure integer compares — no interpolation, no libm — so the
    cutoff is bit-identical in the oracle. See
    operators/sampling.py::quantile_cutoff_by_group."""
    from universal_aws_data_pipeline_spark.operators.sampling import quantile_cutoff_by_group
    from universal_aws_data_pipeline_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents")
    scored = d.select("doc_id", "lang", quality_score(F.col("text")).alias("quality"))
    cuts = quantile_cutoff_by_group(scored, "lang", "quality", 0.3)
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id", "lang", "quality", "qcut", (F.col("quality") >= F.col("qcut")).alias("kept")
    )


@register(
    "q106_temperature_rebalance",
    f"""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang
    ), z AS (
      SELECT sum(sqrt(n)) AS z, sum(n) AS tot FROM counts
    ), rates AS (
      SELECT lang, 0.25 * tot * sqrt(n) / (z * n) AS rate FROM counts, z
    )
    SELECT d.doc_id, d.lang, round(r.rate, 6) AS rate
    FROM documents d JOIN rates r USING (lang)
    WHERE ({_hex_int_sql("CAST(d.doc_id AS VARCHAR)", 4)} + 0.5) / 65536.0 < r.rate
    """,
    "temperature-flattened language rebalancing (T=0.5): deterministic-hash sampling with per-language rate ∝ sqrt(n)/n — kept counts ∝ sqrt(n), tail languages upweighted (X6 family)",
)
def q106(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual mixture rebalancing at T=0.5 (kept counts ∝ sqrt of the
    natural counts — the flattening GPT-3/XLM-R style pipelines apply before
    training). T is fixed at 0.5 BY DESIGN: sqrt is IEEE-correctly-rounded,
    so the cut boundary needs no pow/ln and the membership predicate is
    bit-identical in the oracle. Rates ride a |langs|-row broadcast; the
    corpus pays one scan + map-side hash filter. See
    operators/sampling.py::temperature_rebalance."""
    from universal_aws_data_pipeline_spark.operators.sampling import temperature_rebalance

    d = _t(spark, sf_dir, "documents")
    return temperature_rebalance(d, group_col="lang", key_col="doc_id", fraction=0.25)


def _q107_oracle() -> str:
    cos = _cos_sql("e.embedding", "qv.q")
    return f"""
    WITH base AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
    ), d AS (
      SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl,
             CAST(len(list_filter(t, x -> x = 'hash'))   AS DOUBLE) AS tf0,
             CAST(len(list_filter(t, x -> x = 'join'))   AS DOUBLE) AS tf1,
             CAST(len(list_filter(t, x -> x = 'vector')) AS DOUBLE) AS tf2
      FROM base
    ), s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      FROM d
    ), lex AS (
      SELECT doc_id AS id,
             round(  ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25
      FROM d, s
      WHERE tf0 + tf1 + tf2 > 0
      ORDER BY bm25 DESC, doc_id
      LIMIT 20
    ), lexr AS (
      SELECT id, row_number() OVER (ORDER BY bm25 DESC, id) AS r0 FROM lex
    ), qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0
    ), dense AS (
      SELECT e.vec_id AS id, round({cos}, 6) AS cos_sim
      FROM embeddings e, qv
      ORDER BY cos_sim DESC, e.vec_id
      LIMIT 20
    ), denser AS (
      SELECT id, row_number() OVER (ORDER BY cos_sim DESC, id) AS r1 FROM dense
    ), fused AS (
      SELECT coalesce(a.id, b.id) AS id,
             round(  CASE WHEN a.r0 IS NOT NULL THEN 1.0 / (60.0 + a.r0) ELSE 0.0 END
                   + CASE WHEN b.r1 IS NOT NULL THEN 1.0 / (60.0 + b.r1) ELSE 0.0 END, 6) AS rrf,
             (CASE WHEN a.r0 IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN b.r1 IS NOT NULL THEN 1 ELSE 0 END) AS n_legs
      FROM lexr a FULL OUTER JOIN denser b USING (id)
    )
    SELECT id, rrf, n_legs FROM fused ORDER BY rrf DESC, id LIMIT 10
    """


@register(
    "q107_hybrid_rrf",
    _q107_oracle(),
    "hybrid retrieval: BM25 lexical leg + exact-cosine dense leg fused by reciprocal-rank fusion (1/(60+rank)) — rank-based, fully deterministic (X3/X10)",
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search, the modern retrieval default: the lexical leg is the
    q78 BM25 ranker (row-local tf, 1-row stats broadcast), the dense leg is
    the q17 exact-cosine ranker (map-only TakeOrdered), and the combiner is
    reciprocal-rank fusion — integer ranks only, so the fused score is
    bit-identical cross-engine (no score normalization games). Both legs'
    corpus scans are the expensive part and keep their one-pass shapes; the
    fusion joins two ≤20-row lists. The fixture treats vec_id as the
    embedding of doc_id (parallel id spaces). See
    operators/retrieval.py::rrf_fuse."""
    from universal_aws_data_pipeline_spark.operators.retrieval import bm25_topk, rrf_fuse
    from universal_aws_data_pipeline_spark.operators.similarity import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, ["hash", "join", "vector"], id_col="doc_id", text_col="text", k=20)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    dense = cosine_topk(emb, qvec, k=20, id_col="vec_id")
    legs = [
        (lex.withColumnRenamed("doc_id", "id"), "bm25"),
        (dense.withColumnRenamed("vec_id", "id"), "cos_sim"),
    ]
    return rrf_fuse(legs, id_col="id", const=60, k=10)


def _q108_oracle() -> str:
    def bit(w: int) -> str:
        s = f"(({w} * n) // 64)"
        e = f"((({w} + 1) * n) // 64)"
        return (
            f"CASE WHEN {e} > {s} AND "
            f"CAST(list_sum(av[({s} + 1):{e}]) AS DOUBLE) / ({e} - {s}) > mu "
            "THEN '1' ELSE '0' END"
        )

    bits = ",\n             ".join(bit(w) for w in range(64))
    return f"""
    WITH b AS (
      SELECT doc_id, text, length(text) AS n FROM documents
    ), a AS (
      SELECT doc_id, n,
             list_transform(range(1, n + 1), i -> ascii(substring(text, i, 1))) AS av
      FROM b
    ), m AS (
      SELECT doc_id, n, av, CAST(list_sum(av) AS DOUBLE) / n AS mu FROM a
    )
    SELECT doc_id,
           concat({bits}) AS phash
    FROM m
    """


@register(
    "q108_perceptual_hash",
    _q108_oracle(),
    "64-bit perceptual average-hash per binary payload (byte-window stub decode) — the image near-dup signature; bit-exact across engines (X5)",
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual aHash over the multimodal payload column: every byte sum
    is an exact integer in float64, so the 64 window-mean comparisons are
    bit-identical in the oracle — the full 64-bit signature hash-grades as
    a string. Pairing (band equi-join + pigeonhole-guaranteed Hamming
    verify, image_neardup_pairs) is pinned separately in
    tests/test_multimodal.py — the pair table on this fixture is 1 row, so
    the 500-row signature table is the stronger graded artifact. Arrow
    mapInPandas kernel; PIL branch takes over per-payload when real image
    bytes decode. See operators/multimodal.py::perceptual_hash."""
    from universal_aws_data_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        perceptual_hash,
    )

    d = _t(spark, sf_dir, "documents")
    return perceptual_hash(attach_binary_payload(d))


@register(
    "q109_cohort_triangle",
    """
    WITH wk AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      FROM events
    ), cohort AS (
      SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(w.week - c.cohort_week AS INTEGER) AS offset_weeks,
           count(*) AS n_users
    FROM wk w JOIN cohort c USING (user_id)
    GROUP BY c.cohort_week, offset_weeks
    """,
    "full cohort-retention triangle: users per (first-activity week, week offset) — the complete retention matrix, not just week-over-week (W family)",
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort triangle (the complete retention matrix behind every cohort
    chart): dedupe activity to (user, epoch-week), derive each user's cohort
    as min(week) — a hash-agg, map-side combined — then count users per
    (cohort, offset). Three aggregations + one equi-join on user_id, every
    stage on deduped user×week tables, never raw events². Weeks are pure
    epoch arithmetic (floor(epoch/604800)) so a non-UTC driver session
    cannot shift boundary events (the q61 lesson); counts per (cohort,
    offset) need no distinct — (user, week) is already unique."""
    e = _t(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    wk = e.select("user_id", week.alias("week")).distinct()
    cohort = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        wk.join(cohort, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).cast("int").alias("offset_weeks"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "q110_containment_dedup",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t, {_NORM_SQL} AS norm FROM documents
    ), sh AS (
      SELECT doc_id, CASE WHEN len(t) >= 3
        THEN list_distinct(list_transform(range(1, len(t) - 1),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
        ELSE [norm] END AS s
      FROM t
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 4) AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.8
    """,
    "exact shingle-containment join (truncated-copy detection): ordered pairs with |Sa∩Sb|/|Sa| >= 0.8 via asymmetric prefix filter — oracle is brute-force ALL ordered pairs, hash match proves the pruning lost nothing (X2)",
)
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup — the truncated-copy detector symmetric Jaccard
    misses (an excerpt of a 10x-longer doc has J ≈ 0.1 but containment
    1.0). Asymmetric prefix filter: contained side joins its rarity-prefix,
    container side joins ALL its shingles (no length restriction on the
    container — that's the point); positional and bitmap prunes before
    exact verification. Oracle is brute-force all ordered pairs.
    See operators/dedup.py::_prefix_filter_join."""
    import os

    from universal_aws_data_pipeline_spark.operators.dedup import (
        containment_pairs_prefix_filter,
        parallelize_text_scan,
        shingle_index_table,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # build-once shingle+digest artifact (documents-only corpus — q15/q75's
    # cache covers documents ∪ mutated, a different pair universe)
    sh_path = os.path.join(_artifact_dir("shingles", sf_dir), "q110")
    if not _parquet_ready(sh_path):
        shingle_index_table(parallelize_text_scan(d), "doc_id", "text", 3).write.mode("overwrite").parquet(sh_path)
    shingled = spark.read.parquet(sh_path)
    return containment_pairs_prefix_filter(d, threshold=0.8, shingle_n=3, shingled=shingled)


# --------------------------------------------------------------------------
# q111 — Gopher/MassiveText quality-rule battery (X4 family).
# Operators: full published rule set (word-count bounds, mean word length,
# symbol ratio, bullet/ellipsis line fractions, alpha-word fraction,
# required-stopword gate) as ONE map-only expression battery.
# Scale: zero shuffles — every signal is a row-local array/regex tally and
# the keep decision is a conjunction of exact integer-division compares, so
# the battery runs at parquet-scan speed and the DECISIONS hash-grade.
# --------------------------------------------------------------------------
@register(
    "q111_gopher_rules",
    f"""
    WITH w AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS words,
             string_split({_NORM_SQL}, ' ') AS toks,
             string_split(text, chr(10)) AS lines
      FROM documents
    ), sig AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words) AS mean_word_len,
             CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(words) AS alpha_word_frac,
             CAST(len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS DOUBLE)
               / len(words) AS symbol_ratio,
             CAST(len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*•]'))) AS DOUBLE)
               / len(lines) AS bullet_line_frac,
             CAST(len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE)
               / len(lines) AS ellipsis_line_frac,
             CAST(len(list_intersect(toks, ['the','be','to','of','and','that','have','with'])) AS BIGINT)
               AS n_stop_hits
      FROM w
    )
    SELECT doc_id, n_words,
           round(mean_word_len, 4) AS mean_word_len,
           round(alpha_word_frac, 4) AS alpha_word_frac,
           round(symbol_ratio, 4) AS symbol_ratio,
           n_stop_hits,
           (n_words >= 50 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1
            AND bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3
            AND alpha_word_frac >= 0.8 AND n_stop_hits >= 2) AS kept
    FROM sig
    """,
    "full Gopher/MassiveText quality-rule battery: word-count/word-length/symbol/bullet/ellipsis/alpha/stopword rules as one map-only pass; keep decisions hash-graded (X4)",
)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published MassiveText filter (Gopher, Rae et al. 2021, App. A) as
    a graded query: per-doc signals + the keep flag. All signals are exact
    integer tallies divided once, so both the 4-dp display values AND the
    unrounded threshold decisions are bit-identical in the oracle — the
    whole rule battery is verifiable, not just eyeballed. Map-only: one
    corpus scan, no shuffle. See operators/text.py::gopher_profile."""
    from universal_aws_data_pipeline_spark.operators.text import gopher_profile

    return gopher_profile(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# q112 — bloom-filter fast-path incremental exact dedup (X1 at scale).
# Operators: distributed bloom build (tree-ORed per-partition bitmaps),
# map-side membership probe, confirm anti-join for hits only.
# Scale: the ingest-time exact-dedup lever — novel docs (the vast majority
# of any real batch) are admitted with ZERO shuffle; only bloom hits (true
# dups + <1% FP) pay the corpus join. The result is EXACT regardless of
# filter sizing, which is why the plain anti-join oracle hash-grades it.
# --------------------------------------------------------------------------
@register(
    "q112_bloom_dedup",
    """
    WITH batch AS (
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             text || ' novel marker ' || CAST(doc_id AS VARCHAR) AS text
      FROM documents WHERE doc_id % 5 = 1
    )
    SELECT b.doc_id, length(b.text) AS n_chars
    FROM batch b ANTI JOIN documents c ON b.text = c.text
    """,
    "bloom-filter fast-path exact dedup: ingest batch (50%% exact copies, 50%% novel) probed map-side against a stored corpus bloom; only hits pay the confirm join — result exact, oracle is the plain anti-join (X1)",
)
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time exact dedup through the Bloom fast path: the corpus
    filter is built once per dataset (stored under the artifact cache, same
    discipline as the LSH/IVF indexes), each batch probes it map-side, and
    only bloom hits are confirmed against the corpus. The oracle is the
    plain ``batch ANTI JOIN corpus`` — a hash match proves the fast path
    changed WHERE the work happens, not WHAT comes out.
    See operators/bloom.py."""
    import os

    from universal_aws_data_pipeline_spark.operators.bloom import (
        bloom_dedup_filter,
        build_bloom,
        load_bloom,
        save_bloom,
    )

    d = _t(spark, sf_dir, "documents")
    dup_side = d.filter(F.col("doc_id") % 5 == 0).select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    novel_side = d.filter(F.col("doc_id") % 5 == 1).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" novel marker "), F.col("doc_id").cast("string")).alias("text"),
    )
    batch = dup_side.unionByName(novel_side)
    bloom_path = _artifact_dir("bloom_text", sf_dir)
    if os.path.exists(os.path.join(bloom_path, "meta.json")):
        bloom = load_bloom(bloom_path)
    else:
        bloom = build_bloom(d, "text")
        save_bloom(bloom, bloom_path)
    kept = bloom_dedup_filter(batch, d, "text", bloom)
    return kept.select("doc_id", F.length("text").alias("n_chars"))


# --------------------------------------------------------------------------
# q113 — DSIR importance weighting for data selection (X6 family).
# Operators: hashed-n-gram bag-of-buckets importance model (Xie et al. 2023),
# per-doc log importance weight in integer micro-nats.
# Scale: the model is a 256-row table (vocab-independent); training is one
# conditional agg over the token stream, scoring one broadcast join + an
# EXACT integer sum per doc — order-independent, so it hash-grades.
# --------------------------------------------------------------------------
@register(
    "q113_dsir_weights",
    f"""
    WITH bt AS (
      SELECT doc_id, source = 'src0' AS tgt,
             {_hex_int_sql("tok", 4)} % 256 AS bucket
      FROM (
        SELECT doc_id, source, unnest(string_split({_NORM_SQL}, ' ')) AS tok
        FROM documents
      )
    ), counts AS (
      SELECT bucket,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
      FROM bt GROUP BY bucket
    ), w AS (
      SELECT bucket,
             CAST(round((ln((ct + 1.0) / (nt + 256.0)) - ln((cr + 1.0) / (nr + 256.0)))
                        * 1000000.0, 0) AS BIGINT) AS lw_micro
      FROM (SELECT bucket, ct, cr, sum(ct) OVER () AS nt, sum(cr) OVER () AS nr FROM counts)
    )
    SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(w.lw_micro) AS BIGINT) AS weight_micro
    FROM bt b JOIN w USING (bucket)
    GROUP BY b.doc_id
    """,
    "DSIR importance resampling weights: hashed-unigram bucket multinomials (target = src0 vs raw), per-doc log importance weight as an exact integer micro-nat sum (X6)",
)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection via importance resampling (the DSIR recipe): fit
    target-vs-raw bag-of-hashed-buckets multinomials, score every doc by
    sum ln(p_t/p_r) over its tokens. The per-bucket log ratio is quantized
    to micro-nats on the 256-row model table, so per-doc scores are exact
    BIGINT sums — the one float surface is 512 ln calls on well-separated
    values. See operators/dsir.py."""
    from universal_aws_data_pipeline_spark.operators.dsir import dsir_scores

    d = _t(spark, sf_dir, "documents")
    return dsir_scores(d, F.col("source") == "src0")


# --------------------------------------------------------------------------
# q114 — span surgery: exact-substring dedup that REWRITES text (X2 family).
# Operators: occurrence-level span ownership (min-doc window on a 60-bit
# digest), per-doc duplicated-start lists, row-local token excision.
# Scale: one digest shuffle + one per-doc fold; the excision is a
# higher-order array filter — no per-token rows ever shuffle. The oracle
# replays RAW span strings (a digest collision would surface, not hide).
# --------------------------------------------------------------------------
@register(
    "q114_span_surgery",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tk FROM documents
    ), sp AS (
      SELECT doc_id, pos,
             concat_ws(' ', tk[pos+1], tk[pos+2], tk[pos+3], tk[pos+4],
                            tk[pos+5], tk[pos+6], tk[pos+7], tk[pos+8]) AS span
      FROM (SELECT doc_id, tk, unnest(range(0, len(tk) - 7)) AS pos
            FROM t WHERE len(tk) >= 8)
    ), owned AS (
      SELECT doc_id, pos, min(doc_id) OVER (PARTITION BY span) AS owner FROM sp
    ), covered AS (
      SELECT DISTINCT d.doc_id, d.pos + r.range AS j
      FROM (SELECT doc_id, pos FROM owned WHERE owner < doc_id) d, range(8) r
    ), toks AS (
      SELECT doc_id, unnest(tk) AS tok, unnest(range(len(tk))) AS j FROM t
    ), kept AS (
      SELECT tk.doc_id, tk.tok, tk.j
      FROM toks tk LEFT JOIN covered c ON tk.doc_id = c.doc_id AND tk.j = c.j
      WHERE c.j IS NULL
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(len(t.tk) - count(k.j) AS BIGINT) AS n_removed,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.j), '') AS cleaned_text
    FROM t LEFT JOIN kept k USING (doc_id)
    GROUP BY t.doc_id, len(t.tk)
    """,
    "span surgery (Lee et al. exact-substring dedup, acting form): 8-token spans owned by an earlier doc are excised token-precisely from later docs; per-doc cleaned text hash-graded (X2)",
)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acting half of exact-substring dedup: q101 diagnoses duplicated
    spans, this query REMOVES them — syndicated passages and boilerplate
    excised from later documents token-precisely, novel remainder kept
    (what a training-data pipeline actually ships). Cross-doc,
    occurrence-level; sub-``span_n`` docs pass untouched.
    See operators/dedup.py::remove_duplicated_spans."""
    from universal_aws_data_pipeline_spark.operators.dedup import (
        parallelize_text_scan,
        remove_duplicated_spans,
    )

    d = parallelize_text_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return remove_duplicated_spans(d, span_n=8)


# --------------------------------------------------------------------------
# q115 — PageRank over the customer<->supplier trade graph (iterative).
# Operators: power iteration in exact BIGINT micro-units — the one device
# that makes an iterative NUMERIC algorithm hash-gradable (float PageRank
# would drift by summation order; integer floor-div replays bit-exact).
# Scale: per iteration one shuffle join + one hash agg (map-side combine
# absorbs celebrity in-degree); edges/ranks localCheckpoint()ed so the
# 5-round plan never re-executes upstream; no per-round driver action.
# Oracle: the same recurrence unrolled as 5 chained CTEs.
# --------------------------------------------------------------------------
_PR_TOTAL = 1_000_000_000_000


def _pr_step(k: int) -> str:
    prev = "r0" if k == 1 else f"it{k - 1}"
    return f"""
    it{k} AS (
      SELECT d.node, d.outdeg,
             CAST((15 * {_PR_TOTAL}) // (100 * nn.n)
                  + (85 * coalesce(c.contrib, 0)) // 100 AS BIGINT) AS r
      FROM deg d CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node, sum(p.r // p.outdeg) AS contrib
        FROM edges e JOIN {prev} p ON e.src = p.node
        GROUP BY e.dst
      ) c ON d.node = c.node
    )"""


@register(
    "q115_trade_pagerank",
    f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
      SELECT 'c:' || c AS src, 's:' || s AS dst FROM pairs
      UNION ALL
      SELECT 's:' || s, 'c:' || c FROM pairs
    ), deg AS (
      SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src
    ), nn AS (
      SELECT count(*) AS n FROM deg
    ), r0 AS (
      SELECT node, outdeg, CAST({_PR_TOTAL} // nn.n AS BIGINT) AS r
      FROM deg CROSS JOIN nn
    ),{",".join(_pr_step(k) for k in range(1, 6))}
    SELECT CAST(substr(node, 3) AS BIGINT) AS s_suppkey, r AS rank_micro
    FROM it5 WHERE node LIKE 's:%'
    """,
    "supplier influence via 5-iteration PageRank on the symmetrized customer-supplier trade graph, exact integer micro-unit arithmetic (iterative-algorithm family)",
)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which suppliers sit at the center of the trade network? PageRank on
    the bipartite customer<->supplier graph (edge per distinct trading
    pair, symmetrized so mass flows both ways and no node dangles).
    See operators/graph.py::pagerank_micro for the integer recurrence and
    the per-iteration shuffle budget."""
    from universal_aws_data_pipeline_spark.operators.graph import pagerank_micro

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    # integer node ids (cust*2 / supp*2+1), not "c:"/"s:" strings: the
    # recurrence is key-agnostic, but five per-iteration joins + aggs hash
    # and shuffle the node key — 8-byte longs vs ~10-byte strings was worth
    # ~25% of q115's warm time at sf0.1 (round-6 drift adjudication)
    fwd = pairs.select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank_micro(edges, iterations=5, total_micro=_PR_TOTAL)
    return ranks.filter(F.col("node") % 2 == 1).select(
        F.expr("(node - 1) div 2").alias("s_suppkey"),
        F.col("rank_micro"),
    )

# --------------------------------------------------------------------------
# q116 — triangle counting on the part co-purchase graph.
# Operators: degree-ordered edge orientation (Cohen's MapReduce "forward"
# algorithm) — wedge generation from out-edge pairs, closed against the
# oriented edge list; each triangle enumerated exactly once.
# Scale: orientation caps every out-degree at O(sqrt(E)), so a celebrity
# part of degree d contributes d wedges instead of d^2; the oracle replays
# a plain id-ordered listing (orientation changes intermediates, not the
# result) and hash-matches.
# --------------------------------------------------------------------------
@register(
    "q116_copurchase_triangles",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), e AS (
      SELECT a.p AS x, b.p AS y
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= 2
    ), tri AS (
      SELECT e1.x AS a, e1.y AS b, e2.y AS c
      FROM e e1
      JOIN e e2 ON e1.x = e2.x AND e1.y < e2.y
      JOIN e e3 ON e3.x = e1.y AND e3.y = e2.y
    ), nodes AS (
      SELECT x AS node FROM e UNION SELECT y FROM e
    ), corners AS (
      SELECT node, count(*) AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT n.node AS part_id, CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_tri
    FROM nodes n LEFT JOIN corners c ON n.node = c.node
    """,
    "frequently-bought-together cohesion: per-part triangle participation counts on the repeat co-purchase graph (pairs sharing >= 2 orders), degree-ordered distributed enumeration (graph family)",
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triads of parts that all repeatedly co-occur pairwise in orders — the
    community-cohesion signal on a co-purchase graph. Edges = part pairs
    sharing >= 2 orders: the support threshold (standard frequent-itemset
    hygiene) drops the single-co-occurrence noise edges — measured at sf0.1
    they are 1.19M of 1.20M pairs and made the wedge stage ~25x costlier
    while meaning nothing. Counting via degree-ordered orientation,
    operators/graph.py::triangle_counts; edge set shared with q148/q149
    through the `_copurchase_edges` artifact."""
    from universal_aws_data_pipeline_spark.operators.graph import triangle_counts

    e = _copurchase_edges(spark, sf_dir).select("a", "b")
    return triangle_counts(e).select(F.col("node").alias("part_id"), "n_tri")


# --------------------------------------------------------------------------
# q117 — Count-Min sketch point-frequency estimates (sketch family).
# Operators: engine-portable CMS — depth x width cell table over md5-derived
# buckets; build is one map-side-combinable agg (shuffle <= depth*width rows
# per partition regardless of corpus size), probes broadcast-join the tiny
# cell table. est >= true always; overestimate bounded by (2/width)*N w.h.p.
# The md5 bucketing (not xxhash) is what lets DuckDB replay every cell and
# estimate BIT-exactly — a sketch you can hash-grade.
# --------------------------------------------------------------------------
@register(
    "q117_countmin_freq",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
    ), cells AS (
      SELECT row, bucket, count(*) AS cell_count FROM (
        SELECT rr.range AS row,
               {_hex_int_sql("tok || '#cms' || CAST(rr.range AS VARCHAR)", 8)} % 256 AS bucket
        FROM toks CROSS JOIN range(4) rr
      ) GROUP BY row, bucket
    ), top20 AS (
      SELECT tok, count(*) AS exact_count FROM toks GROUP BY tok
      ORDER BY exact_count DESC, tok LIMIT 20
    ), pb AS (
      SELECT t.tok, t.exact_count, rr.range AS row,
             {_hex_int_sql("t.tok || '#cms' || CAST(rr.range AS VARCHAR)", 8)} % 256 AS bucket
      FROM top20 t CROSS JOIN range(4) rr
    )
    SELECT p.tok, CAST(p.exact_count AS BIGINT) AS exact_count,
           CAST(min(coalesce(c.cell_count, 0)) AS BIGINT) AS est_count
    FROM pb p LEFT JOIN cells c ON p.row = c.row AND p.bucket = c.bucket
    GROUP BY p.tok, p.exact_count
    """,
    "Count-Min sketch over the corpus token stream (depth 4 x width 256, md5 buckets): point-frequency estimates for the exact top-20 tokens, estimate vs truth side by side (sketch family)",
)
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency estimation without carrying the vocabulary: the CMS cell
    table is bounded at depth*width rows however large the corpus, and the
    md5 bucketing replays identically in any engine. Probes are the exact
    top-20 tokens so the overestimate is visible next to the truth.
    See operators/sketch.py::count_min_build / cms_estimates."""
    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col
    from universal_aws_data_pipeline_spark.operators.sketch import (
        cms_estimates,
        count_min_build,
    )

    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    )
    sketch = count_min_build(toks, "tok", depth=4, width=256)
    top20 = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("tok"))
        .limit(20)
    )
    est = cms_estimates(sketch, top20.select("tok"), "tok", depth=4, width=256)
    return top20.join(est, "tok").select("tok", "exact_count", "est_count")


# --------------------------------------------------------------------------
# q118 — VARIANT-typed semi-structured analytics (F11 family, Spark 4).
# Operators: parse_json -> VARIANT (binary-encoded, parsed ONCE) +
# try_variant_get typed extraction. vs q10 (get_json_object: re-parses the
# string per extraction) and q36 (from_json: needs the schema up front) —
# VARIANT is the schema-on-read scale path: shredded binary storage, typed
# paths evaluated without re-tokenizing, malformed rows -> NULL not abort.
# Scale: map-only parse + one grouped agg; parse cost paid once per row
# however many fields downstream reads pull.
# --------------------------------------------------------------------------
@register(
    "q118_variant_events",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS n_with_k,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS k_max
    FROM events
    GROUP BY event_type
    """,
    "semi-structured per-type aggregates through Spark 4 VARIANT (parse once, typed try_variant_get paths; tolerant of malformed rows) — F11 family",
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern third way to read JSON columns (after q10's dot-path and
    q36's from_json): parse to VARIANT once, extract typed paths as needed.
    try_variant_get returns NULL on missing path / cast failure, so dirty
    rows degrade instead of failing the job."""
    e = _t(spark, sf_dir, "events")
    v = e.select("event_type", F.try_parse_json("props").alias("v"))
    k = v.select(
        "event_type", F.try_variant_get("v", "$.k", "int").alias("k")
    )
    return k.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").cast("long").alias("n_with_k"),
        F.sum("k").cast("long").alias("k_sum"),
        F.max("k").cast("int").alias("k_max"),
    )


# --------------------------------------------------------------------------
# q119 — theta-sketch SET INTERSECTION: audience overlap (sketch family).
# Operators: the q90 fixed-θ KMV sketches support more than counting —
# intersection of kept-hash sets estimates |A∩B| at the same 1/θ scale
# (the textbook theta-sketch intersection, θ_a = θ_b = const). The pairwise
# overlap matrix runs entirely on the sketch table (|types|·θ·U rows, an
# equi-self-join on the hash), never rescanning events; the Jaccard is
# integer micro-units so it hash-grades. At 100 TB: the θ filter prunes the
# event stream map-side to 1/4 of distinct keys, and the |types|²-pair
# stage is over sketches, not data.
# --------------------------------------------------------------------------
@register(
    "q119_audience_overlap",
    f"""
    WITH k AS (
      SELECT DISTINCT event_type, h FROM (
        SELECT event_type, {_hex_int_sql("CAST(user_id AS VARCHAR)", 8)} AS h
        FROM events
      ) WHERE h < {_Q90_THETA}
    ), totals AS (
      SELECT event_type, count(*) AS s FROM k GROUP BY event_type
    ), ov AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS sampled_overlap
      FROM k a JOIN k b ON a.h = b.h AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT ov.type_a, ov.type_b,
           CAST(ov.sampled_overlap * 4 AS BIGINT) AS est_overlap,
           CAST((ov.sampled_overlap * 1000000)
                // (ta.s + tb.s - ov.sampled_overlap) AS BIGINT) AS jaccard_micro
    FROM ov
    JOIN totals ta ON ov.type_a = ta.event_type
    JOIN totals tb ON ov.type_b = tb.event_type
    """,
    "pairwise audience overlap between event types via theta-sketch intersection (fixed-theta KMV kept-hash sets; estimate + integer-micro Jaccard), computed on sketches without rescanning events (sketch family)",
)
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much do the audiences of two event types overlap? Intersect the
    q90 kept-hash sketches: |Ka ∩ Kb| / θ estimates |A ∩ B| because under a
    shared uniform hash both sets are θ-sampled by the SAME coin flips.
    Every quantity is exact integer arithmetic over the portable md5 hash,
    so DuckDB replays the estimate bit-for-bit, collisions included."""
    e = _t(spark, sf_dir, "events")
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10).cast("long")
    kept = (
        e.select("event_type", h.alias("h"))
        .filter(F.col("h") < _Q90_THETA)
        .distinct()
    )
    totals = kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("s"))
    a = kept.select(F.col("event_type").alias("type_a"), "h")
    b = kept.select(F.col("event_type").alias("type_b"), "h")
    ov = (
        a.join(b, "h")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("sampled_overlap"))
    )
    ta = totals.select(F.col("event_type").alias("type_a"), F.col("s").alias("sa"))
    tb = totals.select(F.col("event_type").alias("type_b"), F.col("s").alias("sb"))
    return (
        ov.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            (F.col("sampled_overlap") * 4).cast("long").alias("est_overlap"),
            F.expr(
                "(sampled_overlap * 1000000) div (sa + sb - sampled_overlap)"
            ).cast("long").alias("jaccard_micro"),
        )
    )


# --------------------------------------------------------------------------
# q120 — last-touch attribution (marketing-analytics family).
# Operators: per-user ordered lag (grouped window — shuffle on user_id, no
# global sort), wall-clock timestampdiff attribution window, channel rollup.
# The lag ordering is (ts, event_id) so ties are deterministic in both
# engines; the 30-min window uses timestampdiff (pure wall-clock on NTZ —
# q33's device), so a non-UTC driver session can't shift boundaries.
# Scale: one shuffle on user_id + a 5-row channel agg; map-side combine.
# --------------------------------------------------------------------------
@register(
    "q120_last_touch_attribution",
    """
    WITH o AS (
      SELECT user_id, ts, event_type, value, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
             lag(ts)         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT CASE WHEN prev_ts IS NOT NULL AND ts - prev_ts <= INTERVAL 30 MINUTE
                THEN prev_type ELSE 'direct' END AS channel,
           count(*) AS n_purchases,
           round(sum(value), 2) AS attributed_revenue
    FROM o
    WHERE event_type = 'purchase'
    GROUP BY channel
    """,
    "last-touch attribution: every purchase credited to the user's immediately preceding event within 30 minutes (else 'direct'); revenue rollup per channel (analytics family)",
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which activity drives purchases? Credit each purchase to the user's
    immediately preceding event if it happened within the 30-minute
    attribution window, otherwise to 'direct'. The whole query is one
    grouped window pass plus a channel-count aggregate."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id",
        "ts",
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    return (
        o.filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("prev_ts").isNotNull()
                # MICROSECOND, not SECOND: the events timestamps carry
                # sub-second precision and SECOND truncates, flipping
                # purchases sitting just past the boundary (q33's device)
                & (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") <= 1_800_000_000),
                F.col("prev_type"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("attributed_revenue"),
        )
    )


# --------------------------------------------------------------------------
# q121 — train/test split-leakage audit (X6 family).
# Operators: q67's hash split + a HEAD fingerprint (md5 of the first 8
# normalized tokens) composed into the split-hygiene check every training
# pipeline needs: documents sharing their opening passage across DIFFERENT
# splits (id-hash splits are rerun-stable but content-blind — shared
# boilerplate heads straddle the boundary and leak test material into
# train). The head fingerprint, not full-content md5, is deliberate: this
# corpus has ZERO full-content dups (measured), so the full-md5 audit is
# vacuously clean — the 8-token head catches the near-dup leakage that
# actually occurs (23 dup head-groups at sf0.01), same device as the
# q101/q114 span family.
# Scale: one map pass computes (fp, split); the self-equi-join on fp touches
# only duplicated fingerprints (group size > 1), so the join input is the
# dup subset, not the corpus; output is a <= 3x3 split-pair matrix.
# --------------------------------------------------------------------------
@register(
    "q121_split_leakage",
    f"""
    WITH b AS (
      SELECT doc_id,
             md5(concat_ws(' ', {", ".join(f"tk[{i + 1}]" for i in range(8))})) AS fp,
             CASE WHEN {_BUCKET_SQL} < 52428 THEN 'train'
                  WHEN {_BUCKET_SQL} < 58982 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tk FROM documents)
    )
    SELECT least(a.split, c.split) AS split_a,
           greatest(a.split, c.split) AS split_b,
           CAST(count(*) AS BIGINT) AS n_leaked_pairs,
           CAST(count(DISTINCT a.fp) AS BIGINT) AS n_dup_contents
    FROM b a JOIN b c ON a.fp = c.fp AND a.doc_id < c.doc_id AND a.split <> c.split
    GROUP BY 1, 2
    """,
    "split-leakage audit: documents sharing an 8-token opening passage across the q67 train/val/test hash split, per split-pair (X6 — the contamination check between q57's benchmark decontamination and q07's dedup)",
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the same opening passage sit in two splits? Head-fingerprint
    every doc (md5 of its first 8 normalized tokens), assign q67's hash
    split, and count cross-split pairs per fingerprint. A clean pipeline
    span-dedups (q114) BEFORE splitting; this query is the audit that
    proves it — or quantifies the leak."""
    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col
    from universal_aws_data_pipeline_spark.operators.sampling import hash_bucket

    d = _t(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    b = d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(tokens_col(F.col("text")), 1, 8))).alias("fp"),
        F.when(bucket < int(0.8 * 65536), F.lit("train"))
        .when(bucket < int(0.9 * 65536), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    a = b.select(F.col("doc_id").alias("id_a"), "fp", F.col("split").alias("sa"))
    c = b.select(F.col("doc_id").alias("id_c"), "fp", F.col("split").alias("sc"))
    return (
        a.join(c, "fp")
        .filter((F.col("id_a") < F.col("id_c")) & (F.col("sa") != F.col("sc")))
        .groupBy(
            F.least("sa", "sc").alias("split_a"),
            F.greatest("sa", "sc").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_leaked_pairs"),
            F.count_distinct("fp").alias("n_dup_contents"),
        )
    )


# --------------------------------------------------------------------------
# q122 — embedding cluster-cohesion diagnostics (X3 family).
# Operators: q42's mean-pooled centroids (QUANTIZED to 6dp — the rounding
# makes the reference point identical in both engines, so downstream floats
# only carry one avg's worth of summation noise) + per-vector cosine to the
# own-label centroid + per-label cohesion rollup. The report a curator reads
# before trusting labels as dedup/mixing blocks: low avg = diffuse cluster,
# low min = mislabeled outlier.
# Scale: centroid table is |labels| x dim rows built via the q42 explode
# (map-side combinable); vectors join it BROADCAST on label (one map pass,
# no vector shuffle); rollup carries |labels| rows.
# --------------------------------------------------------------------------
@register(
    "q122_cluster_cohesion",
    f"""
    WITH c AS (
      SELECT label, i AS dim, round(avg(embedding[i+1]), 6) AS cen
      FROM embeddings, range(64) t(i)
      GROUP BY label, i
    ), cm AS (
      SELECT label, list(cen ORDER BY dim) AS cvec FROM c GROUP BY label
    ), scored AS (
      SELECT e.label, {_cos_sql("e.embedding", "cm.cvec")} AS cos
      FROM embeddings e JOIN cm ON e.label = cm.label
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
           round(avg(cos), 4) AS avg_cohesion,
           round(min(cos), 4) AS min_cohesion
    FROM scored GROUP BY label
    """,
    "per-label embedding cluster cohesion: avg/min cosine of members to their 6dp-quantized mean-pooled centroid (X3 diagnostics — the audit before labels are trusted as blocking keys)",
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How tight is each label's embedding cluster? Mean/min cosine of every
    vector to its own label centroid. Centroids are the q42 table quantized
    to 6dp so both engines score against the identical prototype."""
    from universal_aws_data_pipeline_spark.functions.vector import cosine_similarity

    e = _t(spark, sf_dir, "embeddings")
    cen = (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cen"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cen"))), lambda s: s["cen"]
            ).alias("cvec")
        )
    )
    scored = e.join(F.broadcast(cen), "label").select(
        "label", cosine_similarity(F.col("embedding"), F.col("cvec")).alias("cos")
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("cos"), 4).alias("avg_cohesion"),
        F.round(F.min("cos"), 4).alias("min_cohesion"),
    )


# --------------------------------------------------------------------------
# q123 — label confusion map: nearest foreign centroid per label (X3).
# Operators: the q122 quantized-centroid table self-paired (|labels|^2 rows
# of 64-dim vectors — sketch-sized, broadcastable); per-label argmax via
# grouped max_by with (cos, -label) tie-break.
# Scale: the embeddings table is read ONCE to build centroids; everything
# after runs on |labels| rows. This is the audit that decides whether two
# labels should share a dedup/mixing block.
# --------------------------------------------------------------------------
@register(
    "q123_label_confusion",
    f"""
    WITH c AS (
      SELECT label, i AS dim, round(avg(embedding[i+1]), 6) AS cen
      FROM embeddings, range(64) t(i)
      GROUP BY label, i
    ), cm AS (
      SELECT label, list(cen ORDER BY dim) AS cvec FROM c GROUP BY label
    ), pairs AS (
      SELECT a.label, b.label AS other,
             round({_cos_sql("a.cvec", "b.cvec")}, 6) AS cos
      FROM cm a JOIN cm b ON a.label <> b.label
    )
    SELECT label,
           CAST(arg_max(other,
                CAST(round(cos * 1000000, 0) AS BIGINT) * 1000 - other
           ) AS INTEGER) AS nearest_label,
           max(cos) AS nearest_cos
    FROM pairs GROUP BY label
    """,
    "label confusion map: each label's nearest foreign centroid + cosine, computed on the quantized centroid table without re-reading vectors (X3 diagnostics)",
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which labels blur together? Pairwise cosine over the (tiny) quantized
    centroid table, argmax per label with a deterministic (cos, -label)
    tie-break — the complement of q122's within-cluster cohesion."""
    from universal_aws_data_pipeline_spark.functions.vector import cosine_similarity

    e = _t(spark, sf_dir, "embeddings")
    cm = (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("cen"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cen"))), lambda s: s["cen"]
            ).alias("cvec")
        )
    )
    a = cm.select(F.col("label"), F.col("cvec").alias("va"))
    b = cm.select(F.col("label").alias("other"), F.col("cvec").alias("vb"))
    pairs = (
        a.join(F.broadcast(b), F.col("label") != F.col("other"))
        .select(
            "label",
            "other",
            F.round(cosine_similarity(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
    )
    # argmax key: 6dp cosine scaled to an exact BIGINT, lower label winning
    # ties — integer composite so both engines pick the identical winner
    key = (F.round(F.col("cos") * 1_000_000, 0).cast("long") * 1000) - F.col("other")
    return pairs.groupBy("label").agg(
        F.max_by("other", key).cast("int").alias("nearest_label"),
        F.max("cos").alias("nearest_cos"),
    )


# --------------------------------------------------------------------------
# q124 — PMI collocations: phrase mining over adjacent token pairs (X4).
# Operators: within-doc bigram generation (row-local transform, no
# cross-doc adjacency), exact integer counts, pointwise mutual information
# ln((c_ab/B)/((c_a/N)(c_b/N))) quantized to micro-nats. Every count is
# cast to double BEFORE the products (BIGINT c_ab*n*n overflows int64 past
# ~3e9 corpus tokens); left-assoc IEEE double multiply/divide is
# bit-identical in Spark and DuckDB, so both engines feed ln the identical
# double and round the identical micro-nat — the q113 device again.
# The op feeds tokenizer-merge candidates / collocation dictionaries.
# Scale: bigram stream shuffles once into vocab^2-bounded counts
# (map-side combined); the PMI math runs on the count tables; top-k via
# TakeOrderedAndProject.
# --------------------------------------------------------------------------
@register(
    "q124_pmi_collocations",
    f"""
    WITH t AS (
      SELECT string_split({_NORM_SQL}, ' ') AS tk FROM documents
    ), uni AS (
      SELECT tok, count(*) AS c FROM (SELECT unnest(tk) AS tok FROM t) GROUP BY tok
    ), bg AS (
      SELECT bgr, count(*) AS c_ab FROM (
        SELECT unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bgr
        FROM t WHERE len(tk) >= 2
      ) GROUP BY bgr
    ), scal AS (
      SELECT (SELECT sum(c) FROM uni) AS n, (SELECT sum(c_ab) FROM bg) AS b
    )
    SELECT bg.bgr AS bigram,
           CAST(bg.c_ab AS BIGINT) AS c_ab,
           CAST(round(ln((CAST(bg.c_ab AS DOUBLE) * CAST(scal.n AS DOUBLE) * CAST(scal.n AS DOUBLE))
                         / (CAST(scal.b AS DOUBLE) * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))) * 1000000, 0)
                AS BIGINT) AS pmi_micro
    FROM bg CROSS JOIN scal
    JOIN uni ua ON ua.tok = string_split(bg.bgr, ' ')[1]
    JOIN uni ub ON ub.tok = string_split(bg.bgr, ' ')[2]
    WHERE bg.c_ab >= 5
    ORDER BY pmi_micro DESC, bigram LIMIT 20
    """,
    "top-20 PMI collocations over adjacent token pairs (min support 5), micro-nat quantized — phrase-mining / tokenizer-merge candidates (X4)",
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which word pairs stick together far more than chance? Classic PMI
    collocation mining: exact unigram/bigram counts, one ln per surviving
    bigram on an exact integer ratio, micro-nat output. min-support 5 kills
    the low-count PMI pathology (hapax pairs score highest)."""
    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col

    d = _t(spark, sf_dir, "documents").select(tokens_col(F.col("text")).alias("tk"))
    # ONE corpus scan, ONE shuffle: a combined generator emits every unigram
    # ('u') and adjacent bigram ('b') from one explode; every downstream
    # table (unigram counts, bigram counts, N, B) derives from the single
    # (kind, key) count aggregate — the naive four-subtree plan rescanned
    # documents four times, which is three corpus reads too many at 100 TB.
    counts = (
        d.select(
            F.explode(
                F.expr(
                    # zip(tokens, tail) for bigrams: both slices are empty
                    # for 1-token docs (sequence(0, -1) would DESCEND and
                    # emit bogus pairs — Spark sequences run backwards when
                    # stop < start)
                    "concat(transform(tk, t -> struct('u' AS kind, t AS key)),"
                    " zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),"
                    " (a, b) -> struct('b' AS kind, concat(a, ' ', b) AS key)))"
                )
            ).alias("e")
        )
        .select("e.kind", "e.key")
        .groupBy("kind", "key")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    uni = counts.filter(F.col("kind") == "u").select("key", "c")
    bg = (
        counts.filter(F.col("kind") == "b")
        .select(F.col("key").alias("bgr"), F.col("c").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    n = uni.agg(F.sum("c").alias("n"))
    b = counts.filter(F.col("kind") == "b").agg(F.sum("c").alias("b"))
    ua = uni.select(F.col("key").alias("ta"), F.col("c").alias("ca"))
    ub = uni.select(F.col("key").alias("tb"), F.col("c").alias("cb"))
    scored = (
        bg.withColumn("ta", F.split("bgr", " ")[0])
        .withColumn("tb", F.split("bgr", " ")[1])
        .join(F.broadcast(ua), "ta")
        .join(F.broadcast(ub), "tb")
        .join(F.broadcast(n))
        .join(F.broadcast(b))
        .select(
            F.col("bgr").alias("bigram"),
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(
                # each count cast to double BEFORE the products: the BIGINT
                # product c_ab*n*n overflows int64 past ~3e9 corpus tokens;
                # double products never do, and left-assoc IEEE multiply is
                # bit-identical in Spark and DuckDB so the ln argument (and
                # hence the micro-nat rounding) still matches exactly
                F.log(
                    (
                        F.col("c_ab").cast("double")
                        * F.col("n").cast("double")
                        * F.col("n").cast("double")
                    )
                    / (
                        F.col("b").cast("double")
                        * F.col("ca").cast("double")
                        * F.col("cb").cast("double")
                    )
                )
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.desc("pmi_micro"), F.asc("bigram")).limit(20)


# --------------------------------------------------------------------------
# q125 — digest decontamination report (X2/X4): q57's scale-path twin.
# Operators: word-8-gram shingles → 60-bit md5 digests both sides, digest
# equi-join, per-doc hit/total/eval-doc counts. All-integer output.
# Scale: the join ships 8 bytes/shingle (never n-gram text); the eval side
# broadcasts when benchmark-sized but nothing requires it; report is
# |contaminated docs| rows. Fixture: the eval set is the 200-char prefixes
# of doc_id % 97 == 0 docs, so every hit count is a PARTIAL overlap (the
# prefix windows), not a trivial self-match of full documents.
# --------------------------------------------------------------------------
@register(
    "q125_decontamination_report",
    f"""
    WITH ev AS (
      SELECT doc_id, substr(text, 1, 200) AS text FROM documents WHERE doc_id % 97 = 0
    ), tt AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t, {_NORM_SQL} AS norm FROM documents
    ), et AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t, {_NORM_SQL} AS norm FROM ev
    ), tsh AS (
      SELECT doc_id, {_hex_int_sql("sh", 15)} AS digest FROM (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 8
          THEN list_distinct(list_transform(range(1, len(t) - 6),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], t[i+6], t[i+7])))
          ELSE [norm] END) AS sh
        FROM tt
      ) GROUP BY doc_id, digest
    ), esh AS (
      SELECT doc_id AS eval_id, {_hex_int_sql("sh", 15)} AS digest FROM (
        SELECT doc_id, unnest(CASE WHEN len(t) >= 8
          THEN list_distinct(list_transform(range(1, len(t) - 6),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], t[i+6], t[i+7])))
          ELSE [norm] END) AS sh
        FROM et
      ) GROUP BY eval_id, digest
    ), totals AS (
      SELECT doc_id, count(*) AS n_shingles FROM tsh GROUP BY doc_id
    ), hits AS (
      SELECT tsh.doc_id,
             count(DISTINCT tsh.digest) AS n_hit_shingles,
             count(DISTINCT esh.eval_id) AS n_eval_docs
      FROM tsh JOIN esh USING (digest) GROUP BY tsh.doc_id
    )
    SELECT h.doc_id, h.n_hit_shingles, t.n_shingles, h.n_eval_docs
    FROM hits h JOIN totals t USING (doc_id)
    """,
    "digest decontamination report: 8-gram 60-bit-md5 overlap counts of training docs vs a truncated eval set — q57's quantitative scale-path twin; 8-byte shuffle payload per shingle (X2/X4)",
)
def q125(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How contaminated is each training doc, numerically? The decision data
    an excision pass needs: hit shingles / total shingles / eval docs hit.
    The eval stand-in is each benchmark doc's 200-char prefix, so hits are
    genuine partial overlaps. See operators/retrieval.py::decontaminate."""
    from universal_aws_data_pipeline_spark.operators.dedup import parallelize_text_scan
    from universal_aws_data_pipeline_spark.operators.retrieval import decontaminate

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id", F.substring("text", 1, 200).alias("text")
    )
    return decontaminate(parallelize_text_scan(d), ev, shingle_n=8)


# --------------------------------------------------------------------------
# q126 — boolean AND search (X4/X10): multi-term set-semantics retrieval.
# Operators: distinct-token explode with a PRE-SHUFFLE isin filter (only
# matching tokens enter the exchange), one count aggregate, match-count ==
# term-count for AND. Complements q78's BM25 ranking (row-local scoring)
# with the exact-match door.
# Scale: the exchange carries at most |terms| rows per doc; no join at all
# for a literal term list.
# --------------------------------------------------------------------------
@register(
    "q126_boolean_search",
    f"""
    WITH t AS (
      SELECT doc_id, list_distinct(string_split({_NORM_SQL}, ' ')) AS tk FROM documents
    )
    SELECT doc_id FROM t
    WHERE list_contains(tk, 'join') AND list_contains(tk, 'filter') AND list_contains(tk, 'window')
    """,
    "boolean AND search over normalized tokens: docs containing ALL query terms via pre-shuffle isin + one count aggregate — the exact-match retrieval door next to q78's BM25 (X4)",
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which docs contain ALL of {{join, filter, window}}? Set-semantics
    search: distinct tokens, isin filter before the shuffle, count == 3.
    See operators/retrieval.py::boolean_search."""
    from universal_aws_data_pipeline_spark.operators.retrieval import boolean_search

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return boolean_search(d, ["join", "filter", "window"], mode="and")


# --------------------------------------------------------------------------
# q127 — random-projection dimensionality reduction (X3): 64 → 16 dims via
# a deterministic Rademacher (±1) matrix derived from md5, in exact integer
# micro-units. Operators: element-wise 1e-6 quantization, row-local signed
# integer dot per output dim (zip_with + aggregate — no explode, no
# shuffle, whole-stage codegen).
# The JL shrink before LSH/blocked-cosine: 4x narrower vectors make every
# downstream pair stage 4x cheaper, and the integer output hash-grades.
# Scale: map-only; output is |vectors| x 16 rows (long format).
# --------------------------------------------------------------------------
_RP_IN_DIM, _RP_OUT_DIM = 64, 16


def _rp_sign(k: int, j: int) -> int:
    """+1/-1 from the first hex digit of md5('rp|k|j') — the same value the
    SQL twin derives, so the projection matrix is a cross-engine constant."""
    import hashlib

    return 1 - 2 * (int(hashlib.md5(f"rp|{k}|{j}".encode()).hexdigest()[0], 16) % 2)


def _q127_oracle() -> str:
    sign = _hex_int_sql("'rp|' || CAST(k.k AS VARCHAR) || '|' || CAST(j AS VARCHAR)", 1)
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
      FROM embeddings
    ), k AS (SELECT unnest(range(0, {_RP_OUT_DIM})) AS k)
    SELECT vec_id, k.k AS out_dim,
           CAST(list_sum(list_transform(range(0, {_RP_IN_DIM}),
                j -> qe[j + 1] * (1 - 2 * ({sign} % 2)))) AS BIGINT) AS proj_micro
    FROM q CROSS JOIN k
    """


@register(
    "q127_random_projection",
    _q127_oracle(),
    "Johnson-Lindenstrauss shrink 64->16 dims: deterministic md5-Rademacher signs, exact integer micro-unit dots, row-local (no shuffle) — the pre-LSH/pre-blocking width cut (X3)",
)
def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shrink embeddings 4x before pair-stage work: project the 1e-6-
    quantized vectors onto 16 md5-derived +/-1 directions. Integer
    arithmetic end-to-end (quantize -> signed sum), so both engines produce
    bit-identical projections with zero float-order hazard. Row-local fold:
    no explode, no shuffle — the plan is a map over the vector scan."""
    e = _t(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("long")
    )
    cols = []
    for k in range(_RP_OUT_DIM):
        signs = F.array(*[F.lit(_rp_sign(k, j)) for j in range(_RP_IN_DIM)])
        dot = F.aggregate(
            F.zip_with(q, signs, lambda a, s: a * s.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        cols.append(F.struct(F.lit(k).cast("long").alias("out_dim"), dot.alias("proj_micro")))
    return (
        e.select("vec_id", F.explode(F.array(*cols)).alias("p"))
        .select("vec_id", F.col("p.out_dim").alias("out_dim"), F.col("p.proj_micro").alias("proj_micro"))
    )


# --------------------------------------------------------------------------
# q128 — context-window chunking (X4): training-prep document splitting.
# Operators: row-local sliding windows (chunk 64, stride 48) — integer
# window count (DIV ceil), token-array slices, 1→N generate. No shuffle.
# Scale: map-only; output ~len/stride x rows; write bucketed by content
# hash for per-chunk parallelism downstream.
# --------------------------------------------------------------------------
@register(
    "q128_document_chunking",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tk FROM documents
    ), c AS (
      SELECT doc_id, tk,
             CASE WHEN len(tk) <= 64 THEN 1
                  ELSE 1 + (len(tk) - 64 + 47) // 48 END AS nc
      FROM t
    )
    SELECT doc_id, i AS chunk_idx,
           CAST(len(tk[i*48+1 : i*48+64]) AS BIGINT) AS n_tokens,
           array_to_string(tk[i*48+1 : i*48+64], ' ') AS chunk_text
    FROM (SELECT doc_id, tk, unnest(range(0, nc)) AS i FROM c)
    """,
    "sliding-window document chunking (64-token windows, stride 48): row-local integer window math + array slices, 1->N generate, zero shuffles — the context-window prep step before packing (X4)",
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping 64-token context windows
    advancing by 48 — the chunking step between cleaning and shard packing
    (q46). See operators/text.py::chunk_documents."""
    from universal_aws_data_pipeline_spark.operators.dedup import parallelize_text_scan
    from universal_aws_data_pipeline_spark.operators.text import chunk_documents

    d = parallelize_text_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return chunk_documents(d, chunk_tokens=64, stride=48)


# --------------------------------------------------------------------------
# q129 — corpus mixture planning (X6): domain weights → sampling rates.
# Operators: one map-side-combinable aggregate (|sources| rows), literal
# weight map, min(1, target/available) rate with 6dp rounding.
# Scale: ONE corpus aggregate; the plan output feeds hash_sample's
# md5-bucket filters — materialization needs no per-group shuffles.
# --------------------------------------------------------------------------
_Q129_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
_Q129_BUDGET = 8000


@register(
    "q129_mixture_plan",
    f"""
    WITH t AS (
      SELECT source, len(string_split({_NORM_SQL}, ' ')) AS n_toks FROM documents
    ), a AS (
      SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
      FROM t GROUP BY source
    ), w AS (
      SELECT * FROM (VALUES {", ".join(f"('{k}', {v})" for k, v in _Q129_WEIGHTS.items())}) AS w(source, wt)
    ), p AS (
      SELECT a.source, n_docs, n_tokens,
             CAST(round({_Q129_BUDGET}.0 * wt / {sum(_Q129_WEIGHTS.values())}, 0) AS BIGINT) AS target_tokens
      FROM a JOIN w USING (source)
    ), r AS (
      SELECT *, round(least(1.0, CAST(target_tokens AS DOUBLE) / n_tokens), 6) AS rate FROM p
    )
    SELECT source, n_docs, n_tokens, target_tokens, rate,
           CAST(round(n_tokens * rate, 0) AS BIGINT) AS expected_tokens
    FROM r
    """,
    "corpus mixture planning: domain weights + token budget -> per-source sampling rates against actual availability (min(1, target/avail)); one corpus aggregate, |sources|-row plan (X6)",
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn a target pretraining mix (40/30/20/10 over four sources, 8k-token
    budget) into per-source sampling rates against what the corpus actually
    holds; a source short of target pins at rate 1.0 (epochs, not sampling,
    cover the gap). See operators/sampling.py::mixture_plan."""
    from universal_aws_data_pipeline_spark.operators.sampling import mixture_plan
    from universal_aws_data_pipeline_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "source", token_count(F.col("text")).alias("n_tokens")
    )
    return mixture_plan(d, _Q129_WEIGHTS, _Q129_BUDGET)


# --------------------------------------------------------------------------
# q130 — snapshot diff / CDC (S-family): added/removed/changed keys between
# two table versions. Operators: row-local 60-bit md5 row digests (16-byte
# join payload however wide the table), one full-outer equi-join on the
# key, CASE classification, unchanged majority filtered immediately.
# The graded projection is (key, change): classification is string-format-
# independent (each engine compares ITS OWN old/new strings), so the oracle
# compares values directly while Spark compares digests — a hash match
# proves the digest compare classifies identically.
# Scale: the only shuffle is the key join; digests are map-stage md5.
# --------------------------------------------------------------------------
@register(
    "q130_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ), new AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 101 <> 0
      UNION ALL
      SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 103 = 0
    ), j AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_custkey <> n.o_custkey OR o.o_totalprice <> n.o_totalprice THEN 'changed'
             END AS change
      FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey, change FROM j WHERE change IS NOT NULL
    """,
    "snapshot diff (CDC): added/removed/changed keys between two table versions via row-local md5 row digests + one key join — the incremental-ingest primitive the reference's full-reload pipeline lacks (S-family)",
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What changed between yesterday's and today's orders snapshot? The
    'new' version drops keys %101==0, bumps o_totalprice for %97==0, and
    appends shifted copies of %103==0 — the diff must report exactly those
    keys as removed/changed/added. See operators/diff.py::snapshot_diff."""
    from universal_aws_data_pipeline_spark.operators.diff import snapshot_diff

    old = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    new = (
        old.filter(F.col("o_orderkey") % 101 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 103 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 100_000_000
            )
        )
    )
    return snapshot_diff(old, new, ["o_orderkey"]).select("o_orderkey", "change")


# --------------------------------------------------------------------------
# q131 — sequence packing (X4): concat-and-chunk docs into fixed-length
# training sequences. Operators: md5-bucket shards packed independently
# (ONE hash shuffle + parallel per-shard windows — never a global token
# order through one task), exclusive prefix sum, integer div spans.
# Oracle: identical window arithmetic — md5 shard + BIGINT floor div make
# the packing engine-portable and hash-gradable.
# --------------------------------------------------------------------------
_Q131_SEQ_LEN = 256
_Q131_SHARDS = 16


@register(
    "q131_sequence_packing",
    f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n_tokens,
             {_hex_int_sql("CAST(doc_id AS VARCHAR)", 4)} % {_Q131_SHARDS} AS shard
      FROM documents
    ), o AS (
      SELECT shard, doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      FROM t WHERE n_tokens > 0
    )
    SELECT CAST(shard AS BIGINT) AS shard, doc_id, n_tokens, tok_offset,
           tok_offset // {_Q131_SEQ_LEN} AS first_seq,
           (tok_offset + n_tokens - 1) // {_Q131_SEQ_LEN} AS last_seq,
           (tok_offset + n_tokens - 1) // {_Q131_SEQ_LEN}
             - tok_offset // {_Q131_SEQ_LEN} + 1 AS n_seqs
    FROM o
    """,
    "concat-and-chunk sequence packing: map every doc to its token offset and first/last 256-token training sequence, per-md5-shard prefix sums (one shuffle, shards pack in parallel) — the causal-LM prep step after chunking (X4)",
)
def q131(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does each document land in the packed training-token stream?
    Concat docs per shard in id order, cut every 256 tokens, report each
    doc's offset and sequence span. See operators/packing.py::pack_sequences
    for the shard-parallel plan shape."""
    from universal_aws_data_pipeline_spark.operators.packing import pack_sequences
    from universal_aws_data_pipeline_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_toks")
    )
    return pack_sequences(
        d, "doc_id", "n_toks", seq_len=_Q131_SEQ_LEN, n_shards=_Q131_SHARDS
    )


# --------------------------------------------------------------------------
# q132 — incremental aggregate maintenance (S-family + A-family): keep a
# materialized group-by current from a CDC change-set. Operators: signed
# contribution rows (remove+add handles group migration), map-side-
# combinable delta aggregate over ONLY the changed rows, one |groups|-row
# outer-join merge. Integer cents so maintained sums never drift.
# Oracle: a FULL RECOMPUTE over the new snapshot — the hash match IS the
# proof that incremental maintenance equals recomputation.
# Scale: O(|changes| + |groups|) vs the reference's O(|table|) full reload.
# --------------------------------------------------------------------------
@register(
    "q132_incremental_agg",
    """
    WITH o AS (
      SELECT o_orderkey, o_custkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 79 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
             CASE WHEN o_orderkey % 83 = 0 THEN cents + 100 ELSE cents END AS cents
      FROM o WHERE o_orderkey % 89 <> 0
      UNION ALL
      SELECT o_orderkey + 200000000, o_custkey, cents FROM o WHERE o_orderkey % 97 = 0
    )
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM new GROUP BY o_custkey
    """,
    "incremental aggregate maintenance: merge a CDC change-set (removes %89, price changes %83, group migrations %79, adds %97) into a per-customer materialized view touching only changed rows + |groups| — graded against a full recompute (S/A-family)",
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain the per-customer (order count, total cents) view through a
    synthetic CDC batch without re-reading the base table: removed keys
    (%89), price updates (%83), customer migrations (%79 — remove+add makes
    these correct for free), and appended orders (%97, shifted keys). The
    oracle recomputes from scratch; a hash match proves the merged view is
    row-identical. See operators/incremental.py."""
    from universal_aws_data_pipeline_spark.operators.incremental import (
        apply_cdc_to_agg,
        cdc_signed_rows,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    new = (
        o.filter(F.col("o_orderkey") % 89 != 0)
        .withColumn(
            "cents",
            F.when(F.col("o_orderkey") % 83 == 0, F.col("cents") + 100).otherwise(
                F.col("cents")
            ),
        )
        .withColumn(
            "o_custkey",
            F.when(F.col("o_orderkey") % 79 == 0, F.col("o_custkey") + 1).otherwise(
                F.col("o_custkey")
            ),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 97 == 0).withColumn(
                "o_orderkey", F.col("o_orderkey") + 200_000_000
            )
        )
    )
    view = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
    )
    signed = cdc_signed_rows(o, new, ["o_orderkey"])
    return apply_cdc_to_agg(
        view, signed, ["o_custkey"], ["cents"], count_col="n_orders"
    )


# --------------------------------------------------------------------------
# q133 — Bradley–Terry preference strengths (iterative family): the RLHF /
# eval primitive — per-entity strength from pairwise outcomes via the MM
# algorithm in exact BIGINT micro-units (same hash-gradability device as
# q115 PageRank). Scale: the comparison log aggregates ONCE to |pairs|
# rows; each round is one shuffle join + one map-side-combinable agg.
# Oracle: the identical recurrence unrolled as 3 chained CTE rounds.
# --------------------------------------------------------------------------
_BT_SCALE = 1_000_000_000_000


def _bt_step(k: int) -> str:
    prev = "p0" if k == 1 else f"r{k - 1}"
    return f"""
    r{k} AS (
      SELECT e.me,
             CASE WHEN e.n_wins > 0 AND d.denom > 0
                  THEN CAST(e.n_wins * CAST({_BT_SCALE} AS BIGINT) // d.denom AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS p
      FROM ent e LEFT JOIN (
        SELECT u.me,
               CAST(sum(u.n_games * CAST({_BT_SCALE} AS BIGINT)
                        // greatest(a.p + b.p, 1)) AS BIGINT) AS denom
        FROM und u JOIN {prev} a ON u.me = a.me JOIN {prev} b ON u.opp = b.me
        GROUP BY u.me
      ) d ON e.me = d.me
    )"""


@register(
    "q133_bradley_terry",
    f"""
    WITH li AS (
      SELECT l_orderkey, l_suppkey, l_extendedprice,
             lead(l_suppkey) OVER w AS opp_s,
             lead(l_extendedprice) OVER w AS opp_p
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_suppkey, l_extendedprice)
    ), pairs AS (
      SELECT CASE WHEN l_extendedprice > opp_p
                    OR (l_extendedprice = opp_p AND l_suppkey < opp_s)
                  THEN l_suppkey ELSE opp_s END AS w,
             CASE WHEN l_extendedprice > opp_p
                    OR (l_extendedprice = opp_p AND l_suppkey < opp_s)
                  THEN opp_s ELSE l_suppkey END AS l
      FROM li WHERE opp_s IS NOT NULL AND l_suppkey <> opp_s
    ), directed AS (
      SELECT w, l, count(*) AS n FROM pairs GROUP BY w, l
    ), und AS (
      SELECT me, opp, CAST(sum(n) AS BIGINT) AS n_games FROM (
        SELECT w AS me, l AS opp, n FROM directed
        UNION ALL
        SELECT l AS me, w AS opp, n FROM directed
      ) GROUP BY me, opp
    ), wins AS (
      SELECT w AS me, CAST(sum(n) AS BIGINT) AS n_wins FROM directed GROUP BY w
    ), ent AS (
      SELECT u.me, coalesce(w.n_wins, 0) AS n_wins, u.n_games
      FROM (SELECT me, CAST(sum(n_games) AS BIGINT) AS n_games
            FROM und GROUP BY me) u
      LEFT JOIN wins w ON u.me = w.me
    ), p0 AS (
      SELECT me, CAST(1000000 AS BIGINT) AS p FROM ent
    ),{",".join(_bt_step(k) for k in range(1, 4))}
    SELECT e.me AS s_suppkey, e.n_wins, e.n_games, r3.p AS strength_micro
    FROM ent e JOIN r3 ON e.me = r3.me
    """,
    "Bradley-Terry supplier strength from per-order price duels: 3 exact integer micro-unit MM rounds over the pairwise-comparison log (the RLHF preference primitive; iterative family alongside q115)",
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which suppliers win head-to-head? Consecutive lineitems of an order
    duel (higher extendedprice wins, price tie broken by lower suppkey);
    Bradley-Terry MM strengths over the resulting comparison log. See
    operators/preference.py::bradley_terry_micro for the integer recurrence
    and per-round shuffle budget."""
    from universal_aws_data_pipeline_spark.operators.preference import (
        bradley_terry_micro,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_suppkey", "l_extendedprice"
    )
    duels = (
        li.select(
            "l_suppkey",
            "l_extendedprice",
            F.lead("l_suppkey").over(w).alias("opp_s"),
            F.lead("l_extendedprice").over(w).alias("opp_p"),
        )
        .filter(F.col("opp_s").isNotNull() & (F.col("l_suppkey") != F.col("opp_s")))
    )
    first_wins = (F.col("l_extendedprice") > F.col("opp_p")) | (
        (F.col("l_extendedprice") == F.col("opp_p"))
        & (F.col("l_suppkey") < F.col("opp_s"))
    )
    comparisons = duels.select(
        F.when(first_wins, F.col("l_suppkey")).otherwise(F.col("opp_s")).alias("winner"),
        F.when(first_wins, F.col("opp_s")).otherwise(F.col("l_suppkey")).alias("loser"),
    )
    return bradley_terry_micro(comparisons, "winner", "loser", iterations=3).select(
        F.col("entity").alias("s_suppkey"), "n_wins", "n_games", "strength_micro"
    )


# --------------------------------------------------------------------------
# q134 — contrastive hard-negative mining (X3): per-anchor most-similar
# cross-label vector. Operators: bounded broadcast anchor set (ORDER BY +
# LIMIT, the q104 capped-probe convention), one corpus pass, max-struct
# hash aggregate (map-side combine → |anchors| rows/partition before the
# only shuffle). Cosine is an array fold (bit-identical across engines),
# round 6dp, lowest-id tiebreak — hash-gradable.
# Oracle: the same bounded anchor join, argmax via row_number.
# --------------------------------------------------------------------------
@register(
    "q134_hard_negatives",
    f"""
    WITH a AS (
      SELECT vec_id AS aid, label AS albl, embedding AS ae
      FROM embeddings WHERE vec_id % 13 = 0
      ORDER BY vec_id LIMIT {_MAX_DRIVER_QUERIES}
    ), p AS (
      SELECT a.aid, a.albl, e.vec_id AS nid, e.label AS nlbl,
             round({_cos_sql("e.embedding", "a.ae")}, 6) AS cos_sim
      FROM a JOIN embeddings e ON e.label <> a.albl
    )
    SELECT aid AS anchor_id, albl AS anchor_label, nid AS neg_id,
           nlbl AS neg_label, cos_sim
    FROM (SELECT *, row_number() OVER (
            PARTITION BY aid ORDER BY cos_sim DESC, nid) AS rn FROM p)
    WHERE rn = 1
    """,
    "contrastive hard-negative mining: per-anchor most-cosine-similar CROSS-label vector, bounded broadcast probe set + one corpus pass + max-struct argmax (the negative-sampling step for embedding training; X3)",
)
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hardest negative for each probe embedding: most similar vector
    with a different label — what contrastive training mines per batch.
    Anchor set is bounded (vec_id %13, first _MAX_DRIVER_QUERIES by id)
    so the broadcast never scales with the corpus. See
    operators/similarity.py::hard_negatives for the one-pass plan."""
    from universal_aws_data_pipeline_spark.operators.similarity import hard_negatives

    e = _t(spark, sf_dir, "embeddings")
    anchors = (
        e.filter(F.col("vec_id") % 13 == 0).orderBy("vec_id").limit(_MAX_DRIVER_QUERIES)
    )
    return hard_negatives(e, anchors, "vec_id", "label", "embedding")


# --------------------------------------------------------------------------
# q135 — per-domain quantile normalization (X4/X6): exact percent_rank of
# quality WITHOUT the per-domain single-task window sort. Operators:
# (source, 4dp-score) histogram (map-side combinable, ≤10,001 values/
# domain), exclusive prefix sums over the tiny histogram, broadcast join
# back. Oracle: the textbook percent_rank window — a hash match proves the
# histogram rank equals the window definition (ties share min rank).
# --------------------------------------------------------------------------
_Q135_QUAL = """
    qbase AS (
      SELECT doc_id, source, text,
             CAST(length(text) AS DOUBLE) AS n,
             len(string_split_regex(trim(text), '\\s+')) AS ntok
      FROM documents
    ), qcls AS (
      SELECT doc_id, source, n, ntok,
        (n - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) / n AS alpha_ratio,
        (n - length(regexp_replace(text, '[0-9]', '', 'g'))) / n AS digit_ratio,
        (n - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))) / n AS punct_ratio,
        CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / ntok AS mean_tok_len
      FROM qbase
    ), qual AS (
      SELECT doc_id, source,
        round((least(1.0, ntok / 100.0) + alpha_ratio
               + (1.0 - least(1.0, digit_ratio + punct_ratio))
               + CASE WHEN mean_tok_len >= 3.0 AND mean_tok_len <= 10.0
                      THEN 1.0 ELSE 0.5 END) / 4.0, 4) AS quality
      FROM qcls
    )
"""


@register(
    "q135_quantile_normalize",
    f"""
    WITH {_Q135_QUAL},
    r AS (
      SELECT doc_id, source, quality,
             percent_rank() OVER (PARTITION BY source ORDER BY quality) AS pct
      FROM qual
    )
    SELECT doc_id, source, quality, round(pct, 6) AS pct_rank,
           CAST(least(9, floor(pct * 10)) AS BIGINT) AS bucket
    FROM r
    """,
    "per-domain quantile normalization of quality scores: exact percent_rank from a bounded (source, 4dp-score) histogram + broadcast join — no single-task per-domain sort; graded against the textbook window (X4/X6)",
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Make quality scores comparable across corpus domains: within-source
    percent_rank and decile, computed histogram-style so no domain ever
    sorts through one task. See operators/normalize.py::quantile_normalize."""
    from universal_aws_data_pipeline_spark.operators.normalize import quantile_normalize
    from universal_aws_data_pipeline_spark.operators.text import quality_score

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("quality")
    )
    return quantile_normalize(d, "source", "quality", n_buckets=10).select(
        "doc_id", "source", "quality", "pct_rank", "bucket"
    )


# --------------------------------------------------------------------------
# q136 — half-life recency-weighted customer value (W/temporal family):
# time-decayed aggregates that stay BIGINT-exact. Operators: floor-
# bucketed power-of-two decay (shiftleft, capped at 20 half-lives — no
# float pow/exp), cents × decay_micro summed map-side-combinably.
# The staircase decay is the deliberate trade for hash-gradable,
# merge-exact weighted sums (see operators/temporal.py).
# Scale: one map expression + one hash aggregate — nothing else.
# --------------------------------------------------------------------------
@register(
    "q136_recency_weighted_value",
    """
    WITH o AS (
      SELECT o_custkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             datediff('day', CAST(o_orderdate AS DATE), DATE '2001-08-01') AS age
      FROM orders
    ), w AS (
      SELECT o_custkey, cents,
             CASE WHEN age < 0 THEN 0
                  ELSE 1000000 // (1 << least(age // 180, 20)) END AS decay
      FROM o
    )
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS cents,
           CAST(sum(cents * decay) AS BIGINT) AS weighted_micro_cents
    FROM w GROUP BY o_custkey
    """,
    "half-life recency-weighted customer value: integer-exact power-of-two decay (180-day floor buckets, shiftleft — no float exp) x order cents, one map expression + one hash aggregate (temporal/W family)",
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime value with recency decay: each order's cents are
    weighted by 10^6 halved per elapsed 180-day bucket from the 2001-08-01
    reference date — BIGINT-exact, so the weighted sums hash-grade and
    merge without drift. See operators/temporal.py::halflife_decay_micro."""
    from universal_aws_data_pipeline_spark.operators.temporal import (
        halflife_decay_micro,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        F.expr("datediff(date'2001-08-01', cast(o_orderdate as date))").alias("age"),
    )
    decay = halflife_decay_micro(F.col("age"), 180)
    return o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
        F.sum(F.col("cents") * decay).cast("long").alias("weighted_micro_cents"),
    )


# --------------------------------------------------------------------------
# q137 — referential-integrity orphan audit (A-family): the FK check the
# reference's independent per-table COPYs never run. Operators: per
# relationship DISTINCT parent keys (map-side combinable) + one left
# equi-join + ONE aggregate; |relationships|-row report. The fixture
# deletes customers %71==0 so the orders->customer leg has real orphans;
# lineitem->orders is the clean control.
# --------------------------------------------------------------------------
@register(
    "q137_referential_audit",
    """
    WITH cust AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 71 <> 0
    ), r1 AS (
      SELECT 'lineitem->orders' AS relationship,
             CAST(count(*) AS BIGINT) AS n_children,
             CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        ON l.l_orderkey = o.o_orderkey
    ), r2 AS (
      SELECT 'orders->customer' AS relationship,
             CAST(count(*) AS BIGINT) AS n_children,
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      FROM orders o2 LEFT JOIN (SELECT DISTINCT c_custkey FROM cust) c
        ON o2.o_custkey = c.c_custkey
    )
    SELECT relationship, n_children, n_orphans,
           round(CAST(n_orphans AS DOUBLE) / n_children, 6) AS orphan_pct
    FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
    """,
    "referential-integrity orphan audit across table pairs: DISTINCT parent keys + left join + one aggregate per relationship, |relationships|-row report (the FK gate the reference's independent COPYs lack; A-family)",
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many child rows point at missing parents? lineitem->orders is
    the clean control; orders->customer runs against a fixture where
    customers %71==0 were deleted (the un-cascaded half of the q63 GDPR
    delete). See operators/quality.py::referential_audit."""
    from universal_aws_data_pipeline_spark.operators.quality import referential_audit

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 71 != 0)
    return referential_audit(
        [
            ("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
            ("orders->customer", o, "o_custkey", cust, "c_custkey"),
        ]
    )


# --------------------------------------------------------------------------
# q138 — within-doc repeated-block dedup (X4, the complement of q114's
# cross-doc surgery which keeps self-repeats by design): drop repeated
# 8-token blocks inside each document, keep first occurrences in order.
# Operators: ROW-LOCAL consecutive-slice blocks + keep-first higher-order
# filter (first-index == own-index) — zero shuffles at any corpus size.
# Oracle: explode + per-doc row_number window + ordered string_agg — the
# hash match proves the row-local filter equals the window semantics.
# --------------------------------------------------------------------------
@register(
    "q138_intra_doc_dedup",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS tk FROM documents
    ), c AS (
      SELECT doc_id, tk, (len(tk) + 7) // 8 AS nb FROM t
      WHERE len(tk) > 0 AND NOT (len(tk) = 1 AND tk[1] = '')
    ), blocks AS (
      SELECT doc_id, nb, i AS p,
             array_to_string(tk[i*8+1 : i*8+8], ' ') AS block
      FROM (SELECT doc_id, tk, nb, unnest(range(0, nb)) AS i FROM c)
    ), firsts AS (
      SELECT doc_id, nb, block, p,
             row_number() OVER (PARTITION BY doc_id, block ORDER BY p) AS rn
      FROM blocks
    )
    SELECT doc_id, CAST(max(nb) AS BIGINT) AS n_blocks,
           CAST(count(*) AS BIGINT) AS n_unique_blocks,
           string_agg(block, ' ' ORDER BY p) AS cleaned_text
    FROM firsts WHERE rn = 1 GROUP BY doc_id
    """,
    "within-doc repeated-block dedup (Dolma paragraph-dedup shape): row-local keep-first filter over consecutive 8-token blocks, zero shuffles — the intra-doc complement of q114's cross-doc span surgery (X4)",
)
def q138(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip copy-pasted runs and boilerplate INSIDE each document: every
    repeated 8-token block after its first occurrence is dropped, order
    preserved. See operators/text.py::dedup_repeated_blocks — entirely
    row-local; the oracle's explode+window replay proves equivalence."""
    from universal_aws_data_pipeline_spark.operators.text import dedup_repeated_blocks

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_repeated_blocks(d, block_tokens=8)


# --------------------------------------------------------------------------
# q139 — cross-source n-gram overlap matrix (X2/X6): the corpus-pair
# redundancy diagnostic before mixing. Operators: per-doc shingles →
# DISTINCT (source, digest), ONE digest aggregation collecting the
# ≤|sources| owner set, ROW-LOCAL i<j pair expansion, |sources|²-bounded
# count — the naive digest self-join never happens. Jaccard from the same
# digest table's per-source sizes.
# Oracle: the self-join spelling (fine at oracle scale) — a hash match
# proves the owner-set expansion equals pairwise-join semantics.
# --------------------------------------------------------------------------
@register(
    "q139_source_overlap_matrix",
    f"""
    WITH tt AS (
      SELECT source, string_split({_NORM_SQL}, ' ') AS t, {_NORM_SQL} AS norm
      FROM documents
    ), dg AS (
      SELECT DISTINCT source, {_hex_int_sql("sh", 15)} AS digest FROM (
        SELECT source, unnest(CASE WHEN len(t) >= 8
          THEN list_distinct(list_transform(range(1, len(t) - 6),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], t[i+6], t[i+7])))
          ELSE [norm] END) AS sh
        FROM tt
      )
    ), pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_overlap
      FROM dg a JOIN dg b ON a.digest = b.digest AND a.source < b.source
      GROUP BY 1, 2
    ), sizes AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM dg GROUP BY source
    )
    SELECT src_a, src_b, n_overlap, sa.n AS n_a, sb.n AS n_b,
           round(CAST(n_overlap AS DOUBLE) / (sa.n + sb.n - n_overlap), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON pairs.src_a = sa.source
    JOIN sizes sb ON pairs.src_b = sb.source
    """,
    "cross-source 8-gram overlap matrix: distinct (source, digest) -> owner-set collection -> row-local pair expansion (|sources|^2-bounded; no digest self-join), shared counts + Jaccard per source pair — the corpus-redundancy diagnostic before mixing (X2/X6)",
)
def q139(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much do the corpus sources overlap n-gram-wise? Shared distinct
    8-gram counts and Jaccard for every source pair — decides
    dedup-before-mix and flags near-duplicate corpora. See
    operators/retrieval.py::corpus_overlap_matrix for why the plan
    collects bounded owner sets instead of self-joining digests."""
    from universal_aws_data_pipeline_spark.operators.dedup import parallelize_text_scan
    from universal_aws_data_pipeline_spark.operators.retrieval import (
        corpus_overlap_matrix,
    )

    d = _t(spark, sf_dir, "documents").select("source", "text")
    return corpus_overlap_matrix(parallelize_text_scan(d), "source", "text", 8)


# --------------------------------------------------------------------------
# q140 — token frequency spectrum / count-of-counts (X4): the Zipf /
# Good-Turing vocabulary diagnostic — "how many distinct tokens occur
# exactly k times", plus the token mass each frequency class carries.
# Operators: two map-side-combinable aggregations — vocab-sized, then
# |distinct frequencies|-sized (hundreds of rows); all-integer output.
# Scale: the token explode is the only corpus-sized stage; the spectrum
# itself is log-bounded. The singleton row (k=1) is the Good-Turing
# unseen-mass estimate; the head rows show stopword concentration.
# --------------------------------------------------------------------------
@register(
    "q140_token_spectrum",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
    ), vocab AS (
      SELECT tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY tok
    )
    SELECT CAST(c AS BIGINT) AS occ_count,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(c * count(*) AS BIGINT) AS token_mass
    FROM vocab GROUP BY c
    """,
    "token frequency spectrum (count-of-counts): vocab aggregate -> |frequencies|-row Zipf/Good-Turing diagnostic with per-class token mass; two map-side-combinable aggregations, all-integer (X4)",
)
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus vocabulary's shape: how many distinct tokens occur k
    times, and how much token mass each frequency class carries. k=1 is
    Good-Turing's unseen-mass estimate; the heavy tail drives vocab-size
    and min-frequency cut decisions."""
    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col

    d = _t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return vocab.groupBy("c").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        (F.col("c") * F.count(F.lit(1))).cast("long").alias("token_mass"),
    ).select(F.col("c").cast("long").alias("occ_count"), "n_tokens", "token_mass")


# --------------------------------------------------------------------------
# q141 — dedup ROI report (X2 composition): what does near-dup dedup
# actually BUY? Per cluster-size class: cluster count, total token mass,
# and tokens saved by keeping only the min-id canonical — the
# cost-benefit table that justifies (or kills) a dedup pass before it
# runs at full scale. Operators: q43's CC clusters × token counts, one
# cluster aggregate, one |size-classes|-row histogram; reuses q43's
# checkpointed pair/cluster engine so the marginal cost is a token map.
# Oracle: the same recursive-CTE closure as q43/q76 + token arithmetic.
# --------------------------------------------------------------------------
_Q141_ORACLE = f"""
WITH RECURSIVE pairs AS ({_Q15_ORACLE}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(id, lbl) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.id
),
comp AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, regexp_replace(text, '\\s+\\S+$', '') FROM documents
),
tk AS (
  SELECT doc_id, CAST(len(string_split({_NORM_SQL}, ' ')) AS BIGINT) AS n
  FROM corpus
),
cl AS (
  SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
         CAST(sum(tk.n) AS BIGINT) AS tot,
         CAST(sum(CASE WHEN c.doc_id = c.cluster_id THEN 0 ELSE tk.n END) AS BIGINT) AS saved
  FROM comp c JOIN tk ON c.doc_id = tk.doc_id
  GROUP BY c.cluster_id
)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(tot) AS BIGINT) AS total_tokens,
       CAST(sum(saved) AS BIGINT) AS saved_tokens
FROM cl GROUP BY cluster_size
"""


@register(
    "q141_dedup_roi",
    _Q141_ORACLE,
    "dedup ROI report: per cluster-size class, how many near-dup clusters exist and how many tokens keeping only the canonical saves — the cost-benefit table before a full-scale dedup pass (X2 composition over q43)",
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the dedup pass worth it? Tokens saved by collapsing each q43
    near-dup cluster to its min-id canonical, histogrammed by cluster
    size. Reuses q43's checkpointed cluster engine (same artifact as q76),
    so the marginal cost is one token-count map + two tiny aggregates."""
    from universal_aws_data_pipeline_spark.functions.texthash import tokens_col

    clusters = QUERIES["q43_dup_clusters"].fn(spark, sf_dir).select("doc_id", "cluster_id")
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    tk = d.unionByName(mutated).select(
        "doc_id", F.size(tokens_col(F.col("text"))).cast("long").alias("n")
    )
    cl = (
        clusters.join(tk, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.sum("n").cast("long").alias("tot"),
            F.sum(
                F.when(F.col("doc_id") == F.col("cluster_id"), 0).otherwise(F.col("n"))
            )
            .cast("long")
            .alias("saved"),
        )
    )
    return cl.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("tot").cast("long").alias("total_tokens"),
        F.sum("saved").cast("long").alias("saved_tokens"),
    )


# --------------------------------------------------------------------------
# q142 — SCD2 point-in-time reconstruction (warehouse family): the read
# side of type-2 history — the dimension AS OF two dates straddling the
# q51 merge, labeled and unioned. Operators: map-side validity predicate
# over the merged history (composes with partition pruning on the
# validity columns at scale — no snapshot storage, ever).
# Oracle: replays q51's merge SQL (shared constant) + the same filters.
# --------------------------------------------------------------------------
@register(
    "q142_scd2_asof",
    f"""
    WITH hist AS ({_Q51_ORACLE}),
    a AS (
      SELECT DATE '2022-01-01' AS asof_date, c_custkey, c_acctbal, c_mktsegment
      FROM hist
      WHERE valid_from <= DATE '2022-01-01'
        AND (valid_to IS NULL OR valid_to > DATE '2022-01-01')
    ), b AS (
      SELECT DATE '2024-07-01' AS asof_date, c_custkey, c_acctbal, c_mktsegment
      FROM hist
      WHERE valid_from <= DATE '2024-07-01'
        AND (valid_to IS NULL OR valid_to > DATE '2024-07-01')
    )
    SELECT * FROM a UNION ALL SELECT * FROM b
    """,
    "SCD2 point-in-time reconstruction: the dimension as of dates before AND after the q51 merge via one map-side validity filter each — history time travel with zero snapshot storage (warehouse family)",
)
def q142(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel through the q51 SCD2 history: as of 2022-01-01 every
    customer shows PRE-update values (the update hadn't happened); as of
    2024-07-01 the changed keys show their new versions. Both
    reconstructions are one filter over the same history table — see
    operators/scd.py::scd2_asof."""
    import datetime as _dt

    from universal_aws_data_pipeline_spark.operators.scd import scd2_asof

    hist = QUERIES["q51_scd2_merge"].fn(spark, sf_dir)

    def snap(d: _dt.date) -> DataFrame:
        return scd2_asof(hist, d).select(
            F.lit(d).alias("asof_date"), "c_custkey", "c_acctbal", "c_mktsegment"
        )

    return snap(_dt.date(2022, 1, 1)).unionByName(snap(_dt.date(2024, 7, 1)))


# --------------------------------------------------------------------------
# q143 — linear multi-touch attribution (analytics family): q120's
# complement — every event in the 30-minute lookback shares the
# purchase's credit equally, in integer micro-credits (10^6 div n — exact,
# engine-portable). Operators: per-user RANGE-frame window on wall-clock
# epoch micros (value-based frame ⇒ no tie ambiguity; NTZ-safe
# timestampdiff device from q33/q120), collect_list of in-window touches,
# row-local explode + credit split, channel rollup.
# Oracle: the self-join spelling over the same strict/inclusive bounds —
# the hash match proves the range-frame collect equals join semantics.
# Scale: one shuffle on user_id; frames bounded by events-per-user per
# 30 min; the rollup is |channels| rows.
# --------------------------------------------------------------------------
@register(
    "q143_linear_attribution",
    """
    WITH p AS (
      SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, ts, event_type FROM events
    ), touch AS (
      SELECT p.event_id AS pid, t.event_type AS channel
      FROM p JOIN t ON p.user_id = t.user_id
        AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 30 MINUTE
    ), ncnt AS (
      SELECT pid, count(*) AS n FROM touch GROUP BY pid
    ), credits AS (
      SELECT tc.channel, 1000000 // n.n AS credit_micro
      FROM touch tc JOIN ncnt n USING (pid)
      UNION ALL
      SELECT 'direct', 1000000
      FROM p WHERE p.event_id NOT IN (SELECT pid FROM ncnt)
    )
    SELECT channel, CAST(count(*) AS BIGINT) AS n_credits,
           CAST(sum(credit_micro) AS BIGINT) AS credit_micro_total
    FROM credits GROUP BY channel
    """,
    "linear multi-touch attribution: every event in the 30-min lookback shares the purchase credit equally in exact integer micro-credits; range-frame window collect (value-based, tie-proof) + row-local split, one user shuffle (analytics family)",
)
def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spread each purchase's credit equally over ALL touches in the prior
    30 minutes (q120 gives it all to the last one): 10^6 div n
    micro-credits per touch, 'direct' when no touches. The window frame is
    RANGE on wall-clock epoch micros — inclusive at exactly -30 min,
    exclusive of same-instant events, matching the oracle's join bounds."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    mic = F.expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', ts)")
    base = e.select("user_id", "event_id", "event_type", mic.alias("tm"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("tm")
        .rangeBetween(-1_800_000_000, -1)
    )
    p = (
        base.withColumn("touches", F.collect_list("event_type").over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "touches", F.size("touches").alias("n"))
    )
    split = p.filter(F.col("n") > 0).select(
        F.explode("touches").alias("channel"),
        F.expr("1000000 div n").alias("credit_micro"),
    )
    direct = p.filter(F.col("n") == 0).select(
        F.lit("direct").alias("channel"),
        F.lit(1_000_000).cast("long").alias("credit_micro"),
    )
    return (
        split.unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credits"),
            F.sum("credit_micro").cast("long").alias("credit_micro_total"),
        )
    )


# --------------------------------------------------------------------------
# q144 — pretraining-prep pipeline v2 (flagship composition, X-family):
# the round-5 operators chained end-to-end the way a real corpus build
# runs them — quality gate → WITHIN-doc block dedup (q138) → CROSS-doc
# exact dedup on the CLEANED text (q07's keep-first on a 60-bit digest;
# cleaning first means boilerplate can't mask true dups) → concat-and-
# chunk sequence packing of the survivors (q131). Four stages, TWO
# shuffles total (dedup digest + packing shard); everything else is
# row-local. The oracle composes the same four stages' SQL spellings —
# one hash match grades the whole pipeline, stage interactions included.
# --------------------------------------------------------------------------
@register(
    "q144_pretrain_e2e",
    f"""
    WITH {_Q135_QUAL},
    kept AS (
      SELECT q.doc_id FROM qual q WHERE q.quality >= 0.5
    ), t AS (
      SELECT d.doc_id, string_split({_NORM_SQL}, ' ') AS tk
      FROM documents d JOIN kept k ON d.doc_id = k.doc_id
    ), c AS (
      SELECT doc_id, tk, (len(tk) + 7) // 8 AS nb FROM t
      WHERE len(tk) > 0 AND NOT (len(tk) = 1 AND tk[1] = '')
    ), blocks AS (
      SELECT doc_id, i AS p, array_to_string(tk[i*8+1 : i*8+8], ' ') AS block
      FROM (SELECT doc_id, tk, unnest(range(0, nb)) AS i FROM c)
    ), firsts AS (
      SELECT doc_id, block, p,
             row_number() OVER (PARTITION BY doc_id, block ORDER BY p) AS rn
      FROM blocks
    ), cleaned AS (
      SELECT doc_id, string_agg(block, ' ' ORDER BY p) AS ctext
      FROM firsts WHERE rn = 1 GROUP BY doc_id
    ), dedup AS (
      SELECT doc_id, ctext,
             row_number() OVER (
               PARTITION BY {_hex_int_sql("ctext", 15)} ORDER BY doc_id) AS dr
      FROM cleaned
    ), surv AS (
      SELECT doc_id, CAST(len(string_split(ctext, ' ')) AS BIGINT) AS n_tokens,
             {_hex_int_sql("CAST(doc_id AS VARCHAR)", 4)} % {_Q131_SHARDS} AS shard
      FROM dedup WHERE dr = 1
    ), packed AS (
      SELECT shard, doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
      FROM surv WHERE n_tokens > 0
    )
    SELECT CAST(shard AS BIGINT) AS shard, doc_id, n_tokens, tok_offset,
           tok_offset // {_Q131_SEQ_LEN} AS first_seq,
           (tok_offset + n_tokens - 1) // {_Q131_SEQ_LEN} AS last_seq
    FROM packed
    """,
    "pretraining-prep pipeline v2: quality gate -> within-doc block dedup -> cross-doc exact dedup on CLEANED text -> sequence packing, composed end-to-end with TWO shuffles total; one hash match grades the whole pipeline including stage interactions (flagship composition)",
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus build, start to finish: gate on quality >= 0.5, strip
    within-doc repeated blocks (q138), drop cross-doc exact dups of the
    CLEANED text keeping the min id (cleaning first so shared boilerplate
    can't hide true duplicates), then pack survivors into 256-token
    training sequences (q131). Stage outputs chain as DataFrames — no
    materialization between stages; Catalyst fuses the row-local middle
    into the two shuffle stages."""
    from universal_aws_data_pipeline_spark.operators.packing import pack_sequences
    from universal_aws_data_pipeline_spark.operators.text import (
        dedup_repeated_blocks,
        quality_score,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kept = d.filter(quality_score(F.col("text")) >= 0.5)
    cleaned = dedup_repeated_blocks(kept, block_tokens=8).select("doc_id", "cleaned_text")
    dg = F.conv(F.substring(F.md5(F.col("cleaned_text")), 1, 15), 16, 10).cast("long")
    surv = (
        cleaned.withColumn("_dg", dg)
        .groupBy("_dg")
        .agg(F.min(F.struct("doc_id", "cleaned_text")).alias("_keep"))
        .select(
            F.col("_keep.doc_id").alias("doc_id"),
            F.size(F.split(F.col("_keep.cleaned_text"), " ")).cast("long").alias("n_toks"),
        )
    )
    return pack_sequences(
        surv, "doc_id", "n_toks", seq_len=_Q131_SEQ_LEN, n_shards=_Q131_SHARDS
    ).select("shard", "doc_id", "n_tokens", "tok_offset", "first_seq", "last_seq")


# --------------------------------------------------------------------------
# q145 — MAD robust outliers (A-family): q49's z-score uses mean/stddev,
# which the outliers themselves inflate (masking); median absolute
# deviation is breakdown-50% robust. The measure is DECLARED on the cents
# grid (events.value is generated as 2-dp currency; round(value*100) is the
# exact integer it encodes) and both medians run in doubled integer units
# (c2 = 2·cents, d4 = 2·|c2 − med2|) so every interpolated p50 over evens
# lands on an EXACT integer — which lets the size-gated percentile device
# (operators/robust.py::percentile_cont_long) switch between the plain
# percentile aggregate (value map bounded by the gate) and batched
# distributed quickselect + driver interpolation (bounded state at any
# scale) with bit-identical results (round-8 verdict item 1: the old
# spelling ran the exact percentile aggregate over the unquantized DOUBLE,
# whose final merge buffers a value map that scales with rows).
# The 1.4826 consistency constant scales MAD to sigma-equivalents; cutoff
# 3.5 is the standard Iglewicz-Hoaglin threshold.
# Oracle: quantile_cont twins percentile on the same integer grid
# (interpolated parity proven by q48); same mad4 > 0 guard both sides.
# --------------------------------------------------------------------------
@register(
    "q145_mad_outliers",
    """
    WITH e AS (
      SELECT event_id, event_type,
             CAST(2 * round(value * 100) AS BIGINT) AS c2
      FROM events
    ), med AS (
      SELECT event_type, quantile_cont(c2, 0.5) AS med2
      FROM e GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, CAST(2 * abs(e.c2 - m.med2) AS BIGINT) AS d4
      FROM e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(d4, 0.5) AS mad4
      FROM dev GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           round(2 * (e.c2 - m.med2) / (1.4826 * d.mad4), 3) AS robust_z
    FROM e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    WHERE d.mad4 > 0
      AND abs(2 * (e.c2 - m.med2) / (1.4826 * d.mad4)) >= 3.5
    """,
    "MAD robust outliers on the declared cents grid: size-gated exact medians per group (percentile aggregate under the gate, batched distributed quickselect above — never a rows-scaled value buffer), Iglewicz-Hoaglin 3.5 cutoff — the masking-proof complement of q49's z-score (A-family)",
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outliers the outliers can't hide: robust z via median and MAD
    instead of mean/stddev (which extreme values inflate until q49 stops
    flagging them). Two |event-types|-row median tables broadcast back
    over the stream read; each median comes from the size-gated device —
    the doubled-cents integer grid makes interpolated p50 exact on both
    paths, so the gate changes the PLAN, never the answer
    (tests/test_round9_ops.py proves path agreement on the fixture)."""
    from universal_aws_data_pipeline_spark.operators.robust import (
        percentile_cont_long,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.lit(2) * F.round(F.col("value") * 100)).cast("long").alias("c2"),
    )
    n_input = e.count()  # one cheap parallel count job gates the plan (|values| <= |rows|)
    med = percentile_cont_long(
        e.select("event_type", "c2"),
        "event_type",
        "c2",
        {"med2": 0.5},
        gate_rows=_PCTL_GATE,
        input_rows=n_input,
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type",
        (F.lit(2) * F.abs(F.col("c2") - F.col("med2"))).cast("long").alias("d4"),
    )
    mad = percentile_cont_long(
        dev,
        "event_type",
        "d4",
        {"mad4": 0.5},
        gate_rows=_PCTL_GATE,
        input_rows=n_input,
    )
    rz = (
        F.lit(2)
        * (F.col("c2") - F.col("med2"))
        / (F.lit(1.4826) * F.col("mad4"))
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .filter((F.col("mad4") > 0) & (F.abs(rz) >= 3.5))
        .select("event_id", "event_type", F.round(rz, 3).alias("robust_z"))
    )


# --------------------------------------------------------------------------
# q146 — event-time disorder audit (STR-support family): the measurement
# that SIZES a streaming watermark — per event type, how often events
# arrive behind an already-seen later event (per-user lag inversion) and
# the p95/max backward jump in seconds. Set the watermark delay above the
# p95 jump and late-drop becomes quantified, not guessed.
# Operators: one per-user grouped window (arrival order = ts,event_id of
# the RECORD stream — the fixture's generation order), MICROSECOND
# timestampdiff (q33's device; SECOND truncation flips boundary rows),
# |types|-row rollup with exact integer jumps + interpolated percentile
# (quantile_cont parity from q48), SIZE-GATED (round-9): the exact p95
# aggregate runs only under _PCTL_GATE input rows; above it the batched
# quickselect device selects the flanking order statistics with bounded
# state (back_us is per-row-distinct, so the aggregate's value map would
# otherwise scale with the corpus).
# --------------------------------------------------------------------------
@register(
    "q146_disorder_audit",
    """
    WITH late AS (
      SELECT event_type, user_id, event_id,
             CASE WHEN event_id % 37 = 0 THEN ts - INTERVAL 6 HOUR
                  ELSE ts END AS ts
      FROM events
    ), o AS (
      SELECT event_type, user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
      FROM late
    ), j AS (
      SELECT event_type,
             CASE WHEN prev_ts IS NOT NULL AND ts < prev_ts
                  THEN datediff('microsecond', ts, prev_ts) ELSE NULL END AS back_us
      FROM o
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(back_us) AS BIGINT) AS n_inversions,
           round(CAST(count(back_us) AS DOUBLE) / count(*), 6) AS inversion_rate,
           CAST(coalesce(max(back_us), 0) AS BIGINT) AS max_back_us,
           CAST(coalesce(round(quantile_cont(back_us, 0.95), 0), 0) AS BIGINT) AS p95_back_us
    FROM j GROUP BY event_type
    """,
    "event-time disorder audit: per-type inversion rate and p95/max backward jump in exact microseconds over per-user event_id arrival order — the number that sizes a streaming watermark delay (STR-support family)",
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How out-of-order is this stream, really? Per event type: the
    fraction of events carrying a timestamp EARLIER than the user's
    previously-arrived one (event_id = arrival order), plus p95/max
    backward jump. The p95 is the evidence-based watermark delay; max is
    the loss bound if you use it. The fixture's generator emits in
    timestamp order, so a deterministic late-feed perturbation (every
    37th event's ts pulled back 6 h — the q130/q132 synthetic-CDC
    convention; inter-event gaps here run to hours) supplies the
    disorder the audit must measure.

    SIZE-GATED percentile (round-9): at or under _PCTL_GATE input rows the
    single grouped aggregate runs unchanged (one pass, value map bounded by
    the gate — back_us is per-row-distinct microseconds, so the exact
    aggregate's merge buffer tracks rows). Above the gate the narrow
    (type, back_us) projection is checkpointed once, the safe aggregates
    run over it, and the p95 comes from the batched-quickselect device —
    bit-identical doubles, identical rounding, proven by the forced-gate
    path-agreement test in tests/test_round9_ops.py."""
    from pyspark.sql.window import Window

    from universal_aws_data_pipeline_spark.operators.robust import (
        percentile_cont_long,
    )

    e = _t(spark, sf_dir, "events").withColumn(
        "ts",
        F.when(
            F.col("event_id") % 37 == 0, F.col("ts") - F.expr("INTERVAL 6 HOUR")
        ).otherwise(F.col("ts")),
    )
    n_input = e.count()  # one cheap parallel count job gates the plan (|back_us| <= |rows|)
    w = Window.partitionBy("user_id").orderBy("event_id")
    o = e.select(
        "event_type", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    back = F.when(
        F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts")),
        F.expr("timestampdiff(MICROSECOND, ts, prev_ts)"),
    )
    proj = o.select("event_type", back.alias("back_us"))
    if n_input <= _PCTL_GATE:
        return proj.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("back_us").cast("long").alias("n_inversions"),
            F.round(
                F.count("back_us").cast("double") / F.count(F.lit(1)), 6
            ).alias("inversion_rate"),
            F.coalesce(F.max("back_us"), F.lit(0)).cast("long").alias("max_back_us"),
            F.coalesce(F.round(F.expr("percentile(back_us, 0.95)"), 0), F.lit(0))
            .cast("long")
            .alias("p95_back_us"),
        )
    proj = proj.localCheckpoint(eager=True)
    base = proj.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("back_us").cast("long").alias("n_inversions"),
        F.round(
            F.count("back_us").cast("double") / F.count(F.lit(1)), 6
        ).alias("inversion_rate"),
        F.coalesce(F.max("back_us"), F.lit(0)).cast("long").alias("max_back_us"),
    )
    p95 = percentile_cont_long(
        proj,
        "event_type",
        "back_us",
        {"p95d": 0.95},
        gate_rows=_PCTL_GATE,
        input_rows=n_input,
        pre_materialized=True,  # proj is checkpointed above for the base agg
    )
    return base.join(F.broadcast(p95), "event_type", "left").select(
        "event_type",
        "n_events",
        "n_inversions",
        "inversion_rate",
        "max_back_us",
        F.coalesce(F.round(F.col("p95d"), 0), F.lit(0))
        .cast("long")
        .alias("p95_back_us"),
    )


# --------------------------------------------------------------------------
# q147 — conversion-latency percentiles (analytics family): q55 counts
# funnel conversions; this measures HOW LONG they take — per user, first
# visit → first purchase, rolled up to latency percentiles. Operators:
# one per-user conditional min-aggregate (map-side combinable — no
# window), MICROSECOND-exact latency, one global percentile rollup.
# Scale: one shuffle on user_id, then a 1-row reduction (adjudicated) —
# SIZE-GATED (round-9): under _PCTL_GATE input rows the exact aggregate's
# single-task value map is gate-bounded; above it p50/p90/p99 come from
# the batched quickselect device (bounded driver state, no value buffer).
# --------------------------------------------------------------------------
@register(
    "q147_conversion_latency",
    """
    WITH u AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id
    ), lat AS (
      SELECT datediff('microsecond', first_view, first_purchase) AS us
      FROM u
      WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        AND first_purchase >= first_view
    )
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(round(quantile_cont(us, 0.50), 0) AS BIGINT) AS p50_us,
           CAST(round(quantile_cont(us, 0.90), 0) AS BIGINT) AS p90_us,
           CAST(round(quantile_cont(us, 0.99), 0) AS BIGINT) AS p99_us,
           CAST(max(us) AS BIGINT) AS max_us
    FROM lat
    """,
    "conversion-latency percentiles: first view -> first purchase per user via one conditional min-aggregate (no window), microsecond-exact, global p50/p90/p99 rollup (analytics family)",
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long from first sight to first sale? Per-user first-view and
    first-purchase come from ONE conditional min-aggregate (map-side
    combinable; never a per-user ordered window), then a single latency
    percentile reduction. Users who purchased before ever viewing
    (cross-device, tracking gaps) are excluded explicitly.

    SIZE-GATED percentiles (round-9): the latencies are per-user-distinct
    microseconds, so the exact global percentile aggregate funnels a
    rows-scaled value map through ONE task. At or under _PCTL_GATE input
    rows that single-pass reduction runs unchanged; above it the |users|-
    bounded latency projection is checkpointed and p50/p90/p99 come from
    the batched-quickselect device (bounded state, bit-identical doubles —
    forced-gate path-agreement test in tests/test_round9_ops.py)."""
    from universal_aws_data_pipeline_spark.operators.robust import (
        percentile_cont_long,
    )

    e = _t(spark, sf_dir, "events")
    n_input = e.count()  # one cheap parallel count job gates the plan (|latencies| <= |rows|)
    u = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    lat = u.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select(
        F.expr("timestampdiff(MICROSECOND, first_view, first_purchase)").alias("us")
    )
    if n_input <= _PCTL_GATE:
        return lat.agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.round(F.expr("percentile(us, 0.50)"), 0).cast("long").alias("p50_us"),
            F.round(F.expr("percentile(us, 0.90)"), 0).cast("long").alias("p90_us"),
            F.round(F.expr("percentile(us, 0.99)"), 0).cast("long").alias("p99_us"),
            F.max("us").cast("long").alias("max_us"),
        )
    lat = lat.localCheckpoint(eager=True)
    base = lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.max("us").cast("long").alias("max_us"),
    )
    pct = percentile_cont_long(
        lat,
        None,
        "us",
        {"p50d": 0.50, "p90d": 0.90, "p99d": 0.99},
        gate_rows=_PCTL_GATE,
        input_rows=n_input,
        pre_materialized=True,  # lat is checkpointed above for the base agg
    )
    return base.crossJoin(F.broadcast(pct)).select(
        "n_converted",
        F.round(F.col("p50d"), 0).cast("long").alias("p50_us"),
        F.round(F.col("p90d"), 0).cast("long").alias("p90_us"),
        F.round(F.col("p99d"), 0).cast("long").alias("p99_us"),
        "max_us",
    )


# --------------------------------------------------------------------------
# q148 — k-core decomposition of the part co-purchase graph (graph family).
# Operators: bounded parallel peeling (operators/graph.py::k_core) — each
# round drops every node with degree < k in the surviving subgraph, all at
# once. Fixed round count makes the iterative recurrence engine-replayable
# (the q115 device); the result equals the true k-core whenever peel depth
# <= rounds (rounds past the fixpoint are no-ops).
# Scale: per round two shuffle joins vs the survivor set + one map-side-
# combinable degree agg; no per-round driver action — rounds chain lazily
# into ONE job. Oracle: the same peel unrolled as chained CTEs.
# --------------------------------------------------------------------------
_KCORE_K, _KCORE_ROUNDS = 3, 4


def _kcore_step(i: int) -> str:
    prev = "a0" if i == 1 else f"a{i - 1}"
    return f"""
    a{i} AS (
      SELECT e.x AS node FROM e
      JOIN {prev} p ON e.x = p.node
      JOIN {prev} q ON e.y = q.node
      GROUP BY e.x HAVING count(*) >= {_KCORE_K}
    )"""


@register(
    "q148_kcore_parts",
    f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), eu AS (
      SELECT a.p AS x, b.p AS y
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= 2
    ), e AS (
      SELECT x, y FROM eu UNION ALL SELECT y, x FROM eu
    ), a0 AS (
      SELECT DISTINCT x AS node FROM e
    ),{",".join(_kcore_step(i) for i in range(1, _KCORE_ROUNDS + 1))}
    SELECT e.x AS part_id, CAST(count(*) AS BIGINT) AS core_deg
    FROM e
    JOIN a{_KCORE_ROUNDS} p ON e.x = p.node
    JOIN a{_KCORE_ROUNDS} q ON e.y = q.node
    GROUP BY e.x
    """,
    f"{_KCORE_K}-core of the repeat co-purchase graph via {_KCORE_ROUNDS} bounded parallel peel rounds: the dense always-bought-together backbone that survives when every weakly-connected part is recursively stripped (graph family)",
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dense backbone of the co-purchase graph: parts that keep >= 3
    repeat-co-purchase partners even after every weaker part is recursively
    removed — the standard graph-mining densest-region preprocessing (and
    the dedup-graph analogue: a high-core near-dup cluster is template spam,
    a low-core one is organic). Edge set = q116's support >= 2 co-purchase
    pairs, shared through the `_copurchase_edges` parquet artifact; peeling
    via operators/graph.py::k_core."""
    from universal_aws_data_pipeline_spark.operators.graph import k_core

    e = _copurchase_edges(spark, sf_dir).select("a", "b")
    return k_core(e, k=_KCORE_K, rounds=_KCORE_ROUNDS).select(
        F.col("node").alias("part_id"), "core_deg"
    )


# --------------------------------------------------------------------------
# q149 — label-propagation communities on the co-purchase graph (graph
# family). Operators: fixed-round synchronous LPA with a deterministic
# smallest-label tie-break (operators/graph.py::label_propagation) —
# frequency voting splits the connected graph along dense regions, which
# min-label connected components (q43/q56) cannot do. The tie-break is
# what makes classic run-order-dependent LPA hash-gradable.
# Scale: per round one shuffle join + two map-side-combinable aggs (vote
# count absorbs celebrity fan-in pre-shuffle; argmax is a max-struct agg,
# never a per-node sorted window); fixed rounds chain lazily into one job.
# Oracle: the same voting recurrence unrolled as chained CTEs.
# --------------------------------------------------------------------------
_LPA_ROUNDS = 4


def _lpa_step(i: int) -> str:
    prev = "l0" if i == 1 else f"l{i - 1}"
    return f"""
    l{i} AS (
      SELECT node, label FROM (
        SELECT m.node, m.label,
               row_number() OVER (PARTITION BY m.node ORDER BY m.cnt DESC, m.label ASC) AS rn
        FROM (
          SELECT e.y AS node, p.label, count(*) AS cnt
          FROM e JOIN {prev} p ON e.x = p.node
          GROUP BY e.y, p.label
        ) m
      ) WHERE rn = 1
    )"""


@register(
    "q149_copurchase_communities",
    f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), eu AS (
      SELECT a.p AS x, b.p AS y
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING count(*) >= 2
    ), e AS (
      SELECT x, y FROM eu UNION ALL SELECT y, x FROM eu
    ), l0 AS (
      SELECT DISTINCT x AS node, x AS label FROM e
    ),{",".join(_lpa_step(i) for i in range(1, _LPA_ROUNDS + 1))}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(min(node) AS BIGINT) AS min_part
    FROM l{_LPA_ROUNDS}
    GROUP BY label HAVING count(*) >= 2
    """,
    f"co-purchase communities via {_LPA_ROUNDS}-round deterministic label propagation (most-frequent neighbor label, ties to smallest): dense product families split out of one connected blob, which min-label components cannot separate (graph family)",
)
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product families, not components: frequency-voting label propagation
    splits the (largely connected) co-purchase graph along its dense
    regions, where q43/q56-style min-label closure would collapse it into
    one giant component. Communities of >= 2 parts with their size and
    smallest member; edge set shared with q116/q148 through the
    `_copurchase_edges` artifact; operators/graph.py::label_propagation."""
    from universal_aws_data_pipeline_spark.operators.graph import label_propagation

    e = _copurchase_edges(spark, sf_dir).select("a", "b")
    lbl = label_propagation(e, rounds=_LPA_ROUNDS)
    return (
        lbl.groupBy(F.col("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("node").cast("long").alias("min_part"),
        )
        .filter(F.col("n_parts") >= 2)
        .select("community", "n_parts", "min_part")
    )


# --------------------------------------------------------------------------
# q150 — k-means vector quantization in exact integers (X3 family).
# Operators: fixed-round Lloyd iterations over 1e-6-quantized BIGINT
# vectors (operators/cluster.py::kmeans_vq) — the codebook stage for IVF
# coarse quantizers / SemDeDup clustering, made hash-gradable by the q115
# device (integer floor-div recurrence, deterministic seeds = k smallest
# ids, distance ties toward smaller cid).
# Scale: per round one broadcast cross join (|V| x 8; the 8-row codebook
# broadcasts, vectors never shuffle for scoring) + a min-struct agg + ONE
# map-side-combinable k x dim centroid-sum agg (dim columns, never a
# posexplode of |V| x dim rows); fixed rounds chain lazily into one job.
# Oracle: the same recurrence unrolled as chained CTEs over DuckDB lists.
# --------------------------------------------------------------------------
_KM_K, _KM_DIM, _KM_ROUNDS = 8, 64, 2


def _km_assign_sql(tag: str, cent: str) -> str:
    return f"""
    {tag} AS (
      SELECT id, qe, cid, dist FROM (
        SELECT d.*,
               row_number() OVER (PARTITION BY d.id ORDER BY d.dist ASC, d.cid ASC) AS rn
        FROM (
          SELECT v.id, v.qe, c.cid,
                 CAST(list_sum(list_transform(range(0, {_KM_DIM}),
                      j -> (v.qe[j + 1] - c.cvec[j + 1]) * (v.qe[j + 1] - c.cvec[j + 1]))) AS BIGINT) AS dist
          FROM q v CROSS JOIN {cent} c
        ) d
      ) WHERE rn = 1
    )"""


def _km_recompute_sql(tag: str, assign: str) -> str:
    return f"""
    {tag} AS (
      SELECT cid, list(s ORDER BY j) AS cvec FROM (
        SELECT a.cid, jj.j, CAST(sum(a.qe[jj.j + 1]) // count(*) AS BIGINT) AS s
        FROM {assign} a CROSS JOIN (SELECT unnest(range(0, {_KM_DIM})) AS j) jj
        GROUP BY a.cid, jj.j
      ) GROUP BY cid
    )"""


def _q150_oracle() -> str:
    steps = []
    for r in range(1, _KM_ROUNDS + 1):
        steps.append(_km_assign_sql(f"a{r}", f"c{r - 1}"))
        steps.append(_km_recompute_sql(f"c{r}", f"a{r}"))
    return f"""
    WITH q AS (
      SELECT vec_id AS id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
      FROM embeddings
    ), c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS cid, qe AS cvec
      FROM (SELECT id, qe FROM q ORDER BY id LIMIT {_KM_K})
    ),{",".join(steps)}
    SELECT a.cid,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(a.dist // 1048576) AS BIGINT) AS inertia_milli,
           CAST(max(cl.l1) AS BIGINT) AS centroid_l1
    FROM a{_KM_ROUNDS} a
    JOIN (
      SELECT cid, list_sum(list_transform(cvec, x -> abs(x))) AS l1 FROM c{_KM_ROUNDS}
    ) cl USING (cid)
    GROUP BY a.cid
    """


@register(
    "q150_kmeans_vq",
    _q150_oracle(),
    f"k-means vector quantization ({_KM_K} clusters, {_KM_ROUNDS} Lloyd rounds) in exact 1e-6-integer arithmetic: broadcast codebook scoring, min-struct assignment, floor-div centroid update — deterministic codebook construction for IVF/SemDeDup (X3 family)",
)
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn an 8-cell codebook over the corpus embeddings and report each
    cell's size, exact integer inertia (sum of squared distances div 2^20),
    and centroid L1 mass. Integer quantization is what makes Lloyd's
    algorithm replayable: float centroid means drift by summation order,
    integer floor-div means do not. operators/cluster.py::kmeans_vq."""
    from universal_aws_data_pipeline_spark.operators.cluster import kmeans_vq

    e = _t(spark, sf_dir, "embeddings")
    q = e.select(
        F.col("vec_id").alias("id"),
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("long")
        ).alias("qe"),
    )
    assigned, cent = kmeans_vq(q, dim=_KM_DIM, k=_KM_K, assign_rounds=_KM_ROUNDS)
    l1 = cent.select(
        "cid",
        F.aggregate(
            F.transform("cvec", lambda x: F.abs(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("l1"),
    )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.expr("dist div 1048576")).cast("long").alias("inertia_milli"),
        )
        .join(F.broadcast(l1), "cid")
        .select("cid", "n_members", "inertia_milli", F.col("l1").cast("long").alias("centroid_l1"))
    )


# --------------------------------------------------------------------------
# q151 — CUSUM changepoint detection on daily event volume (time-series
# family). Operators: the one-sided CUSUM recursion S_i = max(0, S_{i-1} +
# dev_i) is NOT window-expressible as written — the classic identity
# S_i = cs_i - min(0, min_{j<=i} cs_j) (running sum minus its running
# minimum) turns the recursion into TWO prefix windows. Integer milli-units
# end-to-end (the q115 device): dev = 1000*n - mean_milli with a floor-div
# mean, so both engines replay bit-exactly.
# Scale: one shuffle to the |types x days| daily table (map-side combined),
# then windows over a calendar-bounded table — never over raw events.
# --------------------------------------------------------------------------
