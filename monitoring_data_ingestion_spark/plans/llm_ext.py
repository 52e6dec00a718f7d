"""LLM training-data pipeline extensions beyond the core dedup/similarity
set (BASELINE.json north star): sequence packing, sliding-window chunking,
intra-document repetition removal, and benchmark-contamination checking.

All are daily operations of a 100 TB pretraining-corpus pipeline:

* ``pack_sequences`` — greedy offset packing of documents into fixed
  token-capacity training sequences (per language × shard, deterministic
  shuffle order), the step that turns a cleaned corpus into dense batches.
* ``doc_chunk_sliding`` — overlapping fixed-size token windows (the RAG /
  embedding chunker).
* ``doc_token_dedup`` — first-occurrence repetition removal inside each
  document (the within-doc analogue of corpus dedup).
* ``contamination_ngram_overlap`` — n-gram overlap of every corpus doc
  against a held-out benchmark set (broadcast eval-set shingles), the
  standard decontamination gate before training.
* ``contamination_shingle_join`` — the same gate at eval-suite scale:
  the benchmark as a relation, matched by broadcast hash join on the
  shingle key instead of one collected array per row.

Scale stance: packing windows partition by language × shard-hash prefix
(no window partition serializes a whole language); chunking is a per-row
explode; token dedup shuffles (doc, token) pairs once; contamination is
map-only on the corpus side in both forms (single-array broadcast for
small benchmarks, shingle-keyed broadcast join past that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.deterministic import exact_sum
from ..sources.readers import table
from .analytics import _SHINGLES_SQL, _TOKENS_SQL, _shingled_docs, _tokens
from .catalog import query

PACK_CAPACITY = 512  # tokens per packed training sequence
CHUNK_SIZE = 32
CHUNK_STRIDE = 16
CONTAM_BENCH_DOCS = 50  # doc_id < 50 plays the held-out benchmark set
CONTAM_THRESHOLD = 0.10


@query(
    "pack_sequences",
    tags=("llm", "packing"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang,
         CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
  FROM documents
), pos AS (
  SELECT lang, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang, shard ORDER BY shuffle_key
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
  FROM toks
)
SELECT lang, shard,
       CAST(FLOOR(start_off / {PACK_CAPACITY}.0) AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / {PACK_CAPACITY} AS fill_ratio
FROM pos
GROUP BY lang, shard, seq_id
ORDER BY lang, shard, seq_id
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy offset packing: documents are deterministically shuffled
    (md5 of doc_id), laid end-to-end per (language, shard), and assigned
    to the training sequence their start offset falls in (capacity 512
    tokens).

    Scale: the running-sum window partitions by language × shard — the
    first hex digit of the shuffle key, so sharding IS the shuffle order
    (a shard is a contiguous slice of the per-language layout, not a
    second interleaved ordering). With ~10 languages at 100 TB a
    lang-only window would serialize ~10 TB of running sum through one
    task per language; 16 shards per language bound each window partition
    at 1/16th of that, and the shard fan-out widens with a longer prefix
    without changing semantics. Packing stays deterministic and never
    needs a global ordering.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        F.size(_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("shuffle_key")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos = toks.select(
        "lang",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("start_off"),
    )
    return (
        pos.groupBy(
            "lang",
            "shard",
            F.floor(F.col("start_off") / PACK_CAPACITY).alias("seq_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / PACK_CAPACITY).alias("fill_ratio"),
        )
        .orderBy("lang", "shard", "seq_id")
    )


@query(
    "doc_chunk_sliding",
    tags=("llm", "chunking"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
)
SELECT doc_id,
       CAST((i - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(len(t[i:i + {CHUNK_SIZE - 1}]) AS INTEGER) AS n_chunk_tokens,
       array_to_string(t[i:i + {CHUNK_SIZE - 1}], ' ') AS chunk_text
FROM toks, UNNEST(generate_series(1, greatest(len(t), 1), {CHUNK_STRIDE})) AS s(i)
ORDER BY doc_id, chunk_id
""",
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: overlapping windows of 32 tokens at stride
    16 — the embedding/RAG chunker. Pure per-row explode + array slice
    (zero shuffle before the presentation sort); chunk boundaries are
    token-index arithmetic so the operation is embarrassingly parallel.
    """
    d = table(spark, sf_dir, "documents")
    t = _tokens(F.col("text"))
    base = d.select("doc_id", t.alias("t"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("t"), F.lit(1)), F.lit(CHUNK_STRIDE))
    chunk = F.slice(F.col("t"), F.col("i"), CHUNK_SIZE)
    return (
        base.select("doc_id", "t", F.explode(starts).alias("i"))
        .select(
            "doc_id",
            ((F.col("i") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@query(
    "doc_token_dedup",
    tags=("llm", "dedup", "text"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
), exploded AS (
  SELECT doc_id, t[i] AS tok, i
  FROM toks, UNNEST(generate_series(1, len(t))) AS s(i)
), firsts AS (
  SELECT doc_id, tok, MIN(i) AS first_pos, COUNT(*) AS n_occ
  FROM exploded GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(n_occ) AS INTEGER) AS n_tokens,
       CAST(COUNT(*) AS INTEGER) AS n_unique,
       string_agg(tok, ' ' ORDER BY first_pos) AS dedup_text
FROM firsts
GROUP BY doc_id
ORDER BY doc_id
""",
)
def doc_token_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal: keep each token's FIRST
    occurrence, preserving original order (the within-doc analogue of
    Gopher-style repetition filtering, at token granularity).

    Scale: one shuffle of (doc, token) pairs for the first-occurrence
    aggregate, then a per-doc ordered reassembly via array_sort over
    (position, token) structs — no window, no Python.
    """
    d = table(spark, sf_dir, "documents")
    t = _tokens(F.col("text"))
    exploded = d.select("doc_id", F.posexplode(t).alias("i", "tok"))
    firsts = exploded.groupBy("doc_id", "tok").agg(
        F.min("i").alias("first_pos"), F.count(F.lit(1)).alias("n_occ")
    )
    return (
        firsts.groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("int").alias("n_tokens"),
            F.count(F.lit(1)).cast("int").alias("n_unique"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("first_pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("dedup_text"),
        )
        .orderBy("doc_id")
    )


@query(
    "contamination_ngram_overlap",
    tags=("llm", "dedup", "contamination"),
    oracle=f"""
WITH base AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL.strip()}) AS sh
  FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
), bench AS (
  SELECT list(DISTINCT s) AS b
  FROM (SELECT unnest(sh) AS s FROM base WHERE doc_id < {CONTAM_BENCH_DOCS})
)
SELECT doc_id,
       CAST(len(sh) AS INTEGER) AS n_shingles,
       CAST(len(list_intersect(sh, b)) AS INTEGER) AS n_common,
       CAST(len(list_intersect(sh, b)) AS DOUBLE) / greatest(len(sh), 1) AS overlap_frac,
       CAST(len(list_intersect(sh, b)) AS DOUBLE) / greatest(len(sh), 1)
         >= {CONTAM_THRESHOLD} AS contaminated
FROM base, bench
WHERE doc_id >= {CONTAM_BENCH_DOCS}
ORDER BY doc_id
""",
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: 3-gram shingle overlap of every corpus
    document against the held-out benchmark shingle set (docs 0..49 stand
    in for the eval set); a doc is flagged at ≥ 10% overlap.

    Scale: the benchmark shingle set is tiny relative to the corpus →
    collected into ONE broadcast array, so the corpus pass is map-only
    (array_intersect per row, no shuffle); the corpus is never exploded.
    """
    base = _shingled_docs(spark, sf_dir)
    bench = (
        base.filter(F.col("doc_id") < CONTAM_BENCH_DOCS)
        .select(F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
        .agg(F.collect_list("s").alias("b"))
    )
    n_common = F.size(F.array_intersect("sh", "b"))
    frac = n_common.cast("double") / F.greatest(F.size("sh"), F.lit(1))
    return (
        base.filter(F.col("doc_id") >= CONTAM_BENCH_DOCS)
        .crossJoin(F.broadcast(bench))
        .select(
            "doc_id",
            F.size("sh").alias("n_shingles"),
            n_common.alias("n_common"),
            frac.alias("overlap_frac"),
            (frac >= CONTAM_THRESHOLD).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


@query(
    "contamination_shingle_join",
    tags=("llm", "dedup", "contamination"),
    oracle=f"""
WITH base AS (
  SELECT doc_id, list_distinct({_SHINGLES_SQL.strip()}) AS sh
  FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
), bench AS (
  SELECT DISTINCT unnest(sh) AS s FROM base WHERE doc_id < {CONTAM_BENCH_DOCS}
), corpus AS (
  SELECT doc_id, len(sh) AS n_shingles, unnest(CASE WHEN len(sh) = 0 THEN [NULL] ELSE sh END) AS s
  FROM base WHERE doc_id >= {CONTAM_BENCH_DOCS}
), agg AS (
  SELECT c.doc_id, c.n_shingles,
         SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS n_common
  FROM corpus c LEFT JOIN bench b ON c.s = b.s
  GROUP BY c.doc_id, c.n_shingles
)
SELECT doc_id,
       CAST(n_shingles AS INTEGER) AS n_shingles,
       CAST(n_common AS INTEGER) AS n_common,
       CAST(n_common AS DOUBLE) / greatest(n_shingles, 1) AS overlap_frac,
       CAST(n_common AS DOUBLE) / greatest(n_shingles, 1)
         >= {CONTAM_THRESHOLD} AS contaminated
FROM agg ORDER BY doc_id
""",
)
def contamination_shingle_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination, eval-suite-scale form: shingle-explode
    the corpus and broadcast-JOIN against the benchmark shingle relation
    instead of intersecting one collected benchmark array per row.

    Same semantics as ``contamination_ngram_overlap``; different scale
    envelope. The single-array form needs the whole eval suite in one
    broadcast row (breaks past a few million shingles, and per-row
    ``array_intersect`` is O(|doc| × |bench|)). Here the benchmark is an
    ordinary relation: corpus shingles explode map-side, match via a
    broadcast hash join on the shingle key (O(1) probes), and fold back
    with ONE (doc_id)-keyed aggregate — the only shuffle. Past broadcast
    size the same plan degrades gracefully to a shuffled hash join; the
    arithmetic is unchanged.
    """
    base = _shingled_docs(spark, sf_dir)
    bench = (
        base.filter(F.col("doc_id") < CONTAM_BENCH_DOCS)
        .select(F.explode_outer("sh").alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = base.filter(F.col("doc_id") >= CONTAM_BENCH_DOCS).select(
        "doc_id",
        F.size("sh").alias("n_shingles"),
        # explode_outer keeps shingle-less docs (n_shingles = 0) in the result.
        F.explode_outer("sh").alias("s"),
    )
    agg = (
        corpus.join(F.broadcast(bench), "s", "left")
        .groupBy("doc_id", "n_shingles")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_common"))
    )
    frac = F.col("n_common").cast("double") / F.greatest("n_shingles", F.lit(1))
    return agg.select(
        "doc_id",
        F.col("n_shingles").cast("int").alias("n_shingles"),
        F.col("n_common").cast("int").alias("n_common"),
        frac.alias("overlap_frac"),
        (frac >= CONTAM_THRESHOLD).alias("contaminated"),
    ).orderBy("doc_id")


SAMPLE_K = 20
_U52 = float((1 << 52) + 1)


@query(
    "sample_weighted",
    tags=("llm", "sampling"),
    oracle=f"""
WITH keyed AS (
  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS w,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1)
           / {_U52} AS u
  FROM documents
), scored AS (
  SELECT source, doc_id, w,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY -ln(u) / w, doc_id) AS rk
  FROM keyed
)
SELECT source, doc_id, w AS weight, CAST(rk AS INTEGER) AS rank
FROM scored WHERE rk <= {SAMPLE_K}
ORDER BY source, rank
""",
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis): per
    source, the k docs with the smallest exponential draw −ln(u)/w are a
    weight-proportional sample — the corpus-mixing primitive (sample each
    source at a target rate weighted by doc quality/length) of every LLM
    data pipeline.

    Determinism: u is a 52-bit uniform derived from md5(doc_id), so both
    engines draw the SAME sample — reproducible corpus builds by
    construction. Scale: one window per source partition; at 100 TB the
    exponential-key top-k runs as per-partition heaps (rank ≤ k pushdown)
    rather than a full sort.
    """
    d = table(spark, sf_dir, "documents")
    u = (
        (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast("bigint") + 1)
        / F.lit(_U52)
    )
    keyed = d.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("double").alias("w"),
        u.alias("u"),
    )
    w_rank = Window.partitionBy("source").orderBy(
        (-F.log(F.col("u")) / F.col("w")).asc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= SAMPLE_K)
        .select("source", "doc_id", F.col("w").alias("weight"), F.col("rk").alias("rank"))
        .orderBy("source", "rank")
    )


MIX_ALPHA = 0.7  # temperature exponent: p_i ∝ n_i^α flattens the domain mix
MIX_BUDGET = 200  # total documents the mixed sample may keep


@query(
    "sample_temperature_mix",
    tags=("sampling", "llm"),
    oracle=f"""
WITH docs AS (
  SELECT doc_id,
         'd' || CAST(CAST(FLOOR(LOG2(doc_id + 2)) AS INTEGER) AS VARCHAR) AS domain
  FROM documents
), counts AS (
  SELECT domain, COUNT(*) AS n, POW(COUNT(*), {MIX_ALPHA}) AS pw
  FROM docs GROUP BY domain
), tot AS (
  SELECT SUM(pw) AS total_pw FROM counts
), budgets AS (
  SELECT c.domain, c.n,
         CAST(FLOOR({MIX_BUDGET} * c.pw / t.total_pw) AS INTEGER) AS budget
  FROM counts c CROSS JOIN tot t
), ranked AS (
  SELECT d.doc_id, d.domain,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY d.domain ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS INTEGER) AS srank
  FROM docs d
)
SELECT r.doc_id, r.domain, r.srank, b.budget
FROM ranked r JOIN budgets b ON r.domain = b.domain
WHERE r.srank <= b.budget
ORDER BY r.doc_id
""",
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain mixing: each domain's sampling budget is
    proportional to n_i^α (α=0.7 — the multilingual-LM scheme that
    up-weights small domains without letting any dominate), and documents
    are selected per domain by a deterministic md5 shuffle rank up to the
    budget. Domains here are exponentially-sized pseudo-domains derived
    from doc_id (the fixture's real sources are uniform, which would make
    every temperature invisible); with sizes 2, 4, 8, … the α-flattening
    is visible in the budgets — the largest domain gets far less than its
    proportional share. Output: the mixed sample with each doc's
    in-domain rank and its domain's budget.

    Scale: one count aggregate per domain (tiny), the power-law weights
    and budgets computed on that |domains|-row frame and broadcast back;
    the only corpus-sized work is the per-domain rank window — one
    shuffle on the domain key, same shape as sample_k_per_group but with
    a data-derived k. No collect; budgets are a joined dimension.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("d"), F.floor(F.log2(F.col("doc_id") + 2)).cast("int").cast("string")
        ).alias("domain"),
    )
    counts = d.groupBy("domain").agg(F.count(F.lit(1)).alias("n"))
    counts = counts.withColumn("pw", F.pow(F.col("n"), F.lit(MIX_ALPHA)))
    total = counts.agg(F.sum("pw").alias("total_pw"))
    budgets = counts.crossJoin(F.broadcast(total)).select(
        "domain",
        F.floor(F.lit(MIX_BUDGET) * F.col("pw") / F.col("total_pw"))
        .cast("int")
        .alias("budget"),
    )
    w = Window.partitionBy("domain").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = d.select(
        "doc_id", "domain", F.row_number().over(w).cast("int").alias("srank")
    )
    return (
        ranked.join(F.broadcast(budgets), "domain")
        .filter(F.col("srank") <= F.col("budget"))
        .select("doc_id", "domain", "srank", "budget")
        .orderBy("doc_id")
    )


DSIR_BUCKETS = 1024
DSIR_KEEP = 100
DSIR_TARGET_LANG = "en"


@query(
    "sample_dsir_importance",
    tags=("llm", "sampling", "quality"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS tok FROM documents
), bucketed AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(tok), 1, 3)) AS BIGINT) % {DSIR_BUCKETS} AS b
  FROM toks
), dc AS (
  SELECT doc_id, b, COUNT(*) AS c FROM bucketed GROUP BY doc_id, b
), models AS (
  SELECT b,
         SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct,
         COUNT(*) AS cs
  FROM bucketed GROUP BY b
), tots AS (
  SELECT SUM(ct) AS tot_t, SUM(cs) AS tot_s FROM models
), ratio AS (
  SELECT m.b,
         ROUND(ln(CAST((m.ct + 1) * (x.tot_s + {DSIR_BUCKETS}) AS DOUBLE)
                / CAST((m.cs + 1) * (x.tot_t + {DSIR_BUCKETS}) AS DOUBLE)), 6) AS r
  FROM models m CROSS JOIN tots x
), logw AS (
  SELECT d.doc_id,
         CAST(SUM(d.c) AS BIGINT) AS n_tokens,
         ROUND(CAST(SUM(d.c * CAST(r.r AS DECIMAL(18,6))) AS DOUBLE), 6)
           AS log_weight
  FROM dc d JOIN ratio r ON d.b = r.b GROUP BY d.doc_id
), keyed AS (
  SELECT doc_id, n_tokens, log_weight,
         ROUND(log_weight - ln(-ln(
           (CAST(('0x' || substr(md5('g' || CAST(doc_id AS VARCHAR)), 1, 13))
                 AS BIGINT) + 1) / {_U52})), 6) AS gumbel_score
  FROM logw
)
SELECT k.doc_id, d.lang, k.n_tokens, k.log_weight, k.gumbel_score
FROM keyed k JOIN documents d USING (doc_id)
ORDER BY gumbel_score DESC, k.doc_id LIMIT {DSIR_KEEP}
""",
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): select raw-pool
    documents whose hashed-n-gram distribution looks like the target
    domain. Two bag-of-hashed-unigram models (1024 md5-derived buckets)
    are trained in ONE corpus pass — target = the ``en`` slice, source =
    the whole pool; each document's importance weight is
    sum_b count_b * ln(p_target(b) / p_source(b)) with add-one smoothing,
    and the sample is the Gumbel-top-k of the weights (g = −ln(−ln u),
    u a 52-bit uniform from md5(doc_id)) — the exact DSIR sampling rule,
    made bit-reproducible because the randomness is content-keyed rather
    than drawn from an RNG.

    Scale stance: the feature space is FIXED (1024 buckets), so the two
    models are one map-side-combined aggregate and broadcast back onto
    the per-doc bucket counts; nothing all-pairs, nothing iterative. The
    final selection is a global top-k (TakeOrderedAndProject), not a full
    sort. Determinism: per-bucket log-ratios are rounded to 6 dp then
    decimal-exact-summed per doc (partitioning-proof); integer products
    stay below 2^53 so the double casts are lossless.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(_tokens(F.col("text"))).alias("tok")
    )
    bucketed = toks.select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 3), 16, 10).cast("bigint")
            % DSIR_BUCKETS
        ).alias("b"),
    )
    dc = bucketed.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    models = bucketed.groupBy("b").agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("ct"),
        F.count(F.lit(1)).alias("cs"),
    )
    tots = models.agg(
        F.sum("ct").alias("tot_t"), F.sum("cs").alias("tot_s")
    )
    ratio = models.crossJoin(F.broadcast(tots)).select(
        "b",
        F.round(
            F.log(
                ((F.col("ct") + 1) * (F.col("tot_s") + DSIR_BUCKETS)).cast("double")
                / ((F.col("cs") + 1) * (F.col("tot_t") + DSIR_BUCKETS)).cast("double")
            ),
            6,
        ).alias("r"),
    )
    logw = (
        dc.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.round(exact_sum(F.col("c") * F.col("r").cast("decimal(18,6)"), 6), 6).alias(
                "log_weight"
            ),
        )
    )
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("g"), F.col("doc_id").cast("string"))), 1, 13
                ),
                16,
                10,
            ).cast("bigint")
            + 1
        )
        / F.lit(_U52)
    )
    keyed = logw.select(
        "doc_id",
        "n_tokens",
        "log_weight",
        F.round(F.col("log_weight") - F.log(-F.log(u)), 6).alias("gumbel_score"),
    )
    return (
        keyed.join(d.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "n_tokens", "log_weight", "gumbel_score")
        .orderBy(F.desc("gumbel_score"), "doc_id")
        .limit(DSIR_KEEP)
    )


NEYMAN_BUDGET = 120


@query(
    "sample_neyman_allocation",
    tags=("llm", "sampling", "stats"),
    oracle=f"""
WITH strata AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS s1,
         CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2
  FROM documents GROUP BY source
), sized AS (
  SELECT source, n_docs,
         sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n_docs) / n_docs) AS sigma
  FROM strata
), tot AS (
  SELECT SUM(n_docs * sigma) AS weight_total FROM sized
), alloc AS (
  SELECT s.source, s.n_docs,
         ROUND(s.sigma, 6) AS sigma_chars,
         CAST(FLOOR({NEYMAN_BUDGET} * s.n_docs * s.sigma / t.weight_total)
              AS INTEGER) AS alloc
  FROM sized s CROSS JOIN tot t
), ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS srank
  FROM documents
)
SELECT r.doc_id, r.source, r.srank, a.alloc, a.n_docs, a.sigma_chars
FROM ranked r JOIN alloc a ON r.source = a.source
WHERE r.srank <= a.alloc
ORDER BY r.doc_id
""",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling: the budget is allocated
    across strata proportionally to N_h·σ_h (stratum size × within-
    stratum spread of document length), the allocation that minimizes
    the variance of the stratified estimate for a fixed budget — the
    statistically-correct way to build an eval slice when strata differ
    in both size and heterogeneity (vs the equal or size-proportional
    splits of ``sample_k_per_group``/``sample_class_balanced``).

    Determinism: σ comes from exact integer moment sums (Σx, Σx² stay
    below 2^53, so the double variance is bit-identical across engines
    and partitionings), allocation is a floor of the same doubles, and
    within-stratum selection ranks on md5(doc_id) — reproducible builds
    with no RNG. Scale: two map-side-combined aggregates (moments,
    then totals), allocation broadcast back, one window per stratum.
    """
    d = table(spark, sf_dir, "documents")
    strata = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("s2"),
    )
    sigma = F.sqrt(
        (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n_docs"))
        / F.col("n_docs")
    )
    sized = strata.select("source", "n_docs", sigma.alias("sigma"))
    tot = sized.agg(F.sum(F.col("n_docs") * F.col("sigma")).alias("weight_total"))
    alloc = sized.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round("sigma", 6).alias("sigma_chars"),
        F.floor(
            NEYMAN_BUDGET * F.col("n_docs") * F.col("sigma") / F.col("weight_total")
        )
        .cast("int")
        .alias("alloc"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select(
        "doc_id", "source", F.row_number().over(w).cast("int").alias("srank")
    )
    return (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("srank") <= F.col("alloc"))
        .select("doc_id", "source", "srank", "alloc", "n_docs", "sigma_chars")
        .orderBy("doc_id")
    )
