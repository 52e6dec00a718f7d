"""LLM-data-pipeline operators (BASELINE.json north star, SURVEY.md §7 P4).

Deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard), similarity
search over embeddings, and text analysis — all built from the same Spark
primitives as the relational core, each hash-checked against a DuckDB
oracle that implements the *identical* deterministic definition.

Portability note: every hash used in a signature is MD5-of-string — the
one hash both engines compute identically — so MinHash/SimHash results are
engine-independent by construction (no reliance on engine-native hash()).

Scale posture: candidate generation is always blocked (LSH bands / SimHash
byte-blocks), never an all-pairs cross join; the all-pairs form appears
only in oracle SQL, where DuckDB runs it on sf0.01 fixtures.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from pyspark import StorageLevel

from ..functions.deterministic import exact_sum, exact_sum_sql
from ..session_cache import memo_plan, register_cache
from ..sources.readers import table
from .catalog import query

# Shared deterministic text definitions (identical in oracle SQL below).
_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")
_PUNCT = r"[.,;:!?]"

N_MINHASH = 32
LSH_BANDS = 16  # 16 bands × 2 rows
LSH_ROWS = 2
JACCARD_THRESHOLD = 0.4
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 3  # ≤3 over 4 byte-blocks → pigeonhole: one block exact


def _tokens(text_col) -> Column:
    """Whitespace tokens of lowercased trimmed text — the engine's shared
    tokenizer (identical to string_split_regex(lower(trim(..)), '\\s+'))."""
    return F.split(F.lower(F.trim(text_col)), r"\s+")


_TOKENS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"


def _shingles(tok_col) -> Column:
    """Word 3-gram shingles (space-joined), as zip_with over three shifted
    slices of the token array.

    Deliberately NOT ``transform(sequence(...), i -> element_at(tok, i))``:
    optimizer rules (InferFiltersFromGenerate, constraint propagation)
    substitute column definitions into pushed-down predicates, and if the
    tokenizer lands inside an index lambda every element access re-splits
    the whole text — O(n²) regex work per document per evaluation
    (measured: 18 s vs 0.3 s for the shingle explode at sf0.1). With
    slices + zip_with the inlined form evaluates the tokenizer a constant
    number of times per row no matter where the optimizer copies it.
    """
    n = F.size(tok_col)
    first = F.slice(tok_col, 1, n - 2)
    second = F.slice(tok_col, 2, n - 2)
    third = F.slice(tok_col, 3, n - 2)
    joined = F.zip_with(
        F.zip_with(first, second, lambda x, y: F.concat_ws(" ", x, y)),
        third,
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    return F.when(n >= 3, joined).otherwise(F.array().cast("array<string>"))


_SHINGLES_SQL = """
CASE WHEN len(t) >= 3
     THEN list_transform(generate_series(1, len(t) - 2),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
     ELSE [] END
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    tags=("text",),
    oracle=f"""
WITH toks AS (SELECT doc_id, n_chars, {_TOKENS_SQL} AS t FROM documents)
SELECT doc_id,
       CAST(len(t) AS INTEGER) AS n_tokens,
       n_chars,
       CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS total_token_chars,
       CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t) AS avg_token_len,
       CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS type_token_ratio
FROM toks ORDER BY doc_id
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (north-star text analysis): counts, average token
    length, type-token ratio — all native array expressions, no UDF."""
    d = table(spark, sf_dir, "documents")
    t = _tokens(F.col("text"))
    total_chars = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("bigint")), F.lit(0).cast("bigint"), lambda a, v: a + v
    )
    return d.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        "n_chars",
        total_chars.alias("total_token_chars"),
        (total_chars.cast("double") / F.size(t)).alias("avg_token_len"),
        (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias("type_token_ratio"),
    ).orderBy("doc_id")


@query(
    "text_quality_score",
    tags=("text",),
    oracle=f"""
WITH feats AS (
  SELECT doc_id, {_TOKENS_SQL} AS t,
         CAST(len(regexp_extract_all(text, '{_PUNCT[1:-1].replace("'", "''")}', 0)) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio
  FROM documents
), scored AS (
  SELECT doc_id,
         CAST(len(t) AS INTEGER) AS n_tokens,
         punct_ratio,
         CAST(len(list_filter(t, x -> list_contains({list(_STOPWORDS)}, x))) AS DOUBLE)
           / greatest(len(t), 1) AS stopword_ratio
  FROM feats
)
SELECT doc_id, n_tokens, punct_ratio, stopword_ratio,
       0.3 * least(n_tokens / 100.0, 1.0) + 0.4 * (1.0 - punct_ratio) + 0.3 * least(stopword_ratio * 5.0, 1.0) AS quality_score
FROM scored ORDER BY doc_id
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score: length, punctuation density and
    stopword ratio combined — the classic pretraining-corpus filter,
    as one codegen'd expression tree."""
    d = table(spark, sf_dir, "documents")
    t = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    punct_ratio = (
        F.size(F.regexp_extract_all("text", F.lit(_PUNCT[1:-1]), 0)).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    base = d.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        (
            F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x))).cast("double")
            / F.greatest(F.size(t), F.lit(1))
        ).alias("stopword_ratio"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "punct_ratio",
        "stopword_ratio",
        (
            0.3 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
            + 0.4 * (1.0 - F.col("punct_ratio"))
            + 0.3 * F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
        ).alias("quality_score"),
    ).orderBy("doc_id")


@query(
    "text_langid",
    tags=("text",),
    oracle=f"""
WITH toks AS (SELECT doc_id, lang, {_TOKENS_SQL} AS t FROM documents),
feats AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(t, x -> list_contains({list(_STOPWORDS)}, x))) AS DOUBLE)
           / greatest(len(t), 1) AS en_score
  FROM toks
)
SELECT doc_id, lang, en_score,
       CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'unk' END AS predicted
FROM feats ORDER BY doc_id
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic: English function-word density
    → en/unk. (The fixture corpus is synthetic same-vocabulary text, so the
    heuristic's *computation* is the contract, not real-world accuracy.)"""
    d = table(spark, sf_dir, "documents")
    t = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    en_score = (
        F.size(F.filter(t, lambda x: F.array_contains(stop_arr, x))).cast("double")
        / F.greatest(F.size(t), F.lit(1))
    )
    return d.select(
        "doc_id",
        "lang",
        en_score.alias("en_score"),
        F.when(en_score >= 0.05, "en").otherwise("unk").alias("predicted"),
    ).orderBy("doc_id")


@query(
    "doc_fingerprint",
    tags=("text", "dedup", "hash"),
    oracle="""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents ORDER BY doc_id
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: MD5 of whitespace-normalized lowercased text —
    the exact-dedup key (reference `hash_of_this_file` generalized,
    /root/reference/src/utility.js:47-50)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")).alias("fingerprint"),
    ).orderBy("doc_id")


@query(
    "dedup_exact_docs",
    tags=("dedup", "hash"),
    oracle="""
WITH fp AS (
  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM documents
), keep AS (
  SELECT doc_id, fingerprint,
         ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM fp
)
SELECT doc_id, fingerprint FROM keep WHERE rn = 1 ORDER BY doc_id
""",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash, deterministic survivor = lowest doc_id.
    One shuffle on the fingerprint; at 100 TB the fingerprint is computed
    map-side so only (hash, id) pairs move."""
    d = table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fingerprint")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection
# ---------------------------------------------------------------------------


def _parse_byte_conf(s: str) -> int:
    """Spark byte-string conf value ('8m', '128MB', '134217728b') → bytes."""
    s = s.strip().lower()
    units = {"tb": 1 << 40, "gb": 1 << 30, "mb": 1 << 20, "kb": 1 << 10,
             "t": 1 << 40, "g": 1 << 30, "m": 1 << 20, "k": 1 << 10, "b": 1}
    for suf, mult in units.items():
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * mult
    return int(s)


def _scan_layout(spark: SparkSession, df: DataFrame) -> tuple[int, int] | None:
    """(planned split count, raw byte total) of the relation's scan,
    computed from the FileIndex (``df.inputFiles()`` + local file sizes)
    with Spark's own FilePartition sizing: maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, paddedTotal /
    defaultParallelism)), where paddedTotal charges openCostInBytes per
    file. The count replays ``FilePartition.getFilePartitions``: each file
    is cut into maxSplitBytes chunks, the chunks are taken largest first,
    and a partition is closed when the next chunk would push its running
    size (chunk bytes plus openCostInBytes each) past maxSplitBytes. A
    single small file is one partition, not two — a closed-form
    paddedTotal / maxSplitBytes overcounts by the first file's open cost.

    Deliberately NOT ``df.rdd.getNumPartitions()``: that converts the plan
    to an RDD — a full physical-planning round-trip per call. Returns None
    for non-local schemes (s3/hdfs/...) or unreadable paths: unknown means
    a production object-store table, which is treated as already-parallel.
    """
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - defensive: non-file-backed plans
        return None
    if not files:
        return None
    sizes = []
    for uri in files:
        path = uri
        if path.startswith("file:"):
            path = unquote(urlparse(path).path)
        elif "://" in path:
            return None
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    open_cost = _parse_byte_conf(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    )
    max_part = _parse_byte_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    padded = sum(sz + open_cost for sz in sizes)
    cores = max(int(spark.sparkContext.defaultParallelism), 1)
    max_split = max(min(max_part, max(open_cost, padded // cores)), 1)
    chunks = sorted(
        (min(max_split, sz - off) for sz in sizes for off in range(0, sz, max_split)),
        reverse=True,
    )
    parts, cur = 0, 0
    for chunk in chunks:
        if cur + chunk > max_split:
            parts, cur = parts + 1, 0
        cur += chunk + open_cost
    return max(1, parts + (cur > 0)), sum(sizes)


def _scan_split_estimate(spark: SparkSession, df: DataFrame) -> int | None:
    """Planned scan split count (see :func:`_scan_layout`)."""
    layout = _scan_layout(spark, df)
    return None if layout is None else layout[0]


def _widen_if_narrow(
    spark: SparkSession, df: DataFrame, key: str, amp: int = 32
) -> DataFrame:
    """Repartition ``df`` by ``key`` only when its scan has fewer splits than
    ``min(shuffle partitions, defaultParallelism)`` — the number of tasks
    the session can run at once — to a width derived from DATA VOLUME, not
    the core count. A scan that already fills every task slot gains nothing
    from a raw-row shuffle, even when the shuffle parallelism is higher.

    Widening matters locally (a single small parquet file would cap a
    compute-amplifying downstream stage at 1-2 tasks) but would be a
    pointless full shuffle of raw rows on a production-sized table whose
    parquet splits already saturate the executors. The width check is a
    file-size estimate (see _scan_layout) — no RDD conversion.

    r17 (guide §2.2 — scale-adaptive partitioning): the width used to be
    the session shuffle parallelism, which splits a tiny fixture into
    core-count many ~20 KB tasks whose scheduling overhead exceeds their
    work (measured: the 8-core bench beat the 32-core bench on every
    widened query). The width is now what Spark's own split sizing would
    give an input ``amp``× as large at the fine-grained end: ceil(raw_bytes
    · amp / openCostInBytes), clamped to [2, shuffle partitions].  ``amp``
    is the call site's downstream work amplification (shingle fan-out,
    k-centroid cross join, query-batch size) — at sf0.1 this yields 8–16
    partitions for the embedding scans (measured optimum) and still
    saturates the session for the ~300× text fan-outs; on a production
    table the guard (est ≥ slots) keeps the repartition out of the plan
    entirely, exactly as before.
    """
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    slots = min(n, max(int(spark.sparkContext.defaultParallelism), 1))
    layout = _scan_layout(spark, df)
    if layout is None or layout[0] >= slots:
        return df
    est, raw = layout
    open_cost = _parse_byte_conf(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304b")
    )
    width = max(2, min(n, -(-raw * amp // max(open_cost, 1))))
    if width > est:
        df = df.repartition(width, key)
    return df


def _shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, sh): the distinct 3-gram shingle array.

    Two projections on purpose: tokens materialize as a column BEFORE the
    shingle transform, so ``element_at(t, i)`` inside the transform lambda
    binds an attribute rather than the inlined tokenizer — inlining makes
    every element access re-split the whole text (O(n²) regex work per
    document; measured ~4× slower on the shingle pass at sf0.1).
    CollapseProject keeps the projection barrier because ``t`` is
    referenced many times. The repartition widens the scan before the
    ~300× shingle amplification so a small file's partitioning doesn't cap
    compute parallelism — but ONLY when the scan is actually narrow: on a
    production-sized table the parquet splits already saturate the
    executors, and an unconditional repartition would be a full shuffle of
    raw document text for nothing. The guard keeps the local-small-file
    fix out of the 100 TB path.
    """
    docs = table(spark, sf_dir, "documents")

    def build() -> DataFrame:
        d = _widen_if_narrow(spark, docs, "doc_id", amp=300)
        toks = d.select("doc_id", _tokens(F.col("text")).alias("t"))
        return toks.select(
            "doc_id", F.array_distinct(_shingles(F.col("t"))).alias("sh")
        )

    # r17: memoized lazy handle — the tokenizer/shingle expression tree
    # costs ~60 ms of driver build per call and every dedup query rebuilds
    # it (session_cache.memo_plan; metadata only, never rows).
    return memo_plan(spark, "shingled_docs", build, docs)


def _shingle_arrays_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (doc_id, sh) per-doc shingle ARRAYS, for queries whose
    plan consumes the shingle table more than once (self-joins, census +
    join-back): without the cache each consumer re-runs the whole
    tokenize+shingle regex pass (r16, guide §2.4/§5). The compact arrays
    (≈ corpus text size) are cached MEMORY_AND_DISK; the ~300×-amplified
    exploded posting list never is — consumers explode from the cache."""
    # _shingled_docs is a memoized handle (r17), so persist() re-arms the
    # SAME lazy plan after release_caches() — a no-op while already armed.
    return register_cache(
        _shingled_docs(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    )


_SHINGLE_SQL = f"""
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL.strip()})) AS shingle
  FROM (SELECT doc_id, {_TOKENS_SQL} AS t FROM documents)
"""

_JACCARD_TAIL_SQL = f"""
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a AS doc_a, i.doc_b AS doc_b,
       CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query(
    "dedup_ngram_jaccard",
    headline=True,
    tags=("dedup", "similarity"),
    oracle=f"""
WITH shingles AS ({_SHINGLE_SQL}),
{_JACCARD_TAIL_SQL}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (3-gram shingle sets, j ≥ 0.4).

    Spark-first: explode distinct shingles, self-join on shingle (the
    inverted index — only co-occurring docs ever pair), aggregate common
    counts, then jaccard from set sizes. No all-pairs product; cost is
    bounded by shingle co-occurrence, which is the scalable formulation.
    """
    # Set size rides the exploded rows (one long per row), so the pair
    # aggregate has everything it needs — no cached shingle frame, no
    # size-lookup joins after the aggregate. One exploded self-join + one
    # aggregate is the whole query.
    # explode_outer + post-filter, NOT plain explode: inner explode makes
    # InferFiltersFromGenerate plant a `size(sh) > 0` predicate that
    # pushdown substitutes through the token projection into the scan —
    # re-inlining the tokenizer inside the shingle lambda (O(n²) regex per
    # row, evaluated twice, in the narrow pre-repartition stage; measured
    # 18 s vs 0.3 s at sf0.1). The outer form infers nothing; the cheap
    # isNotNull on the generated attribute stays above the Generate.
    #
    # `sz` must be NON-nullable (hence the coalesce): a nullable sz makes
    # the final `jaccard >= t` filter infer `isnotnull(sz)`, and constraint
    # pushdown substitutes the whole tokenizer+shingle expression for sz
    # down into the FileScan's DataFilters — every document tokenized and
    # shingled a second time inside the scan stage (the round-3 +45%
    # regression). coalesce makes the attribute non-nullable, so there is
    # no constraint to infer and the scan filter stays `isnotnull(doc_id)`
    # only. The null branch is unreachable for surviving rows anyway:
    # a null sh explodes to a null shingle, which the filter drops.
    #
    # r16 (guide §2.4/§5): the PRE-explode (doc_id, sz, sh) projection is
    # persisted because the self-join reads it twice — without the cache
    # each side re-ran the whole tokenize+shingle regex pass (2× corpus
    # CPU). The cache holds the compact per-doc ARRAYS (≈ corpus text
    # size, MEMORY_AND_DISK so an under-provisioned executor spills);
    # the ~300×-amplified exploded posting list is still never cached —
    # both sides explode from the cached arrays.
    arr = _shingle_arrays_cached(spark, sf_dir)
    sh = arr.select(
        "doc_id",
        F.coalesce(F.size("sh"), F.lit(0)).alias("sz"),
        F.explode_outer("sh").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


# Stop-shingle cap for the capped Jaccard variant: shingles present in
# more than this many documents are dropped from the inverted index AND
# from the Jaccard universe (sets are restricted consistently, so the
# score stays a true Jaccard — over the discriminative shingles only).
# Corpus-tuned: near-dup pairs share shingles with df ≈ 2, boilerplate
# df grows with corpus size; the cap sits above the fixture's full df
# range at sf0.1 (max 25 → zero recall loss there) and prunes the
# saturated buckets the sf1 probe exposed (SCALE.md: sum(df²) 250M → 25k).
MAX_SHINGLE_DF = 25


@query(
    "dedup_ngram_jaccard_capped",
    tags=("dedup", "similarity", "scale"),
    oracle=f"""
WITH shingles0 AS ({_SHINGLE_SQL}),
freq AS (
  SELECT shingle, COUNT(*) AS df FROM shingles0 GROUP BY shingle
),
shingles AS (
  SELECT s.doc_id, s.shingle
  FROM shingles0 s JOIN freq f ON s.shingle = f.shingle
  WHERE f.df <= {MAX_SHINGLE_DF}
),
{_JACCARD_TAIL_SQL}
""",
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs over the DISCRIMINATIVE shingles
    only: shingles whose document frequency exceeds MAX_SHINGLE_DF are
    dropped from the inverted index and from both sets before scoring.

    The scale path for low-entropy corpora. The exact variant's cost is
    sum(df²) over shingle buckets — the sf1 scale probe (SCALE.md)
    measured it 24.6× slower at 10× the documents, because a shingle
    shared by k docs emits k² candidate rows and boilerplate shingles
    have k ~ corpus size. Capping df bounds every bucket at
    MAX_SHINGLE_DF² pairs, making the join linear in corpus size at a
    fixed cap — the stop-shingle trick every production shingle dedup
    uses. High-jaccard pairs survive: near-dups share their rare
    shingles, and dropping corpus-wide boilerplate from BOTH sets
    changes the score little (it was shared noise, not signal).
    """
    # r16: same cached pre-explode arrays as the exact variant — sh0 feeds
    # both the df census and the inverted index, and without the cache the
    # tokenizer ran once per consumer.
    arr0 = _shingle_arrays_cached(spark, sf_dir)
    sh0 = arr0.select(
        "doc_id", F.explode_outer("sh").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    freq = sh0.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    kept = sh0.join(freq.filter(F.col("df") <= MAX_SHINGLE_DF), "shingle").select(
        "doc_id", "shingle"
    )
    # Set sizes over the CAPPED universe ride the rows via a doc window
    # (non-null count → non-nullable, same constraint-pushdown hygiene as
    # the exact variant).
    w = Window.partitionBy("doc_id")
    sh = kept.select(
        "doc_id",
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias("sz"),
        "shingle",
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


# Universal-hash family over a 28-bit shingle key x (one MD5 per shingle,
# then h_i = (a_i*x + b_i) mod p). Constants are fixed primes; products
# stay < 2^48 so DuckDB's overflow-checked BIGINT agrees with Spark's long.
MINHASH_P = (1 << 31) - 1
_MINHASH_A = [2 * i + 3 for i in range(N_MINHASH)]
_MINHASH_B = [7919 * (i + 1) for i in range(N_MINHASH)]

_SHINGLE_KEY_SQL = "CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT)"


def _minhash_sql_cols() -> str:
    return ",\n       ".join(
        f"MIN(({_MINHASH_A[i]} * x + {_MINHASH_B[i]}) % {MINHASH_P}) AS h{i}"
        for i in range(N_MINHASH)
    )


def _band_sql_cols() -> str:
    parts = []
    for b in range(LSH_BANDS):
        cols = " || '_' || ".join(
            f"CAST(h{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
        )
        parts.append(f"({cols}) AS band{b}")
    return ",\n       ".join(parts)


@query(
    "dedup_minhash_lsh",
    headline=True,
    tags=("dedup", "similarity", "lsh"),
    oracle=f"""
WITH shingles AS ({_SHINGLE_SQL}),
keyed AS (
  SELECT doc_id, {_SHINGLE_KEY_SQL} AS x FROM shingles
),
sigs AS (
  SELECT doc_id,
       {_minhash_sql_cols()}
  FROM keyed GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
       {_band_sql_cols()}
  FROM sigs
),
long_bands AS (
  SELECT doc_id, b.band_idx, b.sig FROM bands,
  LATERAL (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS band_idx,
                  unnest([{", ".join(f"band{b}" for b in range(LSH_BANDS))}]) AS sig) b
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM long_bands a JOIN long_bands b
    ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM candidates c
  JOIN shingles a ON a.doc_id = c.doc_a
  JOIN shingles b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a AS doc_a, i.doc_b AS doc_b,
       CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection (shingle → 32 minhashes →
    16 bands × 2 → bucket join → exact-Jaccard verify at j ≥ 0.4).

    Hashes are MD5-of-shingle so signatures are engine-portable and fully
    deterministic. Spark-first formulation: the whole signature pipeline is
    per-row array expressions — shingle set, 28-bit keys, the 32 minhashes
    (array_min over a transform), and the band strings are all computed
    map-side in one codegen'd projection with ZERO shuffles. Only the
    LSH-bucket self-join shuffles (16 short band rows per doc), and the
    exact-Jaccard verify joins the per-doc shingle ARRAYS for candidate
    pairs (array_intersect), never an exploded shingle table. Candidate
    pairs come only from shared LSH buckets — no all-pairs product — so
    the plan survives a 1000-executor scale-up: signatures stream through
    the scan stage, and shuffle volume is O(docs × bands + candidate pairs).

    r16 (guide §2.3 / §8): the verify used to rebuild the shingle arrays
    for the WHOLE corpus twice — two extra full tokenize+shingle passes
    (each a 10-MB-class broadcast here, a full shuffle of the ~300×
    amplified shingle payload at scale). It now joins the candidate pairs
    to the RAW text (doc_id, text — the lightweight proxy) and computes
    shingles only for rows that survive the join, i.e. candidate docs,
    per pair. Before/after plans: 2× {Scan documents → tokenize+shingle →
    Broadcast} → 2× {Scan documents → Broadcast} with the shingle
    expressions above the join.
    """
    def build_candidates() -> DataFrame:
        _, long_bands = _minhash_bands(spark, sf_dir)
        a = long_bands.select(F.col("doc_id").alias("doc_a"), "band_idx", "sig")
        b = long_bands.select(F.col("doc_id").alias("doc_b"), "band_idx", "sig")
        return (
            a.join(b, ["band_idx", "sig"]).filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )

    # r17: the candidate-pair table is a shared artifact (the survivors /
    # cluster endpoints consume it too) — memoized lazy handle. The bands
    # persist is RE-ARMED here because the memoized plan skips the builder
    # (persist lifecycle must sit outside any memoized build).
    docs = table(spark, sf_dir, "documents")
    candidates = memo_plan(spark, "minhash_candidates", build_candidates, docs)
    _minhash_bands(spark, sf_dir)  # re-arm the bands cache registration
    return _jaccard_verify_text(docs, candidates, memo="minhash_verify")


def _minhash_bands(spark: SparkSession, sf_dir: str):
    """(shingled_docs, long_bands) of the minhash pipeline: long_bands is
    the (doc_id, band_idx, sig) posting list off a cached NARROW
    projection; the first element is the lazy shingled frame for callers
    that need the arrays (none of the LSH queries do since r16 — the
    verify joins raw text instead, see _jaccard_verify_text).

    Cache discipline for 100 TB: only (doc_id, band0..band15) is
    persisted — 16 short strings per doc — because the band self-join
    reads it twice. The shingle arrays (the ~300×-amplified payload)
    stay OUT of the cache and out of every downstream join.
    MEMORY_AND_DISK so an under-provisioned executor spills instead of
    evicting+recomputing, and the cache is registered for explicit
    release_caches() teardown.
    """
    shingled = _shingled_docs(spark, sf_dir)
    base = shingled.withColumnRenamed("sh", "shingles")

    # One MD5 per distinct shingle; the 32 signature values are cheap
    # integer universal-hashes of that 28-bit key (all JVM-side, codegen'd).
    #
    # r16 (guide §5 — keep the driver light): the 32 hash columns and 16
    # band strings are built with selectExpr SQL strings, parsed once in
    # the JVM, instead of ~100 py4j Column/lambda round-trips per build —
    # the Column-algebra construction alone measured ~1.0 s of driver time
    # per bench iteration. The parsed expressions are identical (same
    # transform/array_min lambdas, same integer arithmetic).
    # r17: the parsed signature plan is additionally a memoized lazy
    # handle — JVM-parsing + analyzing the 48-expression block still cost
    # ~110 ms per build (session_cache.memo_plan; metadata only).
    def build_bands() -> DataFrame:
        keyed = base.selectExpr(
            "doc_id",
            "shingles",
            "transform(shingles, s -> cast(conv(substring(md5(s), 1, 7), 16, 10) AS bigint)) AS keys",
        )
        docs = keyed.selectExpr(
            "doc_id",
            "shingles",
            *[
                f"array_min(transform(keys, x -> ({_MINHASH_A[i]} * x + {_MINHASH_B[i]}) % {MINHASH_P})) AS h{i}"
                for i in range(N_MINHASH)
            ],
        )
        band_exprs = [
            "concat_ws('_', "
            + ", ".join(f"cast(h{b * LSH_ROWS + r} AS string)" for r in range(LSH_ROWS))
            + f") AS band{b}"
            for b in range(LSH_BANDS)
        ]
        return docs.selectExpr("doc_id", *band_exprs)

    bands = register_cache(
        memo_plan(spark, "minhash_bands", build_bands, shingled)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    long_bands = bands.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(LSH_BANDS)])).alias(
            "band_idx", "sig"
        ),
    )
    return base, long_bands


def _jaccard_verify_text(
    docs: DataFrame,
    candidates: DataFrame,
    memo: str | None = None,
) -> DataFrame:
    """Exact-Jaccard verification over the CANDIDATE documents only: the
    distinct doc ids appearing in any candidate pair are semi-joined back
    to the raw text, each such document is tokenized + shingled exactly
    ONCE, and the per-doc shingle array (bounded by the candidate set,
    which LSH banding already caps — tiny relative to the corpus) is
    persisted and joined to the pairs from both sides.

    r16 v2 (guide §2.3/§8): the first rewrite joined pairs to raw text and
    shingled per PAIR SIDE — a doc in k pairs was tokenized k times, and
    the measured candidate density (11 550 pairs over 5 000 docs at sf0.1)
    made that ~4.6 corpus-equivalents of regex work per run. Deciding
    membership with the id proxy, shingling each needed doc once, and
    caching only the candidate docs' arrays does strictly less expression
    work at every scale while keeping the corpus-sized payload out of
    executor memory (the cache is candidate-bounded, MEMORY_AND_DISK).

    Same arithmetic as the oracle's verify tail (distinct 3-gram shingle
    arrays, array_intersect count); the shingle expressions sit above a
    semi-join on pure doc_id equalities, so no optimizer rule can push the
    tokenizer into the scan.
    """
    def build_sh_needed() -> DataFrame:
        needed = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        return docs.join(needed, "doc_id", "left_semi").select(
            "doc_id",
            F.array_distinct(_shingles(_tokens(F.col("text")))).alias("sh"),
        )

    # r17: callers whose candidate handle is memoized pass a memo tag so
    # the candidate-shingle sub-plan (the expensive analysis: the shingle
    # expression tree over a semi-join) is a memoized lazy handle, keyed
    # on both input handles; the persist lifecycle stays OUT of the
    # memoized build so the rows re-register with the CacheManager on
    # every invocation.
    if memo is not None:
        sh_plan = memo_plan(docs.sparkSession, memo, build_sh_needed, docs, candidates)
    else:
        sh_plan = build_sh_needed()
    sh_needed = register_cache(sh_plan.persist(StorageLevel.MEMORY_AND_DISK))
    sa = sh_needed.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh_needed.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    paired = candidates.join(sa, "doc_a").join(sb, "doc_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = n_common.cast("double") / (F.size("sh_a") + F.size("sh_b") - n_common)
    return (
        paired.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


# The minhash pipeline rendered as reusable CTE chains (from the same
# helper functions as the dedup_minhash_lsh oracle): prefix through the
# band posting list, then the verify tail from a `candidates` relation.
_MINHASH_PREFIX_CTE = f"""shingles AS ({_SHINGLE_SQL}),
keyed AS (
  SELECT doc_id, {_SHINGLE_KEY_SQL} AS x FROM shingles
),
sigs AS (
  SELECT doc_id,
       {_minhash_sql_cols()}
  FROM keyed GROUP BY doc_id
),
bands AS (
  SELECT doc_id,
       {_band_sql_cols()}
  FROM sigs
),
long_bands AS (
  SELECT doc_id, b.band_idx, b.sig FROM bands,
  LATERAL (SELECT unnest(generate_series(0, {LSH_BANDS - 1})) AS band_idx,
                  unnest([{", ".join(f"band{b}" for b in range(LSH_BANDS))}]) AS sig) b
)"""

_MINHASH_VERIFY_TAIL_CTE = f"""sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM candidates c
  JOIN shingles a ON a.doc_id = c.doc_a
  JOIN shingles b ON b.doc_id = c.doc_b AND a.shingle = b.shingle
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= {JACCARD_THRESHOLD}
)"""

_MINHASH_PAIRS_CTE = f"""{_MINHASH_PREFIX_CTE},
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM long_bands a JOIN long_bands b
    ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc_id < b.doc_id
),
{_MINHASH_VERIFY_TAIL_CTE}"""

LSH_BUCKET_CAP = 3


@query(
    "dedup_minhash_lsh_capped",
    tags=("dedup", "similarity", "lsh", "skew"),
    oracle=f"""
WITH {_MINHASH_PREFIX_CTE},
ok_buckets AS (
  SELECT band_idx, sig FROM long_bands
  GROUP BY band_idx, sig HAVING COUNT(*) <= {LSH_BUCKET_CAP}
),
capped AS (
  SELECT l.doc_id, l.band_idx, l.sig
  FROM long_bands l JOIN ok_buckets USING (band_idx, sig)
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band_idx = b.band_idx AND a.sig = b.sig AND a.doc_id < b.doc_id
),
{_MINHASH_VERIFY_TAIL_CTE}
SELECT p.doc_a AS doc_a, p.doc_b AS doc_b FROM pairs p
ORDER BY doc_a, doc_b
""",
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with frequent-band suppression: buckets holding more
    than LSH_BUCKET_CAP docs generate NO candidates — the standard
    hot-bucket defense. A band signature shared by a large fraction of
    the corpus (boilerplate, templates) would make that one bucket's
    self-join quadratic; real near-dup pairs still meet in their other
    15 bands, so recall loss is bounded while the worst-case join
    fan-out becomes cap² per bucket BY CONSTRUCTION — the skew defense
    is in the algorithm, not the scheduler.

    The bucket-size filter is one aggregation on the same (band, sig) key
    the candidate join shuffles on — co-partitioned, no extra exchange
    pattern at scale.
    """
    _, long_bands = _minhash_bands(spark, sf_dir)
    sizes = long_bands.groupBy("band_idx", "sig").agg(
        F.count(F.lit(1)).alias("bucket_n")
    )
    capped = long_bands.join(
        sizes.filter(F.col("bucket_n") <= LSH_BUCKET_CAP).select("band_idx", "sig"),
        ["band_idx", "sig"],
    )
    a = capped.select(F.col("doc_id").alias("doc_a"), "band_idx", "sig")
    b = capped.select(F.col("doc_id").alias("doc_b"), "band_idx", "sig")
    candidates = (
        a.join(b, ["band_idx", "sig"]).filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # r16: raw-text verify (shingle only the joined candidate rows — see
    # dedup_minhash_lsh).
    return (
        _jaccard_verify_text(table(spark, sf_dir, "documents"), candidates)
        .select("doc_a", "doc_b")
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_minhash_survivors",
    tags=("dedup", "similarity", "graph"),
    oracle=f"""
WITH RECURSIVE {_MINHASH_PAIRS_CTE},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON r.node = e.src
),
comp AS (SELECT node, MIN(label) AS rep FROM reach GROUP BY node)
SELECT d.doc_id AS doc_id,
       COALESCE(c.rep, d.doc_id) AS cluster_rep,
       d.doc_id = COALESCE(c.rep, d.doc_id) AS is_survivor
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
ORDER BY doc_id
""",
)
def dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-dedup ENDPOINT: minhash-LSH pairs → connected components
    (transitive closure, a~b + b~c collapse to one cluster) → one survivor
    per cluster, every document labeled. ``is_survivor`` is the keep/drop
    decision a pretraining pipeline actually applies; documents in no pair
    survive as their own singleton.

    Scale: pairs come from the bucketed LSH pipeline (no cross join);
    components run Pregel-style min-label to fixpoint (see
    plans.similarity.min_label_components — one node-keyed shuffle per
    round, localCheckpoint lineage truncation); the final labeling is one
    left join keyed on doc_id.
    """
    from .similarity import min_label_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = min_label_components(pairs, "doc_a", "doc_b").withColumnRenamed(
        "node", "doc_id"
    )
    d = table(spark, sf_dir, "documents").select("doc_id")
    rep = F.coalesce("label", "doc_id")
    return (
        d.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            rep.alias("cluster_rep"),
            (F.col("doc_id") == rep).alias("is_survivor"),
        )
        .orderBy("doc_id")
    )


def _simhash_sum_sql() -> str:
    return ",\n         ".join(
        f"SUM((( h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(SIMHASH_BITS)
    )


def _simhash_fp_sql() -> str:
    return " + ".join(
        f"(CASE WHEN s{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )


@query(
    "dedup_simhash",
    tags=("dedup", "similarity", "hash"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
), hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM toks
), sums AS (
  SELECT doc_id,
         {_simhash_sum_sql()}
  FROM hashed GROUP BY doc_id
), fps AS (
  SELECT doc_id, {_simhash_fp_sql()} AS simhash FROM sums
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit token-multiset fingerprints, pairs at
    Hamming distance ≤ 3.

    Spark-first candidate generation uses 4 byte-blocks: distance ≤ 3 over
    4 blocks forces ≥1 identical block (pigeonhole), so candidates come
    from an equi-join on (block_idx, block_value) — no all-pairs scan.
    The oracle runs the equivalent all-pairs form on the fixture.
    """
    d = _widen_if_narrow(spark, table(spark, sf_dir, "documents"), "doc_id", amp=256)
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    hashed = toks.select(
        "doc_id", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint").alias("h")
    )
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum((F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))) * 2 - 1).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    fp_expr = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp_expr = term if fp_expr is None else fp_expr + term
    fps = sums.select("doc_id", fp_expr.alias("simhash"))
    # Blocking: 4 bytes of the 32-bit fingerprint.
    blocks = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 8 * blk).bitwiseAND(F.lit(0xFF))
                    for blk in range(4)
                ]
            )
        ).alias("blk_idx", "blk_val"),
    )
    a = blocks.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"), "blk_idx", "blk_val")
    b = blocks.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"), "blk_idx", "blk_val")
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        a.join(b, ["blk_idx", "blk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@query(
    "knn_cosine_bruteforce",
    headline=True,
    tags=("similarity", "knn"),
    oracle="""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 20),
pairs AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.qe, v.e) /
               (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(v.e, v.e))), 6) AS cosine
  FROM q JOIN v ON q.query_id <> v.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
""",
)
def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (k=5) for 20 query vectors — the exact
    baseline for ANN (north-star similarity search).

    Cosine is computed with zip_with + aggregate (a strict left-to-right
    fold → deterministic), rounded to 6 dp so engine summation order can't
    flip ranks; ties break on neighbor_id. Scale: the query side is tiny →
    broadcast; the corpus scan stays partitioned (score-and-top-k per
    partition via the rank window is the scale path; an IVF variant lives
    in operators/similarity.py).

    Scoring is map-side over the corpus scan's partitioning (the query
    side is broadcast). r16: the CORPUS side is widened by the guarded
    _widen_if_narrow — the fixture's single parquet split would otherwise
    cap the 20×-amplifying dot-product stage at ONE task (profiled: the
    whole scoring pass serialized on one core); on a production-sized
    corpus whose splits already saturate the executors the guard keeps
    the repartition out of the plan. The query side is built from the
    UN-widened scan: it collapses to ≤20 broadcast rows, so routing it
    through the widen would add a second (pointless) exchange.
    """
    base = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dot_self = F.aggregate(
        F.zip_with(F.col("e"), F.col("e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    v = _widen_if_narrow(spark, base, "vec_id", amp=20).withColumn("norm", F.sqrt(dot_self))
    q = base.withColumn("norm", F.sqrt(dot_self)).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe"), F.col("norm").alias("qnorm")
    ).filter(F.col("query_id") < 20)
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(v)
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("qnorm") * F.col("norm")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


@query(
    "embedding_centroids",
    tags=("similarity", "agg"),
    oracle=f"""
WITH expanded AS (
  SELECT label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
)
SELECT label, CAST(pos AS INTEGER) AS pos,
       {exact_sum_sql('val', 8)} / COUNT(val) AS centroid
FROM expanded GROUP BY label, pos
ORDER BY label, pos
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors in long form (label, dim, mean) — the
    k-means/IVF building block. posexplode keeps dimension order explicit
    (J3's order-sensitivity contract)."""
    v = table(spark, sf_dir, "embeddings")
    expanded = v.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    return (
        expanded.groupBy("label", "pos")
        .agg(
            (exact_sum("val", 8) / F.count("val")).alias("centroid")
        )
        .orderBy("label", "pos")
    )


@query(
    "split_train_test_hash",
    tags=("sampling", "agg"),
    oracle="""
WITH assigned AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
  FROM documents
), labeled AS (
  SELECT doc_id, lang,
         CASE WHEN bucket < 80 THEN 'train'
              WHEN bucket < 90 THEN 'valid'
              ELSE 'test' END AS split
  FROM assigned
)
SELECT split, lang, COUNT(*) AS n,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc, CAST(MAX(doc_id) AS BIGINT) AS max_doc
FROM labeled GROUP BY split, lang ORDER BY split, lang
""",
)
def split_train_test_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment by key hash —
    the reproducible-split primitive of training-data pipelines: the same
    document lands in the same split on every run, every engine, every
    cluster size (no rand(), no seed plumbing, no shuffle-order
    dependence). Summarized per (split, language) so the oracle checks the
    assignment function itself.

    Scale: the assignment is a map-side expression on the key; only the
    summary aggregates. Adding documents never reshuffles existing
    assignments — the property random-split lacks.
    """
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        d.select("doc_id", "lang", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split", "lang")
    )


@query(
    "llm_corpus_prep",
    headline=True,
    tags=("pipeline", "dedup", "text", "sampling"),
    oracle=f"""
WITH scored AS (
  SELECT doc_id, text, lang, {_TOKENS_SQL} AS t FROM documents
), qualified AS (
  SELECT doc_id, text, lang, len(t) AS n_tokens,
         CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr
  FROM scored
  WHERE len(t) >= 20
    AND CAST(len(list_distinct(t)) AS DOUBLE) / len(t) >= 0.3
), survivors AS (
  SELECT doc_id, lang, n_tokens FROM (
    SELECT doc_id, lang, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM qualified
  ) WHERE rn = 1
), assigned AS (
  SELECT lang, n_tokens,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
              THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
              THEN 'valid' ELSE 'test' END AS split
  FROM survivors
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT lang) AS n_langs
FROM assigned GROUP BY split ORDER BY split
""",
)
def llm_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end to end in ONE lazy plan:
    quality gate (≥20 tokens, type-token ratio ≥ 0.3) → exact dedup
    (md5-of-text, min-doc_id survivor) → deterministic hash split →
    per-split token budget. Every stage is an operator the catalog already
    verifies in isolation; this query verifies their composition — the
    "switch your corpus prep to this engine" demonstration.

    Scale: Catalyst fuses the gate into the scan projection; dedup is one
    shuffle on the text hash; the split is map-side; the summary is a
    3-row aggregate. Nothing materializes between stages.
    """
    d = table(spark, sf_dir, "documents")
    t = _tokens(F.col("text"))
    qualified = (
        d.select("doc_id", "text", "lang", F.size(t).alias("n_tokens"),
                 (F.size(F.array_distinct(t)).cast("double") / F.size(t)).alias("ttr"))
        .filter((F.col("n_tokens") >= 20) & (F.col("ttr") >= 0.3))
    )
    # r16 (guide §2.3 "aggregate before you shuffle"): the min-doc_id
    # survivor per content hash is a min_by AGGREGATE, not a row_number
    # window — the partial (map-side) aggregate collapses duplicate
    # hashes before the exchange, so the shuffle carries one row per
    # distinct hash per input partition instead of every qualified row,
    # and the per-partition sort disappears. Same survivor: ties are
    # impossible (doc_id is unique), so min_by ≡ ORDER BY doc_id rn=1.
    survivors = (
        qualified.groupBy(F.md5("text").alias("_h"))
        .agg(
            F.min_by(
                F.struct("doc_id", "lang", "n_tokens"), F.col("doc_id")
            ).alias("_s")
        )
        .select("_s.doc_id", "_s.lang", "_s.n_tokens")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    split = F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    return (
        survivors.select(split.alias("split"), "lang", "n_tokens")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.count_distinct("lang").alias("n_langs"),
        )
        # 3-row output at any scale: single-partition sort, no range exchange.
        .coalesce(1)
        .sortWithinPartitions("split")
    )


@query(
    "sample_k_per_group",
    tags=("sampling", "window"),
    oracle="""
SELECT lang, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= 5
ORDER BY lang, doc_id
""",
)
def sample_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: exactly 5 documents per language,
    chosen by hash order (pseudo-random but reproducible — the inspection/
    eval-set curation primitive; same docs on every run and engine, unlike
    rand()-based sampling).

    Scale: one shuffle on the stratum key; the hash rank prunes to k rows
    per group before anything downstream runs.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("lang", "doc_id")
    )


# Asymmetric containment threshold: a doc whose discriminative shingles
# are ≥ 90% inside another is a quote/wrapper/subset duplicate even when
# the symmetric Jaccard is low (a short doc inside a long one).
CONTAINMENT_THRESHOLD = 0.9


@query(
    "dedup_containment",
    tags=("dedup", "similarity"),
    oracle=f"""
WITH shingles AS ({_SHINGLE_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a AS doc_a, i.doc_b AS doc_b, i.n_common AS n_common,
       ROUND(CAST(i.n_common AS DOUBLE) / sa.sz, 6) AS containment_ab,
       ROUND(CAST(i.n_common AS DOUBLE) / sb.sz, 6) AS containment_ba
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n_common AS DOUBLE) / sa.sz >= {CONTAINMENT_THRESHOLD}
   OR CAST(i.n_common AS DOUBLE) / sb.sz >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs: |A∩B|/|A| (and /|B|)
    at ≥ 0.9 — catches subset duplication (a document quoted or wrapped
    inside a longer one) that symmetric Jaccard dilutes toward zero as the
    host document grows. The RefinedWeb-style complement to
    dedup_ngram_jaccard.

    Same scale skeleton as the Jaccard query: one shingle explode, the
    inverted-index self-join on shingle (cost bounded by co-occurrence,
    never all-pairs), set sizes riding the exploded rows so the pair
    aggregate needs no lookup joins. Only the normalization differs —
    per-side instead of by union size.
    """
    base = _shingled_docs(spark, sf_dir)
    # explode_outer + non-nullable sz: same optimizer discipline as
    # dedup_ngram_jaccard (see that query's comment — inner explode or a
    # nullable sz re-inlines the tokenizer into the scan's DataFilters).
    sh = base.select(
        "doc_id",
        F.coalesce(F.size("sh"), F.lit(0)).alias("sz"),
        F.explode_outer("sh").alias("shingle"),
    ).filter(F.col("shingle").isNotNull())
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    c_ab = F.col("n_common").cast("double") / F.col("sz_a")
    c_ba = F.col("n_common").cast("double") / F.col("sz_b")
    return (
        inter.filter((c_ab >= CONTAINMENT_THRESHOLD) | (c_ba >= CONTAINMENT_THRESHOLD))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(c_ab, 6).alias("containment_ab"),
            F.round(c_ba, 6).alias("containment_ba"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_containment_capped",
    tags=("dedup", "similarity", "scale"),
    oracle=f"""
WITH shingles0 AS ({_SHINGLE_SQL}),
freq AS (
  SELECT shingle, COUNT(*) AS df FROM shingles0 GROUP BY shingle
),
shingles AS (
  SELECT s.doc_id, s.shingle
  FROM shingles0 s JOIN freq f ON s.shingle = f.shingle
  WHERE f.df <= {MAX_SHINGLE_DF}
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a AS doc_a, i.doc_b AS doc_b, i.n_common AS n_common,
       ROUND(CAST(i.n_common AS DOUBLE) / sa.sz, 6) AS containment_ab,
       ROUND(CAST(i.n_common AS DOUBLE) / sb.sz, 6) AS containment_ba
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc_id
JOIN sizes sb ON i.doc_b = sb.doc_id
WHERE CAST(i.n_common AS DOUBLE) / sa.sz >= {CONTAINMENT_THRESHOLD}
   OR CAST(i.n_common AS DOUBLE) / sb.sz >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
""",
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment over the DISCRIMINATIVE shingles only — the same
    MAX_SHINGLE_DF stop-shingle cap as dedup_ngram_jaccard_capped applied
    to the asymmetric containment score: the sf1 probe measured the exact
    containment ~27× slower at 10× documents (the shared inverted-index
    skeleton's sum(df²) growth, SCALE.md); capping df bounds every bucket
    at MAX_SHINGLE_DF² pairs, restoring corpus-linear cost. Both set
    sizes restrict to the capped universe, so the score stays a true
    containment over that universe.
    """
    sh0 = (
        _shingled_docs(spark, sf_dir)
        .select("doc_id", F.explode_outer("sh").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )
    freq = sh0.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    kept = sh0.join(freq.filter(F.col("df") <= MAX_SHINGLE_DF), "shingle").select(
        "doc_id", "shingle"
    )
    w = Window.partitionBy("doc_id")
    sh = kept.select(
        "doc_id",
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0)).alias("sz"),
        "shingle",
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    c_ab = F.col("n_common").cast("double") / F.col("sz_a")
    c_ba = F.col("n_common").cast("double") / F.col("sz_b")
    return (
        inter.filter((c_ab >= CONTAINMENT_THRESHOLD) | (c_ba >= CONTAINMENT_THRESHOLD))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(c_ab, 6).alias("containment_ab"),
            F.round(c_ba, 6).alias("containment_ba"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "text_ngram_novelty",
    tags=("text", "dedup", "llm"),
    oracle=f"""
WITH sh AS (
{_SHINGLE_SQL}
), firsts AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM sh s JOIN firsts f ON s.shingle = f.shingle
GROUP BY s.doc_id ORDER BY s.doc_id
""",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the fraction of a document's
    distinct 3-gram shingles whose FIRST corpus occurrence (minimum
    doc_id over all documents containing the shingle) is this document.
    The memorization/duplication diagnostic of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): a
    document with novelty ≈ 0 is recombined boilerplate even when no
    single other document near-duplicates it — the long-tail
    contamination that pairwise dedup (Jaccard/MinHash) structurally
    cannot see, which is why curation pipelines track both.

    Scale: one shingle explode (the same guarded-width pass as the dedup
    family), one (shingle)-keyed min aggregate — the inverted index
    carries ONE row per distinct shingle, never df² pairs — and one join
    back on the shingle key. Work is O(total shingles): corpus-linear by
    construction, the same budget as text_tfidf_top_terms.
    """
    # r16: the shingle table feeds both the first-occurrence census and
    # the join-back — explode both from the cached per-doc arrays so the
    # tokenizer pass runs once (guide §2.4).
    sh = _shingle_arrays_cached(spark, sf_dir).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            novel.alias("n_novel"),
            F.round(
                novel.cast("double") / F.count(F.lit(1)), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@query(
    "sample_class_balanced",
    tags=("sampling", "llm"),
    oracle="""
WITH sizes AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total FROM documents GROUP BY lang
), floor_n AS (
  SELECT MIN(n_total) AS n_min FROM sizes
), ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
)
SELECT s.lang AS lang, s.n_total AS n_total,
       CAST(COUNT(r.doc_id) AS BIGINT) AS n_kept,
       CAST(MIN(f.n_min) AS BIGINT) AS n_target
FROM sizes s
CROSS JOIN floor_n f
LEFT JOIN ranked r ON r.lang = s.lang AND r.rn <= f.n_min
GROUP BY s.lang, s.n_total
ORDER BY lang
""",
)
def sample_class_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling audit: every language stratum is cut
    to the size of the SMALLEST stratum by deterministic hash rank (the
    md5 shuffle order shared with sample_k_per_group — same kept set on
    every run and engine, unlike rand()), reported as per-stratum
    kept/total/target counts. The domain-balancing step of multilingual
    corpus prep when the mix target is uniform rather than temperature-
    weighted (sample_temperature_mix covers the n^0.7 policy).

    Scale: stratum sizes are one map-side-combined count; the global min
    is a 1-row broadcast; the cut is the same single stratum-keyed
    window as sample_k_per_group with a dynamic k. Nothing but per-
    stratum counters crosses the final exchange.
    """
    d = table(spark, sf_dir, "documents")
    sizes = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    floor_n = sizes.agg(F.min("n_total").alias("n_min"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = d.select("lang", "doc_id").withColumn("rn", F.row_number().over(w))
    kept = (
        ranked.crossJoin(F.broadcast(floor_n))
        .filter(F.col("rn") <= F.col("n_min"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        sizes.join(kept, "lang", "left")
        .crossJoin(F.broadcast(floor_n))
        .select(
            "lang",
            "n_total",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.col("n_min").cast("bigint").alias("n_target"),
        )
        .orderBy("lang")
    )


@query(
    "dedup_cross_split_leakage",
    tags=("dedup", "sampling", "llm", "dq"),
    oracle="""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
         CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 80
              THEN 'train'
              WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
              THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
), spread AS (
  SELECT fingerprint, COUNT(DISTINCT split) AS n_splits
  FROM fp GROUP BY fingerprint
)
SELECT f.split AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s.n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_docs,
       ROUND(SUM(CASE WHEN s.n_splits > 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS leak_rate
FROM fp f JOIN spread s ON f.fingerprint = s.fingerprint
GROUP BY f.split ORDER BY f.split
""",
)
def dedup_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit: a document is LEAKY when its exact
    content fingerprint (the dedup_exact_docs normalization) also occurs
    in a different hash split (the split_train_test_hash assignment) —
    the self-contamination check every corpus release runs before
    trusting its held-out metrics, complementing the external-benchmark
    gates (contamination_ngram_overlap): eval numbers are meaningless if
    test documents literally appear in train. One definition each of
    fingerprint and split, reused from the queries that own them.

    Scale: fingerprint and split are both map-side expressions on the
    scan; the spread table is one (fingerprint)-keyed distinct-count —
    one row per distinct fingerprint — joined back on the fingerprint
    key; output is 3 rows of counters. Same corpus-linear budget as
    exact dedup.
    """
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    fp = d.select(
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")).alias(
            "fingerprint"
        ),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "valid")
        .otherwise("test")
        .alias("split"),
    )
    spread = fp.groupBy("fingerprint").agg(
        F.countDistinct("split").alias("n_splits")
    )
    leaky = F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0)).cast("bigint")
    return (
        fp.join(spread, "fingerprint")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            leaky.alias("n_leaky_docs"),
            F.round(leaky.cast("double") / F.count(F.lit(1)), 6).alias("leak_rate"),
        )
        .orderBy("split")
    )


WINNOW_W = 4  # winnowing window: guarantees any match of >= w+2 shingles is caught

_HASH_ELEM_SQL = "CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT)"


@query(
    "text_winnowing_fingerprint",
    tags=("text", "dedup", "fingerprint"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
), sh AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sharr FROM toks
), hashes AS (
  SELECT doc_id, list_transform(sharr, s -> {_HASH_ELEM_SQL}) AS h
  FROM sh
), winnowed AS (
  SELECT doc_id, len(h) AS n_shingles,
         CASE WHEN len(h) >= {WINNOW_W}
              THEN list_distinct(list_transform(
                     generate_series(0, len(h) - {WINNOW_W}),
                     i -> list_min(h[i+1 : i+{WINNOW_W}])))
              ELSE [] END AS fps
  FROM hashes
)
SELECT doc_id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(len(fps) AS BIGINT) AS n_fingerprints,
       ROUND(CASE WHEN n_shingles > 0
                  THEN len(fps) / CAST(n_shingles AS DOUBLE) ELSE 0.0 END, 6)
         AS fp_density,
       CAST(COALESCE(list_sum(fps), 0) AS BIGINT) AS fp_checksum
FROM winnowed ORDER BY doc_id
""",
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS algorithm): hash the ordered 3-gram shingles, slide a
    w=4 (WINNOW_W) window over the hash sequence, keep each window's
    minimum, and the distinct minima are the document's fingerprint set.
    Winnowing's guarantee — any shared run of at least w+2 shingles
    yields at least one shared fingerprint — makes the SELECTION
    position-robust where fixed-stride sampling is not; the fingerprint
    density concentrates near 2/(w+1). Emitted per document with an
    order-independent checksum so the oracle pins the selected VALUES,
    not just counts.

    Scale: everything is per-row array expression — tokenize, shingle
    (the zip_with-over-slices form that survives optimizer inlining),
    element-hash, window-minima — zero shuffle before the final orderBy.
    The hash sequence is materialized as its own projected attribute so
    the window slices index a column, never an inlined tokenizer (the
    plans/analytics._shingles O(n²) hazard). Cross-doc matching joins
    fingerprint sets exactly like the shingle dedup family (inverted
    index on the fingerprint key, stop-fingerprint cap for the head).
    """
    d = _widen_if_narrow(spark, table(spark, sf_dir, "documents"), "doc_id", amp=300)
    toks = d.select("doc_id", _tokens(F.col("text")).alias("t"))
    sh = toks.select("doc_id", _shingles(F.col("t")).alias("sharr"))
    hashes = sh.select(
        "doc_id",
        F.transform(
            "sharr",
            lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("bigint"),
        ).alias("h"),
    )
    n = F.size("h")
    fps = F.when(
        n >= WINNOW_W,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - WINNOW_W),
                lambda i: F.array_min(F.slice("h", i + 1, WINNOW_W)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    winnowed = hashes.select("doc_id", n.alias("n_shingles"), fps.alias("fps"))
    return winnowed.select(
        "doc_id",
        F.col("n_shingles").cast("bigint").alias("n_shingles"),
        F.size("fps").cast("bigint").alias("n_fingerprints"),
        F.round(
            F.when(
                F.col("n_shingles") > 0,
                F.size("fps").cast("double") / F.col("n_shingles").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("fp_density"),
        F.coalesce(
            F.aggregate("fps", F.lit(0).cast("bigint"), lambda a, x: a + x),
            F.lit(0).cast("bigint"),
        ).alias("fp_checksum"),
    ).orderBy("doc_id")


def _lsh_recall_oracle() -> str:
    """Compose the agreement oracle from the two pair-set oracles already
    registered — one definition of each pair semantics, reused verbatim
    (the same nesting pattern as knn_recall_eval)."""
    from .catalog import REGISTRY

    exact = REGISTRY["dedup_ngram_jaccard"].oracle
    lsh = REGISTRY["dedup_minhash_lsh"].oracle
    return f"""
WITH exact_pairs AS ({exact}),
lsh_pairs AS ({lsh}),
joined AS (
  SELECT e.doc_a, e.doc_b,
         CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS found
  FROM exact_pairs e
  LEFT JOIN lsh_pairs l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
)
SELECT CAST((SELECT COUNT(*) FROM exact_pairs) AS BIGINT) AS n_exact_pairs,
       CAST((SELECT COUNT(*) FROM lsh_pairs) AS BIGINT) AS n_lsh_pairs,
       CAST(SUM(found) AS BIGINT) AS n_found,
       ROUND(SUM(found) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
FROM joined
"""


@query(
    "dedup_lsh_recall_eval",
    tags=("dedup", "similarity", "eval"),
    oracle=_lsh_recall_oracle(),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-recall evaluation of MinHash-LSH against exact shingle
    Jaccard — the text-side analogue of knn_recall_eval: the exact
    pair set (every pair with Jaccard ≥ 0.4) is ground truth, and the
    LSH pipeline's output (band-blocked candidates, exact-verified) is
    the index under test, so the recall measures exactly what banding
    can miss (a true pair whose signatures never collide in any band).
    One row: pair counts and recall — the go/no-go gate before trusting
    LSH dedup at a new threshold/band configuration.

    Scale: both pair sets are the already-bounded dedup plans (banded /
    stop-shingle-capped — never all-pairs); the agreement join keys on
    the pair id and the result is one row of counters. Pair semantics
    are defined ONCE — this query composes the two registered queries
    and their oracles verbatim.
    """
    exact = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    lsh = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("la"), F.col("doc_b").alias("lb")
    )
    joined = exact.join(
        lsh, (F.col("doc_a") == F.col("la")) & (F.col("doc_b") == F.col("lb")), "left"
    ).select(F.when(F.col("la").isNotNull(), 1).otherwise(0).alias("found"))
    n_lsh = lsh.agg(F.count(F.lit(1)).cast("bigint").alias("n_lsh_pairs"))
    return (
        joined.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact_pairs"),
            F.sum("found").cast("bigint").alias("n_found"),
            F.round(
                F.sum("found").cast("double") / F.count(F.lit(1)), 6
            ).alias("recall"),
        )
        .crossJoin(F.broadcast(n_lsh))
        .select("n_exact_pairs", "n_lsh_pairs", "n_found", "recall")
    )
