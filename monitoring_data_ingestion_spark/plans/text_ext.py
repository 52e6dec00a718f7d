"""Extended text analysis: TF-IDF term ranking and corpus n-gram
frequencies — the statistics layer a training-data pipeline runs after
per-document quality scoring (plans/analytics.py).

Both queries share the engine's one tokenizer definition (analytics._tokens
≡ the oracle's string_split_regex) so every text operator agrees on token
boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.deterministic import exact_sum
from ..functions.strings import pii_match_count, redact_pii
from ..sources.readers import table
from .analytics import _TOKENS_SQL, _tokens, _widen_if_narrow
from .catalog import query

TOP_TERMS_PER_DOC = 3
TOP_NGRAMS = 20


@query(
    "text_tfidf_top_terms",
    headline=True,
    tags=("text", "agg", "topk"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
)
SELECT doc_id, term, tfidf, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_TERMS_PER_DOC}
ORDER BY doc_id, rank
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))+1,
    the sklearn-style formulation; deterministic via 6-dp rounding + term
    tiebreak).

    Scale: tf and df aggregate off the same token explode — one shuffle on
    (doc_id, term), one on term; the docs count N is a 1-row broadcast. The
    df table shuffles on term (vocabulary-sized, zipfian — AQE's skew
    handling covers the head terms); ranking shuffles on doc_id.

    r16 (guide §2.3/§2.4): df used to re-tokenize the whole corpus for a
    COUNT(DISTINCT doc_id) — a second full Generate pass plus the
    two-exchange distinct expansion. tf already holds exactly one row per
    (doc_id, term), so df ≡ COUNT(*) of tf per term: the df branch now
    re-aggregates tf, whose shuffle Spark deduplicates via exchange reuse
    — the corpus is tokenized ONCE and the distinct expansion disappears
    (plan: 3 scans of documents → 2, one of them count-only).

    r17 (guide §2.2): the tokenize+explode stage inherits the scan's
    split count — 2 tasks on the sf0.1 fixture — so it is widened by the
    guarded data-volume rule before the ~100× token fan-out.  The tf
    exchange (and its reuse by the df branch) is deliberately KEPT: a
    doc_id-keyed restructure that makes tf/window shuffle-free was
    measured and rejected — it removes the reuse point, so the df branch
    re-tokenizes the corpus (a second full regex pass at every scale).
    """
    base = table(spark, sf_dir, "documents")
    d = _widen_if_narrow(spark, base, "doc_id", amp=100)
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # count off the UN-widened scan: a 1-row count must not ride the
    # widen exchange.
    n_docs = base.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        # no broadcast hint: the vocabulary is zipfian-unbounded at scale;
        # the planner broadcasts it at fixture size and AQE picks the
        # shuffled strategy when df outgrows the threshold.
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_TERMS_PER_DOC)
        .orderBy("doc_id", "rank")
    )


@query(
    "text_ngram_freq",
    tags=("text", "agg", "topk"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, t.tok, t.i
  FROM documents,
  LATERAL (SELECT unnest({_TOKENS_SQL}) AS tok,
                  unnest(generate_series(1, len({_TOKENS_SQL}))) AS i) t
), bigrams AS (
  SELECT a.tok || ' ' || b.tok AS bigram
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
)
SELECT bigram, COUNT(*) AS n
FROM bigrams GROUP BY bigram
ORDER BY n DESC, bigram LIMIT {TOP_NGRAMS}
""",
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams — the n-gram census used for
    contamination screens and boilerplate detection.

    Bigrams come from a positional self-zip of the token array (transform
    over indices — no self-join: the pairing is computed inside the row
    before the explode, so the only shuffle is the count aggregation).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(_tokens(F.col("text")).alias("tok"))
    n = F.size("tok")
    # Guard n < 2: Spark's sequence(0, n-2) runs DESCENDING for n < 2
    # (inferred step −1) instead of returning empty like generate_series.
    pairs = F.when(n >= 2, F.sequence(F.lit(0), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = toks.select(
        F.explode(
            F.transform(
                pairs,
                lambda i: F.concat_ws(
                    " ", F.element_at("tok", i + 1), F.element_at("tok", i + 2)
                ),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(TOP_NGRAMS)
    )


# GPT-2-style pre-tokenizer classes, portable regex subset: letter runs,
# digit runs, non-alphanumeric-non-space runs. Same semantics in Java
# regex (Spark) and RE2 (DuckDB).
_BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"


@query(
    "text_bpe_token_count",
    tags=("text",),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, n_chars,
         regexp_extract_all(text, '{_BPE_PATTERN}') AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(t) AS INTEGER) AS n_bpe_tokens,
       n_chars,
       CASE WHEN len(t) > 0
            THEN CAST(n_chars AS DOUBLE) / len(t) END AS chars_per_token
FROM toks ORDER BY doc_id
""",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (the brief's second tokenizer): a GPT-2-style
    pre-tokenizer regex (letter / digit / punctuation runs) — the token
    count an LLM-pipeline budget estimator uses, and chars-per-token, the
    compressibility proxy quality filters threshold on. Pure regexp
    expression, JVM-side.
    """
    d = table(spark, sf_dir, "documents")
    t = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), F.lit(0))
    n = F.size(t)
    return d.select(
        "doc_id",
        n.alias("n_bpe_tokens"),
        "n_chars",
        F.when(n > 0, F.col("n_chars").cast("double") / n).alias("chars_per_token"),
    ).orderBy("doc_id")


REP_TOP_UNIGRAM_MAX = 0.10  # Gopher-style thresholds on the synthetic corpus
REP_DUP_BIGRAM_MAX = 0.40


@query(
    "text_repetition_ratios",
    tags=("text", "quality"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
), stats AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         list_max(list_transform(list_distinct(t),
                                 w -> len(list_filter(t, x -> x = w)))) AS top_unigram_count,
         CASE WHEN len(t) >= 2
              THEN list_transform(generate_series(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i + 1])
              ELSE [] END AS bigrams
  FROM toks
)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(top_unigram_count AS INTEGER) AS top_unigram_count,
       CAST(top_unigram_count AS DOUBLE) / greatest(n_tokens, 1) AS top_unigram_frac,
       CASE WHEN len(bigrams) > 0
            THEN 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
            ELSE 0.0 END AS dup_bigram_frac,
       (CAST(top_unigram_count AS DOUBLE) / greatest(n_tokens, 1) > {REP_TOP_UNIGRAM_MAX}
        OR CASE WHEN len(bigrams) > 0
                THEN 1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams)
                ELSE 0.0 END > {REP_DUP_BIGRAM_MAX}) AS flagged
FROM stats ORDER BY doc_id
""",
)
def text_repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-rule family): the most
    frequent token's share of the document and the fraction of duplicated
    bigrams; a document exceeding either threshold is flagged.

    Everything computes per-row inside the scan projection — top-unigram
    share folds over the distinct-token array, bigrams come from zip_with
    over shifted slices (constant tokenizer evaluations even when the
    optimizer inlines the expression — see analytics._shingles) — so the
    filter adds ZERO shuffles to a corpus pass at any scale.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("t"))
    n = F.size("t")
    top_count = F.aggregate(
        F.array_distinct("t"),
        F.lit(0),
        lambda acc, w: F.greatest(acc, F.size(F.filter("t", lambda x: x == w))),
    )
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("t", 1, n - 1),
            F.slice("t", 2, n - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
    ).otherwise(F.array().cast("array<string>"))
    stats = toks.select(
        "doc_id",
        n.alias("n_tokens"),
        top_count.alias("top_unigram_count"),
        bigrams.alias("bigrams"),
    )
    top_frac = F.col("top_unigram_count").cast("double") / F.greatest("n_tokens", F.lit(1))
    # Zero bigrams is NO evidence of repetition: a one-token document must
    # score 0.0, not 1.0 (1 − 0/1) — the degenerate case would otherwise
    # flag every short doc as repetitive.
    dup_frac = F.when(
        F.size("bigrams") > 0,
        F.lit(1.0)
        - F.size(F.array_distinct("bigrams")).cast("double") / F.size("bigrams"),
    ).otherwise(F.lit(0.0))
    return stats.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("top_unigram_count").cast("int").alias("top_unigram_count"),
        top_frac.alias("top_unigram_frac"),
        dup_frac.alias("dup_bigram_frac"),
        ((top_frac > REP_TOP_UNIGRAM_MAX) | (dup_frac > REP_DUP_BIGRAM_MAX)).alias("flagged"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# PII scrub (functions/strings.py redact_pii / pii_match_count)
# ---------------------------------------------------------------------------

# The synthetic documents fixture contains no PII shapes, so the query
# derives a deterministic PII-bearing column FROM doc_id (emails, IPv4,
# 16-digit card runs, NA phone shapes — present/absent per residue class so
# counts range 0-4) and scrubs THAT. Both sides build the identical string,
# so the oracle hash-checks the actual regexp chain, not the fixture.
_PII_FIXTURE_SQL = """
'doc ' || CAST(doc_id AS VARCHAR) || ' review.'
  || CASE WHEN doc_id % 3 <> 0
       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.org asap'
       ELSE '' END
  || CASE WHEN doc_id % 4 = 2
       THEN ' seen from 10.' || CAST(doc_id % 200 AS VARCHAR)
            || '.' || CAST(doc_id % 250 AS VARCHAR)
            || '.' || CAST(doc_id % 97 AS VARCHAR)
       ELSE '' END
  || CASE WHEN doc_id % 5 = 2
       THEN ' card 4111' || lpad(CAST(doc_id % 100000000 AS VARCHAR), 12, '0') || ' on file'
       ELSE '' END
  || CASE WHEN doc_id % 2 = 0
       THEN ' call (415) 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
       ELSE '' END
"""

# RE2 (DuckDB) restatement of functions.strings._PII_PATTERNS. RE2 has no
# lookbehind, so the phone pattern drops the Java `(?<![\d.])` guard — on
# this fixture the two are equivalent: every phone shape is space-preceded
# once the earlier classes (email/IP/card) have been replaced by tokens.
_PII_ORACLE_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\b\d{13,19}\b", "<ID>"),
    (r"(?:\+?\d{1,2}[ .-]?)?(?:\(\d{3}\)|\d{3})[ .-]\d{3}[ .-]\d{4}\b", "<PHONE>"),
)


def _pii_oracle_chain() -> str:
    """Progressive redact+count CTE chain mirroring pii_match_count: stage k
    counts on the text after replacements 1..k-1, then replaces with the
    SAME token redact_pii inserts (word-char fillers would eat \\b).
    Running count carried forward so the final CTE holds the total."""
    ctes = [f"r0 AS (SELECT doc_id, {_PII_FIXTURE_SQL} AS t0, 0 AS c0 FROM documents)"]
    for k, (pat, token) in enumerate(_PII_ORACLE_PATTERNS):
        ctes.append(
            f"r{k + 1} AS (SELECT doc_id, "
            f"regexp_replace(t{k}, '{pat}', '{token}', 'g') AS t{k + 1}, "
            f"c{k} + len(regexp_extract_all(t{k}, '{pat}')) AS c{k + 1} "
            f"FROM r{k})"
        )
    return ",\n".join(ctes)


@query(
    "text_pii_scrub",
    tags=("text", "pii", "map"),
    oracle=f"""
WITH {_pii_oracle_chain()}
SELECT doc_id, t4 AS redacted, CAST(c4 AS INTEGER) AS n_pii
FROM r4 ORDER BY doc_id
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub + audit count over a deterministic doc_id-derived PII
    column: emails, IPv4 addresses, 16-digit card runs, and NA phone shapes
    become typed placeholder tokens; n_pii is the redaction count the audit
    layer reports per document (0-4 on this fixture by residue class).

    The pre-training corpus scrub stage (C4/Dolma-style). Scale: the whole
    query is one codegen-fused map projection over the scan — a chain of
    JVM regexp_replace calls, zero shuffles, no Python — so at 100 TB it
    runs at scan speed on every executor independently.
    """
    i = F.col("doc_id")
    s = i.cast("string")
    raw = F.concat(
        F.lit("doc "), s, F.lit(" review."),
        F.when(
            i % 3 != 0,
            F.concat(F.lit(" contact user"), s, F.lit("@mail.example.org asap")),
        ).otherwise(F.lit("")),
        F.when(
            i % 4 == 2,
            F.concat(
                F.lit(" seen from 10."), (i % 200).cast("string"),
                F.lit("."), (i % 250).cast("string"),
                F.lit("."), (i % 97).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 5 == 2,
            F.concat(
                F.lit(" card 4111"),
                F.lpad((i % 100000000).cast("string"), 12, "0"),
                F.lit(" on file"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 2 == 0,
            F.concat(
                F.lit(" call (415) 555-"),
                F.lpad((i % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        ).otherwise(F.lit("")),
    )
    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            redact_pii(raw).alias("redacted"),
            pii_match_count(raw).alias("n_pii"),
        )
        .orderBy("doc_id")
    )


_LM_SCORE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, t.tok, t.i
  FROM documents,
  LATERAL (SELECT unnest({_TOKENS_SQL}) AS tok,
                  unnest(generate_series(1, len({_TOKENS_SQL}))) AS i) t
), bigrams AS (
  SELECT a.doc_id, a.tok AS w1, b.tok AS w2
  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM bigrams GROUP BY w1, w2
), c1 AS (
  SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY w1
), v AS (
  SELECT COUNT(DISTINCT tok) AS vocab FROM toks
), scored AS (
  SELECT g.doc_id,
         ROUND(-ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v.vocab AS DOUBLE)), 6)
           AS nll
  FROM bigrams g
  JOIN c2 ON g.w1 = c2.w1 AND g.w2 = c2.w2
  JOIN c1 ON g.w1 = c1.w1
  CROSS JOIN v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS lm_score
FROM scored GROUP BY doc_id
ORDER BY doc_id
"""


@query(
    "text_ngram_lm_score",
    tags=("text", "agg", "join", "quality"),
    oracle=_LM_SCORE_ORACLE,
)
def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM quality score (the CCNet-style perplexity filter):
    train add-one-smoothed bigram counts on the corpus itself, then score
    each document by its mean negative log-likelihood — low = fluent /
    redundant, high = unusual n-gram sequences (noise, gibberish,
    boilerplate breaks).

    Spark-first: bigrams are paired INSIDE each row (transform over the
    token array, same zero-self-join shape as text_ngram_freq) before one
    explode; the LM is two hash aggregates off that explode (c2 on
    (w1,w2), c1 derived from c2 — never a second corpus pass); scoring
    re-joins bigrams to the LM on (w1,w2) — a shuffle equi-join that AQE
    turns into a broadcast when the vocabulary fits, and survives when it
    does not (100 TB: vocab-sized sides shuffle, corpus-side bigrams
    stream through). Determinism: each bigram's NLL is rounded to 6 dp
    then exact-decimal-summed, so the per-doc mean is partitioning-proof.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("tok"))
    n = F.size("tok")
    idx = F.when(n >= 2, F.sequence(F.lit(0), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at("tok", i + 1).alias("w1"),
                    F.element_at("tok", i + 2).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = d.select(F.explode(_tokens(F.col("text"))).alias("tok")).agg(
        F.count_distinct("tok").alias("vocab")
    )
    nll = F.round(
        -F.log(
            (F.col("c2") + F.lit(1)).cast("double")
            / (F.col("c1") + F.col("vocab")).cast("double")
        ),
        6,
    )
    scored = (
        bigrams.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", nll.alias("nll"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(exact_sum("nll", 6, 12) / F.count(F.lit(1)), 6).alias("lm_score"),
        )
        .orderBy("doc_id")
    )


# Like the PII fixture: the synthetic corpus carries no URLs, so the query
# derives a deterministic crawl-URL column FROM doc_id with the variation a
# canonicalizer must erase (scheme, www, host case, trailing slash,
# utm_* tracking params, fragments) plus variation it must KEEP (the page
# query param). Both sides build the identical string, so the hash gate
# checks the canonicalization chain itself.
_URL_FIXTURE_SQL = """
CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END
  || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
  || CASE WHEN doc_id % 5 = 0
       THEN 'SITE' || CAST(doc_id % 40 AS VARCHAR) || '.Example.COM'
       ELSE 'site' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' END
  || '/articles/item-' || CAST(doc_id % 100 AS VARCHAR)
  || CASE WHEN doc_id % 4 = 1 THEN '/' ELSE '' END
  || CASE WHEN doc_id % 7 < 3
       THEN '?utm_source=feed&page=' || CAST(doc_id % 2 AS VARCHAR)
            || '&utm_campaign=c' || CAST(doc_id AS VARCHAR)
       ELSE CASE WHEN doc_id % 2 = 0
            THEN '?page=' || CAST(doc_id % 2 AS VARCHAR) ELSE '' END END
  || CASE WHEN doc_id % 6 = 0 THEN '#section-' || CAST(doc_id % 9 AS VARCHAR)
       ELSE '' END
"""


@query(
    "text_url_canonical_dedup",
    tags=("text", "dedup", "map"),
    oracle=f"""
WITH raw AS (
  SELECT doc_id, {_URL_FIXTURE_SQL} AS url FROM documents
), parts AS (
  SELECT doc_id,
         regexp_replace(lower(regexp_extract(url, '^https?://([^/?#]+)', 1)),
                        '^www\\.', '') AS host,
         regexp_replace(regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1),
                        '/$', '') AS path,
         array_to_string(
           list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                       x -> x <> '' AND NOT regexp_matches(x, '^utm_')),
           '&') AS q
  FROM raw
), canon AS (
  SELECT doc_id,
         host || path || CASE WHEN q <> '' THEN '?' || q ELSE '' END
           AS canonical_url
  FROM parts
)
SELECT canonical_url, MIN(doc_id) AS kept_doc_id, COUNT(*) AS n_variants
FROM canon GROUP BY canonical_url
ORDER BY canonical_url
""",
)
def text_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-URL canonicalization + keep-first dedup — the web-pipeline
    step before any content dedup: strip scheme / www / fragment /
    trailing slash / utm_* tracking params, lowercase the host, KEEP
    meaningful query params (page), then collapse variants of the same
    resource to the earliest doc.

    Scale: canonicalization is a codegen-fused chain of regexp extracts
    and a higher-order filter over the split query string — a pure map
    stage; the dedup is ONE partial+final hash aggregate on the canonical
    key (map-side combine collapses most variants before the exchange).
    No UDF, no join, no window.
    """
    i = F.col("doc_id")
    s = i.cast("string")
    url = F.concat(
        F.when(i % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(i % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(
            i % 5 == 0,
            F.concat(F.lit("SITE"), (i % 40).cast("string"), F.lit(".Example.COM")),
        ).otherwise(
            F.concat(F.lit("site"), (i % 40).cast("string"), F.lit(".example.com"))
        ),
        F.lit("/articles/item-"),
        (i % 100).cast("string"),
        F.when(i % 4 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(
            i % 7 < 3,
            F.concat(
                F.lit("?utm_source=feed&page="),
                (i % 2).cast("string"),
                F.lit("&utm_campaign=c"),
                s,
            ),
        ).otherwise(
            F.when(
                i % 2 == 0, F.concat(F.lit("?page="), (i % 2).cast("string"))
            ).otherwise(F.lit(""))
        ),
        F.when(
            i % 6 == 0, F.concat(F.lit("#section-"), (i % 9).cast("string"))
        ).otherwise(F.lit("")),
    )
    d = table(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    host = F.regexp_replace(
        F.lower(F.regexp_extract("url", r"^https?://([^/?#]+)", 1)), r"^www\.", ""
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^https?://[^/?#]+([^?#]*)", 1), r"/$", ""
    )
    q_kept = F.array_join(
        F.filter(
            F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
            lambda x: (x != "") & ~x.rlike("^utm_"),
        ),
        "&",
    )
    canon = d.select(
        "doc_id",
        F.concat(
            host,
            path,
            F.when(q_kept != "", F.concat(F.lit("?"), q_kept)).otherwise(F.lit("")),
        ).alias("canonical_url"),
    )
    return (
        canon.groupBy("canonical_url")
        .agg(F.min("doc_id").alias("kept_doc_id"), F.count(F.lit(1)).alias("n_variants"))
        .orderBy("canonical_url")
    )


# Deterministic HTML wrapper derived from doc_id + the document text (the
# fixture is plain text, same precedent as the PII/URL fixtures): both
# sides build the identical markup, so the hash gate checks the strip
# chain — tag removal, entity decoding, whitespace collapse — not the
# fixture.
_HTML_FIXTURE_SQL = """
'<div id="d' || CAST(doc_id AS VARCHAR) || '" class="c'
  || CAST(doc_id % 7 AS VARCHAR) || '"><h1>Doc&nbsp;'
  || CAST(doc_id AS VARCHAR) || '</h1><p>' || substr(text, 1, 100)
  || '</p><br/><span>&amp; &lt;tail&gt; ' || CAST(doc_id % 50 AS VARCHAR)
  || '</span></div>'
"""


@query(
    "text_html_strip",
    tags=("text", "map", "cleaning"),
    oracle=f"""
WITH raw AS (
  SELECT doc_id, {_HTML_FIXTURE_SQL} AS html FROM documents
), stripped AS (
  SELECT doc_id, html,
         trim(regexp_replace(
           replace(replace(replace(replace(
             regexp_replace(html, '<[^>]*>', ' ', 'g'),
             '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
           '\\s+', ' ', 'g')) AS cleaned
  FROM raw
)
SELECT doc_id, cleaned,
       CAST(len(html) AS BIGINT) AS n_chars_raw,
       CAST(len(cleaned) AS BIGINT) AS n_chars_clean
FROM stripped ORDER BY doc_id
""",
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-to-text cleaning — the step every web-crawl pipeline runs
    before quality scoring: strip tags, decode the common entities
    (&amp; &lt; &gt; &nbsp;), collapse runs of whitespace, and report the
    markup overhead (raw vs clean lengths).

    Scale: the whole query is one codegen-fused map projection — a
    regexp_replace for tags, a replace chain for entities, one more
    regexp for whitespace — zero shuffles except the presentation sort;
    at 100 TB it runs at scan speed on every executor independently
    (same posture as the PII scrub, SURVEY §2.8 F14-F16).
    """
    i = F.col("doc_id")
    html = F.concat(
        F.lit('<div id="d'), i.cast("string"),
        F.lit('" class="c'), (i % 7).cast("string"),
        F.lit('"><h1>Doc&nbsp;'), i.cast("string"),
        F.lit("</h1><p>"), F.substring("text", 1, 100),
        F.lit("</p><br/><span>&amp; &lt;tail&gt; "), (i % 50).cast("string"),
        F.lit("</span></div>"),
    )
    d = table(spark, sf_dir, "documents").select("doc_id", html.alias("html"))
    no_tags = F.regexp_replace("html", "<[^>]*>", " ")
    decoded = F.replace(
        F.replace(
            F.replace(
                F.replace(no_tags, F.lit("&nbsp;"), F.lit(" ")),
                F.lit("&amp;"), F.lit("&"),
            ),
            F.lit("&lt;"), F.lit("<"),
        ),
        F.lit("&gt;"), F.lit(">"),
    )
    cleaned = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    return d.select(
        "doc_id",
        cleaned.alias("cleaned"),
        F.length("html").cast("bigint").alias("n_chars_raw"),
        F.length(cleaned).cast("bigint").alias("n_chars_clean"),
    ).orderBy("doc_id")


# Hashing-trick linear classifier: 1024 feature buckets via an md5-prefix
# hash; fixed weight per bucket w(b) = ((b*13) % 7 - 3) / 8 — every weight
# a multiple of 1/8, so per-doc weight sums are float-exact at any
# accumulation order and the score needs no decimal plumbing.
CLS_BUCKETS = 1024
_CLS_BUCKET_SQL = f"CAST(('0x' || substr(md5(tok), 1, 4)) AS BIGINT) % {CLS_BUCKETS}"
_CLS_WEIGHT_SQL = f"CAST((({_CLS_BUCKET_SQL}) * 13 % 7 - 3) AS DOUBLE) / 8"


@query(
    "text_classifier_score",
    tags=("text", "quality", "ml"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
), scored AS (
  SELECT doc_id, {_CLS_WEIGHT_SQL} AS w FROM toks
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS quality_score,
       CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) > 0 AS keep
FROM scored GROUP BY doc_id
ORDER BY doc_id
""",
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the FineWeb-Edu / DCLM shape): a
    linear classifier over hashing-trick token features scores every
    document; keep = score > 0. The weight vector here is a fixed
    closed-form stand-in — the POINT is the serving dataflow: hash each
    token to one of 1024 buckets, look up its weight, average per doc.

    Spark-first: with the model as an expression (or a 1024-row broadcast
    in the general case), scoring is one token explode + one hash
    aggregate — no shuffle carries anything wider than (doc_id, weight),
    and a real learned weight table would broadcast identically. Exact:
    weights are multiples of 1/8, decimal-summed; the mean's divide is
    one deterministic double op.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    bucket = F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("bigint") % CLS_BUCKETS
    w = (bucket * 13 % 7 - 3).cast("double") / 8
    scored = toks.select("doc_id", w.alias("w"))
    mean = exact_sum("w", 6, 12) / F.count(F.lit(1))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(mean, 6).alias("quality_score"),
            (mean > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_bpe_pair_counts",
    tags=("text", "agg", "tokenizer"),
    oracle=f"""
WITH toks AS (
  SELECT unnest({_TOKENS_SQL}) AS tok FROM documents
), pairs AS (
  SELECT substr(tok, p.p, 2) AS pair
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tok) - 1)) AS p) p
  WHERE len(tok) >= 2
)
SELECT pair, COUNT(*) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair LIMIT 30
""",
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step, distributed: count every adjacent
    character pair inside every token across the corpus and rank the
    top 30 — the statistic a tokenizer trainer computes per merge round
    (each round re-counts over the updated symbol sequences; the
    dataflow is this exact shape each time).

    Spark-first: pairs are built INSIDE the row (transform over a
    guarded index sequence — the same descending-sequence guard as the
    bigram census), so the only shuffle is the pair count; the top-30 is
    TakeOrderedAndProject. At 100 TB the exchange carries |alphabet|²
    partial counts per partition, not the corpus.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    n = F.length("tok")
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = toks.select(
        F.explode(
            F.transform(idx, lambda p: F.col("tok").substr(p, F.lit(2)))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(30)
    )


# Gopher-style quality-rule thresholds, tuned so each stage prunes a real
# slice of the fixture corpus (p5/p95 boundaries measured at sf0.01).
FUNNEL_MIN_TOKENS = 24
FUNNEL_AVG_LEN_LO, FUNNEL_AVG_LEN_HI = 4.2, 4.8
FUNNEL_MAX_TOKEN_RATIO = 0.125


@query(
    "text_quality_filter_funnel",
    tags=("text", "quality", "llm"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
), tc AS (
  SELECT doc_id, x AS term, COUNT(*) AS c
  FROM toks, UNNEST(t) AS u(x) GROUP BY 1, 2
), maxc AS (
  SELECT doc_id, MAX(c) AS mc FROM tc GROUP BY doc_id
), flags AS (
  SELECT t.doc_id,
         len(t.t) >= {FUNNEL_MIN_TOKENS} AS r1,
         list_sum(list_transform(t.t, x -> length(x))) / CAST(len(t.t) AS DOUBLE)
           BETWEEN {FUNNEL_AVG_LEN_LO} AND {FUNNEL_AVG_LEN_HI} AS r2,
         m.mc / CAST(len(t.t) AS DOUBLE) <= {FUNNEL_MAX_TOKEN_RATIO} AS r3,
         list_contains(t.t, 'the') OR list_contains(t.t, 'a') AS r4
  FROM toks t JOIN maxc m ON t.doc_id = m.doc_id
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(SUM(CASE WHEN r1 AND r2 AND r3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         CAST(SUM(CASE WHEN r1 AND r2 AND r3 AND r4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM flags
)
SELECT 1 AS stage, 'min_tokens' AS rule, n0 AS n_in, n0 - n1 AS n_fail, n1 AS n_out FROM agg
UNION ALL SELECT 2, 'avg_token_len_band', n1, n1 - n2, n2 FROM agg
UNION ALL SELECT 3, 'max_token_ratio', n2, n2 - n3, n3 FROM agg
UNION ALL SELECT 4, 'has_stopword', n3, n3 - n4, n4 FROM agg
ORDER BY stage
""",
)
def text_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel audit — the per-rule kill counts of a
    Gopher/C4-style cascade (length gate → mean-token-length band →
    single-token domination → stopword presence), applied cumulatively
    so each row reports documents entering, failing, and surviving that
    stage. Pipelines ship this table with every corpus release: a rule
    that suddenly kills 40% of a crawl signals the RULE (or the crawl)
    broke, and the cumulative form localizes it to a stage.

    Scale: per-doc flags are one token pass (the domination rule needs a
    (doc, term) count — the same single explode+agg budget as
    text_token_stats); the funnel itself aggregates those booleans into
    ONE row of counters, and the 4-stage output is a literal unpivot of
    that row — no per-stage rescan, no second pass over text. Counter
    arithmetic is all integers: hash-identical across engines by
    construction.
    """
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", _tokens(F.col("text")).alias("t")
    )
    maxc = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("mc"))
    )
    n_tok = F.size("t")
    avg_len = F.aggregate(
        F.transform("t", lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    ).cast("double") / n_tok.cast("double")
    flags = toks.join(maxc, "doc_id").select(
        (n_tok >= FUNNEL_MIN_TOKENS).alias("r1"),
        ((avg_len >= FUNNEL_AVG_LEN_LO) & (avg_len <= FUNNEL_AVG_LEN_HI)).alias("r2"),
        (F.col("mc").cast("double") / n_tok.cast("double") <= FUNNEL_MAX_TOKEN_RATIO).alias(
            "r3"
        ),
        (F.array_contains("t", "the") | F.array_contains("t", "a")).alias("r4"),
    )
    one = F.lit(1)
    zero = F.lit(0)
    agg = flags.agg(
        F.count(one).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("r1"), one).otherwise(zero)).cast("bigint").alias("n1"),
        F.sum(F.when(F.col("r1") & F.col("r2"), one).otherwise(zero))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("r1") & F.col("r2") & F.col("r3"), one).otherwise(zero))
        .cast("bigint")
        .alias("n3"),
        F.sum(
            F.when(F.col("r1") & F.col("r2") & F.col("r3") & F.col("r4"), one).otherwise(zero)
        )
        .cast("bigint")
        .alias("n4"),
    )
    stages = F.array(
        F.struct(F.lit(1).alias("stage"), F.lit("min_tokens").alias("rule"),
                 F.col("n0").alias("n_in"), (F.col("n0") - F.col("n1")).alias("n_fail"),
                 F.col("n1").alias("n_out")),
        F.struct(F.lit(2).alias("stage"), F.lit("avg_token_len_band").alias("rule"),
                 F.col("n1").alias("n_in"), (F.col("n1") - F.col("n2")).alias("n_fail"),
                 F.col("n2").alias("n_out")),
        F.struct(F.lit(3).alias("stage"), F.lit("max_token_ratio").alias("rule"),
                 F.col("n2").alias("n_in"), (F.col("n2") - F.col("n3")).alias("n_fail"),
                 F.col("n3").alias("n_out")),
        F.struct(F.lit(4).alias("stage"), F.lit("has_stopword").alias("rule"),
                 F.col("n3").alias("n_in"), (F.col("n3") - F.col("n4")).alias("n_fail"),
                 F.col("n4").alias("n_out")),
    )
    return (
        agg.select(F.explode(stages).alias("s"))
        .select("s.stage", "s.rule", "s.n_in", "s.n_fail", "s.n_out")
        .orderBy("stage")
    )


@query(
    "text_length_histogram",
    tags=("text", "quality", "agg"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n FROM documents
), b AS (
  SELECT n, CAST(floor(log2(n)) AS INTEGER) AS bucket FROM toks WHERE n > 0
)
SELECT bucket,
       CAST(pow(2.0, bucket) AS BIGINT) AS bucket_lo,
       CAST(pow(2.0, bucket + 1) AS BIGINT) - 1 AS bucket_hi,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       MIN(n) AS min_tokens, MAX(n) AS max_tokens
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-bucketed document-length histogram — docs and token mass per
    power-of-two length band, with band boundaries materialized. The
    corpus-shape report every release ships (length distributions are
    power-law-ish; a linear-bucket histogram wastes 90% of its bins) and
    the input to sequence-packing capacity planning (pack_sequences):
    token MASS per band, not doc count, is what sizes the packed output.

    Scale: one tokenizer pass folded into the scan (the size() of the
    split — no explode, no array materialization past the projection),
    then one hash aggregate carrying ~log₂(max_len) rows. As cheap as a
    count(*) at any corpus size. floor(log2(n)) over integer n is exact
    in both engines (n < 2^53).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.size(_tokens(F.col("text"))).cast("bigint").alias("n"))
    bucket = F.floor(F.log2("n")).cast("int")
    return (
        toks.filter(F.col("n") > 0)
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.min("n").alias("min_tokens"),
            F.max("n").alias("max_tokens"),
        )
        .select(
            "bucket",
            F.pow(F.lit(2.0), F.col("bucket").cast("double")).cast("bigint").alias("bucket_lo"),
            (
                F.pow(F.lit(2.0), (F.col("bucket") + 1).cast("double")).cast("bigint")
                - 1
            ).alias("bucket_hi"),
            "n_docs",
            "total_tokens",
            "min_tokens",
            "max_tokens",
        )
        .orderBy("bucket")
    )


@query(
    "text_perplexity_buckets",
    tags=("text", "quality", "llm", "window"),
    oracle=f"""
WITH lm AS ({_LM_SCORE_ORACLE}),
tiled AS (
  SELECT doc_id, n_bigrams, lm_score,
         NTILE(3) OVER (ORDER BY lm_score, doc_id) AS tile
  FROM lm
)
SELECT CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(tile AS INTEGER) AS tile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(lm_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_lm_score,
       ROUND(MIN(lm_score), 6) AS min_lm_score,
       ROUND(MAX(lm_score), 6) AS max_lm_score,
       CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams
FROM tiled GROUP BY 1, 2 ORDER BY tile
""",
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing: rank every document
    by its corpus bigram-LM score (text_ngram_lm_score — called
    directly, one scoring definition) and cut the ranking into equal
    terciles, reporting population and score/token mass per bucket. The
    selection policy CCNet trains on (keep head+middle, drop tail) and
    the calibration table any perplexity threshold is read off of.

    Scale: everything data-sized lives in the reused scoring plan; the
    tercile pass is one ntile window over the per-DOC score table
    (corpus-cardinality rows of three columns) and a 3-row rollup. The
    global window is the same deliberate single-task stage as
    window_ntile_stratify — it runs on the aggregate, never the bigram
    grain.
    """
    lm = text_ngram_lm_score(spark, sf_dir)
    w = Window.orderBy("lm_score", "doc_id")
    tiled = lm.select(
        "doc_id", "n_bigrams", "lm_score", F.ntile(3).over(w).alias("tile")
    )
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        tiled.groupBy(bucket.alias("bucket"), F.col("tile").cast("int").alias("tile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(exact_sum("lm_score", 6, 12) / F.count(F.lit(1)), 6).alias("mean_lm_score"),
            F.round(F.min("lm_score"), 6).alias("min_lm_score"),
            F.round(F.max("lm_score"), 6).alias("max_lm_score"),
            F.sum("n_bigrams").cast("bigint").alias("total_bigrams"),
        )
        .orderBy("tile")
    )


@query(
    "text_jsd_domain_drift",
    tags=("text", "quality", "drift"),
    oracle=f"""
WITH toks AS (
  SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents
), src_cnt AS (
  SELECT source, term, COUNT(*) AS c FROM toks GROUP BY 1, 2
), src_tot AS (
  SELECT source, SUM(c) AS tot FROM src_cnt GROUP BY source
), corp_cnt AS (
  SELECT term, COUNT(*) AS c FROM toks GROUP BY term
), corp_tot AS (
  SELECT SUM(c) AS tot FROM corp_cnt
), grid AS (
  SELECT s.source, w.term,
         COALESCE(sc.c, 0) / CAST(st.tot AS DOUBLE) AS p,
         w.c / CAST(ct.tot AS DOUBLE) AS q
  FROM (SELECT DISTINCT source FROM toks) s
  CROSS JOIN corp_cnt w
  CROSS JOIN corp_tot ct
  JOIN src_tot st ON st.source = s.source
  LEFT JOIN src_cnt sc ON sc.source = s.source AND sc.term = w.term
), terms AS (
  SELECT source,
         CASE WHEN p > 0
              THEN ROUND(0.5 * p * ln(p / ((p + q) / 2)), 6) ELSE 0.0 END AS tp,
         ROUND(0.5 * q * ln(q / ((p + q) / 2)), 6) AS tq
  FROM grid
)
SELECT source,
       ROUND(CAST(SUM(CAST(tp AS DECIMAL(18,6))) AS DOUBLE)
             + CAST(SUM(CAST(tq AS DECIMAL(18,6))) AS DOUBLE), 6) AS jsd_nats
FROM terms GROUP BY source ORDER BY source
""",
)
def text_jsd_domain_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence of each source's token distribution
    from the corpus distribution — the drift/contrast metric curation
    pipelines track across crawl snapshots and domains (a source whose
    JSD jumps between releases changed character; a near-zero JSD source
    adds no diversity). Symmetric, bounded by ln 2, zero iff identical.

    Spark-first: two count aggregates off ONE token explode (per-source
    and corpus — the corpus table derives from the source table, never a
    second scan), then the (source × vocab) grid joins the broadcast
    totals and reduces per source. Each JSD term is rounded to 6 dp and
    summed as decimal — ln() ulp differences between libm builds sit
    below the rounding quantum, the established lm-score contract.
    Vocabulary is the only joined dimension: work is O(tokens +
    |sources|·|vocab|).
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(_tokens(F.col("text"))).alias("term"))
    src_cnt = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    src_tot = src_cnt.groupBy("source").agg(F.sum("c").alias("tot"))
    corp_cnt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cc"))
    corp_tot = corp_cnt.agg(F.sum("cc").alias("ctot"))
    sources = toks.select("source").distinct()
    grid = (
        sources.crossJoin(corp_cnt)
        .crossJoin(F.broadcast(corp_tot))
        .join(src_tot, "source")
        .join(src_cnt, ["source", "term"], "left")
        .select(
            "source",
            (F.coalesce("c", F.lit(0)).cast("double") / F.col("tot")).alias("p"),
            (F.col("cc").cast("double") / F.col("ctot")).alias("q"),
        )
    )
    m = (F.col("p") + F.col("q")) / 2
    tp = F.when(
        F.col("p") > 0, F.round(0.5 * F.col("p") * F.log(F.col("p") / m), 6)
    ).otherwise(0.0)
    tq = F.round(0.5 * F.col("q") * F.log(F.col("q") / m), 6)
    return (
        grid.select("source", tp.alias("tp"), tq.alias("tq"))
        .groupBy("source")
        .agg(
            F.round(exact_sum("tp", 6, 12) + exact_sum("tq", 6, 12), 6).alias("jsd_nats")
        )
        .orderBy("source")
    )


SPAN_TOKENS = 8  # span-dedup granularity: 8-token pseudo-sentences


@query(
    "text_span_dedup",
    tags=("text", "dedup", "llm"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
), spans AS (
  SELECT doc_id,
         i AS span_idx,
         array_to_string(t[i * {SPAN_TOKENS} + 1 : (i + 1) * {SPAN_TOKENS}], ' ')
           AS span,
         LEAST({SPAN_TOKENS}, len(t) - i * {SPAN_TOKENS}) AS span_toks
  FROM toks, UNNEST(generate_series(0, CAST(CEIL(len(t) / {SPAN_TOKENS}.0) AS BIGINT) - 1)) AS g(i)
  WHERE len(t) > 0
), keeper AS (
  SELECT span, MIN(doc_id * 1000000 + span_idx) AS keeper_pos
  FROM spans GROUP BY span
)
SELECT s.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN s.doc_id * 1000000 + s.span_idx = k.keeper_pos
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN s.doc_id * 1000000 + s.span_idx = k.keeper_pos
                     THEN s.span_toks ELSE 0 END) AS BIGINT) AS kept_tokens,
       ROUND(SUM(CASE WHEN s.doc_id * 1000000 + s.span_idx = k.keeper_pos
                      THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS kept_ratio
FROM spans s JOIN keeper k ON s.span = k.span
GROUP BY s.doc_id ORDER BY s.doc_id
""",
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide span-level dedup (the C4 / CCNet sub-document rule):
    documents are cut into 8-token spans and every span retains only its
    FIRST corpus occurrence (minimum of doc_id·10⁶ + span index — a total
    order both engines share); later repeats are dropped even when the
    surrounding documents differ. Emits per-doc span counts, survivors,
    surviving token mass, and the kept ratio — the dedup audit a corpus
    build reports before training.

    Scale: span cutting is a per-row array expression (zero shuffle),
    the keeper election is ONE hash aggregate on the span string
    (map-side combined), and the verdict join is an equi-join on the
    span key — the same inverted-index shape as the shingle dedup
    family, never all-pairs. Memory is bounded by distinct spans, the
    same vocabulary-sized footprint the n-gram family already carries.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", _tokens(F.col("text")).alias("t")).filter(
        F.size("t") > 0
    )
    n_spans = F.ceil(F.size("t") / float(SPAN_TOKENS)).cast("bigint")
    spans = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.struct(
                    F.array_join(
                        F.slice("t", i * SPAN_TOKENS + 1, SPAN_TOKENS), " "
                    ).alias("span"),
                    F.least(
                        F.lit(SPAN_TOKENS), F.size("t") - i * SPAN_TOKENS
                    ).alias("span_toks"),
                ),
            )
        ).alias("span_idx", "s"),
    ).select(
        "doc_id",
        F.col("span_idx").cast("bigint").alias("span_idx"),
        F.col("s.span").alias("span"),
        F.col("s.span_toks").alias("span_toks"),
    )
    pos = F.col("doc_id") * 1000000 + F.col("span_idx")
    keeper = spans.groupBy("span").agg(
        F.min(F.col("doc_id") * 1000000 + F.col("span_idx")).alias("keeper_pos")
    )
    kept = F.when(pos == F.col("keeper_pos"), 1).otherwise(0)
    return (
        spans.join(keeper, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.sum(
                F.when(pos == F.col("keeper_pos"), F.col("span_toks")).otherwise(0)
            )
            .cast("bigint")
            .alias("kept_tokens"),
            F.round(
                F.sum(kept) / F.count(F.lit(1)).cast("double"), 6
            ).alias("kept_ratio"),
        )
        .orderBy("doc_id")
    )


CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOPK = 20


@query(
    "sketch_count_min_tokens",
    tags=("sketch", "text", "agg"),
    oracle=f"""
WITH toks AS (
  SELECT unnest({_TOKENS_SQL}) AS tok FROM documents
), truth AS (
  SELECT tok, COUNT(*) AS true_count FROM toks GROUP BY tok
), hashed AS (
  SELECT t.tok, t.true_count, d.i AS row_i,
         CAST(('0x' || substr(md5(CAST(d.i AS VARCHAR) || '|' || t.tok), 1, 3))
              AS BIGINT) % {CMS_WIDTH} AS bucket
  FROM truth t, UNNEST(generate_series(0, {CMS_DEPTH - 1})) AS d(i)
), cells AS (
  SELECT row_i, bucket, CAST(SUM(true_count) AS BIGINT) AS cell
  FROM hashed GROUP BY row_i, bucket
), est AS (
  SELECT h.tok, h.true_count, MIN(c.cell) AS cms_estimate
  FROM hashed h JOIN cells c ON h.row_i = c.row_i AND h.bucket = c.bucket
  GROUP BY h.tok, h.true_count
)
SELECT tok, CAST(true_count AS BIGINT) AS true_count,
       cms_estimate,
       CAST(cms_estimate - true_count AS BIGINT) AS overcount,
       cms_estimate >= true_count AS never_undercounts
FROM est
ORDER BY true_count DESC, tok LIMIT {CMS_TOPK}""",
)
def sketch_count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream, built and queried as
    dataflow: a 4×1024 grid of counters (depth × width), each token
    hashed into one bucket per row via md5-derived hashes — the same
    portable-hash family as the minhash/winnowing ops, so BOTH engines
    build the bit-identical sketch. The estimate for a token is the MIN
    of its 4 cells; the query reports the 20 heaviest tokens' true
    counts against their CMS estimates with the sketch's one-sided
    error surfaced (``never_undercounts`` must be uniformly true — the
    structural guarantee, here witnessed, not assumed).

    Why a sketch at 100 TB: the 4096-cell grid is a CONSTANT-size
    summary maintained by one map-side-combined aggregate over the
    stream — frequency estimates for any token without a per-token
    groupBy over the corpus. Building it exactly (and checking against
    exact truth) is the verifier-grade form; production swaps the truth
    join for pure sketch reads. Everything here is two hash aggregates
    and an equi-join on (row, bucket) — no all-pairs, no UDFs.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(_tokens(F.col("text"))).alias("tok"))
    truth = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_count"))
    rows = spark.range(CMS_DEPTH).select(F.col("id").alias("row_i"))
    hashed = truth.crossJoin(F.broadcast(rows)).select(
        "tok",
        "true_count",
        "row_i",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("row_i").cast("string"), F.lit("|"), F.col("tok"))),
                    1,
                    3,
                ),
                16,
                10,
            ).cast("bigint")
            % CMS_WIDTH
        ).alias("bucket"),
    )
    cells = hashed.groupBy("row_i", "bucket").agg(
        F.sum("true_count").cast("bigint").alias("cell")
    )
    est = (
        hashed.join(cells, ["row_i", "bucket"])
        .groupBy("tok", "true_count")
        .agg(F.min("cell").alias("cms_estimate"))
    )
    return (
        est.select(
            "tok",
            F.col("true_count").cast("bigint").alias("true_count"),
            "cms_estimate",
            (F.col("cms_estimate") - F.col("true_count"))
            .cast("bigint")
            .alias("overcount"),
            (F.col("cms_estimate") >= F.col("true_count")).alias(
                "never_undercounts"
            ),
        )
        .orderBy(F.desc("true_count"), "tok")
        .limit(CMS_TOPK)
    )


BLOOM_BITS = 8192
BLOOM_HASHES = 6


@query(
    "sketch_bloom_membership",
    tags=("sketch", "text", "agg"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
), build AS (
  SELECT DISTINCT tok FROM toks WHERE doc_id % 2 = 0
), probe AS (
  SELECT DISTINCT tok FROM toks WHERE doc_id % 2 = 1
  EXCEPT SELECT tok FROM build
), bits AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5(CAST(h.i AS VARCHAR) || '|' || b.tok), 1, 4))
              AS BIGINT) % {BLOOM_BITS} AS pos
  FROM build b, UNNEST(generate_series(0, {BLOOM_HASHES - 1})) AS h(i)
), probe_pos AS (
  SELECT p.tok,
         CAST(('0x' || substr(md5(CAST(h.i AS VARCHAR) || '|' || p.tok), 1, 4))
              AS BIGINT) % {BLOOM_BITS} AS pos
  FROM probe p, UNNEST(generate_series(0, {BLOOM_HASHES - 1})) AS h(i)
), verdict AS (
  SELECT pp.tok,
         SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS hits
  FROM probe_pos pp LEFT JOIN bits b ON pp.pos = b.pos
  GROUP BY pp.tok
)
SELECT CAST((SELECT COUNT(*) FROM build) AS BIGINT) AS n_build,
       CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS bits_set,
       CAST(COUNT(*) AS BIGINT) AS n_probe,
       CAST(SUM(CASE WHEN hits = {BLOOM_HASHES} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_positive,
       ROUND(SUM(CASE WHEN hits = {BLOOM_HASHES} THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS measured_fpr,
       ROUND(POW((SELECT COUNT(*) FROM bits) / {BLOOM_BITS}.0,
                 {BLOOM_HASHES}), 6) AS fill_rate_fpr
FROM verdict""",
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter built and audited as dataflow: the vocabulary of
    even-numbered documents is inserted into an 8192-bit / 6-hash filter
    (md5-derived positions — both engines set the IDENTICAL bits), then
    probed with tokens that appear ONLY in odd documents, a provably
    disjoint set, so every positive is a false positive. Reports the
    filter's fill, the measured false-positive rate, and the fill-rate
    prediction (bits_set/m)^k side by side — the sketch's contract
    (no false negatives by construction; bounded, predictable false
    positives) witnessed rather than assumed.

    100 TB posture: the filter is a CONSTANT 1 KB summary maintained by
    a distinct aggregate over hashed positions; membership probes are an
    equi-join against those positions. This is the same shape Spark's
    runtime bloom-filter join injection uses (plan-pinned elsewhere in
    tests/test_plans.py) — built here explicitly so the semantics are
    oracle-checkable.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    build = toks.filter(F.col("doc_id") % 2 == 0).select("tok").distinct()
    probe = (
        toks.filter(F.col("doc_id") % 2 == 1)
        .select("tok")
        .distinct()
        .exceptAll(build)
        .distinct()
    )
    hs = spark.range(BLOOM_HASHES).select(F.col("id").alias("i"))
    pos = lambda tok_col: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("i").cast("string"), F.lit("|"), tok_col)), 1, 4
            ),
            16,
            10,
        ).cast("bigint")
        % BLOOM_BITS
    )
    bits = (
        build.crossJoin(F.broadcast(hs)).select(pos(F.col("tok")).alias("pos")).distinct()
    )
    probe_pos = probe.crossJoin(F.broadcast(hs)).select(
        "tok", pos(F.col("tok")).alias("pos")
    )
    verdict = (
        probe_pos.join(
            bits.withColumn("hit", F.lit(1)), "pos", "left"
        )
        .groupBy("tok")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"))
    )
    n_build = build.agg(F.count(F.lit(1)).alias("n_build"))
    n_bits = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    fp = F.sum(F.when(F.col("hits") == BLOOM_HASHES, 1).otherwise(0))
    return (
        verdict.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probe"),
            fp.cast("bigint").alias("n_false_positive"),
            F.round(fp / F.count(F.lit(1)).cast("double"), 6).alias("measured_fpr"),
        )
        .crossJoin(F.broadcast(n_build))
        .crossJoin(F.broadcast(n_bits))
        .select(
            F.col("n_build").cast("bigint").alias("n_build"),
            F.col("bits_set").cast("bigint").alias("bits_set"),
            "n_probe",
            "n_false_positive",
            "measured_fpr",
            F.round(
                F.pow(F.col("bits_set") / float(BLOOM_BITS), float(BLOOM_HASHES)), 6
            ).alias("fill_rate_fpr"),
        )
    )
