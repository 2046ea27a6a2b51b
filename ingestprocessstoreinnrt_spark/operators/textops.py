"""Text-analysis operators over the documents table: quality statistics,
language ID, token counting, and document fingerprinting — the
per-document half of a training-data pipeline (dedup is the pairwise
half, operators.dedup).

All native column expressions; each query has a DuckDB oracle twin
sharing the same regexes and hash primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..functions.scalars import SQL_STABLE_HASH64
from ..functions.text import (
    LANG_MARKERS,
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    lang_scores,
    quality_stats,
    token_count,
    tokens,
)
from ..registry import Query

# ---------------------------------------------------------------------------
# quality / counting statistics
# ---------------------------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    qs = quality_stats(F.col("text"))
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_subwords"),
        qs["n_chars"].alias("n_chars"),
        qs["punct_ratio"].alias("punct_ratio"),
        qs["digit_ratio"].alias("digit_ratio"),
        qs["stopword_ratio"].alias("stopword_ratio"),
        qs["mean_token_len"].alias("mean_token_len"),
    )


_SQL_TOKS = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)
_SQL_EN = "['the','and','of','to','is','in','that','with']"

_STATS_SQL = f"""
WITH d AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks, length(text)::BIGINT AS n_chars
  FROM documents
),
m AS (
  SELECT doc_id, text, toks, n_chars,
    len(toks)::BIGINT AS n_tokens,
    CASE WHEN n_chars = 0 THEN 1 ELSE n_chars END AS safe_chars,
    CASE WHEN len(toks) = 0 THEN 1 ELSE len(toks) END AS safe_toks
  FROM d
)
SELECT doc_id,
  n_tokens,
  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT
    AS n_subwords,
  n_chars,
  len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE / safe_chars AS punct_ratio,
  len(regexp_extract_all(text, '[0-9]'))::DOUBLE / safe_chars AS digit_ratio,
  len(list_filter(toks, t -> list_contains({_SQL_EN}, lower(t))))::DOUBLE
    / safe_toks AS stopword_ratio,
  COALESCE(list_sum(list_transform(toks, t -> length(t)))::BIGINT, 0)::DOUBLE
    / safe_toks AS mean_token_len
FROM m
"""

# ---------------------------------------------------------------------------
# language ID (stopword-marker heuristic)
# ---------------------------------------------------------------------------


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    scores = lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id(F.col("text")).alias("detected_lang"),
        *[scores[lang].cast("long").alias(f"score_{lang}") for lang in sorted(LANG_MARKERS)],
    )


def _sql_lang_parts() -> tuple[list, str]:
    """(score column exprs over `toks`, the argmax CASE over them) —
    shared by the langid oracle and the curation-pipeline oracle."""
    score_exprs = []
    for lang, markers in LANG_MARKERS.items():
        arr = "[" + ",".join(f"'{m}'" for m in markers) + "]"
        score_exprs.append(
            f"len(list_filter(toks, t -> list_contains({arr}, lower(t))))::BIGINT"
            f" AS score_{lang}"
        )
    langs = sorted(LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    # mirror functions.text.lang_id: alphabetical-first tie-break, 0 -> und
    pick = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in langs:
        pick += f"WHEN score_{lang} = {best} THEN '{lang}' "
    pick += "END"
    return score_exprs, pick


def _langid_sql() -> str:
    score_exprs, pick = _sql_lang_parts()
    langs = sorted(LANG_MARKERS)
    return f"""
WITH d AS (
  SELECT doc_id, lang AS labeled_lang, {_SQL_TOKS} AS toks FROM documents
),
s AS (
  SELECT doc_id, labeled_lang, {", ".join(score_exprs)} FROM d
)
SELECT doc_id, labeled_lang, {pick} AS detected_lang,
  {", ".join(f"score_{lang}" for lang in langs)}
FROM s
"""


# ---------------------------------------------------------------------------
# fingerprinting
# ---------------------------------------------------------------------------


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        F.length("text").cast("long").alias("n_chars"),
    )


_SQL_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_FP_SQL = f"""
SELECT doc_id,
  {SQL_STABLE_HASH64.format(x=_SQL_NORM)} AS fp,
  length(text)::BIGINT AS n_chars
FROM documents
"""


# ---------------------------------------------------------------------------
# BM25 ranked search — the full-text relevance layer over the Solr-role
# index (operators.bi index_search is single-term TF; this is the real
# ranking function a serving index computes).  Scale shape: one linear
# scan computes per-doc term frequencies; corpus statistics (N, total
# length, per-term document frequencies) reduce to ONE row that
# broadcasts back; no shuffle larger than that single aggregate.
# Scores are rounded to 6 dp before ranking with a doc_id tie-break
# (the established cross-engine float pattern).
# ---------------------------------------------------------------------------

BM25_TERMS = ["spark", "data", "stream"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 50


def text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.split(F.trim(F.col("text")), r"\s+")

    def tf_of(term):  # one-arg lambda: F.filter treats 2-arg as (x, idx)
        return F.size(F.filter(toks, lambda x: F.lower(x) == term))

    d = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            tf_of(t).cast("long").alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))
    # idf = ln((N - df + 0.5)/(df + 0.5) + 1); length norm on dl/avgdl
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    score = F.lit(0.0)
    for i in range(len(BM25_TERMS)):
        tf = F.col(f"tf{i}").cast("double")
        idf = F.log(
            (
                F.col("n_docs").cast("double")
                - F.col(f"df{i}").cast("double")
                + F.lit(0.5)
            )
            / (F.col(f"df{i}").cast("double") + F.lit(0.5))
            + F.lit(1.0)
        )
        score = score + idf * (
            tf
            * F.lit(BM25_K1 + 1.0)
            / (
                tf
                + F.lit(BM25_K1)
                * (
                    F.lit(1.0 - BM25_B)
                    + F.lit(BM25_B) * (F.col("dl").cast("double") / avgdl)
                )
            )
        )
    # top-k FIRST via TakeOrderedAndProject (per-partition local top-k,
    # driver merge), THEN rank the <= BM25_TOP surviving rows — the
    # single-partition row_number window never sees the corpus (the
    # sf1 sweep surfaced the global-window warning here; same
    # limit-then-rank pattern as basket.py/sketch.py)
    keys = [F.col("score").desc(), F.col("doc_id").asc()]
    return (
        scored.filter(
            sum(
                (F.col(f"tf{i}") > 0).cast("int")
                for i in range(len(BM25_TERMS))
            )
            > 0
        )
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(*keys)
        .limit(BM25_TOP)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
        )
    )


def _bm25_sql() -> str:
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> lower(x) = '{t}'))::BIGINT AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)::BIGINT AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    score_terms = " + ".join(
        f"""(ln((n_docs::DOUBLE - df{i}::DOUBLE + 0.5) /
      (df{i}::DOUBLE + 0.5) + 1.0) *
     (tf{i}::DOUBLE * {BM25_K1 + 1.0} /
      (tf{i}::DOUBLE + {BM25_K1} *
       ({1.0 - BM25_B} + {BM25_B} *
        (dl::DOUBLE / (sum_dl::DOUBLE / n_docs::DOUBLE))))))"""
        for i in range(len(BM25_TERMS))
    )
    any_tf = " + ".join(
        f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(BM25_TERMS))
    )
    return f"""
WITH d AS (
  SELECT doc_id,
    len(toks)::BIGINT AS dl,
    {tf_cols}
  FROM (SELECT doc_id, text,
        regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
),
stats AS (
  SELECT COUNT(*)::BIGINT AS n_docs, SUM(dl)::BIGINT AS sum_dl, {df_cols}
  FROM d
)
SELECT doc_id, score, rank FROM (
  SELECT doc_id, round({score_terms}, 6) AS score,
    ROW_NUMBER() OVER (ORDER BY round({score_terms}, 6) DESC, doc_id ASC)
      AS rank
  FROM d, stats
  WHERE {any_tf} > 0
) WHERE rank <= {BM25_TOP}
"""


TFIDF_TOP = 3


def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_TOP characteristic terms per document by tf-idf
    (idf = ln(N/df)).  Scale shape: explode -> one (doc, term)
    aggregate shuffle; document frequencies are a vocabulary-sized
    aggregate joined back on the term (broadcastable here, a plain
    shuffle join at 100 TB); ranking is one window pass per doc.
    Scores round to 6 dp before ranking with a term tie-break (the
    cross-engine float pattern used by BM25 and the cosine ranks)."""
    docs = fan_out(load_table(spark, sf_dir, "documents")).filter(
        F.trim(F.col("text")) != ""
    )
    terms = docs.select(
        "doc_id",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("term"),
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.round(
        F.col("tf").cast("double")
        * F.log(
            F.col("n_docs").cast("double") / F.col("df").cast("double")
        ),
        6,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", score.alias("tfidf"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TFIDF_TOP)
    )


_TFIDF_SQL = f"""
WITH terms AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents WHERE trim(text) <> ''
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (
  SELECT COUNT(*)::BIGINT AS n_docs FROM documents WHERE trim(text) <> ''
)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT doc_id, term,
    round(tf::DOUBLE * ln(n_docs::DOUBLE / df::DOUBLE), 6) AS tfidf,
    ROW_NUMBER() OVER (
      PARTITION BY doc_id
      ORDER BY round(tf::DOUBLE * ln(n_docs::DOUBLE / df::DOUBLE), 6) DESC,
               term ASC
    ) AS rank
  FROM tf JOIN df USING (term), n
) r
WHERE rank <= {TFIDF_TOP}
"""


# ---------------------------------------------------------------------------
# corpus curation pipeline — the end-to-end user story, composed from
# the primitives above in ONE linear scan + ONE groupBy: quality gate
# (token count), language gate (detected English), then exact-dedup
# representative selection per fingerprint.  This is the query a
# training-data pipeline actually runs; at 100 TB it is a scan with
# every expression in codegen followed by a single shuffle on the
# 60-bit fingerprint.
# ---------------------------------------------------------------------------

CURATE_MIN_TOKENS = 10
CURATE_LANG = "en"


def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        lang_id(F.col("text")).alias("detected_lang"),
        fingerprint("text").alias("fp"),
    )
    kept = d.filter(
        (F.col("n_tokens") >= CURATE_MIN_TOKENS)
        & (F.col("detected_lang") == CURATE_LANG)
    )
    return kept.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("dup_count"),
        F.min("n_tokens").alias("n_tokens"),
    )


def _curated_sql() -> str:
    score_exprs, pick = _sql_lang_parts()
    return f"""
WITH d AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
),
feat AS (
  SELECT doc_id,
    len(toks)::BIGINT AS n_tokens,
    {SQL_STABLE_HASH64.format(x=_SQL_NORM)} AS fp,
    {", ".join(score_exprs)}
  FROM d
),
kept AS (
  SELECT doc_id, n_tokens, fp FROM (
    SELECT *, {pick} AS detected_lang FROM feat
  )
  WHERE n_tokens >= {CURATE_MIN_TOKENS} AND detected_lang = '{CURATE_LANG}'
)
SELECT fp,
  MIN(doc_id) AS doc_id,
  COUNT(*) AS dup_count,
  MIN(n_tokens) AS n_tokens
FROM kept
GROUP BY fp
"""


# ---------------------------------------------------------------------------
# deterministic stratified sampling — class-balanced corpus sampling
# (e.g. cap the dominant language) the reproducible way: a document is
# kept iff pmod(stable_hash64(doc_id), 1000) < rate_permille(stratum).
# Hash-gate sampling is a pure row-local predicate: no shuffle, no RNG
# state, identical on any cluster/partitioning/replay, pushes after the
# scan, and (unlike df.sample) gives the oracle an exact twin.
# ---------------------------------------------------------------------------

# per-language keep rates in permille: downsample English (the majority
# class) to ~half, keep the rest whole
STRATA_PERMILLE = {"en": 500}
DEFAULT_PERMILLE = 1000


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    rates_permille: dict,
    default_permille: int = DEFAULT_PERMILLE,
    key_col: str = "doc_id",
) -> DataFrame:
    """Keep each row iff its deterministic hash gate clears its
    stratum's rate.  Composable with any upstream frame."""
    from ..functions.scalars import stable_hash64

    gate = F.pmod(
        stable_hash64(F.col(key_col).cast("string")), F.lit(1000)
    )
    rate = F.lit(default_permille)
    for stratum, permille in sorted(rates_permille.items()):
        rate = F.when(
            F.col(stratum_col) == stratum, F.lit(permille)
        ).otherwise(rate)
    return docs.filter(gate < rate)


WEIGHTED_K = 5


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample, k per source stratum — Efraimidis-
    Spirakis A-ES with the randomness replaced by the shared
    deterministic hash: u = (h+1)/2^60 in (0,1], and since
    u^(1/w) orders identically to ln(u)/w, the key is one ln + one
    divide (the libm boundary already load-bearing in BM25/TF-IDF).
    Heavier docs (weight = n_chars+1) win proportionally more seats.
    Row-local scoring + one per-stratum top-k window: at 100 TB this
    is a scan plus a TakeOrdered per stratum, no shuffle of the
    corpus beyond the k winners per partition.  Keys round to 9 dp
    before ranking with a doc_id tie-break (same cross-engine float
    pattern as every ranked score here)."""
    from pyspark.sql import Window

    from ..functions.scalars import stable_hash64

    docs = load_table(spark, sf_dir, "documents")
    u = (
        stable_hash64(F.col("doc_id").cast("string")).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 60))
    key = F.round(
        F.log(u) / (F.col("n_chars").cast("double") + F.lit(1.0)), 9
    )
    w = Window.partitionBy("source").orderBy(
        F.col("key_r").desc(), F.col("doc_id").asc()
    )
    return (
        docs.select("doc_id", "source",
                    (F.col("n_chars") + 1).alias("weight"),
                    key.alias("key_r"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= WEIGHTED_K)
    )


def _weighted_sql() -> str:
    h = SQL_STABLE_HASH64.format(x="doc_id::VARCHAR")
    key = (
        f"round(ln(({h}::DOUBLE + 1.0) / {float(1 << 60)}) /"
        f" (n_chars::DOUBLE + 1.0), 9)"
    )
    return f"""
SELECT doc_id, source, weight, key_r, rank FROM (
  SELECT doc_id, source, n_chars + 1 AS weight, {key} AS key_r,
    ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY {key} DESC, doc_id ASC) AS rank
  FROM documents
) r
WHERE rank <= {WEIGHTED_K}
"""


def sample_balanced_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate query: per-language document counts before/after the
    deterministic stratified gate — the class-rebalancing step of a
    training-data pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "lang", STRATA_PERMILLE)
    before = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_before")
    )
    after = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_after"))
    return before.join(after, "lang", "left").select(
        "lang",
        "n_before",
        F.coalesce("n_after", F.lit(0)).alias("n_after"),
    )


def _sample_sql() -> str:
    gate = SQL_STABLE_HASH64.format(x="doc_id::VARCHAR") + " % 1000"
    rate = f"{DEFAULT_PERMILLE}"
    for stratum, permille in sorted(STRATA_PERMILLE.items()):
        rate = f"CASE WHEN lang = '{stratum}' THEN {permille} ELSE {rate} END"
    return f"""
WITH kept AS (
  SELECT lang FROM documents WHERE ({gate}) < ({rate})
),
b AS (SELECT lang, COUNT(*)::BIGINT AS n_before FROM documents GROUP BY lang),
a AS (SELECT lang, COUNT(*)::BIGINT AS n_after FROM kept GROUP BY lang)
SELECT b.lang, b.n_before, COALESCE(a.n_after, 0) AS n_after
FROM b LEFT JOIN a USING (lang)
"""


# ---------------------------------------------------------------------------
# bigram language-model counts
# ---------------------------------------------------------------------------

BIGRAM_TOPK = 100


def _bigram_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) — the shared, cached bigram explode both LM
    operators build on (identical plan -> one cache-manager entry,
    the _token_frame pattern): tokenization and the narrow slice+zip
    adjacency run once per session."""
    return (
        docs.select(
            "doc_id", tokens(F.lower(F.col("text"))).alias("toks")
        )
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.expr(
                "explode(zip_with(slice(toks, 1, size(toks) - 1),"
                " slice(toks, 2, size(toks) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))) AS bg"
            ),
        )
        .select("doc_id", "bg.w1", "bg.w2")
        .cache()
    )


def bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top corpus bigrams with conditional probabilities — the count
    tables an n-gram LM (or a perplexity-based quality filter) trains
    from: (w1, w2, n_pair, n_prefix, p_cond, rank).

    Adjacency is materialized row-locally: the token array is zipped
    with its own 1-shift (slice+zip_with), so bigram generation is a
    NARROW explode — no window, no shuffle until the wordcount-shaped
    (w1, w2) aggregate, which map-side combines.  DuckDB twin uses
    lockstep unnest over the same two slices.  p_cond = n_pair /
    n_prefix is one double division of exact integers; ranking is
    count-desc with lexical tie-breaks through TakeOrdered."""
    from pyspark.sql import Window

    bg = _bigram_frame(load_table(spark, sf_dir, "documents")).select(
        "w1", "w2"
    )
    pc = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    )
    prefix = pc.groupBy("w1").agg(
        F.sum("n_pair").cast("long").alias("n_prefix")
    )
    keys = [F.col("n_pair").desc(), F.col("w1").asc(), F.col("w2").asc()]
    top = pc.join(prefix, "w1").orderBy(*keys).limit(BIGRAM_TOPK)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
    ).select(
        "w1", "w2", "n_pair", "n_prefix",
        (F.col("n_pair").cast("double") / F.col("n_prefix").cast("double"))
        .alias("p_cond"),
        "rank",
    )


_BIGRAM_SQL = f"""
WITH d AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 2
),
bg AS (
  SELECT unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM d
),
pc AS (
  SELECT w1, w2, COUNT(*)::BIGINT AS n_pair FROM bg GROUP BY w1, w2
),
prefix AS (
  SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_prefix FROM pc GROUP BY w1
)
SELECT w1, w2, n_pair, n_prefix,
  n_pair::DOUBLE / n_prefix::DOUBLE AS p_cond, rank
FROM (
  SELECT pc.w1, pc.w2, n_pair, n_prefix,
    ROW_NUMBER() OVER (
      ORDER BY n_pair DESC, pc.w1 ASC, pc.w2 ASC
    )::BIGINT AS rank
  FROM pc JOIN prefix ON pc.w1 = prefix.w1
) r
WHERE rank <= {BIGRAM_TOPK}
"""


# ---------------------------------------------------------------------------
# per-document surprisal under the corpus bigram LM (perplexity filter)
# ---------------------------------------------------------------------------


def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram surprisal -ln P(w2|w1) under the
    corpus's own bigram model — the CCNet-style perplexity signal that
    flags boilerplate (low surprisal) and gibberish (high): (doc_id,
    n_bigrams, avg_surprisal).

    Exactness: P = n_pair/n_prefix is one division of exact integers
    (identical bits cross-engine), ln matches libm bitwise, and the
    per-bigram surprisal is quantized to 1e-9 BIGINTs before the
    per-doc sum — the dsum discipline, so the parallel sum is
    order-free.  Self-scoring means every doc bigram exists in the
    count table: no smoothing branch.

    Scale shape: the count tables are wordcount aggregates; scoring is
    ONE equi-join keyed by (w1, w2) — both sides bucket on the bigram
    at 100 TB — and a final doc-keyed aggregate.  Nothing quadratic,
    no windows."""
    bg = _bigram_frame(load_table(spark, sf_dir, "documents"))
    pc = bg.select("w1", "w2").groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    )
    prefix = pc.groupBy("w1").agg(
        F.sum("n_pair").cast("long").alias("n_prefix")
    )
    model = pc.join(prefix, "w1")
    term_q = F.floor(
        -F.log(
            F.col("n_pair").cast("double") / F.col("n_prefix").cast("double")
        )
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(term_q).cast("long").alias("sq"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.col("sq").cast("double")
                / F.lit(1e9)
                / F.col("n_bigrams").cast("double")
            ).alias("avg_surprisal"),
        )
    )


_SURPRISAL_SQL = """
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
  WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 2
),
bg AS (
  SELECT doc_id, unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM d
),
pc AS (
  SELECT w1, w2, COUNT(*)::BIGINT AS n_pair FROM bg GROUP BY w1, w2
),
prefix AS (
  SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_prefix FROM pc GROUP BY w1
),
model AS (SELECT pc.w1, pc.w2, n_pair, n_prefix
          FROM pc JOIN prefix ON pc.w1 = prefix.w1)
SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
  CAST(SUM(CAST(FLOOR(-ln(n_pair::DOUBLE / n_prefix::DOUBLE) * 1e9 + 0.5)
                AS BIGINT)) AS BIGINT)::DOUBLE / 1e9 / COUNT(*)::DOUBLE
    AS avg_surprisal
FROM bg JOIN model ON bg.w1 = model.w1 AND bg.w2 = model.w2
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus novelty: per-document share of first-seen n-grams
# ---------------------------------------------------------------------------
#
# "How much does each document add?" — order the corpus by doc_id and
# credit each distinct word-3-gram shingle to the FIRST document that
# contains it; a document's novelty is the share of its shingles it
# introduced.  The diversity/yield metric behind "diminishing returns"
# curves when growing a training corpus.  Plan: one shingle explode,
# one window min per gram (single shuffle on the gram hash — uniform by
# construction), one per-doc aggregate.  Reads the dedup index's
# cached corpus_shingles (hashed shingles: equality-preserving, so
# counts are identical to the oracle's raw-string shingles — the
# cross-engine match doubles as a collision check, same argument as
# dedup._shingle_frame).


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import corpus_shingles

    sh = corpus_shingles(spark, sf_dir)
    # n_new per doc WITHOUT rejoining the exploded frame: min doc per
    # gram (map-side-combinable MIN — a window over gram would instead
    # SORT the whole exploded frame), then count grams per first-owner.
    # The first sweep measured the window version at 21x for 10x rows;
    # this shape is two hash aggregates, the second over |docs| rows.
    first_counts = (
        sh.select("doc_id", F.explode("toks").alias("gram"))
        .groupBy("gram")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    return (
        sh.select("doc_id", F.col("n").cast("long").alias("n_shingles"))
        .join(
            first_counts, F.col("doc_id") == F.col("first_doc"), "left"
        )
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
        .withColumn(
            "novelty",
            F.round(
                F.col("n_new").cast("double") / F.col("n_shingles"), 6
            ),
        )
    )


_NOVELTY_SQL = """
WITH words AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
  FROM documents
),
sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(w) - 1),
      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS toks
  FROM words WHERE len(w) >= 3
),
g AS (SELECT doc_id, unnest(toks) AS gram FROM sh),
f AS (
  SELECT doc_id,
    CASE WHEN MIN(doc_id) OVER (PARTITION BY gram) = doc_id
         THEN 1 ELSE 0 END AS new
  FROM g
)
SELECT doc_id,
  COUNT(*)::BIGINT AS n_shingles,
  CAST(SUM(new) AS BIGINT) AS n_new,
  ROUND(CAST(SUM(new) AS BIGINT)::DOUBLE / COUNT(*), 6) AS novelty
FROM f GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# language-ID confusion matrix (labeled vs detected)
# ---------------------------------------------------------------------------


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval layer over text_langid: (labeled, detected, n) cells — the
    detector's confusion matrix against the corpus labels.  One extra
    map-side-combined aggregate over the same scan; |langs|^2 cells."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(
            F.col("lang").alias("labeled_lang"),
            lang_id(F.col("text")).alias("detected_lang"),
        )
        .groupBy("labeled_lang", "detected_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("labeled_lang", "detected_lang")
    )


def _langid_confusion_sql() -> str:
    score_exprs, pick = _sql_lang_parts()
    return f"""
WITH d AS (
  SELECT doc_id, lang AS labeled_lang, {_SQL_TOKS} AS toks FROM documents
),
s AS (
  SELECT doc_id, labeled_lang, {", ".join(score_exprs)} FROM d
)
SELECT labeled_lang, {pick} AS detected_lang,
  COUNT(*)::BIGINT AS n_docs
FROM s
GROUP BY labeled_lang, detected_lang
ORDER BY labeled_lang, detected_lang
"""


# ---------------------------------------------------------------------------
# curation gate funnel: how many docs survive each filter stage
# ---------------------------------------------------------------------------
#
# Pipeline observability for pipeline_curated_corpus: the per-stage
# survival counts (total -> length gate -> language gate -> post-dedup
# representatives) in ONE conditional-aggregate pass + the dedup
# grouping the pipeline already does.  At 100 TB the stage counts are
# one map-side-combined aggregate to a single row.


def curation_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        lang_id(F.col("text")).alias("detected_lang"),
        fingerprint("text").alias("fp"),
    )
    len_ok = F.col("n_tokens") >= CURATE_MIN_TOKENS
    lang_ok = F.col("detected_lang") == CURATE_LANG
    # ONE aggregation pass (r13): the old two-arm shape (plain agg +
    # filtered fp-groupBy, crossJoined) evaluated the expensive per-doc
    # features — lang_id scoring, md5 fingerprint — twice, once per
    # arm.  count(DISTINCT when(gates, fp)) is the same post-gate
    # representative count (when() yields NULL on failing rows and
    # distinct-count ignores NULLs), computed in the same scan.
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(len_ok.cast("long")).cast("long").alias("n_len_ok"),
        F.sum((len_ok & lang_ok).cast("long"))
        .cast("long")
        .alias("n_lang_ok"),
        F.countDistinct(F.when(len_ok & lang_ok, F.col("fp")))
        .cast("long")
        .alias("n_after_dedup"),
    ).select(
        "n_total",
        "n_len_ok",
        "n_lang_ok",
        "n_after_dedup",
        F.round(
            F.col("n_after_dedup").cast("double")
            / F.col("n_total").cast("double"),
            6,
        ).alias("yield_rate"),
    )


def _gate_funnel_sql() -> str:
    score_exprs, pick = _sql_lang_parts()
    return f"""
WITH d AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
),
feat AS (
  SELECT doc_id,
    len(toks)::BIGINT AS n_tokens,
    {SQL_STABLE_HASH64.format(x=_SQL_NORM)} AS fp,
    {", ".join(score_exprs)}
  FROM d
),
flagged AS (
  SELECT *, {pick} AS detected_lang FROM feat
),
stage AS (
  SELECT COUNT(*)::BIGINT AS n_total,
    CAST(SUM(CASE WHEN n_tokens >= {CURATE_MIN_TOKENS} THEN 1 ELSE 0 END)
      AS BIGINT) AS n_len_ok,
    CAST(SUM(CASE WHEN n_tokens >= {CURATE_MIN_TOKENS}
                   AND detected_lang = '{CURATE_LANG}' THEN 1 ELSE 0 END)
      AS BIGINT) AS n_lang_ok
  FROM flagged
),
reps AS (
  SELECT COUNT(*)::BIGINT AS n_after_dedup FROM (
    SELECT fp FROM flagged
    WHERE n_tokens >= {CURATE_MIN_TOKENS}
      AND detected_lang = '{CURATE_LANG}'
    GROUP BY fp
  )
)
SELECT n_total, n_len_ok, n_lang_ok, n_after_dedup,
  ROUND(n_after_dedup::DOUBLE / n_total::DOUBLE, 6) AS yield_rate
FROM stage, reps
"""


# ---------------------------------------------------------------------------
# token-budget fill: highest-quality docs first until the budget
# ---------------------------------------------------------------------------
#
# "What fits in N training tokens?" — the curation planning query.
# Scale-honest shape: docs reduce to BOUNDED quality buckets (stopword
# ratio at 2 dp — <= 101 groups regardless of corpus size) with
# per-bucket token sums, the cumulative fill runs as one window over
# the bucket frame (metadata scale — never a per-doc global ranking),
# and the answer is bucket-granular: whole buckets are taken from the
# best down while the running total fits.  Cross-engine exactness:
# stopword_ratio is the text_stats formula (proven identical), its
# 2 dp rounding rides the F.round bridge, token counts are integers.

TOKEN_BUDGET = 100_000


def token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    qs = quality_stats(F.col("text"))
    d = docs.select(
        F.round(qs["stopword_ratio"], 2).alias("bucket"),
        qs["n_tokens"].alias("cost"),
    )
    per_bucket = d.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("cost").cast("long").alias("bucket_tokens"),
    )
    w = (
        Window.orderBy(F.col("bucket").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_bucket.select(
        "bucket",
        "n_docs",
        "bucket_tokens",
        F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
        F.sum("bucket_tokens").over(w).cast("long").alias("cum_tokens"),
    )
    return (
        cum.filter(F.col("cum_tokens") <= TOKEN_BUDGET)
        .agg(
            F.lit(TOKEN_BUDGET).cast("long").alias("token_budget"),
            F.max("cum_docs").cast("long").alias("n_docs_taken"),
            F.max("cum_tokens").cast("long").alias("n_tokens_taken"),
            F.min("bucket").alias("quality_cutoff"),
        )
    )


def _budget_sql() -> str:
    stop_ratio = (
        f"len(list_filter(toks, t -> list_contains({_SQL_EN}, lower(t))))::DOUBLE"
        " / (CASE WHEN len(toks) = 0 THEN 1 ELSE len(toks) END)"
    )
    return f"""
WITH d AS (
  SELECT ROUND({stop_ratio}, 2) AS bucket,
    len(toks)::BIGINT AS cost
  FROM (SELECT {_SQL_TOKS} AS toks FROM documents)
),
per_bucket AS (
  SELECT bucket, COUNT(*)::BIGINT AS n_docs,
    CAST(SUM(cost) AS BIGINT) AS bucket_tokens
  FROM d GROUP BY bucket
),
cum AS (
  SELECT bucket, n_docs, bucket_tokens,
    CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
    CAST(SUM(bucket_tokens) OVER w AS BIGINT) AS cum_tokens
  FROM per_bucket
  WINDOW w AS (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING)
)
SELECT {TOKEN_BUDGET}::BIGINT AS token_budget,
  CAST(MAX(cum_docs) AS BIGINT) AS n_docs_taken,
  CAST(MAX(cum_tokens) AS BIGINT) AS n_tokens_taken,
  MIN(bucket) AS quality_cutoff
FROM cum WHERE cum_tokens <= {TOKEN_BUDGET}
"""


# ---------------------------------------------------------------------------
# vocabulary growth curve (Heaps' law): vocab size vs corpus position
# ---------------------------------------------------------------------------
#
# How fast does the corpus stop yielding new words? — the
# diminishing-returns curve behind "is more data still adding
# vocabulary".  Naively this is an overlapping DISTINCT per checkpoint
# (quadratic); the scale shape reuses the first-occurrence insight
# from ngram_novelty: each distinct token is credited to the FIRST doc
# containing it (one map-side-combinable MIN per token), checkpoints
# bucket that first-doc id, and the curve is a cumulative sum over the
# BOUNDED checkpoint frame.  One explode + two aggregates + one tiny
# window, any corpus size.

VOCAB_CHECKPOINT_DOCS = 50  # checkpoint every N doc ids


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toked = docs.select(
        "doc_id",
        F.array_distinct(tokens(F.col("text"))).alias("toks"),
        token_count("text").alias("n_tokens"),
    )
    cp = (
        F.floor(F.col("doc_id") / VOCAB_CHECKPOINT_DOCS).cast("long") + 1
    ) * VOCAB_CHECKPOINT_DOCS
    # tokens-per-checkpoint (volume axis)
    vol = toked.groupBy(cp.alias("checkpoint")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    # new-vocab-per-checkpoint: distinct tokens first seen in the bucket
    firsts = (
        toked.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(
            (
                (
                    F.floor(
                        F.col("first_doc") / VOCAB_CHECKPOINT_DOCS
                    ).cast("long")
                    + 1
                )
                * VOCAB_CHECKPOINT_DOCS
            ).alias("checkpoint")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("new_vocab"))
    )
    w = Window.orderBy("checkpoint").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        vol.join(firsts, "checkpoint", "left")
        .select(
            "checkpoint",
            "n_docs",
            "n_tokens",
            F.coalesce("new_vocab", F.lit(0)).cast("long").alias("new_vocab"),
        )
        .select(
            "checkpoint",
            F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.sum("new_vocab").over(w).cast("long").alias("vocab_size"),
        )
        .orderBy("checkpoint")
    )


_VOCAB_SQL = f"""
WITH toked AS (
  SELECT doc_id, list_distinct({_SQL_TOKS}) AS toks,
    len({_SQL_TOKS})::BIGINT AS n_tokens
  FROM documents
),
vol AS (
  SELECT (doc_id // {VOCAB_CHECKPOINT_DOCS} + 1) * {VOCAB_CHECKPOINT_DOCS}
      AS checkpoint,
    COUNT(*)::BIGINT AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM toked GROUP BY checkpoint
),
firsts AS (
  SELECT (first_doc // {VOCAB_CHECKPOINT_DOCS} + 1) * {VOCAB_CHECKPOINT_DOCS}
      AS checkpoint,
    COUNT(*)::BIGINT AS new_vocab
  FROM (
    SELECT tok, MIN(doc_id) AS first_doc
    FROM (SELECT doc_id, unnest(toks) AS tok FROM toked)
    GROUP BY tok
  )
  GROUP BY checkpoint
)
SELECT checkpoint,
  CAST(SUM(n_docs) OVER w AS BIGINT) AS cum_docs,
  CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
  CAST(SUM(COALESCE(new_vocab, 0)) OVER w AS BIGINT) AS vocab_size
FROM vol LEFT JOIN firsts USING (checkpoint)
WINDOW w AS (ORDER BY checkpoint ROWS UNBOUNDED PRECEDING)
ORDER BY checkpoint
"""



# ---------------------------------------------------------------------------
# Zipf rank-frequency slope (corpus health diagnostic)
# ---------------------------------------------------------------------------
#
# Natural corpora follow freq ~ rank^-s with s ~ 1; a slope far off 1
# flags synthetic/templated/boilerplate-heavy data before it poisons a
# training mix.  Scale shape: wordcount aggregate (map-side combined)
# -> TakeOrdered top-ZIPF_TOP panel -> rank window over the BOUNDED
# panel (never over raw vocabulary) -> one OLS from exact integer
# sufficient statistics (ln values quantized to 1e-6 before summing,
# so both engines add the same integers in any order).

ZIPF_TOP = 200


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_terms, slope, intercept) of ln(freq) ~ ln(rank)
    over the top-ZIPF_TOP corpus terms."""
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(
            F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top = counts.orderBy(
        F.col("n").desc(), F.col("term").asc()
    ).limit(ZIPF_TOP)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("term").asc())
        ),
    )
    qx = F.floor(
        F.round(F.log(F.col("rank").cast("double")), 9) * 1e6 + 0.5
    ).cast("long")
    qy = F.floor(
        F.round(F.log(F.col("n").cast("double")), 9) * 1e6 + 0.5
    ).cast("long")
    st = ranked.select(
        qx.alias("qx"), qy.alias("qy")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("qx").cast("long").alias("sx"),
        F.sum("qy").cast("long").alias("sy"),
        F.sum(F.col("qx") * F.col("qx")).cast("long").alias("sxx"),
        F.sum(F.col("qx") * F.col("qy")).cast("long").alias("sxy"),
    )
    slope = (
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
    )
    return st.select(
        F.col("m").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (
                F.col("sy").cast("double") / 1e6
                - F.round(slope, 6) * (F.col("sx").cast("double") / 1e6)
            )
            / F.col("m").cast("double"),
            6,
        ).alias("intercept"),
    )


_ZIPF_SQL = f"""
WITH counts AS (
  SELECT unnest(
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
  ) AS term
  FROM documents
),
freq AS (
  SELECT term, COUNT(*)::BIGINT AS n FROM counts GROUP BY term
),
top AS (
  SELECT term, n FROM freq ORDER BY n DESC, term ASC LIMIT {ZIPF_TOP}
),
ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS rank
  FROM top
),
q AS (
  SELECT
    CAST(FLOOR(ROUND(ln(rank::DOUBLE), 9) * 1e6 + 0.5) AS BIGINT) AS qx,
    CAST(FLOOR(ROUND(ln(n::DOUBLE), 9) * 1e6 + 0.5) AS BIGINT) AS qy
  FROM ranked
),
st AS (
  SELECT COUNT(*)::BIGINT AS m, SUM(qx)::BIGINT AS sx,
    SUM(qy)::BIGINT AS sy, SUM(qx * qx)::BIGINT AS sxx,
    SUM(qx * qy)::BIGINT AS sxy
  FROM q
)
SELECT m AS n_terms,
  ROUND((m * sxy - sx * sy)::DOUBLE / (m * sxx - sx * sx)::DOUBLE, 6)
    AS slope,
  ROUND((sy::DOUBLE / 1e6
         - ROUND((m * sxy - sx * sy)::DOUBLE
                 / (m * sxx - sx * sx)::DOUBLE, 6)
           * (sx::DOUBLE / 1e6)) / m::DOUBLE, 6) AS intercept
FROM st
"""

# ---------------------------------------------------------------------------
# unigram entropy per source (mixture diversity diagnostic)
# ---------------------------------------------------------------------------
#
# H = ln(N) - (1/N) * sum c*ln(c): the per-term contributions are
# quantized to integers before the sum (the decimal-sum contract), so
# the aggregate is order-independent and exact cross-engine.  Shape:
# (source, term) wordcount -> source-grain aggregate; both map-side
# combinable, state is vocabulary-grain.


def unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_tokens, vocab_size, entropy_nats) per document
    source."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    counts = (
        docs.select(
            "source",
            F.explode(tokens(F.lower(F.col("text")))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    qcl = F.floor(
        F.col("c").cast("double")
        * F.round(F.log(F.col("c").cast("double")), 9)
        * 1e4
        + 0.5
    ).cast("long")
    per = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        F.sum(qcl).cast("long").alias("s"),
    )
    return per.select(
        "source",
        "n_tokens",
        "vocab_size",
        F.round(
            F.round(F.log(F.col("n_tokens").cast("double")), 9)
            - (F.col("s").cast("double") / 1e4)
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("entropy_nats"),
    ).orderBy("source")


_ENTROPY_SQL = """
WITH counts AS (
  SELECT source, term, COUNT(*)::BIGINT AS c
  FROM (
    SELECT source, unnest(
      CASE WHEN trim(text) = '' THEN []::VARCHAR[]
           ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
    ) AS term
    FROM documents
  )
  GROUP BY source, term
),
per AS (
  SELECT source, SUM(c)::BIGINT AS n_tokens,
    COUNT(*)::BIGINT AS vocab_size,
    SUM(CAST(FLOOR(c::DOUBLE * ROUND(ln(c::DOUBLE), 9) * 1e4 + 0.5)
             AS BIGINT))::BIGINT AS s
  FROM counts GROUP BY source
)
SELECT source, n_tokens, vocab_size,
  ROUND(ROUND(ln(n_tokens::DOUBLE), 9)
        - (s::DOUBLE / 1e4) / n_tokens::DOUBLE, 6) AS entropy_nats
FROM per
ORDER BY source
"""



# ---------------------------------------------------------------------------
# PMI collocations (phrase mining for tokenizer/vocab curation)
# ---------------------------------------------------------------------------
#
# Pointwise mutual information over adjacent pairs surfaces the
# collocations ("new york") worth merging before tokenizer training.
# Reuses the cached bigram frame (one narrow slice+zip explode per
# session, the _bigram_frame pattern); marginals are wordcount
# aggregates joined back on vocabulary-grain keys (unhinted — vocab
# scales with corpus); ranking is TakeOrdered over the count-gated
# pair set.  PMI = ln(n_pair * N / (c1 * c2)) on exact integers,
# rounded to 6 dp for the cross-engine match.

PMI_MIN_COUNT = 5
PMI_TOPK = 100


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w1, w2, n_pair, c1, c2, pmi, rank) — top collocations by PMI
    among pairs seen >= PMI_MIN_COUNT times."""
    from pyspark.sql import Window

    bg = _bigram_frame(load_table(spark, sf_dir, "documents")).select(
        "w1", "w2"
    )
    pc = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    )
    c1 = pc.groupBy("w1").agg(F.sum("n_pair").cast("long").alias("c1"))
    c2 = pc.groupBy("w2").agg(F.sum("n_pair").cast("long").alias("c2"))
    total = pc.agg(F.sum("n_pair").cast("long").alias("n_total"))
    pmi = F.round(
        F.log(
            (F.col("n_pair") * F.col("n_total")).cast("double")
            / (F.col("c1") * F.col("c2")).cast("double")
        ),
        6,
    )
    keys = [
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc(),
    ]
    top = (
        pc.filter(F.col("n_pair") >= PMI_MIN_COUNT)
        .join(c1, "w1")
        .join(c2, "w2")
        .join(F.broadcast(total))  # single-row corpus total
        .withColumn("pmi", pmi)
        .orderBy(*keys)
        .limit(PMI_TOPK)
    )
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
    ).select("w1", "w2", "n_pair", "c1", "c2", "pmi", "rank")


_PMI_SQL = f"""
WITH d AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
  WHERE len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 2
),
bg AS (
  SELECT unnest(toks[1:len(toks) - 1]) AS w1,
         unnest(toks[2:len(toks)]) AS w2
  FROM d
),
pc AS (
  SELECT w1, w2, COUNT(*)::BIGINT AS n_pair FROM bg GROUP BY w1, w2
),
m1 AS (SELECT w1, SUM(n_pair)::BIGINT AS c1 FROM pc GROUP BY w1),
m2 AS (SELECT w2, SUM(n_pair)::BIGINT AS c2 FROM pc GROUP BY w2),
t AS (SELECT SUM(n_pair)::BIGINT AS n_total FROM pc),
scored AS (
  SELECT w1, w2, n_pair, c1, c2,
    ROUND(ln((n_pair * n_total)::DOUBLE / (c1 * c2)::DOUBLE), 6) AS pmi
  FROM pc JOIN m1 USING (w1) JOIN m2 USING (w2), t
  WHERE n_pair >= {PMI_MIN_COUNT}
),
top AS (
  SELECT * FROM scored
  ORDER BY pmi DESC, w1 ASC, w2 ASC
  LIMIT {PMI_TOPK}
)
SELECT w1, w2, n_pair, c1, c2, pmi,
  ROW_NUMBER() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC)::BIGINT AS rank
FROM top
"""



# ---------------------------------------------------------------------------
# hashing-trick features (fixed-width bag-of-words without a vocabulary)
# ---------------------------------------------------------------------------
#
# The feature-hashing vectorizer (Weinberger et al. 2009; Spark's own
# HashingTF): term -> bucket = hash mod D, count per (doc, bucket) —
# a bag-of-words matrix whose width is FIXED at D regardless of
# vocabulary growth, so the downstream model never needs a vocabulary
# broadcast.  Signed variant (sign from a second hash bit) keeps the
# inner-product unbiased.  Pure wordcount shape: explode -> (doc,
# bucket) map-side-combined aggregate; the shared md5 hash keeps both
# engines' buckets identical.

HASH_FEATURE_DIM = 32


def hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bucket, tf, signed_tf) — hashed bag-of-words rows."""
    from ..functions.scalars import stable_hash64

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    terms = docs.select(
        "doc_id",
        F.explode(tokens(F.lower(F.col("text")))).alias("term"),
    )
    hashed = terms.select(
        "doc_id", stable_hash64(F.col("term")).alias("h")
    )
    bucket = F.pmod(F.col("h"), F.lit(HASH_FEATURE_DIM)).cast("long")
    # sign bit via exact integer DIV (ADVICE r4: float `/` rounds the
    # 60-bit hash above 2^53, collapsing the parity bit to 0 and
    # biasing the signed inner product)
    sign = F.when(
        F.pmod(F.expr(f"h DIV {HASH_FEATURE_DIM}"), 2) == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        hashed.select(
            "doc_id", bucket.alias("bucket"), sign.alias("sgn")
        )
        .groupBy("doc_id", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.sum("sgn").cast("long").alias("signed_tf"),
        )
        .orderBy("doc_id", "bucket")
    )


_HASH_FEATURES_SQL = f"""
WITH terms AS (
  SELECT doc_id, unnest(
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
  ) AS term
  FROM documents
),
h AS (
  SELECT doc_id,
    {SQL_STABLE_HASH64.format(x='term')} AS hv
  FROM terms
)
SELECT doc_id,
  (hv % {HASH_FEATURE_DIM} + {HASH_FEATURE_DIM})
    % {HASH_FEATURE_DIM} AS bucket,
  COUNT(*)::BIGINT AS tf,
  SUM(CASE WHEN ((hv // {HASH_FEATURE_DIM}) % 2 + 2) % 2 = 0
           THEN 1 ELSE -1 END)::BIGINT AS signed_tf
FROM h
GROUP BY doc_id, bucket
ORDER BY doc_id, bucket
"""


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010)
# ---------------------------------------------------------------------------
#
# Rapid Automatic Keyword Extraction: split each document into
# candidate phrases at stopwords (gaps-and-islands over the token
# positions — windows partitioned by doc, never global), score each
# word w as degree(w)/freq(w) over the whole corpus (degree = sum of
# lengths of phrases containing w — co-occurrence credit; freq =
# occurrence count; both VOCABULARY-grain aggregates), then score a
# phrase as the sum of its member word scores and keep each document's
# best phrase.  Word scores are quantized to 1e-6 BIGINTs before the
# per-phrase sum so the float never meets shuffle order.

_RAKE_STOP = LANG_MARKERS["en"]


def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, top_phrase, phrase_score, n_phrases) — each document's
    highest-scoring RAKE candidate phrase (ties -> earliest phrase)."""
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = tokens(F.lower(F.col("text")))
    pos = (
        docs.filter(F.trim(F.col("text")) != "")
        .select("doc_id", F.posexplode(toks).alias("pos", "term"))
        .filter(~F.col("term").isin(*_RAKE_STOP))
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    ph = pos.withColumn(
        "island", F.col("pos") - F.row_number().over(wd)
    )
    # corpus-wide word stats need each occurrence's phrase length first
    plen = ph.withColumn(
        "plen",
        F.count(F.lit(1)).over(
            Window.partitionBy("doc_id", "island")
        ),
    )
    wstats = plen.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    scored = plen.join(wstats, "term").withColumn(
        "wscore_q",
        F.floor(
            F.col("degree").cast("double")
            / F.col("freq").cast("double")
            * 1000000.0
            + F.lit(0.5)
        ).cast("long"),
    )
    phrases = scored.groupBy("doc_id", "island").agg(
        F.sum("wscore_q").alias("score_q"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "term"))
                ),
                lambda x: x["term"],
            ),
            " ",
        ).alias("phrase"),
    )
    # winner per doc as min(struct(-score, island, ...)): identical to
    # row_number(1) over (score DESC, island ASC) — score_q > 0 so the
    # negation is safe in a long — but partial-aggregable: no per-doc
    # sort, no second count window, one exchange of partial rows (r13)
    agg = phrases.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("score_q")).cast("long").alias("negs"),
                F.col("island").alias("island"),
                F.col("score_q").alias("score_q"),
                F.col("phrase").alias("phrase"),
            )
        ).alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_phrases"),
    )
    return (
        agg.select(
            "doc_id",
            F.col("m.phrase").alias("top_phrase"),
            F.round(
                F.col("m.score_q").cast("double") / F.lit(1000000.0), 6
            ).alias("phrase_score"),
            "n_phrases",
        )
        .orderBy("doc_id")
    )


def _rake_sql() -> str:
    stop_list = ", ".join(f"'{s}'" for s in _RAKE_STOP)
    return f"""
WITH pos AS (
  SELECT doc_id, u.i::BIGINT - 1 AS pos, toks[u.i::INT] AS term
  FROM (
    SELECT doc_id,
      regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
    FROM documents WHERE trim(text) <> ''
  ), UNNEST(range(1, len(toks) + 1)) AS u(i)
  WHERE toks[u.i::INT] NOT IN ({stop_list})
),
ph AS (
  SELECT doc_id, pos, term,
    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM pos
),
plen AS (
  SELECT doc_id, pos, term, island,
    COUNT(*) OVER (PARTITION BY doc_id, island) AS plen
  FROM ph
),
wstats AS (
  SELECT term, COUNT(*)::BIGINT AS freq,
    CAST(SUM(plen) AS BIGINT) AS degree
  FROM plen GROUP BY term
),
scored AS (
  SELECT p.doc_id, p.pos, p.term, p.island,
    CAST(FLOOR(w.degree::DOUBLE / w.freq::DOUBLE * 1000000.0 + 0.5)
         AS BIGINT) AS wscore_q
  FROM plen p JOIN wstats w USING (term)
),
phrases AS (
  SELECT doc_id, island,
    CAST(SUM(wscore_q) AS BIGINT) AS score_q,
    string_agg(term, ' ' ORDER BY pos) AS phrase
  FROM scored GROUP BY doc_id, island
),
r AS (
  SELECT doc_id, phrase, score_q, island,
    ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY score_q DESC, island ASC) AS rn,
    COUNT(*) OVER (PARTITION BY doc_id) AS n_phrases
  FROM phrases
)
SELECT doc_id, phrase AS top_phrase,
  ROUND(score_q::DOUBLE / 1000000.0, 6) AS phrase_score,
  n_phrases::BIGINT AS n_phrases
FROM r WHERE rn = 1
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# readability scoring — Flesch reading ease + Flesch-Kincaid grade
# ---------------------------------------------------------------------------
#
# The classic curation quality signal text_stats doesn't cover:
# sentence-length and syllable-density readability.  Deterministic
# cross-engine recipe: words = the shared whitespace tokenizer,
# sentences = count of [.!?]+ runs (min 1), syllables = per-word
# vowel-group count [aeiouy]+ (min 1 per word — the standard
# heuristic).  All three are exact integers; the two scores are fixed
# double formulas over their ratios, quantized to 6 dp.  Row-local
# (one scan, no shuffle) — codegen regexp work, linear at any scale.


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllables, flesch_q,
    fk_grade_q) per non-empty document."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id", "text", tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    syl = F.aggregate(
        F.col("toks"),
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.greatest(
            F.lit(1),
            F.size(
                F.regexp_extract_all(F.lower(t), F.lit("[aeiouy]+"), 0)
            ),
        ).cast("long"),
    )
    sents = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)),
    ).cast("long")
    m = d.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        sents.alias("n_sentences"),
        syl.alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast(
        "double"
    )
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast(
        "double"
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch_q"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade_q"),
    )


_READABILITY_SQL = f"""
WITH d AS (
  SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
  WHERE len({_SQL_TOKS}) > 0
),
m AS (
  SELECT doc_id,
    len(toks)::BIGINT AS n_words,
    greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT
      AS n_sentences,
    list_sum(list_transform(toks, t ->
      greatest(1, len(regexp_extract_all(lower(t), '[aeiouy]+')))
    ))::BIGINT AS n_syllables
  FROM d
)
SELECT doc_id, n_words, n_sentences, n_syllables,
  round(206.835 - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
        - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE), 6) AS flesch_q,
  round(0.39 * (n_words::DOUBLE / n_sentences::DOUBLE)
        + 11.8 * (n_syllables::DOUBLE / n_words::DOUBLE) - 15.59, 6)
    AS fk_grade_q
FROM m
"""


# ---------------------------------------------------------------------------
# winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003 —
# the MOSS local fingerprinting algorithm; public paper)
# ---------------------------------------------------------------------------
#
# The guarantee text_fingerprint (whole-doc hash) can't give: any
# shared substring of >= K + W - 1 tokens between two documents shares
# at least one SELECTED fingerprint — the primitive behind
# plagiarism / verbatim-overlap detection at sub-document grain,
# with ~2/(W+1) of the k-gram hashes kept instead of all of them.
#
# Recipe (both engines, bit-identical): K-token gram hashes via the
# shared stable md5 hash; per window of W consecutive gram hashes
# select the minimum, tie broken to the RIGHTMOST minimal position
# (the paper's robust-winnowing tie rule, made deterministic); distinct
# (pos, fp) selections survive.  Row-local array work — one scan, no
# shuffle, linear at any scale; the selected-fingerprint stream is
# what an index or an incremental-dedup join consumes downstream.

WINNOW_K, WINNOW_W = 5, 4


def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, fp) — winnowing-selected fingerprints per document
    with >= K+W-1 tokens; pos is the 1-based gram index."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = docs.select("doc_id", words.alias("wds")).filter(
        F.size("wds") >= WINNOW_K + WINNOW_W - 1
    )
    gram_cols = ", ".join(
        f"element_at(wds, i + {j})" for j in range(WINNOW_K)
    )
    h_expr = (
        f"transform(sequence(1, size(wds) - {WINNOW_K - 1}), i -> "
        f"CAST(conv(substring(md5(concat_ws(' ', {gram_cols})), 1, 15), "
        f"16, 10) AS BIGINT))"
    )
    win = f"slice(h, i, {WINNOW_W})"
    sel_expr = (
        f"transform(sequence(1, size(h) - {WINNOW_W - 1}), i -> "
        f"named_struct("
        f"'pos', CAST(i + {WINNOW_W} - array_position(reverse({win}), "
        f"array_min({win})) AS BIGINT), "
        f"'fp', array_min({win})))"
    )
    return (
        d.withColumn("h", F.expr(h_expr))
        .select("doc_id", F.explode(F.expr(sel_expr)).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"),
                F.col("s.fp").alias("fp"))
        .distinct()
        .orderBy("doc_id", "pos")
    )


def _winnowing_sql() -> str:
    k, w = WINNOW_K, WINNOW_W
    wds = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    gram = "concat_ws(' ', " + ", ".join(
        f"wds[i + {j}]" for j in range(k)
    ) + ")"
    sl = f"list_slice(h, i, i + {w - 1})"
    return f"""
WITH d AS (
  SELECT doc_id, {wds} AS wds FROM documents
  WHERE len({wds}) >= {k + w - 1}
),
g AS (
  SELECT doc_id, list_transform(range(1, len(wds) - {k - 1} + 1), i ->
    ('0x' || substr(md5({gram}), 1, 15))::BIGINT) AS h
  FROM d
),
s AS (
  SELECT doc_id,
    unnest(list_transform(range(1, len(h) - {w - 1} + 1), i ->
      struct_pack(
        pos := (i + {w} - list_position(list_reverse({sl}),
                                        list_min({sl})))::BIGINT,
        fp := list_min({sl})
      ))) AS sel
  FROM g
)
SELECT DISTINCT doc_id, sel.pos AS pos, sel.fp AS fp
FROM s ORDER BY doc_id, pos
"""


# ---------------------------------------------------------------------------
# corpus keyness — Dunning log-likelihood ratio (G²) between slices
# ---------------------------------------------------------------------------
#
# Which terms are statistically OVER-represented in one corpus slice vs
# the rest (Dunning 1993, "Accurate Methods for the Statistics of
# Surprise and Coincidence")?  The standard corpus-comparison tool for
# mixing/contamination decisions that raw frequency ratios get wrong on
# rare terms.  Slice = lang KEYNESS_LANG vs all other langs.
#
#   G² = 2 * [ a·ln(a/E_a) + b·ln(b/E_b) ],  E_a = N_a(a+b)/N,
#   E_b = N_b(a+b)/N,  with x·ln(x/E) := 0 when x = 0.
#
# Scale shape: one token-grain groupBy producing (term, a, b) — the
# same shuffle as a word count; the (N_a, N_b) totals are ONE broadcast
# row; G² itself is a row-local expression over exact BIGINT counts, so
# there is no float aggregation anywhere.  Cross-engine determinism:
# every ln() is rounded to 9 dp before use (entropy-op convention —
# engine log ulp differences vanish), all other inputs are exact
# integers, and the identical IEEE expression tree yields identical
# doubles; final score rounded to 6 dp with a term tie-break.

KEYNESS_LANG = "en"
KEYNESS_MIN_COUNT = 5
KEYNESS_TOPK = 50


def keyness_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top KEYNESS_TOPK terms by Dunning G² keyness of lang
    KEYNESS_LANG vs the rest: (term, target_count, rest_count, g2,
    rank)."""
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tc = (
        docs.select(
            (F.col("lang") == KEYNESS_LANG).alias("is_t"),
            F.explode(tokens(F.lower(F.col("text")))).alias("term"),
        )
        .groupBy("term")
        .agg(
            F.sum(F.col("is_t").cast("long")).cast("long").alias("a"),
            F.sum((~F.col("is_t")).cast("long")).cast("long").alias("b"),
        )
        .filter(F.col("a") + F.col("b") >= KEYNESS_MIN_COUNT)
    )
    tot = tc.agg(
        F.sum("a").cast("long").alias("na"), F.sum("b").cast("long").alias("nb")
    )
    d = tc.crossJoin(F.broadcast(tot))
    af, bf = F.col("a").cast("double"), F.col("b").cast("double")
    naf, nbf = F.col("na").cast("double"), F.col("nb").cast("double")
    nf = naf + nbf
    ea = naf * (af + bf) / nf
    eb = nbf * (af + bf) / nf

    def _ln9(c):
        return F.round(F.log(c), 9)

    term_a = F.when(F.col("a") > 0, af * (_ln9(af) - _ln9(ea))).otherwise(0.0)
    term_b = F.when(F.col("b") > 0, bf * (_ln9(bf) - _ln9(eb))).otherwise(0.0)
    keys = [F.col("g2").desc(), F.col("term").asc()]
    return (
        d.select(
            "term",
            F.col("a").alias("target_count"),
            F.col("b").alias("rest_count"),
            F.round(2.0 * (term_a + term_b), 6).alias("g2"),
        )
        .orderBy(*keys)
        .limit(KEYNESS_TOPK)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
        )
    )


_KEYNESS_SQL = f"""
WITH tc AS (
  SELECT term,
    CAST(SUM(CASE WHEN lang = '{KEYNESS_LANG}' THEN 1 ELSE 0 END) AS BIGINT)
      AS a,
    CAST(SUM(CASE WHEN lang = '{KEYNESS_LANG}' THEN 0 ELSE 1 END) AS BIGINT)
      AS b
  FROM (
    SELECT lang, unnest(
      CASE WHEN trim(text) = '' THEN []::VARCHAR[]
           ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
    ) AS term
    FROM documents
  )
  GROUP BY term
  HAVING a + b >= {KEYNESS_MIN_COUNT}
),
tot AS (
  SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb FROM tc
),
scored AS (
  SELECT term, a AS target_count, b AS rest_count,
    ROUND(2.0 * (
      CASE WHEN a > 0 THEN a::DOUBLE * (ROUND(ln(a::DOUBLE), 9)
        - ROUND(ln(na::DOUBLE * (a + b)::DOUBLE
                   / (na::DOUBLE + nb::DOUBLE)), 9)) ELSE 0.0 END
      + CASE WHEN b > 0 THEN b::DOUBLE * (ROUND(ln(b::DOUBLE), 9)
        - ROUND(ln(nb::DOUBLE * (a + b)::DOUBLE
                   / (na::DOUBLE + nb::DOUBLE)), 9)) ELSE 0.0 END
    ), 6) AS g2
  FROM tc CROSS JOIN tot
)
SELECT term, target_count, rest_count, g2,
  ROW_NUMBER() OVER (ORDER BY g2 DESC, term ASC)::BIGINT AS rank
FROM scored
ORDER BY g2 DESC, term ASC
LIMIT {KEYNESS_TOPK}
"""


# ---------------------------------------------------------------------------
# source vocabulary overlap — pairwise Jaccard of source vocabularies
# ---------------------------------------------------------------------------
#
# Corpus-composition diagnostic for mixing decisions: how much does
# each pair of sources share VOCABULARY (not documents — that is the
# dedup family's job)?  Near-identical vocabularies mean the sources
# are redundant for coverage; disjoint ones mean dropping either loses
# domain.  Shape at 100 TB: distinct (source, term) is one token-grain
# dedup shuffle; the pairwise intersection is an equi-join on term —
# bounded by Σ_term df(term)² which is small because df ≤ n_sources
# (a 20-source corpus caps each term's contribution at 190 pairs) —
# never a document-grain cross join.  All counts exact BIGINT; the
# single final division rounds to 6 dp.


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src1, src2, common, vocab1, vocab2, jaccard) for every source
    pair with at least one shared term."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    vocab = (
        docs.select(
            "source", F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vsz")
    )
    v2 = vocab.select(F.col("source").alias("source2"), "term")
    common = (
        vocab.join(v2, ["term"])
        .filter(F.col("source") < F.col("source2"))
        .groupBy("source", "source2")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    s1 = sizes.select(F.col("source").alias("source"), F.col("vsz").alias("vocab1"))
    s2 = sizes.select(
        F.col("source").alias("source2"), F.col("vsz").alias("vocab2")
    )
    return (
        common.join(F.broadcast(s1), "source")
        .join(F.broadcast(s2), "source2")
        .select(
            F.col("source").alias("src1"),
            F.col("source2").alias("src2"),
            "common",
            "vocab1",
            "vocab2",
            F.round(
                F.col("common").cast("double")
                / (F.col("vocab1") + F.col("vocab2") - F.col("common"))
                .cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src1", "src2")
    )


_VOCAB_OVERLAP_SQL = """
WITH vocab AS (
  SELECT DISTINCT source, term
  FROM (
    SELECT source, unnest(
      CASE WHEN trim(text) = '' THEN []::VARCHAR[]
           ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
    ) AS term
    FROM documents
  )
),
sizes AS (
  SELECT source, COUNT(*)::BIGINT AS vsz FROM vocab GROUP BY source
),
common AS (
  SELECT v1.source AS src1, v2.source AS src2, COUNT(*)::BIGINT AS common
  FROM vocab v1 JOIN vocab v2
    ON v1.term = v2.term AND v1.source < v2.source
  GROUP BY 1, 2
)
SELECT src1, src2, common, s1.vsz AS vocab1, s2.vsz AS vocab2,
  ROUND(common::DOUBLE / (s1.vsz + s2.vsz - common)::DOUBLE, 6) AS jaccard
FROM common
JOIN sizes s1 ON common.src1 = s1.source
JOIN sizes s2 ON common.src2 = s2.source
ORDER BY src1, src2
"""


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence — how far is each source from the corpus?
# ---------------------------------------------------------------------------
#
# The mixture-weight diagnostic: JS(p_source || q_corpus) over unigram
# distributions — bounded [0, ln2], symmetric, defined even where
# supports differ (KL is not).  Terms the source never uses contribute
# in closed form: Σ_{t∉S} ½·q·ln2 = ½·ln2·(1 − coverage), so only the
# source's OWN vocabulary cells are materialized — the term-grain join
# is bounded by Σ_s |vocab_s|, never |vocab| × |sources|.
# Determinism: per-cell contributions quantized to 1e-12 BIGINTs
# (ln rounded 9 dp), coverage exact, ln2 a shared 9-dp literal.

_LN2_9DP = 0.693147181


def js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, vocab_size, coverage, js_divergence) vs the whole
    corpus unigram distribution, in nats."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("term")
    )
    counts = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    gl = counts.groupBy("term").agg(F.sum("c").cast("long").alias("g"))
    ns = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("ns"),
        F.count(F.lit(1)).cast("long").alias("vsz"),
    )
    nn = gl.agg(F.sum("g").cast("long").alias("n"))
    j = (
        counts.join(gl, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nn))
    )
    p = F.col("c").cast("double") / F.col("ns").cast("double")
    q = F.col("g").cast("double") / F.col("n").cast("double")
    m = (p + q) / 2.0
    contrib = 0.5 * p * F.round(F.log(p / m), 9) + 0.5 * q * F.round(
        F.log(q / m), 9
    )
    qterm = F.floor(contrib * 1e12 + 0.5).cast("long")
    g2 = j.groupBy("source").agg(
        F.max("vsz").alias("vocab_size"),
        F.sum(qterm).cast("long").alias("s"),
        F.sum("g").cast("long").alias("cov_g"),
        F.max("n").alias("n"),
    )
    cover = F.col("cov_g").cast("double") / F.col("n").cast("double")
    js = F.col("s").cast("double") / 1e12 + 0.5 * F.lit(_LN2_9DP) * (
        1.0 - cover
    )
    return g2.select(
        "source",
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.round(cover, 6).alias("coverage"),
        F.round(js, 6).alias("js_divergence"),
    ).orderBy("source")


_JS_SQL = f"""
WITH tok AS (
  SELECT source, unnest(
    CASE WHEN trim(text) = '' THEN []::VARCHAR[]
         ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
  ) AS term
  FROM documents
),
counts AS (
  SELECT source, term, COUNT(*)::BIGINT AS c FROM tok GROUP BY 1, 2
),
gl AS (SELECT term, CAST(SUM(c) AS BIGINT) AS g FROM counts GROUP BY 1),
ns AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS ns, COUNT(*)::BIGINT AS vsz
  FROM counts GROUP BY 1
),
nn AS (SELECT CAST(SUM(g) AS BIGINT) AS n FROM gl),
terms AS (
  SELECT counts.source, vsz, g, n,
    CAST(FLOOR((
      0.5 * (c::DOUBLE / ns::DOUBLE)
        * ROUND(ln((c::DOUBLE / ns::DOUBLE)
            / ((c::DOUBLE / ns::DOUBLE + g::DOUBLE / n::DOUBLE) / 2.0)), 9)
      + 0.5 * (g::DOUBLE / n::DOUBLE)
        * ROUND(ln((g::DOUBLE / n::DOUBLE)
            / ((c::DOUBLE / ns::DOUBLE + g::DOUBLE / n::DOUBLE) / 2.0)), 9)
    ) * 1e12 + 0.5) AS BIGINT) AS qterm
  FROM counts
  JOIN gl USING (term)
  JOIN ns ON counts.source = ns.source
  CROSS JOIN nn
)
SELECT source, MAX(vsz)::BIGINT AS vocab_size,
  ROUND(CAST(SUM(g) AS BIGINT)::DOUBLE / MAX(n)::DOUBLE, 6) AS coverage,
  ROUND(CAST(SUM(qterm) AS BIGINT)::DOUBLE / 1e12
    + 0.5 * {_LN2_9DP} * (1.0 - CAST(SUM(g) AS BIGINT)::DOUBLE
                          / MAX(n)::DOUBLE), 6) AS js_divergence
FROM terms GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# term burstiness — Fano factor of per-document term counts
# ---------------------------------------------------------------------------
#
# Church & Gale's burstiness observation: content words arrive in
# bursts (variance ≫ mean across documents) while function words are
# Poisson-ish (Fano ≈ 1).  The Fano factor F = var/mean over ALL
# documents (zeros included) separates topical terms from glue — the
# screen a stopword-list builder or a TF-IDF sanity check runs.  Zeros
# never materialize: with T = Σc, S2 = Σc² over OCCURRING docs and N
# total docs,  F = (N·S2 - T²) / (N·T)  exactly.  Shape: one
# (term, doc) count then a term-grain aggregate — word-count shuffles;
# N is one broadcast row; the score is a row-local double from exact
# BIGINTs (S2 ≤ Σ dl·c stays BIGINT at this corpus; DECIMAL at bigger
# grains).

BURST_MIN_COUNT = 20
BURST_TOPK = 50


def term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top BURST_TOPK terms by Fano factor: (term, total_count,
    doc_freq, fano, rank)."""
    from pyspark.sql import Window

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    per_doc = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_term = per_doc.groupBy("term").agg(
        F.sum("c").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    ).filter(F.col("t") >= BURST_MIN_COUNT)
    j = per_term.crossJoin(F.broadcast(n_docs))
    nd = F.col("nd").cast("double")
    td = F.col("t").cast("double")
    s2d = F.col("s2").cast("double")
    fano = (nd * s2d - td * td) / (nd * td)
    keys = [F.col("fano").desc(), F.col("term").asc()]
    return (
        j.select(
            "term",
            F.col("t").alias("total_count"),
            F.col("df").alias("doc_freq"),
            F.round(fano, 6).alias("fano"),
        )
        .orderBy(*keys)
        .limit(BURST_TOPK)
        .withColumn(
            "rank", F.row_number().over(Window.orderBy(*keys)).cast("long")
        )
    )


_BURST_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, term, COUNT(*)::BIGINT AS c
  FROM (
    SELECT doc_id, unnest(
      CASE WHEN trim(text) = '' THEN []::VARCHAR[]
           ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END
    ) AS term
    FROM documents
  )
  GROUP BY 1, 2
),
per_term AS (
  SELECT term, CAST(SUM(c) AS BIGINT) AS t, COUNT(*)::BIGINT AS df,
    CAST(SUM(c * c) AS BIGINT) AS s2
  FROM per_doc GROUP BY term
  HAVING CAST(SUM(c) AS BIGINT) >= {BURST_MIN_COUNT}
),
nd AS (SELECT COUNT(*)::BIGINT AS nd FROM documents),
scored AS (
  SELECT term, t AS total_count, df AS doc_freq,
    ROUND((nd::DOUBLE * s2::DOUBLE - t::DOUBLE * t::DOUBLE)
          / (nd::DOUBLE * t::DOUBLE), 6) AS fano
  FROM per_term CROSS JOIN nd
)
SELECT term, total_count, doc_freq, fano,
  ROW_NUMBER() OVER (ORDER BY fano DESC, term ASC)::BIGINT AS rank
FROM scored
ORDER BY fano DESC, term ASC
LIMIT {BURST_TOPK}
"""


QUERIES = {
    "text_readability": Query(text_readability, _READABILITY_SQL),
    "text_winnowing": Query(text_winnowing, _winnowing_sql()),
    "text_vocab_growth": Query(vocab_growth, _VOCAB_SQL),
    "curation_token_budget": Query(token_budget_fill, _budget_sql()),
    "text_langid_confusion": Query(langid_confusion, _langid_confusion_sql()),
    "curation_gate_funnel": Query(curation_gate_funnel, _gate_funnel_sql()),
    "text_ngram_novelty": Query(ngram_novelty, _NOVELTY_SQL),
    "text_stats": Query(text_stats, _STATS_SQL),
    "text_zipf_slope": Query(zipf_slope, _ZIPF_SQL),
    "text_pmi_collocations": Query(pmi_collocations, _PMI_SQL),
    "text_hash_features": Query(hash_features, _HASH_FEATURES_SQL),
    "text_rake_keywords": Query(rake_keywords, _rake_sql()),
    "text_unigram_entropy": Query(unigram_entropy, _ENTROPY_SQL),
    "text_langid": Query(text_langid, _langid_sql()),
    "text_fingerprint": Query(text_fingerprint, _FP_SQL),
    "text_bm25": Query(text_bm25, _bm25_sql()),
    "text_tfidf_topterms": Query(text_tfidf_topterms, _TFIDF_SQL),
    # the curation family rides this module's cached token stats
    "pipeline_curated_corpus": Query(
        curated_corpus, _curated_sql(), family="curation"
    ),
    # the samplers share the text family's token frame
    "sample_stratified": Query(
        sample_balanced_corpus, _sample_sql(), family="text"
    ),
    "sample_weighted": Query(weighted_sample, _weighted_sql(), family="text"),
    "text_bigram_lm": Query(bigram_lm, _BIGRAM_SQL),
    "text_bigram_surprisal": Query(bigram_surprisal, _SURPRISAL_SQL),
    "text_keyness_llr": Query(keyness_llr, _KEYNESS_SQL),
    "text_source_vocab_overlap": Query(
        source_vocab_overlap, _VOCAB_OVERLAP_SQL
    ),
    "text_term_burstiness": Query(term_burstiness, _BURST_SQL),
    "text_js_divergence": Query(js_divergence, _JS_SQL),
}
