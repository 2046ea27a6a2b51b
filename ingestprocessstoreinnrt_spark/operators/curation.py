"""Corpus-curation operators a training-data pipeline runs between raw
ingest and tokenization: PII redaction, fixed-window document chunking,
within-document repetition signals, and train/eval decontamination.

The reference stops at per-record cleansing (NyTaxiYellowTripParser
zero-defaults malformed fields); an LLM corpus needs document-level
curation on top.  All four are native DataFrame plans (regex/array
expressions inside whole-stage codegen; no Python UDFs) with DuckDB
oracle twins sharing the same regexes, window constants, and md5 hash
primitive.

Scale shapes:
  * pii_redact — pure per-row regex battery: no shuffle, codegen end to
    end; at 100 TB it is scan-bound.
  * chunk_windows — per-row array explode (narrow): output rows ~
    n_tokens/stride per doc, no shuffle before the sink.
  * repetition_stats — wordcount shape: explode -> (doc_id, token)
    partial-agg -> doc_id agg; both aggregates map-side combine.
  * ngram_contamination — distinct train-gram set (one shuffle keyed by
    gram) + a gram-keyed join against eval grams: both sides bucket on
    the gram key at scale; no pairwise doc join anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import fan_out, load_table
from ..functions.scalars import SQL_STABLE_HASH64, stable_hash64
from ..functions.text import tokens
from ..planmemo import session_memo
from ..registry import Query

# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes and bounded quantifiers
# only — no lookaround, no backtracking-dependent alternation.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def _with_synthetic_pii(docs: DataFrame) -> DataFrame:
    """The synthetic corpus is PII-free word soup, so the query grafts a
    deterministic PII suffix onto 3 of every 5 docs (keyed by doc_id —
    same rows, same strings, in both engines).  The detection/redaction
    expressions below are the real operator; this just gives them
    non-zero work to prove on."""
    m = F.col("doc_id") % 5
    suffix = (
        F.when(
            m == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit(" call 415-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit("."),
                ((F.col("doc_id") * 7) % 256).cast("string"),
            ),
        )
        .otherwise(F.lit(""))
    )
    return docs.withColumn("txt", F.concat(F.col("text"), suffix))


def redact(col):
    """The redaction expression: email -> phone -> IPv4, in that fixed
    order in both engines."""
    red = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    return F.regexp_replace(red, PII_IPV4, "<IP>")


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII counts plus the redacted text's length and hash —
    the redacted string itself round-trips through the md5 fingerprint
    so the oracle proves byte-identical redaction, not just counts."""
    docs = _with_synthetic_pii(
        fan_out(load_table(spark, sf_dir, "documents"))
    )
    txt = F.col("txt")
    red = redact(txt)
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(txt, F.lit(PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(txt, F.lit(PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(txt, F.lit(PII_IPV4), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.length(red).cast("long").alias("redacted_len"),
        stable_hash64(red).alias("redacted_hash"),
    )


_SQL_PII_TXT = """
  SELECT doc_id, text ||
    CASE doc_id % 5
      WHEN 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
      WHEN 1 THEN ' call 415-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
      WHEN 2 THEN ' host 10.0.' || (doc_id % 256)::VARCHAR || '.'
                  || ((doc_id * 7) % 256)::VARCHAR
      ELSE ''
    END AS txt
  FROM documents
"""

_PII_SQL = f"""
WITH d AS ({_SQL_PII_TXT}),
r AS (
  SELECT doc_id, txt,
    regexp_replace(
      regexp_replace(
        regexp_replace(txt, '{PII_EMAIL}', '<EMAIL>', 'g'),
        '{PII_PHONE}', '<PHONE>', 'g'),
      '{PII_IPV4}', '<IP>', 'g') AS red
  FROM d
)
SELECT doc_id,
  len(regexp_extract_all(txt, '{PII_EMAIL}'))::BIGINT AS n_emails,
  len(regexp_extract_all(txt, '{PII_PHONE}'))::BIGINT AS n_phones,
  len(regexp_extract_all(txt, '{PII_IPV4}'))::BIGINT AS n_ips,
  length(red)::BIGINT AS redacted_len,
  {SQL_STABLE_HASH64.format(x="red")} AS redacted_hash
FROM r
"""

# ---------------------------------------------------------------------------
# document chunking (fixed token windows with overlap)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64  # window size
CHUNK_STRIDE = 48  # step -> 16-token overlap between neighbors


def chunk_frame(docs: DataFrame) -> DataFrame:
    """Chunking core over any (doc_id, text) frame — see
    chunk_windows."""
    toks = tokens(F.col("text"))
    d = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    )
    starts = F.sequence(
        F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE)
    )
    chunked = d.select(
        "doc_id", "toks", F.explode(starts).alias("start")
    ).select(
        "doc_id",
        (F.col("start") / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("chunk_start"),
        F.slice(
            F.col("toks"), F.col("start") + 1, F.lit(CHUNK_TOKENS)
        ).alias("chunk"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        "chunk_start",
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
        stable_hash64(F.concat_ws(" ", "chunk")).alias("chunk_hash"),
        F.concat_ws(" ", "chunk").alias("chunk_text"),
    )


def chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode each document into overlapping fixed-token windows —
    the step that turns a curated corpus into training sequences.
    Output: (doc_id, chunk_idx, chunk_start, n_chunk_tokens,
    chunk_hash); the hash is over the space-joined window so the
    oracle proves the exact token content of every chunk."""
    return chunk_frame(
        fan_out(load_table(spark, sf_dir, "documents"))
    ).drop("chunk_text")


_SQL_TOKS = (
    "CASE WHEN trim(text) = '' THEN []::VARCHAR[] "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)

_CHUNK_SQL = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
  WHERE trim(text) <> ''
),
c AS (
  SELECT doc_id,
    u.start // {CHUNK_STRIDE} AS chunk_idx,
    u.start AS chunk_start,
    toks[u.start + 1 : u.start + {CHUNK_TOKENS}] AS chunk
  FROM d, UNNEST(range(0, len(toks), {CHUNK_STRIDE})) AS u(start)
)
SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
  chunk_start::BIGINT AS chunk_start,
  len(chunk)::BIGINT AS n_chunk_tokens,
  {SQL_STABLE_HASH64.format(x="array_to_string(chunk, ' ')")} AS chunk_hash
FROM c
"""

# ---------------------------------------------------------------------------
# within-document repetition signals (Gopher-style quality gates)
# ---------------------------------------------------------------------------


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition profile: token count, distinct count, the
    most-frequent token's share, and the distinct ratio — the signals
    repetition filters (e.g. Gopher Rule 6/7) threshold on."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    tok = (
        docs.filter(F.trim(F.col("text")) != "")
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    per_tok = tok.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_tok.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_token_share"
        ),
        (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias(
            "distinct_ratio"
        ),
    )


_REPETITION_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
  WHERE trim(text) <> ''
),
per_tok AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok
)
SELECT doc_id,
  SUM(c)::BIGINT AS n_tokens,
  COUNT(*)::BIGINT AS n_distinct,
  MAX(c)::DOUBLE / SUM(c)::DOUBLE AS top_token_share,
  COUNT(*)::DOUBLE / SUM(c)::DOUBLE AS distinct_ratio
FROM per_tok GROUP BY doc_id
"""

# ---------------------------------------------------------------------------
# train/eval decontamination (n-gram overlap)
# ---------------------------------------------------------------------------

CONTAM_N = 3  # word n-gram size
EVAL_MOD = 50  # doc_id % EVAL_MOD == 0 -> held-out eval split


def _gram_frame(docs: DataFrame, pred) -> DataFrame:
    """(doc_id, gram) distinct word-CONTAM_N-grams, hashed to 64-bit
    (Broder shingle hashing — the oracle keeps raw strings; equal
    cardinalities make the counts bit-identical, and the cross-engine
    match doubles as a collision check, same trick as dedup's
    _shingle_frame)."""
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (CONTAM_N - 1)),
            lambda i: F.xxhash64(
                F.concat_ws(
                    " ",
                    *[F.element_at(words, i + j) for j in range(CONTAM_N)],
                )
            ),
        )
    )
    return (
        docs.filter(pred)
        .filter(F.size(words) >= CONTAM_N)
        .select("doc_id", F.explode(grams).alias("gram"))
    )


def ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every eval-split doc: how many of its distinct word-3-grams
    also appear anywhere in the train split — the overlap check run
    before trusting a benchmark number (GPT-3 appendix C / Gopher
    decontamination).  Train grams reduce to ONE distinct gram set
    (shuffle keyed by gram); the probe is a gram-keyed left join —
    both sides bucket on gram at 100 TB, nothing quadratic."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    ev = F.col("doc_id") % EVAL_MOD == 0
    eval_grams = _gram_frame(docs, ev)
    train_grams = (
        _gram_frame(docs, ~ev).select("gram").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        eval_grams.join(train_grams, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias(
                "n_contaminated"
            ),
        )
        .withColumn(
            "contaminated_share",
            F.col("n_contaminated").cast("double")
            / F.col("n_grams").cast("double"),
        )
    )


_SQL_GRAMS = f"""
  SELECT doc_id, unnest(list_distinct(
    list_transform(
      range(1, len(w) - {CONTAM_N - 2}),
      i -> array_to_string(w[i : i + {CONTAM_N - 1}], ' ')
    ))) AS gram
  FROM (
    SELECT doc_id,
      regexp_split_to_array(lower(trim(text)), '\\s+') AS w
    FROM documents WHERE {{side}}
  )
  WHERE len(w) >= {CONTAM_N}
"""

_CONTAM_SQL = f"""
WITH eval_grams AS ({_SQL_GRAMS.format(side=f"doc_id % {EVAL_MOD} = 0")}),
train_grams AS (
  SELECT DISTINCT gram
  FROM ({_SQL_GRAMS.format(side=f"doc_id % {EVAL_MOD} <> 0")})
),
j AS (
  SELECT e.doc_id, e.gram,
    CASE WHEN t.gram IS NULL THEN 0 ELSE 1 END AS hit
  FROM eval_grams e LEFT JOIN train_grams t USING (gram)
)
SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
  SUM(hit)::BIGINT AS n_contaminated,
  SUM(hit)::DOUBLE / COUNT(*)::DOUBLE AS contaminated_share
FROM j GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# decontamination REWRITE: remove eval-overlapping spans from train docs
# ---------------------------------------------------------------------------
#
# The rewrite stage of ngram_contamination (which only diagnoses): in
# every TRAIN doc, any token covered by a positional CONTAM_N-gram
# whose text occurs anywhere in the EVAL split is removed, and the
# survivors are reassembled in order (GPT-3 appendix C's span-removal
# decontamination at token grain).  Output text proven cell-exact via
# md5 like the other corpus-mutating verbs.
#
# Scale shape: eval grams reduce to ONE distinct gram set keyed by
# gram (the small side of a gram-keyed hash join at 100 TB — never
# broadcast-unbounded, same join as ngram_contamination); covered
# positions and token reassembly are TOKEN-grain narrow ops keyed by
# doc_id.  Hash-gram trick as everywhere: Spark joins 64-bit shingle
# hashes, the oracle raw strings — a collision would flip a removal
# and fail the md5 gate, so the green row doubles as collision proof.


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_removed, clean_md5) for every non-empty
    TRAIN-split doc."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    ev = F.col("doc_id") % EVAL_MOD == 0
    eval_grams = (
        _gram_frame(docs, ev).select("gram").distinct()
    )
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    train = docs.filter(~ev).filter(F.trim(F.col("text")) != "").select(
        "doc_id", words.alias("w")
    )
    gram_at = lambda i: F.xxhash64(  # noqa: E731 — mirrors _gram_frame
        F.concat_ws(
            " ", *[F.element_at(F.col("w"), i + j) for j in range(CONTAM_N)]
        )
    )
    starts = train.filter(F.size("w") >= CONTAM_N).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - (CONTAM_N - 1)),
                lambda i: F.struct(i.alias("s"), gram_at(i).alias("gram")),
            )
        ).alias("sg"),
    ).select("doc_id", F.col("sg.s").alias("s"), F.col("sg.gram").alias("gram"))
    # covered positions reduce to ONE int array per doc (collect_set
    # dedups, so the old global (doc_id, p) distinct is folded into the
    # same exchange); reassembly then runs at DOC grain with array
    # expressions.  The old tail posexploded EVERY train token, left
    # joined it against the covered set, and collect_list+sorted it
    # back per doc — three corpus-token-scale exchanges carrying word
    # strings, replaced by one covered-position-scale one (r13).
    covered = (
        starts.join(eval_grams, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + (CONTAM_N - 1))
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("cps"))
    )
    cps = F.coalesce(F.col("cps"), F.array().cast("array<int>"))
    # array_except keeps the (ascending) order of its first argument,
    # so this is exactly the old sort-by-position reassembly
    kept_pos = F.array_except(F.sequence(F.lit(1), F.size("w")), cps)
    clean = F.array_join(
        F.transform(kept_pos, lambda p: F.element_at(F.col("w"), p)), " "
    )
    return (
        train.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            F.size(cps).cast("long").alias("n_removed"),
            F.md5(clean).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


_DECONTAM_SQL = f"""
WITH evg AS (
  SELECT DISTINCT gram
  FROM ({_SQL_GRAMS.format(side=f"doc_id % {EVAL_MOD} = 0")})
),
tr AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
  FROM documents
  WHERE doc_id % {EVAL_MOD} <> 0 AND trim(text) <> ''
),
pg AS (
  SELECT doc_id, u.i AS s
  FROM tr, UNNEST(range(1, len(w) - {CONTAM_N - 2})) AS u(i)
  WHERE len(w) >= {CONTAM_N}
    AND array_to_string(w[u.i : u.i + {CONTAM_N - 1}], ' ')
        IN (SELECT gram FROM evg)
),
cov AS (
  SELECT DISTINCT doc_id, s + t.o AS p
  FROM pg, UNNEST([{", ".join(str(j) for j in range(CONTAM_N))}]) AS t(o)
),
tok AS (
  SELECT doc_id, u.p, w[u.p] AS word
  FROM tr, UNNEST(range(1, len(w) + 1)) AS u(p)
)
SELECT tok.doc_id, COUNT(*)::BIGINT AS n_tokens,
  COUNT(cov.p)::BIGINT AS n_removed,
  md5(COALESCE(string_agg(
    CASE WHEN cov.p IS NULL THEN word END, ' ' ORDER BY tok.p), ''))
    AS clean_md5
FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.p = cov.p
GROUP BY tok.doc_id
ORDER BY tok.doc_id
"""


# ---------------------------------------------------------------------------
# URL extraction / boilerplate stripping
# ---------------------------------------------------------------------------

URL_RE = r"https?://[A-Za-z0-9.-]+(/[A-Za-z0-9._/-]*)?"
_URL_DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"


def url_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc URL inventory + boilerplate strip: count URLs, extract
    the first domain, and hash the URL-stripped text (byte-exact strip
    proof, like pii_redact).  The synthetic corpus has no URLs, so 2
    of every 4 docs get a deterministic doc_id-keyed URL grafted
    in-query — the extraction/strip expressions are the operator."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    url = (
        F.when(
            m == 0,
            F.concat(
                F.lit(" see https://ex"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.org/p/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit(" via http://cdn"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".example-site.com"),
            ),
        )
        .otherwise(F.lit(""))
    )
    txt = F.concat(F.col("text"), url)
    stripped = F.regexp_replace(txt, URL_RE, "")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(txt, F.lit(URL_RE), F.lit(0)))
        .cast("long")
        .alias("n_urls"),
        F.regexp_extract(txt, _URL_DOMAIN_RE, 1).alias("first_domain"),
        F.length(stripped).cast("long").alias("stripped_len"),
        stable_hash64(stripped).alias("stripped_hash"),
    )


_URL_SQL = f"""
WITH d AS (
  SELECT doc_id, text ||
    CASE doc_id % 4
      WHEN 0 THEN ' see https://ex' || (doc_id % 7)::VARCHAR
                  || '.example.org/p/' || doc_id::VARCHAR
      WHEN 1 THEN ' via http://cdn' || (doc_id % 5)::VARCHAR
                  || '.example-site.com'
      ELSE ''
    END AS txt
  FROM documents
),
s AS (
  SELECT doc_id, txt,
    regexp_replace(txt, '{URL_RE}', '', 'g') AS stripped
  FROM d
)
SELECT doc_id,
  len(regexp_extract_all(txt, '{URL_RE}'))::BIGINT AS n_urls,
  COALESCE(regexp_extract(txt, '{_URL_DOMAIN_RE}', 1), '')
    AS first_domain,
  length(stripped)::BIGINT AS stripped_len,
  {SQL_STABLE_HASH64.format(x="stripped")} AS stripped_hash
FROM s
"""

# ---------------------------------------------------------------------------
# BPE-pair counting (the first merge iteration of tokenizer training)
# ---------------------------------------------------------------------------

BPE_TOPK = 50


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-BPE_TOPK adjacent character pairs by corpus frequency — the
    statistic byte-pair-encoding training maximizes on its first merge
    step.  Word frequencies reduce FIRST (wordcount shape, map-side
    combined: the pair explosion runs over the ~vocabulary, not the
    corpus), then each word contributes its within-word pair
    multiset weighted by its count."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    word_freq = (
        docs.filter(F.trim(F.col("text")) != "")
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("word") >= 2)
    )
    pairs = word_freq.select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    w = Window.orderBy(F.col("pair_count").desc(), F.col("pair").asc())
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").cast("long").alias("pair_count"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= BPE_TOPK)
        .select("rank", "pair", "pair_count")
    )


_BPE_SQL = f"""
WITH words AS (
  SELECT unnest({_SQL_TOKS.replace("text", "lower(text)")}) AS word
  FROM documents WHERE trim(text) <> ''
),
wf AS (
  SELECT word, COUNT(*) AS wc FROM words
  WHERE length(word) >= 2 GROUP BY word
),
pairs AS (
  SELECT wc, unnest(list_transform(
    range(1, length(word)), i -> word[i : i + 1]
  )) AS pair
  FROM wf
),
ranked AS (
  SELECT pair, SUM(wc)::BIGINT AS pair_count,
    ROW_NUMBER() OVER (ORDER BY SUM(wc) DESC, pair ASC) AS rank
  FROM pairs GROUP BY pair
)
SELECT rank::BIGINT AS rank, pair, pair_count
FROM ranked WHERE rank <= {BPE_TOPK}
"""

# ---------------------------------------------------------------------------
# greedy BPE training (the first K merges, not just merge statistic #1)
# ---------------------------------------------------------------------------
#
# Real tokenizer training (Sennrich et al. 2016) iterates: count
# adjacent symbol pairs over the (word, count) vocabulary, merge the
# most frequent pair everywhere, re-count.  bpe_pair_counts computes
# iteration #1's statistic; this runs the actual K-merge loop.
#
# Representation trick: a word's symbol sequence is packed as a string
# with DOUBLE-tab separators between symbols and at both ends
# ("\t\ta\t\tb\t\t"), so the greedy left-to-right merge of pair (l, r)
# is a plain replace("\t l \t\t r \t" -> "\t lr \t") — each match
# consumes one tab from each flanking double-tab, leaving single tabs
# that still flank the NEXT adjacent occurrence, so a run like
# [a,a,a,a] merges to [aa,aa] exactly as greedy BPE does.  Tokens are
# whitespace-split, so no symbol can contain a tab.  replace() is
# non-overlapping left-to-right in both engines — identical semantics.
#
# Scale shape (the 100 TB path): after the one corpus-wide wordcount
# (map-side combined), everything runs at VOCABULARY grain — K small
# shuffles of the word table, one single-row argmax collect per merge
# (metadata-scale, the same convergence-scalar pattern as kmeans), and
# a localCheckpoint per pass keeps the plan flat (iterative-loop
# invariant #6).  Corpus size only affects the first wordcount.

BPE_MERGES = 8
_BPE_SEP = "\t"


def _bpe_word_freq(docs: DataFrame) -> DataFrame:
    return (
        docs.filter(F.trim(F.col("text")) != "")
        .select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("word") >= 2)
    )


def _bpe_init_vocab(docs: DataFrame) -> DataFrame:
    """(word, ws, wc): the packed-symbol vocabulary the merge loops
    iterate on (ws = double-tab-separated characters, see the
    representation note above)."""
    S = _BPE_SEP
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return (
        _bpe_word_freq(docs)
        .select(
            "word",
            F.concat(
                F.lit(S * 2), F.array_join(chars, S * 2), F.lit(S * 2)
            ).alias("ws"),
            "wc",
        )
        .localCheckpoint(eager=True)
    )


def _bpe_pair_frame(vocab: DataFrame) -> DataFrame:
    """(lhs, rhs, cnt): adjacent-symbol pair counts of the current
    vocabulary — the statistic every merge round ranks."""
    S = _BPE_SEP
    syms = F.filter(
        F.split(F.col("ws"), S * 2), lambda x: x != F.lit("")
    )
    sy = vocab.select("wc", syms.alias("sy")).filter(F.size("sy") >= 2)
    pairs = sy.select(
        "wc",
        F.explode(
            F.zip_with(
                F.slice("sy", 1, F.size("sy") - 1),
                F.slice("sy", 2, F.size("sy") - 1),
                lambda a, b: F.struct(a.alias("lhs"), b.alias("rhs")),
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.lhs", "p.rhs").agg(
        F.sum("wc").cast("long").alias("cnt")
    )


def _bpe_apply(vocab: DataFrame, batch: list[tuple[str, str]]) -> DataFrame:
    """Apply merges left-to-right in batch order via the double-tab
    replace trick; one projection, one eager checkpoint."""
    S = _BPE_SEP
    col = F.col("ws")
    for lhs, rhs in batch:
        col = F.replace(
            col,
            F.lit(S + lhs + S * 2 + rhs + S),
            F.lit(S + lhs + rhs + S),
        )
    return vocab.withColumn("ws", col).localCheckpoint(eager=True)


# Fitted-tokenizer session memo (planmemo.session_memo): THREE queries
# consume the identical BPE_MERGES-round fit (bpe_train, bpe_encode,
# bpe_fertility); without the memo each re-runs the whole K-round
# driver loop — 2x ~17 Spark jobs of pure re-fit per sweep (measured
# ~2.0-2.6 s of driver-loop time per caller at sf0.1, r13).  A fresh
# session always re-fits from the parquet inputs (nothing persists
# across runs), and bench.py clears the memo at family boundaries so
# family-cold timings still include one full fit.  The vocab frame is
# an eager localCheckpoint, so it stays valid across
# spark.catalog.clearCache() calls within the session.
def _run_bpe(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple], DataFrame]:
    """Run the K-merge loop; returns (merge records, final vocabulary
    frame with columns word/ws/wc) — shared by the trainer query and
    the encoder query."""

    def build() -> tuple[list[tuple], DataFrame]:
        vocab = _bpe_init_vocab(fan_out(load_table(spark, sf_dir, "documents")))
        merges: list[tuple] = []
        for k in range(1, BPE_MERGES + 1):
            best = (
                _bpe_pair_frame(vocab)
                .orderBy(
                    F.col("cnt").desc(),
                    F.col("lhs").asc(),
                    F.col("rhs").asc(),
                )
                .limit(1)
                .collect()
            )
            if not best:
                break
            lhs, rhs, cnt = best[0].lhs, best[0].rhs, best[0].cnt
            merges.append((k, lhs, rhs, lhs + rhs, cnt))
            vocab = _bpe_apply(vocab, [(lhs, rhs)])
        return merges, vocab

    return session_memo(spark, "bpe", sf_dir, None, build)


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(merge_idx, lhs, rhs, merged, pair_count) for the first
    BPE_MERGES greedy merges; ties broken (count DESC, lhs ASC,
    rhs ASC) identically in both engines."""
    merges, _ = _run_bpe(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "merge_idx long, lhs string, rhs string, "
        "merged string, pair_count long",
    ).orderBy("merge_idx")


def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: per document, the token count after the
    learned BPE_MERGES merges — (doc_id, n_words, n_chars,
    n_bpe_tokens, compression).  The fitted vocabulary (word ->
    merged-symbol string) joins the per-doc word explode at VOCABULARY
    grain; words the trainer never saw are single-character words (the
    length >= 2 gate) and count as one symbol."""
    _, vocab = _run_bpe(spark, sf_dir)
    S = _BPE_SEP
    n_syms = F.size(
        F.filter(F.split(F.col("ws"), S * 2), lambda x: x != F.lit(""))
    ).cast("long")
    word_syms = vocab.select("word", n_syms.alias("n_syms"))
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = (
        docs.filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.explode(tokens(F.lower(F.col("text")))).alias("word"),
        )
    )
    return (
        words.join(word_syms, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum(F.coalesce(F.col("n_syms"), F.lit(1)))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            F.round(
                F.col("n_chars").cast("double")
                / F.col("n_bpe_tokens").cast("double"),
                6,
            ).alias("compression"),
        )
        .orderBy("doc_id")
    )


def _bpe_base_ctes() -> str:
    """wf/v0: word frequencies + packed-symbol start vocabulary —
    the base both the sequential and the batched twin build on."""
    sep2 = "chr(9) || chr(9)"
    return f"""wf AS MATERIALIZED (
  SELECT word, COUNT(*) AS wc
  FROM (
    SELECT unnest({_SQL_TOKS.replace("text", "lower(text)")}) AS word
    FROM documents WHERE trim(text) <> ''
  )
  WHERE length(word) >= 2 GROUP BY word
),
v0 AS MATERIALIZED (
  SELECT word, {sep2} || array_to_string(
    list_transform(range(1, length(word) + 1), i -> word[i::INT : i::INT]),
    {sep2}) || {sep2} AS ws, wc
  FROM wf
)"""


def _bpe_ctes() -> str:
    """Unrolled K-iteration CTE chain (wf/v0/p,b,v 1..K) shared by the
    trainer and encoder twins; every v/b CTE is MATERIALIZED (the PCA
    lesson: DuckDB re-evaluates plain CTEs per reference)."""
    sep2 = "chr(9) || chr(9)"
    ctes = [_bpe_base_ctes()]
    for k in range(1, BPE_MERGES + 1):
        ctes.append(
            f"""p{k} AS (
  SELECT sy[i::INT] AS lhs, sy[i::INT + 1] AS rhs, SUM(wc)::BIGINT AS cnt
  FROM (
    SELECT wc,
      list_filter(string_split(ws, {sep2}), x -> x <> '') AS sy
    FROM v{k - 1}
  ), UNNEST(range(1, len(sy))) AS u(i)
  GROUP BY 1, 2
),
b{k} AS MATERIALIZED (
  SELECT lhs, rhs, cnt FROM p{k}
  ORDER BY cnt DESC, lhs ASC, rhs ASC LIMIT 1
),
v{k} AS MATERIALIZED (
  SELECT word, CASE WHEN b.lhs IS NULL THEN ws ELSE replace(ws,
    chr(9) || b.lhs || {sep2} || b.rhs || chr(9),
    chr(9) || b.lhs || b.rhs || chr(9)) END AS ws, wc
  FROM v{k - 1} LEFT JOIN b{k} b ON TRUE
)"""
        )
    return ",\n".join(ctes)


def _bpe_train_sql() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {k}::BIGINT AS merge_idx, lhs, rhs, "
        f"lhs || rhs AS merged, cnt AS pair_count FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return (
        f"WITH {_bpe_ctes()}"
        + f"\nSELECT * FROM (\n{union}\n) ORDER BY merge_idx"
    )


def _bpe_encode_sql() -> str:
    sep2 = "chr(9) || chr(9)"
    return f"""WITH {_bpe_ctes()},
vocabf AS (
  SELECT word,
    len(list_filter(string_split(ws, {sep2}), x -> x <> ''))::BIGINT
      AS n_syms
  FROM v{BPE_MERGES}
),
docw AS (
  SELECT doc_id,
    unnest({_SQL_TOKS.replace("text", "lower(text)")}) AS word
  FROM documents WHERE trim(text) <> ''
)
SELECT doc_id,
  COUNT(*)::BIGINT AS n_words,
  CAST(SUM(length(word)) AS BIGINT) AS n_chars,
  CAST(SUM(COALESCE(n_syms, 1)) AS BIGINT) AS n_bpe_tokens,
  ROUND(CAST(SUM(length(word)) AS BIGINT)::DOUBLE
        / CAST(SUM(COALESCE(n_syms, 1)) AS BIGINT)::DOUBLE, 6)
    AS compression
FROM docw LEFT JOIN vocabf USING (word)
GROUP BY doc_id
ORDER BY doc_id"""


# ---------------------------------------------------------------------------
# batched BPE training — B merges per counting round (VERDICT r9 item 4)
# ---------------------------------------------------------------------------
#
# bpe_train re-counts pairs after EVERY merge: K merges = K Spark
# rounds (one pair aggregation + one argmax collect each).  Real
# tokenizer trainers amortize: count once per ROUND, accept a batch of
# top-ranked pairs that provably cannot interact, apply them all in one
# pass, re-count — K merges in ~K/B rounds.  At vocabulary grain the
# pair count is the expensive part, so the Spark job count (and the
# driver round-trips that serialize a 1000-executor cluster) drops ~B×.
#
# Batch rule (deterministic, engine-identical): rank the round's pairs
# (count DESC, lhs ASC, rhs ASC), keep the top BPE_BATCH_WINDOW as
# candidates; candidate j enters the batch iff NO higher-ranked
# candidate i touches it — {lhs_j, rhs_j} disjoint from
# {lhs_i, rhs_i, lhs_i || rhs_i} — and the first BPE_BATCH_SIZE
# survivors apply in rank order.  Checking against ALL higher-ranked
# candidates (not just accepted ones) keeps acceptance a per-candidate
# predicate — a NOT EXISTS anti-join in SQL, the identical scan
# driver-side in Spark — at the cost of being conservative (a pair
# shadowed only by a rejected candidate waits one round).  Disjointness
# makes the batch exact: accepted patterns cannot overlap in any symbol
# sequence and no accepted pair's count is changed by an earlier
# accepted merge, so one batched pass equals applying the members in
# consecutive solo rounds (tests pin batched == sequential on a
# disjoint-prefix corpus).

BPE_BATCH_ROUNDS = 2
BPE_BATCH_SIZE = 4
BPE_BATCH_WINDOW = 50


def _select_batch(cands: list) -> list:
    """Rank-ordered (lhs, rhs, cnt) candidates -> the first
    BPE_BATCH_SIZE that conflict with NO higher-ranked candidate (the
    SQL NOT EXISTS, mirrored driver-side over the tiny top-W frame)."""
    out: list = []
    for j, cj in enumerate(cands):
        sj = {cj.lhs, cj.rhs}
        if any(
            sj & {ci.lhs, ci.rhs, ci.lhs + ci.rhs} for ci in cands[:j]
        ):
            continue
        out.append(cj)
        if len(out) == BPE_BATCH_SIZE:
            break
    return out


def bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(merge_idx, merge_round, lhs, rhs, merged, pair_count): greedy
    BPE merges learned BPE_BATCH_SIZE at a time — one pair-count round
    per batch instead of per merge.  Candidate selection runs on the
    collected top-BPE_BATCH_WINDOW rank frame (metadata-scale, the
    kmeans-centroid pattern); the corpus is touched once, everything
    after is vocabulary-grain."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    vocab = _bpe_init_vocab(docs)
    merges: list[tuple] = []
    for r in range(1, BPE_BATCH_ROUNDS + 1):
        cands = (
            _bpe_pair_frame(vocab)
            .orderBy(
                F.col("cnt").desc(),
                F.col("lhs").asc(),
                F.col("rhs").asc(),
            )
            .limit(BPE_BATCH_WINDOW)
            .collect()
        )
        batch = _select_batch(cands)
        if not batch:
            break
        for c in batch:
            merges.append(
                (len(merges) + 1, r, c.lhs, c.rhs, c.lhs + c.rhs, c.cnt)
            )
        vocab = _bpe_apply(vocab, [(c.lhs, c.rhs) for c in batch])
    return spark.createDataFrame(
        merges,
        "merge_idx long, merge_round long, lhs string, rhs string, "
        "merged string, pair_count long",
    ).orderBy("merge_idx")


def _bpe_train_batched_sql() -> str:
    """Unrolled R-round twin: per round a ranked candidate CTE, the
    NOT-EXISTS batch selection, and a nested-replace vocabulary step
    whose patterns come from scalar subqueries per batch slot (chr(1)
    no-ops for absent slots)."""
    sep2 = "chr(9) || chr(9)"
    ctes = [_bpe_base_ctes().replace("v0 AS", "u0 AS")]
    for r in range(1, BPE_BATCH_ROUNDS + 1):
        ctes.append(
            f"""q{r} AS (
  SELECT sy[i::INT] AS lhs, sy[i::INT + 1] AS rhs, SUM(wc)::BIGINT AS cnt
  FROM (
    SELECT wc,
      list_filter(string_split(ws, {sep2}), x -> x <> '') AS sy
    FROM u{r - 1}
  ), UNNEST(range(1, len(sy))) AS u(i)
  GROUP BY 1, 2
),
c{r} AS MATERIALIZED (
  SELECT * FROM (
    SELECT lhs, rhs, cnt,
      ROW_NUMBER() OVER (ORDER BY cnt DESC, lhs ASC, rhs ASC) AS rnk
    FROM q{r}
  ) WHERE rnk <= {BPE_BATCH_WINDOW}
),
s{r} AS MATERIALIZED (
  SELECT lhs, rhs, cnt,
    ROW_NUMBER() OVER (ORDER BY rnk) AS bp
  FROM c{r} j
  WHERE NOT EXISTS (
    SELECT 1 FROM c{r} i
    WHERE i.rnk < j.rnk
      AND (j.lhs IN (i.lhs, i.rhs, i.lhs || i.rhs)
           OR j.rhs IN (i.lhs, i.rhs, i.lhs || i.rhs))
  )
  ORDER BY rnk LIMIT {BPE_BATCH_SIZE}
)"""
        )
        if r == BPE_BATCH_ROUNDS:
            continue  # the last round's vocabulary is never read
        ws = "ws"
        for b in range(1, BPE_BATCH_SIZE + 1):
            pat = (
                f"COALESCE((SELECT chr(9) || lhs || {sep2} || rhs || "
                f"chr(9) FROM s{r} WHERE bp = {b}), chr(1))"
            )
            rep = (
                f"COALESCE((SELECT chr(9) || lhs || rhs || chr(9) "
                f"FROM s{r} WHERE bp = {b}), chr(1))"
            )
            ws = f"replace({ws},\n    {pat},\n    {rep})"
        ctes.append(
            f"""u{r} AS MATERIALIZED (
  SELECT word, {ws} AS ws, wc FROM u{r - 1}
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {r}::BIGINT AS merge_round, bp, lhs, rhs, "
        f"lhs || rhs AS merged, cnt FROM s{r}"
        for r in range(1, BPE_BATCH_ROUNDS + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT ROW_NUMBER() OVER (ORDER BY merge_round, bp)::BIGINT AS merge_idx,
  merge_round, lhs, rhs, merged, cnt AS pair_count
FROM (\n{union}\n) ORDER BY merge_idx"""
    )


# ---------------------------------------------------------------------------
# tokenizer fertility — tokens per word by language
# ---------------------------------------------------------------------------
#
# The number every multilingual tokenizer review tables: how many BPE
# tokens does a word cost per language?  High-fertility languages pay
# more context budget per sentence — the metric that drives vocabulary
# rebalancing.  Same vocabulary-grain join as curation_bpe_encode
# (the fitted word -> symbol-count frame is metadata-scale), rolled up
# to LANGUAGE grain; all counts exact, two rounded ratios at the end.


def bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, n_words, n_bpe_tokens, fertility, chars_per_token) of
    the learned tokenizer per document language."""
    _, vocab = _run_bpe(spark, sf_dir)
    S = _BPE_SEP
    n_syms = F.size(
        F.filter(F.split(F.col("ws"), S * 2), lambda x: x != F.lit(""))
    ).cast("long")
    word_syms = vocab.select("word", n_syms.alias("n_syms"))
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = docs.filter(F.trim(F.col("text")) != "").select(
        "lang",
        F.explode(tokens(F.lower(F.col("text")))).alias("word"),
    )
    return (
        words.join(word_syms, "word", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum(F.coalesce(F.col("n_syms"), F.lit(1)))
            .cast("long")
            .alias("n_bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_words").cast("double"),
                6,
            ).alias("fertility"),
            F.round(
                F.col("n_chars").cast("double")
                / F.col("n_bpe_tokens").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


def _bpe_fertility_sql() -> str:
    sep2 = "chr(9) || chr(9)"
    return f"""WITH {_bpe_ctes()},
vocabf AS (
  SELECT word,
    len(list_filter(string_split(ws, {sep2}), x -> x <> ''))::BIGINT
      AS n_syms
  FROM v{BPE_MERGES}
),
docw AS (
  SELECT lang,
    unnest({_SQL_TOKS.replace("text", "lower(text)")}) AS word
  FROM documents WHERE trim(text) <> ''
)
SELECT lang,
  COUNT(*)::BIGINT AS n_words,
  CAST(SUM(COALESCE(n_syms, 1)) AS BIGINT) AS n_bpe_tokens,
  ROUND(CAST(SUM(COALESCE(n_syms, 1)) AS BIGINT)::DOUBLE
        / COUNT(*)::DOUBLE, 6) AS fertility,
  ROUND(CAST(SUM(length(word)) AS BIGINT)::DOUBLE
        / CAST(SUM(COALESCE(n_syms, 1)) AS BIGINT)::DOUBLE, 6)
    AS chars_per_token
FROM docw LEFT JOIN vocabf USING (word)
GROUP BY lang
ORDER BY lang"""


# ---------------------------------------------------------------------------
# deterministic weighted source mixing
# ---------------------------------------------------------------------------

# Per-source acceptance out of 100: source "srcK" keeps (K % 5 + 1)*20
# percent of its docs — a stand-in for the mixture weights a training
# run assigns its data sources (web : books : code : ...).
_MIX_PCT = "(CAST(substr(source, 4) AS {int}) % 5 + 1) * 20"


def mix_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated source mixing: doc_id's stable hash
    mod 100 against the source's acceptance rate decides membership —
    reproducible across runs/engines, no RNG, no shuffle to sample
    (the gate is a scan-level filter; the per-source audit aggregate
    is the only exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    pct = F.expr(_MIX_PCT.format(int="INT"))
    gate = (
        F.pmod(stable_hash64(F.col("doc_id").cast("string")), F.lit(100))
        < pct
    )
    return (
        docs.withColumn("accept_pct", pct.cast("long"))
        .withColumn("picked", gate)
        .groupBy("source", "accept_pct")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.sum(F.when(F.col("picked"), 1).otherwise(0))
            .cast("long")
            .alias("n_selected"),
        )
        .select("source", "accept_pct", "n_total", "n_selected")
    )


_MIX_SQL = f"""
WITH d AS (
  SELECT source, {_MIX_PCT.format(int="INT")} AS accept_pct,
    CASE WHEN {SQL_STABLE_HASH64.format(x="doc_id::VARCHAR")} % 100
      < {_MIX_PCT.format(int="INT")} THEN 1 ELSE 0 END AS picked
  FROM documents
)
SELECT source, accept_pct::BIGINT AS accept_pct,
  COUNT(*)::BIGINT AS n_total, SUM(picked)::BIGINT AS n_selected
FROM d GROUP BY source, accept_pct
"""


# ---------------------------------------------------------------------------
# sequence packing (contiguous concat-and-split, per source shard)
# ---------------------------------------------------------------------------

PACK_CAP = 512  # tokens per packed training sequence
PACK_DOC_BAND = 4096  # doc_id band width of the two-level prefix sum


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing — the data-loader step after
    chunking: documents are concatenated in a fixed order and split
    every PACK_CAP tokens, so bin id = exclusive-prefix-sum DIV cap.
    Packing runs PER SOURCE shard, and WITHIN each shard the prefix
    sum is the ml_auc two-level construction (r8 — VERDICT r7 finding
    #1: a window partitioned only by source packs each source's whole
    corpus in one task): docs band by doc_id range, per-(source, band)
    token totals make a metadata-scale frame whose cumulative offsets
    broadcast back, and the fine cumulative window is partitioned by
    (source, band).  The exclusive prefix — hence every bin id — is
    the identical exact integer; deterministic order (source, doc_id)
    makes the assignment exactly reproducible cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    d = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.floor(F.col("doc_id") / F.lit(PACK_DOC_BAND)).cast("long").alias(
            "band"
        ),
    )
    bt = d.groupBy("source", "band").agg(F.sum("n_tokens").alias("t"))
    wb = (
        Window.partitionBy("source")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # (source, band) grain — metadata-scale
    off = bt.withColumn(
        "o", F.coalesce(F.sum("t").over(wb), F.lit(0)).cast("long")
    ).select("source", "band", "o")
    wl = (
        Window.partitionBy("source", "band")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    assigned = (
        d.join(F.broadcast(off), ["source", "band"])
        .select(
            "doc_id",
            "source",
            "n_tokens",
            (
                (
                    F.col("o")
                    + F.sum("n_tokens").over(wl)
                    - F.col("n_tokens")
                )
                / PACK_CAP
            ).cast("long").alias("bin"),
        )
    )
    return assigned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_PACK_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
    len({_SQL_TOKS})::BIGINT AS n_tokens
  FROM documents WHERE trim(text) <> ''
),
assigned AS (
  SELECT doc_id, source, n_tokens,
    (SUM(n_tokens) OVER (
       PARTITION BY source ORDER BY doc_id
       ROWS UNBOUNDED PRECEDING) - n_tokens) // {PACK_CAP} AS bin
  FROM d
)
SELECT source, bin::BIGINT AS bin, COUNT(*)::BIGINT AS n_docs,
  SUM(n_tokens)::BIGINT AS n_tokens,
  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM assigned GROUP BY source, bin
"""


# ---------------------------------------------------------------------------
# deterministic train/validation/test split
# ---------------------------------------------------------------------------
#
# The split every training pipeline needs, done the only way that is
# reproducible at 100 TB: a HASH GATE on the stable document id, not
# rand() (whose draw depends on partitioning and retry history) and not
# a global shuffle+limit (whose assignment moves when the corpus
# grows).  h(doc_id) % 10 -> 0-7 train / 8 validation / 9 test.  The
# gate is a set property of each row alone: adding documents never
# reassigns existing ones (stable membership under corpus growth), any
# executor can evaluate it without coordination, and the same document
# always lands in the same split across reruns and engines — which is
# what makes the DuckDB twin exact.

SPLIT_BUCKETS = 10
SPLIT_TRAIN_MAX = 7  # buckets 0-7 train (80%), 8 val, 9 test


def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split corpus accounting: (split_name, n_docs, n_chars,
    n_sources, n_langs, share).  share = n_docs / corpus, one double
    division of exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = stable_hash64(F.col("doc_id").cast("string")) % SPLIT_BUCKETS
    tagged = docs.withColumn(
        "split_name",
        F.when(bucket <= SPLIT_TRAIN_MAX, "train")
        .when(bucket == SPLIT_TRAIN_MAX + 1, "validation")
        .otherwise("test"),
    )
    per = tagged.groupBy("split_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    total = docs.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return per.join(F.broadcast(total)).select(
        "split_name", "n_docs", "n_chars", "n_sources", "n_langs",
        (F.col("n_docs").cast("double") / F.col("n_total").cast("double"))
        .alias("share"),
    )


_SPLIT_HASH = SQL_STABLE_HASH64.format(x="doc_id::VARCHAR")
_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT *, CASE
    WHEN {_SPLIT_HASH} % {SPLIT_BUCKETS} <= {SPLIT_TRAIN_MAX} THEN 'train'
    WHEN {_SPLIT_HASH} % {SPLIT_BUCKETS} = {SPLIT_TRAIN_MAX + 1}
      THEN 'validation'
    ELSE 'test' END AS split_name
  FROM documents
),
per AS (
  SELECT split_name, COUNT(*)::BIGINT AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS n_chars,
    COUNT(DISTINCT source)::BIGINT AS n_sources,
    COUNT(DISTINCT lang)::BIGINT AS n_langs
  FROM tagged GROUP BY split_name
),
t AS (SELECT COUNT(*)::BIGINT AS n_total FROM documents)
SELECT split_name, n_docs, n_chars, n_sources, n_langs,
  n_docs::DOUBLE / n_total::DOUBLE AS share
FROM per CROSS JOIN t
"""


# ---------------------------------------------------------------------------
# exact substring contamination (longest common token run)
# ---------------------------------------------------------------------------
#
# Set-overlap contamination (ngram_contamination above) can't tell 50
# scattered shared trigrams from one verbatim 52-token quote — only the
# latter is the "exact substring" leakage Lee et al. ("Deduplicating
# Training Data Makes Language Models Better", 2022) remove with
# suffix arrays.  A suffix array doesn't distribute; the standard
# scalable approximation at fixed k: positional k-gram matches between
# eval and train land on DIAGONALS (i_eval - i_train constant), and a
# verbatim run of L tokens is exactly L-k+1 consecutive matches on one
# diagonal — so longest-run = gaps-and-islands over match positions.
#
# Scale shape: eval side is 1/EVAL_MOD of the corpus by construction,
# so the gram-keyed equi-join produces |eval grams| x (train copies per
# gram) rows — linear in corpus for natural vocabularies.  The island
# window partitions by (eval doc, train doc, diagonal): millions of
# tiny partitions, nothing hot.  Downstream aggregates are map-side
# combinable; the argmax packs (run, train doc) into one BIGINT so the
# final reduce is a plain MAX (no second pass, deterministic ties).

_ARGMAX_SHIFT = 1 << 40  # doc_id < 2^40 by contract


def _pos_gram_frame(docs: DataFrame, pred) -> DataFrame:
    """(doc_id, pos, gram) — positional (NOT distinct) word-CONTAM_N-
    grams, xxhash64'd; the oracle keeps raw strings and the
    cross-engine run-length match doubles as a collision check."""
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    entries = F.transform(
        F.sequence(F.lit(1), F.size(words) - (CONTAM_N - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.xxhash64(
                F.concat_ws(
                    " ",
                    *[F.element_at(words, i + j) for j in range(CONTAM_N)],
                )
            ).alias("gram"),
        ),
    )
    return (
        docs.filter(pred)
        .filter(F.size(words) >= CONTAM_N)
        .select("doc_id", F.explode(entries).alias("e"))
        .select(
            "doc_id",
            F.col("e.pos").cast("long").alias("pos"),
            F.col("e.gram").alias("gram"),
        )
    )


def substring_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per eval doc: the longest VERBATIM token run shared with any
    train doc — (doc_id, longest_run_tokens, best_train_doc,
    n_train_docs).  best_train_doc = lowest train doc achieving the
    max; eval docs with no k-gram match report 0 / NULL / 0."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    ev = F.col("doc_id") % EVAL_MOD == 0
    eg = _pos_gram_frame(docs, ev).toDF("e_doc", "i_e", "gram")
    tg = _pos_gram_frame(docs, ~ev).toDF("t_doc", "i_t", "gram")
    m = eg.join(tg, "gram").select(
        "e_doc", "t_doc", "i_e", (F.col("i_e") - F.col("i_t")).alias("diag")
    )
    w = Window.partitionBy("e_doc", "t_doc", "diag").orderBy("i_e")
    runs = (
        m.withColumn("island", F.col("i_e") - F.row_number().over(w))
        .groupBy("e_doc", "t_doc", "diag", "island")
        .agg(F.count(F.lit(1)).alias("run_grams"))
    )
    pair_best = runs.groupBy("e_doc", "t_doc").agg(
        F.max("run_grams").alias("best_run")
    )
    score = F.col("best_run") * F.lit(_ARGMAX_SHIFT) + (
        F.lit(_ARGMAX_SHIFT - 1) - F.col("t_doc")
    )
    hits = pair_best.groupBy("e_doc").agg(
        F.max(score).alias("s"),
        F.count(F.lit(1)).cast("long").alias("n_train_docs"),
    )
    eval_ids = docs.filter(ev).select(F.col("doc_id"))
    return (
        eval_ids.join(hits, eval_ids.doc_id == hits.e_doc, "left")
        .select(
            "doc_id",
            # exact integer DIV for the run-length unpack (ADVICE r4:
            # float `/` diverges once best_run >= 2^13 grams)
            F.coalesce(
                F.expr(f"s DIV {_ARGMAX_SHIFT}") + F.lit(CONTAM_N - 1),
                F.lit(0),
            )
            .cast("long")
            .alias("longest_run_tokens"),
            (
                F.lit(_ARGMAX_SHIFT - 1)
                - F.pmod(F.col("s"), F.lit(_ARGMAX_SHIFT))
            )
            .cast("long")
            .alias("best_train_doc"),
            F.coalesce("n_train_docs", F.lit(0))
            .cast("long")
            .alias("n_train_docs"),
        )
        .orderBy("doc_id")
    )


_SUBSTR_POS_GRAMS = f"""
  SELECT doc_id, u.i::BIGINT AS pos,
    array_to_string(w[u.i : u.i + {CONTAM_N - 1}], ' ') AS gram
  FROM (
    SELECT doc_id,
      regexp_split_to_array(lower(trim(text)), '\\s+') AS w
    FROM documents WHERE {{side}}
  ), UNNEST(range(1, len(w) - {CONTAM_N - 2})) AS u(i)
  WHERE len(w) >= {CONTAM_N}
"""

_SUBSTR_SQL = f"""
WITH eg AS ({_SUBSTR_POS_GRAMS.format(side=f"doc_id % {EVAL_MOD} = 0")}),
tg AS ({_SUBSTR_POS_GRAMS.format(side=f"doc_id % {EVAL_MOD} <> 0")}),
m AS (
  SELECT eg.doc_id AS e_doc, tg.doc_id AS t_doc, eg.pos AS i_e,
    eg.pos - tg.pos AS diag
  FROM eg JOIN tg USING (gram)
),
runs AS (
  SELECT e_doc, t_doc, diag,
    i_e - ROW_NUMBER() OVER (
      PARTITION BY e_doc, t_doc, diag ORDER BY i_e
    ) AS island
  FROM m
),
rc AS (
  SELECT e_doc, t_doc, COUNT(*) AS run_grams
  FROM runs GROUP BY e_doc, t_doc, diag, island
),
pair_best AS (
  SELECT e_doc, t_doc, MAX(run_grams) AS best_run
  FROM rc GROUP BY e_doc, t_doc
),
hits AS (
  SELECT e_doc,
    MAX(best_run * {_ARGMAX_SHIFT}
        + ({_ARGMAX_SHIFT - 1} - t_doc)) AS s,
    COUNT(*)::BIGINT AS n_train_docs
  FROM pair_best GROUP BY e_doc
)
SELECT d.doc_id,
  COALESCE(s // {_ARGMAX_SHIFT} + {CONTAM_N - 1}, 0)::BIGINT
    AS longest_run_tokens,
  ({_ARGMAX_SHIFT - 1} - s % {_ARGMAX_SHIFT})::BIGINT AS best_train_doc,
  COALESCE(n_train_docs, 0)::BIGINT AS n_train_docs
FROM (SELECT doc_id FROM documents WHERE doc_id % {EVAL_MOD} = 0) d
LEFT JOIN hits ON d.doc_id = e_doc
ORDER BY d.doc_id
"""



# ---------------------------------------------------------------------------
# Gopher repetition battery (Rae et al. 2021, Appendix A1.1)
# ---------------------------------------------------------------------------
#
# The Gopher/MassiveText quality filter removes documents dominated by
# repeated n-grams.  Two families, both per-document:
#   * top-n-gram share (n = 2, 3, 4): fraction of token positions
#     covered by the single most frequent n-gram;
#   * duplicated-5-gram coverage: fraction of token positions covered
#     by ANY 5-gram occurring more than once in the document.
# Everything is (doc, gram)-grain wordcount aggregation plus one
# position-coverage explode — map-side combinable, row-local per doc,
# no cross-document state (the cross-document metric is
# dedup_paragraphs).  repetition_stats keeps the cheap token-level
# signals; this adds the n-gram ones training pipelines actually gate
# on.  Ties for "most frequent" break identically in both engines
# because only the COUNT (not the gram) reaches the output.

DUP_GRAM_N = 5


def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, top2_share, top3_share, top4_share,
    dup5_coverage) per non-empty document."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", words.alias("w"), F.size(words).alias("n")
    )

    # Every output column is a PER-DOCUMENT statistic, so the whole
    # query is map-only (r13): the old shape exploded the corpus into
    # five (doc_id, gram) pipelines — four groupBy shuffles plus a
    # self-join — and stitched them back with four doc_id joins.  Run
    # lengths in the per-doc sorted gram-hash array give the same
    # multiplicities with zero exchanges (grouping by xxhash64 gram
    # hash, exactly as before).

    def gram_hash(n, i):
        return F.xxhash64(
            F.concat_ws(
                " ",
                *[F.element_at(F.col("w"), i + j) for j in range(n)],
            )
        )

    def gram_arr(n):
        # empty below n tokens (the old n >= gram-length filter; also
        # keeps sequence() ascending)
        return F.when(
            F.col("n") >= n,
            F.transform(
                F.sequence(F.lit(1), F.col("n") - (n - 1)),
                lambda i: gram_hash(n, i),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    def max_mult(arr):
        # max multiplicity == longest equal-run in the sorted array
        gs = F.array_sort(arr)
        init = F.struct(
            F.lit(0).cast("bigint").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        )

        def step(acc, x):
            run = F.when(
                (acc["run"] > 0) & (x == acc["prev"]), acc["run"] + 1
            ).otherwise(F.lit(1).cast("bigint"))
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        return F.aggregate(gs, init, step, lambda acc: acc["best"])

    def top_share(n):
        return F.round(
            (max_mult(gram_arr(n)) * n).cast("double")
            / F.col("n").cast("double"),
            6,
        )

    # dup5 coverage: positions covered by >= 2x 5-grams.  Sort (g, pos)
    # pairs so a gram's occurrences are adjacent; a pair is repeated
    # iff its neighbor shares the hash (F.get is 0-based and
    # null-padding at the edges, and NULL == x is never true); the
    # covered-position count is then an interval-union scan over the
    # ascending start positions — identical to the old
    # explode(sequence(pos, pos+4)).distinct().count().
    k5 = DUP_GRAM_N
    sp_expr = F.array_sort(
        F.when(
            F.col("n") >= k5,
            F.transform(
                F.sequence(F.lit(1), F.col("n") - (k5 - 1)),
                lambda i: F.struct(
                    gram_hash(k5, i).alias("g"), i.alias("pos")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<g:bigint,pos:int>>"))
    )
    # sp MUST be a materialized column before the neighbor lookups: a
    # lambda capturing the raw expression re-evaluates the whole
    # array_sort per element (measured O(len^2): 9.8 s vs 0.x s)
    sp = F.col("sp")
    dup_ps = F.array_sort(
        F.transform(
            F.filter(
                sp,
                lambda x, i: (x["g"] == F.get(sp, i - 1)["g"])
                | (x["g"] == F.get(sp, i + 1)["g"]),
            ),
            lambda x: x["pos"],
        )
    )
    cov_init = F.struct(
        F.lit(0).cast("bigint").alias("last_end"),
        F.lit(0).cast("bigint").alias("total"),
    )

    def cov_step(acc, p):
        hi = (p + F.lit(k5 - 1)).cast("bigint")
        start = F.greatest(p.cast("bigint"), acc["last_end"] + 1)
        add = F.greatest(F.lit(0).cast("bigint"), hi - start + 1)
        return F.struct(
            F.greatest(acc["last_end"], hi).alias("last_end"),
            (acc["total"] + add).alias("total"),
        )

    covered = F.aggregate(dup_ps, cov_init, cov_step, lambda a: a["total"])
    return (
        base.withColumn("sp", sp_expr)
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            top_share(2).alias("top2_share"),
            top_share(3).alias("top3_share"),
            top_share(4).alias("top4_share"),
            F.round(
                covered.cast("double") / F.col("n").cast("double"), 6
            ).alias("dup5_coverage"),
        )
        .orderBy("doc_id")
    )


def _gopher_gram_cte(n, name):
    return f"""
{name} AS (
  SELECT doc_id, n, u.i::BIGINT AS pos,
    array_to_string(w[u.i : u.i + {n - 1}], ' ') AS g
  FROM base, UNNEST(range(1, n - {n - 2})) AS u(i)
  WHERE n >= {n}
)"""


_GOPHER_SQL = f"""
WITH base AS (
  SELECT doc_id,
    regexp_split_to_array(lower(trim(text)), '\\s+') AS w,
    len(regexp_split_to_array(lower(trim(text)), '\\s+'))::BIGINT AS n
  FROM documents WHERE trim(text) <> ''
),
{_gopher_gram_cte(2, 'g2')},
{_gopher_gram_cte(3, 'g3')},
{_gopher_gram_cte(4, 'g4')},
{_gopher_gram_cte(5, 'g5')},
t2 AS (
  SELECT doc_id, ROUND((MAX(c) * 2)::DOUBLE / ANY_VALUE(n)::DOUBLE, 6)
    AS top2_share
  FROM (SELECT doc_id, n, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2, 3)
  GROUP BY doc_id
),
t3 AS (
  SELECT doc_id, ROUND((MAX(c) * 3)::DOUBLE / ANY_VALUE(n)::DOUBLE, 6)
    AS top3_share
  FROM (SELECT doc_id, n, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2, 3)
  GROUP BY doc_id
),
t4 AS (
  SELECT doc_id, ROUND((MAX(c) * 4)::DOUBLE / ANY_VALUE(n)::DOUBLE, 6)
    AS top4_share
  FROM (SELECT doc_id, n, g, COUNT(*) AS c FROM g4 GROUP BY 1, 2, 3)
  GROUP BY doc_id
),
c5 AS (SELECT doc_id, g, COUNT(*) AS c FROM g5 GROUP BY 1, 2),
dp AS (
  SELECT doc_id, COUNT(*)::BIGINT AS covered FROM (
    SELECT DISTINCT g5.doc_id, u.p
    FROM g5 JOIN c5 ON g5.doc_id = c5.doc_id AND g5.g = c5.g,
      UNNEST(range(g5.pos, g5.pos + {DUP_GRAM_N})) AS u(p)
    WHERE c5.c > 1
  ) GROUP BY doc_id
)
SELECT base.doc_id, n AS n_tokens,
  COALESCE(top2_share, 0.0) AS top2_share,
  COALESCE(top3_share, 0.0) AS top3_share,
  COALESCE(top4_share, 0.0) AS top4_share,
  ROUND(COALESCE(covered, 0)::DOUBLE / n::DOUBLE, 6) AS dup5_coverage
FROM base
LEFT JOIN t2 ON base.doc_id = t2.doc_id
LEFT JOIN t3 ON base.doc_id = t3.doc_id
LEFT JOIN t4 ON base.doc_id = t4.doc_id
LEFT JOIN dp ON base.doc_id = dp.doc_id
ORDER BY base.doc_id
"""


# ---------------------------------------------------------------------------
# corpus-MUTATING curation verbs (VERDICT r5 item 3)
# ---------------------------------------------------------------------------
#
# The battery above FLAGS (repetition stats, contamination, Gopher
# gates) but only pii_redact rewrites text.  Real pipelines need the
# REMOVE step: emit the cleaned corpus, not just its diagnosis.  Two
# rewriting verbs, both proving their output text cell-exact via md5
# (the reference analogy is the cleansing stage of
# NyTaxiYellowTrip.scala:53-76 — zero-default the bad cells, keep the
# row — taken to document grain: drop the bad spans, keep the doc).
#
# Scale shapes:
#   * remove_repetition — span explode is narrow; the keep-first
#     decision is a window over (doc_id, span_text) — a composite
#     shuffle key at SPAN grain (never hot: a span repeated 10^6 times
#     within ONE document is the pathological case, and that document
#     is itself the skew unit); reassembly is one doc_id aggregate.
#   * strip_boilerplate — same two-aggregate shape as
#     dedup_paragraphs (vocabulary-grain paragraph stats, map-side
#     combinable MIN/COUNT) plus the doc_id reassembly aggregate;
#     nothing quadratic, no per-doc state beyond its own paragraphs.

REP_SPAN = 2  # non-overlapping span width for within-doc dedup


def remove_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repeated-span removal (keep-FIRST occurrence):
    the document is cut into non-overlapping REP_SPAN-token spans; a
    span whose exact text already occurred earlier in the same doc is
    dropped, and the survivors are reassembled in order.  Emits
    (doc_id, n_spans, n_dropped, clean_tokens, clean_md5) — clean_md5
    is the md5 of the rebuilt text, compared cell-exact vs DuckDB."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks_c = tokens(F.col("text"))
    d = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", toks_c.alias("toks"), F.size(toks_c).alias("n")
    )
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(REP_SPAN))
    spans = d.select(
        "doc_id", F.explode(starts).alias("start"), "toks"
    ).select(
        "doc_id",
        (F.col("start") / REP_SPAN).cast("long").alias("span_idx"),
        F.concat_ws(
            " ", F.slice("toks", F.col("start") + 1, F.lit(REP_SPAN))
        ).alias("stext"),
    )
    first = Window.partitionBy("doc_id", "stext")
    flagged = spans.withColumn(
        "is_dup", F.col("span_idx") > F.min("span_idx").over(first)
    )
    kept = F.when(
        ~F.col("is_dup"),
        F.struct(F.col("span_idx"), F.col("stext")),
    )
    clean = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept)), lambda x: x["stext"]
        ),
        " ",
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.col("is_dup").cast("long"))
            .cast("long")
            .alias("n_dropped"),
            clean.alias("ct"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dropped",
            F.size(tokens(F.col("ct"))).cast("long").alias(
                "clean_tokens"
            ),
            F.md5(F.col("ct")).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


_REMOVE_REP_SQL = f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks
  FROM documents WHERE trim(text) <> ''
),
s AS (
  SELECT doc_id, u.start // {REP_SPAN} AS span_idx,
    array_to_string(toks[u.start + 1 : u.start + {REP_SPAN}], ' ')
      AS stext
  FROM d, UNNEST(range(0, len(toks), {REP_SPAN})) AS u(start)
),
k AS (
  SELECT doc_id, span_idx, stext,
    span_idx > MIN(span_idx) OVER (PARTITION BY doc_id, stext)
      AS is_dup
  FROM s
),
g AS (
  SELECT doc_id,
    COUNT(*)::BIGINT AS n_spans,
    SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
    COALESCE(string_agg(CASE WHEN is_dup THEN NULL ELSE stext END,
                        ' ' ORDER BY span_idx), '') AS ct
  FROM k GROUP BY doc_id
)
SELECT doc_id, n_spans, n_dropped,
  len(CASE WHEN trim(ct) = '' THEN []::VARCHAR[]
       ELSE regexp_split_to_array(trim(ct), '\\s+') END)::BIGINT
    AS clean_tokens,
  md5(ct) AS clean_md5
FROM g
ORDER BY doc_id
"""


def strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate REMOVAL — the rewrite stage of
    dedup_paragraphs: every paragraph occurrence whose hash appears
    more than once corpus-wide keeps only its canonical (lowest
    packed doc/para position) copy, all others are dropped, and each
    document's text is rebuilt from its surviving paragraphs.  Emits
    (doc_id, n_paras, n_dropped, kept_tokens, clean_md5)."""
    from .dedup import PARA_TOKENS

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks_c = tokens(F.col("text"))
    d = docs.filter(F.trim(F.col("text")) != "").select(
        "doc_id", toks_c.alias("toks"), F.size(toks_c).alias("n")
    )
    starts = F.sequence(F.lit(0), F.col("n") - 1, F.lit(PARA_TOKENS))
    paras = d.select(
        "doc_id", F.explode(starts).alias("start"), "toks"
    ).select(
        "doc_id",
        (F.col("start") / PARA_TOKENS).cast("long").alias("para_idx"),
        F.concat_ws(
            " ", F.slice("toks", F.col("start") + 1, F.lit(PARA_TOKENS))
        ).alias("ptext"),
    ).select(
        "doc_id",
        "para_idx",
        "ptext",
        stable_hash64(F.col("ptext")).alias("para_hash"),
        F.size(F.split(F.col("ptext"), " ")).cast("long").alias("n_tok"),
    )
    pos = F.col("doc_id") * F.lit(1 << 20) + F.col("para_idx")
    stats = paras.groupBy("para_hash").agg(
        F.min(pos).alias("canon_pos"), F.count(F.lit(1)).alias("n_copies")
    )
    flagged = paras.join(stats, "para_hash").withColumn(
        "is_dup",
        (F.col("n_copies") > 1) & (pos != F.col("canon_pos")),
    )
    kept = F.when(
        ~F.col("is_dup"),
        F.struct(F.col("para_idx"), F.col("ptext")),
    )
    clean = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(kept)), lambda x: x["ptext"]
        ),
        " ",
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paras"),
            F.sum(F.col("is_dup").cast("long"))
            .cast("long")
            .alias("n_dropped"),
            F.sum(
                F.when(~F.col("is_dup"), F.col("n_tok")).otherwise(0)
            )
            .cast("long")
            .alias("kept_tokens"),
            clean.alias("ct"),
        )
        .select(
            "doc_id",
            "n_paras",
            "n_dropped",
            "kept_tokens",
            F.md5(F.col("ct")).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


def _strip_boiler_sql() -> str:
    from .dedup import PARA_TOKENS

    return f"""
WITH d AS (
  SELECT doc_id, {_SQL_TOKS} AS toks
  FROM documents WHERE trim(text) <> ''
),
p AS (
  SELECT doc_id,
    u.start // {PARA_TOKENS} AS para_idx,
    array_to_string(toks[u.start + 1 : u.start + {PARA_TOKENS}], ' ')
      AS ptext,
    len(toks[u.start + 1 : u.start + {PARA_TOKENS}])::BIGINT AS n_tok
  FROM d, UNNEST(range(0, len(toks), {PARA_TOKENS})) AS u(start)
),
h AS (
  SELECT doc_id, para_idx, ptext, n_tok,
    {SQL_STABLE_HASH64.format(x="ptext")} AS para_hash,
    doc_id * {1 << 20} + para_idx AS pos
  FROM p
),
st AS (
  SELECT para_hash, MIN(pos) AS canon_pos, COUNT(*) AS n_copies
  FROM h GROUP BY para_hash
),
f AS (
  SELECT h.*, (st.n_copies > 1 AND h.pos <> st.canon_pos) AS is_dup
  FROM h JOIN st USING (para_hash)
)
SELECT doc_id,
  COUNT(*)::BIGINT AS n_paras,
  SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
  SUM(CASE WHEN is_dup THEN 0 ELSE n_tok END)::BIGINT AS kept_tokens,
  md5(COALESCE(string_agg(CASE WHEN is_dup THEN NULL ELSE ptext END,
                          ' ' ORDER BY para_idx), '')) AS clean_md5
FROM f
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# cross-document duplicate n-gram fraction — the corpus-grain twin of
# gopher_repetition's within-doc signals
# ---------------------------------------------------------------------------
#
# MassiveText/Gopher gate documents on within-doc repetition (above);
# the CROSS-document signal — what share of a doc's distinct 8-grams
# occur in at least one OTHER document — is the memorization-risk
# audit from Lee et al. 2022 ("Deduplicating Training Data Makes
# Language Models Better", arXiv:2107.06499): high-dup-fraction docs
# are the ones whose spans the model will regurgitate.  Dedup REMOVES
# near-dups; this MEASURES residual cross-doc duplication after (or
# before) that pass, per document.
#
# Spark shape: distinct grams per doc (row-local), ONE shuffle keyed
# on the gram hash to get per-gram document frequency (map-side
# partial counts), a gram-keyed join back, and a per-doc aggregate —
# nothing quadratic, both sides bucket on gram at 100 TB.  Spark moves
# 64-bit gram hashes; the DuckDB twin keeps raw string grams — equal
# counts => bit-identical output, and the cross-engine match doubles
# as a standing collision check (the _shingle_frame precedent).

XDOC_GRAM_N = 8


def xdoc_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_grams, n_dup, dup_fraction) per document with >=
    XDOC_GRAM_N words: distinct word-8-grams and the share of them
    appearing in at least one other document."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = XDOC_GRAM_N
    grams = (
        docs.select("doc_id", words.alias("w"))
        .filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.size("w") - (n - 1)),
                        lambda i: F.xxhash64(
                            F.concat_ws(
                                " ",
                                *[
                                    F.element_at(F.col("w"), i + j)
                                    for j in range(n)
                                ],
                            )
                        ),
                    )
                )
            ).alias("g"),
        )
    )
    # per-gram document frequency: grams are distinct within a doc, so
    # COUNT(*) == the number of documents carrying the gram
    df = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        grams.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("long")).cast("long").alias(
                "n_dup"
            ),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup",
            F.round(
                F.col("n_dup").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


_XDOC_SQL = f"""
WITH g AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(
      range(1, len(w) - {XDOC_GRAM_N - 2}),
      i -> array_to_string(w[i : i + {XDOC_GRAM_N - 1}], ' ')
    ))) AS gram
  FROM (
    SELECT doc_id,
      regexp_split_to_array(lower(trim(text)), '\\s+') AS w
    FROM documents
  )
  WHERE len(w) >= {XDOC_GRAM_N}
),
df AS (SELECT gram, COUNT(*)::BIGINT AS df FROM g GROUP BY gram)
SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
  ROUND(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
    / COUNT(*)::DOUBLE, 6) AS dup_fraction
FROM g JOIN df USING (gram)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# duplicate-span extraction — the ExactSubstr removal plan
# ---------------------------------------------------------------------------
#
# Lee et al. 2022's second dedup level: not "drop near-dup DOCUMENTS"
# but "cut the exact repeated SPANS out of otherwise-unique documents"
# (their ExactSubstr, built on a suffix array).  The Spark-shaped
# equivalent: a word-8-gram occurs "duplicated" when the same gram
# appears at any OTHER (doc, pos) in the corpus (cross-doc or
# within-doc, like ExactSubstr); maximal runs of >= SPAN_MIN_RUN
# consecutive duplicated gram starts are the spans a removal pass
# would cut.  Plan: positional gram explode -> global occurrence
# count (one shuffle keyed on the gram hash, map-side partials) ->
# join back -> per-doc run grouping via the pos - row_number() trick
# (windows partitioned by doc_id — document grain, never corpus
# grain).  Exact integer positions/counts end to end; Spark moves
# gram hashes, the DuckDB twin raw strings (collision-check pattern).

SPAN_MIN_RUN = 3  # >= 3 consecutive 8-gram starts = >= 10-word span


def dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, span_start, n_grams, span_words) per maximal run of
    consecutive corpus-duplicated word-8-grams with run length >=
    SPAN_MIN_RUN; span_start is the 1-based word index, span_words =
    n_grams + 7."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = XDOC_GRAM_N
    grams = (
        docs.select("doc_id", words.alias("w"))
        .filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - (n - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.xxhash64(
                            F.concat_ws(
                                " ",
                                *[
                                    F.element_at(F.col("w"), i + j)
                                    for j in range(n)
                                ],
                            )
                        ).alias("g"),
                    ),
                )
            ).alias("e"),
        )
        .select("doc_id", F.col("e.pos").alias("pos"), F.col("e.g").alias("g"))
    )
    occ = grams.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    )
    dup = (
        grams.join(occ, "g")
        .filter(F.col("occ") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    return (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .filter(F.col("n_grams") >= SPAN_MIN_RUN)
        .select(
            "doc_id",
            "span_start",
            "n_grams",
            (F.col("n_grams") + (n - 1)).cast("long").alias("span_words"),
        )
    )


_DUP_SPANS_SQL = f"""
WITH g AS (
  SELECT doc_id, i AS pos,
    array_to_string(w[i : i + {XDOC_GRAM_N - 1}], ' ') AS gram
  FROM (
    SELECT doc_id,
      regexp_split_to_array(lower(trim(text)), '\\s+') AS w
    FROM documents
  ), unnest(range(1, len(w) - {XDOC_GRAM_N - 2})) AS t(i)
  WHERE len(w) >= {XDOC_GRAM_N}
),
occ AS (SELECT gram, COUNT(*)::BIGINT AS occ FROM g GROUP BY gram),
dup AS (
  SELECT doc_id, pos FROM g JOIN occ USING (gram) WHERE occ >= 2
),
runs AS (
  SELECT doc_id, pos,
    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dup
)
SELECT doc_id, MIN(pos)::BIGINT AS span_start,
  COUNT(*)::BIGINT AS n_grams,
  (COUNT(*) + {XDOC_GRAM_N - 1})::BIGINT AS span_words
FROM runs
GROUP BY doc_id, grp
HAVING COUNT(*) >= {SPAN_MIN_RUN}
"""


QUERIES = {
    "curation_dup_ngrams": Query(xdoc_dup_ngrams, _XDOC_SQL),
    "curation_dup_spans": Query(dup_spans, _DUP_SPANS_SQL),
    "curation_pack_sequences": Query(pack_sequences, _PACK_SQL),
    "curation_pii_redact": Query(pii_redact, _PII_SQL),
    "curation_chunk_windows": Query(chunk_windows, _CHUNK_SQL),
    "curation_repetition_stats": Query(repetition_stats, _REPETITION_SQL),
    "curation_gopher_repetition": Query(gopher_repetition, _GOPHER_SQL),
    "curation_ngram_contamination": Query(ngram_contamination, _CONTAM_SQL),
    "curation_substr_contamination": Query(
        substring_contamination, _SUBSTR_SQL
    ),
    "curation_bpe_pairs": Query(bpe_pair_counts, _BPE_SQL),
    "curation_bpe_train": Query(bpe_train, _bpe_train_sql()),
    "curation_bpe_train_batched": Query(
        bpe_train_batched, _bpe_train_batched_sql(), impure=True
    ),
    "curation_bpe_encode": Query(bpe_encode, _bpe_encode_sql()),
    "curation_bpe_fertility": Query(bpe_fertility, _bpe_fertility_sql()),
    "curation_url_strip": Query(url_strip, _URL_SQL),
    "curation_mix_sources": Query(mix_weighted_sources, _MIX_SQL),
    "curation_train_split": Query(train_test_split, _SPLIT_SQL),
    "curation_remove_repetition": Query(remove_repetition, _REMOVE_REP_SQL),
    "curation_strip_boilerplate": Query(
        strip_boilerplate, _strip_boiler_sql()
    ),
    "curation_decontaminate": Query(decontaminate, _DECONTAM_SQL),
}
