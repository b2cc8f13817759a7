"""Text analysis over the ``documents`` table.

Language-ID (stopword-hit heuristic), quality scoring (length / ratio
features), token counting (whitespace + regex tokenizer), and document
fingerprinting (min-hash-1 over shingles). Everything is built-in
column expressions — no Python in the hot path — so a 100 TB documents
table streams scan->project->agg with partial aggregation and zero
Python workers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import spec

#: tiny English stopword set used by the lang-id heuristic
EN_STOPWORDS = ("the", "a", "of", "and", "to")

def _words():
    return F.split(F.col("text"), " ")


def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per (lang, source): docs, chars, tokens, avg tokens.

    Token count = size(split(text,' ')) — UTF8String.split produces
    VIEWS into the original bytes (no copy), so this is cheaper than the
    replace-and-diff space count it replaces, which copies every string:
    measured at synthesized sf1 the split form adds ~0.01s over a bare
    sum(length(text)) scan vs +0.12s for replace.
    Identical value: #tokens == #spaces + 1, empty pieces included on
    both sides.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " "))
    per_doc = d.select("lang", "source", F.length("text").alias("chars"), toks.alias("toks"))
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("chars").alias("sum_chars"),
        F.sum("toks").alias("sum_toks"),
        (F.sum("toks").cast("double") / F.count(F.lit(1))).alias("avg_toks"),
    )


ORACLE_LLM_TEXT_STATS = """
SELECT
  lang,
  source,
  COUNT(*) AS n_docs,
  -- CAST: DuckDB SUM(BIGINT) is HUGEINT -> pandas float64; Spark emits
  -- int64, and the driver's hash is dtype-sensitive (round-2 hash FAIL)
  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
  CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS sum_toks,
  CAST(SUM(LEN(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_toks
FROM documents
GROUP BY lang, source
"""


def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-hit counting per candidate lang.

    A real deployment swaps the scoring table for per-language n-gram
    frequency profiles; the dataflow (filter-count over the token array,
    argmax across candidates) is identical and stays JVM-side.
    """
    d = table(spark, sf_dir, "documents")
    en_hits = F.size(
        F.filter(_words(), lambda w: w.isin(*EN_STOPWORDS))
    )
    return d.select(
        "doc_id",
        "lang",
        en_hits.alias("en_hits"),
        F.when(en_hits > 0, F.lit("en")).otherwise(F.lit("unk")).alias("pred_lang"),
    )


ORACLE_LLM_LANG_ID = """
SELECT
  doc_id,
  lang,
  LEN(list_filter(string_split(text, ' '),
      w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS en_hits,
  CASE WHEN LEN(list_filter(string_split(text, ' '),
      w -> w IN ('the', 'a', 'of', 'and', 'to'))) > 0
       THEN 'en' ELSE 'unk' END AS pred_lang
FROM documents
"""


def llm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, token, word-length and stopword features
    bucketed into a keep/drop signal (the C4/Gopher-style rule family)."""
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(_words())
    chars_ns = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    stop_hits = F.size(F.filter(_words(), lambda w: w.isin(*EN_STOPWORDS)))
    avg_wlen = chars_ns.cast("double") / n_tok
    stop_ratio = stop_hits.cast("double") / n_tok
    return d.select(
        "doc_id",
        F.length("text").alias("n_char"),
        n_tok.alias("n_tok"),
        avg_wlen.alias("avg_wlen"),
        stop_ratio.alias("stop_ratio"),
        F.when(
            (n_tok >= 20) & (n_tok <= 500) & (avg_wlen >= 2.0) & (avg_wlen <= 12.0),
            F.lit("keep"),
        )
        .otherwise(F.lit("drop"))
        .alias("verdict"),
    )


#: ensemble weights / caps — chosen so every band occurs at every SF
#: (measured score distribution at sf0.001/0.01/0.1: min ~0.21,
#: p20 ~0.34, p80 ~0.43, max ~0.53)
ENS_LEN_CAP = 100
ENS_STOP_CAP = 0.5
ENS_HIGH = 0.43
ENS_MID = 0.34


def llm_quality_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-signal fusion: one 0-1 score per document from three
    normalized signals (length, stopword density, lexical diversity),
    banded into high/mid/low — the "combine weak classifiers into one
    sampling score" stage that follows the individual C4/Gopher-style
    rules (llm_quality, llm_quality_repetition).

    The fusion is deliberately LINEAR (weighted sum of capped ratios,
    no transcendentals): every term is a single IEEE-double op that
    both engines evaluate identically, so the driver's hash check
    covers the scoring math bit-for-bit — a logistic link would differ
    in the last ulp between java.lang.Math.exp and libm. Pure
    per-row projection over one split: no explode, no shuffle,
    embarrassingly parallel at 100 TB; the score feeds
    llm_sample_importance-style weighted sampling downstream.
    """
    d = table(spark, sf_dir, "documents")
    ws = _words()
    n_tok = F.size(ws)
    stop_hits = F.size(F.filter(ws, lambda w: w.isin(*EN_STOPWORDS)))
    len_norm = F.least(n_tok, F.lit(ENS_LEN_CAP)).cast("double") / F.lit(
        float(ENS_LEN_CAP)
    )
    stop_norm = (
        F.least(
            stop_hits.cast("double") / n_tok.cast("double"),
            F.lit(ENS_STOP_CAP),
        )
        / F.lit(ENS_STOP_CAP)
    )
    uniq_ratio = F.size(F.array_distinct(ws)).cast("double") / n_tok.cast(
        "double"
    )
    score = (
        F.lit(0.35) * len_norm
        + F.lit(0.35) * stop_norm
        + F.lit(0.30) * uniq_ratio
    )
    return d.select(
        "doc_id",
        F.round(score, 6).alias("score"),
        F.when(score >= ENS_HIGH, F.lit("high"))
        .when(score >= ENS_MID, F.lit("mid"))
        .otherwise(F.lit("low"))
        .alias("band"),
    )


ORACLE_LLM_QUALITY_ENSEMBLE = f"""
WITH f AS (
  SELECT
    doc_id,
    string_split(text, ' ') AS ws,
    LEN(string_split(text, ' ')) AS n_tok
  FROM documents
),
s AS (
  SELECT
    doc_id,
    CAST(LEAST(n_tok, {ENS_LEN_CAP}) AS DOUBLE)
      / CAST({ENS_LEN_CAP} AS DOUBLE) AS len_norm,
    LEAST(
      CAST(LEN(list_filter(ws,
          w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
        / CAST(n_tok AS DOUBLE),
      CAST({ENS_STOP_CAP} AS DOUBLE)
    ) / CAST({ENS_STOP_CAP} AS DOUBLE) AS stop_norm,
    CAST(LEN(list_distinct(ws)) AS DOUBLE)
      / CAST(n_tok AS DOUBLE) AS uniq_ratio
  FROM f
),
sc AS (
  SELECT doc_id,
    CAST(0.35 AS DOUBLE) * len_norm
      + CAST(0.35 AS DOUBLE) * stop_norm
      + CAST(0.30 AS DOUBLE) * uniq_ratio AS score
  FROM s
)
SELECT doc_id, ROUND(score, 6) AS score,
  CASE WHEN score >= {ENS_HIGH} THEN 'high'
       WHEN score >= {ENS_MID} THEN 'mid'
       ELSE 'low' END AS band
FROM sc
"""


ORACLE_LLM_QUALITY = """
WITH f AS (
  SELECT
    doc_id,
    LENGTH(text) AS n_char,
    LEN(string_split(text, ' ')) AS n_tok,
    CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
      / LEN(string_split(text, ' ')) AS avg_wlen,
    CAST(LEN(list_filter(string_split(text, ' '),
        w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
      / LEN(string_split(text, ' ')) AS stop_ratio
  FROM documents
)
SELECT
  doc_id, n_char, n_tok, avg_wlen, stop_ratio,
  CASE WHEN n_tok >= 20 AND n_tok <= 500
        AND avg_wlen >= 2.0 AND avg_wlen <= 12.0
       THEN 'keep' ELSE 'drop' END AS verdict
FROM f
"""

#: Gopher-style repetition gates (Rae et al. 2021 use duplicate-n-gram
#: fractions; thresholds here are tuned to the synthetic corpus so both
#: verdicts occur at every SF)
REP_WORD_MAX = 0.55
REP_BIGRAM_MAX = 0.20


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Repetition-based quality filter: duplicate-word and
    duplicate-bigram fractions -> repetitive flag.

    The Gopher rule family's "excessive repetition" signal: a document
    whose token stream keeps re-using the same words/bigrams is boiler-
    plate or spam. Both fractions are pure array expressions over one
    split projection (size vs array_distinct size) — no explode, no
    shuffle, embarrassingly parallel at 100 TB. The bigram list reuses
    the SHINGLES_FROM_WS slice/array_join construction (n=2).
    """
    base = docs.select("doc_id", _words().alias("ws")).select(
        "doc_id",
        "ws",
        F.expr(
            """
            CASE WHEN size(ws) >= 2
                 THEN transform(sequence(1, size(ws) - 1),
                                i -> array_join(slice(ws, i, 2), ' '))
                 ELSE CAST(array() AS array<string>)
            END
            """
        ).alias("bg"),
    )
    dup_word = F.round(
        F.lit(1.0)
        - F.size(F.array_distinct("ws")).cast("double") / F.size("ws"),
        6,
    )
    dup_bigram = F.when(
        F.size("bg") > 0,
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("bg")).cast("double") / F.size("bg"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return base.select(
        "doc_id",
        F.size("ws").alias("n_tok"),
        dup_word.alias("dup_word_frac"),
        dup_bigram.alias("dup_bigram_frac"),
        (
            (dup_word > F.lit(REP_WORD_MAX))
            | (dup_bigram > F.lit(REP_BIGRAM_MAX))
        ).alias("repetitive"),
    )


def llm_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_metrics(table(spark, sf_dir, "documents"))


ORACLE_LLM_QUALITY_REPETITION = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
b AS (
  SELECT doc_id, ws,
         CASE WHEN LEN(ws) >= 2
              THEN [array_to_string(ws[i:i+1], ' ')
                    for i in generate_series(1, LEN(ws) - 1)]
              ELSE CAST([] AS VARCHAR[]) END AS bg
  FROM w
),
fr AS (
  SELECT doc_id,
         LEN(ws) AS n_tok,
         ROUND(1.0 - CAST(LEN(list_distinct(ws)) AS DOUBLE) / LEN(ws), 6)
           AS dup_word_frac,
         CASE WHEN LEN(bg) > 0
              THEN ROUND(1.0 - CAST(LEN(list_distinct(bg)) AS DOUBLE)
                               / LEN(bg), 6)
              ELSE 0.0 END AS dup_bigram_frac
  FROM b
)
SELECT *,
       (dup_word_frac > {REP_WORD_MAX} OR dup_bigram_frac > {REP_BIGRAM_MAX})
         AS repetitive
FROM fr
"""


def llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex tokenizer
    (alpha runs / digit runs / single punctuation)."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_words()).alias("n_ws_tok"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), F.lit(0)
            )
        ).alias("n_re_tok"),
    )


ORACLE_LLM_TOKEN_COUNT = """
SELECT
  doc_id,
  LEN(string_split(text, ' ')) AS n_ws_tok,
  LEN(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_re_tok
FROM documents
"""


#: 4-word shingles over a pre-projected word array ``ws``. The split MUST
#: be projected into its own column first: inlining split(text) inside the
#: transform lambda re-evaluates it per element -> O(tokens^2) per doc
#: (measured 6x slower end-to-end at sf0.1).
SHINGLES_FROM_WS = """
CASE WHEN size(ws) >= 4
     THEN transform(
            sequence(1, size(ws) - 3),
            i -> array_join(slice(ws, i, 4), ' '))
     ELSE array(text)
END
"""


def normalized_text() -> F.Column:
    """lower + trim + whitespace collapse (the canonical normalizer,
    shared by exact dedup and the cleaning pipeline)."""
    return F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))


def with_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ws, shingles): the shared shingling projection."""
    return docs.select(
        "doc_id", "text", F.split(F.col("text"), " ").alias("ws")
    ).select("doc_id", "text", F.expr(SHINGLES_FROM_WS).alias("shingles"))


def llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min MD5 over 4-gram shingles (minhash k=1).

    The winnowing-style representative hash — equal fingerprints are
    near-dup candidates; used as a cheap pre-cluster key before the full
    MinHash LSH in llm/dedup.py.
    """
    d = with_shingles(table(spark, sf_dir, "documents"))
    fp = F.array_min(F.transform("shingles", lambda s: F.md5(s)))
    return d.select("doc_id", fp.alias("fingerprint"))


ORACLE_LLM_FINGERPRINT = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws, text FROM documents
)
SELECT
  doc_id,
  CASE WHEN LEN(ws) >= 4
       THEN list_aggregate(
              [md5(array_to_string(ws[i:i+3], ' '))
               for i in generate_series(1, LEN(ws) - 3)], 'min')
       ELSE md5(text)
  END AS fingerprint
FROM w
"""


def llm_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM counterpart of the reference flagship: a full corpus-
    cleaning pass as ONE declarative plan.

        documents
          -> quality gate   (token count / word length bounds)   [C4-style]
          -> language gate  (stopword-hit heuristic)
          -> exact dedup    (content-hash argmin keeps lowest id)
          -> survivors      + per-doc token count and dedup provenance

    Every stage is a narrow projection or one map-side-combined
    aggregate; the only shuffle is the dedup group-by on the 16-byte
    content hash. At 100 TB this IS the shape of a pretraining-corpus
    clean: gates first (cheap, prune early), hash-dedup on digests
    (never shuffles text), survivors carry provenance for audit.
    """
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(_words())
    chars_ns = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    avg_wlen = chars_ns.cast("double") / n_tok
    en_hits = F.size(F.filter(_words(), lambda w: w.isin(*EN_STOPWORDS)))
    gated = d.select(
        "doc_id", "text", n_tok.alias("n_tok"), en_hits.alias("en_hits"),
        avg_wlen.alias("avg_wlen"),
    ).filter(
        (F.col("n_tok") >= 20) & (F.col("n_tok") <= 500)
        & (F.col("avg_wlen") >= 2.0) & (F.col("avg_wlen") <= 12.0)
        & (F.col("en_hits") > 0)
    )
    hashed = gated.select(
        "doc_id", "n_tok", F.md5(normalized_text()).alias("content_hash")
    )
    keepers = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return (
        hashed.join(keepers, "content_hash")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "n_tok", "content_hash", "n_copies")
    )


ORACLE_LLM_CLEAN_PIPELINE = """
WITH gated AS (
  SELECT
    doc_id,
    text,
    LEN(string_split(text, ' ')) AS n_tok
  FROM documents
  WHERE LEN(string_split(text, ' ')) BETWEEN 20 AND 500
    AND CAST(LEN(REPLACE(text, ' ', '')) AS DOUBLE)
        / LEN(string_split(text, ' ')) BETWEEN 2.0 AND 12.0
    AND LEN(list_filter(string_split(text, ' '),
            w -> w IN ('the', 'a', 'of', 'and', 'to'))) > 0
),
hashed AS (
  SELECT doc_id, n_tok,
         md5(LOWER(TRIM(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash
  FROM gated
),
keepers AS (
  SELECT content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
  FROM hashed GROUP BY content_hash
)
SELECT h.doc_id, h.n_tok, h.content_hash, k.n_copies
FROM hashed h JOIN keepers k USING (content_hash)
WHERE h.doc_id = k.keep_id
"""


TFIDF_TOP_TERMS = 5

#: corpus-size gate for broadcasting the per-term doc-frequency table:
#: Heaps' law puts the vocabulary of a 10M-doc corpus in the tens of
#: millions of terms (~GB-scale with counts) — at or past that, the
#: scoring join runs term-shuffled instead of broadcast. The testdata
#: scales sit far below the gate, so the benched plan is the broadcast
#: one; the gate exists so the documented 100 TB remedy is executable.
TFIDF_BROADCAST_MAX_DOCS = 10_000_000


def llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per document by TF-IDF.

    The ranking key is the EXACT integer ``tf * N * 10^6 div df``
    (linear inverse document frequency in parts-per-million): both
    engines compute identical longs, so ordering and values are
    bit-stable. The textbook log-idf is a one-line change — but Java's
    Math.log and DuckDB's ln disagree in the last ulp (~9% of inputs,
    measured), which poisons a hash-compared oracle; the linear form
    ranks almost identically at corpus scale and keeps the gate exact.

    Shape at 100 TB (r14, found by the bench rotation at 4.6x): ONE
    row-scale exchange — the documents repartition by doc_id BEFORE
    the explode (doc-scale wire, pre-tokenization). Everything
    downstream reuses that partitioning exchange-free: the (doc, term)
    aggregate and the per-doc top-k window both have their clustering
    satisfied by HashPartitioning(doc_id) (the r13 lesson from
    win_session_attribution's plan). The per-term doc-frequency table
    aggregates off the tf table (vocabulary-sized, map-side combined)
    and BROADCASTS back — a Heaps-law vocabulary is sublinear in the
    corpus but a 100 TB crawl can exceed broadcast memory: that regime
    trades this broadcast for a term-shuffled join (both sides
    re-keyed by term) at the cost of re-exchanging tf and the window.
    The trade is a CODE PATH, not a manual rewrite (r14 advice): the
    broadcast is gated on the corpus row count already in hand from
    the parquet footer (``TFIDF_BROADCAST_MAX_DOCS``, a Heaps-law
    proxy for vocabulary size — no extra job), and past the gate the
    join runs term-shuffled.
    tf is localCheckpointed (the llm_bm25 r10 lesson): it feeds BOTH
    the df aggregate and the scoring join, and without the checkpoint
    the corpus tokenizes twice. The corpus size N is a metadata
    lookup, not a job.
    """
    import pyarrow.parquet as pq

    n_docs = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    d = table(spark, sf_dir, "documents")
    terms = d.repartition("doc_id").select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).filter(F.length("term") >= 3)
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if n_docs <= TFIDF_BROADCAST_MAX_DOCS:
        df_ = F.broadcast(df_)
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        # `div` is exact long integer division — no float in the ranking
        # key (Spark casts double->long by truncation, DuckDB by
        # rounding, so a float path would diverge at .5 boundaries)
        F.expr(f"tf * 1000000L * {n_docs}L div df").alias("score_ppm"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_ppm").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_TERMS)
        .select("doc_id", "term", "tf", "df", "score_ppm", "rk")
    )


ORACLE_LLM_TFIDF = """
WITH terms AS (
  SELECT doc_id, unnest(string_split(LOWER(text), ' ')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM terms WHERE LEN(term) >= 3
  GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT
    tf.doc_id, tf.term, tf.tf, df.df,
    (tf.tf * 1000000 * n.n_docs) // df.df AS score_ppm
  FROM tf JOIN df ON tf.term = df.term, n
)
SELECT doc_id, term, tf, df, score_ppm, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score_ppm DESC, term
  ) AS rk
  FROM scored
)
WHERE rk <= 5
"""


#: RE2-compatible PII patterns (no lookaround), applied in fixed order.
PII_RULES = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b(?:\d[ -]?){13,16}\b", "<CARD>"),
)


def scrub_pii(col: F.Column) -> F.Column:
    """Chained regexp_replace over the rule list — one codegen'd
    expression, no Python. Order matters (card before phone would
    mis-mask), so rules apply in declaration order in both engines."""
    out = col
    for pat, repl in PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: mask emails/phones/SSNs/card-like numbers.

    A standard pre-training hygiene stage: the scrubbed text replaces
    the raw column downstream, and the per-doc redaction count is kept
    as metadata (a spike flags a source that needs exclusion, not just
    masking). Purely narrow (scan -> regexp chain), so it runs at scan
    speed and composes in front of dedup/quality in clean_pipeline
    fashion. The synthetic corpus contains no planted PII, so the
    interesting assertions are the zero-diff invariants — which is
    exactly what a hash-compared oracle checks end to end.
    """
    d = table(spark, sf_dir, "documents")
    scrubbed = scrub_pii(F.col("text"))
    return d.select(
        "doc_id",
        scrubbed.alias("clean_text"),
        (F.length("text") - F.length(scrubbed)).alias("chars_removed"),
        (scrubbed != F.col("text")).alias("was_redacted"),
    )


ORACLE_LLM_PII_SCRUB = """
WITH s AS (
  SELECT
    doc_id,
    text,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
        '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
      '\\b(?:\\d[ -]?){13,16}\\b', '<CARD>', 'g') AS clean_text
  FROM documents
)
SELECT
  doc_id,
  clean_text,
  LENGTH(text) - LENGTH(clean_text) AS chars_removed,
  clean_text <> text AS was_redacted
FROM s
"""


N_BENCHMARK_DOCS = 20  # stand-in eval set: the first N docs by id


def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop training docs that overlap the
    eval set.

    The stage every serious pre-training pipeline runs AFTER dedup:
    remove corpus documents sharing content with held-out benchmarks so
    eval scores measure generalization, not memorization. Overlap =
    shared 4-gram shingle (the n-gram-collision criterion); the eval
    set's shingles are tiny, so contamination detection is a broadcast
    LEFT ANTI join against them — the corpus side streams through with
    no shuffle at 100 TB. The eval set here is the first N docs by id
    (deterministic stand-in for an external benchmark file).
    """
    docs = table(spark, sf_dir, "documents")
    sh = with_shingles(docs).select(
        "doc_id", F.explode(F.array_distinct("shingles")).alias("s")
    )
    bench_shingles = (
        sh.filter(F.col("doc_id") < N_BENCHMARK_DOCS).select("s").distinct()
    )
    contaminated = sh.filter(F.col("doc_id") >= N_BENCHMARK_DOCS).join(
        F.broadcast(bench_shingles), "s", "left_semi"
    ).select("doc_id").distinct()
    return (
        docs.filter(F.col("doc_id") >= N_BENCHMARK_DOCS)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


ORACLE_LLM_DECONTAMINATE = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws, text FROM documents
),
sh AS (
  SELECT doc_id, UNNEST(
    CASE WHEN LEN(ws) >= 4
         THEN [array_to_string(ws[i:i+3], ' ')
               for i in generate_series(1, LEN(ws) - 3)]
         ELSE [text] END) AS s
  FROM w
),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
contaminated AS (
  SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (s)
  WHERE sh.doc_id >= 20
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE d.doc_id >= 20
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


BM25_TERMS = ("query", "table", "spark")  # fixed retrieval query
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 15


def llm_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring of a fixed term query over the corpus.

    The search-side companion to the dedup/quality family: score(d) =
    sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)). Corpus stats
    (N, avgdl, per-term df) reduce to ONE row that broadcast-joins onto
    the scoring scan — the scalar-subquery pattern, no second pass at
    query time in production (stats come from the index build).

    idf uses the LINEAR odds (N-df+0.5)/(df+0.5), not its log: +,-,*,/
    are IEEE-exact and bit-identical cross-engine, while Java and DuckDB
    ln() disagree in the last ulp on ~9% of inputs (measured, see
    llm_tfidf) — same ranking family, hash-exact oracle. Terms are
    summed in fixed order so the float sum is order-identical too.
    """
    d = table(spark, sf_dir, "documents")
    # tf via split + array_remove: split(text,' ') produces VIEWS into
    # the original UTF8String bytes (no copy), and size(ws) -
    # size(array_remove(ws, t)) counts exact token equality. Measured
    # per pass at synthesized sf1: 0.43s vs 1.22s
    # for the padded-substring-count it replaces (whose
    # replace(' ','  ') rewrote every byte of the corpus per pass) and
    # 0.78s for the interpreted higher-order filter form. dl =
    # size(split) = #spaces + 1, empty pieces included.
    #
    # base feeds BOTH the stats agg and the scoring scan; without the
    # checkpoint the corpus tokenizes TWICE (DuckDB materializes the
    # equivalent CTE once — that asymmetry was the whole 2.59x r10 sf1
    # gap). The checkpoint is (doc_id, dl, tf0..2) — 5 ints/doc, the
    # "index build" production BM25 amortizes anyway; measured sf1:
    # 1.87 s -> 1.09 s (SCALE.md §25c).
    ws = F.split("text", " ")
    tf_cols = [
        (F.size(ws) - F.size(F.array_remove(ws, t))).alias(f"tf{i}")
        for i, t in enumerate(BM25_TERMS)
    ]
    base = d.select(
        "doc_id", F.size(ws).alias("dl"), *tf_cols
    ).localCheckpoint(eager=False)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    n = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    norm = F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl").cast("double") / avgdl
    )
    score = F.lit(0.0)
    for i in range(len(BM25_TERMS)):
        tf = F.col(f"tf{i}").cast("double")
        df = F.col(f"df{i}").cast("double")
        idf = (n - df + F.lit(0.5)) / (df + F.lit(0.5))
        score = score + idf * tf * F.lit(BM25_K1 + 1.0) / (tf + norm)
    return (
        scored.select("doc_id", F.round(score, 4).alias("bm25"))
        .filter(F.col("bm25") > 0.0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOP_K)
    )


ORACLE_LLM_BM25 = """
WITH base AS (
  SELECT
    doc_id,
    LEN(string_split(text, ' ')) AS dl,
    LEN(list_filter(string_split(text, ' '), x -> x = 'query')) AS tf0,
    LEN(list_filter(string_split(text, ' '), x -> x = 'table')) AS tf1,
    LEN(list_filter(string_split(text, ' '), x -> x = 'spark')) AS tf2
  FROM documents
),
stats AS (
  SELECT
    COUNT(*) AS n_docs,
    SUM(dl) AS sum_dl,
    SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
    SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
  FROM base
)
SELECT doc_id, bm25 FROM (
  SELECT
    b.doc_id,
    ROUND(
      0.0
      + ((CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
        * CAST(tf0 AS DOUBLE) * 2.2
        / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
      + ((CAST(n_docs AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
        * CAST(tf1 AS DOUBLE) * 2.2
        / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
      + ((CAST(n_docs AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
        * CAST(tf2 AS DOUBLE) * 2.2
        / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
             / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))),
      4) AS bm25
  FROM base b CROSS JOIN stats
)
WHERE bm25 > 0.0
ORDER BY bm25 DESC, doc_id
LIMIT 15
"""


BIGRAM_TOP_N = 100


def llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model table: P(w2 | w1) for the corpus's most
    frequent bigrams — the count statistics a perplexity-based quality
    filter or contamination scorer trains on.

    Bigram extraction is array surgery, not a window: zip each token
    list against its own tail (slice + arrays_zip) and explode — the
    pair stream never needs cross-row context, so there is NO
    (doc, position) sort; the only shuffles are the two count
    aggregates. The conditional probability divides two exact BIGINT
    counts in double precision — one IEEE op, bit-identical in both
    engines. Top-N by (pair count desc, w1, w2) is a deterministic
    total order, and compiles to TakeOrderedAndProject. At 100 TB the
    bigram count table is vocabulary-sized (quadratic in vocab, not
    corpus) and the unigram join is a broadcast of the observed-w1
    dictionary.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pairs = d.select(
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
            )
        ).alias("z")
    ).select(F.col("z")["0"].alias("w1"), F.col("z")["1"].alias("w2"))
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    uni = bi.groupBy("w1").agg(F.sum("n_pair").alias("n_w1"))
    return (
        bi.join(uni, "w1")
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            (F.col("n_pair").cast("double") / F.col("n_w1")).alias("p_cond"),
        )
        .orderBy(F.col("n_pair").desc(), "w1", "w2")
        .limit(BIGRAM_TOP_N)
    )


ORACLE_LLM_BIGRAM_LM = """
WITH toks AS (
  SELECT string_split(text, ' ') AS l FROM documents
),
pairs AS (
  SELECT z[1] AS w1, z[2] AS w2
  FROM toks, UNNEST(list_zip(l[1:len(l)-1], l[2:len(l)])) AS u(z)
),
bi AS (
  SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2
),
uni AS (
  SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_w1 FROM bi GROUP BY w1
)
SELECT
  b.w1, b.w2, b.n_pair, u.n_w1,
  CAST(b.n_pair AS DOUBLE) / u.n_w1 AS p_cond
FROM bi b JOIN uni u USING (w1)
ORDER BY b.n_pair DESC, b.w1, b.w2
LIMIT 100
"""


#: RAG chunk geometry: 32-token windows, stride 24 (8-token overlap).
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def llm_chunk_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token-window chunking — the passage splitter
    in front of a RAG embedding/index stage (and the unit the
    passage-dedup operator consumes).

    Pure array surgery, zero Python: tokenize once, generate the
    stride-spaced start offsets with sequence(), posexplode to one row
    per chunk, slice + array_join to materialize the chunk text. Short
    documents yield exactly one (possibly sub-window) chunk — the
    greatest(1, ...) floor guarantees nothing is dropped. Stable chunk
    identity is (doc_id, chunk_idx), and start_tok/n_tokens make the
    mapping back into the source document exact — the provenance a
    retrieval index must keep.

    At 100 TB: narrow map-only plan, no shuffle, no UDF; output rows ~
    corpus_tokens / stride. The chunk text column dominates the bytes,
    which is exactly the payload an embedding stage needs next.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    starts = F.sequence(
        F.lit(1),
        F.greatest(
            F.lit(1), F.size(toks) - F.lit(CHUNK_TOKENS - CHUNK_STRIDE)
        ),
        F.lit(CHUNK_STRIDE),
    )
    chunked = d.select(
        "doc_id",
        toks.alias("toks"),
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    )
    chunk_toks = F.slice(F.col("toks"), F.col("start_tok"), CHUNK_TOKENS)
    return chunked.select(
        "doc_id",
        "chunk_idx",
        "start_tok",
        F.size(chunk_toks).alias("n_tokens"),
        F.array_join(chunk_toks, " ").alias("chunk_text"),
    )


ORACLE_LLM_CHUNK_RAG = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
chunked AS (
  SELECT
    doc_id, l,
    g.s AS start_tok,
    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY g.s) - 1
         AS INTEGER) AS chunk_idx
  FROM toks,
       LATERAL (
         SELECT UNNEST(generate_series(
           1,
           GREATEST(1, len(l) - {CHUNK_TOKENS - CHUNK_STRIDE}),
           {CHUNK_STRIDE})) AS s
       ) g
)
SELECT
  doc_id, chunk_idx, start_tok,
  CAST(len(l[start_tok:start_tok + {CHUNK_TOKENS - 1}]) AS INTEGER)
    AS n_tokens,
  array_to_string(l[start_tok:start_tok + {CHUNK_TOKENS - 1}], ' ')
    AS chunk_text
FROM chunked
"""

#: fixed-point scale for the bigram count-ratio score
BIGRAM_SCORE_SCALE = 1_000_000


def llm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fluency score under the corpus bigram model — the
    perplexity-style quality gate (docs whose word transitions are
    improbable under the corpus LM are boilerplate/garbage candidates).

    Train and score in one job: bigram counts n(w1,w2) and prefix
    totals n(w1) over the whole corpus, then every document bigram
    looks up its conditional count ratio. Exactness: instead of
    sum(log p) (float transcendental, engine-dependent), the score is
    the sum of integer fixed-point ratios n_pair * 1e6 // n_w1 — an
    exact BIGINT both engines agree on; the final per-doc mean is one
    IEEE division. Monotone-equivalent for ranking docs by average
    transition probability.

    At 100 TB: the model is vocabulary-squared, not corpus-sized, so
    the lookup join is a broadcast of the model against the exploded
    bigram stream (hinted); the two aggregates (model build, per-doc
    rollup) are the only shuffles.
    """
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pairs = d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
            )
        ).alias("z"),
    ).select(
        "doc_id", F.col("z")["0"].alias("w1"), F.col("z")["1"].alias("w2")
    )
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    uni = bi.groupBy("w1").agg(F.sum("n_pair").alias("n_w1"))
    model = bi.join(uni, "w1").select(
        "w1",
        "w2",
        F.expr(f"n_pair * {BIGRAM_SCORE_SCALE} div n_w1").alias("r_s6"),
    )
    scored = pairs.join(F.broadcast(model), ["w1", "w2"])
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("r_s6").alias("score_s6_sum"),
        (
            F.sum("r_s6").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_score_s6"),
    )


ORACLE_LLM_BIGRAM_SCORE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
pairs AS (
  SELECT doc_id, z[1] AS w1, z[2] AS w2
  FROM toks, UNNEST(list_zip(l[1:len(l)-1], l[2:len(l)])) AS u(z)
),
bi AS (
  SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2
),
uni AS (
  SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_w1 FROM bi GROUP BY w1
),
model AS (
  SELECT b.w1, b.w2,
         b.n_pair * {BIGRAM_SCORE_SCALE} // u.n_w1 AS r_s6
  FROM bi b JOIN uni u USING (w1)
)
SELECT
  p.doc_id,
  COUNT(*) AS n_bigrams,
  CAST(SUM(m.r_s6) AS BIGINT) AS score_s6_sum,
  CAST(SUM(m.r_s6) AS DOUBLE) / COUNT(*) AS avg_score_s6
FROM pairs p JOIN model m USING (w1, w2)
GROUP BY p.doc_id
"""


#: vocabulary size for the coverage audit. 256 keeps the vocab
#: broadcast-trivial at any corpus size (the top-K cut is where Zipf
#: mass concentrates; production would use the real tokenizer vocab).
VOCAB_K = 256


def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary audit against the corpus top-K
    word vocabulary — the tokenizer-coverage question every corpus +
    vocab pairing gets asked (how much text falls outside the vocab,
    and which documents are worst).

    Two aggregates: (1) the vocabulary itself — word counts collapse
    corpus-scale tokens to vocabulary-scale with map-side combine, and
    the top-K cut is totally ordered (count DESC, word ASC) so the
    vocab is deterministic; (2) the per-doc rollup — tokens left-join
    the BROADCAST vocab (K rows, never a shuffle) and count misses.
    Round-11 rework: the membership join runs on ``xxhash64`` BIGINT
    keys — the broadcast hash map probes 8 fixed bytes instead of
    variable-length text; round-12 refinement: the vocab word rides the
    broadcast and a hash MATCH must also pass string equality, so the
    operator is bit-exact (a hash collision cannot flip a count) while
    the probe stays a BIGINT lookup. Measured at synthesized sf1:
    3.15 s (string keys) -> 1.53 s. The one-tokenize TF-index
    alternative (pair-histogram exchange + localCheckpoint, the bm25
    shape) was A/B'd at 8.2 s — the (doc_id, word) exchange costs far
    more than the second scan it saves (SCALE.md §26a).

    Exactness: the rate is integer ppm (``n_oov * 1e6 div n_tok``) —
    a float division then ROUND would hit the half-boundary rule
    divergence at power-of-two token counts (e.g. 128 tokens, odd
    misses: odd*7812.5 is exactly representable and the engines round
    it differently).

    At 100 TB: vocab is kilobytes regardless of corpus size; the only
    corpus-scale exchanges are the word-count collapse and the per-doc
    rollup, both mergeable hash aggregates. Reference scope: beyond
    (tag "llm").
    """
    from pyspark.sql.functions import broadcast

    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    # The broadcast keeps the vocab WORD alongside its hash: the hash
    # map probe stays a BIGINT lookup, but a match must also pass
    # string equality before counting in-vocab — so an OOV token
    # colliding with a vocab word's xxhash64 is still OOV, making the
    # operator bit-exact against the string-equality oracle instead of
    # probabilistically exact (ADVICE r11). The equality compare runs
    # only on hash matches; cost is one 256-row string column in the
    # broadcast, unmeasurable.
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w")
        .limit(VOCAB_K)
        .select(F.xxhash64("w").alias("h"), F.col("w").alias("vw"))
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).withColumn("h", F.xxhash64("w"))
    return (
        toks.join(broadcast(vocab), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(
                F.when(
                    F.col("vw").isNotNull()
                    & (F.col("w") == F.col("vw")),
                    0,
                ).otherwise(1)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_oov",
            F.expr("n_oov * 1000000 div n_tok").alias("oov_ppm"),
        )
    )


ORACLE_LLM_VOCAB_COVERAGE = f"""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (
  SELECT w FROM (
    SELECT w, COUNT(*) AS n FROM words GROUP BY w
  ) ORDER BY n DESC, w LIMIT {VOCAB_K}
),
per AS (
  SELECT wo.doc_id,
         COUNT(*) AS n_tok,
         CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_oov
  FROM words wo LEFT JOIN vocab v ON wo.w = v.w
  GROUP BY wo.doc_id
)
SELECT doc_id, n_tok, n_oov,
       n_oov * 1000000 // n_tok AS oov_ppm
FROM per
"""


def llm_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity quality signals: type-token ratio
    and Simpson diversity index — the repetitive/templated-text
    detectors that complement llm_quality_repetition's n-gram form.

    Simpson is chosen over Shannon entropy DELIBERATELY: its index
    1 - sum((c_i/n)^2) has the integer-exact form
    ``(n^2 - sum(c_i^2)) * 1e6 div n^2``, so both engines agree
    bit-for-bit, where Shannon's sum of c*ln(c) is an order-sensitive
    float fold that diverges in the last ulp under shuffle reordering.
    Monotone-comparable for filtering: both rank templated text low.

    ONE doc-scale exchange (r15, the llm_tfidf lesson — was the 2.06x
    sf1 boundary row): documents repartition by doc_id BEFORE the
    explode (pre-tokenization wire), and both hash aggregates —
    (doc, word) counts and the per-doc rollup — have their clustering
    satisfied by HashPartitioning(doc_id), so neither re-shuffles the
    token- or (doc, word)-scale tables the old two-exchange form
    shipped (2.32 -> 1.52 s at sf1, same-window A/B; now under the
    DuckDB denominator). No windows, no UDFs, everything codegen.
    """
    d = table(spark, sf_dir, "documents")
    counts = (
        d.repartition("doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.expr("n_distinct * 1000000 div n_tokens").alias("ttr_ppm"),
        F.expr(
            "(n_tokens * n_tokens - sum_c2) * 1000000"
            " div (n_tokens * n_tokens)"
        ).alias("simpson_ppm"),
    )


ORACLE_LLM_LEXICAL_DIVERSITY = """
WITH counts AS (
  SELECT doc_id, w, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents)
  GROUP BY doc_id, w
),
per AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct,
       n_distinct * 1000000 // n_tokens AS ttr_ppm,
       (n_tokens * n_tokens - sum_c2) * 1000000
         // (n_tokens * n_tokens) AS simpson_ppm
FROM per
"""


#: perplexity-gate drop fraction: the worst quarter by LM score goes
PERPLEXITY_DROP_DEN = 4

#: score-bucket width in s6 fixed-point. avg_s6 = score_s6_sum div
#: n_bigrams is a probability ratio scaled by 1e6, so it lives in
#: [0, 1e6] and ``avg_s6 div 1000`` has AT MOST 1001 distinct values —
#: the histogram window's width is bounded a priori by a LITERAL, not
#: by the data (the CCNet-style perplexity-bucket discipline; r10
#: verdict item 5).
PERPLEXITY_QUANT_S6 = 1_000


def llm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-threshold quality gate on the corpus-LM fluency score —
    'drop the worst 25% of documents by bigram-LM score', the
    perplexity-filter pass of every large pretraining pipeline, with
    EXACT count semantics (ties broken by doc_id, so the kept set is
    bit-deterministic across engines, retries and partitionings).

    The gate ranks QUANTIZED scores (``avg_s6 div PERPLEXITY_QUANT_S6``
    — the CCNet-style perplexity bucket): documents collapse to the
    <=1001-row bucket histogram, a cumulative-count window over the
    buckets (width literally bounded, never data-dependent) gives each
    bucket its rank offset, and a per-bucket row_number finishes the
    rank. rank = cum_before(bucket) + tie_rank; drop iff
    rank <= n div 4. Scores are integer fixed-point end to end — no
    float anywhere in the decision, and the oracle quantizes
    identically so the kept set is hash-equal.

    At 100 TB: the histogram window is a <=1001-row single task by
    construction; everything else is hash joins against a broadcast
    histogram and a row_number bounded by the largest score bucket.
    """
    scored = llm_bigram_score(spark, sf_dir).select(
        "doc_id",
        "n_bigrams",
        F.expr("score_s6_sum div n_bigrams").alias("avg_s6"),
    ).withColumn("q_s6", F.expr(f"avg_s6 div {PERPLEXITY_QUANT_S6}"))
    hist = scored.groupBy("q_s6").agg(F.count(F.lit(1)).alias("cnt"))
    hw = Window.orderBy("q_s6")
    cum = hist.select(
        "q_s6",
        F.coalesce(
            F.sum("cnt").over(
                hw.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("cum_before"),
        F.sum("cnt")
        .over(hw.rowsBetween(Window.unboundedPreceding,
                             Window.unboundedFollowing))
        .alias("n_total"),
    )
    tie = Window.partitionBy("q_s6").orderBy("doc_id")
    ranked = (
        scored.join(F.broadcast(cum), "q_s6")
        .withColumn("tie_rank", F.row_number().over(tie))
        .withColumn("rank", F.col("cum_before") + F.col("tie_rank"))
    )
    return ranked.filter(
        F.col("rank") > F.expr(f"n_total div {PERPLEXITY_DROP_DEN}")
    ).select("doc_id", "n_bigrams", "avg_s6")


ORACLE_LLM_PERPLEXITY_FILTER = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
),
pairs AS (
  SELECT doc_id, z[1] AS w1, z[2] AS w2
  FROM toks, UNNEST(list_zip(l[1:len(l)-1], l[2:len(l)])) AS u(z)
),
bi AS (
  SELECT w1, w2, COUNT(*) AS n_pair FROM pairs GROUP BY w1, w2
),
uni AS (
  SELECT w1, CAST(SUM(n_pair) AS BIGINT) AS n_w1 FROM bi GROUP BY w1
),
model AS (
  SELECT b.w1, b.w2,
         b.n_pair * {BIGRAM_SCORE_SCALE} // u.n_w1 AS r_s6
  FROM bi b JOIN uni u USING (w1)
),
scored AS (
  SELECT p.doc_id,
         COUNT(*) AS n_bigrams,
         CAST(SUM(m.r_s6) AS BIGINT) // COUNT(*) AS avg_s6,
         CAST(SUM(m.r_s6) AS BIGINT) // COUNT(*)
           // {PERPLEXITY_QUANT_S6} AS q_s6
  FROM pairs p JOIN model m USING (w1, w2)
  GROUP BY p.doc_id
),
hist AS (
  SELECT q_s6, COUNT(*) AS cnt FROM scored GROUP BY q_s6
),
cum AS (
  SELECT q_s6,
    CAST(COALESCE(SUM(cnt) OVER (ORDER BY q_s6
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS cum_before,
    CAST(SUM(cnt) OVER () AS BIGINT) AS n_total
  FROM hist
),
ranked AS (
  SELECT s.doc_id, s.n_bigrams, s.avg_s6,
         c.cum_before
           + ROW_NUMBER() OVER (PARTITION BY s.q_s6 ORDER BY s.doc_id)
           AS rank,
         c.n_total
  FROM scored s JOIN cum c USING (q_s6)
)
SELECT doc_id, n_bigrams, avg_s6
FROM ranked WHERE rank > n_total // {PERPLEXITY_DROP_DEN}
"""


#: boilerplate shingle width (words) and the cross-document frequency
#: at which a shingle counts as boilerplate
BOILER_K = 4
BOILER_MIN_DOCS = 3


def llm_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate coverage per document — the RefinedWeb/CCNet-style
    template-text audit: a {BOILER_K}-word shingle that appears in >=
    {BOILER_MIN_DOCS} distinct documents is boilerplate (nav bars,
    license footers, scaffold text), and each document reports how much
    of it is covered by such shingles.

    Relational end to end, sharing llm_dedup_substring's machinery:
    stride-1 shingles with positions (posexplode over one
    sequence/slice transform), an exact distinct-doc count per shingle
    digest picks the boilerplate set, matched positions become
    intervals [p, p+K) and the classic lead()-gap arithmetic unions
    them WITHOUT an interval self-join — covered tokens = sum of
    min(next_start - start, K, tail). coverage_ppm is integer
    (``covered * 1e6 div n_tokens``), bit-equal across engines.

    At 100 TB: only (digest, doc_id, position) tuples shuffle — never
    text; the boilerplate set is frequency-pruned (Zipf: tiny relative
    to the shingle universe) so the match join's build side stays
    small; the coverage window sorts within documents only.

    The occurrence table is ``localCheckpoint``-pinned (r15, SCALE.md
    §30c): it feeds BOTH the boilerplate-set aggregate and the match
    join, and without the pin the stride-1 window build + md5 — the
    single most expensive projection in the plan, ~0.7 s of the 2.1 s
    sf0.1 absolute — ran twice (2.10 -> 1.61 s measured same-window).
    The digest build itself is NOT the lever: md5 adds nothing
    measurable over the window-string construction (0.59 vs 0.62 s),
    and a token-hash polynomial variant is blocked by ANSI overflow
    semantics.
    """
    K = BOILER_K
    d = table(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(ws).cast("long").alias("n_tokens"),
        F.greatest(F.size(ws) - K + 1, F.lit(1)).cast("long")
        .alias("n_windows"),
        ws.alias("w"),
    )
    wins = F.transform(
        F.sequence(F.lit(0), (F.col("n_windows") - 1).cast("int")),
        lambda i: F.array_join(F.slice("w", i + 1, K), " "),
    )
    occ = (
        base.select(
            "doc_id",
            "n_tokens",
            F.posexplode(wins).alias("w_idx", "win"),
        )
        .select("doc_id", "n_tokens", "w_idx", F.md5("win").alias("h"))
        .localCheckpoint(eager=False)
    )
    boiler = (
        occ.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= BOILER_MIN_DOCS)
        .select("h")
    )
    matched = occ.join(F.broadcast(boiler), "h")
    seq = Window.partitionBy("doc_id").orderBy("w_idx")
    covered = F.least(
        F.coalesce(F.lead("w_idx").over(seq) - F.col("w_idx"), F.lit(K)),
        F.lit(K),
        (F.col("n_tokens") - F.col("w_idx")).cast("int"),
    )
    per_doc = (
        matched.withColumn("covered", covered)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_boiler_windows"),
            F.sum("covered").cast("long").alias("covered_tokens"),
        )
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_boiler_windows", F.lit(0))
            .alias("n_boiler_windows"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.expr(
                "coalesce(covered_tokens, 0) * 1000000 div n_tokens"
            ).alias("coverage_ppm"),
        )
    )


ORACLE_LLM_BOILERPLATE_COVERAGE = f"""
WITH ws AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
base AS (
  SELECT doc_id, CAST(LEN(w) AS BIGINT) AS n_tokens,
         CAST(GREATEST(LEN(w) - {BOILER_K} + 1, 1) AS BIGINT)
           AS n_windows,
         w
  FROM ws
),
occ AS (
  SELECT doc_id, n_tokens, i AS w_idx,
         md5(array_to_string(w[i+1:i+{BOILER_K}], ' ')) AS h
  FROM base, UNNEST(range(n_windows)) AS t(i)
),
boiler AS (
  SELECT h FROM occ GROUP BY h
  HAVING COUNT(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
),
matched AS (
  SELECT o.* FROM occ o JOIN boiler USING (h)
),
spans AS (
  SELECT doc_id,
         LEAST(
           COALESCE(LEAD(w_idx) OVER (PARTITION BY doc_id ORDER BY w_idx)
                      - w_idx, {BOILER_K}),
           {BOILER_K},
           n_tokens - w_idx
         ) AS covered
  FROM matched
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_boiler_windows,
         CAST(SUM(covered) AS BIGINT) AS covered_tokens
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       COALESCE(p.n_boiler_windows, 0) AS n_boiler_windows,
       COALESCE(p.covered_tokens, 0) AS covered_tokens,
       COALESCE(p.covered_tokens, 0) * 1000000 // b.n_tokens
         AS coverage_ppm
FROM base b LEFT JOIN per_doc p USING (doc_id)
"""


#: winnowing window (fingerprints kept per w consecutive k-gram hashes)
WINNOW_W = 3


def llm_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every 4-gram shingle, slide a window of
    ``WINNOW_W`` hashes, keep the window minimum, emit the distinct
    selected hashes per document.

    Guarantees at least one fingerprint per ``WINNOW_W`` consecutive
    shingles (position-robust, unlike llm_fingerprint's single global
    min), which is what makes the fingerprint table joinable for
    plagiarism / near-dup overlap detection. Hashes are the
    cross-engine md5-slice BIGINTs (llm/dedup.py's SimHash
    discipline). Docs with fewer hashes than the window emit their
    single minimum.

    Implementation is the ROW form — posexplode the hash array, take
    ``min(h)`` over a ({WINNOW_W}-1)-following row frame partitioned by
    doc, keep window-start positions, distinct. An array-native form
    (nested transform/slice/array_min over the hash array column)
    looks shuffle-free but is a collapse trap: once the single-use
    ``fps`` alias inlines into the explode generator, the md5 hash
    transform re-evaluates PER WINDOW — O(shingles^2) hashing,
    measured 106 s vs ~1 s at sf0.1. The window frame is O(W) state
    per row, the only exchanges are the doc-partitioned window and the
    output's own distinct.
    """
    d = with_shingles(table(spark, sf_dir, "documents"))
    occ = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(shingles, s ->"
                " cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"
            )
        ).alias("idx", "h"),
    )
    from pyspark.sql import Window as W

    by_doc = W.partitionBy("doc_id")
    frame = by_doc.orderBy("idx").rowsBetween(0, WINNOW_W - 1)
    fps = (
        occ.select(
            "doc_id",
            "idx",
            F.min("h").over(frame).alias("fp"),
            F.count(F.lit(1)).over(by_doc).alias("n"),
        )
        # a frame at the partition tail truncates, so idx 0 of a short
        # doc (< W hashes) is exactly array_min of all its hashes
        .filter(
            (F.col("idx") <= F.col("n") - WINNOW_W)
            | ((F.col("n") < WINNOW_W) & (F.col("idx") == 0))
        )
    )
    return fps.select("doc_id", "fp").distinct()


ORACLE_LLM_WINNOWING = f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws, text FROM documents
),
h AS (
  SELECT
    doc_id,
    CASE WHEN LEN(ws) >= 4
         THEN [('0x' || substring(md5(array_to_string(ws[i:i+3], ' ')),
                         1, 15))::BIGINT
               for i in generate_series(1, LEN(ws) - 3)]
         ELSE [('0x' || substring(md5(text), 1, 15))::BIGINT]
    END AS hs
  FROM w
),
f AS (
  SELECT
    doc_id,
    CASE WHEN LEN(hs) >= {WINNOW_W}
         THEN list_distinct(
                [list_aggregate(hs[i:i+{WINNOW_W - 1}], 'min')
                 for i in generate_series(1, LEN(hs) - {WINNOW_W - 1})])
         ELSE [list_aggregate(hs, 'min')]
    END AS fps
  FROM h
)
SELECT doc_id, UNNEST(fps) AS fp FROM f
"""


def llm_eval_ngram_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram precision/recall between near-duplicate candidates — the
    ROUGE-style overlap metric an eval harness computes between a
    generated text and its reference, run at corpus scale over
    fingerprint-blocked pairs (min-shingle fingerprint equality — the
    cheap blocking key — so the quadratic metric is only ever evaluated
    on plausible pairs, never all-pairs).

    precision = |ngrams(a) n ngrams(b)| / |ngrams(a)|, recall likewise
    over b, both as integer ppm (floor division — bit-stable). The
    intersection is ``array_intersect`` over the per-doc distinct
    4-gram arrays (the llm_dedup_prefixfilter verify pattern: pairs are
    few, so shipping the arrays to the pairs beats an inverted-index
    re-join). N-grams are represented by their cross-engine md5-slice
    BIGINTs (the winnowing/simhash discipline, hashed identically by
    the oracle, so equality is still exact cross-engine): intersecting
    long arrays instead of string arrays measured 17.9 s -> 12.8 s at
    sf1 (the 11.5M-pair intersect builds a long hash set per pair
    instead of re-hashing variable-length strings), and the banded
    exchange ships 8-byte elements instead of shingle text.

    Two deliberate plan choices, both measured at sf0.1: the block key
    is the LEXICOGRAPHIC-min shingle (array_min of the set — a scalar
    min-wise key the oracle recomputes verbatim) rather than the
    min-MD5 minhash — hashing every shingle just to pick a blocking
    representative tripled the operator; and the (doc_id, arr, fp)
    projection is repartitioned on fp BEFORE the a/b renames, so both
    self-join sides share one byte-identical exchange subtree and
    ReuseExchange evaluates the shingle construction ONCE (renaming
    first produces two different subtrees and the whole chain runs
    per side).

    sf1 decomposition (r11, SCALE.md §25a): on the perturbed sf1
    corpus the fp blocking is NOT sparse — 169,502 groups, 11.48M
    qualifying pairs, max group 243 — so the 25 s sf1 absolute is
    ~2 us per pair-side of array_intersect over 11.5M emitted metric
    rows, not overhead. A candidates-first variant (ship (doc_id, fp)
    only, re-scan arrays for candidate docs) was built and measured
    3.4x WORSE at sf1 (85 s): with half the corpus in the candidate
    set it pays the shingle pass twice plus two extra row-count-scale
    joins. The pair-dense regime wants the arrays ON the exchange;
    its DuckDB denominator is SF1_TWIN_LLM_EVAL_NGRAM_RECALL below
    (same algorithm, list_intersect form — the brute-force inverted-
    index oracle stays the sf0.01 correctness twin).
    """
    base = (
        with_shingles(table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    "transform(shingles, s -> cast(conv(substring("
                    "md5(s), 1, 15), 16, 10) as bigint))"
                )
            ).alias("arr"),
            F.array_min("shingles").alias("fp"),
        )
        .repartition(32, "fp")
    )
    a = base.select(
        F.col("doc_id").alias("doc_a"),
        F.col("arr").alias("arr_a"),
        "fp",
    )
    b = base.select(
        F.col("doc_id").alias("doc_b"),
        F.col("arr").alias("arr_b"),
        "fp",
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b")).cast("long")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            inter.alias("n_common"),
            (inter * 1000000).alias("_num"),
            F.size("arr_a").cast("long").alias("_sza"),
            F.size("arr_b").cast("long").alias("_szb"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.expr("_num div _sza").alias("precision_ppm"),
            F.expr("_num div _szb").alias("recall_ppm"),
        )
    )


ORACLE_LLM_EVAL_NGRAM_RECALL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws, text FROM documents
),
raw AS (
  SELECT DISTINCT doc_id, s
  FROM (
    SELECT doc_id,
           unnest([array_to_string(ws[i:i+3], ' ')
                   for i in generate_series(1, LEN(ws) - 3)]) AS s
    FROM w WHERE LEN(ws) >= 4
    UNION ALL
    SELECT doc_id, text AS s FROM w WHERE LEN(ws) < 4
  )
),
sh AS (
  SELECT DISTINCT doc_id,
         ('0x' || substring(md5(s), 1, 15))::BIGINT AS h
  FROM raw
),
fp AS (
  SELECT doc_id, MIN(s) AS f FROM raw GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.h = a.h
  GROUP BY 1, 2
)
SELECT
  i.doc_a,
  i.doc_b,
  i.n_common,
  CAST(i.n_common * 1000000 // za.sz AS BIGINT) AS precision_ppm,
  CAST(i.n_common * 1000000 // zb.sz AS BIGINT) AS recall_ppm
FROM inter i
JOIN sizes za ON i.doc_a = za.doc_id
JOIN sizes zb ON i.doc_b = zb.doc_id
"""


#: BENCH-ONLY sf1 twin (the llm_dedup_prefixfilter discipline,
#: dedup.py:788): the SAME algorithm as the Spark plan — per-doc
#: distinct-shingle LIST + lexicographic-min blocking key, fp-equality
#: self-join, per-pair list_intersect — instead of the correctness
#: oracle's inverted-index re-join, which materializes the corpus-wide
#: (doc_id, shingle) DISTINCT twice and never finished inside the sf1
#: budget (BENCH_FULL r10 sf1.errors). Output is identical to the
#: oracle's: the intersection of the two docs' distinct shingle sets
#: is the same set however it is computed.
SF1_TWIN_LLM_EVAL_NGRAM_RECALL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws, text FROM documents
),
da AS (
  SELECT doc_id,
    CASE WHEN LEN(ws) >= 4
         THEN list_distinct([array_to_string(ws[i:i+3], ' ')
                             for i in generate_series(1, LEN(ws) - 3)])
         ELSE [text]
    END AS raw
  FROM w
),
fa AS (
  SELECT doc_id,
         list_aggregate(raw, 'min') AS fp,
         list_distinct([('0x' || substring(md5(s), 1, 15))::BIGINT
                        for s in raw]) AS arr
  FROM da
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         LEN(list_intersect(a.arr, b.arr)) AS n_common,
         LEN(a.arr) AS sza, LEN(b.arr) AS szb
  FROM fa a JOIN fa b ON a.fp = b.fp AND a.doc_id < b.doc_id
)
SELECT
  doc_a,
  doc_b,
  CAST(n_common AS BIGINT) AS n_common,
  CAST(n_common * 1000000 // sza AS BIGINT) AS precision_ppm,
  CAST(n_common * 1000000 // szb AS BIGINT) AS recall_ppm
FROM pairs
"""


def llm_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the (true lang x predicted lang)
    confusion matrix over :func:`llm_lang_id`'s classifier, with each
    cell's share of its TRUE-lang row in integer ppm (the recall
    decomposition) — how every classifier in a corpus pipeline gets
    graded before its predictions gate anything.

    One corpus scan (the classifier projection), one cell-sized hash
    aggregate, and a window over the |langs|^2 cells for the row
    totals. Exact: counts are BIGINT, the share is ``n * 1e6 div
    row_total``. At 100 TB the only corpus-scale work is the scan +
    mergeable count; the matrix is vocabulary-sized. Reference scope:
    beyond (tag "llm").
    """
    from pyspark.sql import Window

    base = llm_lang_id(spark, sf_dir)
    cm = base.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("lang"))
    return cm.select(
        "lang",
        "pred_lang",
        "n",
        tot.alias("lang_total"),
        F.expr(
            "n * 1000000 div sum(n) over (partition by lang)"
        ).alias("share_ppm"),
    )


ORACLE_LLM_LANG_CONFUSION = """
WITH pred AS (
  SELECT
    lang,
    CASE WHEN LEN(list_filter(string_split(text, ' '),
        w -> w IN ('the', 'a', 'of', 'and', 'to'))) > 0
         THEN 'en' ELSE 'unk' END AS pred_lang
  FROM documents
),
cm AS (
  SELECT lang, pred_lang, COUNT(*) AS n
  FROM pred GROUP BY 1, 2
)
SELECT
  lang,
  pred_lang,
  n,
  CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
  CAST(n * 1000000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT)
    AS share_ppm
FROM cm
"""


def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source dataset card: the one-row-per-source summary a
    corpus release ships (HuggingFace dataset cards, Dolma/RedPajama
    release notes) — volume, token mass, language mix, dominant
    language, and the exact-duplicate rate.

    One corpus scan feeds two mergeable aggregates: (a) the per-source
    rollup (docs, tokens, distinct digests for the dup rate — the ONLY
    distinct, so no Expand); (b) per-(source, lang) counts, from which
    n_langs (row count) and the dominant language (max(struct(cnt,
    lang)) — mergeable, no window) both fall out at cell scale. Rates
    are integer ppm; the mean is one IEEE division of exact integers,
    same expression shape as the oracle.

    At 100 TB: both aggregates are map-side combined; the only
    corpus-scale exchange carries (source, lang, digest) partials. The
    card is the cheap front page BEFORE the deep audits (llm_dedup_*,
    llm_quality*, llm_tokenizer_fertility) run. Reference scope:
    beyond (tag "llm").
    """
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        F.md5("text").alias("dig"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    # ONE distinct in the big aggregate (two count-distincts would plan
    # an Expand that doubles every row through the exchange); n_langs
    # and the dominant language both derive from the (source, lang)
    # cell table instead — n_langs is its per-source row count and the
    # top pick is max(struct(cnt, lang)) (exactly the cnt DESC, lang
    # DESC order), a mergeable aggregate in place of the r11 window
    # (r12: one less corpus-scale expand, one less sort job).
    s = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.countDistinct("dig").alias("n_uniq"),
    )
    lc = base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    top = (
        lc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.max(F.struct("cnt", "lang")).alias("m"),
        )
        .select(
            "source",
            "n_langs",
            F.col("m.lang").alias("top_lang"),
            F.col("m.cnt").alias("cnt"),
        )
    )
    return s.join(top, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("n_docs")).alias(
            "mean_doc_tokens"
        ),
        "n_langs",
        "top_lang",
        F.expr("cnt * 1000000 div n_docs").alias("top_lang_ppm"),
        F.expr("(n_docs - n_uniq) * 1000000 div n_docs").alias(
            "exact_dup_ppm"
        ),
    )


ORACLE_LLM_DATASET_CARD = """
WITH base AS (
  SELECT source, lang, md5(text) AS dig,
         LEN(string_split(text, ' ')) AS n_tok
  FROM documents
),
s AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         COUNT(DISTINCT dig) AS n_uniq,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
  FROM base GROUP BY source
),
lc AS (
  SELECT source, lang, COUNT(*) AS cnt
  FROM base GROUP BY 1, 2
),
top AS (
  SELECT source, lang AS top_lang, cnt
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY cnt DESC, lang DESC) AS rn
    FROM lc
  ) WHERE rn = 1
)
SELECT
  s.source,
  s.n_docs,
  s.n_tokens,
  CAST(s.n_tokens AS DOUBLE) / s.n_docs AS mean_doc_tokens,
  s.n_langs,
  t.top_lang,
  t.cnt * 1000000 // s.n_docs AS top_lang_ppm,
  (s.n_docs - s.n_uniq) * 1000000 // s.n_docs AS exact_dup_ppm
FROM s JOIN top t USING (source)
"""


QUERIES = {
    "llm_text_stats": spec(
        llm_text_stats, ORACLE_LLM_TEXT_STATS, "llm",
        doc="corpus stats per (lang, source)",
    ),
    "llm_bigram_lm": spec(
        llm_bigram_lm, ORACLE_LLM_BIGRAM_LM, "llm",
        doc="bigram LM table: P(w2|w1) top-100, exact count ratios",
    ),
    "llm_chunk_rag": spec(
        llm_chunk_rag, ORACLE_LLM_CHUNK_RAG, "llm",
        doc="overlapping 32-token RAG chunks w/ exact provenance",
    ),
    "llm_bigram_score": spec(
        llm_bigram_score, ORACLE_LLM_BIGRAM_SCORE, "llm",
        doc="per-doc bigram-LM fluency score, fixed-point exact",
    ),
    "llm_lang_id": spec(
        llm_lang_id, ORACLE_LLM_LANG_ID, "llm",
        doc="stopword-heuristic language ID",
    ),
    "llm_quality": spec(
        llm_quality, ORACLE_LLM_QUALITY, "llm",
        doc="quality scoring with keep/drop verdict",
    ),
    "llm_quality_ensemble": spec(
        llm_quality_ensemble, ORACLE_LLM_QUALITY_ENSEMBLE, "llm",
        doc="linear fusion of quality signals -> 0-1 score + band",
    ),
    "llm_quality_repetition": spec(
        llm_quality_repetition, ORACLE_LLM_QUALITY_REPETITION, "llm",
        doc="duplicate-word/bigram repetition gate (Gopher rule family)",
    ),
    "llm_token_count": spec(
        llm_token_count, ORACLE_LLM_TOKEN_COUNT, "llm",
        doc="whitespace + regex token counting",
    ),
    "llm_fingerprint": spec(
        llm_fingerprint, ORACLE_LLM_FINGERPRINT, "llm",
        doc="min-MD5 shingle fingerprint",
    ),
    "llm_tfidf": spec(
        llm_tfidf, ORACLE_LLM_TFIDF, "llm",
        doc="top-5 characteristic terms per doc (exact-integer TF-IDF)",
    ),
    "llm_clean_pipeline": spec(
        llm_clean_pipeline, ORACLE_LLM_CLEAN_PIPELINE, "llm",
        doc="end-to-end corpus clean: quality gate -> lang gate -> dedup",
    ),
    "llm_bm25": spec(
        llm_bm25, ORACLE_LLM_BM25, "llm",
        doc="BM25 retrieval scoring (linear-idf, hash-exact oracle)",
    ),
    "llm_pii_scrub": spec(
        llm_pii_scrub, ORACLE_LLM_PII_SCRUB, "llm",
        doc="PII redaction: chained regexp masking + per-doc audit columns",
    ),
    "llm_decontaminate": spec(
        llm_decontaminate, ORACLE_LLM_DECONTAMINATE, "llm",
        doc="benchmark decontamination via broadcast shingle anti-join",
    ),
    "llm_vocab_coverage": spec(
        llm_vocab_coverage, ORACLE_LLM_VOCAB_COVERAGE, "llm",
        doc="per-doc OOV audit vs corpus top-K vocab (integer-ppm rate)",
    ),
    "llm_lexical_diversity": spec(
        llm_lexical_diversity, ORACLE_LLM_LEXICAL_DIVERSITY, "llm",
        doc="type-token ratio + integer-exact Simpson diversity per doc",
    ),
    "llm_perplexity_filter": spec(
        llm_perplexity_filter, ORACLE_LLM_PERPLEXITY_FILTER, "llm",
        doc="drop worst quartile by LM score — exact histogram-CDF rank, "
            "no global row sort",
    ),
    "llm_boilerplate_coverage": spec(
        llm_boilerplate_coverage, ORACLE_LLM_BOILERPLATE_COVERAGE, "llm",
        doc="cross-doc frequent-shingle (boilerplate) coverage per doc, "
            "interval-union via lead() gaps",
    ),
    "llm_winnowing": spec(
        llm_winnowing, ORACLE_LLM_WINNOWING, "llm",
        doc="winnowing fingerprints: min-hash per sliding window over "
            "k-gram hashes, distinct per doc (SIGMOD'03)",
    ),
    "llm_eval_ngram_recall": spec(
        llm_eval_ngram_recall, ORACLE_LLM_EVAL_NGRAM_RECALL, "llm",
        doc="n-gram precision/recall (ROUGE-style, integer ppm) over "
            "fingerprint-blocked candidate pairs",
    ),
    "llm_dataset_card": spec(
        llm_dataset_card, ORACLE_LLM_DATASET_CARD, "llm",
        doc="per-source dataset card: volume, token mass, language "
            "mix, dominant lang, exact-dup rate (one scan, two "
            "mergeable aggregates)",
    ),
    "llm_lang_confusion": spec(
        llm_lang_confusion, ORACLE_LLM_LANG_CONFUSION, "llm",
        doc="language-ID confusion matrix: (true lang x predicted) "
            "counts + integer-ppm recall share per true lang",
    ),
}
