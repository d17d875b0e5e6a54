"""Text-analysis operators for LLM data pipelines (driver mandate,
BASELINE.json north_star): token counting, quality scoring, language ID,
document fingerprinting. All JVM-side built-ins — no Python UDFs — so
they run inside whole-stage codegen at 100 TB.

Each operator has a DuckDB oracle twin (module constants *_SQL) over the
driver's ``documents`` view (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Stopword set for quality scoring / language ID. Deliberately small and
# deterministic; 'the'/'a' occur in the testdata vocabulary.
STOPWORDS = ["the", "a", "of", "and", "to", "in"]

_WS = r"\s+"


def _tokens(col):
    return F.split(F.trim(F.lower(col)), _WS)


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document size/shape statistics + quality score.

    quality_score = 0.4·min(n_tokens/100, 1) + 0.3·type_token_ratio +
    0.3·min(stopword_ratio·5, 1): length, lexical diversity, and
    stopword-ness — the standard cheap quality heuristics, all exact
    integer/double arithmetic so the oracle matches bit-for-bit.
    """
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    ttr = n_distinct.cast("double") / n_tokens
    stop_ratio = n_stop.cast("double") / n_tokens
    quality = (
        F.lit(0.4) * F.least(n_tokens.cast("double") / 100.0, F.lit(1.0))
        + F.lit(0.3) * ttr
        + F.lit(0.3) * F.least(stop_ratio * 5.0, F.lit(1.0))
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_computed"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        n_stop.alias("n_stopwords"),
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

TEXT_STATS_SQL = f"""
SELECT
  doc_id,
  CAST(length(text) AS INT) AS n_chars_computed,
  CAST(len(toks) AS INT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
  CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS INT) AS n_stopwords,
  ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS type_token_ratio,
  ROUND(
    0.4 * least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
    + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
    + 0.3 * least(CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                  / len(toks) * 5.0, 1.0), 6) AS quality_score
FROM (SELECT doc_id, text,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents)
""".strip()


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """BPE-ish token counting: word pieces + standalone non-alnum marks
    (the usual pre-tokenizer regex), JVM-side via regexp_extract_all."""
    pattern = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
    pieces = F.regexp_extract_all(F.col("text"), F.lit(pattern), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_bpe_tokens"),
        F.size(F.array_distinct(pieces)).alias("n_distinct_pieces"),
    )


TOKEN_COUNT_BPE_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS INT)
         AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))) AS INT)
         AS n_distinct_pieces
FROM documents
""".strip()


def lang_id(docs: DataFrame) -> DataFrame:
    """N-gram-heuristic language ID: stopword-membership ratio over
    tokens ⇒ 'en' when ≥ 5% of tokens are English stopwords. Returns the
    prediction next to the labeled ``lang`` for accuracy analysis."""
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    ratio = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))).cast(
        "double"
    ) / F.size(toks)
    predicted = F.when(ratio >= 0.05, "en").otherwise("und")
    return docs.select(
        "doc_id",
        "lang",
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("is_correct"),
    )


LANG_ID_SQL = f"""
SELECT doc_id, lang, predicted_lang, predicted_lang = lang AS is_correct
FROM (
  SELECT doc_id, lang,
         CASE WHEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                        t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                   / len(string_split_regex(trim(lower(text)), '\\s+')) >= 0.05
              THEN 'en' ELSE 'und' END AS predicted_lang
  FROM documents)
""".strip()


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-k TF-IDF terms per document, fully relational (explode →
    per-doc term counts → corpus document frequency → smooth-idf join →
    window top-k). The same shape pyspark.ml's HashingTF+IDF computes,
    kept exact/un-hashed so the oracle can verify it.

    Scale: two hash aggregations (doc-term, term) + a broadcast join of
    the term-df table; the window partitions by doc_id.
    """
    from pyspark.sql import Window

    terms = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # corpus size as a 1-row broadcast scalar INSIDE the plan — an eager
    # .count() here ran a separate scan job every time the query built
    n_docs_df = docs.agg(F.count("*").alias("n_docs")).withColumn("_k", F.lit(1))
    df_ = terms.distinct().groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = tf.join(F.broadcast(df_), "term").withColumn("_k", F.lit(1)).join(
        F.broadcast(n_docs_df), "_k"
    ).select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


TFIDF_TOP_TERMS_SQL = r"""
WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM terms GROUP BY 1, 2),
docfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         ROUND(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN docfreq USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored)
WHERE rank <= 3
""".strip()


def fingerprint(docs: DataFrame) -> DataFrame:
    """Deterministic document fingerprint over whitespace-normalized,
    lowercased text (MD5 content hash + a 64-bit bucket prefix) — the
    join key for exact dedup across shards."""
    normalized = F.lower(F.regexp_replace(F.col("text"), _WS, " "))
    fp = F.md5(normalized)
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 8).alias("fingerprint_bucket"),
    )


FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint,
       substr(md5(lower(regexp_replace(text, '\s+', ' ', 'g'))), 1, 8) AS fingerprint_bucket
FROM documents
""".strip()


def corpus_composition(docs: DataFrame) -> DataFrame:
    """Corpus composition by (lang, source): the first dashboard any
    training-data pipeline needs — doc counts, char volume, length
    spread. One hash aggregation; at 100 TB add a date grain and feed
    from the partitioned gold layer."""
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
            F.round(F.sum(F.col("n_chars").cast("bigint")) / F.count("*"), 6).alias(
                "avg_chars"
            ),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


CORPUS_COMPOSITION_SQL = """
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars
FROM documents
GROUP BY lang, source
ORDER BY lang, source
""".strip()


def token_setops(docs: DataFrame, lang_a: str = "en", lang_b: str = "de") -> DataFrame:
    """Vocabulary comparison between two language slices via the SQL
    set operators: tokens in both (INTERSECT), and each side's
    exclusives (EXCEPT). Spark plans these as aggregate/anti patterns
    over a hash shuffle — no custom machinery — and the per-slice
    DISTINCT collapses map-side before the set op shuffles."""

    def vocab(lang):
        return (
            docs.filter(F.col("lang") == lang)
            .select(F.explode(_tokens(F.col("text"))).alias("token"))
            .filter(F.col("token").rlike("^[a-z]+$"))
            .distinct()
        )
    va, vb = vocab(lang_a), vocab(lang_b)
    return (
        va.intersect(vb).select("token", F.lit("both").alias("relation"))
        .unionByName(va.subtract(vb).select("token", F.lit(f"{lang_a}_only").alias("relation")))
        .unionByName(vb.subtract(va).select("token", F.lit(f"{lang_b}_only").alias("relation")))
        .orderBy("relation", "token")
    )


TOKEN_SETOPS_SQL = r"""
WITH va AS (
  SELECT DISTINCT token
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents WHERE lang = 'en')
  WHERE regexp_full_match(token, '[a-z]+')
),
vb AS (
  SELECT DISTINCT token
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents WHERE lang = 'de')
  WHERE regexp_full_match(token, '[a-z]+')
)
SELECT token, 'both' AS relation FROM (SELECT token FROM va INTERSECT SELECT token FROM vb)
UNION ALL
SELECT token, 'en_only' AS relation FROM (SELECT token FROM va EXCEPT SELECT token FROM vb)
UNION ALL
SELECT token, 'de_only' AS relation FROM (SELECT token FROM vb EXCEPT SELECT token FROM va)
ORDER BY relation, token
""".strip()


NGRAM_MIN_COUNT = 3


def bigram_lm_counts(docs: DataFrame) -> DataFrame:
    """Corpus-level bigram language-model counts with the unigram
    context totals and conditional probability — the classic
    count-based LM table (and the shape of any n-gram novelty /
    contamination scorer). Bigrams via posexplode + lead stay in
    codegen; rare bigrams are cut at NGRAM_MIN_COUNT before the final
    sort so the long tail never reaches it."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("pos", "w1"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.select("doc_id", "w1", F.lead("w1", 1).over(w).alias("w2"))
        .filter(F.col("w2").isNotNull())
        .filter(F.col("w1").rlike("^[a-z]+$") & F.col("w2").rlike("^[a-z]+$"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_bigram"))
    # context totals as a window over the bigram counts (they partition
    # the pair set) — saves a second scan of pairs and the join-back;
    # computed BEFORE the min-count cut so rare bigrams still count
    # toward their context
    n_context = F.sum("n_bigram").over(Window.partitionBy("w1"))
    return (
        big.withColumn("n_context", n_context)
        .filter(F.col("n_bigram") >= NGRAM_MIN_COUNT)
        .select(
            "w1",
            "w2",
            "n_bigram",
            "n_context",
            F.round(F.col("n_bigram") / F.col("n_context").cast("double"), 6).alias(
                "p_w2_given_w1"
            ),
        )
        .orderBy("w1", "w2")
    )


BIGRAM_LM_SQL = rf"""
WITH toks AS (
  SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents)
),
pairs AS (
  SELECT t[i + 1] AS w1, t[i + 2] AS w2
  FROM toks
  WHERE regexp_full_match(t[i + 1], '[a-z]+') AND regexp_full_match(t[i + 2], '[a-z]+')
),
big AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM pairs GROUP BY w1, w2),
uni AS (SELECT w1, COUNT(*) AS n_context FROM pairs GROUP BY w1)
SELECT b.w1, b.w2, b.n_bigram, u.n_context,
       ROUND(b.n_bigram / CAST(u.n_context AS DOUBLE), 6) AS p_w2_given_w1
FROM big b JOIN uni u ON b.w1 = u.w1
WHERE b.n_bigram >= {NGRAM_MIN_COUNT}
ORDER BY b.w1, b.w2
""".strip()


KN_DISCOUNT = 0.75  # absolute discount D, the standard KN default


def kneser_ney_bigram(docs: DataFrame) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    Chen & Goodman 1998) — the smoothing that made count-based LMs
    competitive, and the scorer a data pipeline reaches for when MLE
    bigram probabilities (``bigram_lm_counts``) zero out on unseen
    continuations:

        P_KN(w2|w1) = max(c(w1,w2) − D, 0)/c(w1)
                      + (D · N1+(w1,·)/c(w1)) · N1+(·,w2)/B

    where N1+(w1,·) counts distinct continuations of w1, N1+(·,w2)
    counts distinct contexts preceding w2 (the "how novel a word is
    this" signal that replaces raw frequency), and B is the number of
    distinct bigram types. All counts are integers; the probability is
    one fixed-association double expression, so the DuckDB twin
    hash-matches.

    Scale: one bigram count aggregation, then three partition-window
    passes over the (already aggregated, vocabulary-sized) type table —
    no second scan of the token stream; the ``NGRAM_MIN_COUNT`` output
    cut happens after counting, so smoothing mass is computed over the
    full type inventory."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "pos", "w1"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.select("doc_id", "w1", F.lead("w1", 1).over(w).alias("w2"))
        .filter(F.col("w2").isNotNull())
        .filter(F.col("w1").rlike("^[a-z]+$") & F.col("w2").rlike("^[a-z]+$"))
    )
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("n_bigram"))
    wc1 = Window.partitionBy("w1")
    wc2 = Window.partitionBy("w2")
    big = (
        big.withColumn("c1", F.sum("n_bigram").over(wc1))
        .withColumn("n1f", F.count("*").over(wc1))
        .withColumn("n1p", F.count("*").over(wc2))
    )
    types = F.broadcast(big.groupBy().agg(F.count("*").alias("n_types")))
    d = KN_DISCOUNT
    c1d = F.col("c1").cast("double")
    p_cont = F.col("n1p").cast("double") / F.col("n_types").cast("double")
    p_kn = (
        F.greatest(F.col("n_bigram").cast("double") - F.lit(d), F.lit(0.0)) / c1d
        + (F.lit(d) * F.col("n1f").cast("double") / c1d) * p_cont
    )
    return (
        big.join(types)
        .filter(F.col("n_bigram") >= NGRAM_MIN_COUNT)
        .select(
            "w1",
            "w2",
            "n_bigram",
            F.col("c1").alias("n_context"),
            F.col("n1f").alias("n_continuations"),
            F.col("n1p").alias("n_histories"),
            F.round(F.col("n_bigram") / c1d, 6).alias("p_mle"),
            F.round(p_cont, 6).alias("p_cont"),
            F.round(p_kn, 6).alias("p_kn"),
        )
        .orderBy("w1", "w2")
    )


KNESER_NEY_BIGRAM_SQL = rf"""
WITH toks AS (
  SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents)
),
pairs AS (
  SELECT t[i + 1] AS w1, t[i + 2] AS w2
  FROM toks
  WHERE regexp_full_match(t[i + 1], '[a-z]+') AND regexp_full_match(t[i + 2], '[a-z]+')
),
big AS (SELECT w1, w2, COUNT(*) AS n_bigram FROM pairs GROUP BY w1, w2),
ctx AS (SELECT w1, SUM(n_bigram) AS c1, COUNT(*) AS n1f FROM big GROUP BY w1),
hist AS (SELECT w2, COUNT(*) AS n1p FROM big GROUP BY w2),
types AS (SELECT COUNT(*) AS n_types FROM big)
SELECT b.w1, b.w2, b.n_bigram,
       CAST(c.c1 AS BIGINT) AS n_context,
       c.n1f AS n_continuations,
       h.n1p AS n_histories,
       ROUND(b.n_bigram / CAST(c.c1 AS DOUBLE), 6) AS p_mle,
       ROUND(CAST(h.n1p AS DOUBLE) / CAST(t.n_types AS DOUBLE), 6) AS p_cont,
       ROUND(GREATEST(CAST(b.n_bigram AS DOUBLE) - {KN_DISCOUNT}, 0.0)
               / CAST(c.c1 AS DOUBLE)
             + ({KN_DISCOUNT} * CAST(c.n1f AS DOUBLE) / CAST(c.c1 AS DOUBLE))
               * (CAST(h.n1p AS DOUBLE) / CAST(t.n_types AS DOUBLE)), 6) AS p_kn
FROM big b
JOIN ctx c ON b.w1 = c.w1
JOIN hist h ON b.w2 = h.w2
CROSS JOIN types t
WHERE b.n_bigram >= {NGRAM_MIN_COUNT}
ORDER BY b.w1, b.w2
""".strip()


def doc_bigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document average log-probability under the corpus's add-one-
    smoothed bigram LM — the count-based perplexity proxy quality
    filters use (docs far below the corpus average are boilerplate,
    noise, or wrong-language).

    Model trained and applied in one lineage: bigram counts c(w1,w2)
    with window-carried context totals c(w1) (same partition-riding
    trick as ``bigram_lm_counts``), vocabulary size V as a 1-row scalar
    aggregate broadcast on a dummy key (never a global window), then
    logp = ln((c12 + 1)/(c1 + V)) per doc bigram and a per-doc average.
    Every shuffle is keyed (bigram, then doc_id); each doc's bigrams
    are ≥1 in the corpus counts by construction, so the smoothing never
    meets an unseen pair. Docs with < 2 alpha tokens have no bigrams
    and drop out (inner join) — mirrored in the oracle."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("pos", "w1"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.select("doc_id", "w1", F.lead("w1", 1).over(w).alias("w2"))
        .filter(F.col("w2").isNotNull())
        .filter(F.col("w1").rlike("^[a-z]+$") & F.col("w2").rlike("^[a-z]+$"))
    )
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
    )
    vocab = (
        pairs.select(F.col("w1").alias("tok"))
        .union(pairs.select(F.col("w2").alias("tok")))
        .agg(F.countDistinct("tok").alias("v"))
        .withColumn("_k", F.lit(1))
    )
    scored = (
        pairs.join(big, ["w1", "w2"])
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(vocab), "_k")
        .select(
            "doc_id",
            F.log((F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double")).alias(
                "logp"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg("logp"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


DOC_BIGRAM_LOGPROB_SQL = r"""
WITH toks AS (
  SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents)
),
pairs AS (
  SELECT doc_id, t[i + 1] AS w1, t[i + 2] AS w2
  FROM toks
  WHERE regexp_full_match(t[i + 1], '[a-z]+') AND regexp_full_match(t[i + 2], '[a-z]+')
),
big AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
uni AS (SELECT w1, COUNT(*) AS c1 FROM pairs GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT w1 AS tok FROM pairs UNION ALL SELECT w2 FROM pairs)
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(ln((b.c12 + 1) / CAST(u.c1 + vocab.v AS DOUBLE))), 6) AS avg_logprob
FROM pairs p
JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
JOIN uni u ON p.w1 = u.w1
CROSS JOIN vocab
GROUP BY p.doc_id
ORDER BY p.doc_id
""".strip()


PERPLEXITY_N_BUCKETS = 10


def perplexity_buckets(
    docs: DataFrame, n_buckets: int = PERPLEXITY_N_BUCKETS
) -> DataFrame:
    """Perplexity-decile panel over the bigram-LM doc scores — the
    CCNet-style quality triage: rank every document by its average
    bigram log-probability, cut into ``n_buckets`` equal-frequency
    buckets (NTILE), and report each bucket's population and score
    range. The head buckets are the fluent text a quality filter keeps,
    the tail is boilerplate/noise/wrong-language; this panel is the
    evidence behind choosing a keep-fraction before a 100 TB filter
    commits to one.

    Determinism: the per-doc score is ``doc_bigram_logprob``'s (already
    oracle-exact); NTILE orders by (avg_logprob, doc_id) so ties break
    identically in both engines. Scale: one global NTILE window over
    one row per document — the only all-to-one step, and it moves
    doc-count rows, not tokens; swap for approx quantile cuts when even
    that is too much."""
    # OPTIMIZATION r13 (VERDICT item 6): the global NTILE ran as an
    # UNGOVERNED single-partition window over one row per document.
    # ntile_governed keeps the window below the size bound and switches
    # to exact_ntile's distributed two-phase rank beyond it — both
    # bit-identical on the tie-free (avg_logprob, doc_id) key. The
    # sizing count scans the raw docs table (scored has ≤ one row per
    # doc, so it is a valid upper bound and the logprob pipeline never
    # re-executes for sizing).
    from ..operators.analytics import ntile_governed

    scored = doc_bigram_logprob(docs)
    b = ntile_governed(
        scored,
        n_buckets,
        [F.col("avg_logprob"), F.col("doc_id")],
        "bucket",
        docs.count(),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.min("avg_logprob"), 6).alias("min_logprob"),
            F.round(F.max("avg_logprob"), 6).alias("max_logprob"),
            F.round(F.avg("avg_logprob"), 6).alias("mean_logprob"),
            F.round(F.avg("n_bigrams"), 2).alias("mean_bigrams"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_docs",
            "min_logprob",
            "max_logprob",
            "mean_logprob",
            "mean_bigrams",
        )
        .orderBy("bucket")
    )


PERPLEXITY_BUCKETS_SQL = f"""
WITH scored AS ({DOC_BIGRAM_LOGPROB_SQL.replace("ORDER BY p.doc_id", "")}),
b AS (
  SELECT *, NTILE({PERPLEXITY_N_BUCKETS})
              OVER (ORDER BY avg_logprob, doc_id) AS bucket
  FROM scored
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(MIN(avg_logprob), 6) AS min_logprob,
       ROUND(MAX(avg_logprob), 6) AS max_logprob,
       ROUND(AVG(avg_logprob), 6) AS mean_logprob,
       ROUND(AVG(n_bigrams), 2) AS mean_bigrams
FROM b
GROUP BY bucket
ORDER BY bucket
""".strip()


BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_TERMS = 8
BM25_SKIP_HEAD = 10  # skip the stopword-saturated df head
BM25_TOP = 50


def bm25_scores(
    docs: DataFrame,
    n_terms: int = BM25_N_TERMS,
    skip_head: int = BM25_SKIP_HEAD,
    top: int = BM25_TOP,
) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a deterministic query:
    the ``n_terms`` mid-frequency alphabetic tokens ranked
    ``skip_head+1 .. skip_head+n_terms`` by document frequency (the df
    head is stopword-saturated and carries no ranking signal; mid-df
    terms are what real queries look like). Scores use the standard
    Robertson/Okapi formulation — idf = ln((N−df+0.5)/(df+0.5) + 1),
    tf saturation k1=1.2, length normalization b=0.75 — making this the
    search-engine scoring leg beside the TF-IDF cosine join (sparse
    retrieval is how a training corpus gets queried for contamination,
    attribution, and eval-set neighbors).

    Scale: tf/df/doclen are the inverted-index aggregations the other
    text ops already use; the query-term list is ``n_terms`` rows
    broadcast into the tf join; the only all-to-one steps are two 1-row
    scalars (N, avg doclen) and the final top-k TakeOrdered."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok").rlike("^[a-z]+$"))
    doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    # TakeOrdered the vocab to the tiny (skip_head + n_terms) head
    # BEFORE any window: the global rank never sees vocab-sized input
    # (same discipline as zipf_fit's capped head)
    head = df_.orderBy(F.desc("df"), F.asc("tok")).limit(skip_head + n_terms)
    w = Window.orderBy(F.desc("df"), F.asc("tok"))
    qterms = (
        head.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") > skip_head)
        .select("tok", "df")
    )
    nn = docs.agg(F.count("*").alias("n")).withColumn("_k", F.lit(1))
    avgdl = doclen.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl")
    ).withColumn("_k", F.lit(1))
    scored = (
        tf.join(F.broadcast(qterms), "tok")
        .join(doclen, "doc_id")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(nn), "_k")
        .join(F.broadcast(avgdl), "_k")
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("contrib"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_matched"),
            F.round(F.sum("contrib"), 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(top)
    )


BM25_SCORES_SQL = rf"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE regexp_full_match(tok, '[a-z]+')
),
doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
head AS (
  SELECT tok, df FROM df ORDER BY df DESC, tok ASC
  LIMIT {BM25_SKIP_HEAD} + {BM25_N_TERMS}
),
qterms AS (
  SELECT tok, df FROM (
    SELECT tok, df, ROW_NUMBER() OVER (ORDER BY df DESC, tok ASC) AS r FROM head)
  WHERE r > {BM25_SKIP_HEAD}
),
scored AS (
  SELECT t.doc_id,
         ln(((SELECT COUNT(*) FROM documents) - q.df + 0.5) / (q.df + 0.5) + 1.0)
         * (t.tf * ({BM25_K1} + 1))
         / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl
              / (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen))) AS contrib
  FROM tf t JOIN qterms q ON t.tok = q.tok JOIN doclen d ON t.doc_id = d.doc_id
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
       ROUND(SUM(contrib), 6) AS bm25
FROM scored
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOP}
""".strip()


RRF_K = 60
RRF_LIST = 200
RRF_TOP = 50


def rrf_fusion(
    docs: DataFrame,
    n_terms: int = BM25_N_TERMS,
    skip_head: int = BM25_SKIP_HEAD,
    list_k: int = RRF_LIST,
    top: int = RRF_TOP,
) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings for the same
    deterministic query (the BM25 one): the BM25 list and a plain
    TF-IDF-sum list (tf · ln(N/df) per query term). RRF(d) =
    Σ_lists 1/(k + rank_d) with k=60 — the standard score-free fusion
    that beats either list alone when the scorers disagree; this is
    the hybrid-retrieval shape (lexical ⊕ lexical here, lexical ⊕
    dense in a vector deployment) a contamination/attribution query
    actually runs.

    Scale: each list is TakeOrdered down to ``list_k`` BEFORE any rank
    window (the fusion never sees corpus-sized ranked input — fusing
    truncated lists is the textbook formulation anyway); ranks break
    ties by doc_id in both engines."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    ).filter(F.col("tok").rlike("^[a-z]+$"))
    doclen = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    head = df_.orderBy(F.desc("df"), F.asc("tok")).limit(skip_head + n_terms)
    w = Window.orderBy(F.desc("df"), F.asc("tok"))
    qterms = (
        head.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") > skip_head)
        .select("tok", "df")
    )
    nn = docs.agg(F.count("*").alias("n")).withColumn("_k", F.lit(1))
    avgdl = doclen.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl")
    ).withColumn("_k", F.lit(1))
    base = (
        tf.join(F.broadcast(qterms), "tok")
        .join(doclen, "doc_id")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(nn), "_k")
        .join(F.broadcast(avgdl), "_k")
    )
    bm25 = (
        base.select(
            "doc_id",
            (
                F.log(
                    (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("sc"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("sc"), 6).alias("sc"))
        .orderBy(F.desc("sc"), "doc_id")
        .limit(list_k)
    )
    tfidf = (
        base.select(
            "doc_id",
            (
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))
            ).alias("sc"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("sc"), 6).alias("sc"))
        .orderBy(F.desc("sc"), "doc_id")
        .limit(list_k)
    )
    wr = Window.orderBy(F.desc("sc"), F.asc("doc_id"))

    def ranked(leg):
        return leg.withColumn("r", F.row_number().over(wr)).select("doc_id", "r")

    fused = (
        ranked(bm25)
        .select("doc_id", (1.0 / (RRF_K + F.col("r"))).alias("c"))
        .unionByName(
            ranked(tfidf).select("doc_id", (1.0 / (RRF_K + F.col("r"))).alias("c"))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_lists"),
            F.round(F.sum("c"), 6).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), "doc_id").limit(top)


RRF_FUSION_SQL = rf"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
        FROM documents)
  WHERE regexp_full_match(tok, '[a-z]+')
),
doclen AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
head AS (
  SELECT tok, df FROM df ORDER BY df DESC, tok ASC
  LIMIT {BM25_SKIP_HEAD} + {BM25_N_TERMS}
),
qterms AS (
  SELECT tok, df FROM (
    SELECT tok, df, ROW_NUMBER() OVER (ORDER BY df DESC, tok ASC) AS r FROM head)
  WHERE r > {BM25_SKIP_HEAD}
),
base AS (
  SELECT t.doc_id, t.tf, q.df, d.dl,
         (SELECT COUNT(*) FROM documents) AS n,
         (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) FROM doclen) AS avgdl
  FROM tf t JOIN qterms q ON t.tok = q.tok JOIN doclen d ON t.doc_id = d.doc_id
),
bm25 AS (
  SELECT doc_id, ROUND(SUM(
           ln((n - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * ({BM25_K1} + 1))
           / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))), 6) AS sc
  FROM base GROUP BY doc_id ORDER BY sc DESC, doc_id LIMIT {RRF_LIST}
),
tfidf AS (
  SELECT doc_id, ROUND(SUM(tf * ln(CAST(n AS DOUBLE) / df)), 6) AS sc
  FROM base GROUP BY doc_id ORDER BY sc DESC, doc_id LIMIT {RRF_LIST}
),
contribs AS (
  SELECT doc_id, 1.0 / ({RRF_K} + ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id)) AS c
  FROM bm25
  UNION ALL
  SELECT doc_id, 1.0 / ({RRF_K} + ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id)) AS c
  FROM tfidf
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists, ROUND(SUM(c), 6) AS rrf
FROM contribs
GROUP BY doc_id
ORDER BY rrf DESC, doc_id
LIMIT {RRF_TOP}
""".strip()


FERTILITY_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"  # keep in sync with the SQL twin


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Tokenizer-fertility panel per (lang, source): subword tokens per
    whitespace word under the engine's BPE-ish regex segmentation —
    THE budgeting number for a multilingual corpus (a fertility of 2.1
    vs 1.3 means the same text costs 60% more context window and
    compute), and the early-warning that a language/source is being
    over-fragmented by the tokenizer. Reports word and token volumes,
    fertility, and each cell's share of corpus tokens.

    Scale: two map-side size() counts per document (no explode — the
    segmentation never materializes token rows), one (lang, source)
    aggregation, one 1-row total for shares."""
    # column-form regexp_extract_all: the pattern rides as a literal
    # COLUMN, never through SQL string-literal unescaping (F.expr would
    # silently turn \s into s and count every space as a token)
    seg = F.size(
        F.regexp_extract_all(
            F.trim(F.lower(F.col("text"))), F.lit(FERTILITY_BPE_RE), F.lit(0)
        )
    ).cast("bigint")
    words = F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).cast("bigint")
    base = docs.select("lang", "source", words.alias("w"), seg.alias("t"))
    cell = base.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("n_words"),
        F.sum("t").cast("bigint").alias("n_tokens"),
    )
    total = cell.agg(F.sum("n_tokens").alias("_t"))
    return (
        cell.join(F.broadcast(total))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_words",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words"), 6
            ).alias("fertility"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("_t"), 6
            ).alias("token_share"),
        )
        .orderBy("lang", "source")
    )


TOKENIZER_FERTILITY_SQL = r"""
WITH base AS (
  SELECT lang, source,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(trim(lower(text)),
                                     '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS t
  FROM documents
),
cell AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS n_words, CAST(SUM(t) AS BIGINT) AS n_tokens
  FROM base GROUP BY lang, source
)
SELECT lang, source, n_docs, n_words, n_tokens,
       ROUND(CAST(n_tokens AS DOUBLE) / n_words, 6) AS fertility,
       ROUND(CAST(n_tokens AS DOUBLE) / (SELECT SUM(n_tokens) FROM cell), 6)
         AS token_share
FROM cell
ORDER BY lang, source
""".strip()


def text_normalize(docs: DataFrame) -> DataFrame:
    """Pre-tokenization text cleanup: strip C0/C1 control characters,
    collapse runs of whitespace to single spaces, and trim — the
    canonical normalization pass before tokenizing/hashing so that
    formatting noise (tabs, CRLF, double spaces) doesn't split the
    dedup hash space or inflate token counts. Map-only (one
    regexp_replace chain inside whole-stage codegen, no shuffle);
    emits the cleaned text plus how much was removed, so a pipeline
    can route heavily-mangled docs to review. Unicode NFC/NFKC folding
    is deliberately out of scope: Spark has no JVM-side normalizer
    expression and a Python UDF here would put an interpreter in the
    hottest map of the pipeline — run it in the (Arrow-batched)
    multimodal/codec stage instead if required."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"[\x00-\x1F\x7F-\x9F]", " "),
            r"\s+",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        cleaned.alias("text_clean"),
        F.length("text").cast("bigint").alias("n_chars_raw"),
        F.length(cleaned).cast("bigint").alias("n_chars_clean"),
        (F.length("text") - F.length(cleaned)).cast("bigint").alias("n_removed"),
    ).orderBy("doc_id")


TEXT_NORMALIZE_SQL = r"""
WITH c AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(text, '[\x00-\x1F\x7F-\x9F]', ' ', 'g'),
                             '\s+', ' ', 'g')) AS text_clean
  FROM documents
)
SELECT doc_id, text_clean,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(text_clean) AS BIGINT) AS n_chars_clean,
       CAST(length(text) - length(text_clean) AS BIGINT) AS n_removed
FROM c
ORDER BY doc_id
""".strip()


VOCAB_TOP_K = 500


def vocab_topk(docs: DataFrame, k: int = VOCAB_TOP_K) -> DataFrame:
    """Corpus vocabulary head: the ``k`` most frequent whitespace
    tokens (lowercased) with occurrence and document frequencies — the
    first artifact of tokenizer training and the denominator table for
    stopword/quality heuristics.

    Scale: explode → one hash aggregation on the token (map-side
    partial aggregation collapses each input split to its distinct
    tokens first), then a TakeOrdered top-k — no global sort, no
    window; the full vocabulary never leaves the executors. Ties at
    the boundary break by token ASC so the cut is deterministic on
    both engines."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("tok"))
        .limit(k)
    )


VOCAB_TOPK_SQL = rf"""
SELECT tok,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
)
GROUP BY tok
ORDER BY n_occurrences DESC, tok ASC
LIMIT {VOCAB_TOP_K}
""".strip()


def vocab_entropy(docs: DataFrame) -> DataFrame:
    """Corpus unigram statistics in one row: token/type counts, hapax
    fraction (types seen once — the long-tail mass a tokenizer's vocab
    cut discards), Shannon entropy of the unigram distribution in nats,
    and the redundancy 1 − H/ln(V) (0 = uniform vocabulary use). The
    standard corpus-health panel before tokenizer training.

    Scale: explode → one hash aggregation on the token (map-side
    partials collapse repeats per split) → a second aggregation over
    the vocabulary (|V| rows, corpus-size-independent). Entropy is
    computed as ln(N) − Σ c·ln(c)/N so a single pass over the counts
    suffices — no per-row division by a separately-computed total."""
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), _WS)).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    c = F.col("c").cast("double")
    return counts.agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        F.round(
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("hapax_frac"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(c * F.log(c)) / F.sum("c").cast("double"),
            6,
        ).alias("entropy_nats"),
        F.round(
            (
                F.log(F.sum("c").cast("double"))
                - F.sum(c * F.log(c)) / F.sum("c").cast("double")
            )
            # NULLIF: a one-type vocabulary has ln(V) = 0; NULL (not a
            # divide-by-zero under ANSI mode) is the documented output
            / F.nullif(F.log(F.count("*").cast("double")), F.lit(0.0)),
            6,
        ).alias("efficiency"),
    )


VOCAB_ENTROPY_SQL = r"""
SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6)
         AS hapax_frac,
       ROUND(LN(CAST(SUM(c) AS DOUBLE))
             - SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)))
               / CAST(SUM(c) AS DOUBLE), 6) AS entropy_nats,
       ROUND((LN(CAST(SUM(c) AS DOUBLE))
              - SUM(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE)))
                / CAST(SUM(c) AS DOUBLE))
             / NULLIF(LN(CAST(COUNT(*) AS DOUBLE)), 0), 6) AS efficiency
FROM (
  SELECT tok, COUNT(*) AS c
  FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
    FROM documents
  )
  GROUP BY tok
)
""".strip()


ZIPF_FIT_RANKS = 200


def zipf_fit(docs: DataFrame, n_ranks: int = ZIPF_FIT_RANKS) -> DataFrame:
    """Zipf's-law fit over the vocabulary head: OLS regression of
    ln(frequency) on ln(rank) for the top ``n_ranks`` tokens. A natural
    corpus shows slope ≈ −1; synthetic or templated text bends the
    curve, making the slope a cheap generation-artifact detector.

    Scale: reuses the ``vocab_topk`` shape (hash agg + TakeOrdered
    top-k, deterministic tie-break) so only ``n_ranks`` rows ever leave
    the executors; the rank window and the regression run over that
    bounded head. The single-partition window is O(n_ranks), reviewed
    in the plan-audit allowlist."""
    head = (
        vocab_topk(docs, n_ranks)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("n_occurrences"), F.asc("tok"))
            ),
        )
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n_occurrences").cast("double"))
    return head.agg(
        F.count("*").cast("bigint").alias("n_ranks"),
        F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


ZIPF_FIT_SQL = rf"""
WITH head AS (
  SELECT tok, n_occurrences,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, tok ASC) AS rank
  FROM (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents
    )
    GROUP BY tok
    ORDER BY n_occurrences DESC, tok ASC
    LIMIT {ZIPF_FIT_RANKS}
  )
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
       ROUND(regr_slope(LN(CAST(n_occurrences AS DOUBLE)),
                        LN(CAST(rank AS DOUBLE))), 6) AS zipf_slope,
       ROUND(regr_intercept(LN(CAST(n_occurrences AS DOUBLE)),
                            LN(CAST(rank AS DOUBLE))), 6) AS zipf_intercept,
       ROUND(regr_r2(LN(CAST(n_occurrences AS DOUBLE)),
                     LN(CAST(rank AS DOUBLE))), 6) AS r2
FROM head
""".strip()


def lang_source_chi2(docs: DataFrame) -> DataFrame:
    """Corpus-bias panel: Pearson chi-squared independence statistic of
    the language × source contingency table, plus Cramér's V — the
    one-number answer to "do my sources cover languages evenly or is
    each language trapped in one source?", checked before fixing
    mixture weights.

    Scale: one hash aggregation to the contingency cells (|langs| ×
    |sources| rows, corpus-size-independent), marginals by two window
    sums over those cells (no re-scan), then a scalar fold. Everything
    after the first aggregation is O(cells). Structural zeros matter:
    the statistic must include every (lang, source) cell of the full
    grid, not just observed ones — a perfectly-associated table gets
    HALF its chi² from the empty cells (Cramér's V would top out at
    1/√2 without them), so the observed counts left-join onto the
    distinct-langs × distinct-sources cross (a tiny broadcast cross of
    two config-sized distinct lists)."""
    observed = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    grid = docs.select("lang").distinct().crossJoin(
        F.broadcast(docs.select("source").distinct())
    )
    cells = grid.join(observed, ["lang", "source"], "left").select(
        "lang", "source", F.coalesce(F.col("o"), F.lit(0)).alias("o")
    )
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    wall = Window.partitionBy()
    with_exp = cells.select(
        "lang",
        "source",
        "o",
        (
            F.sum("o").over(wl).cast("double")
            * F.sum("o").over(ws).cast("double")
            / F.sum("o").over(wall).cast("double")
        ).alias("e"),
        F.sum("o").over(wall).alias("n"),
        F.count("*").over(wall).alias("n_cells"),
        F.size(F.collect_set("lang").over(wall)).alias("n_langs"),
        F.size(F.collect_set("source").over(wall)).alias("n_sources"),
    )
    chi2 = F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"))
    return with_exp.groupBy().agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.max("n_cells").cast("bigint").alias("n_cells"),
        ((F.max("n_langs") - 1) * (F.max("n_sources") - 1))
        .cast("bigint")
        .alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                chi2
                / F.max("n").cast("double")
                / F.least(F.max("n_langs") - 1, F.max("n_sources") - 1).cast(
                    "double"
                )
            ),
            6,
        ).alias("cramers_v"),
    )


LANG_SOURCE_CHI2_SQL = """
WITH observed AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
  FROM documents GROUP BY lang, source
),
cells AS (  -- full grid incl. structural zeros (see the Spark docstring)
  SELECT g.lang, g.source, COALESCE(observed.o, 0) AS o
  FROM (SELECT l.lang, s.source
        FROM (SELECT DISTINCT lang FROM documents) l
        CROSS JOIN (SELECT DISTINCT source FROM documents) s) g
  LEFT JOIN observed ON observed.lang = g.lang AND observed.source = g.source
),
exp AS (
  SELECT o,
         SUM(o) OVER (PARTITION BY lang) * CAST(SUM(o) OVER (PARTITION BY source) AS DOUBLE)
           / SUM(o) OVER () AS e,
         SUM(o) OVER () AS n,
         COUNT(*) OVER () AS n_cells,
         (SELECT COUNT(DISTINCT lang) FROM documents) AS n_langs,
         (SELECT COUNT(DISTINCT source) FROM documents) AS n_sources
  FROM cells
)
SELECT CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(MAX(n_cells) AS BIGINT) AS n_cells,
       CAST((MAX(n_langs) - 1) * (MAX(n_sources) - 1) AS BIGINT) AS dof,
       ROUND(SUM((o - e) * (o - e) / e), 6) AS chi2,
       ROUND(SQRT(SUM((o - e) * (o - e) / e) / CAST(MAX(n) AS DOUBLE)
                  / LEAST(MAX(n_langs) - 1, MAX(n_sources) - 1)), 6) AS cramers_v
FROM exp
""".strip()


def length_histogram(docs: DataFrame) -> DataFrame:
    """Corpus length distribution: documents bucketed by power-of-two
    token count (bucket k = lengths in [2^k, 2^(k+1))), with counts,
    token mass, and cumulative shares — the panel consulted when
    choosing chunk sizes and packing targets (what fraction of tokens
    live in docs shorter than the context window?).

    Scale: a map-only token count per doc (``size(split(...))``, no
    explode), one hash aggregation onto ~30 integer buckets, and a
    running-total window over those buckets — every post-scan stage is
    O(buckets)."""
    n_tokens = F.size(F.split(F.trim(F.lower(F.col("text"))), _WS))
    bucket = F.floor(F.log2(n_tokens.cast("double"))).cast("bigint")
    per_bucket = (
        docs.select(n_tokens.alias("n_tokens"), bucket.alias("bucket"))
        .filter(F.col("n_tokens") > 0)
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    return per_bucket.select(
        "bucket",
        F.expr("CAST(shiftleft(1, CAST(bucket AS INT)) AS BIGINT)").alias(
            "min_tokens"
        ),
        "n_docs",
        "total_tokens",
        F.round(
            F.sum("n_docs").over(w) / F.sum("n_docs").over(wall).cast("double"),
            6,
        ).alias("cum_doc_share"),
        F.round(
            F.sum("total_tokens").over(w)
            / F.sum("total_tokens").over(wall).cast("double"),
            6,
        ).alias("cum_token_share"),
    ).orderBy("bucket")


LENGTH_HISTOGRAM_SQL = r"""
WITH per_doc AS (
  SELECT len(string_split_regex(trim(lower(text)), '\s+')) AS n_tokens
  FROM documents
),
per_bucket AS (
  SELECT CAST(FLOOR(LOG2(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
  FROM per_doc WHERE n_tokens > 0
  GROUP BY 1
)
SELECT bucket,
       CAST(POWER(2, bucket) AS BIGINT) AS min_tokens,
       n_docs,
       total_tokens,
       ROUND(SUM(n_docs) OVER (ORDER BY bucket)
             / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS cum_doc_share,
       ROUND(SUM(total_tokens) OVER (ORDER BY bucket)
             / CAST(SUM(total_tokens) OVER () AS DOUBLE), 6) AS cum_token_share
FROM per_bucket
ORDER BY bucket
""".strip()


# --- hashed-feature linear quality classifier -------------------------------

CLS_BUCKETS = 64
CLS_WEIGHT_MOD = 97  # pinned pseudo-weights: (bucket*37 + 11) % 97
CLS_THRESHOLD = 0.0


def quality_classifier(docs: DataFrame) -> DataFrame:
    """FastText-style linear quality classifier scoring, entirely
    JVM-side: each lowercase alnum token hashes (md5 prefix) into one
    of CLS_BUCKETS feature buckets, each bucket carries a pinned
    pseudo-random weight in [-0.5, 0.5), and the document score is the
    mean feature weight. This is the scoring half of the standard
    quality-classifier pass (CCNet/fastText style) with the trained
    weight table replaced by a deterministic one — the plumbing
    (feature hashing, per-doc mean, keep threshold) is exactly what a
    real exported linear model needs, as a broadcast bucket→weight map.

    Exactness: weights live in integer space ((b*37+11) % 97) and only
    the final mean divides — SUM(bigint)/(97·n) in double, rounded to
    6dp identically in both engines; no float accumulation order leaks.

    Scale: one map-side explode + a single hash aggregation on doc_id
    (partial aggs collapse the token fan-out), no shuffle beyond it and
    no Python; a real-weights variant would broadcast-join the bucket
    table instead of computing the expression inline."""
    toks = docs.select(
        "doc_id",
        F.explode_outer(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("token"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("token")), 1, 12), 16, 10).cast("bigint"),
        F.lit(CLS_BUCKETS),
    )
    w_int = (bucket * F.lit(37) + F.lit(11)) % F.lit(CLS_WEIGHT_MOD)
    scored = (
        toks.select("doc_id", w_int.alias("w"))
        .groupBy("doc_id")
        .agg(
            F.count("w").alias("n_feat_tokens"),
            F.sum("w").alias("w_sum"),
        )
        .select(
            "doc_id",
            "n_feat_tokens",
            F.round(
                F.col("w_sum").cast("double")
                / (F.lit(float(CLS_WEIGHT_MOD)) * F.col("n_feat_tokens"))
                - F.lit(0.5),
                6,
            ).alias("cls_score"),
        )
    )
    return scored.select(
        "doc_id",
        "n_feat_tokens",
        "cls_score",
        F.coalesce(F.col("cls_score") >= CLS_THRESHOLD, F.lit(False)).alias("keep"),
    ).orderBy("doc_id")


QUALITY_CLASSIFIER_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
  FROM documents
),
w AS (
  SELECT doc_id,
         (CAST('0x' || substring(md5(token), 1, 12) AS BIGINT) % {CLS_BUCKETS}) * 37 + 11 AS wq
  FROM toks
),
scored AS (
  SELECT d.doc_id,
         CAST(COUNT(w.wq) AS BIGINT) AS n_feat_tokens,
         ROUND(CAST(SUM(w.wq % {CLS_WEIGHT_MOD}) AS DOUBLE)
               / ({CLS_WEIGHT_MOD}.0 * COUNT(w.wq)) - 0.5, 6) AS cls_score
  FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
  GROUP BY d.doc_id
)
SELECT doc_id, n_feat_tokens, cls_score,
       COALESCE(cls_score >= {CLS_THRESHOLD}, FALSE) AS keep
FROM scored
ORDER BY doc_id
""".strip()


# --- BPE merge-candidate pair counts (tokenizer training step) --------------

BPE_TOP_PAIRS = 50


def bpe_pair_counts(docs: DataFrame, k: int = BPE_TOP_PAIRS) -> DataFrame:
    """The inner loop of BPE tokenizer training, iteration zero:
    corpus-weighted frequencies of adjacent symbol pairs inside words —
    the pair ranked first is the first merge a BPE trainer would learn.

    Scale: the expensive fan-out (every character position of every
    word occurrence) is collapsed up front by aggregating words to
    (word, frequency) FIRST — the pair explosion then runs over the
    distinct vocabulary (bounded) instead of the corpus, weighted by
    the word count. Vocabulary aggregation is one shuffle on word; the
    pair aggregation shuffles |vocab|·avg_len rows; TakeOrdered caps
    the result at k. A full BPE trainer is this same plan iterated with
    the learned merge applied — each round stays a vocab-sized job."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count("*").alias("wf"))
    pairs = (
        vocab.filter(F.length("word") >= 2)
        .select(
            "wf",
            F.explode(
                F.sequence(F.lit(1), F.length("word") - F.lit(1))
            ).alias("i"),
            "word",
        )
        .select(F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"), "wf")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wf").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(k)
    )


BPE_PAIR_COUNTS_SQL = f"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
),
vocab AS (SELECT word, COUNT(*) AS wf FROM words GROUP BY word),
pairs AS (
  SELECT substring(word, i, 2) AS pair, wf
  FROM vocab, LATERAL (SELECT unnest(range(1, length(word))) AS i) t
  WHERE length(word) >= 2
)
SELECT pair, CAST(SUM(wf) AS BIGINT) AS pair_count
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT {BPE_TOP_PAIRS}
""".strip()


def bpe_merge_step(docs: DataFrame, k: int = BPE_TOP_PAIRS) -> DataFrame:
    """BPE training iteration ONE: apply the single best merge learned
    by ``bpe_pair_counts`` (max count, pair asc tie-break) to the
    weighted vocabulary and recount adjacent symbol pairs — the output
    ranks the trainer's SECOND merge candidates. Demonstrates that the
    iterative trainer loop stays one declarative plan per round: each
    iteration is (broadcast scalar merge) → map-side string rewrite →
    the same vocab-sized pair aggregation, so a full K-merge training
    run is K such jobs over the (bounded) vocabulary, never the corpus.

    The symbol rewrite is a literal replace of "x y" with "xy" over the
    space-joined symbol string. At iteration 0 every symbol is a single
    character, so any substring match necessarily aligns to symbol
    boundaries (deeper iterations would need boundary-anchored
    replacement — out of scope for the registered single step).

    Pairs in the output join symbols with a space, e.g. the winning
    merge "t h" yields symbols like "th", and iteration-1 pairs like
    "th e"."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count("*").alias("wf"))
    spaced = F.trim(F.regexp_replace(F.col("word"), "(.)", "$1 "))
    sym = vocab.select(spaced.alias("spaced"), "wf")
    # the winning iteration-0 merge, as a broadcast 1-row scalar
    pairs0 = (
        sym.filter(F.length("spaced") >= 3)
        .select(
            "wf",
            F.explode(
                F.sequence(
                    F.lit(1),
                    ((F.length("spaced") + F.lit(1)) / F.lit(2)).cast("int")
                    - F.lit(1),
                )
            ).alias("i"),
            "spaced",
        )
        .select(
            F.col("spaced").substr(F.col("i") * 2 - 1, F.lit(3)).alias("pair"),
            "wf",
        )
        .groupBy("pair")
        .agg(F.sum("wf").alias("c"))
        .orderBy(F.desc("c"), F.asc("pair"))
        .limit(1)
        .select(F.col("pair").alias("merge_pair"))
    )
    merged = sym.join(F.broadcast(pairs0)).select(
        F.split(
            F.replace(
                F.col("spaced"),
                F.col("merge_pair"),
                F.replace(F.col("merge_pair"), F.lit(" "), F.lit("")),
            ),
            " ",
        ).alias("syms"),
        "wf",
        "merge_pair",
    )
    out_pairs = (
        merged.filter(F.size("syms") >= 2)
        .select(
            "wf",
            "merge_pair",
            F.explode(F.sequence(F.lit(1), F.size("syms") - F.lit(1))).alias("i"),
            "syms",
        )
        .select(
            "merge_pair",
            F.concat_ws(
                " ",
                F.element_at("syms", F.col("i")),
                F.element_at("syms", F.col("i") + 1),
            ).alias("pair"),
            "wf",
        )
    )
    return (
        out_pairs.groupBy("merge_pair", "pair")
        .agg(F.sum("wf").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(k)
    )


BPE_MERGE_STEP_SQL = f"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
),
vocab AS (SELECT word, COUNT(*) AS wf FROM words GROUP BY word),
sym AS (
  SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS spaced, wf FROM vocab
),
pairs0 AS (
  SELECT substring(spaced, i * 2 - 1, 3) AS pair, wf
  FROM sym, LATERAL (SELECT unnest(range(1, (length(spaced) + 1) // 2)) AS i) t
  WHERE length(spaced) >= 3
),
best AS (
  SELECT pair AS merge_pair FROM pairs0
  GROUP BY pair ORDER BY SUM(wf) DESC, pair ASC LIMIT 1
),
merged AS (
  SELECT string_split(replace(spaced, merge_pair, replace(merge_pair, ' ', '')), ' ') AS syms,
         wf, merge_pair
  FROM sym, best
),
out_pairs AS (
  SELECT merge_pair, concat_ws(' ', syms[i], syms[i+1]) AS pair, wf
  FROM merged, LATERAL (SELECT unnest(range(1, len(syms))) AS i) t
  WHERE len(syms) >= 2
)
SELECT merge_pair, pair, CAST(SUM(wf) AS BIGINT) AS pair_count
FROM out_pairs
GROUP BY merge_pair, pair
ORDER BY pair_count DESC, pair ASC
LIMIT {BPE_TOP_PAIRS}
""".strip()


# --- sparse TF-IDF cosine similarity join -----------------------------------

# 0.85 sits past p99 of the all-pairs cosine distribution on the
# shared-vocabulary synthetic corpus (median 0.62, p99 0.83): the
# output is the discriminating tail, not most of the pair space.
TFIDF_PAIR_THRESHOLD = 0.85
TFIDF_MAX_TOKEN_DF = 1000
TFIDF_Q = 10**6  # weight quantization: 6-dp microunits


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold: float = TFIDF_PAIR_THRESHOLD,
    max_df: int = TFIDF_MAX_TOKEN_DF,
) -> DataFrame:
    """Document-pair cosine similarity over SPARSE TF-IDF vectors — the
    inverted-index sparse dot product (pairs meet only on shared
    terms), the lexical counterpart of the dense embedding block-pair
    join and the third similarity-join algorithm in the engine
    (dense-exact, prefix-gated, sparse-index). Rare shared vocabulary
    dominates the score, so it catches topical/templated near-dups that
    raw n-gram Jaccard treats as unrelated once a few words drift.

    Exactness across engines: weights quantize to integer microunits
    (ROUND(tf·idf, 6)·10⁶) BEFORE any pair math, so dot products and
    norms are exact BIGINT sums (order-independent) and only the final
    ratio divides in double — same discipline as ``dim_covariance``.
    Bound: |w| ≤ ~10⁷ microunits, ≤10³ terms/doc → Σw² ≤ 10¹⁷ < 2⁶³.

    Scale: same bounded inverted index as the n-gram joins — tokens
    with DF > ``max_df`` carry ~zero idf AND quadratic fan-out, so they
    drop before pairing (cap mirrored in the oracle); per-doc norms ride
    the token rows via a window; one hash aggregation scores pairs."""
    terms = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs_df = docs.agg(F.count("*").alias("n_docs")).withColumn("_k", F.lit(1))
    df_ = terms.distinct().groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    weighted = (
        tf.join(F.broadcast(df_.filter(F.col("df") <= max_df)), "term")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(n_docs_df), "_k")
        .select(
            "doc_id",
            "term",
            (F.round(F.col("tf") * idf, 6) * TFIDF_Q)
            .cast("bigint")
            .alias("w"),
        )
    )
    wnorm = Window.partitionBy("doc_id")
    ex = weighted.withColumn("sq", F.sum(F.col("w") * F.col("w")).over(wnorm))
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(
            F.sum(F.col("a.w") * F.col("b.w")).alias("dot"),
            F.min("a.sq").alias("sqa"),
            F.min("b.sq").alias("sqb"),
        )
    )
    cosine = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("sqa").cast("double")) * F.sqrt(F.col("sqb").cast("double"))),
        6,
    )
    return (
        pairs.select("a_id", "b_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy("a_id", "b_id")
    )


TFIDF_COSINE_PAIRS_SQL = rf"""
WITH terms AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
docfreq AS (
  SELECT term, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term
),
weighted AS (
  SELECT tf.doc_id, tf.term,
         CAST(ROUND(tf.tf * (ln(((SELECT COUNT(*) FROM documents) + 1.0)
                                / (d.df + 1.0)) + 1.0), 6) * {TFIDF_Q} AS BIGINT) AS w
  FROM tf JOIN docfreq d USING (term)
  WHERE d.df <= {TFIDF_MAX_TOKEN_DF}
),
norms AS (SELECT doc_id, SUM(w * w) AS sq FROM weighted GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, SUM(a.w * b.w) AS dot
  FROM weighted a JOIN weighted b
    ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id,
       ROUND(CAST(dot AS DOUBLE)
             / (SQRT(CAST(na.sq AS DOUBLE)) * SQRT(CAST(nb.sq AS DOUBLE))), 6) AS cosine
FROM pairs
JOIN norms na ON na.doc_id = a_id
JOIN norms nb ON nb.doc_id = b_id
WHERE ROUND(CAST(dot AS DOUBLE)
            / (SQRT(CAST(na.sq AS DOUBLE)) * SQRT(CAST(nb.sq AS DOUBLE))), 6) >= {TFIDF_PAIR_THRESHOLD}
ORDER BY a_id, b_id
""".strip()


def langid_confusion(docs: DataFrame) -> DataFrame:
    """Classifier-eval panel over ``lang_id``: the (actual, predicted)
    confusion matrix in long form with per-cell share of the actual
    class — i.e. the row-normalized matrix whose diagonal is per-class
    recall. The standard quality gate before trusting a cheap heuristic
    to route a 100 TB corpus by language.

    Scale: one aggregation on (actual, predicted) — at most
    |langs|² groups — plus a broadcast per-actual total join."""
    preds = lang_id(docs).select(
        F.col("lang").alias("actual"), F.col("predicted_lang").alias("predicted")
    )
    cells = preds.groupBy("actual", "predicted").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    totals = preds.groupBy("actual").agg(F.count("*").alias("_n_actual"))
    return (
        cells.join(F.broadcast(totals), "actual")
        .select(
            "actual",
            "predicted",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("_n_actual"), 6
            ).alias("share_of_actual"),
        )
        .orderBy("actual", "predicted")
    )


LANGID_CONFUSION_SQL = f"""
WITH preds AS (
  SELECT lang AS actual,
         CASE WHEN CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                        t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                   / len(string_split_regex(trim(lower(text)), '\\s+')) >= 0.05
              THEN 'en' ELSE 'und' END AS predicted
  FROM documents
),
cells AS (
  SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM preds GROUP BY 1, 2
),
totals AS (SELECT actual, COUNT(*) AS n_actual FROM preds GROUP BY actual)
SELECT c.actual, c.predicted, c.n_docs,
       ROUND(CAST(c.n_docs AS DOUBLE) / t.n_actual, 6) AS share_of_actual
FROM cells c JOIN totals t ON c.actual = t.actual
ORDER BY c.actual, c.predicted
""".strip()


HEAPS_MIN_PREFIX = 8  # smallest doc-count prefix used in the fit


def heaps_fit(docs: DataFrame) -> DataFrame:
    """Heaps'-law fit — vocabulary growth V ≈ K·Nᵝ over ingestion-order
    corpus prefixes — the companion of the Zipf panel: natural text
    shows β ≈ 0.4–0.6; a flattening curve (β → 0) means new documents
    stop contributing vocabulary (template/duplication saturation),
    β ≈ 1 means unbounded novel tokens (IDs/noise). Measured without
    rescanning per prefix: each token contributes at its FIRST doc
    (min doc_id owner), each doc contributes its token count once, and
    both histograms bin by the power-of-2 prefix they first affect —
    V(2ᵏ) and N(2ᵏ) are then running sums over ≤ ~20 bins, and the OLS
    of ln V on ln N runs over those bounded points.

    Scale: one token aggregation (map-side partial MIN collapses the
    fan-out), one per-doc count, two ~20-row rollups — the corpus is
    read once regardless of how many prefix points the curve has."""
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("tok"),
    )
    bin_of = lambda c: F.pow(  # noqa: E731
        F.lit(2.0), F.ceil(F.log2(F.greatest(c + 1, F.lit(1)).cast("double")))
    ).cast("bigint")
    first = toks.groupBy("tok").agg(F.min("doc_id").alias("first_id"))
    v_bins = first.groupBy(bin_of(F.col("first_id")).alias("b")).agg(
        F.count("*").cast("bigint").alias("dv")
    )
    n_bins = (
        toks.groupBy("doc_id")
        .agg(F.count("*").alias("nt"))
        .groupBy(bin_of(F.col("doc_id")).alias("b"))
        .agg(F.sum("nt").cast("bigint").alias("dn"))
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        v_bins.join(n_bins, "b", "full_outer")
        .select(
            "b",
            F.coalesce("dv", F.lit(0).cast("bigint")).alias("dv"),
            F.coalesce("dn", F.lit(0).cast("bigint")).alias("dn"),
        )
        .withColumn("v", F.sum("dv").over(w))
        .withColumn("n", F.sum("dn").over(w))
        .filter((F.col("b") >= HEAPS_MIN_PREFIX) & (F.col("n") > 0) & (F.col("v") > 0))
    )
    x = F.log(F.col("n").cast("double"))
    y = F.log(F.col("v").cast("double"))
    return pts.agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.round(F.regr_slope(y, x), 6).alias("heaps_beta"),
        F.round(F.regr_intercept(y, x), 6).alias("heaps_intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.max("v").cast("bigint").alias("vocab_total"),
        F.max("n").cast("bigint").alias("tokens_total"),
    )


# A flat vocabulary curve (constant V) has var_pop(ln V) = 0, and both
# engines define regr_r2 as 1 there. DuckDB's multi-threaded combine of
# partial variance states can leave roundoff in that variance and then
# returns corr² of the noise, a different value from run to run, so the
# oracle states the constant-V case itself.
HEAPS_FIT_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
first AS (SELECT tok, MIN(doc_id) AS first_id FROM toks GROUP BY tok),
v_bins AS (
  SELECT CAST(power(2, ceil(log2(CAST(GREATEST(first_id + 1, 1) AS DOUBLE)))) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS dv
  FROM first GROUP BY 1
),
n_bins AS (
  SELECT CAST(power(2, ceil(log2(CAST(GREATEST(doc_id + 1, 1) AS DOUBLE)))) AS BIGINT) AS b,
         CAST(SUM(nt) AS BIGINT) AS dn
  FROM (SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY doc_id)
  GROUP BY 1
),
pts AS (
  SELECT b,
         SUM(COALESCE(dv, 0)) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v,
         SUM(COALESCE(dn, 0)) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
  FROM v_bins FULL OUTER JOIN n_bins USING (b)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(regr_slope(LN(CAST(v AS DOUBLE)), LN(CAST(n AS DOUBLE))), 6) AS heaps_beta,
       ROUND(regr_intercept(LN(CAST(v AS DOUBLE)), LN(CAST(n AS DOUBLE))), 6) AS heaps_intercept,
       ROUND(CASE WHEN MIN(v) = MAX(v) AND MIN(n) < MAX(n) THEN CAST(1 AS DOUBLE)
                  ELSE regr_r2(LN(CAST(v AS DOUBLE)), LN(CAST(n AS DOUBLE))) END, 6) AS r2,
       CAST(MAX(v) AS BIGINT) AS vocab_total,
       CAST(MAX(n) AS BIGINT) AS tokens_total
FROM pts
WHERE b >= {HEAPS_MIN_PREFIX} AND n > 0 AND v > 0
""".strip()

# --- winnowing fingerprints (MOSS) ------------------------------------------

WINNOW_K = 4  # words per k-gram
WINNOW_W = 5  # k-grams per selection window
WINNOW_MAX_DF = 1000  # hot-fingerprint cap before pairing
WINNOW_MIN_SHARED = 3  # shared fingerprints to surface a pair


def _winnow_selected(docs: DataFrame, k: int, w: int) -> DataFrame:
    """(doc_id, n_kg, fp) — the winnowing-selected fingerprint set.

    Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003): hash every
    word k-gram, slide a w-wide window over the hash sequence, and keep
    each window's minimum hash, rightmost on ties. Guarantees: any
    shared run of w+k-1 words yields at least one shared fingerprint
    (the detection floor), and ~2/(w+1) of k-grams are kept (the
    density), so the index is a fixed fraction of the corpus instead of
    every shingle — what ``shingle_rows``-based dedup becomes when the
    index itself must shrink 100×.

    The rightmost-min-of-window selection is ONE window aggregate: each
    k-gram's sort key is ``md5hex || lpad(10⁹−1−pos)`` so the string
    MIN over the frame picks the smallest hash with the LARGEST
    position on hash ties — no nested window, and string MIN is plain
    binary collation in both engines. Windows truncated by a short doc
    (fewer than w k-grams) degrade to one whole-doc window, so every
    doc with ≥ k tokens keeps ≥ 1 fingerprint."""
    toks = docs.select(
        "doc_id",
        F.posexplode(_tokens(F.col("text"))).alias("pos", "tok"),
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(wnd) for j in range(1, k)]
    kg = (
        toks.select(
            "doc_id",
            "pos",
            F.md5(F.concat_ws(" ", F.col("tok"), *leads)).alias("h"),
            leads[-1].alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    kg = kg.withColumn("n_kg", F.count("*").over(Window.partitionBy("doc_id")))
    kg = kg.withColumn(
        "key",
        F.concat(
            F.col("h"),
            F.lpad((F.lit(999999999) - F.col("pos")).cast("string"), 9, "0"),
        ),
    )
    sel_w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    starts = kg.withColumn("sel", F.min("key").over(sel_w)).filter(
        F.col("pos") <= F.greatest(F.col("n_kg") - w, F.lit(0))
    )
    return (
        starts.select("doc_id", "n_kg", F.substring("sel", 1, 32).alias("fp"))
        .distinct()
    )


def winnowing(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    sel: DataFrame | None = None,
) -> DataFrame:
    """Per-doc winnowing census: k-gram count, selected-fingerprint
    count, and density (≈ 2/(w+1) in expectation — the guarantee the
    panel lets you audit). Docs shorter than k tokens have no k-grams
    and do not appear (mirrored in the oracle). ``sel`` injects the
    shared persisted fingerprint frame (registry asset ``winnow_fp``)
    so the census and the pair scan build the index once."""
    if sel is None:
        sel = _winnow_selected(docs, k, w)
    return (
        sel.groupBy("doc_id")
        .agg(
            F.max("n_kg").cast("bigint").alias("n_kgrams"),
            F.count("*").cast("bigint").alias("n_fingerprints"),
            F.round(F.count("*") / F.max("n_kg").cast("double"), 6).alias("density"),
        )
        .orderBy("doc_id")
    )


def winnowing_pairs(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_df: int = WINNOW_MAX_DF,
    min_shared: int = WINNOW_MIN_SHARED,
    sel: DataFrame | None = None,
) -> DataFrame:
    """Document pairs sharing ≥ ``min_shared`` winnowing fingerprints,
    scored by fingerprint-set Jaccard — near-dup detection over the
    SELECTED index (≈ 2/(w+1) of shingles) instead of the full shingle
    index: the same inverted-index equi-join discipline as
    ``ngram_pair_scores`` (hot fingerprints with DF > ``max_df`` drop
    before pairing, so fan-out stays ≤ max_df² per fingerprint) at a
    fraction of the index size — the scale path when even the capped
    shingle index is too big to join."""
    sel = _winnow_selected(docs, k, w)
    hot = (
        sel.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("fp")
    )
    wsz = Window.partitionBy("doc_id")
    ex = sel.join(F.broadcast(hot), "fp", "left_anti").withColumn(
        "sz", F.count("*").over(wsz)
    )
    a, b = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_shared"),
            F.min("a.sz").alias("sz_a"),
            F.min("b.sz").alias("sz_b"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs.select(
        "a_id",
        "b_id",
        "n_shared",
        F.round(
            F.col("n_shared")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")).cast("double"),
            6,
        ).alias("fp_jaccard"),
    ).orderBy("a_id", "b_id")


_WINNOW_SELECTED_SQL = rf"""
toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents
),
kg AS (
  SELECT doc_id, i AS pos,
         md5(concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4])) AS h
  FROM toks, LATERAL (SELECT unnest(range(0, len(t) - {WINNOW_K - 1})) AS i) ix
),
keyed AS (
  SELECT doc_id, pos,
         h || lpad(CAST(999999999 - pos AS VARCHAR), 9, '0') AS key,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_kg
  FROM kg
),
starts AS (
  SELECT doc_id, pos, n_kg,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
           AS sel
  FROM keyed
),
selected AS (
  SELECT DISTINCT doc_id, n_kg, substr(sel, 1, 32) AS fp
  FROM starts
  WHERE pos <= GREATEST(n_kg - {WINNOW_W}, 0)
)
""".strip()

WINNOWING_SQL = f"""
WITH {_WINNOW_SELECTED_SQL}
SELECT doc_id,
       CAST(MAX(n_kg) AS BIGINT) AS n_kgrams,
       CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
       ROUND(COUNT(*) / CAST(MAX(n_kg) AS DOUBLE), 6) AS density
FROM selected
GROUP BY doc_id
ORDER BY doc_id
""".strip()

WINNOWING_PAIRS_SQL = f"""
WITH {_WINNOW_SELECTED_SQL},
ex AS (
  SELECT doc_id, fp FROM selected
  WHERE fp NOT IN (SELECT fp FROM selected GROUP BY fp
                   HAVING COUNT(*) > {WINNOW_MAX_DF})
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / (sa.sz + sb.sz - n_shared), 6)
         AS fp_jaccard
FROM pairs
JOIN sizes sa ON a_id = sa.doc_id
JOIN sizes sb ON b_id = sb.doc_id
WHERE n_shared >= {WINNOW_MIN_SHARED}
ORDER BY a_id, b_id
""".strip()


# --- readability (Flesch-style, vowel-run syllable proxy) -------------------

READ_SENT_LEN = 15  # pseudo-sentence length: the corpus has no punctuation


def readability(docs: DataFrame) -> DataFrame:
    """Flesch-style reading-ease panel: words, a vowel-run syllable
    proxy (each maximal ``[aeiou]+`` run ≈ one syllable — the standard
    cheap approximation when no dictionary is available), and
    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), with
    pseudo-sentences of ``READ_SENT_LEN`` words since the synthetic
    corpus carries no punctuation. A curation signal in the same
    family as ``text_stats``'s quality score, but targeting structural
    complexity rather than lexical diversity.

    Scale: map-only — two regexp passes and a split per document, all
    JVM-side codegen; no shuffle beyond the output sort."""
    t = F.trim(F.lower(F.col("text")))
    n_words = F.size(F.split(t, r"\s+"))
    runs = F.regexp_replace(t, "[aeiou]+", "@")
    n_syll = F.length(runs) - F.length(F.regexp_replace(runs, "@", ""))
    n_sent = F.greatest(
        F.lit(1).cast("bigint"),
        (F.col("n_words") / F.lit(READ_SENT_LEN)).cast("bigint"),
    )
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast("double")
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
    flesch = F.round(
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
    )
    base = docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_syll.cast("bigint").alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    return (
        base.withColumn("n_sentences", n_sent)
        .select(
            "doc_id",
            "n_words",
            "n_syllables",
            "n_sentences",
            F.round(spw, 6).alias("syll_per_word"),
            flesch.alias("flesch"),
        )
        .withColumn(
            "band",
            F.when(F.col("flesch") >= 90, "very_easy")
            .when(F.col("flesch") >= 60, "standard")
            .when(F.col("flesch") >= 30, "difficult")
            .otherwise("very_difficult"),
        )
        .orderBy("doc_id")
    )


READABILITY_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(trim(lower(text)), '[aeiou]+', '@', 'g'))
              - length(regexp_replace(
                  regexp_replace(trim(lower(text)), '[aeiou]+', '@', 'g'),
                  '@', '', 'g')) AS BIGINT) AS n_syllables
  FROM documents
),
sent AS (
  SELECT doc_id, n_words, n_syllables,
         GREATEST(CAST(1 AS BIGINT), n_words // {READ_SENT_LEN}) AS n_sentences
  FROM base WHERE n_words > 0
),
scored AS (
  SELECT doc_id, n_words, n_syllables, n_sentences,
         ROUND(CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE), 6)
           AS syll_per_word,
         ROUND(206.835
               - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
               - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
           AS flesch
  FROM sent
)
SELECT doc_id, n_words, n_syllables, n_sentences, syll_per_word, flesch,
       CASE WHEN flesch >= 90 THEN 'very_easy'
            WHEN flesch >= 60 THEN 'standard'
            WHEN flesch >= 30 THEN 'difficult'
            ELSE 'very_difficult' END AS band
FROM scored
ORDER BY doc_id
""".strip()


# --- held-out perplexity: md5 train/eval split bigram LM --------------------

HOLDOUT_TRAIN_HEX = "c"  # md5 first nibble < 'c' -> train (75% design)


def holdout_perplexity(docs: DataFrame) -> DataFrame:
    """Held-out LM evaluation: split the corpus 75/25 by a
    deterministic md5 hash of doc_id, train the add-one-smoothed
    bigram LM on the TRAIN side only, and score each EVAL document —
    average log-probability plus the unseen-bigram fraction. Where
    ``doc_bigram_logprob`` scores in-sample (its smoothing never meets
    an unseen pair), this is the out-of-sample number that actually
    measures generalization — the eval-side droop vs the in-sample
    score is the overfitting gap, and a per-doc OOV spike marks
    contamination or domain shift. Unseen contexts fall back to
    ln(1/(0+V)) via COALESCE in both engines.

    Scale: same keyed shuffles as the in-sample scorer (bigram, then
    doc_id); the train/eval predicate is a map-side hash — no extra
    pass, no skew."""
    from pyspark.sql import Window

    is_train = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < F.lit(
        HOLDOUT_TRAIN_HEX
    )
    toks = docs.select(
        "doc_id",
        is_train.alias("is_train"),
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "pos", "w1"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.select(
            "doc_id", "is_train", "w1", F.lead("w1", 1).over(w).alias("w2")
        )
        .filter(F.col("w2").isNotNull())
        .filter(F.col("w1").rlike("^[a-z]+$") & F.col("w2").rlike("^[a-z]+$"))
    )
    train = pairs.filter(F.col("is_train"))
    big = train.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = train.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = (
        train.select(F.col("w1").alias("tok"))
        .union(train.select(F.col("w2").alias("tok")))
        .agg(F.countDistinct("tok").alias("v"))
        .withColumn("_k", F.lit(1))
    )
    ev = pairs.filter(~F.col("is_train"))
    scored = (
        ev.join(big, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .withColumn("c12", F.coalesce(F.col("c12"), F.lit(0)))
        .withColumn("c1", F.coalesce(F.col("c1"), F.lit(0)))
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(vocab), "_k")
        .select(
            "doc_id",
            (F.col("c12") == 0).cast("int").alias("unseen"),
            F.log(
                (F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double")
            ).alias("logp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("unseen").cast("bigint").alias("n_unseen"),
            F.round(
                F.sum("unseen").cast("double") / F.count("*"), 6
            ).alias("oov_frac"),
            F.round(F.avg("logp"), 6).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


HOLDOUT_PERPLEXITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '{HOLDOUT_TRAIN_HEX}' AS is_train,
         t, unnest(range(0, len(t) - 1)) AS i
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents)
),
pairs AS (
  SELECT doc_id, is_train, t[i + 1] AS w1, t[i + 2] AS w2
  FROM toks
  WHERE regexp_full_match(t[i + 1], '[a-z]+') AND regexp_full_match(t[i + 2], '[a-z]+')
),
big AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs WHERE is_train GROUP BY w1, w2),
ctx AS (SELECT w1, COUNT(*) AS c1 FROM pairs WHERE is_train GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT w1 AS tok FROM pairs WHERE is_train
        UNION ALL SELECT w2 FROM pairs WHERE is_train)
),
scored AS (
  SELECT p.doc_id,
         CASE WHEN COALESCE(b.c12, 0) = 0 THEN 1 ELSE 0 END AS unseen,
         ln((COALESCE(b.c12, 0) + 1)
            / CAST(COALESCE(c.c1, 0) + vocab.v AS DOUBLE)) AS logp
  FROM pairs p
  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
  LEFT JOIN ctx c ON p.w1 = c.w1
  CROSS JOIN vocab
  WHERE NOT p.is_train
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(unseen) AS BIGINT) AS n_unseen,
       ROUND(CAST(SUM(unseen) AS DOUBLE) / COUNT(*), 6) AS oov_frac,
       ROUND(AVG(logp), 6) AS avg_logprob
FROM scored
GROUP BY doc_id
ORDER BY doc_id
""".strip()


# --- RAKE keyword extraction ------------------------------------------------

RAKE_TOP = 50


def rake_keywords(docs: DataFrame) -> DataFrame:
    """RAKE (Rose et al. 2010) keyword extraction: candidate phrases
    are maximal stopword-free token runs (the gaps-and-islands split on
    the STOPWORDS delimiters), each word scores degree/frequency
    (degree = Σ sizes of the phrases it appears in — co-occurrence
    reach; frequency = raw count), and a phrase scores the sum of its
    member word scores — longer phrases of well-connected words win.
    Top ``RAKE_TOP`` unique phrases corpus-wide.

    Determinism: word scores are rounded to 6 dp then accumulated as
    DECIMAL per phrase (order-independent), phrase text reassembles via
    an order-pinned aggregation (sorted struct array here, string_agg
    ORDER BY in the twin), ties order by phrase text.

    Scale: token stream → one windowed island pass per doc (keyed by
    doc_id — never a global window) → two vocabulary-sized
    aggregations → a phrase-sized rollup; the top-k is TakeOrdered."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "pos", "w"
        ),
    ).withColumn(
        "is_stop",
        F.col("w").isin(*STOPWORDS) | ~F.col("w").rlike("^[a-z]+$"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    isl = toks.withColumn(
        "phrase_id", F.sum(F.col("is_stop").cast("int")).over(win)
    ).filter(~F.col("is_stop"))
    sizes = isl.groupBy("doc_id", "phrase_id").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    withsz = isl.join(sizes, ["doc_id", "phrase_id"])
    wstats = withsz.groupBy("w").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("sz").alias("degree"),
    )
    wscore = wstats.select(
        "w",
        F.round(
            F.col("degree").cast("double") / F.col("freq").cast("double"), 6
        )
        .cast("decimal(28,6)")
        .alias("wscore"),
    )
    phrases = (
        withsz.join(wscore, "w")
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda x: x.w,
                ),
                " ",
            ).alias("phrase"),
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("wscore").alias("pscore"),
        )
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.round(F.max("pscore").cast("double"), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(RAKE_TOP)
    )


_RAKE_STOPS_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)

RAKE_KEYWORDS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, i AS pos, t[i + 1] AS w,
         (t[i + 1] IN ({_RAKE_STOPS_SQL})
          OR NOT regexp_full_match(t[i + 1], '[a-z]+')) AS is_stop
  FROM (SELECT doc_id, t, unnest(range(0, len(t))) AS i
        FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
              FROM documents))
),
isl AS (
  SELECT doc_id, pos, w,
         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
           AS phrase_id,
         is_stop
  FROM toks
),
kept AS (SELECT doc_id, pos, w, phrase_id FROM isl WHERE NOT is_stop),
sizes AS (
  SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS sz
  FROM kept GROUP BY 1, 2
),
withsz AS (
  SELECT k.doc_id, k.phrase_id, k.pos, k.w, s.sz
  FROM kept k JOIN sizes s ON k.doc_id = s.doc_id AND k.phrase_id = s.phrase_id
),
wscore AS (
  SELECT w,
         CAST(ROUND(CAST(SUM(sz) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
              AS DECIMAL(28,6)) AS wscore
  FROM withsz GROUP BY w
),
phrases AS (
  SELECT t.doc_id, t.phrase_id,
         string_agg(t.w, ' ' ORDER BY t.pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         SUM(ws.wscore) AS pscore
  FROM withsz t JOIN wscore ws ON t.w = ws.w
  GROUP BY t.doc_id, t.phrase_id
)
SELECT phrase,
       MAX(n_words) AS n_words,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       ROUND(CAST(MAX(pscore) AS DOUBLE), 6) AS score
FROM phrases
GROUP BY phrase
ORDER BY score DESC, phrase ASC
LIMIT {RAKE_TOP}
""".strip()


# --- vocabulary coverage curve ------------------------------------------------

VOCAB_COVERAGE_CUTS = [64, 256, 1024, 4096]


def vocab_coverage(docs: DataFrame) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size, the
    fraction of TOKEN OCCURRENCES the top-s types cover (equivalently
    1 − OOV rate) — the number a tokenizer budget decision reads
    ("4096 types cover 99.2%"), completing the panel next to
    ``docs_vocab_topk`` (the head itself), ``docs_zipf_fit`` (its
    shape) and ``docs_tokenizer_fertility`` (the downstream cost).

    Scale: one vocabulary hash aggregation, a TakeOrdered head of
    max(cuts) rows, a bounded rank window over that head, one 1-row
    occurrence total — the full vocab never leaves the executors."""
    from pyspark.sql import Window

    max_cut = max(VOCAB_COVERAGE_CUTS)
    head = vocab_topk(docs, max_cut).select("tok", "n_occurrences")
    ranked = head.select(
        "n_occurrences",
        F.row_number()
        .over(Window.orderBy(F.desc("n_occurrences"), F.asc("tok")))
        .alias("r"),
    )
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    total = toks.agg(
        F.count("*").cast("bigint").alias("total_occ"),
        F.countDistinct("tok").cast("bigint").alias("n_types"),
    )
    cuts = docs.sparkSession.createDataFrame(
        [(c,) for c in VOCAB_COVERAGE_CUTS], "cut int"
    )
    cov = (
        F.broadcast(cuts)
        .join(ranked, F.col("r") <= F.col("cut"))
        .groupBy("cut")
        .agg(F.sum("n_occurrences").cast("bigint").alias("covered_occ"))
    )
    return (
        cov.crossJoin(F.broadcast(total))
        .select(
            F.col("cut").cast("bigint").alias("vocab_size"),
            "covered_occ",
            "total_occ",
            "n_types",
            F.round(
                F.col("covered_occ").cast("double")
                / F.col("total_occ").cast("double"),
                6,
            ).alias("coverage"),
            F.round(
                F.lit(1.0)
                - F.col("covered_occ").cast("double")
                / F.col("total_occ").cast("double"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("vocab_size")
    )


VOCAB_COVERAGE_SQL = rf"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM toks GROUP BY 1
),
head AS (
  SELECT n_occurrences,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, tok ASC) AS r
  FROM vocab
  ORDER BY n_occurrences DESC, tok ASC
  LIMIT {max(VOCAB_COVERAGE_CUTS)}
),
total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_occ,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types
  FROM toks
),
cuts AS (SELECT unnest({VOCAB_COVERAGE_CUTS!r}) AS cut),
cov AS (
  SELECT c.cut, CAST(SUM(h.n_occurrences) AS BIGINT) AS covered_occ
  FROM cuts c JOIN head h ON h.r <= c.cut
  GROUP BY 1
)
SELECT CAST(cut AS BIGINT) AS vocab_size,
       covered_occ, total_occ, n_types,
       ROUND(CAST(covered_occ AS DOUBLE) / CAST(total_occ AS DOUBLE), 6)
         AS coverage,
       ROUND(1.0 - CAST(covered_occ AS DOUBLE) / CAST(total_occ AS DOUBLE), 6)
         AS oov_rate
FROM cov CROSS JOIN total
ORDER BY vocab_size
""".strip()


# --- Good-Turing count-of-counts ----------------------------------------------

GT_ROWS = 10  # report the 10 SMALLEST observed counts (the GT-relevant tail)


def good_turing(docs: DataFrame) -> DataFrame:
    """Good-Turing frequency smoothing over the corpus vocabulary: the
    count-of-counts table N_r (how many types occur exactly r times),
    each low count's adjusted frequency r* = (r+1)·N_{r+1}/N_r, and the
    missing-mass estimate P(unseen) = N_1/N — the classical answer to
    "how much probability belongs to words we have not seen", and the
    quantity Kneser-Ney's discount approximates
    (``docs_kneser_ney_bigram``). Everything is a ratio of exact
    integer counts, so the oracle agrees bit-for-bit.

    Scale: one vocabulary aggregation, one count-of-counts aggregation
    over the vocab table, a self-join on r+1 over ≤{GT_MAX_R} rows."""
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").cast("bigint").alias("r"))
    coc = vocab.groupBy("r").agg(F.count("*").cast("bigint").alias("n_r"))
    total = toks.agg(F.count("*").cast("bigint").alias("n_tokens"))
    low = coc.orderBy(F.asc("r")).limit(GT_ROWS)
    nxt = coc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    return (
        low.join(nxt, "r", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("r").cast("bigint").alias("r"),
            "n_r",
            F.coalesce("n_r1", F.lit(0)).cast("bigint").alias("n_r_plus_1"),
            F.round(
                (F.col("r") + 1).cast("double")
                * F.coalesce("n_r1", F.lit(0)).cast("double")
                / F.col("n_r").cast("double"),
                6,
            ).alias("r_star"),
            F.round(
                F.col("r").cast("double")
                * F.col("n_r").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("mass_share"),
            "n_tokens",
        )
        .orderBy("r")
    )


GOOD_TURING_SQL = rf"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS r FROM toks GROUP BY 1
),
coc AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM vocab GROUP BY 1
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks)
SELECT c.r, c.n_r,
       COALESCE(nx.n_r, 0) AS n_r_plus_1,
       ROUND(CAST(c.r + 1 AS DOUBLE) * CAST(COALESCE(nx.n_r, 0) AS DOUBLE)
             / CAST(c.n_r AS DOUBLE), 6) AS r_star,
       ROUND(CAST(c.r AS DOUBLE) * CAST(c.n_r AS DOUBLE)
             / CAST(t.n_tokens AS DOUBLE), 6) AS mass_share,
       t.n_tokens
FROM (SELECT * FROM coc ORDER BY r ASC LIMIT {GT_ROWS}) c
LEFT JOIN coc nx ON nx.r = c.r + 1
CROSS JOIN total t
ORDER BY c.r
""".strip()


# --- term burstiness (overdispersion) -------------------------------------------

BURST_MIN_DOCS = 10
BURST_TOP = 50


def term_burstiness(docs: DataFrame) -> DataFrame:
    """Lexical burstiness: per term, the variance-to-mean ratio of its
    per-document counts (Katz's observation — content words arrive in
    BURSTS, function words ~Poisson with VMR ≈ 1). High-VMR terms are
    topical and make good keywords/index terms; VMR ≈ 1 across the
    vocabulary is also a tell for templated/synthetic text. Counts are
    integers, moments accumulate exactly (zero-docs enter the moments
    through the corpus-size denominator, no gap-fill join — the
    abc_xyz discipline), doubles only in the final ratio.

    Scale: one (term, doc) aggregation, one term rollup, a 1-row
    corpus count, TakeOrdered top-k."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    per_doc = toks.groupBy("tok", "doc_id").agg(
        F.count("*").cast("bigint").alias("c")
    )
    n_docs = docs.agg(F.count("*").cast("bigint").alias("nd"))
    stats = per_doc.groupBy("tok").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    j = stats.crossJoin(F.broadcast(n_docs)).filter(F.col("df") >= BURST_MIN_DOCS)
    nd = F.col("nd").cast("double")
    mean = F.col("s1").cast("double") / nd
    # population variance over ALL docs (zeros included via nd)
    var = F.col("s2").cast("double") / nd - mean * mean
    vmr = var / F.nullif(mean, F.lit(0.0))
    return (
        j.select(
            "tok",
            "df",
            F.col("s1").alias("n_occurrences"),
            F.round(mean, 6).alias("mean_per_doc"),
            F.round(vmr, 6).alias("vmr"),
        )
        .orderBy(F.col("vmr").desc(), F.asc("tok"))
        .limit(BURST_TOP)
    )


TERM_BURSTINESS_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
  FROM documents
),
per_doc AS (
  SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
stats AS (
  SELECT tok,
         CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM per_doc GROUP BY 1
)
SELECT tok, df, s1 AS n_occurrences,
       ROUND(CAST(s1 AS DOUBLE) / CAST(nd.nd AS DOUBLE), 6) AS mean_per_doc,
       ROUND((CAST(s2 AS DOUBLE) / CAST(nd.nd AS DOUBLE)
              - (CAST(s1 AS DOUBLE) / CAST(nd.nd AS DOUBLE))
                * (CAST(s1 AS DOUBLE) / CAST(nd.nd AS DOUBLE)))
             / NULLIF(CAST(s1 AS DOUBLE) / CAST(nd.nd AS DOUBLE), 0.0), 6) AS vmr
FROM stats CROSS JOIN nd
WHERE df >= {BURST_MIN_DOCS}
ORDER BY vmr DESC, tok ASC
LIMIT {BURST_TOP}
""".strip()
