"""Dataset-curation operators for LLM training pipelines (driver
mandate, BASELINE.json north_star): deterministic train/val/test
splits, source-mixture reweighting, and an inverted token index.

All JVM-side built-ins in the per-row hot path — the only
higher-order-function use is post-aggregation over the (tiny) vocab
table, where the interpreted-HOF penalty is irrelevant. Each operator
has a DuckDB oracle twin (*_SQL constants) over the driver's
``documents`` view.

Scale notes (100 TB):
- split_assign is a stateless per-row projection — no shuffle, no
  state, stable under any repartitioning, and reproducible across
  engines because md5 is md5. This is how real corpora pin eval sets.
- mixture_weights aggregates to one row per source (dozens) before any
  windowing, so the "global total" window is over a trivially small
  frame — never over the raw table.
- inverted_index shuffles once on (token, doc) then once on token; the
  df >= 2 and alphabetic-token filters run before the second shuffle
  to cut the long tail of hapax tokens (the bulk of any vocabulary).
"""

from __future__ import annotations

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import shuffle_parts

# --- deterministic train/val/test split -----------------------------------

# 4 hex chars of md5 = 65,536 uniform buckets; thresholds are computed
# in Python and compared as strings (both engines compare hex
# lexicographically, and both produce identical lowercase md5 hex).
_BUCKETS = 16**4


def _hex_threshold(frac: float) -> str:
    return format(int(_BUCKETS * frac), "04x")


def split_assign(docs: DataFrame, test_frac: float = 0.1, val_frac: float = 0.1) -> DataFrame:
    """Assign every document a deterministic train/val/test split from
    the first 4 hex chars of md5(doc_id) — content-independent, stable
    under re-runs, re-shards, and engine changes."""
    test_thr = _hex_threshold(test_frac)
    val_thr = _hex_threshold(test_frac + val_frac)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return docs.select(
        "doc_id",
        bucket.alias("bucket_hex"),
        F.when(bucket < test_thr, "test")
        .when(bucket < val_thr, "val")
        .otherwise("train")
        .alias("split"),
    ).orderBy("doc_id")


def _split_sql(test_frac: float = 0.1, val_frac: float = 0.1) -> str:
    test_thr = _hex_threshold(test_frac)
    val_thr = _hex_threshold(test_frac + val_frac)
    return f"""
SELECT doc_id,
       substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS bucket_hex,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{test_thr}' THEN 'test'
            WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{val_thr}' THEN 'val'
            ELSE 'train' END AS split
FROM documents
ORDER BY doc_id
""".strip()


SPLIT_ASSIGN_SQL = _split_sql()


# --- source-mixture reweighting --------------------------------------------


def mixture_weights(docs: DataFrame) -> DataFrame:
    """Per-source sampling weights to rebalance the corpus to a uniform
    source mixture: weight = (total/k)/n_source (>1 = upsample), plus
    the capped single-pass sampling probability."""
    per_source = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy()
    total = F.sum("n_docs").over(w)
    k = F.count("*").over(w)
    target = total.cast("double") / k
    weight = target / F.col("n_docs")
    return (
        per_source.select(
            "source",
            "n_docs",
            F.round(F.col("n_docs") / total.cast("double"), 6).alias("corpus_share"),
            F.round(F.lit(1.0) / k, 6).alias("target_share"),
            F.round(weight, 6).alias("sampling_weight"),
            F.round(F.least(weight, F.lit(1.0)), 6).alias("sample_prob"),
        )
        .orderBy("source")
    )


MIXTURE_WEIGHTS_SQL = """
WITH per_source AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
)
SELECT source,
       n_docs,
       ROUND(n_docs / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS corpus_share,
       ROUND(1.0 / COUNT(*) OVER (), 6) AS target_share,
       ROUND((CAST(SUM(n_docs) OVER () AS DOUBLE) / COUNT(*) OVER ()) / n_docs, 6)
         AS sampling_weight,
       ROUND(LEAST((CAST(SUM(n_docs) OVER () AS DOUBLE) / COUNT(*) OVER ()) / n_docs, 1.0), 6)
         AS sample_prob
FROM per_source
ORDER BY source
""".strip()


# --- inverted token index ---------------------------------------------------


def inverted_index(docs: DataFrame) -> DataFrame:
    """token -> (document frequency, total term frequency, sorted
    posting list) for alphabetic tokens appearing in >= 2 documents.

    Two shuffles: (token, doc_id) partial counts (map-side combine
    collapses repeats within a doc), then token. The posting list is
    emitted as a comma-joined string so the oracle compare is exact.
    """
    tok = F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    per_doc = (
        docs.select("doc_id", tok)
        .filter(F.col("token").rlike("^[a-z]+$"))
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return (
        per_doc.groupBy("token")
        .agg(
            F.count("*").alias("doc_freq"),
            F.sum("tf").alias("total_tf"),
            F.sort_array(F.collect_list("doc_id")).alias("_postings"),
        )
        .filter(F.col("doc_freq") >= 2)
        .select(
            "token",
            "doc_freq",
            "total_tf",
            F.expr("array_join(transform(_postings, x -> cast(x as string)), ',')").alias(
                "postings"
            ),
        )
        .orderBy("token")
    )


INVERTED_INDEX_SQL = r"""
WITH per_doc AS (
  SELECT token, doc_id, COUNT(*) AS tf
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        FROM documents)
  WHERE regexp_full_match(token, '[a-z]+')
  GROUP BY token, doc_id
)
SELECT token,
       COUNT(*) AS doc_freq,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       array_to_string(list_sort(list(doc_id)), ',') AS postings
FROM per_doc
GROUP BY token
HAVING COUNT(*) >= 2
ORDER BY token
""".strip()


# --- deterministic stratified sampling --------------------------------------

SAMPLE_PER_SOURCE = 5


def stratified_sample(docs: DataFrame, per_source: int = SAMPLE_PER_SOURCE) -> DataFrame:
    """Fixed-size per-source sample, selected by md5(doc_id) rank —
    deterministic and engine-independent (the distributed analogue of
    seeded reservoir sampling, reproducible across re-runs/re-shards).
    One shuffle on source; rank is a window over each stratum."""
    rank = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.md5(F.col("doc_id").cast("string")), "doc_id"
        )
    )
    return (
        docs.select("source", "doc_id", rank.alias("sample_rank"))
        .filter(F.col("sample_rank") <= per_source)
        .orderBy("source", "sample_rank")
    )


STRATIFIED_SAMPLE_SQL = f"""
SELECT source, doc_id, sample_rank
FROM (
  SELECT source, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS sample_rank
  FROM documents)
WHERE sample_rank <= {SAMPLE_PER_SOURCE}
ORDER BY source, sample_rank
""".strip()


# --- repetition quality signals (Gopher-style) ------------------------------


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document bigram repetition signals: total bigrams, the top
    bigram's share, and the fraction of bigram occurrences belonging to
    a repeated bigram — the standard cheap boilerplate/spam detectors.

    Bigrams via posexplode + window lead (whole-stage codegen; the
    array-HOF formulation runs interpreted and is ~15x slower at scale,
    see dedup.shingle_rows)."""
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    nxt = F.lead("tok", 1).over(w)
    bigrams = (
        toks.select("doc_id", F.concat_ws(" ", F.col("tok"), nxt).alias("bigram"), nxt.alias("_n"))
        .filter(F.col("_n").isNotNull())
    )
    counts = bigrams.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    total = F.sum("c")
    return (
        counts.groupBy("doc_id")
        .agg(
            total.alias("n_bigrams"),
            F.max("c").alias("max_bigram_count"),
            F.round(F.max("c") / total.cast("double"), 6).alias("top_bigram_frac"),
            F.round(
                F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
                / total.cast("double"),
                6,
            ).alias("dup_bigram_frac"),
        )
        .orderBy("doc_id")
    )


REPETITION_STATS_SQL = r"""
WITH bi AS (
  SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS bigram
  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS t
              FROM documents))
),
cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY doc_id, bigram)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       MAX(c) AS max_bigram_count,
       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_bigram_frac,
       ROUND(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) / CAST(SUM(c) AS DOUBLE), 6)
         AS dup_bigram_frac
FROM cnt
GROUP BY doc_id
ORDER BY doc_id
""".strip()


# --- composite quality filter (validity-split pattern for documents) --------

MIN_TOKENS = 20
MIN_TTR = 0.35
MAX_DUP_BIGRAM = 0.5


def quality_filter(docs: DataFrame) -> DataFrame:
    """Keep/drop verdict per document from the cheap quality signals,
    with a first-true-wins reason — the documents-table analogue of the
    reference's validity split + priority CASE labeling
    (int_invalid_logistics_events.SQL:35-61 shape, applied to corpus
    curation).

    Signals come from one token pass (counts + distinct) and one bigram
    pass (repetition_stats), joined on doc_id; docs too short to have
    bigrams are repetition-clean by definition (coalesce 0)."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    n_tokens = F.size(toks)
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    base = docs.select("doc_id", n_tokens.alias("n_tokens"), F.round(ttr, 6).alias("ttr"))
    rep = repetition_stats(docs).select("doc_id", "dup_bigram_frac")
    joined = base.join(rep, "doc_id", "left").withColumn(
        "dup_bigram_frac", F.coalesce(F.col("dup_bigram_frac"), F.lit(0.0))
    )
    reason = (
        F.when(F.col("n_tokens") < MIN_TOKENS, "TOO_SHORT")
        .when(F.col("ttr") < MIN_TTR, "LOW_DIVERSITY")
        .when(F.col("dup_bigram_frac") > MAX_DUP_BIGRAM, "REPETITIVE")
        .otherwise(None)
    )
    return (
        joined.withColumn("drop_reason", reason)
        .withColumn("keep", F.col("drop_reason").isNull())
        .orderBy("doc_id")
    )


QUALITY_FILTER_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_tokens,
         ROUND(len(list_distinct(t)) / CAST(len(t) AS DOUBLE), 6) AS ttr
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
        FROM documents)
),
bi AS (
  SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS bigram
  FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i
        FROM (SELECT doc_id,
                     string_split_regex(trim(lower(text)), '\s+') AS t
              FROM documents))
),
cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY doc_id, bigram),
rep AS (
  SELECT doc_id,
         ROUND(COALESCE(SUM(c) FILTER (WHERE c > 1), 0) / CAST(SUM(c) AS DOUBLE), 6)
           AS dup_bigram_frac
  FROM cnt GROUP BY doc_id
),
joined AS (
  SELECT b.doc_id, b.n_tokens, b.ttr,
         COALESCE(r.dup_bigram_frac, 0.0) AS dup_bigram_frac
  FROM base b LEFT JOIN rep r ON r.doc_id = b.doc_id
)
SELECT doc_id, n_tokens, ttr, dup_bigram_frac,
       CASE WHEN n_tokens < {MIN_TOKENS} THEN 'TOO_SHORT'
            WHEN ttr < {MIN_TTR} THEN 'LOW_DIVERSITY'
            WHEN dup_bigram_frac > {MAX_DUP_BIGRAM} THEN 'REPETITIVE'
            ELSE NULL END AS drop_reason,
       (CASE WHEN n_tokens < {MIN_TOKENS} THEN 'TOO_SHORT'
             WHEN ttr < {MIN_TTR} THEN 'LOW_DIVERSITY'
             WHEN dup_bigram_frac > {MAX_DUP_BIGRAM} THEN 'REPETITIVE'
             ELSE NULL END) IS NULL AS keep
FROM joined
ORDER BY doc_id
""".strip()


# --- PII scrubbing ----------------------------------------------------------

# Deliberately simple, engine-portable patterns (same regex dialect in
# Spark's Java regex and DuckDB's RE2 for these constructs).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact email/phone-shaped substrings and report counts — the
    mandatory pre-training scrub pass. Pure regexp_replace /
    regexp_count projections: JVM-side, no shuffle, linear scan that
    parallelizes by input split at any scale. The scrubbed text is
    fingerprinted (md5) so the oracle compares content without hauling
    full text through the hash compare."""
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), F.lit(PHONE_RE)
        ).cast("bigint").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
        (F.length(scrubbed) != F.length("text")).alias("was_scrubbed"),
    ).orderBy("doc_id")


PII_SCRUB_SQL = rf"""
WITH s AS (
  SELECT doc_id, text,
         regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g') AS no_email
  FROM documents
),
s2 AS (
  SELECT doc_id, text,
         regexp_replace(no_email, '{PHONE_RE}', '<PHONE>', 'g') AS scrubbed,
         no_email
  FROM s
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(no_email, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(scrubbed) AS scrubbed_md5,
       len(scrubbed) != len(text) AS was_scrubbed
FROM s2
ORDER BY doc_id
""".strip()


# --- train/test decontamination ---------------------------------------------

DECONTAM_NGRAM = 5
CONTAM_FRAC = 0.1


def decontamination(docs: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """Train-split documents scored for eval-set leakage: the fraction
    of a train doc's word-5-gram shingles that also appear in any
    val/test document (the standard pre-training decontamination scan).

    The eval shingle set is DISTINCT and keyed by shingle, so the
    overlap check is an equality join on the shingle hash — candidate
    volume is bounded by shared shingles, never |train| x |eval|. At
    corpus scale the eval side is tiny (held-out fraction) and
    broadcastable. ``shingles`` injects the shared 5-gram index
    (registry ``sh5``) so the standalone key and the panel's exact leg
    build it once per session."""
    from .dedup import shingle_rows

    splits = split_assign(docs).select("doc_id", "split")
    if shingles is None:
        shingles = shingle_rows(docs, n=DECONTAM_NGRAM)
    sh = shingles.join(splits, "doc_id")
    eval_shingles = (
        sh.filter(F.col("split") != "train").select("s").distinct()
    )
    train_sh = sh.filter(F.col("split") == "train")
    # OPTIMIZATION r13 (guide §2.4): overlap and totals both grouped
    # the SAME train-shingle frame (its whole build inlined twice in
    # the plan) and then re-joined on doc_id. One left join against
    # the broadcast eval set + one aggregation computes both counts in
    # a single pass: COUNT(*) is the total, COUNT(_hit) the non-null
    # matches (eval_shingles is DISTINCT on s, so the left join cannot
    # duplicate a train row). Identical values incl. the zero-overlap
    # coalesce (COUNT of an all-null marker is 0).
    per_doc = (
        train_sh.join(
            F.broadcast(eval_shingles.withColumn("_hit", F.lit(1))), "s", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.count("_hit").cast("bigint").alias("n_overlap"),
        )
    )
    frac = F.col("n_overlap") / F.col("n_shingles").cast("double")
    return (
        per_doc
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            F.round(frac, 6).alias("contamination_frac"),
            (frac > CONTAM_FRAC).alias("is_contaminated"),
        )
        .orderBy("doc_id")
    )


DECONTAMINATION_SQL = rf"""
WITH splits AS (
  SELECT doc_id,
         CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{_hex_threshold(0.1)}' THEN 'test'
              WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{_hex_threshold(0.2)}' THEN 'val'
              ELSE 'train' END AS split
  FROM documents
),
sh AS (
  SELECT DISTINCT t.doc_id,
         t.toks[i + 1] || ' ' || t.toks[i + 2] || ' ' || t.toks[i + 3]
           || ' ' || t.toks[i + 4] || ' ' || t.toks[i + 5] AS s
  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        FROM documents) t,
       LATERAL (SELECT unnest(range(0, len(t.toks) - {DECONTAM_NGRAM - 1})) AS i) ix
),
tagged AS (SELECT sh.doc_id, sh.s, sp.split FROM sh JOIN splits sp ON sp.doc_id = sh.doc_id),
eval_sh AS (SELECT DISTINCT s FROM tagged WHERE split != 'train'),
train_sh AS (SELECT doc_id, s FROM tagged WHERE split = 'train'),
overlap AS (
  SELECT t.doc_id, COUNT(*) AS n_overlap
  FROM train_sh t JOIN eval_sh e ON t.s = e.s
  GROUP BY t.doc_id
),
totals AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train_sh GROUP BY doc_id)
SELECT tt.doc_id, tt.n_shingles,
       COALESCE(o.n_overlap, 0) AS n_overlap,
       ROUND(COALESCE(o.n_overlap, 0) / CAST(tt.n_shingles AS DOUBLE), 6)
         AS contamination_frac,
       COALESCE(o.n_overlap, 0) / CAST(tt.n_shingles AS DOUBLE) > {CONTAM_FRAC}
         AS is_contaminated
FROM totals tt LEFT JOIN overlap o ON o.doc_id = tt.doc_id
ORDER BY tt.doc_id
""".strip()


def decontamination_panel(
    docs: DataFrame,
    emb: DataFrame,
    sig: DataFrame | None = None,
    band_bits: int | None = None,
    shingles: DataFrame | None = None,
    srp_sigs: DataFrame | None = None,
) -> DataFrame:
    """METHOD-AGREEMENT panel across all three decontamination passes —
    the ``dedup_method_agreement`` shape applied to eval-leakage: one
    row per TRAIN document with its exact 5-gram flag
    (``decontamination``), its fuzzy MinHash-banded flag
    (``fuzzy_decontamination``), and a SEMANTIC flag computed over the
    SAME doc-level split (``split_assign`` — not the embeddings-table
    salt the standalone semantic keys use, so the three verdicts are
    about the same train/eval partition): a train doc is semantically
    contaminated when its embedding (vec_id == doc_id, the
    ``lexsem_agreement`` crosswalk) has ≥1 SRP-LSH-banded,
    exact-cosine-verified eval near-dup. Output adds has_embedding
    (semantic verdict is NULL without a vector), the flagged-method
    count, and the any-method verdict — the per-doc drop sheet a
    pre-training pipeline acts on.

    Scale: three already-governed legs (broadcast eval shingles,
    banded MinHash candidates, banded SRP candidates) joined 1:1 on
    doc_id; nothing new is pair-forming."""
    from .dedup import fuzzy_decontamination
    from .similarity import NEARDUP_THRESHOLD, _verified_pair_cosines, srp_buckets

    splits = split_assign(docs).select("doc_id", "split")
    if srp_sigs is None:
        srp_sigs = srp_buckets(emb, band_bits=band_bits)

    # OPTIMIZATION r13 (VERDICT item 5 — the ann_recall_panel recipe,
    # guide §2.6/§3.3): the three verdict legs and the embedding-id
    # frame are independent until the final 1:1 doc_id joins, but as
    # one lazy plan they serialized and the combined tree carried ~120
    # Exchanges through the optimizer. Each leg now materializes
    # (eager localCheckpoint — every leg is doc-count-bounded) on its
    # own driver thread, so the legs' jobs overlap and the final join
    # plans over four leaf frames. Values unchanged: the legs are
    # deterministic and meet at the same joins; shared-asset builds
    # stay single-flight under the registry's per-asset locks.
    def _leg_exact():
        return (
            decontamination(docs, shingles=shingles)
            .select("doc_id", F.col("is_contaminated").alias("exact_contaminated"))
            .localCheckpoint(eager=True)
        )

    def _leg_fuzzy():
        return (
            fuzzy_decontamination(docs, sig=sig)
            .select("doc_id", F.col("is_fuzzy_contaminated").alias("fz"))
            .localCheckpoint(eager=True)
        )

    def _leg_sem():
        sigs = srp_sigs.join(
            splits.select(F.col("doc_id").alias("vec_id"), "split"), "vec_id"
        )
        tr = sigs.filter(F.col("split") == "train").select(
            "band", "bucket", F.col("vec_id").alias("train_id")
        )
        ev = sigs.filter(F.col("split") != "train").select(
            "band", "bucket", F.col("vec_id").alias("eval_id")
        )
        cand = (
            tr.repartition(shuffle_parts(tr), "band", "bucket")
            .join(ev, ["band", "bucket"])
            .select("train_id", "eval_id")
            .distinct()
        )
        return (
            _verified_pair_cosines(
                emb, cand, "train_id", "eval_id", NEARDUP_THRESHOLD
            )
            .select("train_id")
            .distinct()
            .select(F.col("train_id").alias("doc_id"), F.lit(True).alias("sm"))
            .localCheckpoint(eager=True)
        )

    def _leg_emb_ids():
        return (
            emb.select(F.col("vec_id").alias("doc_id"))
            .distinct()
            .withColumn("he", F.lit(True))
            .localCheckpoint(eager=True)
        )

    from concurrent.futures import ThreadPoolExecutor

    inherit = inheritable_thread_target(docs.sparkSession)
    with ThreadPoolExecutor(max_workers=4) as _pool:
        _legs = [
            _pool.submit(inherit(fn))
            for fn in (_leg_exact, _leg_fuzzy, _leg_sem, _leg_emb_ids)
        ]
        exact, fuzzy, sem_hit, emb_ids = [f.result() for f in _legs]
    fz = F.coalesce(F.col("fz"), F.lit(False))
    he = F.coalesce(F.col("he"), F.lit(False))
    sm = F.coalesce(F.col("sm"), F.lit(False))
    return (
        exact.join(fuzzy, "doc_id", "left")
        .join(emb_ids, "doc_id", "left")
        .join(sem_hit, "doc_id", "left")
        .select(
            "doc_id",
            "exact_contaminated",
            fz.alias("fuzzy_contaminated"),
            he.alias("has_embedding"),
            F.when(he, sm).alias("semantic_contaminated"),
            (
                F.col("exact_contaminated").cast("int")
                + fz.cast("int")
                + sm.cast("int")
            ).alias("n_methods_flagged"),
            (F.col("exact_contaminated") | fz | sm).alias("any_contaminated"),
        )
        .orderBy("doc_id")
    )


def _decontamination_panel_sql(band_bits: int = 4, n_bits: int = 64) -> str:
    from .dedup import _fuzzy_decontamination_sql
    from .similarity import NEARDUP_THRESHOLD, _srp_sig_ctes

    exact = DECONTAMINATION_SQL.replace("ORDER BY tt.doc_id", "").rstrip()
    fuzzy = _fuzzy_decontamination_sql().replace("ORDER BY doc_id", "").rstrip()
    return f"""
WITH exact AS (
  SELECT doc_id, is_contaminated FROM ({exact})
),
fz AS (
  SELECT doc_id, is_fuzzy_contaminated FROM ({fuzzy})
),
{_srp_sig_ctes(band_bits, n_bits)},
dsplit AS (
  SELECT doc_id,
         substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_hex_threshold(0.2)}'
           AS is_eval
  FROM documents
),
ts AS (
  SELECT s.vec_id, s.band, s.bucket, d.is_eval
  FROM sigs s JOIN dsplit d ON d.doc_id = s.vec_id
),
cand AS (
  SELECT DISTINCT a.vec_id AS train_id, b.vec_id AS eval_id
  FROM ts a JOIN ts b ON a.band = b.band AND a.bucket = b.bucket
  WHERE NOT a.is_eval AND b.is_eval
),
sem_hit AS (
  SELECT DISTINCT c.train_id AS doc_id
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.train_id
  JOIN embeddings eb ON eb.vec_id = c.eval_id
  WHERE ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[])), 6)
        >= {NEARDUP_THRESHOLD}
),
embids AS (SELECT DISTINCT vec_id AS doc_id FROM embeddings)
SELECT e.doc_id,
       e.is_contaminated AS exact_contaminated,
       COALESCE(f.is_fuzzy_contaminated, FALSE) AS fuzzy_contaminated,
       i.doc_id IS NOT NULL AS has_embedding,
       CASE WHEN i.doc_id IS NOT NULL THEN s.doc_id IS NOT NULL END
         AS semantic_contaminated,
       CAST(CAST(e.is_contaminated AS INT)
            + CAST(COALESCE(f.is_fuzzy_contaminated, FALSE) AS INT)
            + CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS n_methods_flagged,
       e.is_contaminated OR COALESCE(f.is_fuzzy_contaminated, FALSE)
         OR s.doc_id IS NOT NULL AS any_contaminated
FROM exact e
LEFT JOIN fz f ON f.doc_id = e.doc_id
LEFT JOIN embids i ON i.doc_id = e.doc_id
LEFT JOIN sem_hit s ON s.doc_id = e.doc_id
ORDER BY e.doc_id
""".strip()


DECONTAMINATION_PANEL_SQL = _decontamination_panel_sql()


PACK_CAPACITY = 256
PACK_GROUPS = 16


def pack_sequences(
    docs: DataFrame, capacity: int = PACK_CAPACITY, n_groups: int = PACK_GROUPS
) -> DataFrame:
    """Next-fit sequence packing: assign documents to fixed-capacity
    training sequences (capacity in whitespace tokens) — the batching
    step an LLM training pipeline runs after curation so short docs
    share a context window instead of wasting padding.

    Global next-fit is inherently sequential, so the scalable shape is
    hierarchical: docs hash into ``n_groups`` independent pack groups
    (doc_id mod — engine-portable, deterministic) and next-fit runs
    WITHIN each group in doc_id order as one Arrow batch per group via
    ``applyInPandas``. Groups pack in parallel at any scale (pick
    n_groups ≈ executor count × a few); sequence ids are unique as
    (pack_group, seq_in_group). Rule: a doc opens a new sequence iff
    the current one is non-empty and would overflow; oversized docs
    (> capacity) occupy a sequence alone. The oracle replays the same
    recurrence as a recursive CTE, so the check is hash-exact."""
    import pandas as pd

    out_schema = (
        "doc_id bigint, pack_group int, seq_in_group int, "
        "n_tokens bigint, fill_after bigint"
    )
    base = docs.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(n_groups)).cast("int").alias("pack_group"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
    )

    def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq, fill = 1, 0
        seqs, fills = [], []
        for t in pdf["n_tokens"]:
            if fill > 0 and fill + t > capacity:
                seq += 1
                fill = int(t)
            else:
                fill += int(t)
            seqs.append(seq)
            fills.append(fill)
        pdf["seq_in_group"] = pd.Series(seqs, dtype="int32")
        pdf["fill_after"] = pd.Series(fills, dtype="int64")
        return pdf[["doc_id", "pack_group", "seq_in_group", "n_tokens", "fill_after"]]

    return (
        base.groupBy("pack_group")
        .applyInPandas(_pack, schema=out_schema)
        .orderBy("doc_id")
    )


PACK_SEQUENCES_SQL = rf"""
WITH RECURSIVE t AS (
  SELECT doc_id,
         CAST(doc_id % {PACK_GROUPS} AS INT) AS pack_group,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         ROW_NUMBER() OVER (PARTITION BY doc_id % {PACK_GROUPS} ORDER BY doc_id) AS rn
  FROM documents
),
packed(pack_group, rn, doc_id, n_tokens, seq_in_group, fill_after) AS (
  SELECT pack_group, rn, doc_id, n_tokens, 1, n_tokens
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.pack_group, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.fill_after + t.n_tokens > {PACK_CAPACITY}
              THEN p.seq_in_group + 1 ELSE p.seq_in_group END,
         CASE WHEN p.fill_after + t.n_tokens > {PACK_CAPACITY}
              THEN t.n_tokens ELSE p.fill_after + t.n_tokens END
  FROM packed p JOIN t ON t.pack_group = p.pack_group AND t.rn = p.rn + 1
)
SELECT doc_id, pack_group, CAST(seq_in_group AS INT) AS seq_in_group,
       n_tokens, fill_after
FROM packed
ORDER BY doc_id
""".strip()


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def doc_chunks(
    docs: DataFrame, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Overlapping token-window chunking: split each document into
    ``chunk``-token windows advancing by ``stride`` tokens (overlap =
    chunk − stride) — the retrieval/embedding prep step that turns long
    documents into model-sized passages while preserving cross-boundary
    context. The final window may be short; a doc never emits zero
    chunks. n_chunks = 1 if n ≤ chunk else ceil((n−chunk)/stride)+1,
    so every token is covered and no window starts past the text.

    Scale: map-only — tokenize, explode a per-row index sequence,
    slice. No shuffle, no state; parallelizes by input split, so it
    survives any corpus size (each task holds one row's tokens at a
    time). Whitespace tokens, case preserved (chunk text must round-
    trip into the corpus verbatim, unlike the lowercased stats ops)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(chunk)) / F.lit(float(stride))).cast("int") + F.lit(1),
    )
    piece = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, chunk)
    return (
        docs.select(
            "doc_id",
            toks.alias("_toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size(piece).cast("bigint").alias("n_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


DOC_CHUNKS_SQL = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
),
idx AS (
  SELECT doc_id, toks,
         unnest(range(0, GREATEST(1,
           CAST(ceil((len(toks) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INT) + 1
         ))) AS chunk_id
  FROM t
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                           chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS BIGINT)
         AS n_tokens,
       array_to_string(list_slice(toks, chunk_id * {CHUNK_STRIDE} + 1,
                                  chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')
         AS chunk_text
FROM idx
ORDER BY doc_id, chunk_id
""".strip()


def curation_pipeline(docs: DataFrame) -> DataFrame:
    """The end-to-end corpus curation DAG as ONE composed query:
    quality filter → exact-dedup keeper selection → deterministic
    split assignment — what a user actually runs to turn a raw crawl
    into training data, demonstrating that the individual operators
    compose without materialization barriers (Catalyst plans the whole
    chain; every stage is a map or a doc_id/content-hash hash join, so
    the composition inherits each stage's scale shape).

    Output: one row per SURVIVING document (quality-kept AND the
    md5-content keeper of its duplicate group) with its provenance
    columns, how many copies it represents, and its train/val/test
    split."""
    kept = docs.join(
        quality_filter(docs).filter(F.col("keep")).select("doc_id"), "doc_id"
    )
    from .dedup import exact_dedup

    groups = exact_dedup(kept).select(
        F.col("keeper_doc_id").alias("doc_id"), "n_copies"
    )
    final = kept.join(groups, "doc_id")
    return (
        final.join(split_assign(final).select("doc_id", "split"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars", "n_copies", "split")
        .orderBy("doc_id")
    )


CURATION_PIPELINE_SQL = f"""
WITH qf AS ({{QUALITY}}),
kept AS (
  SELECT d.* FROM documents d
  JOIN qf ON qf.doc_id = d.doc_id AND qf.keep
),
groups AS (
  SELECT MIN(doc_id) AS keeper_doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM kept GROUP BY md5(text)
)
SELECT k.doc_id, k.lang, k.source, k.n_chars, g.n_copies,
       CASE WHEN substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 4)
                 < '{_hex_threshold(0.1)}' THEN 'test'
            WHEN substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 4)
                 < '{_hex_threshold(0.2)}' THEN 'val'
            ELSE 'train' END AS split
FROM kept k JOIN groups g ON g.keeper_doc_id = k.doc_id
ORDER BY k.doc_id
""".strip().replace("{QUALITY}", QUALITY_FILTER_SQL)


# --- corpus snapshot diff (incremental-pipeline delta report) ---------------
#
# Two snapshots of the corpus are derived deterministically from the
# documents table so the diff itself is oracle-checkable: the OLD
# snapshot is missing every doc_id ≡ 9 (mod 10) (those arrive later),
# the NEW snapshot is missing every doc_id ≡ 0 (mod 10) (those were
# deleted), and every doc_id ≡ 0 (mod 7) was re-crawled with new text
# in between. A real deployment would read two dated corpus versions
# instead — the diff plan is identical.

SNAPSHOT_ADD_MOD = 10  # % 10 == 9 -> only in new; % 10 == 0 -> only in old
SNAPSHOT_EDIT_MOD = 7  # % 7 == 0 -> text changed between snapshots


def snapshot_diff(docs: DataFrame) -> DataFrame:
    """Content-hash delta between two corpus snapshots: every doc
    classified added / removed / changed by doc_id + md5 fingerprint,
    unchanged docs dropped. This is the audit step before an
    incremental re-train: what must be re-embedded / re-deduped, what
    fell out of the corpus, what is net-new.

    Scale: fingerprints are map-side md5; one full-outer shuffle join
    on doc_id compares the snapshots (with both snapshots bucketed by
    doc_id at rest this becomes a shuffle-free sort-merge); the
    unchanged mass — overwhelmingly most of the corpus — is filtered
    immediately after the join, so only the delta flows downstream."""
    fp = F.md5(F.col("text"))
    old = docs.filter(F.col("doc_id") % SNAPSHOT_ADD_MOD != 9).select(
        F.col("doc_id").alias("old_id"), fp.alias("old_fp")
    )
    new_fp = F.when(
        F.col("doc_id") % SNAPSHOT_EDIT_MOD == 0,
        F.md5(F.concat(F.col("text"), F.lit(" [rev2]"))),
    ).otherwise(fp)
    new = docs.filter(F.col("doc_id") % SNAPSHOT_ADD_MOD != 0).select(
        F.col("doc_id").alias("new_id"), new_fp.alias("new_fp")
    )
    joined = old.join(new, old.old_id == new.new_id, "full_outer")
    change = (
        F.when(F.col("old_fp").isNull(), "added")
        .when(F.col("new_fp").isNull(), "removed")
        .when(F.col("old_fp") != F.col("new_fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(
            F.coalesce(F.col("old_id"), F.col("new_id")).alias("doc_id"),
            change.alias("change"),
            "old_fp",
            "new_fp",
        )
        .filter(F.col("change") != "unchanged")
        .orderBy("doc_id")
    )


SNAPSHOT_DIFF_SQL = f"""
WITH old AS (
  SELECT doc_id AS old_id, md5(text) AS old_fp
  FROM documents WHERE doc_id % {SNAPSHOT_ADD_MOD} != 9
),
new AS (
  SELECT doc_id AS new_id,
         CASE WHEN doc_id % {SNAPSHOT_EDIT_MOD} = 0
              THEN md5(text || ' [rev2]') ELSE md5(text) END AS new_fp
  FROM documents WHERE doc_id % {SNAPSHOT_ADD_MOD} != 0
),
diff AS (
  SELECT COALESCE(old_id, new_id) AS doc_id,
         CASE WHEN old_fp IS NULL THEN 'added'
              WHEN new_fp IS NULL THEN 'removed'
              WHEN old_fp != new_fp THEN 'changed'
              ELSE 'unchanged' END AS change,
         old_fp, new_fp
  FROM old FULL OUTER JOIN new ON old_id = new_id
)
SELECT doc_id, change, old_fp, new_fp
FROM diff WHERE change != 'unchanged'
ORDER BY doc_id
""".strip()


# --- deterministic weighted sampling (Efraimidis–Spirakis A-Res) ------------

WSAMPLE_K = 100


def weighted_sample(docs: DataFrame, k: int = WSAMPLE_K) -> DataFrame:
    """Weight-proportional sample without replacement, deterministic:
    Efraimidis–Spirakis A-Res keys ln(u)/w with the uniform u derived
    from an md5 hash of the doc_id — the standard way to take a
    quality- or length-weighted corpus sample that is reproducible
    across runs AND engines (no RNG state; re-running on the same
    corpus picks the same docs, and adding docs only perturbs the
    boundary). Weight here is n_chars: longer docs proportionally more
    likely, the usual token-budget-aware doc sampling.

    Scale: map-side key computation (md5 + one log), then ONE global
    top-k (TakeOrdered — no full sort, no shuffle of the corpus); the
    selection is a priority threshold, so a distributed implementation
    at 100 TB is per-partition top-k then a k-sized driver merge, which
    is exactly what Spark's TakeOrderedAndProject does.

    The es_key is rounded to 6 dp for the cross-engine hash only AFTER
    the (unrounded) ordering decides the cut — ordering ties at full
    double precision are broken by doc_id, so the rounded display value
    can't flip membership."""
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ws:"), F.col("doc_id"))), 1, 12), 16, 10)
        .cast("double")
        / F.lit(float(2**48))
    )
    # u in [0, 1): shift to (0, 1] so ln(u) is finite
    key = F.log(F.lit(1.0) - u) / F.col("n_chars").cast("double")
    ranked = docs.select(
        "doc_id",
        "n_chars",
        key.alias("_key"),
    )
    return (
        ranked.orderBy(F.desc("_key"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "n_chars", F.round("_key", 6).alias("es_key"))
        .orderBy("doc_id")
    )


WEIGHTED_SAMPLE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         ln(1.0 - CAST('0x' || substring(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                  / {float(2**48)}) / CAST(n_chars AS DOUBLE) AS k
  FROM documents
)
SELECT doc_id, n_chars, ROUND(k, 6) AS es_key
FROM keyed
ORDER BY k DESC, doc_id ASC
LIMIT {WSAMPLE_K}
""".strip()


# --- sub-document duplication rate ------------------------------------------

DUPRATE_CHUNK = 64  # non-overlapping windows: stride == chunk


def chunk_dup_rate(docs: DataFrame, chunk: int = DUPRATE_CHUNK) -> DataFrame:
    """Per-document sub-document duplication: chunk each doc into
    NON-overlapping ``chunk``-token windows (``doc_chunks`` with
    stride = chunk — overlap would make every window self-similar),
    hash each window, and report how much of each doc consists of
    windows appearing in at least one OTHER document. The per-doc
    counterpart of ``repeated_passages``: that ranks the boilerplate
    spans, this scores the documents carrying them — the metric a
    curation pass thresholds to drop template-heavy docs.

    Scale: chunking is map-only; one aggregation keyed by window hash
    computes each hash's distinct-doc count (map-side partials), one
    join back, one per-doc aggregation — all linear, no pair join."""
    chunks = doc_chunks(docs, chunk=chunk, stride=chunk).select(
        "doc_id", F.md5("chunk_text").alias("h")
    )
    owners = chunks.distinct().groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(owners, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum((F.col("n_docs") >= 2).cast("int")).cast("bigint").alias(
                "n_dup_chunks"
            ),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.round(
                F.col("n_dup_chunks").cast("double") / F.col("n_chunks"), 6
            ).alias("dup_share"),
        )
        .orderBy("doc_id")
    )


CHUNK_DUP_RATE_SQL = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
),
idx AS (
  SELECT doc_id, toks,
         unnest(range(0, GREATEST(1,
           CAST(ceil((len(toks) - {DUPRATE_CHUNK}) / {DUPRATE_CHUNK}.0) AS INT) + 1
         ))) AS chunk_id
  FROM t
),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, chunk_id * {DUPRATE_CHUNK} + 1,
                                        (chunk_id + 1) * {DUPRATE_CHUNK}), ' ')) AS h
  FROM idx
),
owners AS (
  SELECT h, COUNT(DISTINCT doc_id) AS n_docs FROM chunks GROUP BY h
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN o.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       ROUND(CAST(SUM(CASE WHEN o.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_share
FROM chunks c JOIN owners o USING (h)
GROUP BY c.doc_id
ORDER BY c.doc_id
""".strip()


def curation_pipeline_v2(docs: DataFrame) -> DataFrame:
    """Round-5 curation DAG: the NEW primitives composed into one
    Catalyst plan — hashed-feature classifier gate (cls_score ≥ 0) →
    sub-document duplication gate (dup_share ≤ 0.5, ``chunk_dup_rate``)
    → exact-dedup keeper → deterministic split. Alongside the v1
    pipeline (heuristic quality filter) this is the model-scored
    variant of raw-crawl → training-data; every stage is a map or a
    doc-keyed/content-hash join, so the composition inherits each
    stage's scale shape with no materialization barrier.

    Output: one surviving row per kept doc with both gate scores, its
    duplicate-group size, and the split."""
    from .text import quality_classifier

    cls = quality_classifier(docs).filter(F.col("keep")).select(
        "doc_id", "cls_score"
    )
    dup = chunk_dup_rate(docs).filter(F.col("dup_share") <= 0.5).select(
        "doc_id", "dup_share"
    )
    kept = docs.join(cls, "doc_id").join(dup, "doc_id")
    from .dedup import exact_dedup

    groups = exact_dedup(kept).select(
        F.col("keeper_doc_id").alias("doc_id"), "n_copies"
    )
    final = kept.join(groups, "doc_id")
    return (
        final.join(split_assign(final).select("doc_id", "split"), "doc_id")
        .select(
            "doc_id", "lang", "source", "cls_score", "dup_share", "n_copies", "split"
        )
        .orderBy("doc_id")
    )


CURATION_PIPELINE_V2_SQL = f"""
WITH cls AS (
  SELECT doc_id, cls_score FROM ({{CLS}}) WHERE keep
),
dup AS (
  SELECT doc_id, dup_share FROM ({{DUP}}) WHERE dup_share <= 0.5
),
kept AS (
  SELECT d.*, cls.cls_score, dup.dup_share
  FROM documents d
  JOIN cls USING (doc_id)
  JOIN dup USING (doc_id)
),
groups AS (
  SELECT MIN(doc_id) AS keeper_doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
  FROM kept GROUP BY md5(text)
)
SELECT k.doc_id, k.lang, k.source, k.cls_score, k.dup_share, g.n_copies,
       CASE WHEN substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 4)
                 < '{_hex_threshold(0.1)}' THEN 'test'
            WHEN substring(md5(CAST(k.doc_id AS VARCHAR)), 1, 4)
                 < '{_hex_threshold(0.2)}' THEN 'val'
            ELSE 'train' END AS split
FROM kept k JOIN groups g ON g.keeper_doc_id = k.doc_id
ORDER BY k.doc_id
""".strip()

# late-bound subquery substitution: the classifier SQL lives in text.py
# (imported here, not at its definition, to keep module imports acyclic)
from .text import QUALITY_CLASSIFIER_SQL as _CLS_SQL  # noqa: E402

CURATION_PIPELINE_V2_SQL = (
    CURATION_PIPELINE_V2_SQL.replace("{CLS}", _CLS_SQL)
    .replace("{DUP}", CHUNK_DUP_RATE_SQL)
)


def corpus_datasheet(docs: DataFrame) -> DataFrame:
    """The one-row dataset card: corpus population, source/language
    spread, token volume under the engine's tokenization convention,
    exact-duplication rate, and length moments — the header block of a
    datasheet-for-datasets, computed from the corpus itself rather
    than transcribed by hand. Every number is a plain aggregate so the
    card stays cheap enough to regenerate on every snapshot and diff
    across releases.

    Scale: one map pass (md5 + token count) and one scalar
    aggregation; COUNT(DISTINCT md5) is the only distinct, over a
    128-bit key."""
    h = docs.select(
        "doc_id",
        "source",
        "lang",
        F.md5("text").alias("hsh"),
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
        .cast("bigint")
        .alias("ntok"),
        F.length("text").cast("bigint").alias("nchar"),
    )
    return h.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("hsh").cast("bigint").alias("n_unique_texts"),
        F.round(
            (F.count("*") - F.countDistinct("hsh")).cast("double") / F.count("*"),
            6,
        ).alias("exact_dup_rate"),
        F.sum("ntok").cast("bigint").alias("total_tokens"),
        F.round(F.avg("ntok"), 2).alias("mean_tokens"),
        F.min("ntok").cast("bigint").alias("min_tokens"),
        F.max("ntok").cast("bigint").alias("max_tokens"),
        F.sum("nchar").cast("bigint").alias("total_chars"),
    )


CORPUS_DATASHEET_SQL = r"""
WITH h AS (
  SELECT doc_id, source, lang, md5(text) AS hsh,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS BIGINT) AS ntok,
         CAST(length(text) AS BIGINT) AS nchar
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(COUNT(DISTINCT hsh) AS BIGINT) AS n_unique_texts,
       ROUND(CAST(COUNT(*) - COUNT(DISTINCT hsh) AS DOUBLE) / COUNT(*), 6)
         AS exact_dup_rate,
       CAST(SUM(ntok) AS BIGINT) AS total_tokens,
       ROUND(AVG(ntok), 2) AS mean_tokens,
       CAST(MIN(ntok) AS BIGINT) AS min_tokens,
       CAST(MAX(ntok) AS BIGINT) AS max_tokens,
       CAST(SUM(nchar) AS BIGINT) AS total_chars
FROM h
""".strip()


DELETE_MOD = 97  # doc_id % 97 == 0 simulates the deletion list


def delete_propagation(
    docs: DataFrame, emb: DataFrame, mod: int = DELETE_MOD
) -> DataFrame:
    """Right-to-be-forgotten propagation report: given a deletion list
    (simulated deterministically as ``doc_id % mod == 0``), account for
    every derived artifact that must be purged — the documents
    themselves, their chunk rows (``doc_chunks``), their embedding rows
    (id-aligned), and the EXACT-DUPLICATE COPIES of deleted texts that
    survive under other ids (the legal-surprise row: deleting by id
    leaves identical bytes in the corpus unless content-hash
    propagation runs too). One row per artifact class with row counts
    and the post-purge survivor count.

    Scale: every leg is an anti-join / semi-join against the (tiny
    broadcast) deletion list or its content-hash image — the exact
    shape a 100 TB purge job runs, no full-table rewrite expressed
    here."""
    dele = docs.filter(F.col("doc_id") % mod == 0)
    keep = docs.join(F.broadcast(dele.select("doc_id")), "doc_id", "left_anti")
    # content-hash image of the deleted texts -> copies under OTHER ids
    dhash = dele.select(F.md5("text").alias("h")).distinct()
    copies = keep.join(
        F.broadcast(dhash),
        F.md5(F.col("text")) == F.col("h"),
        "left_semi",
    )
    chunks = doc_chunks(docs)
    del_chunks = chunks.join(F.broadcast(dele.select("doc_id")), "doc_id", "left_semi")
    del_emb = emb.join(
        F.broadcast(dele.select(F.col("doc_id").alias("vec_id"))),
        "vec_id",
        "left_semi",
    )

    def leg(name, purged, survivors):
        return purged.agg(F.count("*").cast("bigint").alias("n_purged")).join(
            survivors.agg(F.count("*").cast("bigint").alias("n_surviving"))
        ).select(F.lit(name).alias("artifact"), "n_purged", "n_surviving")

    return (
        leg("documents", dele, keep)
        .unionByName(
            leg(
                "doc_chunks",
                del_chunks,
                chunks.join(
                    F.broadcast(dele.select("doc_id")), "doc_id", "left_anti"
                ),
            )
        )
        .unionByName(
            leg(
                "embeddings",
                del_emb,
                emb.join(
                    F.broadcast(dele.select(F.col("doc_id").alias("vec_id"))),
                    "vec_id",
                    "left_anti",
                ),
            )
        )
        .unionByName(leg("exact_copies_left_behind", copies, keep.exceptAll(copies)))
        .orderBy("artifact")
    )

DELETE_PROPAGATION_SQL = f"""
WITH dele AS (SELECT doc_id, text FROM documents WHERE doc_id % {DELETE_MOD} = 0),
keep AS (SELECT * FROM documents WHERE doc_id % {DELETE_MOD} != 0),
dhash AS (SELECT DISTINCT md5(text) AS h FROM dele),
copies AS (SELECT k.doc_id FROM keep k WHERE md5(k.text) IN (SELECT h FROM dhash)),
chunks AS ({DOC_CHUNKS_SQL.replace("ORDER BY doc_id, chunk_id", "")})
SELECT 'doc_chunks' AS artifact,
       CAST((SELECT COUNT(*) FROM chunks WHERE doc_id % {DELETE_MOD} = 0) AS BIGINT) AS n_purged,
       CAST((SELECT COUNT(*) FROM chunks WHERE doc_id % {DELETE_MOD} != 0) AS BIGINT) AS n_surviving
UNION ALL
SELECT 'documents',
       CAST((SELECT COUNT(*) FROM dele) AS BIGINT),
       CAST((SELECT COUNT(*) FROM keep) AS BIGINT)
UNION ALL
SELECT 'embeddings',
       CAST((SELECT COUNT(*) FROM embeddings
             WHERE vec_id IN (SELECT doc_id FROM dele)) AS BIGINT),
       CAST((SELECT COUNT(*) FROM embeddings
             WHERE vec_id NOT IN (SELECT doc_id FROM dele)) AS BIGINT)
UNION ALL
SELECT 'exact_copies_left_behind',
       CAST((SELECT COUNT(*) FROM copies) AS BIGINT),
       CAST((SELECT COUNT(*) FROM keep) - (SELECT COUNT(*) FROM copies) AS BIGINT)
ORDER BY artifact
""".strip()

DP_EPSILON = 1.0


def dp_source_counts(docs: DataFrame, epsilon: float = DP_EPSILON) -> DataFrame:
    """Differential-privacy release plumbing: per-source document
    counts with Laplace(1/ε) noise added through the inverse-CDF
    transform of a uniform — the mechanism a corpus publishes stats
    through when contributors must not be identifiable from the
    counts. The uniform here is DETERMINISTIC (md5 of the source key,
    same trick as every seeded sampler in this engine) so the whole
    mechanism is oracle-checkable end-to-end; a production release
    swaps ONLY the uniform for real randomness — the sensitivity/scale
    arithmetic, the transform, and the shape of the release are
    exactly what ships. Sensitivity is 1 (one document changes one
    source's count by 1), so scale = 1/ε.

    Scale: one keyed aggregation and a map-side transform."""
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dp:"), F.col("source"))), 1, 12), 16, 10)
        .cast("double")
        / F.lit(float(16**12))
        + F.lit(0.5 / 16**12)  # (0,1): never exactly 0 or 1
    )
    centered = u - 0.5
    noise = (
        -(1.0 / epsilon)
        * F.signum(centered)
        * F.log(1.0 - 2.0 * F.abs(centered))
    )
    return (
        docs.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("true_count"))
        .select(
            "source",
            "true_count",
            F.round(F.col("true_count") + noise, 6).alias("dp_count"),
            F.lit(round(1.0 / epsilon, 6)).alias("laplace_scale"),
        )
        .orderBy("source")
    )


DP_SOURCE_COUNTS_SQL = f"""
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS true_count
  FROM documents GROUP BY source
),
n AS (
  SELECT source, true_count,
         (CAST(('0x' || substring(md5('dp:' || source), 1, 12)) AS BIGINT)
            / POWER(16, 12)) + 0.5 / POWER(16, 12) AS u
  FROM c
)
SELECT source, true_count,
       ROUND(true_count
             + (-(1.0 / {DP_EPSILON}) * SIGN(u - 0.5)
                * LN(1.0 - 2.0 * ABS(u - 0.5))), 6) AS dp_count,
       {round(1.0 / DP_EPSILON, 6)} AS laplace_scale
FROM n
ORDER BY source
""".strip()


# --- DSIR importance weights ------------------------------------------------
#
# Data Selection via Importance Resampling (Xie et al., 2023, public):
# hashed n-gram feature counts give a tractable bag-of-features model of
# a TARGET distribution (here: the English subset — the usual "select
# web data that looks like the curated set" setup) and the SOURCE (full
# corpus); each document scores the sum over its tokens of
# ln(p_target(bucket) / p_source(bucket)) with add-one smoothing over
# the hashed vocabulary. High weight = looks like target; downstream
# selection reuses the Efraimidis–Spirakis sampler (weighted_sample).

DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


def dsir_weights(
    docs: DataFrame,
    n_buckets: int = DSIR_BUCKETS,
    target_lang: str = DSIR_TARGET_LANG,
) -> DataFrame:
    """Per-document DSIR importance log-weight over md5-hashed unigram
    buckets. Deterministic and engine-exact: the bucket hash, the
    smoothed distributions, and the per-doc sum are all closed-form.

    Scale: one token explode → (doc, bucket) map; bucket marginals are
    a 256-row aggregate computed with conditional sums in the SAME pass
    (no second corpus scan) and broadcast back; the per-doc reduce is
    one hash aggregation keyed by doc_id. The 1-row corpus-total cross
    join is the usual reviewed scalar append."""
    from .text import _WS

    toks = F.split(F.trim(F.lower(F.col("text"))), _WS)
    tok = docs.select(
        "doc_id",
        (F.col("lang") == target_lang).cast("int").alias("is_t"),
        F.explode(toks).alias("w"),
    ).filter(F.col("w") != "")
    b = F.pmod(
        F.conv(F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("w"))), 1, 6), 16, 10)
        .cast("long"),
        F.lit(n_buckets),
    )
    bucketed = tok.select("doc_id", "is_t", b.alias("b"))
    marg = bucketed.groupBy("b").agg(
        F.count("*").alias("c_s"),
        F.sum("is_t").alias("c_t"),
    )
    totals = marg.agg(
        F.sum("c_s").alias("n_s"), F.sum("c_t").alias("n_t")
    )
    ratio = (
        marg.join(F.broadcast(totals))
        .select(
            "b",
            F.log(
                ((F.col("c_t") + 1).cast("double") / (F.col("n_t") + n_buckets))
                / ((F.col("c_s") + 1).cast("double") / (F.col("n_s") + n_buckets))
            ).alias("lr"),
        )
    )
    return (
        bucketed.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.sum("lr"), 6).alias("dsir_log_weight"),
        )
        .orderBy("doc_id")
    )


DSIR_WEIGHTS_SQL = f"""
WITH tok AS (
  SELECT doc_id,
         CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END AS is_t,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
),
bucketed AS (
  SELECT doc_id, is_t,
         CAST(('0x' || substring(md5('dsir:' || w), 1, 6)) AS BIGINT)
           % {DSIR_BUCKETS} AS b
  FROM tok WHERE w <> ''
),
marg AS (
  SELECT b, COUNT(*) AS c_s, SUM(is_t) AS c_t FROM bucketed GROUP BY b
),
totals AS (SELECT SUM(c_s) AS n_s, SUM(c_t) AS n_t FROM marg),
ratio AS (
  SELECT b,
         LN((CAST(c_t + 1 AS DOUBLE) / (n_t + {DSIR_BUCKETS}))
            / (CAST(c_s + 1 AS DOUBLE) / (n_s + {DSIR_BUCKETS}))) AS lr
  FROM marg CROSS JOIN totals
)
SELECT bk.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(r.lr), 6) AS dsir_log_weight
FROM bucketed bk JOIN ratio r ON r.b = bk.b
GROUP BY bk.doc_id
ORDER BY bk.doc_id
""".strip()


# --- Gopher quality rules (Rae et al. 2021, Appendix A subset) --------------

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3.0
GOPHER_MAX_MEAN_WLEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOP_HITS = 2
GOPHER_STOPS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(docs: DataFrame) -> DataFrame:
    """The Gopher quality-rule panel (Rae et al. 2021, Appendix A —
    the de-facto standard heuristic gate reused by MassiveText /
    RefinedWeb / Dolma): per document, the measured value AND pass
    flag for each applicable rule, the overall verdict, and a
    first-fail reason. Rules over line structure (bullet/ellipsis
    ratios) are omitted — this corpus is single-line — and documented
    as such rather than computed against fake lines; the panel is the
    complement to ``quality_filter`` (generic signals) and
    ``quality_classifier`` (learned weights): fixed published
    thresholds, reproducible across pipelines.

    Scale: one token pass per document, all JVM-side split/filter/
    regexp codegen — map-only until the output sort."""
    t = F.trim(F.lower(F.col("text")))
    toks = F.split(t, r"\s+")
    n_words = F.size(toks)
    mean_wlen = (
        F.length(F.regexp_replace(t, r"\s+", "")).cast("double") / n_words
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("double") / n_words
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPS])
    stop_hits = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
    )
    p_words = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    p_wlen = (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WLEN) & (
        F.col("mean_word_len") <= GOPHER_MAX_MEAN_WLEN
    )
    p_alpha = F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_FRAC
    p_stop = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    reason = (
        F.when(~p_words, "WORD_COUNT")
        .when(~p_wlen, "MEAN_WORD_LEN")
        .when(~p_alpha, "ALPHA_FRAC")
        .when(~p_stop, "STOPWORDS")
        .otherwise(None)
    )
    return (
        base.select(
            "doc_id",
            "n_words",
            "mean_word_len",
            "alpha_word_frac",
            "stop_hits",
            p_words.alias("pass_word_count"),
            p_wlen.alias("pass_mean_word_len"),
            p_alpha.alias("pass_alpha_frac"),
            p_stop.alias("pass_stopwords"),
            reason.alias("fail_reason"),
        )
        .withColumn("keep", F.col("fail_reason").isNull())
        .orderBy("doc_id")
    )


GOPHER_RULES_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(lower(text)), '\s+')) AS INT) AS n_words,
         ROUND(CAST(length(regexp_replace(trim(lower(text)), '\s+', '', 'g')) AS DOUBLE)
               / len(string_split_regex(trim(lower(text)), '\s+')), 6) AS mean_word_len,
         ROUND(CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                    x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
               / len(string_split_regex(trim(lower(text)), '\s+')), 6) AS alpha_word_frac,
         CAST(len(list_intersect(
                list_distinct(string_split_regex(trim(lower(text)), '\s+')),
                ['the','be','to','of','and','that','have','with'])) AS INT) AS stop_hits
  FROM documents
),
flagged AS (
  SELECT *,
         (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}) AS pass_word_count,
         (mean_word_len >= {GOPHER_MIN_MEAN_WLEN} AND mean_word_len <= {GOPHER_MAX_MEAN_WLEN}) AS pass_mean_word_len,
         (alpha_word_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS pass_alpha_frac,
         (stop_hits >= {GOPHER_MIN_STOP_HITS}) AS pass_stopwords
  FROM base
)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, stop_hits,
       pass_word_count, pass_mean_word_len, pass_alpha_frac, pass_stopwords,
       CASE WHEN NOT pass_word_count THEN 'WORD_COUNT'
            WHEN NOT pass_mean_word_len THEN 'MEAN_WORD_LEN'
            WHEN NOT pass_alpha_frac THEN 'ALPHA_FRAC'
            WHEN NOT pass_stopwords THEN 'STOPWORDS'
            ELSE NULL END AS fail_reason,
       (pass_word_count AND pass_mean_word_len AND pass_alpha_frac AND pass_stopwords) AS keep
FROM flagged
ORDER BY doc_id
""".strip()


# --- classifier-vs-rules calibration ------------------------------------------

CAL_BINS = 10


def classifier_calibration(docs: DataFrame) -> DataFrame:
    """Reliability diagram of the learned quality score against the
    rule-based labels: bin ``quality_classifier``'s cls_score into
    {CAL_BINS} fixed-width bins over its observed range and report each
    bin's Gopher pass rate — the standard ML-eval before a learned
    filter replaces (or gates behind) heuristic rules. A calibrated
    score shows pass rate rising monotonically with the bin; a flat
    diagram says the classifier adds nothing over the rules. The grid
    is zero-completed so the output shape is fixed.

    Scale: the two per-doc panels are each one scan + vocabulary-sized
    aggregations; the join is doc-keyed; bin edges come from a 1-row
    min/max scalar; the diagram is a {CAL_BINS}-row rollup."""
    from .text import quality_classifier

    cls = quality_classifier(docs).select("doc_id", "cls_score")
    gop = gopher_rules(docs).select(
        "doc_id",
        (
            F.col("pass_word_count")
            & F.col("pass_mean_word_len")
            & F.col("pass_alpha_frac")
            & F.col("pass_stopwords")
        ).alias("gopher_pass"),
    )
    joined = cls.join(gop, "doc_id")
    stats = joined.agg(
        F.min("cls_score").alias("lo"), F.max("cls_score").alias("hi")
    )
    b = F.least(
        F.lit(CAL_BINS - 1),
        F.floor(
            (F.col("cls_score") - F.col("lo"))
            / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0))
            * CAL_BINS
        ),
    ).cast("int")
    binned = (
        joined.crossJoin(F.broadcast(stats))
        .select(
            b.alias("bin"),
            F.round(F.col("cls_score"), 6).cast("decimal(18,6)").alias("s"),
            F.col("gopher_pass").cast("int").alias("p"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("s").alias("s_sum"),
            F.sum("p").cast("bigint").alias("n_pass"),
        )
    )
    grid = docs.sparkSession.range(CAL_BINS).select(
        F.col("id").cast("int").alias("bin")
    )
    return (
        grid.join(binned, "bin", "left")
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
            F.round(
                F.col("s_sum").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("mean_score"),
            F.coalesce("n_pass", F.lit(0)).cast("bigint").alias("n_pass"),
            F.round(
                F.col("n_pass").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("gopher_pass_rate"),
        )
        .orderBy("bin")
    )


def _classifier_calibration_sql() -> str:
    from .text import QUALITY_CLASSIFIER_SQL

    cls = QUALITY_CLASSIFIER_SQL.rstrip().rstrip(";")
    gop = GOPHER_RULES_SQL.rstrip().rstrip(";")
    return f"""
WITH cls AS ({cls}),
gop AS ({gop}),
joined AS (
  SELECT c.doc_id, c.cls_score,
         (g.pass_word_count AND g.pass_mean_word_len
          AND g.pass_alpha_frac AND g.pass_stopwords) AS gopher_pass
  FROM cls c JOIN gop g ON c.doc_id = g.doc_id
),
stats AS (SELECT MIN(cls_score) AS lo, MAX(cls_score) AS hi FROM joined),
binned AS (
  SELECT CAST(LEAST({CAL_BINS - 1},
                    FLOOR((cls_score - lo) / NULLIF(hi - lo, 0.0) * {CAL_BINS}))
              AS INT) AS bin,
         CAST(ROUND(cls_score, 6) AS DECIMAL(18,6)) AS s,
         CASE WHEN gopher_pass THEN 1 ELSE 0 END AS p
  FROM joined CROSS JOIN stats
),
agg AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(s) AS s_sum, CAST(SUM(p) AS BIGINT) AS n_pass
  FROM binned GROUP BY 1
)
SELECT CAST(g.bin AS BIGINT) AS bin,
       COALESCE(a.n_docs, 0) AS n_docs,
       ROUND(CAST(a.s_sum AS DOUBLE) / CAST(a.n_docs AS DOUBLE), 6) AS mean_score,
       COALESCE(a.n_pass, 0) AS n_pass,
       ROUND(CAST(a.n_pass AS DOUBLE) / CAST(a.n_docs AS DOUBLE), 6)
         AS gopher_pass_rate
FROM (SELECT unnest(generate_series(0, {CAL_BINS - 1})) AS bin) g
LEFT JOIN agg a ON a.bin = g.bin
ORDER BY bin
""".strip()


CLASSIFIER_CALIBRATION_SQL = _classifier_calibration_sql()


# Gopher repetition rules (Rae et al. 2021, Appendix A / Table A1) —
# the half of the panel ``gopher_rules`` documents as omitted for line
# structure; the n-gram half below APPLIES to single-line docs. Filter
# semantics: a doc FAILS a rule when its fraction exceeds the
# threshold.
GOPHER_TOP_NGRAM_THRESH = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_THRESH = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition(docs: DataFrame) -> DataFrame:
    """Gopher repetition-rule panel: per document, the fraction of
    characters covered by (a) the most frequent n-gram for n=2..4 and
    (b) all duplicated n-grams for n=5..10, each with its published
    pass threshold — the repetition half of the MassiveText quality
    gate (complementing ``gopher_rules``' word-level half).

    Exact definitions (deterministic, oracle-mirrored):
    * tokens = whitespace-split of trim(lower(text)); total_chars =
      length of the single-space re-join (so fractions are measured
      against the same normalized text the grams come from);
    * top_frac_n = count(top) * chars(top) / total_chars, where the
      top gram is the most frequent n-gram, ties broken to the
      lexicographically smallest (the tie rule pins which gram's
      length enters the numerator);
    * dup_frac_n = sum over grams occurring >= 2 times of
      count * chars / total_chars (overlap-blind, like the published
      heuristic; can exceed 1 on degenerate inputs — the flag only
      compares against the threshold);
    * a doc with fewer than n tokens contributes no n-grams and gets
      fraction 0 (vacuous pass).

    Scale (round-8 rewrite, measured 8.5 s → 2.5 s at the sf1 probe):
    the original shape built grams with interpreted higher-order
    functions (transform/slice/concat_ws fall out of whole-stage
    codegen); this one posexplodes tokens once, takes 9 window leads
    in ONE pass, and builds each longer gram INCREMENTALLY from the
    previous column (g₍ₙ₊₁₎ = concat(gₙ, ' ', leadₙ) — O(1) concats
    per gram instead of an O(n) slice-join), stacked to (doc, n,
    gram) rows. Everything stays in codegen; the single keyed
    exchange (repartition by doc_id — the round-6 single-file-scan
    trap) feeds the window sort AND every downstream groupBy
    (hash(doc_id) satisfies each clustering), so the whole panel is
    one shuffle + one doc-level pivot join."""
    ns = sorted(GOPHER_TOP_NGRAM_THRESH) + sorted(GOPHER_DUP_NGRAM_THRESH)
    n_max = max(ns)
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "pos", "tok"
            ),
        )
        .repartition(shuffle_parts(docs), "doc_id")
    )
    # total_chars = length of the single-space re-join, computed from
    # the token stream: Σ len(tok) + (count − 1)
    doc_frame = toks.groupBy("doc_id").agg(
        (F.sum(F.length("tok")) + F.count("*") - 1)
        .cast("bigint")
        .alias("total_chars")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    led = toks.select(
        "doc_id",
        "tok",
        *[F.lead("tok", j).over(w).alias(f"l{j}") for j in range(1, n_max)],
    )
    gram_cols, prev = [], None
    for n in range(2, n_max + 1):
        prev = F.concat(
            prev if prev is not None else F.col("tok"),
            F.lit(" "),
            F.col(f"l{n - 1}"),
        )
        if n in ns:
            gram_cols.append(prev.alias(f"g{n}"))
    stacked = led.select("doc_id", *gram_cols).select(
        "doc_id",
        F.expr(
            f"stack({len(ns)}, "
            + ", ".join(f"{n}, g{n}" for n in ns)
            + ") as (n, gram)"
        ),
    ).filter(F.col("gram").isNotNull())
    counts = stacked.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("cnt"))
    per_n = counts.groupBy("doc_id", "n").agg(
        # min(struct(-cnt, gram)) = highest count, then smallest gram
        F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("gram"))).alias("top"),
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("gram")).otherwise(0)
        ).alias("dup_chars"),
    ).select(
        "doc_id",
        "n",
        ((-F.col("top.neg")) * F.length("top.gram")).alias("top_chars"),
        "dup_chars",
    )
    pivots = []
    for n in sorted(GOPHER_TOP_NGRAM_THRESH):
        pivots.append(
            F.max(F.when(F.col("n") == n, F.col("top_chars"))).alias(f"tc_{n}")
        )
    for n in sorted(GOPHER_DUP_NGRAM_THRESH):
        pivots.append(
            F.max(F.when(F.col("n") == n, F.col("dup_chars"))).alias(f"dc_{n}")
        )
    pivoted = per_n.groupBy("doc_id").agg(*pivots)

    def frac(col):
        return F.round(col.cast("double") / F.col("total_chars"), 6)

    # docs too short for ANY bigram never reach per_n; the left join
    # from the doc frame restores them with all-zero fractions
    wide = doc_frame.join(pivoted, "doc_id", "left").select(
        "doc_id",
        "total_chars",
        *[
            F.coalesce(frac(F.col(f"tc_{n}")), F.lit(0.0)).alias(
                f"top_{n}gram_frac"
            )
            for n in sorted(GOPHER_TOP_NGRAM_THRESH)
        ],
        *[
            F.coalesce(frac(F.col(f"dc_{n}")), F.lit(0.0)).alias(
                f"dup_{n}gram_frac"
            )
            for n in sorted(GOPHER_DUP_NGRAM_THRESH)
        ],
    )
    flags = []
    overall = F.lit(True)
    for n, th in sorted(GOPHER_TOP_NGRAM_THRESH.items()):
        p = (F.col(f"top_{n}gram_frac") <= th).alias(f"pass_top_{n}gram")
        flags.append(p)
        overall = overall & (F.col(f"top_{n}gram_frac") <= th)
    for n, th in sorted(GOPHER_DUP_NGRAM_THRESH.items()):
        p = (F.col(f"dup_{n}gram_frac") <= th).alias(f"pass_dup_{n}gram")
        flags.append(p)
        overall = overall & (F.col(f"dup_{n}gram_frac") <= th)
    return wide.select(
        "doc_id",
        F.col("total_chars").cast("bigint").alias("total_chars"),
        *[F.col(f"top_{n}gram_frac") for n in sorted(GOPHER_TOP_NGRAM_THRESH)],
        *[F.col(f"dup_{n}gram_frac") for n in sorted(GOPHER_DUP_NGRAM_THRESH)],
        *flags,
        overall.alias("pass_repetition"),
    ).orderBy("doc_id")


def _gopher_repetition_sql() -> str:
    tops = sorted(GOPHER_TOP_NGRAM_THRESH)
    dups = sorted(GOPHER_DUP_NGRAM_THRESH)
    ns = ", ".join(f"({n})" for n in tops + dups)
    top_cols = ",\n       ".join(
        f"COALESCE(MAX(CASE WHEN p.n = {n} THEN ROUND(p.top_chars / CAST(t.total_chars AS DOUBLE), 6) END), 0.0) AS top_{n}gram_frac"
        for n in tops
    )
    dup_cols = ",\n       ".join(
        f"COALESCE(MAX(CASE WHEN p.n = {n} THEN ROUND(p.dup_chars / CAST(t.total_chars AS DOUBLE), 6) END), 0.0) AS dup_{n}gram_frac"
        for n in dups
    )
    top_flags = ",\n       ".join(
        f"top_{n}gram_frac <= {th} AS pass_top_{n}gram"
        for n, th in sorted(GOPHER_TOP_NGRAM_THRESH.items())
    )
    dup_flags = ",\n       ".join(
        f"dup_{n}gram_frac <= {th} AS pass_dup_{n}gram"
        for n, th in sorted(GOPHER_DUP_NGRAM_THRESH.items())
    )
    allpass = " AND ".join(
        [f"top_{n}gram_frac <= {th}" for n, th in sorted(GOPHER_TOP_NGRAM_THRESH.items())]
        + [f"dup_{n}gram_frac <= {th}" for n, th in sorted(GOPHER_DUP_NGRAM_THRESH.items())]
    )
    return rf"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
),
tot AS (
  SELECT doc_id, t, length(array_to_string(t, ' ')) AS total_chars FROM base
),
idx AS (
  SELECT b.doc_id, b.total_chars, nn.n, b.t,
         unnest(range(0, greatest(len(b.t) - nn.n + 1, 0))) AS i
  FROM tot b CROSS JOIN (VALUES {ns}) nn(n)
),
grams AS (
  SELECT doc_id, total_chars, n,
         array_to_string(list_slice(t, i + 1, i + n), ' ') AS gram
  FROM idx
),
counts AS (
  SELECT doc_id, total_chars, n, gram, COUNT(*) AS cnt
  FROM grams GROUP BY 1, 2, 3, 4
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id, n ORDER BY cnt DESC, gram ASC) AS rn
  FROM counts
),
per_n AS (
  SELECT doc_id, total_chars, n,
         MAX(CASE WHEN rn = 1 THEN cnt * length(gram) END) AS top_chars,
         SUM(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup_chars
  FROM ranked GROUP BY 1, 2, 3
),
wide AS (
  SELECT t.doc_id, t.total_chars,
       {top_cols},
       {dup_cols}
  FROM tot t LEFT JOIN per_n p ON p.doc_id = t.doc_id
  GROUP BY t.doc_id, t.total_chars
)
SELECT doc_id, CAST(total_chars AS BIGINT) AS total_chars,
       {", ".join(f"top_{n}gram_frac" for n in tops)},
       {", ".join(f"dup_{n}gram_frac" for n in dups)},
       {top_flags},
       {dup_flags},
       ({allpass}) AS pass_repetition
FROM wide
ORDER BY doc_id
""".strip()


GOPHER_REPETITION_SQL = _gopher_repetition_sql()


_GOPHER_FLAGS = (
    "pass_word_count",
    "pass_mean_word_len",
    "pass_alpha_frac",
    "pass_stopwords",
)
_GOPHER_RULE_NAMES = ("WORD_COUNT", "MEAN_WORD_LEN", "ALPHA_FRAC", "STOPWORDS")


def gopher_ablation(docs: DataFrame, rules: DataFrame | None = None) -> DataFrame:
    """Quality-rule ABLATION sheet over the Gopher panel: one row per
    observed pass/fail pattern across the four applicable rules, with
    the doc count, corpus share, number of failing rules, and — when
    exactly one rule fails — that rule's name (``sole_fail``). This is
    the sheet a curation owner reads to decide whether a rule earns
    its keep: a rule whose kills are all sole-fails is doing unique
    work; one that only ever co-fires with others is redundant and
    its threshold can be retired without changing the kept set.

    Scale: composes the map-only ``gopher_rules`` panel with ONE
    16-cell-bounded aggregation — output size is 2^4 regardless of
    corpus size; the 1-row total is a broadcast scalar."""
    if rules is None:
        rules = gopher_rules(docs)
    n_fail = sum(
        (~F.col(c)).cast("int") for c in _GOPHER_FLAGS
    ).cast("int")
    sole = F.when(
        n_fail == 1,
        F.concat_ws(
            "",
            *[
                F.when(~F.col(c), F.lit(name)).otherwise(F.lit(""))
                for c, name in zip(_GOPHER_FLAGS, _GOPHER_RULE_NAMES)
            ],
        ),
    )
    cell = rules.groupBy(*_GOPHER_FLAGS).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.max(n_fail).alias("n_failing_rules"),
        F.max(sole).alias("sole_fail"),
    )
    total = F.broadcast(cell.agg(F.sum("n_docs").alias("_t")))
    return (
        cell.join(total)
        .select(
            *_GOPHER_FLAGS,
            "n_docs",
            F.round(F.col("n_docs") / F.col("_t").cast("double"), 6).alias("share"),
            "n_failing_rules",
            "sole_fail",
        )
        .orderBy(*_GOPHER_FLAGS)
    )


_GOPHER_RULES_CTE = GOPHER_RULES_SQL.rsplit("ORDER BY", 1)[0].strip()

GOPHER_ABLATION_SQL = f"""
WITH panel AS (
{_GOPHER_RULES_CTE}
),
cell AS (
  SELECT pass_word_count, pass_mean_word_len, pass_alpha_frac, pass_stopwords,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         MAX(CAST(CASE WHEN pass_word_count THEN 0 ELSE 1 END
             + CASE WHEN pass_mean_word_len THEN 0 ELSE 1 END
             + CASE WHEN pass_alpha_frac THEN 0 ELSE 1 END
             + CASE WHEN pass_stopwords THEN 0 ELSE 1 END AS INT))
           AS n_failing_rules,
         MAX(CASE WHEN (CASE WHEN pass_word_count THEN 0 ELSE 1 END
                        + CASE WHEN pass_mean_word_len THEN 0 ELSE 1 END
                        + CASE WHEN pass_alpha_frac THEN 0 ELSE 1 END
                        + CASE WHEN pass_stopwords THEN 0 ELSE 1 END) = 1
                  THEN concat(
                    CASE WHEN NOT pass_word_count THEN 'WORD_COUNT' ELSE '' END,
                    CASE WHEN NOT pass_mean_word_len THEN 'MEAN_WORD_LEN' ELSE '' END,
                    CASE WHEN NOT pass_alpha_frac THEN 'ALPHA_FRAC' ELSE '' END,
                    CASE WHEN NOT pass_stopwords THEN 'STOPWORDS' ELSE '' END)
             END) AS sole_fail
  FROM panel
  GROUP BY pass_word_count, pass_mean_word_len, pass_alpha_frac, pass_stopwords
),
tot AS (SELECT SUM(n_docs) AS t FROM cell)
SELECT pass_word_count, pass_mean_word_len, pass_alpha_frac, pass_stopwords,
       n_docs,
       ROUND(n_docs / CAST(t AS DOUBLE), 6) AS share,
       n_failing_rules, sole_fail
FROM cell, tot
ORDER BY pass_word_count, pass_mean_word_len, pass_alpha_frac, pass_stopwords
""".strip()
