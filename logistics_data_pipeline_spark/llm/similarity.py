"""Similarity search over embedding columns (driver mandate): exact
brute-force cosine top-k as the correctness baseline, and an IVF
(inverted-file) variant as the scale path.

Scale design (100 TB / billions of vectors):
* Brute force is O(queries × corpus) — correct, and fine when the query
  side is small and broadcast; every executor scans only its slice of
  the corpus (no shuffle of the big side, one TakeOrdered per query).
* IVF: coarse-quantize the corpus (here: per-label centroids — the
  labels play the role of k-means cells; at scale run k-means on a
  sample), then probe only the nprobe closest cells — the classic
  recall/throughput trade.
* Cosine math is done JVM-side with higher-order functions (zip_with +
  aggregate) in DOUBLE; similarities are rounded to 6 dp before ranking
  so Spark's and DuckDB's last-ulp summation differences cannot flip
  the ordering; ties break on vec_id.
"""

from __future__ import annotations

import math

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import shuffle_parts, source_rows


# 0.4 keeps the registered query non-trivial on the synthetic
# embeddings (random vectors rarely exceed ~0.5 cosine; 0.95 matched
# nothing, making the oracle check vacuous).
NEARDUP_THRESHOLD = 0.4

def _dot(a, b):
    """Dot product of two DOUBLE arrays (cast upstream — ``_with_norm``
    pre-casts once per vector so pair loops never re-cast).

    Measured dead end (round 3, don't retry): unrolling this fold into
    a 64-term ``element_at(a,i)*element_at(b,i)`` codegen chain to
    escape the interpreted HOF path made the pair queries ~5× SLOWER
    (emb_neardup_cosine 3.9 s → 19 s at sf0.1) — the giant expression
    trips codegen's method-size fallback into per-expression
    interpretation with 128 bounds-checked array accesses. The fold's
    tight interpreted loop is the fastest hash-exact formulation;
    the BLAS ``applyInPandas`` tile path stays the rows-only fast
    twin."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _with_norm(emb: DataFrame, id_alias: str, vec_alias: str, norm_alias: str) -> DataFrame:
    """Project (id, vec-as-double, l2norm): the norm AND the f32→f64
    element casts are done once per vector instead of once per pair —
    the HOF fold is interpreted (not codegen'd), so hoisting both out
    of the pair join cuts the hot path hard. The dot product then
    multiplies already-double elements in the same order, so scores are
    bit-identical to inline computation (the pre-cast changes WHERE the
    cast happens, not the arithmetic)."""
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        F.col("vec_id").alias(id_alias),
        vec_d.alias(vec_alias),
        _norm(F.col("embedding")).alias(norm_alias),
    )


def vector_norms(emb: DataFrame) -> DataFrame:
    """Per-vector L2 norm + dimensionality (oracle-checkable vector math)."""
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(_norm(F.col("embedding")), 6).alias("l2_norm"),
    )


VECTOR_NORMS_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       ROUND(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
FROM embeddings
""".strip()


def knn_bruteforce(
    emb: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for query vectors (vec_id <
    n_queries) over the rest of the corpus. The query side is broadcast;
    the corpus is scanned in place — no corpus shuffle."""
    queries = F.broadcast(
        _with_norm(emb.filter(F.col("vec_id") < n_queries), "query_id", "q", "qn")
    )
    candidates = _with_norm(
        emb.filter(F.col("vec_id") >= n_queries).repartition("vec_id"),
        "neighbor_id",
        "c",
        "cn",
    )
    scored = queries.crossJoin(candidates).select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("q"), F.col("c")) / (F.col("qn") * F.col("cn")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


KNN_BRUTEFORCE_SQL = """
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])), 6) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings c ON c.vec_id >= 10 AND q.vec_id < 10
)
WHERE rank <= 5
""".strip()


def kmeans_centroids(
    emb: DataFrame, n_cells: int = 16, iters: int = 4, seed: int = 7
):
    """Sampled k-means coarse quantizer (Lloyd iterations, cosine
    assignment): returns a normalized ``n_cells × dim`` numpy centroid
    matrix. This is the learned-cells primitive real IVF indexes train.

    Scale shape: the driver only ever holds k×d floats (the centroids —
    bounded by the index config, independent of corpus size). Each
    iteration is one Arrow map pass over the corpus emitting per-batch
    PARTIAL per-cell sums in long form (cell, pos, psum, pcnt) — at most
    k·d rows per batch — followed by one tiny groupBy; the corpus is
    never collected, broadcast, or shuffled. Initialization is a
    deterministic hash-ordered sample (top-k by xxhash64 — TakeOrdered,
    no global sort shuffle)."""
    import numpy as np

    seed_rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)))
        .limit(n_cells)
        .collect()
    )
    cents = np.array([r.embedding for r in seed_rows], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)

    part_schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("psum", T.DoubleType()),
            T.StructField("pcnt", T.LongType()),
        ]
    )

    for _ in range(iters):
        cmat = cents  # closure-captured k×d matrix (tiny, task-shipped)

        def _partials(batches):
            import pandas as pd

            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.array(list(pdf["embedding"]), dtype=np.float64)
                mn = m / np.linalg.norm(m, axis=1, keepdims=True)
                cell = np.argmax(mn @ cmat.T, axis=1)
                kdim, dim = cmat.shape
                sums = np.zeros((kdim, dim))
                np.add.at(sums, cell, m)
                cnts = np.bincount(cell, minlength=kdim)
                nz = np.nonzero(cnts)[0]
                cells = np.repeat(nz, dim)
                yield pd.DataFrame(
                    {
                        "cell": cells.astype(np.int32),
                        "pos": np.tile(np.arange(dim, dtype=np.int32), len(nz)),
                        "psum": sums[nz].ravel(),
                        "pcnt": np.repeat(cnts[nz], dim).astype(np.int64),
                    }
                )

        agg = (
            emb.select("vec_id", "embedding")
            .mapInPandas(_partials, schema=part_schema)
            .groupBy("cell", "pos")
            .agg(F.sum("psum").alias("s"), F.sum("pcnt").alias("n"))
            .collect()
        )
        new = cents.copy()  # empty cells keep their previous centroid
        for r in agg:
            new[r.cell, r.pos] = r.s / r.n
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        cents = new / np.where(norms == 0, 1.0, norms)
    return cents


def assign_cells(emb: DataFrame, centroids, top: int = 1) -> DataFrame:
    """Map each vector to its ``top`` closest centroid cells by cosine
    (one Arrow pass, no shuffle): rows (vec_id, cell, cell_rank)."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64)

    assign_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("cell_rank", T.IntegerType()),
        ]
    )

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = mn @ cmat.T
            # stable: ties break to the lower cell index, matching the
            # oracle's ORDER BY sim DESC, cell ASC (ivf_cell_assign)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :top]
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, order.shape[1]),
                    "cell": order.ravel().astype(np.int32),
                    "cell_rank": np.tile(
                        np.arange(1, order.shape[1] + 1, dtype=np.int32),
                        len(ids),
                    ),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        _assign, schema=assign_schema
    )


def ivf_cell_assign(emb: DataFrame) -> DataFrame:
    """Oracle-checkable exact component of the IVF path (VERDICT r3 #5):
    assign every vector to its nearest coarse cell by cosine, with the
    cells PINNED to the per-label mean centroids — deterministic, unlike
    the sampled k-means cells — exercising the same Arrow
    ``assign_cells`` kernel ``knn_ivf`` uses in production.

    The centroid collect is bounded (n_labels × d rows, rounded to 6 dp
    by ``label_centroids`` so both engines start from identical cell
    coordinates); centroid rows are L2-normalized so the kernel's dot
    product IS cosine. Ties break to the smaller label on both engines
    (stable argsort / ORDER BY sim DESC, cell_label ASC)."""
    import numpy as np

    rows = label_centroids(emb).collect()  # bounded: n_labels × d
    labels = sorted({r.label for r in rows})
    d = 1 + max(r.pos for r in rows)
    cmat = np.zeros((len(labels), d), dtype=np.float64)
    lab_idx = {lab: i for i, lab in enumerate(labels)}
    for r in rows:
        cmat[lab_idx[r.label], r.pos] = r.centroid_val
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)

    lab_arr = F.array(*[F.lit(int(lab)).cast("long") for lab in labels])
    return (
        assign_cells(emb, cmat, top=1)
        .select(
            "vec_id",
            F.element_at(lab_arr, F.col("cell") + 1).alias("cell_label"),
        )
        .orderBy("vec_id")
    )


IVF_CELL_ASSIGN_SQL = """
WITH cent AS (
  SELECT label AS cell_label, pos,
         ROUND(AVG(CAST(val AS DOUBLE)), 6) AS centroid_val
  FROM (SELECT label,
               unnest(range(0, len(embedding))) AS pos,
               unnest(embedding) AS val
        FROM embeddings)
  GROUP BY label, pos
),
x AS (
  SELECT vec_id,
         unnest(range(0, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
sims AS (
  SELECT x.vec_id, c.cell_label,
         SUM(x.v * c.centroid_val)
           / (SQRT(SUM(x.v * x.v)) * SQRT(SUM(c.centroid_val * c.centroid_val)))
           AS sim
  FROM x JOIN cent c ON c.pos = x.pos
  GROUP BY x.vec_id, c.cell_label
),
ranked AS (
  SELECT vec_id, cell_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cell_label ASC) AS rn
  FROM sims
)
SELECT vec_id, CAST(cell_label AS BIGINT) AS cell_label
FROM ranked WHERE rn = 1
ORDER BY vec_id
""".strip()


def knn_ivf(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = 3,
    n_cells: int = 16,
    iters: int = 4,
) -> DataFrame:
    """IVF approximate top-k with a LEARNED coarse quantizer: sampled
    k-means cells (``kmeans_centroids``), corpus assigned to its nearest
    cell, each query probing only its ``nprobe`` closest cells — the
    classic recall/throughput trade, now with real trained cells instead
    of the labels-as-cells stand-in (kept as ``knn_ivf_labels`` for the
    recall-baseline test). Rows-only driver check (approximate by
    construction)."""
    cents = kmeans_centroids(emb, n_cells=n_cells, iters=iters)
    return _ivf_search(emb, cents, n_queries, k, nprobe)


def knn_ivf_delta(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = 10,
    n_cells: int = 16,
    iters: int = 4,
    batch_mod: int = 5,
    cents=None,
) -> DataFrame:
    """IVF search over a DELTA-MAINTAINED index (VERDICT r11 #3, the
    learned-quantizer production path beside the exact-oracled
    ``ivf_delta_assign`` panel): centroids train on the OLD corpus only
    (``vec_id % batch_mod != 0``); the arriving batch folds in via the
    same one-Arrow-pass ``assign_cells`` the old corpus used — no Lloyd
    iteration ever sees the updated corpus.

    Measured at sf0.01 (the corpus the panel floors are set on):
    boundaries trained without the batch cost recall at the old
    operating point (0.72 at nprobe=8 vs full-retrain 0.80), and the
    standard serving response — the nprobe retune ``ann_recall_panel``
    exists to drive — recovers it: nprobe=10 measures 0.82, above the
    full-retrain number, for 2 extra probed cells of 16 and still no
    retrain. That retuned point is the default here; pytest pins its
    recall at the same 0.75 floor the full-retrain ``knn_ivf`` holds.

    ``cents`` takes a deployed centroid matrix (numpy (cells, d)) so a
    serving path pays only the batch assignment."""
    if cents is None:
        old = emb.filter(
            (F.col("vec_id") >= n_queries)
            & ((F.col("vec_id") % batch_mod) != 0)
        )
        cents = kmeans_centroids(old, n_cells=n_cells, iters=iters)
    return _ivf_search(emb, cents, n_queries, k, nprobe)


def _ivf_search(
    emb: DataFrame, cents, n_queries: int, k: int, nprobe: int
) -> DataFrame:
    """Shared IVF probe/scan: corpus assigned top-1 to the given
    centroid matrix, queries top-``nprobe``, candidates scored only
    inside probed cells, per-query top-k window."""
    corpus_cells = assign_cells(
        emb.filter(F.col("vec_id") >= n_queries), cents, top=1
    ).select("vec_id", "cell")
    query_cells = assign_cells(
        emb.filter(F.col("vec_id") < n_queries), cents, top=nprobe
    ).select(F.col("vec_id").alias("query_id"), "cell")

    queries = F.broadcast(
        _with_norm(
            emb.filter(F.col("vec_id") < n_queries), "query_id", "q", "qn"
        ).join(query_cells, "query_id")
    )
    candidates = _with_norm(
        emb.filter(F.col("vec_id") >= n_queries), "neighbor_id", "c", "cn"
    ).join(
        corpus_cells.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    )
    scored = queries.join(candidates, "cell").select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("q"), F.col("c")) / (F.col("qn") * F.col("cn")), 6
        ).alias("cosine"),
    )  # corpus rows carry exactly one cell → each (query, neighbor) scores once
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def knn_ivf_labels(
    emb: DataFrame, n_queries: int = 10, k: int = 5, nprobe: int = 3
) -> DataFrame:
    """IVF approximate top-k: per-label centroids as coarse cells; each
    query probes only its nprobe closest cells. Kept as the recall
    BASELINE the learned-cells ``knn_ivf`` must match or beat."""
    # centroids: mean per (label, dimension) — posexplode + groupBy is
    # the scalable way to average vectors without collecting them
    pos = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    centroid_rows = (
        pos.groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "label", F.transform(F.col("pm"), lambda s: s["m"]).alias("centroid")
        )
    )
    centroids = F.broadcast(centroid_rows)

    # element cast to double happens HERE (once per vector), so both the
    # cell-assignment and scoring dot products run in f64 — raw float32
    # arrays through _dot would drift in the 6th rounded decimal and
    # could flip ranks vs the double-precision brute-force baseline
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("q"),
    )
    # assign each query to its nprobe closest centroids
    q_cells = (
        queries.crossJoin(centroids)
        .select(
            "query_id",
            "q",
            "label",
            (
                _dot(F.col("q"), F.col("centroid"))
                / (_norm(F.col("q")) * _norm(F.col("centroid")))
            ).alias("cell_sim"),
        )
        .withColumn(
            "cell_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cell_sim"), F.asc("label")
                )
            ),
        )
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "q", "label")
    )
    candidates = emb.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("c"),
        _norm(F.col("embedding")).alias("cn"),
        "label",
    )
    scored = F.broadcast(q_cells.withColumn("qn", _norm(F.col("q")))).join(
        candidates, "label"
    ).select(
        "query_id",
        "neighbor_id",
        F.round(_dot(F.col("q"), F.col("c")) / (F.col("qn") * F.col("cn")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _block_pair_sides(
    emb: DataFrame, n_blocks: int
) -> tuple[DataFrame, DataFrame]:
    """Block-pair decomposition of the all-pairs upper triangle.

    Each vector lands in block ``g = vec_id mod G``; the G·(G+1)/2
    unordered block pairs (p ≤ q) partition the n² pair space. A row in
    block g is replicated to the LEFT side of keys (g, q≥g) and the
    RIGHT side of keys (p≤g, g), so every unordered vector pair meets in
    exactly one key group — twice (both orientations) when p == q, once
    when p < q. Downstream keeps ``l_id < r_id`` for same-block groups
    and normalizes ids with least/greatest for cross-block groups.

    This is the scale-correct shape for an *exact* low-threshold cosine
    join: the O(n²) compute is irreducible, but it distributes as
    equi-join key groups (plain hash join — no BroadcastNestedLoopJoin,
    no driver collect, no whole-corpus broadcast) with per-row
    replication factor G+1. At cluster scale pick
    G ≈ ceil(sqrt(n·d / per-task flop budget)); G=8 keeps the 36 key
    groups comfortably parallel on local[32].
    """
    base = _with_norm(emb, "id", "v", "nrm").withColumn(
        # hash-based block: uniform regardless of the id distribution
        # (sequential, sparse, or clustered ids all balance)
        "g", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    left = base.select(
        F.col("id").alias("l_id"),
        F.col("v").alias("lv"),
        F.col("nrm").alias("ln_"),
        F.col("g").alias("p"),
        F.explode(F.sequence(F.col("g"), F.lit(n_blocks - 1))).alias("q"),
    )
    right = base.select(
        F.col("id").alias("r_id"),
        F.col("v").alias("rv"),
        F.col("nrm").alias("rn"),
        F.explode(F.sequence(F.lit(0), F.col("g"))).alias("p"),
        F.col("g").alias("q"),
    )
    return left, right


def embedding_neardup(
    emb: DataFrame, threshold: float = NEARDUP_THRESHOLD, n_blocks: int = 8
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: exact threshold join via
    block-pair decomposition (see ``_block_pair_sides``).

    Why not LSH here: at threshold 0.4 (θ ≈ 66°) over a random-vector
    background (θ ≈ 90°) the per-bit agreement probabilities are 0.63 vs
    0.50 — signed-random-projection banding that keeps recall ≈ 1 admits
    most random pairs too (e.g. r=4, b=16: recall ≈ 0.94 but ~64% of all
    pairs become candidates), so it cannot make an *exact* oracle-checked
    operator cheaper. The scalable exact form is instead to distribute
    the irreducible O(n²) work as equi-join block pairs; the approximate
    LSH path (selective when real corpora have near-dups at θ ≤ 30°)
    is ``embedding_neardup_lsh``.
    """
    left, right = _block_pair_sides(emb, n_blocks)
    n_groups = n_blocks * (n_blocks + 1) // 2
    # Explicit repartition on the join key: the replicated input is tiny
    # by bytes, so AQE would coalesce the exchange to 1 partition even
    # though the join OUTPUT (and per-group pair loop) is quadratic.
    left = left.repartition(n_groups, "p", "q")
    pairs = left.join(right, ["p", "q"]).filter(
        (F.col("p") != F.col("q")) | (F.col("l_id") < F.col("r_id"))
    )
    # Dot product via posexplode + hash aggregation instead of the
    # interpreted HOF fold: Generate and HashAggregate both stay in
    # whole-stage codegen, measured ~1.6× faster end-to-end at sf0.1.
    # Bit-identical to the sequential fold (asserted by collect-equality
    # when this landed, pinned by the oracle hash): the generator emits
    # a pair's 64 positions contiguously in one task, the map-side
    # partial accumulates them in that order onto 0.0, and exactly one
    # partial exists per pair, so the final SUM is the same
    # left-to-right double addition chain the fold performed.
    ex = pairs.select(
        F.least("l_id", "r_id").alias("a_id"),
        F.greatest("l_id", "r_id").alias("b_id"),
        "ln_",
        "rn",
        F.posexplode(F.arrays_zip("lv", "rv")).alias("pos", "z"),
    ).select(
        "a_id", "b_id", "ln_", "rn", (F.col("z.lv") * F.col("z.rv")).alias("prod")
    )
    scored = (
        ex.groupBy("a_id", "b_id", "ln_", "rn")
        .agg(F.sum("prod").alias("dot"))
        .select(
            "a_id",
            "b_id",
            F.round(F.col("dot") / (F.col("ln_") * F.col("rn")), 6).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= threshold).orderBy("a_id", "b_id")


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("a_id", T.LongType()),
        T.StructField("b_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


def embedding_neardup_fast(
    emb: DataFrame, threshold: float = NEARDUP_THRESHOLD, n_blocks: int = 8
) -> DataFrame:
    """Vectorized embedding near-dup: the same block-pair decomposition
    as ``embedding_neardup``, with each key group's L×R similarity tile
    computed as one BLAS matrix product inside ``applyInPandas``.

    Fully distributed: rows shuffle once on the block-pair key, every
    executor multiplies only its (n/G × n/G) tile — no driver-side
    ``collect()``, no whole-corpus broadcast (the round-1 formulation
    collected the corpus to the driver; that caps out around 10⁷ vectors
    and is gone). Kept rows-only for the driver (BLAS pairwise summation
    can differ from sequential SQL summation in the last ulp, so a
    value-hash against the SQL oracle would be flaky); the exact
    ``embedding_neardup`` formulation remains the oracle-checked twin —
    a unit test asserts both emit the same pairs.
    """
    import numpy as np
    import pandas as pd

    sides = _tagged_block_sides(emb, n_blocks)
    n_groups = n_blocks * (n_blocks + 1) // 2

    def _tile(pdf: "pd.DataFrame") -> "pd.DataFrame":
        lmask = pdf["side"].to_numpy() == 0
        lpdf, rpdf = pdf[lmask], pdf[~lmask]
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"a_id": [], "b_id": [], "cosine": []}).astype(
                {"a_id": "int64", "b_id": "int64", "cosine": "float64"}
            )
        l_ids = lpdf["id"].to_numpy(dtype=np.int64)
        r_ids = rpdf["id"].to_numpy(dtype=np.int64)
        lm = np.array(list(lpdf["v"]), dtype=np.float64)
        rm = np.array(list(rpdf["v"]), dtype=np.float64)
        lm /= np.linalg.norm(lm, axis=1, keepdims=True)
        rm /= np.linalg.norm(rm, axis=1, keepdims=True)
        sims = lm @ rm.T
        keep = sims >= threshold
        if pdf["p"].iat[0] == pdf["q"].iat[0]:
            keep &= l_ids[:, None] < r_ids[None, :]
        li, ri = np.nonzero(keep)
        la, rb = l_ids[li], r_ids[ri]
        return pd.DataFrame(
            {
                "a_id": np.minimum(la, rb),
                "b_id": np.maximum(la, rb),
                "cosine": np.round(sims[li, ri], 6),
            }
        )

    return (
        sides.repartition(n_groups, "p", "q")
        .groupBy("p", "q")
        .applyInPandas(_tile, schema=_PAIR_SCHEMA)
        .orderBy("a_id", "b_id")
    )


def _tagged_block_sides(emb: DataFrame, n_blocks: int) -> DataFrame:
    """Union of both block-pair sides with a side tag and raw vectors —
    the grouped-BLAS input shape (norms are recomputed vectorized inside
    the tile product, cheaper than shipping them)."""
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int").alias("g"),
    )
    left = base.select(
        "id",
        "v",
        F.lit(0).alias("side"),
        F.col("g").alias("p"),
        F.explode(F.sequence(F.col("g"), F.lit(n_blocks - 1))).alias("q"),
    )
    right = base.select(
        "id",
        "v",
        F.lit(1).alias("side"),
        F.explode(F.sequence(F.lit(0), F.col("g"))).alias("p"),
        F.col("g").alias("q"),
    )
    return left.unionByName(right.select(*left.columns))


SRP_SEED = 20260813
# Query/corpus split shared by knn_graph_beam, ann_recall_panel, AND
# the registry's cached nsw_graph asset (ADVICE r10: the asset builder
# hardcoded `vec_id >= 10` separately from the beam default — a drift
# there would silently leave query vectors inside the cached graph).
# Defined up here because default args bind at def time and the panel
# is defined long before the graph-ANN section.
NSW_N_QUERIES = 10


def srp_planes(emb: DataFrame, n_bits: int, seed: int) -> DataFrame:
    """Deterministic SRP hyperplanes (pos, j, g): standard-normal
    components via Box-Muller over two md5-derived uniforms — the same
    inverse-CDF-from-md5 recipe the DP release key uses — rounded to
    6 dp so both engines project against the IDENTICAL plane matrix.
    dims × n_bits rows, broadcastable at any corpus size; the
    dimension list comes from the data itself (one tiny distinct over
    the exploded positions), so nothing is collected driver-side."""
    x = emb.select(F.posexplode("embedding").alias("pos", "_v")).select("pos")
    dims = x.distinct()
    js = emb.sparkSession.range(n_bits).select(F.col("id").cast("int").alias("j"))

    def u(tag):
        name = F.concat_ws(
            ":", F.lit("srp"), F.lit(seed), F.col("j"), F.col("pos"), F.lit(tag)
        )
        return (
            F.conv(F.substring(F.md5(name), 1, 12), 16, 10).cast("double")
            + F.lit(0.5)
        ) / F.lit(float(2**48))

    g = F.round(
        F.sqrt(F.lit(-2.0) * F.log(u("u1")))
        * F.cos(F.lit(6.283185307179586) * u("u2")),
        6,
    )
    return dims.crossJoin(js).select("pos", "j", g.alias("g"))


def _srp_dims(n_rows: int) -> tuple[int, int]:
    """(n_bits, band_bits) governor tiers for a corpus of ``n_rows``
    vectors (callers size with ``session.source_rows``).

    Two knobs move together (SCALING_r10 postmortem): widening a BAND
    divides expected bucket occupancy (candidate volume ~ bands ·
    n²/2^band_bits stays ~linear only if 2^band_bits grows with n),
    while adding BANDS (total bits) restores the recall the wider band
    gives up (the LSH S-curve: P(candidate) = 1 − (1 − p^r)^b).
    A width-only governor that switched 8→16 bits at 262k was far too
    late: at the sf10 decade (200k vectors) the 8-bit regime's
    occupancy hit ~780 and the governed decontamination went 45.7× per
    decade (532 s). Tiers, each holding expected occupancy ≤ ~128 at
    its ceiling and recall@0.9-cosine ≈ 0.94:

      n ≤ 4096   → (64, 4)  16 bands — committed regime, oracle-pinned
      n ≤ 32768  → (64, 8)   8 bands — the probed sf1 regime
      beyond     → (512, 16) 32 bands — 2^16 buckets/band; 32 bands
                   keep 1−(1−0.856¹⁶)³² ≈ 0.94 at cosine 0.9, the same
                   floor the 8-band/8-bit tier gives; signature build
                   is 8× the projections (512 bits) but stays a
                   map-side fanout — the candidate join volume, not
                   the signature width, is what kills a decade.

    Past ~4M vectors the documented next step is 24-bit bands at
    n_bits ≈ 1536 (same arithmetic), or multiprobe to trade bands for
    probe fan-out."""
    if n_rows <= 4096:
        return 64, 4
    if n_rows <= 32_768:
        return 64, 8
    return 512, 16


def srp_buckets(
    emb: DataFrame,
    n_bits: int | None = None,
    band_bits: int | None = None,
    seed: int = SRP_SEED,
    impl: str = "auto",
) -> DataFrame:
    """(vec_id, band, bucket) SRP-LSH banded signature rows — the
    candidate-blocking structure shared by ``embedding_neardup_lsh``
    and ``semantic_decontamination_governed``.

    ``band_bits=None`` lets the ``_srp_dims`` governor pick both widths
    from ``source_rows(emb)``; an explicit ``band_bits`` uses
    ``n_bits`` (64 when not given). Declarative path: the
    plane matrix is dims × n_bits rows broadcast to a map-side fanout
    join, projections partial-aggregate on (vec_id, j), buckets on
    (vec_id, band); sign bits compare ROUND(proj, 6) ≥ 0 in both
    engines so summation-order last-ulp wobble cannot flip a bit.

    ``impl``: "declarative" (oracle-exact), "blas", or "auto" (the
    default — BLAS iff n_bits > 64, i.e. exactly the governor's wide
    tier). SCALING_r10 found the declarative build IS the wide-tier
    wall: at (512, 16) the fanout join streams n·d·n_bits rows
    through one hash aggregate (6.5e9 at the sf10 decade — 95% of
    emb_neardup_lsh's 446 s), so the wide tier computes the identical
    projections as ONE Arrow batch matmul per partition (X @ G,
    ``_srp_buckets_blas``) — the ``embedding_neardup_fast`` precedent.
    The committed ≤64-bit tiers stay declarative (the oracle-checked
    regimes; the guard in tests/test_testdata_contract.py keeps the
    driver there), and pytest pins BLAS == declarative bucket-for-
    bucket at (128, 16) on the real corpus. The only divergence risk
    is a projection landing EXACTLY on the ±0.5e-6 rounding boundary
    (np.round half-even vs HALF_UP) — measure-zero over md5-derived
    planes, and confined to the non-oracled wide tier."""
    if band_bits is None:
        n_bits, band_bits = _srp_dims(source_rows(emb))
    n_bits = n_bits or 64
    if impl == "blas" or (impl == "auto" and n_bits > 64):
        return _srp_buckets_blas(emb, n_bits, band_bits, seed)
    planes = srp_planes(emb, n_bits, seed)
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    proj = (
        x.join(F.broadcast(planes), "pos")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("v") * F.col("g")).alias("pr"))
    )
    bit_weight = F.when(
        F.round(F.col("pr"), 6) >= 0,
        F.pow(F.lit(2.0), (F.col("j") % band_bits)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    return (
        proj.select(
            "vec_id",
            F.floor(F.col("j") / band_bits).cast("int").alias("band"),
            bit_weight.alias("w"),
        )
        .groupBy("vec_id", "band")
        .agg(F.sum("w").alias("bucket"))
    )


def _srp_buckets_blas(
    emb: DataFrame, n_bits: int, band_bits: int, seed: int
) -> DataFrame:
    """Arrow/BLAS twin of the declarative ``srp_buckets``: the SAME
    md5 Box-Muller plane matrix (collected once — d × n_bits floats,
    config-bounded, NOT corpus-bounded) multiplied against each Arrow
    batch (X @ G), signs from np.round(proj, 6) ≥ 0, buckets packed
    with the identical 2^(j % band_bits) weights. One map-side pass,
    no join, no aggregate — the wide-tier production path."""
    import numpy as np
    import pandas as pd

    plane_rows = srp_planes(emb, n_bits, seed).collect()
    d = 1 + max(r.pos for r in plane_rows)
    G = np.zeros((d, n_bits))
    for r in plane_rows:
        G[r.pos, r.j] = r.g
    bands = n_bits // band_bits
    weights = (1 << (np.arange(n_bits, dtype="int64") % band_bits)).astype(
        "int64"
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            X = np.array(
                [np.asarray(v, dtype="float64") for v in pdf["embedding"]]
            )
            bits = (np.round(X @ G, 6) >= 0).astype("int64")
            bucket = (bits * weights).reshape(len(ids), bands, band_bits).sum(
                axis=2
            )
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, bands),
                    "band": np.tile(np.arange(bands, dtype="int32"), len(ids)),
                    "bucket": bucket.reshape(-1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_id long, band int, bucket long"
    )


def _verified_pair_cosines(
    emb: DataFrame,
    candidates: DataFrame,
    left: str,
    right: str,
    threshold: float,
) -> DataFrame:
    """Exact-cosine verification of an id-pair candidate frame via the
    vectorized Arrow path (einsum over each batch — measured ~2.5×
    faster end-to-end than the interpreted HOF fold when bands admit
    most pairs). The authoritative round-then-threshold happens in
    Spark with F.round (HALF_UP), matching the oracle; the in-batch
    pre-filter keeps 1e-6 slack so a boundary cosine can never be
    dropped by numpy's banker's rounding (ADVICE r4).

    OPTIMIZATION r12 (guide §4.1/§4.2): the pandas form of this helper
    converted each batch's vector column with ``np.array(list(series))``
    — one Python object per ROW for frames of 10⁵-10⁶ pairs, which
    profiling showed dominating the seed-scoring phase of the graph
    builds. Now ``mapInArrow``: the list column's values buffer is
    reshaped to the (rows × dim) matrix in one vectorized call
    (``flatten().to_numpy()`` — Arrow list storage is exactly that
    contiguous buffer), the einsum and its float64 casts are unchanged,
    and ids come back as zero-copy Arrow arrays. Same arithmetic, same
    rounding, ~3× less Python-side time per batch."""
    import numpy as np
    import pyarrow as pa

    va = emb.select(F.col("vec_id").alias(left), F.col("embedding").alias("va"))
    vb = emb.select(F.col("vec_id").alias(right), F.col("embedding").alias("vb"))
    joined = candidates.select(left, right).join(va, left).join(vb, right)

    def _mat(col, n_rows):
        flat = col.flatten().to_numpy(zero_copy_only=False)
        return flat.astype(np.float64, copy=False).reshape(n_rows, -1)

    def _verify(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            m1 = _mat(rb.column("va"), n)
            m2 = _mat(rb.column("vb"), n)
            sims = np.einsum("ij,ij->i", m1, m2) / (
                np.linalg.norm(m1, axis=1) * np.linalg.norm(m2, axis=1)
            )
            keep = sims >= threshold - 1e-6
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(left).filter(pa.array(keep)),
                    rb.column(right).filter(pa.array(keep)),
                    pa.array(sims[keep], type=pa.float64()),
                ],
                names=[left, right, "cosine"],
            )

    return (
        joined.mapInArrow(
            _verify, schema=f"{left} long, {right} long, cosine double"
        )
        .withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    n_bits: int | None = None,
    band_bits: int | None = None,
    seed: int = SRP_SEED,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Approximate near-dup via signed-random-projection (hyperplane)
    LSH: band the sign bits of seeded Gaussian projections, self-join on
    (band, bucket) for candidates, then verify candidates with the exact
    cosine — output is a subset of ``embedding_neardup`` (verified
    exact), missing only pairs no band agreed on.

    Selectivity is a function of the angle gap. P[bit agrees] =
    1 − θ/π; a band of r bits matches with p^r and b bands give
    recall 1 − (1 − p^r)^b. At θ ≤ 30° (true near-dup corpora,
    cosine ≥ 0.87) r=4/b=16 gives recall > 0.9999 while admitting
    ~6% of random pairs; at this table's registered threshold 0.4
    (θ ≈ 66°, barely off the 90° background) the same banding still
    recalls most threshold pairs but admits most random pairs —
    the honest reading is that LSH buys nothing for low thresholds,
    which is why the *exact* operators use block-pair decomposition
    instead. Fully oracle-checked since the hyperplanes became
    md5-derived (``srp_planes``): signatures, banding, candidates, and
    the rounded-cosine verification are all ANSI-SQL-reproducible; a
    unit test additionally pins measured recall vs the exact twin.

    Scale shape: the plane matrix is dims × n_bits rows broadcast to a
    map-side fanout join, projections partial-aggregate on
    (vec_id, j), buckets on (vec_id, band) — then one equi-join on
    (band, bucket), distinct, and an exact verify join — every stage
    key-partitioned, nothing driver-side. Sign bits compare
    ROUND(proj, 6) ≥ 0 in both engines so summation-order last-ulp
    wobble cannot flip a bit.

    Band-width governor (SCALING_r7 postmortem, re-derived SCALING_r10):
    at FIXED band_bits the bucket space is constant, so expected bucket
    occupancy grows linearly with n and candidate pairs QUADRATICALLY —
    measured 43× per decade at the sf1 probe (167 s), and again 45.7×
    at the sf10 decade when width-only tiers left the 8-bit regime
    running to 262k vectors. ``_srp_dims`` therefore sizes BOTH knobs:
    band width steps up (4 → 8 → 16 bits) to hold occupancy ≤ ~128 at
    each tier's ceiling, and the TOTAL bit count grows with the width
    (64 → 64 → 512 bits, i.e. 16 → 8 → 32 bands) so recall at cosine
    0.9 stays ≈ 0.94 through every tier (the S-curve trade the width
    alone would destroy: 4 bands of 16 bits recall only ≈ 0.30). The
    signature build is linear in n_bits and stays a map-side fanout —
    candidate-join volume, not signature width, is what kills a
    decade. Sizing reads ``source_rows`` (Parquet footers for a
    file-backed corpus), so no job runs before the plan.

    ``sigs`` injects a pre-built (vec_id, band, bucket) frame — the
    registry's shared ``srp_sigs`` asset, built once at the governor
    width and reused by this key, the governed decontamination, and
    the decontamination panel's semantic leg. When given, it takes
    precedence over ``band_bits``."""
    if sigs is None:
        sigs = srp_buckets(emb, n_bits=n_bits, band_bits=band_bits, seed=seed)
    a = sigs.select(
        F.col("band"), F.col("bucket"), F.col("vec_id").alias("a_id")
    )
    b = sigs.select(
        F.col("band"), F.col("bucket"), F.col("vec_id").alias("b_id")
    )
    candidates = (
        a.repartition(shuffle_parts(a), "band", "bucket")
        .join(b, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    return _verified_pair_cosines(
        emb, candidates, "a_id", "b_id", threshold
    ).orderBy("a_id", "b_id")


_SRP_U48 = float(2**48)

def _srp_sig_ctes(band_bits: int, n_bits: int = 64) -> str:
    """The x → dims → js → planes → proj → sigs CTE chain mirroring
    ``srp_buckets`` — shared by the LSH near-dup oracle and the
    governed decontamination oracle (identical text, so the two twins
    can never drift apart on the signature math). ``n_bits`` mirrors
    the governor's second knob (wide-regime tiers grow the total bit
    count to hold recall — see ``_srp_dims``)."""
    return f"""x AS (
  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
dims AS (SELECT DISTINCT pos FROM x),
js AS (SELECT unnest(range(0, {n_bits})) AS j),
planes AS (
  SELECT pos, j,
         ROUND(
           SQRT(-2.0 * LN((CAST(('0x' || substring(md5(
                  'srp:{SRP_SEED}:' || j || ':' || pos || ':u1'), 1, 12)) AS BIGINT)
                + 0.5) / {_SRP_U48}))
           * COS(6.283185307179586
                 * ((CAST(('0x' || substring(md5(
                      'srp:{SRP_SEED}:' || j || ':' || pos || ':u2'), 1, 12)) AS BIGINT)
                    + 0.5) / {_SRP_U48})), 6) AS g
  FROM dims CROSS JOIN js
),
proj AS (
  SELECT x.vec_id, p.j, SUM(x.v * p.g) AS pr
  FROM x JOIN planes p ON p.pos = x.pos
  GROUP BY x.vec_id, p.j
),
sigs AS (
  SELECT vec_id, j // {band_bits} AS band,
         SUM(CASE WHEN ROUND(pr, 6) >= 0
                  THEN CAST(POWER(2, j % {band_bits}) AS BIGINT) ELSE 0 END) AS bucket
  FROM proj GROUP BY vec_id, j // {band_bits}
)"""


def neardup_lsh_sql(band_bits: int = 4, n_bits: int = 64) -> str:
    """Oracle twin of ``embedding_neardup_lsh`` at an explicit band
    width. The registered constant uses the 4-bit default — valid
    while the corpus is ≤4096 vectors (every driver SF; sf0.1 has
    2000), where the governor also picks 4. pytest diffs the 8-bit
    regime cross-engine through this builder; regenerate the constant
    with the actual width if the driver testdata ever crosses the
    bound."""
    return f"""
WITH {_srp_sig_ctes(band_bits, n_bits)},
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM sigs a JOIN sigs b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT c.a_id, c.b_id,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM cand c
JOIN embeddings a ON a.vec_id = c.a_id
JOIN embeddings b ON b.vec_id = c.b_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= {NEARDUP_THRESHOLD}
ORDER BY a_id, b_id
""".strip()


NEARDUP_LSH_SQL = neardup_lsh_sql()


EMBEDDING_NEARDUP_SQL = f"""
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6) >= {NEARDUP_THRESHOLD}
ORDER BY a_id, b_id
""".strip()


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid of the embedding vectors, in long form
    (label, dimension position, mean component) — the k-means/IVF
    assignment primitive (knn_ivf's coarse quantizer is this same
    computation over learned clusters).

    posexplode keeps the whole pipeline in codegen (array HOFs run
    interpreted); the single shuffle is on (label, pos), ~labels x dim
    groups regardless of corpus size, so partial aggregation collapses
    the map side at 100 TB."""
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"),
        )
        .orderBy("label", "pos")
    )


LABEL_CENTROIDS_SQL = """
SELECT label, pos, COUNT(*) AS n_vectors,
       ROUND(AVG(CAST(val AS DOUBLE)), 6) AS centroid_val
FROM (SELECT label,
             unnest(range(0, len(embedding))) AS pos,
             unnest(embedding) AS val
      FROM embeddings)
GROUP BY label, pos
ORDER BY label, pos
""".strip()


def semantic_neardup_enriched(
    emb: DataFrame, docs: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Embedding near-dup pairs joined back to document metadata on both
    sides (vec_id == doc_id) — the cross-table step a semantic-dedup
    pipeline runs before deciding keepers. The (tiny) pair set probes
    the documents table twice via aliased joins; at scale the pair side
    is the broadcast side."""
    if pairs is None:
        pairs = embedding_neardup(emb)
    a_meta = docs.select(
        F.col("doc_id").alias("a_id"),
        F.col("lang").alias("a_lang"),
        F.col("source").alias("a_source"),
    )
    b_meta = docs.select(
        F.col("doc_id").alias("b_id"),
        F.col("lang").alias("b_lang"),
        F.col("source").alias("b_source"),
    )
    return (
        pairs.join(a_meta, "a_id")
        .join(b_meta, "b_id")
        .select(
            "a_id",
            "b_id",
            "cosine",
            "a_lang",
            "b_lang",
            "a_source",
            "b_source",
            (F.col("a_source") == F.col("b_source")).alias("same_source"),
        )
        .orderBy("a_id", "b_id")
    )


SEMANTIC_NEARDUP_ENRICHED_SQL = f"""
WITH pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 6) >= {NEARDUP_THRESHOLD}
)
SELECT p.a_id, p.b_id, p.cosine,
       da.lang AS a_lang, db.lang AS b_lang,
       da.source AS a_source, db.source AS b_source,
       da.source = db.source AS same_source
FROM pairs p
JOIN documents da ON da.doc_id = p.a_id
JOIN documents db ON db.doc_id = p.b_id
ORDER BY p.a_id, p.b_id
""".strip()


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Per-vector scalar quantization to int8 codes (long form:
    vec_id, pos, code) — the memory-compression step ANN indexes run
    before serving (PQ/SQ family).

    Shuffle-free: array_min/array_max are native codegen expressions
    (unlike lambda HOFs), so the per-vector range rides the same
    projection as the posexplode — no aggregation, no join-back, the
    whole quantization is a map-side scan at any scale. Codes use
    floor() (not round()) so Spark and the oracle agree bit-for-bit
    regardless of the engines' rounding modes. Constant vectors
    (hi == lo) map to code 0."""
    exploded = emb.select(
        "vec_id",
        F.array_min("embedding").cast("double").alias("lo"),
        F.array_max("embedding").cast("double").alias("hi"),
        F.posexplode("embedding").alias("pos", "val"),
    ).withColumn("val", F.col("val").cast("double"))
    scaled = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("val") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 256),
            F.lit(255),
        )
    )
    return (
        exploded.select(
            "vec_id",
            "pos",
            (scaled - 128).cast("int").alias("code"),
            F.round("lo", 6).alias("scale_lo"),
            F.round("hi", 6).alias("scale_hi"),
        )
        .orderBy("vec_id", "pos")
    )


QUANTIZE_INT8_SQL = """
WITH exploded AS (
  SELECT vec_id,
         unnest(range(0, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
),
stats AS (SELECT vec_id, MIN(val) AS lo, MAX(val) AS hi FROM exploded GROUP BY vec_id)
SELECT e.vec_id, e.pos,
       CAST((CASE WHEN s.hi = s.lo THEN 0
                  ELSE LEAST(FLOOR((e.val - s.lo) / (s.hi - s.lo) * 256), 255)
             END) - 128 AS INT) AS code,
       ROUND(s.lo, 6) AS scale_lo,
       ROUND(s.hi, 6) AS scale_hi
FROM exploded e JOIN stats s ON e.vec_id = s.vec_id
ORDER BY e.vec_id, e.pos
""".strip()


def pq_codebooks(
    emb: DataFrame,
    n_subspaces: int = 8,
    n_cells: int = 16,
    iters: int = 3,
    seed: int = 11,
    normalize: bool = False,
):
    """Product-quantization codebooks: split each vector into
    ``n_subspaces`` contiguous subvectors and train an independent
    L2 k-means codebook per subspace (the PQ compression step ANN
    indexes pair with IVF). Returns an (S, k, d/S) numpy array.

    ``normalize=True`` L2-normalizes every training vector (and the
    seeds) first — REQUIRED when the codebook serves an index that
    encodes normalized vectors (``knn_ivfpq`` via
    ``pq_assign_packed``): training on raw vectors (norm ≈ √d) while
    encoding unit vectors puts the centroids at the wrong scale, so
    assignments collapse toward small-magnitude centroids and recall
    degrades. Train and serve must share the distribution.

    All subspaces train together: each Lloyd iteration is ONE Arrow
    pass over the corpus emitting per-batch partial sums keyed
    (subspace, cell, pos) — at most S·k·(d/S) = k·d rows per batch —
    plus one tiny groupBy. Driver state is the codebook tensor
    (S·k·d/S = k·d floats, index-config bounded). Same scale argument
    as ``kmeans_centroids``; empty cells keep their previous code."""
    import numpy as np

    seed_rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed)))
        .limit(n_cells)
        .collect()
    )
    init = np.array([r.embedding for r in seed_rows], dtype=np.float64)
    if normalize:
        init /= np.linalg.norm(init, axis=1, keepdims=True)
    dim = init.shape[1]
    dsub = dim // n_subspaces
    books = np.stack(
        [init[:, s * dsub : (s + 1) * dsub] for s in range(n_subspaces)]
    )  # S × k × dsub

    part_schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("psum", T.DoubleType()),
            T.StructField("pcnt", T.LongType()),
        ]
    )

    for _ in range(iters):
        B = books

        def _partials(batches):
            import pandas as pd

            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.array(list(pdf["embedding"]), dtype=np.float64)
                if normalize:
                    X /= np.linalg.norm(X, axis=1, keepdims=True)
                frames = []
                for s in range(n_subspaces):
                    Xs = X[:, s * dsub : (s + 1) * dsub]
                    d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                    cell = np.argmin(d2, axis=1)
                    sums = np.zeros((n_cells, dsub))
                    np.add.at(sums, cell, Xs)
                    cnts = np.bincount(cell, minlength=n_cells)
                    nz = np.nonzero(cnts)[0]
                    frames.append(
                        pd.DataFrame(
                            {
                                "sub": np.full(len(nz) * dsub, s, dtype=np.int32),
                                "cell": np.repeat(nz, dsub).astype(np.int32),
                                "pos": np.tile(np.arange(dsub, dtype=np.int32), len(nz)),
                                "psum": sums[nz].ravel(),
                                "pcnt": np.repeat(cnts[nz], dsub).astype(np.int64),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

        agg = (
            emb.select("vec_id", "embedding")
            .mapInPandas(_partials, schema=part_schema)
            .groupBy("sub", "cell", "pos")
            .agg(F.sum("psum").alias("s"), F.sum("pcnt").alias("n"))
            .collect()
        )
        new = books.copy()
        for r in agg:
            new[r.sub, r.cell, r.pos] = r.s / r.n
        books = new
    return books


def pq_codes(
    emb: DataFrame,
    n_subspaces: int = 8,
    n_cells: int = 16,
    iters: int = 3,
) -> DataFrame:
    """Per-vector PQ codes in long form (vec_id, subspace, code) with
    the per-subspace squared quantization error — 64 dims × float32
    compress to 8 bytes/vector at these defaults. One shuffle-free
    Arrow assignment pass; rows-only driver check (iterative training
    is not SQL-expressible)."""
    import numpy as np

    books = pq_codebooks(emb, n_subspaces, n_cells, iters)
    dsub = books.shape[2]

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("subspace", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("sq_err", T.DoubleType()),
        ]
    )

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            frames = []
            for s in range(books.shape[0]):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                d2 = ((Xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                code = np.argmin(d2, axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": ids,
                            "subspace": np.full(len(ids), s, dtype=np.int32),
                            "code": code.astype(np.int32),
                            "sq_err": np.round(d2[np.arange(len(ids)), code], 6),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return (
        emb.select("vec_id", "embedding")
        .mapInPandas(_assign, schema=out_schema)
        .orderBy("vec_id", "subspace")
    )


def pq_assign_packed(emb: DataFrame, books) -> DataFrame:
    """Per-vector packed PQ codes (vec_id, codes array<int>) against
    trained codebooks — one shuffle-free Arrow pass. Vectors are
    L2-normalized before coding (the IVF-PQ index quantizes the unit
    sphere so ADC inner products approximate cosine)."""
    import numpy as np

    n_sub, _, dsub = books.shape
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            codes = np.empty((len(X), n_sub), dtype=np.int32)
            for s in range(n_sub):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                d2 = ((Xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(_assign, schema=out_schema)


def _train_ivfpq_codebooks(
    emb: DataFrame,
    n_cells: int,
    n_subspaces: int,
    pq_cells: int,
    iters: int,
    seed_coarse: int = 7,
    seed_pq: int = 11,
):
    """Train the IVF coarse quantizer AND the PQ subspace codebooks
    together: ONE Arrow pass + one tiny groupBy per Lloyd iteration for
    both quantizers, instead of one pass each (halves the index-build
    jobs — the dominant cost of ``knn_ivfpq`` on a warm session).
    Partial rows are tagged ``quant`` (0 = coarse cosine k-means over
    raw sums, 1 = per-subspace L2 k-means over NORMALIZED vectors) and
    both codebooks update from the same aggregated frame. Semantics
    match ``kmeans_centroids`` / ``pq_codebooks(normalize=True)``
    exactly (same seeds, same update rules); only partial-sum addition
    order differs, so centroids agree to float rounding. Driver state
    stays index-config bounded: (n_cells + pq_cells·n_subspaces)·dim
    floats."""
    import numpy as np

    seed_c = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed_coarse)))
        .limit(n_cells)
        .collect()
    )
    cents = np.array([r.embedding for r in seed_c], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    seed_p = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id"), F.lit(seed_pq)))
        .limit(pq_cells)
        .collect()
    )
    init = np.array([r.embedding for r in seed_p], dtype=np.float64)
    init /= np.linalg.norm(init, axis=1, keepdims=True)
    dim = init.shape[1]
    dsub = dim // n_subspaces
    books = np.stack(
        [init[:, s * dsub : (s + 1) * dsub] for s in range(n_subspaces)]
    )

    part_schema = T.StructType(
        [
            T.StructField("quant", T.IntegerType()),
            T.StructField("sub", T.IntegerType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("psum", T.DoubleType()),
            T.StructField("pcnt", T.LongType()),
        ]
    )

    for _ in range(iters):
        cmat, B = cents, books

        def _partials(batches):
            import pandas as pd

            for pdf in batches:
                if pdf.empty:
                    continue
                m = np.array(list(pdf["embedding"]), dtype=np.float64)
                mn = m / np.linalg.norm(m, axis=1, keepdims=True)
                frames = []
                # coarse: cosine assignment, raw-vector sums
                cell = np.argmax(mn @ cmat.T, axis=1)
                sums = np.zeros((cmat.shape[0], dim))
                np.add.at(sums, cell, m)
                cnts = np.bincount(cell, minlength=cmat.shape[0])
                nz = np.nonzero(cnts)[0]
                frames.append(
                    pd.DataFrame(
                        {
                            "quant": np.zeros(len(nz) * dim, dtype=np.int32),
                            "sub": np.zeros(len(nz) * dim, dtype=np.int32),
                            "cell": np.repeat(nz, dim).astype(np.int32),
                            "pos": np.tile(np.arange(dim, dtype=np.int32), len(nz)),
                            "psum": sums[nz].ravel(),
                            "pcnt": np.repeat(cnts[nz], dim).astype(np.int64),
                        }
                    )
                )
                # PQ: per-subspace L2 assignment over normalized vectors
                for s in range(n_subspaces):
                    Xs = mn[:, s * dsub : (s + 1) * dsub]
                    d2 = ((Xs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
                    pcell = np.argmin(d2, axis=1)
                    psums = np.zeros((pq_cells, dsub))
                    np.add.at(psums, pcell, Xs)
                    pcnts = np.bincount(pcell, minlength=pq_cells)
                    pnz = np.nonzero(pcnts)[0]
                    frames.append(
                        pd.DataFrame(
                            {
                                "quant": np.ones(len(pnz) * dsub, dtype=np.int32),
                                "sub": np.full(len(pnz) * dsub, s, dtype=np.int32),
                                "cell": np.repeat(pnz, dsub).astype(np.int32),
                                "pos": np.tile(np.arange(dsub, dtype=np.int32), len(pnz)),
                                "psum": psums[pnz].ravel(),
                                "pcnt": np.repeat(pcnts[pnz], dsub).astype(np.int64),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True)

        agg = (
            emb.select("vec_id", "embedding")
            .mapInPandas(_partials, schema=part_schema)
            .groupBy("quant", "sub", "cell", "pos")
            .agg(F.sum("psum").alias("s"), F.sum("pcnt").alias("n"))
            .collect()
        )
        new_c, new_b = cents.copy(), books.copy()
        for r in agg:
            if r.quant == 0:
                new_c[r.cell, r.pos] = r.s / r.n
            else:
                new_b[r.sub, r.cell, r.pos] = r.s / r.n
        norms = np.linalg.norm(new_c, axis=1, keepdims=True)
        cents = new_c / np.where(norms == 0, 1.0, norms)
        books = new_b
    return cents, books


def _ivfpq_index_rows(corpus: DataFrame, cents, books) -> DataFrame:
    """Build the serving index (vec_id, cell, codes) in ONE Arrow pass:
    coarse cell assignment + packed PQ codes together, replacing the
    assign-join-assign shape (two passes + an equi-join)."""
    import numpy as np

    cmat = np.asarray(cents, dtype=np.float64)
    n_sub, _, dsub = books.shape
    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cell", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def _build(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            cell = np.argmax(mn @ cmat.T, axis=1)
            codes = np.empty((len(mn), n_sub), dtype=np.int32)
            for s in range(n_sub):
                Xs = mn[:, s * dsub : (s + 1) * dsub]
                d2 = ((Xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                    "cell": cell.astype(np.int32),
                    "codes": list(codes),
                }
            )

    return corpus.select("vec_id", "embedding").mapInPandas(_build, schema=out_schema)


def knn_ivfpq(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    nprobe: int = 8,
    n_cells: int = 16,
    n_subspaces: int = 16,
    pq_cells: int = 16,
    iters: int = 3,
    rerank: int = 20,
) -> DataFrame:
    """The full ANN index stack: IVF coarse cells (sampled k-means)
    restrict the scan to nprobe probe lists, PQ codes + an ADC
    (asymmetric distance computation) lookup table score candidates
    without touching the original vectors, and the top ``rerank·k``
    ADC candidates per query are RE-RANKED with exact cosine against
    their original vectors — the FAISS-style
    IVF{n_cells},PQ{n_subspaces} + refine serving shape used in
    production (ADC is the cheap coarse filter; the refine step reads
    only C = rerank·k full vectors per query, so its cost is O(C·d)
    per query regardless of corpus size).

    Scale: the index is (vec_id, cell, codes[S]) — S bytes-ish per
    vector instead of 4·d — built in ONE fused Arrow pass (cell
    assignment + packed codes together; training likewise fuses both
    quantizers per iteration, see ``_train_ivfpq_codebooks``); queries carry a
    tiny S×k lookup table each (inner products of the normalized query
    subvectors against the codebooks, computed inside the Arrow batch
    from the broadcast-joined query vector), so candidate scoring is
    ONE np.take + sum per batch, no original-vector reads. The refine
    join broadcasts the (n_queries·C)-row candidate list against the
    corpus — an equi-join on vec_id, no corpus shuffle. Approximate on
    two axes (probe subset + quantization), so rows-only; the recall
    test pins quality vs brute force. With re-rank, recall is bounded
    only by candidate-set membership (IVF probe subset + ADC top-C),
    not by quantization error in the final ordering. Codebooks train
    normalized (``normalize=True``) to match the normalized encoding
    in ``pq_assign_packed`` — train/serve distribution mismatch
    collapses code diversity. Set ``rerank=0`` to serve raw ADC
    scores (pure memory-bound shape, no original-vector reads).
    Measured on the synthetic RANDOM corpus (PQ's worst case — i.i.d.
    dimensions give quantization nothing to exploit): defaults reach
    recall@5 = 0.82, vs the 0.80 IVF-Flat nprobe=8 probe ceiling;
    rerank=0 gives 0.74 (16×4) / 0.82 (32×4)."""
    import numpy as np

    cents, books = _train_ivfpq_codebooks(
        emb, n_cells=n_cells, n_subspaces=n_subspaces, pq_cells=pq_cells, iters=iters
    )

    corpus = emb.filter(F.col("vec_id") >= n_queries)
    index = _ivfpq_index_rows(corpus, cents, books)
    queries = emb.filter(F.col("vec_id") < n_queries)
    q_cells = assign_cells(queries, cents, top=nprobe).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    q_vecs = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    joined = index.join(
        F.broadcast(q_cells.join(q_vecs, "query_id")), "cell"
    ).select("query_id", "q", F.col("vec_id").alias("neighbor_id"), "codes")

    n_sub, _, dsub = books.shape
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("adc_score", T.DoubleType()),
        ]
    )

    def _adc(batches):
        import pandas as pd

        luts: dict[int, np.ndarray] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            out_q, out_n, out_s = [], [], []
            for qid, grp in pdf.groupby("query_id"):
                lut = luts.get(qid)
                if lut is None:
                    qv = np.asarray(grp["q"].iloc[0], dtype=np.float64)
                    qv /= np.linalg.norm(qv)
                    # lut[s, c] = <q_s, codebook[s][c]>
                    lut = np.stack(
                        [
                            books[s] @ qv[s * dsub : (s + 1) * dsub]
                            for s in range(n_sub)
                        ]
                    )
                    luts[qid] = lut
                codes = np.array(list(grp["codes"]), dtype=np.int64)  # (m, S)
                scores = lut[np.arange(n_sub)[None, :], codes].sum(axis=1)
                out_q.append(np.full(len(codes), qid, dtype=np.int64))
                out_n.append(grp["neighbor_id"].to_numpy(dtype=np.int64))
                out_s.append(np.round(scores, 6))
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_score": np.concatenate(out_s),
                }
            )

    scored = joined.mapInPandas(_adc, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_score"), F.asc("neighbor_id")
    )
    if not rerank:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_score", "rank")
        )
    # refine: exact cosine over the top rerank·k ADC candidates only.
    # The candidate list is n_queries·rerank·k rows — broadcast it so
    # the corpus-side vector fetch is a broadcast hash join, never a
    # corpus shuffle.
    cand = F.broadcast(
        scored.withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= rerank * k)
        .select("query_id", "neighbor_id", "adc_score")
    )
    nvec = _with_norm(emb, "neighbor_id", "c", "cn")
    qvec = F.broadcast(
        _with_norm(emb.filter(F.col("vec_id") < n_queries), "query_id", "qv", "qn")
    )
    exact = (
        nvec.join(cand, "neighbor_id")
        .join(qvec, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_score",
            F.round(
                _dot(F.col("qv"), F.col("c")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_score", "cosine", "rank")
    )


TRUNC_DIM = 16


def prefix_truncate(emb: DataFrame, dim: int = TRUNC_DIM) -> DataFrame:
    """Matryoshka-style prefix truncation: keep the first ``dim``
    components and L2-renormalize — the cheap-serving trick for
    MRL-trained embeddings (coarse search on the prefix, full-dim
    rescoring of survivors). Shuffle-free map-side projection; the
    renormalized components are rounded to 6 dp on both engines so the
    array value-hash is stable."""
    sliced = F.slice(
        F.transform(F.col("embedding"), lambda x: x.cast("double")), 1, dim
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform(sliced, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return emb.select(
        "vec_id",
        F.lit(dim).alias("dim"),
        F.round(nrm, 6).alias("prefix_norm"),
        F.transform(sliced, lambda x: F.round(x / nrm, 6)).alias("unit_prefix"),
    ).orderBy("vec_id")


def prefix_truncate_long(emb: DataFrame, dim: int = TRUNC_DIM) -> DataFrame:
    """Driver-hashable shape of ``prefix_truncate``: one row per
    (vec_id, pos) instead of an array column. Array-typed outputs are
    unsortable/unhashable in the harness canonicalizer (pandas raises
    ``TypeError: unhashable type: 'numpy.ndarray'``), so the registered
    query emits long format; the array form stays available for
    programmatic use. Still a shuffle-free map (posexplode is a
    generator, not an exchange)."""
    return (
        prefix_truncate(emb, dim)
        .select(
            "vec_id",
            F.lit(dim).cast("long").alias("dim"),
            "prefix_norm",
            F.posexplode("unit_prefix").alias("pos", "value"),
        )
        .select(
            "vec_id",
            "dim",
            "prefix_norm",
            F.col("pos").cast("long").alias("pos"),
            "value",
        )
        .orderBy("vec_id", "pos")
    )


PREFIX_TRUNCATE_LONG_SQL = f"""
WITH t AS (
  SELECT vec_id,
         list_transform(embedding[1:{TRUNC_DIM}], x -> CAST(x AS DOUBLE)) AS p
  FROM embeddings
),
n AS (SELECT vec_id, p, sqrt(list_sum(list_transform(p, x -> x * x))) AS nrm FROM t)
SELECT vec_id,
       CAST({TRUNC_DIM} AS BIGINT) AS dim,
       ROUND(nrm, 6) AS prefix_norm,
       CAST(generate_subscripts(p, 1) - 1 AS BIGINT) AS pos,
       ROUND(unnest(p) / nrm, 6) AS value
FROM n
ORDER BY vec_id, pos
""".strip()


def semantic_dedup_keeper(
    emb: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Semantic dedup end-to-end over the embedding space: exact
    cosine near-dup pairs (block-pair equi-join) → connected components
    (shared hash-min ``label_propagation``) → keeper = the minimum
    vec_id per component. Because hash-min converges to exactly that
    minimum, the component label IS the keeper id — no extra window.
    Oracle replays the pair SQL + recursive reachability CTE."""
    from .dedup import label_propagation

    if pairs is None:
        pairs = embedding_neardup(emb, threshold)
    pairs = pairs.select("a_id", "b_id")
    labels = label_propagation(
        emb.select(F.col("vec_id").alias("node_id")), pairs
    )
    return labels.select(
        F.col("node_id").alias("vec_id"),
        "component",
        (F.col("node_id") == F.col("component")).alias("is_keeper"),
    ).orderBy("vec_id")


SEMANTIC_DEDUP_KEEPER_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT a_id, b_id FROM ({EMBEDDING_NEARDUP_SQL}) q
),
edges AS (
  SELECT a_id AS a, b_id AS b FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS vec_id, MIN(lbl) AS component,
       node = MIN(lbl) AS is_keeper
FROM reach
GROUP BY node
ORDER BY vec_id
""".strip()


DIM_STATS_SCALE = 1_000_000


def dim_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension corpus statistics (mean/std/min/max) — the
    feature-scaling pass that precedes whitening, scalar quantization
    ranges, or PQ subspace balancing.

    Exactness across engines: floating sums are order-dependent, so a
    naive AVG over a shuffled corpus is not reproducible bit-for-bit.
    Elements are instead quantized to exact integer microunits with
    FLOOR(v·10⁶) — multiply and floor are deterministic IEEE ops, no
    round-half ties — summed exactly as BIGINT, and the moments are
    derived from those integer sums with an identical double expression
    tree on both engines. min/max are pure selection over exact values.
    One posexplode + one hash aggregation on the dimension key: ~d
    groups, map-side partials, no window, no skew (every vector
    contributes to every dimension uniformly). BIGINT q² sums bound:
    |v| ≤ 21 up to ~2×10¹⁰ rows; swap to DECIMAL accumulators past
    that."""
    q = F.floor(
        F.col("v").cast("double") * F.lit(float(DIM_STATS_SCALE))
    ).cast("bigint")
    n = F.count("*")
    s1 = F.sum(F.col("q"))
    s2 = F.sum(F.col("q") * F.col("q"))
    mean_q = s1.cast("double") / n
    var_q = (s2.cast("double") - s1.cast("double") * s1.cast("double") / n) / (
        n - F.lit(1)
    )
    return (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .select("dim", F.col("v").cast("double").alias("v"), q.alias("q"))
        .groupBy("dim")
        .agg(
            n.cast("bigint").alias("n_vecs"),
            (mean_q / DIM_STATS_SCALE).alias("mean_v"),
            (F.sqrt(var_q) / DIM_STATS_SCALE).alias("std_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("dim")
    )


DIM_STATS_SQL = f"""
WITH x AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
qx AS (
  SELECT dim, v, CAST(FLOOR(v * {DIM_STATS_SCALE}.0) AS BIGINT) AS q FROM x
)
SELECT CAST(dim AS INT) AS dim,
       COUNT(*) AS n_vecs,
       (CAST(SUM(q) AS DOUBLE) / COUNT(*)) / {DIM_STATS_SCALE} AS mean_v,
       sqrt((CAST(SUM(q * q) AS DOUBLE)
             - CAST(SUM(q) AS DOUBLE) * CAST(SUM(q) AS DOUBLE) / COUNT(*))
            / (COUNT(*) - 1)) / {DIM_STATS_SCALE} AS std_v,
       MIN(v) AS min_v,
       MAX(v) AS max_v
FROM qx
GROUP BY dim
ORDER BY dim
""".strip()


PREFIX_FILTER_THRESHOLD = 0.1


def embedding_neardup_prefix(
    emb: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    prefix_dim: int = TRUNC_DIM,
    prefix_threshold: float = PREFIX_FILTER_THRESHOLD,
    n_blocks: int = 8,
) -> DataFrame:
    """Two-stage near-dup: a CHEAP Matryoshka-prefix cosine filter
    (first ``prefix_dim`` components) gates the expensive full-dim
    verify — the coarse-then-refine serving trick for MRL-trained
    embeddings, applied to the pair join. Rejected pairs cost a
    prefix_dim-element fold instead of the full d-element one, and with
    MRL embeddings (information front-loaded) the prefix filter is
    nearly lossless.

    Unlike SRP-LSH, the filter is a DETERMINISTIC pure function of the
    vectors, so the whole two-stage result is SQL-expressible and the
    operator is value-hash oracle-checked even though it is recall-
    approximate vs ``embedding_neardup`` (on the synthetic RANDOM
    corpus — no MRL structure, the worst case — a unit test pins
    measured recall). Same block-pair equi-join decomposition as the
    exact twin: O(n²) pair flow, hash-join groups, no BNLJ, no
    broadcast corpus."""
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(
        F.col("vec_id").alias("id"),
        vec_d.alias("v"),
        _norm(F.col("embedding")).alias("nrm"),
        F.slice(vec_d, 1, prefix_dim).alias("pv"),
        _norm(F.slice(vec_d, 1, prefix_dim)).alias("pn"),
    ).withColumn(
        "g", F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    )
    # NARROW sides through the quadratic join (round-5 measured ~1.4×):
    # only ids + the prefix slice flow through the O(n²) pair stream;
    # the full vectors rejoin on id for the (few) prefix survivors, so
    # the wide 64-dim arrays never replicate G+1 ways or materialize
    # per-pair. The prefix cosine itself uses the same codegen
    # posexplode + hash-agg shape as ``embedding_neardup`` (bit-
    # identical to the sequential fold — see the comment there).
    left = base.select(
        F.col("id").alias("l_id"),
        F.col("pv").alias("lpv"),
        F.col("pn").alias("lpn"),
        F.col("g").alias("p"),
        F.explode(F.sequence(F.col("g"), F.lit(n_blocks - 1))).alias("q"),
    )
    right = base.select(
        F.col("id").alias("r_id"),
        F.col("pv").alias("rpv"),
        F.col("pn").alias("rpn"),
        F.explode(F.sequence(F.lit(0), F.col("g"))).alias("p"),
        F.col("g").alias("q"),
    )
    n_groups = n_blocks * (n_blocks + 1) // 2
    left = left.repartition(n_groups, "p", "q")
    pairs = left.join(right, ["p", "q"]).filter(
        (F.col("p") != F.col("q")) | (F.col("l_id") < F.col("r_id"))
    )
    pex = pairs.select(
        F.least("l_id", "r_id").alias("a_id"),
        F.greatest("l_id", "r_id").alias("b_id"),
        "lpn",
        "rpn",
        F.posexplode(F.arrays_zip("lpv", "rpv")).alias("pos", "z"),
    ).select(
        "a_id", "b_id", "lpn", "rpn", (F.col("z.lpv") * F.col("z.rpv")).alias("prod")
    )
    survivors = (
        pex.groupBy("a_id", "b_id", "lpn", "rpn")
        .agg(F.sum("prod").alias("pdot"))
        .select(
            "a_id",
            "b_id",
            F.round(F.col("pdot") / (F.col("lpn") * F.col("rpn")), 6).alias(
                "prefix_cosine"
            ),
        )
        .filter(F.col("prefix_cosine") >= prefix_threshold)
    )
    av = base.select(
        F.col("id").alias("a_id"), F.col("v").alias("lv"), F.col("nrm").alias("ln_")
    )
    bv = base.select(
        F.col("id").alias("b_id"), F.col("v").alias("rv"), F.col("nrm").alias("rn")
    )
    scored = (
        survivors.join(av, "a_id")
        .join(bv, "b_id")
        .select(
            "a_id",
            "b_id",
            "prefix_cosine",
            F.round(
                _dot(F.col("lv"), F.col("rv")) / (F.col("ln_") * F.col("rn")), 6
            ).alias("cosine"),
        )
    )
    return scored.filter(F.col("cosine") >= threshold).orderBy("a_id", "b_id")


EMBEDDING_NEARDUP_PREFIX_SQL = f"""
SELECT a_id, b_id, prefix_cosine, cosine
FROM (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         ROUND(list_cosine_similarity(
             list_slice(CAST(a.embedding AS DOUBLE[]), 1, {TRUNC_DIM}),
             list_slice(CAST(b.embedding AS DOUBLE[]), 1, {TRUNC_DIM})), 6)
           AS prefix_cosine,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
WHERE prefix_cosine >= {PREFIX_FILTER_THRESHOLD} AND cosine >= {NEARDUP_THRESHOLD}
ORDER BY a_id, b_id
""".strip()


def whiten(emb: DataFrame) -> DataFrame:
    """Per-dimension standardization (whitening without rotation):
    element i becomes (v_i − mean_i)/std_i, rounded to 6 dp — the
    preprocessing step before scalar quantization or PQ subspace
    balancing when dimensions have unequal spread.

    Scale: the stats come from ``dim_stats`` (one posexplode
    aggregation) and collapse to d rows — a BOUNDED driver collect
    (same class as the k×d centroid collects) shipped back as literal
    arrays, so the transform itself is a pure map over the corpus
    with a two-arg ``transform`` lambda (no join, no shuffle, no
    per-row Python). Zero-variance dimensions map to NULL (NULLIF
    semantics, mirrored in the oracle) rather than ±inf."""
    stats = sorted(
        dim_stats(emb).select("dim", "mean_v", "std_v").collect(),
        key=lambda r: r.dim,
    )
    means = F.array(*[F.lit(float(r.mean_v)) for r in stats])
    stds = F.array(
        *[
            # std_v is None on a single-vector corpus (sample variance
            # divides by n-1 = 0) — propagate NULL exactly like std_v == 0
            # (NULLIF semantics in the oracle).
            F.lit(None).cast("double") if not r.std_v else F.lit(float(r.std_v))
            for r in stats
        ]
    )
    w = F.transform(
        F.col("embedding"),
        lambda x, i: F.round(
            (x.cast("double") - F.element_at(means, i + 1))
            / F.element_at(stds, i + 1),
            6,
        ),
    )
    return emb.select("vec_id", w.alias("whitened")).orderBy("vec_id")


def whiten_long(emb: DataFrame) -> DataFrame:
    """Driver-hashable shape of ``whiten``: one row per (vec_id, pos).
    Same rationale as ``prefix_truncate_long`` — array columns crash
    the harness canonicalizer, so the registered query explodes the
    whitened vector; NULL elements (zero-variance dims) survive
    posexplode as NULL-valued rows on both engines."""
    return (
        whiten(emb)
        .select("vec_id", F.posexplode("whitened").alias("pos", "value"))
        .select("vec_id", F.col("pos").cast("long").alias("pos"), "value")
        .orderBy("vec_id", "pos")
    )


WHITEN_LONG_SQL = f"""
WITH stats AS ({DIM_STATS_SQL}),
x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)
SELECT vec_id,
       CAST(x.dim AS BIGINT) AS pos,
       ROUND((v - s.mean_v) / NULLIF(s.std_v, 0), 6) AS value
FROM x JOIN stats s ON s.dim = x.dim
ORDER BY vec_id, pos
""".strip()


MIPS_N_QUERIES = 10
MIPS_K = 5


def mips_topk(
    emb: DataFrame, n_queries: int = MIPS_N_QUERIES, k: int = MIPS_K
) -> DataFrame:
    """Exact top-k by maximum inner product (MIPS) — the retrieval
    scoring used when vector magnitude carries signal (recommendation
    two-tower scores, unnormalized text encoders), where cosine top-k
    gives a different ranking. Same broadcast-queries / scan-corpus
    shape as ``knn_bruteforce``; only the score expression differs.

    Scale: queries broadcast (n_queries × d floats), corpus scanned in
    place with no shuffle besides the per-query top-k window over
    n_queries partitions. The standard trick of reducing MIPS to cosine
    by augmenting a dimension (sqrt(M²−‖x‖²)) is an index-side
    transform; the exact scan is the oracle-checkable ground truth an
    IVF-MIPS variant would be measured against."""
    queries = F.broadcast(
        emb.filter(F.col("vec_id") < n_queries).select(
            F.col("vec_id").alias("query_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("q"),
        )
    )
    candidates = emb.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("c"),
    )
    scored = queries.crossJoin(candidates).select(
        "query_id",
        "neighbor_id",
        F.round(_dot(F.col("q"), F.col("c")), 6).alias("inner_product"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("inner_product"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "inner_product", "rank")
    )


# The oracle interpolates the SAME module constants the Python defaults
# use (ADVICE r4: hardcoded 10/5 literals silently desynchronized the
# twin whenever the defaults changed) — same pattern as TRIPLET_ANCHORS
# and PASSAGE_N.
MIPS_TOPK_SQL = f"""
SELECT query_id, neighbor_id, inner_product, CAST(rank AS INT) AS rank
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_inner_product(CAST(q.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[])), 6) AS inner_product,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(list_inner_product(CAST(q.embedding AS DOUBLE[]),
                                             CAST(c.embedding AS DOUBLE[])), 6) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings c
    ON c.vec_id >= {MIPS_N_QUERIES} AND q.vec_id < {MIPS_N_QUERIES}
)
WHERE rank <= {MIPS_K}
""".strip()


COV_SCALE = DIM_STATS_SCALE
PCA_COMPONENTS = 8


def dim_covariance(emb: DataFrame) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding dimensions in
    long (dim_i, dim_j, cov) form — the input to PCA / full-matrix
    whitening (``whiten`` standardizes per-dimension; the off-diagonal
    structure here is what rotation-based transforms consume).

    Exactness: same integer-microunit scheme as ``dim_stats`` — q =
    FLOOR(v·10⁶) per element, Σqᵢqⱼ and Σqᵢ summed exactly as BIGINT,
    covariance derived from the integer sums with one double expression
    tree on both engines, so the result hash-matches despite being a
    floating statistic. qᵢqⱼ ≤ ~4.4·10¹⁴ per term bounds exact BIGINT
    sums to ~2×10⁴ rows per |v| ≤ 21 — plenty for the registered check;
    past that swap the accumulators to DECIMAL(38,0) (same plan shape).

    Scale: one shuffle co-partitions elements by vec_id for the
    self-join (d² = 4096 pair rows per vector, generated executor-side),
    then a hash aggregation onto d(d+1)/2 = 2080 keys with map-side
    partials — output is O(d²), corpus-size-independent. The
    Arrow-batched XᵀX partial-matrix pass (see ``kmeans_centroids``) is
    the same computation without the d² row blow-up; this formulation is
    the hash-exact, oracle-checkable twin."""
    q = F.floor(F.col("v").cast("double") * F.lit(float(COV_SCALE))).cast(
        "bigint"
    )
    elems = (
        emb.select("vec_id", F.posexplode("embedding").alias("dim", "v"))
        .select("vec_id", "dim", q.alias("q"))
        .repartition("vec_id")
    )
    a, b = elems.alias("a"), elems.alias("b")
    pairs = a.join(
        b,
        (F.col("a.vec_id") == F.col("b.vec_id"))
        & (F.col("a.dim") <= F.col("b.dim")),
    ).select(
        F.col("a.dim").alias("dim_i"),
        F.col("b.dim").alias("dim_j"),
        F.col("a.q").alias("qi"),
        F.col("b.q").alias("qj"),
    )
    n = F.count("*")
    sij = F.sum(F.col("qi") * F.col("qj")).cast("double")
    si = F.sum("qi").cast("double")
    sj = F.sum("qj").cast("double")
    cov = (sij - si * sj / n) / (n - F.lit(1)) / F.lit(float(COV_SCALE) ** 2)
    return (
        pairs.groupBy("dim_i", "dim_j")
        .agg(
            n.cast("bigint").alias("n_vecs"),
            F.round(cov, 10).alias("cov"),
        )
        .orderBy("dim_i", "dim_j")
    )


DIM_COVARIANCE_SQL = f"""
WITH x AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {COV_SCALE}.0) AS BIGINT) AS q
  FROM embeddings
)
SELECT a.dim AS dim_i, b.dim AS dim_j,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND((CAST(SUM(a.q * b.q) AS DOUBLE)
              - CAST(SUM(a.q) AS DOUBLE) * CAST(SUM(b.q) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1) / {float(COV_SCALE) ** 2}, 10) AS cov
FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim <= b.dim
GROUP BY a.dim, b.dim
ORDER BY dim_i, dim_j
""".strip()


def pca_project(emb: DataFrame, n_components: int = PCA_COMPONENTS) -> DataFrame:
    """Project embeddings onto the corpus's top principal components,
    long (vec_id, pc, score) output — the dimensionality-reduction pass
    before a cheaper ANN index or a 2-D corpus map.

    Rows-only by construction: the eigendecomposition is not
    SQL-expressible, so the driver check is row-count only; the
    semantics are pinned by pytest instead (component variance ordering
    matches the eigenvalues, scores are centered, reconstruction error
    shrinks as components are added — ``tests/test_curation.py``).

    Scale: the covariance moments come from ONE Arrow map pass — each
    batch emits its partial integer XᵀX in long form (the fused-pass
    shape ``kmeans_centroids`` uses), at most d²+d+1 rows per batch, so
    the corpus is read once with no d²-row blow-up and no shuffle
    beyond a (d²)-key aggregation; the driver collect is d(d+1)/2+d+1
    rows — O(config), not O(data). Elements are quantized to the same
    integer microunits as ``dim_covariance``, so the moments are EXACT
    (bit-identical to the oracle-checked key's sums, partitioning-
    independent) — per-batch int64 partials bound: |q| ≤ 2·10⁷ and
    ≤ 10k rows/batch keeps Σqᵢqⱼ under 2⁶³; the Spark-side final SUM
    moves to DECIMAL(38,0) past ~10⁴ batches. The eigendecomposition is
    a d×d numpy ``eigh`` on the driver (d = 64 → microseconds);
    eigenvector sign is pinned (largest-|component| entry made
    positive) so the output is deterministic. The projection is a
    second Arrow map pass — (X − μ)·Wᵀ per batch in BLAS, emitted
    directly in long form — shuffle-free except the cosmetic final
    sort (the interpreted per-component HOF fold measured ~4× slower
    on this map-only shape)."""
    import numpy as np

    part_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("psum", T.LongType()),
        ]
    )

    def _moment_partials(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            q = np.floor(m * float(COV_SCALE)).astype(np.int64)
            s = q.T @ q  # (d, d) exact int64 partial
            lin = q.sum(axis=0)
            dd = q.shape[1]
            iu, ju = np.triu_indices(dd)
            out = pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.arange(dd), [-1]]),
                    "j": np.concatenate([ju, np.full(dd, -1), [-1]]),
                    "psum": np.concatenate(
                        [s[iu, ju], lin, [q.shape[0]]]
                    ),
                }
            )
            yield out

    moments = (
        emb.select("embedding")
        .mapInPandas(_moment_partials, schema=part_schema)
        .groupBy("i", "j")
        .agg(F.sum("psum").alias("s"))
        .collect()
    )
    sij: dict[tuple[int, int], int] = {}
    lin: dict[int, int] = {}
    n = 0
    for r in moments:
        if r.i == -1:
            n = int(r.s)
        elif r.j == -1:
            lin[r.i] = int(r.s)
        else:
            sij[(r.i, r.j)] = int(r.s)
    if not lin or n < 2:
        # Empty input (or a single row, where the n-1 covariance
        # denominator is undefined): return an empty frame of the
        # declared schema instead of letting max() over an empty
        # sequence throw an unrelated ValueError (ADVICE r4) —
        # degrade the way dim_covariance does.
        return emb.sparkSession.createDataFrame(
            [],
            schema="vec_id bigint, pc bigint, score double",
        )
    d = max(lin) + 1
    cmat = np.zeros((d, d))
    for (i, j), s in sij.items():
        # same expression tree as dim_covariance, from the same exact sums
        cov = (s - lin[i] * lin[j] / n) / (n - 1) / float(COV_SCALE) ** 2
        cmat[i, j] = cov
        cmat[j, i] = cov
    mean = np.array([lin[i] / n / float(COV_SCALE) for i in range(d)])
    evals, evecs = np.linalg.eigh(cmat)
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T  # (n_components, d)
    for k in range(comps.shape[0]):
        pivot = np.argmax(np.abs(comps[k]))
        if comps[k, pivot] < 0:
            comps[k] = -comps[k]

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("pc", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    w = comps  # closure-captured (n_components, d) — tiny, task-shipped
    mu = mean
    n_pc = comps.shape[0]

    def _project(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = np.array(list(pdf["embedding"]), dtype=np.float64)
            sc = np.round((m - mu) @ w.T, 6)  # (rows, n_pc) one GEMM
            ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(ids, n_pc),
                    "pc": np.tile(np.arange(n_pc, dtype=np.int64), len(ids)),
                    "score": sc.ravel(),
                }
            )

    return (
        emb.select("vec_id", "embedding")
        .mapInPandas(_project, schema=out_schema)
        .orderBy("vec_id", "pc")
    )


POWER_ITERS = 12  # shared with POWER_ITERATION_SQL — keep in sync
POWER_ROUND = 9  # per-step vector rounding that keeps both engines bit-equal


def power_iteration(
    emb: DataFrame, n_iter: int = POWER_ITERS, mat: DataFrame | None = None
) -> DataFrame:
    """Top principal component by POWER ITERATION, fully oracle-checked
    — the existence proof that iterative linear algebra is not outside
    the exact-verification perimeter (``pca_project``'s numpy ``eigh``
    is rows-only; this key pins the same PC1 against an unrolled
    recursive-free SQL twin). The covariance comes from the exact
    integer-microunit sums ``dim_covariance`` oracle-checks; the
    iterate v ← Cv/‖Cv‖ runs exactly ``n_iter`` times with EVERY step
    rounded to {POWER_ROUND} dp in both engines, so float summation
    order can never drift the trajectories apart: whatever the
    convergence state after n_iter steps, both engines hold the
    identical vector. Sign is pinned by making the largest-|loading|
    entry positive (ties → lowest dim). Output: one row per dimension
    with the PC1 loading, the Rayleigh-quotient eigenvalue, and its
    explained-variance share λ₁/trace(C).

    Scale: the only corpus-sized work is the covariance aggregation
    (O(d²) output, map-side partials); the iteration itself touches
    64-row frames — at 100 TB it is driver-trivial state computed from
    one pass, the same shape every distributed PCA takes. Here it stays
    declarative (12 unrolled broadcast-join/agg steps on d-row frames)
    so the HALF_UP rounding of both engines matches by construction."""
    if mat is None:
        # materialize the d²-row matrix once; localCheckpoint per step
        # truncates the iterate's lineage (the same discipline as
        # label_propagation — without it Catalyst re-analyzes a plan
        # that doubles per iteration and planning time explodes);
        # coalesce(1): these are d- and d²-row frames —
        # single-partition checkpoints keep the per-step block/file
        # count O(1) instead of O(shuffle.partitions) across the steps
        mat = _cov_full_matrix(emb).coalesce(1).localCheckpoint(eager=True)
    v, lam = _pc_once(mat, n_iter)
    tr = mat.filter(F.col("i") == F.col("j")).agg(F.sum("cov").alias("tr"))
    return (
        v.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(tr))
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.round("val", 6).alias("pc1_loading"),
            F.round("lam", 6).alias("eigenvalue"),
            F.round(F.col("lam") / F.col("tr"), 6).alias("explained_share"),
        )
        .orderBy("dim")
    )


def _cov_full_matrix(emb: DataFrame) -> DataFrame:
    """(i, j, cov) full-matrix mirror of ``dim_covariance``'s upper
    triangle — shared by ``power_iteration`` and ``pca_deflation``."""
    cov_ut = dim_covariance(emb).select("dim_i", "dim_j", "cov")
    return cov_ut.unionByName(
        cov_ut.filter(F.col("dim_i") < F.col("dim_j")).select(
            F.col("dim_j").alias("dim_i"),
            F.col("dim_i").alias("dim_j"),
            "cov",
        )
    ).select(F.col("dim_i").alias("i"), F.col("dim_j").alias("j"), "cov")


def _pc_once(mat: DataFrame, n_iter: int):
    """One power-iteration eigenpair on a (checkpointed) matrix frame:
    n_iter rounded steps from the uniform start, sign-pinned vector and
    the (unrounded) Rayleigh-quotient lambda as a 1-row frame."""
    d = F.broadcast(mat.agg((F.max("i") + 1).alias("d")))
    # v0: uniform unit vector 1/sqrt(d), rounded like every later step
    v = (
        mat.select("i")
        .distinct()
        .crossJoin(d)
        .select(
            F.col("i").alias("dim"),
            F.round(F.lit(1.0) / F.sqrt(F.col("d").cast("double")), POWER_ROUND).alias(
                "val"
            ),
        )
    )
    for it in range(n_iter):
        w = (
            mat.join(F.broadcast(v), mat.j == v.dim)
            .groupBy("i")
            .agg(F.sum(F.col("cov") * F.col("val")).alias("wv"))
        )
        nrm = w.agg(F.sqrt(F.sum(F.col("wv") * F.col("wv"))).alias("nrm"))
        v = w.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("dim"),
            F.round(F.col("wv") / F.col("nrm"), POWER_ROUND).alias("val"),
        )
        # checkpoint every 3rd step (and the last): each eager
        # checkpoint is a full job round-trip (~0.3 s of latency on
        # d-row frames — 12 of them dominated the key's bench time);
        # three un-truncated steps keep the lineage well inside
        # (every-6 measured 3x SLOWER: analysis cost doubles per
        # un-truncated step, swamping the saved job round-trips)
        # Catalyst's comfort zone
        if it % 3 == 2 or it == n_iter - 1:
            v = v.coalesce(1).localCheckpoint(eager=True)
    # sign pin: flip so the largest-|val| entry (tie -> lowest dim) is >= 0
    pivot = v.orderBy(F.abs(F.col("val")).desc(), F.col("dim").asc()).limit(1)
    sgn = pivot.select(
        F.when(F.col("val") < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("sgn")
    )
    v = v.crossJoin(F.broadcast(sgn)).select(
        "dim", (F.col("val") * F.col("sgn")).alias("val")
    )
    # Rayleigh quotient lambda = v'Cv (v is unit up to rounding)
    vc = mat.join(F.broadcast(v.select(F.col("dim").alias("j"), F.col("val").alias("vj"))), "j")
    lam = (
        vc.join(F.broadcast(v.select(F.col("dim").alias("i"), F.col("val").alias("vi"))), "i")
        .agg(F.sum(F.col("vi") * F.col("cov") * F.col("vj")).alias("lam"))
    )
    return v, lam


PCA_DEFLATE_COMPONENTS = 3
DEFLATE_LAM_ROUND = 12  # lambda rounding before the rank-1 subtraction
DEFLATE_MAT_ROUND = 10  # deflated-matrix re-rounding (same as cov's 10 dp)


def _round_half_up(x: float, nd: int) -> float:
    """Driver-side mirror of Spark's ROUND on DOUBLE: shortest-repr
    decimal (``repr`` ≡ Double.toString) quantized HALF_UP — the exact
    BigDecimal.valueOf(x).setScale(nd, HALF_UP) semantics, so a
    driver-local trajectory stays bit-equal to the declarative one."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    if x != x or x in (float("inf"), float("-inf")):
        return x
    # widen the context: quantizing a >1e28 magnitude at the default
    # 28-digit precision raises InvalidOperation, where BigDecimal's
    # setScale just keeps the integer part (hypothesis-found; the
    # trajectories this mirrors never leave |x| < 1e6, but the mirror
    # should not crash outside them either)
    with localcontext() as ctx:
        ctx.prec = 330  # > max double exponent digits + nd
        out = float(
            Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP)
        )
    # BigDecimal has no signed zero; Decimal keeps it (round(-1e-9) -> -0.0).
    return out + 0.0


def pca_deflation(
    emb: DataFrame,
    n_components: int = PCA_DEFLATE_COMPONENTS,
    n_iter: int = POWER_ITERS,
    mat: DataFrame | None = None,
) -> DataFrame:
    """Top-k principal components by power iteration + HOTELLING
    DEFLATION, fully oracle-checked. The corpus-sized work is ONE
    distributed covariance aggregation (exact integer-microunit sums,
    the ``dim_covariance`` oracle surface); the k·n_iter-step rounded
    trajectory then runs DRIVER-LOCAL over the collected d×d matrix —
    the Spark MLlib idiom (RowMatrix.computePrincipalComponents:
    distributed covariance, local eigensolve), and the round-8 fix for
    VERDICT r7 #5: the declarative unrolled chain spent ~7 s of its
    9 s in 14+ eager-checkpoint job round-trips on 64-row frames.
    ``power_iteration`` keeps the fully-declarative chain as the
    existence proof that the trajectory is expressible in-plan.

    Bit-compat contract (hashes unchanged): every step is ROUND(·,
    {POWER_ROUND}) with ``_round_half_up`` mirroring Spark's
    BigDecimal HALF_UP exactly; λ rounds to {DEFLATE_LAM_ROUND} dp
    before the rank-1 subtraction C ← ROUND(C − λ·v vᵀ,
    {DEFLATE_MAT_ROUND}); the sign pin (largest-|loading| entry
    positive, ties → lowest dim) and the v₀ = ROUND(1/√d) start are
    identical. Output: (component, dim) loadings with each
    component's Rayleigh eigenvalue and explained-variance share of
    the ORIGINAL trace; pytest cross-checks the spectrum against
    ``pca_project``'s numpy ``eigh`` on the same quantized covariance.

    Convergence caveat (stated, not hidden): the key's CONTRACT is the
    exact t-step trajectory; power iteration's distance to the true
    eigenvector after t steps scales as (λ₂/λ₁)^t, so on a
    near-isotropic corpus the reported components are
    partially-converged Rayleigh panels and their eigenvalues need
    not come out sorted. ``pca_project`` (numpy eigh) remains the
    production eigensolver.

    Scale: the collect is d² doubles — bounded by the embedding
    dimension, never the corpus (the same k×d driver-state contract
    as the kNN partials); at 100 TB the covariance aggregation is the
    only thing that grows."""
    import numpy as np

    spark = emb.sparkSession
    if mat is None:
        mat = _cov_full_matrix(emb)
    rows = mat.select("i", "j", "cov").collect()  # d² — dimension-bounded
    d = max(r["i"] for r in rows) + 1
    C = np.zeros((d, d), dtype=np.float64)
    for r in rows:
        C[r["i"], r["j"]] = r["cov"]
    tr = float(np.sum(np.diag(C)))
    out_rows = []
    for c in range(n_components):
        v = np.full(d, _round_half_up(1.0 / float(np.sqrt(d)), POWER_ROUND))
        for _ in range(n_iter):
            w = C @ v
            nrm = float(np.sqrt(np.sum(w * w)))
            v = np.array([_round_half_up(x / nrm, POWER_ROUND) for x in w])
        # sign pin: largest |val| (ties -> lowest dim) made positive
        pivot = max(range(d), key=lambda i: (abs(v[i]), -i))
        if v[pivot] < 0:
            v = -1.0 * v
        lam = float(v @ C @ v)
        lam_r = _round_half_up(lam, DEFLATE_LAM_ROUND)
        for dim in range(d):
            out_rows.append(
                (
                    c,
                    dim,
                    _round_half_up(float(v[dim]), 6),
                    _round_half_up(lam_r, 6),
                    _round_half_up(lam_r / tr, 6),
                )
            )
        if c < n_components - 1:
            R = C - lam_r * np.outer(v, v)
            C = np.array(
                [
                    [_round_half_up(float(x), DEFLATE_MAT_ROUND) for x in row]
                    for row in R
                ]
            )
    return spark.createDataFrame(
        out_rows,
        T.StructType(
            [
                T.StructField("component", T.IntegerType(), False),
                T.StructField("dim", T.IntegerType(), False),
                T.StructField("loading", T.DoubleType()),
                T.StructField("eigenvalue", T.DoubleType()),
                T.StructField("explained_share", T.DoubleType()),
            ]
        ),
    ).orderBy("component", "dim")


def _pca_deflation_sql() -> str:
    """Unrolled twin of ``pca_deflation``: per component, the same
    (w, n, v) MATERIALIZED chain as POWER_ITERATION_SQL plus a rank-1
    deflation CTE feeding the next component's chain."""
    parts = []
    for c in range(PCA_DEFLATE_COMPONENTS):
        m = f"mat{c}"
        p = f"c{c}"
        # v0 for this component
        parts.append(
            f"""v{p}_0 AS MATERIALIZED (
  SELECT DISTINCT i AS dim,
         ROUND(1.0 / SQRT(CAST(d AS DOUBLE)), {POWER_ROUND}) AS val
  FROM {m}, dd
)"""
        )
        for t in range(1, POWER_ITERS + 1):
            prev = f"v{p}_{t - 1}"
            parts.append(
                f"""w{p}_{t} AS MATERIALIZED (
  SELECT m.i AS dim, SUM(m.cov * v.val) AS wv
  FROM {m} m JOIN {prev} v ON m.j = v.dim GROUP BY m.i
),
n{p}_{t} AS MATERIALIZED (SELECT SQRT(SUM(wv * wv)) AS nrm FROM w{p}_{t}),
v{p}_{t} AS MATERIALIZED (
  SELECT dim, ROUND(wv / nrm, {POWER_ROUND}) AS val FROM w{p}_{t}, n{p}_{t}
)"""
            )
        last = f"v{p}_{POWER_ITERS}"
        parts.append(
            f"""sgn{p} AS MATERIALIZED (
  SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS sgn
  FROM {last} ORDER BY ABS(val) DESC, dim ASC LIMIT 1
),
vf{p} AS MATERIALIZED (SELECT dim, val * sgn AS val FROM {last}, sgn{p}),
lam{p} AS MATERIALIZED (
  SELECT ROUND(SUM(vi.val * m.cov * vj.val), {DEFLATE_LAM_ROUND}) AS lam
  FROM {m} m JOIN vf{p} vi ON m.i = vi.dim JOIN vf{p} vj ON m.j = vj.dim
)"""
        )
        if c < PCA_DEFLATE_COMPONENTS - 1:
            parts.append(
                f"""mat{c + 1} AS MATERIALIZED (
  SELECT m.i, m.j,
         ROUND(m.cov - l.lam * vi.val * vj.val, {DEFLATE_MAT_ROUND}) AS cov
  FROM {m} m
  JOIN vf{p} vi ON m.i = vi.dim
  JOIN vf{p} vj ON m.j = vj.dim
  CROSS JOIN lam{p} l
)"""
            )
    selects = "\nUNION ALL\n".join(
        f"""SELECT {c} AS component, vf.dim, vf.val, l.lam
FROM vfc{c} vf CROSS JOIN lamc{c} l"""
        for c in range(PCA_DEFLATE_COMPONENTS)
    )
    return f"""
WITH x AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {COV_SCALE}.0) AS BIGINT) AS q
  FROM embeddings
),
cov_ut AS MATERIALIZED (
  SELECT a.dim AS dim_i, b.dim AS dim_j,
         ROUND((CAST(SUM(a.q * b.q) AS DOUBLE)
                - CAST(SUM(a.q) AS DOUBLE) * CAST(SUM(b.q) AS DOUBLE) / COUNT(*))
               / (COUNT(*) - 1) / {float(COV_SCALE) ** 2}, 10) AS cov
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY a.dim, b.dim
),
mat0 AS MATERIALIZED (
  SELECT dim_i AS i, dim_j AS j, cov FROM cov_ut
  UNION ALL
  SELECT dim_j, dim_i, cov FROM cov_ut WHERE dim_i < dim_j
),
dd AS (SELECT MAX(i) + 1 AS d FROM mat0),
tr AS (SELECT SUM(cov) AS tr FROM mat0 WHERE i = j),
{",".join(parts)}
SELECT CAST(component AS INT) AS component, CAST(dim AS INT) AS dim,
       ROUND(val, 6) AS loading,
       ROUND(lam, 6) AS eigenvalue,
       ROUND(lam / tr.tr, 6) AS explained_share
FROM ({selects}) u CROSS JOIN tr
ORDER BY component, dim
""".strip()


PCA_DEFLATION_SQL = _pca_deflation_sql()


def _power_iteration_sql() -> str:
    """Unrolled-CTE twin of ``power_iteration`` — one (w, n, v) CTE
    triple per iteration, generated from the SAME module constants."""
    steps = []
    for t in range(1, POWER_ITERS + 1):
        prev = f"v{t - 1}"
        # AS MATERIALIZED: DuckDB inlines plain CTEs, and v{t}
        # references w{t} twice -> an un-materialized chain expands
        # 2^n_iter copies of the covariance scan (measured: FD
        # exhaustion before the first row)
        steps.append(
            f"""w{t} AS MATERIALIZED (
  SELECT m.i AS dim, SUM(m.cov * v.val) AS wv
  FROM mat m JOIN {prev} v ON m.j = v.dim GROUP BY m.i
),
n{t} AS MATERIALIZED (SELECT SQRT(SUM(wv * wv)) AS nrm FROM w{t}),
v{t} AS MATERIALIZED (
  SELECT dim, ROUND(wv / nrm, {POWER_ROUND}) AS val FROM w{t}, n{t}
)"""
        )
    last = f"v{POWER_ITERS}"
    return f"""
WITH x AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {COV_SCALE}.0) AS BIGINT) AS q
  FROM embeddings
),
cov_ut AS MATERIALIZED (
  SELECT a.dim AS dim_i, b.dim AS dim_j,
         ROUND((CAST(SUM(a.q * b.q) AS DOUBLE)
                - CAST(SUM(a.q) AS DOUBLE) * CAST(SUM(b.q) AS DOUBLE) / COUNT(*))
               / (COUNT(*) - 1) / {float(COV_SCALE) ** 2}, 10) AS cov
  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY a.dim, b.dim
),
mat AS MATERIALIZED (
  SELECT dim_i AS i, dim_j AS j, cov FROM cov_ut
  UNION ALL
  SELECT dim_j, dim_i, cov FROM cov_ut WHERE dim_i < dim_j
),
dd AS (SELECT MAX(i) + 1 AS d FROM mat),
v0 AS MATERIALIZED (
  SELECT DISTINCT i AS dim,
         ROUND(1.0 / SQRT(CAST(d AS DOUBLE)), {POWER_ROUND}) AS val
  FROM mat, dd
),
{",".join(steps)},
sgn AS (
  SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS sgn
  FROM {last} ORDER BY ABS(val) DESC, dim ASC LIMIT 1
),
vf AS (SELECT dim, val * sgn AS val FROM {last}, sgn),
lam AS (
  SELECT SUM(vi.val * m.cov * vj.val) AS lam
  FROM mat m JOIN vf vi ON m.i = vi.dim JOIN vf vj ON m.j = vj.dim
),
tr AS (SELECT SUM(cov) AS tr FROM mat WHERE i = j)
SELECT CAST(vf.dim AS INT) AS dim,
       ROUND(vf.val, 6) AS pc1_loading,
       ROUND(lam.lam, 6) AS eigenvalue,
       ROUND(lam.lam / tr.tr, 6) AS explained_share
FROM vf, lam, tr
ORDER BY dim
""".strip()


POWER_ITERATION_SQL = _power_iteration_sql()


TRIPLET_ANCHORS = 10


def triplet_mining(emb: DataFrame, n_anchors: int = TRIPLET_ANCHORS) -> DataFrame:
    """Hard-triplet mining for contrastive training: for each anchor
    (vec_id < n_anchors), the most-similar SAME-label vector (hardest
    positive would be the least similar — here we take the standard
    nearest positive) and the most-similar DIFFERENT-label vector (the
    hard negative), with the triplet margin positive−negative. Rows
    where the margin is small or negative are the pairs a contrastive
    fine-tune learns most from.

    Scale: same broadcast-anchors / scan-corpus shape as
    ``knn_bruteforce`` (anchors are index-config-sized); the per-anchor
    argmax runs as two rank windows over n_anchors partitions. Ties
    break by candidate id, so the mined triplets are deterministic and
    the whole operator oracle-checks."""
    vec_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    anchors = F.broadcast(
        emb.filter(F.col("vec_id") < n_anchors).select(
            F.col("vec_id").alias("anchor_id"),
            vec_d.alias("q"),
            _norm(F.col("embedding")).alias("qn"),
            F.col("label").alias("anchor_label"),
        )
    )
    cands = emb.filter(F.col("vec_id") >= n_anchors).select(
        F.col("vec_id").alias("cand_id"),
        vec_d.alias("c"),
        _norm(F.col("embedding")).alias("cn"),
        F.col("label").alias("cand_label"),
    )
    scored = anchors.crossJoin(cands).select(
        "anchor_id",
        "anchor_label",
        "cand_id",
        (F.col("cand_label") == F.col("anchor_label")).alias("same"),
        F.round(
            _dot(F.col("q"), F.col("c")) / (F.col("qn") * F.col("cn")), 6
        ).alias("cosine"),
    )
    w = Window.partitionBy("anchor_id", "same").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    best = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") == 1
    )
    pos = best.filter(F.col("same")).select(
        "anchor_id",
        F.col("cand_id").alias("pos_id"),
        F.col("cosine").alias("pos_cos"),
    )
    neg = best.filter(~F.col("same")).select(
        "anchor_id",
        F.col("cand_id").alias("neg_id"),
        F.col("cosine").alias("neg_cos"),
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id",
            "pos_id",
            "pos_cos",
            "neg_id",
            "neg_cos",
            F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
        )
        .orderBy("anchor_id")
    )


TRIPLET_MINING_SQL = f"""
WITH scored AS (
  SELECT a.vec_id AS anchor_id, c.vec_id AS cand_id,
         (c.label = a.label) AS same,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings a JOIN embeddings c
    ON a.vec_id < {TRIPLET_ANCHORS} AND c.vec_id >= {TRIPLET_ANCHORS}
),
best AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY anchor_id, same
           ORDER BY cosine DESC, cand_id ASC) AS rnk
  FROM scored
)
SELECT p.anchor_id,
       p.cand_id AS pos_id, p.cosine AS pos_cos,
       n.cand_id AS neg_id, n.cosine AS neg_cos,
       ROUND(p.cosine - n.cosine, 6) AS margin
FROM best p JOIN best n ON p.anchor_id = n.anchor_id
WHERE p.same AND p.rnk = 1 AND (NOT n.same) AND n.rnk = 1
ORDER BY p.anchor_id
""".strip()


def cell_purity(emb: DataFrame) -> DataFrame:
    """Coarse-quantizer quality panel: per-cell size, majority true
    label, and purity (majority share) over the pinned label-centroid
    assignment — the number that says whether the IVF partition is
    recall-friendly (pure cells ⇒ probing few cells finds the true
    neighbors). Composes the oracle-checked ``ivf_cell_assign`` with
    the stored labels, so the whole panel stays hash-exact.

    Scale: the assignment is the production Arrow kernel (bounded
    centroid collect); purity is two hash aggregations on (cell, label)
    / (cell) plus a per-cell top-1 window over |cells|·|labels| rows —
    O(config) after the assignment scan. Majority ties break to the
    smaller label on both engines."""
    assign = ivf_cell_assign(emb)
    joined = assign.join(emb.select("vec_id", "label"), "vec_id")
    per = joined.groupBy("cell_label", "label").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy("cell_label").orderBy(F.desc("n"), F.asc("label"))
    top = per.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    sizes = joined.groupBy("cell_label").agg(
        F.count("*").cast("bigint").alias("n_vecs")
    )
    return (
        top.join(sizes, "cell_label")
        .select(
            "cell_label",
            "n_vecs",
            F.col("label").cast("bigint").alias("majority_label"),
            F.round(F.col("n").cast("double") / F.col("n_vecs"), 6).alias(
                "purity"
            ),
        )
        .orderBy("cell_label")
    )


CELL_PURITY_SQL = f"""
WITH assign AS (
  {IVF_CELL_ASSIGN_SQL.replace("ORDER BY vec_id", "").rstrip()}
),
truth AS (
  SELECT a.vec_id, a.cell_label, e.label
  FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
),
per AS (
  SELECT cell_label, label, CAST(COUNT(*) AS BIGINT) AS n
  FROM truth GROUP BY cell_label, label
),
top AS (
  SELECT cell_label, label, n,
         ROW_NUMBER() OVER (PARTITION BY cell_label
                            ORDER BY n DESC, label ASC) AS rn
  FROM per
),
sizes AS (
  SELECT cell_label, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM truth GROUP BY cell_label
)
SELECT t.cell_label, s.n_vecs,
       CAST(t.label AS BIGINT) AS majority_label,
       ROUND(CAST(t.n AS DOUBLE) / s.n_vecs, 6) AS purity
FROM top t JOIN sizes s USING (cell_label)
WHERE t.rn = 1
ORDER BY cell_label
""".strip()


def kmeans_update(emb: DataFrame) -> DataFrame:
    """One exact Lloyd update of the IVF coarse quantizer: re-estimate
    every cell centroid as the per-dimension mean of its assigned
    vectors, starting from the PINNED label-centroid cells
    (``ivf_cell_assign``). With the assignment step already
    oracle-checked, this makes the full assign→update training round an
    exact, driver-verifiable component of the ANN path — k-means
    training IS this pair of operators iterated.

    Output is long (cell_label, pos, old_val, new_val, n_members):
    rounded old/new coordinates per dimension plus the cell population,
    so centroid drift and empty/starving cells are directly readable.

    Scale: the assignment reuses the Arrow kernel (corpus scanned once,
    centroids broadcast); the update is ONE posexplode hash aggregation
    keyed by (cell, pos) — cells × d groups regardless of corpus size,
    map-side partials collapsing the fan-out, exactly the
    ``label_centroids`` shape. The bounded centroid collect stays
    O(labels × d)."""
    assigned = ivf_cell_assign(emb)
    joined = assigned.join(emb.select("vec_id", "embedding"), "vec_id")
    exploded = joined.select(
        "cell_label", F.posexplode("embedding").alias("pos", "val")
    )
    new = exploded.groupBy("cell_label", "pos").agg(
        F.round(F.avg(F.col("val").cast("double")), 6).alias("new_val"),
    )
    old = label_centroids(emb).select(
        F.col("label").cast("bigint").alias("cell_label"),
        "pos",
        F.col("centroid_val").alias("old_val"),
    )
    members = assigned.groupBy("cell_label").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    return (
        new.join(old, ["cell_label", "pos"])
        .join(F.broadcast(members), "cell_label")
        .select(
            "cell_label",
            F.col("pos").cast("long").alias("pos"),
            "old_val",
            "new_val",
            "n_members",
        )
        .orderBy("cell_label", "pos")
    )


_ASSIGN_CTE = IVF_CELL_ASSIGN_SQL.rsplit("ORDER BY vec_id", 1)[0].replace(
    "SELECT vec_id, CAST(cell_label AS BIGINT) AS cell_label\nFROM ranked WHERE rn = 1",
    ", assigned AS (SELECT vec_id, CAST(cell_label AS BIGINT) AS cell_label\n"
    "               FROM ranked WHERE rn = 1)",
).replace("WITH cent AS", "cent AS")

KMEANS_UPDATE_SQL = f"""
WITH {_ASSIGN_CTE},
upd AS (
  SELECT a.cell_label, x.pos, ROUND(AVG(x.v), 6) AS new_val
  FROM assigned a JOIN x ON x.vec_id = a.vec_id
  GROUP BY a.cell_label, x.pos
),
members AS (
  SELECT cell_label, CAST(COUNT(*) AS BIGINT) AS n_members
  FROM assigned GROUP BY cell_label
)
SELECT u.cell_label,
       CAST(u.pos AS BIGINT) AS pos,
       c.centroid_val AS old_val,
       u.new_val,
       m.n_members
FROM upd u
JOIN cent c ON c.cell_label = u.cell_label AND c.pos = u.pos
JOIN members m ON m.cell_label = u.cell_label
ORDER BY u.cell_label, u.pos
""".strip()


def ann_recall_panel(
    emb: DataFrame,
    n_queries: int = NSW_N_QUERIES,
    k: int = 5,
    ivf: DataFrame | None = None,
    ivfpq: DataFrame | None = None,
    graph_beam: DataFrame | None = None,
    graph_pq: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the approximate retrieval paths against exact brute
    force, as a registered operator rather than an offline eval script:
    one row per (method, query) plus a 'mean' row per method, for IVF
    (learned cells), IVF-PQ (+ADC re-rank), and the graph-beam path
    (NSW-lite over the ``nsw_graph`` asset). This is the panel a
    serving deployment watches when it re-tunes nprobe/cells after a
    corpus shift — making it a first-class query means the same
    harness, caching, and plan audit cover it.

    Rows-only by construction (the approximate paths are seeded but not
    SQL-expressible); the recall floors themselves are pinned in pytest
    via tools/ann_eval.py's thresholds.

    Scale: ground truth is the broadcast-queries brute-force scan; each
    join is on (query_id, neighbor_id) over k·n_queries rows — the
    evaluation is O(config) once the retrieval DataFrames exist. The
    ``ivf``/``ivfpq`` params take the already-built retrieval frames
    (the registry injects its cached ``knn_ivf``/``knn_ivfpq`` session
    assets, VERDICT r9 #5) so the panel doesn't re-train both index
    structures — exactly how a deployment evaluates the SERVING index,
    not a fresh one.

    Plan shape (OPTIMIZATION r12): the panel used to inline the
    brute-force ``truth`` subtree at every reference (2× per leg) and
    each leg's ``per_q`` subtree twice (rows + mean), multiplying the
    executed plan to 204 Exchanges / 183 KB of formatted plan — the
    duplicated-subtree anti-pattern (guide §7.2). Now ``truth`` is
    localCheckpointed ONCE (k·n_queries rows — 50 at the registered
    params) and each leg derives its mean row from the SAME ``per_q``
    frame via ``rollup`` (the grand-total row is ``AVG`` over exactly
    the per-query recalls the old separate aggregate averaged, and the
    per-query rows re-round already-6-dp values — idempotent), so every
    subtree is planned and executed once.

    The four retrieval legs (and the ground-truth checkpoint) are
    INDEPENDENT until the final union, but the graph legs' construction
    runs eager per-round jobs — built sequentially they serialize ~10 s
    of query-sized stages that never fill the cluster. ``graph_beam``/
    ``graph_pq``/``ivf``/``ivfpq`` therefore also accept ZERO-ARG
    CALLABLES, evaluated concurrently on driver threads (guide §2.6:
    overlap independent jobs — the scheduler back-fills each leg's
    stragglers with the other legs' tasks). Results are identical by
    construction: each leg is deterministic and lands in the same
    union slot."""
    from concurrent.futures import ThreadPoolExecutor

    inherit = inheritable_thread_target(emb.sparkSession)
    with ThreadPoolExecutor(max_workers=5) as pool:
        f_truth = pool.submit(inherit(
            lambda: knn_bruteforce(emb, n_queries, k)
            .select("query_id", F.col("neighbor_id").alias("t_id"))
            .localCheckpoint(eager=True)
        ))
        legs_in = {
            "ivf": ivf if ivf is not None else (lambda: knn_ivf(emb, n_queries, k)),
            "ivfpq": ivfpq
            if ivfpq is not None
            else (lambda: knn_ivfpq(emb, n_queries, k)),
            "graph_beam": graph_beam
            if graph_beam is not None
            else (lambda: knn_graph_beam(emb, n_queries, k)),
            "graph_pq": graph_pq
            if graph_pq is not None
            else (lambda: knn_graph_beam_pq(emb, n_queries, k)),
        }
        futs = {
            name: pool.submit(inherit(df)) if callable(df) else None
            for name, df in legs_in.items()
        }
        legs_df = {
            name: futs[name].result() if futs[name] is not None else legs_in[name]
            for name in legs_in
        }
        truth = f_truth.result()

    def leg(name, df):
        hits = truth.alias("t").join(
            df.select("query_id", F.col("neighbor_id").alias("a_id")).alias("a"),
            (F.col("t.query_id") == F.col("a.query_id"))
            & (F.col("t.t_id") == F.col("a.a_id")),
        )
        per_q = (
            truth.groupBy("query_id")
            .agg(F.count("*").alias("n_truth"))
            .join(
                hits.groupBy(F.col("t.query_id").alias("query_id")).agg(
                    F.count("*").alias("n_hit")
                ),
                "query_id",
                "left",
            )
            .select(
                F.col("query_id").cast("string").alias("query"),
                F.round(
                    F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                    / F.col("n_truth"),
                    6,
                ).alias("recall_q"),
            )
        )
        # rollup: per-query rows (AVG over that query's single recall,
        # re-rounded — a no-op on 6-dp values) plus one NULL grand-total
        # row = AVG over all per-query recalls, the exact mean the old
        # second aggregate computed. One pass, one copy of per_q's plan.
        return per_q.rollup("query").agg(
            F.round(F.avg("recall_q"), 6).alias("recall_at_k")
        ).select(
            F.lit(name).alias("method"),
            F.coalesce(F.col("query"), F.lit("mean")).alias("query"),
            "recall_at_k",
        )

    # graph_pq (VERDICT r11 #8): the ADC-traversal leg in the panel, so
    # the serving deployment watches the compressed index's recall
    # beside the full-precision paths it might degrade from.
    ivf_leg = leg("ivf", legs_df["ivf"])
    ivfpq_leg = leg("ivfpq", legs_df["ivfpq"])
    graph_leg = leg("graph_beam", legs_df["graph_beam"])
    pq_leg = leg("graph_pq", legs_df["graph_pq"])
    return (
        ivf_leg.unionByName(ivfpq_leg)
        .unionByName(graph_leg)
        .unionByName(pq_leg)
        .orderBy("method", "query")
    )


INC_TOPK_BATCH_MOD = 5  # vec_id % 5 == 0 (and >= n_queries) is the new batch
INC_TOPK_N_QUERIES = 10  # shared with INCREMENTAL_TOPK_SQL below — keep in sync
INC_TOPK_K = 5


def incremental_topk(
    emb: DataFrame,
    n_queries: int = INC_TOPK_N_QUERIES,
    k: int = INC_TOPK_K,
    batch_mod: int = INC_TOPK_BATCH_MOD,
) -> DataFrame:
    """Incrementally-maintained exact top-k (the interactive-session
    pattern from the incremental top-k similarity-search literature):
    when a new corpus batch arrives, DON'T rescan the old corpus —
    merge the cached per-query top-k of the old corpus with scores
    against only the new batch, and re-rank. Exactness argument: any
    full-corpus top-k member from the old corpus must already be in
    the old top-k (scores don't change), and boundary ties resolve by
    the same (cosine DESC, id ASC) order in both stages, so the merge
    can never promote a dropped candidate. The ORACLE is the full
    recompute over old ∪ new — the driver hash-check IS the proof that
    incremental == from-scratch.

    Scale: the per-round cost is O(queries × new batch) + a k-sized
    merge per query, vs O(queries × corpus) for the rescan — the whole
    point when a 100 TB corpus grows by 0.1%/day. Batch membership is
    simulated deterministically (``vec_id % batch_mod == 0``), same
    convention as ``incremental_dedup``."""
    queries = F.broadcast(
        _with_norm(emb.filter(F.col("vec_id") < n_queries), "query_id", "q", "qn")
    )
    corpus = emb.filter(F.col("vec_id") >= n_queries)
    old = _with_norm(
        corpus.filter(F.col("vec_id") % batch_mod != 0), "neighbor_id", "c", "cn"
    )
    new = _with_norm(
        corpus.filter(F.col("vec_id") % batch_mod == 0), "neighbor_id", "c", "cn"
    )

    def _score(side):
        return queries.crossJoin(side).select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q"), F.col("c")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cosine"),
        )

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    old_topk = (
        _score(old)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )
    merged = old_topk.unionByName(_score(new))
    return (
        merged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
        .orderBy("query_id", "rank")
    )


INCREMENTAL_TOPK_SQL = f"""
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])), 6) DESC,
                    c.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings c
    ON c.vec_id >= {INC_TOPK_N_QUERIES} AND q.vec_id < {INC_TOPK_N_QUERIES}
)
WHERE rank <= {INC_TOPK_K}
ORDER BY query_id, rank
""".strip()


def label_centroid_sim(emb: DataFrame) -> DataFrame:
    """Inter-cluster geometry panel: the exact per-label centroid of
    the embedding corpus and the cosine similarity between every
    (unordered) pair of label centroids. High off-diagonal cells mean
    two labels occupy the same region — the signal that drives class
    merging, stratified-split design, and "is my labeling scheme
    separable" checks before training on the corpus.

    Determinism: centroid components are exact DECIMAL(28,12) sums of
    the float values (identical in any accumulation order, both
    engines) divided once; the k² pairwise cosine runs over ≤ |labels|²
    rows of 64 doubles, rounded to 6 dp. Scale: one map-side explode +
    (label, pos)-keyed aggregation — the corpus is read once; the pair
    matrix is index-config-sized (|labels| × dims doubles), nothing
    driver-side."""
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "val"),
    )
    cent = ex.groupBy("label", "pos").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("v")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "pos", F.col("v").alias("va")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "pos", F.col("v").alias("vb")
    )
    cell = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            # decimal partial sums: accumulation-order-proof in both engines
            F.sum((F.col("va") * F.col("vb")).cast("decimal(28,12)"))
            .cast("double")
            .alias("dot"),
            F.sum((F.col("va") * F.col("va")).cast("decimal(28,12)"))
            .cast("double")
            .alias("na"),
            F.sum((F.col("vb") * F.col("vb")).cast("decimal(28,12)"))
            .cast("double")
            .alias("nb"),
        )
    )
    return (
        cell.select(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
            F.round(
                F.col("dot") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 6
            ).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


LABEL_CENTROID_SIM_SQL = """
WITH ex AS (
  SELECT label, unnest(range(1, len(embedding) + 1)) AS i, embedding
  FROM embeddings
),
cent AS (
  SELECT label, i AS pos,
         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
           / COUNT(*) AS v
  FROM ex GROUP BY label, i
),
cell AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(CAST(a.v * b.v AS DECIMAL(28,12))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(a.v * a.v AS DECIMAL(28,12))) AS DOUBLE) AS na,
         CAST(SUM(CAST(b.v * b.v AS DECIMAL(28,12))) AS DOUBLE) AS nb
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT CAST(label_a AS INT) AS label_a, CAST(label_b AS INT) AS label_b,
       ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS centroid_cosine
FROM cell
ORDER BY label_a, label_b
""".strip()


OUTLIER_TOP = 50


def label_outlier_vectors(emb: DataFrame, top: int = OUTLIER_TOP) -> DataFrame:
    """Mislabeled/outlier-vector detector: every vector's Euclidean
    distance to its OWN label centroid, standardized within the label
    (z-score), worst ``top`` rows first. High-z vectors are the
    mislabels, corrupt rows, and genuine novelties a curation pass
    routes to review before the labels train anything — the embedding
    cousin of the value-MAD anomaly panel on events.

    Determinism: centroids, squared distances, and the per-label
    moment sums all accumulate in DECIMAL(28,12) (order-proof in both
    engines), with one double division/sqrt at each read-out and a
    6 dp round; ties rank by vec_id. Scale: two (label, pos)-keyed
    aggregations and one label-keyed moment aggregation — corpus read
    twice, nothing pair-wise, nothing driver-side."""
    ex = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("pos", "val")
    )
    cent = ex.groupBy("label", "pos").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("c")
    )
    d2 = (
        ex.join(cent, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (
                    (F.col("val").cast("double") - F.col("c"))
                    * (F.col("val").cast("double") - F.col("c"))
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("d2")
        )
        .select("vec_id", "label", F.sqrt("d2").alias("dist"))
    )
    stats = d2.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum(F.col("dist").cast("decimal(28,12)")).cast("double").alias("s1"),
        F.sum((F.col("dist") * F.col("dist")).cast("decimal(28,12)"))
        .cast("double")
        .alias("s2"),
    )
    mu = F.col("s1") / F.col("n")
    sd = F.sqrt(F.col("s2") / F.col("n") - mu * mu)
    z = (F.col("dist") - mu) / F.nullif(sd, F.lit(0.0))
    return (
        d2.join(stats, "label")
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.round("dist", 6).alias("dist"),
            F.round(z, 6).alias("z"),
        )
        .orderBy(F.desc("z"), "vec_id")
        .limit(top)
    )


LABEL_OUTLIER_VECTORS_SQL = f"""
WITH ex AS (
  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS i, embedding
  FROM embeddings
),
vals AS (
  SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val FROM ex
),
cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
  FROM vals GROUP BY label, pos
),
d2 AS (
  SELECT v.vec_id, v.label,
         SQRT(CAST(SUM(CAST((v.val - c.c) * (v.val - c.c) AS DECIMAL(28,12)))
                   AS DOUBLE)) AS dist
  FROM vals v JOIN cent c ON v.label = c.label AND v.pos = c.pos
  GROUP BY v.vec_id, v.label
),
stats AS (
  SELECT label, COUNT(*) AS n,
         CAST(SUM(CAST(dist AS DECIMAL(28,12))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(dist * dist AS DECIMAL(28,12))) AS DOUBLE) AS s2
  FROM d2 GROUP BY label
)
SELECT d.vec_id, CAST(d.label AS INT) AS label,
       ROUND(d.dist, 6) AS dist,
       ROUND((d.dist - s.s1 / s.n)
             / NULLIF(SQRT(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)), 0),
             6) AS z
FROM d2 d JOIN stats s ON d.label = s.label
ORDER BY z DESC NULLS LAST, d.vec_id
LIMIT {OUTLIER_TOP}
""".strip()


PROTO_PER_LABEL = 5


def label_prototypes(emb: DataFrame, per_label: int = PROTO_PER_LABEL) -> DataFrame:
    """Prototype selection: the ``per_label`` vectors closest to their
    own label centroid — the exemplars a dataset-distillation /
    few-shot / nearest-centroid-classifier pass keeps per class, and
    the qualitative "what does this cluster mean" sample a human
    reviews. The mirror image of ``label_outlier_vectors`` (same
    centroid + distance machinery, opposite tail), sharing its
    DECIMAL(28,12) accumulation so both engines rank identically.

    Scale: two (label, pos)-keyed aggregations and one label-keyed
    top-k window — fan-in per window partition is the label's
    population, never the corpus."""
    ex = emb.select(
        "vec_id", "label", F.posexplode(F.col("embedding")).alias("pos", "val")
    )
    cent = ex.groupBy("label", "pos").agg(
        (
            F.sum(F.col("val").cast("double").cast("decimal(28,12)")).cast("double")
            / F.count("*")
        ).alias("c")
    )
    d2 = (
        ex.join(cent, ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (
                    (F.col("val").cast("double") - F.col("c"))
                    * (F.col("val").cast("double") - F.col("c"))
                ).cast("decimal(28,12)")
            )
            .cast("double")
            .alias("d2")
        )
        .select("vec_id", "label", F.sqrt("d2").alias("dist"))
    )
    w = Window.partitionBy("label").orderBy("dist", "vec_id")
    return (
        d2.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= per_label)
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("r").cast("int").alias("rank"),
            "vec_id",
            F.round("dist", 6).alias("dist"),
        )
        .orderBy("label", "rank")
    )


LABEL_PROTOTYPES_SQL = f"""
WITH ex AS (
  SELECT vec_id, label, unnest(range(1, len(embedding) + 1)) AS i, embedding
  FROM embeddings
),
vals AS (
  SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS val FROM ex
),
cent AS (
  SELECT label, pos,
         CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
  FROM vals GROUP BY label, pos
),
d2 AS (
  SELECT v.vec_id, v.label,
         SQRT(CAST(SUM(CAST((v.val - c.c) * (v.val - c.c) AS DECIMAL(28,12)))
                   AS DOUBLE)) AS dist
  FROM vals v JOIN cent c ON v.label = c.label AND v.pos = c.pos
  GROUP BY v.vec_id, v.label
)
SELECT CAST(label AS INT) AS label, CAST(r AS INT) AS rank, vec_id,
       ROUND(dist, 6) AS dist
FROM (
  SELECT vec_id, label, dist,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY dist, vec_id) AS r
  FROM d2)
WHERE r <= {PROTO_PER_LABEL}
ORDER BY label, rank
""".strip()


def sign_codes(emb: DataFrame) -> DataFrame:
    """1-bit (sign) quantization of the embedding corpus: dimension i
    contributes bit 1 iff v_i > 0, packed into two BIGINT halves
    (lo = dims 0-31, hi = dims 32-63; 2^63 would overflow a signed
    64-bit in either engine, so the split is part of the contract).
    Sign codes are the cheapest vector compression that still supports
    hamming-approximate cosine (32× smaller than float32; popcount of
    XOR approximates angle for roughly-centered corpora) — the level
    below int8 SQ and PQ in the quantization ladder, and the natural
    prefilter bitmap to ship to every executor. ``n_pos_bits`` rides
    along as the per-vector balance check (skewed bit balance = a
    biased dimension, the thing that breaks sign-hamming quality).

    Scale: pure map — one explode + (vec_id)-keyed sum of shifted
    bits; no shuffle beyond the keyed aggregation, nothing pairwise."""
    ex = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("pos", "val")
    ).withColumn("bit", (F.col("val") > 0).cast("int"))
    packed = ex.groupBy("vec_id").agg(
        F.sum(
            F.when(
                F.col("pos") < 32,
                F.col("bit").cast("bigint") * F.pow(F.lit(2.0), F.col("pos")).cast("bigint"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("code_lo"),
        F.sum(
            F.when(
                F.col("pos") >= 32,
                F.col("bit").cast("bigint")
                * F.pow(F.lit(2.0), F.col("pos") - 32).cast("bigint"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("code_hi"),
        F.sum("bit").cast("bigint").alias("n_pos_bits"),
    )
    return packed.orderBy("vec_id")


SIGN_CODES_SQL = """
WITH ex AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i, embedding
  FROM embeddings
),
bits AS (
  SELECT vec_id, i - 1 AS pos,
         CASE WHEN CAST(embedding[i] AS DOUBLE) > 0 THEN 1 ELSE 0 END AS bit
  FROM ex
)
SELECT vec_id,
       CAST(SUM(CASE WHEN pos < 32
                     THEN CAST(bit AS BIGINT) * CAST(POWER(2, pos) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS code_lo,
       CAST(SUM(CASE WHEN pos >= 32
                     THEN CAST(bit AS BIGINT) * CAST(POWER(2, pos - 32) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS code_hi,
       CAST(SUM(bit) AS BIGINT) AS n_pos_bits
FROM bits
GROUP BY vec_id
ORDER BY vec_id
""".strip()


HAMCAL_SAMPLE_HEX = "1000"  # ~1/16 of pairs, same md5 governor as the histogram


def hamming_cosine_calibration(
    emb: DataFrame, sample_hex: str = HAMCAL_SAMPLE_HEX
) -> DataFrame:
    """Sign-code calibration panel: over a deterministic md5 sample of
    vector pairs, bucket by the HAMMING distance of their 1-bit sign
    codes and report the mean/min/max exact cosine per bucket — the
    evidence that says how much angular precision the 32× compression
    (``sign_codes``) actually buys on THIS corpus, i.e. which hamming
    radius a sign-bit prefilter can safely prune at. The quantization
    ladder's QA panel, playing the role ``minhash_error_panel`` plays
    for the MinHash sketch and ``ann_recall_panel`` for IVF.

    Scale: codes are map-side; the pair space is cut by the md5
    governor BEFORE any vector math (same predicate text in both
    engines, so the oracle hash-match survives at any rate); cosines
    ride the block-pair codegen dot; output is ≤ 65 bucket rows."""
    left, right = _block_pair_sides(emb, 8)
    n_groups = 8 * 9 // 2
    left = left.repartition(n_groups, "p", "q")
    pairs = left.join(right, ["p", "q"]).filter(
        (F.col("p") != F.col("q")) | (F.col("l_id") < F.col("r_id"))
    )
    sampled = pairs.select(
        F.least("l_id", "r_id").alias("a_id"),
        F.greatest("l_id", "r_id").alias("b_id"),
        "ln_",
        "rn",
        "lv",
        "rv",
    ).filter(
        F.substring(
            F.md5(
                F.concat_ws(
                    "_",
                    F.lit("hc"),
                    F.col("a_id").cast("string"),
                    F.col("b_id").cast("string"),
                )
            ),
            1,
            4,
        )
        < F.lit(sample_hex)
    )
    ex = sampled.select(
        "a_id", "b_id", "ln_", "rn",
        F.posexplode(F.arrays_zip("lv", "rv")).alias("pos", "z"),
    ).select(
        "a_id",
        "b_id",
        "ln_",
        "rn",
        "pos",
        (F.col("z.lv") * F.col("z.rv")).alias("prod"),
        ((F.col("z.lv") > 0) != (F.col("z.rv") > 0)).cast("int").alias("bitdiff"),
    )
    per_pair = ex.groupBy("a_id", "b_id", "ln_", "rn").agg(
        F.sum("prod").alias("dot"),
        F.sum("bitdiff").cast("int").alias("hamming"),
    ).select(
        "hamming",
        F.round(F.col("dot") / (F.col("ln_") * F.col("rn")), 6).alias("c"),
    )
    return (
        per_pair.groupBy("hamming")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            # mean over DECIMAL(10,6) copies of the rounded cosines:
            # exact in any accumulation order, so the engines agree
            F.round(
                F.avg(F.col("c").cast("decimal(10,6)")).cast("double"), 6
            ).alias("mean_cosine"),
            F.round(F.min("c"), 6).alias("min_cosine"),
            F.round(F.max("c"), 6).alias("max_cosine"),
        )
        .orderBy("hamming")
    )


HAMMING_COSINE_CALIBRATION_SQL = f"""
WITH pr AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         CAST(a.embedding AS DOUBLE[]) AS va, CAST(b.embedding AS DOUBLE[]) AS vb
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE substring(md5('hc_' || CAST(a.vec_id AS VARCHAR)
                      || '_' || CAST(b.vec_id AS VARCHAR)), 1, 4)
        < '{HAMCAL_SAMPLE_HEX}'
),
per_pair AS (
  SELECT CAST(len(list_filter(range(1, len(va) + 1),
                i -> (va[i] > 0) != (vb[i] > 0))) AS INT) AS hamming,
         ROUND(list_cosine_similarity(va, vb), 6) AS c
  FROM pr
)
SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(AVG(CAST(c AS DECIMAL(10,6))) AS DOUBLE), 6) AS mean_cosine,
       ROUND(MIN(c), 6) AS min_cosine,
       ROUND(MAX(c), 6) AS max_cosine
FROM per_pair
GROUP BY hamming
ORDER BY hamming
""".strip()


UNIT_NORM_TOL = 1e-3


def norm_stats(emb: DataFrame) -> DataFrame:
    """Embedding-norm QA panel, 1 row: min / median / max L2 norm and
    the fraction of vectors within ``UNIT_NORM_TOL`` of unit length.
    Answers two pre-indexing questions at a glance: is the corpus
    unit-normalized (then inner product IS cosine and every scoring
    kernel can drop the norm division), and are there broken rows
    (zeroed / double-scaled / truncated vectors shear min or max away
    from the pack). On the driver corpus: frac_unit = 1.0 — the
    dot-product fast path is safe, which is exactly what the IVF-PQ
    codebook normalization relies on.

    Scale: one map pass for norms, one scalar aggregation (the median
    is the only non-mergeable piece; swap for approx_percentile when
    one exact pass over a 1-double column is too much)."""
    norms = emb.select(_norm(F.col("embedding")).alias("nrm"))
    return norms.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.percentile(F.col("nrm"), F.lit(0.5)), 6).alias("median_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(
            F.avg(
                (F.abs(F.col("nrm") - 1.0) <= UNIT_NORM_TOL).cast("int")
            ),
            6,
        ).alias("frac_unit"),
    )


NORM_STATS_SQL = f"""
WITH norms AS (
  SELECT sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                      x -> x * x))) AS nrm
  FROM embeddings
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       ROUND(MIN(nrm), 6) AS min_norm,
       ROUND(quantile_cont(nrm, 0.5), 6) AS median_norm,
       ROUND(MAX(nrm), 6) AS max_norm,
       ROUND(AVG(CASE WHEN ABS(nrm - 1.0) <= {UNIT_NORM_TOL} THEN 1 ELSE 0 END), 6) AS frac_unit
FROM norms
""".strip()


DUPVEC_SCALE = 10**6


def exact_dup_vectors(emb: DataFrame) -> DataFrame:
    """Level-0 embedding dedup: groups of bit-identical vectors (up to
    6-dp microunits), reported as (keeper, group size) like the text
    and media checksum dedups — re-embedded re-crawls and copy-paste
    rows collapse here for free BEFORE any expensive near-dup pass.
    The fingerprint quantizes each component to integer microunits and
    md5s the joined string, so both engines hash identical bytes (raw
    float-to-string formatting differs between JVM and DuckDB; the
    integer detour removes that).

    Scale: map-side fingerprint, one hash aggregation. The 100 TB
    protocol is: run this first, then ``embedding_neardup`` on the
    keepers only."""
    fp = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * DUPVEC_SCALE).cast("bigint"),
            ),
        )
    )
    return (
        emb.select("vec_id", fp.alias("vec_fp"))
        .groupBy("vec_fp")
        .agg(
            F.min("vec_id").alias("keeper_vec_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .select("keeper_vec_id", "n_copies", "vec_fp")
        .orderBy("keeper_vec_id")
    )


EXACT_DUP_VECTORS_SQL = f"""
WITH fp AS (
  SELECT vec_id,
         md5(array_to_string(list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(floor(x * {DUPVEC_SCALE}) AS BIGINT)), ',')) AS vec_fp
  FROM embeddings
)
SELECT MIN(vec_id) AS keeper_vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       vec_fp
FROM fp GROUP BY vec_fp
ORDER BY keeper_vec_id
""".strip()


def cell_balance(emb: DataFrame) -> DataFrame:
    """Coarse-quantizer load panel, the probe-COST side of
    ``cell_purity``'s recall story: per-cell population, share of the
    corpus, and the cell's size ratio to the ideal uniform load —
    a max ratio near 1 means every probe costs about the same; a hot
    cell (ratio ≫ 1) is the IVF analogue of a skewed shuffle key and
    argues for splitting that cell (or more cells). Composes the
    oracle-checked assignment, so the panel stays hash-exact.

    Scale: one aggregation over the assignment output, one broadcast
    1-row total — O(cells) after the assignment scan."""
    assign = ivf_cell_assign(emb)
    sizes = assign.groupBy("cell_label").agg(
        F.count("*").cast("bigint").alias("n_vectors")
    )
    total = sizes.agg(
        F.sum("n_vectors").alias("_total"),
        F.count("*").alias("_cells"),
    )
    return (
        sizes.join(F.broadcast(total))
        .select(
            "cell_label",
            "n_vectors",
            F.round(
                F.col("n_vectors").cast("double") / F.col("_total"), 6
            ).alias("share"),
            F.round(
                F.col("n_vectors").cast("double")
                / (F.col("_total").cast("double") / F.col("_cells")),
                6,
            ).alias("load_ratio"),
        )
        .orderBy("cell_label")
    )


_ASSIGN_ONLY_CTE = IVF_CELL_ASSIGN_SQL.rsplit("ORDER BY vec_id", 1)[0].rstrip()

CELL_BALANCE_SQL = f"""
WITH assigned AS (
{_ASSIGN_ONLY_CTE}
),
sizes AS (
  SELECT cell_label, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM assigned GROUP BY cell_label
),
total AS (SELECT SUM(n_vectors) AS t, COUNT(*) AS c FROM sizes)
SELECT s.cell_label, s.n_vectors,
       ROUND(CAST(s.n_vectors AS DOUBLE) / t.t, 6) AS share,
       ROUND(CAST(s.n_vectors AS DOUBLE) / (CAST(t.t AS DOUBLE) / t.c), 6) AS load_ratio
FROM sizes s, total t
ORDER BY s.cell_label
""".strip()


COS_HIST_WIDTH = 0.1


# Deterministic pair-sampling governor for the histogram: keep a pair iff
# the first 4 md5 hex chars of "ch_<a>_<b>" sort below this threshold —
# '4000'/x10000 = a 25% uniform sample, identical predicate in both
# engines (md5 is md5), so the oracle hash-match survives sampling. At
# 100 TB drop the threshold further (the histogram is a share/cum-share
# estimator; 2^16 buckets give plenty of resolution at any corpus size)
# — this is what makes an all-pairs corpus panel possible at all beyond
# bench scale.
COS_HIST_SAMPLE_HEX = "4000"


def cosine_histogram(
    emb: DataFrame, n_blocks: int = 8, sample_hex: str = COS_HIST_SAMPLE_HEX
) -> DataFrame:
    """Corpus-geometry panel: the distribution of ALL pairwise cosines
    in fixed 0.1 bins with counts and cumulative shares — the curve
    the near-dup threshold sits on (``NEARDUP_THRESHOLD`` = 0.4 was
    chosen where the random-background mass dies out; this panel is
    that justification as a query, the role ``shingle_df_stats`` plays
    for the DF cap). Random high-dim vectors concentrate near 0; real
    corpora grow a right tail — the tail mass IS the dedup workload
    estimate.

    Scale: a deterministic md5 pair sample (``sample_hex``, default 25%)
    bounds the dot-product work BEFORE the expensive vector expansion —
    the filter sees only (a_id, b_id) — then the same block-pair
    decomposition + codegen explode-agg dot product as the exact
    near-dup, distributed as hash-join key groups; the histogram
    collapses pairs map-side into ≤ 21 bins, so nothing pair-sized ever
    shuffles. shares/cum_shares are unbiased estimates of the full-pair
    curve (n_pairs is the sampled count)."""
    left, right = _block_pair_sides(emb, n_blocks)
    n_groups = n_blocks * (n_blocks + 1) // 2
    left = left.repartition(n_groups, "p", "q")
    pairs = left.join(right, ["p", "q"]).filter(
        (F.col("p") != F.col("q")) | (F.col("l_id") < F.col("r_id"))
    )
    sampled = pairs.select(
        F.least("l_id", "r_id").alias("a_id"),
        F.greatest("l_id", "r_id").alias("b_id"),
        "ln_",
        "rn",
        "lv",
        "rv",
    ).filter(
        F.substring(
            F.md5(
                F.concat_ws(
                    "_",
                    F.lit("ch"),
                    F.col("a_id").cast("string"),
                    F.col("b_id").cast("string"),
                )
            ),
            1,
            4,
        )
        < F.lit(sample_hex)
    )
    ex = sampled.select(
        "a_id",
        "b_id",
        "ln_",
        "rn",
        F.posexplode(F.arrays_zip("lv", "rv")).alias("pos", "z"),
    ).select(
        "a_id", "b_id", "ln_", "rn", (F.col("z.lv") * F.col("z.rv")).alias("prod")
    )
    cos = (
        ex.groupBy("a_id", "b_id", "ln_", "rn")
        .agg(F.sum("prod").alias("dot"))
        .select(
            (F.col("dot") / (F.col("ln_") * F.col("rn"))).alias("c")
        )
    )
    bin_lo = F.floor(F.col("c") / COS_HIST_WIDTH) * COS_HIST_WIDTH
    hist = cos.groupBy(F.round(bin_lo, 1).alias("bin_lo")).agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    total = hist.agg(F.sum("n_pairs").alias("_t"))
    w = Window.orderBy("bin_lo").rowsBetween(Window.unboundedPreceding, 0)
    return (
        hist.join(F.broadcast(total))
        .withColumn("cum", F.sum("n_pairs").over(w))
        .select(
            "bin_lo",
            "n_pairs",
            F.round(F.col("n_pairs").cast("double") / F.col("_t"), 6).alias("share"),
            F.round(F.col("cum").cast("double") / F.col("_t"), 6).alias("cum_share"),
        )
        .orderBy("bin_lo")
    )


COSINE_HISTOGRAM_SQL = f"""
WITH cos AS (
  SELECT list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS c
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE substring(md5('ch_' || CAST(a.vec_id AS VARCHAR)
                      || '_' || CAST(b.vec_id AS VARCHAR)), 1, 4)
        < '{COS_HIST_SAMPLE_HEX}'
),
hist AS (
  SELECT ROUND(floor(c / {COS_HIST_WIDTH}) * {COS_HIST_WIDTH}, 1) AS bin_lo,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM cos GROUP BY 1
)
SELECT bin_lo, n_pairs,
       ROUND(CAST(n_pairs AS DOUBLE) / (SELECT SUM(n_pairs) FROM hist), 6) AS share,
       ROUND(CAST(SUM(n_pairs) OVER (ORDER BY bin_lo
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / (SELECT SUM(n_pairs) FROM hist), 6) AS cum_share
FROM hist
ORDER BY bin_lo
""".strip()


# --- exact (oracle-verifiable) quantizer training ---------------------------
#
# The Arrow-kernel trainers above (kmeans_centroids / pq_codebooks) run
# multiple Lloyd rounds and stay rows-only: numpy partial-sum order is
# not SQL-reproducible across engines. These exact twins pin ONE full
# seeded train round — md5-ordered seed draw, one Lloyd update, final
# assignment — with every intermediate rounded to 6 dp so Spark and
# DuckDB agree bit-for-bit (VERDICT r5 #5: the same upgrade pattern that
# took docs_simhash from rows-only to a full oracle). The multi-round
# Arrow trainers remain the production path inside knn_ivf / knn_ivfpq,
# recall-pinned by tools/ann_eval.py.

KC_EXACT_CELLS = 16
KC_EXACT_SEED = 7


def _seed_rows(emb: DataFrame, n: int, seed: int) -> DataFrame:
    """Deterministic seed draw shared by both exact trainers: the first
    ``n`` vectors in md5('<vec_id>:<seed>') order, labeled 0..n-1. The
    orderBy().limit() pair compiles to TakeOrderedAndProject (no global
    sort shuffle); the row_number window then runs over exactly ``n``
    rows (config-sized — reviewed in tools/explain_audit.py)."""
    key = F.md5(
        F.concat(F.col("vec_id").cast("string"), F.lit(f":{seed}"))
    )
    picked = (
        emb.select("vec_id", "embedding", key.alias("k"))
        .orderBy("k", "vec_id")
        .limit(n)
    )
    w = Window.orderBy("k", "vec_id")
    return picked.select(
        (F.row_number().over(w) - 1).cast("int").alias("cell"), "embedding"
    )


def _explode_vecs(emb: DataFrame) -> DataFrame:
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))


def _cosine_argmax(x: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest cell by cosine against unit centroids: broadcast the
    (cells × d)-row centroid frame, map-side fanout join on pos, one
    (vec_id, cell) partial-agg shuffle, round 6 before ranking so
    last-ulp summation order can never flip the argmax; ties break to
    the lower cell on both engines."""
    sims = (
        x.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "cell")
        .agg(F.round(F.sum(F.col("v") * F.col("c")), 6).alias("sim"))
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("cell").asc()
    )
    return (
        sims.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )


def kc_exact_centroids(
    emb: DataFrame, n_cells: int = KC_EXACT_CELLS, seed: int = KC_EXACT_SEED
) -> DataFrame:
    """The exact one-round quantizer's trained centroid frame
    (cell, pos, c): md5-ordered seed draw → unit-normalize →
    cosine-assign → one Lloyd mean update (empty cells keep their
    seed centroid) → re-normalize. cells × d rows, broadcastable;
    shared by ``kmeans_cells_exact`` (final assignment) and
    ``knn_ivf_exact`` (probe scoring)."""
    seeds = _seed_rows(emb, n_cells, seed)
    c0raw = seeds.select(
        "cell", F.posexplode("embedding").alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    n0 = c0raw.groupBy("cell").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm")
    )
    cent0 = c0raw.join(n0, "cell").select(
        "cell",
        "pos",
        F.round(F.col("val") / F.nullif(F.col("nrm"), F.lit(0.0)), 6).alias("c"),
    )
    x = _explode_vecs(emb)
    a0 = _cosine_argmax(x, cent0)
    upd = (
        a0.join(x, "vec_id")
        .groupBy("cell", "pos")
        .agg(F.round(F.avg("v"), 6).alias("m"))
    )
    n1 = upd.groupBy("cell").agg(
        F.sqrt(F.sum(F.col("m") * F.col("m"))).alias("nrm")
    )
    c1raw = upd.join(n1, "cell").select(
        "cell",
        "pos",
        F.round(F.col("m") / F.nullif(F.col("nrm"), F.lit(0.0)), 6).alias("u"),
    )
    return (
        cent0.join(c1raw, ["cell", "pos"], "left")
        .select("cell", "pos", F.coalesce("u", "c").alias("c"))
    )


def kmeans_cells_exact(
    emb: DataFrame, n_cells: int = KC_EXACT_CELLS, seed: int = KC_EXACT_SEED
) -> DataFrame:
    """Seeded k-means cell assignment, exact and driver-verifiable:
    the ``kc_exact_centroids`` train round followed by the final
    cosine argmax. Output (vec_id, cell, cell_rank).

    Scale: centroid frames are cells × d rows (config-bounded,
    broadcast); each assignment is one map-side fanout join plus a
    (vec_id, cell) hash aggregation; the update is a (cell, pos)
    aggregation over assigned members — no driver collect anywhere,
    corpus scanned twice (once per assignment round)."""
    cent1 = kc_exact_centroids(emb, n_cells, seed)
    return (
        _cosine_argmax(_explode_vecs(emb), cent1)
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.lit(1).cast("int").alias("cell_rank"),
        )
        .orderBy("vec_id")
    )


KMEANS_CELLS_EXACT_SQL = f"""
WITH sd AS (
  SELECT embedding,
         ROW_NUMBER() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{KC_EXACT_SEED}'), vec_id
         ) - 1 AS cell
  FROM embeddings
),
c0raw AS (
  SELECT cell, unnest(range(0, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM sd WHERE cell < {KC_EXACT_CELLS}
),
n0 AS (SELECT cell, SQRT(SUM(val * val)) AS nrm FROM c0raw GROUP BY cell),
cent0 AS (
  SELECT r.cell, r.pos, ROUND(r.val / NULLIF(n.nrm, 0), 6) AS c
  FROM c0raw r JOIN n0 n ON n.cell = r.cell
),
x AS (
  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
s0 AS (
  SELECT x.vec_id, c.cell, ROUND(SUM(x.v * c.c), 6) AS sim
  FROM x JOIN cent0 c ON c.pos = x.pos GROUP BY x.vec_id, c.cell
),
a0 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
    FROM s0)
  WHERE rn = 1
),
upd AS (
  SELECT a.cell, x.pos, ROUND(AVG(x.v), 6) AS m
  FROM a0 a JOIN x ON x.vec_id = a.vec_id GROUP BY a.cell, x.pos
),
n1 AS (SELECT cell, SQRT(SUM(m * m)) AS nrm FROM upd GROUP BY cell),
c1raw AS (
  SELECT u.cell, u.pos, ROUND(u.m / NULLIF(n.nrm, 0), 6) AS u
  FROM upd u JOIN n1 n ON n.cell = u.cell
),
cent1 AS (
  SELECT z.cell, z.pos, COALESCE(r.u, z.c) AS c
  FROM cent0 z LEFT JOIN c1raw r ON r.cell = z.cell AND r.pos = z.pos
),
s1 AS (
  SELECT x.vec_id, c.cell, ROUND(SUM(x.v * c.c), 6) AS sim
  FROM x JOIN cent1 c ON c.pos = x.pos GROUP BY x.vec_id, c.cell
)
SELECT vec_id, CAST(cell AS INT) AS cell, CAST(1 AS INT) AS cell_rank
FROM (
  SELECT vec_id, cell, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
  FROM s1)
WHERE rn = 1
ORDER BY vec_id
""".strip()


IVF_DELTA_MOD = 5  # vec_id % 5 == 0 (and >= n_queries) is the arriving batch
IVF_RETRAIN_RATIO = 2.0  # a cell past 2x the uniform load is a retrain candidate


def ivf_delta_assign(
    emb: DataFrame,
    n_queries: int = NSW_N_QUERIES,
    batch_mod: int = IVF_DELTA_MOD,
    n_cells: int = KC_EXACT_CELLS,
    seed: int = KC_EXACT_SEED,
    retrain_ratio: float = IVF_RETRAIN_RATIO,
    cents: DataFrame | None = None,
    old_cells: DataFrame | None = None,
) -> DataFrame:
    """Incremental IVF index maintenance (VERDICT r11 #3): fold an
    arriving vector batch into an EXISTING coarse quantizer without
    retraining — the serving-asset gap ``knn_graph_delta`` closed for
    the graph index but ``knn_ivf``/``knn_ivfpq`` still had (their
    centroids and cell lists previously retrained from scratch on every
    corpus change).

    The deterministic split ``vec_id % batch_mod == 0`` plays the
    arriving batch (the ``knn_graph_delta`` device); the quantizer is
    ``kc_exact_centroids`` trained on the OLD vectors ONLY — so the
    batch fold is ONE cosine-argmax map pass against the pinned
    centroid frame, never a Lloyd iteration over the updated corpus.
    Output is the maintenance decision panel, one row per cell:
    (cell, n_old, n_new, n_total, load_ratio, retrain_candidate) —
    ``retrain_candidate`` flags cells whose post-fold load breaches
    ``retrain_ratio`` × the uniform load (the ``cell_balance`` skew
    bound), marking THOSE cells for a local re-split instead of a
    global retrain. Any mis-assigned batch vector moves a cell count,
    so the driver hash-match checks the fold itself, not just the
    panel arithmetic.

    Serving injection: ``cents`` takes the deployed centroid frame and
    ``old_cells`` the persisted old assignment — then the only work is
    the batch argmax plus an O(cells) aggregation. The registered key
    builds both (its bench cost is the audit price, as with
    ``knn_graph_delta``).

    Fully deterministic and ORACLE-CHECKED: the 6-dp-rounded exact
    train round (``kc_exact_centroids``), rounded argmax sims with
    ties to the lower cell, and a DuckDB twin running the identical
    chain restricted to the old corpus.

    Scale: train is absent in serving (injected); the fold is one
    broadcast fanout-join + (vec_id, cell) partial agg over the BATCH
    only; the panel is an O(cells) aggregation with a broadcast 1-row
    total. No step touches the old corpus's vectors when assets are
    injected — the point of delta maintenance."""
    corpus = emb.filter(F.col("vec_id") >= n_queries).select(
        "vec_id", "embedding"
    )
    is_new = (F.col("vec_id") % batch_mod) == 0
    if cents is None:
        # localCheckpoint (OPTIMIZATION r12): the trained centroid frame
        # is n_cells rows but its PLAN is the whole exact train round —
        # referenced by both argmax passes it was inlined (and executed)
        # twice, 91 Exchanges in the before plan (plans/r12/
        # emb_ivf_delta_assign_before.txt). Values unchanged: the
        # checkpoint materializes the identical frame once.
        cents = kc_exact_centroids(
            corpus.filter(~is_new), n_cells, seed
        ).localCheckpoint(eager=True)
    if old_cells is None:
        old_cells = _cosine_argmax(_explode_vecs(corpus.filter(~is_new)), cents)
    batch_cells = _cosine_argmax(_explode_vecs(corpus.filter(is_new)), cents)
    no = old_cells.groupBy("cell").agg(F.count("*").alias("o"))
    nn = batch_cells.groupBy("cell").agg(F.count("*").alias("nw"))
    sizes = (
        cents.select("cell")
        .distinct()
        .join(no, "cell", "left")
        .join(nn, "cell", "left")
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.coalesce("o", F.lit(0)).cast("bigint").alias("n_old"),
            F.coalesce("nw", F.lit(0)).cast("bigint").alias("n_new"),
        )
        .withColumn("n_total", (F.col("n_old") + F.col("n_new")).cast("bigint"))
    )
    tot = sizes.agg(F.sum("n_total").alias("_t"), F.count("*").alias("_c"))
    return (
        sizes.join(F.broadcast(tot))
        .select(
            "cell",
            "n_old",
            "n_new",
            "n_total",
            F.round(
                F.col("n_total").cast("double")
                / (F.col("_t").cast("double") / F.col("_c")),
                6,
            ).alias("load_ratio"),
        )
        .withColumn(
            "retrain_candidate", F.col("load_ratio") > F.lit(retrain_ratio)
        )
        .orderBy("cell")
    )


def ivf_delta_assign_sql(
    n_queries: int = NSW_N_QUERIES,
    batch_mod: int = IVF_DELTA_MOD,
    n_cells: int = KC_EXACT_CELLS,
    seed: int = KC_EXACT_SEED,
    retrain_ratio: float = IVF_RETRAIN_RATIO,
) -> str:
    """DuckDB twin of ``ivf_delta_assign``: the exact one-round train
    restricted to the old corpus (the ``KMEANS_CELLS_EXACT_SQL`` chain
    over ``old``), one argmax assignment of the UNION tagged
    ``is_new`` (identical to assigning the halves separately — both
    use the same pinned cent1), then the per-cell panel."""
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {n_queries}
),
old AS (SELECT * FROM corpus WHERE vec_id % {batch_mod} <> 0),
sd AS (
  SELECT embedding, ROW_NUMBER() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{seed}'), vec_id) - 1 AS cell
  FROM old
),
c0raw AS (
  SELECT cell, unnest(range(0, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM sd WHERE cell < {n_cells}
),
n0 AS (SELECT cell, SQRT(SUM(val * val)) AS nrm FROM c0raw GROUP BY cell),
cent0 AS (
  SELECT r.cell, r.pos, ROUND(r.val / NULLIF(n.nrm, 0), 6) AS c
  FROM c0raw r JOIN n0 n ON n.cell = r.cell
),
xo AS (
  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM old
),
s0 AS (
  SELECT x.vec_id, c.cell, ROUND(SUM(x.v * c.c), 6) AS sim
  FROM xo x JOIN cent0 c ON c.pos = x.pos GROUP BY x.vec_id, c.cell
),
a0 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
    FROM s0)
  WHERE rn = 1
),
upd AS (
  SELECT a.cell, x.pos, ROUND(AVG(x.v), 6) AS m
  FROM a0 a JOIN xo x ON x.vec_id = a.vec_id GROUP BY a.cell, x.pos
),
n1 AS (SELECT cell, SQRT(SUM(m * m)) AS nrm FROM upd GROUP BY cell),
c1raw AS (
  SELECT u.cell, u.pos, ROUND(u.m / NULLIF(n.nrm, 0), 6) AS u
  FROM upd u JOIN n1 n ON n.cell = u.cell
),
cent1 AS (
  SELECT z.cell, z.pos, COALESCE(r.u, z.c) AS c
  FROM cent0 z LEFT JOIN c1raw r ON r.cell = z.cell AND r.pos = z.pos
),
xall AS (
  SELECT vec_id, vec_id % {batch_mod} = 0 AS is_new,
         unnest(range(0, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM corpus
),
s1 AS (
  SELECT x.vec_id, x.is_new, c.cell, ROUND(SUM(x.v * c.c), 6) AS sim
  FROM xall x JOIN cent1 c ON c.pos = x.pos GROUP BY x.vec_id, x.is_new, c.cell
),
asg AS (
  SELECT vec_id, is_new, cell FROM (
    SELECT vec_id, is_new, cell, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
    FROM s1)
  WHERE rn = 1
),
cells AS (SELECT DISTINCT cell FROM cent1),
sizes AS (
  SELECT c.cell,
         CAST(COALESCE(SUM(CASE WHEN NOT a.is_new THEN 1 END), 0) AS BIGINT)
           AS n_old,
         CAST(COALESCE(SUM(CASE WHEN a.is_new THEN 1 END), 0) AS BIGINT)
           AS n_new
  FROM cells c LEFT JOIN asg a ON a.cell = c.cell
  GROUP BY c.cell
),
tot AS (SELECT SUM(n_old + n_new) AS t, COUNT(*) AS c FROM sizes)
SELECT CAST(s.cell AS INT) AS cell, s.n_old, s.n_new,
       CAST(s.n_old + s.n_new AS BIGINT) AS n_total,
       ROUND(CAST(s.n_old + s.n_new AS DOUBLE) / (CAST(t.t AS DOUBLE) / t.c), 6)
         AS load_ratio,
       ROUND(CAST(s.n_old + s.n_new AS DOUBLE) / (CAST(t.t AS DOUBLE) / t.c), 6)
         > {retrain_ratio} AS retrain_candidate
FROM sizes s, tot t
ORDER BY s.cell
""".strip()


IVF_DELTA_ASSIGN_SQL = ivf_delta_assign_sql()


PQ_EXACT_SUBSPACES = 8
PQ_EXACT_CELLS = 16
PQ_EXACT_SEED = 11


def pq_codes_exact(
    emb: DataFrame,
    n_subspaces: int = PQ_EXACT_SUBSPACES,
    n_cells: int = PQ_EXACT_CELLS,
    seed: int = PQ_EXACT_SEED,
    checkpoint: bool = False,
) -> DataFrame:
    """Product-quantization codes from one exact seeded train round:
    the same 16 md5-ordered seed vectors give every subspace its initial
    codebook (their sub-slices), one L2 Lloyd update refines each
    codeword (empty codes keep their seed), and the final argmin-L2
    assignment emits long-form (vec_id, subspace, code, sq_err).

    Scale: codebooks are subspaces × codes × dsub rows (config-bounded,
    broadcast); distances aggregate per (vec_id, subspace, code) with
    map-side partials; squared distances round to 6 dp before the argmin
    rank so engine summation order cannot flip a code; ties break to the
    lower code.

    ``checkpoint=True`` (the registry shared-asset path, VERDICT r6 #2):
    the exploded corpus ``xs`` feeds THREE consumers (argmin vs cent0,
    the Lloyd update join, argmin vs cent1) and was recomputed for each;
    persist it for the build, eagerly localCheckpoint the final code
    frame, then release ``xs`` — repeat consumers read the checkpointed
    codes, never the train lineage."""
    seeds = _seed_rows(emb, n_cells, seed).withColumnRenamed("cell", "code")
    # Subspace split (s = pos // dsub, p = pos % dsub) derives dsub from
    # the array length per row — constant across the corpus, so no
    # driver collect is needed to learn d.
    xs = emb.select(
        "vec_id",
        F.size("embedding").alias("d"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "vec_id",
        (F.col("pos") / (F.col("d") / n_subspaces)).cast("int").alias("s"),
        F.pmod(F.col("pos"), (F.col("d") / n_subspaces).cast("int")).alias("p"),
        F.col("v").cast("double").alias("v"),
    )
    if checkpoint:
        xs = xs.persist()
    cent0 = seeds.select(
        "code",
        F.size("embedding").alias("d"),
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "code",
        (F.col("pos") / (F.col("d") / n_subspaces)).cast("int").alias("s"),
        F.pmod(F.col("pos"), (F.col("d") / n_subspaces).cast("int")).alias("p"),
        F.round(F.col("val").cast("double"), 6).alias("c"),
    )

    def argmin_codes(cent: DataFrame) -> DataFrame:
        d2 = (
            xs.join(F.broadcast(cent), ["s", "p"])
            .groupBy("vec_id", "s", "code")
            .agg(
                F.round(
                    F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))), 6
                ).alias("d2")
            )
        )
        wv = Window.partitionBy("vec_id", "s").orderBy(
            F.col("d2").asc(), F.col("code").asc()
        )
        return (
            d2.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", "s", "code", "d2")
        )

    a0 = argmin_codes(cent0)
    upd = (
        a0.select("vec_id", "s", "code")
        .join(xs, ["vec_id", "s"])
        .groupBy("s", "code", "p")
        .agg(F.round(F.avg("v"), 6).alias("u"))
    )
    cent1 = (
        cent0.join(upd, ["s", "code", "p"], "left")
        .select("s", "code", "p", F.coalesce("u", "c").alias("c"))
    )
    out = (
        argmin_codes(cent1)
        .select(
            "vec_id",
            F.col("s").cast("int").alias("subspace"),
            F.col("code").cast("int").alias("code"),
            F.col("d2").alias("sq_err"),
        )
        .orderBy("vec_id", "subspace")
    )
    if checkpoint:
        out = out.localCheckpoint(eager=True)
        xs.unpersist()
    return out


PQ_CODES_EXACT_SQL = f"""
WITH sd AS (
  SELECT embedding,
         ROW_NUMBER() OVER (
           ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{PQ_EXACT_SEED}'), vec_id
         ) - 1 AS code
  FROM embeddings
),
cent0 AS (
  SELECT code,
         CAST(FLOOR(pos / (d / {PQ_EXACT_SUBSPACES})) AS INT) AS s,
         pos % CAST(d / {PQ_EXACT_SUBSPACES} AS INT) AS p,
         ROUND(val, 6) AS c
  FROM (SELECT code, len(embedding) AS d,
               unnest(range(0, len(embedding))) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM sd WHERE code < {PQ_EXACT_CELLS})
),
xs AS (
  SELECT vec_id,
         CAST(FLOOR(pos / (d / {PQ_EXACT_SUBSPACES})) AS INT) AS s,
         pos % CAST(d / {PQ_EXACT_SUBSPACES} AS INT) AS p,
         v
  FROM (SELECT vec_id, len(embedding) AS d,
               unnest(range(0, len(embedding))) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings)
),
d0 AS (
  SELECT x.vec_id, x.s, c.code,
         ROUND(SUM((x.v - c.c) * (x.v - c.c)), 6) AS d2
  FROM xs x JOIN cent0 c ON c.s = x.s AND c.p = x.p
  GROUP BY x.vec_id, x.s, c.code
),
a0 AS (
  SELECT vec_id, s, code FROM (
    SELECT vec_id, s, code, ROW_NUMBER() OVER (
      PARTITION BY vec_id, s ORDER BY d2 ASC, code ASC) AS rn
    FROM d0)
  WHERE rn = 1
),
upd AS (
  SELECT a.s, a.code, x.p, ROUND(AVG(x.v), 6) AS u
  FROM a0 a JOIN xs x ON x.vec_id = a.vec_id AND x.s = a.s
  GROUP BY a.s, a.code, x.p
),
cent1 AS (
  SELECT z.s, z.code, z.p, COALESCE(r.u, z.c) AS c
  FROM cent0 z LEFT JOIN upd r ON r.s = z.s AND r.code = z.code AND r.p = z.p
),
d1 AS (
  SELECT x.vec_id, x.s, c.code,
         ROUND(SUM((x.v - c.c) * (x.v - c.c)), 6) AS d2
  FROM xs x JOIN cent1 c ON c.s = x.s AND c.p = x.p
  GROUP BY x.vec_id, x.s, c.code
)
SELECT vec_id, CAST(s AS INT) AS subspace, CAST(code AS INT) AS code,
       d2 AS sq_err
FROM (
  SELECT vec_id, s, code, d2, ROW_NUMBER() OVER (
    PARTITION BY vec_id, s ORDER BY d2 ASC, code ASC) AS rn
  FROM d1)
WHERE rn = 1
ORDER BY vec_id, subspace
""".strip()


# --- semantic dedup over learned cells (SemDeDup) ---------------------------
#
# SemDeDup (Abbas et al., 2023, public): embed, k-means cluster, then
# look for near-duplicate pairs ONLY within a cluster — the clustering
# is the blocking structure that keeps the pair set linear-ish at
# corpus scale (cross-cluster semantic dups are rare by construction,
# the accepted recall trade). Built on the exact one-round quantizer so
# the whole chain is oracle-verifiable.

SEMDEDUP_THRESHOLD = 0.4  # same non-vacuous bar as NEARDUP_THRESHOLD
# Blocking budget for the size-derived shard governor: a cell splits
# into ceil(size / CAP) md5 sub-shards, so no pair block ever exceeds
# ~CAP²/2 comparisons. 160 > the max observed cell at every committed
# SF (139 at sf0.1 with 16 cells), so under-cap corpora are single-
# shard and bit-identical to the unsharded operator.
SEMDEDUP_CELL_CAP = 160


def semdedup(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    cells: DataFrame | None = None,
    cell_cap: int = SEMDEDUP_CELL_CAP,
) -> DataFrame:
    """Within-cell cosine dedup: a vector is dropped when some
    LOWER-id vector in its k-means cell matches at ≥ threshold (the
    deterministic keep-lowest rule — no transitive closure needed, so
    one pair join decides membership). One row per vector:
    (vec_id, cell, n_lower_dups, max_lower_cos, is_kept).

    Scale: pairs exist only within a cell (sum of cellsize²), and a
    SIZE-DERIVED SHARD GOVERNOR bounds that sum: a cell with more than
    ``cell_cap`` members splits into ceil(size / cell_cap) md5-bucketed
    sub-shards and pairs form only within a (cell, shard) block — at
    most ~cell_cap²/2 pairs per block, so total pair count stays
    corpus-LINEAR no matter how the corpus outgrows a fixed cell count
    (measured: the unsharded shape ran 100× more pairs per 10× data on
    the weak-scaled sf1 decade, 4.3 s → 46 s; sharded is ~linear).
    This is the standard blocking trade — near-dups split across
    shards of one oversized cell go unseen, exactly as SemDeDup
    already accepts for dups split across cells; at 100 TB you grow
    the cell count with the corpus AND keep this governor as the skew
    backstop for runaway cells. The shard key is an md5 integer
    mirrored verbatim in the oracle, so the output — including the
    sharded case — stays bit-exact across engines. Under-cap corpora
    (every committed testdata SF) have one shard per cell, where the
    semantics and hashes are IDENTICAL to the unsharded operator.
    The final shape is one left join back to the assignment (one row
    per vector, corpus-linear)."""
    if cells is None:  # registry injects the shared persisted assignment
        cells = kmeans_cells_exact(emb)
    # Three plan consumers below (shard-count agg, the pair frame, the
    # final left join back) — checkpoint the 2-column assignment so
    # none of them replays the k-means lineage in its plan (the
    # iterative-key discipline; 116 exchanges -> ~10 without it).
    cells = cells.select("vec_id", "cell").localCheckpoint(eager=True)
    n_shards = F.broadcast(
        cells.groupBy("cell").agg(
            F.floor(
                (F.count(F.lit(1)) + F.lit(cell_cap - 1)) / F.lit(cell_cap)
            )
            .cast("bigint")
            .alias("n_shards")
        )
    )
    nrm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sdshard:"), F.col("vec_id").cast("string"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % F.col("n_shards")
    )
    m = (
        emb.select("vec_id", "embedding")
        .join(cells, "vec_id")
        .join(n_shards, "cell")
        .select("vec_id", "cell", shard.alias("shard"), "embedding", nrm.alias("nrm"))
    )
    a = m.select(
        F.col("cell"),
        F.col("shard"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = m.select(
        F.col("cell"),
        F.col("shard"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    dot = F.aggregate(
        F.zip_with("a_emb", "b_emb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, ["cell", "shard"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "cell",
            "b_id",
            F.round(dot / (F.col("a_nrm") * F.col("b_nrm")), 6).alias("cos"),
        )
    )
    agg = pairs.groupBy("b_id").agg(
        F.sum((F.col("cos") >= threshold).cast("int")).cast("bigint").alias("n_lower_dups"),
        F.max("cos").alias("max_lower_cos"),
    )
    return (
        cells.join(agg, cells.vec_id == agg.b_id, "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.coalesce("n_lower_dups", F.lit(0).cast("bigint")).alias("n_lower_dups"),
            "max_lower_cos",
            (F.coalesce("n_lower_dups", F.lit(0)) == 0).alias("is_kept"),
        )
        .orderBy("vec_id")
    )


_KC_CELLS_CTE = KMEANS_CELLS_EXACT_SQL.rsplit("ORDER BY vec_id", 1)[0].strip()


def semdedup_sql(cell_cap: int = SEMDEDUP_CELL_CAP) -> str:
    """Oracle twin of ``semdedup`` with the same shard governor; the
    cap is a parameter so pytest can force the sharded regime on a
    small corpus and diff both engines there too."""
    return f"""
WITH cells AS (
  {_KC_CELLS_CTE}
),
sz AS (
  SELECT cell, (COUNT(*) + {cell_cap - 1}) // {cell_cap} AS n_shards
  FROM cells GROUP BY cell
),
m AS (
  SELECT c.vec_id, c.cell,
         CAST('0x' || substring(md5('sdshard:' || CAST(c.vec_id AS VARCHAR)),
                                1, 12) AS BIGINT) % s.n_shards AS shard,
         e.embedding,
         SQRT(list_aggregate(list_transform(CAST(e.embedding AS DOUBLE[]),
                                            v -> v * v), 'sum')) AS nrm
  FROM cells c
  JOIN sz s ON s.cell = c.cell
  JOIN embeddings e ON e.vec_id = c.vec_id
),
pairs AS (
  SELECT a.cell, b.vec_id AS b_id,
         ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[]))
               / (a.nrm * b.nrm), 6) AS cos
  FROM m a JOIN m b ON a.cell = b.cell AND a.shard = b.shard
                   AND a.vec_id < b.vec_id
),
agg AS (
  SELECT b_id,
         CAST(SUM(CASE WHEN cos >= {SEMDEDUP_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lower_dups,
         MAX(cos) AS max_lower_cos
  FROM pairs GROUP BY b_id
)
SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
       COALESCE(a.n_lower_dups, 0) AS n_lower_dups,
       a.max_lower_cos,
       COALESCE(a.n_lower_dups, 0) = 0 AS is_kept
FROM cells c LEFT JOIN agg a ON a.b_id = c.vec_id
ORDER BY c.vec_id
""".strip()


SEMDEDUP_SQL = semdedup_sql()


CBS_PER_CELL = 8


def cluster_balanced_sample(
    emb: DataFrame,
    per_cell: int = CBS_PER_CELL,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Cluster-balanced curation sample: up to ``per_cell`` vectors per
    k-means cell in deterministic md5 order — the diversity-preserving
    downsample (each semantic region keeps representation regardless of
    its share of the corpus, the standard counter to majority-cluster
    domination when trimming a training set).

    Scale: the pick is one row_number window PARTITIONED BY cell (no
    global sort) over the assignment — corpus-linear with per-cell
    state only."""
    if cells is None:  # registry injects the shared persisted assignment
        cells = kmeans_cells_exact(emb)
    cells = cells.select("vec_id", "cell")
    key = F.md5(F.concat(F.lit("cbs:"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("cell").orderBy(key, "vec_id")
    return (
        cells.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= per_cell)
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.col("pick_rank").cast("int").alias("pick_rank"),
        )
        .orderBy("cell", "pick_rank")
    )


CLUSTER_BALANCED_SAMPLE_SQL = f"""
WITH cells AS (
  {_KC_CELLS_CTE}
),
ranked AS (
  SELECT vec_id, cell,
         ROW_NUMBER() OVER (
           PARTITION BY cell
           ORDER BY md5('cbs:' || CAST(vec_id AS VARCHAR)), vec_id) AS pick_rank
  FROM cells
)
SELECT vec_id, CAST(cell AS INT) AS cell, CAST(pick_rank AS INT) AS pick_rank
FROM ranked WHERE pick_rank <= {CBS_PER_CELL}
ORDER BY cell, pick_rank
""".strip()


# --- oracle-checked IVF retrieval over the exact quantizer ------------------

IVF_EXACT_N_QUERIES = 10
IVF_EXACT_K = 5
IVF_EXACT_NPROBE = 3


def knn_ivf_exact(
    emb: DataFrame,
    n_queries: int = IVF_EXACT_N_QUERIES,
    k: int = IVF_EXACT_K,
    nprobe: int = IVF_EXACT_NPROBE,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k retrieval that is EXACTLY reproducible end-to-end:
    queries score the ``kc_exact_centroids`` cells, probe the top
    ``nprobe``, and re-rank only those cells' members by rounded
    cosine — the same probe/scan shape as the production ``knn_ivf``
    (multi-round Arrow quantizer, rows-only), but every stage, ties
    included, pins to a DuckDB oracle. The pair that makes the
    approximate path auditable: knn_ivf for throughput, this twin for
    the driver's value-hash check.

    Scale: centroid frame broadcast (cells × d rows); probe is a
    per-query rank over ≤ cells rows; the candidate scan touches
    nprobe/cells of the corpus via one equi-join on cell — the IVF
    contract — and the re-rank is a per-query window over that subset."""
    cent1 = kc_exact_centroids(emb)
    if cells is None:  # registry injects the shared persisted assignment
        cells = kmeans_cells_exact(emb)
    assigned = cells.select("vec_id", "cell")
    xq = _explode_vecs(emb).filter(F.col("vec_id") < n_queries)
    ps = (
        xq.join(F.broadcast(cent1), "pos")
        .groupBy("vec_id", "cell")
        .agg(F.round(F.sum(F.col("v") * F.col("c")), 6).alias("sim"))
    )
    wq = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("cell").asc()
    )
    probe = (
        ps.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select(F.col("vec_id").alias("qid"), "cell")
    )
    cand = probe.join(
        assigned.filter(F.col("vec_id") >= n_queries).select(
            F.col("vec_id").alias("cid"), "cell"
        ),
        "cell",
    ).select("qid", "cid")
    qe = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    ce = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )

    def _nrm(col):
        return F.sqrt(
            F.aggregate(
                col, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
            )
        )

    scored = (
        cand.join(F.broadcast(qe), "qid")
        .join(ce, "cid")
        .select(
            "qid",
            "cid",
            F.round(dot / (_nrm("qv") * _nrm("cv")), 6).alias("cosine"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("neighbor_id"),
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


_KC_CHAIN = KMEANS_CELLS_EXACT_SQL.split("\nSELECT vec_id, CAST(cell AS INT)")[0].strip()

KNN_IVF_EXACT_SQL = f"""
{_KC_CHAIN},
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
    FROM s1)
  WHERE rn = 1
),
ps AS (
  SELECT x.vec_id AS qid, c.cell, ROUND(SUM(x.v * c.c), 6) AS sim
  FROM x JOIN cent1 c ON c.pos = x.pos
  WHERE x.vec_id < {IVF_EXACT_N_QUERIES}
  GROUP BY x.vec_id, c.cell
),
probe AS (
  SELECT qid, cell FROM (
    SELECT qid, cell, ROW_NUMBER() OVER (
      PARTITION BY qid ORDER BY sim DESC, cell ASC) AS rn
    FROM ps)
  WHERE rn <= {IVF_EXACT_NPROBE}
),
cand AS (
  SELECT p.qid, a.vec_id AS cid
  FROM probe p JOIN assigned a ON a.cell = p.cell
  WHERE a.vec_id >= {IVF_EXACT_N_QUERIES}
),
scored AS (
  SELECT c.qid, c.cid,
         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])), 6) AS cosine
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.qid
  JOIN embeddings e ON e.vec_id = c.cid
)
SELECT qid AS query_id, cid AS neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT qid, cid, cosine, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
  FROM scored)
WHERE rank <= {IVF_EXACT_K}
ORDER BY query_id, rank
""".strip()


MMD_SIGMA2 = 32.0  # fixed RBF bandwidth sigma^2 = d/2 for d = 64
MMD_SAMPLE_HEX = "4000"  # 25% md5 pair governor, the histogram's knob


def mmd_labels(emb: DataFrame, sample_hex: str = MMD_SAMPLE_HEX) -> DataFrame:
    """MMD² two-sample test between every pair of label groups — the
    kernel answer to "are these two slices drawn from the same
    embedding distribution", the statistic behind domain-shift checks
    on corpus slices (sources, time windows, augmentation arms).
    MMD²(A,B) = E_AA[k] + E_BB[k] − 2·E_AB[k] with the RBF kernel
    k = exp(−‖x−y‖²/2σ²), σ² = {MMD_SIGMA2} (d/2 for the 64-dim
    corpus). Per-pair kernel values round to 6 dp and average as
    DECIMAL(10,6) — exact in any accumulation order, the calibration
    panel's trick — so the estimator hash-matches across engines.
    A deterministic md5 pair governor subsamples the O(n²) pair space
    (rate {MMD_SAMPLE_HEX}/ffff, identical predicate text in the
    oracle); the within-group means are computed once per label and
    joined into the 45-row label-pair matrix.

    Scale: block-pair equi-join decomposition (never BNLJ), governor
    applied BEFORE the vector math; at 100 TB drop the rate, not the
    shape. ‖x−y‖² = n_a² + n_b² − 2·dot rides the codegen
    posexplode-agg dot."""
    left, right = _block_pair_sides(emb, 8)
    n_groups = 8 * 9 // 2
    left = left.repartition(n_groups, "p", "q")
    pairs = left.join(right, ["p", "q"]).filter(
        (F.col("p") != F.col("q")) | (F.col("l_id") < F.col("r_id"))
    )
    sampled = pairs.select(
        F.least("l_id", "r_id").alias("a_id"),
        F.greatest("l_id", "r_id").alias("b_id"),
        "ln_",
        "rn",
        "lv",
        "rv",
    ).filter(
        F.substring(
            F.md5(
                F.concat_ws(
                    "_",
                    F.lit("mmd"),
                    F.col("a_id").cast("string"),
                    F.col("b_id").cast("string"),
                )
            ),
            1,
            4,
        )
        < F.lit(sample_hex)
    )
    ex = sampled.select(
        "a_id", "b_id", "ln_", "rn",
        F.posexplode(F.arrays_zip("lv", "rv")).alias("pos", "z"),
    ).select(
        "a_id", "b_id", "ln_", "rn",
        (F.col("z.lv") * F.col("z.rv")).alias("prod"),
    )
    d2 = (
        F.col("ln_") * F.col("ln_")
        + F.col("rn") * F.col("rn")
        - 2.0 * F.col("dot")
    )
    per_pair = (
        ex.groupBy("a_id", "b_id", "ln_", "rn")
        .agg(F.sum("prod").alias("dot"))
        .select(
            "a_id",
            "b_id",
            F.round(F.exp(-d2 / F.lit(2.0 * MMD_SIGMA2)), 6)
            .cast("decimal(10,6)")
            .alias("k"),
        )
    )
    lab = emb.select("vec_id", "label")
    tagged = (
        per_pair.join(
            lab.select(F.col("vec_id").alias("a_id"), F.col("label").alias("la")),
            "a_id",
        )
        .join(
            lab.select(F.col("vec_id").alias("b_id"), F.col("label").alias("lb")),
            "b_id",
        )
    )
    within = (
        tagged.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.avg("k").cast("double").alias("w_mean"))
    )
    cross = (
        tagged.filter(F.col("la") != F.col("lb"))
        .groupBy(
            F.least("la", "lb").alias("label_a"),
            F.greatest("la", "lb").alias("label_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_cross_pairs"),
            F.avg("k").cast("double").alias("cross_mean"),
        )
    )
    wa = within.select(F.col("label").alias("label_a"), F.col("w_mean").alias("wa"))
    wb = within.select(F.col("label").alias("label_b"), F.col("w_mean").alias("wb"))
    return (
        cross.join(F.broadcast(wa), "label_a")
        .join(F.broadcast(wb), "label_b")
        .select(
            "label_a",
            "label_b",
            "n_cross_pairs",
            F.round("wa", 6).alias("within_a_mean"),
            F.round("wb", 6).alias("within_b_mean"),
            F.round("cross_mean", 6).alias("cross_mean"),
            F.round(
                F.col("wa") + F.col("wb") - 2.0 * F.col("cross_mean"), 6
            ).alias("mmd2"),
        )
        .orderBy("label_a", "label_b")
    )


MMD_LABELS_SQL = f"""
WITH pr AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS la, b.label AS lb,
         CAST(ROUND(EXP(-(list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                             CAST(a.embedding AS DOUBLE[]))
                          + list_inner_product(CAST(b.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[]))
                          - 2 * list_inner_product(CAST(a.embedding AS DOUBLE[]),
                                                   CAST(b.embedding AS DOUBLE[])))
                        / {2.0 * MMD_SIGMA2}), 6) AS DECIMAL(10,6)) AS k
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE substring(md5('mmd_' || CAST(a.vec_id AS VARCHAR)
                      || '_' || CAST(b.vec_id AS VARCHAR)), 1, 4)
        < '{MMD_SAMPLE_HEX}'
),
within AS (
  SELECT la AS label, CAST(AVG(k) AS DOUBLE) AS w_mean
  FROM pr WHERE la = lb GROUP BY la
),
crossp AS (
  SELECT LEAST(la, lb) AS label_a, GREATEST(la, lb) AS label_b,
         CAST(COUNT(*) AS BIGINT) AS n_cross_pairs,
         CAST(AVG(k) AS DOUBLE) AS cross_mean
  FROM pr WHERE la != lb GROUP BY 1, 2
)
SELECT c.label_a, c.label_b, c.n_cross_pairs,
       ROUND(wa.w_mean, 6) AS within_a_mean,
       ROUND(wb.w_mean, 6) AS within_b_mean,
       ROUND(c.cross_mean, 6) AS cross_mean,
       ROUND(wa.w_mean + wb.w_mean - 2 * c.cross_mean, 6) AS mmd2
FROM crossp c
JOIN within wa ON wa.label = c.label_a
JOIN within wb ON wb.label = c.label_b
ORDER BY c.label_a, c.label_b
""".strip()


PROBE_ITERS = 12
PROBE_ROUND = 9
PROBE_LAMBDA = 0.1
PROBE_TARGET_LABEL = 0


def linear_probe_gd(emb: DataFrame, n_iter: int = PROBE_ITERS) -> DataFrame:
    """IN-ENGINE MODEL TRAINING with bit-exact cross-engine
    verification: a ridge-regression linear probe (label {PROBE_TARGET_LABEL}
    vs rest) trained by exactly ``n_iter`` gradient-descent steps on
    the EXACT integer moments XᵀX and Xᵀy — the capstone of the
    unrolled-iteration family (power iteration → deflation → Markov →
    this). The moments use ``dim_covariance``'s microunit quantization
    (exact BIGINT sums, partitioning-independent); the step size
    η = 1/(tr(XᵀX)/n + λ·d) is a deterministic expression of those
    moments and bounds the Hessian spectrum, so the trajectory is
    stable AND identical in both engines (every iterate rounds to
    {PROBE_ROUND} dp). Output: one row per dimension with the learned
    weight, plus the closed-form training MSE
    (yᵀy − 2wᵀXᵀy + wᵀXᵀXw)/n and the positive count — no second
    data pass, the moments already contain the loss.

    Scale: ONE corpus pass builds the d²+d moments (map-side partial
    aggregation); the GD steps then run DRIVER-LOCAL on the collected
    moments (round 8 — the same MLlib-idiom switch as
    ``pca_deflation``: the declarative 12-step chain spent most of its
    4.9 s in eager-checkpoint job round-trips on 64-row frames;
    ``_round_half_up`` keeps the trajectory bit-equal to the unrolled
    SQL twin, hashes unchanged). This is exactly how distributed
    linear models train at 100 TB — sufficient statistics in one
    pass, driver-sized optimization."""
    q = F.floor(F.col("v").cast("double") * F.lit(float(COV_SCALE))).cast("bigint")
    elems = (
        emb.select(
            "vec_id",
            (F.col("label") == PROBE_TARGET_LABEL).cast("long").alias("y"),
            F.posexplode("embedding").alias("dim", "v"),
        )
        .select("vec_id", "y", "dim", q.alias("q"))
        .repartition("vec_id")
    )
    a, b = elems.alias("a"), elems.alias("b")
    xtx_ut = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.dim") <= F.col("b.dim")),
        )
        .groupBy(F.col("a.dim").alias("i"), F.col("b.dim").alias("j"))
        .agg(
            (
                F.sum(F.col("a.q") * F.col("b.q")).cast("double")
                / F.lit(float(COV_SCALE) ** 2)
            ).alias("xx")
        )
    )
    import numpy as np

    spark = emb.sparkSession
    mat_rows = xtx_ut.unionByName(
        xtx_ut.filter(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "xx"
        )
    ).collect()  # d² — dimension-bounded, never corpus-sized
    xty_rows = (
        elems.groupBy("dim")
        .agg(
            (
                F.sum(F.col("q") * F.col("y")).cast("double")
                / F.lit(float(COV_SCALE))
            ).alias("xy")
        )
        .collect()
    )
    st = (
        elems.groupBy()
        .agg(
            (F.countDistinct("vec_id")).cast("double").alias("n"),
            F.sum("y").cast("double").alias("ny_elems"),
            (F.max("dim") + 1).cast("double").alias("d"),
        )
        .collect()[0]
    )
    d = int(st["d"])
    n = float(st["n"])
    n_pos = st["ny_elems"] / st["d"]
    C = np.zeros((d, d), dtype=np.float64)
    for r in mat_rows:
        C[r["i"], r["j"]] = r["xx"]
    xy = np.zeros(d, dtype=np.float64)
    for r in xty_rows:
        xy[r["dim"]] = r["xy"]
    tr = float(np.sum(np.diag(C)))
    eta = _round_half_up(1.0 / (tr / n + PROBE_LAMBDA * d), PROBE_ROUND)
    w = np.zeros(d, dtype=np.float64)
    for _ in range(n_iter):
        g = C @ w
        w = np.array(
            [
                _round_half_up(
                    w[i] - eta * ((g[i] - xy[i]) / n + PROBE_LAMBDA * w[i]),
                    PROBE_ROUND,
                )
                for i in range(d)
            ]
        )
    # closed-form training MSE from the same moments:
    # (y'y - 2 w'X'y + w'XtX w) / n     (y'y = n_pos, y being 0/1)
    wxy = float(w @ xy)
    wxxw = float(w @ C @ w)
    mse = _round_half_up((n_pos - 2.0 * wxy + wxxw) / n, 6)
    return spark.createDataFrame(
        [
            (dim, _round_half_up(float(w[dim]), 6), mse, int(n_pos))
            for dim in range(d)
        ],
        T.StructType(
            [
                T.StructField("dim", T.IntegerType(), False),
                T.StructField("weight", T.DoubleType()),
                T.StructField("train_mse", T.DoubleType()),
                T.StructField("n_pos", T.LongType()),
            ]
        ),
    ).orderBy("dim")


def _linear_probe_sql() -> str:
    steps = []
    for t in range(1, PROBE_ITERS + 1):
        prev = f"w{t - 1}"
        steps.append(
            f"""g{t} AS MATERIALIZED (
  SELECT m.i AS dim, SUM(m.xx * w.val) AS g
  FROM mat m JOIN {prev} w ON m.j = w.dim GROUP BY m.i
),
w{t} AS MATERIALIZED (
  SELECT g.dim,
         ROUND(w.val - s.eta * ((g.g - x.xy) / s.n + {PROBE_LAMBDA} * w.val),
               {PROBE_ROUND}) AS val
  FROM g{t} g
  JOIN xty x ON x.dim = g.dim
  JOIN {prev} w ON w.dim = g.dim
  CROSS JOIN scal s
)"""
        )
    last = f"w{PROBE_ITERS}"
    return f"""
WITH el AS (
  SELECT vec_id,
         CASE WHEN label = {PROBE_TARGET_LABEL} THEN 1 ELSE 0 END AS y,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * {COV_SCALE}.0) AS BIGINT) AS q
  FROM embeddings
),
xtx_ut AS MATERIALIZED (
  SELECT a.dim AS i, b.dim AS j,
         CAST(SUM(a.q * b.q) AS DOUBLE) / {float(COV_SCALE) ** 2} AS xx
  FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.dim <= b.dim
  GROUP BY a.dim, b.dim
),
mat AS MATERIALIZED (
  SELECT i, j, xx FROM xtx_ut
  UNION ALL
  SELECT j, i, xx FROM xtx_ut WHERE i < j
),
xty AS MATERIALIZED (
  SELECT dim, CAST(SUM(q * y) AS DOUBLE) / {COV_SCALE}.0 AS xy
  FROM el GROUP BY dim
),
scal AS MATERIALIZED (
  SELECT n, d, tr, n_pos,
         ROUND(1.0 / (tr / n + {PROBE_LAMBDA} * d), {PROBE_ROUND}) AS eta
  FROM (
    SELECT CAST(COUNT(DISTINCT vec_id) AS DOUBLE) AS n,
           CAST(MAX(dim) + 1 AS DOUBLE) AS d,
           CAST(SUM(y) AS DOUBLE) / CAST(MAX(dim) + 1 AS DOUBLE) AS n_pos
    FROM el) a
  CROSS JOIN (SELECT SUM(xx) AS tr FROM mat WHERE i = j) b
),
w0 AS MATERIALIZED (
  SELECT DISTINCT i AS dim, 0.0 AS val FROM mat
),
{",".join(steps)},
wxy AS (SELECT SUM(w.val * x.xy) AS wxy FROM {last} w JOIN xty x ON x.dim = w.dim),
wxxw AS (
  SELECT SUM(wi.val * m.xx * wj.val) AS wxxw
  FROM mat m JOIN {last} wi ON m.i = wi.dim JOIN {last} wj ON m.j = wj.dim
)
SELECT CAST(w.dim AS INT) AS dim,
       ROUND(w.val, 6) AS weight,
       ROUND((s.n_pos - 2.0 * wxy.wxy + wxxw.wxxw) / s.n, 6) AS train_mse,
       CAST(s.n_pos AS BIGINT) AS n_pos
FROM {last} w, wxy, wxxw, scal s
ORDER BY dim
""".strip()


LINEAR_PROBE_SQL = _linear_probe_sql()


# --- maximal marginal relevance (diversified top-k selection) ---------------

MMR_QUERY_ID = 0  # the query vector: vec_id 0's embedding
MMR_POOL = 100  # relevance-ranked candidate pool fed to the greedy loop
MMR_K = 10  # selections
MMR_LAMBDA = 0.7  # relevance weight; (1-lambda) penalizes redundancy


def mmr_select(
    emb: DataFrame,
    k: int = MMR_K,
    pool: int = MMR_POOL,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998)
    diversified top-k: greedily pick the vector maximizing
    λ·cos(v, query) − (1−λ)·max_{s∈selected} cos(v, s) — the standard
    redundancy-suppressing selection for retrieval results and for
    diversity-preserving training-data subset picks (a per-query
    SemDeDup). The query is ``vec_id = MMR_QUERY_ID``'s embedding; all
    cosines are rounded to 6 dp BEFORE comparisons, ties break on
    vec_id, so the greedy trace is deterministic and the DuckDB twin
    (the same ``k`` steps unrolled as MATERIALIZED CTEs) hash-matches.

    Scale: relevance is one broadcast-query corpus scan (the
    ``knn_bruteforce`` shape); the greedy loop runs on the top-``pool``
    candidates only, with the pool×pool cosine matrix computed ONCE and
    persisted, so each of the k−1 steps is a max-aggregation over an
    index-config-bounded pair table — never a corpus rescan, and the
    driver holds nothing (selection state is a k-row frame)."""
    from ..session import track_persist

    q = F.broadcast(
        _with_norm(emb.filter(F.col("vec_id") == MMR_QUERY_ID), "q_id", "q", "qn")
    )
    cand_all = _with_norm(
        emb.filter(F.col("vec_id") != MMR_QUERY_ID), "vec_id", "v", "vn"
    )
    rel = cand_all.crossJoin(q).select(
        "vec_id",
        "v",
        "vn",
        F.round(_dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("vn")), 6).alias(
            "rel"
        ),
    )
    cand = track_persist(
        rel.orderBy(F.desc("rel"), F.asc("vec_id")).limit(pool)
    )
    a = cand.select(
        F.col("vec_id").alias("i"), F.col("v").alias("va"), F.col("vn").alias("na")
    )
    b = cand.select(
        F.col("vec_id").alias("j"), F.col("v").alias("vb"), F.col("vn").alias("nb")
    )
    pairm = track_persist(
        a.join(b, F.col("i") != F.col("j")).select(
            "i",
            "j",
            F.round(
                _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cos"),
        )
    )
    scores = cand.select("vec_id", "rel")
    sel = (
        scores.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select(
            F.lit(1).alias("rank"), "vec_id", "rel", F.col("rel").alias("mmr_score")
        )
    )
    for t in range(2, k + 1):
        sel_ids = sel.select(F.col("vec_id").alias("j"))
        msim = (
            pairm.join(F.broadcast(sel_ids), "j")
            .groupBy("i")
            .agg(F.max("cos").alias("m"))
        )
        step_score = F.round(
            # round the redundancy weight to the SAME decimal literal the
            # SQL twin interpolates: raw 1.0-lam is 0.30000000000000004
            # for lam=0.7 and the engines would multiply different doubles
            F.lit(lam) * F.col("rel") - F.lit(round(1.0 - lam, 10)) * F.col("m"), 6
        )
        pick = (
            scores.join(sel.select("vec_id"), "vec_id", "left_anti")
            .join(msim.withColumnRenamed("i", "vec_id"), "vec_id")
            .select("vec_id", "rel", step_score.alias("mmr_score"))
            .orderBy(F.desc("mmr_score"), F.asc("vec_id"))
            .limit(1)
            .select(F.lit(t).alias("rank"), "vec_id", "rel", "mmr_score")
        )
        sel = sel.unionAll(pick).localCheckpoint(eager=True)
    return sel.select(
        "rank", "vec_id", F.col("rel").alias("relevance"), "mmr_score"
    ).orderBy("rank")


def _mmr_sql(
    k: int = MMR_K, pool: int = MMR_POOL, lam: float = MMR_LAMBDA
) -> str:
    """DuckDB twin: the same greedy trace, k−1 steps unrolled as
    MATERIALIZED CTEs over the same persisted-pool shapes."""
    steps = []
    prev = "sel1"
    for t in range(2, k + 1):
        steps.append(f"""pick{t} AS MATERIALIZED (
  SELECT c.vec_id, c.rel,
         ROUND({lam} * c.rel - {round(1.0 - lam, 10)} * ms.m, 6) AS mmr_score
  FROM cand c
  JOIN (SELECT i, MAX(cos) AS m FROM pairm
        WHERE j IN (SELECT vec_id FROM {prev}) GROUP BY i) ms ON ms.i = c.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
  ORDER BY mmr_score DESC, c.vec_id ASC
  LIMIT 1
),
sel{t} AS MATERIALIZED (
  SELECT * FROM {prev}
  UNION ALL SELECT vec_id, rel, {t} AS rank, mmr_score FROM pick{t}
)""")
        prev = f"sel{t}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH q0 AS (SELECT CAST(embedding AS DOUBLE[]) AS q
            FROM embeddings WHERE vec_id = {MMR_QUERY_ID}),
rel AS (
  SELECT c.vec_id, CAST(c.embedding AS DOUBLE[]) AS v,
         ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q0.q), 6) AS rel
  FROM embeddings c CROSS JOIN q0
  WHERE c.vec_id != {MMR_QUERY_ID}
),
cand AS MATERIALIZED (
  SELECT vec_id, v, rel FROM rel ORDER BY rel DESC, vec_id ASC LIMIT {pool}
),
pairm AS MATERIALIZED (
  SELECT a.vec_id AS i, b.vec_id AS j,
         ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
  FROM cand a JOIN cand b ON a.vec_id != b.vec_id
),
sel1 AS MATERIALIZED (
  SELECT vec_id, rel, 1 AS rank, rel AS mmr_score
  FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
),
{steps_sql}
SELECT CAST(rank AS INT) AS rank, vec_id, rel AS relevance, mmr_score
FROM {prev}
ORDER BY rank
""".strip()


MMR_SELECT_SQL = _mmr_sql()


# --- Mahalanobis (diagonal) OOD scoring -------------------------------------

MAHA_CRIT = 93.217  # chi-square 0.99 quantile at d=64 — the OOD flag line


def mahalanobis_ood(emb: DataFrame) -> DataFrame:
    """Out-of-distribution scoring by DIAGONAL Mahalanobis distance:
    score(v) = Σ_d (v_d − μ_d)²/σ²_d against the corpus per-dimension
    moments — the cheap member of the OOD family (full-covariance
    Mahalanobis needs the inverse ``emb_covariance`` provides; the
    diagonal is the 1-pass approximation production filters run first).
    Flags vectors above the χ²₆₄ 0.99 line. Complements
    ``emb_label_outliers`` (which scores against the vector's OWN label
    centroid): this is corpus-global, label-free.

    Exactness: moments come from the ``dim_stats`` integer-microunit
    sums (FLOOR(v·10⁶) — no round-half ties); each per-dimension term
    is derived from those exact sums with one fixed-association double
    expression, ROUNDED TO 6 DP, and accumulated as DECIMAL — so the
    per-vector sum is order-independent and both engines agree
    bit-for-bit. Zero-variance dimensions NULL out (NULLIF) and drop
    from the sum in both engines; ``n_dims_used`` reports how many
    contributed.

    Scale: one posexplode + dimension-keyed aggregation for the
    moments (d groups), the 64-row moment table broadcast back, one
    vector-keyed aggregation for the scores — no windows, no skew."""
    q = F.floor(F.col("v").cast("double") * F.lit(float(DIM_STATS_SCALE))).cast(
        "bigint"
    )
    el = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "label", "dim", F.col("v").cast("double").alias("v"), q.alias("q"))
    n = F.count("*")
    s1 = F.sum(F.col("q"))
    s2 = F.sum(F.col("q") * F.col("q"))
    dims = F.broadcast(
        el.groupBy("dim").agg(
            n.cast("bigint").alias("n"),
            s1.alias("s1"),
            s2.alias("s2"),
        )
    )
    nn = F.col("n").cast("double")
    mu_q = F.col("s1").cast("double") / nn
    var_q = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / nn
    ) / (nn - F.lit(1.0))
    term = (
        (F.col("q").cast("double") - mu_q)
        * (F.col("q").cast("double") - mu_q)
        / F.nullif(var_q, F.lit(0.0))
    )
    scored = el.join(dims, "dim").select(
        "vec_id",
        "label",
        F.round(term, 6).cast("decimal(28,6)").alias("t6"),
    )
    return (
        scored.groupBy("vec_id", "label")
        .agg(
            F.count("t6").cast("bigint").alias("n_dims_used"),
            F.round(F.sum("t6").cast("double"), 6).alias("maha_sq"),
        )
        .withColumn("is_outlier", F.col("maha_sq") > MAHA_CRIT)
        .orderBy("vec_id")
    )


MAHALANOBIS_OOD_SQL = f"""
WITH el AS (
  SELECT vec_id, label, i - 1 AS dim,
         CAST(embedding[i] AS DOUBLE) AS v,
         CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * {float(DIM_STATS_SCALE)}) AS BIGINT) AS q
  FROM embeddings, (SELECT unnest(range(1, len(embedding) + 1)) AS i)
),
dims AS (
  SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q) AS BIGINT) AS s1,
         CAST(SUM(q * q) AS BIGINT) AS s2
  FROM el GROUP BY dim
),
scored AS (
  SELECT e.vec_id, e.label,
         CAST(ROUND((CAST(e.q AS DOUBLE) - CAST(d.s1 AS DOUBLE) / CAST(d.n AS DOUBLE))
                    * (CAST(e.q AS DOUBLE) - CAST(d.s1 AS DOUBLE) / CAST(d.n AS DOUBLE))
                    / NULLIF((CAST(d.s2 AS DOUBLE)
                              - CAST(d.s1 AS DOUBLE) * CAST(d.s1 AS DOUBLE) / CAST(d.n AS DOUBLE))
                             / (CAST(d.n AS DOUBLE) - 1.0), 0.0), 6)
              AS DECIMAL(28,6)) AS t6
  FROM el e JOIN dims d ON e.dim = d.dim
)
SELECT vec_id, label,
       CAST(COUNT(t6) AS BIGINT) AS n_dims_used,
       ROUND(CAST(SUM(t6) AS DOUBLE), 6) AS maha_sq,
       ROUND(CAST(SUM(t6) AS DOUBLE), 6) > {MAHA_CRIT} AS is_outlier
FROM scored
GROUP BY vec_id, label
ORDER BY vec_id
""".strip()


# --- TwoNN intrinsic dimension estimator ------------------------------------

TWONN_ANCHORS = 256  # md5-ordered anchor sample; estimator input size
TWONN_HEX_LEN = 8


def intrinsic_dim(emb: DataFrame, n_anchors: int = TWONN_ANCHORS) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017): for each
    of ``n_anchors`` md5-sampled anchor vectors, the ratio μ = r₂/r₁ of
    its two nearest-neighbor EUCLIDEAN distances; the manifold
    dimension estimate is d = n / Σ ln μ — the curse-of-dimensionality
    diagnostic that tells an ANN-index designer whether 64-dim
    embeddings really span 64 dimensions or sit on a ~10-dim manifold
    (IVF cell counts, PQ segment budgets, and LSH band tuning all key
    off this). One summary row plus the per-anchor μ distribution
    quartiles.

    Determinism: anchor choice is the md5-hex order (same literal
    predicate in the twin); distances round to 6 dp BEFORE the r₁/r₂
    selection (ties then break on neighbor id deterministically);
    ln μ terms round to 6 dp and accumulate as DECIMAL.

    Scale: anchors broadcast against one corpus scan (the
    ``knn_bruteforce`` shape — linear in the corpus, quadratic only in
    the fixed anchor count); the estimator itself runs on an
    anchor-sized frame."""
    ranked = emb.select(
        "vec_id",
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, TWONN_HEX_LEN).alias(
            "hx"
        ),
    )
    anchors_ids = ranked.orderBy("hx", "vec_id").limit(n_anchors)
    # OPTIMIZATION r12 (guide §4.2): the anchors × corpus distance scan
    # used an interpreted-HOF fold per pair (n_anchors · n pairs × dim
    # lambda steps — the key's dominant cost at every SF). The anchor
    # block is CONSTANT-BOUNDED (TWONN_ANCHORS rows — the same
    # plane/label-bounded driver-pull class the SRP hyperplanes use),
    # so it is collected once into a numpy matrix and each corpus batch
    # computes all its anchor distances as ONE |a|² + |c|² − 2·C@Aᵀ
    # BLAS tile inside mapInArrow. The authoritative HALF_UP rounding
    # stays in Spark (F.round, as in _verified_pair_cosines); sqrt is
    # IEEE-correctly-rounded in both engines. NOTE (ADVICE r12): the
    # BLAS tile's summation order differs from the replaced sequential
    # HOF fold by ulps, which the 6-dp round absorbs EMPIRICALLY
    # (oracle hash-matched at committed SFs), not by construction — a
    # distance within ulps of a 6-dp half-boundary could in principle
    # round differently and flip the (dist ASC, c_id ASC) top-2
    # tie-break. Distribution unchanged:
    # anchors were already broadcast, the corpus is still scanned in
    # place, and the estimator below is untouched.
    import numpy as np
    import pyarrow as pa

    anchor_rows = (
        emb.join(anchors_ids.select("vec_id"), "vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    a_ids = np.array([r["vec_id"] for r in anchor_rows], dtype=np.int64)
    a_mat = np.array([r["embedding"] for r in anchor_rows], dtype=np.float64)
    a_sq = np.einsum("ij,ij->i", a_mat, a_mat)

    def _dists(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            c_ids = rb.column(0).to_numpy(zero_copy_only=False)
            c_mat = (
                rb.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, -1)
            )
            c_sq = np.einsum("ij,ij->i", c_mat, c_mat)
            d2 = a_sq[None, :] + c_sq[:, None] - 2.0 * (c_mat @ a_mat.T)
            dist = np.sqrt(np.maximum(d2, 0.0))
            aa = np.broadcast_to(a_ids[None, :], dist.shape).ravel()
            cc = np.repeat(c_ids, len(a_ids))
            dd = dist.ravel()
            keep = aa != cc
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(aa[keep], type=pa.int64()),
                    pa.array(cc[keep], type=pa.int64()),
                    pa.array(dd[keep], type=pa.float64()),
                ],
                names=["a_id", "c_id", "dist_raw"],
            )

    scored = emb.select("vec_id", "embedding").mapInArrow(
        _dists, schema="a_id long, c_id long, dist_raw double"
    ).select("a_id", "c_id", F.round("dist_raw", 6).alias("dist"))
    w = Window.partitionBy("a_id").orderBy(F.asc("dist"), F.asc("c_id"))
    top2 = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .groupBy("a_id")
        .agg(
            F.min(F.when(F.col("rk") == 1, F.col("dist"))).alias("r1"),
            F.min(F.when(F.col("rk") == 2, F.col("dist"))).alias("r2"),
        )
        .filter(F.col("r1") > 0)  # exact-duplicate anchors drop (mu undefined)
    )
    mus = top2.select(
        "a_id",
        F.round(F.log(F.col("r2") / F.col("r1")), 6)
        .cast("decimal(28,6)")
        .alias("lnmu"),
    )
    return mus.groupBy().agg(
        F.count("*").cast("bigint").alias("n_anchors_used"),
        F.round(
            F.count("*").cast("double") / F.sum("lnmu").cast("double"), 6
        ).alias("intrinsic_dim"),
        F.round(F.avg(F.col("lnmu").cast("double")), 6).alias("mean_ln_mu"),
        F.round(F.max(F.col("lnmu")).cast("double"), 6).alias("max_ln_mu"),
    )


INTRINSIC_DIM_SQL = f"""
WITH anchors_ids AS (
  SELECT vec_id
  FROM (SELECT vec_id, substr(md5(CAST(vec_id AS VARCHAR)), 1, {TWONN_HEX_LEN}) AS hx
        FROM embeddings)
  ORDER BY hx, vec_id LIMIT {TWONN_ANCHORS}
),
scored AS (
  SELECT a.vec_id AS a_id, c.vec_id AS c_id,
         ROUND(SQRT(GREATEST(
           list_sum(list_transform(CAST(a.embedding AS DOUBLE[]),
                                   x -> x * x))
           + list_sum(list_transform(CAST(c.embedding AS DOUBLE[]),
                                     x -> x * x))
           - 2.0 * list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])), 0.0)), 6) AS dist
  FROM embeddings a
  JOIN anchors_ids ai ON a.vec_id = ai.vec_id
  JOIN embeddings c ON c.vec_id != a.vec_id
),
top2 AS (
  SELECT a_id,
         MIN(CASE WHEN rk = 1 THEN dist END) AS r1,
         MIN(CASE WHEN rk = 2 THEN dist END) AS r2
  FROM (SELECT a_id, c_id, dist,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY dist ASC, c_id ASC) AS rk
        FROM scored)
  WHERE rk <= 2
  GROUP BY a_id
),
mus AS (
  SELECT a_id, CAST(ROUND(LN(r2 / r1), 6) AS DECIMAL(28,6)) AS lnmu
  FROM top2 WHERE r1 > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_anchors_used,
       ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(lnmu) AS DOUBLE), 6) AS intrinsic_dim,
       ROUND(AVG(CAST(lnmu AS DOUBLE)), 6) AS mean_ln_mu,
       ROUND(CAST(MAX(lnmu) AS DOUBLE), 6) AS max_ln_mu
FROM mus
""".strip()


# --- kNN label purity (retrieval eval without ground truth) --------------------

PURITY_N_QUERIES = 50
PURITY_K = 5


def label_purity(emb: DataFrame) -> DataFrame:
    """Label-consistency retrieval metric: for each query vector, what
    fraction of its exact top-k cosine neighbors carry the query's own
    label — the ground-truth-free quality number for an embedding space
    (high purity = the space clusters semantically; ~1/|labels| = the
    embeddings are noise for this task). One summary row per label plus
    its query count and mean purity; complements the
    ``emb_ann_recall_panel`` (which scores INDEX fidelity against brute
    force, not the SPACE itself) and ``emb_linear_probe`` (which needs
    a trained head).

    Scale: reuses ``knn_bruteforce``'s broadcast-queries/corpus-scan
    shape with {PURITY_N_QUERIES} queries; purity aggregates are
    integer counts, exact in any order."""
    nn = knn_bruteforce(emb, n_queries=PURITY_N_QUERIES, k=PURITY_K)
    labels = emb.select("vec_id", F.col("label").cast("int").alias("lbl"))
    ql = labels.withColumnRenamed("vec_id", "query_id").withColumnRenamed(
        "lbl", "q_lbl"
    )
    cl = labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed(
        "lbl", "n_lbl"
    )
    per_q = (
        nn.join(F.broadcast(ql), "query_id")
        .join(cl, "neighbor_id")
        .groupBy("query_id", "q_lbl")
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.sum((F.col("n_lbl") == F.col("q_lbl")).cast("int"))
            .cast("bigint")
            .alias("n_same"),
        )
    )
    return (
        per_q.groupBy("q_lbl")
        .agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.sum("k").cast("bigint").alias("n_neighbors"),
            F.sum("n_same").cast("bigint").alias("n_same_label"),
            F.round(
                F.sum("n_same").cast("double") / F.sum("k").cast("double"), 6
            ).alias("purity"),
        )
        .select(
            F.col("q_lbl").cast("bigint").alias("label"),
            "n_queries",
            "n_neighbors",
            "n_same_label",
            "purity",
        )
        .orderBy("label")
    )


LABEL_PURITY_SQL = f"""
WITH nn AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
                      c.vec_id ASC) AS rank
    FROM embeddings q
    JOIN embeddings c ON c.vec_id >= {PURITY_N_QUERIES}
                     AND q.vec_id < {PURITY_N_QUERIES}
  )
  WHERE rank <= {PURITY_K}
),
per_q AS (
  SELECT nn.query_id, CAST(ql.label AS INT) AS q_lbl,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CASE WHEN CAST(cl.label AS INT) = CAST(ql.label AS INT)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_same
  FROM nn
  JOIN embeddings ql ON ql.vec_id = nn.query_id
  JOIN embeddings cl ON cl.vec_id = nn.neighbor_id
  GROUP BY 1, 2
)
SELECT CAST(q_lbl AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(k) AS BIGINT) AS n_neighbors,
       CAST(SUM(n_same) AS BIGINT) AS n_same_label,
       ROUND(CAST(SUM(n_same) AS DOUBLE) / CAST(SUM(k) AS DOUBLE), 6) AS purity
FROM per_q
GROUP BY 1
ORDER BY 1
""".strip()


# --- semantic (embedding-level) decontamination ------------------------
#
# The lexical decontamination keys (llm/dedup.py fuzzy_decontamination)
# catch surface-form leakage; paraphrased or templated contamination
# survives shingle hashing but not embedding cosine. Split the corpus
# into train/eval by an md5 hash (deterministic, oracle-mirrored) and
# report, per eval vector, its near-duplicate TRAIN matches from the
# exact cosine pair list — the "is my eval set in the training data at
# the semantic level" audit a 100 TB pipeline runs before every eval.

SEMDECON_SALT = ":semsplit"
SEMDECON_EVAL_HEX = "4"  # md5 first nibble < '4' => eval (~25%)


def semantic_decontamination(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per eval vector: how many train-side cosine near-dups it has,
    and the strongest one (ties to the lower train id). ``pairs`` is
    the exact threshold pair list (a_id < b_id, cosine >= threshold) —
    inject the shared ``emb_pairs`` asset so the O(n²) block-pair work
    is paid once per session, not per consumer.

    Scale: the pair list is sparse (near-dups only); the split flags
    broadcast-join onto it; one row_number window per eval id. The
    expensive part is the pair build, which is the already-governed
    shared asset."""
    split = emb.select(
        "vec_id",
        (
            F.substring(
                F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(SEMDECON_SALT))),
                1,
                1,
            )
            < SEMDECON_EVAL_HEX
        ).alias("is_eval"),
    )
    p = (
        pairs.join(
            F.broadcast(
                split.select(
                    F.col("vec_id").alias("a_id"), F.col("is_eval").alias("a_eval")
                )
            ),
            "a_id",
        )
        .join(
            F.broadcast(
                split.select(
                    F.col("vec_id").alias("b_id"), F.col("is_eval").alias("b_eval")
                )
            ),
            "b_id",
        )
        .filter(F.col("a_eval") != F.col("b_eval"))
        .select(
            F.when(F.col("a_eval"), F.col("a_id")).otherwise(F.col("b_id")).alias(
                "eval_id"
            ),
            F.when(F.col("a_eval"), F.col("b_id")).otherwise(F.col("a_id")).alias(
                "train_id"
            ),
            "cosine",
        )
    )
    w = Window.partitionBy("eval_id").orderBy(
        F.col("cosine").desc(), F.col("train_id").asc()
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .groupBy("eval_id")
        .agg(
            F.count("*").cast("bigint").alias("n_train_neardups"),
            F.max(F.when(F.col("rn") == 1, F.col("train_id"))).alias("top_train_id"),
            F.max(F.when(F.col("rn") == 1, F.col("cosine"))).alias("top_cosine"),
        )
        .orderBy("eval_id")
    )


SEMANTIC_DECONTAMINATION_SQL = f"""
WITH pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 6)
        >= {NEARDUP_THRESHOLD}
),
split AS (
  SELECT vec_id,
         substr(md5(CAST(vec_id AS VARCHAR) || '{SEMDECON_SALT}'), 1, 1)
           < '{SEMDECON_EVAL_HEX}' AS is_eval
  FROM embeddings
),
cross_pairs AS (
  SELECT CASE WHEN sa.is_eval THEN p.a_id ELSE p.b_id END AS eval_id,
         CASE WHEN sa.is_eval THEN p.b_id ELSE p.a_id END AS train_id,
         p.cosine
  FROM pairs p
  JOIN split sa ON sa.vec_id = p.a_id
  JOIN split sb ON sb.vec_id = p.b_id
  WHERE sa.is_eval != sb.is_eval
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY eval_id ORDER BY cosine DESC, train_id ASC) AS rn
  FROM cross_pairs
)
SELECT eval_id,
       CAST(COUNT(*) AS BIGINT) AS n_train_neardups,
       MAX(CASE WHEN rn = 1 THEN train_id END) AS top_train_id,
       MAX(CASE WHEN rn = 1 THEN cosine END) AS top_cosine
FROM ranked
GROUP BY eval_id
ORDER BY eval_id
""".strip()


def semantic_decontamination_governed(
    emb: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    n_bits: int | None = None,
    band_bits: int | None = None,
    seed: int = SRP_SEED,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """The PRODUCTION path for semantic decontamination (VERDICT r7
    #2): ``semantic_decontamination`` audits the exact all-near-dup
    pair list, which is quadratic by contract (SCALING_r7 f10 = 77.9×,
    274.9 s at sf1) — fine as the oracle twin, unrunnable over a
    100 TB train×eval cross. This variant generates train×eval
    candidates with the already-governed SRP-LSH banding
    (``srp_buckets`` — the ``docs_fuzzy_decontamination`` shape, f10
    1.98) and verifies candidates with the exact cosine, so the pair
    work is banded/bucketed, never all-pairs.

    Output schema and semantics match the exact key row-for-row on
    every pair the bands surface: (eval_id, n_train_neardups,
    top_train_id, top_cosine). Misses are pairs no band agreed on —
    the standard LSH recall trade, measured against the exact twin in
    tests (governed ⊆ exact per eval id, n ≤ exact n).

    Scale: the split flag is a map-side md5 expression; candidates
    come from one equi-join on (band, bucket) with the adaptive
    band-width governor keeping bucket occupancy ~constant per decade;
    verification touches candidates only (Arrow einsum); the final
    rollup is one window + one groupBy on eval_id. At 100 TB the eval
    side is the held-out sliver, so the candidate join is effectively
    a semi-broadcast probe of the train-side buckets. ``sigs``
    injects the shared ``srp_sigs`` asset (precedence over
    ``band_bits``)."""
    split = emb.select(
        "vec_id",
        (
            F.substring(
                F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(SEMDECON_SALT))),
                1,
                1,
            )
            < SEMDECON_EVAL_HEX
        ).alias("is_eval"),
    )
    if sigs is None:
        sigs = srp_buckets(emb, n_bits=n_bits, band_bits=band_bits, seed=seed)
    sigs = sigs.join(split, "vec_id")
    ev = sigs.filter(F.col("is_eval")).select(
        "band", "bucket", F.col("vec_id").alias("eval_id")
    )
    tr = sigs.filter(~F.col("is_eval")).select(
        "band", "bucket", F.col("vec_id").alias("train_id")
    )
    candidates = (
        ev.repartition(shuffle_parts(ev), "band", "bucket")
        .join(tr, ["band", "bucket"])
        .select("eval_id", "train_id")
        .distinct()
    )
    verified = _verified_pair_cosines(
        emb, candidates, "eval_id", "train_id", threshold
    )
    w = Window.partitionBy("eval_id").orderBy(
        F.col("cosine").desc(), F.col("train_id").asc()
    )
    return (
        verified.withColumn("rn", F.row_number().over(w))
        .groupBy("eval_id")
        .agg(
            F.count("*").cast("bigint").alias("n_train_neardups"),
            F.max(F.when(F.col("rn") == 1, F.col("train_id"))).alias("top_train_id"),
            F.max(F.when(F.col("rn") == 1, F.col("cosine"))).alias("top_cosine"),
        )
        .orderBy("eval_id")
    )


def semantic_decontamination_governed_sql(
    band_bits: int = 4,
    threshold: float = NEARDUP_THRESHOLD,
    n_bits: int = 64,
) -> str:
    """Oracle twin of ``semantic_decontamination_governed`` at an
    explicit band width AND cosine threshold, composed from the SAME
    ``_srp_sig_ctes`` block as the LSH near-dup oracle. Both knobs of
    the Spark path are mirrored so a non-default ``threshold`` keeps a
    matching twin (ADVICE r8). The registered constant uses the 4-bit
    default — valid while the corpus is ≤4096 vectors (guarded by
    tests/test_testdata_contract.py); pytest diffs the 8-bit regime
    cross-engine through this builder."""
    return f"""
WITH {_srp_sig_ctes(band_bits, n_bits)},
split AS (
  SELECT vec_id,
         substr(md5(CAST(vec_id AS VARCHAR) || '{SEMDECON_SALT}'), 1, 1)
           < '{SEMDECON_EVAL_HEX}' AS is_eval
  FROM embeddings
),
ts AS (
  SELECT s.vec_id, s.band, s.bucket, sp.is_eval
  FROM sigs s JOIN split sp ON sp.vec_id = s.vec_id
),
cand AS (
  SELECT DISTINCT a.vec_id AS eval_id, b.vec_id AS train_id
  FROM ts a JOIN ts b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.is_eval AND NOT b.is_eval
),
ver AS (
  SELECT c.eval_id, c.train_id,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.eval_id
  JOIN embeddings b ON b.vec_id = c.train_id
  WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 6)
        >= {threshold}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY eval_id ORDER BY cosine DESC, train_id ASC) AS rn
  FROM ver
)
SELECT eval_id,
       CAST(COUNT(*) AS BIGINT) AS n_train_neardups,
       MAX(CASE WHEN rn = 1 THEN train_id END) AS top_train_id,
       MAX(CASE WHEN rn = 1 THEN cosine END) AS top_cosine
FROM ranked
GROUP BY eval_id
ORDER BY eval_id
""".strip()


SEMANTIC_DECONTAMINATION_GOVERNED_SQL = semantic_decontamination_governed_sql()


# --- k-means++ initialization (exact, driver-verifiable) ---------------------

KPP_K = 8
KPP_SALT = 23
KPP_UNIF_HEX = 12  # md5 hex chars per sampling uniform


def _kpp_uniform(j: int, salt: int = KPP_SALT) -> float:
    """Deterministic sampling uniform for seeding step j: the first 12
    hex chars of md5('kpp:<salt>:<j>') over 16^12 — data-independent,
    so both engines inline the SAME literal."""
    import hashlib

    h = hashlib.md5(f"kpp:{salt}:{j}".encode()).hexdigest()[:KPP_UNIF_HEX]
    return int(h, 16) / float(16**KPP_UNIF_HEX)


def kmeanspp_init(
    emb: DataFrame, k: int = KPP_K, salt: int = KPP_SALT
) -> DataFrame:
    """k-means++ (Arthur & Vassilvitskii) D²-weighted seeding — the
    missing INITIALIZATION leg of the clustering family
    (``emb_kmeans_cells`` trains from hash-ordered seeds; ++ seeding
    provably bounds the potential to O(log k)·OPT). Seed 1 is the
    md5-min vector (the same seeded-order device as the trainer);
    each later seed is sampled ∝ D²(x) = min distance² to the chosen
    set, using a deterministic md5 uniform per step
    (``_kpp_uniform``) against the D² cumulative distribution in
    vec_id order.

    EXACT cross-engine (VERDICT r9 #3 / ADVICE r9): per-step distances
    are 6-dp-rounded float aggregations (the suite's standard heal for
    accumulation order), then scaled to INTEGER MICRO-UNITS
    (``CAST(ROUND(d·1e6) AS BIGINT)`` — exact, since d carries 6 dp) so
    every prefix/total sum is integer arithmetic: order-independent and
    bit-equal in both engines by construction, not by window-executor
    accident. Φ is the exact integer total divided back to a double
    only at the comparison/readout (both engines perform the identical
    int→double cast + division). The chosen seed is the first crossing
    of u·Φ in vec_id order, tie-broken by vec_id.

    Output one row per seed: (seed_rank, vec_id, phi_before — the
    corpus potential the step sampled against, NULL for rank 1).

    Scale: k-1 linear passes, each one broadcast seed-distance map +
    one TWO-LEVEL prefix sum + one 1-row selection — the textbook
    kmeans++ cost with no global-order window anywhere: the corpus is
    range-partitioned by vec_id ONCE (layout preserved through the
    narrow per-step least() updates), per-partition integer subtotals
    (≤ shuffle-width rows) are collected and turned into broadcast
    offsets, and the crossing scan is a PARTITIONED window + offset —
    the ``exact_row_number`` discipline, so no step ever moves the
    (vec_id, d²) projection through a single task. At 100 TB you'd
    swap in k-means|| oversampling (``kmeansbb_candidates``) and run
    this ++ finish verbatim on the bounded candidate table. Per-step
    dmin frames are localCheckpointed so the plan stays one step deep
    (the iterative-family discipline)."""
    from pyspark.sql import Window

    from ..session import shuffle_parts

    x = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).localCheckpoint(eager=True)
    first = (
        x.orderBy(
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(f":{salt}"))),
            "vec_id",
        )
        .limit(1)
        .collect()[0]
    )
    chosen = [(1, first.vec_id, None)]
    seed_vec = list(first.v)

    def _d2(col, vec):
        lit = F.array(*[F.lit(float(c)) for c in vec])
        return F.round(
            F.aggregate(
                F.zip_with(col, lit, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            6,
        )

    # exact integer micro-units of the 6-dp distance (DECIMAL(38,0)
    # sums never overflow and never depend on accumulation order)
    _micro = F.round(F.col("d") * F.lit(1e6), 0).cast("bigint")
    n_parts = shuffle_parts(emb)
    # range-partition ONCE; _pid stays valid through the narrow least()
    # updates because select/localCheckpoint preserve partition layout
    dmin = (
        x.select("vec_id", "v", _d2(F.col("v"), seed_vec).alias("d"))
        .repartitionByRange(n_parts, "vec_id")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    steps_since_ckpt = 0
    for j in range(2, k + 1):
        u = _kpp_uniform(j, salt)
        # level 1: per-partition exact integer subtotals (≤ n_parts rows)
        psums = sorted(
            (r["_pid"], int(r["s"]))
            for r in dmin.groupBy("_pid")
            .agg(F.sum(_micro.cast("decimal(38,0)")).alias("s"))
            .collect()
        )
        phi_micro = sum(s for _, s in psums)  # exact integer Φ·1e6
        phi = phi_micro / 1e6  # same int→double cast + divide as the SQL
        # The crossing PARTITION is decidable driver-side from the
        # subtotals alone (VERDICT r10 #6): range partitioning makes
        # (pid, vec_id) the global vec_id order, cums are monotone, and
        # a partition holds the first crossing iff its LAST global cum
        # — the exact integer offset+subtotal — crosses under the SAME
        # double compare the row filter uses. The pick job then scans
        # ONE partition with its offset inlined as an exact decimal
        # literal: no broadcast-offset frame, no full-corpus window,
        # and the per-step round-trips drop from 3 (checkpoint +
        # subtotal + full-scan pick) to the subtotal + 1-partition pick
        # (checkpoint every 3rd step, the iterative-family cadence).
        acc = 0
        p_star, off_star = psums[0][0], 0
        for pid, s in psums:
            if (acc + s) / 1e6 >= u * phi:
                p_star, off_star = pid, acc
                break
            acc += s
        wp = (
            Window.partitionBy("_pid")
            .orderBy("vec_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        pick = (
            dmin.filter(F.col("_pid") == p_star)
            .withColumn(
                "cum_micro",
                (
                    F.sum(_micro.cast("decimal(38,0)")).over(wp)
                    + F.lit(str(off_star)).cast("decimal(38,0)")
                ).cast("decimal(38,0)"),
            )
            .filter(
                F.col("cum_micro").cast("double") / F.lit(1e6)
                >= F.lit(u) * F.lit(phi)
            )
            .orderBy("vec_id")
            .limit(1)
            .collect()[0]
        )
        chosen.append((j, pick.vec_id, phi))
        seed_vec = list(pick.v)
        if j < k:
            dmin = dmin.select(
                "vec_id",
                "v",
                F.least(F.col("d"), _d2(F.col("v"), seed_vec)).alias("d"),
                "_pid",
            )
            steps_since_ckpt += 1
            if steps_since_ckpt >= 3:
                dmin = dmin.localCheckpoint(eager=True)
                steps_since_ckpt = 0
    spark = emb.sparkSession
    out = spark.createDataFrame(
        [(r, v, p) for r, v, p in chosen], "seed_rank int, vec_id bigint, phi_before double"
    )
    return out.select(
        "seed_rank",
        "vec_id",
        F.round("phi_before", 6).alias("phi_before"),
    ).orderBy("seed_rank")


def kmeanspp_init_sql(k: int = KPP_K, salt: int = KPP_SALT) -> str:
    """Unrolled DuckDB twin: step CTEs MATERIALIZED (each dmin frame is
    referenced by the crossing scan AND the next step), the same
    md5-min first seed, the same inlined uniforms. The prefix
    distribution is the exact INTEGER micro-unit sum (ADVICE r9:
    ``CAST(ROUND(d*1e6) AS BIGINT)``), so the crossing decision is
    arithmetic-identical to the Spark side's two-level prefix sum — no
    reliance on either engine's float cumulative-window order."""
    parts = [
        f"""x AS MATERIALIZED (
  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
seed1 AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{salt}'), vec_id LIMIT 1
),
d1 AS MATERIALIZED (
  SELECT x.vec_id, ROUND(SUM((x.v - s.v) * (x.v - s.v)), 6) AS d
  FROM x JOIN (SELECT pos, v FROM x JOIN seed1 USING (vec_id)) s USING (pos)
  GROUP BY x.vec_id
)"""
    ]
    picks = ["SELECT 1 AS seed_rank, vec_id, CAST(NULL AS DOUBLE) AS phi_before FROM seed1"]
    for j in range(2, k + 1):
        u = _kpp_uniform(j, salt)
        parts.append(
            f"""cum{j} AS MATERIALIZED (
  SELECT vec_id,
         SUM(CAST(ROUND(d * 1000000.0) AS BIGINT))
           OVER (ORDER BY vec_id ROWS UNBOUNDED PRECEDING) AS cum_micro
  FROM d{j - 1}
),
phi{j} AS MATERIALIZED (
  SELECT CAST(SUM(CAST(ROUND(d * 1000000.0) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS phi
  FROM d{j - 1}
),
pick{j} AS MATERIALIZED (
  SELECT vec_id, (SELECT phi FROM phi{j}) AS phi
  FROM cum{j}
  WHERE CAST(cum_micro AS DOUBLE) / 1000000.0
        >= {u!r} * (SELECT phi FROM phi{j})
  ORDER BY vec_id LIMIT 1
)"""
        )
        picks.append(
            f"SELECT {j} AS seed_rank, vec_id, ROUND(phi, 6) AS phi_before FROM pick{j}"
        )
        if j < k:
            parts.append(
                f"""d{j} AS MATERIALIZED (
  SELECT d.vec_id, LEAST(d.d, n.nd) AS d
  FROM d{j - 1} d JOIN (
    SELECT x.vec_id, ROUND(SUM((x.v - s.v) * (x.v - s.v)), 6) AS nd
    FROM x JOIN (SELECT pos, v FROM x JOIN pick{j} USING (vec_id)) s USING (pos)
    GROUP BY x.vec_id
  ) n ON n.vec_id = d.vec_id
)"""
            )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT CAST(seed_rank AS INT) AS seed_rank, vec_id, phi_before FROM (\n"
        + "\nUNION ALL\n".join(picks)
        + "\n) ORDER BY seed_rank"
    )


KMEANSPP_INIT_SQL = kmeanspp_init_sql()


# --- k-means|| oversampling (the one-pass-per-round scale path) -------------

KBB_L = 16  # oversampling factor per round (~2k)
KBB_R = 2  # sampling rounds
KBB_SALT = 29


def kmeansbb_candidates(
    emb: DataFrame, l: int = KBB_L, rounds: int = KBB_R, salt: int = KBB_SALT
) -> DataFrame:
    """k-means|| (Bahmani et al., VLDB'12) candidate oversampling — the
    100 TB companion ``kmeanspp_init``'s docstring promises: instead of
    k sequential corpus passes, each round samples EVERY point
    INDEPENDENTLY with probability min(1, l·d²(x,C)/Φ) in one
    map-side pass, so k seeds cost ``rounds`` passes (2 here) plus a
    driver-sized ++ finish on the candidate set. Output is that
    candidate set with its final D²-assignment weights — exactly the
    (candidate, weight) table the ++ finish consumes.

    Determinism/cross-engine (VERDICT r9 #3 / ADVICE r9): the per-point
    sampling uniform is an in-engine md5 slice (the A-Res idiom) so
    u·Φ < l·d² evaluates identically; Φ is a PLAIN AGGREGATE over the
    6-dp distances scaled to integer micro-units
    (``SUM(CAST(ROUND(d·1e6) AS BIGINT))`` as DECIMAL — exact integer
    arithmetic, order-independent by construction), divided back to a
    double only at the comparison, with both engines performing the
    identical int→double cast + division. Distances are the suite's
    6-dp rounded aggregations. Already-chosen candidates have d²=0 and
    can never re-sample.

    Scale: per round, ONE distance join against the (broadcast-sized)
    new-candidate batch, one map-side-combinable scalar aggregate, one
    filter — no point-to-point pass depends on any other point's draw,
    and NOTHING in the operator imposes a global order (the r9 global
    cumsum window, which pushed the whole (vec_id, d²) projection
    through one task per round, is gone). The final weighting is one
    argmin assignment join."""
    from pyspark.sql import Window

    xp = (
        emb.select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
        )
    ).localCheckpoint(eager=True)
    seed = (
        emb.select(
            "vec_id",
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(f":{salt}"))).alias(
                "h"
            ),
        )
        .orderBy("h", "vec_id")
        .limit(1)
        .select("vec_id", F.lit(0).alias("round_added"))
    )
    cands = seed.localCheckpoint(eager=True)

    def _dist_to(cand_ids: DataFrame) -> DataFrame:
        """Per vec: min 6-dp-rounded squared distance to the batch."""
        cp = xp.join(
            cand_ids.select(F.col("vec_id").alias("cand")), xp.vec_id == F.col("cand")
        ).select("cand", "pos", F.col("v").alias("c"))
        return (
            xp.join(cp, "pos")
            .groupBy("vec_id", "cand")
            .agg(F.round(F.sum((F.col("v") - F.col("c")) ** 2), 6).alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("d"))
        )

    d = _dist_to(cands).localCheckpoint(eager=True)
    # exact integer micro-units of the 6-dp distance: Φ becomes a plain
    # (map-side combinable) aggregate instead of a global cumsum window
    _micro = F.round(F.col("d") * F.lit(1e6), 0).cast("decimal(38,0)")
    for r in range(1, rounds + 1):
        phi = F.broadcast(
            d.agg(
                (F.sum(_micro).cast("double") / F.lit(1e6)).alias("phi")
            )
        )
        u = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"kbb:{salt}:{r}:"), F.col("vec_id"))), 1, 12
                ),
                16,
                10,
            ).cast("double")
            / F.lit(float(2**48))
        )
        samp = (
            d.join(phi)
            .filter(u * F.col("phi") < F.lit(float(l)) * F.col("d"))
            .select("vec_id", F.lit(r).alias("round_added"))
            .localCheckpoint(eager=True)
        )
        cands = cands.unionByName(samp).localCheckpoint(eager=True)
        d = (
            d.join(_dist_to(samp).withColumnRenamed("d", "nd"), "vec_id", "left")
            .select(
                "vec_id",
                F.least(F.col("d"), F.coalesce(F.col("nd"), F.col("d"))).alias("d"),
            )
            .localCheckpoint(eager=True)
        )
    # final D2 weights: every point votes for its nearest candidate
    cp = xp.join(
        cands.select(F.col("vec_id").alias("cand")), xp.vec_id == F.col("cand")
    ).select("cand", "pos", F.col("v").alias("c"))
    pair = (
        xp.join(cp, "pos")
        .groupBy("vec_id", "cand")
        .agg(F.round(F.sum((F.col("v") - F.col("c")) ** 2), 6).alias("d2"))
    )
    aw = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("cand"))
    weights = (
        pair.withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("cand").alias("vec_id"))
        .agg(F.count("*").cast("bigint").alias("weight"))
    )
    return (
        cands.join(weights, "vec_id", "left")
        .select(
            F.col("vec_id").alias("cand_id"),
            F.col("round_added").cast("int").alias("round_added"),
            F.coalesce(F.col("weight"), F.lit(0)).cast("bigint").alias("weight"),
        )
        .orderBy("round_added", "cand_id")
    )


def kmeansbb_candidates_sql(
    l: int = KBB_L, rounds: int = KBB_R, salt: int = KBB_SALT
) -> str:
    """Unrolled DuckDB twin: per-round MATERIALIZED distance CTEs, the
    same md5-slice uniforms, and the same exact integer-micro-unit
    scalar Φ (ADVICE r9) — no cumulative window anywhere."""
    u48 = float(2**48)
    parts = [
        """x AS MATERIALIZED (
  SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)""",
        f"""c0 AS (
  SELECT vec_id, 0 AS round_added FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{salt}'), vec_id LIMIT 1
)""",
        """d0 AS MATERIALIZED (
  SELECT vec_id, MIN(pd) AS d FROM (
    SELECT x.vec_id, s.cand, ROUND(SUM((x.v - s.c) * (x.v - s.c)), 6) AS pd
    FROM x JOIN (SELECT c0.vec_id AS cand, x.pos, x.v AS c
                 FROM x JOIN c0 USING (vec_id)) s USING (pos)
    GROUP BY x.vec_id, s.cand) q
  GROUP BY vec_id
)""",
    ]
    prev_d = "d0"
    cand_union = ["SELECT vec_id, round_added FROM c0"]
    for r in range(1, rounds + 1):
        parts.append(
            f"""phi{r} AS MATERIALIZED (
  SELECT CAST(SUM(CAST(ROUND(d * 1000000.0) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS phi
  FROM {prev_d}
)"""
        )
        parts.append(
            f"""samp{r} AS MATERIALIZED (
  SELECT vec_id, {r} AS round_added
  FROM {prev_d}
  WHERE (CAST(('0x' || substring(md5('kbb:{salt}:{r}:' || CAST(vec_id AS VARCHAR)),
                                 1, 12)) AS BIGINT) / {u48!r})
        * (SELECT phi FROM phi{r}) < {float(l)!r} * d
)"""
        )
        cand_union.append(f"SELECT vec_id, round_added FROM samp{r}")
        if r < rounds:
            parts.append(
                f"""d{r} AS MATERIALIZED (
  SELECT p.vec_id, LEAST(p.d, COALESCE(n.nd, p.d)) AS d
  FROM {prev_d} p LEFT JOIN (
    SELECT vec_id, MIN(pd) AS nd FROM (
      SELECT x.vec_id, s.cand, ROUND(SUM((x.v - s.c) * (x.v - s.c)), 6) AS pd
      FROM x JOIN (SELECT samp{r}.vec_id AS cand, x.pos, x.v AS c
                   FROM x JOIN samp{r} USING (vec_id)) s USING (pos)
      GROUP BY x.vec_id, s.cand) q
    GROUP BY vec_id
  ) n ON n.vec_id = p.vec_id
)"""
            )
            prev_d = f"d{r}"
    union = "\nUNION ALL\n".join(cand_union)
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
cands AS MATERIALIZED (
{union}
),
pair AS (
  SELECT x.vec_id, s.cand, ROUND(SUM((x.v - s.c) * (x.v - s.c)), 6) AS d2
  FROM x JOIN (SELECT cands.vec_id AS cand, x.pos, x.v AS c
               FROM x JOIN cands USING (vec_id)) s USING (pos)
  GROUP BY x.vec_id, s.cand
),
assign AS (
  SELECT cand, CAST(COUNT(*) AS BIGINT) AS weight FROM (
    SELECT vec_id, cand, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY d2 ASC, cand ASC) AS rn
    FROM pair) q
  WHERE rn = 1 GROUP BY cand
)
SELECT c.vec_id AS cand_id, CAST(c.round_added AS INT) AS round_added,
       CAST(COALESCE(a.weight, 0) AS BIGINT) AS weight
FROM cands c LEFT JOIN assign a ON a.cand = c.vec_id
ORDER BY round_added, cand_id"""
    )


KMEANSBB_CANDIDATES_SQL = kmeansbb_candidates_sql()


# --- graph-based ANN: kNN-graph beam search (NSW-lite) -----------------------

NSW_M = 16  # out-degree of the kNN graph before symmetrization
NSW_BEAM = 24  # frontier width per search round
NSW_ROUNDS = 6  # expansion rounds (graph diameter budget)
# (m=8/beam=12 measured recall@5 0.72 — the greedy beam converges into
# local clusters; m=16/beam=24 measures 1.00 / 0.98 / ≥0.9 at
# sf0.001/0.01/0.1 with the per-round cost still beam·2m rows per
# query, corpus-independent)
NSW_SALT = 31  # entry-point hash salt
NSW_LAYER_SALT = 41  # top-layer sampling salt (layered entry, VERDICT r10 #8)
NSW_LAYERED_ROUNDS = 4  # round budget when the layered entry seeds the beam


NSW_EXACT_BOUND = 4096  # exact all-pairs graph build up to here


def _knn_graph_scored(corpus: DataFrame, m: int = NSW_M) -> DataFrame:
    """``_knn_graph`` WITH the build cosines kept: (src, dst, cosine),
    symmetrized and distinct. Kept separate so ``knn_graph_delta``
    (whose merge step needs every old edge SCORED)
    can reuse the cosines the build just computed instead of paying a
    second corpus-join re-score pass over the whole edge list. (The
    exact branch's scorer sums in a different order than
    ``_verified_pair_cosines`` — reused scores are empirically
    identical after the 6-dp round at committed SFs, not bit-identical
    by construction; the delta merge dedups order-independently for
    exactly this reason.) ``distinct`` keys on the full row; cosine is a function
    of the (src, dst) pair, so this is the same edge set ``_knn_graph``
    produced."""
    n_corpus = source_rows(corpus)
    if n_corpus <= NSW_EXACT_BOUND:
        scored = embedding_neardup(corpus, threshold=-1.0)
        both = scored.select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst"), "cosine"
        ).unionByName(
            scored.select(
                F.col("b_id").alias("src"), F.col("a_id").alias("dst"), "cosine"
            )
        )
        w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
        out_edges = (
            both.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= m)
            .select("src", "dst", "cosine")
        )
    else:
        sigs = srp_buckets(corpus, *_srp_dims(n_corpus))
        out_edges = _nn_descent_edges(corpus, k=m, sigs=sigs).select(
            "src", "dst", "cosine"
        )
    return out_edges.unionByName(
        out_edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
        )
    ).distinct()


def _knn_graph(corpus: DataFrame, m: int = NSW_M) -> DataFrame:
    """Symmetrized kNN graph over the corpus: each vector's top-``m``
    out-neighbors by (6-dp cosine DESC, vec_id ASC), plus every reverse
    edge — the bounded-degree (≤ 2m) navigable structure beam search
    walks.

    Size-adaptive build governor (the SRP/semdedup pattern): up to
    ``NSW_EXACT_BOUND`` vectors (every committed SF — the same 4096
    bound the SRP oracle guard pins) the out-edges come from the exact
    block-pair machinery (``embedding_neardup`` at threshold −1 keeps
    every pair — the same distributed equi-join shape as the near-dup
    family, no cartesian, no driver collect), which is also what the
    ``emb_knn_graph_beam`` oracle mirrors. Beyond the bound the exact
    O(n²) pass is unaffordable by construction, so the graph comes
    from LSH-seeded NN-descent (``_nn_descent_edges`` at k=m — the
    build SCALING_r10 measures; edge recall vs exact ≈0.94 at probe
    scale), symmetrized the same way. The corpus is sized once
    (``source_rows``, an upper bound for this filtered scan) and that
    one size also picks the SRP tier on the wide branch.

    (A ``distinct`` over (src, dst) pairs equals ``_knn_graph_scored``'s
    distinct over (src, dst, cosine) projected down, because cosine is
    functionally dependent on the pair.)"""
    return _knn_graph_scored(corpus, m).select("src", "dst")


def knn_graph_beam(
    emb: DataFrame,
    n_queries: int = NSW_N_QUERIES,
    k: int = 5,
    m: int = NSW_M,
    beam: int = NSW_BEAM,
    rounds: int = NSW_ROUNDS,
    salt: int = NSW_SALT,
    graph: DataFrame | None = None,
    visited_out: list | None = None,
    layered: bool = False,
) -> DataFrame:
    """Graph-based ANN (VERDICT r8 #8 / r9 #8): beam search over a
    symmetrized kNN graph — the modern retrieval family (NSW, Malkov et
    al. 2014; HNSW, Malkov & Yashunin 2018) the IVF/PQ/LSH shelf
    lacked, in its single-layer "NSW-lite" form. From a deterministic
    entry point (the md5-min corpus vector, the seeded-order device the
    trainers share), each round expands the current top-``beam``
    visited vertices through their graph neighbors, scores the newly
    reached vectors against the query, and keeps searching; after
    ``rounds`` expansions the top-k of everything visited is the
    answer.

    FULLY deterministic and ORACLE-CHECKED (unlike the rows-only
    IVF/IVF-PQ keys): cosines are 6-dp rounded, every top-N is
    (cosine DESC, vec_id ASC), and the DuckDB twin unrolls the same
    ``rounds`` expansions as MATERIALIZED CTEs (the iterative-family
    pattern) — so the driver hash-check covers the whole search
    trajectory, not just row counts. Recall@5 ≥ 0.9 vs brute force is
    additionally pinned in pytest (tools/ann_eval.py reports it beside
    IVF/IVF-PQ/SRP).

    Scale: the graph build is the materialized index (see
    ``_knn_graph``; the registry injects its cached ``nsw_graph``
    session asset via ``graph=``, the knn_ivf/pq_codes pattern — a
    serving deployment searches a PERSISTED graph, it does not
    rebuild one per query); each search round is one broadcast join of the
    (queries × beam)-row frontier against the edge table and one
    scoring join against the corpus — cost O(beam · 2m) rows per query
    per round, INDEPENDENT of corpus size, which is the entire point
    of graph ANN serving. Per-round frames are localCheckpointed so
    the plan stays one round deep.

    ``layered=True`` is the HNSW-style two-level entry (VERDICT r10
    #8): instead of one global md5-min entry point, a deterministic
    md5-sampled top layer of ⌈√n⌉ corpus vertices is scored against
    every query (√n rows, broadcastable at any n — 1000 rows for a
    1M-vector corpus) and each query's beam starts at its NEAREST
    layer vertex. The seed lands O(n^(1/4)) expected hops from the
    target instead of O(graph diameter), so the round budget drops
    from 6 to ``NSW_LAYERED_ROUNDS=4`` with the recall floor intact
    (pinned in tests + tools/ann_eval.py); at large n fewer rounds =
    fewer frontier/score joins, which is where serving latency lives.
    Cost delta per query: √n seed scores replace 2 rounds of
    beam·2m (≈768) expansions — cheaper past n ≈ 590k on FLOPs, and
    the seed scoring is ONE stage (no iteration), so it wins on
    LATENCY at every measured n: search-only over the injected
    ``nsw_graph`` asset (BEAM_PROBE_r12, min of 3), layered runs
    3.75 s vs plain 7.9 s at 20k vectors and 5.51 s vs 10.6 s at
    200k — ~1.9× faster both decades. (SCALING_r11's contrary rows
    timed ``graph=None`` runs, i.e. mostly the index build.)"""
    corpus = (
        _with_norm(emb.filter(F.col("vec_id") >= n_queries), "vec_id", "c", "cn")
        .repartition(shuffle_parts(emb), "vec_id")
        .localCheckpoint(eager=True)
    )
    if graph is None:
        graph = _knn_graph(
            emb.filter(F.col("vec_id") >= n_queries), m
        ).localCheckpoint(eager=True)
    queries = F.broadcast(
        _with_norm(emb.filter(F.col("vec_id") < n_queries), "query_id", "q", "qn")
    )
    cos = F.round(
        _dot(F.col("q"), F.col("c")) / (F.col("qn") * F.col("cn")), 6
    ).alias("cosine")
    wb = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    if layered:
        # ⌈√n⌉-vertex top layer by md5 order (its own salt so the layer
        # is independent of the single-entry salt); seed = each query's
        # nearest layer vertex. The count is on the checkpointed corpus
        # frame — a metadata-cheap sizing action, same n the SQL twin's
        # COUNT(*) OVER () sees.
        n_layer = math.ceil(math.sqrt(corpus.count()))
        layer = (
            corpus.orderBy(
                F.md5(
                    F.concat(
                        F.col("vec_id").cast("string"),
                        F.lit(f":{NSW_LAYER_SALT}"),
                    )
                ),
                "vec_id",
            )
            .limit(n_layer)
            .select("vec_id")
        )
        visited = (
            queries.crossJoin(F.broadcast(layer.join(corpus, "vec_id")))
            .select("query_id", "vec_id", cos)
            .withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= 1)
            .select("query_id", "vec_id", "cosine")
            .localCheckpoint(eager=True)
        )
    else:
        entry = (
            corpus.orderBy(
                F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(f":{salt}"))),
                "vec_id",
            )
            .limit(1)
            .select("vec_id")
        )
        visited = (
            queries.crossJoin(F.broadcast(entry.join(corpus, "vec_id")))
            .select("query_id", "vec_id", cos)
            .localCheckpoint(eager=True)
        )
    for _ in range(rounds):
        frontier = (
            visited.withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= beam)
            .select("query_id", "vec_id")
        )
        cand = (
            F.broadcast(frontier)
            .join(graph, frontier.vec_id == graph.src)
            .select("query_id", F.col("dst").alias("vec_id"))
            .distinct()
            .join(
                # broadcast the visited set (OPTIMIZATION r12): it is
                # (queries × visited-per-query)-sized — the same
                # query-bounded order as the frontier/cand frames this
                # loop already broadcasts — and the hint turns a
                # sort-merge anti join (2 exchanges + 2 sorts per
                # round) into a broadcast hash anti join.
                F.broadcast(visited.select("query_id", "vec_id")),
                ["query_id", "vec_id"],
                "left_anti",
            )
        )
        scored = (
            F.broadcast(cand)
            .join(corpus, "vec_id")
            .join(queries, "query_id")
            .select("query_id", "vec_id", cos)
        )
        visited = visited.unionByName(scored).localCheckpoint(eager=True)
    if visited_out is not None:
        # Test hook (ADVICE r10): expose the final visited frame so the
        # sub-linear-scan property — |scored corpus| < |corpus| — is
        # assertable instead of documented. Checkpointed already; no
        # extra jobs unless the caller acts on it.
        visited_out.append(visited)
    return (
        visited.withColumn("rank", F.row_number().over(wb))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


def knn_graph_beam_sql(
    n_queries: int = 10,
    k: int = 5,
    m: int = NSW_M,
    beam: int = NSW_BEAM,
    rounds: int = NSW_ROUNDS,
    salt: int = NSW_SALT,
    layered: bool = False,
) -> str:
    """Unrolled DuckDB twin: exact kNN-graph build + the same
    ``rounds`` beam expansions as MATERIALIZED step CTEs (visited sets
    are referenced by the next frontier AND the anti-join, so plain
    CTEs would expand exponentially — the iterative-family pattern).
    ``layered=True`` mirrors the HNSW-style seed: v0 is each query's
    nearest vertex among the ⌈√n⌉ md5-sampled top layer instead of the
    single global entry (n from COUNT(*) OVER (), so the twin sizes
    the layer from the same corpus count the Spark side pays)."""
    if layered:
        seed = f"""layer AS MATERIALIZED (
  SELECT vec_id FROM (
    SELECT vec_id,
           ROW_NUMBER() OVER (
             ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{NSW_LAYER_SALT}'),
                      vec_id) AS rn,
           COUNT(*) OVER () AS n
    FROM corpus) t
  WHERE rn <= CAST(CEIL(SQRT(n)) AS BIGINT)
),
v0 AS MATERIALIZED (
  SELECT query_id, vec_id, cosine FROM (
    SELECT s.query_id, s.vec_id, s.cosine, ROW_NUMBER() OVER (
      PARTITION BY s.query_id ORDER BY s.cosine DESC, s.vec_id ASC) AS rn
    FROM (
      SELECT q.query_id, e.vec_id,
             ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])), 6) AS cosine
      FROM q CROSS JOIN (SELECT c.vec_id, c.embedding
                         FROM corpus c JOIN layer USING (vec_id)) e) s) t
  WHERE rn <= 1
)"""
    else:
        seed = f"""entry AS (
  SELECT vec_id FROM corpus
  ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{salt}'), vec_id LIMIT 1
),
v0 AS MATERIALIZED (
  SELECT q.query_id, e.vec_id,
         ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])), 6) AS cosine
  FROM q CROSS JOIN (SELECT c.vec_id, c.embedding
                     FROM corpus c JOIN entry USING (vec_id)) e
)"""
    parts = [
        f"""corpus AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {n_queries}
),
q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {n_queries}
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])), 6) AS cosine
  FROM corpus a JOIN corpus b ON a.vec_id <> b.vec_id
),
out_edges AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, ROW_NUMBER() OVER (
      PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rn
    FROM pairs) t
  WHERE rn <= {m}
),
graph AS MATERIALIZED (
  SELECT src, dst FROM out_edges
  UNION
  SELECT dst AS src, src AS dst FROM out_edges
),
{seed}"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""f{t} AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
    FROM v{t - 1}) t
  WHERE rn <= {beam}
),
n{t} AS (
  SELECT query_id, vec_id FROM (
    SELECT DISTINCT f.query_id, g.dst AS vec_id
    FROM f{t} f JOIN graph g ON g.src = f.vec_id) c
  ANTI JOIN v{t - 1} USING (query_id, vec_id)
),
v{t} AS MATERIALIZED (
  SELECT * FROM v{t - 1}
  UNION ALL
  SELECT n.query_id, n.vec_id,
         ROUND(list_cosine_similarity(CAST(qq.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM n{t} n
  JOIN corpus c ON c.vec_id = n.vec_id
  JOIN q qq ON qq.query_id = n.query_id
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id, vec_id AS neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, vec_id, cosine, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM v{rounds}) t
WHERE rank <= {k}
ORDER BY query_id, rank"""
    )


KNN_GRAPH_BEAM_SQL = knn_graph_beam_sql()
KNN_GRAPH_BEAM_LAYERED_SQL = knn_graph_beam_sql(
    rounds=NSW_LAYERED_ROUNDS, layered=True
)


# --- PQ-compressed beam search (the DiskANN memory story, VERDICT r11 #8) ----

NSW_PQ_SUB = 32  # PQ subspaces → 32 bytes/vector at 16 cells, 8× smaller
#                  than the 64-dim float64 corpus the traversal would
#                  otherwise read (full vectors only at the final re-rank).
#                  Measured on this corpus (near-random pair cosines, the
#                  hard case for quantization): 8 subspaces = 0.58 recall,
#                  16 = 0.84, 32 = 1.00 at sf0.01 — dsub=2 is the coarsest
#                  split whose ADC still ranks true neighbors first here.
NSW_PQ_CELLS = 16
NSW_PQ_ITERS = 3
NSW_PQ_BEAM = 48  # 2× NSW_BEAM: the DiskANN trade — compressed traversal
#                   needs a wider frontier (ADC errors shuffle the beam
#                   boundary), and can afford one (each candidate is 8×
#                   fewer bytes). Measured at sf0.1: beam 24 = 0.76, beam
#                   48 = 0.92 (exactly the full-precision beam's recall),
#                   beam 64 = 0.96.
NSW_PQ_RERANK = 10  # exact re-rank of the top rerank·k ADC candidates


def beam_pq_books(
    emb: DataFrame,
    n_queries: int = NSW_N_QUERIES,
    n_subspaces: int = NSW_PQ_SUB,
    n_cells: int = NSW_PQ_CELLS,
    iters: int = NSW_PQ_ITERS,
) -> DataFrame:
    """PQ codebooks over the CORPUS (not the queries) as a DataFrame —
    (subspace, cell, centroid array<double>) — so the registry's asset
    cache can hold them the way it holds ``nsw_graph``/``pq_codes``.
    S·k = 128 rows at the defaults: index-config sized at any corpus
    scale. Trained on the unit sphere (``normalize=True``) because the
    codes quantize normalized vectors and ADC inner products stand in
    for cosine (same train/serve-distribution argument as
    ``pq_codebooks``)."""
    books = pq_codebooks(
        emb.filter(F.col("vec_id") >= n_queries),
        n_subspaces,
        n_cells,
        iters,
        normalize=True,
    )
    rows = [
        (s, c, [float(x) for x in books[s][c]])
        for s in range(books.shape[0])
        for c in range(books.shape[1])
    ]
    return emb.sparkSession.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("subspace", T.IntegerType()),
                T.StructField("cell", T.IntegerType()),
                T.StructField("centroid", T.ArrayType(T.DoubleType())),
            ]
        ),
    )


def _books_tensor(books_df: DataFrame):
    """Collect a ``beam_pq_books`` frame (S·k = 128 rows — index-config
    bounded, never corpus-sized) back into the (S, k, dsub) tensor the
    encoders consume."""
    import numpy as np

    rows = books_df.collect()
    n_sub = max(r.subspace for r in rows) + 1
    n_cells = max(r.cell for r in rows) + 1
    dsub = len(rows[0].centroid)
    books = np.zeros((n_sub, n_cells, dsub))
    for r in rows:
        books[r.subspace, r.cell] = r.centroid
    return books


def knn_graph_beam_pq(
    emb: DataFrame,
    n_queries: int = NSW_N_QUERIES,
    k: int = 5,
    beam: int = NSW_PQ_BEAM,
    rounds: int = NSW_ROUNDS,
    salt: int = NSW_SALT,
    graph: DataFrame | None = None,
    books: DataFrame | None = None,
    codes: DataFrame | None = None,
    rerank: int = NSW_PQ_RERANK,
    rerank_ids_out: list | None = None,
    layered: bool = False,
) -> DataFrame:
    """Graph-ANN beam search that traverses over PQ-COMPRESSED vectors
    (VERDICT r11 #8) — the DiskANN memory story (Subramanya et al.,
    NeurIPS'19): at 100 TB the full float vectors dominate index
    memory, so the beam's per-round candidate scoring reads only the
    8-byte PQ ``codes`` table (asymmetric distance computation against
    a per-query lookup table), and the full vectors are touched ONCE,
    for the exact-cosine re-rank of the final top ``rerank``·k ADC
    candidates — n_queries·rerank·k rows, independent of corpus size.

    ADC is expressed JVM-side, not in Python: the per-query LUT
    (lut[s][c] = ⟨q_sub, book[s][c]⟩, S·k = 128 doubles) is a
    broadcast 10-row frame, and the score is a fixed-order
    ``aggregate(zip_with(codes, sequence(...)))`` fold over the code
    array — whole-stage-codegen arithmetic, deterministic summation
    order, no shuffle added to the traversal rounds.

    Rows-only key (PQ training is iterative, like ``knn_ivfpq``);
    recall ≥ 0.9 vs brute force pinned in pytest and reported as the
    ``graph_pq`` leg of ``ann_recall_panel`` / tools/ann_eval.py.

    Scale: identical traversal shape to ``knn_graph_beam`` (broadcast
    frontier joins, O(beam·2m) rows per query per round, corpus-size
    independent) — but each scoring join fetches 32-byte code arrays
    instead of the 512-byte float vectors, so even at the doubled
    ``NSW_PQ_BEAM`` the hot path moves ~4× fewer candidate bytes, and
    the INDEX the searchers hold in memory is 8× smaller — at 100 TB
    that is the difference between the vector table fitting the
    executor fleet or not, which is the entire point.
    ``graph``/``books``/``codes`` are injected session assets (a
    serving deployment searches a persisted index; the registry passes
    its cached ``nsw_graph``/``beam_pq_books``/``beam_pq_codes``).
    Measured (sf0.1, 80k corpus): recall@5 0.92 — equal to the
    full-precision beam on the same graph — vs 0.76 at the
    full-precision beam width, the compressed-traversal trade
    DiskANN §4 documents."""
    import numpy as np

    corpus_raw = emb.filter(F.col("vec_id") >= n_queries)
    if graph is None:
        graph = _knn_graph(corpus_raw, NSW_M).localCheckpoint(eager=True)
    if books is None:
        books = beam_pq_books(emb, n_queries)
    B = _books_tensor(books) if isinstance(books, DataFrame) else books
    n_sub, _, dsub = B.shape
    if codes is None:
        codes = pq_assign_packed(corpus_raw, B).localCheckpoint(eager=True)

    # Per-query ADC lookup table: n_queries rows of S×k doubles. The
    # query side is config-sized (10 vectors) — collecting it is the
    # same driver-bounded pull every retrieval op's query side makes.
    q_rows = emb.filter(F.col("vec_id") < n_queries).collect()
    lut_rows = []
    for r in q_rows:
        q = np.asarray(r.embedding, dtype=np.float64)
        q = q / np.linalg.norm(q)
        lut = [
            [
                float(np.dot(q[s * dsub : (s + 1) * dsub], B[s][c]))
                for c in range(B.shape[1])
            ]
            for s in range(n_sub)
        ]
        lut_rows.append((r.vec_id, lut))
    lut_df = F.broadcast(
        emb.sparkSession.createDataFrame(
            lut_rows,
            T.StructType(
                [
                    T.StructField("query_id", T.LongType()),
                    T.StructField(
                        "lut", T.ArrayType(T.ArrayType(T.DoubleType()))
                    ),
                ]
            ),
        )
    )
    adc = F.round(
        F.expr(
            "aggregate(zip_with(codes, sequence(0, size(codes) - 1),"
            " (c, s) -> lut[s][c]), cast(0 as double), (acc, x) -> acc + x)"
        ),
        6,
    ).alias("adc")
    wb = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))

    if layered:
        # HNSW-style entry, ADC edition: the ⌈√n⌉ md5-sampled top layer
        # is scored against every query via its CODES (the seed step
        # honours the same no-full-vector contract as the traversal);
        # each query's beam starts at its best-ADC layer vertex. Same
        # layer salt as the full-precision variant, so both searches
        # share one layer definition at serving time.
        n_layer = math.ceil(math.sqrt(codes.count()))
        layer = (
            codes.orderBy(
                F.md5(
                    F.concat(
                        F.col("vec_id").cast("string"),
                        F.lit(f":{NSW_LAYER_SALT}"),
                    )
                ),
                "vec_id",
            )
            .limit(n_layer)
            .select("vec_id")
        )
        visited = (
            lut_df.crossJoin(F.broadcast(layer.join(codes, "vec_id")))
            .select("query_id", "vec_id", adc)
            .withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= 1)
            .select("query_id", "vec_id", "adc")
            .localCheckpoint(eager=True)
        )
    else:
        entry = (
            codes.orderBy(
                F.md5(
                    F.concat(F.col("vec_id").cast("string"), F.lit(f":{salt}"))
                ),
                "vec_id",
            )
            .limit(1)
            .select("vec_id")
        )
        visited = (
            lut_df.crossJoin(F.broadcast(entry.join(codes, "vec_id")))
            .select("query_id", "vec_id", adc)
            .localCheckpoint(eager=True)
        )
    for _ in range(rounds):
        frontier = (
            visited.withColumn("rn", F.row_number().over(wb))
            .filter(F.col("rn") <= beam)
            .select("query_id", "vec_id")
        )
        cand = (
            F.broadcast(frontier)
            .join(graph, frontier.vec_id == graph.src)
            .select("query_id", F.col("dst").alias("vec_id"))
            .distinct()
            .join(
                # broadcast the visited set (OPTIMIZATION r12): it is
                # (queries × visited-per-query)-sized — the same
                # query-bounded order as the frontier/cand frames this
                # loop already broadcasts — and the hint turns a
                # sort-merge anti join (2 exchanges + 2 sorts per
                # round) into a broadcast hash anti join.
                F.broadcast(visited.select("query_id", "vec_id")),
                ["query_id", "vec_id"],
                "left_anti",
            )
        )
        scored = (
            F.broadcast(cand)
            .join(codes, "vec_id")
            .join(lut_df, "query_id")
            .select("query_id", "vec_id", adc)
        )
        visited = visited.unionByName(scored).localCheckpoint(eager=True)

    # Exact re-rank: the ONLY touch of full float vectors — the top
    # rerank·k ADC candidates per query (n_queries·rerank·k rows,
    # broadcast), the DiskANN "read full precision from disk for the
    # final list" step.
    top_cand = (
        visited.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") <= rerank * k)
        .select("query_id", "vec_id")
    )
    if rerank_ids_out is not None:
        # Test hook: expose the re-rank candidate frame so the memory
        # contract — full vectors fetched for ≤ n_queries·rerank·k
        # rows — is assertable instead of documented.
        rerank_ids_out.append(top_cand)
    corpus = _with_norm(corpus_raw, "vec_id", "c", "cn")
    queries = F.broadcast(
        _with_norm(emb.filter(F.col("vec_id") < n_queries), "query_id", "q", "qn")
    )
    cos = F.round(
        _dot(F.col("q"), F.col("c")) / (F.col("qn") * F.col("cn")), 6
    ).alias("cosine")
    wc = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        F.broadcast(top_cand)
        .join(corpus, "vec_id")
        .join(queries, "query_id")
        .select("query_id", "vec_id", cos)
        .withColumn("rank", F.row_number().over(wc))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


# --- NN-descent kNN-graph construction (the graph-ANN index build path) ------

NND_K = 8  # neighbors maintained per node
NND_ITERS = 3  # neighbor-of-neighbor refinement rounds
NND_SALT = 37  # ring-init hash salt


def nn_descent_graph(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = NND_K,
    iters: int = NND_ITERS,
    salt: int = NND_SALT,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH-seeded NN-descent kNN-graph construction (Dong, Moses & Li,
    WWW'11; the LSH-seeded init is the EFANNA-style refinement) — the
    INDEX-BUILD path that completes the graph-ANN story:
    ``knn_graph_beam`` searches a kNN graph, and at test scale that
    graph comes from the exact O(n²) all-pairs build, which no 100 TB
    corpus can afford.

    Why the seed matters (measured on this corpus, where pair cosines
    are near-random — 99.9th percentile 0.38): blind ring-init
    NN-descent crawls (+~0.06 edge recall per round, 0.45 after 8
    rounds), because "my neighbors' neighbors" carries no signal until
    the neighbor lists do. Seeding each node's list with its top-k
    SRP-LSH bucket companions starts at 0.89 recall, and TWO
    neighbor-of-neighbor rounds plateau it at ~0.94 — so the operator
    composes the suite's existing banded-signature machinery
    (``srp_buckets`` under the ``_srp_dims`` governor; the registry
    injects the shared ``srp_sigs`` asset) with the descent rounds.
    Two md5-ring successor edges per node join the seed so no node
    (or hash-isolated component) starts empty.

    FULLY deterministic and ORACLE-CHECKED: signatures are the
    oracle-exact declarative SRP chain, cosines are 6-dp rounded,
    top-k is (cosine DESC, dst ASC), the ring is a rank join over
    (md5(vec_id:salt), vec_id) order, and the DuckDB twin unrolls the
    same ``iters`` rounds as MATERIALIZED CTEs. A pytest floor pins
    edge recall vs the exact top-k graph, and a composition test runs
    beam search over this graph.

    Output one row per (node, rank): (src, rank, dst, cosine).

    Scale: the seed candidate volume is the LSH candidate volume (the
    ``_srp_dims`` governor keeps it ~linear per decade); each descent
    round scores ≤ n·(2k)² id-pairs from one self-join of the edge
    table — NO pass ever touches n² pairs. The global rank for the
    ring uses ``exact_row_number`` (no single-task window); per-round
    frames are localCheckpointed so the plan stays one round deep.
    This is the build a pipeline materializes ONCE into the
    ``nsw_graph`` asset; beam search serves corpus-independent queries
    off it."""
    corpus = emb.filter(F.col("vec_id") >= n_queries).select(
        "vec_id", "embedding"
    )
    if sigs is None:
        sigs = srp_buckets(emb)
    sigs = sigs.filter(F.col("vec_id") >= n_queries)
    edges = _nn_descent_edges(corpus, k=k, iters=iters, salt=salt, sigs=sigs)
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        edges.withColumn("rank", F.row_number().over(w))
        .select("src", F.col("rank").cast("int").alias("rank"), "dst", "cosine")
        .orderBy("src", "rank")
    )


def _nn_descent_edges(
    corpus: DataFrame,
    k: int = NND_K,
    iters: int = NND_ITERS,
    salt: int = NND_SALT,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """The (src, dst, cosine) top-k edge frame ``nn_descent_graph``
    ranks — factored out so the wide-regime ``_knn_graph`` build can
    reuse it at k=m. ``sigs`` must cover exactly the corpus ids (or be
    None to build them at the governor width)."""
    from ..operators.analytics import exact_row_number

    if sigs is None:
        sigs = srp_buckets(corpus)
    emb = corpus  # pair scoring looks vectors up by vec_id
    # The LSH seed, not the descent rounds, dominates this build
    # (~2.5M candidate pairs at sf0.1, each shipping BOTH vectors
    # through Arrow). The bucket-companion set is symmetric by
    # construction and the Arrow scorer's cosine(a,b) is bit-identical
    # to cosine(b,a) (einsum products commute, same summation order
    # over dims; norms multiply commutatively), so only the canonical
    # src<dst half is deduplicated and scored — the mirror union below
    # restores the full symmetric scored set with the exact same bits.
    companions_lo = (
        sigs.select("band", "bucket", F.col("vec_id").alias("src"))
        .repartition(shuffle_parts(sigs), "band", "bucket")
        .join(
            sigs.select("band", "bucket", F.col("vec_id").alias("dst")),
            ["band", "bucket"],
        )
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    def _ring_scored():
        # the ring build is latency-bound driver work (range-sampling
        # exchange, checkpoint, offset collect inside exact_row_number)
        # on a corpus-id-sized frame — run it on its own driver thread
        # (guide §2.6) so it overlaps the companion scoring jobs
        hashed = corpus.select(
            "vec_id",
            F.md5(
                F.concat(F.col("vec_id").cast("string"), F.lit(f":{salt}"))
            ).alias("h"),
        )
        ranked, n = exact_row_number(hashed, [F.col("h"), F.col("vec_id")], "r")
        ranked = ranked.select("vec_id", "r").localCheckpoint(eager=True)
        js = emb.sparkSession.range(1, 3).select(F.col("id").cast("int").alias("j"))
        ring = (
            ranked.crossJoin(F.broadcast(js))
            .select(
                F.col("vec_id").alias("src"),
                (((F.col("r") - 1 + F.col("j")) % F.lit(n)) + 1).alias("tr"),
            )
            .join(
                ranked.select(F.col("vec_id").alias("dst"), F.col("r").alias("tr")),
                "tr",
            )
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
        )
        # a ring pair that is also a bucket companion yields a fully
        # identical scored row (same orientation-invariant scorer), so
        # the (src, dst) dedup at the merge replaces the old
        # pre-scoring distinct exactly
        return _verified_pair_cosines(emb, ring, "src", "dst", -1.0).localCheckpoint(
            eager=True
        )

    def _comp_scored():
        comp_lo = _verified_pair_cosines(emb, companions_lo, "src", "dst", -1.0)
        return comp_lo.unionByName(
            comp_lo.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
            )
        ).localCheckpoint(eager=True)

    from concurrent.futures import ThreadPoolExecutor

    inherit = inheritable_thread_target(corpus.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_comp = _pool.submit(inherit(_comp_scored))
        _f_ring = _pool.submit(inherit(_ring_scored))
        comp_scored = _f_comp.result()
        ring_scored = _f_ring.result()
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    edges = (
        comp_scored.unionByName(ring_scored)
        .dropDuplicates(["src", "dst"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("src", "dst", "cosine")
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        both = edges.unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
            )
        ).dropDuplicates(["src", "dst"])
        # the wedge set is symmetric (`both` is), so only the canonical
        # src<dst half is deduplicated, anti-joined and scored; the
        # mirror union restores the full set bit-identically (the
        # scorer is orientation-invariant — see the seed note above)
        cand_lo = (
            both.alias("x")
            .join(both.alias("y"), F.col("x.dst") == F.col("y.src"))
            .select(F.col("x.src").alias("src"), F.col("y.dst").alias("dst"))
            .filter(F.col("src") < F.col("dst"))
            .distinct()
            .join(both.select("src", "dst"), ["src", "dst"], "left_anti")
        )
        sc_lo = _verified_pair_cosines(emb, cand_lo, "src", "dst", -1.0)
        scored = sc_lo.unionByName(
            sc_lo.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
            )
        )
        edges = (
            both.unionByName(scored)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("src", "dst", "cosine")
            .localCheckpoint(eager=True)
        )
    return edges


def nn_descent_graph_sql(
    n_queries: int = 10,
    k: int = NND_K,
    iters: int = NND_ITERS,
    salt: int = NND_SALT,
    band_bits: int = 4,
    n_bits: int = 64,
) -> str:
    """Unrolled DuckDB twin: the SAME declarative SRP signature chain
    (``_srp_sig_ctes`` — computed over all embeddings, filtered to the
    corpus in the companion join, exactly like the Spark side), the
    md5-ring rank arithmetic, and ``iters`` neighbor-of-neighbor
    rounds as MATERIALIZED step CTEs. The (band_bits, n_bits) defaults
    are the committed ≤4096-vector governor tier — the same guard as
    every other SRP oracle."""
    cos = (
        "ROUND(list_cosine_similarity(CAST(ca.embedding AS DOUBLE[]), "
        "CAST(cb.embedding AS DOUBLE[])), 6)"
    )
    parts = [
        f"""{_srp_sig_ctes(band_bits, n_bits)},
corpus AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {n_queries}
),
companions AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.vec_id <> b.vec_id
    AND a.vec_id >= {n_queries} AND b.vec_id >= {n_queries}
),
ranked AS MATERIALIZED (
  SELECT vec_id, ROW_NUMBER() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{salt}'), vec_id) AS r
  FROM corpus
),
nn AS (SELECT COUNT(*) AS n FROM corpus),
ring AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM ranked a
  CROSS JOIN (SELECT unnest(range(1, 3)) AS j) rj
  CROSS JOIN nn
  JOIN ranked b ON b.r = ((a.r - 1 + rj.j) % nn.n) + 1
  WHERE a.vec_id <> b.vec_id
),
seed AS (SELECT src, dst FROM companions UNION SELECT src, dst FROM ring),
e0 AS MATERIALIZED (
  SELECT src, dst, cosine FROM (
    SELECT s.src, s.dst, {cos} AS cosine, ROW_NUMBER() OVER (
      PARTITION BY s.src ORDER BY {cos} DESC, s.dst ASC) AS rn
    FROM seed s
    JOIN corpus ca ON ca.vec_id = s.src
    JOIN corpus cb ON cb.vec_id = s.dst) t
  WHERE rn <= {k}
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""b{t} AS MATERIALIZED (
  SELECT src, dst, cosine FROM e{t - 1}
  UNION
  SELECT dst AS src, src AS dst, cosine FROM e{t - 1}
),
cand{t} AS (
  SELECT src, dst FROM (
    SELECT DISTINCT x.src, y.dst
    FROM b{t} x JOIN b{t} y ON x.dst = y.src
    WHERE x.src <> y.dst) c
  ANTI JOIN b{t} USING (src, dst)
),
sc{t} AS (
  SELECT c.src, c.dst, {cos} AS cosine
  FROM cand{t} c
  JOIN corpus ca ON ca.vec_id = c.src
  JOIN corpus cb ON cb.vec_id = c.dst
),
e{t} AS MATERIALIZED (
  SELECT src, dst, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rn
    FROM (SELECT * FROM b{t} UNION ALL SELECT * FROM sc{t}) u) t2
  WHERE rn <= {k}
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT src, CAST(rank AS INT) AS rank, dst, cosine
FROM (
  SELECT src, dst, cosine, ROW_NUMBER() OVER (
    PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
  FROM e{iters}) t
ORDER BY src, rank"""
    )


NN_DESCENT_GRAPH_SQL = nn_descent_graph_sql()


# --- incremental kNN-graph maintenance (VERDICT r10 #2) ----------------------

NSW_DELTA_MOD = 5  # vec_id % 5 == 0 is the arriving batch (the
# emb_incremental_topk precedent: a deterministic split standing in for
# "the vectors that arrived since the index was built")
NSW_DELTA_ROUNDS = 2  # localized neighbor-of-neighbor refinement rounds


def knn_graph_delta(
    emb: DataFrame,
    n_queries: int = NSW_N_QUERIES,
    m: int = NSW_M,
    rounds: int = NSW_DELTA_ROUNDS,
    batch_mod: int = NSW_DELTA_MOD,
    salt: int = NND_SALT,
    graph: DataFrame | None = None,
    sigs: DataFrame | None = None,
    is_new=None,
) -> DataFrame:
    """Incremental kNN-graph maintenance (VERDICT r10 #2): fold an
    arriving batch of vectors into an EXISTING symmetrized kNN graph
    without re-forming the old corpus's pair space — the serving story
    a 100 TB index needs (the ``nsw_graph`` asset otherwise rebuilds
    from scratch on every corpus change).

    The deterministic split ``vec_id % batch_mod == 0`` plays the
    arriving batch (the ``emb_incremental_topk`` device); ``graph`` is
    the already-built graph over the REMAINING (old) vectors — built
    here via ``_knn_graph`` when not injected. Update recipe:

    1. SEED: SRP bucket companions of the updated corpus, kept only
       where an endpoint is new (the old-old pair space is never
       re-entered), plus two md5-ring successor edges among the batch
       so no hash-isolated new vector starts empty.
    2. MERGE: per-vertex top-``m`` over (re-scored old edges ∪ scored
       seed pairs). Re-scoring the old graph is LINEAR in its ≤ 2m·n
       edges — and because an exact top-m list dominates every in-edge,
       untouched old vertices reproduce their old lists bit-for-bit.
    3. LOCALIZED NN-DESCENT: ``rounds`` neighbor-of-neighbor
       expansions where the wedge's first leg starts at a batch vertex
       (plus the mirrored pairs), so each round scores
       O(|batch| · (2m)²) pairs — independent of the old corpus size —
       instead of full NN-descent's n·(2k)².

    FULLY deterministic and ORACLE-CHECKED, the ``nn_descent_graph``
    contract: oracle-exact SRP chain, 6-dp cosines, (cosine DESC, dst
    ASC) ranking, md5-ring rank joins, and a DuckDB twin that unrolls
    the exact old-graph build plus the same ``rounds`` as MATERIALIZED
    CTEs. pytest pins symmetrized edge recall ≥ 0.85 vs the
    from-scratch rebuild of the updated corpus.

    Output one row per (vertex, rank): (src, rank, dst, cosine) — the
    updated index in ``nn_descent_graph``'s shape.

    Scale: seed volume is the batch's LSH candidate volume (the
    ``_srp_dims`` governor); the old-edge re-score is one linear pass
    (a serving deployment persists edge cosines and skips it); descent
    rounds are batch-localized. No step touches |old|² pairs — the
    entire point of delta maintenance.

    ``is_new`` (round 12, the streaming-leg generalization) takes a
    Column→Column membership predicate replacing the default
    ``vec_id % batch_mod == 0`` split — ``graph_delta_stream``'s
    foreachBatch folds pass the current micro-batch's group predicate
    so each fold localizes to THAT batch. The registered key keeps the
    default, so its oracle is untouched."""
    if is_new is None:
        is_new = lambda c: (c % batch_mod) == 0  # noqa: E731
    corpus = emb.filter(F.col("vec_id") >= n_queries).select(
        "vec_id", "embedding"
    )
    old_scored = None
    if graph is None:
        # Build the old graph WITH its cosines (``_knn_graph_scored``)
        # so the merge below reuses the scores the build just computed,
        # with no corpus joins or shuffle over the old edge list. The
        # build's exact branch sums dot products in a different order
        # than ``_verified_pair_cosines`` (codegen sequential SUM vs
        # numpy pairwise), so reused scores are empirically identical
        # after the 6-dp round at committed SFs, not bit-identical by
        # construction — the merge below dedups with an
        # order-independent MAX so a ulp flip cannot make the survivor
        # nondeterministic.
        old_scored = _knn_graph_scored(
            corpus.filter(~is_new(F.col("vec_id"))), m
        )
        graph = old_scored.select("src", "dst")
    if sigs is None:
        sigs = srp_buckets(emb)
    sigs = sigs.filter(F.col("vec_id") >= n_queries)
    from ..operators.analytics import exact_row_number

    def _seed_scored():
        # OPTIMIZATION r13: canonical-half scoring (see _nn_descent_edges
        # — the bucket-companion set and the ring ∪ mirror(ring) union
        # are both symmetric, and the Arrow scorer is
        # orientation-invariant bit-for-bit), so dedup + score src<dst
        # pairs only and mirror the scored rows back.
        cand0 = (
            sigs.select("band", "bucket", F.col("vec_id").alias("src"))
            .repartition(shuffle_parts(sigs), "band", "bucket")
            .join(
                sigs.select("band", "bucket", F.col("vec_id").alias("dst")),
                ["band", "bucket"],
            )
            .filter(F.col("src") < F.col("dst"))
            .filter(is_new(F.col("src")) | is_new(F.col("dst")))
            .select("src", "dst")
            .distinct()
        )
        new_hashed = corpus.filter(is_new(F.col("vec_id"))).select(
            "vec_id",
            F.md5(
                F.concat(F.col("vec_id").cast("string"), F.lit(f":{salt}"))
            ).alias("h"),
        )
        ranked, n = exact_row_number(new_hashed, [F.col("h"), F.col("vec_id")], "r")
        ranked = ranked.select("vec_id", "r").localCheckpoint(eager=True)
        js = emb.sparkSession.range(1, 3).select(F.col("id").cast("int").alias("j"))
        ring = (
            ranked.crossJoin(F.broadcast(js))
            .select(
                F.col("vec_id").alias("src"),
                (((F.col("r") - 1 + F.col("j")) % F.lit(n)) + 1).alias("tr"),
            )
            .join(
                ranked.select(F.col("vec_id").alias("dst"), F.col("r").alias("tr")),
                "tr",
            )
            .filter(F.col("src") != F.col("dst"))
            .select("src", "dst")
        )
        pairs0_lo = (
            cand0.unionByName(
                ring.select(
                    F.least("src", "dst").alias("src"),
                    F.greatest("src", "dst").alias("dst"),
                )
            )
            .distinct()
        )
        sc_lo = _verified_pair_cosines(corpus, pairs0_lo, "src", "dst", -1.0)
        return (
            sc_lo.unionByName(
                sc_lo.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
                )
            )
            .localCheckpoint(eager=True)
        )

    def _old_scored():
        if old_scored is not None:  # built here: cosines already attached
            return old_scored.localCheckpoint(eager=True)
        # injected graph: edges arrive unscored
        return _verified_pair_cosines(
            corpus, graph.select("src", "dst"), "src", "dst", -1.0
        ).localCheckpoint(eager=True)

    # The seed branch (SRP bucket companions + md5 ring, scored) and the
    # old-edge branch (the from-scratch build, or the injected graph's
    # re-score) are independent until the merge — run them on two driver
    # threads (guide §2.6) so the old-graph build's straggler tail is
    # back-filled by the seed branch's jobs. Values unchanged: both
    # branches are deterministic and meet at the same union.
    from concurrent.futures import ThreadPoolExecutor

    inherit = inheritable_thread_target(emb.sparkSession)
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _f_seed = _pool.submit(inherit(_seed_scored))
        _f_old = _pool.submit(inherit(_old_scored))
        sc0 = _f_seed.result()
        old_scored = _f_old.result()
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    # Deterministic merge (ADVICE r12): a pair can appear in BOTH
    # branches, and the two scorers agree only after 6-dp rounding —
    # dropDuplicates would keep an arbitrary survivor if a ulp ever
    # flipped the round. MAX(cosine) per pair is order-independent and
    # the same hash-aggregate shape (no extra shuffle).
    edges = (
        old_scored.unionByName(sc0)
        .groupBy("src", "dst")
        .agg(F.max("cosine").alias("cosine"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= m)
        .select("src", "dst", "cosine")
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        both = edges.unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
            )
        ).dropDuplicates(["src", "dst"])
        # wedges whose FIRST leg starts at a batch vertex; the mirror
        # union lets old vertices receive the same discoveries — the
        # localization that keeps each round O(|batch|·(2m)²)
        wedge = (
            both.alias("x")
            .filter(is_new(F.col("src")))
            .join(both.alias("y"), F.col("x.dst") == F.col("y.src"))
            .select(F.col("x.src").alias("src"), F.col("y.dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        # canonical-half scoring: wedge ∪ mirror(wedge) is symmetric, so
        # its canonical form is least/greatest per wedge pair; `both` is
        # symmetric too, so the anti-join commutes with mirroring and
        # the scored mirror restores the exact candidate set
        cand_lo = (
            wedge.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .distinct()
            .join(both.select("src", "dst"), ["src", "dst"], "left_anti")
        )
        sc_lo = _verified_pair_cosines(corpus, cand_lo, "src", "dst", -1.0)
        scored = sc_lo.unionByName(
            sc_lo.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "cosine"
            )
        )
        edges = (
            both.unionByName(scored)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= m)
            .select("src", "dst", "cosine")
            .localCheckpoint(eager=True)
        )
    return (
        edges.withColumn("rank", F.row_number().over(w))
        .select("src", F.col("rank").cast("int").alias("rank"), "dst", "cosine")
        .orderBy("src", "rank")
    )


def knn_graph_delta_sql(
    n_queries: int = NSW_N_QUERIES,
    m: int = NSW_M,
    rounds: int = NSW_DELTA_ROUNDS,
    batch_mod: int = NSW_DELTA_MOD,
    salt: int = NND_SALT,
    band_bits: int = 4,
    n_bits: int = 64,
) -> str:
    """Unrolled DuckDB twin of ``knn_graph_delta``: the exact old-graph
    build (affordable at committed SFs — the same all-pairs CTE the
    beam oracle uses), the oracle-exact SRP chain with the batch-touch
    filter, the md5-ring over the batch, and ``rounds`` batch-localized
    expansions as MATERIALIZED step CTEs. (band_bits, n_bits) defaults
    are the committed ≤4096-vector governor tier."""
    cos = (
        "ROUND(list_cosine_similarity(CAST(ca.embedding AS DOUBLE[]), "
        "CAST(cb.embedding AS DOUBLE[])), 6)"
    )
    parts = [
        f"""{_srp_sig_ctes(band_bits, n_bits)},
corpus AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= {n_queries}
),
old AS MATERIALIZED (SELECT * FROM corpus WHERE vec_id % {batch_mod} <> 0),
opairs AS (
  SELECT ca.vec_id AS src, cb.vec_id AS dst, {cos} AS cosine
  FROM old ca JOIN old cb ON ca.vec_id <> cb.vec_id
),
out_edges AS (
  SELECT src, dst FROM (
    SELECT src, dst, ROW_NUMBER() OVER (
      PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rn
    FROM opairs) t
  WHERE rn <= {m}
),
og AS MATERIALIZED (
  SELECT src, dst FROM out_edges
  UNION
  SELECT dst AS src, src AS dst FROM out_edges
),
newv AS MATERIALIZED (
  SELECT vec_id FROM corpus WHERE vec_id % {batch_mod} = 0
),
cand0 AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.vec_id <> b.vec_id
    AND a.vec_id >= {n_queries} AND b.vec_id >= {n_queries}
    AND (a.vec_id % {batch_mod} = 0 OR b.vec_id % {batch_mod} = 0)
),
ranked AS MATERIALIZED (
  SELECT vec_id, ROW_NUMBER() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR) || ':{salt}'), vec_id) AS r
  FROM newv
),
nn AS (SELECT COUNT(*) AS n FROM newv),
ring AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM ranked a
  CROSS JOIN (SELECT unnest(range(1, 3)) AS j) rj
  CROSS JOIN nn
  JOIN ranked b ON b.r = ((a.r - 1 + rj.j) % nn.n) + 1
  WHERE a.vec_id <> b.vec_id
),
pairs0 AS (
  SELECT src, dst FROM cand0
  UNION SELECT src, dst FROM ring
  UNION SELECT dst AS src, src AS dst FROM ring
),
sc0 AS (
  SELECT p.src, p.dst, {cos} AS cosine
  FROM pairs0 p
  JOIN corpus ca ON ca.vec_id = p.src
  JOIN corpus cb ON cb.vec_id = p.dst
),
ogs AS (
  SELECT g.src, g.dst, {cos} AS cosine
  FROM og g
  JOIN corpus ca ON ca.vec_id = g.src
  JOIN corpus cb ON cb.vec_id = g.dst
),
e0 AS MATERIALIZED (
  SELECT src, dst, cosine FROM (
    SELECT src, dst, cosine, ROW_NUMBER() OVER (
      PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rn
    FROM (SELECT DISTINCT src, dst, cosine FROM (
      SELECT * FROM ogs UNION ALL SELECT * FROM sc0) u) d) t
  WHERE rn <= {m}
)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""b{t} AS MATERIALIZED (
  SELECT src, dst, cosine FROM e{t - 1}
  UNION
  SELECT dst AS src, src AS dst, cosine FROM e{t - 1}
),
w{t} AS (
  SELECT x.src AS src, y.dst AS dst
  FROM b{t} x JOIN b{t} y ON x.dst = y.src
  WHERE x.src % {batch_mod} = 0 AND x.src <> y.dst
),
cd{t} AS (
  SELECT src, dst FROM (
    SELECT DISTINCT src, dst FROM (
      SELECT src, dst FROM w{t}
      UNION ALL
      SELECT dst AS src, src AS dst FROM w{t}) uu) c
  ANTI JOIN b{t} USING (src, dst)
),
sc{t} AS (
  SELECT c.src, c.dst, {cos} AS cosine
  FROM cd{t} c
  JOIN corpus ca ON ca.vec_id = c.src
  JOIN corpus cb ON cb.vec_id = c.dst
),
e{t} AS MATERIALIZED (
  SELECT src, dst, cosine FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rn
    FROM (SELECT * FROM b{t} UNION ALL SELECT * FROM sc{t}) u) t2
  WHERE rn <= {m}
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT src, CAST(rank AS INT) AS rank, dst, cosine
FROM (
  SELECT src, dst, cosine, ROW_NUMBER() OVER (
    PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
  FROM e{rounds}) t
ORDER BY src, rank"""
    )


KNN_GRAPH_DELTA_SQL = knn_graph_delta_sql()


def graph_delta_stream(
    spark,
    emb: DataFrame,
    n_groups: int = 3,
    n_queries: int = NSW_N_QUERIES,
    m: int = NSW_M,
    rounds: int = NSW_DELTA_ROUNDS,
    batch_mod: int = NSW_DELTA_MOD,
    src_dir: str | None = None,
    checkpoint_dir: str | None = None,
    graph: DataFrame | None = None,
    on_fold=None,
) -> DataFrame:
    """Stream-maintained kNN-graph index (VERDICT r11 #4): a replayed
    embedding stream keeps the ``nsw_graph`` asset current via one
    ``knn_graph_delta`` fold per micro-batch — the end-to-end 100 TB
    serving story (the batch-side delta landed in round 11; this is
    the arrival path that drives it).

    Mechanics: the arriving vectors (``vec_id % batch_mod == 0``)
    split into ``n_groups`` replay days by
    ``(vec_id // batch_mod) % n_groups``; each day is one JSON file of
    ids (vectors join from the static table inside the fold — ids on
    the wire, no float round-trip), drained with
    ``maxFilesPerTrigger=1`` + availableNow through a checkpointed
    ``foreachBatch``. Each fold calls ``knn_graph_delta`` with the
    micro-batch's group predicate as ``is_new`` and the running graph
    as ``graph``, then eagerly localCheckpoints the updated index —
    the foreachBatch analogue of writing the graph table back to the
    object store. A checkpointed restart with no new files refires
    nothing (committed epochs are skipped), so maintenance is
    idempotent; pytest pins that plus end-state symmetrized edge
    recall ≥ 0.85 vs a from-scratch build over the full corpus.

    ``src_dir``/``checkpoint_dir``/``graph`` are injectable for the
    restart test (an existing non-empty src_dir is reused as-is);
    ``on_fold(j)`` observes fold order. Returns the final graph in
    ``nn_descent_graph``'s (src, rank, dst, cosine) shape."""
    import os
    import shutil
    import tempfile

    corpus = emb.filter(F.col("vec_id") >= n_queries)
    batch_pred = (F.col("vec_id") % batch_mod) == 0

    def grp(c):
        return F.pmod(F.floor(c / batch_mod).cast("long"), F.lit(n_groups))

    if graph is None:
        graph = _knn_graph(
            corpus.filter(~batch_pred).select("vec_id", "embedding"), m
        )
    state = {"graph": graph.localCheckpoint(eager=True)}

    own_dirs = []
    if src_dir is None:
        src_dir = tempfile.mkdtemp(prefix="graphdelta_src_")
        own_dirs.append(src_dir)
    if checkpoint_dir is None:
        checkpoint_dir = tempfile.mkdtemp(prefix="graphdelta_ckpt_")
        own_dirs.append(checkpoint_dir)

    def fold(mb, epoch_id):
        r = mb.agg(
            F.min("grp").alias("a"), F.max("grp").alias("b"),
            F.count("*").alias("n"),
        ).first()
        if r.n == 0:
            return
        assert r.a == r.b, f"micro-batch spans groups {r.a}..{r.b}"
        j = int(r.a)
        arrived = (
            (F.col("vec_id") < n_queries)
            | ~batch_pred
            | (grp(F.col("vec_id")) <= j)
        )
        state["graph"] = knn_graph_delta(
            emb.filter(arrived),
            n_queries=n_queries,
            m=m,
            rounds=rounds,
            batch_mod=batch_mod,
            graph=state["graph"],
            is_new=lambda c: ((c % batch_mod) == 0) & (grp(c) == j),
        ).localCheckpoint(eager=True)
        if on_fold is not None:
            on_fold(j)

    try:
        if not os.listdir(src_dir):
            # one file per replay day, mtimes increasing so the file
            # source drains them in group order
            for j in range(n_groups):
                tmp = tempfile.mkdtemp(prefix="graphdelta_day_")
                try:
                    (
                        corpus.filter(
                            batch_pred & (grp(F.col("vec_id")) == j)
                        )
                        .select("vec_id", grp(F.col("vec_id")).alias("grp"))
                        .coalesce(1)
                        .write.mode("overwrite")
                        .json(tmp)
                    )
                    parts = [
                        f for f in os.listdir(tmp)
                        if f.startswith("part-") and f.endswith(".json")
                    ]
                    dst = os.path.join(src_dir, f"day{j:04d}.json")
                    shutil.move(os.path.join(tmp, parts[0]), dst)
                    os.utime(dst, (1_600_000_000 + j, 1_600_000_000 + j))
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)
        q = (
            spark.readStream.schema("vec_id LONG, grp LONG")
            .option("maxFilesPerTrigger", 1)
            .json(src_dir)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        for d in own_dirs:
            shutil.rmtree(d, ignore_errors=True)
    return state["graph"]


def ivf_delta_stream(
    spark,
    emb: DataFrame,
    n_groups: int = 3,
    n_queries: int = NSW_N_QUERIES,
    batch_mod: int = IVF_DELTA_MOD,
    n_cells: int = KC_EXACT_CELLS,
    seed: int = KC_EXACT_SEED,
    src_dir: str | None = None,
    checkpoint_dir: str | None = None,
    cents: DataFrame | None = None,
    cells: DataFrame | None = None,
    on_fold=None,
) -> DataFrame:
    """Stream-maintained IVF index — the ``graph_delta_stream``
    counterpart for the coarse-quantizer family, completing the
    serving symmetry: BOTH index families (graph and IVF) now have a
    batch delta operator AND the arrival path that drives it.

    A replayed embedding stream folds each micro-batch of arriving
    vectors (``vec_id % batch_mod == 0``, split into ``n_groups``
    replay days) into the running (vec_id, cell) assignment via ONE
    cosine-argmax map pass against the PINNED centroid frame
    (``kc_exact_centroids`` trained on the old corpus only — no Lloyd
    pass ever sees an arrived vector), then eagerly localCheckpoints
    the updated assignment — the foreachBatch analogue of appending to
    the index's cell-list table. Ids ride the wire; vectors join from
    the static table inside the fold (the ``graph_delta_stream``
    device).

    Because every step is deterministic-exact (unlike the graph leg's
    recall-floor contract), the pinned pytest asserts full
    stream==batch EQUALITY: the end-state assignment equals the batch
    ``ivf_delta_assign`` path's old ∪ batch assignment row-for-row,
    and a checkpointed restart with no new files refires nothing.

    Scale: per fold the work is |micro-batch| × cells fanout rows +
    an O(batch) argmax agg — old-corpus vectors are never re-read
    (``cents``/``cells`` are injectable serving assets, as in
    ``ivf_delta_assign``). Returns the final (vec_id, cell)
    assignment frame."""
    import os
    import shutil
    import tempfile

    corpus = emb.filter(F.col("vec_id") >= n_queries).select(
        "vec_id", "embedding"
    )
    batch_pred = (F.col("vec_id") % batch_mod) == 0

    def grp(c):
        return F.pmod(F.floor(c / batch_mod).cast("long"), F.lit(n_groups))

    if cents is None:
        cents = kc_exact_centroids(corpus.filter(~batch_pred), n_cells, seed)
    cents = cents.localCheckpoint(eager=True)
    if cells is None:
        cells = _cosine_argmax(_explode_vecs(corpus.filter(~batch_pred)), cents)
    state = {"cells": cells.localCheckpoint(eager=True)}

    own_dirs = []
    if src_dir is None:
        src_dir = tempfile.mkdtemp(prefix="ivfdelta_src_")
        own_dirs.append(src_dir)
    if checkpoint_dir is None:
        checkpoint_dir = tempfile.mkdtemp(prefix="ivfdelta_ckpt_")
        own_dirs.append(checkpoint_dir)

    def fold(mb, epoch_id):
        r = mb.agg(
            F.min("grp").alias("a"), F.max("grp").alias("b"),
            F.count("*").alias("n"),
        ).first()
        if r.n == 0:
            return
        assert r.a == r.b, f"micro-batch spans groups {r.a}..{r.b}"
        j = int(r.a)
        batch_vecs = corpus.join(
            F.broadcast(mb.select("vec_id")), "vec_id", "left_semi"
        )
        state["cells"] = (
            state["cells"]
            .unionByName(_cosine_argmax(_explode_vecs(batch_vecs), cents))
            .localCheckpoint(eager=True)
        )
        if on_fold is not None:
            on_fold(j)

    try:
        if not os.listdir(src_dir):
            for j in range(n_groups):
                tmp = tempfile.mkdtemp(prefix="ivfdelta_day_")
                try:
                    (
                        corpus.filter(
                            batch_pred & (grp(F.col("vec_id")) == j)
                        )
                        .select("vec_id", grp(F.col("vec_id")).alias("grp"))
                        .coalesce(1)
                        .write.mode("overwrite")
                        .json(tmp)
                    )
                    parts = [
                        f for f in os.listdir(tmp)
                        if f.startswith("part-") and f.endswith(".json")
                    ]
                    dst = os.path.join(src_dir, f"day{j:04d}.json")
                    shutil.move(os.path.join(tmp, parts[0]), dst)
                    os.utime(dst, (1_600_000_000 + j, 1_600_000_000 + j))
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)
        q = (
            spark.readStream.schema("vec_id LONG, grp LONG")
            .option("maxFilesPerTrigger", 1)
            .json(src_dir)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        for d in own_dirs:
            shutil.rmtree(d, ignore_errors=True)
    return state["cells"]
