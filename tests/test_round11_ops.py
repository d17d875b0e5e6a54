"""Round-11 additions: bench stdout-line headroom (VERDICT r10 #5),
aHash 32-bit-tier multiprobe, incremental NSW graph maintenance, and
the ADVICE r10 closures."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_bench_final_line_parseable_at_330_keys():
    """The driver keeps only the LAST 2000 stdout chars and parses the
    final JSON line from that window; round 10's line landed 9 chars
    from the old 1800 budget. The fold must keep a 330-key registry's
    line under the re-derived 1700 budget (≥15% headroom vs 2000) and
    the _other rollup must conserve the total."""
    import bench

    # adversarial shape: long names (the real registry's longest is
    # ~34 chars), every timing distinct so the fastest-first fold is
    # deterministic, and a slow tail that must survive the fold
    timings = {
        f"emb_semantic_decontamination_gov_{i:03d}": round(0.01 * i + 0.07, 3)
        for i in range(330)
    }
    total = round(sum(timings.values()), 3)
    total_min = round(total * 0.91, 3)
    line = bench.final_line(
        timings, total, "0.1", [9.9, 10.1, 8.7], total_min=total_min
    )
    assert len(line) <= bench.LINE_BUDGET <= 1700
    out = json.loads(line)
    assert out["value"] == total and out["n"] == 330
    # VERDICT r11 #6: the parsed stdout line carries the
    # contention-robust min-sum beside the median total
    assert out["total_min"] == total_min
    kept = sum(out["queries"].values())
    assert abs(kept + out["other_sec"] - total) < 0.5  # 2-dp rounding slack
    # the slowest keys are always retained verbatim
    slowest = max(timings, key=timings.get)
    assert slowest in out["queries"]


# --- aHash 32-bit-tier multiprobe (VERDICT r10 #1) --------------------------

HI = "~~~~"  # block byte-sum 4·0x7e = 504 (above the mean -> bit 1)
LO = "    "  # block byte-sum 4·0x20 = 128 (below the mean -> bit 0)


def _payload(high_blocks: set) -> str:
    """256-char printable payload whose aHash bit b is 1 iff
    b in high_blocks. With exactly 32 high blocks the mean is the
    constant 316, so flipping one block low->high and another
    high->low changes exactly those two bits."""
    assert len(high_blocks) == 32
    return "".join(HI if b in high_blocks else LO for b in range(64))


def _mp_docs(spark):
    evens = set(range(0, 64, 2))
    # B flips block 3 (band 0 at 32-bit bands) AND block 40 (band 1):
    # Hamming(A,B) = 2 split 1+1 across the two bands — invisible to
    # plain 2-band lookup, guaranteed by flip-1-bit multiprobe.
    b_high = (evens - {40}) | {3}
    # D differs from A at blocks 2,4,5,7 — Hamming 4 entirely inside
    # band 0 (4+0 split): plain lookup still finds it through the
    # untouched band 1.
    d_high = (evens - {2, 4}) | {5, 7}
    rows = [
        (1, _payload(evens), "synthetic"),
        (2, _payload(b_high), "synthetic"),
        (3, _payload(evens), "synthetic"),  # exact dup of 1
        (4, _payload(d_high), "synthetic"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_ahash_multiprobe_restores_cross_band_hamming2(spark):
    """The 32-bit tier's recall cliff (VERDICT r10 #1): a Hamming-2
    pair whose differing bits land in DIFFERENT 32-bit bands is missed
    by plain band lookup but guaranteed by the flip-1-bit multiprobe;
    same-band splits and exact dups are found by both."""
    from logistics_data_pipeline_spark.llm import multimodal as mm

    docs = _mp_docs(spark)
    plain = {
        (r.a_id, r.b_id)
        for r in mm.media_ahash_neardup(
            docs, band_bits=32, multiprobe=False
        ).collect()
    }
    probed = {
        (r.a_id, r.b_id)
        for r in mm.media_ahash_neardup(
            docs, band_bits=32, multiprobe=True
        ).collect()
    }
    assert (1, 2) not in plain  # the cliff: cross-band Hamming-2 missed
    assert (1, 2) in probed  # restored by multiprobe
    assert (1, 3) in plain and (1, 3) in probed  # exact dup
    assert (2, 3) not in plain and (2, 3) in probed  # symmetric cross-band
    # same-band 2-bit split: the untouched band matches exactly
    assert (1, 4) in plain and (1, 4) in probed
    # multiprobe only ADDS candidates; the Hamming verify is unchanged
    assert plain <= probed


def test_ahash_multiprobe_cross_engine_parity(spark):
    """The multiprobe candidate CTE mirrors exactly: Spark rows ==
    DuckDB twin rows on the controlled corpus (values, not counts)."""
    import duckdb

    from logistics_data_pipeline_spark.llm import multimodal as mm

    docs = _mp_docs(spark)
    got = [
        (r.a_id, r.b_id, r.hamming)
        for r in mm.media_ahash_neardup(
            docs, band_bits=32, multiprobe=True
        ).collect()
    ]
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = [
        tuple(r)
        for r in con.execute(
            mm.media_ahash_neardup_sql(band_bits=32, multiprobe=True)
        ).fetchall()
    ]
    assert got == want and len(got) >= 4


# --- incremental kNN-graph maintenance (VERDICT r10 #2) ---------------------


def test_knn_graph_delta_recall_vs_rebuild(spark, sf_dir):
    """The delta update's symmetrized edge set must recover ≥ 0.85 of
    the from-scratch rebuild over the updated corpus — the VERDICT r10
    acceptance bar — without ever re-forming the old pair space."""
    from pyspark.sql import functions as F

    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    delta = sim.knn_graph_delta(emb).collect()
    got = set()
    for r in delta:
        got.add((r.src, r.dst))
        got.add((r.dst, r.src))
    corpus = emb.filter(F.col("vec_id") >= sim.NSW_N_QUERIES).select(
        "vec_id", "embedding"
    )
    rebuild = {
        (r.src, r.dst) for r in sim._knn_graph(corpus, sim.NSW_M).collect()
    }
    recall = len(got & rebuild) / len(rebuild)
    assert recall >= 0.85, recall


def test_knn_graph_delta_untouched_old_lists_survive(spark, sf_dir):
    """Old vertices that gained no batch neighbor keep their exact old
    top-m out-list bit-for-bit (the merge-step dominance property the
    docstring claims: an exact top-m list dominates every in-edge)."""
    from pyspark.sql import functions as F

    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= sim.NSW_N_QUERIES).select(
        "vec_id", "embedding"
    )
    old = corpus.filter((F.col("vec_id") % sim.NSW_DELTA_MOD) != 0)
    # the exact old out-lists (what _knn_graph ranks before symmetrizing)
    from pyspark.sql import Window

    scored = sim.embedding_neardup(old, threshold=-1.0)
    both = scored.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst"), "cosine"
    ).unionByName(
        scored.select(
            F.col("b_id").alias("src"), F.col("a_id").alias("dst"), "cosine"
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    old_lists = {}
    for r in (
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= sim.NSW_M)
        .collect()
    ):
        old_lists.setdefault(r.src, []).append((r.rn, r.dst))
    delta_lists = {}
    for r in sim.knn_graph_delta(emb).collect():
        delta_lists.setdefault(r.src, []).append((r.rank, r.dst))
    changed = {
        src
        for src, lst in delta_lists.items()
        if src in old_lists and sorted(lst) != sorted(old_lists[src])
    }
    untouched_same = [
        src
        for src in old_lists
        if src not in changed and sorted(delta_lists[src]) == sorted(old_lists[src])
    ]
    # most old vertices keep their lists verbatim; every change must
    # have imported at least one batch vector (no old-old churn)
    assert len(untouched_same) > 0
    for src in changed:
        new_dsts = {d for _, d in delta_lists[src]} - {
            d for _, d in old_lists[src]
        }
        assert new_dsts and all(
            d % sim.NSW_DELTA_MOD == 0 for d in new_dsts
        ), (src, sorted(new_dsts))


def test_ahash_multiprobe_guarantee_radius_exhaustive(spark, sf_dir):
    """On the real sf0.001 corpus: every pair within Hamming ≤ 3 of the
    exact all-pairs twin appears in the 32-bit multiprobe output — the
    restored pigeonhole guarantee, checked against ground truth rather
    than constructed cases."""
    from pyspark.sql import functions as F

    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    probed = {
        (r.a_id, r.b_id)
        for r in mm.media_ahash_neardup(
            docs, band_bits=32, multiprobe=True
        ).collect()
    }
    # exact ground truth: all-pairs Hamming over the full 8-band
    # signatures (8-bit bands keep the same packed sigs; the corpus is
    # ~200 docs so the quadratic join is test-only affordable)
    exact = {
        (r.a_id, r.b_id): r.hamming
        for r in mm.media_ahash_neardup(docs, band_bits=8).collect()
    }
    near = {p for p, h in exact.items() if h <= 3}
    assert near <= probed, sorted(near - probed)


def test_knn_graph_beam_layered_recall_floor_at_4_rounds(spark, sf_dir):
    """HNSW-style layered entry (VERDICT r10 #8): seeding each query's
    beam at its nearest vertex among the ⌈√n⌉ md5-sampled top layer
    must hold the 0.9 recall@5 floor with the round budget cut from 6
    to NSW_LAYERED_ROUNDS=4 — fewer frontier/score joins is the whole
    point of the layer."""
    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm import similarity as llm_sim

    emb = load_table(spark, sf_dir, "embeddings")
    truth = {
        (r.query_id, r.neighbor_id)
        for r in llm_sim.knn_bruteforce(emb).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in llm_sim.knn_graph_beam(
            emb, rounds=llm_sim.NSW_LAYERED_ROUNDS, layered=True
        ).collect()
    }
    assert truth, "brute force returned nothing"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"layered beam recall@5 {recall:.3f} < 0.9"
    assert llm_sim.NSW_LAYERED_ROUNDS < llm_sim.NSW_ROUNDS


def test_knn_graph_beam_layered_seed_is_nearest_layer_vertex(spark, sf_dir):
    """With rounds=0 the layered search returns exactly its seed: ONE
    row per query, and that row's vec_id must equal the query's
    argmax-cosine vertex WITHIN the ⌈√n⌉-vertex md5 layer (both
    recomputed independently here with numpy, cosine 6-dp rounded and
    tie-broken by vec_id ASC like the operator). Membership alone is
    not enough — a bug seeding at an arbitrary layer vertex would
    still be 'in the layer' (ADVICE r11 #3)."""
    import hashlib
    import math as _math

    import numpy as _np

    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm import similarity as llm_sim

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: _np.asarray(r.embedding, dtype="float64") for r in rows}
    corpus_ids = sorted(v for v in vecs if v >= 10)
    n_layer = _math.ceil(_math.sqrt(len(corpus_ids)))
    layer_ids = sorted(
        corpus_ids,
        key=lambda v: (
            hashlib.md5(f"{v}:{llm_sim.NSW_LAYER_SALT}".encode()).hexdigest(),
            v,
        ),
    )[:n_layer]

    def expected_seed(qid: int) -> int:
        q = vecs[qid]
        qn = _np.linalg.norm(q)
        best = None
        for v in sorted(layer_ids):  # vec_id ASC = operator's tiebreak
            c = vecs[v]
            cos = round(float(q @ c / (qn * _np.linalg.norm(c))), 6)
            if best is None or cos > best[0]:
                best = (cos, v)
        return best[1]

    sink: list = []
    out = llm_sim.knn_graph_beam(
        emb, rounds=0, layered=True, visited_out=sink
    ).collect()
    per_query: dict = {}
    for r in out:
        per_query.setdefault(r.query_id, []).append(r.neighbor_id)
    assert per_query and all(len(v) == 1 for v in per_query.values())
    for qid, (seed,) in sorted(per_query.items()):
        want = expected_seed(qid)
        assert seed == want, (
            f"query {qid}: seed {seed} != nearest layer vertex {want}"
        )


def test_replay_shard_tier_widens_past_bound(spark):
    """The replay shard governor (VERDICT r10 #4): small replays pin
    spark.sql.shuffle.partitions to REPLAY_STATE_PARTITIONS (commit-
    bound regime); replays of >= REPLAY_WIDE_ROWS rows keep the session
    width (the sf10 profile showed commits flat at ~1.5 s while the
    8-shard fold serialized 10M rows onto a quarter of the cores). The
    session value must be restored either way."""
    from logistics_data_pipeline_spark.streaming.windowed import (
        REPLAY_STATE_PARTITIONS,
        REPLAY_WIDE_ROWS,
        _replay_shuffle_parts,
    )

    key = "spark.sql.shuffle.partitions"
    orig = spark.conf.get(key)
    try:
        # pin a session width distinct from the shrink target (the test
        # session runs 8 CPUs, so the default width IS 8)
        spark.conf.set(key, "24")
        with _replay_shuffle_parts(spark, n_rows=REPLAY_WIDE_ROWS - 1):
            assert spark.conf.get(key) == str(REPLAY_STATE_PARTITIONS)
        assert spark.conf.get(key) == "24"
        with _replay_shuffle_parts(spark, n_rows=REPLAY_WIDE_ROWS):
            assert spark.conf.get(key) == "24"
        assert spark.conf.get(key) == "24"
    finally:
        spark.conf.set(key, orig)


def test_source_rows_reads_footers_without_a_job(spark, sf_dir):
    """session.source_rows: exact on a bare scan, an upper bound on a
    filter, count() on frames without input files — and a file-backed
    call submits no Spark job."""
    from pyspark.sql import functions as F

    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.session import source_rows

    events = load_table(spark, sf_dir, "events")
    sc = spark.sparkContext
    group = "test:source_rows"
    sc.setJobGroup(group, "source_rows footer read")
    try:
        n = source_rows(events)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert n == events.count()
    purchases = events.filter(F.col("event_type") == "purchase")
    assert source_rows(purchases) >= purchases.count()
    checkpointed = purchases.localCheckpoint(eager=True)
    assert source_rows(checkpointed) == checkpointed.count()
    in_memory = spark.createDataFrame([(i,) for i in range(7)], "id long")
    assert source_rows(in_memory) == in_memory.count() == 7


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_governor_regimes_from_source_rows_match_exact_counts(spark, sf_dir, sf):
    """Every size governor picks the same regime from ``source_rows`` as
    from the exact count() of the frame it sized before, at every
    committed scale factor, so no committed output depends on which of
    the two sized it."""
    from pyspark.sql import functions as F

    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm.multimodal import (
        AHASH_BLOCKS,
        AHASH_BYTES_PER_BLOCK,
        _ahash_band_bits,
        docs_as_media,
    )
    from logistics_data_pipeline_spark.llm.similarity import (
        NSW_EXACT_BOUND,
        NSW_N_QUERIES,
        _srp_dims,
    )
    from logistics_data_pipeline_spark.operators.analytics import (
        NTILE_WINDOW_BOUND,
    )
    from logistics_data_pipeline_spark.session import source_rows
    from logistics_data_pipeline_spark.streaming.windowed import (
        _replay_shuffle_parts,
    )

    sf_dir = os.path.join(os.path.dirname(sf_dir), sf)
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    events = load_table(spark, sf_dir, "events")
    need = AHASH_BLOCKS * AHASH_BYTES_PER_BLOCK

    def ntile_window(n):
        return n <= NTILE_WINDOW_BOUND

    def replay_wide(n):
        return _replay_shuffle_parts(spark, n).wide

    governors = {
        "srp_dims": (_srp_dims, emb),
        "nsw_exact": (
            lambda n: n <= NSW_EXACT_BOUND,
            emb.filter(F.col("vec_id") >= NSW_N_QUERIES),
        ),
        "ahash_band_bits": (
            _ahash_band_bits,
            docs_as_media(docs).filter(F.length("content") >= need),
        ),
        "ntile_perplexity": (ntile_window, docs),
        "ntile_zorder": (ntile_window, events.select("event_id", "user_id", "ts")),
        "replay_events": (replay_wide, events),
        "replay_click_topics": (
            replay_wide,
            events.filter(F.col("event_type").isin("purchase", "click")),
        ),
    }
    for name, (regime, frame) in governors.items():
        bound, exact = source_rows(frame), frame.count()
        assert bound >= exact, name
        assert regime(bound) == regime(exact), (name, bound, exact)
