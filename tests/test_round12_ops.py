"""Round-12 operator tests.

Headline: the pHash complete-multiprobe redesign (VERDICT r11 #1). The
pre-round-12 banded operator guaranteed only Hamming ≤ 3 recall in its
16-bit tier while filtering at ``PHASH_MAX_HAMMING = 10``;
tools/phash_recall.py measured it silently dropping 59% of the true
Hamming-4..10 pairs at sf1 and 47% at sf10. The redesign (unique-sig
collapse + per-band ≤r-bit flip probes with k(r+1)−1 ≥ 10) makes the
output EXACT — these tests pin that on a corpus that actually HAS
mid-Hamming pairs (committed SFs have none above 3, so the gate alone
would never exercise the recovered regime).
"""

from __future__ import annotations

import numpy as np
import pytest


def _synth_docs(spark):
    """30 docs: a base payload plus 29 variants with k scattered
    single-char edits — measured pHash pair histogram has mass in
    EVERY Hamming bucket 2..19 (so both the ≤10 recall regime and the
    >10 filter are exercised)."""
    rng = np.random.RandomState(7)
    base = ("the quick brown fox jumps over the lazy dog " * 12)[:512]
    texts = [base]
    for k in range(1, 30):
        s = list(base)
        for pos in rng.choice(len(base) // 2, size=k, replace=False):
            s[int(pos)] = chr(65 + (k + pos) % 26)
        texts.append("".join(s))
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


class TestPhashCompleteMultiprobe:
    def test_banded_output_is_exact_at_both_widths(self, spark):
        """Both band widths must return the EXACT Hamming ≤ 10 pair
        set — computed independently here from the canonical packed
        signatures in numpy — on a corpus with pairs in every bucket
        4..10 (the regime the old plain bands measurably missed)."""
        from logistics_data_pipeline_spark.llm import multimodal as mm

        docs = _synth_docs(spark)
        sig = {
            r.media_id: (int(r.lo) << 32) | int(r.hi)
            for r in mm.media_phash_sigs(docs).collect()
        }
        truth = {}
        for a in sig:
            for b in sig:
                if a < b:
                    d = bin(sig[a] ^ sig[b]).count("1")
                    if d <= mm.PHASH_MAX_HAMMING:
                        truth[(a, b)] = d
        # the corpus must exercise the recovered regime AND the filter
        assert all(
            any(h == d for h in truth.values()) for d in range(4, 11)
        ), sorted(set(truth.values()))
        for bb in (8, 16):
            got = {
                (r.a_id, r.b_id): r.hamming
                for r in mm.media_phash_neardup(docs, band_bits=bb).collect()
            }
            assert got == truth, f"band_bits={bb}"

    def test_oracle_is_ground_truth_on_mid_hamming_corpus(self, spark):
        """The registered DuckDB twin (exact all-pairs over unique
        sigs) must agree with the Spark operator on the same synthetic
        corpus — i.e. the driver hash-match now certifies recall
        ground truth, not banding parity."""
        import duckdb

        from logistics_data_pipeline_spark.llm import multimodal as mm

        docs = _synth_docs(spark)
        pdf = docs.toPandas()
        con = duckdb.connect()
        con.register("documents", pdf)
        dk = {
            (a, b): h
            for a, b, h in con.sql(mm.media_phash_neardup_sql()).fetchall()
        }
        sp = {
            (r.a_id, r.b_id): r.hamming
            for r in mm.media_phash_neardup(docs).collect()
        }
        assert sp == dk and len(sp) >= 100

    def test_probe_set_is_complete_for_max_hamming(self):
        """The pigeonhole contract behind exactness: for ANY 64-bit
        pair at Hamming ≤ 10, some band's difference has weight ≤ the
        probe radius, so the pair meets in a bucket. Checked
        exhaustively-in-distribution: 2000 random difference patterns
        per weight 0..10, both band layouts."""
        from logistics_data_pipeline_spark.llm.multimodal import (
            PHASH_MAX_HAMMING,
            PHASH_PROBE_RADIUS,
        )

        rng = np.random.RandomState(12)
        for band_bits, radius in PHASH_PROBE_RADIUS.items():
            n_bands = 64 // band_bits
            assert n_bands * (radius + 1) - 1 >= PHASH_MAX_HAMMING
            for w in range(PHASH_MAX_HAMMING + 1):
                for _ in range(2000):
                    positions = rng.choice(64, size=w, replace=False)
                    band_weights = [0] * n_bands
                    for p in positions:
                        band_weights[int(p) // band_bits] += 1
                    assert min(band_weights) <= radius, (
                        band_bits,
                        w,
                        band_weights,
                    )

    def test_incomplete_probe_request_raises(self, spark):
        """Asking for a radius the probe set cannot guarantee must
        fail loudly, not silently under-recall."""
        from logistics_data_pipeline_spark.llm import multimodal as mm

        docs = _synth_docs(spark)
        with pytest.raises(AssertionError, match="probe set incomplete"):
            mm.media_phash_neardup(docs, max_hamming=20, band_bits=16)


# --- incremental IVF maintenance (VERDICT r11 #3) ---------------------------


def test_fixed_width_bytes_reads_binary_and_rejects_large_binary():
    """The aHash/pHash Arrow reader decodes int32 offsets (a sliced
    batch included); a ``large_binary`` column (int64 offsets, as under
    ``useLargeVarTypes``) must raise instead of being misread."""
    import pyarrow as pa

    from logistics_data_pipeline_spark.llm.multimodal import _fixed_width_bytes

    payload = [b"abcd", b"efgh", b"ijkl"]
    ids = pa.array([0, 1, 2], type=pa.int64())
    rb = pa.RecordBatch.from_arrays([ids, pa.array(payload, type=pa.binary())], names=["id", "px"])
    assert _fixed_width_bytes(rb.slice(1).column(1), 4).tolist() == [list(b"efgh"), list(b"ijkl")]
    large = pa.RecordBatch.from_arrays(
        [ids, pa.array(payload, type=pa.large_binary())], names=["id", "px"]
    )
    with pytest.raises(TypeError, match="large_binary"):
        _fixed_width_bytes(large.column(1), 4)


class TestIvfDeltaAssign:
    def test_injected_assets_reproduce_registered_output(self, spark, sf_dir):
        """The serving path — deployed centroids + persisted old
        assignment injected — must reproduce the registered key's panel
        bit-for-bit, proving the only delta work is the batch argmax
        plus the O(cells) aggregation."""
        from logistics_data_pipeline_spark.adapters.testdata import load_table
        from logistics_data_pipeline_spark.llm import similarity as sim
        from pyspark.sql import functions as F

        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= sim.NSW_N_QUERIES)
        old = corpus.filter((F.col("vec_id") % sim.IVF_DELTA_MOD) != 0)
        cents = sim.kc_exact_centroids(old).localCheckpoint(eager=True)
        old_cells = sim._cosine_argmax(
            sim._explode_vecs(old), cents
        ).localCheckpoint(eager=True)
        served = sim.ivf_delta_assign(
            emb, cents=cents, old_cells=old_cells
        ).collect()
        registered = sim.ivf_delta_assign(emb).collect()
        assert [tuple(r) for r in served] == [tuple(r) for r in registered]
        assert len(registered) > 0

    def test_fold_counts_conserve_and_split_matches_mod(self, spark, sf_dir):
        """n_old + n_new must equal the corpus split sizes exactly —
        every old and batch vector lands in exactly one cell."""
        from logistics_data_pipeline_spark.adapters.testdata import load_table
        from logistics_data_pipeline_spark.llm import similarity as sim
        from pyspark.sql import functions as F

        emb = load_table(spark, sf_dir, "embeddings")
        corpus = emb.filter(F.col("vec_id") >= sim.NSW_N_QUERIES)
        n_batch = corpus.filter(
            (F.col("vec_id") % sim.IVF_DELTA_MOD) == 0
        ).count()
        n_old = corpus.count() - n_batch
        rows = sim.ivf_delta_assign(emb).collect()
        assert sum(r.n_old for r in rows) == n_old
        assert sum(r.n_new for r in rows) == n_batch
        for r in rows:
            assert r.n_total == r.n_old + r.n_new
            assert r.retrain_candidate == (r.load_ratio > sim.IVF_RETRAIN_RATIO)

    def test_skewed_batch_flags_retrain_candidate(self, spark):
        """A batch that piles onto one cell must flag it past the skew
        bound instead of silently absorbing the imbalance — the signal
        that routes a LOCAL re-split, not a global retrain."""
        import numpy as np

        from logistics_data_pipeline_spark.llm import similarity as sim

        rng = np.random.RandomState(3)
        d = 8
        rows = []
        # old corpus: 40 vectors spread over 4 well-separated axes
        for i in range(40):
            v = rng.normal(0, 0.05, d)
            v[i % 4] = 1.0
            rows.append((10 + i + (1 if (10 + i) % 5 == 0 else 0), 0,
                         [float(x) for x in v]))
        # batch: 30 vectors ALL near axis 0 (vec_id % 5 == 0)
        for j in range(30):
            v = rng.normal(0, 0.05, d)
            v[0] = 1.0
            rows.append((100 + 5 * j, 0, [float(x) for x in v]))
        emb = spark.createDataFrame(
            [(int(i), int(lab), vec) for i, lab, vec in rows],
            "vec_id long, label long, embedding array<float>",
        )
        panel = sim.ivf_delta_assign(emb, n_cells=4, seed=7).collect()
        flagged = [r for r in panel if r.retrain_candidate]
        assert flagged, panel
        hot = max(panel, key=lambda r: r.n_total)
        assert hot.retrain_candidate and hot.n_new >= 25


def test_knn_ivf_delta_recall_holds_panel_floor(spark):
    """VERDICT r11 #3 done-criterion: recall@5 over corpus ∪ batch with
    the DELTA-maintained learned index (centroids trained on the old
    corpus only, batch folded by one assign pass — never retrained)
    must hold the same 0.75 floor the full-retrain knn_ivf pins at
    sf0.01, at the delta path's retuned default operating point
    (nprobe=10 — measured 0.82 vs full-retrain 0.80 at nprobe=8; the
    retune is the panel-driven serving response to a corpus shift,
    2 extra probed cells instead of any retrain)."""
    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm.similarity import (
        knn_bruteforce,
        knn_ivf_delta,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    truth = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(emb).collect()}
    got = {(r.query_id, r.neighbor_id) for r in knn_ivf_delta(emb).collect()}
    assert len(got & truth) / len(truth) >= 0.75


# --- stream-maintained kNN-graph index (VERDICT r11 #4) ----------------------


def test_graph_delta_stream_recall_and_restart_idempotency(spark, tmp_path):
    """End-to-end index maintenance: a replayed embedding stream folds
    its arriving batches into the nsw_graph asset one foreachBatch at a
    time (3 replay days, group order pinned); the end-state graph's
    symmetrized edge recall vs a from-scratch build over the FULL
    corpus must hold the 0.85 bar the one-shot delta pins — and a
    checkpointed restart with no new files must refire nothing and
    leave the index unchanged (stream==batch for maintenance)."""
    from pyspark.sql import functions as F

    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src, exist_ok=True)
    folds: list[int] = []
    final = sim.graph_delta_stream(
        spark,
        emb,
        n_groups=3,
        src_dir=src,
        checkpoint_dir=ckpt,
        on_fold=folds.append,
    )
    assert folds == [0, 1, 2], folds
    edges = {(r.src, r.dst, r.rank, r.cosine) for r in final.collect()}

    got = set()
    for s, d, _, _ in edges:
        got.add((s, d))
        got.add((d, s))
    corpus = emb.filter(F.col("vec_id") >= sim.NSW_N_QUERIES).select(
        "vec_id", "embedding"
    )
    rebuild = {
        (r.src, r.dst) for r in sim._knn_graph(corpus, sim.NSW_M).collect()
    }
    recall = len(got & rebuild) / len(rebuild)
    assert recall >= 0.85, recall

    # restart: same source, same checkpoint — no epoch refires, the
    # injected serving graph passes through untouched
    refolds: list[int] = []
    again = sim.graph_delta_stream(
        spark,
        emb,
        n_groups=3,
        src_dir=src,
        checkpoint_dir=ckpt,
        graph=final,
        on_fold=refolds.append,
    )
    assert refolds == []
    assert {(r.src, r.dst, r.rank, r.cosine) for r in again.collect()} == edges


# --- PQ-compressed beam search (VERDICT r11 #8) ------------------------------


class TestKnnGraphBeamPq:
    def _assets(self, spark, sf):
        from logistics_data_pipeline_spark.adapters.testdata import load_table
        from logistics_data_pipeline_spark.llm import similarity as sim
        from pyspark.sql import functions as F

        emb = load_table(spark, sf, "embeddings").localCheckpoint(eager=True)
        corpus = emb.filter(F.col("vec_id") >= sim.NSW_N_QUERIES)
        graph = sim._knn_graph(corpus, sim.NSW_M).localCheckpoint(eager=True)
        books = sim.beam_pq_books(emb)
        codes = sim.pq_assign_packed(
            corpus, sim._books_tensor(books)
        ).localCheckpoint(eager=True)
        return emb, graph, books, codes

    def test_recall_floor_and_memory_contract(self, spark, sf_dir):
        """Recall@5 ≥ 0.9 vs brute force at sf0.01 (measured 1.00 at
        the 32×16 / beam-48 / rerank-10 defaults), AND the DiskANN
        memory contract: the exact re-rank — the only step that reads
        full float vectors — touches ≤ n_queries·rerank·k rows."""
        from logistics_data_pipeline_spark.llm import similarity as sim

        emb, graph, books, codes = self._assets(spark, sf_dir)
        truth = {
            (r.query_id, r.neighbor_id)
            for r in sim.knn_bruteforce(emb).collect()
        }
        hook: list = []
        out = sim.knn_graph_beam_pq(
            emb, graph=graph, books=books, codes=codes, rerank_ids_out=hook
        )
        got = {(r.query_id, r.neighbor_id) for r in out.collect()}
        assert len(got & truth) / len(truth) >= 0.9
        n_full_fetch = hook[0].count()
        assert (
            n_full_fetch
            <= sim.NSW_N_QUERIES * sim.NSW_PQ_RERANK * 5
        ), n_full_fetch

    def test_books_asset_shape_and_adc_is_reconstruction_dot(self, spark, sf_dir):
        """The codebook asset is S·k index-config rows (never
        corpus-sized), and the JVM-side aggregate/zip_with ADC score
        equals the numpy dot of the normalized query against the
        code-reconstructed corpus vector — i.e. the fold really
        computes asymmetric distance, not an approximation of it."""
        import numpy as np

        from logistics_data_pipeline_spark.llm import similarity as sim

        emb, graph, books, codes = self._assets(spark, sf_dir)
        assert books.count() == sim.NSW_PQ_SUB * sim.NSW_PQ_CELLS
        B = sim._books_tensor(books)
        assert B.shape == (sim.NSW_PQ_SUB, sim.NSW_PQ_CELLS, 64 // sim.NSW_PQ_SUB)

        out = sim.knn_graph_beam_pq(
            emb, graph=graph, books=books, codes=codes
        ).collect()
        # spot-check 5 returned (query, neighbor) pairs: recompute the
        # ADC score in numpy from the codes and the raw query vector
        q_vecs = {
            r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.filter("vec_id < 10").collect()
        }
        checked = 0
        code_rows = {r.vec_id: r.codes for r in codes.collect()}
        dsub = B.shape[2]
        for r in out[:5]:
            q = q_vecs[r.query_id]
            q = q / np.linalg.norm(q)
            recon = np.concatenate(
                [B[s][c] for s, c in enumerate(code_rows[r.neighbor_id])]
            )
            adc = round(float(np.dot(q, recon)), 6)
            # the returned cosine is the EXACT re-rank value; the ADC
            # value ranked it into the re-rank pool — assert they agree
            # to quantization error (codes are 32×2-d cells)
            assert abs(adc - r.cosine) < 0.25, (adc, r.cosine)
            checked += 1
        assert checked == 5

    def test_pq_beam_registry_key_runs(self, spark):
        """The registered key (injected nsw_graph/beam_pq_books/
        beam_pq_codes assets) returns the knn output schema with
        k rows per query."""
        from logistics_data_pipeline_spark import registry

        df = registry.queries()["emb_knn_graph_beam_pq"](
            spark, "/root/testdata/sf0.001"
        )
        rows = df.collect()
        assert [f.name for f in df.schema.fields] == [
            "query_id",
            "neighbor_id",
            "cosine",
            "rank",
        ]
        from collections import Counter

        per_q = Counter(r.query_id for r in rows)
        assert all(v == 5 for v in per_q.values())
        assert len(per_q) == 10


# --- stream-maintained IVF index (the graph_delta_stream counterpart) --------


def test_ivf_delta_stream_equals_batch_and_restart_idempotency(spark, tmp_path):
    """Serving symmetry: both index families now have an arrival path.
    Unlike the graph leg's recall floor, IVF delta is deterministic-
    exact, so the stream==batch pin is full EQUALITY: the end-state
    (vec_id, cell) assignment after 3 replayed fold days must equal
    the batch path's one-pass assignment of the whole corpus against
    the SAME old-corpus-trained centroids, row for row — and a
    checkpointed restart with no new files must refire nothing and
    pass the injected assignment through untouched."""
    from pyspark.sql import functions as F

    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").localCheckpoint(
        eager=True
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src, exist_ok=True)

    folds: list[int] = []
    final = sim.ivf_delta_stream(
        spark, emb, n_groups=3, src_dir=src, checkpoint_dir=ckpt,
        on_fold=folds.append,
    )
    assert folds == [0, 1, 2], folds
    got = {(r.vec_id, r.cell) for r in final.collect()}

    corpus = emb.filter(F.col("vec_id") >= sim.NSW_N_QUERIES).select(
        "vec_id", "embedding"
    )
    old = corpus.filter((F.col("vec_id") % sim.IVF_DELTA_MOD) != 0)
    cents = sim.kc_exact_centroids(old)
    want = {
        (r.vec_id, r.cell)
        for r in sim._cosine_argmax(sim._explode_vecs(corpus), cents).collect()
    }
    assert got == want
    assert len(got) == corpus.count()

    refolds: list[int] = []
    again = sim.ivf_delta_stream(
        spark, emb, n_groups=3, src_dir=src, checkpoint_dir=ckpt,
        cells=final, on_fold=refolds.append,
    )
    assert refolds == []
    assert {(r.vec_id, r.cell) for r in again.collect()} == got


def test_knn_graph_beam_pq_layered_recall_floor(spark, sf_dir):
    """The ADC traversal composes with the HNSW-style layered entry
    (seed scored via CODES — the no-full-vector contract holds for
    seeding too): at the layered 4-round budget the PQ beam must hold
    the same 0.9 floor (measured 1.00 at sf0.001 and sf0.01)."""
    from pyspark.sql import functions as F

    from logistics_data_pipeline_spark.adapters.testdata import load_table
    from logistics_data_pipeline_spark.llm import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings").localCheckpoint(eager=True)
    truth = {
        (r.query_id, r.neighbor_id) for r in sim.knn_bruteforce(emb).collect()
    }
    corpus = emb.filter(F.col("vec_id") >= sim.NSW_N_QUERIES)
    graph = sim._knn_graph(corpus, sim.NSW_M).localCheckpoint(eager=True)
    books = sim.beam_pq_books(emb)
    codes = sim.pq_assign_packed(
        corpus, sim._books_tensor(books)
    ).localCheckpoint(eager=True)
    got = {
        (r.query_id, r.neighbor_id)
        for r in sim.knn_graph_beam_pq(
            emb,
            graph=graph,
            books=books,
            codes=codes,
            layered=True,
            rounds=sim.NSW_LAYERED_ROUNDS,
        ).collect()
    }
    assert len(got & truth) / len(truth) >= 0.9
