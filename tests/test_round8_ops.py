"""Round-8 operators: the governed (SRP-LSH banded) semantic
decontamination path, and the properties its oracle compare can't
express — containment in the exact quadratic twin, and the wide band
regime's cross-engine parity."""

from __future__ import annotations

import duckdb

from logistics_data_pipeline_spark.adapters.testdata import load_table
from logistics_data_pipeline_spark.llm import similarity as llm_sim


def _rows(df):
    return {
        r.eval_id: (r.n_train_neardups, r.top_train_id, r.top_cosine)
        for r in df.collect()
    }


def test_governed_decon_is_contained_in_exact_twin(spark, sf_dir):
    """LSH banding can only LOSE pairs, never invent them: every
    governed row's eval_id appears in the exact key's output, its
    near-dup count never exceeds the exact count, and wherever the
    governed path found the same top pair the cosine agrees exactly.
    Also pin non-vacuity: the bands must recall at least half of the
    exact eval ids at this threshold on committed data (measured
    recall is ~1.0; 0.5 keeps the pin regen-robust)."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = _rows(
        llm_sim.semantic_decontamination(emb, llm_sim.embedding_neardup(emb))
    )
    gov = _rows(llm_sim.semantic_decontamination_governed(emb))
    assert set(gov) <= set(exact)
    assert len(gov) >= max(1, len(exact) // 2), (len(gov), len(exact))
    for ev, (n, top_id, top_cos) in gov.items():
        n_exact, top_id_exact, top_cos_exact = exact[ev]
        assert n <= n_exact, ev
        assert top_cos <= top_cos_exact, ev
        if top_id == top_id_exact:
            assert top_cos == top_cos_exact, ev


def test_governed_decon_eight_bit_regime_matches_duckdb_exactly(spark, sf_dir):
    """Cross-ENGINE check of the band-width governor's 8-bit regime
    (the registered oracle constant only covers the ≤4096-vector 4-bit
    default): Spark at band_bits=8 must reproduce the parameterized
    DuckDB twin row for row."""
    emb = load_table(spark, sf_dir, "embeddings")
    sp = _rows(llm_sim.semantic_decontamination_governed(emb, band_bits=8))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    dk = {
        ev: (n, tid, cos)
        for ev, n, tid, cos in con.sql(
            llm_sim.semantic_decontamination_governed_sql(8)
        ).fetchall()
    }
    assert set(sp) == set(dk) and len(sp) > 0
    for ev, (n, tid, cos) in sp.items():
        nd, tidd, cosd = dk[ev]
        assert (n, tid) == (nd, tidd), ev
        assert abs(cos - cosd) <= 1e-6, ev


def test_governed_decon_sql_shares_the_srp_ctes_verbatim():
    """Both SRP oracles must embed the identical signature CTE block —
    textual identity is what guarantees the two twins can never drift
    apart on the plane/projection/banding math."""
    block4 = llm_sim._srp_sig_ctes(4)
    assert block4 in llm_sim.NEARDUP_LSH_SQL
    assert block4 in llm_sim.SEMANTIC_DECONTAMINATION_GOVERNED_SQL
    assert llm_sim.SEMANTIC_DECONTAMINATION_GOVERNED_SQL == (
        llm_sim.semantic_decontamination_governed_sql(4)
    )


def test_decontamination_panel_agrees_with_its_three_legs(spark, sf_dir):
    """The panel must reproduce each standalone leg's verdict on the
    SAME doc split: exact flags equal `decontamination`'s, fuzzy flags
    equal `fuzzy_decontamination`'s (False where that leg emitted no
    row), and the semantic flag is NULL exactly for train docs without
    an embedding."""
    from logistics_data_pipeline_spark.llm import curation as cur
    from logistics_data_pipeline_spark.llm import dedup as dd

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    panel = {r.doc_id: r for r in cur.decontamination_panel(docs, emb).collect()}
    exact = {r.doc_id: r.is_contaminated for r in cur.decontamination(docs).collect()}
    fuzzy = {
        r.doc_id: r.is_fuzzy_contaminated
        for r in dd.fuzzy_decontamination(docs).collect()
    }
    emb_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert set(panel) == set(exact)  # one row per train doc
    n_sem = 0
    for d, row in panel.items():
        assert row.exact_contaminated == exact[d]
        assert row.fuzzy_contaminated == fuzzy.get(d, False)
        assert row.has_embedding == (d in emb_ids)
        if d not in emb_ids:
            assert row.semantic_contaminated is None
        elif row.semantic_contaminated:
            n_sem += 1
        expected_n = (
            int(row.exact_contaminated)
            + int(row.fuzzy_contaminated)
            + int(bool(row.semantic_contaminated))
        )
        assert row.n_methods_flagged == expected_n
        assert row.any_contaminated == (expected_n > 0)
    assert n_sem > 0  # the semantic leg is non-vacuous on committed data
