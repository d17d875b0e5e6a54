"""Registry contract: every query callable's sf0.001 output equals its
DuckDB oracle's (or, for the explicit rows-only set, canonicalizes)."""

from __future__ import annotations

import pytest
from check_correctness import compare, duckdb_views, norm_frame
from pyspark.sql.types import ArrayType, MapType, StructType

from logistics_data_pipeline_spark import registry

# Keys intentionally WITHOUT an oracle (non-SQL-expressible); everything
# else must have one. Keep in sync with registry registrations.
ROWS_ONLY_OK: set[str] = {
    "emb_knn_ivf",  # approximate probe subset
    "emb_neardup_cosine_fast",  # BLAS summation last-ulp vs SQL
    "emb_knn_ivfpq",  # probe-subset + quantization, approximate by design
    "events_approx_distinct",  # HLL sketch estimates are engine-specific
    "emb_pca_project",  # driver-side eigendecomposition, not SQL-expressible
    "events_hll_rollup",  # HLL sketch estimates are engine-specific
    "emb_ann_recall_panel",  # evaluates the approximate (rows-only) paths
    "emb_knn_graph_beam_pq",  # PQ-quantized ADC traversal, approximate by design
}


def test_all_queries_have_oracles_or_are_whitelisted():
    q = set(registry.queries())
    o = set(registry.oracle_sql())
    assert o <= q, "oracle without a query"
    assert q - o == ROWS_ONLY_OK, f"missing oracle for: {sorted(q - o - ROWS_ONLY_OK)}"


@pytest.fixture(scope="session")
def oracle_db(sf_dir):
    con = duckdb_views(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(registry.queries()))
def test_query_runs_on_smallest_sf(spark, sf_dir, oracle_db, name):
    """Each key is built once. No output column may be array/map/struct
    typed: the canonicalizer cannot sort such cells, rows-only keys
    included. An oracled key's rows must then equal its DuckDB oracle's
    under ``check_correctness.compare``; a rows-only key must at least
    canonicalize."""
    df = registry.queries()[name](spark, sf_dir)
    complex_cols = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, f"emit long format or serialize instead: {complex_cols}"
    pdf = df.toPandas()
    sql = registry.oracle_sql().get(name)
    if sql is None:
        norm_frame(pdf)
    else:
        assert compare(name, pdf, oracle_db.execute(sql).df()) == []


def test_flagship_nonempty(spark, sf_dir):
    assert registry.flagship(spark, sf_dir).count() > 0


def test_generator_http_api_parity(spark):
    """Reference src/api/generator.py surface: /health, POST /generate
    (201, one wire event), /generate-batch with count validated to
    1..1000 (400 outside), successive calls yielding fresh rows."""
    import json as _json
    import urllib.error
    import urllib.request

    from logistics_data_pipeline_spark.sources.api import GeneratorAPI

    api = GeneratorAPI(spark)
    port = api.start()
    base = f"http://127.0.0.1:{port}"

    def post(path):
        req = urllib.request.Request(base + path, method="POST", data=b"")
        with urllib.request.urlopen(req) as r:
            return r.status, _json.loads(r.read())

    try:
        with urllib.request.urlopen(base + "/health") as r:
            assert r.status == 200
        code, one = post("/generate")
        assert code == 201
        wire_cols = {
            "event_id", "order_id", "timestamp", "status", "origin",
            "destination", "carrier_name", "latitude", "longitude",
            "weight_kg", "estimated_delivery",
        }
        assert set(one["data"]) == wire_cols
        code, batch = post("/generate-batch?count=5")
        assert code == 201 and batch["count"] == 5 and len(batch["data"]) == 5
        # fresh rows: no id reuse across calls
        ids = {one["data"]["event_id"]} | {e["event_id"] for e in batch["data"]}
        assert len(ids) == 6
        for bad in ("0", "1001", "x"):
            try:
                post(f"/generate-batch?count={bad}")
                raise AssertionError("expected HTTP 400")
            except urllib.error.HTTPError as e:
                assert e.code == 400
    finally:
        api.stop()


def test_register_raises_on_duplicate_name():
    """round-6 postmortem (ADVICE r6): register() was a last-wins dict
    assignment, so a stale renamed-in-place registration silently
    shadowed the real operator and the correctness gate verified the
    wrong fn. Duplicates must now be impossible."""
    with pytest.raises(ValueError, match="duplicate registry key"):
        registry.register("bronze_events", registry.queries()["bronze_events"])


def test_registry_key_uniqueness_and_count():
    """293 = 285 round-6 names + the 8 originals restored when the
    shadowing was fixed (kmv_distinct, hll_manual, ewma_control,
    lsh_s_curve, type_value_drift, bm25_scores, seasonal_index,
    holdout_perplexity). A raw AST scan of registry.py must agree with
    the live dict — no call may be shadowed or dead."""
    import ast
    import inspect

    src = inspect.getsource(registry)
    names = []
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "register"
            and node.args
            and isinstance(node.args[0], ast.Constant)
        ):
            names.append(node.args[0].value)
    assert len(names) == len(set(names)), "duplicate register() calls in source"
    live = set(registry.queries())
    assert set(names) == live
    # floor, not exact: new operators append; shrinking below the
    # round-7 restore point would mean a registration was lost again
    assert len(live) >= 293


def test_previously_shadowed_keys_bind_real_operators(spark, sf_dir):
    """The two keys ADVICE r6 proved mis-bound must expose the schema of
    the REAL operator, not the stale one that shadowed it."""
    qs = registry.queries()
    enrich = qs["stream_enrich_join"](spark, sf_dir)
    assert enrich.columns == ["event_type", "category", "sla_minutes", "n_events"]
    cdc = qs["docs_cdc_chunk_dedup"](spark, sf_dir)
    assert "doc_id" in cdc.columns or any("chunk" in c for c in cdc.columns), (
        cdc.columns
    )


def test_shared_asset_builds_once_under_concurrent_callers(monkeypatch):
    """Eight threads missing the same asset at once (the threaded panel
    legs) get one build and one identical persisted object. No Spark:
    a counting fake builder stands in for the real one."""
    import threading
    import time
    from types import SimpleNamespace

    builds = []

    class Frame:
        def persist(self):
            return self

    def fake_build(spark, sf):
        builds.append(sf)
        time.sleep(0.2)  # hold the build open while the others arrive
        return Frame()

    monkeypatch.setitem(registry._ASSETS, "stg", fake_build)
    monkeypatch.setattr(registry, "_SHARED", {})
    spark = SimpleNamespace(sparkContext=object())
    barrier = threading.Barrier(8)
    got = []

    def call():
        barrier.wait()
        got.append(registry._dedup_shared(spark, "sf-fake", "stg"))

    threads = [threading.Thread(target=call) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert builds == ["sf-fake"]
    assert len(got) == 8 and all(df is got[0] for df in got)


def test_clear_session_caches_keeps_assets_until_full_reset(spark, sf_dir):
    valid = registry._valid(spark, sf_dir)
    sh3 = registry._dedup_shared(spark, sf_dir, "sh3")
    sc = id(spark.sparkContext)
    registry.clear_session_caches(spark)
    assert registry._SHARED[(sc, sf_dir, "valid")] is valid
    assert registry._SHARED[(sc, sf_dir, "sh3")] is sh3
    frames = [df for key, df in registry._SHARED.items() if key[0] == sc]
    registry.clear_session_caches(spark, keep_layers=False)
    assert not [key for key in registry._SHARED if key[0] == sc]
    assert frames and not any(df.is_cached for df in frames)
