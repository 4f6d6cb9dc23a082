"""Round-13 invariants: the winnowing (MOSS) dedup rung.

Reference parity note: these cover THIS repo's analytical surface; the
reference (ovh/catalyst) has no analogue — its querying is delegated
to the TSDB backend (reference README).
"""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_winnow_oracle_parity(spark):
    """dedup_winnow_pairs must be bit-exact against its DuckDB oracle
    through the real runner/oracle path (the driver's own comparison),
    and the pair set must be non-trivial at this SF."""
    from catalyst_spark.queries import ALL_QUERIES, ORACLE_SQL
    from tests.oracle_harness import compare

    df = ALL_QUERIES["dedup_winnow_pairs"](spark, SF_DIR)
    assert df.count() > 0
    compare(df, ORACLE_SQL["dedup_winnow_pairs"], SF_DIR)


def test_winnow_guarantee(spark):
    """The published winnowing guarantee (Schleimer et al. SIGMOD'03):
    two documents sharing a run of >= w + k - 1 consecutive tokens
    share at least one fingerprint — every window of w consecutive
    k-gram hashes contributes its minimum, and a shared (w+k-1)-token
    run yields w consecutive SHARED k-grams, i.e. one full shared
    window. Driven through the real _winnowed projection on synthetic
    docs built around the boundary: a shared run of exactly w+k-1 (=6)
    tokens MUST intersect. The converse is NOT a guarantee — a single
    shared k-gram may legitimately winnow into both docs — so the
    negative side asserts the VERIFY line instead: one shared k-gram
    among disjoint surroundings can never pass 2|I| >= |U|."""
    from catalyst_spark.queries.pipeline import (
        _WINNOW_K,
        _WINNOW_W,
        _winnowed,
    )

    run = " ".join(f"shared{i}" for i in range(_WINNOW_W + _WINNOW_K - 1))
    short = " ".join(f"com{i}" for i in range(_WINNOW_K))
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {run} delta epsilon zeta"),
            (2, f"one two three four {run} five six"),
            (3, f"p1 p2 p3 {short} p4 p5 p6"),
            (4, f"q1 q2 q3 {short} q4 q5 q6"),
        ],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: set(r["fps"])
           for r in _winnowed(docs).collect()}
    assert fps[1] & fps[2], "w+k-1 shared run must share a fingerprint"
    inter = len(fps[3] & fps[4])
    union = len(fps[3] | fps[4])
    assert inter <= 1, "one shared k-gram can seed at most one shared fp"
    assert 2 * inter < union, (
        "a single shared k-gram among disjoint contexts must fail the "
        "2|I| >= |U| verify line")


def test_winnow_short_doc_and_positionality(spark):
    """Edge contract: a doc shorter than k tokens fingerprints its
    whole text; fewer than w k-grams fingerprint the global minimum.
    POSITIONALITY: winnowing hashes the positional k-gram sequence,
    not the distinct set — a doc with a repeated k-gram region still
    winnows (the repeated hash is a legal window minimum)."""
    from catalyst_spark.queries.pipeline import _winnowed

    docs = spark.createDataFrame(
        [
            (1, "tiny"),
            (2, "a b c"),                       # exactly one k-gram
            (3, "x y x y x y x y x y x y"),     # repeats everywhere
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["fps"] for r in _winnowed(docs).collect()}
    assert len(out[1]) == 1 and len(out[2]) == 1
    assert len(out[3]) >= 1  # repeated grams collapse but never vanish


def test_winnow_pairs_verify_threshold(spark):
    """Every emitted pair satisfies the exact integer verify
    (2*|I| >= |U|) and the emitted jaccard equals the single divide of
    those integers — recomputed per row from the real fps sets."""
    from catalyst_spark.queries import pipeline as P
    from catalyst_spark.tables import load

    fps = {r["doc_id"]: set(r["fps"]) for r in
           P._winnowed(load(spark, SF_DIR, "documents")).collect()}
    rows = P.dedup_winnow_pairs(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        inter = len(fps[r["a_id"]] & fps[r["b_id"]])
        union = len(fps[r["a_id"]] | fps[r["b_id"]])
        assert 2 * inter >= union
        assert r["n_shared"] == inter
        assert abs(r["jaccard"] - round(inter / union, 4)) < 1e-12


def test_kmv_set_ops_oracle_parity(spark):
    """kmv_set_ops must be bit-exact against its DuckDB oracle through
    the real runner/oracle path, with all C(5,2)=10 event-type pairs
    present."""
    from catalyst_spark.queries import ALL_QUERIES, ORACLE_SQL
    from tests.oracle_harness import compare

    df = ALL_QUERIES["kmv_set_ops"](spark, SF_DIR)
    assert df.count() == 10
    compare(df, ORACLE_SQL["kmv_set_ops"], SF_DIR)


def test_kmv_set_ops_sketch_invariants(spark):
    """Sketch-algebra contracts per pair: rho never exceeds k (it
    counts members of the union k-set); the derived integer columns
    equal their defining expressions exactly; the intersection
    estimate is bounded by the union estimate; and — the estimator's
    statistical claim — the union estimate sits within 5 sigma of the
    exact union whenever the sketch is actually estimating
    (exact_union >= k; below k the op reports exactness by
    construction and est must EQUAL exact)."""
    from catalyst_spark.queries.tsdb import _KMV_K, kmv_set_ops

    rows = kmv_set_ops(spark, SF_DIR).collect()
    assert len(rows) == 10
    sigma = 1.0 / (_KMV_K - 1) ** 0.5
    for r in rows:
        assert 0 <= r["rho"] <= _KMV_K
        assert r["jaccard_est_permille"] == r["rho"] * 1000 // _KMV_K
        assert r["est_inter"] == r["est_union"] * r["rho"] // _KMV_K
        assert 0 <= r["est_inter"] <= r["est_union"]
        assert r["exact_union"] >= r["exact_inter"] >= 0
        if r["exact_union"] < _KMV_K:
            assert r["est_union"] == r["exact_union"]
        else:
            rel = abs(r["est_union"] - r["exact_union"]) / r["exact_union"]
            assert rel <= 5 * sigma, (r["type_a"], r["type_b"], rel)


def test_winnow_guarantee_property_duckdb():
    """Hypothesis sweep of the winnowing guarantee through the ORACLE
    formulation (DuckDB list comprehensions — proven bit-exact against
    the Spark op by test_winnow_oracle_parity, so this transfers):
    for ANY two token sequences that share a planted run of
    _WINNOW_W + _WINNOW_K - 1 tokens, the winnowed fingerprint sets
    intersect. Random contexts, random run content, random insertion
    positions — the guarantee is structural, not probabilistic."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from catalyst_spark.queries.oracles import _h60_duck
    from catalyst_spark.queries.pipeline import _WINNOW_K, _WINNOW_W

    token = st.integers(0, 9).map(lambda i: f"t{i}")
    ctx = st.lists(token, min_size=0, max_size=12)

    fps_sql = f"""
      WITH qh AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= {_WINNOW_K} THEN
                 [{_h60_duck("toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]")}
                  FOR i IN range(1, len(toks) - 1)]
               ELSE [{_h60_duck('text')}] END AS qh
        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
              FROM docs)),
      fps AS (
        SELECT doc_id,
               CASE WHEN len(qh) >= {_WINNOW_W} THEN
                 list_distinct([list_min(qh[i:i+{_WINNOW_W - 1}])
                                FOR i IN range(1, len(qh)
                                               - {_WINNOW_W - 2})])
               ELSE [list_min(qh)] END AS fps
        FROM qh)
      SELECT len(list_intersect(a.fps, b.fps))
      FROM fps a, fps b WHERE a.doc_id = 1 AND b.doc_id = 2
    """

    @given(run=st.lists(token, min_size=_WINNOW_W + _WINNOW_K - 1,
                        max_size=_WINNOW_W + _WINNOW_K - 1),
           pre1=ctx, post1=ctx, pre2=ctx, post2=ctx)
    @settings(max_examples=60, deadline=None)
    def check(run, pre1, post1, pre2, post2):
        # distinct context namespaces so only the planted run is shared
        d1 = " ".join([f"a{t}" for t in pre1] + run
                      + [f"b{t}" for t in post1])
        d2 = " ".join([f"c{t}" for t in pre2] + run
                      + [f"d{t}" for t in post2])
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE docs AS SELECT * FROM (VALUES "
                "(1, ?), (2, ?)) t(doc_id, text)", [d1, d2])
            [(inter,)] = con.execute(fps_sql).fetchall()
        finally:
            con.close()
        assert inter >= 1, (d1, d2)

    check()
