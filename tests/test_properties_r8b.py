"""Round-8 second-batch operator properties.

Semantic pins for the four operators added in the r8 continuation session:
matryoshka prefix energy (monotone, exact at full dim, zero-norm exclusion),
label silhouette (separated clusters score high, degenerate single label),
PSI drift (planted shift detected, zero shift near zero, constant-value
range), and linear attribution (hand-checked credit split). Cross-engine
value parity is covered by test_oracle.py's registry sweep; these tests pin
the SEMANTICS the oracle merely mirrors.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )


def test_matryoshka_energy_monotone_and_exact_at_full_dim(spark):
    """Energy fraction is non-decreasing in prefix length and exactly 1.0
    at the full dimension (num == den, no float residue)."""
    from streamsurfer_spark.operators.similarity import matryoshka_energy

    rows = [
        (1, [0.5, -0.25, 0.125, 1.0], 0),
        (2, [1.0, 0.0, 0.0, 0.0], 0),
        (3, [0.1, 0.2, 0.3, 0.4], 1),
    ]
    out = matryoshka_energy(
        _emb_df(spark, rows), prefix_dims=(1, 2, 4)
    ).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r.label, []).append((r.prefix_dim, r.avg_energy_frac))
    for label, seq in by_label.items():
        fracs = [f for _, f in sorted(seq)]
        assert fracs == sorted(fracs), f"label {label} not monotone: {fracs}"
        assert fracs[-1] == 1.0, f"label {label} full-dim != 1.0: {fracs[-1]}"


def test_matryoshka_energy_zero_vector_excluded(spark):
    """A zero-norm vector must drop from the mean (NULL micro), not crash
    (ANSI divide) or bias the label's fraction."""
    from streamsurfer_spark.operators.similarity import matryoshka_energy

    rows = [(1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0)]
    out = matryoshka_energy(_emb_df(spark, rows), prefix_dims=(1,)).collect()
    assert len(out) == 1
    assert out[0].n_vecs == 1  # zero vector excluded
    assert out[0].avg_energy_frac == 1.0


def test_label_silhouette_separated_clusters_score_high(spark):
    """Two tight, far-apart labels → silhouette near +1 for both."""
    from streamsurfer_spark.operators.similarity import label_silhouette

    rows = [
        (1, [1.0, 0.01], 0),
        (2, [1.0, -0.01], 0),
        (3, [0.99, 0.0], 0),
        (4, [-1.0, 0.01], 1),
        (5, [-1.0, -0.01], 1),
        (6, [-0.99, 0.0], 1),
    ]
    out = label_silhouette(_emb_df(spark, rows)).collect()
    assert len(out) == 2
    for r in out:
        assert r.n_vecs == 3
        assert r.avg_silhouette > 0.9, r


def test_label_silhouette_single_label_is_null(spark):
    """With one label there is no 'other centroid': b is NULL, every
    micro is NULL, and the mean comes back NULL with n_vecs 0 (not a
    divide error)."""
    from streamsurfer_spark.operators.similarity import label_silhouette

    rows = [(1, [1.0, 0.0], 0), (2, [0.0, 1.0], 0)]
    out = label_silhouette(_emb_df(spark, rows)).collect()
    assert len(out) == 1
    assert out[0].n_vecs == 0
    assert out[0].avg_silhouette is None


def test_label_silhouette_ragged_vector_raises(spark):
    """A short vector must LOUD-FAIL (embedding_corr_pairs convention):
    silently it would null out of the per-row pass while its components
    still entered the centroid pass, and the QL62 DuckDB twin would
    compute a partial-dim distance instead — a latent cross-engine
    divergence (r8 ADVICE)."""
    import pytest

    from streamsurfer_spark.operators.similarity import label_silhouette

    rows = [(1, [1.0, 0.0], 0), (2, [0.5], 0), (3, [-1.0, 0.0], 1)]
    with pytest.raises(Exception, match="ragged embedding"):
        label_silhouette(_emb_df(spark, rows)).collect()


def test_label_silhouette_null_vector_still_excluded(spark):
    """NULL embeddings stay consistently EXCLUDED (not ragged-raised):
    the ragged check must pass NULL qv through to the NULL-micro path."""
    from streamsurfer_spark.operators.similarity import label_silhouette

    rows = [
        (1, [1.0, 0.0], 0),
        (2, None, 0),
        (3, [0.99, 0.01], 0),
        (4, [-1.0, 0.0], 1),
        (5, [-0.99, -0.01], 1),
    ]
    out = label_silhouette(_emb_df(spark, rows)).collect()
    assert [r.n_vecs for r in sorted(out, key=lambda r: r.label)] == [2, 2]


def _events_df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double"
    )


def _ts(day, hour=0, minute=0):
    return datetime.datetime(2024, 1, day, hour, minute)


def test_psi_drift_detects_planted_shift(spark):
    """First half all-low, second half all-high → PSI far above the 0.25
    'shifted' threshold; an identically-distributed group stays near 0."""
    from streamsurfer_spark.operators.profile import psi_drift

    rows = []
    eid = 0
    # shifted group: value 1.00 in days 1-10, 9.00 in days 21-30
    for d in range(1, 11):
        eid += 1
        rows.append((eid, _ts(d), 1, "shifted", 1.00))
    for d in range(21, 31):
        eid += 1
        rows.append((eid, _ts(d), 1, "shifted", 9.00))
    # stable group: alternating values present in BOTH halves
    for d in range(1, 31):
        eid += 1
        rows.append((eid, _ts(d), 2, "stable", 1.00 if d % 2 else 9.00))
    out = {r.event_type: r for r in psi_drift(_events_df(spark, rows)).collect()}
    assert out["shifted"].psi > 0.25, out["shifted"]
    assert out["stable"].psi < 0.1, out["stable"]
    assert out["shifted"].n_first == 10 and out["shifted"].n_second == 10


def test_psi_drift_constant_value_defined(spark):
    """cmax == cmin (constant value) must not divide by zero: the bin
    denominator is cmax - cmin + 1 ≥ 1, and a constant series is by
    definition stable (PSI 0)."""
    from streamsurfer_spark.operators.profile import psi_drift

    rows = [(i, _ts(1 + i % 28), 1, "const", 5.00) for i in range(20)]
    out = psi_drift(_events_df(spark, rows)).collect()
    assert len(out) == 1
    assert out[0].psi == 0.0


def test_linear_attribution_hand_checked_split(spark):
    """One purchase preceded by 2 clicks + 1 view within 24 h → click gets
    2/3 credit, view 1/3; a touch outside the window or AFTER the
    purchase contributes nothing."""
    from streamsurfer_spark.queries.timeseries_q import qt17_linear_attribution

    rows = [
        (1, _ts(2, 12), 1, "purchase", 0.0),
        (2, _ts(2, 10), 1, "click", 0.0),     # in window
        (3, _ts(2, 11), 1, "click", 0.0),     # in window
        (4, _ts(2, 9), 1, "view", 0.0),       # in window
        (5, _ts(1, 1), 1, "click", 0.0),      # > 24h before: out
        (6, _ts(2, 13), 1, "view", 0.0),      # after purchase: out
        (7, _ts(2, 12), 1, "click", 0.0),     # exactly AT purchase ts: out
    ]
    df = _events_df(spark, rows)
    df.createOrReplaceTempView("_attr_events")
    import streamsurfer_spark.session as sess

    orig = sess.table
    try:
        sess.table = lambda spark, sf_dir, name: df  # only events is read
        import streamsurfer_spark.queries.timeseries_q as tq

        tq_table = tq.table
        tq.table = sess.table
        try:
            out = {r.touch_type: r for r in qt17_linear_attribution(spark, "unused").collect()}
        finally:
            tq.table = tq_table
    finally:
        sess.table = orig
    assert out["click"].n_touches == 2
    assert out["view"].n_touches == 1
    assert out["click"].attributed_credit == 0.6667
    assert out["view"].attributed_credit == 0.3333
    assert out["click"].n_purchases == 1


def test_retention_waterfall_is_consistent(spark):
    """Waterfall invariants on the real fixture: each stage's docs_in is
    the previous stage's docs_kept, kept ≤ in everywhere, and the intake
    row covers the whole corpus."""
    from streamsurfer_spark.queries.pipeline_q import qp10_retention_waterfall

    sf = __import__("tests.conftest", fromlist=["SF_DIR"]).SF_DIR
    rows = qp10_retention_waterfall(spark, sf).collect()
    assert [r.stage for r in rows] == [0, 1, 2, 3, 4]
    assert rows[0].docs_in == rows[0].docs_kept  # intake keeps all
    for prev, cur in zip(rows, rows[1:]):
        assert cur.docs_in == prev.docs_kept, (prev, cur)
        assert cur.docs_kept <= cur.docs_in, cur
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert rows[0].docs_in == n_docs


def test_stream_heavy_hitters_bounded_and_ranked(spark):
    """Per window: at most K rows, ranks 1..k dense, counts non-increasing
    with rank (the tiebreak makes equal counts order by event_type)."""
    from streamsurfer_spark.queries.streaming_q import (
        HH_TOP_K,
        qs17_stream_heavy_hitters,
    )

    sf = __import__("tests.conftest", fromlist=["SF_DIR"]).SF_DIR
    rows = qs17_stream_heavy_hitters(spark, sf).collect()
    by_w = {}
    for r in rows:
        by_w.setdefault(r.w_start, []).append(r)
    assert by_w, "no windows produced"
    for w_start, grp in by_w.items():
        grp.sort(key=lambda r: r.rnk)
        assert len(grp) <= HH_TOP_K
        assert [r.rnk for r in grp] == list(range(1, len(grp) + 1))
        counts = [r.n_events for r in grp]
        assert counts == sorted(counts, reverse=True), (w_start, counts)


def test_entropy_sweep_monotone_retention(spark):
    """Retention is non-increasing in τ, and every row's n_kept ≤ n_docs
    with n_docs constant across thresholds."""
    from streamsurfer_spark.queries.llm_q import ql63_entropy_threshold_sweep

    sf = __import__("tests.conftest", fromlist=["SF_DIR"]).SF_DIR
    rows = sorted(
        ql63_entropy_threshold_sweep(spark, sf).collect(), key=lambda r: r.tau
    )
    assert len({r.n_docs for r in rows}) == 1
    kept = [r.n_kept for r in rows]
    assert kept == sorted(kept, reverse=True), kept
    assert all(r.n_kept <= r.n_docs for r in rows)


def test_cusum_changepoint_finds_planted_shift(spark):
    """A volume series that quadruples after day 10 must peak |CUSUM|
    exactly AT day 10 (the offline estimator is extremal at the shift);
    a flat series has CUSUM identically zero."""
    from streamsurfer_spark.queries.timeseries_q import qt18_cusum_changepoint
    import streamsurfer_spark.queries.timeseries_q as tq

    rows = []
    eid = 0
    for d in range(1, 21):
        n = 2 if d <= 10 else 8  # shift after day 10
        for i in range(n):
            eid += 1
            rows.append((eid, _ts(d, i), 1, "shifted", 1.0))
    for d in range(1, 21):
        for i in range(3):
            eid += 1
            rows.append((eid, _ts(d, i), 2, "flat", 1.0))
    df = _events_df(spark, rows)
    orig = tq.table
    tq.table = lambda spark, sf_dir, name: df
    try:
        out = {r.event_type: r for r in qt18_cusum_changepoint(spark, "x").collect()}
    finally:
        tq.table = orig
    assert out["shifted"].change_day == "2024-01-10", out["shifted"]
    # |c_10| = |20*20 - 10*100| = 600; display divides by D² = 400
    assert out["shifted"].peak_cusum == 1.5, out["shifted"]
    assert out["flat"].peak_cusum == 0.0, out["flat"]


def test_session_window_native_gap_boundary(spark):
    """An event at EXACTLY prev + gap MERGES (adjacent [ts, ts+gap)
    ranges union — this test originally asserted the opposite and caught
    the oracle writing `>=`); one microsecond past the gap splits."""
    from streamsurfer_spark.queries.timeseries_q import qt19_session_window_native
    import streamsurfer_spark.queries.timeseries_q as tq
    import datetime

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 1, "view", 0.0),
        (2, base + datetime.timedelta(minutes=30), 1, "view", 0.0),  # AT gap: merges
        (4, base, 2, "view", 0.0),
        (5, base + datetime.timedelta(minutes=30, microseconds=1), 2, "view", 0.0),  # past gap: splits
    ]
    df = _events_df(spark, rows)
    orig = tq.table
    tq.table = lambda spark, sf_dir, name: df
    try:
        out = qt19_session_window_native(spark, "x").collect()
    finally:
        tq.table = orig
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r)
    assert len(per_user[1]) == 1 and per_user[1][0].n_events == 2, per_user[1]
    assert len(per_user[2]) == 2, per_user[2]
    assert [r.n_events for r in per_user[2]] == [1, 1]


def test_cluster_aware_split_eliminates_leakage(spark):
    """Every near-dup pair lands in ONE split under the cluster-aware
    assignment (structural: split is a function of the shared cluster),
    while the naive doc-hash split leaks at least one pair on the real
    fixture — the column that shows what the operator buys."""
    from streamsurfer_spark.operators import dedup
    from streamsurfer_spark.operators.graph import connected_components
    from streamsurfer_spark.operators.sampling import assign_split
    from streamsurfer_spark.queries.llm_q import ql64_cluster_aware_split
    import pyspark.sql.functions as F
    from streamsurfer_spark.session import table

    sf = __import__("tests.conftest", fromlist=["SF_DIR"]).SF_DIR
    rows = ql64_cluster_aware_split(spark, sf).collect()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    assert sum(r.naive_leak_pairs for r in rows) > 0, (
        "fixture has near-dup pairs; the naive split should leak some"
    )
    # structural zero-leak check on the cluster-aware side
    docs = table(spark, sf, "documents")
    edges = dedup.simhash_hamming_pairs(docs).select("doc_a", "doc_b")
    cc = connected_components(edges, src="doc_a", dst="doc_b")
    d = (
        docs.select("doc_id")
        .join(cc.select(F.col("id").alias("doc_id"), "cluster_id"), "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    d = assign_split(d, "cluster_id").select("doc_id", "split")
    crossed = (
        edges.join(d.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("split", "sa"), "doc_a")
        .join(d.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("split", "sb"), "doc_b")
        .where(F.col("sa") != F.col("sb"))
        .count()
    )
    assert crossed == 0


def test_rolling_actives_nesting_and_hand_case(spark):
    """dau ≤ wau7 ≤ mau28 on every day; a hand-built two-user case
    produces the expected window memberships."""
    from streamsurfer_spark.queries.timeseries_q import qt20_rolling_actives
    import streamsurfer_spark.queries.timeseries_q as tq

    sf = __import__("tests.conftest", fromlist=["SF_DIR"]).SF_DIR
    rows = qt20_rolling_actives(spark, sf).collect()
    assert rows, "no days"
    for r in rows:
        assert r.dau <= r.wau7 <= r.mau28, r

    # hand case: u1 active day 1 only; u2 active day 9 only
    hand = [
        (1, _ts(1), 1, "view", 0.0),
        (2, _ts(9), 2, "view", 0.0),
    ]
    df = _events_df(spark, hand)
    orig = tq.table
    tq.table = lambda spark, sf_dir, name: df
    try:
        out = {r.day: r for r in qt20_rolling_actives(spark, "x").collect()}
    finally:
        tq.table = orig
    assert out["2024-01-01"].dau == 1 and out["2024-01-01"].mau28 == 1
    assert out["2024-01-07"].dau == 0 and out["2024-01-07"].wau7 == 1  # u1 day7 in 7-window
    assert out["2024-01-08"].wau7 == 0 and out["2024-01-08"].mau28 == 1
    assert out["2024-01-09"].dau == 1 and out["2024-01-09"].wau7 == 1
    assert out["2024-01-09"].mau28 == 2  # both users within 28 days


def test_qs03_oracle_agrees_at_exact_gap_boundary(spark):
    """Differential at the session-gap boundary the µs-grain fixture can
    never reach: an event at EXACTLY last+4h must MERGE on both engines.
    This planted fixture is what caught QS03/QS08's oracles asserting
    `>=` (split) while Spark's session_window merges."""
    import duckdb

    from streamsurfer_spark.queries.streaming_q import QS03_SQL
    from streamsurfer_spark.streaming.transforms import session_counts

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "view", 1.0),
        (2, base + datetime.timedelta(hours=4), 1, "view", 2.0),  # AT gap: merges
        (3, base, 2, "view", 1.0),
        (4, base + datetime.timedelta(hours=4, microseconds=1), 2, "view", 2.0),
    ]
    df = _events_df(spark, rows)
    got = sorted(
        tuple(r)
        for r in session_counts(df)
        .orderBy("user_id", "session_start")
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,"
        " event_type VARCHAR, value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, ?, ?)",
        [(i, t, u, e, v) for i, t, u, e, v in rows],
    )
    want = sorted(tuple(r) for r in con.sql(QS03_SQL).fetchall())
    con.close()
    assert got == want, (got, want)
    by_user = {}
    for r in got:
        by_user.setdefault(r[0], []).append(r)
    assert len(by_user[1]) == 1 and by_user[1][0][2] == 2  # merged
    assert len(by_user[2]) == 2  # split one µs past the gap


def _stream_dir(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        }
    )
    p = tmp_path / "events.parquet"
    pq.write_table(tbl, str(p))
    return str(p)


def test_watermark_finalization_emits_at_exact_boundary(spark, tmp_path):
    """Append-mode finalization when watermark == window/session END
    exactly: Spark EMITS, matching the oracles' `end <= wm` convention
    (QS04/QS08). Same latent-boundary class as the session-gap rule the
    qt19 test caught — pinned here so a Spark-side semantics change
    (or an oracle edit to `<`) fails loudly instead of silently."""
    import datetime

    from streamsurfer_spark.streaming.ingest import (
        read_events_stream,
        run_to_memory,
    )
    from streamsurfer_spark.streaming.transforms import (
        watermarked_sessions,
        watermarked_tumbling,
    )

    base = datetime.datetime(2024, 1, 1)
    # tumbling: window [00:00, 06:00); max ts puts wm at 06:00 EXACTLY
    rows = [
        (1, base + datetime.timedelta(hours=1), 1, "view", 1.0),
        (2, base + datetime.timedelta(days=1, hours=6), 1, "view", 1.0),
    ]
    stream = read_events_stream(spark, _stream_dir_mk(tmp_path, "a", rows))
    out = run_to_memory(watermarked_tumbling(stream), "append").collect()
    assert [r.w_start for r in out] == ["2024-01-01 00:00:00"]

    # sessions: one event at 00:00 → session end 04:00; wm == 04:00 exactly
    rows = [
        (1, base, 1, "view", 1.0),
        (2, base + datetime.timedelta(days=1, hours=4), 9, "view", 1.0),
    ]
    stream = read_events_stream(spark, _stream_dir_mk(tmp_path, "b", rows))
    out = run_to_memory(watermarked_sessions(stream), "append").collect()
    assert [(r.user_id, r.session_start) for r in out] == [(1, "2024-01-01 00:00:00")]


def _stream_dir_mk(tmp_path, sub, rows):
    d = tmp_path / sub
    d.mkdir(parents=True, exist_ok=True)
    return _stream_dir(d, rows)


def test_source_overlap_matrix_invariants_and_identical_sources(spark):
    """n_common ≤ min(set sizes) (containment ≤ 1) on the fixture; two
    planted sources with identical text reach containment exactly 1.0."""
    from streamsurfer_spark.queries.llm_q import ql65_source_overlap_matrix
    import streamsurfer_spark.queries.llm_q as lq

    sf = __import__("tests.conftest", fromlist=["SF_DIR"]).SF_DIR
    rows = ql65_source_overlap_matrix(spark, sf).collect()
    assert rows
    for r in rows:
        assert r.source_a < r.source_b
        assert 0 < r.n_common <= min(r.shingles_a, r.shingles_b)
        assert 0 < r.containment <= 1.0

    planted = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en", "mirror1", 30),
            (2, "alpha beta gamma delta epsilon", "en", "mirror2", 30),
            (3, "totally different words here now", "en", "other", 32),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    orig = lq.table
    lq.table = lambda spark, sf_dir, name: planted
    try:
        out = {
            (r.source_a, r.source_b): r
            for r in ql65_source_overlap_matrix(spark, "x").collect()
        }
    finally:
        lq.table = orig
    assert out[("mirror1", "mirror2")].containment == 1.0
    assert ("mirror1", "other") not in out  # no shared 3-grams


def test_rolling_median_matches_percentile_disc_convention(spark):
    """The composed frame median must be percentile_disc(0.5): element
    ⌈n/2⌉ of the sorted frame — lower-middle on even frames, own value
    on the first row."""
    from streamsurfer_spark.queries.timeseries_q import qt21_rolling_median
    import streamsurfer_spark.queries.timeseries_q as tq

    # one event per day, values 1..8 dollars → daily_cents 100..800
    rows = [(d, _ts(d), 1, "t", float(d)) for d in range(1, 9)]
    df = _events_df(spark, rows)
    orig = tq.table
    tq.table = lambda spark, sf_dir, name: df
    try:
        out = {r.day: r for r in qt21_rolling_median(spark, "x").collect()}
    finally:
        tq.table = orig
    assert out["2024-01-01"].med7_cents == 100  # frame of 1
    assert out["2024-01-02"].med7_cents == 100  # frame [100,200]: lower middle
    assert out["2024-01-07"].med7_cents == 400  # frame 1..7 → 4th
    assert out["2024-01-08"].med7_cents == 500  # frame 2..8 → 5th value


def test_source_minhash_merge_is_associative(spark):
    """A source's merged signature must equal the component-wise min over
    the union of its documents' shingles — i.e. splitting one source's
    text across MORE documents must not change the merged signature, and
    identical sources estimate Jaccard 1.0 (all components equal)."""
    from streamsurfer_spark.queries.llm_q import ql66_source_minhash_jaccard
    import streamsurfer_spark.queries.llm_q as lq

    text = "alpha beta gamma delta epsilon zeta eta theta"
    half1, half2 = "alpha beta gamma delta epsilon", "delta epsilon zeta eta theta"
    planted = spark.createDataFrame(
        [
            # whole text in one doc vs the same shingle UNION across two docs
            (1, text, "en", "one_doc", len(text)),
            (2, half1, "en", "two_docs", len(half1)),
            (3, half2, "en", "two_docs", len(half2)),
            (4, "unrelated words entirely different corpus", "en", "other", 41),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    orig = lq.table
    lq.table = lambda spark, sf_dir, name: planted
    try:
        out = {
            (r.source_a, r.source_b): r
            for r in ql66_source_minhash_jaccard(spark, "x").collect()
        }
    finally:
        lq.table = orig
    pair = out[("one_doc", "two_docs")]
    # the shingle unions coincide, so the merged sketches are identical
    assert pair.est_jaccard == 1.0, pair
    assert pair.exact_jaccard == 1.0, pair


def test_langid_quality_counts_reconcile(spark):
    """Σ n_actual = corpus size, Σ n_pred = corpus size (every doc gets
    exactly one prediction), n_correct ≤ min(n_actual, n_pred), and
    recall/precision ∈ [0, 1]."""
    from streamsurfer_spark.queries.llm_q import ql67_langid_quality

    sf = __import__("tests.conftest", fromlist=["SF_DIR"]).SF_DIR
    rows = ql67_langid_quality(spark, sf).collect()
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert sum(r.n_actual for r in rows) == n_docs
    assert sum(r.n_pred for r in rows) == n_docs  # lang domains coincide
    for r in rows:
        assert r.n_correct <= min(r.n_actual, r.n_pred) or r.n_pred == 0
        assert 0 <= r.recall <= 1
        assert r.precision is None or 0 <= r.precision <= 1
