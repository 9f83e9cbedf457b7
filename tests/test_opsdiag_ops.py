"""Unit tests for the operational-diagnostics batch: event debounce,
day-over-day delta attribution, and the langid confusion matrix — planted
inputs vs brute-force pure-Python models."""

import contextlib
import datetime
import io

from etl_healthcare_spark.plans.registry import REGISTRY


def _plant_events(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))


def test_debounce_keeps_first_and_gapped(spark, tmp_path):
    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)
    s = datetime.timedelta(seconds=1)
    rows = [
        # user 1, click: burst of 3 within 60s -> keep only the first;
        # then one 61s later -> kept
        (0, t0, 1, "click", 1.0),
        (1, t0 + 10 * s, 1, "click", 1.0),
        (2, t0 + 59 * s, 1, "click", 1.0),
        (3, t0 + 121 * s, 1, "click", 1.0),
        # user 2, click: single -> kept (streams are per-user independent)
        (4, t0 + 5 * s, 2, "click", 1.0),
        # user 1, view: exactly 60s gap is NOT > 60s -> debounced
        (5, t0, 1, "view", 1.0),
        (6, t0 + 60 * s, 1, "view", 1.0),
    ]
    _plant_events(spark, tmp_path, rows)
    out = {r.event_type: r for r in REGISTRY["ts_event_debounce"].fn(spark, str(tmp_path)).collect()}
    click = out["click"]
    assert (click.n_total, click.n_kept, click.n_debounced) == (5, 3, 2)
    assert click.kept_share_ppm == 3 * 10**6 // 5
    view = out["view"]
    assert (view.n_total, view.n_kept, view.n_debounced) == (2, 1, 1)


def test_delta_attribution_ranks_movers(spark, tmp_path):
    d1 = datetime.datetime(2024, 6, 1, 8, 0, 0)
    d2 = datetime.datetime(2024, 6, 2, 8, 0, 0)
    d3 = datetime.datetime(2024, 6, 3, 8, 0, 0)  # most recent day
    rows = [
        # day1 exists but must be IGNORED (only the last two days compare)
        (0, d1, 1, "a", 999.0),
        # type a: 100.00 -> 250.00  (delta +15000 cents, the big mover)
        (1, d2, 1, "a", 100.0),
        (2, d3, 1, "a", 250.0),
        # type b: 50.00 -> 40.00    (delta -1000 cents)
        (3, d2, 1, "b", 50.0),
        (4, d3, 1, "b", 40.0),
        # type c: only on the last day (prev contributes 0)
        (5, d3, 1, "c", 10.0),
    ]
    _plant_events(spark, tmp_path, rows)
    out = {r.event_type: r for r in REGISTRY["ts_delta_attribution"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {"a", "b", "c"}
    total = 15000 - 1000 + 1000
    a = out["a"]
    assert (a.prev_cents, a.last_cents, a.delta_cents) == (10000, 25000, 15000)
    assert a.delta_share_ppm == 15000 * 10**6 // total
    assert a.rnk == 1
    b = out["b"]
    assert (b.prev_cents, b.last_cents, b.delta_cents) == (5000, 4000, -1000)
    # negative delta share: BOTH engines truncate toward zero, so the
    # expected value is the negated positive quotient (Python // floors)
    assert b.delta_share_ppm == -((1000 * 10**6) // total)
    c = out["c"]
    assert (c.prev_cents, c.last_cents, c.delta_cents) == (0, 1000, 1000)
    assert {out["b"].rnk, out["c"].rnk} == {2, 3}
    # |delta| tie would break on event_type; here b (1000) ties c (1000):
    assert out["b"].rnk == 2 and out["c"].rnk == 3


def test_langid_confusion_diagonal(spark, tmp_path):
    rows = [
        # declared en, predicted en (English stopwords)
        (1, "the cat and the dog with a hat", "en"),
        (2, "it was the best of times and the worst", "en"),
        # declared es, predicted es
        (3, "el perro y el gato con la casa", "es"),
        # declared en but text is Spanish -> off-diagonal (en, es)
        (4, "la vida es una con el mar y los rios", "en"),
        # declared de, no markers at all -> 'und' abstention column
        (5, "zzz qqq xxx yyy www", "de"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = {
        (r.actual, r.pred): r
        for r in REGISTRY["text_langid_confusion"].fn(spark, str(tmp_path)).collect()
    }
    assert out[("en", "en")].n == 2
    assert out[("es", "es")].n == 1
    assert out[("en", "es")].n == 1
    assert out[("de", "und")].n == 1
    en_en = out[("en", "en")]
    assert en_en.support == 3  # three declared-en docs
    assert en_en.recall_ppm == 2 * 10**6 // 3
    assert en_en.pred_total == 2
    assert en_en.precision_ppm == 10**6
    es = out[("en", "es")]
    assert es.pred_total == 2 and es.precision_ppm == 10**6 // 2


def test_opsdiag_plan_shapes(spark):
    """Debounce's only wide op is the per-(user,type) window + one rollup;
    attribution and confusion collapse through scan-side aggregates before
    any window; every query reads its table exactly once."""
    for name, max_scans in (
        ("ts_event_debounce", 1),
        ("ts_delta_attribution", 2),  # daily frame + distinct-day frame
        ("text_langid_confusion", 1),
    ):
        df = REGISTRY[name].fn(spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert plan.count("Location: InMemoryFileIndex") <= max_scans, name
        assert "CartesianProduct" not in plan, name


def test_pit_scd2_picks_interval_valid_at_fact_time(spark, tmp_path):
    t = lambda m: datetime.datetime(2024, 7, 1, 12, m, 0)  # noqa: E731
    rows = [
        # dim changes for user 3 (event_id % 5 == 0): attr 10.00 at :00,
        # attr 20.00 at :30
        (0, t(0), 3, "chg", 10.0),
        (5, t(30), 3, "chg", 20.0),
        # facts for user 3: before first change (NULL attr), inside first
        # interval, at the boundary (:30 belongs to the SECOND interval),
        # and after
        (1, t(0) - datetime.timedelta(minutes=5), 3, "f", 1.0),
        (2, t(10), 3, "f", 2.0),
        (3, t(30), 3, "f", 3.0),
        (4, t(45), 3, "f", 4.0),
        # user 7 has facts but NO dim rows at all -> NULL attr
        (6, t(10), 7, "f", 5.0),
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.fact_id: r for r in REGISTRY["j12_pit_scd2"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3, 4, 6}
    assert out[1].attr_cents is None  # fact before first dim change
    assert out[2].attr_cents == 1000
    assert out[3].attr_cents == 2000  # boundary belongs to the NEW interval
    assert out[4].attr_cents == 2000  # open current row matches later facts
    assert out[6].attr_cents is None  # user with no dimension history


def test_delete_propagation_counts(spark, tmp_path):
    ts = datetime.datetime(2024, 7, 1, 8, 0, 0)
    # users 3 and 100 are on the deletion list (user_id % 97 == 3)
    ev = [(i, ts, u, "e", 1.0) for i, u in enumerate([3, 3, 100, 5, 9, 42])]
    spark.createDataFrame(
        ev, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    spark.createDataFrame(
        [(3, "X"), (4, "Y"), (100, "Z")], "c_custkey long, c_mktsegment string"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(1, 3), (2, 5), (3, 3), (4, 7)], "o_orderkey long, o_custkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {r.table_name: r for r in REGISTRY["u10_delete_propagation"].fn(spark, str(tmp_path)).collect()}
    assert (out["events"].n_purged, out["events"].n_retained) == (3, 3)
    assert (out["customer"].n_purged, out["customer"].n_retained) == (2, 1)
    assert (out["orders"].n_purged, out["orders"].n_retained) == (2, 2)


def test_stream_debounce_matches_batch_and_carries_state_across_batches(spark, tmp_path):
    """Two availableNow runs over a GROWING source directory prove the
    state carries: the second run sees only the new file, and an event
    within 60s of the FIRST run's last event is debounced."""
    from etl_healthcare_spark.streaming.pipeline import debounce_stream

    t0 = datetime.datetime(2024, 6, 1, 12, 0, 0)
    s = datetime.timedelta(seconds=1)
    schema = "user_id long, event_type string, ts timestamp_ntz"
    batch1 = [(1, "c", t0), (1, "c", t0 + 10 * s), (1, "c", t0 + 121 * s)]
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)

    sink = str(tmp_path / "sink")

    def run_once():
        stream = spark.readStream.schema(
            spark.read.parquet(src).schema
        ).parquet(src)
        q = (
            debounce_stream(stream, gap_seconds=60)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r.ts_us for r in spark.read.parquet(sink).collect()}

    us = lambda dt: int(dt.timestamp() * 1_000_000)  # noqa: E731
    out1 = run_once()
    assert out1 == {us(t0), us(t0 + 121 * s)}
    # batch 2: one event 30s after the last of batch 1 (debounced via
    # carried state), one 90s after (kept)
    batch2 = [(1, "c", t0 + 151 * s), (1, "c", t0 + 241 * s)]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
    out2 = run_once() - out1
    assert out2 == {us(t0 + 241 * s)}


def test_label_propagation_splits_barbell_where_cc_cannot(spark):
    """Two 4-cliques joined by ONE bridge edge: connected components sees a
    single component, but majority voting assigns each clique its own
    community — the planted case separating LPA from CC."""
    from etl_healthcare_spark.operators.graph import label_propagation

    clique_a = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    clique_b = [(a, b) for a in range(11, 15) for b in range(11, 15) if a < b]
    bridge = [(4, 11)]
    pairs = spark.createDataFrame(clique_a + clique_b + bridge, "doc_a long, doc_b long")
    out = {r.community: r for r in label_propagation(pairs, rounds=2).collect()}
    assert len(out) == 2
    sizes = sorted(r.n_nodes for r in out.values())
    assert sum(sizes) == 8
    # every clique-A node lands in a community led by an A node, same for B
    leads = sorted(r.lead_node for r in out.values())
    assert leads[0] <= 4 and leads[1] >= 11
