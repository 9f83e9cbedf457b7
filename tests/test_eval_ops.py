"""Unit tests for the evaluation & feature-engineering batch: DICOM header
walk, multiplier-bootstrap replicates, out-of-fold target encoding, Benford
digit audit, and candidate-key discovery — planted inputs checked against
brute-force pure-Python models."""

import hashlib
import math

from pyspark.sql import functions as F

from etl_healthcare_spark.plans.registry import REGISTRY


# ---------------------------------------------------------------------------
# DICOM
# ---------------------------------------------------------------------------


def test_dicom_walk_roundtrip(spark):
    from etl_healthcare_spark.operators.multimodal import dicom_tags, synth_dicom

    df = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    d = F.col("doc_id")
    modality = F.element_at(
        F.array(F.lit("CT"), F.lit("MR"), F.lit("US"), F.lit("XA")), (d % 4 + 1).cast("int")
    )
    patient = F.concat(F.lit("P"), F.lpad(d.cast("string"), 7, "0"))
    media = df.select(
        "doc_id",
        synth_dicom(d, modality, patient, F.lit(64) + d % 192, F.lit(64) + (7 * d) % 192).alias(
            "payload"
        ),
    )
    out = {r.id: r for r in dicom_tags(media, "doc_id", "payload").collect()}
    assert len(out) == 12
    for i in range(12):
        r = out[i]
        assert r.modality == ["CT", "MR", "US", "XA"][i % 4]
        assert r.patient_id == "P" + str(i).zfill(7)
        assert r.n_rows == 64 + i % 192
        assert r.n_cols == 64 + (7 * i) % 192
        assert r.n_elements == 4


def test_dicom_rejects_corrupt(spark):
    from etl_healthcare_spark.operators.multimodal import dicom_tags

    rows = [(1, b"not a dicom"), (2, None), (3, b"\x00" * 127)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.id: r for r in dicom_tags(df, "doc_id", "payload").collect()}
    assert all(out[i].modality is None and out[i].n_rows is None for i in (1, 2, 3))


def test_dicom_long_form_vr_terminates_walk():
    import struct

    from etl_healthcare_spark.operators.multimodal import dicom_info

    def elem(g, e, vr, val):
        return struct.pack("<HH", g, e) + vr.encode() + struct.pack("<H", len(val)) + val

    b = (
        b"\x00" * 128
        + b"DICM"
        + elem(0x0008, 0x0060, "CS", b"CT")
        # OB uses the 4-byte length layout the short-form walker must NOT
        # misparse — it stops here instead of reading garbage
        + struct.pack("<HH", 0x7FE0, 0x0010)
        + b"OB\x00\x00"
        + struct.pack("<I", 4)
        + b"\x01\x02\x03\x04"
        + elem(0x0028, 0x0010, "US", struct.pack("<H", 99))
    )
    assert dicom_info(b) == ("CT", None, None, None, 1)


# ---------------------------------------------------------------------------
# multiplier bootstrap
# ---------------------------------------------------------------------------


def test_bootstrap_matches_brute_force(spark, tmp_path):
    vals = [(1, 1.25), (2, 7.5), (3, 0.03), (4, 12.0), (5, 3.33), (6, 99.99), (7, 0.5)]
    spark.createDataFrame(vals, "event_id long, value double").write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {r.r: r for r in REGISTRY["stat_bootstrap_ci"].fn(spark, str(tmp_path)).collect()}
    xs = {i: math.floor(v * 100) for i, v in vals}
    n, total = len(xs), sum(xs.values())
    assert len(out) == 24
    for r in range(1, 25):
        eps = {
            i: (1 if hashlib.sha256(f"boot:{i}".encode()).hexdigest()[r - 1] in "13579bdf" else -1)
            for i in xs
        }
        e_sum = sum(eps.values())
        sx = sum(eps[i] * xs[i] for i in xs)
        row = out[r]
        assert (row.n, row.sum_cents) == (n, total)
        assert (row.e_sum, row.sx) == (e_sum, sx)
        assert row.dev_num == n * sx - total * e_sum


# ---------------------------------------------------------------------------
# out-of-fold target encoding
# ---------------------------------------------------------------------------


def test_target_encoding_is_leak_free(spark, tmp_path):
    rows = [
        # (orderkey, priority, price) — folds are orderkey % 5
        (0, "HIGH", 100.00),
        (1, "HIGH", 200.00),
        (2, "HIGH", 300.00),
        (5, "HIGH", 400.00),
        (3, "LOW", 50.00),
        (4, "LOW", 70.00),
        (8, "LOW", 90.00),
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {
        (r.category, r.fold): r
        for r in REGISTRY["ml_target_encoding"].fn(spark, str(tmp_path)).collect()
    }
    cents = {k: int(p * 100) for k, _, p in rows}
    g_cnt, g_sum = len(rows), sum(cents.values())
    prior = g_sum // g_cnt
    m = 20
    for cat in ("HIGH", "LOW"):
        members = [(k, c) for (k, cc, _), c in zip(rows, cents.values()) if cc == cat]
        cat_cnt, cat_sum = len(members), sum(c for _, c in members)
        for fold in {k % 5 for k, _ in members}:
            in_fold = [(k, c) for k, c in members if k % 5 == fold]
            f_cnt, f_sum = len(in_fold), sum(c for _, c in in_fold)
            expect = (cat_sum - f_sum + m * prior) // (cat_cnt - f_cnt + m)
            row = out[(cat, fold)]
            assert row.n_in_fold == f_cnt and row.n_oof == cat_cnt - f_cnt
            assert row.prior_cents == prior
            assert row.enc_cents == expect
            # leak-freedom: the encoding never sees the fold's own rows —
            # shifting every in-fold target must leave enc_cents unchanged
            # (verified structurally by the complement subtraction above)


def test_target_encoding_unseen_fold_gets_prior_weighted_all_rows(spark, tmp_path):
    # a category entirely inside one fold: its encoding for that fold has
    # zero out-of-fold rows and must collapse to the prior
    rows = [(5, "ONLY", 500.00), (10, "ONLY", 700.00), (1, "OTHER", 100.00)]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderpriority string, o_totalprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {
        (r.category, r.fold): r
        for r in REGISTRY["ml_target_encoding"].fn(spark, str(tmp_path)).collect()
    }
    prior = (50000 + 70000 + 10000) // 3
    r = out[("ONLY", 0)]
    assert r.n_oof == 0
    assert r.enc_cents == (0 + 20 * prior) // (0 + 20) == prior


# ---------------------------------------------------------------------------
# Benford audit
# ---------------------------------------------------------------------------


def test_benford_counts_and_chi2(spark, tmp_path):
    # prices with known leading cents-digits: 1xx, 1xx, 2xx, 9xx; 0 dropped
    rows = [(1, 1.00), (2, 1.99), (3, 2.50), (4, 9.99), (5, 0.00)]
    spark.createDataFrame(rows, "o_orderkey long, o_totalprice double").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    out = {r.digit: r for r in REGISTRY["profile_benford"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 9}
    assert out[1].n_obs == 2 and out[2].n_obs == 1 and out[9].n_obs == 1
    n = 4
    exp = {1: 301030, 2: 176091, 9: 45757}
    for d, row in out.items():
        assert row.obs_ppm == row.n_obs * 1_000_000 // n
        assert row.exp_ppm == exp[d]
        num = row.n_obs * 1_000_000 - n * exp[d]
        assert row.chi2_x1e6 == num * num // (n * exp[d])


# ---------------------------------------------------------------------------
# candidate keys
# ---------------------------------------------------------------------------


def test_candidate_keys_verdicts(spark, tmp_path):
    rows = [
        # (orderkey, linenumber, partkey, suppkey): (ok, ln) is a key;
        # ok repeats; (pk, sk) repeats once; sk repeats
        (1, 1, 10, 100),
        (1, 2, 11, 100),
        (2, 1, 10, 100),
        (3, 1, 12, 101),
    ]
    spark.createDataFrame(
        rows, "l_orderkey long, l_linenumber long, l_partkey long, l_suppkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {r.combo: r for r in REGISTRY["profile_candidate_keys"].fn(spark, str(tmp_path)).collect()}
    assert out["(l_orderkey, l_linenumber)"].is_key == 1
    assert out["(l_orderkey, l_linenumber)"].n_groups == 4
    ok = out["(l_orderkey)"]
    assert ok.is_key == 0 and ok.n_groups == 3 and ok.max_group_rows == 2
    pk = out["(l_partkey, l_suppkey)"]
    assert pk.is_key == 0 and pk.n_groups == 3 and pk.n_rows == 4
    sk = out["(l_suppkey)"]
    assert sk.is_key == 0 and sk.n_groups == 2 and sk.max_group_rows == 3


def test_candidate_keys_shares_prefix_exchanges_no_expand(spark):
    """Round-7 reshape (SCALE.md §47): the GROUPING SETS form expanded
    lineitem x4 through one exchange whose map-side partial aggregation is
    pure waste on near-unique key sets (measured 3.97x wall at 3x data).
    Now each PREFIX PAIR of sets shares ONE repartition — (ok) derives from
    the (ok, ln) counts in-stage, (sk) from (pk, sk) — so the plan has NO
    Expand, exactly two corpus repartitions, and the other two union
    branches ride ReusedExchange."""
    df = REGISTRY["profile_candidate_keys"].fn(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand(" not in plan and " Expand " not in plan
    assert plan.count("ReusedExchange") >= 2, "prefix pairs must share their exchange"


def test_candidate_keys_exchanges_are_size_aware(spark):
    """Round-8 fix (SCALE.md §48): near-unique-key exact aggregation must
    size its reduce tasks by input bytes, not the session constant — under
    fixed partitions the per-task hash map grows with the corpus until the
    aggregate degrades into a compounding sort-spill cascade (measured
    4.78x wall at 3x data sf3->sf9; sized: 2.52x).  The helper must (a)
    floor at the session default so tiny inputs keep their plan, and (b)
    grow the count once stats outrun the per-task target."""
    from etl_healthcare_spark.operators.exchange import sized_shuffle_partitions

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber"
    )
    session_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny input -> session floor
    assert sized_shuffle_partitions(li) == session_default
    # shrink the per-task target below the input's stats -> count must scale
    # with stats bytes (and respect the cap)
    stats = int(li._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert stats > 4096
    sized = sized_shuffle_partitions(li, target_stats_bytes=4096)
    assert sized == -(-stats // 4096) > session_default
    assert sized_shuffle_partitions(li, target_stats_bytes=1, cap=64) == 64
    # an unknown size estimate (an RDD-backed local frame reports
    # spark.sql.defaultSizeInBytes) is unknown, not huge -> session default
    local = spark.createDataFrame([(i, i) for i in range(4)], "k long, v long")
    assert sized_shuffle_partitions(local) == session_default
    # and the registered query actually uses it: every corpus repartition
    # carries an explicit numPartitions (rendered as ", N" after the keys;
    # an unsized one renders bare "RepartitionByExpression [keys]")
    import re

    df = REGISTRY["profile_candidate_keys"].fn(spark, "/root/testdata/sf0.001")
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    reps = re.findall(r"RepartitionByExpression \[[^\]]*\](, \d+)?", lp)
    assert reps and all(r for r in reps), lp[:2000]


# ---------------------------------------------------------------------------
# classifier evaluation batch (registry_evalml)
# ---------------------------------------------------------------------------


def _score(k):
    p = (k * 7919) % 1000001
    lab = 1 if (k * 104729 + 12345) % 1000000 < p else 0
    return p, lab


def _plant_orderkeys(spark, tmp_path, keys):
    spark.createDataFrame([(k,) for k in keys], "o_orderkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))


def test_roc_curve_matches_brute_force(spark, tmp_path):
    keys = list(range(1, 41))
    _plant_orderkeys(spark, tmp_path, keys)
    scored = [_score(k) for k in keys]
    pos = sum(lab for _, lab in scored)
    neg = len(scored) - pos
    assert pos > 0 and neg > 0  # planted keys must exercise both classes
    buckets = {}
    for p, lab in scored:
        b = p // 50000
        n, np_ = buckets.get(b, (0, 0))
        buckets[b] = (n + 1, np_ + lab)
    tp = fp = 0
    expect = {}
    for b in sorted(buckets, reverse=True):
        n, np_ = buckets[b]
        tp0, fp0 = tp, fp
        tp, fp = tp + np_, fp + (n - np_)
        expect[b * 50000] = (n, tp, fp, tp * 10**6 // pos, fp * 10**6 // neg,
                             (fp - fp0) * (tp + tp0))

    out = {r.thresh_ppm: r for r in REGISTRY["eval_roc_curve"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == set(expect)
    auc2 = 0
    for t, (n, etp, efp, etpr, efpr, eauc2) in expect.items():
        r = out[t]
        assert (r.n_bucket, r.tp, r.fp) == (n, etp, efp)
        assert (r.n_pos, r.n_neg) == (pos, neg)
        assert (r.tpr_ppm, r.fpr_ppm) == (etpr, efpr)
        assert r.auc2_num == eauc2
        auc2 += eauc2
    # identity: sum of doubled trapezoids over the full curve = 2*P*N*AUC,
    # and a curve ending at (1,1) means the terms total within [0, 2*P*N]
    assert sum(r.auc2_num for r in out.values()) == auc2 <= 2 * pos * neg


def test_threshold_f1_matches_brute_force(spark, tmp_path):
    keys = list(range(1, 31))
    _plant_orderkeys(spark, tmp_path, keys)
    scored = [_score(k) for k in keys]
    n = len(scored)
    pos = sum(lab for _, lab in scored)

    out = {
        r.thresh_ppm: r
        for r in REGISTRY["eval_threshold_f1"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {100_000, 300_000, 500_000, 700_000, 900_000}
    for t, r in out.items():
        pp = sum(1 for p, _ in scored if p >= t)
        tp = sum(lab for p, lab in scored if p >= t)
        assert (r.tp, r.fp, r.fn, r.tn) == (tp, pp - tp, pos - tp, n - pos - pp + tp)
        assert r.precision_ppm == (tp * 10**6 // pp if pp else None)
        assert r.recall_ppm == tp * 10**6 // pos
        assert r.f1_ppm == 2 * tp * 10**6 // (pp + pos)


def test_calibration_ece_matches_brute_force(spark, tmp_path):
    keys = list(range(1, 61))
    _plant_orderkeys(spark, tmp_path, keys)
    scored = [_score(k) for k in keys]
    bins = {}
    for p, lab in scored:
        b = min(p // 100000, 9)
        n, np_, sp = bins.get(b, (0, 0, 0))
        bins[b] = (n + 1, np_ + lab, sp + p)

    out = {
        r.bin: r for r in REGISTRY["eval_calibration_ece"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == set(bins)
    for b, (n, np_, sp) in bins.items():
        r = out[b]
        assert (r.n, r.n_pos) == (n, np_)
        assert r.avg_pred_ppm == sp // n
        assert r.obs_ppm == np_ * 10**6 // n
        assert r.ece_num == abs(np_ * 10**6 - sp)
        assert r.n_total == len(scored)


def test_gini_feature_rank_matches_brute_force(spark, tmp_path):
    import datetime

    rows = [
        # (priority, status, orderdate, totalprice) — 'priority' perfectly
        # splits the label, 'status' is uninformative, 'month' is partial
        ("HIGH", "O", datetime.date(2024, 1, 5), 200000.00),
        ("HIGH", "F", datetime.date(2024, 1, 9), 180000.00),
        ("HIGH", "P", datetime.date(2024, 2, 1), 160000.00),
        ("LOW", "O", datetime.date(2024, 2, 2), 100.00),
        ("LOW", "F", datetime.date(2024, 3, 3), 50.00),
        ("LOW", "P", datetime.date(2024, 3, 4), 75.00),
    ]
    spark.createDataFrame(
        rows,
        "o_orderpriority string, o_orderstatus string, o_orderdate date, o_totalprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    labels = [1 if int(p * 100) > 15000000 else 0 for *_, p in rows]
    feats = {
        "priority": [r[0] for r in rows],
        "status": [r[1] for r in rows],
        "month": [str(r[2].month) for r in rows],
    }

    out = {r.feature: r for r in REGISTRY["ml_gini_feature_rank"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {"priority", "status", "month"}
    n = len(rows)
    pos = sum(labels)
    parent = (n * n - pos * pos - (n - pos) ** 2) * 10**6 // (n * n)
    for feat, vals in feats.items():
        cnt = {}
        for v, lab in zip(vals, labels):
            cnt[(v, lab)] = cnt.get((v, lab), 0) + 1
        by_val = {}
        for (v, _), c in cnt.items():
            nv, s2 = by_val.get(v, (0, 0))
            by_val[v] = (nv + c, s2 + c * c)
        child_num = sum((nv * nv - s2) * 10**6 // nv for nv, s2 in by_val.values())
        r = out[feat]
        assert (r.n, r.n_values) == (n, len(by_val))
        assert r.parent_gini_ppm == parent
        assert r.child_gini_ppm == child_num // n
        assert r.gain_ppm == parent - child_num // n
    # sanity of the planted design: the perfect splitter wins, the
    # uninformative feature gains zero
    assert out["priority"].gain_ppm == parent
    assert out["status"].gain_ppm == 0


def test_eval_queries_scan_once(spark):
    # every query in the batch is ONE scan of orders: a second
    # InMemoryFileIndex would mean the stack()/multi-threshold tricks
    # regressed to union re-reads
    import contextlib
    import io

    for name in ("eval_roc_curve", "eval_threshold_f1", "eval_calibration_ece",
                  "ml_gini_feature_rank"):
        df = REGISTRY[name].fn(spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert plan.count("Location: InMemoryFileIndex") == 1, name


def test_pinball_loss_matches_brute_force(spark, tmp_path):
    rows = [(k, float(p)) for k, p in [(1, 1500.00), (2, 1300.57), (3, 2100.99), (4, 1449.01)]]
    spark.createDataFrame(rows, "o_orderkey long, o_totalprice double").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    out = {r.q_ppm: r for r in REGISTRY["eval_pinball_loss"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {100_000, 500_000, 900_000}
    for q in out:
        total = 0
        for k, p in rows:
            y = round(p * 100)
            yhat = 140000 + (k * 13) % 50000
            total += q * (y - yhat) if y >= yhat else (10**6 - q) * (yhat - y)
        r = out[q]
        assert r.n == 4
        assert r.sum_loss_cents == total // 10**6
        assert r.mean_loss_ppm_cents == total // 4
    # the asymmetry is real: under-predicting costs more at q=0.9 than 0.1
    assert out[900_000].sum_loss_cents != out[100_000].sum_loss_cents
