"""Physical-plan regression tests — the SCALE.md §2 shuffle inventory held as
assertions, so a refactor that silently degrades a plan (broadcast lost,
pushdown broken, top-k becoming a global sort) fails CI, not the cluster."""

import io
import contextlib
import re

from etl_healthcare_spark.plans.registry import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_star_join_broadcasts_all_dimensions(spark):
    plan = _plan(spark, "j6_star_join")
    assert "SortMergeJoin" not in plan, "dimension joins must broadcast, not sort-merge"
    assert plan.count("BroadcastHashJoin") >= 5


def test_topk_uses_take_ordered_not_global_sort(spark):
    for name in ("o2_topk", "q2_observations_by_patient", "sim_topk_cosine"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, f"{name}: limit+order must not plan a global sort"


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "g7_tpch_q1")
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "l_shipdate" in m.group(1), "shipdate filter must push to the parquet scan"


def test_column_pruning_reaches_scan(spark):
    plan = _plan(spark, "j6_star_join")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    lineitem_cols = m.group(1)
    assert "l_comment" not in lineitem_cols and "l_shipmode" not in lineitem_cols, (
        "unprojected lineitem columns must be pruned from the scan"
    )


def test_range_join_is_broadcast_not_cartesian(spark):
    plan = _plan(spark, "j5_range_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_aggregations_are_partially_aggregated(spark):
    for name in ("g1_minute_counters", "g7_tpch_q1"):
        plan = _plan(spark, name)
        assert "partial" in plan.lower(), f"{name}: map-side combine missing"


def test_decontam_broadcasts_eval_shingles(spark):
    plan = _plan(spark, "decontam_ngram")
    assert "BroadcastHashJoin" in plan, "eval shingle set must broadcast, never shuffle the corpus"
    assert "SortMergeJoin" not in plan.split("n_shingles")[0], (
        "the corpus-vs-eval semi-count must not sort-merge"
    )


def test_quantize_broadcasts_dimension_stats(spark):
    """The ndims-row stats table is collected and rides the plan as literal
    arrays: the encode is map-only, with no exchange and no join back onto
    the exploded corpus."""
    plan = _plan(spark, "sim_int8_quant")
    assert "Exchange" not in plan and "Join" not in plan, "int8 encode must be map-only"


def test_stratified_sample_is_scan_plus_filter_no_shuffle(spark):
    plan = _plan(spark, "sample_stratified")
    assert "Exchange" not in plan, "hash sampling must be map-only (no shuffle)"
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "text" not in m.group(1), "unused text column must be pruned from the scan"


def test_pack_sequences_single_window_exchange(spark):
    plan = _plan(spark, "pack_sequences")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, "packing is one window partitioning, nothing else"


def test_corpus_stats_aggregates_partially(spark):
    plan = _plan(spark, "corpus_stats")
    assert "partial" in plan.lower()


def test_tpch_q6_pushes_all_predicates_no_join(spark):
    plan = _plan(spark, "g7b_tpch_q6")
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "l_shipdate" in m.group(1) and "l_discount" in m.group(1) and "l_quantity" in m.group(1)
    assert "Join" not in plan and "partial" in plan.lower()


def test_tpch_q3_broadcasts_and_takeordered(spark):
    plan = _plan(spark, "g7c_tpch_q3")
    assert "TakeOrderedAndProject" in plan and "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_tpch_q5_broadcasts_every_dimension(spark):
    plan = _plan(spark, "g7d_tpch_q5")
    assert "SortMergeJoin" not in plan
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.MULTILINE)) >= 4


def test_tpch_q4_exists_is_semi_join(spark):
    plan = _plan(spark, "g7e_tpch_q4")
    assert "LeftSemi" in plan, "EXISTS must decorrelate to a semi-join, not an inner blowup"
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "o_orderdate" in m.group(1), "orderdate range must push to the orders scan"


def test_tpch_q18_having_semi_join_and_takeordered(spark):
    plan = _plan(spark, "g7g_tpch_q18")
    assert "TakeOrderedAndProject" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q19_disjunction_pushes_implied_predicates(spark):
    plan = _plan(spark, "g7h_tpch_q19")
    scans = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    assert any("l_quantity" in s for s in scans), (
        "the quantity disjunction implied by all OR branches must reach the lineitem scan"
    )
    assert any("p_brand" in s and "p_size" in s for s in scans), (
        "brand/size implications must reach the part scan"
    )
    assert "SortMergeJoin" not in plan


def test_tpch_q10_broadcasts_and_takeordered(spark):
    plan = _plan(spark, "g7i_tpch_q10")
    assert "TakeOrderedAndProject" in plan and "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_quality_gate_is_map_only(spark):
    plan = _plan(spark, "text_quality_gate")
    assert "Exchange" not in plan, "the quality gate is a projection — no shuffle"


def test_hl7_parse_is_map_only(spark):
    plan = _plan(spark, "p4_hl7_obx_dto")  # parse_hl7_messages over two messages
    for node in ("Exchange", "Join", "Aggregate"):
        assert node not in plan, f"each OBX row takes its message's PID in the same pass — no {node}"


def test_source_cap_broadcasts_count_table(spark):
    plan = _plan(spark, "sample_source_cap")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, (
        "per-source counts must broadcast back, never shuffle the corpus"
    )


def test_knn_join_broadcasts_queries_and_limits_window_partially(spark):
    plan = _plan(spark, "sim_knn_join")
    assert "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan, (
        "the query batch must broadcast; the pairing is evaluated in-task"
    )
    assert "WindowGroupLimit" in plan, (
        "rank<=k must push below the shuffle so only top-k per query per partition ship"
    )


def test_driver_window_spans_every_family_and_is_oracle_backed():
    """External harnesses score REGISTRY insertion order with a bounded window;
    the head must be the curated DRIVER_WINDOW — every entry carrying a DuckDB
    oracle (no rows-only checks in the window), and every family carrying
    driver-grade evidence NO OLDER THAN ONE ROUND: an in-window member, or a
    member hash-green in the latest CORRECTNESS_r*.json (the one-round
    carry-over policy, round-9 verdict item 2 — re-verifying a name one round
    after it passed wastes a slot while any name still lacks a driver row)."""
    import glob as _glob
    import json as _json
    from pathlib import Path as _Path

    from etl_healthcare_spark.plans.registry import DRIVER_WINDOW

    names = list(REGISTRY)
    assert names[: len(DRIVER_WINDOW)] == DRIVER_WINDOW
    assert len(DRIVER_WINDOW) == 50
    assert all(REGISTRY[n].sql is not None for n in DRIVER_WINDOW)
    repo = _Path(__file__).resolve().parents[1]
    latest, latest_green = 0, set()
    for f in _glob.glob(str(repo / "CORRECTNESS_r*.json")):
        digits = _Path(f).stem.split("_r")[-1]
        if digits.isdigit() and int(digits) >= latest:
            latest = int(digits)
            latest_green = {
                n
                for n, e in _json.load(open(f)).items()
                if e.get("rows_match") and e.get("schema_match")
                and e.get("hash_match") and e.get("err") is None
            }
    covered = set(DRIVER_WINDOW) | latest_green
    # one representative from each major family must sit inside the window
    for probe in (
        "q2_",  # serving
        "g1_",  # aggregation
        "g7_",  # TPC-H
        "j6_",  # joins
        "w3_",  # windows
        "set_ops",  # set operations
        "o2_",  # sort/limit
        "p1_",  # parsing
        "v2_",  # validation
        "u1_",  # upsert
        "dedup_",  # dedup
        "sim_",  # similarity
        "text_",  # text analysis
        "sample_",  # sampling
        "curation_",  # curation funnel
        "mm_",  # multimodal
        "g10_",  # pivot
        "sq_",  # subqueries
        "scalar_",  # scalar surface
        "stream_",  # streaming
        "search_",  # full-text relevance
        "sketch_",  # mergeable sketches
        "cluster_",  # corpus clustering
        "anomaly_",  # anomaly detection
        "eval_",  # classifier evaluation
        "maint_",  # table maintenance / layout analytics
        "privacy_",  # disclosure-risk audits
    ):
        assert any(n.startswith(probe) for n in covered), probe


def test_doc_counts_match_live_registry():
    """COVERAGE.md and QUERIES.md must state the real registry size — doc
    drift was a round-2 finding; this pins the counts to the live registry."""
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    total = len(REGISTRY)
    rows_only = sum(1 for q in REGISTRY.values() if q.sql is None)
    cov = (repo / "COVERAGE.md").read_text()
    assert f"{total} declared" in cov, f"COVERAGE.md must declare {total} queries"
    assert f"{total - rows_only} oracle-checked, {rows_only} rows-only" in cov
    qmd = (repo / "QUERIES.md").read_text()
    assert qmd.count("| `") == total, "QUERIES.md row count must match the registry"
    readme = (repo / "README.md").read_text()
    assert f"the {total}-query registry" in readme, "README.md count must match"


def test_ngram_jaccard_verifies_lsh_candidates_not_blocked_self_join(spark):
    """The registered jaccard query must be the verification shape: exact
    intersections only for LSH candidate pairs.  A blocked shingle self-join
    (the old lang-blocked form) goes quadratic on common shingles at scale."""
    plan = _plan(spark, "dedup_ngram_jaccard")
    assert "lang" not in plan, "jaccard must not block on a whole language"
    # the LSH candidate list is materialized once (localCheckpoint -> RDD scan)
    # and joined to per-doc shingles — never a shingle-keyed self-join
    assert "ExistingRDD" in plan, "candidates must be the materialized LSH pair list"


def test_ivf_probe_prunes_cell_partitions(spark):
    """The probe-side plan must read ONLY the nprobe probed cell partitions of
    the written IVF index — PartitionFilters on the cell partition column is
    the 100 TB claim (probe cost = nprobe/nlist of the corpus) held as a
    plan assertion."""
    plan = _plan(spark, "sim_ivf_probe")
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "cell" in m.group(1), "probe must prune on the cell partition column"
    assert "IN (" in m.group(1) or "in(cell" in m.group(1).lower(), m.group(1)
    assert "TakeOrderedAndProject" in plan, "probe top-k must be a heap, not a global sort"


def test_knn_blocked_joins_on_cell_key_not_nested_loop(spark):
    """The blocked k-NN pairing must be a hash join keyed on the IVF cell —
    never a BroadcastNestedLoopJoin over the full query x corpus cross
    product (that is sim_knn_join's small-batch shape)."""
    plan = _plan(spark, "sim_knn_blocked")
    assert "BroadcastHashJoin" in plan, "cell-keyed pairing must be a hash join"
    assert "CartesianProduct" not in plan
    # the query-corpus pairing itself must not be a nested loop; the only BNLJ
    # allowed is the tiny centroid cross (k rows broadcast for probe ranking)
    assert "WindowGroupLimit" in plan, "per-query top-k must push below the shuffle"


def test_embedding_dedup_blocks_on_lsh_bucket_not_label(spark):
    """The registered embedding dedup must group pairs by the hyperplane LSH
    bucket (corpus/2^bits per block at any scale) — never by a label
    (linear-with-corpus blocks => quadratic pair tasks at 100 TB) — and the
    only per-pair work happens inside the declared per-bucket Arrow GEMM
    kernel, one partition-parallel group per bucket."""
    plan = _plan(spark, "dedup_embedding_lsh")
    assert "CartesianProduct" not in plan
    assert "label" not in plan, "production embedding dedup must not block on label"
    assert "__lsh_bkt" in plan, "grouping must be keyed on the LSH bucket column"
    assert "FlatMapGroupsInPandas" in plan, "pair scoring must be the per-bucket Arrow kernel"
    assert "BatchEvalPython" not in plan


def test_tpch_q21_exists_notexists_are_semi_then_anti(spark):
    plan = _plan(spark, "g7u_tpch_q21")
    assert "LeftSemi" in plan, "EXISTS must plan as a semi join (one probe per l1 row)"
    assert "LeftAnti" in plan, "NOT EXISTS must plan as an anti join"
    assert "CartesianProduct" not in plan


def test_tpch_q2_decorrelated_min_is_agg_plus_join(spark):
    plan = _plan(spark, "g7j_tpch_q2")
    assert "BroadcastHashJoin" in plan  # dims + the per-part min rejoin broadcast
    assert "partial_min" in plan or "min(bal_cents" in plan  # the decorrelated aggregate
    assert "TakeOrderedAndProject" in plan  # top-100 never a global sort
    assert "CartesianProduct" not in plan


def test_tpch_q13_left_outer_survives_with_infilter(spark):
    plan = _plan(spark, "g7p_tpch_q13")
    assert "LeftOuter" in plan, "the priority filter must stay in the join, not drop empty customers"
    assert plan.count("HashAggregate") >= 4  # two logical aggregates, partial+final each


def test_tpch_q11_global_threshold_is_broadcast_scalar(spark):
    plan = _plan(spark, "g7n_tpch_q11")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_no_query_plans_cartesian_or_rowwise_python(spark):
    """Whole-registry plan hygiene: no query may plan a CartesianProduct
    (unbounded pair blowup) or BatchEvalPython (row-at-a-time Python UDF —
    the non-Arrow slow path).  Arrow-batched Python (mapInPandas) is allowed
    only where declared: the multimodal decode kernels.  Queries with side
    effects (tempdir streams, state stores) execute eagerly, so only
    pure-plan queries are audited — that still covers the whole analytic
    surface."""
    SIDE_EFFECTING = {
        "stream_g1_windowed", "stream_g13_sliding", "stream_dedup", "stream_stream_join",
        "stream_anomaly_moments", "stream_hll_registers", "io_schema_evolution",
        "u1b_store_merge_twice", "s8_s9_audit_roundtrip", "s10_dlq_redrive",
        "pipeline_e2e_write_path", "q4_audit_list", "o5_newest_partition",
        "stream_sessionize",
        "stream_m4_windowed",
        "stream_topk_windowed",
        "u11_time_travel",  # writes three snapshot commits when invoked
        "p8_format_routing", "u1_idempotent_merge", "io_orc_roundtrip",
        "sim_ivf_probe",  # writes the IVF index (build phase) when invoked
        "search_index_probe",  # writes the inverted index (build phase)
        "stream_static_join",
    }
    ARROW_OK = {
        "mm_binary_stats", "mm_header_decode", "mm_resize_plan", "mm_frame_sample",
        "mm_pixel_stats",
        # round-4 PNG chunk walk + TIFF/EXIF IFD walk (operators/multimodal)
        "mm_png_chunks",
        "mm_tiff_exif",
        # AVI/RIFF container walk (operators/multimodal.avi_container_info)
        "mm_avi_info",
        # per-bucket numpy GEMM pair scorer — the declared embedding-dedup
        # Arrow slot (operators/dedup.embedding_lsh_dedup_pairs)
        "dedup_embedding_lsh",
        # real-byte decode kernels of the round-3 analytics batch
        "mm_audio_windows", "mm_phash_pairs", "mm_gif_frames",
        # PCM autocorrelation over real WAV bytes (round-3 mining batch)
        "mm_audio_autocorr",
        # DICOM Part-10 header walk (operators/multimodal.dicom_tags)
        "mm_dicom_tags",
        # MP4/ISO-BMFF box walk (operators/multimodal.mp4_container_info)
        "mm_mp4_boxes",
        # ZIP central-directory walk (operators/multimodal.zip_central_dir)
        "mm_zip_central_dir",
        # in-task diagonal run fold over per-doc position arrays — the
        # round-7 scale fix (operators/textops._fold_longest_runs)
        "dedup_longest_run",
        # the int64 GEMM nearest-centroid kernel
        # (operators/clustering.nearest_centroid) assigns every Lloyd round
        # of the IVF cells, replacing a crossJoin row stream + argmin exchange
        "sim_knn_blocked",
        # the same kernel runs kmeans_int8's lloyd assignments
        "cluster_kmeans",
        # the same kernel assigns every point to its nearest of the k
        # collected centers (operators/clustering.kcenter_assign)
        "sample_kcenter",
    }
    audited = 0
    for name in REGISTRY:
        if name in SIDE_EFFECTING:
            continue
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
        assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
        if "ArrowEvalPython" in plan or "MapInPandas" in plan:
            assert name in ARROW_OK, f"{name} uses Python outside the declared kernels"
        audited += 1
    assert audited >= 115


def test_key_plan_shapes_stable_at_sf01(spark):
    """The plan guarantees must hold at the largest local SF too — a shape
    that silently degrades when statistics grow 100x is exactly the bug the
    100 TB lens cares about."""
    def plan_at(name, sf):
        df = REGISTRY[name].fn(spark, f"/root/testdata/{sf}")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    p = plan_at("j6_star_join", "sf0.1")
    assert "SortMergeJoin" not in p and p.count("BroadcastHashJoin") >= 5
    p = plan_at("g7c_tpch_q3", "sf0.1")
    assert "TakeOrderedAndProject" in p and "CartesianProduct" not in p
    p = plan_at("o2_topk", "sf0.1")
    assert "TakeOrderedAndProject" in p
    p = plan_at("g7_tpch_q1", "sf0.1")
    m = re.search(r"PushedFilters: \[(.*?)\]", p)
    assert m and "l_shipdate" in m.group(1)


def test_bm25_is_map_pass_plus_takeordered(spark):
    """BM25: no posting-list shuffle — the only hash exchange would betray an
    explode+groupBy shape; stats ride a 1-row broadcast, top-k is a heap."""
    plan = _plan(spark, "search_bm25")
    assert "TakeOrderedAndProject" in plan
    # the ONLY shuffle allowed is the deliberate parallelism fan-out
    # (repartition before tokenization); tf itself must come from the token
    # array — an explode+groupBy posting-list shape would add a second one
    assert len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan)) <= 1
    assert "BatchEvalPython" not in plan


def test_anomaly_flags_broadcast_moments(spark):
    """Z-score flagging: one shuffle for the moment sketch, broadcast back."""
    plan = _plan(spark, "anomaly_zscore")
    assert "BroadcastHashJoin" in plan
    # exactly one shuffle (the moment-sketch aggregate); broadcasts excluded
    assert len(re.findall(r"(?<!Broadcast)Exchange \(\d+\)", plan)) == 1


def test_zorder_key_is_pure_projection(spark):
    """The Morton key adds zero exchanges beyond the final top-k heap."""
    plan = _plan(spark, "layout_zorder")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan.replace("TakeOrderedAndProject", "")


def test_kmeans_broadcasts_centroids(spark):
    """The final assignment ships the collected k centroid rows in the task
    closure (nearest_centroid): map-only over the codes, no exchange and no
    join against the corpus."""
    plan = _plan(spark, "cluster_kmeans")
    assert "MapInPandas" in plan
    assert "Exchange" not in plan and "Join" not in plan, "k-means assignment must be map-only"


def test_salted_join_keys_on_salt(spark):
    """j9's physical join must key on (key, _salt) — the whole point is that
    the hot key's rows spread across salt buckets, whatever join strategy
    the optimizer picks for the replicated dim."""
    plan = _plan(spark, "j9_salted_skew_join")
    assert "_salt" in plan, "salted join lost its salt key"
    assert "CartesianProduct" not in plan


def test_spatial_pairs_hash_join_on_cells(spark):
    """j10 must pair via an equi-join on the grid cell (hash or sort-merge),
    never a nested-loop over the predicate."""
    plan = _plan(spark, "j10_spatial_pairs")
    assert "pcx" in plan and "pcy" in plan, "grid cell keys missing from the plan"
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_containment_pair_joins_never_broadcast(spark):
    """The rare-span and candidate joins carry explicit strategy hints
    because their static size estimates are tiny while actual sizes are
    corpus-scale (driver broadcast OOM observed at sf1.0).  The
    candidate/per-doc-array joins are hinted MERGE — a shuffled-hash build
    of a corpus-linear side outgrew per-task memory at the round-6 sf3
    probe ("Can't acquire 512MB to build hash relation"); sort-merge spills
    instead of failing.  Guard both effects: a sort-merge join must be
    present, and NO broadcast hash join may appear anywhere in these plans
    (the only broadcastable frames would be the corpus-scale ones)."""
    for name in ("dedup_containment", "dedup_longest_run"):
        plan = _plan(spark, name)
        assert "SortMergeJoin" in plan, f"{name}: merge hints lost"
        assert "BroadcastHashJoin" not in plan, f"{name}: corpus-scale side broadcast"


def test_longest_run_folds_in_task(spark):
    """The round-6 sf3 probe measured the relational longest-run shape at
    6.2x wall on 3x data: joining candidate pairs back onto the exploded
    position stream and windowing over match rows shuffles a volume that
    grows faster than the corpus.  The round-7 shape folds run detection
    in-task over per-doc position arrays: MapInPandas present, NO window
    over a match stream, and no posting join-back (the only Generate nodes
    are the candidate build's explodes)."""
    plan = _plan(spark, "dedup_longest_run")
    assert "MapInPandas" in plan, "run fold must be the in-task Arrow kernel"
    assert "Window" not in plan, "match-stream window shuffle reintroduced"


def test_frequent_pairs_reuses_only_the_bounded_aggregate(spark):
    """The round-7 sf1->sf3 probe killed the previous frequent-pairs shape
    with AGGREGATE_OUT_OF_MEMORY: it localCheckpointed the CAPPED BASKET
    FRAME (corpus-sized) for three consumers, and the pinned cache starved
    the fixed executor memory budget.  The one-pass shape aggregates
    sentinel+singles+pairs in a single count groupBy that collapses
    map-side to the co-occurrence vocabulary, and only THAT bounded frame
    is checkpointed and reused.  Pin the property: the final plan reads the
    checkpoint (ExistingRDD scans), never the corpus (no file scan below
    the lift joins), and the support/basket-count joins broadcast the
    vocabulary-bounded frames."""
    plan = _plan(spark, "mine_frequent_pairs")
    assert "Scan ExistingRDD" in plan, "lift joins must read the checkpointed aggregate"
    assert "Scan parquet" not in plan, "corpus re-scan downstream of the checkpoint"
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_chunk_windows_is_map_only(spark):
    """RAG chunking must be pure scan-side fan-out: sequence+explode+slice
    inside the task, ZERO Exchange anywhere in the plan."""
    plan = _plan(spark, "text_chunk_windows")
    assert "Exchange" not in plan, "chunking must not shuffle"
    assert "Generate" in plan, "chunk starts must fan out via explode"


def test_related_docs_pairs_expand_in_bucket_with_one_pair_shuffle(spark):
    """Pair generation is in-bucket expansion (the dedup_minhash_lsh shape):
    NO posting joins of any kind survive in the plan, and the pair stream is
    partitioned by `a` exactly once — that single exchange must satisfy both
    the (a, b) aggregation and the per-doc top-k window (subset rule), so
    the ~df^2-per-bucket pair volume crosses the network once."""
    plan = _plan(spark, "search_related_docs")
    assert "Join" not in plan, "pairs must expand in-bucket, never via joins"
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan, "per-doc top-k must push below the shuffle"
    # exchanges: tokenize fan-out on (doc, text) (round-11 — the regex+
    # shingle+sha chain otherwise ran at single-file scan parallelism; this
    # exchange is text-sized, ~2% of the pair volume) + groupBy(g)
    # collect_set (fuses the old distinct's shuffle, round-10: was 2 here)
    # + repartition(a) — nothing more
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 3, f"expected 3 exchanges, got {n_exchanges}"
    assert plan.count("REPARTITION_BY_NUM") == 1, "exactly one fan-out exchange"


def test_trimmed_mean_single_shuffle(spark):
    """Rank window + final agg must reuse ONE hash exchange on the group key
    (the anomaly_iqr/anomaly_mad layout)."""
    plan = _plan(spark, "g24_trimmed_mean")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, "trimmed mean must shuffle exactly once"


def test_mixture_plan_broadcasts_grand_total_and_weights(spark):
    """The per-group agg shuffles once; the 1-row grand total and the literal
    weights table must come back as broadcasts, never a shuffled join."""
    plan = _plan(spark, "sample_mixture_plan")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_score_calibration_windows_only_aggregated_table(spark):
    """The percent-rank windows must run over the (source, score)-count
    aggregate and the pct map must broadcast back — never a row-level
    partitionBy(source) window (one task would sort a whole source at
    100 TB)."""
    plan = _plan(spark, "sample_score_calibration")
    assert "BroadcastHashJoin" in plan, "pct map must broadcast back onto docs"
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # a row-level window would be Window directly over Exchange+Scan; the
    # aggregated shape interposes the (source, score) count aggregate
    assert "HashAggregate" in plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges <= 2, "only the count agg + tiny window repartition may shuffle"


def test_hard_negatives_map_only_scan_plus_group_limit(spark):
    """Anchor batch broadcasts (BNLJ, never CartesianProduct); band filter is
    in-task; the only shuffle is the per-anchor top-k WindowGroupLimit."""
    plan = _plan(spark, "sim_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, "only the rank window may shuffle"


def test_sql_frontdoor_plans_like_dataframe_api(spark):
    """The spark.sql() text query must compile to the same physical shape the
    DataFrame API gets: partial aggregation and a rank pushed down to
    WindowGroupLimit."""
    plan = _plan(spark, "sql_topn_hours")
    assert "partial" in plan.lower()
    assert "WindowGroupLimit" in plan


def test_prototype_prune_assignment_is_map_only(spark):
    """Prototype assignment compiles to literal-array dot products inside the
    scan task — the ONLY exchange in the plan is the per-cluster rank/count
    window's hash partitioning on proto_id.  No join, no cartesian: the
    prototype batch must be driver-collected literals, not a joined frame."""
    plan = _plan(spark, "sample_prototype_prune")
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)) == 1, (
        "exactly one shuffle (the cluster window)"
    )
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_interleave_order_has_no_global_sort(spark):
    """The curriculum order is computed ((rk-1)*n_sources + src_idx), never
    materialized by a global sort: the only full-data exchange is the
    per-source rank window; the source-index frame joins back as a
    broadcast."""
    plan = _plan(spark, "sample_interleave_order")
    assert "BroadcastHashJoin" in plan, "source index must broadcast back"
    assert "SortMergeJoin" not in plan
    # full-data exchanges: the per-source window's hashpartitioning(source...)
    # plus the tiny distinct-sources aggregation; never a rangepartitioning
    # (that would be a global sort of the corpus)
    assert "rangepartitioning" not in plan.lower().replace("_", ""), (
        "global_order must be computed, not sorted"
    )


def test_weighted_median_windows_run_over_histogram_not_raw_rows(spark):
    """The scale contract of the histogram-refine shape: every Window node's
    input descends from a HashAggregate (bin- or value-level), so no window
    task ever buffers a raw-row group partition (the 20M-rows-in-one-task
    failure at 60M-row scale); the crossing frame joins back as a
    broadcast."""
    plan = _plan(spark, "g25_weighted_median")
    assert "Window" in plan
    assert "BroadcastHashJoin" in plan, "crossing-bin frame must broadcast"
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # ONE corpus pass (round-10): the checkpointed value-level histogram
    # feeds both the bin cumulative windows and the crossing-bin refine, so
    # the plan contains NO parquet scan at all (the single scan ran at
    # checkpoint time) — the old shape paid a second full corpus scan for
    # the refine
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))
    assert n_scans == 0
    assert "Scan ExistingRDD" in plan, "refine must read the checkpointed histogram"
    # no Exchange may carry raw rows into a Window: every exchange feeding a
    # sort+window must sit above a partial HashAggregate in this plan; the
    # cheap proxy is that the plan's first Window input chain contains a
    # HashAggregate before any Scan
    first_window = plan.index("Window")
    assert "HashAggregate" in plan[:first_window]


def test_mrl_rerank_coarse_stage_is_heap_not_sort(spark):
    """The coarse Matryoshka stage must close with a TakeOrderedAndProject
    heap over the map-only scan — no join against the corpus, no global
    sort; the fine re-rank only ever sees the shortlist."""
    plan = _plan(spark, "sim_mrl_rerank")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_drift_tvd_is_one_histogram_aggregation(spark):
    """The drift scan folds the slice into conditional sums: one
    partial-aggregable exchange on the bin id plus the 1-row totals
    aggregation — never a per-slice scan pair or a join of two histograms."""
    plan = _plan(spark, "profile_drift_tvd")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges <= 2, "bin groupBy + histogram-sized totals window only"
    assert "Join" not in plan
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.MULTILINE))
    assert n_scans == 1, "one scan, side folded as a conditional"


def test_token_shards_windows_are_bucket_partitioned(spark):
    """The within-bucket cumulative window must partition by bucket (never a
    raw-row global window); the only single-partition window runs over the
    AGGREGATED bucket frame."""
    plan = _plan(spark, "sample_token_shards")
    assert "windowspecdefinition(bucket" in plan, "raw cumsum must partition by bucket"
    assert "BroadcastHashJoin" in plan, "bucket prefix frame must broadcast back"


def test_novelty_join_is_shuffle_hash_not_broadcast(spark):
    """The first-occurrence frame descends from an aggregation (tiny static
    estimate) but grows with the corpus — it must never broadcast."""
    plan = _plan(spark, "corpus_novelty")
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_common_neighbors_expands_in_bucket(spark):
    """Wedges come from in-bucket neighbor-list expansion: the only join in
    the plan is the left-anti adjacency check."""
    plan = _plan(spark, "graph_common_neighbors")
    assert "CartesianProduct" not in plan and "BroadcastHashJoin" not in plan
    n_joins = len(re.findall(r"^\(\d+\) \w*Join", plan, re.MULTILINE))
    assert "LeftAnti" in plan
    assert n_joins == 1, f"wedge generation must not join; got {n_joins} join nodes"


def test_asof_tolerance_single_shuffle_no_range_join(spark):
    """Union+window carry: one exchange on the key, no range self-join."""
    for name in ("j5c_asof_tolerance", "j5d_asof_forward"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
        assert n_exchanges == 1, f"{name}: expected 1 exchange, got {n_exchanges}"


def test_embedding_drift_is_one_aggregate(spark):
    """One posexplode into one partial-aggregable groupBy(dim) — a single
    exchange, no joins."""
    plan = _plan(spark, "profile_embedding_drift")
    assert "Join" not in plan
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE))
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}"


def test_serving_scan_partition_prunes_to_one_tenant(spark, tmp_path):
    """The q1/q2/q3 p99<300ms SLO story rests on the serving store being laid
    out `partitionBy("tenantId")` so a tenant-scoped query touches one
    partition out of N (reference GSI layout: every serving read is
    tenant-keyed, api-query/src/handler.ts:66,111).  Held as a plan
    assertion: the q2 predicate over a tenant-partitioned observation store
    must reach the scan as a non-empty PartitionFilters entry on tenantId —
    at 100 TB that is the difference between reading ~1/10th of the store
    and reading all of it."""
    from pyspark.sql import functions as F

    from etl_healthcare_spark.datasets import observations

    path = str(tmp_path / "obs_store")
    observations(spark, SF).write.partitionBy("tenantId").parquet(path)

    store = spark.read.parquet(path)
    served = (
        store.where(
            (F.col("tenantId") == "t3")
            & (F.col("patientId") == "p13")
            & (F.col("effectiveDateTime") >= F.lit("2024-01-05 00:00:00"))
            & (F.col("effectiveDateTime") <= F.lit("2024-01-25 00:00:00"))
        )
        .orderBy("effectiveDateTime", "obsId")
        .limit(25)
        .select("obsId", "code", "value", "effectiveDateTime")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan, f"scan lost its PartitionFilters section:\n{plan}"
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "tenantId" in pf and "t3" in pf, f"tenant predicate must prune partitions: [{pf}]"
    # the non-partition predicates still push into the pruned files' row groups
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "patientId" in m.group(1)
    # and the layout did not change the answer: the partitioned store serves
    # the exact same rows (values, not just counts) as the unpartitioned
    # recast the registry query reads
    flat = observations(spark, SF)
    expected = (
        flat.where(
            (F.col("tenantId") == "t3")
            & (F.col("patientId") == "p13")
            & (F.col("effectiveDateTime") >= F.lit("2024-01-05 00:00:00"))
            & (F.col("effectiveDateTime") <= F.lit("2024-01-25 00:00:00"))
        )
        .orderBy("effectiveDateTime", "obsId")
        .limit(25)
        .select("obsId", "code", "value", "effectiveDateTime")
    )
    got_rows = sorted(tuple(r) for r in served.collect())
    want_rows = sorted(tuple(r) for r in expected.collect())
    assert got_rows == want_rows


def test_q2_partitioned_store_query_prunes_partitions(spark):
    """The REGISTRY query (not just the fixture test above) must plan a
    partition-pruned scan: its store is written partitionBy(tenantId), so the
    tenant predicate has to appear in PartitionFilters and the patient
    predicate has to stay pushed.  This is the exact plan the driver runs."""
    plan = _plan(spark, "q2_partitioned_store")
    assert "PartitionFilters: [" in plan, f"partitioned scan lost PartitionFilters:\n{plan}"
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "tenantId" in pf and "t3" in pf, f"tenant predicate must prune partitions: [{pf}]"
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "patientId" in m.group(1)
    assert "TakeOrderedAndProject" in plan, "limit+order must not plan a global sort"


def test_window_rotation_proposer_emits_a_valid_window():
    """tools/rotate_window.py mechanizes the per-round rotation; its proposal
    must itself satisfy every invariant the live window is held to, so a
    paste of its output can never break the suite."""
    import importlib

    rotate_window = importlib.import_module("tools.rotate_window")
    window, driver_backlog, external_backlog = rotate_window.propose()
    assert len(window) == 50 and len(set(window)) == 50
    assert all(REGISTRY[n].sql is not None for n in window)
    # family probes follow the one-round carry-over policy propose()
    # implements (and the live-window test asserts): a probe is satisfied by
    # an in-window member OR a member hash-green in the latest CORRECTNESS
    # round — only then may it skip consuming a rotating slot.
    import glob as _glob
    import json as _json
    from pathlib import Path as _Path

    repo = _Path(__file__).resolve().parents[1]
    latest, latest_green = 0, set()
    for f in _glob.glob(str(repo / "CORRECTNESS_r*.json")):
        digits = _Path(f).stem.split("_r")[-1]
        if digits.isdigit() and int(digits) >= latest:
            latest = int(digits)
            latest_green = {
                n
                for n, e in _json.load(open(f)).items()
                if e.get("rows_match") and e.get("schema_match")
                and e.get("hash_match") and e.get("err") is None
            }
    for probe in rotate_window.ROTATING_FAMILY_PROBES:
        assert any(
            n.startswith(probe) for n in list(window) + sorted(latest_green)
        ), probe
    for n in rotate_window.PINNED:
        assert n in window
    # the proposal actually advances coverage: while a never-DRIVER-confirmed
    # backlog exists, every rotating slot must go to a first-time name —
    # EXCEPT the family-probe fallbacks, which are forced to re-use a
    # confirmed member when the family has no never-confirmed member left.
    # (A fixed ">= 30 fresh" floor broke as the backlog drained: late in the
    # rotation most probed families are fully confirmed, so fallbacks
    # legitimately occupy more of the 36 rotating slots.)
    from etl_healthcare_spark.plans.registry import DRIVER_WINDOW

    driver_seen = rotate_window.confirmed_names(rotate_window.REPO_ROOT)
    driver_seen |= set(DRIVER_WINDOW)
    fresh_pool = {
        n for n in REGISTRY if n not in driver_seen and REGISTRY[n].sql is not None
    }
    if driver_backlog:
        stale = [n for n in window if n not in rotate_window.PINNED and n in driver_seen]
        for n in stale:
            assert any(
                n.startswith(p) and not any(f.startswith(p) for f in fresh_pool)
                for p in rotate_window.ROTATING_FAMILY_PROBES
            ), f"{n} wastes a rotating slot while {len(driver_backlog)} names lack a driver row"
    # bookkeeping identities (round-8 verdict item 2: report BOTH grades and
    # keep them consistent with the CORRECTNESS_r* artifacts):
    # (a) never-driver-confirmed names are either in the window or the backlog
    assert fresh_pool == {n for n in window if n in fresh_pool} | set(driver_backlog)
    # (b) the external backlog is the driver backlog minus judge-audited names
    judge = rotate_window.JUDGE_AUDITED | rotate_window.judge_audited_r8(
        rotate_window.REPO_ROOT
    )
    assert set(external_backlog) == {n for n in driver_backlog if n not in judge}
    # (c) after the r7+r8 blanket audits, nothing is externally unconfirmed
    assert external_backlog == []


# --- global (unpartitioned) windows -----------------------------------------
# A WindowExec with no partition spec runs in ONE task; it is only legal over
# a frame that aggregation (or an explicit limit) has already collapsed to a
# bounded size — never over a corpus scan (round-7 verdict item 4).  Two
# layers of defense: the static allowlist below forces any NEW unpartitioned
# window through this test, and the plan check proves each allowlisted site's
# window input is aggregate/limit-descended in the optimized logical plan.

GLOBAL_WINDOW_SITES = {
    # file -> queries exercising its unpartitioned window(s)
    "operators/sampling.py": ["sample_interleave_order", "sample_token_shards"],
    "operators/stats.py": ["stat_ks_two_sample", "stat_mann_whitney"],
    "operators/bucketing.py": ["layout_range_bounds"],
    "operators/similarity.py": ["sim_mrl_rerank"],
    # rarity-cap percentile: cumulative window over the gram-df DISTRIBUTION
    # (groupBy("df") aggregate output, |distinct df values| rows), never the
    # corpus — added with the quantile-derived cap (operators/linkage.py)
    "operators/linkage.py": ["j7_fuzzy_match_join"],
}


def test_every_unpartitioned_window_site_is_allowlisted():
    import pathlib
    import subprocess

    root = pathlib.Path(__file__).resolve().parents[1] / "etl_healthcare_spark"
    out = subprocess.run(
        ["grep", "-rln", r"Window\.orderBy", str(root)], capture_output=True, text=True
    ).stdout
    sites = {str(pathlib.Path(p).relative_to(root)) for p in out.split() if p}
    assert sites == set(GLOBAL_WINDOW_SITES), (
        f"unpartitioned Window sites changed: {sites ^ set(GLOBAL_WINDOW_SITES)} — "
        "a global window is a single-task stage; prove its input is bounded "
        "(aggregate- or limit-descended) and extend GLOBAL_WINDOW_SITES"
    )


def _bounded_subtree(node) -> bool:
    """True iff every path from `node` to a leaf passes through a node that
    bounds the row count (Aggregate/Distinct collapse to group cardinality,
    Limit to a constant)."""
    if node.getClass().getSimpleName() in (
        "Aggregate",
        "Distinct",
        "GlobalLimit",
        "LocalLimit",
    ):
        return True
    ch = node.children()
    if ch.size() == 0:
        return False
    return all(_bounded_subtree(ch.apply(i)) for i in range(ch.size()))


def test_global_windows_run_over_bounded_frames_only(spark, monkeypatch):
    # Eager localCheckpoints truncate lineage at an ExistingRDD leaf, hiding
    # any window that runs inside the checkpoint job (round-10: j7's
    # rarity-cap window moved upstream of the gram-df checkpoint, so the
    # FINAL plan no longer contains it).  Build the frames with
    # localCheckpoint as the identity so every window site stays
    # plan-visible; the walk is plan-only, nothing executes.  NB: instances
    # are pyspark.sql.classic.dataframe.DataFrame (Spark 4 connect/classic
    # split), which overrides the pyspark.sql.DataFrame methods — patch the
    # concrete class.
    from pyspark.sql.classic.dataframe import DataFrame

    # *a/**k: stay signature-compatible if a call site ever passes Spark 4's
    # storageLevel parameter (ADVICE r10)
    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, *a, **k: self)
    for queries in GLOBAL_WINDOW_SITES.values():
        for name in queries:
            df = REGISTRY[name].fn(spark, SF)
            plan = df._jdf.queryExecution().optimizedPlan()
            n_global = 0
            stack = [plan]
            while stack:
                node = stack.pop()
                ch = node.children()
                for i in range(ch.size()):
                    stack.append(ch.apply(i))
                if (
                    node.getClass().getSimpleName() == "Window"
                    and node.partitionSpec().size() == 0
                ):
                    n_global += 1
                    kids = node.children()
                    assert all(
                        _bounded_subtree(kids.apply(i)) for i in range(kids.size())
                    ), f"{name}: unpartitioned window over an unbounded frame"
            assert n_global >= 1, f"{name}: expected a global window in the plan"


def test_latest_per_group_is_one_pass_hash_and_sort_free(spark):
    """q3 (the flagship) and g6 must stay a SINGLE HashAggregate: the
    (ts, id) ordering packs into one DECIMAL(38,0) atom, so max(packed) /
    max_by(value, packed) have UnsafeRow-mutable buffers.  The max_by-over-
    struct form silently planned SortAggregate; the two-phase argmax
    join-back measured 1.8–2.3× slower at sf9 (one full corpus shuffle vs
    a tiny partial-aggregate shuffle — SCALE.md §49).  Zero Sort nodes,
    zero SortAggregate, zero joins of any kind."""
    for name in ("q3_latest_observation", "g6_max_by_latest"):
        plan = _plan(spark, name)
        assert "SortAggregate" not in plan, f"{name}: degraded to sort-based agg"
        assert "Sort (" not in plan, f"{name}: a Sort node crept into the plan"
        assert "Join" not in plan, f"{name}: the one-pass packed form needs no join"
        assert "HashAggregate" in plan


def test_fuzzy_match_rare_gram_gate_broadcasts(spark):
    """j7's rarity gate must broadcast: joined by shuffle, both exploded
    gram streams (names × grams rows) are shuffle-written IN FULL before
    the df ≤ cap filter runs — measured as an 11.3× sf3→sf9 wall (2.01×
    after the broadcast + pre-explode repartition, SCALE.md §49).  The
    only full-width shuffles allowed are the gram-df aggregate and the
    surviving-candidate join.

    Round-10: fuzzy_match_join checkpoints the scored-candidate frame (the
    argmin join-back was re-running the whole pipeline 4×), so the registry
    query's final plan no longer contains the gate — the invariant is
    asserted on the UN-checkpointed candidate pipeline via
    _scored_candidates, and the final consumer plan is asserted join-hinted
    and sort-free separately."""
    from contextlib import redirect_stdout

    from etl_healthcare_spark.datasets import load_table
    from etl_healthcare_spark.operators.linkage import _scored_candidates

    cust = load_table(spark, SF, "customer")
    dirty = cust.selectExpr("c_custkey AS did", "c_name AS dname")
    scored = _scored_candidates(
        dirty, cust, "did", "dname", "c_custkey", "c_name",
        max_dist=2, q=4, max_gram_df=32, rare_df_pct=10,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        scored.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("BroadcastHashJoin") >= 2, "rare-gram gate must broadcast"
    assert "SortMergeJoin" not in plan
    # the post-checkpoint consumer plan: one hinted shuffled-hash join-back,
    # no sort-merge, no re-derived parquet scans
    final = _plan(spark, "j7_fuzzy_match_join")
    assert "SortMergeJoin" not in final
    assert "Scan parquet" not in final, "candidate pipeline must run once (checkpoint)"


def test_weighted_median_crossing_pick_is_hash(spark):
    """g25's crossing-bin pick must stay scalar min/min_by (fixed-width
    buffers → HashAggregate); the min_by(struct, bin) form planned
    SortAggregate.  The only remaining sorts are the bin-level windows over
    the histogram (bins-per-group rows, never the corpus)."""
    plan = _plan(spark, "g25_weighted_median")
    assert "SortAggregate" not in plan, "crossing pick degraded to sort-based agg"
    assert "HashAggregate" in plan


def test_profile_table_never_sorts(spark):
    """profile_table's single wide aggregate used to plan SortAggregate over
    a Sort of the k×-expanded corpus (string min/max buffers + Expand
    grouping keys).  After the two-branch split the plan may keep a
    SortAggregate NODE — the global string-min/max fold, which with no
    grouping keys requires no child ordering and inserts no sort — but must
    contain zero Sort operators, and the distinct/counts branch must hash."""
    plan = _plan(spark, "profile_table")
    assert "Sort (" not in plan, "profile aggregate sorts the (expanded) corpus"
    assert "HashAggregate" in plan


def test_minhash_signature_agg_is_hash_based(spark):
    """The signature groupBy(doc) must plan as HashAggregate, never
    SortAggregate: min(string) buffers are not UnsafeRow-mutable, so the
    hex-string form silently sorted the WHOLE exploded shingle stream
    (n x 16-slice rows through the sorter, n log n + spill) — measured 4.7x
    wall at 3x data on the sf3->sf9 probe before the long-slice rewrite
    (SCALE.md §48).  Every minhash consumer (lsh/scored/containment, CC
    clusters, pagerank, survivorship, cluster weights) rides this plan."""
    plan = _plan(spark, "dedup_minhash_lsh")
    assert "SortAggregate" not in plan, "signature agg degraded to sort-based"
    assert "HashAggregate" in plan
