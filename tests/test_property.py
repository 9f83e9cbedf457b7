"""Property-based tests (hypothesis) — the randomized layer SURVEY §5 adds on
top of the reference's three literal unit tests.

Each property runs one Spark job over a generated batch (not one job per
example): hypothesis drives the data generation, Spark evaluates the whole
batch, and the property is asserted row-by-row against a pure-Python model.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_healthcare_spark.functions.hl7 import hl7_ts_to_timestamp
from etl_healthcare_spark.operators.pagination import keyset_page, next_token_from_rows
from etl_healthcare_spark.operators.validate import dto_rules, tag_rejects

# ---------------------------------------------------------------------------
# HL7 TS parsing vs a pure-Python model of v2.ts:23-31
# ---------------------------------------------------------------------------


def _py_hl7_ts_micros(s: str) -> int | None:
    # Model returns epoch MICROS, not datetime: the comparison stays JVM-side
    # (unix_micros) because pyspark's collect() of a timestamp column goes
    # through datetime.fromtimestamp, which overflows for years <= 1 even in
    # UTC — an artifact of the Python conversion, not of the engine.
    import re

    m = re.match(r"^(\d{4,14})", s)
    if not m:
        return None
    d = m.group(1)
    y = int(d[0:4])
    mo = int(d[4:6]) if len(d) >= 6 else 1
    day = int(d[6:8]) if len(d) >= 8 else 1
    hh = int(d[8:10]) if len(d) >= 10 else 0
    mi = int(d[10:12]) if len(d) >= 12 else 0
    ss = int(d[12:14]) if len(d) >= 14 else 0
    try:
        parsed = dt.datetime(y, mo, day, hh, mi, ss)
    except ValueError:
        return None  # e.g. month 13 — engine's try_to_timestamp also nulls
    return (parsed - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


ts_strings = st.one_of(
    st.from_regex(r"[0-9]{4,14}", fullmatch=True),
    st.from_regex(r"[0-9]{0,3}", fullmatch=True),  # too short -> NULL
    st.from_regex(r"[0-9]{8}\.[0-9]{4}", fullmatch=True),  # fractional tail ignored
    st.text(alphabet="0123456789ab-", max_size=16),
)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(ts_strings, min_size=1, max_size=40))
def test_hl7_ts_matches_python_model(spark, samples):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i long, ts string")
    got = {
        r.i: r.parsed
        for r in df.select(
            "i", F.unix_micros(hl7_ts_to_timestamp(F.col("ts"))).alias("parsed")
        ).collect()
    }
    for i, s in enumerate(samples):
        assert got[i] == _py_hl7_ts_micros(s), (
            f"ts={s!r}: engine={got[i]} model={_py_hl7_ts_micros(s)}"
        )


# ---------------------------------------------------------------------------
# Keyset pagination: full traversal visits every row exactly once, in order
# (ascending, NULLS FIRST — a NULL in the token must resume, not stop)
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=50)),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=120,
        unique=True,
    ),
    st.integers(min_value=1, max_value=25),
)
@example(rows=[(None, 1), (None, 2), (1, 3), (2, 4)], page_size=2)
def test_keyset_pagination_total_traversal(spark, rows, page_size):
    df = spark.createDataFrame(rows, "k long, id long")
    seen: list[tuple[int, int]] = []
    token = None
    for _ in range(len(rows) // page_size + 2):
        page = keyset_page(df, ["k", "id"], page_size, token).collect()
        if not page:
            break
        seen.extend((r.k, r.id) for r in page)
        token = next_token_from_rows(page, ["k", "id"], page_size)
        if token is None:
            break
    want = sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0, r[1]))
    assert seen == want, "keyset traversal must be exactly the sorted input, no dup/skip"


# ---------------------------------------------------------------------------
# Validation split: reject reason == first failing rule of the Python model
# ---------------------------------------------------------------------------

dto_strat = st.tuples(
    st.one_of(st.none(), st.text(max_size=5)),  # patientId
    st.one_of(st.none(), st.text(max_size=5)),  # code
    st.one_of(st.none(), st.floats(allow_nan=True, allow_infinity=False)),  # value
    st.one_of(st.none(), st.text(max_size=3)),  # unit
    st.booleans(),  # has timestamp
    st.one_of(st.none(), st.text(min_size=0, max_size=12)),  # ingestHash
)


def _py_first_reject(p, c, v, u, has_ts, h) -> str | None:
    if not (p is not None and len(p) > 0):
        return "patientId_empty"
    if not (c is not None and len(c) > 0):
        return "code_empty"
    if not (v is not None and v == v):
        return "value_not_finite"
    if not (u is not None and len(u) > 0):
        return "unit_empty"
    if not has_ts:
        return "effectiveDateTime_invalid"
    return None if (h is not None and len(h) >= 10) else "ingestHash_short"


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(dto_strat, min_size=1, max_size=40))
def test_validation_first_failing_rule(spark, dtos):
    rows = [
        (i, p, c, v, u, dt.datetime(2025, 1, 1) if has_ts else None, "src", h)
        for i, (p, c, v, u, has_ts, h) in enumerate(dtos)
    ]
    df = spark.createDataFrame(
        rows,
        "i long, patientId string, code string, value double, unit string,"
        "effectiveDateTime timestamp, sourceSystem string, ingestHash string",
    )
    tagged = {r.i: r._reject_reason for r in tag_rejects(df, dto_rules()).collect()}
    for i, (p, c, v, u, has_ts, h) in enumerate(dtos):
        assert tagged[i] == _py_first_reject(p, c, v, u, has_ts, h), f"row {i}"


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.binary(min_size=0, max_size=128))
def test_parse_media_header_never_raises_on_arbitrary_bytes(payload):
    """Fuzz: the header parser must degrade to 'unknown' (or parse), never
    raise — it runs inside executor tasks where an exception fails the job."""
    from etl_healthcare_spark.operators.multimodal import parse_media_header

    kind, w, h, sr, ch, bits = parse_media_header(payload)
    assert isinstance(kind, str)
    for v in (w, h, sr, ch, bits):
        assert v is None or isinstance(v, int)


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.binary(min_size=0, max_size=64),
    st.sampled_from([b"\x89PNG\r\n\x1a\n", b"BM", b"GIF89a", b"RIFF", b"\xff\xd8"]),
)
def test_parse_media_header_never_raises_on_truncated_magic(tail, magic):
    """Fuzz the hard case: a valid magic followed by arbitrary bytes — every
    length-check branch in the parser gets exercised."""
    from etl_healthcare_spark.operators.multimodal import parse_media_header

    parse_media_header(magic + tail)  # must not raise


# ---------------------------------------------------------------------------
# Morton key vs a pure-Python bit-interleave model (batch evaluation)
# ---------------------------------------------------------------------------


def _py_morton(x: int, y: int, bits: int = 10) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 1023), st.integers(0, 1023)), min_size=1, max_size=80
    )
)
def test_morton_matches_python_model(spark, pairs):
    from etl_healthcare_spark.operators.bucketing import morton_key

    df = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(pairs)], ["i", "x", "y"])
    got = {
        r.i: r.z
        for r in df.select("i", morton_key(F.col("x"), F.col("y"), bits=10).alias("z")).collect()
    }
    for i, (x, y) in enumerate(pairs):
        assert got[i] == _py_morton(x, y)


# ---------------------------------------------------------------------------
# EWMA: engine fold vs a pure-Python dyadic model
# ---------------------------------------------------------------------------


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    values=st.lists(
        st.decimals(min_value="0.01", max_value="9999.99", places=2), min_size=1, max_size=40
    )
)
def test_ewma_matches_python_model(spark, values):
    from etl_healthcare_spark.operators.anomaly import ewma_latest

    k = 16
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, "g", t0 + dt.timedelta(minutes=i), float(v)) for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, ["event_id", "key", "ts", "value"])
    got = ewma_latest(df, "key", "ts", "value", "event_id", k=k).collect()[0]
    cents = [int(v * 100) for v in values][::-1][:k]  # newest first
    scaled = sum(c << (k - 1 - j) for j, c in enumerate(cents))
    assert got.ewma_cents == scaled / float(1 << k)
    assert got.n_used == min(len(values), k)


# ---------------------------------------------------------------------------
# HLL: estimate is scale-free and within the theoretical envelope
# ---------------------------------------------------------------------------


@settings(max_examples=3, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(n=st.integers(min_value=1000, max_value=8000), seed=st.integers(0, 2**16))
def test_hll_error_envelope(spark, n, seed):
    from etl_healthcare_spark.operators.sketch import hll_distinct

    df = spark.range(n).select(
        F.lit("g").alias("grp"),
        F.concat(F.lit(f"s{seed}:"), F.col("id").cast("string")).alias("item"),
    )
    est = hll_distinct(df, "grp", "item").collect()[0].hll_estimate
    assert abs(est - n) / n < 0.30  # ~4.6 sigma at m=256


def test_cc_star_path_graph_logarithmic_rounds(spark):
    """Chain-shaped graphs are min-label's worst case (rounds = diameter);
    the large-star/small-star fallback must label a 256-node path in
    O(log n) rounds — and produce the same (node, component-min) labels."""
    import math

    from etl_healthcare_spark.operators.dedup import connected_components_star

    n = 256
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    labels, rounds = connected_components_star(pairs, return_rounds=True)
    got = {r.node: r.cluster_id for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}, "every path node joins the min-rooted component"
    assert rounds <= 2 * int(math.log2(n)) + 4, f"{rounds} rounds is not O(log n) on a path"


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=30), st.integers(min_value=0, max_value=30)),
        min_size=1,
        max_size=40,
    )
)
def test_cc_star_matches_minlabel_on_random_graphs(spark, edges):
    """The two CC methods are interchangeable: identical labels on arbitrary
    small graphs (self-loops and duplicate edges included)."""
    from etl_healthcare_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {r.node: r.cluster_id for r in connected_components_star(pairs).collect()}
    minl = {r.node: r.cluster_id for r in connected_components(pairs, max_iter=100).collect()}
    assert star == minl


# ---------------------------------------------------------------------------
# bucket_pairs: the one in-bucket pair expansion vs itertools.combinations
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.lists(st.integers(-50, 50), max_size=10, unique=True).map(sorted),
        max_size=12,
    )
)
def test_bucket_pairs_equals_combinations(spark, buckets):
    """Every row's ds[i] < ds[j] pairs, i < j, each carrying the row's other
    column, and nothing else: a 0- or 1-member bucket gives no pair, a
    2-member bucket one, an n-member bucket n(n-1)/2."""
    from collections import Counter
    from itertools import combinations

    from etl_healthcare_spark.operators.dedup import bucket_pairs

    rows = list(enumerate([[], [7], [3, 9]] + buckets))
    df = spark.createDataFrame(rows, "w long, ds array<long>")
    out = bucket_pairs(df, "a", "b")
    assert out.columns == ["w", "a", "b"]
    got = Counter(tuple(r) for r in out.collect())
    want = Counter((w, a, b) for w, ds in rows for a, b in combinations(ds, 2))
    assert got == want


# ---------------------------------------------------------------------------
# doc_shingles: the one per-document shingle set vs a Python tokenizer
# ---------------------------------------------------------------------------


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.one_of(
            st.none(),
            st.lists(st.sampled_from(["a", "B", "c1", "x-y", "!!", " ", "."]), max_size=12).map("".join),
            st.lists(st.sampled_from(["a", "b"]), max_size=8).map(" ".join),
        ),
        max_size=8,
    ),
    k=st.integers(1, 4),
)
def test_doc_shingles_equals_python_shingle_set(spark, texts, k):
    """One row per distinct k-token shingle of each doc, the carried column
    on every row; a NULL, empty or shorter-than-k text gives no rows, and a
    repeated shingle one."""
    import re

    from etl_healthcare_spark.operators.dedup import doc_shingles

    rows = [(i, f"g{i % 3}", t) for i, t in enumerate([None, "", "one two", "a b a b a b"] + texts)]
    df = spark.createDataFrame(rows, "id long, grp string, text string")
    out = doc_shingles(df, "text", "id", k, "grp")
    assert out.columns == ["id", "grp", "s"]
    got = sorted(tuple(r) for r in out.collect())

    def shingles(text):
        toks = re.findall("[a-z0-9]+", (text or "").lower())
        return {" ".join(toks[j:j + k]) for j in range(len(toks) - k + 1)}

    assert got == sorted((i, g, s) for i, g, t in rows for s in shingles(t))


# --- round-3 analytics properties -------------------------------------------


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=0, max_size=40
    )
)
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-oriented wedge closing == brute-force triple enumeration on
    arbitrary small graphs (self-loops and duplicate/reversed edges allowed
    in the input)."""
    from etl_healthcare_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(edges or [(0, 0)], "a: long, b: long")
    got = {r["node"]: r["tri_count"] for r in triangle_counts(df).collect()}
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in es for n in e})
    want = {}
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            for w in nodes[nodes.index(v) + 1:]:
                if {(u, v), (u, w), (v, w)} <= es:
                    for n in (u, v, w):
                        want[n] = want.get(n, 0) + 1
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    iv=st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 60)), min_size=0, max_size=25
    )
)
def test_interval_overlap_matches_bruteforce(spark, iv):
    from etl_healthcare_spark.operators.intervals import interval_overlap_pairs

    rows = [(i, s, s + d) for i, (s, d) in enumerate(iv)]
    df = spark.createDataFrame(rows or [(0, 0, 0)], "id: long, start_day: long, end_day: long")
    got = {(r["id_a"], r["id_b"]): r["overlap_days"]
           for r in interval_overlap_pairs(df, cell_days=16).collect()}
    want = {}
    for a, sa, ea in rows:
        for b, sb, eb in rows:
            if a < b and sa <= eb and sb <= ea:
                want[(a, b)] = min(ea, eb) - max(sa, sb) + 1
    assert got == want


def _bpe_reference(words: dict[str, int], rounds: int):
    """Plain-Python BPE: overlapping pair counting, (count desc, pair asc)
    tiebreak, greedy left-to-right merge."""
    state = {w: [c for c in w] for w in words}
    merges = []
    for _ in range(rounds):
        counts = {}
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get((syms[i], syms[i + 1]), 0) + words[w]
        if not counts:
            break
        top = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = top
        merges.append((a, b, cnt))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    return merges


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words=st.lists(
        st.tuples(st.text(alphabet="abc", min_size=1, max_size=8), st.integers(1, 5)),
        min_size=1,
        max_size=10,
    )
)
def test_bpe_train_matches_python_reference(spark, words):
    """The relational greedy merge (windows + run parity) == a sequential
    Python BPE on arbitrary small corpora — including all-same-letter words
    where the self-pair parity logic is the whole game."""
    from etl_healthcare_spark.operators.textops import bpe_train

    freq = {}
    for w, f in words:
        freq[w] = freq.get(w, 0) + f
    text = " ".join(w for w, f in freq.items() for _ in range(f))
    df = spark.createDataFrame([(1, text)], "doc_id: long, text: string")
    got = [(r["a"], r["b"], r["cnt"]) for r in bpe_train(df, "text", rounds=3).orderBy("round").collect()]
    want = _bpe_reference(freq, 3)
    assert got == want


# ---------------------------------------------------------------------------
# RAG chunk windows vs a pure-Python tiling model
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=25),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
)
def test_chunk_windows_tile_every_token_exactly_per_model(spark, n_tokens_list, window, stride):
    """Chunk starts tile at the stride, sizes follow min(window, n - start),
    chunk hashes equal the model's sha256 of the space-joined slice, and —
    when stride <= window (overlap mode) — every token is covered by >= 1
    chunk (stride > window is legal gap-sampling and leaves holes by
    design)."""
    import hashlib

    from etl_healthcare_spark.operators.textops import chunk_windows

    docs = [(i, " ".join(f"t{i}x{j}" for j in range(n))) for i, n in enumerate(n_tokens_list)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = chunk_windows(df, "text", "doc_id", window=window, stride=stride).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(n_tokens_list):
        rows = sorted(by_doc.get(i, []), key=lambda r: r.chunk_idx)
        if n == 0:
            assert rows == []
            continue
        starts = list(range(0, n, stride))
        assert [r.start_tok for r in rows] == starts
        assert [r.n_tok for r in rows] == [min(window, n - s) for s in starts]
        covered = set()
        toks = [f"t{i}x{j}" for j in range(n)]
        for r in rows:
            covered.update(range(r.start_tok, r.start_tok + r.n_tok))
            expect = hashlib.sha256(
                " ".join(toks[r.start_tok : r.start_tok + window]).encode()
            ).hexdigest()
            assert r.chunk_hash == expect
        if stride <= window:
            assert covered == set(range(n))


# ---------------------------------------------------------------------------
# debounce vs a pure-Python model (round-4 opsdiag batch)
# ---------------------------------------------------------------------------


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),  # user
            st.integers(min_value=0, max_value=600),  # seconds offset
        ),
        min_size=1,
        max_size=50,
    )
)
def test_debounce_matches_python_model(spark, evs):
    from etl_healthcare_spark.plans.registry import REGISTRY

    base = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = [
        (i, base + dt.timedelta(seconds=off), u, "e", 1.0)
        for i, (u, off) in enumerate(evs)
    ]
    import tempfile

    d = tempfile.mkdtemp(prefix="deb_prop_")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    [out] = REGISTRY["ts_event_debounce"].fn(spark, d).collect()
    # python model: per user sorted offsets; keep first or gap > 60s from
    # the previous EVENT (kept or not)
    kept = total = 0
    by_user: dict[int, list[int]] = {}
    for u, off in evs:
        by_user.setdefault(u, []).append(off)
    for offs in by_user.values():
        offs.sort()
        prev = None
        for o in offs:
            total += 1
            if prev is None or o - prev > 60:
                kept += 1
            prev = o
    assert (out.n_total, out.n_kept) == (total, kept)
    assert out.kept_share_ppm == kept * 10**6 // total


# ---------------------------------------------------------------------------
# compaction first-fit vs a pure-Python model (round-4 maint batch)
# ---------------------------------------------------------------------------


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),  # file id
            st.integers(min_value=1, max_value=4000),  # rows in file
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
def test_compaction_plan_matches_python_model(spark, files):
    from etl_healthcare_spark.plans.registry import REGISTRY

    day = dt.date(2024, 3, 10)
    rows = []
    for fid, n in files:
        rows += [(fid + 16 * i, day) for i in range(n)]
    import tempfile

    d = tempfile.mkdtemp(prefix="cpk_prop_")
    spark.createDataFrame(rows, "l_orderkey long, l_shipdate date").write.mode(
        "overwrite"
    ).parquet(f"{d}/lineitem.parquet")
    out = {r.file_id: r for r in REGISTRY["maint_compaction_plan"].fn(spark, d).collect()}
    # model: sizes desc (ties by file id asc), running-sum-before div target
    sized = sorted(((n * 100, fid) for fid, n in files), key=lambda t: (-t[0], t[1]))
    cum = 0
    groups: dict[int, list[int]] = {}
    for size, fid in sized:
        g = cum // 256_000
        groups.setdefault(g, []).append(fid)
        assert out[fid].out_group == g
        assert out[fid].size_bytes == size
        cum += size
    for g, members in groups.items():
        for fid in members:
            assert out[fid].group_files == len(members)
            assert out[fid].action == ("compact" if len(members) > 1 else "keep")
