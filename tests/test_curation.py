"""Training-data curation operators: connected components finds whole
clusters (including multi-hop chains), hash sampling is deterministic and
rule-exact, rare-token quality is integer-exact, int8 quantization respects
range bounds."""

import importlib
import random
import threading

import pytest
from pyspark.sql import functions as F

from etl_healthcare_spark.operators.dedup import connected_components, connected_components_star
from etl_healthcare_spark.operators.quantize import int8_quantize
from etl_healthcare_spark.operators.sampling import (
    hash_fraction_hex,
    hash_split,
    sample_bucket,
    stratified_sample,
)
from etl_healthcare_spark.operators.textops import rare_token_ratio

def _within(seconds, fn):
    """fn() on a daemon thread: an Observation that never reports blocks its
    ``get`` forever, so a hang must fail the test instead of stalling it."""
    out = {}

    def run():
        try:
            out["value"] = fn()
        except Exception as e:  # re-raised on the test's thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"did not return within {seconds}s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds) + island 7-8
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], ["doc_a", "doc_b"]
    )
    got = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def _labels(df):
    return {r.node: r.cluster_id for r in df.collect()}


def test_connected_components_empty_pairs(spark):
    """No pairs: the seed's and the first round's sum(lbl) are both NULL, so
    the loop exits at once with no rows."""
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    got = _labels(_within(300, lambda: connected_components(pairs)))
    assert got == {} == _labels(connected_components_star(pairs))


def test_connected_components_multi_round_chain(spark):
    """A 12-node chain with its ids shuffled needs several propagation
    rounds past the one-hop seed; labels equal the star method's."""
    order = [7, 3, 11, 0, 9, 5, 1, 10, 4, 8, 2, 6]
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in zip(order, order[1:])] + [(20, 21)],
        "doc_a long, doc_b long",
    )
    got = _labels(connected_components(pairs))
    assert got == _labels(connected_components_star(pairs))
    assert got == {**{i: 0 for i in range(12)}, 20: 20, 21: 20}


def _token_array_shingles(toks, k):
    """The token-array shingle form the engine used before word_shingles:
    join each run of k tokens, indexed out of a materialised token array.
    Kept as the reference; below k tokens it indexes past the array."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    return F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]))


def test_word_shingles_match_token_shingles(spark):
    """The one-regex shingles equal the token-array shingles, in order and
    with repeats, and are empty below k tokens (where the token-array form
    indexes past the array)."""
    from etl_healthcare_spark.functions.text import tokens, word_shingles

    texts = ["The quick, brown fox -- jumps over the lazy dog; the quick brown fox!",
             "  a1 b2\tc3\nd4  a1 b2 c3 ", "ÉtÉ naïve café x9 y8 z7", "two words", "", None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    for k in (2, 3, 4, 5):
        got = df.select("id", tokens(F.col("text")).alias("t"), word_shingles(F.col("text"), k).alias("s"))
        for r in got.collect():
            if r.t is None:
                assert r.s is None
            elif len(r.t) < k:
                assert r.s == [], (k, texts[r.id])
            else:
                want = spark.range(1).select(_token_array_shingles(F.lit(r.t), k)).first()[0]
                assert r.s == want, (k, texts[r.id])


def test_stratified_sample_deterministic_and_rule_exact(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(200)], ["doc_id", "lang"]
    )
    rates = {"en": 0.5}
    a = stratified_sample(docs, "doc_id", "lang", rates, 0.1, "s").collect()
    b = stratified_sample(docs, "doc_id", "lang", rates, 0.1, "s").collect()
    assert sorted(r.doc_id for r in a) == sorted(r.doc_id for r in b)
    # every kept row individually satisfies the bucket < threshold rule
    kept = docs.withColumn("bucket", sample_bucket(F.col("doc_id"), "s")).collect()
    expect = {
        r.doc_id
        for r in kept
        if r.bucket < (hash_fraction_hex(0.5) if r.lang == "en" else hash_fraction_hex(0.1))
    }
    assert {r.doc_id for r in a} == expect


def test_hash_split_partitions_everything_stably(spark):
    docs = spark.createDataFrame([(i,) for i in range(300)], ["doc_id"])
    out = hash_split(docs, "doc_id", "salt", train=0.8, val=0.1).collect()
    assert len(out) == 300
    by_split = {}
    for r in out:
        by_split.setdefault(r.split, set()).add(r.doc_id)
    assert set(by_split) == {"train", "val", "test"}
    # growing the corpus never reassigns an existing doc
    bigger = hash_split(
        spark.createDataFrame([(i,) for i in range(600)], ["doc_id"]), "doc_id", "salt",
        train=0.8, val=0.1,
    ).collect()
    small = {r.doc_id: r.split for r in out}
    assert all(small[r.doc_id] == r.split for r in bigger if r.doc_id in small)


def test_rare_token_ratio_counts(spark):
    docs = spark.createDataFrame(
        [
            (1, "common common rareword"),   # rareword df=1 <= 2 -> 1/3 rare
            (2, "common common common"),     # 0/3 rare... but common df=3 > 2
            (3, "common unique1 unique2 unique3"),  # 3/4 rare
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in rare_token_ratio(docs, "text", "doc_id").collect()}
    assert (got[1].n_tokens, got[1].n_rare, got[1].rare_ppm) == (3, 1, 333333)
    assert (got[2].n_tokens, got[2].n_rare, got[2].rare_ppm) == (3, 0, 0)
    assert (got[3].n_tokens, got[3].n_rare, got[3].rare_ppm) == (4, 3, 750000)


def test_int8_quantize_bounds_and_extremes(spark):
    vecs = spark.createDataFrame(
        [(1, [0.0, 10.0]), (2, [5.0, 20.0]), (3, [10.0, 20.0]), (4, [2.5, 5.0])],
        ["vec_id", "embedding"],
    )
    got = {r.vec_id: r for r in int8_quantize(vecs, "embedding", "vec_id").collect()}
    codes = {k: [int(x) for x in v.code.split(",")] for k, v in got.items()}
    assert all(v.n_dims == 2 for v in got.values())
    assert all(0 <= q <= 255 for qs in codes.values() for q in qs)
    # corpus min maps to 0, corpus max to 255, in each dimension
    assert codes[1][0] == 0 and codes[3][0] == 255   # dim0: min 0.0, max 10.0
    assert codes[4][1] == 0 and codes[2][1] == 255   # dim1: min 5.0, max 20.0
    assert codes[2][0] == 127                        # 5.0 -> floor(5*25.5) = 127


def test_dedup_keep_list_marks_cluster_keepers(spark):
    from etl_healthcare_spark.operators.dedup import dedup_keep_list

    docs = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    clusters = spark.createDataFrame(
        [(2, 2), (3, 2), (5, 5), (6, 5)], ["node", "cluster_id"]
    )
    got = {r.doc_id: r for r in dedup_keep_list(docs, "doc_id", clusters).collect()}
    assert {k: v.kept for k, v in got.items()} == {
        1: True, 2: True, 3: False, 4: True, 5: True, 6: False,
    }
    assert got[3].cluster_id == 2 and got[6].cluster_id == 5
    assert got[1].cluster_id == 1  # singleton keeps its own id


def test_ngram_contamination_counts_eval_overlap(spark):
    from etl_healthcare_spark.operators.dedup import ngram_contamination

    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            # contains eval 5-gram "alpha beta gamma delta epsilon" (+1 clean)
            (1, "alpha beta gamma delta epsilon other words here now"),
            (2, "totally clean document with no benchmark overlap at all"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in ngram_contamination(corpus, eval_df, "text", "doc_id", k=5).collect()}
    assert got[1].n_shingles == 5 and got[1].n_hits == 1
    assert got[1].contam_ppm == 200000
    assert got[2].n_hits == 0 and got[2].contam_ppm == 0


def test_pack_sequences_bins_by_cumulative_budget(spark):
    from etl_healthcare_spark.operators.textops import pack_sequences

    # 4 docs x 3 tokens in one lang, budget 5: cum_before 0,3,6,9 -> bins 0,0,1,1
    docs = spark.createDataFrame(
        [(i, "tok tok tok", "en") for i in range(1, 5)], ["doc_id", "text", "lang"]
    )
    got = {r.doc_id: r.seq_bin for r in pack_sequences(docs, "text", "doc_id", "lang", budget=5).collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 1}


def test_normalize_text_collapses_and_flags(spark):
    from etl_healthcare_spark.operators.textops import normalize_text

    docs = spark.createDataFrame(
        [(1, "a\x01b   c\t\nd "), (2, "already clean")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in normalize_text(docs, "text", "doc_id").collect()}
    assert got[1].changed and got[1].clean_chars == len("a b c d")
    assert not got[2].changed and got[2].clean_chars == got[2].n_chars


def test_corpus_stats_counts_dups_and_vocab(spark):
    from etl_healthcare_spark.operators.textops import corpus_stats

    docs = spark.createDataFrame(
        [
            (1, "alpha beta", "en", "s1"),
            (2, "alpha beta", "en", "s2"),   # exact dup of 1
            (3, "alpha gamma", "en", "s1"),
            (4, "delta", "de", "s1"),
        ],
        ["doc_id", "text", "lang", "source"],
    )
    got = {r.lang: r for r in corpus_stats(docs, "text", "doc_id").collect()}
    en, de = got["en"], got["de"]
    assert (en.n_docs, en.total_tokens, en.n_sources, en.n_dup_docs, en.vocab_size) == (3, 6, 2, 1, 3)
    assert (de.n_docs, de.n_dup_docs, de.vocab_size) == (1, 0, 1)


def test_minhash_scored_pairs_score_planted_dup_highest(spark):
    from etl_healthcare_spark.operators.dedup import minhash_scored_pairs

    base = "the quick brown fox jumps over the lazy dog and then runs far away home"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base.replace("lazy", "sleepy")),
         (4, "completely different content about spark shuffles and parquet row groups entirely")],
        ["doc_id", "text"],
    )
    rows = {(r.doc_a, r.doc_b): r for r in minhash_scored_pairs(docs, "text", "doc_id").collect()}
    assert (1, 2) in rows
    exact = rows[(1, 2)]
    assert exact.n_match == 16 and exact.est_jaccard_ppm == 1000000
    for r in rows.values():
        assert 0 <= r.n_match <= 16


def test_l2_normalize_unit_vectors(spark):
    from etl_healthcare_spark.operators.quantize import l2_normalize

    vecs = spark.createDataFrame([(1, [3.0, 4.0]), (2, [0.0, 2.0])], ["vec_id", "embedding"])
    got = {r.vec_id: r for r in l2_normalize(vecs, "embedding", "vec_id").collect()}
    assert [int(x) for x in got[1].unit_ppm_code.split(",")] == [600000, 800000]
    assert [int(x) for x in got[2].unit_ppm_code.split(",")] == [0, 1000000]


def test_repetition_stats_flags_repetitive_doc(spark):
    from etl_healthcare_spark.operators.textops import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),           # one bigram repeated
            (2, "one two three four five six seven eight"), # no repetition
            (3, "ab"),                                      # < 2 tokens: all zeros
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in repetition_stats(docs, "text", "doc_id").collect()}
    # doc 1: 4 trigrams all identical -> 3 dup; 5 bigrams all identical
    assert got[1].n_trigrams == 4 and got[1].n_dup_tri == 3
    assert got[1].dup3_ppm == (1000000 * 3) // 4
    assert got[1].top_bigram_n == 5 and got[1].top2_ppm == 1000000
    assert got[2].n_dup_tri == 0 and got[2].top_bigram_n == 1
    assert got[3].n_trigrams == 0 and got[3].n_bigrams == 0 and got[3].top2_ppm == 0


def test_span_overlap_finds_shared_spans(spark):
    from etl_healthcare_spark.operators.textops import span_overlap

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, shared + " zeta eta theta iota kappa"),
            (2, shared + " lambda mu nu xi omicron"),
            (3, "pi rho sigma tau upsilon phi chi psi"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in span_overlap(docs, "text", "doc_id", k=5).collect()}
    # docs 1 and 2 share exactly the one leading 5-gram; doc 3 shares nothing
    assert got[1].n_shared == 1 and got[2].n_shared == 1
    assert got[3].n_shared == 0 and got[3].shared_ppm == 0
    assert got[1].shared_ppm == 1000000 // got[1].n_spans


def test_quality_gate_first_failing_rule_order(spark):
    from etl_healthcare_spark.operators.textops import quality_gate

    ok = " ".join(["word"] * 30)
    docs = spark.createDataFrame(
        [
            (1, ok),                              # kept
            (2, "too short"),                     # too_short fires first
            (3, " ".join(["x"] * 30)),            # mean word len 1 < 2
            (4, " ".join(["....!!"] * 30)),       # n_tokens ok, alnum 0 -> mean_word_len
            (5, " ".join(["a1234567890123"] * 30)),  # mean len 14 > 12
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.reject_reason for r in quality_gate(docs, "text", "doc_id").collect()}
    assert got[1] is None
    assert got[2] == "too_short"
    assert got[3] == "mean_word_len"
    assert got[4] == "mean_word_len"
    assert got[5] == "mean_word_len"
    kept = {r.doc_id: r.kept for r in quality_gate(docs, "text", "doc_id").collect()}
    assert kept == {1: True, 2: False, 3: False, 4: False, 5: False}


def test_quality_gate_kept_is_quality_reason_null(spark, corpus_dir):
    """The gate's kept flag and the funnel's predicate are one definition:
    row by row, kept == quality_reason(text) IS NULL."""
    from etl_healthcare_spark.operators.textops import quality_gate, quality_reason

    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    gate = quality_gate(docs, "text", "doc_id").select("doc_id", "kept", "reject_reason")
    pred = docs.select("doc_id", quality_reason(F.col("text")).isNull().alias("kept"))
    rows = gate.collect()
    assert sorted((r.doc_id, r.kept) for r in rows) == sorted(map(tuple, pred.collect()))
    assert {r.reject_reason for r in rows} == {None, "too_short", "mean_word_len", "low_alpha"}


def test_source_cap_keeps_small_sources_whole(spark):
    from etl_healthcare_spark.operators.sampling import source_cap

    rows = [(i, "big") for i in range(200)] + [(1000 + i, "small") for i in range(5)]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    out = source_cap(docs, "doc_id", "source", cap=10, salt="s").collect()
    assert len(out) == 205, "source_cap labels, never drops rows"
    small_kept = [r.kept for r in out if r.source == "small"]
    assert all(small_kept), "under-cap source must be kept whole"
    big_kept = sum(r.kept for r in out if r.source == "big")
    # rate = 10/200 = 5%; hash sampling is exact-in-expectation, loose bounds
    assert 0 < big_kept < 60
    # deterministic across invocations
    again = source_cap(docs, "doc_id", "source", cap=10, salt="s").collect()
    assert {(r.doc_id, r.kept) for r in again} == {(r.doc_id, r.kept) for r in out}


def test_temperature_sample_geometric_mean_mixture(spark):
    from etl_healthcare_spark.operators.sampling import temperature_sample

    # 400 "en" vs 25 "fr": T=2 keeps fr whole and en at sqrt(25/400) = 25%
    rows = [(i, "en") for i in range(400)] + [(1000 + i, "fr") for i in range(25)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = temperature_sample(docs, "doc_id", "lang", salt="s").collect()
    assert len(out) == 425, "temperature_sample labels, never drops rows"
    assert all(r.kept for r in out if r.lang == "fr"), "smallest group kept whole"
    en_kept = sum(r.kept for r in out if r.lang == "en")
    # expected kept = sqrt(25*400) = 100; hash sampling exact-in-expectation
    assert 60 < en_kept < 140
    again = temperature_sample(docs, "doc_id", "lang", salt="s").collect()
    assert {(r.doc_id, r.kept) for r in again} == {(r.doc_id, r.kept) for r in out}


def test_curation_e2e_funnel_is_monotone(spark):
    from etl_healthcare_spark.plans.registry import REGISTRY

    rows = sorted(
        REGISTRY["curation_e2e"].fn(spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r.stage_ord,
    )
    assert [r.stage for r in rows] == [
        "raw", "eval_holdout", "quality", "exact_dedup", "near_dedup", "decontam",
    ]
    counts = [r.n_docs for r in rows]
    assert all(a >= b for a, b in zip(counts, counts[1:])), "each stage only removes docs"
    assert counts[0] > counts[-1] > 0, "the funnel must actually filter and keep something"


def _funnel(spark, sf_dir):
    from etl_healthcare_spark.plans.registry import REGISTRY

    return sorted(tuple(r) for r in REGISTRY["curation_e2e"].fn(spark, sf_dir).collect())


def _funnel_oracle(sf_dir):
    import duckdb

    from etl_healthcare_spark.plans.registry import REGISTRY

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
    return sorted(con.execute(REGISTRY["curation_e2e"].sql).fetchall())


WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike "
         "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu").split()


def _doc(i):
    return " ".join(random.Random(i).sample(WORDS, 24))


def _write_documents(d, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d.mkdir()
    cols = list(zip(*rows))
    pq.write_table(pa.table({"doc_id": cols[0], "source": cols[1], "text": cols[2]}), d / "documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    """A documents table that exercises every funnel stage: 5 eval docs
    (src0), then per six ids an original, its exact copy, its near copy
    (last word changed), a copy of an eval doc and two docs failing the gate
    (too short; mostly digits), plus a second copy of doc_id 6 that fails
    the gate (one-letter words)."""
    rows = [(i, "src0", _doc(i)) for i in range(1, 6)]
    for i in range(6, 96):
        kind, base = i % 6, i - i % 6
        text = [_doc(base), _doc(base), _doc(base).rsplit(" ", 1)[0] + " omega", _doc(1 + i % 5),
                "too short", " ".join(w[:2] + "9999999" for w in WORDS)][kind]
        rows.append((i, f"src{1 + i % 3}", text))
    rows.append((6, "src1", " ".join(["x"] * 30)))
    return _write_documents(tmp_path_factory.mktemp("corpus") / "sf", rows)


def test_curation_e2e_gates_each_row(spark, tmp_path):
    """The quality gate filters rows, as the oracle's q CTE does: a doc_id
    whose one copy fails the gate keeps only its passing copy."""
    rows = [(1, "src0", _doc(1)), (2, "src1", _doc(2)), (3, "src1", _doc(3)), (3, "src1", "too short"),
            (4, "src1", _doc(4)), (5, "src2", _doc(2)), (6, "src2", _doc(1)),
            (7, "src2", _doc(4).rsplit(" ", 1)[0] + " omega")]
    d = _write_documents(tmp_path / "sf", rows)
    got = _funnel(spark, d)
    assert got == _funnel_oracle(d)
    # 7 corpus rows: the short copy of doc 3 fails the gate, doc 5 repeats
    # doc 2, doc 7 is doc 4 with its last word changed, doc 6 copies the
    # eval doc
    assert [n for _, _, n in got] == [8, 7, 6, 5, 4, 3]


SHORT_TEXTS = ["", "alpha", "alpha bravo", "alpha bravo charlie", "alpha bravo charlie delta",
               "... !!! -- ,,", None]
SHINGLE_QUERIES = (
    "text_fingerprint", "text_repetition", "dedup_span_overlap", "dedup_containment",
    "dedup_longest_run", "corpus_novelty", "dedup_ngram_jaccard", "search_related_docs",
    "decontam_bloom", "sketch_source_similarity", "text_vocab_growth",
)


@pytest.fixture(scope="module")
def short_docs_dir(tmp_path_factory):
    """The sf0.001 documents plus docs of 0 to 4 tokens, one of punctuation
    only and one NULL text, spread over the sources (src0 is the eval set
    of decontam_bloom)."""
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "source", "text"])
    rows = list(zip(*(t.column(c).to_pylist() for c in ("doc_id", "source", "text"))))
    first, sources = max(r[0] for r in rows) + 1, sorted({r[1] for r in rows})
    rows += [(first + i, sources[i % len(sources)], s) for i, s in enumerate(SHORT_TEXTS)]
    return _write_documents(tmp_path_factory.mktemp("short") / "sf", rows)


@pytest.mark.parametrize("name", SHINGLE_QUERIES)
def test_shingle_queries_match_oracle_on_short_docs(spark, short_docs_dir, name):
    """Documents below a query's k tokens have no shingles: Spark answers
    as its DuckDB oracle does (which skips them) instead of raising
    INVALID_ARRAY_INDEX.  Rows are compared the way tools/check.py does."""
    import duckdb

    from etl_healthcare_spark.plans.registry import REGISTRY

    frame_hash = importlib.import_module("tools.check").frame_hash
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{short_docs_dir}/documents.parquet')")
    q = REGISTRY[name]
    got = frame_hash(q.fn(spark, short_docs_dir).toPandas())
    want = frame_hash(con.execute(q.sql).df())
    assert got[:3] == want[:3], sorted(set(got[3]) ^ set(want[3]))[:6]


def test_shingle_operators_take_a_two_token_doc(spark):
    from etl_healthcare_spark.operators.dedup import ngram_jaccard_pairs
    from etl_healthcare_spark.operators.textops import fingerprints

    docs = spark.createDataFrame(
        [(1, "alpha bravo", "en"), (2, "alpha bravo charlie delta echo foxtrot", "en"),
         (3, "alpha bravo charlie delta echo golf", "en")],
        "doc_id long, text string, lang string",
    )
    fps = {r.doc_id: r.fingerprint for r in fingerprints(docs, "text", "doc_id", k=5).collect()}
    assert fps[1] is None and len(fps[2]) == len(fps[3]) == 16
    got = ngram_jaccard_pairs(docs, "text", "doc_id", "lang", threshold=0.0).collect()
    # 3-shingles: docs 2 and 3 share 3 of 5 distinct; doc 1 has none
    assert [(r.doc_a, r.doc_b, r.inter, r.jaccard) for r in got] == [(2, 3, 3, 0.6)]


@pytest.fixture(params=("local", "reliable"))
def backend(request, spark):
    key = "spark.graft.checkpoint.backend"
    spark.conf.set(key, request.param)
    yield request.param
    spark.conf.unset(key)


def test_curation_e2e_matches_oracle_on_every_backend(spark, backend, corpus_dir):
    """The funnel's counts ride Observations on the survivor frames'
    materialisations; under every backend they must report (no hang) and
    give the oracle's rows."""
    got = _within(300, lambda: _funnel(spark, corpus_dir))
    assert got == _funnel_oracle(corpus_dir)
    assert all(a[2] > b[2] for a, b in zip(got, got[1:])), f"every stage must drop docs: {got}"


def test_curation_e2e_warm_pass_job_count(spark, corpus_dir):
    """A warm pass runs one job per materialisation and per AQE stage: the
    gate is a predicate on the scan, CC's convergence sums ride its
    materialisations, and the six counts come from Observations plus one
    aggregate.  22 measured on this corpus; the semi-joined gate, the
    second edge branch, the sum probes and the six-branch count union ran
    32."""
    _funnel(spark, corpus_dir)
    sc = spark.sparkContext
    sc.setJobGroup("test-curation-pass", "curation_e2e")
    try:
        _funnel(spark, corpus_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test-curation-pass")
    assert len(jobs) <= 22, f"{len(jobs)} Spark jobs for one warm curation pass"


def test_knn_join_finds_planted_neighbors(spark):
    from etl_healthcare_spark.operators.similarity import knn_join

    # 2-d toy: vectors at known angles; cosine ranking is unambiguous
    rows = [
        (0, [1.0, 0.0]),    # query
        (1, [1.0, 0.1]),    # nearest
        (2, [1.0, 1.0]),    # second
        (3, [0.0, 1.0]),    # orthogonal
        (4, [-1.0, 0.0]),   # opposite
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.query_id, r.n_rank): r.neighbor_id
        for r in knn_join(df.where("vec_id = 0"), df, "embedding", "vec_id", k=3).collect()
    }
    assert got[(0, 1)] == 1 and got[(0, 2)] == 2 and got[(0, 3)] == 3


def test_redact_pii_replaces_and_counts(spark):
    from etl_healthcare_spark.operators.textops import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at jo.smith+x@corp.example.org or +1-555-0011 from 10.0.0.7 please"),
            (2, "nothing sensitive here at all, just words"),
        ],
        ["doc_id", "t"],
    )
    rows = {r.doc_id: r for r in redact_pii(df, "t", "doc_id").collect()}
    assert rows[1].n_email == 1 and rows[1].n_ip == 1 and rows[1].n_phone == 1
    assert "[EMAIL]" in rows[1].redacted and "[IP]" in rows[1].redacted and "[PHONE]" in rows[1].redacted
    assert "jo.smith" not in rows[1].redacted and "10.0.0.7" not in rows[1].redacted
    assert rows[2].redacted == "nothing sensitive here at all, just words"
    assert rows[2].n_email == rows[2].n_ip == rows[2].n_phone == 0


def test_sentence_dup_stats_flags_boilerplate(spark):
    from etl_healthcare_spark.operators.textops import sentence_dup_stats

    boiler = "subscribe to our newsletter for daily updates"
    df = spark.createDataFrame(
        [
            (1, f"the first unique sentence of doc one. {boiler}. closing remark unique to one"),
            (2, f"a different opening sentence for doc two. {boiler}. final words unique to two"),
            (3, "totally standalone document with one long sentence only"),
        ],
        ["doc_id", "t"],
    )
    rows = {r.doc: r for r in sentence_dup_stats(df, "t", "doc_id").collect()}
    assert rows[1].n_sentences == 3 and rows[1].n_duped == 1
    assert rows[2].n_duped == 1
    assert rows[3].n_duped == 0 and rows[3].dup_ppm == 0
    assert rows[1].dup_ppm == 1000000 // 3


def test_url_parts_decomposes(spark):
    from etl_healthcare_spark.operators.textops import url_parts

    df = spark.createDataFrame(
        [(1, "https://blog.sub.example.co/a/b/c?x=1#frag"), (2, "not a url at all")],
        ["doc_id", "url"],
    )
    rows = {r.doc_id: r for r in url_parts(df, "url", "doc_id").collect()}
    assert rows[1].scheme == "https" and rows[1].host == "blog.sub.example.co"
    assert rows[1].path == "/a/b/c" and rows[1].domain == "example.co"
    assert rows[2].host == "" and rows[2].domain == ""
