"""Text-analysis and sessionization operator unit tests."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from amazonredshift_blueprints_spark.operators.sessions import (
    session_window_agg,
    sessionize,
)
from amazonredshift_blueprints_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    text_stats,
    token_count_bpe,
)


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox and the lazy dog in a field"),
            (2, "der hund ist nicht ein katze und der vogel"),
            (3, "xyzzy!!! ??? ###"),
            (4, "one"),
        ],
        ["doc_id", "text"],
    )


def test_text_stats_values(spark):
    rows = {r["doc_id"]: r for r in text_stats(_docs(spark), "doc_id", "text").collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 11
    assert r1["n_uniq_tokens"] == 10  # 'the' twice
    assert r1["punct_ratio"] == 0.0
    # stopword hits: the ×2, and, in, a → 5 of 11
    assert abs(r1["stopword_ratio"] - 5 / 11) < 1e-12
    r3 = rows[3]
    assert r3["punct_ratio"] > 0.5


def test_quality_score_bands(spark):
    scored = {r["doc_id"]: r["quality"] for r in
              quality_score(text_stats(_docs(spark), "doc_id", "text")).collect()}
    # doc 1: 10 tokens (<20 → 0) + uniq 25 + punct 25 + mean_len 20 = 70
    assert scored[1] == 70
    assert scored[3] < scored[1]


def test_language_id(spark):
    got = {r["doc_id"]: r["lang_pred"] for r in
           language_id(_docs(spark), "doc_id", "text").collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"


def test_token_count_bpe(spark):
    df = spark.createDataFrame([(1, "ab12 cd!ef")], ["doc_id", "text"])
    r = token_count_bpe(df, "doc_id", "text").collect()[0]
    # ab | 12 | cd | ! | ef
    assert r["n_bpe_tokens"] == 5
    assert r["n_ws_tokens"] == 2


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "HELLO ... world")],
        ["doc_id", "text"],
    )
    fps = {r["doc_id"]: r["fp"] for r in fingerprint(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2] == fps[3]


def _events(spark):
    rows = [
        # user 1: two sessions (45-min gap between e3 and e4)
        (1, 1, datetime(2024, 1, 1, 10, 0, 0)),
        (2, 1, datetime(2024, 1, 1, 10, 10, 0)),
        (3, 1, datetime(2024, 1, 1, 10, 20, 0)),
        (4, 1, datetime(2024, 1, 1, 11, 5, 0)),
        # user 2: one session
        (5, 2, datetime(2024, 1, 1, 9, 0, 0)),
        (6, 2, datetime(2024, 1, 1, 9, 29, 59)),
    ]
    return spark.createDataFrame(rows, ["event_id", "user_id", "ts"])


def test_sessionize_islands(spark):
    got = {(r["user_id"], r["session_idx"]): r for r in
           sessionize(_events(spark), gap_minutes=30).collect()}
    assert set(got) == {(1, 1), (1, 2), (2, 1)}
    assert got[(1, 1)]["n_events"] == 3
    assert got[(1, 1)]["duration_secs"] == 20 * 60
    assert got[(1, 2)]["n_events"] == 1
    assert got[(2, 1)]["n_events"] == 2


def test_session_window_agg_matches_sessionize(spark):
    e = _events(spark)
    a = {(r["user_id"], r["session_start"]): r["n_events"]
         for r in sessionize(e, gap_minutes=30).collect()}
    b = {(r["user_id"], r["session_start"]): r["n_events"]
         for r in session_window_agg(e, gap_minutes=30).collect()}
    assert a == b


def test_decontaminate_flags_exact_overlap(spark):
    from amazonredshift_blueprints_spark.operators.text import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # contains eval gram
            (2, "completely unrelated text with no overlap at all"),
            (3, "quick brown fox appears here too somehow today"),
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, "benchmark question about the quick brown fox jumps")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shared_grams"], r["n_eval_docs"])
        for r in decontaminate(train, evalset, "doc_id", "text", ngram=3).collect()
    }
    # doc 1 shares "the quick brown", "quick brown fox", "brown fox jumps";
    # doc 3 shares "quick brown fox"; doc 2 shares nothing
    assert got[1] == (3, 1)
    assert got[3] == (1, 1)
    assert 2 not in got


def test_pack_documents_bins_and_offsets(spark):
    from amazonredshift_blueprints_spark.operators.text import pack_documents

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 40)) for i in range(10)],  # 40 tokens each
        "doc_id long, text string",
    )
    # single shard so the packing is one deterministic sequence
    got = {
        r["doc_id"]: (r["bin_id"], r["bin_start_offset"], r["n_tokens"])
        for r in pack_documents(
            docs, "doc_id", "text", budget_tokens=100, n_shards=1
        ).collect()
    }
    # offsets: 0,40,80,... bin = floor(offset/100): docs 0-2 bin 0 (doc 2
    # starts at 80 < 100 and overflows — first-fit keeps it whole),
    # docs 3-4 bin 1 (120,160), doc 5 bin 2 (200), ...
    assert got[0] == (0, 0, 40)
    assert got[2] == (0, 80, 40)
    assert got[3] == (1, 120, 40)
    assert got[5] == (2, 200, 40)
    # every doc present exactly once — nothing is split or dropped
    assert sorted(got) == list(range(10))


def test_redact_pii_counts_and_placeholders(spark):
    from amazonredshift_blueprints_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "contact alice@example.com or bob.smith@mail.co today"),
            (2, "call +1 555-123-4567 or 555 987 6543 now"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in redact_pii(docs, "doc_id", "text").collect()}
    assert got[1]["n_emails"] == 2 and got[1]["n_phones"] == 0
    assert "<EMAIL>" in got[1]["redacted"]
    assert "alice@example.com" not in got[1]["redacted"]
    assert got[2]["n_phones"] == 2 and got[2]["n_emails"] == 0
    assert got[2]["redacted"].count("<PHONE>") == 2
    assert got[3]["redacted"] == "nothing sensitive here"
    assert got[3]["n_emails"] == 0 and got[3]["n_phones"] == 0


def test_repetition_stats_crafted_docs(spark):
    """Hand-computed repetition signals: a doc that is one phrase
    repeated must flag; a unique-gram doc must not; a short doc is
    all-zeros and unflagged."""
    from amazonredshift_blueprints_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),     # grams: 5 total, 2 distinct
            (2, "one two three four five"),        # 4 total, 4 distinct
            (3, "single"),                         # no 2-grams
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs, "doc_id", "text").collect()}
    assert got[1]["n_grams"] == 5 and got[1]["n_distinct_grams"] == 2
    assert abs(got[1]["dup_fraction"] - 3 / 5) < 1e-12
    assert abs(got[1]["top_share"] - 3 / 5) < 1e-12  # "spam ham" x3
    assert got[1]["flagged"] is True
    assert got[2]["n_grams"] == 4 and got[2]["dup_fraction"] == 0.0
    assert got[2]["flagged"] is False
    assert got[3]["n_grams"] == 0 and got[3]["dup_fraction"] == 0.0
    assert got[3]["flagged"] is False


def test_length_histogram_buckets_partition_corpus(spark, sf_dir):
    """Bucket counts must partition the corpus exactly and shares must
    sum to 1."""
    from amazonredshift_blueprints_spark.operators.text import length_histogram
    from amazonredshift_blueprints_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    rows = length_histogram(d, "doc_id", "text", bucket_tokens=8).collect()
    assert sum(r["n_docs"] for r in rows) == d.count()
    assert abs(sum(r["doc_share"] for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert r["bucket_lo"] <= r["min_tokens"] <= r["max_tokens"] < r["bucket_lo"] + 8


def test_length_quantiles_approx_within_rank_error(spark, sf_dir):
    """The scale path: approx_percentile must stay within a few rank
    units of the exact interpolated percentile at accuracy=10k (rank
    error <= n/accuracy, and the fixture has n << accuracy so the
    approx answer must be an actual element near the exact one)."""
    from amazonredshift_blueprints_spark.operators.text import length_quantiles
    from amazonredshift_blueprints_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    exact = length_quantiles(d, "text", strata_col="lang").collect()
    approx = {
        r["stratum"]: r
        for r in length_quantiles(
            d, "text", strata_col="lang", approximate=True
        ).collect()
    }
    assert set(approx) == {r["stratum"] for r in exact}
    for r in exact:
        a = approx[r["stratum"]]
        assert a["n_docs"] == r["n_docs"]
        for q in ("q_0_25", "q_0_5", "q_0_75", "q_0_9", "q_0_99"):
            # exact is interpolated, approx returns a real element: the
            # gap is bounded by the local value spacing (few tokens)
            assert abs(a[q] - r[q]) <= 5.0, (r["stratum"], q, a[q], r[q])


def test_chunk_documents_contract(spark):
    """Chunk rule edge cases: short doc = one unpadded chunk; empty doc
    = no chunks; consecutive chunks overlap by window - stride; token
    coverage is exact."""
    from amazonredshift_blueprints_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens: 3 chunks @ w4 s4? no: w=4,s=3
            (2, "a b"),                                   # single short chunk
            (3, ""),                                      # no chunks
        ],
        "doc_id long, text string",
    )
    got = chunk_documents(docs, "doc_id", "text", window_tokens=4, stride_tokens=3)
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["start_token"], r["n_chunk_tokens"], r["chunk_text"])
         for r in got.collect())
    )
    doc1 = [r for r in rows if r[0] == 1]
    # starts 0,3,6,9; window 4; last chunk is the single token t9
    assert [(r[2], r[3]) for r in doc1] == [(0, 4), (3, 4), (6, 4), (9, 1)]
    assert doc1[0][4] == "t0 t1 t2 t3"
    assert doc1[1][4] == "t3 t4 t5 t6"   # 1-token overlap with previous
    assert doc1[3][4] == "t9"
    assert [r for r in rows if r[0] == 2] == [(2, 0, 0, 2, "a b")]
    assert not [r for r in rows if r[0] == 3]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        chunk_documents(docs, "doc_id", "text", window_tokens=0)


def test_mix_corpus_rates_and_validation(spark, sf_dir):
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.sampling import mix_corpus
    from amazonredshift_blueprints_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")
    m = mix_corpus(d, "lang", "doc_id", {"en": 1.0, "de": 0.5, "zh": 0.0})
    got = {r["lang"]: r["n"] for r in m.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    n_en = d.filter(F.col("lang") == "en").count()
    n_de = d.filter(F.col("lang") == "de").count()
    assert got.get("en") == n_en            # rate 1.0 keeps all
    assert "zh" not in got                  # rate 0.0 drops all
    assert "fr" not in got and "es" not in got  # unlisted strata dropped
    assert 0.25 * n_de < got.get("de", 0) < 0.75 * n_de  # ~half, hash noise

    import pytest as _pytest
    with _pytest.raises(ValueError, match="outside"):
        mix_corpus(d, "lang", "doc_id", {"en": 1.5})


def test_bm25_ranks_term_matches(spark):
    from amazonredshift_blueprints_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark join spark join spark"),        # both terms, short
            (2, "spark and a very long document " + "filler " * 40),
            (3, "join only here"),
            (4, "nothing relevant at all"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(docs, "doc_id", "text", ["spark", "join"], k=10).collect()
    got = {r["doc_id"]: r for r in out}
    assert 4 not in got                       # no query term -> no row
    assert got[1]["n_terms"] == 2 and got[3]["n_terms"] == 1
    # doc 1 matches both terms with high tf in a short doc: must rank first
    assert out[0]["doc_id"] == 1
    # length normalization: doc 2's lone 'spark' in a long doc scores below
    # doc 3's lone 'join' in a short doc only if idf comparable; just check
    # scores are positive and finite
    assert all(r["score"] > 0 for r in out)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        bm25_topk(docs, "doc_id", "text", [])


def test_bm25_topk_truncates(spark):
    from amazonredshift_blueprints_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [(i, "term " * (i + 1)) for i in range(8)], ["doc_id", "text"]
    )
    out = bm25_topk(docs, "doc_id", "text", ["term"], k=3).collect()
    assert len(out) == 3


def test_hashing_vectorizer_dense_matches_sparse(spark):
    from amazonredshift_blueprints_spark.operators.text import hashing_vectorizer

    docs = spark.createDataFrame(
        [(1, "spark spark join"), (2, "join"), (3, "")], ["doc_id", "text"]
    )
    sparse = {
        (r["doc_id"], r["bucket"]): r["tf"]
        for r in hashing_vectorizer(docs, "doc_id", "text", n_features=8).collect()
    }
    dense = {
        r["doc_id"]: r["tf_vector"]
        for r in hashing_vectorizer(
            docs, "doc_id", "text", n_features=8, dense=True
        ).collect()
    }
    assert sum(sparse.values()) == 4                 # 4 tokens total
    for (doc, bucket), tf in sparse.items():
        assert dense[doc][bucket] == tf
    for doc, vec in dense.items():
        assert len(vec) == 8
        assert sum(vec) == sum(v for (d, _), v in sparse.items() if d == doc)
    assert 3 not in dense                            # empty doc: no buckets

    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        hashing_vectorizer(docs, "doc_id", "text", n_features=0)


def test_unigram_logprob_known_values(spark):
    import math

    from amazonredshift_blueprints_spark.operators.text import unigram_logprob

    # corpus: 4 tokens total — p(a)=1/2, p(b)=1/4, p(c)=1/4
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "c"), (3, "")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in unigram_logprob(docs, "doc_id", "text").collect()}
    q = lambda p: round(math.log(p) * 1_000_000)
    assert rows[1]["n_tokens"] == 3
    assert rows[1]["logprob_q_sum"] == 2 * q(0.5) + q(0.25)
    assert rows[2]["logprob_q_sum"] == q(0.25)
    assert 3 not in rows                       # empty doc dropped
    # doc 2 (all rare tokens) scores lower than doc 1
    assert rows[2]["avg_logprob"] < rows[1]["avg_logprob"]


def test_dsir_importance_separates_target_like_docs(spark):
    from amazonredshift_blueprints_spark.operators.text import dsir_importance

    # target-language docs use 'alpha beta'; others use 'gamma delta'
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha", "en"),
            (2, "alpha beta", "en"),
            (3, "gamma delta gamma", "zh"),
            (4, "alpha gamma", "zh"),
        ],
        ["doc_id", "text", "lang"],
    )
    rows = {
        r["doc_id"]: r
        for r in dsir_importance(
            docs, "doc_id", "text", target_col="lang", target_value="en",
            n_features=64,
        ).collect()
    }
    # pure-target vocabulary scores above pure-source-only vocabulary
    assert rows[1]["avg_importance"] > rows[3]["avg_importance"]
    # the mixed doc sits between the extremes
    assert rows[3]["avg_importance"] < rows[4]["avg_importance"] < rows[1]["avg_importance"]
    assert rows[1]["n_tokens"] == 3


def test_dup_span_coverage_interval_union(spark):
    from amazonredshift_blueprints_spark.operators.text import dup_span_coverage

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l"),   # shares the 10-token prefix
            (2, "a b c d e f g h i j x y"),   # with doc 1 -> 10 covered
            (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w0 v1 v2"),  # unique: 0 covered
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in dup_span_coverage(docs, "doc_id", "text", gram_len=10).collect()
    }
    # docs 1/2: grams at pos 0..2 exist; only pos-0 gram ("a..j") repeats
    # corpus-wide -> one island covering tokens 0..9
    assert rows[1]["dup_covered_tokens"] == 10
    assert rows[2]["dup_covered_tokens"] == 10
    assert abs(rows[1]["dup_fraction"] - 10 / 12) < 1e-12
    assert rows[3]["dup_covered_tokens"] == 0 and rows[3]["dup_fraction"] == 0.0
    # overlapping marked windows merge into ONE island, not double-count:
    # doc with an internal repeat "p q r s t u v w x y p q r s t u v w x y"
    rep = spark.createDataFrame(
        [(9, " ".join(["p q r s t u v w x y"] * 2))], ["doc_id", "text"]
    )
    r9 = dup_span_coverage(rep, "doc_id", "text", gram_len=10).collect()[0]
    # every 10-gram window of the 20-token doc... only the two copies of
    # the full phrase repeat (positions 0 and 10) -> union covers all 20
    assert r9["n_tokens"] == 20 and r9["dup_covered_tokens"] == 20


def test_length_quantiles_auto_engine_threshold(spark, sf_dir, monkeypatch):
    """approximate=None auto-selects: exact below AUTO_APPROX_THRESHOLD_BYTES
    of optimizer-estimated input, approx above — so a naive huge-input
    caller cannot hit the group-buffering aggregator by accident."""
    from amazonredshift_blueprints_spark.operators import text as text_mod
    from amazonredshift_blueprints_spark.operators.text import length_quantiles
    from amazonredshift_blueprints_spark.session import load_table

    d = load_table(spark, sf_dir, "documents")

    def engine(df_out):
        plan = df_out._jdf.queryExecution().analyzed().toString()
        return "approx_percentile" if "approx_percentile" in plan else "percentile"

    # fixture input: far below 1 GiB -> exact
    assert engine(length_quantiles(d, "text")) == "percentile"
    # shrink the threshold to force the auto path over the cutover
    monkeypatch.setattr(text_mod, "AUTO_APPROX_THRESHOLD_BYTES", 0)
    assert engine(length_quantiles(d, "text")) == "approx_percentile"
    # explicit engines override auto in both directions
    assert engine(length_quantiles(d, "text", approximate=False)) == "percentile"
    monkeypatch.setattr(text_mod, "AUTO_APPROX_THRESHOLD_BYTES", 1 << 60)
    assert engine(length_quantiles(d, "text", approximate=True)) == "approx_percentile"


def test_bigram_beats_unigram_on_real_vs_shuffled(spark):
    """The c78 signal's point: a document of repeated REAL bigrams must
    outscore a token-shuffled document with the identical unigram
    profile under the bigram model — unigram scoring cannot tell them
    apart (exactly equal by construction)."""
    from amazonredshift_blueprints_spark.operators.text import (
        bigram_logprob,
        unigram_logprob,
    )

    # 20 natural docs train the model; doc 99 carries the SAME token
    # multiset in an order whose bigrams are rare in the corpus (a
    # repeated scramble would train its own bigrams common — the
    # corpus model sees every document, including the outlier)
    rows = [(i, "the cat sat on the mat") for i in range(1, 21)]
    rows.append((99, "mat on sat cat the the"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uni = {r["doc_id"]: r["avg_logprob"] for r in unigram_logprob(df, "doc_id", "text").collect()}
    big = {r["doc_id"]: r["avg_logprob"] for r in bigram_logprob(df, "doc_id", "text").collect()}
    assert abs(uni[1] - uni[99]) < 1e-9  # unigram is blind to order
    # measured: natural -0.45 vs scrambled -2.95 nats/token
    assert big[1] > big[99] + 1.5


def test_bpe_training_matches_pure_python_reference(spark):
    """The distributed trainer must reproduce an independent in-memory
    BPE implementation (same tie and merge rules) exactly, merge for
    merge — counts included."""
    from collections import Counter

    from amazonredshift_blueprints_spark.operators.text import train_bpe_merges

    docs = [
        (1, "low lower lowest low low"),
        (2, "new newer newest new"),
        (3, "wide wider widest low new"),
    ]

    def py_bpe(texts, n):
        words = Counter(w for _, t in texts for w in t.split())
        seqs = {w: " ".join(w) for w in words}
        out = []
        for rank in range(1, n + 1):
            pc = Counter()
            for w, cnt in words.items():
                sym = seqs[w].split(" ")
                for a, b in zip(sym, sym[1:]):
                    pc[f"{a} {b}"] += cnt
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            pair, c = best
            merged = pair.replace(" ", "")
            out.append((rank, pair, merged, c))
            for w in seqs:
                seqs[w] = (" " + seqs[w] + " ").replace(
                    f" {pair} ", f" {merged} "
                ).strip()
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r["rank"], r["pair"], r["merged"], r["pair_count"])
        for r in train_bpe_merges(df, "doc_id", "text", n_merges=10).collect()
    ]
    assert got == py_bpe(docs, 10)
    # sanity: early merges are the shared suffix fragments
    assert got[0][1] in ("e w", "l o", "n e", "o w", "e r")


def test_bpe_flush_rounds_are_bit_identical(spark, monkeypatch):
    """The periodic vocab re-materialization that bounds the lazy
    replace-chain depth (r16 advisor: unbounded chains are O(n²)
    analyzer work and hit codegen limits at real merge counts) must
    not change a single trained merge: force a tiny flush interval and
    compare against the unflushed trainer."""
    from amazonredshift_blueprints_spark.operators import text as text_mod

    docs = [
        (1, "low lower lowest low low"),
        (2, "new newer newest new"),
        (3, "wide wider widest low new"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    baseline = [
        tuple(r)
        for r in text_mod.train_bpe_merges(
            df, "doc_id", "text", n_merges=9
        ).collect()
    ]
    monkeypatch.setattr(text_mod, "_BPE_FLUSH_EVERY", 3)
    flushed = [
        tuple(r)
        for r in text_mod.train_bpe_merges(
            df, "doc_id", "text", n_merges=9
        ).collect()
    ]
    assert flushed == baseline


def test_bpe_flush_releases_both_caches_when_count_fails(spark, monkeypatch):
    """A flush whose materializing count() throws after the new vocab
    was cached must not leak it: both the new frame and the one it
    replaces are released, so the persisted RDDs return to baseline."""
    import pytest

    from amazonredshift_blueprints_spark.operators import text as text_mod

    df = spark.createDataFrame(
        [(1, "low lower lowest low"), (2, "new newer newest")],
        "doc_id long, text string",
    )
    jsc = spark.sparkContext._jsc
    baseline = set(jsc.getPersistentRDDs().keys())
    frame_cls = type(df)  # the concrete (classic) DataFrame class
    real_count = frame_cls.count

    def failing_count(self):
        real_count(self)  # the flushed vocab is cached by now
        raise RuntimeError("injected flush failure")

    monkeypatch.setattr(text_mod, "_BPE_FLUSH_EVERY", 1)
    monkeypatch.setattr(frame_cls, "count", failing_count)
    with pytest.raises(RuntimeError, match="injected flush failure"):
        text_mod.train_bpe_merges(df, "doc_id", "text", n_merges=3)
    assert set(jsc.getPersistentRDDs().keys()) == baseline


def test_bpe_apply_matches_python_reference(spark):
    """Train-then-tokenize: per-doc subword counts must equal applying
    the trained merge list with an independent in-memory tokenizer."""
    from amazonredshift_blueprints_spark.operators.text import (
        bpe_token_counts,
        train_bpe_merges,
    )

    docs = [
        (1, "low lower lowest low low"),
        (2, "new newer newest new low"),
        (3, "wide wider widest"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = [
        tuple(r) for r in train_bpe_merges(df, "doc_id", "text", n_merges=6).collect()
    ]

    def py_count(text):
        n = 0
        for w in text.split():
            seq = " ".join(w)
            for _, pair, merged, _c in merges:
                seq = (" " + seq + " ").replace(f" {pair} ", f" {merged} ").strip()
            n += len(seq.split(" "))
        return n

    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
        for r in bpe_token_counts(df, "doc_id", "text", merges).collect()
    }
    for doc_id, text in docs:
        assert got[doc_id] == (len(text.split()), py_count(text)), doc_id
    # trained merges compress: subword count strictly below char count
    assert all(
        bpe < sum(len(w) for w in t.split()) for (_, t), (_, bpe) in zip(docs, got.values())
    )


def test_pmi_collocations_closed_form(spark):
    """PMI on a tiny closed-form corpus: 'a b' always adjacent scores
    highest; frequent-but-independent pairs score near zero; the
    min_count floor drops rare pairs; ranking is deterministic."""
    import math

    from amazonredshift_blueprints_spark.operators.text import (
        pmi_collocations,
    )

    # 'x y' appears 6x (always together); 'p'/'q' co-occur but also mix
    rows = [(i, "x y p q") for i in range(6)] + [(10 + i, "p q q p") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(df, "doc_id", "text", min_count=5, k=10).collect()
    got = {(r["w1"], r["w2"]): (r["n_pair"], r["pmi_q"], r["rank"]) for r in out}
    # totals: unigrams N1=48 (x:6,y:6,p:18,q:18); bigrams N2=36
    # (12 docs x 3 adjacent pairs). Exact replay of the quantization
    # rule for ('x','y'): c2=6
    want_xy = round(math.log((6 * 48 * 48) / (36 * 6 * 6)) * 1_000_000)
    assert got[("x", "y")][0] == 6 and got[("x", "y")][1] == want_xy
    assert got[("x", "y")][2] == 1  # strongest association ranks first
    # 'y p' (6x, but p is common): weaker than 'x y'
    assert got[("y", "p")][1] < got[("x", "y")][1]
    # pairs under the floor are absent ('q p' appears 6x... check one
    # that truly is rare): no pair with n_pair < 5 survived
    assert all(n >= 5 for n, _, _ in got.values())


def test_event_pattern_counts_semantics(spark):
    from amazonredshift_blueprints_spark.operators.sessions import (
        event_pattern_counts,
    )

    rows = [
        # user 1: view -> error -> purchase  (tolerant only)
        (1, 1, "view"), (1, 2, "error"), (1, 3, "purchase"),
        # user 2: two direct conversions
        (2, 1, "view"), (2, 2, "purchase"), (2, 3, "view"), (2, 4, "purchase"),
        # user 3: click interrupts -> neither pattern
        (3, 1, "view"), (3, 2, "click"), (3, 3, "purchase"),
        # user 4: out-of-order input; ordering by seq must fix it
        (4, 2, "purchase"), (4, 1, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, seq bigint, event_type string")
    got = {
        r["user_id"]: (r["n_events"], r["n_direct"], r["n_tolerant"])
        for r in event_pattern_counts(
            df, "user_id", "event_type", ["seq"],
            {"n_direct": "view,purchase",
             "n_tolerant": "view(,error)*,purchase"},
        ).collect()
    }
    assert got == {
        1: (3, 0, 1),
        2: (4, 2, 2),
        3: (3, 0, 0),
        4: (2, 1, 1),
    }


def test_transition_model_hand_counts(spark):
    """user 1: a->b->a gives (a,b) and (b,a); user 2: a->b gives (a,b).
    p(a->b)=1.0 (2/2), p(b->a)=1.0 (1/1) in micro-units."""
    import datetime as dt

    from amazonredshift_blueprints_spark.operators.sessions import (
        transition_model,
    )

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, t0, 1, "a"), (1, t0 + m, 2, "b"), (1, t0 + 2 * m, 3, "a"),
        (2, t0, 4, "a"), (2, t0 + m, 5, "b"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    got = {
        (r["prev_state"], r["next_state"]): (r["n"], r["p_micro"])
        for r in transition_model(
            df, "user_id", "ts", "event_id", "event_type"
        ).collect()
    }
    assert got == {("a", "b"): (2, 1_000_000), ("b", "a"): (1, 1_000_000)}


def test_greedy_coverage_select_hand_picks(spark):
    """Unigram domain: doc 2 {a,b,x,y} wins round 1 (gain 4); doc 3
    {c,z} wins round 2 (marginal 2 beats doc 1's {c} = 1); doc 1 then
    adds nothing, so the greedy stops early with 2 picks."""
    from amazonredshift_blueprints_spark.operators.text import (
        greedy_coverage_select,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x y"), (3, "c z")], ["doc_id", "text"]
    )
    got = [
        (r["round"], r["doc_id"], r["gain"])
        for r in greedy_coverage_select(df, "doc_id", "text", k=3, ngram=1)
        .orderBy("round")
        .collect()
    ]
    assert got == [(1, 2, 4), (2, 3, 2)]  # doc 1 adds nothing -> stops


def test_bm25_prf_expands_and_reranks(spark):
    """Feedback docs for 'alpha' share 'beta' (>=2 fb docs) -> beta
    becomes an expansion term and pulls in a beta-only doc that round
    1 could never rank."""
    from amazonredshift_blueprints_spark.operators.text import bm25_prf_search

    rows = [
        (1, "alpha beta x"),
        (2, "alpha beta y"),
        (3, "beta beta z"),     # no 'alpha': invisible to round 1
        (4, "gamma gamma q"),   # unrelated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_prf_search(
        df, "doc_id", "text", ["alpha"], fb_k=2, min_fb_df=2, n_expand=1, k=4
    )
    ids = {r["doc_id"] for r in out.collect()}
    assert 3 in ids      # reached only via the 'beta' expansion
    assert 4 not in ids  # still matches nothing


def test_tfidf_doc_pairs_weights_rare_overlap(spark):
    """Docs 1-2 share a RARE shingle; docs 3-4 share one that appears
    in every doc (df > cap) — only the rare pair may score."""
    from amazonredshift_blueprints_spark.operators.text import tfidf_doc_pairs

    common = "x y z"
    rows = [
        (1, f"rare gram one {common}"),
        (2, f"rare gram one {common}"),
        (3, f"{common} a b c"),
        (4, f"{common} d e f"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in tfidf_doc_pairs(
            df, "doc_id", "text", ngram=3, df_cap=3, k=10
        ).collect()
    }
    assert (1, 2) in got
    # 'x y z' appears in all 4 docs (df=4 > cap=3): pairs sharing ONLY
    # capped shingles never form
    assert (3, 4) not in got


def test_token_entropy_extremes(spark):
    """Single repeated token -> exactly 0; uniform 4 distinct tokens ->
    ln(4) in micro-nats (each of 4 contributions rounded separately)."""
    import math

    from amazonredshift_blueprints_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z")], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_types"], r["entropy_q"])
        for r in token_entropy(df, "doc_id", "text").collect()
    }
    assert got[1] == (4, 1, 0)
    per_term = round(0.25 * math.log(4.0) * 1_000_000)
    assert got[2] == (4, 4, 4 * per_term)


def test_attribution_credit_hand_epochs(spark):
    import datetime as dt

    from amazonredshift_blueprints_spark.operators.sessions import (
        attribution_credit,
    )

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    # user 1: click, view, purchase  -> epoch 0: first=click last=view,
    #         linear click 500000 / view 500000
    # then view, purchase            -> epoch 1: first=last=view
    # trailing click (no conversion) -> no credit
    # user 2: purchase with no touches -> dropped
    rows = [
        (1, t(0), 0, "click"),
        (1, t(1), 1, "view"),
        (1, t(2), 2, "purchase"),
        (1, t(3), 3, "view"),
        (1, t(4), 4, "purchase"),
        (1, t(5), 5, "click"),
        (2, t(0), 6, "purchase"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, eid long, et string")
    out = {
        r.channel: r
        for r in attribution_credit(df, "u", "ts", "eid", "et").collect()
    }
    assert out["click"].first_touch_convs == 1
    assert out["click"].last_touch_convs == 0
    assert out["click"].linear_micro == 500_000
    assert out["view"].first_touch_convs == 1
    assert out["view"].last_touch_convs == 2
    assert out["view"].linear_micro == 1_500_000
    assert set(out) == {"click", "view"}


def test_chi2_terms_hand_contingency(spark):
    """4 docs, 2 labels: 'apple' is a perfect X-marker (a=2,b=0,c=0,d=2
    -> chi2 = 4·16/16 = 4.0); 'date' in one Y doc gives 4·4/12 =
    1.333333; terms at expectation (present in every doc) are excluded
    by the exact integer gate, never 0/0."""
    from amazonredshift_blueprints_spark.operators.text import chi2_terms

    rows = [
        (1, "X", "apple banana common"),
        (2, "X", "apple cherry common"),
        (3, "Y", "banana cherry common"),
        (4, "Y", "cherry date common"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        (r["label"], r["term"]): r
        for r in chi2_terms(df, "doc_id", "text", "lang", top_k=5).collect()
    }
    assert got[("X", "apple")]["chi2_r6"] == 4.0
    assert got[("X", "apple")]["n_docs_term_label"] == 2
    assert got[("X", "apple")]["rk"] == 1
    assert got[("Y", "date")]["chi2_r6"] == 1.333333
    # 'common' is in all 4 docs: at expectation in both classes -> absent
    assert ("X", "common") not in got and ("Y", "common") not in got
    # 'cherry' (3 docs, 2 in Y): Y-enriched only
    assert ("Y", "cherry") in got and ("X", "cherry") not in got


def test_funnel_latency_first_conversion_and_rank_percentiles(spark):
    """Pre-exposure purchases are ignored; latency is to the FIRST
    post-view purchase; p50 of a 3-value cohort is the 2nd order
    statistic (ceil semantics)."""
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.sessions import (
        funnel_latency,
    )

    rows = [
        # u1: purchase BEFORE first view must not count; next at +10s
        (1, "2024-01-04 08:00:00", "purchase"),
        (1, "2024-01-04 09:00:00", "view"),
        (1, "2024-01-04 09:00:10", "purchase"),
        (1, "2024-01-04 09:05:00", "purchase"),  # later one ignored
        # u2: +20s   u3: +30s   (same Thursday cohort: 2024-01-04)
        (2, "2024-01-04 10:00:00", "view"),
        (2, "2024-01-04 10:00:20", "purchase"),
        (3, "2024-01-04 11:00:00", "view"),
        (3, "2024-01-04 11:00:30", "purchase"),
        # u4: view only -> no pair
        (4, "2024-01-04 12:00:00", "view"),
    ]
    df = spark.createDataFrame(rows, "u long, ts string, et string").select(
        "u", F.col("ts").cast("timestamp").alias("ts"), "et"
    )
    out = funnel_latency(df, "u", "ts", "et", "view", "purchase").collect()
    assert len(out) == 1
    r = out[0]
    # 2024-01-04 is a Thursday -> dow 0
    assert r["cohort_dow"] == 0 and r["n_pairs"] == 3
    # ranks: ceil(.25*3)=1, ceil(.5*3)=2, ceil(.75*3)=3
    assert (r["p25_us"], r["p50_us"], r["p75_us"]) == (
        10_000_000, 20_000_000, 30_000_000,
    )


def test_user_growth_daily_first_seen_identity(spark):
    """Returning users never re-count in cum_distinct; days with only
    returning users have n_new = 0, not a missing row."""
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.sessions import (
        user_growth_daily,
    )

    rows = [
        (1, "2024-01-01 10:00:00"), (2, "2024-01-01 11:00:00"),
        (1, "2024-01-02 10:00:00"),                      # returning only
        (3, "2024-01-03 10:00:00"), (1, "2024-01-03 11:00:00"),
    ]
    df = spark.createDataFrame(rows, "u long, ts string").select(
        "u", F.col("ts").cast("timestamp").alias("ts")
    )
    got = {r["day"]: r for r in user_growth_daily(df, "u", "ts").collect()}
    assert [got[d]["n_active"] for d in sorted(got)] == [2, 1, 2]
    assert [got[d]["n_new"] for d in sorted(got)] == [2, 0, 1]
    assert [got[d]["cum_distinct_users"] for d in sorted(got)] == [2, 2, 3]


def test_group_diversity_gini_and_majority(spark):
    """Hand groups: single-category -> gini 0, top share 1e6; a 2+2
    split -> gini 500000; 3+1 -> gini (16-10)/16."""
    from amazonredshift_blueprints_spark.operators.text import group_diversity

    rows = (
        [("a", "en")] * 3
        + [("b", "en"), ("b", "en"), ("b", "fr"), ("b", "fr")]
        + [("c", "en")] * 3 + [("c", "de")]
    )
    df = spark.createDataFrame(rows, "src string, lang string")
    got = {r["grp"]: r for r in group_diversity(df, "src", "lang").collect()}
    assert got["a"]["gini_micro"] == 0 and got["a"]["top_share_micro"] == 1000000
    assert got["b"]["gini_micro"] == 500000 and got["b"]["n_cats"] == 2
    assert got["c"]["gini_micro"] == (16 - 10) * 1000000 // 16
    assert got["c"]["top_share_micro"] == 750000


def test_windowed_funnel_strict_order_and_gap(spark):
    """The funnel demands strict order from the FIRST anchor and
    respects the max gap: a click BEFORE the first view doesn't count,
    a purchase past the window doesn't count, and earliest-chain
    anchoring is pinned."""
    import datetime as dt

    from amazonredshift_blueprints_spark.operators.sessions import (
        windowed_funnel,
    )

    t0 = dt.datetime(2024, 1, 1)
    h = lambda n: t0 + dt.timedelta(hours=n)
    rows = [
        # user 1: clean chain view(0) -> click(1h) -> purchase(2h)
        (1, h(0), "view"), (1, h(1), "click"), (1, h(2), "purchase"),
        # user 2: click BEFORE the first view -> stalls at view
        (2, h(5), "view"), (2, h(4), "click"),
        # user 3: purchase 4 days after click -> outside 3-day gap
        (3, h(0), "view"), (3, h(1), "click"),
        (3, h(1) + dt.timedelta(days=4), "purchase"),
        # user 4: never viewed -> not even step 1
        (4, h(0), "click"), (4, h(1), "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, et string")
    out = {r.step: (r.n_users, r.conv_from_prev_micro)
           for r in windowed_funnel(
               df, "user_id", "ts", "et", ["view", "click", "purchase"]
           ).collect()}
    assert out["view"] == (3, 1_000_000)
    assert out["click"] == (2, 2 * 1_000_000 // 3)  # users 1 and 3
    assert out["purchase"] == (1, 500_000)          # user 1 only


def test_dedup_span_removal_cuts_shared_spans(spark):
    """A span repeated across two docs is removed from BOTH; unique
    text survives intact; a fully-duplicated doc comes back empty."""
    from amazonredshift_blueprints_spark.operators.text import (
        dedup_span_removal,
    )

    boiler = "one two three four"  # 4-gram boilerplate
    rows = [
        (1, f"alpha beta {boiler} gamma"),
        (2, f"delta {boiler} epsilon zeta"),
        (3, "totally unique text here nothing repeats at all"),
        (4, boiler),
        (5, boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in dedup_span_removal(df, "doc_id", "text", gram_len=4).collect()
    }
    assert got[1] == (7, 4, "alpha beta gamma")
    assert got[2] == (7, 4, "delta epsilon zeta")
    assert got[3] == (8, 0, "totally unique text here nothing repeats at all")
    assert got[4] == (4, 4, "")  # fully removed, present and empty
    assert got[5] == (4, 4, "")


def test_winnow_fingerprints_guarantee_density_and_edges(spark):
    """Winnowing (Schleimer et al., SIGMOD'03): (1) the scheme's core
    guarantee — two documents sharing a substring of length >= k+w-1
    share at least one fingerprint; (2) a single distant edit leaves
    the shared region's fingerprints intact (the local property c11's
    whole-doc md5 lacks); (3) density stays near 2/(w+1); (4) docs
    shorter than k+w-1 normalized chars emit nothing; (5) every
    selected position is a real window minimum of its k-gram hash."""
    from amazonredshift_blueprints_spark.operators.text import (
        winnow_fingerprints,
    )

    k, w = 8, 4
    shared = "the quick brown fox jumps over the lazy dog"  # >> k+w-1
    rows = [
        (1, "AAA " + shared + " tail one padding words here"),
        (2, "completely different preamble " + shared + " ZZZ"),
        (3, "short"),  # under k+w-1 after normalization
        (4, "x" * 500),  # degenerate: constant text, 1 distinct gram
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    fps = winnow_fingerprints(df, "doc_id", "text", k=k, w=w)
    got = {
        i: {(r["pos"], r["fp"]) for r in g}
        for i, g in ((i, fps.filter(F.col("doc_id") == i).collect())
                     for i in (1, 2, 3, 4))
    }
    h1, h2 = {fp for _, fp in got[1]}, {fp for _, fp in got[2]}
    assert h1 & h2, "shared substring >= k+w-1 must share a fingerprint"
    assert got[3] == set()
    # degenerate constant doc: every gram identical -> exactly one
    # fingerprint survives the distinct (the rightmost-tie-break
    # selects a new position per window, same hash)
    assert len({fp for _, fp in got[4]}) == 1
    # density: expected 2/(w+1) = 0.4; allow generous slack
    n_grams = len("".join(c for c in rows[0][1] if c.isalnum())) - k + 1
    assert len(got[1]) <= 0.7 * n_grams
    # a distant edit (doc 1's head) must not disturb fingerprints
    # selected inside the shared span in doc 2
    assert len(h1 & h2) >= 2


def test_robots_rules_parse_and_filter_rfc9309(spark):
    """robots.txt crawl filtering (r16): group parsing (consecutive
    user-agents share rules, a later user-agent after rules starts a
    new group), exact-agent precedence over *, longest-match with
    Allow winning ties, * and $ pattern forms, empty Disallow =
    allow-all, and no-rules = allowed."""
    from amazonredshift_blueprints_spark.operators.text import (
        parse_robots_rules,
        robots_filter,
    )

    robots = spark.createDataFrame(
        [
            ("a.com",
             "# comment\nUser-agent: first\nUser-agent: *\n"
             "Disallow: /private # trailing comment\nAllow: /private/ok\n"
             "\nUser-agent: badbot\nDisallow: /"),
            ("b.com", "User-agent: *\nDisallow:"),
            ("c.com",
             "User-agent: trainbot\nDisallow: /*.pdf$\n"
             "User-agent: *\nDisallow: /"),
            ("d.com", "not a rule line at all"),
        ],
        "domain string, robots_txt string",
    )
    rules = parse_robots_rules(robots)
    got = {
        (r["domain"], r["agent"], r["rule"], r["path"])
        for r in rules.collect()
    }
    # consecutive user-agents (first, *) both carry the a.com rules
    assert ("a.com", "first", "disallow", "/private") in got
    assert ("a.com", "*", "allow", "/private/ok") in got
    assert ("a.com", "badbot", "disallow", "/") in got
    assert not any(d == "b.com" for d, *_ in got)  # empty Disallow
    assert not any(d == "d.com" for d, *_ in got)
    urls = spark.createDataFrame(
        [
            ("a.com", "/private/x"), ("a.com", "/private/ok/y"),
            ("a.com", "/pub"), ("b.com", "/anything"),
            ("c.com", "/doc.pdf"), ("c.com", "/doc.pdfx"),
            ("c.com", "/page"), ("e.com", "/no-robots-at-all"),
        ],
        "domain string, path string",
    )
    dec = {
        (r["domain"], r["path"]): r["allowed"]
        for r in robots_filter(urls, rules, agent="TrainBot").collect()
    }
    assert dec == {
        ("a.com", "/private/x"): False,      # Disallow prefix
        ("a.com", "/private/ok/y"): True,    # longer Allow wins
        ("a.com", "/pub"): True,
        ("b.com", "/anything"): True,        # empty Disallow
        ("c.com", "/doc.pdf"): False,        # exact agent group, $ form
        ("c.com", "/doc.pdfx"): True,        # $ anchor holds
        ("c.com", "/page"): True,            # exact group replaces *
        ("e.com", "/no-robots-at-all"): True,
    }
    dec = {
        (r["domain"], r["path"]): r["allowed"]
        for r in robots_filter(urls, rules, agent="badbot").collect()
    }
    assert dec[("a.com", "/pub")] is False  # badbot group: Disallow /
    assert dec[("c.com", "/page")] is False  # falls to c.com's * group


def test_repair_mojibake_jvm_side(spark):
    """Mojibake repair (r16): UTF-8-as-Latin-1 text is re-decoded,
    twice-encoded text converges in two rounds, genuine Latin-1
    accents and plain ASCII pass untouched, and the repair is a pure
    JVM projection (no Python in the plan)."""
    from amazonredshift_blueprints_spark.operators.text import (
        repair_mojibake,
    )

    good = "café número 7 — déjà vu"
    bad = good.encode("utf-8").decode("latin-1")
    double = bad.encode("utf-8").decode("latin-1")
    greek = "δεδομένα".encode("utf-8").decode("latin-1")
    df = spark.createDataFrame(
        [(bad,), (good,), ("plain 3",), (double,), (greek,)],
        "text string",
    )
    got = {r["text"]: (r["was_mojibake"], r["text_fixed"])
           for r in repair_mojibake(df).collect()}
    assert got[bad] == (True, good)
    assert got[good] == (False, good)
    assert got["plain 3"] == (False, "plain 3")
    assert got[double] == (True, good)
    assert got[greek] == (True, "δεδομένα")
    plan = repair_mojibake(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan


def test_sitemap_stats_xpath_jvm_side(spark):
    """Sitemap XML (r16): urlset vs sitemapindex dispatch, loc counts,
    integer-tenths priority sums, NULL priorities on index files —
    all through built-in xpath expressions with no Python stage."""
    from amazonredshift_blueprints_spark.operators.text import (
        sitemap_stats,
    )

    urlset = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc>https://a.com/p0</loc><priority>0.7</priority></url>"
        "<url><loc>https://a.com/p1</loc><priority>0.3</priority></url>"
        "<url><loc>https://a.com/p2</loc><priority>1.0</priority></url>"
        "</urlset>"
    )
    index = (
        "<sitemapindex>"
        "<sitemap><loc>https://a.com/s1.xml</loc></sitemap>"
        "<sitemap><loc>https://a.com/s2.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    df = spark.createDataFrame([(1, urlset), (2, index)], "doc_id long, xml string")
    out = sitemap_stats(df)
    got = {r["doc_id"]: (r["kind"], r["n_locs"], r["priority_tenths"])
           for r in out.collect()}
    assert got[2] == ("index", 2, None)
    assert got[1] == ("urlset", 3, 20)  # 0.7 + 0.3 + 1.0 in tenths
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan


def test_html_extract_jvm_side(spark):
    """HTML extraction (r16): script/style/comment blocks drop even
    when they embed markup, tags strip, the six entities unescape
    with &amp; last, whitespace collapses — all with no Python
    stage."""
    from amazonredshift_blueprints_spark.operators.text import (
        html_extract,
    )

    html = (
        "<html><head><title>My Page</title><style>p{color:red}</style>"
        '<script>var x = "<p>not text</p>";</script></head>'
        "<body><!-- note --><h1>Hello &amp; welcome</h1>"
        "<p>A &lt;tag&gt; and &quot;q&quot; &#39;h&#39;.&nbsp;"
        "&amp;lt; stays</p>"
        '<a href="/x">one</a> <A HREF="/y">two</A></body></html>'
    )
    df = spark.createDataFrame([(html,)], "html string")
    out = html_extract(df)
    r = out.collect()[0]
    assert r["title"] == "My Page"
    assert r["text"] == (
        "My Page Hello & welcome A <tag> and \"q\" 'h'. &lt; stays "
        "one two"
    )
    assert r["n_links"] == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan


def test_split_sentences_protections(spark):
    """Sentence splitting (r16): abbreviations and decimals must not
    split, terminators stay with their sentence, no Python stage."""
    from amazonredshift_blueprints_spark.operators.text import (
        split_sentences,
    )

    txt = (
        "Dr. Smith met Mr. Jones at 3.14 units. They laughed! "
        "Was it e.g. enough? Prof. X said i.e. yes."
    )
    df = spark.createDataFrame([(txt,)], "text string")
    out = split_sentences(df)
    r = out.collect()[0]
    assert r["n_sentences"] == 4
    assert r["sentences"] == [
        "Dr. Smith met Mr. Jones at 3.14 units.",
        "They laughed!",
        "Was it e.g. enough?",
        "Prof. X said i.e. yes.",
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan


def test_html_tables_nested_extraction(spark):
    """Web-table extraction (r16): case-insensitive table/tr/td|th
    walk, numeric cells sum via try_cast with headers contributing
    zero, no Python stage."""
    from amazonredshift_blueprints_spark.operators.text import (
        html_tables,
    )

    html = (
        "<p>intro</p><table><tr><th>name</th><th>qty</th></tr>"
        "<tr><td>a</td><td> 5 </td></tr>"
        "<tr><td>b</td><td>7</td></tr></table>"
        '<TABLE class="x"><TR><TD>10</TD></TR></TABLE>'
    )
    df = spark.createDataFrame([(html,), ("no tables here",)],
                               "html string")
    out = html_tables(df)
    got = {r["html"][:6]: (r["n_tables"], r["n_rows"], r["n_cells"],
                           r["cell_sum"]) for r in out.collect()}
    assert got["<p>int"] == (2, 4, 7, 22)
    assert got["no tab"] == (0, 0, 0, 0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "MapInPandas" not in plan


def test_parse_robots_directives(spark):
    """Sitemap (group-independent, NULL agent) and Crawl-delay
    (group-attached, leniently parsed) directives surface for crawl
    schedulers."""
    from amazonredshift_blueprints_spark.operators.text import (
        parse_robots_directives,
    )

    robots = spark.createDataFrame(
        [
            ("a.com",
             "Sitemap: https://a.com/sitemap.xml\n"
             "User-agent: fast\nUser-agent: *\nCrawl-delay: 2.5\n"
             "Disallow: /x\n\nUser-agent: slowbot\nCrawl-delay: 10\n"
             "Sitemap: https://a.com/other.xml"),
            ("b.com", "User-agent: *\nCrawl-delay: nonsense\n"),
        ],
        "domain string, robots_txt string",
    )
    got = {
        (r["domain"], r["agent"], r["directive"], r["value"])
        for r in parse_robots_directives(robots).collect()
    }
    assert got == {
        ("a.com", None, "sitemap", "https://a.com/sitemap.xml"),
        ("a.com", None, "sitemap", "https://a.com/other.xml"),
        ("a.com", "fast", "crawl-delay", "2.5"),
        ("a.com", "*", "crawl-delay", "2.5"),
        ("a.com", "slowbot", "crawl-delay", "10"),
    }
