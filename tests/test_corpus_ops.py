"""Corpus-build operators added in round 2: eval-set decontamination,
k-means IVF index build, per-stratum quota sampling. Value-exact parity
vs DuckDB runs via tools/parity.py (decontaminate / emb_kmeans /
sample_quota); these tests pin the semantic invariants."""

from pyspark.sql import functions as F

from mariadb_cdc_spark.functions.decontam import decontaminate
from mariadb_cdc_spark.functions.sampling import quota_sample
from mariadb_cdc_spark.functions.similarity import kmeans_assign


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ----------------------------------------------------------- decontaminate

def test_decontaminate_flags_quoted_eval_text(spark):
    ev = _df(
        spark,
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    tr = _df(
        spark,
        [
            # quotes a full eval 5-gram window
            (1, "he said the quick brown fox jumps and left"),
            # shares words but no 5-gram
            (2, "a quick dog and a lazy fox sat quietly nearby today"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(tr, ev, n=5).collect()}
    assert out[1]["contaminated"] and out[1]["n_hits"] == 1
    assert not out[2]["contaminated"] and out[2]["n_hits"] == 0
    # contamination is hits over the doc's own distinct 5-grams
    assert abs(out[1]["contamination"] - 1 / out[1]["n_ngrams"]) < 1e-9


def test_decontaminate_short_doc_whole_text_fallback(spark):
    # an eval doc shorter than n tokens is still caught when a train doc
    # IS that text (both sides fall back to the whole-text shingle)
    ev = _df(spark, [(1, "secret eval answer")], "doc_id long, text string")
    tr = _df(
        spark,
        [(2, "secret eval answer"), (3, "another tiny doc")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(tr, ev, n=5).collect()}
    assert out[2]["contaminated"]
    assert not out[3]["contaminated"]


# ------------------------------------------------------------ quota_sample

def _srcdocs(spark, per_source=25, sources=4):
    rows = [
        (s * 1000 + i, f"src{s}")
        for s in range(sources)
        for i in range(per_source)
    ]
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_quota_sample_caps_each_stratum(spark):
    d = _srcdocs(spark)
    out = quota_sample(d, "source", quota=10, key_cols=["doc_id"])
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {f"src{s}": 10 for s in range(4)}
    assert out.where(F.col("quota_rank") > 10).count() == 0


def test_quota_sample_membership_is_partitioning_invariant(spark):
    d = _srcdocs(spark)
    a = set(
        r["doc_id"]
        for r in quota_sample(d, "source", 10, ["doc_id"]).collect()
    )
    b = set(
        r["doc_id"]
        for r in quota_sample(
            d.repartition(13, "doc_id"), "source", 10, ["doc_id"]
        ).collect()
    )
    assert a == b


def test_quota_sample_prefilter_is_exact_when_enough_survive(spark):
    # prefilter keeps a prefix of the hash order, so with enough survivors
    # the top-quota set is IDENTICAL to the unfiltered run
    d = _srcdocs(spark, per_source=50)
    full = {
        (r["doc_id"], r["quota_rank"])
        for r in quota_sample(d, "source", 5, ["doc_id"]).collect()
    }
    pre = {
        (r["doc_id"], r["quota_rank"])
        for r in quota_sample(
            d, "source", 5, ["doc_id"], prefilter_bp=6000
        ).collect()
    }
    assert full == pre


# ----------------------------------------------------------- kmeans_assign

def _blobs(spark, n_per=20, dim=8):
    # two tight, well-separated blobs: one near 0, one near 100
    rows = []
    for i in range(n_per):
        rows.append((i, [float((i * 7 + d) % 3) for d in range(dim)]))
        rows.append((100 + i, [100.0 + float((i * 5 + d) % 3) for d in range(dim)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_recovers_separated_blobs(spark):
    out = kmeans_assign(_blobs(spark), k=2, iters=3).collect()
    by_blob = {}
    for r in out:
        by_blob.setdefault(r["vec_id"] >= 100, set()).add(r["cluster"])
    # each blob maps to exactly one cluster, and they differ
    assert all(len(c) == 1 for c in by_blob.values())
    assert by_blob[True] != by_blob[False]
    assert all(r["dist"] >= 0 for r in out)


def test_kmeans_deterministic_under_repartition(spark):
    d = _blobs(spark)
    a = sorted(
        (r["vec_id"], r["cluster"], r["dist"])
        for r in kmeans_assign(d, k=3, iters=2).collect()
    )
    b = sorted(
        (r["vec_id"], r["cluster"], r["dist"])
        for r in kmeans_assign(d.repartition(7), k=3, iters=2).collect()
    )
    assert a == b


def test_kmeans_assigns_every_vector_once(spark):
    d = _blobs(spark)
    out = kmeans_assign(d, k=4, iters=2)
    assert out.count() == d.count()
    assert out.select("vec_id").distinct().count() == d.count()
    assert out.where(~F.col("cluster").between(0, 3)).count() == 0


def test_kmeans_broadcast_path_matches_literal_path(spark, monkeypatch):
    """Past KMEANS_INLINE_MAX k*d values the centroids ride a 1-row
    broadcast relation instead of plan literals (the literal path has a
    codegen cliff at ~10^5 literals). Same seed => bit-identical
    assignment, and the plan must show a broadcast, not an N-row
    re-aggregation (no extra Exchange/Aggregate over the scan side)."""
    from mariadb_cdc_spark.functions import similarity as sim

    d = _blobs(spark)
    lit = sorted(
        (r["vec_id"], r["cluster"], r["dist"])
        for r in kmeans_assign(d, k=3, iters=2).collect()
    )
    monkeypatch.setattr(sim, "KMEANS_INLINE_MAX", 0)  # force broadcast path
    out = kmeans_assign(d, k=3, iters=2)
    bc = sorted(
        (r["vec_id"], r["cluster"], r["dist"]) for r in out.collect()
    )
    assert lit == bc
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan  # centroids delivered as a broadcast relation
    # zero-shuffle invariant: the assignment itself adds no Exchange beyond
    # the broadcast's own exchange
    assert "ShuffleExchange" not in plan and "hashpartitioning" not in plan


# ------------------------------------------------------------- vocab_topk

def test_vocab_topk_counts_and_tiebreak(spark):
    from mariadb_cdc_spark.functions.text import vocab_topk

    docs = spark.createDataFrame(
        [(1, "b a a"), (2, "B c a"), (3, "c")],
        "doc_id long, text string",
    )
    rows = [(r["rank"], r["token"], r["n"])
            for r in vocab_topk(docs, k=2).collect()]
    # a:3, b:2, c:2 -> top2 = a then b (count desc, token asc tiebreak)
    assert rows == [(1, "a", 3), (2, "b", 2)]


def test_vocab_topk_plan_has_no_global_sort(spark):
    from mariadb_cdc_spark.functions.text import vocab_topk

    docs = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    plan = vocab_topk(docs, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# ----------------------------------------------------- quantize_embeddings

def test_quantize_embeddings_stats(spark):
    from mariadb_cdc_spark.functions.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> scale 0, q all 0
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    r1 = out[1]
    # scale = 2/127; q = [64(round 63.5 half-up), -127, 32(round 31.75), 0]
    assert r1["n_dims"] == 4 and r1["max_abs_q"] == 127
    assert r1["sum_q"] == 64 - 127 + 32 + 0
    assert abs(r1["scale"] - round(2.0 / 127, 6)) < 1e-9
    assert r1["recon_mse"] >= 0
    r2 = out[2]
    assert r2["sum_q"] == 0 and r2["max_abs_q"] == 0 and r2["recon_mse"] == 0


# ---------------------------------------------------------- ivf_probe_topk

def test_ivf_probe_full_probe_equals_brute_force(spark):
    from mariadb_cdc_spark.functions.similarity import (
        brute_force_topk,
        ivf_probe_topk,
        kmeans_assign,
        kmeans_centroids,
    )

    d = _blobs(spark)
    asg = kmeans_assign(d, k=3, iters=2).select("vec_id", "cluster")
    cents = kmeans_centroids(d, k=3, iters=2)
    corpus = d.join(asg, "vec_id")
    q = d.where("vec_id < 3")
    # probing EVERY cluster degrades gracefully to the exact result
    full = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in ivf_probe_topk(corpus, q, cents, k=5, n_probe=3).collect()
    )
    exact = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in brute_force_topk(d, q, k=5).collect()
    )
    assert full == exact


def test_kmeans_centroids_consistent_with_assignment(spark):
    from mariadb_cdc_spark.functions.similarity import (
        ivf_probe_topk,
        kmeans_assign,
        kmeans_centroids,
    )

    d = _blobs(spark)
    asg = {r["vec_id"]: r["cluster"]
           for r in kmeans_assign(d, k=2, iters=3).collect()}
    cents = kmeans_centroids(d, k=2, iters=3)
    corpus = d.join(
        kmeans_assign(d, k=2, iters=3).select("vec_id", "cluster"), "vec_id"
    )
    # n_probe=1: each corpus vector used as a query probes ITS OWN nearest
    # centroid — which must be the cluster kmeans_assign gave it, so the
    # top neighbor list is nonempty for every query in a 2-blob corpus
    out = ivf_probe_topk(corpus, d, cents, k=1, n_probe=1).collect()
    assert len(out) == d.count()
    for r in out:
        # nearest neighbor of a blob member is a member of the same blob
        assert (r["query_id"] >= 100) == (r["neighbor_id"] >= 100)
        assert asg[r["query_id"]] == asg[r["neighbor_id"]]


# ---------------------------------------------------------- unigram LM

def test_unigram_logprob_hand_case(spark):
    import math

    from mariadb_cdc_spark.functions.text import unigram_logprob

    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "b")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in unigram_logprob(docs).collect()}
    # counts: a=3, b=1, total=4
    assert out[1]["n_tokens"] == 3
    assert abs(out[1]["bits_per_token"] - (-math.log2(3 / 4))) < 1e-6
    assert abs(out[2]["bits_per_token"] - 2.0) < 1e-6
    # rare-token docs carry more bits/token than common-token docs
    assert out[2]["bits_per_token"] > out[1]["bits_per_token"]


# ------------------------------------------------------ keep_best_duplicates

def test_keep_best_keeps_highest_metric_with_id_tiebreak(spark):
    from mariadb_cdc_spark.functions.dedup import keep_best_duplicates

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, canonical_id long",
    )
    q = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 4)],
        "doc_id long, n_tokens long",
    )
    out = {r["doc_id"]: r for r in keep_best_duplicates(comp, q).collect()}
    # group 1: docs 2 and 3 tie on 9 tokens -> smaller id (2) wins
    assert out[1]["keep_id"] == 2 and not out[1]["kept"]
    assert out[2]["kept"] and out[3]["keep_id"] == 2
    # group 10: tie -> smaller id
    assert out[10]["kept"] and out[11]["keep_id"] == 10
    # exactly one survivor per group
    assert sum(1 for r in out.values() if r["kept"]) == 2


# ----------------------------------------------- media poison containment

def test_corrupt_media_payloads_emit_null_rows_not_task_failure(spark):
    from mariadb_cdc_spark.functions.multimodal import (
        audio_features,
        encode_ppm,
        encode_wav,
        image_stats,
        png_stats,
    )
    import numpy as np

    good_wav = encode_wav(np.array([100, -100, 100, -100]), 8000)
    good_ppm = encode_ppm(np.zeros((4, 4, 3), dtype=np.uint8))
    media = spark.createDataFrame(
        [
            (1, "audio", "audio/wav", bytearray(good_wav)),
            (2, "audio", "audio/wav", bytearray(b"RIFFgarbage")),
            (3, "image", "image/x-portable-pixmap", bytearray(good_ppm)),
            (4, "image", "image/x-portable-pixmap", bytearray(b"P6 bad")),
            (5, "image", "image/png", bytearray(b"\x89PNG\r\n\x1a\nnope")),
        ],
        "media_id long, kind string, mime string, payload binary",
    )
    au = {r["media_id"]: r for r in audio_features(media).collect()}
    assert au[1]["sample_rate"] == 8000
    assert au[2]["sample_rate"] is None and au[2]["rms"] is None
    im = {r["media_id"]: r for r in image_stats(media).collect()}
    assert im[3]["n_pixels"] == 16
    assert im[4]["width"] is None
    pg = {r["media_id"]: r for r in
          png_stats(media.where("media_id = 5")).collect()}
    assert pg[5]["sum_r"] is None


def test_bm25_hand_case(spark):
    """BM25 against hand-computed scores (k1=1.2, b=0.75,
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)))."""
    import math

    from mariadb_cdc_spark.functions.text import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "cat dog cat"),
            (2, "dog dog dog dog"),
            (3, "bird"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bm25 for r in bm25_scores(docs, ["cat"]).collect()}
    # N=3, df(cat)=1, avgdl=(3+4+1)/3
    idf = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))
    dl, avgdl, tf = 3, 8 / 3, 2
    expect = idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    assert out == {1: round(expect, 4)}  # docs without the term filtered


def test_bm25_topk_and_tiebreak(spark):
    from mariadb_cdc_spark.functions.text import bm25_scores

    docs = spark.createDataFrame(
        [(i, "same text here") for i in range(10)],
        "doc_id long, text string",
    )
    out = bm25_scores(docs, ["same"], top_k=3).collect()
    assert [r.doc_id for r in out] == [0, 1, 2]  # equal scores: id asc


# ------------------------------------------------------------- BPE (r4)


def _bpe_reference(texts, num_merges):
    """Sequential pure-Python BPE (Sennrich ACL 2016), same tie-break as
    the engine: max count, then lexicographically smallest (a, b)."""
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split() if w)
    words = {w: tuple(w) for w in wc}
    merges = []
    for _ in range(num_merges):
        pc = Counter()
        for w, syms in words.items():
            n = wc[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        out = {}
        for w, syms in words.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            out[w] = tuple(res)
        words = out
    return merges


def test_learn_bpe_matches_sequential_reference(spark):
    """Exact merge-sequence agreement with the sequential reference on a
    deterministic pseudo-random corpus (incl. repeated-char words that
    exercise the greedy non-overlapping rule), plus tokenizer round-trip
    properties: concatenation restores the words, and tokenizing the
    training corpus uses only learned merges or single chars."""
    import random

    from mariadb_cdc_spark.functions.bpe import apply_bpe, learn_bpe

    rng = random.Random(7)
    vocab = ["aaa", "aaaa", "banana", "low", "lower", "newest", "widest",
             "ababab", "xyz", "xxyyzz"]
    texts = [
        " ".join(rng.choices(vocab, k=rng.randint(3, 12))) for _ in range(60)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    want = _bpe_reference(texts, 24)
    got = learn_bpe(docs, num_merges=24, checkpoint_every=5)
    assert got == want

    toks = apply_bpe(docs, got).select("doc_id", "text", "bpe_tokens")
    for r in toks.collect():
        assert "".join(r["bpe_tokens"]) == r["text"].replace(" ", "")
    # compression actually happened: far fewer tokens than characters
    one = toks.first()
    assert len(one["bpe_tokens"]) < len(one["text"].replace(" ", ""))


def test_learn_bpe_stops_when_exhausted(spark):
    from mariadb_cdc_spark.functions.bpe import learn_bpe

    docs = spark.createDataFrame([(0, "ab ab")], "doc_id long, text string")
    merges = learn_bpe(docs, num_merges=50)
    assert merges == [("a", "b")]


def test_learn_bpe_batched_rounds_and_equivalence(spark):
    """batch_k>1 must (1) cut pair-count jobs to ~num_merges/k rounds,
    (2) agree exactly with the sequential reference when the top pairs are
    independent, and (3) resolve chained conflicts (shared symbols) by
    deferring the dependent pair to the next round — which reproduces the
    sequential order."""
    from mariadb_cdc_spark.functions.bpe import learn_bpe

    # disjoint top pairs: six 2-char words with strictly ordered counts
    rows = []
    did = 0
    for w, n in [("ab", 60), ("cd", 50), ("ef", 40), ("gh", 30),
                 ("ij", 20), ("kl", 10)]:
        for _ in range(n):
            rows.append((did, w))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    seq = learn_bpe(docs, num_merges=6, batch_k=1)
    merges, stats = learn_bpe(
        docs, num_merges=6, batch_k=4, return_stats=True
    )
    assert merges == seq == [
        ("a", "b"), ("c", "d"), ("e", "f"), ("g", "h"), ("i", "j"),
        ("k", "l"),
    ]
    assert stats["rounds"] == 2  # ceil(6/4), not 6

    # chained conflict: "abc" makes (a,b) and (b,c) share 'b'; the batch
    # takes only (a,b), the next round merges (ab,c) — sequential order
    docs2 = spark.createDataFrame(
        [(i, "abc") for i in range(10)], "doc_id long, text string"
    )
    seq2 = learn_bpe(docs2, num_merges=2, batch_k=1)
    got2 = learn_bpe(docs2, num_merges=2, batch_k=8)
    assert got2 == seq2 == [("a", "b"), ("ab", "c")]


def test_learn_bpe_batched_separator_symbols_match_sequential(spark):
    """Symbols holding the batch map's \\x1f separator merge alone. Before
    that, the round batching (d, d\\x1fd) also rewrote the adjacent pair
    [d\\x1fd, d] (both join to "d\\x1fd\\x1fd") into "dd\\x1fd", and the
    next round lost the sequential (d\\x1fd, d) merge."""
    from mariadb_cdc_spark.functions.bpe import learn_bpe

    docs = spark.createDataFrame(
        [(0, "dd\x1fd edcd"), (1, "dd\x1fd d\x1fdd \x1fddc")],
        "doc_id long, text string",
    )
    seq = learn_bpe(docs, num_merges=8, batch_k=1)
    assert seq == [
        ("\x1f", "d"), ("d", "\x1fd"), ("d", "c"), ("d", "d\x1fd"),
        ("\x1fd", "dc"), ("d\x1fd", "d"), ("dc", "d"), ("e", "dcd"),
    ]
    assert learn_bpe(docs, num_merges=8, batch_k=2) == seq


def test_learn_bpe_batched_tokenizer_roundtrip(spark):
    """Batched-learned merges still tokenize losslessly (concatenation
    restores the words) on the pseudo-random corpus."""
    import random

    from mariadb_cdc_spark.functions.bpe import apply_bpe, learn_bpe

    rng = random.Random(11)
    vocab = ["aaa", "banana", "low", "lower", "newest", "ababab", "xyz"]
    texts = [
        " ".join(rng.choices(vocab, k=rng.randint(3, 10))) for _ in range(40)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges, stats = learn_bpe(
        docs, num_merges=20, batch_k=8, return_stats=True
    )
    assert 0 < len(merges) <= 20
    assert stats["rounds"] < 20  # strictly fewer jobs than merges
    toks = apply_bpe(docs, merges).select("text", "bpe_tokens")
    for r in toks.collect():
        assert "".join(r["bpe_tokens"]) == r["text"].replace(" ", "")
