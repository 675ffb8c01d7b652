"""LLM-pipeline function tests: text metrics, dedup families, similarity,
multimodal plumbing."""

import hashlib

import pytest
from pyspark.sql import Row, functions as F

from gobblin_spark.functions import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="The quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the QUICK brown fox jumps over the lazy dog!!"),
            Row(doc_id=3, text="completely different content about spark engines"),
            Row(doc_id=4, text=None),
            Row(doc_id=5, text="   "),
        ],
        "doc_id long, text string",
    )


def test_token_counts(spark):
    df = spark.createDataFrame(
        [Row(t="a b  c"), Row(t=""), Row(t="x1, y2!")], "t string"
    )
    out = df.select(
        text.whitespace_token_count(F.col("t")).alias("ws"),
        text.bpe_ish_token_count(F.col("t")).alias("bpe"),
    ).collect()
    assert [r.ws for r in out] == [3, 0, 2]
    # 'x1, y2!' → x,1,',',y,2,'!' = 6 bpe-ish tokens
    assert [r.bpe for r in out] == [3, 0, 6]


def test_ratios_and_quality(spark):
    df = spark.createDataFrame([Row(t="ab!?"), Row(t="")], "t string")
    r = df.select(
        text.alpha_ratio(F.col("t")).alias("a"),
        text.punct_ratio(F.col("t")).alias("p"),
        text.quality_score(F.col("t")).alias("q"),
    ).collect()
    assert r[0].a == 0.5 and r[0].p == 0.5
    assert r[1].a == 0.0 and r[1].p == 0.0 and r[1].q == round(1.0 / 3, 6)


def test_lang_id_ties_alpha_first(spark):
    df = spark.createDataFrame(
        [Row(t="the cat and dog"), Row(t="der hund ist nicht da"), Row(t="zzz qqq")],
        "t string",
    )
    out = [r.l for r in df.select(text.lang_id(F.col("t")).alias("l")).collect()]
    assert out == ["en", "de", "und"]


def test_fingerprint_normalization(docs):
    fps = {
        r.doc_id: r.fp
        for r in docs.select("doc_id", text.fingerprint(F.col("text")).alias("fp")).collect()
    }
    assert fps[1] == fps[2]  # case/punct-insensitive
    assert fps[1] != fps[3]


def test_dedup_exact_nulls_are_singletons(docs):
    out = dedup.dedup_exact(docs, "doc_id", "text").collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].dup_count == 2  # doc 2 collapsed into doc 1
    assert 2 not in by_id
    assert by_id[4].dup_count == 1 and by_id[4].fp is None  # null passes through
    # blank doc normalizes to '' → still fingerprinted (a real value)
    assert by_id[5].dup_count == 1


def test_word_shingles_no_empty(docs):
    sh = text.word_shingles(docs, "text", 3)
    assert sh.filter(F.col("doc_id").isin(4, 5)).count() == 0
    assert sh.filter(F.col("doc_id") == 1).count() > 0


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    rows = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert rows == [(1, 2)]


def test_ngram_jaccard_max_doc_freq_guardrail(docs):
    # dropping every shingle (df<=0 impossible → keep none) yields no pairs
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.1, max_doc_freq=1
    )
    # shingles shared by docs 1+2 have doc_freq 2 > 1 → intersection empty
    assert pairs.count() == 0


def test_minhash_lsh_finds_near_dup(docs):
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.8
    )
    rows = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert (1, 2) in rows


def test_simhash_near_dup(docs):
    pairs = dedup.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3)
    rows = [(r.id_a, r.id_b) for r in pairs.collect()]
    assert (1, 2) in rows


def test_md5_60_matches_python(spark):
    import hashlib

    df = spark.createDataFrame([("hello world",), ("", ), ("Gobblin",)], ["s"])
    got = {r.s: r.h for r in df.select("s", dedup.md5_60("s").alias("h")).collect()}
    for s in got:
        assert got[s] == int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_md5_variants_find_near_dup(docs):
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.8,
        base_hash="md5_60", band_key="concat",
    )
    assert (1, 2) in [(r.id_a, r.id_b) for r in pairs.collect()]
    spairs = dedup.simhash_near_dup_pairs(
        docs, "doc_id", "text", max_hamming=3, base_hash="md5_60", bits=60
    )
    assert (1, 2) in [(r.id_a, r.id_b) for r in spairs.collect()]


@pytest.fixture(scope="module")
def vectors(spark):
    return spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=2, embedding=[0.99, 0.1, 0.0]),
            Row(vec_id=3, embedding=[0.0, 1.0, 0.0]),
            Row(vec_id=4, embedding=[0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )


def test_cosine_topk_exact(vectors):
    out = similarity.cosine_topk(
        vectors.filter(F.col("vec_id") == 1), vectors, "vec_id", "embedding", k=2
    ).collect()
    assert [(r.neighbor_id, r.rank) for r in out] == [(2, 1), (3, 2)]
    assert out[0].cosine > 0.99


def test_embedding_near_dup_pairs(vectors):
    pairs = similarity.embedding_near_dup_pairs(
        vectors, "vec_id", "embedding", dim=3, threshold=0.95, n_planes=8, bands=4
    ).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


def test_lsh_topk_contains_true_neighbor(vectors):
    out = similarity.lsh_cosine_topk(
        vectors.filter(F.col("vec_id") == 1),
        vectors,
        "vec_id",
        "embedding",
        dim=3,
        k=1,
        n_planes=8,
        bands=8,  # 1-plane bands → high recall on tiny corpus
    ).collect()
    assert out and out[0].neighbor_id == 2


def test_multimodal_metadata_matches_hashlib(docs, spark):
    media = multimodal.documents_as_media(docs.filter(F.col("doc_id") == 1))
    row = media.first()
    raw = "The quick brown fox jumps over the lazy dog".encode()
    assert row.byte_len == len(raw)
    assert row.sha256 == hashlib.sha256(raw).hexdigest()


def test_multimodal_decode_real_raises(docs):
    media = multimodal.documents_as_media(docs.limit(1))
    feats = multimodal.decode_image_features(media)
    import pytest as _pytest

    with _pytest.raises(Exception):  # NotImplementedError inside the UDF
        feats.collect()


def test_frame_sample_plan(docs):
    media = multimodal.documents_as_media(docs.filter(F.col("doc_id") == 1))
    frames = multimodal.frame_sample_plan(media, every_n_seconds=5)
    n = frames.count()
    dur = media.first().byte_len % 120 + 1
    assert n == len(range(0, dur + 1, 5))


def test_ivf_exact_when_probing_all_cells(spark, sf_dir):
    """n_probe == n_centroids degenerates to exact brute force: results
    must equal cosine_topk row for row."""
    from gobblin_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    id_col, vec_col = emb.columns[0], emb.columns[1]
    queries = emb.limit(5)
    cents = similarity.train_ivf_centroids(emb, vec_col, n_centroids=8,
                                           sample_rows=500, iters=5)
    exact = similarity.cosine_topk(queries, emb, id_col, vec_col, k=3).collect()
    ivf = similarity.ivf_topk(queries, emb, id_col, vec_col, k=3,
                              centroids=cents, n_probe=len(cents)).collect()
    key = lambda rows: sorted((r.query_id, r.rank, r.neighbor_id) for r in rows)
    assert key(ivf) == key(exact)


def test_ivf_probe_prunes_but_finds_close_neighbor(vectors):
    """A near-identical vector lands in the same cell, so even 1-probe
    search finds it."""
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    out = similarity.ivf_topk(
        vectors.filter(F.col("vec_id") == 1), vectors, "vec_id", "embedding",
        k=1, centroids=cents, n_probe=1,
    ).collect()
    assert [(r.query_id, r.neighbor_id) for r in out] == [(1, 2)]


def test_ivf_assign_one_cell_per_vector(vectors):
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    inv = similarity.ivf_assign(vectors, "vec_id", "embedding", cents).collect()
    assert len(inv) == 4
    cells = {r.vec_id: r.cell for r in inv}
    assert cells[1] == 0 and cells[2] == 0 and cells[3] == 1


def test_redact_pii(spark):
    from gobblin_spark.functions import text as T

    df = spark.createDataFrame(
        [(1, "write to bob.smith+x@corp.io or call +1 (415) 555-0199 now"),
         (2, "server at 192.168.0.12 responded"),
         (3, "no pii here")],
        "id INT, t STRING")
    out = {r.id: r.red for r in df.select(
        "id", T.redact_pii(F.col("t")).alias("red")).collect()}
    assert out[1] == "write to <EMAIL> or call <PHONE> now"
    assert out[2] == "server at <IP> responded"
    assert out[3] == "no pii here"


def test_repetition_ratio(spark):
    from gobblin_spark.functions import text as T

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, ""), (4, None), (5, "x x y y")],
        "id INT, t STRING")
    out = {r.id: r.rr for r in df.select(
        "id", F.round(T.repetition_ratio(F.col("t")), 4).alias("rr")
    ).collect()}
    assert out[1] == 0.75   # 1 distinct of 4
    assert out[2] == 0.0
    assert out[3] == 0.0 and out[4] == 0.0
    assert out[5] == 0.5


def test_gopher_quality_rules(spark):
    """Gopher filter rules (Rae et al. 2021): each rule individually
    rejects its pathological document; a normal document passes."""
    good = ("the quick brown foxes have been jumping over many lazy dogs "
            "and that fact should surprise nobody with working eyes today")
    df = spark.createDataFrame(
        [
            (1, good),                               # passes
            (2, "tiny doc"),                         # too few words
            (3, "### " * 20 + good),                 # symbol ratio
            (4, ("1 2 3 4 5 6 7 8 9 10 " * 3) + "the have"),  # alpha ratio
            (5, None),                               # null → empty → fails
        ],
        "id int, text string")
    out = {r.id: r.ok for r in df.select(
        "id", text.gopher_quality_pass(F.col("text"), min_words=10)
        .alias("ok")).collect()}
    assert out == {1: True, 2: False, 3: False, 4: False, 5: False}

    m = text.gopher_quality_metrics(F.lit(good))
    row = spark.range(1).select(
        m["word_count"].alias("wc"), m["stopword_hits"].alias("sh")).first()
    assert row.wc == 21 and row.sh >= 2


def test_contamination_check(spark):
    from gobblin_spark.functions import dedup as D

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "totally different words here")],
        "doc_id INT, text STRING")
    bench = spark.createDataFrame(
        [("quick brown fox ran",)], "text STRING")
    out = {r.doc_id: r for r in D.contamination_check(
        docs, bench, "doc_id", "text", n=2).collect()}
    # doc 1 bigrams: {the quick, quick brown, brown fox, fox jumps};
    # bench has {quick brown, brown fox, fox ran} → overlap 2/4
    assert out[1].n_shingles == 4 and out[1].n_overlap == 2
    assert abs(out[1].overlap_ratio - 0.5) < 1e-9
    assert out[2].n_overlap == 0


def test_semantic_dedup_survivors(spark):
    from gobblin_spark.functions import similarity as S

    # two identical vectors + one orthogonal: the duplicate's greater id drops
    rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")
    kept = sorted(r.vec_id for r in S.semantic_dedup_survivors(
        emb, "vec_id", "embedding", dim=4, threshold=0.99).collect())
    assert kept == [1, 3]


def test_perplexity_prefers_in_domain_text(spark):
    from gobblin_spark.functions import text as TX

    train = spark.createDataFrame(
        [(i, "the cat sat on the mat " * 5) for i in range(10)],
        "doc_id long, text string")
    lm = TX.unigram_lm(train)
    score = spark.createDataFrame(
        [(100, "the cat sat on the mat"),
         (101, "zyx qwv jjkl plmo zzzz xxxx")],  # all OOV
        "doc_id long, text string")
    out = {r.doc_id: r.neg_logprob for r in
           TX.perplexity_scores(score, lm).collect()}
    assert out[100] < out[101]  # fluent in-domain text scores lower
    # token counts are exact
    nt = {r.doc_id: r.n_tokens for r in
          TX.perplexity_scores(score, lm).collect()}
    assert nt == {100: 6, 101: 6}


def test_classifier_score_known_weights(spark):
    """With an explicit weight table the mean-pooled sigmoid score is
    exact; unknown tokens contribute zero."""
    import math

    from gobblin_spark.functions import text as T

    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "unknown words only")],
        "doc_id int, text string")
    weights = spark.createDataFrame(
        [("good", 1.0), ("bad", -0.5)], "word string, weight double")
    out = {r.doc_id: r for r in T.classifier_score(docs, weights).collect()}
    z1 = (1.0 + 1.0 - 0.5) / 3
    assert abs(out[1].score - round(1 / (1 + math.exp(-z1)), 6)) < 1e-9
    assert out[1].label
    assert abs(out[2].score - 0.5) < 1e-9  # all-unknown → z=0 → 0.5
    assert out[2].label  # 0.5 >= 0.5


def test_hashed_pseudo_weights_deterministic_range(spark):
    from gobblin_spark.functions import text as T

    vocab = spark.createDataFrame(
        [("alpha",), ("beta",), ("alpha",)], "word string")
    rows = T.hashed_pseudo_weights(vocab.distinct()).collect()
    assert len(rows) == 2
    for r in rows:
        assert -1.0 <= r.weight <= 1.0
    again = {r.word: r.weight
             for r in T.hashed_pseudo_weights(vocab.distinct()).collect()}
    assert all(again[r.word] == r.weight for r in rows)


def test_chunk_token_windows_shapes(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g"), Row(doc_id=2, text="x")],
        "doc_id long, text string",
    )
    out = text.chunk_token_windows(df, window=3, stride=2)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # 7 tokens, stride 2 -> starts 0,2,4,6 -> 4 chunks; last is partial
    assert sorted(k for k in rows if k[0] == 1) == [(1, i) for i in range(4)]
    assert [rows[(1, i)].n_tokens for i in range(4)] == [3, 3, 3, 1]
    import hashlib as _h
    assert rows[(1, 0)].chunk_hash == _h.md5(b"a b c").hexdigest()
    assert rows[(1, 3)].chunk_hash == _h.md5(b"g").hexdigest()
    # single-token doc -> exactly one chunk
    assert rows[(2, 0)].n_tokens == 1


def test_chunk_token_windows_overlap(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(str(i) for i in range(100)))],
        "doc_id long, text string",
    )
    out = text.chunk_token_windows(df, window=64, stride=48).collect()
    # starts 0,48,96: two full-ish windows + one 4-token tail
    assert [r.n_tokens for r in sorted(out, key=lambda r: r.chunk_idx)] == [
        64, 52, 4]


def test_dedup_keep_best_prefers_high_score(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="same doc", score=0.2),
            Row(doc_id=2, text="same doc", score=0.9),
            Row(doc_id=3, text="same doc", score=0.9),
            Row(doc_id=4, text="other", score=0.1),
            Row(doc_id=5, text=None, score=0.5),
            Row(doc_id=6, text=None, score=0.6),
        ],
        "doc_id long, text string, score double",
    )
    out = {r.doc_id: r for r in
           dedup.dedup_keep_best(df, "doc_id", "text", "score").collect()}
    # highest score wins; doc_id ASC breaks the 2-vs-3 tie
    assert set(out) == {2, 4, 5, 6}
    assert out[2].dup_count == 3
    # null-text docs survive as singletons, never merged together
    for i in (5, 6):
        assert out[i].fp is None and out[i].dup_count == 1


def test_minhash_probe_corpus_matches_pair_search(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=2, text="an entirely different document about spark shuffles"),
        Row(doc_id=3, text="the quick brown fox jumps over the lazy dog tonight"),
        Row(doc_id=4, text="unrelated text with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus, new = df.filter("doc_id <= 2"), df.filter("doc_id >= 3")
    sigs = dedup.minhash_signatures(corpus, "doc_id", "text", num_perm=16)
    hits = dedup.minhash_probe_corpus(
        new, sigs, "doc_id", "text", num_perm=16, bands=8, threshold=0.3
    ).collect()
    # doc 3 is a near-dup of corpus doc 1; doc 4 matches nothing
    assert {(r.new_id, r.corpus_id) for r in hits} == {(3, 1)}
    # parity with the batch pair search restricted to the split
    pairs = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", num_perm=16, bands=8, threshold=0.3
    ).collect()
    cross = {(max(r.id_a, r.id_b), min(r.id_a, r.id_b))
             for r in pairs if (r.id_a <= 2) != (r.id_b <= 2)}
    assert cross == {(r.new_id, r.corpus_id) for r in hits}


def test_minhash_probe_from_stored_signature_table(spark, tmp_path):
    """The production workflow: corpus signatures written to parquet
    once, read back later to probe a new batch — results must equal
    probing the in-memory signature frame."""
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=2, text="an entirely different document about spark shuffles"),
        Row(doc_id=3, text="the quick brown fox jumps over the lazy dog tonight"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus, new = df.filter("doc_id <= 2"), df.filter("doc_id = 3")
    sigs = dedup.minhash_signatures(corpus, "doc_id", "text", num_perm=16)
    store = str(tmp_path / "corpus_sigs")
    sigs.write.parquet(store)
    stored = spark.read.parquet(store)
    live = dedup.minhash_probe_corpus(
        new, sigs, "doc_id", "text", num_perm=16, bands=8, threshold=0.3
    ).collect()
    replay = dedup.minhash_probe_corpus(
        new, stored, "doc_id", "text", num_perm=16, bands=8, threshold=0.3
    ).collect()
    key = lambda r: (r.new_id, r.corpus_id, r.n_agree)
    assert sorted(map(key, live)) == sorted(map(key, replay))
    assert {(r.new_id, r.corpus_id) for r in replay} == {(3, 1)}


def test_bigram_perplexity_known_values(spark):
    import math

    train = spark.createDataFrame(
        [Row(doc_id=1, text="a b c a b"), Row(doc_id=2, text="a b x")],
        "doc_id long, text string",
    )
    lm, pre, v = text.bigram_lm(train)
    assert {(r.w1, r.w2): r.n for r in lm.collect()} == {
        ("a", "b"): 3, ("b", "c"): 1, ("b", "x"): 1, ("c", "a"): 1}
    score = spark.createDataFrame(
        [Row(doc_id=10, text="a b c"), Row(doc_id=11, text="z z"),
         Row(doc_id=12, text="solo"), Row(doc_id=13, text="")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           text.bigram_perplexity_scores(score, lm, pre, v).collect()}
    # V=4: p(b|a)=3.5/5.5, p(c|b)=1.5/4.5; unseen prefix z -> 0.5/2.5
    exp10 = round((-math.log(3.5 / 5.5) - math.log(1.5 / 4.5)) / 2, 6)
    assert out[10].neg_logprob == exp10 and out[10].n_bigrams == 2
    assert out[11].neg_logprob == round(-math.log(0.5 / 2.5), 6)
    # <2-token docs have no bigrams and drop out
    assert set(out) == {10, 11}


def test_chunk_token_windows_grid_invariants(spark):
    """Exhaustive over doc lengths 0..200 (window 16, stride 5): chunk
    count matches the stride grid, every chunk is non-empty and at
    most window tokens, tokens are fully covered, and adjacent chunks
    overlap by window - stride."""
    W, S_ = 16, 5
    rows = [Row(doc_id=n, text=" ".join(f"t{i}" for i in range(n)))
            for n in range(0, 201)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.chunk_token_windows(df, window=W, stride=S_)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for n in range(0, 201):
        chunks = sorted(by_doc[n], key=lambda r: r.chunk_idx)
        # split('') yields one empty token, so n=0 behaves like n=1
        eff = max(n, 1)
        expected_starts = list(range(0, max(eff - 1, 0) + 1, S_))
        assert [c.chunk_idx for c in chunks] == list(range(len(expected_starts)))
        sizes = [c.n_tokens for c in chunks]
        assert all(1 <= s <= W for s in sizes)
        # coverage: sizes reconstruct the token count exactly
        covered = set()
        for start, size in zip(expected_starts, sizes):
            assert size == min(W, eff - start)
            covered.update(range(start, start + size))
        assert covered == set(range(eff))


def test_simhash_probe_corpus_matches_pair_search(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=2, text="an entirely different document about spark shuffles"),
        Row(doc_id=3, text="the quick brown fox jumps over the lazy dog tonight"),
        Row(doc_id=4, text="wholly unrelated text with zero token overlap here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus, new = df.filter("doc_id <= 2"), df.filter("doc_id >= 3")
    hashes = dedup.simhash64(corpus, "doc_id", "text")
    # max_hamming > 3 is best-effort (4-chunk pigeonhole is complete
    # only to 3) — opted in explicitly; the parity property is that
    # probe and pair search are partial IN THE SAME WAY
    hits = dedup.simhash_probe_corpus(
        new, hashes, "doc_id", "text", max_hamming=10,
        allow_partial=True).collect()
    pairs = dedup.simhash_near_dup_pairs(
        df, "doc_id", "text", max_hamming=10,
        allow_partial=True).collect()
    cross = {(max(r.id_a, r.id_b), min(r.id_a, r.id_b)): r.hamming
             for r in pairs if (r.id_a <= 2) != (r.id_b <= 2)}
    assert {(r.new_id, r.corpus_id): r.hamming for r in hits} == cross
    assert (3, 1) in cross  # the near-dup is found through the store


def test_tfidf_cosine_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta"),
            Row(doc_id=2, text="alpha beta gamma delta"),
            Row(doc_id=3, text="epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.cosine
             for r in text.tfidf_cosine_pairs(df, threshold=0.5).collect()}
    # identical docs -> cosine exactly 1; disjoint docs -> no pair
    assert pairs == {(1, 2): 1.0}


def test_dedup_keep_best_order_invariant(spark):
    rows = [Row(doc_id=i, text="dup" if i % 2 else "other%d" % i,
                score=float(i % 7) / 10) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, score double")
    a = {r.doc_id for r in
         dedup.dedup_keep_best(df, "doc_id", "text", "score").collect()}
    shuffled = df.repartition(13).sortWithinPartitions(F.desc("doc_id"))
    b = {r.doc_id for r in
         dedup.dedup_keep_best(shuffled, "doc_id", "text", "score").collect()}
    assert a == b, "argmax winners must not depend on physical row order"


def test_chunk_token_windows_whitespace_variants(spark):
    """Tabs / repeated spaces / newlines all split as one separator —
    chunk hashes must match the single-space equivalent."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b\tc\nd   e"),
         Row(doc_id=2, text="a b c d e")],
        "doc_id long, text string",
    )
    out = text.chunk_token_windows(df, window=3, stride=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_hash))
    assert sorted(by_doc[1]) == sorted(by_doc[2])


def test_perplexity_tiers_cover_corpus(spark, sf_dir):
    from gobblin_spark import queries as Q

    rows = Q.text_perplexity_tiers(spark, sf_dir).collect()
    tiers = {}
    for r in rows:
        tiers.setdefault(r.tier, []).append(r.neg_logprob)
    assert set(tiers) == {"head", "middle", "tail"}
    # tier boundaries are ordered: every head score <= every tail score
    assert max(tiers["head"]) <= min(tiers["tail"])
    # thirds within one doc of each other modulo quantile ties
    sizes = sorted(len(v) for v in tiers.values())
    assert sizes[-1] - sizes[0] <= max(3, len(rows) // 10)


def test_kmeans_recovers_separated_clusters(spark):
    """Three well-separated blobs: every point must land with its
    blob's seed regardless of which blob ids seed which cluster."""
    import random

    rng = random.Random(3)
    blobs = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    rows = []
    for i in range(90):
        b = i % 3
        rows.append((i, [c + rng.uniform(-0.5, 0.5) for c in blobs[b]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.kmeans_fit_predict(
        df, "vec_id", "embedding", k=3, iterations=3)
    got = {r.vec_id: r.cluster for r in out.collect()}
    # same blob -> same cluster, different blob -> different cluster
    for i in range(90):
        assert got[i] == got[i % 3], (i, got[i], got[i % 3])
    assert len({got[0], got[1], got[2]}) == 3


def test_kmeans_deterministic_and_bounded(spark, sf_dir):
    from gobblin_spark.sources.files import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    a = similarity.kmeans_fit_predict(emb, "vec_id", "embedding",
                                      k=4, iterations=2).collect()
    b = similarity.kmeans_fit_predict(emb, "vec_id", "embedding",
                                      k=4, iterations=2).collect()
    assert sorted((r.vec_id, r.cluster) for r in a) == \
        sorted((r.vec_id, r.cluster) for r in b)
    assert {r.cluster for r in a} <= set(range(4))
    assert len(a) == emb.count()


def _semantic_dedup_column_ref(corpus, id_col, vec_col, k, threshold,
                               iterations=2):
    """Reference for semantic_dedup_clustered's BLAS gram pair step: the
    same k-means assignment and unit vectors, then a Column self-join
    within each cluster and a dot fold per pair (id_a < id_b); the
    greater id of every pair at/above the threshold is dropped."""
    from gobblin_spark.functions.similarity import _dot, _norm

    assigned = similarity.kmeans_fit_predict(
        corpus, id_col, vec_col, k, iterations, _with_vectors=True)
    vecs = assigned.withColumn("_n", _norm(F.col("_e"))).select(
        id_col, "cluster",
        F.when(F.col("_n") > 0,
               F.transform("_e", lambda x: x / F.col("_n")))
        .otherwise(F.transform("_e", lambda x: F.lit(0.0))).alias("_u"))
    a = vecs.select(F.col(id_col).alias("id_a"),
                    F.col("_u").alias("ua"), "cluster")
    b = vecs.select(F.col(id_col).alias("id_b"),
                    F.col("_u").alias("ub"), "cluster")
    dropped = (
        a.join(b, "cluster").filter(F.col("id_a") < F.col("id_b"))
        .filter(_dot(F.col("ua"), F.col("ub")) >= threshold)
        .select(F.col("id_b").alias(id_col)).distinct()
    )
    return corpus.select(id_col).join(dropped, id_col, "left_anti")


def test_semantic_dedup_clustered_drops_planted_dup(spark):
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    rows.append((100, list(rows[0][1])))  # exact duplicate of id 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r.vec_id for r in similarity.semantic_dedup_clustered(
        df, "vec_id", "embedding", k=4, iterations=2, threshold=0.999
    ).collect()}
    assert 0 in kept and 100 not in kept
    assert len(kept) == 40
    ref = _semantic_dedup_column_ref(df, "vec_id", "embedding", k=4,
                                     threshold=0.999)
    assert kept == {r.vec_id for r in ref.collect()}


def test_quantize_int8_invariants(spark):
    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),      # all-zero vector
        (3, [127.0, -63.5, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in similarity.quantize_int8(
        df, "embedding").collect()}
    assert out[1].qvec == [64, -127, 32, 0]          # round(x*127/max)
    assert out[2].qvec == [0, 0, 0, 0] and out[2].scale == 0.0
    assert out[3].qvec == [127, -64, 0, 1]
    assert abs(out[3].scale - 1.0) < 1e-12
    # dequantized cosine stays close on real embeddings
    from gobblin_spark.sources.files import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    q = similarity.quantize_int8(emb, "embedding")
    # quantize_int8 is withColumn-style: raw + codes in the same row
    err = q.select(
        similarity.cosine(
            F.col("embedding"),
            F.transform("qvec", lambda x: x.cast("double") * F.col("scale")),
        ).alias("c")
    ).agg(F.min("c")).first()[0]
    assert err > 0.999  # SQ8 self-cosine barely moves


def test_bpe_learn_and_tokenize_roundtrip(spark):
    from gobblin_spark.functions.text import (
        bpe_segment_word, bpe_tokenize, learn_bpe_merges)

    rows = [(i, "the cat sat on the mat the cat") for i in range(20)]
    rows += [(100 + i, "dogs chase the cat") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = learn_bpe_merges(df, "text", num_merges=50, sample_rows=100)
    assert merges, "high-frequency corpus must learn merges"
    # 'the' is the most frequent word: it must end up a single unit
    ranks = {p: i for i, p in enumerate(merges)}
    assert bpe_segment_word("the", ranks) == ["the</w>"]
    out = bpe_tokenize(df, "text", merges).collect()
    for r in out:
        # concatenating subwords and stripping markers recovers the text
        joined = "".join(r.bpe_tokens).replace("</w>", " ").strip()
        assert joined == r.text
    # determinism across calls
    merges2 = learn_bpe_merges(df, "text", num_merges=50, sample_rows=100)
    assert merges == merges2


def test_audio_segment_plan_bounds(docs):
    media = multimodal.documents_as_media(docs.filter(F.col("doc_id") == 1))
    segs = multimodal.audio_segment_plan(media, 10, 2).collect()
    dur = media.first().byte_len % 120 + 1
    starts = [r.seg_start for r in segs]
    assert starts == list(range(0, dur, 8))
    for r in segs:
        assert r.seg_end == min(r.seg_start + 10, dur)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.audio_segment_plan(media, 5, 5)


def test_compression_ratio_matches_zlib(spark):
    import zlib

    rows = [(1, "abc " * 100), (2, "x"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.compression_ratio(
        df, "text").collect()}
    for i, t in [(1, "abc " * 100), (2, "x")]:
        b = t.encode()
        assert out[i].zlib_raw_len == len(b)
        assert out[i].zlib_comp_len == len(zlib.compress(b, 6))
        assert out[i].zlib_ratio_ppm == \
            len(zlib.compress(b, 6)) * 1000000 // len(b)
    assert out[3].zlib_raw_len is None and out[3].zlib_ratio_ppm is None
    # repetitive text compresses much harder than high-entropy text
    assert out[1].zlib_ratio_ppm < 200000


def test_hashed_embedding_exact_and_composable(spark):
    import hashlib as _hl

    rows = [(1, "alpha beta alpha"), (2, "gamma"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.hvec for r in text.hashed_embedding(
        df, "doc_id", "text", dim=16).collect()}

    def ref(tokens):
        v = [0] * 16
        for t in tokens:
            h = int(_hl.md5(t.encode()).hexdigest()[:15], 16)
            v[h % 16] += 1 - 2 * ((h >> 4) & 1)
        return v

    assert out[1] == ref(["alpha", "beta", "alpha"])
    assert out[2] == ref(["gamma"])
    assert 3 not in out  # null text emits no vector
    # power-of-two guard
    import pytest as _pt
    with _pt.raises(ValueError):
        text.hashed_embedding(df, "doc_id", "text", dim=10)
    # composable with the similarity family: cosine of a doc with
    # itself is 1
    emb = text.hashed_embedding(df, "doc_id", "text", dim=16)
    c = emb.select(similarity.cosine(
        F.col("hvec"), F.col("hvec")).alias("c")).collect()
    assert all(abs(r.c - 1.0) < 1e-12 for r in c)


def test_wav_codec_roundtrip_pure_python():
    """encode_wav_pcm16 produces a real RIFF container the stdlib-only
    decoder (and any audio tool) reads back sample-exact."""
    for mid in (0, 7, 399, 4999):
        samples = multimodal._wav_samples(mid)
        wav = multimodal.encode_wav_pcm16(samples)
        assert wav[:4] == b"RIFF" and wav[8:12] == b"WAVE"
        rate, nch, n, s_amp, s_abs = multimodal.decode_wav_pcm16(wav)
        assert (rate, nch, n) == (8000, 1, len(samples))
        assert s_amp == sum(samples)
        assert s_abs == sum(abs(v) for v in samples)


def test_bmp_codec_roundtrip_pure_python():
    """encode_bmp24 emits a spec-valid padded bottom-up BMP; the decoder
    recovers dims and exact channel sums (incl. widths needing pad)."""
    for mid in (0, 1, 2, 3, 28, 4999):  # widths 4..32 hit all pad sizes
        bmp = multimodal.encode_bmp24(mid)
        w, h = multimodal._bmp_dims(mid)
        got = multimodal.decode_bmp24(bmp)
        exp = (
            w, h,
            sum(multimodal._bmp_pixel(mid, x, y)[0]
                for x in range(w) for y in range(h)),
            sum(multimodal._bmp_pixel(mid, x, y)[1]
                for x in range(w) for y in range(h)),
            sum(multimodal._bmp_pixel(mid, x, y)[2]
                for x in range(w) for y in range(h)),
        )
        assert got == exp


def test_ppm_decode_with_comments():
    ppm = b"P6\n# comment line\n3 2\n255\n" + bytes(range(18))
    assert multimodal.decode_ppm_p6(ppm) == (3, 2, 45, 51, 57)


def test_corrupt_negative_dims_fail_loudly():
    """audit r12: corrupt headers with negative/zero dimensions made
    every raster slice EMPTY — zero channel sums flowed on with
    nonsense dims instead of failing. Both decoders must raise."""
    import struct

    import pytest

    # PPM with a negative height (the field scan accepts '-')
    with pytest.raises(ValueError, match="bad PPM dimensions"):
        multimodal.decode_ppm_p6(b"P6\n3 -2\n255\n" + bytes(18))
    # ... and a negative maxval slipped past the `> 255` check
    # (r12 review #3)
    with pytest.raises(ValueError, match="bad PPM maxval"):
        multimodal.decode_ppm_p6(b"P6\n3 2\n-1\n" + bytes(18))
    # BMP with a negative width patched into a valid file
    bmp = bytearray(multimodal.encode_bmp24(1))
    bmp[18:22] = struct.pack("<i", -4)
    with pytest.raises(ValueError, match="bad BMP dimensions"):
        multimodal.decode_bmp24(bytes(bmp))
    # zero height is equally dead
    bmp2 = bytearray(multimodal.encode_bmp24(1))
    bmp2[22:26] = struct.pack("<i", 0)
    with pytest.raises(ValueError, match="bad BMP dimensions"):
        multimodal.decode_bmp24(bytes(bmp2))


def test_png_codec_roundtrip_matches_bmp():
    """encode_png_rgb8 emits a spec-valid DEFLATE-compressed PNG with
    mixed None/Sub/Up row filters; the decoder inflates + unfilters
    back to the SAME channel sums the BMP codec produces for the same
    id (shared pixel pattern), proving real decompression."""
    for mid in (0, 1, 2, 3, 28, 4999):
        png = multimodal.decode_png_rgb8(multimodal.encode_png_rgb8(mid))
        bmp = multimodal.decode_bmp24(multimodal.encode_bmp24(mid))
        assert png == bmp


def test_png_decode_average_paeth_and_multi_idat():
    """The unfilter path covers the filter types our encoder does NOT
    emit (Average, Paeth) and IDAT data split across chunks."""
    import struct
    import zlib

    w, h = 4, 2
    rows = [[(10, 20, 30), (40, 50, 60), (70, 80, 90), (100, 110, 120)],
            [(15, 25, 35), (45, 55, 65), (75, 85, 95), (105, 115, 125)]]
    flat = [bytearray(b for px in r for b in px) for r in rows]
    raw = bytearray()
    prev = bytearray(w * 3)
    raw.append(3)  # Average
    line = flat[0]
    for i in range(w * 3):
        a = line[i - 3] if i >= 3 else 0
        raw.append((line[i] - (a + prev[i]) // 2) & 0xFF)
    prev = line
    raw.append(4)  # Paeth
    line = flat[1]
    for i in range(w * 3):
        a = line[i - 3] if i >= 3 else 0
        b = prev[i]
        c = prev[i - 3] if i >= 3 else 0
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        raw.append((line[i] - pred) & 0xFF)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    z = zlib.compress(bytes(raw))
    payload = (b"\x89PNG\r\n\x1a\n"
               + multimodal._png_chunk(b"IHDR", ihdr)
               + multimodal._png_chunk(b"IDAT", z[:7])
               + multimodal._png_chunk(b"IDAT", z[7:])
               + multimodal._png_chunk(b"IEND", b""))
    exp = (w, h,
           sum(px[0] for r in rows for px in r),
           sum(px[1] for r in rows for px in r),
           sum(px[2] for r in rows for px in r))
    assert multimodal.decode_png_rgb8(payload) == exp


def test_jpeg_codec_flat_blocks_exact():
    """Flat 8x8 blocks are DC-only through the DCT, so the lossy format
    round-trips them EXACTLY — the property the SQL oracle relies on."""
    for mid in (0, 1, 7, 123, 4999):
        w, h = multimodal._jpeg_dims(mid)
        wb, hb = w // 8, h // 8
        exp = sum(64 * ((mid + 7 * bx + 13 * by) % 256)
                  for by in range(hb) for bx in range(wb))
        payload = multimodal.encode_jpeg_gray_pattern(mid)
        assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
        assert multimodal.decode_jpeg_gray(payload) == (w, h, exp)


def test_jpeg_codec_arbitrary_content_near_lossless():
    """At the all-ones quant table arbitrary content survives within
    ±1/pixel (DCT float rounding only) — incl. odd dims (pad + crop)
    and AC run-length paths (ZRL, mid-block EOB)."""
    import random

    rng = random.Random(7)
    for w, h in ((24, 16), (13, 9), (8, 8)):
        px = [rng.randrange(256) for _ in range(w * h)]
        gw, gh, gs = multimodal.decode_jpeg_gray(
            multimodal.encode_jpeg_gray(px, w, h))
        assert (gw, gh) == (w, h)
        assert abs(gs - sum(px)) <= w * h  # ±1 per pixel bound


def test_jpeg_decode_honest_gates():
    """Odd component counts / extended-sequential / arithmetic-coded
    JPEGs raise NotImplementedError; non-JPEG bytes and malformed
    progressive scan headers raise ValueError. (The 3-component color
    gate closed when decode_jpeg_color landed; the SOF2 gate closed
    when the progressive decoder landed.)"""
    import pytest as _pytest

    base = multimodal.encode_jpeg_gray_pattern(1)
    i = base.find(b"\xff\xc0")
    # 2-component JPEGs are neither grayscale nor YCbCr — still gated
    two = bytearray(base)
    two[i + 9] = 2
    with _pytest.raises(NotImplementedError):
        multimodal.decode_jpeg_gray(bytes(two))
    # SOF1 (extended sequential) / SOF9 (arithmetic) stay gated
    for sof in (0xC1, 0xC9):
        alt = bytearray(base)
        alt[i + 1] = sof
        with _pytest.raises(NotImplementedError):
            multimodal.decode_jpeg_gray(bytes(alt))
    # SOF2 now DECODES — but a baseline stream doctored to claim SOF2
    # is malformed (its single scan spans DC+AC, which progressive
    # forbids): ValueError, not a silent wrong decode
    prog = bytearray(base)
    prog[i + 1] = 0xC2
    with _pytest.raises(ValueError):
        multimodal.decode_jpeg_gray(bytes(prog))
    with _pytest.raises(ValueError):
        multimodal.decode_jpeg_gray(b"\x89PNG not a jpeg")


def test_jpeg_progressive_flat_blocks_exact():
    """Progressive (SOF2) decode: the flat-block pattern's AC scans
    degenerate to pure EOBn runs and the two successive-approximation
    DC passes (first at Al=1, refinement to Al=0) reassemble the
    exact DC values — same closed form as the baseline entry."""
    for mid in (0, 1, 7, 123, 4999):
        w, h = multimodal._jpeg_dims(mid)
        wb, hb = w // 8, h // 8
        exp = sum(64 * ((mid + 7 * bx + 13 * by) % 256)
                  for by in range(hb) for bx in range(wb))
        payload = multimodal.encode_jpeg_prog_pattern(mid)
        assert b"\xff\xc2" in payload  # really SOF2
        assert multimodal.decode_jpeg_gray(payload) == (w, h, exp)


def test_jpeg_progressive_bit_exact_vs_baseline():
    """The progressive scan script ends at Al=0, so the transported
    coefficients are IDENTICAL to the baseline encoding of the same
    pixels — decoded planes must match bit-for-bit (gray incl. odd
    dims, and 4:4:4 color through all six AC band/refinement scans)."""
    import random

    import numpy as np

    rng = random.Random(7)
    for w, h in ((24, 16), (13, 9), (8, 8), (17, 23)):
        px = [rng.randrange(256) for _ in range(w * h)]
        pw, ph, pp = multimodal._decode_jpeg_planes(
            multimodal.encode_jpeg_prog_gray(px, w, h))
        _, _, bp = multimodal._decode_jpeg_planes(
            multimodal.encode_jpeg_gray(px, w, h))
        assert (pw, ph) == (w, h)
        assert np.max(np.abs(pp[0] - bp[0])) < 1e-9
    rng = random.Random(3)
    w, h = 16, 16
    rgb = [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(w * h)]
    _, _, pp = multimodal._decode_jpeg_planes(
        multimodal.encode_jpeg_prog_color(rgb, w, h))
    _, _, bp = multimodal._decode_jpeg_planes(
        multimodal.encode_jpeg_color(rgb, w, h))
    for a, b in zip(pp, bp):
        assert np.max(np.abs(a - b)) < 1e-9


def test_jpeg_progressive_refinement_zrl_path():
    """Force the hardest refinement branch — a >15 zero-history run
    before a newly-significant coefficient inside the band (ZRL in an
    AC refinement scan, with buffered correction bits) — by building
    a block whose only late-zigzag coefficient quantizes to ±1. The
    construction is deterministic; the test also asserts the stream
    really contains the branch-triggering layout."""
    import numpy as np

    C = multimodal._jpeg_dct_basis()
    zz = multimodal._JPEG_ZIGZAG
    tgt = np.zeros((8, 8))
    tgt[0, 0] = -137.0
    tgt[0, 1] = 11.0
    tgt[1, 0] = -23.0
    tgt[7, 6] = 1.45  # lone late-zigzag coefficient -> quantizes to 1
    img = np.clip(np.round(C.T @ tgt @ C + 128.0), 0, 255)
    f = (C @ (img - 128.0) @ C.T).reshape(64)
    blk = [int(round(f[zz[i]])) for i in range(64)]
    ts = [abs(blk[k]) for k in range(6, 64)]
    eobpos = max((i for i, t in enumerate(ts) if t == 1), default=-1)
    run, hit = 0, False
    for i, t in enumerate(ts):
        if t == 0:
            run += 1
            continue
        if run > 15 and i <= eobpos:
            hit = True
        if t == 1:
            run = 0
    assert hit, "construction no longer triggers the ZRL-refine branch"
    px = img.reshape(-1).astype(int).tolist()
    _, _, pp = multimodal._decode_jpeg_planes(
        multimodal.encode_jpeg_prog_gray(px, 8, 8))
    _, _, bp = multimodal._decode_jpeg_planes(
        multimodal.encode_jpeg_gray(px, 8, 8))
    assert np.max(np.abs(pp[0] - bp[0])) < 1e-9


def test_jpeg_color_flat_gray_exact_and_matches_grayscale():
    """BT.601 maps r=g=b=v to Y=v, Cb=Cr=128 exactly, so flat-gray
    color JPEGs round-trip bit-exactly through the full 3-component
    pipeline and match the grayscale entry's sums."""
    for mid in (0, 1, 7, 123):
        _, _, sgray = multimodal.decode_jpeg_gray(
            multimodal.encode_jpeg_gray_pattern(mid))
        w, h, sr, sg, sb = multimodal.decode_jpeg_color(
            multimodal.encode_jpeg_color_pattern(mid))
        assert (w, h) == multimodal._jpeg_dims(mid)
        assert sr == sg == sb == sgray


def test_jpeg_color_arbitrary_rgb_near_lossless():
    import random

    rng = random.Random(3)
    w, h = 16, 16
    rgb = [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(w * h)]
    jw, jh, sr, sg, sb = multimodal.decode_jpeg_color(
        multimodal.encode_jpeg_color(rgb, w, h))
    assert (jw, jh) == (w, h)
    for ci, got in enumerate((sr, sg, sb)):
        exp = sum(p[ci] for p in rgb)
        assert abs(got - exp) <= 3 * w * h  # transform+DCT rounding


def test_jpeg_color_gates_and_routing():
    import pytest as _pytest

    # gray wrapper rejects color payloads and vice versa
    with _pytest.raises(ValueError):
        multimodal.decode_jpeg_gray(multimodal.encode_jpeg_color_pattern(1))
    with _pytest.raises(ValueError):
        multimodal.decode_jpeg_color(multimodal.encode_jpeg_gray_pattern(1))
    # 4:2:0/4:2:2 decode is REAL now; the remaining sampling gate is
    # fractional upsampling ratios (hmax not a multiple of h_i):
    # Y 3x3 with Cb 2x2 cannot be replicated-up by an integer factor
    base = bytearray(multimodal.encode_jpeg_color_pattern(1))
    i = bytes(base).find(b"\xff\xc0")
    base[i + 11] = 0x33  # Y sampling
    base[i + 14] = 0x22  # Cb sampling
    with _pytest.raises(NotImplementedError):
        multimodal.decode_jpeg_color(bytes(base))


def test_jpeg_restart_intervals_roundtrip_and_cadence_check():
    """DRI/RSTn support: restart markers byte-align the stream and
    reset DC predictors every N MCUs — decode output is identical to
    the restart-free encoding at ANY interval, and a stream whose
    marker cadence disagrees with its DRI value is rejected."""
    import random

    import pytest as _pytest

    rng = random.Random(9)
    w, h = 32, 24
    rgb = [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(w * h)]
    plain = multimodal.decode_jpeg_color(
        multimodal.encode_jpeg_color(rgb, w, h))
    for ri in (1, 2, 7):
        assert multimodal.decode_jpeg_color(
            multimodal.encode_jpeg_color(rgb, w, h,
                                         restart_interval=ri)) == plain
    # corrupt the DRI value so markers arrive off-cadence
    pay = bytearray(multimodal.encode_jpeg_color(rgb, w, h,
                                                 restart_interval=3))
    i = pay.find(b"\xff\xdd")
    pay[i + 4:i + 6] = (5).to_bytes(2, "big")
    with _pytest.raises(ValueError):
        multimodal.decode_jpeg_color(bytes(pay))


def test_jpeg_420_flat_gray_exact():
    """4:2:0 subsampling: flat-gray blocks keep chroma constant at 128
    (2x2 averaging is identity on a constant) and DC-only luma — even
    the subsampled pipeline is exact on the fixture pattern."""
    for mid in (0, 1, 5, 123):
        w, h = multimodal._jpeg420_dims(mid)
        wb, hb = w // 8, h // 8
        exp = sum(64 * ((mid + 7 * bx + 13 * by) % 256)
                  for by in range(hb) for bx in range(wb))
        jw, jh, sr, sg, sb = multimodal.decode_jpeg_color(
            multimodal.encode_jpeg_420_pattern(mid))
        assert (jw, jh, sr, sg, sb) == (w, h, exp, exp, exp)


def test_jpeg_420_arbitrary_rgb_bounded():
    """Chroma decimation is genuinely lossy on arbitrary content; the
    channel-sum drift stays small (averaging is unbiased)."""
    import random

    rng = random.Random(5)
    w, h = 32, 16
    rgb = [(rng.randrange(256), rng.randrange(256), rng.randrange(256))
           for _ in range(w * h)]
    jw, jh, sr, sg, sb = multimodal.decode_jpeg_color(
        multimodal.encode_jpeg_color_420(rgb, w, h))
    assert (jw, jh) == (w, h)
    for ci, got in enumerate((sr, sg, sb)):
        exp = sum(p[ci] for p in rgb)
        assert abs(got - exp) <= 2 * w * h  # ~0.1/px measured


def test_decode_image_features_real_jpeg_color(spark):
    """The FFD8 sniff routes color JPEGs through the 3-component
    decoder; flat-gray payloads hash identically to the grayscale
    build (equal channel sums)."""
    ids = spark.range(3).select(F.col("id").alias("doc_id"))
    color = {r.media_id: r.feature_hash
             for r in multimodal.decode_image_features(
                 multimodal.synth_media(ids, "jpeg_color")).collect()}
    gray = {r.media_id: r.feature_hash
            for r in multimodal.decode_image_features(
                multimodal.synth_media(ids, "jpeg")).collect()}
    assert color == gray


def test_media_roundtrip_features_fused_identity(spark):
    """The single-crossing fusion computes exactly the two-operator
    composition ``decode_media(synth_media(...))``, row for row, for
    every kind in the codec table."""
    import pytest as _pytest

    ids = spark.range(24).select(F.col("id").alias("doc_id"))
    for kind in sorted(multimodal._CODECS):
        fused = multimodal.media_roundtrip_features(ids, kind)
        composed = multimodal.decode_media(
            multimodal.synth_media(ids, kind), kind)
        assert fused.schema == composed.schema, kind
        assert sorted(fused.collect()) == sorted(composed.collect()), kind
    for entry in (multimodal.media_roundtrip_features,
                  multimodal.synth_media, multimodal.decode_media):
        with _pytest.raises(ValueError):
            entry(ids, "mp3")


def test_decode_image_features_real_jpeg(spark):
    """The magic sniff routes JPEG payloads to the real baseline
    decoder — dims come from the stream's SOF0, not a stub."""
    ids = spark.range(3).select(F.col("id").alias("doc_id"))
    media = multimodal.synth_media(ids, "jpeg")
    feats = {r.media_id: (r.width, r.height)
             for r in multimodal.decode_image_features(media).collect()}
    assert feats == {m: multimodal._jpeg_dims(m) for m in (0, 1, 2)}


def test_png_decode_honest_gates():
    """Non-RGB8 shapes stay NotImplementedError, bad magic ValueError."""
    import struct

    import pytest as _pytest

    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    p16 = (b"\x89PNG\r\n\x1a\n" + multimodal._png_chunk(b"IHDR", ihdr16)
           + multimodal._png_chunk(b"IEND", b""))
    with _pytest.raises(NotImplementedError):
        multimodal.decode_png_rgb8(p16)
    with _pytest.raises(ValueError):
        multimodal.decode_png_rgb8(b"JFIF not png")


def test_decode_image_features_real_bmp(spark):
    """decode_image_features now REALLY decodes BMP payloads (magic
    sniff) instead of raising — dims come from the container header."""
    ids = spark.range(3).select(F.col("id").alias("doc_id"))
    media = multimodal.synth_media(ids, "bmp")
    feats = {r.media_id: (r.width, r.height)
             for r in multimodal.decode_image_features(media).collect()}
    assert feats == {m: multimodal._bmp_dims(m) for m in (0, 1, 2)}


def test_decode_image_features_real_png(spark):
    """The magic sniff routes PNG payloads to the real zlib decoder;
    the feature hash matches the BMP build of the same pixels (the
    hash covers dims + channel sums, both container-independent)."""
    ids = spark.range(3).select(F.col("id").alias("doc_id"))
    png_feats = {r.media_id: (r.width, r.height, r.feature_hash)
                 for r in multimodal.decode_image_features(
                     multimodal.synth_media(ids, "png")).collect()}
    bmp_feats = {r.media_id: (r.width, r.height, r.feature_hash)
                 for r in multimodal.decode_image_features(
                     multimodal.synth_media(ids, "bmp")).collect()}
    assert png_feats == bmp_feats


def test_corpus_dedup_report_retired_function_values(spark, tmp_path):
    """Retired from the catalog (round 5) but still a supported recipe:
    value-check the dashboard on a CRAFTED corpus with real duplicates
    (incl. a case/punct variant that only the normalized fingerprint
    collapses), a null text, and a repeated boilerplate line — the
    numbers the dropped SQL oracle used to pin."""
    from gobblin_spark import queries as Q

    boiler = "this exact boilerplate line repeats across documents"
    rows = [
        (1, f"alpha beta gamma\n{boiler}", "en", "s1", 10),
        (2, f"ALPHA beta GAMMA!!\n{boiler}", "en", "s1", 10),  # fp-dup of 1
        (3, "totally different content here", "en", "s2", 10),
        (4, "totally different content here", "en", "s2", 10),  # exact dup
        (5, None, "en", "s2", 0),                               # null text
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    sf_dir = str(tmp_path / "sf")
    docs.write.parquet(f"{sf_dir}/documents.parquet")
    row = Q.corpus_dedup_report(spark, sf_dir).collect()[0]
    # 5 docs; fingerprints: {1,2} collapse, {3,4} collapse, null skipped
    # by count_distinct -> 2 unique
    assert row.n_docs == 5
    assert row.n_unique == 2
    assert row.n_exact_dups == 3
    assert row.dup_ppm == 3 * 1_000_000 // 5
    # the boilerplate line (>20 chars) repeats in docs 1 and 2
    assert row.n_repeated_lines >= 1


def test_dedup_keep_best_string_ids(spark):
    """Review-r6: the keep-best tie-break negates the SCORE, not the
    id — string/UUID ids must work and ties must break on min id."""
    rows = [("b", "same text", 1.0), ("a", "same text", 1.0),
            ("c", "same text", 0.5), ("z", "other", 2.0)]
    df = spark.createDataFrame(rows, "doc_id string, text string, q double")
    got = {r.doc_id: r.dup_count for r in dedup.dedup_keep_best(
        df, "doc_id", "text", "q").collect()}
    # equal top scores 'a'/'b' -> min id 'a' survives; 'z' is alone
    assert got == {"a": 3, "z": 1}


def test_simhash_guard_rejects_silent_partial(spark):
    """max_hamming > 3 without allow_partial is an error, not a
    silently incomplete pair set."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text="aa bb cc"), Row(doc_id=2, text="aa bb dd")],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="allow_partial"):
        dedup.simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=4)
    sh = dedup.simhash64(df, "doc_id", "text")
    with pytest.raises(ValueError, match="allow_partial"):
        dedup.simhash_probe_corpus(df, sh, "doc_id", "text",
                                   max_hamming=4)


def test_contamination_check_includes_blank_docs(spark):
    """One row per document now includes null/blank docs (zero rows)."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"),
         Row(doc_id=2, text=None),
         Row(doc_id=3, text="   ")],
        "doc_id long, text string")
    bench = spark.createDataFrame([Row(text="alpha beta gamma")])
    got = {r.doc_id: (r.n_shingles, r.n_overlap, r.overlap_ppm)
           for r in dedup.contamination_check(
               docs, bench, "doc_id", "text", n=1).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2] == (0, 0, 0) and got[3] == (0, 0, 0)
    assert got[1][1] > 0


def test_lsh_dim_mismatch_is_loud(spark):
    """Review-r6: a wrong `dim` nulls every plane dot (zip_with null
    padding), collapsing all vectors into one bucket — the quadratic
    blowup LSH exists to avoid. Must raise instead."""
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(4)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="8 elements"):
        similarity.embedding_near_dup_pairs(
            emb, "vec_id", "embedding", dim=16)
    with pytest.raises(ValueError, match="8 elements"):
        similarity.lsh_cosine_topk(emb, emb, "vec_id", "embedding",
                                   dim=32, k=2)


def test_semantic_dedup_blas_string_ids(spark):
    """Review-r6: the blas pair step hardcoded `id long` in its
    applyInPandas schema; string ids must work and agree with the
    Column self-join reference."""
    import math
    rows = []
    for i in range(12):
        a = math.pi * i / 6
        rows.append((f"v{i:02d}", [math.cos(a), math.sin(a)]))
    rows.append(("dup", rows[0][1]))  # exact duplicate of v00
    df = spark.createDataFrame(rows, "vid string, embedding array<double>")
    got = sorted(r.vid for r in similarity.semantic_dedup_clustered(
        df, "vid", "embedding", k=2, threshold=0.999).collect())
    ref = sorted(r.vid for r in _semantic_dedup_column_ref(
        df, "vid", "embedding", k=2, threshold=0.999).collect())
    assert got == ref
    # min-id survives: "dup" < "v00" lexicographically
    assert "v00" not in got and "dup" in got


def test_gif_codec_pattern_and_growth():
    """GIF87a LZW round trip: the per-pixel pattern is lossless
    through the palette path, and a 12k-px random image forces code
    widths through 10/11/12 bits plus mid-stream CLEAR resets."""
    import random

    # full 600-id sweep: the 9->10-bit width boundary lands on
    # data-dependent ids (13, 142, 185, 420, 506 under the original
    # insert-keyed growth rule, which this sweep caught pre-driver —
    # the fix keys growth on the code counter, giflib-style)
    for mid in range(600):
        w, h = multimodal._bmp_dims(mid)
        exp = sum((mid + 7 * x + 13 * y) % 256
                  for y in range(h) for x in range(w))
        payload = multimodal.encode_gif_gray_pattern(mid)
        assert payload[:6] == b"GIF87a" and payload[-1:] == b"\x3b"
        assert multimodal.decode_gif_gray(payload) == (w, h, exp)
    rng = random.Random(1)
    w, h = 128, 96
    px = [rng.randrange(256) for _ in range(w * h)]
    assert multimodal.decode_gif_gray(
        multimodal.encode_gif_gray(px, w, h)) == (w, h, sum(px))


def test_gif_codec_kwkwk_and_gates():
    """The KwKwK self-referential LZW case (long repeated runs) and
    the honest gates: interlace, local palettes, color palettes,
    non-GIF bytes."""
    import struct

    import pytest as _pytest

    px = [5] * 4000 + [9] * 4000 + list(range(256)) * 16
    w = 64
    h = (len(px) + w - 1) // w
    px = px + [0] * (w * h - len(px))
    assert multimodal.decode_gif_gray(
        multimodal.encode_gif_gray(px, w, h)) == (w, h, sum(px))
    base = bytearray(multimodal.encode_gif_gray_pattern(1))
    # image descriptor flags byte: 13 (header) + 768 (palette) + 9
    ifl = 13 + 768 + 9
    assert base[ifl - 9] == 0x2C
    inter = bytearray(base)
    inter[ifl] |= 0x40
    with _pytest.raises(NotImplementedError):
        multimodal.decode_gif_gray(bytes(inter))
    local = bytearray(base)
    local[ifl] |= 0x80
    with _pytest.raises(NotImplementedError):
        multimodal.decode_gif_gray(bytes(local))
    colored = bytearray(base)
    colored[13 + 3] = (colored[13 + 3] + 1) % 256  # break a gray triple
    with _pytest.raises(NotImplementedError):
        multimodal.decode_gif_gray(bytes(colored))
    with _pytest.raises(ValueError):
        multimodal.decode_gif_gray(b"NOTAGIF")


def test_wav_spectral_exact_integers():
    """FFT features with exact integer ground truth: DC bin = sum,
    Parseval energy = sum of squares, Nyquist bin = alternating sum
    (even N). Floating FFT must round-trip to the integers."""
    import numpy as np

    for mid in (0, 1, 7, 123, 4999):
        s = multimodal._wav_samples(mid)
        X = np.fft.fft(np.array(s, float))
        n = len(s)
        assert int(round(X[0].real)) == sum(s)
        assert int(round(float((abs(X) ** 2).sum()) / n)) == sum(
            v * v for v in s)
        if n % 2 == 0:
            assert int(round(X[n // 2].real)) == sum(
                v * (1 - 2 * (i % 2)) for i, v in enumerate(s))


def test_tiff_codec_both_compressions_and_gates():
    """TIFF 6.0 grayscale round trips: uncompressed AND LZW (the
    MSB-first dialect with TIFF's early-change off-by-one — width
    grows one code earlier than GIF; a 1200-id sweep pins the width
    boundaries), multi-clear and KwKwK paths, plus honest gates."""
    import random

    import pytest as _pytest

    for mid in range(600):  # even ids LZW, odd ids uncompressed
        w, h = multimodal._bmp_dims(mid)
        exp = sum((mid + 7 * x + 13 * y) % 256
                  for y in range(h) for x in range(w))
        payload = multimodal.encode_tiff_gray_pattern(mid)
        assert payload[:4] == b"II*\x00"
        assert multimodal.decode_tiff_gray(payload) == (w, h, exp)
    rng = random.Random(2)
    w, h = 128, 96
    px = [rng.randrange(256) for _ in range(w * h)]
    for lzw in (True, False):
        assert multimodal.decode_tiff_gray(
            multimodal.encode_tiff_gray(px, w, h, lzw=lzw)) == (
            w, h, sum(px))
    big = (list(range(64)) * 4000)[:256 * 256]
    assert multimodal.decode_tiff_gray(
        multimodal.encode_tiff_gray(big, 256, 256, lzw=True)) == (
        256, 256, sum(big))
    base = multimodal.encode_tiff_gray_pattern(2)
    with _pytest.raises(NotImplementedError):
        multimodal.decode_tiff_gray(b"MM\x00*" + base[4:])
    with _pytest.raises(ValueError):
        multimodal.decode_tiff_gray(b"NOTATIFF")


def test_jpeg_single_component_scan_ignores_sampling_factors():
    """T.81 A.2.2 (audit r8): a SINGLE-component scan is
    non-interleaved — the grid is ceil(w/8) x ceil(h/8) regardless of
    SOF sampling factors. jpegtran -grayscale keeps Y's 2x2 factors;
    the decode must equal the 1x1 file, not over-read into EOI."""
    import numpy as np

    from gobblin_spark.functions.multimodal import (
        _decode_jpeg_planes, encode_jpeg_gray)

    rng = np.random.RandomState(7)
    for w, h in [(16, 16), (24, 8), (19, 13)]:
        px = rng.randint(0, 256, size=(h, w)).astype(float)
        payload = bytearray(encode_jpeg_gray(px, w, h))
        i = payload.index(b"\xff\xc0")
        assert payload[i + 11] == 0x11  # cid at +10, samp at +11
        ref = _decode_jpeg_planes(bytes(payload))
        payload[i + 11] = 0x22  # claim 2x2 sampling on the lone comp
        w2, h2, planes2 = _decode_jpeg_planes(bytes(payload))
        assert (w2, h2) == (ref[0], ref[1])
        assert np.array_equal(planes2[0], ref[2][0])


def test_tiff_inline_tag_values():
    """TIFF 6.0 (audit r8): tag values whose total size fits in 4
    bytes are stored INLINE in the value field — e.g. StripByteCounts
    as SHORT count=2 — not behind an offset."""
    import struct

    from gobblin_spark.functions.multimodal import (
        decode_tiff_gray, encode_tiff_gray_pattern)

    # build a two-strip uncompressed file with SHORT count=2 inline
    # StripOffsets impossible (LONG needed) but StripByteCounts inline
    w, h = 6, 4
    pix = bytes((3 * x + 7 * y) % 256 for y in range(h) for x in range(w))
    half = w * (h // 2)
    strips = [pix[:half], pix[half:]]

    def entry(tag, typ, count, value_bytes):
        return struct.pack("<HHI", tag, typ, count) + value_bytes

    n_entries = 9
    ifd_off = 8
    data_off = ifd_off + 2 + n_entries * 12 + 4
    ifd = struct.pack("<H", n_entries)
    lv = lambda v: struct.pack("<I", v)
    sv2 = lambda a, b: struct.pack("<HH", a, b)  # two SHORTs inline
    ifd += entry(256, 4, 1, lv(w))
    ifd += entry(257, 4, 1, lv(h))
    ifd += entry(258, 3, 1, struct.pack("<H2x", 8))
    ifd += entry(259, 3, 1, struct.pack("<H2x", 1))
    ifd += entry(262, 3, 1, struct.pack("<H2x", 1))
    ifd += entry(273, 3, 2, sv2(data_off, data_off + half))  # SHORT offsets!
    ifd += entry(277, 3, 1, struct.pack("<H2x", 1))
    ifd += entry(278, 4, 1, lv(h // 2))
    ifd += entry(279, 3, 2, sv2(len(strips[0]), len(strips[1])))
    ifd += struct.pack("<I", 0)
    payload = b"II*\x00" + struct.pack("<I", ifd_off) + ifd + b"".join(strips)
    assert decode_tiff_gray(payload) == (w, h, sum(pix))
    # the module's own encoder still round-trips (offset-stored LONGs)
    p2 = encode_tiff_gray_pattern(5)
    assert decode_tiff_gray(p2)[0] > 0


def test_decoders_reject_truncated_rasters():
    """Audit r8: silently-wrong sums from short payloads are worse
    than errors — BMP and PPM now validate raster length like TIFF."""
    import pytest as _pytest

    from gobblin_spark.functions.multimodal import (
        decode_bmp24, decode_ppm_p6, encode_bmp24)

    bmp = encode_bmp24(9)
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp24(bmp[:-5])
    ppm = b"P6\n4 4\n255\n" + bytes(range(48))
    assert decode_ppm_p6(ppm)[0] == 4
    with _pytest.raises(ValueError, match="truncated"):
        decode_ppm_p6(ppm[:-1])


def test_chunk_windows_ignore_edge_whitespace(spark):
    """Audit r8: leading/trailing whitespace must not create phantom
    '' tokens that shift windows and corrupt chunk hashes."""
    from gobblin_spark.functions.text import chunk_token_windows

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "  a b c d e \n")], "doc_id long, text string")
    out = chunk_token_windows(df, window=3, stride=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.n_tokens, r.chunk_hash))
    assert sorted(by_doc[1]) == sorted(by_doc[2])


def test_gopher_top_ngram_fraction_capped(spark):
    """Audit r8: overlapping top-ngram occurrences share characters;
    the fraction is capped at 1.0 instead of exceeding it."""
    from gobblin_spark.functions.text import gopher_repetition_metrics

    df = spark.createDataFrame([("buffalo buffalo buffalo",)], "text string")
    m = gopher_repetition_metrics(F.col("text"), gram_n=2)
    v = df.select(m["top_ngram_char_fraction"].alias("f")).first().f
    assert v <= 1.0


def test_redact_pii_spares_dates(spark):
    """Audit r8: ISO dates and datetimes are not phone numbers;
    real phone shapes still redact."""
    from gobblin_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [(1, "released 2021-08-15 12:34 call +1 (415) 555-0123"),
         (2, "v1.2.3 built 2020-01-02"),
         (3, "ssn-ish 123456789 and 415-555-0123")],
        "k long, text string")
    got = {r.k: r.red for r in df.select(
        "k", redact_pii(F.col("text")).alias("red")).collect()}
    assert got[1] == "released 2021-08-15 12:34 call <PHONE>"
    assert got[2] == "v1.2.3 built 2020-01-02"
    assert got[3] == "ssn-ish <PHONE> and <PHONE>"


def test_lang_id_null_propagates(spark):
    """Audit r8: null text -> null lang (like the sibling functions),
    'und' stays the zero-marker verdict."""
    from gobblin_spark.functions.text import lang_id

    df = spark.createDataFrame(
        [(1, None), (2, "xyzzy qwer"), (3, "the cat and the dog")],
        "k long, text string")
    got = {r.k: r.lang for r in df.select(
        "k", lang_id(F.col("text")).alias("lang")).collect()}
    assert got[1] is None and got[2] == "und" and got[3] == "en"


def test_compression_ratio_empty_text_defined(spark):
    """Audit r8: 0-byte text gets ppm=1000000 (neutral), not null —
    threshold filters must not silently drop blank docs."""
    from gobblin_spark.functions.text import compression_ratio

    df = spark.createDataFrame([(1, ""), (2, None), (3, "hello")],
                               "doc_id long, text string")
    got = {r.doc_id: r.zlib_ratio_ppm
           for r in compression_ratio(df, "text").collect()}
    assert got[1] == 1000000 and got[2] is None and got[3] > 0


def test_bpe_merges_stable_across_partitioning(spark):
    """Audit r8: the learned merge table is a pure function of
    content + seed, not of partition layout."""
    from gobblin_spark.functions.text import learn_bpe_merges

    rows = [(i, f"the quick brown fox {i % 7} jumps") for i in range(60)]
    a = spark.createDataFrame(rows, "k long, text string").repartition(2)
    b = spark.createDataFrame(list(reversed(rows)),
                              "k long, text string").repartition(11)
    ma = learn_bpe_merges(a, "text", num_merges=20, sample_rows=30)
    mb = learn_bpe_merges(b, "text", num_merges=20, sample_rows=30)
    assert ma == mb


def test_keep_best_null_score_loses(spark):
    """Audit r8: a NULL-score copy must never beat a scored copy
    (struct(NULL,..) used to compare smallest and win min_by)."""
    from gobblin_spark.functions.dedup import dedup_keep_best

    df = spark.createDataFrame(
        [(1, None, "same text here"), (2, 9.5, "same text here"),
         (3, 1.0, "same text here"), (4, None, "other text")],
        "doc_id long, score double, text string")
    out = {r.doc_id: r.score
           for r in dedup_keep_best(df, "doc_id", "text", "score").collect()}
    assert out == {2: 9.5, 4: None}  # scored copy wins; singleton passes


def test_jaccard_threshold_on_true_value(spark):
    """Audit r8: the threshold applies to the TRUE similarity —
    0.7999996 must not round up past a 0.8 threshold."""
    from gobblin_spark.functions.dedup import ngram_jaccard_pairs

    # construct two docs with jaccard exactly 4/5 - epsilon impossible
    # in tiny ints; instead verify the boundary inclusive semantics:
    # 3 shared of union 4 = 0.75 -> kept at 0.75, dropped at 0.7500001
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x")], "doc_id long, text string")
    lo = ngram_jaccard_pairs(df, "doc_id", "text", n=2,
                             threshold=0.6).collect()
    hi = ngram_jaccard_pairs(df, "doc_id", "text", n=2,
                             threshold=0.6000001).collect()
    assert len(lo) == 1 and abs(lo[0].jaccard - 0.6) < 1e-9
    assert len(hi) == 0  # true value 0.6 fails a strictly higher bar


def test_simhash_validates_before_building(spark):
    """Audit r8: invalid pigeonhole args fail before any plan is
    built or persisted — no cache entry leaks."""
    import pytest as _pytest

    from gobblin_spark.functions.dedup import simhash_near_dup_pairs

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    before = spark._jsc.sc().getPersistentRDDs().size()
    with _pytest.raises(ValueError, match="allow_partial"):
        simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=5)
    with _pytest.raises(ValueError, match="divisible by 4"):
        simhash_near_dup_pairs(df, "doc_id", "text", bits=30)
    assert spark._jsc.sc().getPersistentRDDs().size() == before


def test_semantic_dedup_zero_norm_and_dup_ids(spark):
    """Audit r8: an all-zero embedding must not crash the blas pair step
    or silently diverge from the Column self-join reference, and
    duplicate-id rows must not erase the document with no survivor."""
    from gobblin_spark.functions.similarity import semantic_dedup_clustered

    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0001]), (3, [0.0, 0.0]),
            (4, [0.0, 1.0]), (4, [0.0, 1.0])]  # dup id 4
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(r.vec_id for r in semantic_dedup_clustered(
        df, "vec_id", "embedding", k=1, threshold=0.95).collect())
    b = sorted(r.vec_id for r in _semantic_dedup_column_ref(
        df, "vec_id", "embedding", k=1, threshold=0.95).collect())
    assert a == b  # agrees with the reference
    assert 3 in a  # zero-norm row survives (cosine 0 to everything)
    assert 4 in a  # dup-id doc keeps its rows
    assert 2 not in a and 1 in a  # real near-dup still dropped


def test_topk_dim_guards_and_null_rank(spark):
    """Audit r8: wrong-dim queries fail loudly in LSH and IVF paths;
    null cosines never occupy a rank slot."""
    import pytest as _pytest

    from gobblin_spark.functions import similarity as S

    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>")
    bad_q = spark.createDataFrame(
        [(99, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="degenerate"):
        S.lsh_cosine_topk(bad_q, corpus, "vec_id", "embedding", dim=2)
    cents = S.train_ivf_centroids(corpus, "embedding", n_centroids=2)
    with _pytest.raises(ValueError, match="degenerate"):
        S.ivf_topk(bad_q, corpus, "vec_id", "embedding",
                   centroids=cents)
    # zero-norm corpus vector: excluded from ranks, not a phantom
    corpus0 = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = S.cosine_topk(corpus0.filter("vec_id = 1"), corpus0,
                        "vec_id", "embedding", k=3).collect()
    assert sorted(r.neighbor_id for r in out) == [3]
    assert all(r.cosine is not None for r in out)


def test_kmeans_rejects_zero_iterations(spark):
    import pytest as _pytest

    from gobblin_spark.functions.similarity import kmeans_fit_predict

    df = spark.createDataFrame([(1, [1.0])],
                               "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="ASSIGNMENT"):
        kmeans_fit_predict(df, "vec_id", "embedding", k=1, iterations=0)


def test_kmeans_tolerates_nonfinite_vector_components(spark):
    """A NaN/Inf component in any input vector propagates into a
    centroid through avg; the SQL-literal argmin must emit parseable
    CAST literals for it instead of nanD/infD (advice-r13). The run
    must complete and still assign every row."""
    rows = [(0, [float("nan"), 1.0]), (1, [float("inf"), 2.0]),
            (2, [3.0, 3.0]), (3, [3.1, 2.9]), (4, [-3.0, -3.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.kmeans_fit_predict(
        df, "vec_id", "embedding", k=2, iterations=2)
    got = {r.vec_id: r.cluster for r in out.collect()}
    assert set(got) == {0, 1, 2, 3, 4}
