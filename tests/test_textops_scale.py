"""Scale-behavior tests for the dedup/ANN operators: multiprobe recall,
bucket-size caps under degenerate (boilerplate) corpora, and pigeonhole
blocking exhaustiveness."""

from pyspark.sql import functions as F

from pq_spark import driver_queries as dq, textops
from pq_spark.materialize import Held

SF = "/root/testdata/sf0.01"


def test_ann_multiprobe_recall(spark):
    """recall@10 vs brute force: multiprobe (hamming<=2) must clear 0.5 and
    strictly beat single-bucket probing (measured 0.6 vs 0.2)."""
    emb = dq._emb(spark, SF)
    q = dq._query_vec(spark, SF)
    exact = {r["vec_id"] for r in textops.cosine_topk(emb, q).collect()}
    multi = {
        r["vec_id"]
        for r in textops.ann_topk_lsh(
            emb, q, num_planes=6, multiprobe_hamming=2
        ).collect()
    }
    single = {
        r["vec_id"]
        for r in textops.ann_topk_lsh(
            emb, q, num_planes=6, multiprobe_hamming=0
        ).collect()
    }
    recall_multi = len(exact & multi) / 10
    recall_single = len(exact & single) / 10
    assert recall_multi >= 0.5, recall_multi
    assert recall_multi > recall_single


def _degenerate_docs(spark, n_same=4000, n_distinct=50):
    same = spark.range(n_same).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated on every page").alias("text"),
    )
    distinct = spark.range(n_distinct).select(
        (F.col("id") + n_same).alias("doc_id"),
        F.concat(
            F.lit("unique document number "),
            F.col("id").cast("string"),
            F.lit(" with shared trailing words alpha beta gamma delta epsilon"),
        ).alias("text"),
    )
    return same.unionByName(distinct)


def test_lsh_bucket_cap_drops_degenerate(spark):
    """4000 identical docs share every band key; with a cap the hot bucket
    is excluded from candidate generation (no quadratic stage) while pairs
    among normal docs survive."""
    docs = _degenerate_docs(spark)
    with Held():
        pairs = textops.minhash_lsh_pairs(
            docs, num_hashes=8, bands=4, max_bucket=100
        ).collect()
    ids = {p["doc_a"] for p in pairs} | {p["doc_b"] for p in pairs}
    assert all(i >= 4000 for i in ids), "degenerate bucket leaked into pairs"
    assert len(pairs) > 0, "normal near-dup candidates must survive the cap"


def test_simhash_bucket_cap_drops_degenerate(spark):
    docs = _degenerate_docs(spark)
    with Held():
        pairs = textops.simhash_pairs(
            docs, max_hamming=6, max_bucket=100
        ).collect()
    ids = {p["doc_a"] for p in pairs} | {p["doc_b"] for p in pairs}
    assert all(i >= 4000 for i in ids), "degenerate bucket leaked into pairs"


def test_simhash_blocking_exhaustive(spark):
    """Pigeonhole guarantee: with max_hamming+1 chunks the candidate join
    finds EVERY pair within the radius — compare against the brute-force
    pairs computed from the collected fingerprints."""
    docs = dq._docs(spark, "/root/testdata/sf0.001").limit(200)
    fps = {r["doc_id"]: r["simhash"] for r in textops.simhash(docs).collect()}
    want = set()
    items = sorted(fps.items())
    for i, (ida, ha) in enumerate(items):
        for idb, hb in items[i + 1:]:
            if bin(ha ^ hb).count("1") <= 6:
                want.add((min(ida, idb), max(ida, idb)))
    with Held():
        got = {
            (p["doc_a"], p["doc_b"])
            for p in textops.simhash_pairs(docs, max_hamming=6).collect()
        }
    assert got == want


def test_ann_ivf_recall(spark):
    """IVF-flat (nprobe 4 of 16 lists ⇒ ~25% of the corpus read): measured
    recall@10 = 1.0 on the synthetic embeddings — cosine-partitioned
    inverted lists align with cosine queries far better than hyperplane
    buckets (LSH multiprobe h<=2 measures 0.6 at ~36% read)."""
    emb = dq._emb(spark, SF)
    q = dq._query_vec(spark, SF)
    exact = {r["vec_id"] for r in textops.cosine_topk(emb, q).collect()}
    ivf = {
        r["vec_id"]
        for r in textops.ann_topk_ivf(emb, q, n_centroids=16, nprobe=4).collect()
    }
    assert len(exact & ivf) / 10 >= 0.8


def test_jaccard_stop_shingle_cap(spark):
    """max_doc_freq drops boilerplate stop-shingles from pair generation:
    the 4000-identical-doc bucket can't go quadratic, boilerplate-only
    pairs disappear, and genuinely similar distinct docs still pair."""
    docs = _degenerate_docs(spark)
    with Held():
        pairs = textops.ngram_jaccard_pairs(
            docs, threshold=0.3, max_doc_freq=100
        ).collect()
    ids = {p["doc_a"] for p in pairs} | {p["doc_b"] for p in pairs}
    assert all(i >= 4000 for i in ids), "boilerplate pairs leaked"
    assert len(pairs) > 0, "similar distinct docs must still pair"


def test_lang_id_trigram_accuracy(spark):
    """Pinned accuracy of the character-trigram model on a labeled fixture
    (sentences NOT built from the model's own word list alone)."""
    from pq_spark.textops import lang_id

    labeled = [
        ("en", "the quick brown fox jumps over the lazy dog and it was not there"),
        ("en", "she said that they have seen this film from the start"),
        ("en", "what were you doing when the rain came down for hours"),
        ("en", "it is a truth universally acknowledged that a single man wants a wife"),
        ("de", "der alte mann ging mit seinem hund durch den dunklen wald"),
        ("de", "sie hat nicht gewusst dass das wetter noch schlechter werden sollte"),
        ("de", "ich habe auch eine kleine schwester die gerne mit uns spielt"),
        ("de", "wenn die sonne scheint gehen wir zusammen an den see"),
        ("fr", "le petit garcon mange une pomme rouge dans le jardin de sa mere"),
        ("fr", "nous sommes alles au marche pour acheter du pain et du fromage"),
        ("fr", "elle ne savait pas que vous etiez deja partis avec les enfants"),
        ("fr", "il y a plus de choses dans le ciel que nous ne pouvons comprendre"),
        ("nl", "de kinderen spelen met een grote rode bal in het park bij ons"),
        ("nl", "wij hebben gisteren een mooie film gezien over de zee en schepen"),
        ("nl", "het wordt morgen beter weer dan vandaag zegt de vrouw op televisie"),
        ("nl", "deze oude stad heeft veel bruggen over het water naar de markt"),
        ("ru", "on skazal chto ona uzhe ushla domoi i ne vernetsya segodnya"),
        ("ru", "eto byl ochen holodnyi den i my ne hoteli vyhodit iz doma"),
        ("ru", "kak tolko oni prishli na rabotu vse nachali govorit po delu"),
        ("ru", "ya ne znayu pochemu mne tak trudno vstavat rano utrom zimoi"),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(labeled)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    correct = sum(got[i] == lang for i, (lang, _) in enumerate(labeled))
    acc = correct / len(labeled)
    assert acc >= 0.9, f"accuracy {acc}: {[(labeled[i][0], got[i]) for i in range(len(labeled))]}"


def test_ivf_kmeans_balances_inverted_lists(spark):
    """Lloyd's-trained coarse quantizer vs the training-free one on a
    clustered corpus with adversarial init (the first k vectors all lie in
    ONE true cluster): training must keep exact recall while producing
    materially better-balanced inverted lists — the probe cost at 100 TB
    is the size of the largest probed list, so balance IS the scale
    metric. Measured on this seed: max list 267→240, min 9→31,
    size-std 88→78."""
    import numpy as np

    rng = np.random.default_rng(13)
    DIM, K_TRUE, PER = 32, 12, 120
    centers = rng.normal(0, 1, (K_TRUE, DIM))
    rows = []
    vid = 0
    for c in range(K_TRUE):
        for p in centers[c] + rng.normal(0, 0.18, (PER, DIM)):
            rows.append((vid, [float(x) for x in p]))
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8).cache()
    emb.count()

    def sizes(train_iters):
        if train_iters:
            cents = textops.kmeans_centroids(emb, K_TRUE, train_iters)
        else:
            cr = emb.filter(F.col("vec_id") < K_TRUE).collect()
            cents = sorted(
                (int(r["vec_id"]), [float(x) for x in r["embedding"]])
                for r in cr
            )
        asg = textops.ivf_assign(emb, cents)
        return sorted(
            r["count"] for r in asg.groupBy("centroid_id").count().collect()
        )

    untrained, trained = sizes(0), sizes(4)
    assert max(trained) <= max(untrained)
    assert min(trained) > min(untrained)
    assert float(np.std(trained)) < float(np.std(untrained))

    # exact recall retained at the tightest probe budget
    qv = [float(x) for x in centers[7] + rng.normal(0, 0.18, DIM)]
    exact = {r["vec_id"] for r in textops.cosine_topk(emb, qv).collect()}
    got = {r["vec_id"] for r in textops.ann_topk_ivf(
        emb, qv, n_centroids=K_TRUE, nprobe=1, train_iters=4
    ).collect()}
    assert len(exact & got) / 10 == 1.0


def test_dedup_components_chain_and_clusters(spark):
    """Min-label propagation must traverse a long path graph (worst-case
    diameter) and keep disjoint clusters separate; singletons keep
    themselves."""
    from pq_spark.textops import dedup_components

    docs = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    # chain 0-1-...-6 (diameter 6), triangle {20,21,22}, singleton rest
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: (r["component_id"], r["is_keeper"])
           for r in dedup_components(docs, pairs).collect()}
    for i in range(7):
        assert got[i] == (0, i == 0)
    for i in (20, 21, 22):
        assert got[i] == (20, i == 20)
    for i in (10, 15, 29):
        assert got[i] == (i, True)


def test_dedup_components_bounded_plan_on_deep_graph(spark):
    """Round-6 sf1 regression (JVM heap OOM inside explainString): each
    propagation round's logical plan referenced the previous round's TWICE
    plus a fresh copy of the whole pair-graph subtree — exponential plan
    growth that only shows past ~diameter-5 graphs, which nothing
    exercised. A diameter-25 path graph forces ~25 rounds; the per-round
    probe pins that the optimized-plan STRING stays bounded and flat-ish
    across rounds (the checkpoint_every re-anchor resets it), not 2**25.
    On the pre-fix code this test does not merely assert-fail — plan
    construction itself blows up — so keep it late-diameter but small-row.
    """
    from pq_spark.textops import dedup_components

    n = 26  # path 0-1-...-25 → diameter 25, ~25 propagation rounds
    docs = spark.range(0, n).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    lens = []

    def probe(df):
        lens.append(len(df._jdf.queryExecution().optimizedPlan().toString()))

    got = {r["doc_id"]: r["component_id"]
           for r in dedup_components(docs, pairs, plan_probe=probe).collect()}
    assert got == {i: 0 for i in range(n)}, "chain must collapse to one component"
    assert len(lens) >= 20, f"expected ~25 rounds, probe saw {len(lens)}"
    # bounded: every round's optimized plan fits in a screenful-scale
    # string. The broken code's round-20 plan had ~2**20 subtree copies.
    assert max(lens) < 120_000, f"plan grew unbounded: max {max(lens)}"
    # flat-ish: the post-re-anchor rounds repeat the same envelope — the
    # last checkpoint span's peak must not exceed the first span's peak
    # by more than 2x (they are the same shape over same-sized leaves).
    first_peak = max(lens[:5])
    last_peak = max(lens[-5:])
    assert last_peak <= 2 * first_peak, (lens[:5], lens[-5:])


def test_dedup_survivors_argmax_policy(spark):
    """Survivor = max quality within the component, ties broken by MIN
    doc id; every doc appears exactly once; singletons keep themselves.
    Model-checked against a hand-run union-find over the same graph."""
    from pq_spark.textops import dedup_survivors

    docs = spark.createDataFrame(
        # (doc_id, n_chars): chain {0..6} peaks at doc 3; triangle
        # {20,21,22} ties at 9 → survivor 20; singleton 29
        [(0, 5), (1, 7), (2, 7), (3, 11), (4, 2), (5, 11), (6, 1),
         (20, 9), (21, 9), (22, 4), (29, 3)],
        "doc_id long, n_chars long",
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)] + [(20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: (r["component_id"], r["survivor_id"], r["keep"])
           for r in dedup_survivors(docs, pairs).collect()}
    assert len(got) == 11
    for i in range(7):  # max quality 11 held by {3, 5} → min id 3 wins
        assert got[i] == (0, 3, i == 3)
    for i in (20, 21, 22):  # tie at 9 between {20, 21} → min id 20
        assert got[i] == (20, 20, i == 20)
    assert got[29] == (29, 29, True)


def test_semantic_dedup_survivors(spark):
    """Two exact-duplicate embedding clusters + one singleton: each
    cluster keeps exactly one exemplar (max quality, tie min id); the
    singleton survives. Exact duplicates share every LSH bucket, so
    blocking recall is deterministic."""
    from pq_spark.textops import semantic_dedup_survivors

    u = [1.0] + [0.0] * 63
    v = [0.0] * 32 + [1.0] + [0.0] * 31
    w = [(1.0 if i % 2 else -1.0) / 8.0 for i in range(64)]
    rows = [(0, u, 5), (1, u, 9), (2, u, 9),   # cluster: max q=9 → id 1
            (10, v, 1), (11, v, 1),            # cluster: tie → id 10
            (20, w, 7)]                        # singleton
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, q long"
    )
    got = {r["vec_id"]: (r["survivor_id"], r["keep"])
           for r in semantic_dedup_survivors(
               emb, threshold=0.999, quality_col="q").collect()}
    assert len(got) == 6
    for i in (0, 1, 2):
        assert got[i] == (1, i == 1)
    for i in (10, 11):
        assert got[i] == (10, i == 10)
    assert got[20] == (20, True)


def test_gopher_filter_reason_bits(spark):
    """Each Gopher rule trips exactly its own bit; the top-word run-length
    fold must equal the true max word frequency (regression for the
    sorted-fold rewrite of the O(distinct*n) scan)."""
    from pq_spark.textops import gopher_filter

    base = "the a value table " + " ".join(f"word{i:03d}" for i in range(60))
    rows = [
        (1, base),                                   # passes everything
        (2, "the a value table short doc"),          # bit 1: too few words
        (3, " ".join(["spam"] * 60) + " the a value table"),  # bit 16
        (4, base.replace("the a value table", "zz qq jj kk")),  # bit 8
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["reasons"], r["passed"])
           for r in gopher_filter(docs).collect()}
    assert got[1] == (0, True)
    assert got[2][0] & 1 and not got[2][1]
    assert got[3][0] & 16 and not got[3][1]
    assert got[4][0] & 8 and not got[4][1]


def test_chunk_docs_semantics(spark):
    from pq_spark.textops import chunk_docs

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"),   # 10 tokens
         (2, "x y"),                   # shorter than one window
         (3, "")],                     # empty → no chunks
        "doc_id long, text string",
    )
    out = chunk_docs(docs, max_tokens=4, stride=3).collect()
    rows = {(r["doc_id"], r["chunk_id"]):
            (r["start_tok"], r["n_tokens"], r["chunk_text"]) for r in out}
    # starts 1, 4, 7, 10 — the tail chunk is short, every start ≤ n emits
    assert rows[(1, 0)] == (1, 4, "a b c d")
    assert rows[(1, 1)] == (4, 4, "d e f g")
    assert rows[(1, 2)] == (7, 4, "g h i j")
    assert rows[(1, 3)] == (10, 1, "j")
    assert rows[(2, 0)] == (1, 2, "x y")
    assert not any(d == 3 for (d, _c) in rows)
    assert len(rows) == 5


def test_sample_weighted_semantics(spark):
    """A-Res: top-k by ln(u)/w, deterministic in (id, weight); weight 0 /
    negative rows never selected; heavier docs win ties of the uniform."""
    import math

    from pq_spark.textops import sample_weighted

    rows = [(i, f"d{i}", (i % 7) + 1) for i in range(1, 201)]
    rows += [(900, "z", 0), (901, "z", -3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, w long")
    got = sample_weighted(docs, k=25, weight_col="w").collect()
    ids = sorted(r["doc_id"] for r in got)
    assert len(ids) == 25 and 900 not in ids and 901 not in ids

    # python replication of the exact key (hash is md5-portable)
    import hashlib

    def key(i, w):
        h = int(hashlib.md5(f"wsmp:{i}".encode()).hexdigest()[:15], 16)
        u = (h % 1_000_000_000 + 1) / 1_000_000_001.0
        return math.log(u) / w

    expect = sorted(
        ((i, w) for (i, _t, w) in rows if w > 0),
        key=lambda p: (-key(*p), p[0]),
    )[:25]
    assert ids == sorted(i for (i, _w) in expect)

    # determinism across repartitionings
    got2 = sample_weighted(docs.repartition(13), k=25, weight_col="w").collect()
    assert sorted(r["doc_id"] for r in got2) == ids


def test_pack_sequences_semantics(spark):
    from pq_spark.textops import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b c d e"),      # 5 tokens: global [0, 5)
         (2, ""),               # empty → absent
         (3, "f g h i j k"),    # 6 tokens: [5, 11)
         (4, "l"),              # 1 token: [11, 12)
         (5, "m n o p q r s")], # 7 tokens: [12, 19)
        "doc_id long, text string",
    )
    out = pack_sequences(docs, capacity=4, n_partitions=3).collect()
    rows = sorted(
        (r["bin_id"], r["doc_id"], r["tok_off_in_doc"], r["off_in_bin"],
         r["seg_tokens"]) for r in out
    )
    # bins of 4: doc1 [0,5) → bins 0,1; doc3 [5,11) → bins 1,2; doc4
    # [11,12) → bin 2; doc5 [12,19) → bins 3,4
    assert rows == [
        (0, 1, 0, 0, 4),
        (1, 1, 4, 0, 1),
        (1, 3, 0, 1, 3),
        (2, 3, 3, 0, 3),
        (2, 4, 0, 3, 1),
        (3, 5, 0, 0, 4),
        (4, 5, 4, 0, 3),
    ]
    # per-bin occupancy: every bin except the last is exactly full
    occ = {}
    for (b, _d, _o, _ob, s) in rows:
        occ[b] = occ.get(b, 0) + s
    assert occ == {0: 4, 1: 4, 2: 4, 3: 4, 4: 3}
    # invariant under a different partition count (distributed prefix sum
    # is bucketing-independent)
    out2 = pack_sequences(docs, capacity=4, n_partitions=1).collect()
    assert sorted(
        (r["bin_id"], r["doc_id"], r["tok_off_in_doc"], r["off_in_bin"],
         r["seg_tokens"]) for r in out2
    ) == rows


def test_pack_sequences_prefix_sum_is_per_bucket(spark, monkeypatch):
    """The running-sum window runs inside the checkpoint that pins the
    range partitioning, so the result's own plan only shows a scan of it:
    pin on the checkpointed plan that the window partitions by the range
    bucket — a GLOBAL running-sum window would serialize the corpus
    through one task."""
    from pq_spark.textops import pack_sequences

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(20)], "doc_id long, text string"
    )
    plans = []
    checkpoint = type(docs).localCheckpoint

    def spy(df, *args, **kwargs):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(type(docs), "localCheckpoint", spy)
    assert pack_sequences(docs, capacity=3, n_partitions=3).count() == 20
    [plan] = plans
    wins = [
        l for l in plan.splitlines()
        if "windowspecdefinition(" in l and "sum(" in l
    ]
    assert wins, plan
    assert all("windowspecdefinition(_pid" in l for l in wins), plan


def test_unigram_logppl_semantics(spark):
    """Hand-computable corpus: vocab cut, UNK residual mass, add-one
    smoothing, per-doc mean of -ln p."""
    import math

    from pq_spark.textops import unigram_logppl

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b x")],
        "doc_id long, text string",
    )
    # counts: a=3, b=2, c=1, x=1; N=7, vocab_k=2 -> {a:3, b:2}, V=2,
    # c_unk = 7-5 = 2, denom = N+V+1 = 10
    out = {r["doc_id"]: r for r in unigram_logppl(docs, vocab_k=2).collect()}
    pa, pb, pu = 4 / 10, 3 / 10, 3 / 10
    exp = {
        1: (3, -(2 * math.log(pa) + math.log(pb)) / 3),
        2: (2, -(math.log(pa) + math.log(pu)) / 2),
        3: (2, -(math.log(pb) + math.log(pu)) / 2),
    }
    for d, (n, ppl) in exp.items():
        assert out[d]["n_tokens"] == n
        assert abs(out[d]["logppl"] - ppl) < 1e-12, d
    # vocab cut ties break on token text: with vocab_k=3, c (not x) enters
    out3 = {r["doc_id"]: r["logppl"] for r in
            unigram_logppl(docs, vocab_k=3).collect()}
    # doc2: a in vocab, c in vocab (c=1): denom = 7+3+1 = 11, c_unk = 1
    exp2 = -(math.log(4 / 11) + math.log(2 / 11)) / 2
    assert abs(out3[2] - exp2) < 1e-12


def test_dup_ngram_coverage_semantics(spark):
    """Hand-computed interval unions: overlapping dup grams never
    double-count a token, adjacent ones tile exactly, within-doc-only
    repeats don't qualify, short docs use the whole-doc gram."""
    from pq_spark.textops import dup_ngram_coverage

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),            # dup grams at pos {0,1} -> 6/6
            (2, "x a b c d e"),            # dup gram at pos {1}    -> 5/6
            (3, "zz yy"),                  # no cross-doc dup       -> 0
            (4, "a b c d e a b c d e"),    # pos {0,5} tile         -> 10/10
            (6, "a b c d e f zz"),         # pos {0,1} overlap      -> 6/7
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_ngram_coverage(docs).collect()}
    exp = {1: (6, 1.0), 2: (6, 5 / 6), 3: (2, 0.0), 4: (10, 1.0),
           6: (7, 6 / 7)}
    assert set(out) == set(exp)
    for d, (n, frac) in exp.items():
        assert out[d]["n_tokens"] == n, d
        assert abs(out[d]["dup_ngram_frac"] - frac) < 1e-12, d
    # whole-doc grams of short duplicate docs cover everything
    short = spark.createDataFrame(
        [(1, "zz yy"), (2, "zz yy")], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r["dup_ngram_frac"]
            for r in dup_ngram_coverage(short).collect()}
    assert out2 == {1: 1.0, 2: 1.0}


def test_mixture_sample_semantics(spark):
    """The accept set is the exact pure function of (doc_id, stratum
    counts): recompute u and r_s in Python and compare id-for-id."""
    import hashlib

    from pq_spark.textops import mixture_sample

    rows = [(i, f"s{i % 4}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    targets = {"s0": 0.04, "s1": 0.06, "s2": 0.90}  # s3 absent -> dropped
    total = 1.0
    n, ns = 400, 100
    rates = {s: min(1.0, (w / total) * n / ns) for s, w in targets.items()}

    def u(i):
        h = int(hashlib.md5(f"mix:{i}".encode()).hexdigest()[:15], 16)
        return (h % 1_000_000_000 + 1) / 1_000_000_001.0

    exp = {i for i, s in rows if s in rates and u(i) < rates[s]}
    out = {r["doc_id"]: r for r in mixture_sample(docs, targets).collect()}
    assert set(out) == exp
    # expected thinning: s0 keeps ~16/100, s2 keeps all 100
    kept_s2 = sum(1 for i in exp if i % 4 == 2)
    assert kept_s2 == 100
    for i in exp:
        assert abs(out[i]["accept_rate"] - rates[f"s{i % 4}"]) < 1e-15


def test_incremental_dedup_semantics(spark):
    """New-increment rows drop iff their content hash exists in the prior
    manifest; in-increment repeats collapse to the min-id keeper; null
    text never matches history (NOT EXISTS parity)."""
    from pq_spark.textops import hash_manifest, incremental_dedup

    prior = spark.createDataFrame(
        [(0, "seen before"), (1, "also seen")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (10, "Seen   BEFORE "),   # normalizes to a prior hash → dropped
            (11, "brand new"),
            (12, "brand  NEW"),       # in-increment repeat of 11 → collapsed
            (13, "also seen"),        # prior → dropped
            (14, None),               # null text → kept (never matches)
        ],
        "doc_id long, text string",
    )
    got = {
        r["keeper_doc_id"]: r["dup_count"]
        for r in incremental_dedup(new, hash_manifest(prior)).collect()
    }
    assert got == {11: 2, 14: 1}


def test_incremental_dedup_bucketed_manifest_no_history_exchange(
    spark, tmp_path
):
    """The 100-TB property: with the manifest stored hash-bucketed, the
    anti-join shuffles ONLY the new increment — exactly one Exchange in
    the plan, and it is not on the bucketed-scan side."""
    import re

    from pq_spark.textops import hash_manifest, incremental_dedup

    docs = spark.createDataFrame(
        [(i, f"doc number {i % 40}") for i in range(200)],
        "doc_id long, text string",
    )
    (
        hash_manifest(docs.filter(F.col("doc_id") % 6 == 0))
        .write.mode("overwrite").option("path", str(tmp_path / "manifest"))
        .bucketBy(32, "text_hash").sortBy("text_hash").format("parquet")
        .saveAsTable("hash_manifest_test")
    )
    stored = spark.table("hash_manifest_test")
    out = incremental_dedup(docs, stored)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    exchanges = [l for l in plan.splitlines()
                 if re.match(r"^\(\d+\) Exchange", l)]
    # one Exchange for the increment side of the anti-join + one for the
    # final keeper groupBy; the bucketed history scan plans none
    assert len(exchanges) <= 2, plan
    assert "SelectedBucketsCount" in plan, plan
    # and the result is still correct on the bucketed path: multiples of 6
    # cover exactly the EVEN text residues mod 40 (gcd(6,40)=2), so the
    # survivors are the odd residues, kept under their min doc_id
    got = {r["keeper_doc_id"] for r in out.collect()}
    assert got == set(range(1, 40, 2))


def test_dup_span_removal_semantics(spark):
    """Hand-computed rewrites: overlapping dup grams union their spans,
    within-doc-only repeats don't qualify, short docs use the whole-doc
    gram (a verbatim short duplicate is emptied), survivors keep their
    normalized token order, and clean_text is '' (never null) when
    everything is removed."""
    from pq_spark.textops import dup_span_removal

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),           # dup starts {0,1} -> emptied
            (2, "x A  b c d e"),          # dup start {1} -> 'x' survives
            (3, "zz yy"),                 # no cross-doc dup -> kept whole
            (4, "a b c d e a b c d e"),   # starts {0,5} tile -> emptied
            (6, "a b c d e f zz"),        # starts {0,1} -> 'zz' survives
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_span_removal(docs).collect()}
    exp = {
        1: (6, 6, ""),
        2: (6, 5, "x"),       # mixed case/extra spaces normalize first
        3: (2, 0, "zz yy"),
        4: (10, 10, ""),
        6: (7, 6, "zz"),
    }
    assert set(out) == set(exp)
    for d, (nt, nr, clean) in exp.items():
        assert out[d]["n_tokens"] == nt, d
        assert out[d]["n_removed"] == nr, d
        assert out[d]["clean_text"] == clean, d
    # whole-doc grams: verbatim short duplicates are emptied
    short = spark.createDataFrame(
        [(1, "zz yy"), (2, "zz yy")], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: (r["n_removed"], r["clean_text"])
            for r in dup_span_removal(short).collect()}
    assert out2 == {1: (2, ""), 2: (2, "")}


def test_host_stats(spark):
    """Host-level aggregation over the derived CC-shaped url: dup_rate
    counts distinct NORMALIZED texts and the spam verdict triggers on
    either rule."""
    from pq_spark.textops import host_stats, with_derived_url

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six", "good"),
            (2, "seven eight nine ten eleven twelve", "good"),
            (3, "Copy  copy THE copy", "mirror"),   # normalizes equal to 4
            (4, "copy copy the copy", "mirror"),
            (5, "tiny", "short"),
        ],
        "doc_id long, text string, source string",
    )
    d = with_derived_url(docs)
    assert d.where(F.col("doc_id") == 1).head()["url"] == (
        "https://good.example.org/d/1"
    )
    st = {r["host"]: r
          for r in host_stats(d, max_dup_rate=0.4,
                              min_mean_tokens=2.0).collect()}
    g = st["good.example.org"]
    assert (g["n_docs"], g["n_unique"], g["dup_rate"], g["spam"]) == (
        2, 2, 0.0, False,
    )
    m = st["mirror.example.org"]
    assert (m["n_unique"], m["dup_rate"], m["spam"]) == (1, 0.5, True)
    s = st["short.example.org"]
    assert (s["mean_tokens"], s["spam"]) == (1.0, True)


def test_canonical_url_folding(spark):
    """Hand-computed canonical forms: fragment dropped, scheme+host
    lowercased (path case preserved), default ports stripped (non-default
    kept), tracking params dropped, params sorted, empty query removed,
    non-root trailing slash stripped, bare root folded into authority."""
    from pq_spark.textops import canonical_url

    cases = [
        ("https://A.Com/Path/Sub?b=2&a=1#frag", "https://a.com/Path/Sub?a=1&b=2"),
        ("HTTPS://EX.ORG:443/p/1/", "https://ex.org/p/1"),
        ("http://ex.org:80/", "http://ex.org"),
        ("http://ex.org:8080/x", "http://ex.org:8080/x"),
        ("https://ex.org/x?utm_source=f&utm_medium=m&gclid=1&ref=t", "https://ex.org/x"),
        ("https://ex.org/x?z=1&a=2&mc_eid=9", "https://ex.org/x?a=2&z=1"),
        ("https://ex.org", "https://ex.org"),
        ("https://ex.org/?a=1", "https://ex.org?a=1"),
        # tracking keys only match whole-param anchored: a param VALUE
        # containing "ref=" or a key merely PREFIXED by one survives
        ("https://ex.org/x?next=ref%3Dt&reference=1", "https://ex.org/x?next=ref%3Dt&reference=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in
           df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_url_dedup_groups_and_plan(spark):
    """All five noise variants of one page fold to one canonical row with
    min-id representative; the plan is UDF-free with ONE Exchange (the
    canonical-key groupBy, map-side combined)."""
    import re

    from pq_spark.textops import url_dedup

    rows = [
        (10, "https://s.org/p/1?a=1&b=2"),
        (11, "HTTPS://S.ORG/p/1/?b=2&a=1#x"),
        (12, "https://s.org:443/p/1?utm_source=f&a=1&b=2"),
        (13, "https://s.org/p/1?b=2&gclid=g13&a=1"),
        (14, "https://s.org/p/1?a=1&ref=tw&b=2"),
        (20, "https://s.org/p/2?a=1&b=2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["canonical_url"]: r for r in url_dedup(df).collect()}
    assert len(out) == 2
    p1 = out["https://s.org/p/1?a=1&b=2"]
    assert (p1["n_variants"], p1["keep_id"]) == (5, 10)
    assert out["https://s.org/p/2?a=1&b=2"]["n_variants"] == 1

    plan = url_dedup(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_canonical_url_idempotent_and_noise_invariant(spark):
    """Two properties over a generated URL space (one Spark pass each):
    canonical(canonical(u)) == canonical(u) — a non-idempotent fold
    splits dedup groups across incremental runs — and canonical is
    invariant under every foldable noise op (fragment, host case,
    default port, tracking params, param permutation, trailing slash)
    applied in random combinations."""
    import random

    from pq_spark.textops import canonical_url

    rng = random.Random(7)
    hosts = ["ex.org", "a.b.example.com", "x-y.net"]
    paths = ["", "/", "/p", "/p/q", "/P/Q/r", "/a%20b"]
    params = [[], ["a=1"], ["b=2", "a=1"], ["z=", "a=2", "m=3"]]

    def noise(scheme, host, port, path, ps):
        if rng.random() < 0.5:
            host = "".join(
                c.upper() if rng.random() < 0.5 else c for c in host)
        if rng.random() < 0.4:
            scheme = scheme.upper()
        if rng.random() < 0.4 and port == "":
            port = ":443" if scheme.lower() == "https" else ":80"
        if rng.random() < 0.4:
            path = (path or "/") if rng.random() < 0.5 else (
                path + "/" if path and not path.endswith("/") else path)
        ps = ps[:]
        for t in ("utm_source=x", "gclid=1", "ref=t", "mc_eid=9"):
            if rng.random() < 0.3:
                ps.insert(rng.randrange(len(ps) + 1), t)
        rng.shuffle(ps)
        frag = "#frag" if rng.random() < 0.5 else ""
        q = "?" + "&".join(ps) if ps else ""
        return f"{scheme}://{host}{port}{path}{q}{frag}"

    base, noised = [], []
    for _ in range(250):
        scheme = rng.choice(["http", "https"])
        host, path = rng.choice(hosts), rng.choice(paths)
        ps = rng.choice(params)[:]
        q = "?" + "&".join(ps) if ps else ""
        base.append(f"{scheme}://{host}{path}{q}")
        noised.append(noise(scheme, host, "", path, ps))

    df = spark.createDataFrame(
        list(zip(base, noised)), "base string, noised string")
    out = df.select(
        canonical_url(F.col("base")).alias("cb"),
        canonical_url(F.col("noised")).alias("cn"),
    ).withColumn("cc", canonical_url(F.col("cn"))).collect()
    for r in out:
        assert r["cn"] == r["cb"], (r["cb"], r["cn"])
        assert r["cc"] == r["cn"], (r["cn"], r["cc"])


def test_winnow_fingerprint_guarantee_and_plan(spark):
    """The winnowing guarantee: two docs sharing a run of >= k + w - 1
    words share at least one fingerprint; disjoint docs share none;
    docs with >= 1 but < w k-grams contribute their single overall
    minimum; empty/short docs contribute nothing. The pair join is an
    equi-join on fp (no CartesianProduct) and the fold is UDF-free."""
    from pq_spark.textops import winnow_fingerprints, winnow_pairs

    k, w = 3, 2
    shared = "alpha beta gamma delta"          # k + w - 1 = 4 words
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three"),
            (2, f"x y z {shared} q r"),
            (3, "completely different words here entirely"),
            (4, "tiny doc"),                   # n < k: no grams
            (5, "just three words"),           # 1 gram < w: fallback min
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, k=k, w=w)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "guarantee violated: shared run, no shared fp"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    assert 4 not in by_doc
    assert len(by_doc[5]) == 1
    with Held():
        pairs = {(r["id_a"], r["id_b"]): r["n_shared"]
                 for r in winnow_pairs(docs, k=k, w=w, min_shared=1).collect()}
        plan = winnow_pairs(docs, k=k, w=w)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
    assert (1, 2) in pairs and all(p == (1, 2) for p in pairs)

    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
