"""Exact-substring dedup census, histogram quantile sketch, and
incremental MinHash dedup — the round-5 additions to the curation
operator family."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_hardsubx_spark.plans import dataset_queries as dq

SF = "/root/testdata/sf0.001"
K = dq.SUBSTR_NGRAM


def _docs(spark, tmp_path, rows):
    out = str(tmp_path)
    (spark.createDataFrame(rows, "doc_id long, text string")
     .write.parquet(out + "/documents.parquet"))
    return out


def test_substring_dedup_exact_coverage(spark, tmp_path):
    """Two docs share one exact K-token span; a third is unique; a
    fourth is shorter than K (zero grams).  Coverage and gram counts
    are exact, not approximate."""
    span = " ".join(f"s{i}" for i in range(K))          # the shared span
    rows = [
        (1, "a b c " + span + " x y z"),                # span at pos 3
        (2, span + " q r"),                             # span at pos 0
        (3, " ".join(f"u{i}" for i in range(K + 10))),  # unique doc
        (4, "too short"),                               # < K tokens
    ]
    out = _docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in
           dq.q_substring_dedup(spark, out).collect()}
    # doc 1: 3 + K + 3 tokens -> K+7 grams... only the exact span gram
    # is shared (1 gram), covering exactly K tokens
    assert got[1]["n_dup_grams"] == 1
    assert got[1]["covered_tokens"] == K
    assert got[1]["dup_token_frac"] == round(K / (K + 6), 4)
    assert got[2]["n_dup_grams"] == 1 and got[2]["covered_tokens"] == K
    assert got[3]["n_dup_grams"] == 0 and got[3]["covered_tokens"] == 0
    assert got[4]["n_grams"] == 0 and got[4]["dup_token_frac"] == 0.0


def test_substring_dedup_overlapping_spans_union_coverage(spark,
                                                          tmp_path):
    """Two docs identical over K+5 tokens -> 6 overlapping dup grams
    whose UNION covers K+5 tokens (interval union, not 6*K)."""
    shared = " ".join(f"s{i}" for i in range(K + 5))
    rows = [(1, shared + " tailone"), (2, shared + " tailtwo")]
    out = _docs(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in
           dq.q_substring_dedup(spark, out).collect()}
    for d in (1, 2):
        assert got[d]["n_dup_grams"] == 6
        assert got[d]["covered_tokens"] == K + 5


def test_quantile_sketch_rule_and_merge_law(spark, tmp_path):
    """The estimate equals the documented rule computed independently
    in numpy, and the sketch is MERGEABLE: histograms of two disjoint
    halves vector-add to the full corpus's histogram (the property that
    makes it the 100 TB threshold primitive)."""
    import numpy as np

    docs = spark.read.parquet(SF + "/documents.parquet")
    n_tok = np.array([r["n"] for r in docs.select(
        F.size(F.split("text", " ")).alias("n")).collect()])
    bins = np.minimum(n_tok // dq.QSKETCH_BIN_W, dq.QSKETCH_BINS - 1)
    counts = np.bincount(bins, minlength=dq.QSKETCH_BINS)
    got = {r["q_permille"]: r["est_tokens"]
           for r in dq.q_quantile_sketch(spark, SF).collect()}
    cum = counts.cumsum()
    for q in dq.QSKETCH_PERMILLE:
        want_bin = int(np.argmax(cum >= -(-q * len(n_tok) // 1000)))
        assert got[q] == (want_bin + 1) * dq.QSKETCH_BIN_W
    # merge law on the underlying state
    half = np.bincount(bins[: len(bins) // 2],
                       minlength=dq.QSKETCH_BINS)
    other = np.bincount(bins[len(bins) // 2:],
                        minlength=dq.QSKETCH_BINS)
    assert (half + other == counts).all()


def test_incremental_equals_full_restricted_to_batch(spark):
    """The incremental form must produce EXACTLY the full self-join's
    candidate pairs whose newer side is in the batch — never an
    old-old pair, never a missing new pair."""
    full = {(r["doc_a"], r["doc_b"]) for r in
            dq.q_minhash_dup_candidates(spark, SF).collect()}
    want = {(a, b) for a, b in full if b >= dq.INCR_INDEX_BELOW}
    got = {(r["doc_a"], r["doc_b"]) for r in
           dq.q_dedup_incremental(spark, SF).collect()}
    assert got == want
    assert all(b >= dq.INCR_INDEX_BELOW for _, b in got)
    # vs_index marks exactly the pairs whose older side predates the batch
    flags = {(r["doc_a"], r["doc_b"]): r["vs_index"] for r in
             dq.q_dedup_incremental(spark, SF).collect()}
    assert all(flag == (a < dq.INCR_INDEX_BELOW)
               for (a, _), flag in flags.items())


def test_lr_training_reduces_loss(spark):
    """lr_train's driver loop must reduce the mean logistic loss vs
    the pinned initial weights (deterministic on the fixed corpus) —
    the trained-model analog of the ivf_lloyd objective test."""
    w0 = list(dq.LR_INIT_W)
    trained = dq.lr_train(spark, SF, iters=10)
    assert dq.lr_loss(spark, SF, trained) < dq.lr_loss(spark, SF, w0)


def test_lr_step_matches_hand_gradient(spark, tmp_path):
    """The registered single step reproduces a hand-computed gradient
    on a 2-doc fixture."""
    import math

    rows = [(1, "the cat sat"), (2, "dog dog dog dog")]
    out = _docs(spark, tmp_path, rows)
    got = {r["j"]: r for r in dq.q_quality_lr_step(spark, out).collect()}
    feats = []
    for _, text in rows:
        toks = text.split(" ")
        x = (1.0, min(len(toks), 200) / 200.0,
             round(len(set(toks)) / len(toks), 6))
        feats.append((x, 1 if "the" in toks else 0))
    w = dq.LR_INIT_W
    for j in range(3):
        g = sum((1 / (1 + math.exp(-sum(x[k] * w[k] for k in range(3))))
                 - y) * x[j] for x, y in feats) / len(feats)
        assert got[j]["grad"] == round(g, 6)
        assert got[j]["w_new"] == round(w[j] - dq.LR_RATE * g, 6)


def _jobs_in_group(spark, group, fn):
    """Number of Spark jobs ``fn()`` fires, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lr_train_job_count_independent_of_iters(spark):
    """Training is one aggregation pass plus driver-side steps: 1 and
    LR_TRAIN_ITERS steps fire the same number of Spark jobs."""
    dq.lr_train(spark, SF, iters=1)  # warm the reader cache
    one = _jobs_in_group(spark, "lr_train_1",
                         lambda: dq.lr_train(spark, SF, iters=1))
    full = _jobs_in_group(
        spark, "lr_train_full",
        lambda: dq.lr_train(spark, SF, iters=dq.LR_TRAIN_ITERS))
    assert one >= 1 and full == one


def test_lr_train_one_step_equals_registered_step(spark):
    """lr_train's first driver-side step is the oracle-checked
    q_quality_lr_step (6-dp outputs)."""
    step = sorted((r["j"], r["w_new"]) for r in
                  dq.q_quality_lr_step(spark, SF).collect())
    assert [round(w, 6) for w in dq.lr_train(spark, SF, iters=1)] == [
        w for _, w in step]


def test_minhash_bands_survive_short_docs(spark, tmp_path):
    """Sub-3-token docs crashed the signature query under ANSI
    element_at (latent until round-5 edge fixtures; fixed with
    try_element_at).  Pin: short docs produce partial-shingle
    signatures, empty/NULL docs drop, and the single-token doc's bands
    are exactly the md5("a") slices."""
    import hashlib

    rows = [(1, "a b c d"), (2, ""), (3, "x y"), (4, None), (5, "a")]
    d = str(tmp_path)
    (spark.createDataFrame(rows, "doc_id long, text string")
     .write.parquet(d + "/documents.parquet"))
    got = sorted(map(tuple, dq.q_minhash_bands(spark, d).collect()))
    assert sorted({r[0] for r in got}) == [1, 3, 5]
    h = hashlib.md5(b"a").hexdigest()
    assert [(b, m) for i, b, m in got if i == 5] == \
        [(b, h[8 * b:8 * b + 8]) for b in range(4)]


def test_cluster_census_accounts_for_every_clustered_doc(spark):
    """size*count summed over the census == total clustered docs, and
    removable == total - n_clusters (keep one per cluster)."""
    census = dq.q_dup_cluster_census(spark, SF).collect()
    total = dq.q_dup_clusters_unified(spark, SF).count()
    assert sum(r["cluster_size"] * r["n_clusters"] for r in census) \
        == total
    assert sum(r["n_docs_removable"] for r in census) \
        == total - sum(r["n_clusters"] for r in census)
    assert all(r["cluster_size"] >= 2 for r in census)


def test_quality_cut_threshold_is_the_sketch_median(spark):
    """Every keep decision recomputes from the row + the sketch
    threshold alone, and roughly half the corpus survives a median
    cut."""
    rows = dq.q_quality_cut(spark, SF).collect()
    thr = {r["thr"] for r in rows}
    assert len(thr) == 1
    (thr,) = thr
    est = {r["q_permille"]: r["est_tokens"]
           for r in dq.q_quantile_sketch(spark, SF).collect()}
    assert thr == est[500] - dq.QSKETCH_BIN_W
    kept = sum(r["keep"] for r in rows)
    assert all((r["n_tokens"] >= thr) == r["keep"] for r in rows)
    assert 0 < kept < len(rows)


def test_substring_apply_keeps_first_occurrence_only(spark, tmp_path):
    """The APPLY step on the exact-coverage fixture: doc 1 holds the
    corpus-first occurrence of the shared span (doc_id order) so its
    text is untouched; doc 2's copy of the span is cut, leaving its
    private tokens in order; unique/short docs pass through
    verbatim."""
    span = " ".join(f"s{i}" for i in range(K))
    rows = [
        (1, "a b c " + span + " x y z"),
        (2, span + " q r"),
        (3, " ".join(f"u{i}" for i in range(K + 10))),
        (4, "too short"),
    ]
    out = _docs(spark, tmp_path, rows)
    docs = spark.read.parquet(out + "/documents.parquet")
    got = {r["doc_id"]: r for r in
           dq.substring_dedup_apply(docs).collect()}
    assert got[1]["text_dedup"] == rows[0][1]          # first copy kept
    assert got[1]["n_tokens_kept"] == got[1]["n_tokens"]
    assert got[2]["text_dedup"] == "q r"               # span cut
    assert got[2]["n_tokens_kept"] == 2
    assert got[3]["text_dedup"] == rows[2][1]
    assert got[4]["text_dedup"] == "too short"


def test_substring_apply_union_cut_and_empty_doc(spark, tmp_path):
    """Overlapping removable spans interval-union before the cut, and
    a doc whose every token is covered comes back EMPTY (not absent):
    doc 2 is an exact K+5-token copy of doc 1's whole text, so all its
    6 dup grams are non-first and their union covers everything."""
    shared = " ".join(f"s{i}" for i in range(K + 5))
    rows = [(1, shared), (2, shared)]
    out = _docs(spark, tmp_path, rows)
    docs = spark.read.parquet(out + "/documents.parquet")
    got = {r["doc_id"]: r for r in
           dq.substring_dedup_apply(docs).collect()}
    assert got[1]["text_dedup"] == shared
    assert got[2]["text_dedup"] == "" and got[2]["n_tokens_kept"] == 0
    assert set(got) == {1, 2}                          # row preserved


def test_substring_apply_is_idempotent_on_corpus(spark, tmp_path):
    """apply(apply(corpus)) == apply(corpus): re-running the dedup on
    its own output changes nothing — every non-first duplicated-gram
    occurrence was already cut, and (pinned here on the fixture
    corpus) no cut juxtaposes tokens into a NEW cross-doc duplicate.
    Also conservation vs the census: apply never removes more tokens
    than the census declared covered, and every doc apply changed had
    census coverage > 0."""
    SF = "/root/testdata/sf0.001"
    docs = spark.read.parquet(SF + "/documents.parquet")
    once = dq.substring_dedup_apply(docs)
    out2 = str(tmp_path / "pass2")
    (once.select("doc_id", F.col("text_dedup").alias("text"))
     .write.parquet(out2 + "/documents.parquet"))
    docs2 = spark.read.parquet(out2 + "/documents.parquet")
    twice = dq.substring_dedup_apply(docs2)
    a = {r["doc_id"]: r["text_dedup"] for r in once.collect()}
    b = {r["doc_id"]: r["text_dedup"] for r in twice.collect()}
    assert a == b

    census = {r["doc_id"]: r for r in
              dq.q_substring_dedup(spark, SF).collect()}
    rows = {r["doc_id"]: r for r in once.collect()}
    changed = 0
    for d, r in rows.items():
        removed = r["n_tokens"] - r["n_tokens_kept"]
        assert removed <= census[d]["covered_tokens"]
        if removed:
            changed += 1
            assert census[d]["covered_tokens"] > 0
    assert changed > 0           # the corpus does contain duplicates


def test_trained_quality_cut_discriminates(spark, tmp_path):
    """The LR loop closed (round-5 verdict item 6): on a balanced
    corpus (fluent long diverse docs with 'the' vs short repetitive
    salad without), q_quality_cut_trained's learned decision keeps
    every fluent doc and drops every salad doc — the keep column is a
    real classifier output, not a constant.  (On the imbalanced
    synthetic corpus the 0.5 rule keeps everything — intercept-driven,
    the honest logistic behavior; this fixture pins the discriminating
    regime.)  Scores must equal the sigmoid of the 6-dp-rounded
    trained weights exactly."""
    import math

    pos = [(i, "the " + " ".join(f"w{i}t{j}" for j in range(150)))
           for i in range(10)]
    neg = [(100 + i, "spam spam spam spam") for i in range(10)]
    out = _docs(spark, tmp_path, pos + neg)
    rows = {r["doc_id"]: r for r in
            dq.q_quality_cut_trained(spark, out).collect()}
    assert all(rows[i]["keep"] for i in range(10))
    assert not any(rows[100 + i]["keep"] for i in range(10))

    # spot-check the score formula against the driver-side trainer
    w = [round(x, 6) for x in
         dq.lr_train(spark, out, iters=dq.LR_TRAIN_ITERS)]
    x1 = min(4, 200) / 200.0          # neg doc: 4 tokens
    x2 = round(1 / 4, 6)              # 1 distinct token of 4
    z = w[0] * 1.0 + w[1] * x1 + w[2] * x2
    assert rows[100]["score"] == round(1.0 / (1.0 + math.exp(-z)), 6)


def test_curation_funnel_full_conservation(spark):
    """The capstone funnel's invariants on the sf0.001 corpus: stages
    are present exactly once; docs and tokens are monotone
    non-increasing down the funnel; stage 1 equals the raw corpus
    exactly; stage 3 keeps the same doc set as stage 2 (substring
    apply cuts SPANS, never whole docs); and every stage-3 token
    survives from stage 2 (n_tokens_kept <= n_tokens per doc is
    pinned elsewhere — here the aggregate must agree)."""
    rows = {r["stage"]: r for r in
            dq.q_curation_funnel_full(spark, SF).collect()}
    assert sorted(rows) == [
        "1_raw", "2_near_dedup", "3_substring_cut", "4_quality"]

    docs = spark.read.parquet(SF + "/documents.parquet")
    n_raw = docs.count()
    t_raw = (docs.select(F.sum(F.size(F.split("text", " ")))
                         .alias("t")).collect()[0]["t"])
    assert rows["1_raw"]["n_docs"] == n_raw
    assert rows["1_raw"]["n_tokens"] == t_raw

    seq = ["1_raw", "2_near_dedup", "3_substring_cut", "4_quality"]
    for a, b in zip(seq, seq[1:]):
        assert rows[b]["n_docs"] <= rows[a]["n_docs"]
        assert rows[b]["n_tokens"] <= rows[a]["n_tokens"]
    # substring apply never drops a doc, only tokens
    assert rows["3_substring_cut"]["n_docs"] == \
        rows["2_near_dedup"]["n_docs"]
    # the funnel actually removes something on this corpus
    assert rows["4_quality"]["n_tokens"] < rows["1_raw"]["n_tokens"] \
        or rows["2_near_dedup"]["n_docs"] < n_raw
