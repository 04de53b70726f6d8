"""Line-level dedup + decontamination: hand-authored fixtures.

The synthetic corpus's sentences are unique word salads, so its
boilerplate-removal path never fires there (the oracle gate still pins
the trivial case); these tests build tiny documents tables with KNOWN
shared lines / copied n-grams and assert the interesting paths.
"""

from __future__ import annotations

import hashlib

import pytest

from ocr_hardsubx_spark.plans import dataset_queries as dq


def _docs_dir(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(out + "/documents.parquet")
    return out


def test_shared_line_dropped_uniques_kept_in_order(spark, tmp_path):
    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"alpha one. {boiler}. beta two"),
        (2, f"{boiler}. gamma three"),
        (3, "delta four. epsilon five"),
    ]
    out = _docs_dir(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in dq.q_line_dedup(spark, out).collect()}
    assert (got[1]["n_lines"], got[1]["n_dup_lines"]) == (3, 1)
    assert (got[2]["n_lines"], got[2]["n_dup_lines"]) == (2, 1)
    assert (got[3]["n_lines"], got[3]["n_dup_lines"]) == (2, 0)
    md5 = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
    assert got[1]["kept_md5"] == md5("alpha one. beta two")
    assert got[2]["kept_md5"] == md5("gamma three")
    assert got[3]["kept_md5"] == md5("delta four. epsilon five")


def test_within_doc_repeat_is_not_cross_doc_boilerplate(spark, tmp_path):
    """The census counts DISTINCT docs per line: a line repeated twice
    inside ONE document is not boilerplate."""
    rows = [(1, "same line. same line. other"), (2, "unrelated text")]
    out = _docs_dir(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in dq.q_line_dedup(spark, out).collect()}
    assert got[1]["n_dup_lines"] == 0


def test_decontamination_flags_copied_ngram(spark, tmp_path):
    bench_text = " ".join(f"b{i}" for i in range(12))
    copied = " ".join(f"b{i}" for i in range(dq.DECON_NGRAM))
    rows = (
        # docs 0..9 are the benchmark set
        [(i, bench_text) for i in range(dq.DECON_BENCH_DOCS)]
        + [
            (50, "clean text " + " ".join(f"w{i}" for i in range(20))),
            (51, f"prefix words {copied} suffix words"),
        ]
    )
    out = _docs_dir(spark, tmp_path, rows)
    got = {r["doc_id"]: r
           for r in dq.q_decontaminate(spark, out).collect()}
    assert set(got) == {50, 51}            # benchmark docs excluded
    assert got[50]["contaminated"] is False
    assert got[51]["contaminated"] is True
    assert got[51]["n_contaminated_grams"] == 1


def test_decontamination_needs_full_ngram(spark, tmp_path):
    """An overlap of DECON_NGRAM-1 consecutive benchmark tokens is NOT
    contamination."""
    bench_text = " ".join(f"b{i}" for i in range(12))
    partial = " ".join(f"b{i}" for i in range(dq.DECON_NGRAM - 1))
    rows = ([(i, bench_text) for i in range(dq.DECON_BENCH_DOCS)]
            + [(60, f"x {partial} y")])
    out = _docs_dir(spark, tmp_path, rows)
    r = dq.q_decontaminate(spark, out).collect()[0]
    assert r["contaminated"] is False


def test_decontamination_short_docs_survive(spark, tmp_path):
    """Docs with < DECON_NGRAM tokens produce NO grams and must not
    abort the job (sequence(0, n-1) with n=0 infers step -1 and slices
    from index 0 — the regression the guard in grams() prevents).
    Covers a short corpus doc, a short benchmark doc, and the boundary
    doc of exactly DECON_NGRAM tokens (one gram)."""
    bench_text = " ".join(f"b{i}" for i in range(12))
    exact = " ".join(f"b{i}" for i in range(dq.DECON_NGRAM))
    rows = (
        [(i, bench_text) for i in range(dq.DECON_BENCH_DOCS - 1)]
        + [(dq.DECON_BENCH_DOCS - 1, "short bench doc")]
        + [
            (70, "tiny"),                       # 1 token, no grams
            (71, " ".join(f"w{i}" for i in range(dq.DECON_NGRAM - 1))),
            (72, exact),                        # exactly one gram, copied
        ]
    )
    out = _docs_dir(spark, tmp_path, rows)
    got = {r["doc_id"]: r
           for r in dq.q_decontaminate(spark, out).collect()}
    assert set(got) == {70, 71, 72}
    assert got[70]["contaminated"] is False
    assert got[70]["n_contaminated_grams"] == 0
    assert got[71]["contaminated"] is False
    assert got[72]["contaminated"] is True
    assert got[72]["n_contaminated_grams"] == 1


def test_doc_of_only_boilerplate_keeps_empty_text(spark, tmp_path):
    rows = [(1, "all shared"), (2, "all shared")]
    out = _docs_dir(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in dq.q_line_dedup(spark, out).collect()}
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert got[1]["kept_md5"] == empty_md5 == got[2]["kept_md5"]


# ---- connected components (near-dup clusters) ----------------------------

def test_cc_chain_transitivity(spark):
    """a-b, b-c: one component labeled by the min id, even though a and
    c never share a pair (label must propagate through b — two
    iterations)."""
    pairs = spark.createDataFrame(
        [(5, 9), (9, 2)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_rep"]
           for r in dq._connected_components(pairs).collect()}
    assert got == {5: 2, 9: 2, 2: 2}


def test_cc_separate_components_stay_separate(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (10, 11), (11, 12)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_rep"]
           for r in dq._connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 10: 10, 11: 10, 12: 10}


def test_cc_long_chain_converges_and_short_budget_raises(spark):
    """A 12-node path graph needs several propagation rounds; the
    default budget converges, an artificially tiny one raises instead
    of returning silently-unconverged labels."""
    import pytest

    chain = [(i, i + 1) for i in range(11, 0, -1)]  # 12..1 path
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_rep"]
           for r in dq._connected_components(pairs).collect()}
    assert set(got.values()) == {1} and len(got) == 12
    with pytest.raises(RuntimeError):
        dq._connected_components(pairs, max_iters=2)


def _random_pair_graph(seed):
    """Chains, stars, cycles and isolated pairs over non-contiguous ids,
    with some pairs repeated as-is and some reversed."""
    import random

    rng = random.Random(seed)
    ids = iter(rng.sample(range(10, 10**9), 200))
    pairs = []
    for _ in range(3):                                  # chains
        nodes = [next(ids) for _ in range(rng.randint(3, 7))]
        pairs += list(zip(nodes, nodes[1:]))
    for _ in range(2):                                  # stars
        hub = next(ids)
        pairs += [(hub, next(ids)) for _ in range(rng.randint(2, 6))]
    for _ in range(2):                                  # cycles
        nodes = [next(ids) for _ in range(rng.randint(3, 6))]
        pairs += list(zip(nodes, nodes[1:] + nodes[:1]))
    pairs += [(next(ids), next(ids)) for _ in range(4)]  # isolated pairs
    pairs = [p if rng.random() < 0.5 else p[::-1] for p in pairs]
    pairs += rng.sample(pairs, 4)                       # duplicates
    pairs += [p[::-1] for p in rng.sample(pairs, 4)]    # reversed
    rng.shuffle(pairs)
    return pairs


def _union_find_min(pairs):
    parent = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # the root is the min id
    return {v: find(v) for v in parent}


@pytest.mark.parametrize("seed", [3, 17])
def test_cc_equals_union_find_on_random_graphs(spark, seed):
    pairs = _random_pair_graph(seed)
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster_rep"]
           for r in dq._connected_components(df).collect()}
    assert got == _union_find_min(pairs)


def test_cc_evaluates_pairs_once(spark):
    """The pair input (in production the whole LSH + verification plan)
    is computed exactly once, not once per edge direction."""
    rows = [(5, 9), (9, 2), (20, 21)]
    seen = spark.sparkContext.accumulator(0)

    def source(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    pairs = (spark.createDataFrame(rows, "doc_a long, doc_b long")
             .mapInPandas(source, "doc_a long, doc_b long"))
    got = {r["doc_id"]: r["cluster_rep"]
           for r in dq._connected_components(pairs).collect()}
    assert got == {5: 2, 9: 2, 2: 2, 20: 20, 21: 20}
    assert seen.value == len(rows)


def test_unified_clusters_merge_simhash_only_and_minhash_only_pairs(
        spark, tmp_path):
    """Round-3 verdict item 4: a pair caught ONLY by SimHash (token
    reorder — identical bag of tokens, so the 64-bit fingerprint is
    identical, but every 3-gram shingle differs, so MinHash never
    produces the candidate) must still join the unified cluster, and a
    pair caught by the MinHash→Jaccard path chains into the SAME
    component."""
    base = [f"w{i}" for i in range(20)]
    text1 = " ".join(base)
    text2 = " ".join(reversed(base))            # reorder: simhash-only
    text3 = " ".join(base[:-1] + ["zz"])        # 1-token edit: jaccard
    rows = [
        (1, text1), (2, text2), (3, text3),
        (50, " ".join(f"a{i}" for i in range(20))),   # unrelated
        (51, " ".join(f"b{i}" for i in range(20))),
    ]
    out = _docs_dir(spark, tmp_path, rows)

    sim = {(r["doc_a"], r["doc_b"])
           for r in dq.q_simhash_candidates(spark, out).collect()}
    jacc = {(r["doc_a"], r["doc_b"])
            for r in dq.q_jaccard_candidates(spark, out).collect()}
    assert (1, 2) in sim                 # reorder caught by simhash...
    assert (1, 2) not in jacc            # ...and missed by minhash/jaccard
    assert (1, 3) in jacc                # the edit caught by the LSH path

    # modality-local clusters: the jaccard-only graph has no doc 2
    solo = {r["doc_id"]: r["cluster_rep"]
            for r in dq.q_dup_clusters(spark, out).collect()}
    assert 2 not in solo

    uni = {r["doc_id"]: r["cluster_rep"]
           for r in dq.q_dup_clusters_unified(spark, out).collect()}
    assert uni[1] == uni[2] == uni[3] == 1   # one unified component
    assert 50 not in uni and 51 not in uni   # singletons stay out


def test_bloom_decontamination_flags_exact_hits_never_misses(spark,
                                                             tmp_path):
    """Bloom-filter decontamination: every exact n-gram hit is flagged
    (the filter's no-false-negative guarantee), clean docs pass, short
    docs survive — all per-occurrence (a doc repeating the copied gram
    counts each occurrence, exactly like the exact query)."""
    bench_text = " ".join(f"b{i}" for i in range(12))
    copied = " ".join(f"b{i}" for i in range(dq.DECON_NGRAM))
    rows = (
        [(i, bench_text) for i in range(dq.DECON_BENCH_DOCS)]
        + [
            (50, "clean text " + " ".join(f"w{i}" for i in range(20))),
            (51, f"prefix words {copied} suffix words"),
            (52, f"{copied} middle {copied}"),     # two occurrences
            (53, "tiny"),                          # short doc
        ]
    )
    out = _docs_dir(spark, tmp_path, rows)
    bloom = {r["doc_id"]: r for r in dq.q_decon_bloom(spark, out).collect()}
    exact = {r["doc_id"]: r
             for r in dq.q_decontaminate(spark, out).collect()}
    assert set(bloom) == set(exact) == {50, 51, 52, 53}
    for d in bloom:
        # no false negatives, ever
        assert bloom[d]["n_bloom_hits"] >= exact[d]["n_contaminated_grams"]
    assert bloom[51]["flagged"] is True
    assert bloom[52]["n_bloom_hits"] >= 2
    assert bloom[53]["flagged"] is False
    assert exact[50]["contaminated"] is False  # FP possible but not here


# ---------------------------------------------------------------------------
# CCNet paragraph-level global dedup (keep first occurrence)
# ---------------------------------------------------------------------------


def _md5(t: str) -> str:
    return hashlib.md5(t.encode()).hexdigest()


def test_paragraph_dedup_keeps_only_first_occurrence(spark, tmp_path):
    """The same paragraph in three docs survives only at its earliest
    (doc_id, pos); later copies drop, and a within-doc repeat also
    keeps only the first copy (unlike q_line_dedup's distinct-doc
    census)."""
    rows = [
        (1, "shared para. unique one. shared para"),
        (2, "shared para. unique two"),
        (3, "unique three. shared para"),
    ]
    out = _docs_dir(spark, tmp_path, rows)
    got = {r["doc_id"]: r
           for r in dq.q_paragraph_dedup(spark, out).collect()}
    assert (got[1]["n_paras"], got[1]["n_dropped"]) == (3, 1)
    assert (got[2]["n_paras"], got[2]["n_dropped"]) == (2, 1)
    assert (got[3]["n_paras"], got[3]["n_dropped"]) == (2, 1)
    assert got[1]["kept_md5"] == _md5("shared para. unique one")
    assert got[2]["kept_md5"] == _md5("unique two")
    assert got[3]["kept_md5"] == _md5("unique three")


def test_paragraph_dedup_matches_on_normalized_form(spark, tmp_path):
    """Case / digit / punctuation variants collapse (CCNet lowercases
    and strips non-letters before hashing): the doc-2 variant of doc
    1's paragraph drops even though the raw strings differ — but the
    ORIGINAL text of the kept copy is what survives."""
    rows = [
        (1, "Breaking News 2024! hello. tail one"),
        (2, "breaking news 2025 HELLO. tail two"),
    ]
    out = _docs_dir(spark, tmp_path, rows)
    got = {r["doc_id"]: r
           for r in dq.q_paragraph_dedup(spark, out).collect()}
    assert got[1]["n_dropped"] == 0
    assert got[2]["n_dropped"] == 1
    assert got[1]["kept_md5"] == _md5("Breaking News 2024! hello. tail one")
    assert got[2]["kept_md5"] == _md5("tail two")


def test_paragraph_dedup_unmatchable_paras_never_collapse(spark, tmp_path):
    """Paragraphs whose normalization is empty (all digits/punct) have
    no content to match on: identical '12345' paras in two docs BOTH
    survive."""
    rows = [(1, "12345. alpha words"), (2, "12345. beta words")]
    out = _docs_dir(spark, tmp_path, rows)
    got = {r["doc_id"]: r
           for r in dq.q_paragraph_dedup(spark, out).collect()}
    assert got[1]["n_dropped"] == 0 and got[2]["n_dropped"] == 0
    assert got[1]["kept_md5"] == _md5("12345. alpha words")
    assert got[2]["kept_md5"] == _md5("12345. beta words")


def test_paragraph_dedup_first_occurrence_is_deterministic(spark, tmp_path):
    """Two runs produce identical keep decisions (the first-occurrence
    key is a pure function of the row — crash-recomputable), and the
    kept-paragraph count is conserved: every distinct normalized hash
    survives exactly once among matchable paras."""
    # letter-distinct fillers: digits are stripped by the normalization,
    # so "filler 1 words" and "filler 2 words" would (correctly) collapse
    rows = [(i, f"common para. filler {'x' * i} words")
            for i in range(1, 6)]
    out = _docs_dir(spark, tmp_path, rows)
    a = sorted(map(tuple, dq.q_paragraph_dedup(spark, out).collect()))
    b = sorted(map(tuple, dq.q_paragraph_dedup(spark, out).collect()))
    assert a == b
    total_dropped = sum(r[2] for r in a)
    assert total_dropped == 4  # 5 copies of "common para" -> 1 kept


# ---------------------------------------------------------------------------
# shared helpers: kept-position rebuild, token windows, MinHash minima
# ---------------------------------------------------------------------------


def _letters(n: int) -> str:
    """n as base-26 letters: distinct ids that survive CCNet's
    [^a-z] normalization."""
    s = ""
    while True:
        s = chr(ord("a") + n % 26) + s
        n //= 26
        if n == 0:
            return s


def _py_line_dedup(rows):
    units = {d: t.split(". ") for d, t in rows}
    docs_of = {}
    for d, us in units.items():
        for u in us:
            if u:
                docs_of.setdefault(u, set()).add(d)
    out = {}
    for d, us in units.items():
        lines = [u for u in us if u]
        dup = [u for u in lines if len(docs_of[u]) >= 2]
        kept = [u for u in lines if len(docs_of[u]) < 2]
        if lines:
            out[d] = (len(lines), len(dup), _md5(". ".join(kept)))
    return out


def _py_paragraph_dedup(rows):
    import re

    def norm(u):
        return re.sub("[^a-z]", "", u.lower())

    units = {d: t.split(". ") for d, t in rows}
    first = {}
    for d in sorted(units):
        for pos, u in enumerate(units[d]):
            if u and norm(u):
                first.setdefault(norm(u), (d, pos))
    out = {}
    for d, us in units.items():
        keep = [u for pos, u in enumerate(us)
                if u and (not norm(u) or first[norm(u)] == (d, pos))]
        n = sum(1 for u in us if u)
        if n:
            out[d] = (n, n - len(keep), _md5(". ".join(keep)))
    return out


def _dup_heavy_rows():
    """Doc 1: ~2,000 lines, nearly all boilerplate (also repeated inside
    the doc), a few unique lines and empty units; doc 2: only
    boilerplate; doc 3: unrelated."""
    shared = [f"shared {_letters(j)} footer" for j in range(300)]
    lines = []
    for i in range(2000):
        if i % 97 == 5:
            lines.append(f"unique {_letters(i)} story")
        elif i % 251 == 9:
            lines.append("")
        else:
            lines.append(shared[i % 300])
    return [(1, ". ".join(lines)),
            (2, ". ".join(shared)),
            (3, "delta four. epsilon five")]


def test_kept_rebuild_matches_python_on_dup_heavy_doc(spark, tmp_path):
    rows = _dup_heavy_rows()
    out = _docs_dir(spark, tmp_path, rows)
    line = {r["doc_id"]: (r["n_lines"], r["n_dup_lines"], r["kept_md5"])
            for r in dq.q_line_dedup(spark, out).collect()}
    para = {r["doc_id"]: (r["n_paras"], r["n_dropped"], r["kept_md5"])
            for r in dq.q_paragraph_dedup(spark, out).collect()}
    assert line == _py_line_dedup(rows)
    assert para == _py_paragraph_dedup(rows)
    # only boilerplate: nothing kept (doc 1 holds the first copies)
    assert line[2][2] == para[2][2] == _md5("")
    assert line[1][1] > 1900 and para[1][1] > 1600


def test_kept_rebuild_plans_have_no_per_line_probe(spark, tmp_path):
    """The kept positions are one hash-set difference per doc; an
    array_contains(dropped, i) probe per line is O(lines x dropped)."""
    out = _docs_dir(spark, tmp_path, _dup_heavy_rows())
    for q in (dq.q_line_dedup, dq.q_paragraph_dedup):
        plan = q(spark, out)._jdf.queryExecution().optimizedPlan().toString()
        assert "array_contains" not in plan, q.__name__
        assert "array_except" in plan, q.__name__


@pytest.mark.parametrize("k", [3, 8, 20])
def test_gram_frame_equals_python_windows(spark, k):
    words = [f"w{i}" for i in range(k + 1)]
    texts = {
        1: " ".join(words[:k - 1]),
        2: " ".join(words[:k]),
        3: " ".join(words[:k + 1]),
        4: "solo",
        5: "  ".join(words[:k]),             # doubled spaces
        6: " " + " ".join(words[:k]),        # leading space
        7: " ".join(words[:k]) + " ",        # trailing space
        8: "",
    }
    docs = spark.createDataFrame(sorted(texts.items()),
                                 "doc_id long, text string")
    got = sorted(tuple(r) for r in dq._gram_frame(docs, k).collect())
    want = sorted(
        (d, i, _md5(" ".join(t[i:i + k])))
        for d, text in texts.items()
        for t in [text.split(" ")]
        for i in range(len(t) - k + 1))
    assert got == want


def test_decon_fuzzy_short_doc_flagged_like_oracle(spark, tmp_path):
    """A 2-token doc has one partial shingle (the q_minhash_bands
    signature), so a copy of a 2-token benchmark doc matches on every
    band — on Spark and on the oracle alike."""
    import duckdb

    from ocr_hardsubx_spark.plans.dataset_queries import (
        q_decon_fuzzy, q_decon_fuzzy_sql)

    rows = ([(i, " ".join(f"b{i}x{j}" for j in range(12)))
             for i in range(dq.DECON_BENCH_DOCS)]
            + [(20, "hello world"), (21, "plain words here and more")])
    rows[3] = (3, "hello world")
    out = _docs_dir(spark, tmp_path, rows)
    got = sorted(tuple(r) for r in q_decon_fuzzy(spark, out).collect())
    assert (20, 4, 1.0, True) in got
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{out}/documents.parquet/*.parquet')")
    want = sorted(
        (int(d), int(b), float(j), bool(f))
        for d, b, j, f in con.execute(q_decon_fuzzy_sql()).fetchall())
    assert got == want
