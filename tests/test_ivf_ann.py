"""IVF ANN: coarse-quantizer assignment, probe pruning, recall contract.

The registered dial (IVF_NPROBE=2 of IVF_K=16 lists) is APPROXIMATE by
design; its correctness pin is the DuckDB oracle replicating the same
algorithm (driver gate).  These tests pin the algorithm's *semantics*:

* probing ALL lists reproduces brute-force top-10 exactly (the IVF
  machinery loses nothing — approximation comes only from the probe
  subset);
* the probe subset actually prunes (candidate fraction ~= nprobe/K on
  the near-balanced synthetic lists) while beating the random-subset
  recall baseline;
* assignment tie-breaks to the lowest centroid id (the cross-engine
  contract with the oracle's ORDER BY sim DESC, cid ASC).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ocr_hardsubx_spark.plans import dataset_queries as dq

SF = "/root/testdata/sf0.001"


def test_nprobe_all_lists_equals_brute_force(spark):
    brute = {(r["vec_id"], r["cos_sim"], r["rank"])
             for r in dq.q_ann_cosine_topk(spark, SF).collect()}
    ivf = {(r["vec_id"], r["cos_sim"], r["rank"])
           for r in dq._ivf_topk(spark, SF, dq.IVF_K).collect()}
    assert ivf == brute


def test_registered_dial_prunes_and_beats_random_recall(spark):
    census = {r["list_id"]: r["n_vecs"]
              for r in dq.q_ann_ivf_census(spark, SF).collect()}
    total = sum(census.values())
    top = dq.q_ann_ivf_topk(spark, SF).collect()
    assert len(top) == 10
    brute = {r["vec_id"] for r in dq.q_ann_cosine_topk(spark, SF).collect()}
    recall = len(brute & {r["vec_id"] for r in top}) / 10
    # random nprobe/K-subset recall baseline is 0.125; the quantizer must
    # do better than chance on this corpus (deterministic given the data)
    assert recall >= 0.2
    # pruning: the two probed lists cover ~nprobe/K of near-balanced
    # lists — nothing close to a full scan
    probed_max = sum(sorted(census.values(), reverse=True)[:dq.IVF_NPROBE])
    assert probed_max / total < 0.35


def test_census_partitions_the_corpus(spark):
    rows = dq.q_ann_ivf_census(spark, SF).collect()
    total = (spark.read.parquet(SF + "/embeddings.parquet").count())
    assert sum(r["n_vecs"] for r in rows) == total
    assert {r["list_id"] for r in rows} <= set(range(1, dq.IVF_K + 1))
    assert all(r["n_vecs"] > 0 for r in rows)


def test_assignment_tie_breaks_to_lowest_centroid_id(spark):
    """Vector equidistant from two centroids -> first-max position,
    i.e. the lower centroid id, matching the oracle's ORDER BY."""
    cents = [[1.0, 0.0], [0.0, 1.0], [-1.0, 0.0]]
    df = spark.createDataFrame(
        [(1, [0.6, 0.6]),    # cos equal vs c1 and c2 -> list 1
         (2, [0.0, 0.9]),    # clearly c2 -> list 2
         (3, [-0.5, 0.1])],  # clearly c3 -> list 3
        "vec_id int, embedding array<float>")
    got = {r["vec_id"]: r["lid"] for r in df.select(
        "vec_id", dq._ivf_assign_col(cents).alias("lid")).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_centroids_are_normalized_and_ordered(spark):
    import numpy as np

    cents = dq._ivf_centroids(spark, SF)
    assert len(cents) == dq.IVF_K
    for c in cents:
        assert abs(np.linalg.norm(c) - 1.0) < 1e-9
    # position i <-> vec_id i+1: centroid 0 is vec 1's direction
    v1 = np.asarray(
        spark.read.parquet(SF + "/embeddings.parquet")
        .where(F.col("vec_id") == 1).first()["embedding"], dtype=np.float64)
    np.testing.assert_allclose(cents[0], v1 / np.linalg.norm(v1))


def test_train_step_outputs_all_lists_with_sane_shifts(spark):
    rows = dq.q_ivf_train_step(spark, SF).collect()
    total = spark.read.parquet(SF + "/embeddings.parquet").count()
    assert sum(r["n_members"] for r in rows) == total
    for r in rows:
        # a list's mean cannot be anti-aligned with the centroid that
        # attracted its members; shift in (0, 1]
        assert 0.0 < r["shift"] <= 1.0


def test_lloyd_training_improves_the_quantizer(spark):
    """Two refinement steps must raise the spherical-k-means objective
    (mean best-centroid cosine) over the seed codebook — deterministic
    on the fixed corpus."""
    import numpy as np

    vecs = np.array([
        r["embedding"] for r in
        spark.read.parquet(SF + "/embeddings.parquet")
        .select("embedding").collect()], dtype=np.float64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)

    def objective(cents):
        return (vecs @ np.asarray(cents, dtype=np.float64).T) \
            .max(axis=1).mean()

    seed = dq._ivf_centroids(spark, SF)
    trained = dq.ivf_lloyd(spark, SF)
    assert objective(trained) > objective(seed)
    for c in trained:                       # means re-normalized
        assert abs(np.linalg.norm(c) - 1.0) < 1e-9


def test_assign_udf_matches_relational_shadow(spark):
    """The Arrow-batched production kernel and the pure-JVM relational
    shadow must assign every corpus vector identically (same rounding,
    same first-max tie-break) — this is what licenses the oracle, which
    mirrors the shadow, to check the UDF path."""
    emb = spark.read.parquet(SF + "/embeddings.parquet")
    cents = dq._ivf_centroids(spark, SF)
    udf = {r["vec_id"]: r["a"] for r in emb.select(
        "vec_id", dq._ivf_assign_udf(cents)("embedding").alias("a"))
        .collect()}
    col = {r["vec_id"]: r["a"] for r in emb.select(
        "vec_id", dq._ivf_assign_col(cents).alias("a")).collect()}
    assert udf == col


def test_zero_norm_and_null_rows_assign_null(spark):
    """A zero-norm vector has no angle: both the production kernel and
    the relational shadow must yield a NULL assignment (the oracle
    filters such rows explicitly); a NULL embedding row must not crash
    the Arrow kernel."""
    cents = [[1.0, 0.0], [0.0, 1.0]]
    df = spark.createDataFrame(
        [(1, [0.5, 0.1]), (2, [0.0, 0.0]), (3, None)],
        "vec_id int, embedding array<float>")
    udf = {r["vec_id"]: r["a"] for r in df.select(
        "vec_id", dq._ivf_assign_udf(cents)("embedding").alias("a"))
        .collect()}
    assert udf == {1: 1, 2: None, 3: None}
    col = {r["vec_id"]: r["a"] for r in df.select(
        "vec_id", dq._ivf_assign_col(cents).alias("a")).collect()}
    assert col[1] == 1 and col[2] is None

    # LSH coder: NULL row -> NULL code, not a vstack crash
    planes = [[1.0, 0.0], [0.0, -1.0]]
    codes = {r["vec_id"]: r["c"] for r in df.select(
        "vec_id", dq._code_udf(planes)("embedding").alias("c")).collect()}
    assert codes[1] is not None and codes[3] is None


# ---- persisted layout + scan pruning (q_ann_ivf_pruned_topk) -------------

def test_pruned_topk_equals_in_query_form(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(dq, "IVF_LAYOUT_BASE", str(tmp_path / "layout"))
    pruned = {(r["vec_id"], r["cos_sim"], r["rank"])
              for r in dq.q_ann_ivf_pruned_topk(spark, SF).collect()}
    live = {(r["vec_id"], r["cos_sim"], r["rank"])
            for r in dq.q_ann_ivf_topk(spark, SF).collect()}
    assert pruned == live


def test_layout_probe_prunes_at_the_scan(spark, tmp_path, monkeypatch):
    """The probe's partition filter must reach the file scan: the
    executed plan carries PartitionFilters on list_id, and the scan's
    numFiles metric counts ONLY the probed directories' files."""
    monkeypatch.setattr(dq, "IVF_LAYOUT_BASE", str(tmp_path / "layout"))
    df = dq.q_ann_ivf_pruned_topk(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "list_id" in plan.split("PartitionFilters")[1][:250]

    import glob
    import os

    layout = dq.ensure_ivf_layout(spark, SF)
    probes = dq._ivf_probe_ids(spark, SF, dq.IVF_NPROBE)
    probe_files = sum(
        len(glob.glob(os.path.join(layout, f"list_id={p}", "*.parquet")))
        for p in probes)
    total_files = len(glob.glob(os.path.join(layout, "*", "*.parquet")))
    assert 0 < probe_files < total_files

    scan = (spark.read.schema(dq.IVF_LAYOUT_SCHEMA).parquet(layout)
            .where(F.col("list_id").isin(probes)))
    scan.collect()
    node = scan._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    assert node.metrics().apply("numFiles").value() == probe_files


def test_pruned_probe_never_opens_cold_partitions(spark, tmp_path,
                                                  monkeypatch):
    """Behavioral pruning proof: corrupt every UNPROBED partition's
    files — the pruned probe still answers (those directories are never
    opened), while a full scan of the same layout fails."""
    import glob
    import os

    monkeypatch.setattr(dq, "IVF_LAYOUT_BASE", str(tmp_path / "layout"))
    layout = dq.ensure_ivf_layout(spark, SF)
    probes = set(dq._ivf_probe_ids(spark, SF, dq.IVF_NPROBE))
    corrupted = 0
    for d in glob.glob(os.path.join(layout, "list_id=*")):
        lid = d.rsplit("=", 1)[1]
        if lid.isdigit() and int(lid) in probes:
            continue
        for f in glob.glob(os.path.join(d, "*.parquet")):
            with open(f, "wb") as fh:
                fh.write(b"not parquet")
            corrupted += 1
    assert corrupted > 0

    top = dq.q_ann_ivf_pruned_topk(spark, SF).collect()
    assert len(top) == 10

    with pytest.raises(Exception):
        spark.read.schema(dq.IVF_LAYOUT_SCHEMA).parquet(layout).count()


def test_layout_is_idempotent_and_stamped(spark, tmp_path, monkeypatch):
    import os

    monkeypatch.setattr(dq, "IVF_LAYOUT_BASE", str(tmp_path / "layout"))
    p1 = dq.ensure_ivf_layout(spark, SF)
    m1 = os.path.getmtime(p1)
    p2 = dq.ensure_ivf_layout(spark, SF)
    assert p1 == p2 and os.path.getmtime(p2) == m1  # no rewrite

    rows = (spark.read.schema(dq.IVF_LAYOUT_SCHEMA).parquet(p1)
            .groupBy("list_id").count().collect())
    got = {r["list_id"]: r["count"] for r in rows}
    census = {r["list_id"]: r["n_vecs"]
              for r in dq.q_ann_ivf_census(spark, SF).collect()}
    # layout partitions == census lists (+ the query vector's own list)
    for lid, n in census.items():
        assert got[lid] in (n, n + 1)


# ---- product quantization (q_pq_codes / q_pq_adc_topk) -------------------

def test_pq_centroids_code_to_themselves_with_zero_mse(spark):
    """Each codebook seed vector's subvectors coincide with its own
    sub-centroids: codes == own index everywhere, reconstruction MSE
    exactly 0 — the identity sanity of the quantizer."""
    rows = (dq.q_pq_codes(spark, SF)
            .where(F.col("vec_id").between(1, dq.PQ_K)).collect())
    assert len(rows) == dq.PQ_K
    for r in rows:
        assert r["recon_mse"] == 0.0
        assert all(r[f"code_{s}"] == r["vec_id"] - 1
                   for s in range(dq.PQ_M))


def test_pq_codes_are_nibbles(spark):
    rows = dq.q_pq_codes(spark, SF).collect()
    for r in rows:
        for s in range(dq.PQ_M):
            assert 0 <= r[f"code_{s}"] < dq.PQ_K  # 4 bits/subspace


def test_pq_adc_tracks_exact_l2(spark):
    """The ADC ordering must carry real signal about exact L2 order
    even under the crude seed codebook: Spearman rank correlation and
    recall@100 far above the chance floor (100/N ~ 0.2 here).  Top-10
    exactness is NOT claimed — PQ is a coarse sketch; production recall
    comes from re-ranking the ADC shortlist with exact distances."""
    import numpy as np

    rows = spark.read.parquet(SF + "/embeddings.parquet").collect()
    V = {r["vec_id"]: np.asarray(r["embedding"], float) for r in rows}
    q = V[0]
    exact = {k: float(np.sum((v - q) ** 2)) for k, v in V.items() if k}
    cb = dq._pq_codebook(spark, SF)
    lut = [((q[s * 8:(s + 1) * 8][None, :] - cb[s]) ** 2).sum(axis=1)
           for s in range(dq.PQ_M)]

    def adc(v):
        return sum(
            lut[s][np.argmin(((v[s * 8:(s + 1) * 8][None, :]
                               - cb[s]) ** 2).sum(axis=1))]
            for s in range(dq.PQ_M))

    approx = {k: adc(v) for k, v in V.items() if k}
    ks = sorted(exact)
    e = np.array([exact[k] for k in ks])
    a = np.array([approx[k] for k in ks])
    re = np.argsort(np.argsort(e)).astype(float)
    ra = np.argsort(np.argsort(a)).astype(float)
    n = len(e)
    spearman = 1 - 6 * np.sum((re - ra) ** 2) / (n * (n ** 2 - 1))
    assert spearman > 0.4
    top_e = set(np.array(ks)[np.argsort(e)[:100]])
    top_a = set(np.array(ks)[np.argsort(a)[:100]])
    assert len(top_e & top_a) / 100 >= 0.4

    # and the registered top-10 equals the brute recompute of the same
    # ADC ordering (the query is exact about its own approximation)
    want = sorted(approx, key=lambda k: (round(approx[k], 4), k))[:10]
    got = [r["vec_id"] for r in
           dq.q_pq_adc_topk(spark, SF).orderBy("rank").collect()]
    assert got == want


def test_ivfpq_search_stays_in_probed_lists_and_is_exact_about_itself(
        spark):
    """Composed IVF+PQ: every returned vector belongs to one of the
    IVF_NPROBE probed lists (the coarse quantizer really prunes), and
    the registered top-10 equals a full driver-side recompute of the
    same residual-ADC ordering — the query is exact about its own
    approximation.  (No recall claim on this corpus: the synthetic
    gaussian embeddings have no cluster structure, so an untrained
    seed codebook cannot demonstrate residual tightening; production
    trains the PQ codebook on residuals.)"""
    import numpy as np

    probes = dq._ivf_probe_ids(spark, SF, dq.IVF_NPROBE)
    rows = dq.q_ivfpq_topk(spark, SF).orderBy("rank").collect()
    assert len(rows) == 10
    assert {r["list_id"] for r in rows} <= set(probes)

    emb = spark.read.parquet(SF + "/embeddings.parquet").collect()
    V = {r["vec_id"]: np.asarray(r["embedding"], float)
         for r in emb}
    cents = np.asarray(dq._ivf_centroids(spark, SF), dtype=np.float64)
    cb = dq._pq_codebook(spark, SF)
    q = V[0]

    def assign(v):
        n = np.linalg.norm(v)
        sims = (v / n) @ cents.T
        sims = np.sign(sims) * np.floor(np.abs(sims) * 1e4 + 0.5) / 1e4
        return int(np.argmax(sims)) + 1

    def codes(resid):
        out = []
        for s in range(dq.PQ_M):
            d2 = ((resid[s * 8:(s + 1) * 8][None, :] - cb[s]) ** 2)                 .sum(axis=1)
            d2 = np.floor(d2 * 1e4 + 0.5) / 1e4
            out.append(int(np.argmin(d2)))
        return out

    luts = {}
    for p in probes:
        qr = q - cents[p - 1]
        luts[p] = [np.floor(((qr[s * 8:(s + 1) * 8][None, :]
                              - cb[s]) ** 2).sum(axis=1) * 1e4 + 0.5)
                   / 1e4 for s in range(dq.PQ_M)]
    scored = []
    for k, v in V.items():
        if k == 0:
            continue
        lst = assign(v)
        if lst not in luts:
            continue
        cs = codes(v - cents[lst - 1])
        adc = round(sum(float(luts[lst][s][cs[s]])
                        for s in range(dq.PQ_M)), 4)
        scored.append((adc, k))
    want = [k for _, k in sorted(scored)[:10]]
    assert [r["vec_id"] for r in rows] == want


def test_pq_train_step_covers_all_cells_with_sane_shifts(spark):
    rows = dq.q_pq_train_step(spark, SF).collect()
    total = (spark.read.parquet(SF + "/embeddings.parquet")
             .where(F.col("embedding").isNotNull()).count())
    got = {(r["s"], r["code"]) for r in rows}
    assert got <= {(s, k) for s in range(dq.PQ_M) for k in range(dq.PQ_K)}
    # every subspace partitions the full corpus across its codes
    for s in range(dq.PQ_M):
        assert sum(r["n_members"] for r in rows if r["s"] == s) == total
    assert all(r["shift"] >= 0.0 for r in rows)


def test_pq_lloyd_reduces_reconstruction_error(spark):
    """Per-subspace Lloyd steps must lower the mean PQ reconstruction
    MSE over the corpus vs the seed codebook — deterministic on the
    fixed data (Lloyd monotonically decreases the k-means objective)."""
    import numpy as np

    vecs = np.array([
        r["embedding"] for r in
        spark.read.parquet(SF + "/embeddings.parquet")
        .where(F.col("embedding").isNotNull())
        .select("embedding").collect()], dtype=np.float64)

    def mse(cb):
        cb = np.asarray(cb, dtype=np.float64)
        err = np.zeros(len(vecs))
        for s in range(dq.PQ_M):
            X = vecs[:, s * dq.PQ_SUB:(s + 1) * dq.PQ_SUB]
            d2 = ((X[:, None, :] - cb[s][None, :, :]) ** 2).sum(axis=2)
            err += d2.min(axis=1)
        return (err / dq.EMB_DIM).mean()

    seed = dq._pq_codebook(spark, SF)
    trained = dq.pq_lloyd(spark, SF)
    assert mse(trained) < mse(seed)


def test_recall_census_has_all_methods_in_range(spark):
    rows = {r["method"]: r["recall_at_10"]
            for r in dq.q_ann_recall_census(spark, SF).collect()}
    assert set(rows) == {"ivf", "ivfpq", "lsh", "pq_adc"}
    assert all(0.0 <= v <= 1.0 for v in rows.values())
    # the census must agree with a direct intersection for one method
    brute = {r["vec_id"] for r in dq.q_ann_cosine_topk(spark, SF).collect()}
    ivf = {r["vec_id"] for r in dq.q_ann_ivf_topk(spark, SF).collect()}
    assert rows["ivf"] == round(len(brute & ivf) / 10.0, 4)


def test_layout_stamp_is_subsecond_and_sweeps_orphans(spark, tmp_path,
                                                      monkeypatch):
    """(a) The layout stamp carries st_mtime_ns: a source rewrite
    landing within the same SECOND still busts the cached layout
    (whole-second stamps silently reused it — review finding).
    (b) A crashed builder's orphaned *.tmp.* dir is swept once older
    than IVF_TMP_TTL_S, while a fresh (live-builder) temp dir is
    kept."""
    import os
    import shutil
    import time as _time

    # copy the sf dir so we can touch the source without mutating
    # shared testdata
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("embeddings", "documents"):
        shutil.copy(f"{SF}/{t}.parquet", f"{sf}/{t}.parquet")
    monkeypatch.setattr(dq, "IVF_LAYOUT_BASE", str(tmp_path / "layout"))

    p1 = dq.ensure_ivf_layout(spark, sf)
    # rewrite the source "within the same second": bump mtime by 1ns
    st = os.stat(f"{sf}/embeddings.parquet")
    os.utime(f"{sf}/embeddings.parquet",
             ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    p2 = dq.ensure_ivf_layout(spark, sf)
    assert p2 != p1                       # stale layout NOT reused

    # orphan sweep is gated on PID LIVENESS first, TTL age second:
    # dead-owner + old  -> swept;  dead-owner + fresh -> kept (TTL);
    # LIVE owner + old  -> kept (the >TTL in-flight build the mtime
    # gate would have wrongly killed — review finding)
    import subprocess

    dead_pid = subprocess.run(["true"]).returncode is not None and         subprocess.Popen(["true"]).pid
    import time as _t2
    _t2.sleep(0.1)
    try:
        os.waitpid(dead_pid, 0)
    except ChildProcessError:
        pass
    key_prefix = os.path.basename(p2).split("_")[0]
    base = str(tmp_path / "layout")
    stale = os.path.join(base, f"{key_prefix}_999.tmp.{dead_pid}")
    fresh = os.path.join(base, f"{key_prefix}_998.tmp.{dead_pid}")
    live_old = os.path.join(base, f"{key_prefix}_997.tmp.{os.getpid()}")
    # "recycled pid": the dir's owner pid maps to a LIVE process (here:
    # our own), but the dir is older than any plausible build — the
    # age-only backstop must sweep it even though os.kill(pid, 0)
    # succeeds (round-6 ADVICE: a liveness-only gate pins such orphans
    # forever once a dead builder's pid is recycled)
    recycled = os.path.join(base, f"{key_prefix}_996.tmp.{os.getpid()}")
    for d in (stale, fresh, live_old, recycled):
        os.makedirs(d)
    old = _time.time() - dq.IVF_TMP_TTL_S - 10
    ancient = _time.time() - dq.IVF_TMP_RECYCLED_TTL_S - 10
    os.utime(stale, (old, old))
    os.utime(live_old, (old, old))
    os.utime(recycled, (ancient, ancient))
    os.utime(f"{sf}/embeddings.parquet",
             ns=(st.st_atime_ns, st.st_mtime_ns + 2))
    dq.ensure_ivf_layout(spark, sf)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)
    assert os.path.exists(live_old)
    assert not os.path.exists(recycled)


def test_trained_codebooks_lift_recall_on_clustered_data(spark,
                                                         tmp_path):
    """Round-5 verdict item 4, demonstrated where it mathematically
    can be: on a CLUSTERED corpus (16 tight spherical clusters,
    adversarial seed codebook drawn entirely from one cluster),
    ANN_TRAIN_ITERS Lloyd steps materially lift recall@10 for both
    the coarse quantizer (IVF) and the product quantizer (PQ-ADC).
    On the uniform-on-the-sphere synthetic corpus the registered
    census honestly shows IVF flat at fixed nprobe (no clusters to
    align with — BENCH/PLANS.md); this fixture pins the trained-gain
    regime.  The DuckDB oracle re-derives the ENTIRE training
    relationally and must land on the same recalls."""
    import duckdb
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(1)
    C = rng.normal(size=(16, 64))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    pts = []
    for k in range(16):
        P = C[k] + 0.15 * rng.normal(size=(30, 64))
        P /= np.linalg.norm(P, axis=1, keepdims=True)
        pts.append(P)
    seeds = pts[0][:16]                  # all 16 seeds in ONE cluster
    query = C[9] + 0.05 * rng.normal(size=64)
    query /= np.linalg.norm(query)
    rest = np.vstack([pts[0][16:]] + pts[1:])
    vecs = [query] + list(seeds) + list(rest)
    pdf = pd.DataFrame({
        "vec_id": list(range(len(vecs))),
        "embedding": [v.astype(np.float32).tolist() for v in vecs],
    })
    d = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(d + "/embeddings.parquet")

    rows = {(r["method"], r["phase"]): r["recall_at_10"]
            for r in dq.q_ann_recall_census_trained(spark, d).collect()}
    assert rows[("ivf", "trained")] >= rows[("ivf", "seed")] + 0.3
    assert rows[("pq_adc", "trained")] >= rows[("pq_adc", "seed")] + 0.2
    assert rows[("ivf", "trained")] >= 0.9

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{d}/embeddings.parquet/*.parquet')")
    oracle = {(m, ph): rec for m, ph, rec in con.execute(
        dq.q_ann_recall_census_trained_sql()).fetchall()}
    assert oracle == rows
