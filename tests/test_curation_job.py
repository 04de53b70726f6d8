"""End-to-end curation job: funnel composition, shard layout, commit
protocol, and snapshot idempotence.

The job must add NO decision logic of its own — every stage count is
re-derived here from the registered operators it composes, and the
written dataset is cross-checked row-for-row against those operators'
outputs."""

from __future__ import annotations

import os

import pytest

from ocr_hardsubx_spark.plans import curation
from ocr_hardsubx_spark.plans import dataset_queries as dq
from ocr_hardsubx_spark.plans.curation import (
    committed_curation_runs,
    read_curated,
    run_curation_job,
)
from ocr_hardsubx_spark.plans.packaging import REPO_DIR

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def job(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("curated"))
    summary = run_curation_job(spark, SF, out)
    return out, summary


def _expected_keep(spark):
    url = {r["doc_id"]: r["keep"]
           for r in dq.q_url_filter(spark, SF).collect()}
    gop = {r["doc_id"]: r["keep"]
           for r in dq.q_gopher_rules(spark, SF).collect()}
    rep = {r["doc_id"]: r["keep"]
           for r in dq.q_gopher_repetition(spark, SF).collect()}
    c4 = {r["doc_id"]: r["keep"]
          for r in dq.q_c4_clean(spark, SF).collect()}
    ded = {r["doc_id"]: r["keep"]
           for r in dq.q_dedup_keep_list(spark, SF).collect()}
    qual = {r["doc_id"]: r["keep"]
            for r in dq.q_quality_cut_trained(spark, SF).collect()}
    return {i for i in url
            if url[i] and gop[i] and rep[i] and c4[i]
            and ded.get(i, True) and qual[i]}


def test_output_is_exactly_the_surviving_docs(spark, job):
    out, summary = job
    assert not summary["skipped"]
    want = _expected_keep(spark)
    got = read_curated(spark, out)
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert ids == want
    assert summary["n_docs_out"] == len(want)
    clean = {r["doc_id"]: r["clean_text"]
             for r in dq.q_c4_clean(spark, SF).collect()}
    for r in got.select("doc_id", "text").collect():
        assert r["text"] == clean[r["doc_id"]]


def test_stage_census_matches_operator_composition(spark, job):
    _, summary = job
    stages = summary["stages"]
    assert [s for s in stages] == list(
        ("1_raw", "2_url", "3_gopher", "4_repetition", "5_c4",
         "6_near_dedup", "7_quality"))
    docs = spark.read.parquet(SF + "/documents.parquet")
    assert stages["1_raw"]["n_docs"] == docs.count()
    for a, b in zip(list(stages), list(stages)[1:]):
        assert stages[a]["n_docs"] >= stages[b]["n_docs"]
    assert stages["7_quality"]["n_docs"] == summary["n_docs_out"]


def test_shard_layout_is_the_registered_semantics(spark, job):
    """(shard, pos) on the written dataset equals q_shard_shuffle's
    salted-md5 assignment restricted to the survivors: same shard, and
    pos is the dense per-shard rank of the same ordering key."""
    out, _ = job
    got = {r["doc_id"]: (r["shard"], r["pos"])
           for r in read_curated(spark, out).collect()}
    full = {r["doc_id"]: (r["shard"], r["pos"])
            for r in dq.q_shard_shuffle(spark, SF).collect()}
    by_shard: dict[int, list] = {}
    for did, (shard, fpos) in full.items():
        if did in got:
            assert got[did][0] == shard
            by_shard.setdefault(shard, []).append((fpos, did))
    for shard, members in by_shard.items():
        members.sort()
        for rank, (_, did) in enumerate(members, start=1):
            assert got[did] == (shard, rank)


def test_rerun_same_snapshot_is_a_noop(spark, job):
    out, summary = job
    again = run_curation_job(spark, SF, out)
    assert again["skipped"] and again["run_id"] == summary["run_id"]
    assert len(committed_curation_runs(spark, out)) == 1


def test_torn_run_is_invisible(spark, job):
    """A data dir without a manifest (crash before commit) is ignored
    by readers and does not block the committed run."""
    out, summary = job
    torn = os.path.join(out, "data", "run_id=deadbeefdeadbeef")
    os.makedirs(torn, exist_ok=True)
    runs = committed_curation_runs(spark, out)
    assert [r["run_id"] for r in runs] == [summary["run_id"]]
    assert read_curated(spark, out).count() == summary["n_docs_out"]


def test_zero_survivor_run_reads_back_empty(spark, tmp_path, monkeypatch):
    """A committed run whose funnel keeps no doc writes no data file;
    it still reads back, as an empty frame of the curated columns."""
    def none_survive(spark, input_dir):
        surv = spark.createDataFrame(
            [], "doc_id long, lang string, text string, n_tokens long")
        return surv, [(s, 0, 0) for s in curation.CURATION_STAGES]

    monkeypatch.setattr(curation, "_survivors", none_survive)
    out = str(tmp_path / "curated")
    summary = run_curation_job(spark, SF, out)
    assert not summary["skipped"] and summary["n_docs_out"] == 0
    got = read_curated(spark, out)
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("doc_id", "bigint"), ("lang", "string"), ("text", "string"),
        ("n_tokens", "bigint"), ("pos", "bigint"), ("shard", "int")]
    assert got.count() == 0


def _patch_funnel(monkeypatch, fingerprint, doc_ids):
    """Stand-in funnel: the given survivors under the given snapshot
    fingerprint, so a test commits runs without running the operators."""
    def survivors(spark, input_dir):
        surv = spark.createDataFrame(
            [(d, "en", f"doc {d}", 2) for d in doc_ids],
            "doc_id long, lang string, text string, n_tokens long")
        return surv, [(s, len(doc_ids), 2 * len(doc_ids))
                      for s in curation.CURATION_STAGES]

    monkeypatch.setattr(curation, "_survivors", survivors)
    monkeypatch.setattr(curation, "_input_fingerprint",
                        lambda docs: fingerprint)


def test_newest_run_wins_whatever_its_random_suffix(spark, tmp_path,
                                                    monkeypatch):
    """Two runs over changed snapshots: readers see the run committed
    last, even when its random id part sorts below the first run's."""
    import uuid

    descending = iter(range(2**128 - 1, 0, -2**124))
    monkeypatch.setattr(uuid, "uuid4",
                        lambda: uuid.UUID(int=next(descending)))
    out = str(tmp_path / "curated")
    _patch_funnel(monkeypatch, "snapshot-1", [1, 2])
    first = run_curation_job(spark, SF, out)
    _patch_funnel(monkeypatch, "snapshot-2", [3, 4, 5])
    second = run_curation_job(spark, SF, out)
    assert [r["run_id"] for r in committed_curation_runs(spark, out)] == [
        first["run_id"], second["run_id"]]
    assert sorted(r["doc_id"] for r in read_curated(spark, out).collect()
                  ) == [3, 4, 5]


def test_truncated_manifest_reads_as_uncommitted(spark, tmp_path,
                                                 monkeypatch):
    """A manifest cut short (a torn copy+delete rename on an object
    store) is not a committed run: readers skip it instead of raising,
    and a re-run over the same snapshot commits again."""
    _patch_funnel(monkeypatch, "snapshot-1", [1, 2])
    out = str(tmp_path / "curated")
    run_curation_job(spark, SF, out)
    mdir = os.path.join(out, "_manifests")
    (manifest,) = [os.path.join(mdir, f) for f in os.listdir(mdir)]
    with open(manifest, "r+b") as f:
        f.truncate(os.path.getsize(manifest) // 2)
    assert committed_curation_runs(spark, out) == []
    assert not run_curation_job(spark, SF, out)["skipped"]


def test_cli_smoke(tmp_path):
    """The spark-submit entrypoint runs the same code path end to end
    and prints the one-line JSON summary."""
    import json
    import subprocess
    import sys

    out = str(tmp_path / "curated")
    r = subprocess.run(
        [sys.executable, "scripts/run_curation.py", "--input", SF,
         "--output", out, "--cores", "4"],
        capture_output=True, text=True, cwd=REPO_DIR, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["n_docs_out"] > 0 and not summary["skipped"]
