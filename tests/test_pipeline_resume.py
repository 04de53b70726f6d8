"""Scale/infra suite: salting, partition pruning, manifests, resume."""

import os

import pytest
from pyspark.sql import functions as F

from ocr_hardsubx_spark.plans.pipeline import (
    committed_manifests,
    list_input_files,
    pending_input_files,
    read_extracted,
    run_extraction_job,
    salt_repartition,
)
from ocr_hardsubx_spark.plans.queries import FIXTURES_DIR
from ocr_hardsubx_spark.sources.fixtures import write_documents

PART_CORPUS = os.path.join(FIXTURES_DIR, "documents_part")
N_DOCS = 200


@pytest.fixture(scope="module")
def corpus():
    if not os.path.isdir(PART_CORPUS):
        write_documents(PART_CORPUS, N_DOCS, partition_by_day=True)
    return PART_CORPUS


@pytest.fixture(params=["path", "file_uri"])
def out_dir(request, tmp_path):
    """An output directory, once as a plain path (local backend) and
    once as a file:// URI (Hadoop backend)."""
    out = str(tmp_path / "out")
    return out if request.param == "path" else "file://" + out


def _on_disk(path: str) -> str:
    return path.removeprefix("file://")


def test_partition_pruning_reaches_the_scan(spark, corpus):
    df = spark.read.parquet(corpus).where(
        F.col("warc_dt") == "2025-01-01")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "warc_dt" in plan.split("PartitionFilters")[1][:200]
    # pruned count matches the golden day-1 count
    full = spark.read.parquet(corpus)
    expected = full.where(F.to_date("warc_ts") == "2025-01-01").count()
    assert df.count() == expected > 0


def test_salting_spreads_megahost(spark, corpus):
    """Zipf host0000 holds a large share; after salting no task partition
    should hold more than ~3x the mean."""
    df = spark.read.parquet(corpus)
    salted = salt_repartition(df, 16)
    sizes = (salted.withColumn("pid", F.spark_partition_id())
             .groupBy("pid").count().collect())
    counts = [r["count"] for r in sizes]
    assert sum(counts) == N_DOCS
    assert max(counts) <= 3 * (sum(counts) / len(counts))


def test_run_resume_idempotent(spark, corpus, tmp_path):
    out = str(tmp_path / "extracted")
    n_files = len(list_input_files(corpus))
    assert n_files >= 4, "need multiple input files for resume"

    # run 1: simulate a job killed after 2 files
    r1 = run_extraction_job(spark, corpus, out, max_files=2)
    assert r1["files"] == 2
    assert len(pending_input_files(spark, corpus, out)) == n_files - 2

    # run 2: resume processes the remainder
    r2 = run_extraction_job(spark, corpus, out)
    assert r2["files"] == n_files - 2

    # run 3: nothing pending — a no-op
    r3 = run_extraction_job(spark, corpus, out)
    assert r3["files"] == 0 and r3["run_id"] is None

    # committed output covers every url exactly once, byte-identical
    result = read_extracted(spark, out)
    golden = spark.read.parquet(corpus).select("url", "text")
    joined = result.join(golden, "url").collect()
    assert len(joined) == N_DOCS
    assert result.select("url").distinct().count() == N_DOCS
    bad = [r["url"] for r in joined if r["extracted_text"] != r["text"]]
    assert not bad, bad[:3]


def test_manifest_lineage_and_metrics(spark, corpus, tmp_path):
    out = str(tmp_path / "extracted")
    run_extraction_job(spark, corpus, out)
    m = committed_manifests(spark, out).collect()
    assert len(m) == len(list_input_files(corpus))
    for row in m:
        assert row["input_file"].startswith("/")  # normalized plain path
        assert row["rows"] > 0
        # per-file bytes are -1 ("see run_bytes_out") on the fast path
        assert row["bytes_out"] == -1 or row["bytes_out"] > 0
        assert row["run_bytes_out"] > 0
        assert row["wall_ms"] > 0
        assert row["n_partitions"] >= 1


def test_day_range_run_commits_pruned_files(spark, corpus, tmp_path):
    """Files fully pruned by the day filter still commit (0 rows) so they
    are not re-processed on a SAME-range resume; the manifest records the
    range."""
    out = str(tmp_path / "extracted")
    rng = ("2025-01-01", "2025-01-01")
    r = run_extraction_job(spark, corpus, out, day_range=rng)
    assert r["files"] == len(list_input_files(corpus))
    assert len(pending_input_files(spark, corpus, out, day_range=rng)) == 0
    m = committed_manifests(spark, out).collect()
    assert all(row["day_range"] == "2025-01-01..2025-01-01" for row in m)
    result = read_extracted(spark, out)
    assert result.count() < N_DOCS
    assert result.count() > 0


def test_day_range_mismatch_refuses_resume(spark, corpus, tmp_path):
    """An output dir is bound to one day_range policy: resuming with a
    different (or no) range raises instead of silently skipping the
    committed files' unprocessed days (round-1 advisory)."""
    out = str(tmp_path / "extracted")
    run_extraction_job(spark, corpus, out,
                       day_range=("2025-01-01", "2025-01-01"))
    with pytest.raises(ValueError, match="day_range"):
        pending_input_files(spark, corpus, out)  # full range
    with pytest.raises(ValueError, match="day_range"):
        run_extraction_job(spark, corpus, out,
                           day_range=("2025-01-02", "2025-01-03"))
    # same range resumes fine (no-op)
    r = run_extraction_job(spark, corpus, out,
                           day_range=("2025-01-01", "2025-01-01"))
    assert r["files"] == 0


def test_day_range_metrics_single_input_scan(spark, corpus, tmp_path,
                                             monkeypatch):
    """A day-filtered run constructs exactly ONE read of the input and
    NEVER reads back its own written output for metrics (round-1 verdict
    item 8: the per-file metrics come from the persisted extraction
    frame, not a re-scan)."""
    from pyspark.sql.readwriter import DataFrameReader

    out = str(tmp_path / "extracted")
    calls: list[tuple] = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        calls.append(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    r = run_extraction_job(spark, corpus, out,
                           day_range=("2025-01-01", "2025-01-02"))
    assert r["rows"] > 0
    input_reads = [c for c in calls
                   if any(corpus in p for p in c)]
    output_reads = [c for c in calls
                    if any(p.startswith(out) and "_manifests" not in p
                           for p in c)]
    assert len(input_reads) == 1
    assert output_reads == []


def test_file_uri_listing_and_run(spark, corpus, tmp_path):
    """file:// URIs route through the Hadoop FileSystem API and the job
    runs end-to-end on them (the s3a:// path uses the same code)."""
    uri = "file://" + corpus
    files = list_input_files(uri, spark)
    assert len(files) == len(list_input_files(corpus))
    assert all(f.startswith("file:") for f in files)
    out = str(tmp_path / "extracted")
    r = run_extraction_job(spark, uri, out)
    assert r["files"] == len(files) and r["rows"] == N_DOCS
    assert read_extracted(spark, out).count() == N_DOCS


def test_uri_listing_requires_spark():
    with pytest.raises(ValueError, match="SparkSession"):
        list_input_files("s3a://bucket/prefix")


def test_unreachable_uri_raises_not_empty(spark):
    """A bogus scheme must raise, never silently return zero files."""
    with pytest.raises(Exception):
        list_input_files("nosuchfs://bucket/prefix", spark)


def test_missing_local_input_raises(spark, tmp_path):
    """A missing local input (a typo'd --input) raises instead of
    returning {"files": 0}, which reads as "everything is already
    committed"; an existing directory with no parquet files (a hidden
    one does not count) is empty."""
    missing = str(tmp_path / "no_such_input")
    with pytest.raises(FileNotFoundError):
        list_input_files(missing)
    with pytest.raises(FileNotFoundError):
        run_extraction_job(spark, missing, str(tmp_path / "out"))
    (tmp_path / "empty").mkdir()
    (tmp_path / "empty" / ".in_progress.parquet").write_bytes(b"")
    assert list_input_files(str(tmp_path / "empty")) == []


SCAN_CONF_KEYS = ("spark.sql.files.maxPartitionBytes",
                  "spark.sql.files.openCostInBytes")


def test_max_partition_bytes_restored_after_run(spark, corpus, tmp_path,
                                                monkeypatch):
    """run_extraction_job sizes scan splits via session-global confs; it
    must restore every one of them on exit, normal or not, so later
    queries in the same session never inherit a tiny local split size or
    a zero open cost (round-2 verdict)."""
    from ocr_hardsubx_spark.plans import pipeline

    def current():
        return {k: spark.conf.get(k) for k in SCAN_CONF_KEYS}

    sizes = [os.path.getsize(f) for f in list_input_files(corpus)]
    cores = spark.sparkContext.defaultParallelism
    # the corpus's day files are small, so the run sets every key
    assert set(pipeline._local_scan_conf(sizes, cores, cores * 4)) == set(
        SCAN_CONF_KEYS)
    before = current()
    sentinels = {k: str(77777777 + i) for i, k in enumerate(SCAN_CONF_KEYS)}
    try:
        for k, v in sentinels.items():
            spark.conf.set(k, v)
        run_extraction_job(spark, corpus, str(tmp_path / "out"))
        assert current() == sentinels
        run_extraction_job(spark, corpus, str(tmp_path / "out"))  # no-op
        assert current() == sentinels

        def boom(*a, **kw):
            assert current() != sentinels  # the run's own sizing is live
            raise RuntimeError("inner failure")

        monkeypatch.setattr(pipeline, "_run_extraction_job_inner", boom)
        with pytest.raises(RuntimeError, match="inner failure"):
            run_extraction_job(spark, corpus, str(tmp_path / "out2"))
        assert current() == sentinels
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_small_files_pack_into_core_sized_tasks(spark, corpus, tmp_path):
    """Small local files share tasks: N files well under the 4 MB open
    cost used to run as N tasks.  A non-partitioned write leaves one part
    file per task, so part files count the extraction stage's tasks: at
    most n_partitions, at least min(N, cores), and every row once."""
    import pyarrow.parquet as pq

    n_files = 20
    table = pq.read_table(corpus).drop_columns(["warc_dt"])
    src = tmp_path / "small"
    src.mkdir()
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       str(src / f"part-{i:02d}.parquet"))
    cores = spark.sparkContext.defaultParallelism
    n_partitions = cores * 4  # the job's default
    assert n_files > n_partitions  # one task per file breaks the bound
    out = str(tmp_path / "out")
    r = run_extraction_job(spark, str(src), out)
    assert r["files"] == n_files and r["rows"] == N_DOCS
    parts = [f for f in os.listdir(os.path.join(out, "data",
                                                f"run_id={r['run_id']}"))
             if f.startswith("part-")]
    assert min(n_files, cores) <= len(parts) <= n_partitions
    assert read_extracted(spark, out).count() == N_DOCS


def test_uri_output_manifests_and_resume(spark, corpus, tmp_path):
    """Manifest commit log under a URI output (round-2 advisory): with
    output=file://... the manifests must land under the output, resume
    must see them (no duplicate reprocessing), and read_extracted must
    work — all through the Hadoop FileSystem API, the same path an
    s3a:// output takes."""
    out = "file://" + str(tmp_path / "uri_out")
    r1 = run_extraction_job(spark, corpus, out, max_files=2)
    assert r1["files"] == 2
    n_files = len(list_input_files(corpus))
    # resume sees the committed manifests through the FS API
    assert len(pending_input_files(spark, corpus, out)) == n_files - 2
    r2 = run_extraction_job(spark, corpus, out)
    assert r2["files"] == n_files - 2
    r3 = run_extraction_job(spark, corpus, out)      # no-op, NOT a re-run
    assert r3["files"] == 0 and r3["run_id"] is None
    # exactly one committed copy of every url, byte-identical
    result = read_extracted(spark, out)
    assert result.select("url").distinct().count() == N_DOCS
    assert result.count() == N_DOCS
    golden = spark.read.parquet(corpus).select("url", "text")
    bad = [r["url"] for r in result.join(golden, "url").collect()
           if r["extracted_text"] != r["text"]]
    assert not bad, bad[:3]
    # no stray local-relative manifest dir was created by the URI run
    assert not os.path.exists("file:")


def test_compaction_preserves_rows_and_coverage(spark, corpus, tmp_path):
    from ocr_hardsubx_spark.plans.pipeline import (
        compact_extracted,
        live_runs,
    )

    out = str(tmp_path / "out")
    run_extraction_job(spark, corpus, out, max_files=2)
    run_extraction_job(spark, corpus, out)          # second run: the rest
    before = sorted(
        (r["url"], r["extracted_text"])
        for r in read_extracted(spark, out).collect())
    assert len(live_runs(spark, out)) == 2

    res = compact_extracted(spark, out, target_file_mb=256)
    assert res["compacted"] and res["replaced"] == 2
    # one live run; replaced data dirs GC'd
    assert live_runs(spark, out) == [res["run_id"]]
    assert sorted(os.listdir(os.path.join(out, "data"))) == \
        [f"run_id={res['run_id']}"]
    # byte-identical content
    after = sorted(
        (r["url"], r["extracted_text"])
        for r in read_extracted(spark, out).collect())
    assert after == before
    # input coverage carried forward: nothing is pending, nothing re-runs
    assert pending_input_files(spark, corpus, out) == []
    assert run_extraction_job(spark, corpus, out)["files"] == 0
    # second compaction is a no-op (single live run)
    assert compact_extracted(spark, out)["compacted"] is False


def test_compaction_crash_window_never_duplicates(spark, corpus, tmp_path):
    """Simulate a crash AFTER the supersede commit but BEFORE GC: the
    replaced data dirs still exist, yet readers must not see their rows
    twice (the `replaces` flip, not the deletion, is the visibility
    boundary)."""
    import shutil

    from ocr_hardsubx_spark.plans.pipeline import (
        compact_extracted,
        live_runs,
    )

    out = str(tmp_path / "out")
    run_extraction_job(spark, corpus, out, max_files=2)
    run_extraction_job(spark, corpus, out)
    old = live_runs(spark, out)
    # stash the old run dirs + manifests, compact, then restore them —
    # exactly the on-disk state of a crash before GC
    stash = tmp_path / "stash"
    stash.mkdir()
    for r in old:
        shutil.copytree(os.path.join(out, "data", f"run_id={r}"),
                        stash / f"run_id={r}")
        shutil.copy(os.path.join(out, "_manifests", f"{r}.parquet"),
                    stash / f"{r}.parquet")
    before = sorted(r["url"] for r in read_extracted(spark, out).collect())
    res = compact_extracted(spark, out)
    for r in old:
        shutil.copytree(stash / f"run_id={r}",
                        os.path.join(out, "data", f"run_id={r}"))
        shutil.copy(stash / f"{r}.parquet",
                    os.path.join(out, "_manifests", f"{r}.parquet"))
    assert set(live_runs(spark, out)) == {res["run_id"]}
    after = sorted(r["url"] for r in read_extracted(spark, out).collect())
    assert after == before


def test_compaction_targets_file_size(spark, corpus, tmp_path):
    from ocr_hardsubx_spark.plans.pipeline import compact_extracted

    out = str(tmp_path / "out")
    run_extraction_job(spark, corpus, out, max_files=2)
    run_extraction_job(spark, corpus, out)
    # a 1 MB target on a tiny corpus -> 1 output file; the formula is
    # ceil(bytes/target)
    res = compact_extracted(spark, out, target_file_mb=1)
    files = [f for f in os.listdir(
        os.path.join(out, "data", f"run_id={res['run_id']}"))
        if f.endswith(".parquet")]
    assert len(files) == res["n_files"] >= 1


def test_compaction_preserves_day_range_policy(spark, corpus, tmp_path):
    """Compacted manifests carry the original day_range rows, so the
    one-policy-per-output-dir rule survives compaction: same-range
    resume sees full coverage, different-range resume still refuses."""
    from ocr_hardsubx_spark.plans.pipeline import compact_extracted

    out = str(tmp_path / "out")
    rng = ("2025-01-01", "2025-01-02")
    run_extraction_job(spark, corpus, out, day_range=rng, max_files=2)
    run_extraction_job(spark, corpus, out, day_range=rng)
    assert compact_extracted(spark, out)["compacted"]
    assert pending_input_files(spark, corpus, out, day_range=rng) == []
    with pytest.raises(ValueError):
        pending_input_files(spark, corpus, out)  # full range: refuse


def test_partitioned_output_prunes_and_matches(spark, corpus, tmp_path):
    """partition_by_day=True writes hive day dirs inside the run dir;
    reading the EXTRACTED table with a day filter prunes at the scan,
    and content equals the flat layout byte for byte."""
    out_p = str(tmp_path / "part")
    out_f = str(tmp_path / "flat")
    run_extraction_job(spark, corpus, out_p, partition_by_day=True)
    run_extraction_job(spark, corpus, out_f)

    r = committed_manifests(spark, out_p).select("run_id").first()["run_id"]
    day_dirs = [d for d in os.listdir(
        os.path.join(out_p, "data", f"run_id={r}"))
        if d.startswith("warc_dt=")]
    assert len(day_dirs) > 1

    part = read_extracted(spark, out_p)
    assert "warc_dt" in part.columns
    one_day = sorted(d.split("=")[1] for d in day_dirs)[0]
    filtered = part.where(F.col("warc_dt") == one_day)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(warc_dt" in plan, plan

    a = sorted((r["url"], r["extracted_text"]) for r in part.collect())
    b = sorted((r["url"], r["extracted_text"])
               for r in read_extracted(spark, out_f).collect())
    assert a == b


def test_compaction_preserves_partitioned_layout(spark, corpus, tmp_path):
    from ocr_hardsubx_spark.plans.pipeline import compact_extracted

    out = str(tmp_path / "out")
    run_extraction_job(spark, corpus, out, max_files=2,
                       partition_by_day=True)
    run_extraction_job(spark, corpus, out, partition_by_day=True)
    before = sorted((r["url"], r["extracted_text"])
                    for r in read_extracted(spark, out).collect())
    res = compact_extracted(spark, out)
    assert res["compacted"]
    day_dirs = [d for d in os.listdir(
        os.path.join(out, "data", f"run_id={res['run_id']}"))
        if d.startswith("warc_dt=")]
    assert len(day_dirs) > 1
    after = sorted((r["url"], r["extracted_text"])
                   for r in read_extracted(spark, out).collect())
    assert after == before


def test_vacuum_repairs_crashed_gc_before_next_compaction(spark, corpus,
                                                          tmp_path):
    """The supersede-chain scenario (review finding): compaction 1
    crashes before GC, a new run lands, compaction 2 runs.  Without the
    vacuum step, compaction 2's GC would delete the manifest carrying
    run1/run2's supersession while their dirs still exist — resurrecting
    their rows as duplicates.  With it, the leftovers are reclaimed
    first and the final state is exactly one live run with no
    duplicates."""
    import shutil

    from ocr_hardsubx_spark.plans.pipeline import (
        compact_extracted,
        live_runs,
    )

    out = str(tmp_path / "out")
    run_extraction_job(spark, corpus, out, max_files=2)
    run_extraction_job(spark, corpus, out, max_files=2)
    old = live_runs(spark, out)
    stash = tmp_path / "stash"
    stash.mkdir()
    for r in old:
        shutil.copytree(os.path.join(out, "data", f"run_id={r}"),
                        stash / f"run_id={r}")
        shutil.copy(os.path.join(out, "_manifests", f"{r}.parquet"),
                    stash / f"{r}.parquet")
    compact_extracted(spark, out)
    # simulate: compaction 1's GC never happened
    for r in old:
        shutil.copytree(stash / f"run_id={r}",
                        os.path.join(out, "data", f"run_id={r}"))
        shutil.copy(stash / f"{r}.parquet",
                    os.path.join(out, "_manifests", f"{r}.parquet"))
    # a third run lands, then compaction 2
    run_extraction_job(spark, corpus, out)
    expected = sorted(r["url"] for r in read_extracted(spark, out).collect())
    res = compact_extracted(spark, out)
    assert res["vacuum"]["superseded_removed"] == len(old)
    assert live_runs(spark, out) == [res["run_id"]]
    got = sorted(r["url"] for r in read_extracted(spark, out).collect())
    assert got == expected
    # full corpus exactly once
    n_docs = spark.read.parquet(corpus).count()
    assert len(got) == n_docs and len(set(got)) == n_docs


def test_vacuum_reclaims_orphan_compact_dir(spark, corpus, out_dir):
    """Crash between the compacted data write and its manifest commit:
    the orphan compact* dir is reclaimed by the next vacuum; a PLAIN
    run dir without a manifest (a live job mid-commit) is untouched."""
    from ocr_hardsubx_spark.plans.pipeline import vacuum_superseded

    out = out_dir
    run_extraction_job(spark, corpus, out)
    orphan = os.path.join(_on_disk(out), "data", "run_id=compactdeadbeef0")
    os.makedirs(orphan)
    midjob = os.path.join(_on_disk(out), "data", "run_id=aaaa1111bbbb2222")
    os.makedirs(midjob)
    vac = vacuum_superseded(spark, out)
    assert vac["orphans_removed"] == 1
    assert not os.path.exists(orphan)
    assert os.path.exists(midjob)  # plain uncommitted run: NOT eligible


def test_compaction_lease_blocks_second_compactor(spark, corpus, out_dir):
    """Round-3 verdict item 10: while a lease is held, a second
    compactor aborts cleanly (no data touched, no `replaces` flip); a
    STALE lease (crashed owner past TTL) is broken and compaction
    proceeds; a successful compaction releases its lease."""
    import json
    import time as _time

    from ocr_hardsubx_spark.plans.pipeline import (
        CompactionLeaseHeld,
        _acquire_compaction_lease,
        _lease_path,
        _release_compaction_lease,
        compact_extracted,
        live_runs,
    )

    out = out_dir
    lease = _lease_path(_on_disk(out))
    run_extraction_job(spark, corpus, out, max_files=2)
    run_extraction_job(spark, corpus, out)
    assert len(live_runs(spark, out)) == 2

    # first compactor holds the lease
    token = _acquire_compaction_lease(spark, out)
    with pytest.raises(CompactionLeaseHeld):
        compact_extracted(spark, out)
    assert len(live_runs(spark, out)) == 2          # nothing happened
    # releasing with the WRONG owner is a no-op
    _release_compaction_lease(spark, out, "not-the-owner")
    assert os.path.exists(lease)
    _release_compaction_lease(spark, out, token)
    assert not os.path.exists(lease)

    # a stale lease (crashed compactor) is broken after its TTL —
    # staleness is judged from the FILE mtime, so age the file itself
    with open(lease, "w") as f:
        json.dump({"owner": "dead", "ttl_ms": 1}, f)
    old_t = _time.time() - 10
    os.utime(lease, (old_t, old_t))
    res = compact_extracted(spark, out)
    assert res["compacted"] and res["replaced"] == 2
    # the successful run released its own lease
    assert not os.path.exists(lease)


def test_torn_manifest_reads_as_uncommitted(spark, corpus, tmp_path):
    """Object-store commit caveat (round-4): a manifest torn mid-rename
    (S3A copy+delete) must read as NOT committed — its run's inputs
    return to pending and readers keep working — instead of crashing
    every manifest scan."""
    from ocr_hardsubx_spark.plans.pipeline import committed_manifests

    out = str(tmp_path / "out")
    run_extraction_job(spark, corpus, out, max_files=2)
    run_extraction_job(spark, corpus, out)
    mdir = os.path.join(out, "_manifests")
    manifests = sorted(os.listdir(mdir))
    assert len(manifests) == 2
    committed_before = {
        r["run_id"] for r in
        committed_manifests(spark, out).select("run_id").distinct()
        .collect()}

    # tear the second manifest: truncate to half (invalid footer)
    victim = os.path.join(mdir, manifests[1])
    data = open(victim, "rb").read()
    with open(victim, "wb") as f:
        f.write(data[: len(data) // 2])

    m = committed_manifests(spark, out)
    committed_after = {r["run_id"]
                      for r in m.select("run_id").distinct().collect()}
    assert len(committed_after) == 1
    assert committed_after < committed_before
    # the torn run's input files are pending again (will re-process)
    pending = pending_input_files(spark, corpus, out)
    assert len(pending) > 0


def test_lease_edge_cases_unreadable_break_and_renewal(spark, corpus,
                                                       out_dir):
    """Review findings: (a) an EMPTY/corrupt lease (writer crashed in
    the create->write gap) is breakable after its TTL because staleness
    comes from the file mtime, never the content; (b) a FRESH
    unreadable lease still blocks; (c) renewal bumps the mtime so a
    long-running owner is not presumed crashed."""
    import time as _time

    from ocr_hardsubx_spark.plans.pipeline import (
        CompactionLeaseHeld,
        _acquire_compaction_lease,
        _lease_path,
        _release_compaction_lease,
        _renew_compaction_lease,
    )

    out = out_dir
    lease = _lease_path(_on_disk(out))
    run_extraction_job(spark, corpus, out, max_files=2)

    # (b) fresh zero-byte lease: identity unknown, still held
    open(lease, "wb").close()
    with pytest.raises(CompactionLeaseHeld):
        _acquire_compaction_lease(spark, out)

    # (a) the same zero-byte lease aged past the TTL: breakable
    old_t = _time.time() - 7200
    os.utime(lease, (old_t, old_t))
    token = _acquire_compaction_lease(spark, out)
    assert token

    # (c) renewal bumps mtime only for the owner
    os.utime(lease, (old_t, old_t))
    _renew_compaction_lease(spark, out, "not-the-owner")
    assert os.path.getmtime(lease) < old_t + 1
    _renew_compaction_lease(spark, out, token)
    assert os.path.getmtime(lease) > _time.time() - 60
    _release_compaction_lease(spark, out, token)
    assert not os.path.exists(lease)


def test_lease_heartbeat_outlives_ttl_and_release_restores_foreign(
        spark, corpus, out_dir):
    """(a) A compaction whose critical section outlives the TTL is NOT
    stealable while its heartbeat runs (the single post-rewrite renewal
    left the rewrite window unprotected — review finding); with the
    heartbeat stopped, the same lease goes stale and a second acquirer
    breaks it.  (b) Releasing after one's lease was broken-and-replaced
    RESTORES the new owner's lease instead of deleting it."""
    import json
    import time as _time

    from ocr_hardsubx_spark.plans.pipeline import (
        CompactionLeaseHeld,
        _acquire_compaction_lease,
        _lease_path,
        _LeaseHeartbeat,
        _release_compaction_lease,
    )

    out = out_dir
    lease = _lease_path(_on_disk(out))
    run_extraction_job(spark, corpus, out, max_files=2)

    ttl = 1000                               # 1s TTL, heartbeat ~every 250ms
    token = _acquire_compaction_lease(spark, out, ttl_ms=ttl)
    with _LeaseHeartbeat(spark, out, token, ttl_ms=ttl):
        _time.sleep(2.5)                     # 2.5 x TTL inside the hold
        with pytest.raises(CompactionLeaseHeld):
            _acquire_compaction_lease(spark, out, ttl_ms=ttl)
    # heartbeat stopped: after TTL the lease is breakable (control)
    _time.sleep(1.5)
    thief = _acquire_compaction_lease(spark, out, ttl_ms=ttl)
    assert thief and thief != token

    # (b) the displaced original owner releases: the thief's lease must
    # survive, content intact
    _release_compaction_lease(spark, out, token)
    assert os.path.exists(lease)
    with open(lease) as f:
        assert json.load(f)["owner"] == thief
    _release_compaction_lease(spark, out, thief)
    assert not os.path.exists(lease)
