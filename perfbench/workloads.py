"""The benchmark's workloads.  Each one prepares its inputs, warms up,
runs one timed iteration at a time and checks that iteration's outputs
outside the timed region.  ``layers`` turns a traced run's spans and
event log into the per-layer metrics (see NOTES.md for the map)."""

from __future__ import annotations

import os
import shutil
import time

from . import corpus, eventlog
from .census import STAGES
from .census import load as load_census
from .harness import tagged
from .spans import PIPELINE_FUNCS, Tracer, instrument, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _d, _s, fs in os.walk(path)
               for f in fs)


class Workload:
    name = ""
    min_runs = 1
    max_runs: int | None = None
    n_docs = 0

    def __init__(self, seed: int, cores: int, workdir: str) -> None:
        self.seed, self.cores, self.workdir = seed, cores, workdir

    def out_dir(self, tag: str) -> str:
        return os.path.join(self.workdir, "out", tag)

    def prepare(self) -> None:
        """Inputs, before the session starts."""

    def warm(self, spark) -> None:
        """Untimed iterations until the session is warm."""

    def run_once(self, spark, tag: str) -> float:
        raise NotImplementedError

    def check(self, spark, tag: str) -> tuple[int, int]:
        """(outputs attempted, outputs failed) of iteration ``tag``."""
        raise NotImplementedError

    def cleanup(self, tag: str) -> None:
        shutil.rmtree(self.out_dir(tag), ignore_errors=True)

    def kernel_corpus(self):
        """Rows for the single-process kernel pass (none by default)."""
        return []

    def traced_extra(self, spark, tagger) -> tuple[int, int]:
        """Extra traced work after the traced timed loop; returns
        (outputs attempted, outputs failed)."""
        return 0, 0

    def layers(self, log, tagger, runs: int, wall_s: float,
               kernel_s_per_doc: float) -> dict:
        """Per-layer metrics of the traced run: ``log`` is the parsed
        event log, ``tagger`` the job tagger, ``runs`` and ``wall_s`` the
        count and median wall of the traced timed iterations."""
        raise NotImplementedError


class Extract(Workload):
    """The shipped extraction job over a seeded page corpus that is
    hive-partitioned by day, one fresh output per run.  The traced run
    also lands the corpus as a backfill (successive ``max_files``-limited
    runs into one day-partitioned output, then compaction) to measure the
    resume, manifest and compaction layer."""
    name = "extract"
    n_docs = 8000
    warm_runs = 1
    min_runs = 3
    backfill_files_per_run = 8

    def prepare(self) -> None:
        rows = corpus.generate(self.n_docs, self.seed, self.cores)
        self.rows = rows
        self.golden = {r["url"]: r["text"] for r in rows}
        self.input = os.path.join(self.workdir, "corpus")
        self.files = corpus.write_partitioned(rows, self.input)

    def kernel_corpus(self):
        return self.rows

    def warm(self, spark) -> None:
        for i in range(self.warm_runs):
            self.run_once(spark, f"warm{i}")
            self.cleanup(f"warm{i}")

    def run_once(self, spark, tag: str) -> float:
        from ocr_hardsubx_spark.plans import pipeline

        t0 = time.perf_counter()
        pipeline.run_extraction_job(spark, self.input, self.out_dir(tag))
        return time.perf_counter() - t0

    def check(self, spark, tag: str) -> tuple[int, int]:
        """Per-url byte identity against the golden text, exact row
        count, and no duplicate, missing or unknown url."""
        from ocr_hardsubx_spark.plans.pipeline import read_extracted

        pdf = (read_extracted(spark, self.out_dir(tag))
               .select("url", "extracted_text").toPandas())
        got = dict(zip(pdf["url"], pdf["extracted_text"]))
        failed = (sum(got.get(u) != t for u, t in self.golden.items())
                  + (len(pdf) - len(got))
                  + len(got.keys() - self.golden.keys()))
        return len(self.golden), min(failed, len(self.golden))

    def subset_wall(self, spark, n_files: int, tag: str) -> float:
        """One run over the first ``n_files`` input files (the scaling
        probe)."""
        from ocr_hardsubx_spark.plans import pipeline

        t0 = time.perf_counter()
        pipeline.run_extraction_job(spark, self.input, self.out_dir(tag),
                                    max_files=n_files)
        wall = time.perf_counter() - t0
        self.cleanup(tag)
        return wall

    def traced_extra(self, spark, tagger) -> tuple[int, int]:
        """One backfill of the corpus: runs of ``backfill_files_per_run``
        input files, partitioned by day, until nothing is pending, then
        compaction; checked like a timed run."""
        from ocr_hardsubx_spark.plans import pipeline

        out = self.out_dir("backfill")
        self.backfill_runs = 0
        self.tracer = Tracer()
        with instrument(self.tracer, PIPELINE_FUNCS):
            while True:
                tagger.phase = f"backfill.run{self.backfill_runs}"
                if not pipeline.run_extraction_job(
                        spark, self.input, out,
                        max_files=self.backfill_files_per_run,
                        partition_by_day=True)["files"]:
                    break
                self.backfill_runs += 1
            self.files_before = _parquet_files(os.path.join(out, "data"))
            tagger.phase = "backfill.compact"
            t0 = time.perf_counter()
            pipeline.compact_extracted(spark, out)
            self.compact_s = time.perf_counter() - t0
        self.files_after = _parquet_files(os.path.join(out, "data"))
        tagger.phase = "check"
        result = self.check(spark, "backfill")
        self.cleanup("backfill")
        return result

    def layers(self, log, tagger, runs, wall_s, kernel_s_per_doc):
        jobs, stages = log
        st = eventlog.summarize(jobs, stages, tagged(
            "run", {"save", "parquet"}, {"_write"}))
        run_s = st["executor_run_s"]
        spans = self_times(self.tracer.spans)
        backfill_jobs = eventlog.summarize(
            jobs, stages, tagged("backfill.run"))["jobs"]
        return {
            "extract.stage.executor_run_s": run_s / runs,
            "extract.stage.gc_s": st["gc_s"] / runs,
            "extract.stage.tasks": st["tasks"] / runs,
            "extract.stage.task_skew": st["task_skew"],
            "extract.stage.utilization": (
                run_s / (wall_s * runs * self.cores) if wall_s else 0.0),
            "extract.kernel_share": (
                kernel_s_per_doc * self.n_docs / (run_s / runs)
                if run_s else 0.0),
            "pipeline.write_s": tagger.call_s(
                tagged("run", {"save", "parquet"}, {"_write"})) / runs,
            "pipeline.runs": float(self.backfill_runs),
            "pipeline.pending_s": (spans.get("pipeline.pending", 0.0)
                                   / self.tracer.calls("pipeline.pending")),
            "pipeline.commit_s": (spans.get("pipeline.commit", 0.0)
                                  / self.tracer.calls("pipeline.commit")),
            "pipeline.compact_s": self.compact_s,
            "pipeline.files_before_compact": float(self.files_before),
            "pipeline.files_after_compact": float(self.files_after),
            "pipeline.jobs_per_run": (backfill_jobs
                                      / max(1, self.backfill_runs)),
        }


class Curate(Workload):
    """The shipped curation job over the sf0.1 documents table (5,000
    docs, fixed input: ``--seed`` does not apply), one fresh output per
    run and no frame reused from an earlier run."""
    name = "curate"
    min_runs = max_runs = 1   # only the first run of a session is cold

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        self.input = os.path.join(HERE, "data", "sf0.1")
        self.census = load_census(self.input)
        self.n_docs = pq.ParquetFile(os.path.join(
            self.input, "documents.parquet")).metadata.num_rows

    def _fresh_caches(self, spark) -> None:
        """Forget every session-cached frame and table, as a new job
        submission would."""
        from ocr_hardsubx_spark.plans import dataset_queries as dq

        for cache in (dq._FRAME_CACHE, dq._TABLE_CACHE, dq._IVF_VEC_CACHE,
                      dq._BLOOM_CACHE):
            cache.clear()
        spark.catalog.clearCache()

    def run_once(self, spark, tag: str) -> float:
        from ocr_hardsubx_spark.plans.curation import run_curation_job

        self._fresh_caches(spark)
        t0 = time.perf_counter()
        self.result = run_curation_job(spark, self.input, self.out_dir(tag))
        return time.perf_counter() - t0

    def check(self, spark, tag: str) -> tuple[int, int]:
        """The 7-stage census against the DuckDB oracle census, and the
        run committed under its input fingerprint."""
        from ocr_hardsubx_spark.plans.curation import committed_curation_runs

        res = self.result
        if res.get("skipped"):
            return len(STAGES) + 1, len(STAGES) + 1
        failed = sum(
            (res["stages"].get(stage, {}).get("n_docs"),
             res["stages"].get(stage, {}).get("n_tokens")) != (docs, toks)
            for stage, docs, toks in self.census)
        runs = committed_curation_runs(spark, self.out_dir(tag))
        failed += [(r["run_id"], r["fingerprint"]) for r in runs] != [
            (res["run_id"], res["fingerprint"])]
        return len(STAGES) + 1, failed

    def layers(self, log, tagger, runs, wall_s, kernel_s_per_doc):
        jobs, stages = log

        def jobs_of(**kw):
            return eventlog.summarize(jobs, stages, tagged("run", **kw))

        allj = jobs_of()
        return {
            "curation.jobs": allj["jobs"] / runs,
            "curation.jobs.census": jobs_of(
                actions={"collect"}, callers={"_survivors"})["jobs"] / runs,
            "curation.jobs.lr_train": jobs_of(
                callers={"lr_train"})["jobs"] / runs,
            "curation.checkpoint_s": tagger.call_s(
                tagged("run", {"localCheckpoint", "checkpoint"})) / runs,
            "curation.write_s": tagger.call_s(tagged(
                "run", {"save", "parquet"}, {"run_curation_job"})) / runs,
            "curation.shuffle_bytes": allj["shuffle_bytes"] / runs,
            "curation.spill_bytes": allj["spill_bytes"] / runs,
            "curation.executor_run_s": allj["executor_run_s"] / runs,
            "curation.utilization": (allj["executor_run_s"]
                                     / (wall_s * runs * self.cores)
                                     if wall_s else 0.0),
            "dataset_queries.eager_jobs": jobs_of(
                where="@dataset_queries.py:")["jobs"] / runs,
            "dataset_queries.eager_s": tagger.call_s(
                tagged("run", where="@dataset_queries.py:")) / runs,
        }


WORKLOADS = {w.name: w for w in (Extract, Curate)}
