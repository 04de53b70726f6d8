#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload extract --seed 7 --seconds 20 \\
        --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Lines before it give the same numbers for a reader, with
the spread of the timed runs and the box-load control.  Every file the
run writes stays under ``--workdir`` (default ``.perfbench_work/`` in the
checkout), which is removed at the end.  See perfbench/NOTES.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# name -> unit, in the order of BENCHMARK.json
END_TO_END = {"setup_s": "s", "wall_s": "s", "docs_per_s": "1/s",
              "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.worker_warm_s": "s",
    "fixtures.gen_s": "s", "warmup_s": "s",
    "parse.self_s": "s", "parse.mb_per_s": "MB/s",
    "cascade.feature_matrix.self_s": "s", "cascade.stage1.self_s": "s",
    "cascade.nms.self_s": "s", "cascade.stage2.self_s": "s",
    "cascade.regions": "count", "cascade.stage1_accept_ratio": "ratio",
    "cascade.nms_keep_ratio": "ratio", "cascade.stage2_keep_ratio": "ratio",
    "grouping.group.self_s": "s", "grouping.feedback.self_s": "s",
    "grouping.groups": "count", "grouping.feedback_absorbed": "count",
    "dedup.self_s": "s", "dedup.drop_ratio": "ratio",
    "assemble.self_s": "s",
    "extract_batch.self_s": "s", "extract_batch.batches": "count",
    "extract_batch.docs_per_s_1core": "1/s", "kernel.coverage": "ratio",
    "extract.stage.executor_run_s": "s", "extract.stage.gc_s": "s",
    "extract.stage.tasks": "count", "extract.stage.task_skew": "ratio",
    "extract.stage.utilization": "ratio", "extract.kernel_share": "ratio",
    "extract.scaling_eff": "ratio",
    "pipeline.runs": "count", "pipeline.pending_s": "s",
    "pipeline.write_s": "s", "pipeline.commit_s": "s",
    "pipeline.compact_s": "s", "pipeline.files_before_compact": "count",
    "pipeline.files_after_compact": "count",
    "pipeline.jobs_per_run": "count",
    "curation.jobs": "count", "curation.jobs.census": "count",
    "curation.jobs.lr_train": "count", "curation.checkpoint_s": "s",
    "curation.write_s": "s", "curation.shuffle_bytes": "bytes",
    "curation.spill_bytes": "bytes", "curation.executor_run_s": "s",
    "curation.utilization": "ratio",
    "dataset_queries.eager_jobs": "count", "dataset_queries.eager_s": "s",
    "trace.overhead_s": "s", "trace.kernel_overhead_s": "s",
    "box.control_mb_s": "MB/s",
}
KERNEL_BATCH = 512
KERNEL_DOCS = 4096  # the first 8 batches of the corpus


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract", "curate"))
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="timed seconds to measure (at least min runs)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", default=None,
                    help="working directory for corpora, outputs and "
                         "event logs (removed at the end)")
    return ap.parse_args(argv)


class Run:
    """One process: set up, time, check, and (traced) attribute."""

    def __init__(self, args, workdir: str) -> None:
        from perfbench import harness, workloads

        self.h = harness
        self.args = args
        self.cores = len(os.sched_getaffinity(0))  # nproc
        self.workdir = workdir
        self.w = workloads.WORKLOADS[args.workload](
            args.seed, self.cores, workdir)
        self.layer: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.controls: list[float] = []

    # -- phases --

    def setup(self):
        h, w = self.h, self.w
        t = time.perf_counter()
        w.prepare()
        self.layer["fixtures.gen_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark = h.start_spark(self.cores, self.workdir)
        self.layer["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        h.warm_workers(spark, self.cores)
        self.layer["session.worker_warm_s"] = time.perf_counter() - t
        t = time.perf_counter()
        w.warm(spark)
        self.layer["warmup_s"] = time.perf_counter() - t
        self.setup_s = time.perf_counter() - T_START
        return spark

    def timed_loop(self, spark, label: str, sampler, seconds: float,
                   tagger=None):
        """Timed iterations until ``seconds`` of timed work (and the
        workload's minimum run count) are done; each is checked and
        followed by the box-load control, both outside the timed
        region."""
        walls = []
        w = self.w
        while (len(walls) < w.min_runs or sum(walls) < seconds) and (
                w.max_runs is None or len(walls) < w.max_runs):
            tag = f"{label}{len(walls)}"
            if tagger is not None:
                tagger.phase = tag
            sampler.active.set()
            try:
                walls.append(w.run_once(spark, tag))
            finally:
                sampler.active.clear()
            if tagger is not None:
                tagger.phase = "check"
            attempted, failed = w.check(spark, tag)
            self.attempted += attempted
            self.failed += failed
            w.cleanup(tag)
            self.controls.append(self.h.control_mb_s())
        return walls

    def kernel_pass(self, rows, traced: bool) -> float:
        """extract_pandas_batch over ``rows`` in 512-doc batches in this
        process, outputs checked; returns the pass's wall time."""
        import pandas as pd

        from ocr_hardsubx_spark.operators import extract as ex
        from ocr_hardsubx_spark.sources.model_store import load_models
        from perfbench.spans import (KERNEL_COUNTERS, KERNEL_FUNCS, Tracer,
                                     instrument, kernel_metrics)

        pdf = pd.DataFrame({k: [r[k] for r in rows]
                            for k in ("url", "warc_ts", "html", "lang")})
        nm1, nm2 = load_models()
        tracer = Tracer()
        outs = []
        t0 = time.perf_counter()
        if traced:
            with instrument(tracer, KERNEL_FUNCS, KERNEL_COUNTERS):
                for s in range(0, len(pdf), KERNEL_BATCH):
                    with tracer.span("extract_batch"):
                        outs.append(ex.extract_pandas_batch(
                            pdf.iloc[s:s + KERNEL_BATCH], nm1, nm2))
        else:
            for s in range(0, len(pdf), KERNEL_BATCH):
                outs.append(ex.extract_pandas_batch(
                    pdf.iloc[s:s + KERNEL_BATCH], nm1, nm2))
        wall = time.perf_counter() - t0
        got = dict(zip((u for o in outs for u in o["url"]),
                       (t for o in outs for t in o["extracted_text"])))
        self.attempted += len(rows)
        self.failed += sum(got.get(r["url"]) != r["text"] for r in rows)
        if traced:
            self.layer.update(kernel_metrics(tracer, wall, len(rows),
                                             len(outs)))
        return wall

    def main(self) -> dict:
        h = self.h
        with h.RssSampler() as sampler:
            spark = self.setup()
            # a traced run keeps both of its loops to the minimum count
            seconds = 0 if self.args.trace else self.args.seconds
            walls = self.timed_loop(spark, "run", sampler, seconds)
            peak = sampler.peak
            self.peak_split = sampler.peak_split
            spark.stop()
            h.stop_jvm()
            if self.args.trace:
                self.traced(walls, sampler)
        self.report(walls, peak)
        if self.args.trace:
            units, values = PER_LAYER, self.layer
        else:
            wall = h.median(walls)
            units, values = END_TO_END, {
                "setup_s": self.setup_s, "wall_s": wall,
                "docs_per_s": self.w.n_docs / wall,
                "peak_rss_mb": peak / 1e6}
        return {"correct": self.failed == 0 and self.attempted > 0,
                "attempted": self.attempted, "failed": self.failed,
                "metrics": {k: {"value": float(values.get(k, 0.0)),
                                "unit": u} for k, u in units.items()}}

    def traced(self, walls, sampler) -> None:
        """The traced run, after the untraced one: a fresh JVM set up the
        same way, with the event log on and every action tagged, the same
        number of timed iterations, then the kernel spans."""
        from perfbench import eventlog

        h, w = self.h, self.w
        log_dir = os.path.join(self.workdir, "eventlog")
        spark = h.start_spark(self.cores, self.workdir, log_dir)
        h.warm_workers(spark, self.cores)
        with h.JobTagger(spark) as tagger:
            tagger.phase = "warm"
            w.warm(spark)
            twalls = self.timed_loop(spark, "run", sampler, 0, tagger)
            attempted, failed = w.traced_extra(spark, tagger)
            self.attempted += attempted
            self.failed += failed
        if w.name == "extract":
            self.scaling(spark)
        else:
            spark.stop()
        h.stop_jvm()
        log = eventlog.read(h.event_log_file(log_dir))
        self.layer["trace.overhead_s"] = h.median(twalls) - h.median(walls)
        kernel_s_per_doc = 0.0
        rows = w.kernel_corpus()[:KERNEL_DOCS]
        if rows:
            self.kernel_pass(rows[:KERNEL_BATCH], traced=False)  # warm-up
            untraced = self.kernel_pass(rows, traced=False)
            kernel_s_per_doc = untraced / len(rows)
            self.layer["trace.kernel_overhead_s"] = (
                self.kernel_pass(rows, traced=True) - untraced)
        self.layer.update(w.layers(log, tagger, len(twalls),
                                   h.median(twalls), kernel_s_per_doc))

    def scaling(self, spark) -> None:
        """The job on a quarter of the input files at local[nproc], then
        at local[1] in a new context of the same JVM; efficiency is
        (T1 / Tn) / n.  Stops both sessions."""
        n_files = max(1, len(self.w.files) // 4)
        self.w.subset_wall(spark, n_files, "scale_warm")
        wall_n = self.w.subset_wall(spark, n_files, "scale_n")
        spark.stop()
        spark = self.h.start_spark(1, self.workdir)
        self.h.warm_workers(spark, 1)
        self.w.subset_wall(spark, 1, "scale1_warm")
        wall_1 = self.w.subset_wall(spark, n_files, "scale_1")
        spark.stop()
        self.layer["extract.scaling_eff"] = (wall_1 / wall_n) / self.cores

    def report(self, walls, peak) -> None:
        h = self.h
        q1, q3 = h.quartiles(walls)
        ctrl = h.median(self.controls)
        contended = ctrl < h.CONTROL_REF_MB_S * h.CONTROL_CONTENDED_SHARE
        wall = h.median(walls)
        lines = [
            f"workload={self.w.name} seed={self.args.seed} "
            f"cores={self.cores} trace={self.args.trace}",
            f"setup_s={self.setup_s:.3f} s ("
            + ", ".join(f"{k}={self.layer[k]:.2f}" for k in (
                "fixtures.gen_s", "session.start_s",
                "session.worker_warm_s", "warmup_s")) + ")",
            f"wall_s median={wall:.3f} s q1={q1:.3f} q3={q3:.3f} "
            f"min={min(walls):.3f} max={max(walls):.3f} n={len(walls)} "
            f"runs=[{', '.join(f'{x:.2f}' for x in walls)}]",
            f"docs_per_s={self.w.n_docs / wall:.1f} 1/s "
            f"(docs per iteration {self.w.n_docs:g})",
            f"fail_frac={self.failed / max(1, self.attempted):.6f} "
            f"({self.failed}/{self.attempted})",
            f"peak_rss_mb={peak / 1e6:.1f} MB ("
            + ", ".join(f"{c} x{n} {b / 1e6:.0f}"
                        for c, (n, b) in sorted(self.peak_split.items()))
            + ")",
            f"control_mb_s median={ctrl:.3f} MB/s "
            f"(idle reference {h.CONTROL_REF_MB_S}, "
            f"contended={'yes' if contended else 'no'})",
        ]
        self.layer["box.control_mb_s"] = ctrl
        if self.args.trace:
            lines += [f"{k}={self.layer.get(k, 0.0):.6g} {u}"
                      for k, u in PER_LAYER.items()]
        print("\n".join(lines), flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_hardsubx_spark")):
        print(f"perfbench: no ocr_hardsubx_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workdir = os.path.abspath(args.workdir or os.path.join(
        ROOT, ".perfbench_work",
        f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    # Python workers and the JVM write their temp files here too
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # no /tmp/hsperfdata_* files from the launcher or driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from perfbench import harness

    harness.become_subreaper()
    try:
        result = Run(args, workdir).main()
    finally:
        # on every way out: no JVM, Python worker or helper outlives us
        harness.stop_jvm()
        harness.reap_children()
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
