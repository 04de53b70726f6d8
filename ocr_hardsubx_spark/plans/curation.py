"""End-to-end curation job: rule gauntlet -> near-dedup -> trained
quality cut -> deterministic shard layout -> committed dataset.

This is the shipping surface for the webtext side of the engine, the
way `plans/pipeline.py` is for extraction: it composes ONLY registered
operators (`q_url_filter`, `q_gopher_rules`, `q_gopher_repetition`,
`q_c4_clean`, `q_dedup_keep_list`, `q_quality_cut_trained`,
`q_shard_shuffle` semantics) and adds no new decision logic — just the
doc_id joins, the shard write, and the commit protocol.

Cost shape: each composed operator scans the documents table itself
(~8 column-pruned scans end to end) — deliberate: reusing the
registered, oracle-verified operators beats hand-fusing copies of
their logic, scans parallelize embarrassingly, and a production run at
100 TB would point the composed frames at a cached/materialized
snapshot rather than re-fusing the operators.  The two iterative
operators keep their driver loops cheap per step: the trained quality
cut's LR training is one histogram aggregation plus driver-side steps
(no Spark job per step), and near-dedup's connected components plans
the candidate pair graph once and runs each label round as one join +
one aggregate checkpoint + one count.

Crash-safety model: curation is a CORPUS-GLOBAL computation (the dedup
keep list sees every document), so the extraction job's per-input-file
resume does not apply.  Instead a run is all-or-nothing: data lands in
`output/data/run_id=<id>/` and becomes visible only when its manifest
commits atomically (`pipeline._commit_manifest`, tmp + rename).  A
re-run against the SAME input snapshot (matched by a deterministic
fingerprint: doc count + doc_id sum + text-length sum) is a no-op —
every decision in the pipeline is a pure function of the row, so the
committed output is already THE answer.  Torn runs (data dir, no
manifest) are invisible to readers and harmless on disk.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_hardsubx_spark.plans import dataset_queries as dq
from ocr_hardsubx_spark.plans.pipeline import (
    _commit_manifest, _manifest_files,
)

CURATION_STAGES = ("1_raw", "2_url", "3_gopher", "4_repetition", "5_c4",
                   "6_near_dedup", "7_quality")
# the written dataset; explicit so a zero-survivor run (no data files)
# still reads back
CURATED_SCHEMA = ("doc_id long, lang string, text string, n_tokens long, "
                  "pos long, shard int")


def _input_fingerprint(docs: DataFrame) -> str:
    """Deterministic snapshot identity: every curation decision is a
    pure function of the rows, so (count, doc_id sum, text-length sum)
    names the answer; a matching committed run makes a re-run a no-op."""
    r = docs.agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("ids"),
        F.sum(F.length("text")).alias("chars")).collect()[0]
    return f"{r['n']}-{r['ids']}-{r['chars']}"


def _survivors(spark: SparkSession, input_dir: str) -> tuple[DataFrame,
                                                             list]:
    """(curated survivor frame, per-stage census rows).  Survivor text
    is the C4-CLEANED text; stage semantics match q_rule_funnel with
    the near-dedup and trained-quality stages appended (the
    q_curation_funnel_full tail)."""
    rules = dq._rule_gate_join(spark, input_dir)
    # the keep list covers only CLUSTERED docs (q_curation_funnel_full
    # anti-joins the losers for the same reason) — unclustered docs pass
    ded = dq.q_dedup_keep_list(spark, input_dir).select(
        "doc_id", F.col("keep").alias("dedup_keep"))
    qual = dq.q_quality_cut_trained(spark, input_dir).select(
        "doc_id", F.col("keep").alias("quality_keep"))
    j = (rules.join(ded, "doc_id", "left").join(qual, "doc_id")
         .withColumn("dedup_keep",
                     F.coalesce(F.col("dedup_keep"), F.lit(True)))
         ).localCheckpoint()  # six-frame compose: evaluate ONCE for the
    # census and the survivor write (the q_dsir idiom)

    gates = ["url_keep", "gopher_keep", "rep_keep", "c4_keep",
             "dedup_keep", "quality_keep"]
    # one census job: stage i counts the rows passing gates[:i] (a NULL
    # gate fails, as in a where())
    aggs = []
    keep = F.lit(True)
    for i, (gate, tok) in enumerate(zip(
            [None] + gates, ["n_tokens"] * 4 + ["clean_tokens"] * 3)):
        if gate is not None:
            keep = keep & F.col(gate)
        aggs += [F.count(F.when(keep, 1)).alias(f"d{i}"),
                 F.coalesce(F.sum(F.when(keep, F.col(tok))),
                            F.lit(0)).alias(f"t{i}")]
    r = j.agg(*aggs).collect()[0]
    census = [(stage, int(r[f"d{i}"]), int(r[f"t{i}"]))
              for i, stage in enumerate(CURATION_STAGES)]

    surv = j.where(keep).select("doc_id", "lang",
                                F.col("clean_text").alias("text"),
                                F.col("clean_tokens").alias("n_tokens"))
    return surv, census


def _shard_layout(surv: DataFrame, n_shards: int) -> DataFrame:
    """q_shard_shuffle semantics over the survivors: content-independent
    salted-md5 (shard, pos) — recomputable from the row after a crash,
    one hash shuffle + independent per-shard sorts."""
    from pyspark.sql.window import Window

    skey = F.md5(F.concat(F.lit("shuffle:"),
                          F.col("doc_id").cast("string")))
    keyed = surv.withColumn("skey", skey).withColumn(
        "shard",
        (F.conv(F.substring("skey", 1, 7), 16, 10).cast("long")
         % n_shards).cast("int"))
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (keyed.withColumn("pos",
                             F.row_number().over(w).cast("long"))
            .drop("skey"))


def run_curation_job(spark: SparkSession, input_dir: str,
                     output_path: str,
                     n_shards: int = dq.N_SHARDS) -> dict:
    """Run the full curation funnel and commit the curated, shard-laid-
    out dataset.  Returns a summary dict; `skipped=True` when the input
    snapshot is already committed (idempotent re-run)."""
    import pyarrow as pa

    # a 3-number aggregate: the round-robin fan-out would only shuffle text
    fp = _input_fingerprint(
        dq._tbl(spark, input_dir, "documents", fanout=False))
    for run in committed_curation_runs(spark, output_path):
        if run["fingerprint"] == fp:
            return {"run_id": run["run_id"], "skipped": True,
                    "fingerprint": fp}

    surv, census = _survivors(spark, input_dir)
    laid = _shard_layout(surv, n_shards)
    # fixed-width hex milliseconds first, so run ids (and their
    # manifests) sort in commit order; the random tail breaks ties
    run_id = f"{time.time_ns() // 1_000_000:012x}{uuid.uuid4().hex[:8]}"
    data_dir = os.path.join(output_path, "data", f"run_id={run_id}")
    (laid.repartition("shard").sortWithinPartitions("shard", "pos")
     .write.partitionBy("shard").parquet(data_dir))

    rows = [{"run_id": run_id, "fingerprint": fp, "stage": s,
             "n_docs": d, "n_tokens": t, "n_shards": n_shards}
            for s, d, t in census]
    _commit_manifest(spark, output_path, run_id,
                     pa.Table.from_pylist(rows))
    final = census[-1]
    return {"run_id": run_id, "skipped": False, "fingerprint": fp,
            "stages": {s: {"n_docs": d, "n_tokens": t}
                       for s, d, t in census},
            "n_docs_out": final[1], "n_tokens_out": final[2]}


def committed_curation_runs(spark: SparkSession,
                            output_path: str) -> list[dict]:
    """Committed runs, newest manifest last (run ids sort in commit
    order); torn runs (data without a manifest, or a manifest that does
    not parse) never appear."""
    out = []
    for f in _manifest_files(spark, output_path):
        df = spark.read.parquet(f)
        head = df.limit(1).collect()[0]
        out.append({"run_id": head["run_id"],
                    "fingerprint": head["fingerprint"],
                    "manifest": df})
    return out


def read_curated(spark: SparkSession, output_path: str) -> DataFrame:
    """The newest committed curated dataset (doc_id, lang, text,
    n_tokens, pos, shard)."""
    runs = committed_curation_runs(spark, output_path)
    if not runs:
        raise FileNotFoundError(f"no committed curation run under "
                                f"{output_path!r}")
    run_id = runs[-1]["run_id"]
    return spark.read.schema(CURATED_SCHEMA).parquet(
        os.path.join(output_path, "data", f"run_id={run_id}"))
