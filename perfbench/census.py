"""Reference stage census for the ``curate`` workload.

DuckDB runs the registered oracle SQL of the six operators that
``run_curation_job`` composes (q_url_filter, q_gopher_rules,
q_gopher_repetition, q_c4_clean, q_dedup_keep_list,
q_quality_cut_trained), joins them on ``doc_id`` and applies the gates in
the job's order.  The near-dedup oracle alone takes minutes at sf0.1, so
the census is computed once and stored beside the input, keyed by the
input's sha256; regenerate it with

    python3 perfbench/census.py perfbench/data/sf0.1

after an intended change to any of the six operators.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

STAGES = ("1_raw", "2_url", "3_gopher", "4_repetition", "5_c4",
          "6_near_dedup", "7_quality")
OPERATORS = ("q_url_filter", "q_gopher_rules", "q_gopher_repetition",
             "q_c4_clean", "q_dedup_keep_list", "q_quality_cut_trained")
GATES = ("url_keep", "gopher_keep", "rep_keep", "c4_keep", "dedup_keep",
         "quality_keep")
CENSUS_FILE = "census.json"


def sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def oracle_census(input_dir: str) -> list[list]:
    import duckdb

    from ocr_hardsubx_spark.plans import dataset_queries as dq

    con = duckdb.connect()
    docs = os.path.join(input_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    for op in OPERATORS:
        con.execute(f"CREATE TEMP TABLE {op} AS "
                    + getattr(dq, f"{op}_sql")())
    # the job's token counts: split on ' ' before the c4 stage, on ' '
    # after newline->space replacement of the cleaned text from it on
    con.execute("""
      CREATE TEMP TABLE j AS
      SELECT d.doc_id,
             len(string_split(d.text, ' ')) AS n_tokens,
             CASE WHEN c.clean_text = '' THEN 0 ELSE
               len(string_split(replace(c.clean_text, chr(10), ' '), ' '))
             END AS clean_tokens,
             u.keep AS url_keep, g.keep AS gopher_keep, r.keep AS rep_keep,
             c.keep AS c4_keep, coalesce(k.keep, true) AS dedup_keep,
             q.keep AS quality_keep
      FROM documents d
      JOIN q_url_filter u USING (doc_id)
      JOIN q_gopher_rules g USING (doc_id)
      JOIN q_gopher_repetition r USING (doc_id)
      JOIN q_c4_clean c USING (doc_id)
      LEFT JOIN q_dedup_keep_list k USING (doc_id)
      JOIN q_quality_cut_trained q USING (doc_id)""")
    out, cond = [], "TRUE"
    for i, stage in enumerate(STAGES):
        if i:
            cond += f" AND {GATES[i - 1]}"
        tok = "n_tokens" if i < 4 else "clean_tokens"
        n, t = con.execute(
            f"SELECT count(*), coalesce(sum({tok}), 0) FROM j WHERE {cond}"
        ).fetchone()
        out.append([stage, int(n), int(t)])
    return out


def load(input_dir: str) -> list[list]:
    """The stored census, refused if the input changed since."""
    with open(os.path.join(input_dir, CENSUS_FILE)) as f:
        ref = json.load(f)
    got = sha256(os.path.join(input_dir, "documents.parquet"))
    if ref["documents_sha256"] != got:
        raise RuntimeError(f"{input_dir}: census is for another input")
    return ref["census"]


def main() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    input_dir = sys.argv[1]
    census = oracle_census(input_dir)
    with open(os.path.join(input_dir, CENSUS_FILE), "w") as f:
        json.dump({"documents_sha256": sha256(
                       os.path.join(input_dir, "documents.parquet")),
                   "census": census}, f, indent=1)
        f.write("\n")
    print(json.dumps(census))


if __name__ == "__main__":
    main()
