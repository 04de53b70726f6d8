"""Seeded synthetic page corpus, landed hive-partitioned by day.

The pages and their golden ``text`` come from the program's own fixture
generator (``sources.fixtures.generate_rows``), so the same seed always
gives the same bytes.  Generation runs in a spawn pool before the Spark
session starts, so it never competes with the job for cores.
"""

from __future__ import annotations

import multiprocessing as mp
import os
from concurrent.futures import ProcessPoolExecutor

CHUNK = 500
# a day of an 8,000-page corpus is about 270 rows, so each day is one
# input file: 30 files that a backfill slices with max_files
ROWS_PER_FILE = 5000


def _gen_chunk(args: tuple[int, int, int]) -> list[dict]:
    start, n, seed = args
    from ocr_hardsubx_spark.sources.fixtures import generate_rows

    return list(generate_rows(n, seed=seed, start=start))


def generate(n_docs: int, seed: int, procs: int) -> list[dict]:
    tasks = [(s, min(CHUNK, n_docs - s), seed)
             for s in range(0, n_docs, CHUNK)]
    with ProcessPoolExecutor(max_workers=procs,
                             mp_context=mp.get_context("spawn")) as ex:
        return [row for part in ex.map(_gen_chunk, tasks) for row in part]


def write_partitioned(rows: list[dict], path: str) -> list[str]:
    """Write ``rows`` under ``path/warc_dt=<day>/`` and return the data
    files."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    table = pa.table({
        "url": [r["url"] for r in rows],
        "warc_ts": pa.array([r["warc_ts"] for r in rows],
                            type=pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in rows], type=pa.binary()),
        "text": [r["text"] for r in rows],
        "lang": [r["lang"] for r in rows],
        "warc_dt": pa.array([r["warc_ts"].date() for r in rows]),
    })
    ds.write_dataset(
        table, path, format="parquet",
        partitioning=ds.partitioning(pa.schema([("warc_dt", pa.date32())]),
                                     flavor="hive"),
        max_rows_per_file=ROWS_PER_FILE, max_rows_per_group=1000)
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".parquet"))
