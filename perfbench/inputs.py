"""Seeded benchmark inputs.

Pages and documents come from the repo's own deterministic generators
(``fixtures.gen_pages`` and ``scripts.textops_bench.synth_docs``), whose
columns are pure functions of the row id; the seed picks the id block.
Extents, kNN queries and raster scenes take the seed as their
``rng_seed``.  Batch inputs are at least 4 x cores files so a scan
spreads over all cores.  The crawl feed is STREAM_FILES files: at
ingest's ``maxFilesPerTrigger=4`` that is one data micro-batch reading
a file per core, then the no-data batch that closes windows.

Generating rows in Spark is a cold job that would cost more than a
timed pass, so the first run in a checkout writes a pool of
``POOL_FILES`` contiguous id blocks of pages and of docs under
``.perfbench_cache/``; a seed then selects ``SLICE_FILES`` consecutive
blocks of each.  A pool is keyed by a digest of its generator's source,
so a changed generator gets a new pool.  Its cost lands in that run's
``setup_s``.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

POOL_FILES = 128
PAGES_PER_FILE = 1250
DOCS_PER_FILE = 125
SLICE_FILES = 16  # 20k pages and 2k docs per seed
N_SCENES = 30
STREAM_FILES = 4
#: the feed carries the pages of the first FEED_FILES files of the block
FEED_FILES = 8
#: share of each stream file re-sent at the head of the next file
#: (at-least-once redelivery); the copies are byte-identical
REPLAY_FRAC = 0.02


class IdBlock:
    """Stands in for a SparkSession inside a generator: ``range`` returns
    the id block ``[start, start + n)`` whatever size was asked for."""

    def __init__(self, spark, start: int, n: int, parts: int):
        self.spark, self.start, self.n, self.parts = spark, start, n, parts

    def range(self, *_args, **_kwargs):
        return self.spark.range(self.start, self.start + self.n, 1, self.parts)


def _source_digest(repo: str, *files: str) -> str:
    h = hashlib.sha256()
    for rel in files:
        with open(os.path.join(repo, rel), "rb") as f:
            h.update(f.read())
    h.update(f"{POOL_FILES}x{PAGES_PER_FILE}x{DOCS_PER_FILE}".encode())
    return h.hexdigest()[:12]


def _pool(repo: str, name: str, sources: tuple, write) -> str:
    """A pool of POOL_FILES contiguous id blocks, generated on first use
    under .perfbench_cache/ and keyed by the generator sources."""
    pool = os.path.join(repo, ".perfbench_cache", f"{name}_{_source_digest(repo, *sources)}")
    if os.path.isdir(pool):
        return pool
    for stale in glob.glob(pool + ".tmp*"):  # left by an interrupted run
        shutil.rmtree(stale, ignore_errors=True)
    tmp = pool + f".tmp{os.getpid()}"
    write(tmp)
    n = len(glob.glob(os.path.join(tmp, "part-*.parquet")))
    if n != POOL_FILES:
        raise RuntimeError(f"{name} pool: expected {POOL_FILES} files, got {n}")
    os.rename(tmp, pool)
    return pool


def pools(spark, repo: str) -> dict[str, str]:
    """Page and doc pools (``fixtures.gen_pages``, ``synth_docs``)."""
    from gips_spark.sources import fixtures
    from scripts.textops_bench import synth_docs

    n_pages, n_docs = POOL_FILES * PAGES_PER_FILE, POOL_FILES * DOCS_PER_FILE
    return {
        "pages": _pool(
            repo, "pages", ("gips_spark/sources/fixtures.py",),
            lambda out: fixtures.gen_pages(IdBlock(spark, 0, n_pages, POOL_FILES), n_pages)
            .write.parquet(out),
        ),
        "docs": _pool(
            repo, "docs", ("scripts/textops_bench.py",),
            lambda out: synth_docs(IdBlock(spark, 0, n_docs, POOL_FILES)).write.parquet(out),
        ),
    }


def slice_start(seed: int) -> int:
    return int(np.random.default_rng(seed).integers(0, POOL_FILES - SLICE_FILES + 1))


def seed_files(pool: str, seed: int) -> list[str]:
    """The seed's id block: SLICE_FILES consecutive pool files (part files
    are numbered by partition, and range partitions are contiguous)."""
    files = sorted(glob.glob(os.path.join(pool, "part-*.parquet")))
    s = slice_start(seed)
    return files[s : s + SLICE_FILES]


def num_rows(files: list[str]) -> int:
    """Rows in parquet files, from their footers (no Spark job)."""
    return sum(pq.read_metadata(f).num_rows for f in files)


def bench_table(docs):
    """Decontamination eval set: the first 12 tokens of every 199th doc,
    as in scripts/textops_bench.py."""
    from pyspark.sql import functions as F

    return docs.where("doc_id % 199 = 0").select(
        F.expr(
            "array_join(slice(filter(split(text, '\\\\s+'), x -> x != ''), 1, 12), ' ')"
        ).alias("text")
    )


def make_geo_dims(seed: int, out: str) -> dict:
    """Extents, kNN queries and raster chunks for the seed, written with
    pyarrow (no Spark job)."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from gips_spark.sources import fixtures

    ext_pdf = fixtures.gen_extents_pdf(rng_seed=seed)
    q_pdf = fixtures.gen_knn_queries_pdf(rng_seed=seed)
    raster = fixtures.gen_raster_chunks_pdf(
        fixtures.gen_scenes_pdf(rng_seed=seed), n_scenes=N_SCENES, rng_seed=seed
    )
    q_schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField("lat", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("k", T.IntegerType()),
        ]
    )
    paths = {}
    for name, pdf, schema, n_files in (
        ("extents", ext_pdf, fixtures.EXTENTS_SCHEMA, 1),
        ("queries", q_pdf, q_schema, 1),
        ("raster", raster, fixtures.RASTER_SCHEMA, 16),
    ):
        paths[name] = os.path.join(out, name)
        os.makedirs(paths[name], exist_ok=True)
        t = pa.Table.from_pandas(pdf, schema=to_arrow_schema(schema), preserve_index=False)
        step = -(-len(pdf) // n_files)
        for i in range(n_files):
            pq.write_table(
                t.slice(i * step, step), os.path.join(paths[name], f"part-{i:05d}.parquet")
            )
    return {"paths": paths, "extents_pdf": ext_pdf, "queries_pdf": q_pdf, "raster_pdf": raster}


def make_stream_files(page_paths: list[str], out: str) -> int:
    """The seed's pages as an event-time-ordered crawl feed.

    The generator's re-crawl rows (same url a year later) are left out,
    so every url is crawled once; instead the last REPLAY_FRAC of each
    file is delivered again at the head of the next one.  Which copy
    ``dropDuplicates`` keeps is then immaterial, and the feed has no
    late rows.  Files get increasing mtimes because the file source
    reads the oldest first.  Returns the number of rows written.
    """
    from gips_spark.sources import fixtures

    cutoff = pd.Timestamp(fixtures._EPOCH_2025 + fixtures._YEAR_SECONDS, unit="s", tz="UTC")
    t = pa.concat_tables([pq.read_table(p) for p in page_paths])
    pdf = t.to_pandas(timestamp_as_object=False)
    pdf = pdf[pdf["warc_ts"] < cutoff].sort_values(["warc_ts", "url"], kind="stable")
    pdf = pdf.reset_index(drop=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    n = len(pdf)
    bounds = [n * i // STREAM_FILES for i in range(STREAM_FILES + 1)]
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    written = 0
    mtime = 1_700_000_000
    for i in range(STREAM_FILES):
        lo, hi = bounds[i], bounds[i + 1]
        if i > 0:
            lo -= int((bounds[i] - bounds[i - 1]) * REPLAY_FRAC)
        part = pdf.iloc[lo:hi]
        path = os.path.join(out, f"part-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, schema=schema, preserve_index=False), path)
        os.utime(path, (mtime + i, mtime + i))
        written += len(part)
    return written
