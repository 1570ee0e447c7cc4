"""The benchmark's workloads: what one pass runs, and its inputs.

``assign_query``  pages → ``tile_assign.enrich_pages`` (single-pass
                  mode, parquet checkpoint) → ``cell_directory`` →
                  ``pip_join.pip_join_cells`` (24 extents) →
                  ``knn.knn_join`` (100 queries) → ``zonal`` products +
                  stats (30 scenes).  The frozen bench.py pipeline at a
                  small size, on the fused Arrow geocoder kernel.
``text_stream``   docs → ``textops.decontaminate`` (n=8),
                  ``repetition_stats``, ``entropy_stats``,
                  ``dedup.exact_dedup``; then part of the seed's pages
                  as a crawl feed drained by
                  ``streaming.ingest.run_available_now``.  JVM-expression
                  and shuffle work, plus small stateful micro-batches on
                  the JVM geocoder path.

Each call into a layer is a span ``<layer>`` with children
``<layer>.call`` (the public function: plan building and any eager
driver collects) and ``<layer>.exec`` (the action).  Every result is
written to a per-pass parquet directory so it can be checked after the
timed window.
"""

from __future__ import annotations

import os
import threading

from perfbench import inputs

SALT_SAMPLE = 0.02


def _write(path):
    def sink(df):
        df.write.mode("overwrite").parquet(path)

    return sink


def _layer(ctx, pid: str, name: str, build, sink):
    with ctx.tracer.span(name, pid):
        with ctx.tracer.span(name + ".call", pid):
            df = build()
        with ctx.tracer.span(name + ".exec", pid):
            return sink(df)


class StreamProgress:
    """Collects ``StreamingQuery`` progress through the public listener
    API (``run_available_now`` does not hand back its query)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.progress: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec = {
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                    "watermark": (p.eventTime or {}).get("watermark"),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                }
                with outer._cv:
                    outer.progress.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated += 1
                    outer._cv.notify_all()

        self.listener = _Listener()

    def attach(self, spark) -> None:
        spark.streams.addListener(self.listener)

    def drain(self, run, timeout_s: float = 30.0) -> list[dict]:
        """Run one query to completion; return its progress records."""
        with self._cv:
            seen, before = self.terminated, len(self.progress)
        run()
        with self._cv:
            self._cv.wait_for(lambda: self.terminated > seen, timeout=timeout_s)
            return self.progress[before:]


class AssignQuery:
    name = "assign_query"
    #: the cold pass takes 2-3 times a warm one; after it, pass time
    #: still falls by 5-10% a pass for three or four passes
    warm_passes = 1

    def prepare(self, ctx, dest: str) -> dict:
        """Select the seed's page block and build the small dimension tables."""
        dims = inputs.make_geo_dims(ctx.seed, dest)
        inp = {
            "page_files": inputs.seed_files(ctx.pools["pages"], ctx.seed),
            "dims": dims["paths"],
            "extents_pdf": dims["extents_pdf"],
            "queries_pdf": dims["queries_pdf"],
            "raster_pdf": dims["raster_pdf"],
        }
        self.load(ctx, inp)
        return inp

    def load(self, ctx, inp: dict) -> None:
        """(Re)bind the input DataFrames to the current session."""
        read = ctx.spark.read.parquet
        inp["pages"] = read(*inp["page_files"])
        inp["extents"] = read(inp["dims"]["extents"])
        inp["queries"] = read(inp["dims"]["queries"])
        inp["chunks"] = read(inp["dims"]["raster"])
        inp["n_pages"] = inputs.num_rows(inp["page_files"])

    def sizes(self, inp: dict) -> dict:
        return {
            "pages": inp["n_pages"],
            "extents": len(inp["extents_pdf"]),
            "knn_queries": len(inp["queries_pdf"]),
            "raster_scenes": inputs.N_SCENES,
        }

    def rows(self, inp: dict) -> int:
        return inp["n_pages"]

    def run_pass(self, ctx, inp: dict, pid: str) -> dict:
        from gips_spark.operators import cell_directory, knn, pip_join, tile_assign, zonal

        spark = ctx.spark
        out = ctx.dirs.path("out", pid)
        res = {k: os.path.join(out, k) for k in ("enriched", "pip", "knn", "zonal")}
        target = max(1000, inp["n_pages"] // 200)
        _layer(
            ctx, pid, "tile_assign",
            lambda: tile_assign.enrich_pages(
                inp["pages"], salt_target_rows=target, salt_sample=SALT_SAMPLE
            ).drop("extracted_text"),
            _write(res["enriched"]),
        )
        holder = {}

        def build_directory():
            holder["enr"] = spark.read.parquet(res["enriched"])
            return cell_directory.build_cell_directory(holder["enr"])

        def materialize(d):
            d.persist()
            holder["n_cells"] = d.count()
            holder["dir"] = d

        _layer(ctx, pid, "cell_directory", build_directory, materialize)
        enr, directory = holder["enr"], holder["dir"]
        try:
            _layer(
                ctx, pid, "pip_join",
                lambda: pip_join.pip_join_cells(spark, enr, inp["extents"], directory),
                _write(res["pip"]),
            )
            _layer(
                ctx, pid, "knn",
                lambda: knn.knn_join(spark, enr, inp["queries"], directory),
                _write(res["knn"]),
            )
            _layer(
                ctx, pid, "zonal",
                lambda: zonal.zonal_stats(
                    spark, zonal.compute_products(inp["chunks"]), inp["extents"]
                ),
                _write(res["zonal"]),
            )
        finally:
            directory.unpersist()
        res["n_cells"] = holder["n_cells"]
        return res


class TextStream:
    name = "text_stream"
    #: as for assign_query
    warm_passes = 1

    def prepare(self, ctx, dest: str) -> dict:
        """Select the seed's docs and write its pages as a crawl feed."""
        stream_in = os.path.join(dest, "stream_in")
        inp = {
            "doc_files": inputs.seed_files(ctx.pools["docs"], ctx.seed),
            "stream_in": stream_in,
            "n_stream": inputs.make_stream_files(
                inputs.seed_files(ctx.pools["pages"], ctx.seed)[: inputs.FEED_FILES], stream_in
            ),
        }
        self.load(ctx, inp)
        return inp

    def load(self, ctx, inp: dict) -> None:
        inp["docs"] = ctx.spark.read.parquet(*inp["doc_files"])
        inp["bench"] = inputs.bench_table(inp["docs"])
        inp["n_docs"] = inputs.num_rows(inp["doc_files"])

    def sizes(self, inp: dict) -> dict:
        return {
            "docs": inp["n_docs"],
            "stream_rows": inp["n_stream"],
            "stream_files": inputs.STREAM_FILES,
        }

    def rows(self, inp: dict) -> int:
        return inp["n_docs"] + inp["n_stream"]

    def run_pass(self, ctx, inp: dict, pid: str) -> dict:
        from gips_spark.operators import dedup, textops
        from gips_spark.streaming import ingest

        spark = ctx.spark
        out = ctx.dirs.path("out", pid)
        names = ("decontaminate", "repetition", "entropy", "exact_dedup", "stream")
        res = {k: os.path.join(out, k) for k in names}
        docs = inp["docs"]
        _layer(
            ctx, pid, "textops.decontaminate",
            lambda: textops.decontaminate(docs, inp["bench"], n=8),
            _write(res["decontaminate"]),
        )
        _layer(
            ctx, pid, "textops.repetition",
            lambda: textops.repetition_stats(docs),
            _write(res["repetition"]),
        )
        _layer(
            ctx, pid, "textops.entropy",
            lambda: textops.entropy_stats(docs),
            _write(res["entropy"]),
        )
        _layer(
            ctx, pid, "dedup.exact",
            lambda: dedup.exact_dedup(docs, "doc_id", "text"),
            _write(res["exact_dedup"]),
        )
        with ctx.tracer.span("ingest", pid):
            res["progress"] = ctx.stream.drain(
                lambda: ingest.run_available_now(
                    spark, inp["stream_in"], res["stream"], os.path.join(out, "ck")
                )
            )
        return res


WORKLOADS = {w.name: w for w in (AssignQuery(), TextStream())}


def check_assign_query(inp: dict, results: list[tuple[str, dict]]) -> dict[str, list[str]]:
    from perfbench import oracles

    oracle = oracles.GeoOracle(inp["page_files"], inp["extents_pdf"], inp["queries_pdf"])
    zonal_ref = oracles.zonal_reference(inp["raster_pdf"], inp["extents_pdf"])
    return {
        pid: oracle.check(res, inp["n_pages"])
        + oracles.check_zonal(oracle.con, zonal_ref, res["zonal"])
        for pid, res in results
    }


def check_text_stream(inp: dict, results: list[tuple[str, dict]]) -> dict[str, list[str]]:
    import duckdb

    from perfbench import oracles

    con = duckdb.connect()
    ref = oracles.stream_reference(con, inp["stream_in"])
    ops = ("decontaminate", "repetition", "entropy", "exact_dedup")
    out, first = {}, None
    for pid, res in results:
        bad = oracles.check_exact_dedup(con, inp["doc_files"], res["exact_dedup"])
        bad += oracles.check_decontaminate(con, inp["doc_files"], res["decontaminate"])
        bad += oracles.check_repetition(con, inp["doc_files"], res["repetition"])
        bad += oracles.check_entropy(con, inp["doc_files"], res["entropy"])
        bad += oracles.check_stream(con, ref, res)
        digests = {op: oracles.digest(con, res[op]) for op in ops}
        if first is None:
            first = digests
        bad += [f"{op}: digest differs from the first pass" for op in ops if digests[op] != first[op]]
        out[pid] = bad
    return out


CHECKS = {"assign_query": check_assign_query, "text_stream": check_text_stream}
