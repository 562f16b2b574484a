"""The benchmark's workloads: what one job does, the oracle gate over its
outputs, and the traced run's layer patches.

Each workload is a closed loop with one caller: the next job starts only
after the previous one has returned (snapshot committed and visible).
"""

from __future__ import annotations

import contextlib
import functools
import importlib.util
import io
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


@functools.cache
def _curate_job():
    spec = importlib.util.spec_from_file_location("curate_job", ROOT / "jobs" / "curate_job.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _read_span(tracer):
    """The traced run times reading a committed table: ``read_table`` plus
    collecting the columns the gate compares."""
    return contextlib.nullcontext() if tracer is None else tracer.span("snapshot.read_table")


class SealBatch:
    """One ``run_extract`` of the seal corpus into a fresh snapshot table."""

    name = "seal-batch"
    has_media = True
    warmup_passes = 1

    def __init__(self, input_dir: Path, meta: dict) -> None:
        self.input_dir = input_dir
        self.meta = meta

    def job(self, spark, table_dir: str) -> dict:
        from red_seal_ocr_spark.operators.extract import run_extract

        docs = spark.read.parquet(str(self.input_dir / "docs.parquet"))
        media = spark.read.parquet(str(self.input_dir / "media.parquet"))
        run_extract(spark, docs, media, table_dir)
        return {"docs": self.meta["docs"], "media": self.meta["media_spans"]}

    def trace_patches(self, tracer) -> None:
        from red_seal_ocr_spark.operators import extract

        tracer.patch(extract, "run_extract", "extract.run_extract")
        tracer.patch(extract, "extract_documents", "extract.extract_documents")
        # run_extract's resume read; on a fresh table it returns at once
        tracer.patch(extract, "read_table", "snapshot.read_table.resume")
        tracer.patch(extract, "list_run_files", "snapshot.list_run_files")
        tracer.patch(extract, "commit_snapshot", "snapshot.commit_snapshot")

    # -- oracle ------------------------------------------------------------

    def media_bytes(self) -> dict[str, bytes]:
        import pyarrow.parquet as pq

        t = pq.read_table(self.input_dir / "media.parquet").to_pydict()
        return dict(zip(t["media_ref"], t["content"]))

    def expected(self, processes: int):
        import pyarrow.parquet as pq

        from .oracle import reference_extraction

        docs = pq.read_table(self.input_dir / "docs.parquet").to_pylist()
        return reference_extraction(docs, self.media_bytes(), processes)

    def check(self, spark, table_dir: str, expected, tracer=None) -> dict:
        from red_seal_ocr_spark.sources.snapshot import read_table

        from .oracle import check_extraction

        with _read_span(tracer):
            df = read_table(spark, table_dir)
            rows = [] if df is None else [
                r.asDict(recursive=True)
                for r in df.select("doc_id", "spans", "n_media", "n_failures").collect()]
        return check_extraction(rows, expected)


class CurateText:
    """``curate_documents`` over the text sample, then the kept documents and
    the funnel committed with ``commit_snapshot`` (the curate_job shape)."""

    name = "curate-text"
    has_media = False
    warmup_passes = 1

    def __init__(self, input_dir: Path, meta: dict) -> None:
        self.input_dir = input_dir
        self.meta = meta
        # candidate / verified pair DataFrames of the last traced call, so
        # the traced run can count them once the timed phase is over
        self.last_pairs: dict = {}

    def job(self, spark, table_dir: str) -> dict:
        # jobs/curate_job.py with q35's thresholds; it reuses the running
        # session and prints the funnel, which is not the benchmark's output
        with contextlib.redirect_stdout(io.StringIO()):
            _curate_job().main(["--input", str(self.input_dir / "docs.parquet"),
                                "--output", table_dir, "--min-quality", "30",
                                "--min-jaccard", "80"])
        spark.catalog.clearCache()
        return {"docs": self.meta["docs"], "media": 0}

    def trace_patches(self, tracer) -> None:
        from red_seal_ocr_spark.operators import curate
        from red_seal_ocr_spark.sources import snapshot

        tracer.patch(curate, "curate_documents", "curate.curate_documents")
        tracer.patch(snapshot, "list_run_files", "snapshot.list_run_files")
        tracer.patch(snapshot, "commit_snapshot", "snapshot.commit_snapshot")

        for attr, key in (("minhash_lsh_candidates", "candidates"),
                          ("ngram_jaccard_for_pairs", "verified")):
            tracer.patch(curate, attr, f"dedup.{attr}",
                         on_result=lambda df, key=key: self.last_pairs.__setitem__(key, df))

    # -- oracle ------------------------------------------------------------

    def expected(self, processes: int):
        import pyarrow.parquet as pq

        from .oracle import reference_funnel

        return reference_funnel(pq.read_table(self.input_dir / "docs.parquet").to_pylist())

    def check(self, spark, table_dir: str, expected, tracer=None) -> dict:
        from red_seal_ocr_spark.sources.snapshot import read_table

        from .oracle import check_funnel

        funnel_df = read_table(spark, table_dir, lineage=True)
        funnel = {} if funnel_df is None else {
            r["stage"]: r["docs"] for r in funnel_df.collect()}
        with _read_span(tracer):
            kept_df = read_table(spark, table_dir)
            kept_ids = [] if kept_df is None else [
                r["doc_id"] for r in kept_df.select("doc_id").collect()]
        return check_funnel(funnel, kept_ids, expected)


WORKLOADS = {w.name: w for w in (SealBatch, CurateText)}
