"""The three workloads.  Each drives one public job the way users run it:

* ``extract-cold``    -- ``pipeline.run_extraction`` over a new crawl into a
  fresh warehouse: every page is pending, so the kernels and the extract
  stage do the work and the ledger anti-join is trivial;
* ``extract-recrawl`` -- ``pipeline.run_extraction`` on small crawl batches
  against a large seeded ledger: per-call overhead, the ledger anti-join and
  warehouse reads and commits dominate, the kernels do little;
* ``curate``          -- ``curate.curate_corpus`` over generated texts with
  planted duplicates: JVM expressions, shuffle and the MinHash pandas UDF,
  with neither the kernels nor the warehouse on the path.

A workload owns its set-up, one job call, the output checks and, for the
traced run, the calls that time each layer on the workload's own input.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from statistics import median
from collections import defaultdict
from dataclasses import dataclass

from pyspark.sql import functions as F

from ocr_translate_spark.corpus import gen_page
from ocr_translate_spark.curate import curate_corpus
from ocr_translate_spark.io.tables import Warehouse, open_warehouse
from ocr_translate_spark.kernels.html_extract import extract_html
from ocr_translate_spark.kernels.pdf_extract import extract_pdf
from ocr_translate_spark.operators import curation, dedup, textstats
from ocr_translate_spark.operators.extract import ExtractOptions, extract_pages
from ocr_translate_spark.pipeline import pending_pages, read_extracted, run_extraction
from ocr_translate_spark.schemas import RUNS

import inputs
from probes import max_over_p50

KERNEL_SAMPLE = 256  # pages timed on one core for the kernel rates
KERNEL_MIN_S = 0.5   # each kernel rate is timed over at least this long
NEAR_THRESHOLD = 0.8  # curate_corpus's default near_threshold


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def manifest_dirs(root: str) -> list[str]:
    """Data directories the latest snapshot manifest lists (the on-disk
    manifest format documented in io/tables.py)."""
    snap = Warehouse(root).current_snapshot_id()
    if snap == 0:
        return []
    with open(os.path.join(root, "_snapshots", f"{snap}.json"), encoding="utf-8") as fh:
        tables = json.load(fh)["tables"]
    return [d for dirs in tables.values() for d in dirs]


def parquet_files(root: str, dirs: list[str]) -> int:
    return sum(
        f.endswith(".parquet") for d in dirs for f in os.listdir(os.path.join(root, d))
    )


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class ExtractCall:
    """One timed run_extraction call, with what it wrote."""

    span: object
    docs: int
    input_bytes: int  # html bytes of the input
    n_written: int
    grown_bytes: int
    files: int
    extracted_html: int  # pages that reached the extract stage, per kernel
    extracted_pdf: int
    io_s: dict  # seconds in Warehouse.stage / .commit (traced calls only)


class Workload:
    name = ""
    entry = ""  # layer of the public job the workload drives

    def __init__(self, work: str, seed: int, cpus: int):
        self.spark = None
        self.work = work
        self.seed = seed
        self.cpus = cpus
        self.partitions = 4 * cpus  # the job's salted-repartition width
        self.checked = 0
        self.mismatches = 0
        self.calls: list = []
        self.io_s: dict = defaultdict(float)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def check(self, ok: bool) -> None:
        self.checked += 1
        self.mismatches += not ok

    def exhausted(self) -> bool:
        return False

    def trace_io(self) -> None:
        pass


class _Extract(Workload):
    entry = "pipeline.run_extraction"

    def trace_io(self) -> None:
        """Time ``Warehouse.stage`` and ``.commit`` inside the traced calls.
        The class attributes stay wrapped for the rest of the process."""
        for name in ("stage", "commit"):
            def timed(*args, _fn=getattr(Warehouse, name), _name=name, **kwargs):
                t0 = time.perf_counter()
                try:
                    return _fn(*args, **kwargs)
                finally:
                    self.io_s[_name] += time.perf_counter() - t0
            setattr(Warehouse, name, timed)

    def record(self, span, docs: int, input_bytes: int, grown: int, files: int,
               extracted: list[int]) -> None:
        n_pdf = sum(map(inputs.is_pdf_index, extracted))
        self.calls.append(ExtractCall(
            span, docs, input_bytes, self.stats["n_written"], grown, files,
            len(extracted) - n_pdf, n_pdf, dict(self.io_s),
        ))
        self.io_s.clear()

    def bytes_written_per_input_byte(self) -> float:
        return sum(c.grown_bytes for c in self.calls) / sum(c.input_bytes for c in self.calls)

    def warehouse_check(self, root: str, gold, n_expected: int) -> None:
        """Per url, the committed text equals the corpus golden text, and
        no url is committed that the input did not hold."""
        got = read_extracted(self.spark, root).select("url", "extracted_text")
        bad = gold.select("url", "text").join(got, "url", "full_outer").filter(
            ~F.col("text").eqNullSafe(F.col("extracted_text"))
        ).count()
        self.checked += n_expected
        self.mismatches += bad

    def _kernel_rates(self, indices: list[int]) -> dict:
        """Pages per second of each kernel on one core, over a fixed sample
        of the workload's own pages (generated again in the driver)."""
        out = {}
        for name, fn, want_pdf in (
            ("html_extract", extract_html, False),
            ("pdf_extract", extract_pdf, True),
        ):
            sample = [gen_page(i, self.seed)["html"] for i in indices
                      if inputs.is_pdf_index(i) == want_pdf]
            n, t0 = 0, time.perf_counter()
            while True:
                for payload in sample:
                    fn(payload)
                n += len(sample)
                dt = time.perf_counter() - t0
                if dt >= KERNEL_MIN_S:
                    break
            out[f"kernels.{name}.pages_per_s"] = n / dt
        return out

    def _layers(self, tracer, pages_path: str, indices: list[int], ledger_root: str,
                read_root: str) -> dict:
        """Layer calls on ``pages_path``: ``pending_pages`` against the ledger
        at ``ledger_root``; warehouse reads of ``read_root``."""
        spark = self.spark
        out = self._kernel_rates(indices[:KERNEL_SAMPLE])
        pages = spark.read.parquet(pages_path)
        with tracer.span("operators.extract.extract_pages") as sp:
            noop_write(extract_pages(pages, repartition=self.partitions))
        out["operators.extract.extract_pages.s"] = sp.seconds
        with tracer.span("operators.extract.extract_pages_noshuffle") as sp:
            noop_write(extract_pages(pages, repartition=None))
        out["operators.extract.extract_pages_noshuffle.s"] = sp.seconds
        with tracer.span("io.tables.open_warehouse") as sp:
            wh = open_warehouse(spark, read_root)
        out["io.tables.open_warehouse.s"] = sp.seconds
        with tracer.span("io.tables.read") as sp:
            wh.read(spark, "runs", schema=RUNS).count()
        out["io.tables.read.s"] = sp.seconds
        with tracer.span("pipeline.pending_pages") as sp:
            runs = open_warehouse(spark, ledger_root).read(spark, "runs", schema=RUNS)
            n_pending = pending_pages(pages, runs, ExtractOptions().accepted_hashes()).count()
        out["pipeline.pending_pages.s"] = sp.seconds
        out["pipeline.pending_frac"] = n_pending / len(indices)
        with tracer.span("pipeline.read_extracted") as sp:
            read_extracted(spark, read_root).count()
        out["pipeline.read_extracted.s"] = sp.seconds
        out["io.tables.snapshot_dirs"] = len(manifest_dirs(read_root))
        return out

    def log_metrics(self, log: dict, rates: dict) -> dict:
        """Per-layer numbers of the traced run_extraction calls, from the
        event log (``log``: job group -> GroupStats) and the calls' spans."""
        traced = [(c, log[c.span.group]) for c in self.calls if c.span.group in log]
        task_s = sum(sum(st.heaviest_stage()) for _, st in traced)
        kernel_s = sum(
            c.extracted_html / rates["kernels.html_extract.pages_per_s"]
            + c.extracted_pdf / rates["kernels.pdf_extract.pages_per_s"]
            for c, _ in traced
        )
        written = sum(c.n_written for c, _ in traced)
        n = len(traced)
        return {
            "kernels.share_of_extract_task_s": kernel_s / task_s,
            "operators.extract.shuffle_write_bytes_per_doc":
                sum(st.shuffle_write_bytes for _, st in traced) / sum(c.docs for c, _ in traced),
            "operators.extract.task_s.max_over_p50":
                median([max_over_p50(st.heaviest_stage()) for _, st in traced]),
            "operators.extract.spill_bytes": sum(st.spill_bytes for _, st in traced) / n,
            "pipeline.run_extraction.spark_jobs": sum(st.jobs for _, st in traced) / n,
            "pipeline.run_extraction.driver_only_s":
                median([c.span.seconds - st.busy_s() for c, st in traced]),
            "pipeline.run_extraction.gc_s": median([st.gc_s for _, st in traced]),
            "io.tables.stage.s": median([c.io_s["stage"] for c, _ in traced]),
            "io.tables.commit.s": median([c.io_s["commit"] for c, _ in traced]),
            "io.tables.files_per_commit": sum(c.files for c, _ in traced) / n,
            "io.tables.bytes_written_per_doc": sum(c.grown_bytes for c, _ in traced) / written,
        }


class ExtractCold(_Extract):
    name = "extract-cold"
    N_PAGES = 4096

    def generate(self, pool) -> None:
        self.indices = inputs.cold_indices(self.N_PAGES)
        self.pages_path = self.path("pages")
        self.written = inputs.submit_pages(
            pool, self.pages_path, self.indices, self.seed, self.partitions
        )
        self.last_wh = None

    def setup(self, spark) -> None:
        self.spark = spark
        self.html_bytes = sum(f.result() for f in self.written)

    def warmup(self) -> None:
        """One job like the timed ones: it starts the Python workers and
        compiles every stage, and takes four times as long as the next.
        The JIT settles over the next ten or so jobs (each ~25% faster at
        the end), more than a run can afford; every run times the same part
        of that curve."""
        wh = self.path("wh-warmup")
        run_extraction(self.spark, self.spark.read.parquet(self.pages_path), wh,
                       repartition=self.partitions)
        shutil.rmtree(wh)

    def job(self) -> int:
        self.wh = self.path(f"wh-{len(self.calls)}")
        pages = self.spark.read.parquet(self.pages_path)
        self.stats = run_extraction(self.spark, pages, self.wh, repartition=self.partitions)
        return self.N_PAGES

    def after_job(self, span) -> None:
        self.check(self.stats["n_written"] == self.N_PAGES)
        self.record(span, self.N_PAGES, self.html_bytes, dir_bytes(self.wh),
                    parquet_files(self.wh, manifest_dirs(self.wh)), self.indices)
        if self.last_wh:
            shutil.rmtree(self.last_wh)  # keep only the newest for the checks
        self.last_wh = self.wh

    def finish(self) -> None:
        self.warehouse_check(
            self.last_wh, self.spark.read.parquet(self.pages_path), self.N_PAGES
        )

    def layers(self, tracer) -> dict:
        # a new crawl: the ledger is empty, the reads see the last job's output
        out = self._layers(
            tracer, self.pages_path, self.indices, self.path("wh-empty"), self.last_wh
        )
        # The curate workload is not in BENCHMARK.json's list, so
        # its layers ride on this traced run: one checked curate_corpus call
        # and the operator timings, on the curate workload's own input.
        self.curate = Curate(self.path("curate"), self.seed, self.cpus)
        self.curate.generate(None)
        self.curate.setup(self.spark)
        with tracer.span(Curate.entry) as span:
            self.curate.job()
        self.curate.after_job(span)
        self.checked += self.curate.checked
        self.mismatches += self.curate.mismatches
        return {**out, **self.curate.layers(tracer)}

    def log_metrics(self, log: dict, rates: dict) -> dict:
        return {**super().log_metrics(log, rates), **self.curate.log_metrics(log, rates)}


class ExtractRecrawl(_Extract):
    name = "extract-recrawl"
    LEDGER_PAGES = 4096
    RECRAWLED = 256
    NEW = 256
    N_BATCHES = 16  # more than one run can use

    def generate(self, pool) -> None:
        self.plan = inputs.recrawl_plan(
            self.seed, self.LEDGER_PAGES, self.N_BATCHES, self.RECRAWLED, self.NEW
        )
        self.ledger_path = self.path("ledger_pages")
        self.batches_path = self.path("batches")
        self.written = inputs.submit_pages(
            pool, self.ledger_path, self.plan.ledger, self.seed, self.partitions
        )
        self.batch_written = [
            pool.submit(inputs.write_pages, os.path.join(self.batch_path(b), "part-00000.parquet"),
                        old + new, self.seed)
            for b, (old, new) in enumerate(self.plan.batches)
        ]

    def setup(self, spark) -> None:
        self.spark = spark
        for f in self.written:
            f.result()
        self.batch_html = [f.result() for f in self.batch_written]
        self.wh = self.path("wh")
        seeded = run_extraction(
            spark, spark.read.parquet(self.ledger_path), self.wh, repartition=self.partitions
        )  # the untimed seed is also the first warm-up
        self.check(seeded["n_written"] == self.LEDGER_PAGES)
        self.ran: list[int] = []

    def batch_path(self, b: int) -> str:
        return os.path.join(self.batches_path, f"batch={b}")

    def _next_batch(self) -> dict:
        b = len(self.ran)
        self.ran.append(b)
        pages = self.spark.read.parquet(self.batch_path(b))
        return run_extraction(self.spark, pages, self.wh, repartition=self.partitions)

    def _snapshot(self) -> None:
        self.before = (dir_bytes(self.wh), set(manifest_dirs(self.wh)))

    def warmup(self) -> None:
        self.check(self._next_batch()["n_written"] == self.NEW)
        self._snapshot()

    def job(self) -> int:
        self.stats = self._next_batch()
        return self.RECRAWLED + self.NEW

    def after_job(self, span) -> None:
        self.check(self.stats["n_written"] == self.NEW)
        size0, dirs0 = self.before
        added = sorted(set(manifest_dirs(self.wh)) - dirs0)
        b = self.ran[-1]
        self.record(span, self.RECRAWLED + self.NEW, self.batch_html[b],
                    dir_bytes(self.wh) - size0, parquet_files(self.wh, added),
                    self.plan.batches[b][1])  # only new urls reach the extract stage
        self._snapshot()

    def exhausted(self) -> bool:
        return len(self.ran) >= self.N_BATCHES - 1  # keep one for the layer calls

    def finish(self) -> None:
        gold = (
            self.spark.read.parquet(self.batches_path)
            .filter(F.col("batch").isin(self.ran)).drop("batch")
            .unionByName(self.spark.read.parquet(self.ledger_path))
            .dropDuplicates(["url"])
        )
        self.warehouse_check(self.wh, gold, self.LEDGER_PAGES + self.NEW * len(self.ran))

    def layers(self, tracer) -> dict:
        b = len(self.ran)  # the next batch: not crawled yet
        old, new = self.plan.batches[b]
        return self._layers(tracer, self.batch_path(b), old + new, self.wh, self.wh)


class Curate(Workload):
    name = "curate"
    entry = "curate.curate_corpus"
    N_DOCS = 8192

    def generate(self, pool) -> None:
        """The texts are cheap to make; they are written in this process."""
        corpus = inputs.curation_corpus(self.seed, self.N_DOCS)
        self.expected = corpus.expected()
        self.docs_path = self.path("docs")
        corpus.write(self.docs_path, self.partitions)
        self.reports: list[dict] = []

    def setup(self, spark) -> None:
        self.spark = spark

    def _curate(self, docs=None):
        if docs is None:
            docs = self.spark.read.parquet(self.docs_path)
        _, report = curate_corpus(docs)
        # curate_corpus persists intermediates; a later call on the same
        # corpus would reuse them, so every call starts from a clean cache
        self.spark.catalog.clearCache()
        return report

    def warmup(self) -> None:
        """One call on one input file: starts the Python workers and
        compiles every stage of the job."""
        self._curate(self.spark.read.parquet(os.path.join(self.docs_path, "part-00000.parquet")))

    def job(self) -> int:
        self.report = self._curate()
        return self.N_DOCS

    def after_job(self, span) -> None:
        rep = self.report.as_dict()
        exp = self.expected
        for key in ("n_input", "n_after_quality", "n_after_line_dedup", "n_after_exact_dedup"):
            self.check(rep[key] == exp[key])
        near = rep["n_after_exact_dedup"] - rep["n_after_near_dedup"]
        self.check(exp["near_drops_min"] <= near <= exp["near_drops_max"])
        if self.reports:  # the same input gives the same counts every call
            self.check(rep == self.reports[0])
        self.reports.append(rep)
        self.calls.append(span)

    def bytes_written_per_input_byte(self) -> None:
        return None  # curation writes nothing to a warehouse

    def finish(self) -> None:
        pass

    def layers(self, tracer) -> dict:
        """Each operator curate_corpus composes, timed alone on its real
        input (the previous operator's output, materialized untimed)."""
        spark = self.spark
        out = {}

        def gopher(df):
            return textstats.gopher_rules(df, "doc_id", "text", keep=("doc_id", "text"), min_words=20)

        docs = spark.read.parquet(self.docs_path)
        with tracer.span("operators.textstats.gopher_rules") as sp:
            n, n_pass = gopher(docs).agg(
                F.count(F.lit(1)), F.sum(F.col("passes").cast("int"))
            ).first()
        out["operators.textstats.gopher_rules.s"] = sp.seconds
        out["operators.textstats.gopher_rules.pass_frac"] = n_pass / n
        gopher(docs).filter("passes").select("doc_id", "text").write.parquet(self.path("s-quality"))
        passing = spark.read.parquet(self.path("s-quality"))

        with tracer.span("operators.curation.drop_boilerplate_lines") as sp:
            noop_write(curation.drop_boilerplate_lines(passing, "doc_id", "text"))
        out["operators.curation.drop_boilerplate_lines.s"] = sp.seconds
        curation.drop_boilerplate_lines(passing, "doc_id", "text").select(
            "doc_id", F.col("clean_text").alias("text")
        ).write.parquet(self.path("s-lines"))
        spark.catalog.clearCache()
        lined = spark.read.parquet(self.path("s-lines"))

        with tracer.span("operators.dedup.dedup_exact") as sp:
            noop_write(dedup.dedup_exact(lined, "doc_id", "text"))
        out["operators.dedup.dedup_exact.s"] = sp.seconds
        dedup.dedup_exact(lined, "doc_id", "text").write.parquet(self.path("s-exact"))
        exact = spark.read.parquet(self.path("s-exact"))
        n_exact = exact.count()
        out["operators.dedup.dedup_exact.drop_frac"] = 1 - n_exact / lined.count()

        with tracer.span("operators.dedup.minhash_lsh_candidates") as sp:
            cands = dedup.minhash_lsh_candidates(exact, "doc_id", "text").collect()
        spark.catalog.clearCache()
        out["operators.dedup.minhash_lsh_candidates.s"] = sp.seconds
        out["operators.dedup.minhash_lsh_candidates.candidates_per_doc"] = len(cands) / n_exact
        hits = sum(r["est_jaccard"] >= NEAR_THRESHOLD for r in cands)
        out["operators.dedup.minhash_lsh_candidates.hit_frac"] = hits / len(cands)
        rep = self.reports[-1]
        for key in ("n_input", "n_after_quality", "n_after_line_dedup",
                    "n_after_exact_dedup", "n_after_near_dedup", "n_output", "n_val"):
            out[f"curate.curate_corpus.{key}"] = rep[key]
        return out

    def log_metrics(self, log: dict, rates: dict) -> dict:
        traced = [(sp, log[sp.group]) for sp in self.calls if sp.group in log]
        n = len(traced)
        return {
            "curate.curate_corpus.shuffle_write_bytes_per_doc":
                sum(st.shuffle_write_bytes for _, st in traced) / (self.N_DOCS * n),
            "curate.curate_corpus.spill_bytes": sum(st.spill_bytes for _, st in traced) / n,
            "curate.curate_corpus.task_s.max_over_p50":
                median([max_over_p50(st.heaviest_stage()) for _, st in traced]),
            "curate.curate_corpus.spark_jobs": sum(st.jobs for _, st in traced) / n,
            "curate.curate_corpus.driver_only_s":
                median([sp.seconds - st.busy_s() for sp, st in traced]),
            "curate.curate_corpus.gc_s": median([st.gc_s for _, st in traced]),
        }


WORKLOADS = {w.name: w for w in (ExtractCold, ExtractRecrawl, Curate)}
