"""The three workloads: what one timed pass runs, and how it is checked.

A workload object is bound to one input table.  ``warmup`` runs the same
pipeline untimed on a slice of the input files, ``run_pass`` is the timed
unit, ``check`` verifies the pass's output against the independent
expectations in :mod:`perfbench.checks`, and ``reset`` puts the session
back into the state the next pass starts from (outside the timed region).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from . import checks
from .inputs import Inputs
from .sparkenv import cpus

N_CHUNKS = 2  # checkpoint chunks per extract_mix pass
# The warm-up slice has one input file per core, so every Python worker
# is forked and has imported the package before timing starts.
WARM_FILES = cpus()


def _options():
    """The extraction options of every workload: the golden texts assume
    in-document block dedup (datagen/corpus.py)."""
    from rs_trafilatura_spark.options import Options

    return Options(deduplicate=True)


class ExtractMix:
    """Small-page mix through the resumable production path: JVM scan,
    Arrow hop, kernel, parquet chunks plus a manifest entry per chunk."""

    name = "extract_mix"

    def __init__(self, spark, inp: Inputs, work: str):
        self.spark, self.inp = spark, inp
        self.out = os.path.join(work, "out", self.name)

    def _run(self, paths: list[str], out: str) -> dict:
        from rs_trafilatura_spark.sources import run_extraction_checkpointed

        shutil.rmtree(out, ignore_errors=True)
        pages = self.spark.read.parquet(*paths)
        return run_extraction_checkpointed(self.spark, pages, out, _options(),
                                           n_chunks=N_CHUNKS)

    def warmup(self) -> None:
        self._run(self.inp.files[:WARM_FILES], self.out + "-warm")

    def run_pass(self) -> dict:
        return self._run([self.inp.pages_dir], self.out)

    def check(self, _result) -> checks.Verdict:
        from pyspark.sql import functions as F
        from rs_trafilatura_spark.sources import read_output

        rows = read_output(self.spark, self.out).select(
            "url", "stage", F.sha2("content_text", 256)).collect()
        verdict = checks.check_extraction([tuple(r) for r in rows], self.inp)
        entries = []
        for path in glob.glob(os.path.join(self.out, "_manifest", "*.json")):
            with open(path) as f:
                entries.append(json.load(f))
        checks.check_manifest(entries, N_CHUNKS, self.inp.n_pages, verdict)
        return verdict

    def reset(self) -> None:
        pass


def hash_sink(df) -> list[tuple]:
    """Hash every output column and write nothing: one row per page with
    its url, stage, sha256(content_text) and a hash over all columns."""
    from pyspark.sql import functions as F

    # the shuffle-free sink: every column is read, nothing is stored
    return [tuple(r) for r in df.select(
        "url", "stage", F.sha2("content_text", 256),
        F.xxhash64(*[F.col(c) for c in df.columns]),
    ).collect()]


class ExtractLarge:
    """~300 KB pages through the Python-side scan fused with the kernel,
    into a sink that hashes every output column."""

    name = "extract_large"

    def __init__(self, spark, inp: Inputs, work: str):
        self.spark, self.inp = spark, inp
        self.warm_dir = os.path.join(work, "out", "large-warm")

    def warmup(self) -> None:
        from rs_trafilatura_spark.sources import extract_from_parquet

        # the scan reads a directory: hard-link the slice's files into one
        shutil.rmtree(self.warm_dir, ignore_errors=True)
        os.makedirs(self.warm_dir)
        for path in self.inp.files[:WARM_FILES]:
            os.link(path, os.path.join(self.warm_dir, os.path.basename(path)))
        hash_sink(extract_from_parquet(self.spark, self.warm_dir, _options()))

    def run_pass(self) -> list[tuple]:
        from rs_trafilatura_spark.sources import extract_from_parquet

        return hash_sink(extract_from_parquet(self.spark, self.inp.pages_dir,
                                              _options()))

    def check(self, rows) -> checks.Verdict:
        return checks.check_extraction([r[:3] for r in rows], self.inp)

    def reset(self) -> None:
        pass


class CurateDups:
    """Small-page mix with injected mirrors and near copies through
    curation: quality gates and exact dedup, then exact-verified LSH
    near-duplicate marking, then the outcome report."""

    name = "curate_dups"

    def __init__(self, spark, inp: Inputs, work: str):
        self.spark, self.inp = spark, inp

    def _run(self, paths: list[str]):
        from rs_trafilatura_spark.plans.curate import (
            curate_pages, curation_report, mark_near_duplicates)

        pages = self.spark.read.parquet(*paths)
        curated = curate_pages(self.spark, pages, _options())
        final = mark_near_duplicates(curated, method="exact")
        curation_report(final).collect()
        return final

    def warmup(self) -> None:
        self._run(self.inp.files[:WARM_FILES])
        self.reset()

    def run_pass(self):
        return self._run([self.inp.pages_dir])

    def check(self, final) -> checks.Verdict:
        rows = final.select("url", "stage", "drop_reason").collect()
        return checks.check_curation([tuple(r) for r in rows], self.inp)

    def reset(self) -> None:
        from rs_trafilatura_spark.plans.curate import release_cache

        release_cache()


WORKLOADS = {w.name: w for w in (ExtractMix, ExtractLarge, CurateDups)}
