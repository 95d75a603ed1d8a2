"""The benchmark workloads.

Each workload generates its inputs from the seed, writes them under the
run's work directory, warms the Python workers, and then makes one
checked call into an engine entry point per :meth:`Workload.call`.
:meth:`Workload.layers` measures the workload's per-layer numbers for
the traced run by timing calls into the engine's public functions.

Why these two (both in ``officeAction`` mode):

* ``convert_job`` — the flagship ``run_job``: nested strategy, bucketed
  write, the Python fold does the largest share of the work.  Bypasses
  exploded assembly and extraction.
* ``extract_job`` — ``run_extract_job`` on docs with few text spans and
  heavy PDF/HTML/txt payloads, so extraction and enrichment dominate.

The traced run of ``convert_job`` also measures the layers neither job
reaches, on small inputs of their own: the nested against the exploded
conversion strategy on ordinary docs plus one megadoc, and corpus
curation (quality gates, exact and near-dup removal) on a slice of the
docs with planted near-duplicates.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from . import gen, reference

MODE = "officeAction"

SKEW_DOCS = 100  # ordinary docs beside the megadoc
CURATE_DOCS = 150  # docs of the curation slice
NEAR_DUPS = 15  # of them, copied as planted near-duplicates


def _median_time(fn, n: int = 3) -> float:
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def _timed(fn) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _checksum(df, *cols: str) -> int:
    """Force every value of ``cols`` (default: all columns) to
    materialize.  A bare ``count()`` lets Catalyst prune work whose output
    it does not need (the exploded conversion, for one)."""
    return df.select(F.sum(F.crc32(F.to_json(F.struct(*(cols or df.columns)))))).head()[0]


def _dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    files = n_bytes = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                n_bytes += os.path.getsize(os.path.join(root, n))
    return files, n_bytes


class Workload:
    name = ""
    # Untimed calls before the measured ones.  The first call of a JVM is
    # two to three times as slow as later ones, and calls keep getting
    # faster for a while after it; for how long depends on the workload.
    WARM_CALLS = 2

    def __init__(self, work: str, seed: int, cores: int):
        self.seed = seed
        self.cores = cores
        self.in_dir = os.path.join(work, "in")
        self.out_dir = os.path.join(work, "out")
        self.expected = None
        self.checks: dict[str, bool] = {}  # output checks of the traced run's layers
        self.notes: dict[str, object] = {}

    # -- set-up -----------------------------------------------------------
    def generate(self) -> None:
        """Build the seeded inputs in memory (``self.docs`` etc.)."""
        raise NotImplementedError

    def write(self) -> None:
        shutil.rmtree(self.in_dir, ignore_errors=True)
        gen.write_documents(self.docs, self.path("docs"), self.cores)

    def warm_workers(self, spark) -> None:
        """Start one Python worker per core and import the engine in it
        (the registry builds its tries and regexes at import)."""

        def load(batches):
            import patent_decision_document_converter_spark.operators.pdf  # noqa: F401
            import patent_decision_document_converter_spark.plans.registry  # noqa: F401

            yield from batches

        spark.range(self.cores, numPartitions=self.cores).mapInPandas(load, "id long").collect()

    def prepare(self, spark) -> None:
        """Expected outputs for the checks (untimed)."""

    def warm_call(self, spark) -> None:
        """An untimed call of the entry point, so the measured calls do not
        pay for first-use code generation and JIT compilation."""
        self.run(spark, self.out("warm"))
        self.cleanup("warm")

    # -- measured ---------------------------------------------------------
    def run(self, spark, out: str) -> dict:
        """The entry-point call; returns its metrics dict."""
        raise NotImplementedError

    def call(self, spark, k) -> bool:
        """One entry-point call, materialized and checked."""
        raise NotImplementedError

    def cleanup(self, k) -> None:
        shutil.rmtree(self.out(k), ignore_errors=True)

    def layers(self, spark, collector) -> dict:
        """Per-layer metrics of the traced run; records its output checks
        in ``self.checks``."""
        return {}

    # -- helpers ----------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.in_dir, name)

    def out(self, k) -> str:
        return os.path.join(self.out_dir, str(k))

    def sizes(self) -> dict:
        return gen.sizes(self.docs, getattr(self, "media", None))

    def input_digest(self) -> str:
        return gen.digest(self.docs, getattr(self, "media", None))

    def text_runs(self) -> list[str]:
        return [r for d in self.docs for r in gen.text_runs(d["spans"])]

    def arrow_floor(self, spark, docs) -> float:
        """Transfer-only floor: the nested conversion's repartition plus a
        ``mapInPandas`` that returns its rows unchanged."""
        def passthrough(batches):
            yield from batches

        n = spark.sparkContext.defaultParallelism
        plan = docs.select("doc_id", "spans").repartition(n, F.xxhash64("doc_id"))
        return _median_time(
            lambda: _checksum(plan.mapInPandas(passthrough, schema=plan.schema), "spans")
        )

    def write_layers(self, spark, convert_s: float) -> dict:
        """``write.*``: the job's wall minus ``convert_s``, the wall of the
        same conversion forced by a checksum instead of written."""
        walls = []
        for i in range(2):
            t0 = time.perf_counter()
            self.run(spark, self.out(f"w{i}"))
            walls.append(time.perf_counter() - t0)
        files, out_bytes = _dir_bytes(os.path.join(self.out("w0"), "data"))
        _, in_bytes = _dir_bytes(self.in_dir)
        for i in range(2):
            self.cleanup(f"w{i}")
        return {
            "write.s": statistics.median(walls) - convert_s,
            "write.files": files,
            "write.output_bytes": out_bytes,
            "write.bytes_per_input_byte": out_bytes / in_bytes,
        }


class ConvertJob(Workload):
    name = "convert_job"
    N_DOCS = 1000
    WARM_CALLS = 5  # calls 2-6 are each several percent faster than the last

    def generate(self):
        self.docs = gen.documents(self.seed, self.N_DOCS)

    def prepare(self, spark):
        self.expected = reference.reference_digests(spark, self.docs, MODE)

    def run(self, spark, out):
        from patent_decision_document_converter_spark.plans.job import run_job

        return run_job(spark, self.path("docs"), out, MODE)

    def call(self, spark, k):
        m = self.run(spark, self.out(k))
        got = reference.digests(spark.read.parquet(os.path.join(self.out(k), "data")))
        return m.get("docs") == len(self.docs) and got == self.expected

    def layers(self, spark, collector):
        from patent_decision_document_converter_spark.plans.job import (
            convert_documents,
            pick_convert_strategy,
        )

        docs = spark.read.parquet(self.path("docs"))
        convert_s = _median_time(lambda: _checksum(convert_documents(docs, MODE), "spans"), 2)
        self.notes["picked_strategy"] = pick_convert_strategy(docs)
        return {
            "job.arrow_floor_s": self.arrow_floor(spark, docs),
            "job.pick_strategy_s": _median_time(lambda: pick_convert_strategy(docs)),
            **self.write_layers(spark, convert_s),
            **self.strategy_layers(spark),
            **self.curate_layers(spark, collector),
        }

    def strategy_layers(self, spark) -> dict:
        """The nested and the exploded conversion of ``SKEW_DOCS`` docs plus
        one megadoc, each forced by the per-doc output digests, which must
        be equal."""
        from patent_decision_document_converter_spark.plans.job import (
            convert_documents,
            convert_documents_exploded,
            pick_convert_strategy,
        )

        rows = self.docs[:SKEW_DOCS] + [gen.megadoc(self.seed)]
        gen.write_documents(rows, self.path("skew"), self.cores)
        skew = spark.read.parquet(self.path("skew"))
        self.notes["picked_strategy_megadoc"] = pick_convert_strategy(skew)
        walls = {"nested": [], "exploded": []}
        got = {}
        for _ in range(2):
            for name, convert in (("nested", convert_documents),
                                  ("exploded", convert_documents_exploded)):
                dt, got[name] = _timed(lambda: reference.digests(convert(skew, MODE)))
                walls[name].append(dt)
        self.checks["exploded_equals_nested"] = (
            len(got["nested"]) == len(rows) and got["exploded"] == got["nested"]
        )
        return {
            "job.nested_megadoc_s": statistics.median(walls["nested"]),
            "job.exploded_megadoc_s": statistics.median(walls["exploded"]),
        }

    def curate_layers(self, spark, collector) -> dict:
        """``curate_corpus`` and its operators on the first ``CURATE_DOCS``
        docs plus near-duplicate copies of ``NEAR_DUPS`` of them (pairs
        whose reference output has no typo findings, so neither is
        quarantined).  Checks that curation removes every copy."""
        from patent_decision_document_converter_spark.functions.cachereg import (
            release_cached,
            track,
        )
        from patent_decision_document_converter_spark.operators import dedup, textstats
        from patent_decision_document_converter_spark.plans.curate import (
            curate_corpus,
            extract_text,
        )
        from patent_decision_document_converter_spark.plans.job import (
            convert_documents,
            quarantine_split,
        )

        base = self.docs[:CURATE_DOCS]
        dups = [gen.near_duplicate(d) for d in base]
        has_findings = [
            bool(r[2]) or bool(c[2])
            for r, c in zip(reference.convert_docs(base, MODE), reference.convert_docs(dups, MODE))
        ]
        copies = [c for c, bad in zip(dups, has_findings) if not bad][:NEAR_DUPS]
        rows = base + copies
        gen.write_documents(rows, self.path("curate"), self.cores)
        docs = spark.read.parquet(self.path("curate"))

        with collector.group("curate") as gid:
            curate_s, (curated, stages) = _timed(lambda: curate_corpus(docs, MODE))
            dt, kept = _timed(
                lambda: {r[0] for r in curated.select("doc_id", F.crc32(F.to_json("spans"))).collect()}
            )
            curate_s += dt
        curate_jobs = collector.stats(gid)["spark_jobs"]
        release_cached()
        self.notes["curate_stages"] = json.dumps(stages, sort_keys=True)
        self.notes["curate_planted_near_dups"] = len(copies)
        self.checks["curate_removes_planted_near_dups"] = (
            stages["input_docs"] == len(rows)
            and bool(copies)
            and not kept & {c["doc_id"] for c in copies}
            and stages["after_near_dedup"] < stages["after_exact_dedup"]
        )

        # the curation's operators one at a time, each input persisted first
        clean_docs, _ = quarantine_split(track(convert_documents(docs, MODE)))
        text = track(extract_text(clean_docs))
        text.count()
        quality_s, _ = _timed(lambda: _checksum(textstats.quality_scores(text)))
        sigs = track(dedup.minhash_signatures(text, shingle_k=5, unit="char"))
        minhash_s, _ = _timed(lambda: _checksum(sigs, "signature"))
        cands = track(dedup.minhash_lsh_candidates(sigs))
        lsh_s, n_cands = _timed(cands.count)
        max_bucket = (
            dedup.banded_signatures(sigs).groupBy("band_id", "band_hash").count()
            .agg(F.max("count")).head()[0]
        )
        near = track(dedup.ngram_jaccard_pairs(
            text, shingle_k=5, unit="char", threshold_tenths=8, candidates=cands
        ))
        verify_s, n_near = _timed(near.count)
        components_s, _ = _timed(lambda: _checksum(dedup.connected_components(near)))
        release_cached()
        return {
            "curate.wall_s": curate_s,
            "curate.spark_jobs": curate_jobs,
            "textstats.quality_s": quality_s,
            "dedup.minhash_s": minhash_s,
            "dedup.lsh_s": lsh_s,
            "dedup.candidate_pairs": n_cands,
            "dedup.max_band_bucket": max_bucket,
            "dedup.verify_s": verify_s,
            "dedup.near_pairs": n_near,
            "dedup.useful_ratio": n_near / n_cands if n_cands else 0.0,
            "dedup.components_s": components_s,
        }


class ExtractJob(Workload):
    name = "extract_job"
    N_DOCS = 150

    def generate(self):
        self.docs, self.media = gen.extraction_corpus(self.seed, self.N_DOCS)

    def write(self):
        super().write()
        gen.write_media(self.media, self.path("media"), self.cores)

    def run(self, spark, out):
        from patent_decision_document_converter_spark.plans.extract_job import run_extract_job

        return run_extract_job(spark, self.path("docs"), self.path("media"), out, MODE)

    def call(self, spark, k):
        m = self.run(spark, self.out(k))
        totals = {"docs": 0, "media_texts": 0}
        mdir = os.path.join(self.out(k), "_manifests")
        for name in os.listdir(mdir):
            with open(os.path.join(mdir, name)) as f:
                man = json.load(f)
            totals["docs"] += man["doc_count"]
            totals["media_texts"] += man["media_texts"]
        want = {"docs": len(self.docs), "media_texts": sum(m["has_text"] for m in self.media)}
        return totals == want and {k2: m.get(k2) for k2 in want} == want

    def layers(self, spark, collector):
        from patent_decision_document_converter_spark.operators.extract import extract_main_content
        from patent_decision_document_converter_spark.plans.extract_job import extract_and_enrich
        from patent_decision_document_converter_spark.plans.job import convert_documents

        docs = spark.read.parquet(self.path("docs"))
        media = spark.read.parquet(self.path("media"))
        extracted = extract_main_content(media, permissive_pdf=True)
        main_s = _median_time(lambda: _checksum(extracted, "main_text"))
        enrich_s = _median_time(lambda: _checksum(extract_and_enrich(docs, media), "spans"))
        row = extracted.select(
            F.count("*").alias("n"), F.sum(F.col("main_text").isNull().cast("int")).alias("nulls")
        ).head()
        convert_s = _median_time(
            lambda: _checksum(convert_documents(extract_and_enrich(docs, media), MODE), "spans"), 2
        )
        return {
            "job.arrow_floor_s": self.arrow_floor(spark, docs),
            "extract.main_content_s": main_s,
            "extract.enrich_s": enrich_s - main_s,
            "extract.media_per_s": len(self.media) / main_s,
            "extract.null_ratio": row["nulls"] / max(row["n"], 1),
            **self.write_layers(spark, convert_s),
        }


WORKLOADS = {w.name: w for w in (ConvertJob, ExtractJob)}
