"""``crawl_bulk``: ``CrawlEngine.run`` over a generated web, snapshots on.

A few fat waves over 8 hosts with no politeness cap and ``salt_buckets=4``,
so HTML extraction (``fetch_extract``) and ``expand`` carry the work. The
crawl starts from a seeded 20% sample of the corpus's HTML pages, so wave 0
is already wide, and ``max_depth=1`` gives two fat waves. Each crawl's order and seen set are checked against
``ReferenceModel`` on the same corpus, seeds and config.

The traced run adds the extraction layer measured on its own (at
``local[nproc]`` and again at ``local[1]``, for the scaling efficiency),
an interrupted crawl resumed from its snapshots (``resume_s``), and the
frontier scheduling stages on a synthesized frontier (``frontier_probe``).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from . import frontier_probe
from . import harness as H

PHASES = ("sched", "fetch_extract", "expand", "fold", "snapshot")
BASE_DOMAIN = "host0.example.com"
EXTRACT_LABEL = "crawl_bulk/layer/extract"


def order_and_seen(result) -> tuple[list, set]:
    order = [
        (r["url"], r["depth"])
        for r in result.pages.select("url", "depth", "seq").orderBy("seq").collect()
    ]
    seen = {r["url"] for r in result.seen.select("url").collect()}
    return order, seen


def fetched_rows(corpus):
    """Every HTML page of the corpus as the engine's fetched rows."""
    from pyspark.sql import functions as F

    return corpus.filter(F.col("content_type").startswith("text/html")).select(
        F.col("doc_id").alias("url"),
        F.col("status_code").cast("int"),
        "content_type",
        F.col("size").cast("long"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("wave"),
        F.monotonically_increasing_id().alias("seq"),
        "host",
        F.col("response_time_ms").cast("double").alias("response_time"),
        F.lit(None).cast("string").alias("error"),
        "raw_html",
    )


class CrawlBulk(H.Workload):
    name = "crawl_bulk"
    n_docs = 800
    n_hosts = 8
    max_depth = 1
    trace_min_ops = 2

    def __init__(self, seed: int):
        self.seed = seed
        self.corpus = None
        self.seeds: list[str] = []
        self.reference = None
        self.state_root = os.path.join(H.WORK_DIR, "state", self.name)
        self.fetched_path = os.path.join(self.state_root, "fetched.parquet")
        self._op = 0

    def sizes(self) -> dict:
        return {"docs": self.n_docs, "hosts": self.n_hosts, "seed_urls": len(self.seeds)}

    def config(self, max_waves: int = 64):
        from seo_crawler_spark.operators.frontier import CrawlConfig

        return CrawlConfig(
            max_depth=self.max_depth, max_urls=10**9, crawl_external=True,
            respect_robots=False, salt_buckets=4, max_waves=max_waves,
        )

    def _state_dir(self) -> str:
        self._op += 1
        path = os.path.join(self.state_root, f"op{self._op}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def setup(self, spark) -> None:
        """Generate the corpus (starting the Python workers) and pick the
        seed pages."""
        from pyspark.sql import functions as F

        from seo_crawler_spark.sources.corpus import generate_corpus

        self.corpus = generate_corpus(
            spark, n_docs=self.n_docs, n_hosts=self.n_hosts, seed=self.seed,
            partitions=H.cpus(),
        ).localCheckpoint(eager=True)
        html = self.corpus.filter(
            (F.col("status_code") == 200) & F.col("content_type").startswith("text/html")
        )
        pages = sorted(r["doc_id"] for r in html.select("doc_id").collect())
        rng = np.random.default_rng(self.seed)
        picks = rng.choice(len(pages), max(1, len(pages) // 5), replace=False)
        self.seeds = [pages[i] for i in sorted(picks)]

    def warmup(self, spark) -> None:
        """One full crawl, untimed: compiles every per-wave plan shape. A
        one-wave warm-up left the first timed crawl ~20% slower."""
        from seo_crawler_spark.operators.frontier import CrawlEngine

        keep = H.persistent_rdd_ids(spark)
        state_dir = self._state_dir()
        result = CrawlEngine(spark, self.corpus, None, self.config(), state_dir).run(self.seeds)
        H.noop_write(result.pages)
        shutil.rmtree(state_dir, ignore_errors=True)
        H.release_new_blocks(spark, keep)

    def expected(self, spark):
        from seo_crawler_spark.reference_model import ReferenceModel

        corpus = {r["doc_id"]: r.asDict() for r in self.corpus.collect()}
        model = ReferenceModel(
            corpus, {}, max_depth=self.max_depth, max_urls=10**9,
            crawl_external=True, respect_robots=False,
        ).crawl(self.seeds)
        self.reference = (model["order"], model["seen"])
        return self.reference

    def op(self, spark, expected) -> dict:
        from seo_crawler_spark.operators.frontier import CrawlEngine

        state_dir = self._state_dir()
        t0 = time.perf_counter()
        result = CrawlEngine(spark, self.corpus, None, self.config(), state_dir).run(self.seeds)
        H.noop_write(result.pages)
        wall = time.perf_counter() - t0
        out = {
            "wall_s": wall,
            "pages": sum(m["scheduled"] for m in result.metrics),
            "waves": result.metrics,
            "state_bytes": H.dir_bytes(state_dir),
            "correct": order_and_seen(result) == expected,
        }
        shutil.rmtree(state_dir, ignore_errors=True)
        return out

    def cleanup(self) -> None:
        shutil.rmtree(self.state_root, ignore_errors=True)

    def steps(self, ops: list[dict]) -> int:
        return sum(len(op["waves"]) for op in ops)

    def summarize(self, ops: list[dict]) -> dict:
        waves = [m["seconds"] for op in ops for m in op["waves"]]
        rate = H.median([op["pages"] / op["wall_s"] for op in ops])
        return {
            "crawl_pages_per_s": rate,
            "wave_s_p50": H.median(waves),
            "wave_samples": len(waves),
            "state_bytes_per_page": H.median([op["state_bytes"] / op["pages"] for op in ops]),
            "pages_per_op": ops[0]["pages"],
            "waves_per_op": len(ops[0]["waves"]),
            "throughput_per_s": rate,
            "step_s_p50": H.median(waves),
        }

    def patch_layers(self, tracer) -> None:
        tracer.patch_crawl_layers()

    def trace_layers(self, spark, tracer, ops) -> dict:
        """Per-wave phases (``frontier.*``) and the wrapped engine calls
        (``ordering``, ``snapshots``, ``ckpt``) per wave of the traced
        ops; then the extraction, resume and frontier-stage probes."""
        waves = [m for op in ops for m in op["waves"]]
        n = len(waves)
        out = {
            f"frontier.{p}_s": H.median([m["phases"].get(p, 0.0) for m in waves])
            for p in PHASES
        }
        out["frontier.waves"] = n / len(ops)
        out["frontier.pages"] = H.median([op["pages"] for op in ops])
        spans = tracer.self_times(under=f"{self.name}/op")

        def total(name: str) -> float:
            return spans.get(name, {}).get("total_s", 0.0)

        out["ordering.seq_s"] = total("ordered_seq_counted") / n
        out["snapshots.commit_s"] = total("commit_wave") / n
        out["snapshots.bytes_written"] = H.median([op["state_bytes"] for op in ops])
        out["ckpt.barriers_per_wave"] = spans.get("local_ckpt", {}).get("count", 0) / n
        out.update(self._extract_probe(spark, tracer))
        checks = {}
        for probe in (
            self._resume_probe(spark, tracer),
            frontier_probe.probe(spark, tracer, f"{self.name}/layer/frontier", self.seed),
        ):
            checks.update(probe.pop("checks"))
            out.update(probe)
        out["checks"] = checks
        return out

    def _extract_probe(self, spark, tracer) -> dict:
        """The extraction layer on its own over the corpus's HTML pages:
        ``extract_pages`` through Spark and Arrow, then ``parse_document``
        over the same rows in this one Python process."""
        from seo_crawler_spark.functions.html import parse_document
        from seo_crawler_spark.operators.extract import extract_pages

        fetched = fetched_rows(self.corpus).localCheckpoint(eager=True)
        fetched.write.mode("overwrite").parquet(self.fetched_path)
        n = fetched.count()
        with tracer.span("extract_pages", label=EXTRACT_LABEL) as sp:
            H.noop_write(extract_pages(fetched, BASE_DOMAIN))
        rows = [(r["url"], r["raw_html"]) for r in fetched.select("url", "raw_html").collect()]
        t0 = time.perf_counter()
        for url, html in rows:
            parse_document(url, html, BASE_DOMAIN)
        parse_s = time.perf_counter() - t0
        return {
            "extract.docs": n,
            "extract.docs_per_s": n / (sp["end"] - sp["start"]),
            "html.parse_docs_per_s": n / parse_s,
            "html.parse_s": parse_s,
        }

    def _resume_probe(self, spark, tracer) -> dict:
        """Crawl one wave, then resume in a new engine from the same state
        dir. ``resume_s`` is the resumed call's wall time minus its waves'
        seconds: restoring frontier, seen, pages and links."""
        from seo_crawler_spark.operators.frontier import CrawlEngine

        state_dir = self._state_dir()
        with tracer.span("interrupted", label=f"{self.name}/layer/interrupted"):
            CrawlEngine(spark, self.corpus, None, self.config(max_waves=1), state_dir).run(self.seeds)
        with tracer.span("resume", label=f"{self.name}/layer/resume"):
            t0 = time.perf_counter()
            result = CrawlEngine(spark, self.corpus, None, self.config(), state_dir).resume()
            H.noop_write(result.pages)
            wall = time.perf_counter() - t0
        resumed = [m for m in result.metrics if m["wave"] >= 1]
        return {
            "snapshots.resume_s": wall - sum(m["seconds"] for m in resumed),
            "snapshots.resume_pages": sum(m["scheduled"] for m in result.metrics),
            "checks": {"resume_matches_reference": order_and_seen(result) == self.reference},
        }

    def from_event_log(self, rows, layers) -> dict:
        task_s = rows[EXTRACT_LABEL]["executor_run_s"]
        return {
            "extract.task_s": task_s,
            "extract.boundary_frac": 1.0 - layers["html.parse_s"] / task_s,
        }

    def trace_extra(self, layers: dict) -> dict:
        """``extract_pages`` again at ``local[1]``, over the fetched rows
        the probe at ``local[n]`` wrote out: ``scaling.crawl_bulk_eff`` =
        (T_n / T_1) / n, with T the fetch+extract layer's docs/s."""
        from seo_crawler_spark.operators.extract import extract_pages

        spark = H.start_session(1)
        try:
            fetched = spark.read.parquet(self.fetched_path).localCheckpoint(eager=True)
            n_docs = fetched.count()
            # start this session's Python worker outside the timed pass
            H.noop_write(extract_pages(fetched.limit(8), BASE_DOMAIN))
            t0 = time.perf_counter()
            H.noop_write(extract_pages(fetched, BASE_DOMAIN))
            t1 = n_docs / (time.perf_counter() - t0)
        finally:
            spark.stop()
        n = H.cpus()
        return {
            "scaling.extract_docs_per_s_local1": t1,
            "scaling.crawl_bulk_eff": (layers["extract.docs_per_s"] / t1) / n,
        }
