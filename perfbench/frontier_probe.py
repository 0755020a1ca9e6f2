"""The URL-frontier scheduling layers, each called on its own.

A synthesized frontier of messy URLs (case, default port, unsorted query,
fragment; 30% on one mega-host) is scheduled the way ``bench.py``'s
``sched_pipeline`` does it: canonicalize -> xxhash -> exact anti-join
against a seen table holding every third URL -> salted politeness rank.
The seed is mixed into the URL ids. Then each stage runs alone on the
same checkpointed inputs, including both probabilistic seen filters.

Check: the admitted and deferred counts are the same through the exact,
bloom and cuckoo seen paths.
"""

from __future__ import annotations

import time

from . import harness as H

N_URLS = 100_000
BUDGET = 5000
SALT_BUCKETS = 8
N_FILTER_BUCKETS = 64


def synth_raw_frontier(spark, n: int, seed: int):
    from pyspark.sql import functions as F

    ids = spark.range(0, n, numPartitions=H.cpus() * 4)
    h = F.xxhash64(F.col("id"), F.lit(seed))
    host = F.when(F.pmod(h, F.lit(10)) < 3, F.lit("host0")).otherwise(
        F.concat(F.lit("host"), F.pmod(h, F.lit(200)).cast("string"))
    )
    raw = F.concat(
        F.lit("HTTPS://WWW."), host, F.lit(".Example.COM:443/p/"),
        F.pmod(h, F.lit(1 << 40)).cast("string"),
        F.lit(".html?b="), F.pmod(F.col("id"), F.lit(7)).cast("string"),
        F.lit("&a="), F.pmod(F.col("id"), F.lit(3)).cast("string"),
        F.lit("#frag"),
    )
    return ids.select(F.col("id").alias("seq"), raw.alias("raw_url"))


def canonicalize(raw):
    """raw_url -> (seq, url, url_hash, host)."""
    from pyspark.sql import functions as F

    from seo_crawler_spark.functions import urls as U

    return raw.select("seq", U.canonicalize_url(F.col("raw_url")).alias("url")).select(
        "seq", "url",
        U.url_hash(F.col("url")).alias("url_hash"),
        U.url_host(F.col("url")).alias("host"),
    )


def candidates(raw):
    from pyspark.sql import functions as F

    return canonicalize(raw).withColumn("depth", F.lit(1)).withColumn("wave", F.lit(1))


def rank(fresh):
    from seo_crawler_spark.operators.politeness import politeness_tag

    return politeness_tag(fresh, default_budget=BUDGET, salt_buckets=SALT_BUCKETS)


def admitted_counts(tagged) -> tuple[int, int]:
    from pyspark.sql import functions as F

    counts = {
        bool(r["admitted"]): r["n"]
        for r in tagged.groupBy("admitted").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    return counts.get(True, 0), counts.get(False, 0)


def probe(spark, tracer, label: str, seed: int) -> dict:
    """Run the pipeline, then each stage alone, each in a span labelled
    ``label/<stage>``. Returns the layer numbers plus a ``checks`` entry."""
    from pyspark.sql import functions as F

    from seo_crawler_spark.operators.cuckoo import (
        cuckoo_build,
        cuckoo_probe,
        dedupe_against_seen_cuckoo,
        size_for,
    )
    from seo_crawler_spark.operators.seen import (
        bloom_build,
        bloom_prune,
        dedupe_against_seen,
    )

    def timed(stage: str, fn):
        with tracer.span(stage, label=f"{label}/{stage}") as sp:
            value = fn()
        return sp["end"] - sp["start"], value

    raw = synth_raw_frontier(spark, N_URLS, seed).localCheckpoint(eager=True)
    seen = (
        canonicalize(raw)
        .filter(F.pmod(F.col("url_hash"), F.lit(3)) == 0)
        .select("url_hash", "url", F.lit(0).alias("wave"))
        .localCheckpoint(eager=True)
    )
    n_seen = seen.count()

    def pipeline(seen_path):
        return admitted_counts(rank(seen_path(candidates(raw))))

    pipeline(lambda c: dedupe_against_seen(c, seen, None))  # compile once
    t0 = time.perf_counter()
    exact = pipeline(lambda c: dedupe_against_seen(c, seen, None))
    sched_s = time.perf_counter() - t0

    out = {
        "frontier_sched.urls": N_URLS,
        "frontier_sched.seen": n_seen,
        "frontier_sched.sched_s": sched_s,
        "frontier_sched.urls_per_s": N_URLS / sched_s,
    }
    out["urls.canonicalize_s"], _ = timed(
        "canonicalize", lambda: H.noop_write(canonicalize(raw))
    )
    cand = candidates(raw).localCheckpoint(eager=True)
    n_cand = cand.count()
    out["seen.exact_dedupe_s"], fresh = timed(
        "exact_dedupe",
        lambda: dedupe_against_seen(cand, seen, None).localCheckpoint(eager=True),
    )
    out["seen.bloom_build_s"], bloom = timed(
        "bloom_build", lambda: bloom_build(seen).localCheckpoint(eager=True)
    )
    out["seen.bloom_dedupe_s"], _ = timed(
        "bloom_dedupe", lambda: dedupe_against_seen(cand, seen, bloom).count()
    )
    out["seen.bloom_positive_frac"] = (
        bloom_prune(cand, bloom).filter(F.col("maybe_seen")).count() / n_cand
    )
    m = size_for(n_seen // N_FILTER_BUCKETS + 1)
    out["cuckoo.build_s"], cuckoo = timed(
        "cuckoo_build", lambda: cuckoo_build(seen, m=m).localCheckpoint(eager=True)
    )
    out["cuckoo.dedupe_s"], _ = timed(
        "cuckoo_dedupe", lambda: dedupe_against_seen_cuckoo(cand, seen, cuckoo).count()
    )
    out["cuckoo.positive_frac"] = (
        cuckoo_probe(cand, cuckoo).filter(F.col("maybe_seen")).count() / n_cand
    )
    out["politeness.rank_s"], ranked = timed("rank", lambda: admitted_counts(rank(fresh)))
    out["politeness.admitted"], out["politeness.deferred"] = ranked
    via_bloom = pipeline(lambda c: dedupe_against_seen(c, seen, bloom))
    via_cuckoo = pipeline(lambda c: dedupe_against_seen_cuckoo(c, seen, cuckoo))
    out["checks"] = {
        "frontier_paths_agree": exact == ranked == via_bloom == via_cuckoo and exact[0] > 0,
    }
    return out
