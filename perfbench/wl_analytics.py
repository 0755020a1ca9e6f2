"""``analytics``: registered queries over generated documents/events tables.

The graph queries are iteration-bound (many small jobs; driver and
scheduling time dominate); the controls are executor-bound. A change to
the iteration kernel should move the first group and leave the second.
On 5000 generated docs and a 4-CPU host, the share of a query's wall
time with no task running was 0.66 for ``pagerank`` and 0.57 for
``kcore_decomposition`` against 0.36 for ``inverted_index`` and 0.38 for
``tfidf_top_terms`` (``results/analytics-trace-seed1.json``). At 1000
docs the split did not hold (``inverted_index`` 0.49,
``redirect_chains`` 0.79): every query there was driver-bound.

The tables have the schema and value distribution of the repository's
sf test tables (``documents``: doc_id, text over a 31-word vocabulary
with a few near-duplicates, lang, source, n_chars; ``events``) and are
generated from the seed, so the run reads nothing outside the checkout.
Each query's result is checked against its ``oracle_sql()`` twin in
DuckDB over the same files.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import shutil
import time

import numpy as np

from . import harness as H

GRAPH = ("pagerank", "kcore_decomposition")
CONTROLS = ("inverted_index", "tfidf_top_terms")
QUERIES = GRAPH + CONTROLS

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
_EVENT_TYPES = ("view", "click", "signup", "purchase", "error")


def generate_tables(data_dir: str, n_docs: int, seed: int) -> None:
    """Write ``documents.parquet`` (``n_docs`` rows) and ``events.parquet``
    (10 per doc) under ``data_dir``, a pure function of ``seed``. About 1%
    of docs copy an earlier doc's text plus a trailing "dup" token, so the
    dedup queries find pairs; event user ids cover the first 30% of doc
    ids, as in the sf test tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(_VOCAB), size=int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + n]))
        pos += n
    for i in rng.choice(np.arange(1, n_docs), size=max(1, n_docs // 100), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = rng.choice(len(_LANGS), size=n_docs, p=_LANG_P)
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[k] for k in langs], pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n_events = 10 * n_docs
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, size=n_events)) + start_us
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n_docs * 3 // 10), size=n_events), pa.int64()),
            "event_type": pa.array(
                [_EVENT_TYPES[k] for k in rng.integers(0, len(_EVENT_TYPES), size=n_events)],
                pa.string(),
            ),
            "value": pa.array(np.round(rng.exponential(50.0, size=n_events), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)], pa.string()),
        }
    )
    os.makedirs(data_dir, exist_ok=True)
    pq.write_table(documents, os.path.join(data_dir, "documents.parquet"))
    pq.write_table(events, os.path.join(data_dir, "events.parquet"))


def _norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash over columns sorted by name."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    head = ",".join(cols[i] for i in order)
    return hashlib.md5((head + "\n" + "\n".join(lines)).encode()).hexdigest()


def oracle_hashes(data_dir: str, names) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for table in ("documents", "events"):
            path = os.path.join(data_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            tbl = con.execute(sql[name]).fetch_arrow_table()
            cols = [f.name for f in tbl.schema]
            rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
            out[name] = value_hash(cols, rows)
        return out
    finally:
        con.close()


class Analytics(H.Workload):
    """Closed loop over the queries in a fixed rotation; one operation is
    one query run to completion (collected) and checked."""

    name = "analytics"
    n_docs = 5000
    trace_min_ops = 2 * len(QUERIES)

    def __init__(self, seed: int):
        self.seed = seed
        self.data_dir = os.path.join(H.WORK_DIR, "analytics", f"seed{seed}")
        self.queries = None
        self.tracer = None
        self._next = 0

    def sizes(self) -> dict:
        return {"documents": self.n_docs, "events": 10 * self.n_docs, "queries": len(QUERIES)}

    def setup(self, spark) -> None:
        """Generate the tables and look up the registered queries."""
        import __spark_entry__ as entry

        generate_tables(self.data_dir, self.n_docs, self.seed)
        qs = entry.queries()
        self.queries = {n: qs[n] for n in QUERIES}

    def warmup(self, spark) -> None:
        """One untimed pass over the queries: a query's first run in a JVM
        pays for compiling its plans (measured: 1.5-2x its steady time)."""
        for name in QUERIES:
            H.noop_write(self.queries[name](spark, self.data_dir))

    def expected(self, spark) -> dict[str, str]:
        return oracle_hashes(self.data_dir, QUERIES)

    def op(self, spark, expected) -> dict:
        name = QUERIES[self._next % len(QUERIES)]
        self._next += 1
        span = self.tracer.span(name) if self.tracer else contextlib.nullcontext()
        t0 = time.perf_counter()
        with span:
            df = self.queries[name](spark, self.data_dir)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
        wall = time.perf_counter() - t0
        return {"query": name, "wall_s": wall, "correct": value_hash(cols, rows) == expected[name]}

    def cleanup(self) -> None:
        shutil.rmtree(self.data_dir, ignore_errors=True)

    def complete(self, attempted: int) -> bool:
        """Whole passes only, so every query has the same sample count."""
        return attempted > 0 and attempted % len(QUERIES) == 0

    @staticmethod
    def per_query(ops) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for op in ops:
            by.setdefault(op["query"], []).append(op["wall_s"])
        return {q: H.median(v) for q, v in by.items()}

    def summarize(self, ops) -> dict:
        per = self.per_query(ops)
        suite = sum(per.values())
        return {
            "analytics_suite_s": suite,
            "graph_s": sum(per[q] for q in GRAPH),
            "controls_s": sum(per[q] for q in CONTROLS),
            "query_s": per,
            "throughput_per_s": len(per) / suite,
            "step_s_p50": H.median(list(per.values())),
        }

    def patch_layers(self, tracer) -> None:
        self.tracer = tracer

    def trace_layers(self, spark, tracer, ops) -> dict:
        self.tracer = None
        per = self.per_query(ops)
        out = {f"q.{q}_s": s for q, s in per.items()}
        out["graph.total_s"] = sum(per[q] for q in GRAPH)
        return out

    def from_event_log(self, rows, layers) -> dict:
        out = {}
        for q in QUERIES:
            r = rows[f"{self.name}/op/{q}"]
            out[f"q.{q}.jobs"] = r["jobs"]
            out[f"q.{q}.no_task_frac"] = r["no_task_frac"]
        out["graph.jobs"] = sum(out[f"q.{q}.jobs"] for q in GRAPH)
        return out
