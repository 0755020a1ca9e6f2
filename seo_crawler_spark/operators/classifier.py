"""Distributed quality-classifier training + inference filtering.

The discriminative half of model-based corpus curation: CCNet (Wenzek
et al. 2020) and the LLaMA/DCLM data pipelines train a fastText-style
LINEAR classifier ("does this page look like the target distribution?")
and keep/downsample documents by its score. The shipped generative half
is textstats.lm_perplexity_buckets; this module adds the trained
classifier — full-batch logistic regression over hashing-trick
bag-of-words features, run AS A SPARK JOB, then deployed as a
zero-shuffle scoring filter.

Label: ``y = (lang = 'en')`` — the "target language/domain vs rest"
framing CCNet uses (their positive class is Wikipedia text). On the
synthetic corpus the signal is weak (per-lang token rates differ only
mildly), which is fine: the operator's gates are exact cross-engine
parity of the training trajectory and exact equality with a pure-python
reference; learning-on-separable-data is pinned by a dedicated test
corpus where accuracy must reach 1.0.

Spark shape per GD iteration (ITERS total, on a once-checkpointed
feature table carrying its doc meta inline — see _feats_meta_joined):

* score: feats ⋈ broadcast(weights) on feature id — weights are a
  D-row DataFrame, NOT expression-tree literals, so the same plan
  serves D = 2^20 production hashing dims (the r3 lesson from the
  semdedup centroid literals) — then the per-doc logit as ONE window
  sum over a hash(doc_id) shuffle of the narrow feature rows;
* residual: row-local sigmoid, quantized to the ERR_SCALE integer grid;
* gradient: ONE map-side-combined per-feature integer sum in the same
  pass → a D-row driver collect (the per-iteration driver constant
  every distributed GD trainer ends an iteration with — same pattern
  as kmeans_quantizer's centroid collect). The round-5 shape re-joined
  feats↔meta and feats↔residuals every iteration; round 6 fused both
  joins away (guide §2.4), leaving one narrow shuffle per iteration;
* update: driver-side integer arithmetic on the D weights.

At 10^10 documents full-batch GD becomes mini-batch by standard
practice: a hash-mod filter (sampling.stratified_sample is the shipped
mechanism) slots in front of the per-iteration scoring pass; nothing
else changes. The gradient sum is int64: |Σ ierr·c| ≤ 1e6 · corpus
tokens, so the int64 path holds to ~9e12 tokens per batch — beyond
that the mini-batch sampler is doing its job anyway.

Cross-engine determinism (the house fixed-point discipline, cf.
simsearch.DOT_SCALE / textstats.LM_LOG_SCALE): weights live on a 1e-6
integer grid (iw = w·W_SCALE), per-doc logits are INTEGER dot products
iz = Σ c·iw (order-independent across partitionings), the logit double
iz/(W_SCALE·n_tok) is the same single division in both engines
(bit-identical), and residuals are floored onto the ERR_SCALE grid
before the gradient sum. The only transcendental is exp() inside the
sigmoid; Java Math.exp and DuckDB's libm exp agree to ~1 ulp, so a
residual can flip its 1e-6 grid cell only within ~1e-10 of a boundary
— the same accepted risk class as lm_perplexity_buckets' log2. The
iteration-1 residuals are EXACT (w0 = 0 ⇒ σ = 0.5 exactly).

Reference: the reference crawler has no trained filter — its quality
gates are rule-based (issue_detector.py) — so this operator is part of
the beyond-reference LLM-pipeline suite, not a parity port.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import MD5INT_SQL, TOKENS_SQL, md5int, tokens
from ..sources.tables import load


def _wdf(spark: SparkSession, iw: list[int]) -> DataFrame:
    """The D-row weight table as a DataFrame. Built through the
    arrow/pandas path: a list-of-tuples createDataFrame round-trips
    through an RDD, so broadcasting it costs a (driver-latency) job
    per GD iteration; the arrow path yields a LocalRelation the
    broadcast build reads directly (measured 0.8 s/iter → 0.44 s/iter
    at sf0.1). Same rows, same schema — at 2^20 production dims the
    weights stay a DataFrame either way (never plan literals)."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"j": range(len(iw)), "iw": iw}),
        "j long, iw long",
    )

HASH_DIM = 64  # hashing-trick feature dim (2^20 in production; see above)
GD_ITERS = 6
ERR_SCALE = 1_000_000  # residual fixed-point grid
W_SCALE = 1_000_000  # weight fixed-point grid
# plain 1/N learning rate: update = floor(G_j / N) with G_j on the
# ERR_SCALE grid and weights on the W_SCALE grid (the scales cancel)
POSITIVE_LANG = "en"


def _feats_meta_joined(docs: DataFrame) -> DataFrame:
    """(doc_id, j, c, n_tok, y): the hashed features WITH their doc's
    meta columns inlined, hash-partitioned by doc_id and checkpointed.

    Round-6 restructure (guide §2.3/§2.4 — fuse the two feature passes,
    then shuffle narrow rows once per iteration instead of running two
    corpus joins): the old shape checkpointed feats and meta separately
    and each GD iteration re-joined them (broadcast-weight join →
    groupBy(doc_id) exchange → meta equi-join → gradient equi-join →
    groupBy(j) exchange). With n_tok/y inlined on the feature rows the
    iteration becomes: broadcast-weight join → ONE hash(doc_id)
    exchange + window sum for the per-doc logit → row-local residual →
    map-side gradient agg → D-row exchange. Both per-iteration joins
    are gone; the only corpus-scale movement left is one narrow
    (doc_id, j, c, n_tok, y) shuffle. The per-doc values are the same
    integer sums, so the trajectory is bit-identical.

    n_tok/y come from a window over the doc_id partitioning rather than
    a meta join: y is constant per doc (max over equal values), n_tok
    the same integer count the meta aggregate produced."""
    from pyspark.sql import Window

    tokd = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens(F.col("text"))).alias("t"),
    )
    per_jc = tokd.groupBy(
        "doc_id", (md5int(F.col("t")) % HASH_DIM).alias("j")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.max(
            F.when(F.col("lang") == POSITIVE_LANG, F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("yj"),
    )
    wd = Window.partitionBy("doc_id")
    return (
        per_jc.repartition("doc_id")
        .select(
            "doc_id",
            "j",
            "c",
            F.sum("c").over(wd).alias("n_tok"),
            F.max("yj").over(wd).alias("y"),
        )
        # plain localCheckpoint: bounded loop (GD_ITERS), so inherited
        # stats cannot compound; the blocks are re-read 7× (6 GD rounds
        # + the scoring pass) without re-tokenizing
        .localCheckpoint(eager=True)
    )


def _iter_ierr() -> F.Column:
    """The per-row residual expression over (iz, n_tok, y) — identical
    double ops to the SQL twin (same numerator int, same denominator)."""
    return (
        F.floor(
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(
                            F.col("iz")
                            / (F.lit(float(W_SCALE)) * F.col("n_tok"))
                        )
                    )
                )
                - F.col("y")
            )
            * ERR_SCALE
        )
        .cast("long")
        .alias("ierr")
    )


def _train_on(
    spark: SparkSession, feats_m: DataFrame, n_docs: int,
    iters: int = GD_ITERS,
) -> list[int]:
    """Run `iters` full-batch GD steps over a prebuilt feature table;
    return the D final int weights. Each iteration is ONE job: scan the
    checkpointed partitioned features, broadcast-join the weight table,
    per-doc logit via a window sum (no exchange), row-local residual,
    map-side gradient agg, D-row collect."""
    from pyspark.sql import Window

    wd = Window.partitionBy("doc_id")
    iw = [0] * HASH_DIM
    for _ in range(iters):
        wdf = _wdf(spark, iw)
        grads = (
            feats_m.join(F.broadcast(wdf), "j")
            .withColumn("iz", F.sum(F.col("c") * F.col("iw")).over(wd))
            .withColumn("ierr", _iter_ierr())
            .groupBy("j")
            .agg(F.sum(F.col("ierr") * F.col("c")).alias("g"))
            .collect()  # D rows — the per-iteration driver constant
        )
        gmap = {r["j"]: r["g"] for r in grads}
        # python float division == the oracle's g::DOUBLE / nn — both
        # IEEE doubles from the same exact int64 inputs, then floor
        iw = [
            iw[j] - math.floor(gmap.get(j, 0) / n_docs)
            for j in range(HASH_DIM)
        ]
    return iw


def _train(
    spark: SparkSession, docs: DataFrame, iters: int = GD_ITERS
) -> list[int]:
    """Run `iters` full-batch GD steps; return the D final int weights."""
    feats_m = _feats_meta_joined(docs)
    # distinct over doc_id-partitioned data: no exchange, one scan
    n_docs = feats_m.select("doc_id").distinct().count()
    return _train_on(spark, feats_m, n_docs, iters)


def quality_classifier_train(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train the quality classifier; return the final weight table
    (j, iw, weight) — D rows, deterministic across partitionings (every
    sum an integer sum; pinned by test_classifier.py's repartition and
    pure-python-reference-equality tests)."""
    iw = _train(spark, load(spark, "documents", sf_dir))
    return (
        _wdf(spark, iw)
        .select(
            "j",
            "iw",
            (F.col("iw") / F.lit(float(W_SCALE))).alias("weight"),
        )
        .orderBy("j")
    )


def quality_classifier_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deploy the trained classifier as a corpus filter: per-doc integer
    logit iz = Σ c·iw, normalized logit iz/(W_SCALE·n_tok), and the keep
    verdict pred = (iz ≥ 0) — the decision threshold σ(z) ≥ 0.5 stated
    on the INTEGER side so the verdict is exact in both engines.

    Scoring is the training loop's forward pass: one broadcast join of
    the (driver-constant) weight table + one map-side per-doc sum —
    zero extra shuffle at 10^10 docs beyond the per-doc collapse.
    Zero-token docs keep a row (null logit/pred), like
    lm_perplexity_buckets."""
    docs = load(spark, "documents", sf_dir)
    feats_m = _feats_meta_joined(docs)
    n_docs = feats_m.select("doc_id").distinct().count()
    iw = _train_on(spark, feats_m, n_docs)
    wdf = _wdf(spark, iw)
    # forward pass over the SAME checkpointed partitioned features the
    # trainer used (no re-tokenize): groupBy(doc_id) needs no exchange
    scored = (
        feats_m.join(F.broadcast(wdf), "j")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("iw")).alias("iz"),
            F.first("n_tok").alias("n_tok"),
            F.first("y").alias("y"),
        )
        .select("doc_id", "n_tok", "y", "iz")
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tok", F.lit(0).cast("long")).alias("n_tok"),
            "y",
            "iz",
            (F.col("iz") / (F.lit(float(W_SCALE)) * F.col("n_tok"))).alias(
                "logit"
            ),
            F.when(F.col("iz").isNull(), F.lit(None).cast("long"))
            .otherwise((F.col("iz") >= 0).cast("long"))
            .alias("pred"),
        )
        .orderBy("doc_id")
    )


def _train_ctes(iters: int) -> str:
    """The shared CTE chain: features + `iters` unrolled GD steps,
    ending in weight table w{iters} — one CTE triple per iteration
    (score → residual → gradient/update), the bpe_merges oracle
    pattern."""
    tok = TOKENS_SQL.format(c="text")
    h = MD5INT_SQL.format(c="t")
    steps = []
    prev = "w0"
    for i in range(1, iters + 1):
        steps.append(
            f"""z{i} AS (
  SELECT f.doc_id, sum(f.c * w.iw)::BIGINT AS iz
  FROM feats f JOIN {prev} w USING (j) GROUP BY 1),
e{i} AS (
  SELECT m.doc_id,
         floor((1.0 / (1.0 + exp(-(coalesce(z.iz, 0)
                / ({W_SCALE}.0 * m.n_tok)))) - m.y) * {ERR_SCALE})::BIGINT
           AS ierr
  FROM meta m LEFT JOIN z{i} z USING (doc_id)),
g{i} AS (
  SELECT f.j, sum(e.ierr * f.c)::BIGINT AS g
  FROM feats f JOIN e{i} e USING (doc_id) GROUP BY 1),
w{i} AS MATERIALIZED (
  SELECT w.j, (w.iw - floor(coalesce(g.g, 0)::DOUBLE / n.nn))::BIGINT AS iw
  FROM {prev} w LEFT JOIN g{i} g USING (j), n)"""
        )
        prev = f"w{i}"
    return f"""tokd AS MATERIALIZED (
  SELECT doc_id, lang, unnest({tok}) AS t FROM documents),
feats AS MATERIALIZED (
  SELECT doc_id, ({h} % {HASH_DIM}) AS j, count(*) AS c
  FROM tokd GROUP BY 1, 2),
meta AS MATERIALIZED (
  SELECT doc_id, count(*) AS n_tok,
         max(CASE WHEN lang = '{POSITIVE_LANG}' THEN 1 ELSE 0 END)::BIGINT
           AS y
  FROM tokd GROUP BY doc_id),
n AS (SELECT count(*) AS nn FROM meta),
w0 AS (SELECT j::BIGINT AS j, 0::BIGINT AS iw FROM range(0, {HASH_DIM}) r(j)),
{', '.join(steps)}"""


def quality_classifier_train_sql(iters: int = GD_ITERS) -> str:
    return f"""
WITH {_train_ctes(iters)}
SELECT j, iw, iw / {W_SCALE}.0 AS weight FROM w{iters} ORDER BY j
"""


def quality_classifier_filter_sql(iters: int = GD_ITERS) -> str:
    return f"""
WITH {_train_ctes(iters)},
zf AS (
  SELECT f.doc_id, sum(f.c * w.iw)::BIGINT AS iz
  FROM feats f JOIN w{iters} w USING (j) GROUP BY 1),
scored AS (
  SELECT m.doc_id, m.n_tok, m.y, coalesce(z.iz, 0) AS iz
  FROM meta m LEFT JOIN zf z USING (doc_id))
SELECT d.doc_id,
       coalesce(s.n_tok, 0) AS n_tok,
       s.y,
       s.iz,
       s.iz / ({W_SCALE}.0 * s.n_tok) AS logit,
       CASE WHEN s.iz IS NULL THEN NULL
            ELSE (s.iz >= 0)::BIGINT END AS pred
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# classifier evaluation: keep-fraction PR sweep + ties-aware AUC
# ---------------------------------------------------------------------------

PR_KEEP_PCTS = [10, 20, 30, 40, 50, 60, 70, 80, 90]


def classifier_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the trained quality classifier the way a curation run
    is actually tuned: a keep-fraction sweep (precision / recall / F1
    of keeping the top p% of docs by score, p = 10..90) plus the
    ranking AUC — the two numbers a pipeline owner reads before picking
    the keep threshold (DCLM and FineWeb-Edu both publish exactly this
    pair for their quality filters).

    Plan shape: the forward scoring pass of quality_classifier_filter
    (broadcast weight join + per-doc integer sum), then ONE two-phase
    global rank (ordering.ordered_seq_counted — range shuffle +
    per-partition windows, NO single-reducer sort) serves both halves:

    * AUC by the ties-aware Mann-Whitney identity, kept in integers:
      per distinct logit value, 2·midrank = 2·min_rank + cnt − 1, so
      S2 = Σ_pos (2·midrank) is an integer aggregate and
      AUC = (S2 − P(P+1)) / (2·P·Q) is ONE double division from exact
      int64 inputs — no float accumulation anywhere;
    * the PR sweep replays the rank against the 9 literal cutoffs
      (explode + filter + one map-side agg; descending rank is
      n + 1 − rn, ties broken doc_id-desc — same rule both engines).

    Eval is a diagnostic over a labeled holdout (here: the corpus with
    its weak lang labels), so corpus-scale is the scored table, and the
    only global structure is the two-phase rank. Zero-token docs have
    no score and are excluded, as in quality_classifier_filter's null
    rows. All ratio columns are single divisions of identical integers
    (the house cross-engine rule); F1 guards tp = 0 explicitly because
    0/0 diverges between engines (Spark null vs DuckDB NaN)."""
    from .ordering import ordered_seq_counted

    docs = load(spark, "documents", sf_dir)
    feats_m = _feats_meta_joined(docs)
    n_docs = feats_m.select("doc_id").distinct().count()
    iw = _train_on(spark, feats_m, n_docs)
    wdf = _wdf(spark, iw)
    # forward pass over the trainer's checkpointed partitioned features
    # (no re-tokenize; groupBy(doc_id) needs no exchange)
    scored = (
        feats_m.join(F.broadcast(wdf), "j")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("iw")).alias("iz"),
            F.first("n_tok").alias("n_tok"),
            F.first("y").alias("y"),
        )
        .select(
            "doc_id",
            "y",
            (
                F.col("iz") / (F.lit(float(W_SCALE)) * F.col("n_tok"))
            ).alias("logit"),
        )
    )
    ranked, n = ordered_seq_counted(scored, ["logit", "doc_id"], seq_col="rn0")

    grp = ranked.groupBy("logit").agg(
        F.min("rn0").alias("m0"),
        F.count(F.lit(1)).alias("cnt"),
        F.sum("y").alias("p"),
    )
    row = grp.agg(
        F.sum(
            F.col("p") * (2 * (F.col("m0") + 1) + F.col("cnt") - 1)
        ).alias("s2"),
        F.sum("p").alias("pp"),
    ).collect()[0]
    pos = int(row["pp"])
    neg = n - pos
    s2 = int(row["s2"])
    auc = (s2 - pos * (pos + 1)) / (2.0 * pos * neg)

    prec = F.col("tp") / F.col("n_kept")
    rec = F.col("tp") / F.lit(pos)
    return (
        ranked.select("y", (F.lit(n) - F.col("rn0")).alias("rnd"))
        .withColumn(
            "keep_pct",
            F.explode(F.array(*[F.lit(p) for p in PR_KEEP_PCTS])),
        )
        .withColumn("n_kept", F.expr(f"(cast({n} as bigint) * keep_pct) div 100"))
        .filter(F.col("rnd") <= F.col("n_kept"))
        .groupBy("keep_pct", "n_kept")
        .agg(F.sum("y").alias("tp"))
        .select(
            "keep_pct",
            "n_kept",
            "tp",
            prec.alias("precision"),
            rec.alias("recall"),
            F.when(
                F.col("tp") > 0,
                F.lit(2.0) * prec * rec / (prec + rec),
            )
            .otherwise(F.lit(0.0))
            .alias("f1"),
            F.lit(auc).alias("auc"),
        )
        .orderBy("keep_pct")
    )


def classifier_pr_auc_sql(iters: int = GD_ITERS) -> str:
    pcts = ", ".join(f"({p})" for p in PR_KEEP_PCTS)
    return f"""
WITH {_train_ctes(iters)},
zf AS (
  SELECT f.doc_id, sum(f.c * w.iw)::BIGINT AS iz
  FROM feats f JOIN w{iters} w USING (j) GROUP BY 1),
scored AS (
  SELECT m.doc_id, m.y,
         coalesce(z.iz, 0) / ({W_SCALE}.0 * m.n_tok) AS logit
  FROM meta m LEFT JOIN zf z USING (doc_id)),
ranked AS MATERIALIZED (
  SELECT doc_id, y, logit,
         row_number() OVER (ORDER BY logit, doc_id) AS rn
  FROM scored),
grp AS (
  SELECT logit, min(rn) AS m, count(*) AS cnt, sum(y)::BIGINT AS p
  FROM ranked GROUP BY logit),
tot AS (
  SELECT sum(p * (2 * m + cnt - 1))::BIGINT AS s2,
         sum(p)::BIGINT AS pos,
         (SELECT count(*) FROM ranked) - sum(p)::BIGINT AS neg,
         (SELECT count(*) FROM ranked) AS n
  FROM grp),
sweep AS (
  SELECT r.y,
         tot.n + 1 - r.rn AS rnd,
         k.keep_pct,
         (tot.n * k.keep_pct) // 100 AS n_kept
  FROM ranked r
  CROSS JOIN tot
  CROSS JOIN (SELECT unnest([{", ".join(str(p) for p in PR_KEEP_PCTS)}]) AS keep_pct) k),
pr AS (
  SELECT keep_pct, n_kept, sum(y)::BIGINT AS tp
  FROM sweep WHERE rnd <= n_kept GROUP BY keep_pct, n_kept)
SELECT pr.keep_pct, pr.n_kept, pr.tp,
       pr.tp / pr.n_kept AS precision,
       pr.tp / tot.pos AS recall,
       CASE WHEN pr.tp > 0
            THEN 2.0 * (pr.tp / pr.n_kept) * (pr.tp / tot.pos)
                 / ((pr.tp / pr.n_kept) + (pr.tp / tot.pos))
            ELSE 0.0 END AS f1,
       (tot.s2 - tot.pos * (tot.pos + 1)) / (2.0 * tot.pos * tot.neg) AS auc
FROM pr, tot
ORDER BY keep_pct
"""
