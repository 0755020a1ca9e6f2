"""Export sinks — CSV scalarization / JSON envelope / XML rows.

Reference semantics: main.py:264-318 (CSV per-field scalarization),
:321-341 (JSON keeps nesting + envelope), :344-358 (XML flat
stringification), :361-393 (links CSV), :431-477 (issues JSON grouped
by URL). All scalarization is column expressions; the writers are
Spark's distributed csv/json/text sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fields whose CSV form is a scalarization of a nested value
_DEFAULT_FIELDS = [
    "url", "status_code", "title", "meta_description", "h1", "h2", "h3",
    "word_count", "internal_links", "external_links", "images",
    "og_tags", "twitter_tags", "json_ld", "analytics", "canonical_url",
    "lang", "response_time", "size", "depth",
]


def _csv_scalarize(pages: DataFrame, fields: list[str]) -> DataFrame:
    """Reference CSV scalarization rules (main.py:275-314), as exprs."""
    cols = []
    for f in fields:
        if f == "analytics":
            a = F.col("analytics")
            parts = F.array(
                F.when(a["gtag"] | (a["ga4_id"] != ""), F.lit("GA4")),
                F.when(a["google_analytics"], F.lit("GA")),
                F.when(a["gtm_id"] != "", F.lit("GTM")),
                F.when(a["facebook_pixel"], F.lit("FB")),
                F.when(a["hotjar"], F.lit("HJ")),
                F.when(a["mixpanel"], F.lit("MP")),
            )
            cols.append(
                F.array_join(F.filter(parts, lambda x: x.isNotNull()), ", ").alias(f)
            )
        elif f in ("og_tags", "twitter_tags"):
            n = F.size(F.map_keys(F.col(f)))
            cols.append(
                F.when(n > 0, F.concat(n.cast("string"), F.lit(" tags")))
                .otherwise(F.lit("")).alias(f)
            )
        elif f == "json_ld":
            n = F.size(F.col(f))
            cols.append(
                F.when(n > 0, F.concat(n.cast("string"), F.lit(" scripts")))
                .otherwise(F.lit("")).alias(f)
            )
        elif f == "images":
            n = F.size(F.col(f))
            cols.append(
                F.when(n > 0, F.concat(n.cast("string"), F.lit(" images")))
                .otherwise(F.lit("")).alias(f)
            )
        elif f == "internal_links":
            cols.append(
                F.concat(F.coalesce(F.col(f), F.lit(0)).cast("string"),
                         F.lit(" internal links")).alias(f)
            )
        elif f == "external_links":
            cols.append(
                F.concat(F.coalesce(F.col(f), F.lit(0)).cast("string"),
                         F.lit(" external links")).alias(f)
            )
        elif f in ("h2", "h3"):
            first3 = F.array_join(F.slice(F.col(f), 1, 3), ", ")
            cols.append(
                F.when(F.size(F.col(f)) > 3, F.concat(first3, F.lit("...")))
                .otherwise(first3).alias(f)
            )
        else:
            cols.append(F.col(f).cast("string").alias(f))
    return pages.select(*cols)


def export_pages_csv(pages: DataFrame, path: str, fields: list[str] | None = None) -> None:
    df = _csv_scalarize(pages, fields or _DEFAULT_FIELDS)
    df.write.mode("overwrite").option("header", "true").csv(path)


def export_pages_json(pages: DataFrame, path: str, fields: list[str] | None = None) -> None:
    """Nested values kept intact (main.py:321-341); envelope metadata
    lives in the manifest sidecar, not per-line (JSONL at scale)."""
    fields = fields or _DEFAULT_FIELDS
    pages.select(*fields).write.mode("overwrite").json(path)


def pages_json_envelope(
    pages: DataFrame, export_date: str, fields: list[str] | None = None
) -> DataFrame:
    """Reference JSON envelope (main.py:322-341):
    ``{export_date, total_urls, fields, data}`` as ONE json document row.

    Small-export path (UI download parity) — the envelope requires a
    global count + materialized list, so it funnels through one reducer
    by construction; the scale sink stays :func:`export_pages_json`.
    ``export_date`` is passed in — the engine holds no wall clock."""
    fields = fields or _DEFAULT_FIELDS
    rows = pages.select(F.struct(*fields).alias("u"), F.col("seq"))
    return (
        rows.agg(
            F.count(F.lit(1)).alias("total_urls"),
            # crawl order, as the reference iterates its url list.
            # comparator form: the default struct ordering cannot sort
            # structs containing map columns (og/twitter tags in the
            # default field list) — only seq matters anyway
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("seq", "u")),
                    lambda s1, s2: F.when(s1["seq"] < s2["seq"], -1)
                    .when(s1["seq"] > s2["seq"], 1)
                    .otherwise(0),
                ),
                lambda s: s["u"],
            ).alias("data"),
        )
        .select(
            F.to_json(
                F.struct(
                    F.lit(export_date).alias("export_date"),
                    F.col("total_urls"),
                    F.array(*[F.lit(f) for f in fields]).alias("fields"),
                    F.col("data"),
                )
            ).alias("value")
        )
    )


def _xml_escape(c):
    """Element-content escaping exactly as ElementTree does for text
    nodes (& first, then angle brackets) — the reference exporter goes
    through ET.tostring (main.py:344-358), so unescaped '&'/'<' would
    produce malformed XML here."""
    c = F.regexp_replace(c, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    return F.regexp_replace(c, ">", "&gt;")


def _xml_escape_attr(c):
    """Attribute-value escaping: element escaping PLUS double quotes
    (ElementTree escapes quotes inside attributes; an unescaped '\"'
    would terminate the attribute early)."""
    return F.regexp_replace(_xml_escape(c), '"', "&quot;")


def pages_xml_envelope(
    pages: DataFrame, export_date: str, fields: list[str] | None = None
) -> DataFrame:
    """Reference XML shape (main.py:344-358): single
    ``<librecrawl_export export_date total_urls>`` root wrapping
    ``<urls><url>…`` rows, field text escaped like ElementTree. One
    document row (small-export path, like the JSON envelope)."""
    fields = fields or _DEFAULT_FIELDS
    parts = [F.lit("<url>")]
    for f in fields:
        parts += [
            F.lit(f"<{f}>"),
            _xml_escape(F.coalesce(F.col(f).cast("string"), F.lit(""))),
            F.lit(f"</{f}>"),
        ]
    parts.append(F.lit("</url>"))
    rows = pages.select(F.concat(*parts).alias("x"), F.col("seq"))
    return rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "x"))), lambda s: s["x"]
            ),
            "",
        ).alias("body"),
    ).select(
        F.concat(
            F.lit('<librecrawl_export export_date="'),
            _xml_escape_attr(F.lit(export_date)),
            F.lit('" total_urls="'),
            F.col("n").cast("string"),
            F.lit('"><urls>'),
            F.col("body"),
            F.lit("</urls></librecrawl_export>"),
        ).alias("value")
    )


def export_pages_xml(
    pages: DataFrame,
    path: str,
    fields: list[str] | None = None,
    export_date: str = "",
) -> None:
    pages_xml_envelope(pages, export_date, fields).coalesce(1).write.mode(
        "overwrite"
    ).text(path)


def links_csv_projection(links: DataFrame) -> DataFrame:
    """Fixed columns with the reference's value mapping
    (main.py:361-393): is_internal → Yes/No, missing target_status →
    'Not crawled', missing placement → 'body'."""
    return links.select(
        "source_url",
        "target_url",
        F.coalesce(F.col("anchor_text"), F.lit("")).alias("anchor_text"),
        F.when(F.col("is_internal"), F.lit("Yes")).otherwise(F.lit("No")).alias(
            "is_internal"
        ),
        F.coalesce(F.col("target_domain"), F.lit("")).alias("target_domain"),
        F.coalesce(F.col("target_status").cast("string"), F.lit("Not crawled")).alias(
            "target_status"
        ),
        F.coalesce(F.col("placement"), F.lit("body")).alias("placement"),
    )


def export_links_csv(links: DataFrame, path: str) -> None:
    links_csv_projection(links).write.mode("overwrite").option(
        "header", "true"
    ).csv(path)


def issues_grouped_json(issues: DataFrame) -> DataFrame:
    """Issues grouped per URL (main.py:451-477 JSON export shape)."""
    return issues.groupBy("url").agg(
        F.collect_list(
            F.struct("type", "category", "issue", "details")
        ).alias("issues"),
        F.count(F.lit(1)).alias("issue_count"),
    )


def status_feed(df: DataFrame, since: int) -> DataFrame:
    """Incremental status feed: the reference slices in-memory arrays by
    client offsets (main.py:790-796); with a monotonic ``seq`` column the
    same contract is a predicate-pushed filter."""
    return df.filter(F.col("seq") > since)


def visualization_projection(pages: DataFrame, links: DataFrame, node_cap: int = 500):
    """Graph viz projection (main.py:826-890): first ``node_cap`` pages in
    crawl order become nodes; internal edges with both endpoints
    materialized, deduped."""
    # barrier: nodes feeds itself plus BOTH edge-endpoint joins — without
    # it the global orderBy+limit sort runs three times per call
    nodes = (
        pages.orderBy("seq")
        .limit(node_cap)
        .select(
            F.col("url"),
            F.col("seq").alias("node_id"),
            "status_code", "title", "depth",
        )
        .localCheckpoint(eager=True)
    )
    n1 = nodes.select(F.col("url").alias("__src"), F.col("node_id").alias("source_id"))
    n2 = nodes.select(F.col("url").alias("__dst"), F.col("node_id").alias("target_id"))
    edges = (
        links.filter(F.col("is_internal"))
        .join(n1, links.source_url == F.col("__src"))
        .join(n2, links.target_url == F.col("__dst"))
        .select("source_id", "target_id")
        .dropDuplicates(["source_id", "target_id"])
    )
    return nodes, edges
