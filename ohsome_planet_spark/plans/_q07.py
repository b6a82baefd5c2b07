"""Slice 7: crawl admission rows — robots.txt URL filter, bitext
mining margin and the crawl frontier. Star-imports the cumulative
namespace chain so these rows compose with every earlier helper;
``plans/queries.py`` re-exports the final namespace."""

from __future__ import annotations

from ._q06 import *  # noqa: F401,F403


def _fixture_robots_bodies(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Shared robots.txt fixture grid for the admission rows (host id
    column ``hid`` in, (host, robots) out)."""
    for pdf in batches:
        out_host, out_robots = [], []
        for hid in pdf["hid"]:
            h = int(hid)
            lines = [
                "# fixture robots for host %d" % h,
                "Sitemap: http://h%d.test/sitemap.xml" % h,
                "User-agent: *   # the catch-all group",
                "Disallow: /private/",
                "Allow: /private/ok/",
                "Crawl-delay: %d" % (h % 2 + 1),
            ]
            if h % 4 == 0:
                lines.append("Disallow: /*.bak$")
            if h % 4 == 1:
                lines += ["Disallow: /tmp/*", "Allow: /tmp/keep/"]
            if h % 3 == 0:
                lines += [
                    "",
                    "User-agent: TrainingBot",
                    "Disallow: /bot/",
                    "Allow: /",
                ]
            out_host.append("h%d.test" % h)
            out_robots.append("\n".join(lines) + "\n")
        yield pd.DataFrame({"host": out_host, "robots": out_robots})


_ROBOTS_ORACLE = """
WITH cfg AS (
  SELECT doc_id, doc_id % 40 AS h, doc_id % 6 AS p,
    'h' || CAST(doc_id % 40 AS VARCHAR) || '.test' AS host,
    CASE doc_id % 6
      WHEN 0 THEN '/private/ok/page' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/private/sec' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
      WHEN 3 THEN '/tmp/file' || CAST(doc_id AS VARCHAR) || '.bak'
      WHEN 4 THEN '/bot/x' || CAST(doc_id AS VARCHAR)
      ELSE '/tmp/keep/y' || CAST(doc_id AS VARCHAR)
    END AS path
  FROM documents
)
SELECT doc_id, host, path,
  CASE
    WHEN h % 3 = 0 THEN p <> 4
    WHEN p = 1 THEN false
    WHEN p = 3 AND h % 4 IN (0, 1) THEN false
    ELSE true
  END AS allowed,
  CASE
    WHEN h % 3 = 0 THEN CASE WHEN p = 4 THEN '/bot/' ELSE '/' END
    WHEN p = 0 THEN '/private/ok/'
    WHEN p = 1 THEN '/private/'
    WHEN p = 3 AND h % 4 = 0 THEN '/*.bak$'
    WHEN p = 3 AND h % 4 = 1 THEN '/tmp/*'
    WHEN p = 5 AND h % 4 = 1 THEN '/tmp/keep/'
    ELSE NULL
  END AS matched_pattern
FROM cfg ORDER BY doc_id
"""


@_register("robots_url_filter", _ROBOTS_ORACLE)
def robots_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 crawl admission end-to-end: 40 hosts carry fixture
    robots.txt bodies exercising group selection (every third host has
    a dedicated ``trainingbot`` group that OVERRIDES the ``*`` group
    entirely), longest-match precedence (``Allow: /private/ok/`` inside
    ``Disallow: /private/``), wildcards + end anchors (``/*.bak$``,
    ``/tmp/*`` vs ``Allow: /tmp/keep/``), comments, crawl-delay and
    sitemap lines. The rule table parses once per host and BROADCASTS;
    URL admission is one regexp pass + a map-side-combinable
    max(struct) — the oracle replays every decision AND the winning
    pattern, so a wrong group pick, tie-break or anchor translation
    flips a concrete row."""
    from ..operators.web import robots_filter, robots_rules

    docs = fan_out(_t(spark, sf_dir, "documents")).select("doc_id")
    d = F.col("doc_id")
    host = F.concat(F.lit("h"), (d % 40).cast("string"), F.lit(".test"))
    path = (
        F.when(d % 6 == 0, F.concat(F.lit("/private/ok/page"), d.cast("string")))
        .when(d % 6 == 1, F.concat(F.lit("/private/sec"), d.cast("string")))
        .when(d % 6 == 2, F.concat(F.lit("/public/p"), d.cast("string")))
        .when(d % 6 == 3, F.concat(F.lit("/tmp/file"), d.cast("string"), F.lit(".bak")))
        .when(d % 6 == 4, F.concat(F.lit("/bot/x"), d.cast("string")))
        .otherwise(F.concat(F.lit("/tmp/keep/y"), d.cast("string")))
    )
    urls = docs.select("doc_id", host.alias("host"), path.alias("path"))

    hosts = docs.select((d % 40).cast("int").alias("hid")).distinct()
    bodies = hosts.mapInPandas(
        _fixture_robots_bodies, "host string, robots string"
    )
    rules = robots_rules(bodies, "robots", agent="trainingbot")
    return (
        robots_filter(urls, rules)
        .select("doc_id", "host", "path", "allowed", "matched_pattern")
        .orderBy("doc_id")
    )


_BITEXT_ORACLE = """
WITH src AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0
), tgt AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1
), sims AS (
  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
    round(
      list_dot_product(s.embedding::DOUBLE[], t.embedding::DOUBLE[])
      / (sqrt(list_dot_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[]))
         * sqrt(list_dot_product(t.embedding::DOUBLE[],
                                 t.embedding::DOUBLE[]))), 6) AS cosine
  FROM src s, tgt t
), ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY src_id
                       ORDER BY cosine DESC, tgt_id) AS fwd_rank,
    row_number() OVER (PARTITION BY tgt_id
                       ORDER BY cosine DESC, src_id) AS bwd_rank
  FROM sims
), micro AS (
  -- integer micro-cosines make every average an exact integer sum:
  -- float summation order can never flip the hash
  SELECT *, CAST(round(cosine * 1000000) AS BIGINT) AS ci FROM ranked
), avgs_src AS (
  SELECT src_id, sum(ci) AS fwd_sum, count(*) AS nf FROM micro
  WHERE fwd_rank <= 4 GROUP BY src_id
), avgs_tgt AS (
  SELECT tgt_id, sum(ci) AS bwd_sum, count(*) AS nb FROM micro
  WHERE bwd_rank <= 4 GROUP BY tgt_id
)
SELECT r.src_id, r.tgt_id, r.cosine,
  round(2.0 * r.ci * a.nf * b.nb
        / (a.fwd_sum * b.nb + b.bwd_sum * a.nf), 6) AS margin
FROM micro r
JOIN avgs_src a USING (src_id)
JOIN avgs_tgt b USING (tgt_id)
WHERE r.fwd_rank = 1 AND r.bwd_rank = 1
  AND 2 * r.ci * a.nf * b.nb > a.fwd_sum * b.nb + b.bwd_sum * a.nf
ORDER BY r.src_id
"""


@_register("bitext_mining_margin", _BITEXT_ORACLE)
def bitext_mining_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER
    recipe): the embedding table splits into two 'languages' (even/odd
    ids), every cross pair scores by cosine, each side's k-NN average
    (k=4) forms the margin denominator, and mined pairs are the MUTUAL
    top-1 matches with ratio margin > 1 — the distance-based criterion
    that beats raw-cosine thresholds because hubness inflates both
    sides' averages. One broadcast cross score + two window ranks + two
    map-side-combinable averages; the documented 100 TB scale path
    swaps the exact score for the capped-LSH kNN (same margins on the
    survivors). The oracle replays score, ranks, averages and the
    mutual filter.

    Plan shape (r13): the N-squared sims subtree is evaluated ONCE. The
    k-NN sums ride the SAME window partitions as the ranks (a
    conditional sum over an unordered frame adds no exchange — guide
    §2.4), replacing the old two groupBy aggregates + two joins back
    onto the pair table, which re-evaluated the cross-cosine subtree
    per consumer. Per-side norms are computed once per vector before
    the cross join (same expression, same operation order — the cosine
    doubles are bit-identical), cutting the per-pair flops to the dot
    product alone."""
    from ..operators.similarity import dot_expr, norm_expr

    src = (
        fan_out(_t(spark, sf_dir, "embeddings"))
        .filter(F.col("vec_id") % 2 == 0)
        .select(F.col("vec_id").alias("src_id"),
                F.col("embedding").alias("src_vec"))
        .withColumn("src_n", norm_expr(F.col("src_vec").cast("array<double>")))
    )
    tgt = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 2 == 1)
        .select(F.col("vec_id").alias("tgt_id"),
                F.col("embedding").alias("tgt_vec"))
        .withColumn("tgt_n", norm_expr(F.col("tgt_vec").cast("array<double>")))
    )
    sims = src.join(F.broadcast(tgt)).select(
        "src_id",
        "tgt_id",
        F.round(
            dot_expr(
                F.col("src_vec").cast("array<double>"),
                F.col("tgt_vec").cast("array<double>"),
            )
            / (F.col("src_n") * F.col("tgt_n")),
            6,
        ).alias("cosine"),
    )
    wf = W.partitionBy("src_id").orderBy(F.desc("cosine"), F.col("tgt_id"))
    wb = W.partitionBy("tgt_id").orderBy(F.desc("cosine"), F.col("src_id"))
    wf_all = W.partitionBy("src_id")
    wb_all = W.partitionBy("tgt_id")
    # integer micro-cosines: every k-NN average becomes an exact integer
    # sum, so float summation order can never flip the hash
    fwd_ci = F.when(F.col("fwd_rank") <= 4, F.col("ci"))
    bwd_ci = F.when(F.col("bwd_rank") <= 4, F.col("ci"))
    micro = (
        sims.withColumn("ci", F.round(F.col("cosine") * 1_000_000).cast("bigint"))
        .withColumn("fwd_rank", F.row_number().over(wf))
        .withColumn("fwd_sum", F.sum(fwd_ci).over(wf_all))
        .withColumn("nf", F.count(fwd_ci).over(wf_all))
        .withColumn("bwd_rank", F.row_number().over(wb))
        .withColumn("bwd_sum", F.sum(bwd_ci).over(wb_all))
        .withColumn("nb", F.count(bwd_ci).over(wb_all))
    )
    denom = F.col("fwd_sum") * F.col("nb") + F.col("bwd_sum") * F.col("nf")
    margin = 2.0 * F.col("ci") * F.col("nf") * F.col("nb") / denom
    return staged_sort(
        micro.filter((F.col("fwd_rank") == 1) & (F.col("bwd_rank") == 1))
        .filter(2 * F.col("ci") * F.col("nf") * F.col("nb") > denom)
        .select(
            "src_id",
            "tgt_id",
            "cosine",
            F.round(margin, 6).alias("margin"),
        ),
        "src_id",
    )


_FRONTIER_ORACLE = """
WITH cfg AS (
  SELECT doc_id, doc_id % 40 AS h, doc_id % 6 AS p, doc_id AS d,
    'h' || CAST(doc_id % 40 AS VARCHAR) || '.test' AS host,
    CASE doc_id % 6
      WHEN 0 THEN '/private/ok/page' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/private/sec' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN '/public/p' || CAST(doc_id AS VARCHAR)
              || '?a=1&b=2'
      WHEN 3 THEN '/tmp/file' || CAST(doc_id AS VARCHAR) || '.bak'
      WHEN 4 THEN '/bot/x' || CAST(doc_id AS VARCHAR)
      ELSE '/tmp/keep/y' || CAST(doc_id AS VARCHAR)
    END AS path
  FROM documents
)
SELECT doc_id,
  CASE WHEN d % 7 = 3 THEN 'plain' ELSE 'urlset' END AS kind,
  'http://' || host || path AS loc,
  CASE
    WHEN h % 3 = 0 THEN p <> 4
    WHEN p = 1 THEN false
    WHEN p = 3 AND h % 4 IN (0, 1) THEN false
    ELSE true
  END AS allowed,
  CASE WHEN d % 7 = 3 THEN NULL
    ELSE epoch_ms(TIMESTAMP '2020-01-01'
                  + to_days(CAST(d % 1000 AS INT))
                  + to_hours(CAST(d % 24 AS INT)))
  END AS lastmod_ms,
  CASE WHEN d % 7 = 3 OR d % 3 = 0 THEN NULL
    ELSE round((d % 11) / 10.0, 1) END AS priority,
  CASE WHEN d % 7 = 3 OR d % 5 = 4 THEN NULL
    ELSE ['always', 'hourly', 'daily', 'weekly', 'monthly',
          'yearly', 'never'][d % 7 + 1] END AS changefreq
FROM cfg ORDER BY doc_id
"""


@_register("crawl_frontier", _FRONTIER_ORACLE)
def crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-frontier composition the web lane builds toward:
    per-doc sitemap documents (urlset XML with ``&amp;``-escaped query
    URLs, W3C lastmod datetimes, changefreq/priority grids, gzip
    envelopes on every fifth doc, the plain-text one-URL-per-line form
    on every seventh) parse into entries, split into host/path, and
    pass through RFC 9309 admission against the SAME broadcast robots
    rule dim as ``robots_url_filter`` — sitemap discovery and
    politeness joined before a single fetch is spent. The oracle
    replays the entity-decoded loc, the epoch-millis lastmod
    arithmetic (refereed against CPython's datetime over a randomized
    grid in pytest), the priority clamp and every admission decision."""
    from ..operators.web import robots_filter, robots_rules, sitemap_entries

    docs = fan_out(_t(spark, sf_dir, "documents")).select("doc_id")
    d = F.col("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import datetime as _dt
        import gzip as _gzip

        freqs = ("always", "hourly", "daily", "weekly", "monthly",
                 "yearly", "never")
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                dd = int(doc_id)
                h = dd % 40
                p = dd % 6
                path = (
                    f"/private/ok/page{dd}", f"/private/sec{dd}",
                    f"/public/p{dd}?a=1&b=2", f"/tmp/file{dd}.bak",
                    f"/bot/x{dd}", f"/tmp/keep/y{dd}",
                )[p]
                url = f"http://h{h}.test{path}"
                if dd % 7 == 3:
                    doc = url + "\n"
                else:
                    when = _dt.datetime(2020, 1, 1) + _dt.timedelta(
                        days=dd % 1000, hours=dd % 24
                    )
                    lastmod = when.strftime("%Y-%m-%dT%H:%M:%SZ")
                    fields = [
                        "<loc>" + url.replace("&", "&amp;") + "</loc>",
                        f"<lastmod>{lastmod}</lastmod>",
                    ]
                    if dd % 3 != 0:
                        fields.append(
                            f"<priority>{(dd % 11) / 10.0:.1f}</priority>"
                        )
                    if dd % 5 != 4:
                        fields.append(
                            f"<changefreq>{freqs[dd % 7]}</changefreq>"
                        )
                    doc = (
                        '<?xml version="1.0" encoding="UTF-8"?>\n'
                        '<urlset xmlns="http://www.sitemaps.org/schemas'
                        '/sitemap/0.9">\n<url>'
                        + "".join(fields)
                        + "</url>\n</urlset>\n"
                    )
                raw = doc.encode()
                payloads.append(
                    _gzip.compress(raw, 6) if dd % 5 == 0 else raw
                )
            out = pdf[["doc_id"]].copy()
            out["sitemap"] = payloads
            yield out

    maps = docs.mapInPandas(encode, "doc_id bigint, sitemap binary")
    entries = sitemap_entries(maps, "sitemap")
    urls = entries.select(
        "doc_id",
        "kind",
        "loc",
        "lastmod_ms",
        "changefreq",
        "priority",
        F.regexp_extract("loc", r"^https?://([^/]+)", 1).alias("host"),
        F.regexp_extract("loc", r"^https?://[^/]+(/.*)$", 1).alias("path"),
    )
    hosts = docs.select((d % 40).cast("int").alias("hid")).distinct()
    bodies = hosts.mapInPandas(
        _fixture_robots_bodies, "host string, robots string"
    )
    rules = robots_rules(bodies, "robots", agent="trainingbot")
    admitted = robots_filter(urls, rules).select(
        "doc_id", "host", "path", "allowed"
    )
    return (
        urls.join(admitted, ["doc_id", "host", "path"])
        .select(
            "doc_id",
            "kind",
            "loc",
            "allowed",
            "lastmod_ms",
            "priority",
            "changefreq",
        )
        .orderBy("doc_id")
    )


__all__ = [n for n in dict(globals()) if not n.startswith("__")]
