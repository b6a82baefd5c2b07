"""Web-ingestion operators: WARC record walking and HTML main-text
extraction over binary/string columns — the Common Crawl front half of a
training-data pipeline (WARC → HTTP body → HTML → text), feeding the
quality/dedup/packing operators downstream.

Both kernels are single Arrow-batched ``mapInPandas`` passes: archive
bytes never shuffle, broadcast, or reach the driver. At 100 TB the unit of
parallelism is the WARC member — independently decodable per record —
so files shard by byte range; here each row carries one archive."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

WARC_RECORD_SCHEMA = (
    "rec_idx int, warc_type string, target_uri string, content_type string,"
    " content_length bigint, payload binary"
)


def warc_records(df: DataFrame, warc_col: str = "warc") -> DataFrame:
    """Explode WARC archive bytes into one row per record (all original
    columns are kept; archives that fail to parse yield zero rows rather
    than killing the job — crawl data is dirty by construction)."""

    base_cols = [c for c in df.columns if c != warc_col]

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources.warc import WarcFormatError, parse_warc

        rec_cols = ("rec_idx", "warc_type", "target_uri", "content_type",
                    "content_length", "payload")
        for pdf in batches:
            acc: dict[str, list] = {c: [] for c in base_cols}
            acc.update({c: [] for c in rec_cols})
            for _, r in pdf.iterrows():
                try:
                    recs = parse_warc(bytes(r[warc_col]))
                except (WarcFormatError, ValueError, TypeError, EOFError):
                    continue
                for i, rec in enumerate(recs):
                    for c in base_cols:
                        acc[c].append(r[c])
                    acc["rec_idx"].append(i)
                    acc["warc_type"].append(rec["warc_type"])
                    acc["target_uri"].append(rec["target_uri"])
                    acc["content_type"].append(rec["content_type"])
                    acc["content_length"].append(rec["content_length"])
                    acc["payload"].append(rec["payload"])
            out = pd.DataFrame({c: acc[c] for c in base_cols + list(rec_cols)})
            out["rec_idx"] = pd.array(acc["rec_idx"], dtype="Int32")
            out["content_length"] = pd.array(
                acc["content_length"], dtype="Int64"
            )
            yield out

    base_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema
        if f.name != warc_col
    )
    return df.mapInPandas(walk, base_schema + ", " + WARC_RECORD_SCHEMA)


def extract_main_text(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "extracted_text",
    http: bool = False,
) -> DataFrame:
    """HTML → main text under the ``functions/html.py`` contract; input
    may be a string column or binary UTF-8. ``http=True`` strips an HTTP
    response envelope first (the WARC ``response`` payload shape).
    Unparseable/None rows null out."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.html import html_to_text
        from ..sources.warc import http_response_body

        for pdf in batches:
            texts = []
            for payload in pdf[html_col]:
                if payload is None:
                    texts.append(None)
                    continue
                try:
                    if http:
                        payload = http_response_body(bytes(payload))
                    s = (
                        bytes(payload).decode("utf-8", "replace")
                        if not isinstance(payload, str)
                        else payload
                    )
                    texts.append(html_to_text(s))
                except (ValueError, TypeError, AssertionError):
                    texts.append(None)
            out = pdf.copy()
            out[out_col] = texts
            yield out

    schema = df.schema.simpleString()[7:-1] + f",{out_col} string"
    return df.mapInPandas(extract, schema)


# --- URL canonicalization + dedup ------------------------------------------

from pyspark.sql import Column
from pyspark.sql import functions as F

# tracking parameters stripped during canonicalization (the usual crawl
# hygiene set: UTM campaign tags + click identifiers)
_TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid)="


def canonical_url_expr(url: Column) -> Column:
    """Canonical form of a URL as a native Column expression — the
    dedup key for crawl-level URL dedup (one fetch of the same page per
    corpus): fragment discarded FIRST (so a '?' inside the fragment can
    never masquerade as a query — ADVICE r11), scheme and host
    case-folded, userinfo ('u:p@') dropped, bracketed IPv6 hosts kept
    whole, default ports (:80 http, :443 https) stripped, empty path
    normalized to '/', tracking parameters dropped, remaining query
    parameters SORTED (param order never changes page identity). Pure
    regexp/array ops, no UDF; the same grammar is replayable in SQL."""
    # everything after the first '#' is fragment — strip before ANY other
    # component parse so the query/path regexes can only see pre-'#' text
    pre = F.regexp_extract(url, r"^([^#]*)", 1)
    scheme = F.lower(F.regexp_extract(pre, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    auth = F.regexp_extract(pre, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    # userinfo never keys page identity; '[v6]' hosts contain ':' so the
    # host/port split must respect brackets
    hostport = F.regexp_replace(auth, r"^[^@]*@", "")
    host = F.lower(
        F.when(
            hostport.startswith("["),
            F.regexp_extract(hostport, r"^(\[[^\]]*\])", 1),
        ).otherwise(F.regexp_extract(hostport, r"^([^:]*)", 1))
    )
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == F.lit("http")) & (port == "80"))
        & ~((scheme == F.lit("https")) & (port == "443"))
    )
    path = F.regexp_extract(
        pre, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pre, r"\?(.*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
        )
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(
            F.size(params) > 0,
            F.concat(F.lit("?"), F.concat_ws("&", params)),
        ).otherwise(F.lit("")),
    )


def url_dedup(
    df: DataFrame, id_col: str, url_col: str
) -> DataFrame:
    """Crawl URL dedup: one surviving fetch per canonical URL — the
    step upstream of content dedup in a CC-style pipeline (the same page
    recrawled with tracking tags, shuffled params, a fragment, or
    host-case noise must not enter the corpus twice). Winner is the
    minimum id (deterministic, not crawl order).

    Output: (id, canonical_url, n_fetches, keep).

    Scale: one map-side-combinable groupBy(canonical) min + an equi-join
    back on the canonical key — high-cardinality, skew-free; bytes never
    shuffle, only (id, canonical) pairs."""
    canon = df.select(
        F.col(id_col), canonical_url_expr(F.col(url_col)).alias("canonical_url")
    )
    groups = canon.groupBy("canonical_url").agg(
        F.min(id_col).alias("_win"),
        F.count(F.lit(1)).cast("bigint").alias("n_fetches"),
    )
    return canon.join(groups, "canonical_url").select(
        id_col,
        "canonical_url",
        "n_fetches",
        (F.col(id_col) == F.col("_win")).alias("keep"),
    )


# --- PDF ingestion ----------------------------------------------------------


def pdf_text_extract(
    df: DataFrame,
    pdf_col: str = "pdf",
    out_col: str = "extracted_text",
    http: bool = False,
) -> DataFrame:
    """REAL PDF text extraction via ``mapInPandas``
    (``functions/pdf.py``): xref-table object walk (repair scan on
    damage), FlateDecode, /Pages-tree document order, and the §9.4
    text-showing machine (Tj / kerning-TJ / hex strings / ' and " /
    Td-TD-Tm-T* line motion). Emits the page-joined text plus
    ``n_pages``/``n_chars_out``; undecodable payloads null out — crawl
    data is dirty by construction. The documented fence (composite
    fonts needing glyph remapping) also nulls out rather than killing
    the batch. ``http=True`` strips an HTTP response envelope first
    (the WARC ``response`` payload shape, incl. chunked/gzip)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.pdf import PdfFormatError, extract_pdf_pages
        from ..sources.warc import WarcFormatError, http_response_body

        for pdf in batches:
            texts, n_pages, n_chars = [], [], []
            for payload in pdf[pdf_col]:
                try:
                    body = bytes(payload)
                    if http:
                        body = http_response_body(body)
                    pages = extract_pdf_pages(body)
                    text = "\n".join(pages)
                    texts.append(text)
                    n_pages.append(len(pages))
                    n_chars.append(len(text))
                except (PdfFormatError, WarcFormatError, ValueError, TypeError):
                    texts.append(None)
                    n_pages.append(None)
                    n_chars.append(None)
            out = pdf.copy()
            out[out_col] = texts
            out["n_pages"] = pd.array(n_pages, dtype="Int32")
            out["n_chars_out"] = pd.array(n_chars, dtype="Int32")
            yield out

    schema = (
        df.schema.simpleString()[7:-1]
        + f",{out_col} string,n_pages int,n_chars_out int"
    )
    return df.mapInPandas(extract, schema)


# --- robots.txt (RFC 9309) ---------------------------------------------------


def robots_rules(
    df: DataFrame,
    robots_col: str = "robots",
    agent: str = "*",
    host_col: str = "host",
) -> DataFrame:
    """Parse per-host robots.txt bodies (``functions/robots.py``) into an
    exploded rule table: one row per (host, rule) from the group RFC 9309
    selects for ``agent`` (exact product token beats ``*``), plus the
    compiled anchored regex the filter evaluates JVM-side. Hosts whose
    selected group has no rules still emit one null-rule row so metadata
    (crawl_delay, n_sitemaps) survives. The output is a tiny dim table —
    the natural broadcast side of :func:`robots_filter`."""

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.robots import parse_robots_txt, pattern_to_regex

        for pdf in batches:
            hosts, allows, patterns, plens, regexes, delays, n_maps = (
                [], [], [], [], [], [], [],
            )
            for host, body in zip(pdf[host_col], pdf[robots_col]):
                if isinstance(body, (bytes, bytearray)):
                    body = bytes(body).decode("utf-8", "replace")
                parsed = parse_robots_txt(str(body), agent)
                rules = parsed["rules"] or [(None, None)]
                for allow, pattern in rules:
                    hosts.append(host)
                    allows.append(allow)
                    patterns.append(pattern)
                    plens.append(len(pattern) if pattern is not None else None)
                    regexes.append(
                        pattern_to_regex(pattern) if pattern is not None else None
                    )
                    delays.append(parsed["crawl_delay"])
                    n_maps.append(len(parsed["sitemaps"]))
            yield pd.DataFrame(
                {
                    host_col: hosts,
                    "allow": pd.array(allows, dtype="boolean"),
                    "pattern": patterns,
                    "pattern_len": pd.array(plens, dtype="Int32"),
                    "path_regex": regexes,
                    "crawl_delay": pd.array(delays, dtype="float64"),
                    "n_sitemaps": pd.array(n_maps, dtype="Int32"),
                }
            )

    schema = (
        f"{host_col} string, allow boolean, pattern string,"
        " pattern_len int, path_regex string, crawl_delay double,"
        " n_sitemaps int"
    )
    return df.select(host_col, robots_col).mapInPandas(walk, schema)


def robots_filter(
    urls: DataFrame,
    rules: DataFrame,
    id_col: str = "doc_id",
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """RFC 9309 URL admission at corpus scale: broadcast the rule dim,
    left-join on host, evaluate every rule's anchored regex JVM-side and
    pick the winner with a map-side-combinable ``max(struct(...))`` —
    longest matched pattern wins, Allow wins length ties (boolean max),
    no matching rule (or no robots.txt at all) → allowed. URL bytes
    never shuffle wider than the single groupBy on the URL key."""
    hit = F.when(
        F.col("path_regex").isNotNull()
        & F.expr(f"regexp_like({path_col}, path_regex)"),
        F.struct(
            F.col("pattern_len").alias("plen"),
            F.col("allow").alias("allow"),
            F.col("pattern").alias("pattern"),
        ),
    )
    return (
        urls.join(F.broadcast(rules), host_col, "left")
        .withColumn("_hit", hit)
        .groupBy(id_col, host_col, path_col)
        .agg(F.max("_hit").alias("_w"))
        .select(
            id_col,
            host_col,
            path_col,
            F.coalesce(F.col("_w.allow"), F.lit(True)).alias("allowed"),
            F.col("_w.pattern").alias("matched_pattern"),
        )
    )


def sitemap_entries(df: DataFrame, sitemap_col: str = "sitemap") -> DataFrame:
    """Explode sitemap documents (``functions/sitemap.py``: urlset /
    sitemapindex / plain-text, gzip envelopes) into one row per entry
    with lastmod epoch millis, changefreq and clamped priority.
    Unparseable documents yield zero rows — crawl data is dirty by
    construction."""
    base_cols = [c for c in df.columns if c != sitemap_col]

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.sitemap import SitemapFormatError, parse_sitemap

        rec_cols = ("kind", "entry_idx", "loc", "lastmod_ms", "changefreq",
                    "priority")
        for pdf in batches:
            acc: dict[str, list] = {c: [] for c in base_cols}
            acc.update({c: [] for c in rec_cols})
            for _, r in pdf.iterrows():
                try:
                    parsed = parse_sitemap(r[sitemap_col])
                except (SitemapFormatError, ValueError, TypeError):
                    continue
                for i, e in enumerate(parsed["entries"]):
                    for c in base_cols:
                        acc[c].append(r[c])
                    acc["kind"].append(parsed["kind"])
                    acc["entry_idx"].append(i)
                    acc["loc"].append(e["loc"])
                    acc["lastmod_ms"].append(e["lastmod_ms"])
                    acc["changefreq"].append(e["changefreq"])
                    acc["priority"].append(e["priority"])
            out = pd.DataFrame(
                {
                    c: pd.Series(acc[c], dtype=object)
                    for c in base_cols + list(rec_cols)
                }
            )
            out["entry_idx"] = pd.array(acc["entry_idx"], dtype="Int32")
            out["lastmod_ms"] = pd.array(acc["lastmod_ms"], dtype="Int64")
            out["priority"] = pd.array(acc["priority"], dtype="float64")
            yield out

    base_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema
        if f.name != sitemap_col
    )
    schema = (
        (base_schema + ", " if base_schema else "")
        + "kind string, entry_idx int, loc string, lastmod_ms bigint,"
        " changefreq string, priority double"
    )
    return df.mapInPandas(walk, schema)
