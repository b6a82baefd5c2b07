"""Slice 3/6 of the former plans/queries.py (round-11 verdict
item 7: mechanical, zero-semantic split by CONTIGUOUS line range,
so definition order — and therefore import-time oracle
construction — is preserved exactly). Families in this slice:
packing start, streaming rows.

Each slice star-imports its predecessor (cumulative namespace
chain), so cross-slice helper references resolve identically to
the original single file; ``plans/queries.py`` re-exports the
final namespace."""

from __future__ import annotations

from ._q02 import *  # noqa: F401,F403


@_register(
    "event_time_windows",
    """
    SELECT CAST(to_timestamp(floor(epoch(ts) / 600) * 600) AS TIMESTAMP) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def event_time_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (the Structured-Streaming operator run
    through the unified batch API — streaming/windows.py)."""
    from ..streaming.windows import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    return (
        windowed_event_counts(ev)
        .drop("window_end")
        .orderBy("window_start", "event_type")
    )


# ===========================================================================
# replication surface (R5 upsert-merge + J6/J7/R3/R4 batch application)
# ===========================================================================

_CHANGESET_UPSERT_ORACLE = """
WITH state AS (
  SELECT CAST(c_custkey AS BIGINT)                                  AS id,
         TIMESTAMP '2020-01-01' + INTERVAL 1 MINUTE * c_custkey     AS created_at,
         (c_custkey % 3 = 0)                                        AS open,
         c_mktsegment                                               AS user_name
  FROM customer
), batch AS (
  SELECT CAST(o_custkey + CASE WHEN o_orderkey % 10 = 0 THEN 2000 ELSE 0 END
              AS BIGINT)                                            AS id,
         o_orderkey                                                 AS pos,
         TIMESTAMP '2021-01-01' + INTERVAL 1 MINUTE * o_orderkey    AS created_at,
         (o_orderstatus <> 'F')                                     AS open,
         o_orderpriority                                            AS user_name
  FROM orders
), winner AS (
  -- sequential ON CONFLICT application: first closing row freezes the id,
  -- otherwise the last row wins
  SELECT id, created_at, open, user_name FROM (
    SELECT *, row_number() OVER (
      PARTITION BY id
      ORDER BY open, CASE WHEN open THEN -pos ELSE pos END
    ) AS rn FROM batch
  ) WHERE rn = 1
)
SELECT coalesce(s.id, w.id) AS id,
       CASE WHEN s.id IS NOT NULL AND NOT s.open THEN s.created_at
            WHEN w.id IS NOT NULL THEN w.created_at
            ELSE s.created_at END                                   AS created_at,
       CASE WHEN s.id IS NOT NULL AND NOT s.open THEN s.open
            WHEN w.id IS NOT NULL THEN w.open
            ELSE s.open END                                         AS open,
       CASE WHEN s.id IS NOT NULL AND NOT s.open THEN s.user_name
            WHEN w.id IS NOT NULL THEN w.user_name
            ELSE s.user_name END                                    AS user_name
FROM state s FULL OUTER JOIN winner w ON s.id = w.id
ORDER BY id
"""


@_register("changeset_upsert", _CHANGESET_UPSERT_ORACLE)
def changeset_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: the ``ON CONFLICT (id) DO UPDATE … WHERE changesets.open`` merge
    (``ChangesetDB.java:131-160``) on derived tables — customers are the
    stored changesets (every third one still open), orders are a
    replication batch with ~10 rows per id (so the within-batch
    first-close-wins path is exercised) and 10 % brand-new ids (the insert
    path). Checked against a window+full-outer-join DuckDB replay."""
    from ..streaming.changesets import upsert_changesets

    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    state = customer.select(
        F.col("c_custkey").cast("bigint").alias("id"),
        F.expr(
            "timestamp'2020-01-01' + make_interval(0,0,0,0,0, c_custkey, 0)"
        ).alias("created_at"),
        (F.col("c_custkey") % 3 == 0).alias("open"),
        F.col("c_mktsegment").alias("user_name"),
    )
    batch = orders.select(
        (
            F.col("o_custkey")
            + F.when(F.col("o_orderkey") % 10 == 0, 2000).otherwise(0)
        )
        .cast("bigint")
        .alias("id"),
        F.col("o_orderkey").alias("_pos"),
        F.expr(
            "timestamp'2021-01-01' + make_interval(0,0,0,0,0, o_orderkey, 0)"
        ).alias("created_at"),
        (F.col("o_orderstatus") != "F").alias("open"),
        F.col("o_orderpriority").alias("user_name"),
    )
    return staged_sort(
        upsert_changesets(state, batch),
        "id",
    )


_REPLICATION_BATCH_ORACLE = """
WITH hist AS (
  SELECT CAST(event_id % 500 AS BIGINT) AS osm_id,
         CAST(row_number() OVER (PARTITION BY event_id % 500
                                 ORDER BY ts, event_id) AS INT) AS version,
         ts,
         (event_type <> 'error') AS visible
  FROM events
), state AS (
  SELECT osm_id, version, ts, visible FROM (
    SELECT *, row_number() OVER (PARTITION BY osm_id
                                 ORDER BY version DESC, ts DESC) AS rn
    FROM hist WHERE version <= 2
  ) WHERE rn = 1
), diff AS (
  SELECT osm_id, version, ts, visible FROM hist WHERE version BETWEEN 2 AND 4
  UNION ALL
  SELECT osm_id + 1000, 1, ts, visible FROM hist WHERE version = 1
), kept AS (
  -- J6: replays (version <= stored) and deletes without before-state drop
  SELECT d.osm_id, d.version, d.ts, d.visible
  FROM diff d LEFT JOIN state s ON d.osm_id = s.osm_id
  WHERE (s.osm_id IS NULL AND d.visible)
     OR (s.osm_id IS NOT NULL AND d.version > s.version)
), merged AS (
  -- R4: newest version per id wins
  SELECT osm_id, version, visible FROM (
    SELECT *, row_number() OVER (PARTITION BY osm_id
                                 ORDER BY version DESC, ts DESC) AS rn
    FROM (SELECT * FROM state UNION ALL SELECT * FROM kept)
  ) WHERE rn = 1
), ways AS (
  SELECT CAST(o_orderkey % 300 AS BIGINT) AS way_id,
         CAST(o_custkey % 500 AS BIGINT) AS r1,
         CAST((o_custkey + 7) % 500 AS BIGINT) AS r2
  FROM orders
), changed AS (
  SELECT DISTINCT osm_id FROM kept
), dirty_ways AS (
  -- J7: changed node ids propagate to referencing ways
  SELECT DISTINCT way_id FROM ways
  WHERE r1 IN (SELECT osm_id FROM changed)
     OR r2 IN (SELECT osm_id FROM changed)
)
SELECT 'node' AS kind, osm_id AS id, version, visible FROM merged
UNION ALL
SELECT 'way', way_id, CAST(NULL AS INT), CAST(NULL AS BOOLEAN) FROM dirty_ways
ORDER BY kind, id
"""


@_register("replication_batch", _REPLICATION_BATCH_ORACLE)
def replication_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One replication micro-batch end-to-end (J6 diff filter → R4 state
    merge → J7 dirty propagation) on derived histories: the diff carries
    replayed versions, genuine new versions, tombstone deletes, creates of
    unknown ids, and deletes of unknown ids — every branch of
    ``filter_diff_against_state``. Ways derived from orders pick up dirt
    from the changed node ids (``streaming/replication.py:44-123``)."""
    from ..streaming.replication import (
        dirty_parents,
        filter_diff_against_state,
        latest_state,
        merge_latest_state,
    )

    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    base = ev.select(
        (F.col("event_id") % 500).cast("bigint").alias("osm_id"),
        "ts",
        "event_id",
        (F.col("event_type") != "error").alias("visible"),
    )
    w = W.partitionBy("osm_id").orderBy("ts", "event_id")
    hist = base.select(
        "osm_id",
        F.row_number().over(w).cast("int").alias("version"),
        "ts",
        "visible",
    ).withColumn("osm_type", F.lit("node"))
    # hist feeds three branches (state / extra / diff), state and kept two
    # consumers each — persist so the events window computes once
    from pyspark.storagelevel import StorageLevel

    from ..session import register_cached

    hist = register_cached(hist.persist(StorageLevel.MEMORY_AND_DISK))

    state = latest_state(hist.filter(F.col("version") <= 2))
    state = register_cached(state.persist(StorageLevel.MEMORY_AND_DISK))
    extra = hist.filter(F.col("version") == 1).select(
        (F.col("osm_id") + 1000).alias("osm_id"),
        F.lit(1).cast("int").alias("version"),
        "ts",
        "visible",
        "osm_type",
    )
    diff = hist.filter(F.col("version").between(2, 4)).unionByName(extra)
    kept = register_cached(
        filter_diff_against_state(diff, state).persist(StorageLevel.MEMORY_AND_DISK)
    )
    merged = merge_latest_state(state, kept)

    ways = orders.select(
        (F.col("o_orderkey") % 300).cast("bigint").alias("osm_id"),
        F.lit(True).alias("visible"),
        F.array(
            (F.col("o_custkey") % 500).cast("bigint"),
            ((F.col("o_custkey") + 7) % 500).cast("bigint"),
        ).alias("refs"),
    )
    changed = kept.select("osm_id").distinct()
    no_changed_ways = spark.createDataFrame([], "osm_id bigint")
    no_relations = spark.createDataFrame(
        [],
        "osm_id bigint, visible boolean,"
        " members array<struct<type:string,id:bigint,role:string>>",
    )
    dirty_ways, _ = dirty_parents(changed, no_changed_ways, ways, no_relations)

    nodes_out = merged.select(
        F.lit("node").alias("kind"),
        F.col("osm_id").alias("id"),
        "version",
        "visible",
    )
    ways_out = dirty_ways.select(
        F.lit("way").alias("kind"),
        F.col("osm_id").alias("id"),
        F.lit(None).cast("int").alias("version"),
        F.lit(None).cast("boolean").alias("visible"),
    )
    return staged_sort(
        nodes_out.unionByName(ways_out),
        "kind",
        "id",
    )


# ===========================================================================
# queryability contract #2: relation member unnesting
# (docs/useful_queries.md:21-33 — "Extract relation member geometries")
# ===========================================================================


def _members_unnest_oracle() -> str:
    # Reuse the relation-pipeline CTE stack but carry the member-instant
    # timestamp in the as-of state struct, pick the latest instant per
    # relation, and emit one row per (relation, member).
    # str.replace would be a silent no-op if the base oracle text drifted
    # (the sts field would vanish and only surface as a confusing DuckDB
    # error at check time) — assert each fragment's occurrence count first
    replacements = [
        ("struct_pack(sxs := xs, sys := ys)", "struct_pack(sxs := xs, sys := ys, sts := wets)"),
        (
            "CAST(NULL AS STRUCT(sxs DOUBLE[], sys DOUBLE[]))",
            "CAST(NULL AS STRUCT(sxs DOUBLE[], sys DOUBLE[], sts TIMESTAMP))",
        ),
    ]
    base = _CONTRIB_RELS_ORACLE
    for old, new in replacements:
        n = base.count(old)
        assert n >= 1, f"relation oracle drifted: {old!r} not found"
        base = base.replace(old, new)
    cut = base.index("SELECT rid AS osm_id, 1 AS osm_version")
    return (
        base[:cut]
        + """
, latest AS (
  SELECT rid, run_idx FROM (
    SELECT rid, run_idx,
           row_number() OVER (PARTITION BY rid
             ORDER BY inst_ts DESC, inst_cs DESC, run_idx DESC) AS rn
    FROM rinstants) WHERE rn = 1
)
SELECT r.rid AS osm_id,
       'way/' || CAST(r.wid AS VARCHAR) AS member_key,
       '' AS role,
       coalesce((r.asof_st).sts, TIMESTAMP '1970-01-01') AS member_ts,
       coalesce((r.asof_st).sxs IS NOT NULL AND len((r.asof_st).sxs) > 0,
                FALSE) AS has_geom
FROM rresolved r JOIN latest l ON l.rid = r.rid AND l.run_idx = r.k
WHERE r.probe = 1
ORDER BY osm_id, member_key
"""
    )


@_register("relation_members_unnest", _members_unnest_oracle())
def relation_members_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's second canonical downstream query
    (``docs/useful_queries.md:21-33``): filter latest relation
    contributions by tag, unnest the members array into one row per
    member with its ``type/id`` key, role, as-of member timestamp and
    geometry presence. Exercises the nested-merge member states end to
    end through the user-facing contract, served from the staged relation
    contributions table (produce-then-query)."""
    from ..schemas import VALID_TO_SENTINEL

    contribs = _relation_contribs_table(spark, sf_dir)
    return (
        contribs.filter(F.col("tags")["type"] == "route")
        .filter(F.col("valid_to") == F.lit(VALID_TO_SENTINEL))
        .select("osm_id", F.explode("members").alias("m"))
        .select(
            "osm_id",
            F.concat(F.col("m.type"), F.lit("/"), F.col("m.id").cast("string")).alias(
                "member_key"
            ),
            F.col("m.role").alias("role"),
            F.col("m.timestamp").alias("member_ts"),
            F.col("m.geometry").isNotNull().alias("has_geom"),
        )
        .orderBy("osm_id", "member_key")
    )


# ===========================================================================
# ohsome-style spatio-temporal aggregation: contributions per country/month
# ===========================================================================


def _country_month_oracle() -> str:
    cases = " || ".join(
        f"CASE WHEN lon >= {x0!r} AND lon <= {x1!r} AND lat >= {y0!r} AND lat <= {y1!r} "
        f"THEN ['{fid}'] ELSE [] END"
        for fid, x0, y0, x1, y1 in _GRID_FEATURES
    )
    return f"""
    WITH pts AS (
      SELECT user_id, ts, value,
             (value % 360.0) - 180.0        AS lon,
             ((value * 7.0) % 180.0) - 90.0 AS lat
      FROM events
    ), tagged AS (
      SELECT user_id, date_trunc('month', ts) AS month, value,
             unnest({cases}) AS country
      FROM pts
    )
    SELECT country, month,
           CAST(count(*) AS BIGINT)               AS n_points,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM tagged GROUP BY country, month
    ORDER BY country, month
    """


@_register("country_month_stats", _country_month_oracle())
def country_month_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic ohsome dashboard aggregation: events become points,
    broadcast-spatial-joined to countries, then count + distinct-user per
    (country, month). Scale shape: map-side country tagging (broadcast
    grid), one shuffle on the (country, month) agg keys; the distinct
    count is a two-phase partial aggregation."""
    ev = _t(spark, sf_dir, "events")
    feats = [rect_feature(fid, x0, y0, x1, y1) for fid, x0, y0, x1, y1 in _GRID_FEATURES]
    pts = ev.select(
        "user_id",
        "ts",
        ((F.col("value") % 360.0) - 180.0).alias("lon"),
        (((F.col("value") * 7.0) % 180.0) - 90.0).alias("lat"),
    )
    tagged = join_countries(pts, feats, "lon", "lat").select(
        "user_id",
        F.date_trunc("month", F.col("ts")).alias("month"),
        F.explode("countries").alias("country"),
    )
    return (
        tagged.groupBy("country", "month")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("country", "month")
    )


# ===========================================================================
# training-data pipeline: sampling, vocabulary, end-to-end quality filter
# ===========================================================================

# per-language keep rates (percent); unknown languages keep everything
_SAMPLE_RATES = (("en", 50), ("de", 30), ("fr", 20), ("es", 10))


def _stratified_oracle() -> str:
    h = hash60_sql("CAST(doc_id AS VARCHAR)")
    case = " ".join(f"WHEN '{lang}' THEN {rate}" for lang, rate in _SAMPLE_RATES)
    return f"""
    SELECT doc_id, lang, {h} % 100 AS bucket
    FROM documents
    WHERE {h} % 100 < CASE lang {case} ELSE 100 END
    ORDER BY doc_id
    """


@_register("stratified_sample", _stratified_oracle())
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the reproducible alternative to
    ``df.sample()`` for training-data curation: a 60-bit content hash of
    the stable id buckets every row into [0,100), and each stratum keeps
    a configured share. Pure map-side filter: no shuffle, no RNG state,
    re-runs produce the identical sample at any scale."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(hash60_expr(F.col("doc_id").cast("string")), F.lit(100))
    rate = F.lit(100)
    for lang, r in reversed(_SAMPLE_RATES):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    )


@_register(
    "vocab_topk",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                x -> x <> '')) AS token
      FROM documents
    )
    SELECT token,
           CAST(count(*) AS BIGINT)            AS tf,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM tok GROUP BY token
    ORDER BY df DESC, tf DESC, token
    LIMIT 100
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics (the first step of building a BPE/
    unigram tokenizer): term frequency + document frequency per token,
    top-100 by df. The 100 TB shape is the canonical word-count — map-side
    partial counts per token, one shuffle on the token key, and a
    distinct-doc count that Spark plans as a two-phase aggregate."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("df"), F.desc("tf"), "token")
        .limit(100)
    )


def _quality_pipeline_oracle() -> str:
    stop20 = "['the','a','an','and','or','of','to','in','is','are','was','were','be','been','it','this','that','with','for','on']"
    return f"""
    WITH t AS (
      SELECT doc_id, lang, text,
             list_filter(regexp_split_to_array(lower(text), '\\W+'), x -> x <> '') AS toks,
             length(text) AS nct,
             length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS npn
      FROM documents
    ), m AS (
      SELECT doc_id, lang, text,
             CAST(len(toks) AS INT) AS n_tokens,
             (nct - npn) / greatest(nct, 1) AS punct_ratio,
             len(list_filter(toks, x -> list_contains({stop20}, x)))
               / greatest(len(toks), 1) AS stop_ratio,
             list_sum(list_transform(toks, t -> length(t)))
               / greatest(len(toks), 1) AS mtl,
             len(list_filter(toks, x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) / greatest(len(toks), 1) AS s_en,
             len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','zu','auf'], x))) / greatest(len(toks), 1) AS s_de,
             len(list_filter(toks, x -> list_contains(['le','la','les','et','est','une','des','que','pas','pour'], x))) / greatest(len(toks), 1) AS s_fr,
             len(list_filter(toks, x -> list_contains(['el','la','los','las','es','una','que','por','con','para'], x))) / greatest(len(toks), 1) AS s_es
      FROM t
    ), q AS (
      SELECT *,
             round(
               least(n_tokens / 64.0, 1.0) * 0.4
               + least(stop_ratio * 4.0, 1.0) * 0.2
               + greatest(1.0 - punct_ratio * 4.0, 0.0) * 0.2
                 * (CASE WHEN mtl >= 2.5 AND mtl <= 12.0 THEN 1.0 ELSE 0.5 END)
               + (CASE WHEN mtl >= 2.5 AND mtl <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2,
             6) AS quality,
             greatest(s_en, s_de, s_fr, s_es) AS best
      FROM m
    ), g AS (
      SELECT *,
             CASE WHEN best < 0.05 THEN 'und'
                  WHEN s_fr = best THEN 'fr'
                  WHEN s_es = best THEN 'es'
                  WHEN s_en = best THEN 'en'
                  ELSE 'de' END AS guessed_lang,
             row_number() OVER (PARTITION BY {hash60_sql('text')} ORDER BY doc_id) AS rn
      FROM q
    )
    SELECT doc_id, lang, guessed_lang, n_tokens,
           round(punct_ratio, 6) AS punct_ratio, quality
    FROM g
    WHERE rn = 1 AND quality >= 0.4 AND n_tokens BETWEEN 10 AND 5000
      AND punct_ratio < 0.25 AND guessed_lang <> 'und'
    ORDER BY doc_id
    """


@_register("quality_filter_pipeline", _quality_pipeline_oracle())
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end C4-style cleaning pipeline in one plan: exact dedup
    (first doc per content hash), quality-score floor, token-count band,
    punctuation ceiling, and language-ID gate. Everything is codegen
    expressions over one scan plus a single hash-partition window for the
    dedup — the shape a 100 TB curation run wants."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    t = F.col("text")
    scored = docs.select(
        "doc_id",
        "lang",
        token_count_expr(t).alias("n_tokens"),
        punct_ratio_expr(t).alias("_punct"),
        quality_score_expr(t).alias("quality"),
        lang_guess_expr(t).alias("guessed_lang"),
        hash60_expr(t).alias("_h"),
    )
    wdup = W.partitionBy("_h").orderBy("doc_id")
    return (
        scored.withColumn("_rn", F.row_number().over(wdup))
        .filter(
            (F.col("_rn") == 1)
            & (F.col("quality") >= 0.4)
            & F.col("n_tokens").between(10, 5000)
            & (F.col("_punct") < 0.25)
            & (F.col("guessed_lang") != "und")
        )
        .select(
            "doc_id",
            "lang",
            "guessed_lang",
            "n_tokens",
            F.round("_punct", 6).alias("punct_ratio"),
            "quality",
        )
        .orderBy("doc_id")
    )


# ===========================================================================
# queryability contract #3: snapshot time series + taginfo-style key stats
# ===========================================================================

_SNAPSHOT_SERIES_ORACLE = (
    "WITH contribs AS ("
    + _CONTRIB_ORACLE.replace("ORDER BY osm_id, osm_edits", "")
    + """), snaps AS (
      SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                    TIMESTAMP '2024-02-01',
                                    INTERVAL 7 DAY)) AS snap_ts
    )
    SELECT s.snap_ts,
           CAST(count(*) AS BIGINT) AS n_live,
           round(avg(c.osm_edits), 6) AS avg_edits
    FROM contribs c JOIN snaps s
      ON c.valid_from <= s.snap_ts AND s.snap_ts < c.valid_to
    WHERE c.status <> 'deleted'
    GROUP BY s.snap_ts
    ORDER BY s.snap_ts
    """
)


_BACKLOG_ORACLE = """
WITH iv AS (
  SELECT o_orderdate AS open_d,
         o_orderdate + INTERVAL 1 DAY * (o_orderkey % 90) AS close_d
  FROM orders
), ev AS (
  SELECT open_d AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT close_d AS day, -1 AS delta FROM iv
), daily AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS net_change FROM ev GROUP BY day
)
SELECT day, net_change,
       CAST(sum(net_change) OVER (ORDER BY day) AS BIGINT) AS n_open
FROM daily ORDER BY day
"""


@_register("order_backlog_interval", _BACKLOG_ORACLE)
def order_backlog_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting — how many intervals are open on each
    day — via the ±1 event-ization trick: each interval emits (+1 at
    open, −1 at close), one day-keyed combinable aggregation, then a
    running sum over the DAY table. The alternative (day × interval
    range join) is O(days·rows); this is O(rows) with a days-sized
    window — the shape that scales to billions of intervals. (Close
    dates are synthesized deterministically from the order key.)"""
    orders = _t(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_orderdate").alias("open_d"),
        F.expr(
            "o_orderdate + make_interval(0,0,0, CAST(o_orderkey % 90 AS INT), 0,0,0)"
        ).alias("close_d"),
    )
    ev = iv.select(F.col("open_d").alias("day"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("close_d").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = ev.groupBy("day").agg(F.sum("delta").cast("bigint").alias("net_change"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        daily.withColumn("n_open", F.sum("net_change").over(w).cast("bigint"))
        .orderBy("day")
    )


_EVENTS_CUBE_ORACLE = """
SELECT event_type,
       date_trunc('day', ts) AS day,
       CAST(GROUPING_ID(event_type, date_trunc('day', ts)) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY CUBE (event_type, date_trunc('day', ts))
ORDER BY gid, event_type, day
"""


@_register("events_cube", _EVENTS_CUBE_ORACLE)
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (SURVEY.md §2.4's grouping-sets family, next to
    `sales_rollup`'s ROLLUP): all four (event_type × day) grouping
    combinations in ONE pass — Spark expands the sets map-side and still
    partial-aggregates, so the exchange carries one row per (set, group),
    not one scan per set. ``grouping_id`` disambiguates real NULLs from
    subtotal rows, same contract as the SQL standard."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    return (
        ev.select("event_type", day.alias("day"), "value")
        .cube("event_type", "day")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("gid", "event_type", "day")
    )


_PROPS_JSON_ORACLE = """
SELECT event_type,
       CAST(CAST(json_extract_string(props, '$.k') AS INT) // 10 AS INT) AS k_decile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_min,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_max,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY event_type, k_decile
ORDER BY event_type, k_decile
"""


@_register("event_props_json", _PROPS_JSON_ORACLE)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (SURVEY.md §2.7 JSON functions): the
    events' ``props`` JSON column parsed with a typed ``from_json``
    schema (JVM-native, codegen — never a Python JSON loop), bucketed and
    aggregated. Schema-on-read over a semi-structured column is the
    everyday shape of event-log analytics; the parse happens in the scan
    stage, so only (type, decile) rows reach the exchange."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select(
            "event_type",
            F.floor(k / 10).cast("int").alias("k_decile"),
            k.alias("_k"),
            "value",
        )
        .groupBy("event_type", "k_decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_k").cast("int").alias("k_min"),
            F.max("_k").cast("int").alias("k_max"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("event_type", "k_decile")
    )


_MIXTURE_BUDGET_ORACLE = """
WITH toks AS (
  SELECT source,
         len(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                         x -> x <> '')) AS n_tok
  FROM documents
), per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(substr(source, 4) AS INT) + 1 AS weight
  FROM toks GROUP BY source
), tot AS (
  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         CAST(sum(weight) AS BIGINT) AS wsum FROM per
)
SELECT source, n_docs, n_tokens,
       round(n_tokens / total, 6)                         AS natural_frac,
       weight,
       round(weight / wsum, 6)                            AS target_frac,
       round(0.5 * total * weight / wsum, 6)              AS target_tokens,
       round(0.5 * total * weight / wsum / n_tokens, 6)   AS epochs,
       round(least(1.0, 0.5 * total * weight / wsum / n_tokens), 6)
         AS sample_rate
FROM per, tot ORDER BY source
"""


@_register("mixture_token_budget", _MIXTURE_BUDGET_ORACLE)
def mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture PLANNER behind every LLM data recipe: per-source token
    inventory vs target weights → per-source token budget, epochs
    (>1 = upsampling), and the downsampling rate actually applicable.
    One source-keyed aggregation plus a broadcast one-row totals join —
    the planning table is sources-sized however big the corpus; executing
    the plan is what `mixture_resample` does."""
    from ..functions.text import tokens_expr

    docs = _t(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.size(tokens_expr(F.col("text"))).alias("_n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n_tok").cast("bigint").alias("n_tokens"),
        )
        .withColumn(
            "weight", F.expr("CAST(substring(source, 4) AS INT) + 1")
        )
    )
    tot = per.agg(
        F.sum("n_tokens").cast("bigint").alias("_total"),
        F.sum("weight").cast("bigint").alias("_wsum"),
    )
    target_tok = (
        F.lit(0.5) * F.col("_total") * F.col("weight") / F.col("_wsum")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("_total"), 6).alias("natural_frac"),
            "weight",
            F.round(F.col("weight") / F.col("_wsum"), 6).alias("target_frac"),
            F.round(target_tok, 6).alias("target_tokens"),
            F.round(target_tok / F.col("n_tokens"), 6).alias("epochs"),
            F.round(
                F.least(F.lit(1.0), target_tok / F.col("n_tokens")), 6
            ).alias("sample_rate"),
        )
        .orderBy("source")
    )


_CONTRIBUTORS_ORACLE = """
WITH act AS (
  SELECT date_trunc('day', ts) AS period,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
  FROM events GROUP BY 1
), fm AS (
  SELECT user_id, min(date_trunc('day', ts)) AS period FROM events GROUP BY user_id
), nw AS (
  SELECT period, CAST(count(*) AS BIGINT) AS n_new FROM fm GROUP BY period
)
SELECT a.period, a.n_active,
       CAST(coalesce(nw.n_new, 0) AS BIGINT) AS n_new,
       CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY a.period) AS BIGINT)
         AS n_cumulative
FROM act a LEFT JOIN nw ON nw.period = a.period
ORDER BY a.period
"""


@_register("contributors_over_time", _CONTRIBUTORS_ORACLE)
def contributors_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ohsome dashboard 'contributors over time' analytic: per
    period (day here; month at planet scale), active distinct users,
    first-seen (new) users, and the cumulative contributor count. Two
    user-keyed aggregations (both map-side-combinable) and one join +
    running sum over the PERIOD table — the global window orders the
    handful of period rows, not the event stream, so the
    single-partition window is free at any scale."""
    ev = _t(spark, sf_dir, "events")
    period = F.date_trunc("day", F.col("ts"))
    act = ev.groupBy(period.alias("period")).agg(
        F.countDistinct("user_id").alias("n_active")
    )
    fm = ev.groupBy("user_id").agg(F.min(period).alias("period"))
    nw = fm.groupBy("period").agg(F.count(F.lit(1)).alias("n_new"))
    w = W.orderBy("period").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        act.join(nw, "period", "left")
        .select(
            "period",
            "n_active",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .withColumn("n_cumulative", F.sum("n_new").over(w))
        .orderBy("period")
    )


_CURRENTNESS_ORACLE = (
    "WITH contribs AS (" + _CONTRIB_ORACLE.replace("ORDER BY osm_id, osm_edits", "") + ")"
    + """
    SELECT osm_id,
           CAST(count(*) AS BIGINT) AS n_edits,
           min(valid_from) AS first_edit,
           max(valid_from) AS last_edit,
           CAST(count(DISTINCT CAST(valid_from AS DATE)) AS BIGINT) AS active_days,
           CASE WHEN count(*) > 1 THEN
             round((epoch_us(max(valid_from)) - epoch_us(min(valid_from)))
                   / (count(*) - 1) / 86400000000.0, 6) END AS mean_gap_days,
           round((epoch_us(TIMESTAMP '2024-03-01') - epoch_us(max(valid_from)))
                 / 86400000000.0, 6) AS age_days
    FROM contribs GROUP BY osm_id ORDER BY osm_id
    """
)


@_register("contrib_currentness", _CURRENTNESS_ORACLE)
def contrib_currentness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-element edit cadence — the ohsome 'currentness' analytic: edit
    count, first/last edit, distinct active days, mean inter-edit gap, and
    age at a reference date. One map-side-combinable groupBy on the
    element id over the staged contributions table (produce-then-query);
    every aggregate is algebraic, so partial aggregation does almost all
    the work before the single exchange."""
    contribs = _node_contribs_table(spark, sf_dir)
    ref_us = F.unix_micros(F.lit("2024-03-01").cast("timestamp"))
    day_us = 86400000000.0
    agg = contribs.groupBy("osm_id").agg(
        F.count(F.lit(1)).alias("n_edits"),
        F.min("valid_from").alias("first_edit"),
        F.max("valid_from").alias("last_edit"),
        F.countDistinct(F.to_date("valid_from")).alias("active_days"),
    )
    gap = F.round(
        (F.unix_micros("last_edit") - F.unix_micros("first_edit"))
        / (F.col("n_edits") - 1)
        / day_us,
        6,
    )
    return agg.select(
        "osm_id",
        "n_edits",
        "first_edit",
        "last_edit",
        "active_days",
        F.when(F.col("n_edits") > 1, gap).alias("mean_gap_days"),
        F.round((ref_us - F.unix_micros("last_edit")) / day_us, 6).alias("age_days"),
    ).orderBy("osm_id")


@_register("snapshot_series", _SNAPSHOT_SERIES_ORACLE)
def snapshot_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot contract extended to a TIME SERIES — live-element
    count and mean edit depth at weekly instants, the 'OSM growth chart'
    every ohsome dashboard opens with. The snapshot list is generated,
    broadcast, and interval-joined against the validity windows; at
    planet scale the snapshot side stays tiny so the join never
    shuffles the contributions. Reads the staged contributions table
    (produce-then-query)."""
    contribs = _node_contribs_table(spark, sf_dir)
    snaps = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_timestamp('2024-01-04'), "
                "to_timestamp('2024-02-01'), interval 7 days)"
            )
        ).alias("snap_ts")
    )
    return (
        contribs.filter(F.col("status") != "deleted")
        .join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snap_ts"))
            & (F.col("snap_ts") < F.col("valid_to")),
        )
        .groupBy("snap_ts")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.round(F.avg("osm_edits"), 6).alias("avg_edits"),
        )
        .orderBy("snap_ts")
    )


def _ohsome_count_series_oracle() -> str:
    cut = _CONTRIB_ORACLE.index("SELECT\n  CASE WHEN NOT visible")
    cases = " || ".join(
        f"CASE WHEN lon >= {x0!r} AND lon <= {x1!r} AND lat >= {y0!r} AND lat <= {y1!r} "
        f"THEN ['{fid}'] ELSE [] END"
        for fid, x0, y0, x1, y1 in _GRID_FEATURES
    )
    return (
        _CONTRIB_ORACLE[:cut]
        + f"""
    SELECT country, snap_ts,
           CAST(count(*) AS BIGINT) AS n_live,
           round(avg(osm_edits), 6) AS avg_edits
    FROM (
      SELECT unnest({cases}) AS country, s.snap_ts, osm_edits
      FROM (SELECT (eff).lon AS lon, (eff).lat AS lat, osm_edits,
                   ts AS valid_from,
                   coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to
            FROM final
            WHERE visible AND eff IS NOT NULL
              AND tagv IN ('click', 'view')) c
      JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                          TIMESTAMP '2024-02-01',
                                          INTERVAL 7 DAY)) AS snap_ts) s
        ON c.valid_from <= s.snap_ts AND s.snap_ts < c.valid_to
    )
    GROUP BY country, snap_ts
    ORDER BY country, snap_ts
    """
    )


@_register("ohsome_count_series", _ohsome_count_series_oracle())
def ohsome_count_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ohsome API's headline endpoint shape — /elements/count grouped
    by boundary AND snapshot time under a filter — composed end-to-end
    from this engine's pieces: the staged contributions table, the ohsome
    filter DSL (``t in (click, view)`` compiled by
    ``functions/ohsome_filter.py``), broadcast country tagging on the
    centroid, and a broadcast interval join against weekly snapshot
    instants. Scale shape: the contributions side never shuffles — filter
    and country tagging are map-side, the snapshot list is tiny and
    broadcast, and the only exchange is the final (country, snap_ts)
    aggregation."""
    from ..functions.ohsome_filter import compile_filter
    from ..operators.spatial import join_countries, rect_feature

    contribs = _node_contribs_table(spark, sf_dir)
    live = contribs.filter(F.col("status").isin("history", "latest")).filter(
        compile_filter("t in (click, view)")
    )
    feats = [
        rect_feature(fid, x0, y0, x1, y1)
        for fid, x0, y0, x1, y1 in _GRID_FEATURES
    ]
    pts = live.select(
        "valid_from",
        "valid_to",
        "osm_edits",
        F.col("centroid.x").alias("lon"),
        F.col("centroid.y").alias("lat"),
    )
    tagged = join_countries(pts, feats).select(
        F.explode("countries").alias("country"),
        "valid_from",
        "valid_to",
        "osm_edits",
    )
    snaps = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_timestamp('2024-01-04'), "
                "to_timestamp('2024-02-01'), interval 7 days)"
            )
        ).alias("snap_ts")
    )
    return (
        tagged.join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snap_ts"))
            & (F.col("snap_ts") < F.col("valid_to")),
        )
        .groupBy("country", "snap_ts")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.round(F.avg("osm_edits"), 6).alias("avg_edits"),
        )
        .orderBy("country", "snap_ts")
    )


def _tag_stats_oracle() -> str:
    cut = _CONTRIB_ORACLE.index("SELECT\n  CASE WHEN NOT visible")
    return (
        _CONTRIB_ORACLE[:cut]
        + """
    SELECT 't' AS tag_key, tagv AS tag_value,
           CAST(count(*) AS BIGINT) AS n_contribs,
           CAST(count(DISTINCT osm_id) AS BIGINT) AS n_elements
    FROM final WHERE visible
    GROUP BY tagv
    ORDER BY tag_value
    """
    )


@_register("tag_key_stats", _tag_stats_oracle())
def tag_key_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """taginfo-style tag statistics over the contribution stream: explode
    the tags map of every visible contribution, count contributions and
    distinct elements per (key, value). Map-explode + two-phase distinct
    agg — the shape that serves planet-wide tag analytics. Reads the
    staged contributions table (produce-then-query)."""
    contribs = _node_contribs_table(spark, sf_dir)
    return (
        contribs.filter(F.col("status") != "deleted")
        .select("osm_id", F.explode("tags").alias("tag_key", "tag_value"))
        .groupBy("tag_key", "tag_value")
        .agg(
            F.count(F.lit(1)).alias("n_contribs"),
            F.countDistinct("osm_id").alias("n_elements"),
        )
        .orderBy("tag_value")
    )


# ===========================================================================
# embedding-space training ops: ANN quality eval + reproducible k-means
# ===========================================================================


def _kmeans_cte_chain(
    every: int = 64,
    iters: int = 2,
    dim: int = 64,
    scale: int = 1_000_000,
    prefix: str = "",
) -> str:
    """The WITH-chain of the reproducible k-means replay, ending in CTE
    ``{prefix}c{iters}`` = (cid, cv DOUBLE[]); shared by the centroid
    oracle, the k-means-trained IVF oracle, and (prefixed, so its CTE
    names don't collide with the PQ chain's) the residual-PQ oracle."""
    p = prefix
    dist = (
        "round(list_sum(list_transform(range(1, {d}), "
        "i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i]))), 6)"
    ).format(d=dim + 1)
    parts = [
        f"""
    WITH {p}v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), {p}c0 AS (
      SELECT vec_id AS cid, v AS cv FROM {p}v WHERE vec_id % {every} = 0
    )"""
    ]
    prev = f"{p}c0"
    for it in range(1, iters + 1):
        parts.append(f"""
    , {p}d{it} AS (
      SELECT v.vec_id, c.cid, {dist} AS d
      FROM {p}v v, {prev} c
    ), {p}a{it} AS (
      SELECT d.vec_id, min(d.cid) AS cid
      FROM {p}d{it} d
        JOIN (SELECT vec_id, min(d) AS md FROM {p}d{it} GROUP BY vec_id) m
          ON m.vec_id = d.vec_id AND d.d = m.md
      GROUP BY d.vec_id
    ), {p}u{it} AS (
      SELECT a.cid, t.i AS pos,
             sum(CAST(round(v.v[t.i] * {scale}) AS BIGINT)) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM {p}a{it} a JOIN {p}v v ON v.vec_id = a.vec_id, range(1, {dim + 1}) t(i)
      GROUP BY a.cid, t.i
    ), {p}c{it} AS (
      SELECT cid, list((s / n) / {scale}.0 ORDER BY pos) AS cv FROM {p}u{it} GROUP BY cid
    )""")
        prev = f"{p}c{it}"
    return "".join(parts)


def _kmeans_oracle(every: int = 64, iters: int = 2, dim: int = 64, scale: int = 1_000_000) -> str:
    return _kmeans_cte_chain(every, iters, dim, scale) + f"""
    SELECT cid, CAST(pos AS INT) AS pos, n AS n_assigned,
           round((s / n) / {scale}.0, 6) AS c_val
    FROM u{iters}
    ORDER BY cid, pos
    """


@_register("kmeans_centroids", _kmeans_oracle())
def kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd k-means iterations over the embeddings (IVF training as
    a first-class distributed operator): broadcast-centroid assignment
    with rounded-distance deterministic ties, order-independent
    fixed-point means (int64 quantized sums), lineage truncated per
    round. The oracle replays both iterations CTE by CTE — possible only
    because the means are summation-order independent."""
    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cents = kmeans_iterate(emb, every=64, iters=2)
    return (
        cents.select("cid", "n", F.posexplode("cv").alias("pos0", "val"))
        .select(
            "cid",
            (F.col("pos0") + 1).cast("int").alias("pos"),
            F.col("n").alias("n_assigned"),
            F.round("val", 6).alias("c_val"),
        )
        .orderBy("cid", "pos")
    )


def _ann_ivf_kmeans_oracle() -> str:
    cents_cte = _kmeans_cte_chain(every=64, iters=2) + """
    , cents AS (SELECT cid, cv FROM c2)"""
    return _ann_ivf_oracle(nprobe=4, k=5, cents_cte=cents_cte)


@_register("ann_ivf_kmeans_topk", _ann_ivf_kmeans_oracle())
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed IVF training loop: k-means-trained centroids
    (:func:`kmeans_iterate`, 2 Lloyd rounds, bit-reproducible) feed the
    IVF index directly — train → build lists → probe in one plan. The
    oracle replays the training CTE-for-CTE and then the probe, which is
    only possible because the means are summation-order independent."""
    from ..operators.similarity import ivf_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cents = _trained_centroids_table(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(emb, queries, cents, k=5, nprobe=4)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rank")
    ).orderBy("query_id", "rank")


def _pq_ctes(
    m: int = 4,
    dim: int = 64,
    every: int = 64,
    scale: int = 1_000_000,
    v_cte: str | None = None,
) -> str:
    """CTE chain replaying PQ training + encoding: per-subspace slice →
    reproducible 1-round k-means (same int64-quantized means as
    ``_kmeans_cte_chain``) → codebook union ``cb`` → sub-vector union
    ``sv`` → argmin codes ``codes``.

    ``v_cte``: optional replacement for the opening WITH chain; it must
    end by defining CTE ``v`` = (vec_id, v DOUBLE[]) — the residual-PQ
    oracle substitutes residuals against the coarse quantizer here and
    the rest of the chain (training, encoding) replays unchanged.
    """
    ds = dim // m
    dist = (
        f"round(list_sum(list_transform(range(1, {ds + 1}), "
        "i -> (v.v[i] - c.cv[i]) * (v.v[i] - c.cv[i]))), 6)"
    )
    parts = [
        v_cte
        if v_cte is not None
        else """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )"""
    ]
    for s in range(m):
        lo, hi = s * ds + 1, (s + 1) * ds
        parts.append(f"""
    , s{s}v AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM v)
    , s{s}c0 AS (SELECT vec_id AS cid, v AS cv FROM s{s}v WHERE vec_id % {every} = 0)
    , s{s}d AS (SELECT v.vec_id, c.cid, {dist} AS d FROM s{s}v v, s{s}c0 c)
    , s{s}a AS (
        SELECT d.vec_id, min(d.cid) AS cid FROM s{s}d d
        JOIN (SELECT vec_id, min(d) AS md FROM s{s}d GROUP BY vec_id) mm
          ON mm.vec_id = d.vec_id AND d.d = mm.md
        GROUP BY d.vec_id)
    , s{s}u AS (
        SELECT a.cid, t.i AS pos,
               sum(CAST(round(v.v[t.i] * {scale}) AS BIGINT)) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM s{s}a a JOIN s{s}v v ON v.vec_id = a.vec_id, range(1, {ds + 1}) t(i)
        GROUP BY a.cid, t.i)
    , s{s}c1 AS (SELECT cid, list((s / n) / {scale}.0 ORDER BY pos) AS cv FROM s{s}u GROUP BY cid)""")
    cb_union = "\n      UNION ALL ".join(
        f"SELECT {s} AS sub, cid, cv FROM s{s}c1" for s in range(m)
    )
    sv_union = "\n      UNION ALL ".join(
        f"SELECT vec_id, {s} AS sub, v FROM s{s}v" for s in range(m)
    )
    parts.append(f"""
    , cb AS ({cb_union})
    , sv AS ({sv_union})
    , enc AS (
        SELECT sv.vec_id, sv.sub, cb.cid,
               round(list_sum(list_transform(range(1, {ds + 1}),
                 i -> (sv.v[i] - cb.cv[i]) * (sv.v[i] - cb.cv[i]))), 6) AS d
        FROM sv JOIN cb ON cb.sub = sv.sub)
    , codes AS (
        SELECT e.vec_id, e.sub, min(e.cid) AS code, min(e.d) AS sub_dist
        FROM enc e JOIN (SELECT vec_id, sub, min(d) AS md FROM enc GROUP BY vec_id, sub) b
          ON b.vec_id = e.vec_id AND b.sub = e.sub AND e.d = b.md
        GROUP BY e.vec_id, e.sub)""")
    return "".join(parts)


def _pq_codes_oracle() -> str:
    return f"""
    {_pq_ctes()}
    SELECT vec_id, CAST(sub AS INT) AS sub, code, sub_dist
    FROM codes ORDER BY vec_id, sub
    """


@_register("pq_codes", _pq_codes_oracle())
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: per-subspace reproducible k-means
    codebooks (train) + broadcast argmin code assignment (encode). PQ is
    the memory-bound ANN scale path — a 100 TB embedding corpus's index
    becomes m bytes/vector. The oracle replays training AND encoding
    CTE-for-CTE, possible because the codebook means are
    summation-order-independent."""
    from ..operators.similarity import pq_codebooks, pq_encode

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cb = pq_codebooks(emb, m=4, dim=64, every=64, iters=1)
    return staged_sort(
        pq_encode(emb, cb, m=4, dim=64)
        .select("vec_id", F.col("sub").cast("int").alias("sub"), "code", "sub_dist"),
        "vec_id", "sub",
    )


def _pq_adc_oracle(qevery: int = 25, k: int = 5, ds: int = 16) -> str:
    return f"""
    {_pq_ctes()}
    , q AS (SELECT vec_id AS qid, sub, v AS qv FROM sv WHERE vec_id % {qevery} = 0)
    , lut AS (
        SELECT q.qid, q.sub, cb.cid,
               round(list_sum(list_transform(range(1, {ds + 1}),
                 i -> (q.qv[i] - cb.cv[i]) * (q.qv[i] - cb.cv[i]))), 6) AS ld
        FROM q JOIN cb ON cb.sub = q.sub)
    , scored AS (
        SELECT l.qid, c.vec_id, round(sum(l.ld), 6) AS adc_dist
        FROM codes c JOIN lut l ON l.sub = c.sub AND l.cid = c.code AND c.vec_id <> l.qid
        GROUP BY l.qid, c.vec_id)
    , ranked AS (
        SELECT qid AS query_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rank
        FROM scored)
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
    FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


@_register("pq_adc_topk", _pq_adc_oracle())
def pq_adc_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search: per-query LUT against the trained
    codebooks, corpus scanned as codes only (never raw vectors), per-query
    top-k. With :func:`pq_codes` this closes the PQ loop —
    train → encode → search — all oracle-replayed."""
    from ..operators.similarity import pq_adc_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cb = _pq_codebook_table(spark, sf_dir)
    codes = _pq_codes_table(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = pq_adc_topk(codes, cb, queries, k=5, m=4, dim=64)
    return staged_sort(
        out.select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "adc_dist"
    ),
        "query_id",
        "rank",
    )


def _ivfpq_oracle(
    cevery: int = 64, qevery: int = 25, nprobe: int = 2, k: int = 5,
    m: int = 4, dim: int = 64, qwhere: str | None = None,
) -> str:
    qpred = qwhere or f"vec_id % {qevery} = 0"
    ds = dim // m
    l2 = (
        "round(list_sum(list_transform(range(1, {n}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
    )
    return f"""
    {_pq_ctes(m=m, dim=dim)}
    , coarse AS (SELECT vec_id AS ccid, v AS ccv FROM v WHERE vec_id % {cevery} = 0)
    , vd AS (SELECT v.vec_id, c.ccid,
                    {l2.format(n=dim + 1, a="v.v", b="c.ccv")} AS d
             FROM v, coarse c)
    , vass AS (
        SELECT vd.vec_id, min(vd.ccid) AS list
        FROM vd JOIN (SELECT vec_id, min(d) AS md FROM vd GROUP BY vec_id) t
          ON t.vec_id = vd.vec_id AND vd.d = t.md
        GROUP BY vd.vec_id)
    , q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE {qpred})
    , qd AS (SELECT q.qid, c.ccid,
                    {l2.format(n=dim + 1, a="q.qv", b="c.ccv")} AS d
             FROM q, coarse c)
    , probes AS (
        SELECT qid, ccid AS list FROM (
          SELECT qid, ccid, row_number() OVER (PARTITION BY qid ORDER BY d, ccid) AS rn
          FROM qd) WHERE rn <= {nprobe})
    , qs AS (SELECT vec_id AS qid, sub, v AS qv FROM sv WHERE {qpred})
    , lut AS (
        SELECT qs.qid, qs.sub, cb.cid,
               {l2.format(n=ds + 1, a="qs.qv", b="cb.cv")} AS ld
        FROM qs JOIN cb ON cb.sub = qs.sub)
    , cand AS (
        SELECT p.qid, a.vec_id
        FROM vass a JOIN probes p ON a.list = p.list AND a.vec_id <> p.qid)
    , scored AS (
        SELECT ca.qid, ca.vec_id, round(sum(l.ld), 6) AS adc_dist
        FROM cand ca
        JOIN codes c ON c.vec_id = ca.vec_id
        JOIN lut l ON l.qid = ca.qid AND l.sub = c.sub AND l.cid = c.code
        GROUP BY ca.qid, ca.vec_id)
    , ranked AS (
        SELECT qid AS query_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rank
        FROM scored)
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
    FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


@_register("ann_ivfpq_topk", _ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS-IVFADC shape): coarse inverted lists bound the
    candidate set, ADC over PQ codes ranks it. The full billion-scale ANN
    composition — coarse quantizer, per-subspace codebooks, code matrix,
    probe tables — each stage oracle-replayed."""
    from ..operators.similarity import centroids_df, ivfpq_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    coarse = centroids_df(emb, every=64)
    cb = _pq_codebook_table(spark, sf_dir)
    codes = _pq_codes_table(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivfpq_topk(emb, queries, coarse, codes, cb, k=5, nprobe=2, m=4, dim=64)
    return staged_sort(
        out.select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "adc_dist"
    ),
        "query_id",
        "rank",
    )


def _residual_v_cte(cevery: int = 64, citers: int = 2, dim: int = 64) -> str:
    """Opening WITH chain for the residual-PQ oracle: replays the
    k-means-TRAINED coarse quantizer (``_kmeans_cte_chain``, prefixed so
    its CTE names don't collide with the PQ chain's), assigns every vector
    to its coarse list, and defines CTE ``v`` as the residual
    x − coarse_centroid — the rest of :func:`_pq_ctes` replays PQ
    training/encoding over it unchanged.

    The coarse quantizer MUST be trained for residual encoding to pay
    off: against sampled raw-vector "centroids" the residual of a
    near-isotropic embedding has MORE energy than the vector (measured
    1.46× on the sf0.1 synthetic table — in 64-dim a random data point
    is nearly orthogonal to everything), while two Lloyd rounds pull
    mean residual energy to 0.90×.
    """
    l2 = (
        f"round(list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (v0.v[i] - c.ccv[i]) * (v0.v[i] - c.ccv[i]))), 6)"
    )
    return _kmeans_cte_chain(every=cevery, iters=citers, dim=dim, prefix="k") + f"""
    , rcoarse AS (
      SELECT cid AS ccid, cv AS ccv FROM kc{citers}
    ), v0 AS (
      SELECT vec_id, v FROM kv
    ), rvd AS (
      SELECT v0.vec_id, c.ccid, {l2} AS d FROM v0, rcoarse c
    ), rvass AS (
      SELECT d.vec_id, min(d.ccid) AS list
      FROM rvd d JOIN (SELECT vec_id, min(d) AS md FROM rvd GROUP BY vec_id) t
        ON t.vec_id = d.vec_id AND d.d = t.md
      GROUP BY d.vec_id
    ), v AS (
      SELECT v0.vec_id,
             list_transform(range(1, {dim + 1}), i -> v0.v[i] - c.ccv[i]) AS v
      FROM v0 JOIN rvass a ON a.vec_id = v0.vec_id
              JOIN rcoarse c ON c.ccid = a.list
    )"""


def _ivfpq_residual_oracle(
    cevery: int = 64, qevery: int = 25, nprobe: int = 2, k: int = 5,
    m: int = 4, dim: int = 64, every: int = 64, qwhere: str | None = None,
) -> str:
    qpred = qwhere or f"vec_id % {qevery} = 0"
    ds = dim // m
    l2 = (
        "round(list_sum(list_transform(range(1, {n}), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
    )
    qrs_union = "\n      UNION ALL ".join(
        f"SELECT qid, list, {s} AS sub, qv[{s * ds + 1}:{(s + 1) * ds}] AS qv"
        " FROM qres"
        for s in range(m)
    )
    return f"""
    {_pq_ctes(m=m, dim=dim, every=every, v_cte=_residual_v_cte(cevery, dim=dim))}
    , q AS (SELECT vec_id AS qid, v AS qv FROM v0 WHERE {qpred})
    , qd AS (SELECT q.qid, c.ccid,
                    {l2.format(n=dim + 1, a="q.qv", b="c.ccv")} AS d
             FROM q, rcoarse c)
    , probes AS (
        SELECT qid, ccid AS list FROM (
          SELECT qid, ccid, row_number() OVER (PARTITION BY qid ORDER BY d, ccid) AS rn
          FROM qd) WHERE rn <= {nprobe})
    , qres AS (
        SELECT p.qid, p.list,
               list_transform(range(1, {dim + 1}), i -> q.qv[i] - c.ccv[i]) AS qv
        FROM probes p JOIN q ON q.qid = p.qid
                      JOIN rcoarse c ON c.ccid = p.list)
    , qrs AS ({qrs_union})
    , lut AS (
        SELECT qrs.qid, qrs.list, qrs.sub, cb.cid,
               {l2.format(n=ds + 1, a="qrs.qv", b="cb.cv")} AS ld
        FROM qrs JOIN cb ON cb.sub = qrs.sub)
    , cand AS (
        SELECT p.qid, p.list, a.vec_id
        FROM rvass a JOIN probes p ON a.list = p.list AND a.vec_id <> p.qid)
    , scored AS (
        SELECT ca.qid, ca.vec_id, round(sum(l.ld), 6) AS adc_dist
        FROM cand ca
        JOIN codes c ON c.vec_id = ca.vec_id
        JOIN lut l ON l.qid = ca.qid AND l.list = ca.list
                  AND l.sub = c.sub AND l.cid = c.code
        GROUP BY ca.qid, ca.vec_id)
    , ranked AS (
        SELECT qid AS query_id, vec_id, adc_dist,
               row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS rank
        FROM scored)
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank, adc_dist
    FROM ranked WHERE rank <= {k} ORDER BY query_id, rank
    """


def _materialize_ctes(sql: str, names: list[str]) -> str:
    """Pin the named CTEs as MATERIALIZED. DuckDB inlines CTEs by
    default; here the residual CTE ``v`` is itself a multi-stage chain
    and is referenced once per subspace per training stage, so inlining
    re-evaluates the whole residual derivation ~20× over — 229 s at
    sf0.01, 0.2 s materialized (measured). Results are identical; this
    is purely an oracle-side planning hint."""
    for name in names:
        sql = sql.replace(f" {name} AS (", f" {name} AS MATERIALIZED (")
    return sql


def _ivfpq_residual_oracle_fast(**kw) -> str:
    return _materialize_ctes(
        _ivfpq_residual_oracle(**kw),
        ["kv", "kc2", "rvass", "v0", "v", "cb", "sv", "codes", "qres"],
    )


@_register("ann_ivfpq_residual_topk", _ivfpq_residual_oracle_fast())
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ (FAISS IVFADC's ``by_residual`` default,
    round-6 verdict item #5): PQ codebooks/codes quantize
    x − coarse_centroid(x), and the ADC LUT is built per (query, probed
    list) from the query's residual. Same index budget as
    ``ann_ivfpq_topk`` (m code bytes/vector), materially better recall —
    graded against the raw-vector variant inside ``ann_recall_eval``.
    Reads the staged residual codebook/code tables (stored-index
    contract); training/encoding/search all oracle-replayed."""
    from ..operators.similarity import ivfpq_residual_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    coarse = _trained_centroids_table(spark, sf_dir)
    cb = _pq_residual_codebook_table(spark, sf_dir)
    codes = _pq_residual_codes_table(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivfpq_residual_topk(
        codes, cb, coarse, queries, k=5, nprobe=2, m=4, dim=64
    )
    return out.select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank"), "adc_dist"
    ).orderBy("query_id", "rank")


def _ann_recall_oracle() -> str:
    exact = _ANN_COSINE_ORACLE.replace("ORDER BY query_id, rank", "")
    lsh = _ann_lsh_oracle().replace("ORDER BY query_id, rank", "")
    ivf = _ann_ivf_oracle().replace("ORDER BY query_id, rank", "")
    ivfpq = _ivfpq_oracle(qwhere="vec_id < 5").replace(
        "ORDER BY query_id, rank", ""
    )
    ivfpq_res = _ivfpq_residual_oracle_fast(qwhere="vec_id < 5").replace(
        "ORDER BY query_id, rank", ""
    )
    return f"""
    WITH exact AS (SELECT query_id, vec_id FROM ({exact})),
         approx AS (
           SELECT 'lsh' AS method, query_id, vec_id FROM ({lsh})
           UNION ALL
           SELECT 'ivf' AS method, query_id, vec_id FROM ({ivf})
           UNION ALL
           SELECT 'ivfpq' AS method, query_id, vec_id FROM ({ivfpq})
           UNION ALL
           SELECT 'ivfpq_res' AS method, query_id, vec_id FROM ({ivfpq_res})
         ),
         em AS (
           SELECT m.method, e.query_id, e.vec_id
           FROM exact e CROSS JOIN (VALUES ('lsh'), ('ivf'), ('ivfpq'),
                                           ('ivfpq_res')) m(method)
         )
    SELECT em.query_id, em.method,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           round(count(a.vec_id) / 5.0, 6) AS recall_at_5
    FROM em
      LEFT JOIN approx a ON a.method = em.method
        AND a.query_id = em.query_id AND a.vec_id = em.vec_id
    GROUP BY em.query_id, em.method
    ORDER BY em.query_id, em.method
    """


@_register("ann_recall_eval", _ann_recall_oracle())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@5 of each approximate path (LSH
    buckets, IVF lists, IVF-PQ codes) against the exact brute-force
    ground truth, per query and method. The eval harness every production
    ANN deployment needs before trading recall for latency; all sides
    reuse the engine's own operators. Note the metric asymmetry the eval
    deliberately surfaces: LSH/IVF rank by cosine, IVF-PQ by quantized
    L2 — on unnormalized embeddings its recall includes that
    metric-mismatch cost, exactly what an operator needs to see."""
    from ..operators.similarity import (
        centroids_df,
        ivf_topk,
        ivfpq_residual_topk,
        ivfpq_topk,
    )

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    lsh = lsh_bucket_topk(emb, queries, dim=64, k=5, nbits=8)
    ivf = ivf_topk(emb, queries, centroids_df(emb, every=25), k=5, nprobe=4)
    ivfpq = ivfpq_topk(
        emb,
        queries,
        centroids_df(emb, every=64),
        _pq_codes_table(spark, sf_dir),
        _pq_codebook_table(spark, sf_dir),
        k=5,
        nprobe=2,
        m=4,
        dim=64,
    )
    ivfpq_res = ivfpq_residual_topk(
        _pq_residual_codes_table(spark, sf_dir),
        _pq_residual_codebook_table(spark, sf_dir),
        _trained_centroids_table(spark, sf_dir),
        queries,
        k=5,
        nprobe=2,
        m=4,
        dim=64,
    )
    approx = (
        lsh.select(F.lit("lsh").alias("method"), "query_id", "vec_id")
        .unionByName(ivf.select(F.lit("ivf").alias("method"), "query_id", "vec_id"))
        .unionByName(
            ivfpq.select(F.lit("ivfpq").alias("method"), "query_id", "vec_id")
        )
        .unionByName(
            ivfpq_res.select(
                F.lit("ivfpq_res").alias("method"), "query_id", "vec_id"
            )
        )
        .withColumn("_hit", F.lit(1))
    )
    methods = spark.createDataFrame(
        [("lsh",), ("ivf",), ("ivfpq",), ("ivfpq_res",)], "method string"
    )
    return (
        exact.crossJoin(F.broadcast(methods))
        .join(approx, ["method", "query_id", "vec_id"], "left")
        .groupBy("query_id", "method")
        .agg(
            F.count("_hit").alias("n_hit"),
            F.round(F.count("_hit") / 5.0, 6).alias("recall_at_5"),
        )
        .orderBy("query_id", "method")
    )


# ===========================================================================
# training-data curation: deterministic splits, TF-IDF, semantic dedup
# ===========================================================================


@_register(
    "dataset_split",
    f"""
    WITH b AS (
      SELECT doc_id, lang, n_chars,
             {hash60_sql("doc_id::VARCHAR || ':split'")} % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 6)   AS avg_chars
    FROM b GROUP BY 1, 2 ORDER BY split, lang
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) — the reproducible
    alternative to random splits for training-data curation: a 60-bit
    content hash of the stable id buckets every row, so any engine at any
    scale reproduces the identical membership. Pure map-side bucketing +
    one small aggregation; no RNG state, no shuffle of the documents."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(
        hash60_expr(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
        F.lit(100),
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .orderBy("split", "lang")
    )


@_register(
    "tfidf_top_terms",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\W+'),
                                x -> x <> '')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ), df AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token
    ), n AS (
      SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS tfidf
      FROM tf JOIN df ON df.token = tf.token, n
    )
    SELECT doc_id, token, tfidf, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
          FROM scored)
    WHERE rank <= 3 ORDER BY doc_id, rank
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (keyword extraction / relevance
    features). Scale shape: ONE tokenize pass — tf is a (doc, token)
    aggregation, df a count window over tf's token partition (no second
    aggregation over the raw token stream, no idf rejoin), then the
    per-doc top-k window. Three shuffles over tf-sized data total; the
    corpus-wide N is a broadcast scalar."""
    docs = fan_out(_t(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("token")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .orderBy("doc_id", "rank")
    )


__all__ = [n for n in dict(globals()) if not n.startswith("__")]
