"""Slice 2/6 of the former plans/queries.py (round-11 verdict
item 7: mechanical, zero-semantic split by CONTIGUOUS line range,
so definition order — and therefore import-time oracle
construction — is preserved exactly). Families in this slice:
ANN family (IVF/kmeans/PQ/residual), capped sign-LSH kNN + SemDeDup, curation funnel, text quality/lang-id.

Each slice star-imports its predecessor (cumulative namespace
chain), so cross-slice helper references resolve identically to
the original single file; ``plans/queries.py`` re-exports the
final namespace."""

from __future__ import annotations

from ._q01 import *  # noqa: F401,F403

def _ann_ivf_oracle(every: int = 25, nprobe: int = 4, k: int = 5, cents_cte: str | None = None) -> str:
    """IVF oracle; ``cents_cte`` overrides the centroid source with a full
    WITH-chain ending in a CTE named ``cents`` (the k-means-trained
    variant); default is the every-Nth sampled centroid table."""
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    head = cents_cte or f"""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id % {every} = 0
    )"""
    return head + f""", assigned AS (
      SELECT vec_id, embedding, cid AS list_id FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a="e.embedding::DOUBLE[]", b="c.cv")} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
    ), probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.qv, c.cid,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {cos.format(a="q.qv", b="c.cv")} DESC, c.cid
               ) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= {nprobe}
    ), cand AS (
      SELECT p.query_id, a.vec_id,
             {cos.format(a="a.embedding::DOUBLE[]", b="p.qv")} AS cosine
      FROM probes p JOIN assigned a
        ON a.list_id = p.cid AND a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
          FROM cand)
    WHERE rank <= {k} ORDER BY query_id, rank
    """


def _knn_self_join_oracle(min_every: int = 25, k: int = 3) -> str:
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return f"""
    WITH ev AS (
      SELECT greatest({min_every}, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) AS e
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings, ev WHERE vec_id % ev.e = 0
    ), assigned AS (
      SELECT vec_id, embedding, cid AS list_id FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a="e.embedding::DOUBLE[]", b="c.cv")} DESC, c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
      ) WHERE rn = 1
    ), pairs AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             {cos.format(a="a.embedding::DOUBLE[]", b="b.embedding::DOUBLE[]")} AS cosine
      FROM assigned a JOIN assigned b
        ON a.list_id = b.list_id AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM pairs)
    WHERE rank <= {k} ORDER BY vec_id, rank
    """


@_register("knn_self_join", _knn_self_join_oracle(min_every=25, k=3))
def knn_self_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-corpus kNN self-join (every vector's top-3 cosine neighbors),
    IVF-blocked — the building block under semantic dedup, near-dup
    clustering, and diversity-aware sampling where the query set IS the
    corpus. Unlike the query-side ANN ops this cannot broadcast either
    side: the assignment table equi-joins with ITSELF on the list id
    (both sides shuffle once, co-partitioned). The centroid count scales
    as √N (``centroids_df_sqrt``) so assignment and candidate-pair work
    are both N·√N — a fixed sampling rate made assignment quadratic
    (measured 10x wall ratio ~9 in round 8; see SCALE_SMOKE.json)."""
    from ..operators.similarity import centroids_df_sqrt, knn_self_join

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cents = centroids_df_sqrt(emb, min_every=25)
    return staged_sort(knn_self_join(emb, cents, k=3), "vec_id", "rank")


def _lsh_table_sig_sql(nbits: int, salt: str, dim: int = 64) -> str:
    """One table's sign-LSH signature as explicit left-assoc SQL (same
    fp evaluation order as Spark's aggregate fold)."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, nbits, salt=salt)
    bit_terms = []
    for b, plane in enumerate(planes):
        dot = " + ".join(
            f"(embedding[{d + 1}]::DOUBLE * {plane[d]!r})" for d in range(dim)
        )
        bit_terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(bit_terms)


def _knn_lsh_pairs_sql(
    nbits: int = 8,
    ntables: int = 2,
    source: str = "embeddings",
    pre: str = "",
    bucket_cap: int | None = None,
) -> str:
    """CTE chain ending in ``lshpairs`` = the distinct candidate pairs of
    the multi-table LSH self-join (over ``source``, which must expose
    vec_id + embedding; ``pre`` prepends extra CTEs, e.g. an augmented
    corpus). ``bucket_cap`` replays the operator's deterministic
    sub-bucket split (hash60 of ``vec_id:cap<t>:`` mod
    ceil(|bucket|/cap)) so the capped scale path is hash-gated too."""
    sigs = []
    for t in range(ntables):
        sig = _lsh_table_sig_sql(nbits, salt=f"t{t}:")
        sigs.append(
            f"rawsig{t} AS (SELECT vec_id, CAST({sig} AS BIGINT) AS sig"
            f" FROM {source})"
        )
        if bucket_cap:
            sigs.append(
                f"sig{t} AS (SELECT vec_id, sig,"
                f" ('0x' || substr(md5(CAST(vec_id AS VARCHAR)"
                f" || ':cap{t}:'), 1, 15))::BIGINT"
                f" % CAST(ceil(COUNT(*) OVER (PARTITION BY sig)"
                f" / {bucket_cap}.0) AS BIGINT) AS sub"
                f" FROM rawsig{t})"
            )
        else:
            sigs.append(f"sig{t} AS (SELECT *, 0 AS sub FROM rawsig{t})")
    unions = "\n      UNION\n".join(
        f"      SELECT a.vec_id, b.vec_id AS neighbor_id"
        f" FROM sig{t} a JOIN sig{t} b"
        f" ON a.sig = b.sig AND a.sub = b.sub AND a.vec_id <> b.vec_id"
        for t in range(ntables)
    )
    return (
        "WITH "
        + (pre + ",\n    " if pre else "")
        + ",\n    ".join(sigs)
        + f""",
    lshpairs AS (
{unions}
    )"""
    )


def _knn_lsh_oracle(
    nbits: int = 8, ntables: int = 2, k: int = 3,
    bucket_cap: int | None = None,
) -> str:
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return _knn_lsh_pairs_sql(nbits, ntables, bucket_cap=bucket_cap) + f""",
    scored AS (
      SELECT p.vec_id, p.neighbor_id,
             {cos.format(a="va.embedding::DOUBLE[]", b="vb.embedding::DOUBLE[]")}
               AS cosine
      FROM lshpairs p
        JOIN embeddings va ON va.vec_id = p.vec_id
        JOIN embeddings vb ON vb.vec_id = p.neighbor_id
    )
    SELECT vec_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM (SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= {k} ORDER BY vec_id, rank
    """


@_register("knn_self_join_lsh", _knn_lsh_oracle())
def knn_self_join_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-corpus kNN self-join on the LINEAR scale path: multi-table
    sign-LSH bucketing (table-salted deterministic hyperplanes) instead
    of IVF lists. Hashing is O(N·ntables·nbits) and pair work is
    within-bucket only, so with occupancy held constant by nbits the
    total stays ~linear where the √N-centroid IVF variant grows N^1.5.
    Recall graded by ``knn_lsh_recall_eval``."""
    from ..operators.similarity import knn_self_join_lsh

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    return knn_self_join_lsh(emb, k=3, nbits=8, ntables=2).orderBy(
        "vec_id", "rank"
    )


@_register("knn_self_join_lsh_capped", _knn_lsh_oracle(bucket_cap=4))
def knn_self_join_lsh_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPPED scale configuration of the LSH self-join, hash-gated:
    each (table, signature) bucket splits into ceil(|bucket|/4)
    sub-buckets by a deterministic id hash before pair generation, the
    structural fix for hot-cluster Σ|bucket|² blow-up that pair-count
    measurement exposed (SCALE_SMOKE ``knn_self_join_lsh_pair_counts``:
    uncapped density 17.7 → 2806 pairs/vec across 1x/30x, capped
    saturates ≤ 2·ntables·cap). cap=4 on the gate corpus forces real
    splits; the oracle replays signature, sub-bucket hash, modulus, and
    re-rank exactly."""
    from ..operators.similarity import knn_self_join_lsh

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    return knn_self_join_lsh(
        emb, k=3, nbits=8, ntables=2, bucket_cap=4
    ).orderBy("vec_id", "rank")


_LSH_TWIN_BASE = 1_000_000
_LSH_TWIN_JITTER = (
    "(1.0 + ((d * 7 + vec_id) % 5 - 2) / 50.0)"  # ±4% multiplicative
)


def _knn_lsh_recall_oracle(graded: int = 30) -> str:
    aug = f"""aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_LSH_TWIN_BASE},
             list_transform(range(0, 64), d ->
               embedding[d + 1]::DOUBLE * {_LSH_TWIN_JITTER})
      FROM embeddings WHERE vec_id < {graded}
    )"""
    return _knn_lsh_pairs_sql(source="aug", pre=aug) + f"""
    SELECT g.vec_id,
           CAST(max(CASE WHEN p.neighbor_id = g.vec_id + {_LSH_TWIN_BASE}
                         THEN 1 ELSE 0 END) AS INT) AS twin_found
    FROM (SELECT vec_id FROM embeddings WHERE vec_id < {graded}) g
      LEFT JOIN lshpairs p ON p.vec_id = g.vec_id
    GROUP BY g.vec_id ORDER BY g.vec_id
    """


@_register("knn_lsh_recall_eval", _knn_lsh_recall_oracle())
def knn_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-twin recall of the LSH self-join — the measurement that
    prices the linear path's multi-table tradeoff on its ACTUAL use case
    (near-duplicate mining): each graded vector gets a deterministic
    ±4%-jittered twin appended to the corpus, and the row reports
    whether the twin surfaced as a candidate pair. Multiplicative jitter
    preserves hyperplane signs except at low margins, so measured recall
    is ~1.0 at these settings (64-dim dots sit far from the hyperplanes)
    — the eval exists so a settings change that breaks this shows up as
    red rows, not silently. Generic top-3 recall on this corpus's
    near-orthogonal vectors (max pairwise cosine 0.51) would grade the
    geometry of the data, not the operator."""
    from ..operators.similarity import knn_self_join_lsh

    emb = fan_out(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    graded = emb.filter(F.col("vec_id") < 30)
    vid = F.col("vec_id")
    twins = graded.select(
        (vid + _LSH_TWIN_BASE).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, d: x * (1.0 + ((d * 7 + vid) % 5 - 2) / 50.0),
        ).alias("embedding"),
    )
    aug = emb.unionByName(twins)
    pairs = knn_self_join_lsh(aug, k=3, nbits=8, ntables=2).select(
        "vec_id", "neighbor_id"
    )
    hit = (
        F.max(
            F.when(
                F.col("neighbor_id") == F.col("vec_id") + _LSH_TWIN_BASE, 1
            ).otherwise(0)
        )
        .cast("int")
        .alias("twin_found")
    )
    return (
        graded.select("vec_id")
        .join(pairs, "vec_id", "left")
        .groupBy("vec_id")
        .agg(hit)
        .orderBy("vec_id")
    )


def _semantic_dedup_oracle(graded: int = 60, threshold: float = 0.99) -> str:
    aug = f"""aug AS (
      SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + {_LSH_TWIN_BASE},
             list_transform(range(0, 64), d ->
               embedding[d + 1]::DOUBLE * {_LSH_TWIN_JITTER})
      FROM embeddings WHERE vec_id < {graded}
    )"""
    cos = (
        "round(list_dot_product(a.embedding, b.embedding)"
        " / (sqrt(list_dot_product(a.embedding, a.embedding))"
        " * sqrt(list_dot_product(b.embedding, b.embedding))), 6)"
    )
    pairs = _knn_lsh_pairs_sql(source="aug", pre=aug, bucket_cap=4).replace(
        "WITH ", "WITH RECURSIVE ", 1
    )
    return f"""
    {pairs},
    sem AS (
      SELECT p.vec_id AS u, p.neighbor_id AS v
      FROM lshpairs p
        JOIN aug a ON a.vec_id = p.vec_id
        JOIN aug b ON b.vec_id = p.neighbor_id
      WHERE p.vec_id < p.neighbor_id AND {cos} >= {threshold}
    ),
    semedges AS (SELECT u, v FROM sem UNION SELECT v, u FROM sem),
    reach(u, v) AS (
      SELECT u, v FROM semedges
      UNION
      SELECT r.u, e.v FROM reach r JOIN semedges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS node, least(u, min(v)) AS component FROM reach GROUP BY u
    ),
    labeled AS (
      SELECT a.vec_id, coalesce(c.component, a.vec_id) AS cluster_id
      FROM aug a LEFT JOIN comp c ON a.vec_id = c.node
    )
    SELECT vec_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_docs,
           vec_id = cluster_id AS is_canonical
    FROM labeled ORDER BY vec_id
    """


@_register("semantic_dedup_canonical", _semantic_dedup_oracle())
def semantic_dedup_canonical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space SEMANTIC dedup end-to-end (SemDeDup, Abbas et al.
    2023): planted ±4% twins → bucket-capped multi-table sign-LSH
    candidates → exact-cosine threshold (``semantic_dup_pairs``, all
    pairs ≥ 0.99, not top-k) → large-star/small-star connected
    components → per-vector cluster id + canonical flag. Composes the
    capped similarity path with the dedup clustering machinery — the
    100 TB shape for "drop semantically identical training docs": pair
    work bounded by N·cap, CC in O(log n) shuffle rounds, texts never
    move. The oracle replays signatures, the sub-bucket split, the
    cosine gate, and transitive closure."""
    from ..operators.dedup import dedup_clusters
    from ..operators.similarity import semantic_dup_pairs

    emb = fan_out(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    vid = F.col("vec_id")
    twins = emb.filter(vid < 60).select(
        (vid + _LSH_TWIN_BASE).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, d: x * (1.0 + ((d * 7 + vid) % 5 - 2) / 50.0),
        ).alias("embedding"),
    )
    aug = emb.unionByName(twins)
    pairs = semantic_dup_pairs(
        aug, threshold=0.99, nbits=8, ntables=2, bucket_cap=4
    )
    clusters = dedup_clusters(
        aug.select(F.col("vec_id").alias("doc_id")), pairs, id_col="doc_id"
    )
    return clusters.select(
        F.col("doc_id").alias("vec_id"), "cluster_id", "n_docs",
        "is_canonical",
    ).orderBy("vec_id")


def _mmr_oracle(qid: int = 0, pool: int = 20, k: int = 5, lam: float = 0.7) -> str:
    lt = round(lam * 10)  # lam in tenths -> exact integer scoring
    cos = (
        "round(list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    parts = [
        f"""WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {qid}
    ), cand AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {cos.format(a="embedding::DOUBLE[]", b="qv")} AS rel
      FROM embeddings, q WHERE vec_id <> {qid}
      ORDER BY rel DESC, vec_id LIMIT {pool}
    ), sim AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             {cos.format(a="a.v", b="b.v")} AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ), c1 AS (
      SELECT vec_id, 1 AS rank,
             ({lt} * CAST(round(rel * 1e6) AS BIGINT)) / 1e7 AS score
      FROM cand
      ORDER BY {lt} * CAST(round(rel * 1e6) AS BIGINT) DESC, vec_id LIMIT 1
    ), p1 AS (SELECT vec_id FROM c1)"""
    ]
    for t in range(2, k + 1):
        parts.append(
            f"""s{t} AS (
      SELECT c.vec_id,
             {lt} * CAST(round(c.rel * 1e6) AS BIGINT)
               - {10 - lt} * (SELECT max(CAST(round(s.s * 1e6) AS BIGINT))
                              FROM sim s
                              WHERE s.ia = c.vec_id
                                AND s.ib IN (SELECT vec_id FROM p{t - 1}))
               AS score_n
      FROM cand c
      WHERE c.vec_id NOT IN (SELECT vec_id FROM p{t - 1})
    ), c{t} AS (
      SELECT vec_id, {t} AS rank, score_n / 1e7 AS score FROM s{t}
      ORDER BY score_n DESC, vec_id LIMIT 1
    ), p{t} AS (SELECT vec_id FROM p{t - 1} UNION ALL SELECT vec_id FROM c{t})"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM c{t}" for t in range(1, k + 1))
    return (
        ",\n".join(parts)
        + f"""
    SELECT CAST(rank AS INT) AS rank, vec_id, score
    FROM ({union}) ORDER BY rank
    """
    )


@_register("mmr_diverse_topk", _mmr_oracle(qid=0, pool=20, k=5, lam=0.7))
def mmr_diverse_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein 1998):
    the diversity stage production retrieval runs after ANN — pick 5
    results trading relevance to the query (λ=0.7) against redundancy
    with the already-picked set. Stage 1 distributes (corpus → top-20
    candidate pool, one cosine pass); the inherently-sequential greedy
    argmax runs on the driver over the POOL-sized rounded similarity
    matrix (the honest place — pool², never corpus-sized). The oracle
    replays all 5 greedy steps exactly: scores are exact integer
    micro-units (λ in tenths — float rounding would sit ON .5 boundaries
    structurally), ties to the smaller id
    (``operators/similarity.py::mmr_diverse_topk``)."""
    from ..operators.similarity import mmr_diverse_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    chosen = mmr_diverse_topk(emb, query_id=0, pool=20, k=5, lam=0.7)
    return staged_sort(
        spark.createDataFrame(
        chosen, "rank int, vec_id bigint, score double"
    ),
        "rank",
    )


@_register("ann_ivf_topk", _ann_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic data-sampled centroids (every 25th
    vector — the reproducible stand-in for k-means training) as a broadcast
    centroid table, map-side-combinable argmax list assignment, nprobe=4
    probing, exact re-rank inside the probed lists. Only candidates hit
    the per-query top-k window; no driver collect anywhere."""
    from ..operators.similarity import centroids_df, ivf_topk

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    cents = centroids_df(emb, every=25)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(emb, queries, cents, k=5, nprobe=4)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("int").alias("rank")
    ).orderBy("query_id", "rank")


# ===========================================================================
# way contribution pipeline: temporal member merge J3 (flagship #2)
# ===========================================================================

_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z

_WAY_INSTANT_CTES = f"""
WITH params AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u FROM events
), nodes AS (
  SELECT user_id AS nid,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS n_version,
         ts AS nts,
         CAST(event_id % 13 AS BIGINT) AS ncs,
         (value % 360.0) - 180.0        AS lon,
         ((value * 7.0) % 180.0) - 90.0 AS lat
  FROM events
), ways AS (
  SELECT CAST(n_nationkey AS BIGINT) AS wid, CAST(v AS INT) AS wv,
         make_timestamp(({_EPOCH_2024} + v * 7 * 86400) * 1000000) AS wts,
         CAST(1000 + n_nationkey * 10 + v AS BIGINT) AS wcs,
         [CAST(n_nationkey % u AS BIGINT),
          CAST((n_nationkey + 7) % u AS BIGINT),
          CAST((n_nationkey + 13) % u AS BIGINT)] AS refs
  FROM nation, params, (SELECT unnest(range(1, 4)) AS v)
), majors AS (
  SELECT *, lead(wts) OVER (PARTITION BY wid ORDER BY wts, wv) AS wts_end FROM ways
), slots AS (
  SELECT wid, wv, unnest(refs) AS nid, generate_subscripts(refs, 1) AS pos FROM majors
), member_streams AS (
  SELECT DISTINCT m.wid, m.wv, m.wts, m.wts_end, m.wcs, s.nid
  FROM majors m JOIN slots s ON m.wid = s.wid AND m.wv = s.wv
), ev AS (
  -- node changesets < 13, way changesets >= 1000: the init changeset-fold
  -- can never trigger, so init-consumed == (nts <= wts)
  SELECT ms.*, n.n_version, n.nts, n.ncs, n.lon, n.lat,
         n.nts <= ms.wts AS is_init,
         n.nts > ms.wts AND (ms.wts_end IS NULL OR n.nts < ms.wts_end) AS is_minor
  FROM member_streams ms JOIN nodes n USING (nid)
), minor_ev AS (
  SELECT *, sum(new_run) OVER (PARTITION BY wid, wv ORDER BY nts, ncs, nid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_idx
  FROM (
    SELECT *, CASE WHEN ncs IS DISTINCT FROM
                 lag(ncs) OVER (PARTITION BY wid, wv ORDER BY nts, ncs, nid)
               THEN 1 ELSE 0 END AS new_run
    FROM ev WHERE is_minor
  )
), runs AS (
  SELECT wid, wv, run_idx, max(nts) AS inst_ts, min(ncs) AS inst_cs
  FROM minor_ev GROUP BY 1, 2, 3
), instants AS (
  SELECT wid, wv, CAST(0 AS BIGINT) AS run_idx, wts AS inst_ts, wcs AS inst_cs FROM majors
  UNION ALL
  SELECT wid, wv, run_idx, inst_ts, inst_cs FROM runs
), states AS (
  SELECT wid, wv, nid, CAST(0 AS BIGINT) AS k, 0 AS probe, n_version AS ord_v,
         struct_pack(vlon := lon, vlat := lat) AS st, CAST(NULL AS BIGINT) AS pos,
         CAST(NULL AS TIMESTAMP) AS inst_ts, CAST(NULL AS BIGINT) AS inst_cs
  FROM ev WHERE is_init
  UNION ALL
  SELECT wid, wv, nid, run_idx AS k, 0 AS probe, n_version AS ord_v,
         struct_pack(vlon := lon, vlat := lat) AS st, CAST(NULL AS BIGINT) AS pos,
         CAST(NULL AS TIMESTAMP), CAST(NULL AS BIGINT)
  FROM minor_ev
), probes AS (
  SELECT i.wid, i.wv, s.nid, i.run_idx AS k, 1 AS probe, 2147483647 AS ord_v,
         CAST(NULL AS STRUCT(vlon DOUBLE, vlat DOUBLE)) AS st, s.pos,
         i.inst_ts, i.inst_cs
  FROM instants i JOIN slots s ON i.wid = s.wid AND i.wv = s.wv
), resolved AS (
  SELECT *, last_value(st IGNORE NULLS) OVER (
           PARTITION BY wid, wv, nid ORDER BY k, probe, ord_v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_st
  FROM (SELECT * FROM states UNION ALL SELECT * FROM probes)
), inst_members AS (
  SELECT wid, wv, k, inst_ts, inst_cs,
         list_transform(
           list_sort(array_agg(struct_pack(pos := pos, st := asof_st))),
           e -> e.st) AS sts
  FROM resolved WHERE probe = 1
  GROUP BY wid, wv, k, inst_ts, inst_cs
), geoms AS (
  SELECT wid, wv, k, inst_ts, inst_cs,
         list_transform(list_filter(sts, s -> s IS NOT NULL), s -> s.vlon) AS xs,
         list_transform(list_filter(sts, s -> s IS NOT NULL), s -> s.vlat) AS ys
  FROM inst_members
)"""


_CONTRIB_WAYS_ORACLE = (
    _WAY_INSTANT_CTES
    + f"""
, measured AS (
  SELECT *, len(xs) AS nc,
    CASE WHEN len(xs) >= 2 THEN
      list_sum(list_transform(range(1, len(xs)), i -> 6371000.0 * sqrt(
        pow((radians(xs[i + 1]) - radians(xs[i]))
            * cos((atan({SPHERE_FACT!r} * tan(radians(ys[i])))
                 + atan({SPHERE_FACT!r} * tan(radians(ys[i + 1])))) / 2), 2)
        + pow(atan({SPHERE_FACT!r} * tan(radians(ys[i + 1])))
            - atan({SPHERE_FACT!r} * tan(radians(ys[i]))), 2))))
    ELSE 0.0 END AS length_m,
    CASE WHEN len(xs) >= 2 THEN
      list_sum(list_transform(range(1, len(xs)), i ->
        sqrt(pow(xs[i+1]-xs[i], 2) + pow(ys[i+1]-ys[i], 2)) * (xs[i]+xs[i+1])/2))
      / list_sum(list_transform(range(1, len(xs)), i ->
        sqrt(pow(xs[i+1]-xs[i], 2) + pow(ys[i+1]-ys[i], 2))))
    WHEN len(xs) = 1 THEN xs[1] ELSE NULL END AS cx,
    CASE WHEN len(xs) >= 2 THEN
      list_sum(list_transform(range(1, len(xs)), i ->
        sqrt(pow(xs[i+1]-xs[i], 2) + pow(ys[i+1]-ys[i], 2)) * (ys[i]+ys[i+1])/2))
      / list_sum(list_transform(range(1, len(xs)), i ->
        sqrt(pow(xs[i+1]-xs[i], 2) + pow(ys[i+1]-ys[i], 2))))
    WHEN len(xs) = 1 THEN ys[1] ELSE NULL END AS cy
  FROM geoms
), contribs AS (
  SELECT *,
    lead(inst_ts) OVER w AS next_ts,
    CAST(row_number() OVER (PARTITION BY wid, wv ORDER BY inst_ts, inst_cs) - 1 AS INT) AS osm_minor_version,
    CAST(row_number() OVER w AS INT) AS osm_edits,
    lag(xs) OVER w AS prev_xs, lag(ys) OVER w AS prev_ys,
    row_number() OVER w = 1 AS is_first
  FROM measured WINDOW w AS (PARTITION BY wid ORDER BY inst_ts, wv, inst_cs)
)
SELECT wid AS osm_id, wv AS osm_version, osm_minor_version, osm_edits,
       inst_ts AS valid_from,
       coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to,
       CASE WHEN nc = 0 THEN 'invalid'
            WHEN next_ts IS NOT NULL THEN 'history' ELSE 'latest' END AS status,
       CASE WHEN is_first THEN 'CREATION'
            ELSE nullif(concat_ws('_',
              CASE WHEN xs IS DISTINCT FROM prev_xs OR ys IS DISTINCT FROM prev_ys
                   THEN 'GEOMETRY' END), '') END AS contrib_type,
       CASE WHEN nc >= 2 THEN 'LineString' WHEN nc = 1 THEN 'Point' ELSE NULL END AS geometry_type,
       round(length_m, 2) AS length_m,
       round(cx, 6) AS cx, round(cy, 6) AS cy,
       3 AS refs_count
FROM contribs
ORDER BY osm_id, osm_edits
"""
)


def _derived_way_inputs(spark: SparkSession, sf_dir: str):
    """Deterministic way/node histories: nodes from the events stream, one
    3-version way per nation referencing 3 user-nodes. Node changesets
    (< 13) are disjoint from way changesets (>= 1000), so the oracle can
    skip the init changeset-fold branch (it provably never fires)."""
    ev = _t(spark, sf_dir, "events")
    wseq = W.partitionBy("user_id").orderBy("ts", "event_id")
    nodes = ev.select(
        F.col("user_id").alias("osm_id"),
        F.row_number().over(wseq).cast("int").alias("version"),
        "ts",
        (F.col("event_id") % 13).cast("bigint").alias("changeset"),
        F.lit(0).alias("user_id"),
        F.lit("u").alias("user_name"),
        F.lit(True).alias("visible"),
        F.expr("cast(map() as map<string,string>)").alias("tags"),
        ((F.col("value") % 360.0) - 180.0).alias("lon"),
        (((F.col("value") * 7.0) % 180.0) - 90.0).alias("lat"),
    )
    # the user count enters as a broadcast 1-row scalar instead of an eager
    # .first() — no blocking driver job, and the events scan it needs runs
    # inside the query's own DAG
    ucnt = ev.select(F.countDistinct("user_id").alias("_u"))
    nat = _t(spark, sf_dir, "nation")
    ways = (
        nat.select(F.col("n_nationkey").cast("bigint").alias("wid"))
        .crossJoin(F.broadcast(ucnt))
        .crossJoin(spark.range(1, 4).select(F.col("id").alias("v")))
        .select(
            F.col("wid").alias("osm_id"),
            F.col("v").cast("int").alias("version"),
            F.timestamp_seconds(F.lit(_EPOCH_2024) + F.col("v") * 7 * 86400).alias("ts"),
            (F.lit(1000) + F.col("wid") * 10 + F.col("v")).cast("bigint").alias("changeset"),
            F.lit(0).alias("user_id"),
            F.lit("u").alias("user_name"),
            F.lit(True).alias("visible"),
            F.create_map(F.lit("name"), F.concat(F.lit("w"), F.col("wid"))).alias("tags"),
            F.array(
                (F.col("wid") % F.col("_u")).cast("bigint"),
                ((F.col("wid") + 7) % F.col("_u")).cast("bigint"),
                ((F.col("wid") + 13) % F.col("_u")).cast("bigint"),
            ).alias("refs"),
        )
    )
    return ways, nodes


@_register("contrib_ways", _CONTRIB_WAYS_ORACLE)
def contrib_ways(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship #2: the temporal member merge (J3) + way geometry + full
    contribution synthesis, oracle-checked stage by stage — minor-version
    instants, as-of member states, geodesic lengths, lineal centroids,
    counters and contrib types."""
    from ..session import truncate_lineage_many

    # seam the window-derived input histories once: the merge consumes
    # each side through several branches, re-running the row_number
    # derivation per embedding (interleaved A/B at sf0.1: 0.90)
    ways, nodes = truncate_lineage_many(
        list(_derived_way_inputs(spark, sf_dir))
    )
    contribs = synthesize_contributions(way_contribution_events(ways, nodes))
    # staged_sort A/B'd at 1.23 here (regression): the merge pipeline is
    # already internally seamed, so the sampling pass re-runs only cheap
    # post-seam projection and the checkpoint write is pure overhead
    return contribs.select(
        "osm_id",
        "osm_version",
        "osm_minor_version",
        "osm_edits",
        "valid_from",
        "valid_to",
        "status",
        "contrib_type",
        "geometry_type",
        F.round("length", 2).alias("length_m"),
        F.round("centroid.x", 6).alias("cx"),
        F.round("centroid.y", 6).alias("cy"),
        "refs_count",
    ).orderBy("osm_id", "osm_edits")


def _ohsome_length_series_oracle() -> str:
    cut = _CONTRIB_WAYS_ORACLE.index("SELECT wid AS osm_id")
    cases = " || ".join(
        f"CASE WHEN lon >= {x0!r} AND lon <= {x1!r} AND lat >= {y0!r} AND lat <= {y1!r} "
        f"THEN ['{fid}'] ELSE [] END"
        for fid, x0, y0, x1, y1 in _GRID_FEATURES
    )
    return (
        _CONTRIB_WAYS_ORACLE[:cut]
        + f"""
    SELECT country, snap_ts,
           CAST(count(*) AS BIGINT) AS n_live,
           round(sum(length_m), 2) AS total_length_m
    FROM (
      SELECT unnest({cases}) AS country, s.snap_ts, c.length_m
      FROM (SELECT inst_ts AS valid_from,
                   coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to,
                   cx AS lon, cy AS lat, length_m
            FROM contribs WHERE nc >= 2) c
      JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                          TIMESTAMP '2024-02-01',
                                          INTERVAL 7 DAY)) AS snap_ts) s
        ON c.valid_from <= s.snap_ts AND s.snap_ts < c.valid_to
    )
    GROUP BY country, snap_ts
    ORDER BY country, snap_ts
    """
    )


@_register("ohsome_length_series", _ohsome_length_series_oracle())
def ohsome_length_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ohsome API /elements/length endpoint shape — total live way
    length grouped by boundary and snapshot time — over the STAGED way
    contributions table (produce-then-query: the expensive temporal
    member merge runs once; consumers read the stored dataset, the
    reference's docs/useful_queries.md contract). Lineal features only
    (geometry_type = LineString ⇔ ≥2 resolved member nodes); geodesic
    lengths come from the contribution synthesis itself. Same
    never-shuffle-the-facts shape as ohsome_count_series: map-side
    country tagging on the centroid, broadcast snapshot interval join,
    one exchange on the (country, snap_ts) agg keys."""
    contribs = _way_contribs_table(spark, sf_dir)
    feats = [
        rect_feature(fid, x0, y0, x1, y1)
        for fid, x0, y0, x1, y1 in _GRID_FEATURES
    ]
    pts = contribs.filter(F.col("geometry_type") == "LineString").select(
        "valid_from",
        "valid_to",
        F.col("length").alias("length_m"),
        F.col("centroid.x").alias("lon"),
        F.col("centroid.y").alias("lat"),
    )
    tagged = join_countries(pts, feats).select(
        F.explode("countries").alias("country"),
        "valid_from",
        "valid_to",
        "length_m",
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
            F.round(F.sum("length_m"), 2).alias("total_length_m"),
        )
        .orderBy("country", "snap_ts")
    )


# --- /elements/area + groupBy variants + /users/count ----------------------

_EPOCH_2020 = 1577836800  # 2020-01-01T00:00:00Z


def _derived_polygon_ways(spark: SparkSession, sf_dir: str):
    """Closed-way (building) histories: one 3-version way per nation whose
    5-slot ring [a,b,c,d,a] references single-version corner nodes on an
    exact grid (integer degrees + 0.5/0.25 offsets — lossless doubles).
    Odd versions use corner 3, even versions corner 4, so every version
    is a GEOMETRY contribution and the ring is always simple & convex."""
    nat = _t(spark, sf_dir, "nation")
    wid = F.col("n_nationkey").cast("bigint")
    base = nat.select(wid.alias("wid"))
    x0 = (F.col("wid") * 7 % 340 - 170).cast("double")
    y0 = (F.col("wid") * 11 % 160 - 80).cast("double")
    dx = F.array(*[F.lit(v) for v in (0.0, 0.5, 0.5, 0.0, 0.0)])
    dy = F.array(*[F.lit(v) for v in (0.0, 0.0, 0.25, 0.25, 0.5)])
    k = F.col("k").cast("int")
    nodes = (
        base.crossJoin(
            F.broadcast(spark.range(5).select(F.col("id").alias("k")))
        )
        .select(
            (F.lit(10_000_000) + F.col("wid") * 8 + F.col("k")).alias("osm_id"),
            F.lit(1).cast("int").alias("version"),
            F.timestamp_seconds(F.lit(_EPOCH_2020)).alias("ts"),
            F.lit(1).cast("bigint").alias("changeset"),
            F.lit(0).alias("user_id"),
            F.lit("u").alias("user_name"),
            F.lit(True).alias("visible"),
            F.expr("cast(map() as map<string,string>)").alias("tags"),
            (x0 + F.element_at(dx, k + 1)).alias("lon"),
            (y0 + F.element_at(dy, k + 1)).alias("lat"),
        )
    )
    nid = F.lit(10_000_000) + F.col("wid") * 8
    v = F.col("v")
    ways = (
        base.crossJoin(spark.range(1, 4).select(F.col("id").alias("v")))
        .select(
            F.col("wid").alias("osm_id"),
            v.cast("int").alias("version"),
            # wid in MINUTES keeps every (wid, v) instant globally unique
            # (day-offset schemes collide across versions of different
            # ways, which would make relation minor-run windows ambiguous)
            F.timestamp_seconds(
                F.lit(_EPOCH_2024)
                + F.col("wid") * 60
                + v * 7 * 86400
            ).alias("ts"),
            (F.lit(1000) + F.col("wid") * 10 + v).cast("bigint").alias("changeset"),
            F.lit(0).alias("user_id"),
            F.lit("u").alias("user_name"),
            F.lit(True).alias("visible"),
            F.create_map(F.lit("building"), F.lit("yes")).alias("tags"),
            F.array(
                nid, nid + 1, nid + 2,
                nid + F.when(v % 2 == 1, F.lit(3)).otherwise(F.lit(4)),
                nid,
            ).alias("refs"),
        )
    )
    return ways, nodes


def _polygon_contribs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        ways, nodes = _derived_polygon_ways(spark, sf_dir)
        return synthesize_contributions(way_contribution_events(ways, nodes))

    return _produce_then_query(spark, sf_dir, "polygons", build)


def _polygon_area_ctes() -> str:
    """Shared oracle CTEs for the derived closed-way corpus: ways →
    per-version rings on the exact grid → spherical-excess areas
    (term-for-term replay of ``functions/geodesic.py::ring_area``)."""
    from ..functions.geodesic import (
        EARTH_INVERSE_FLATTENING as INVF,
        EARTH_RADIUS_EQUATOR as RE,
        F_UNDERSCORE as FU,
    )

    sinlat = (
        f"({FU!r} * tan(radians(ys[((i + 1) % 5) + 1]))"
        f" / sqrt(({FU!r} * tan(radians(ys[((i + 1) % 5) + 1])))"
        f" * ({FU!r} * tan(radians(ys[((i + 1) % 5) + 1]))) + 1.0))"
    )
    return f"""
WITH ways AS (
  SELECT CAST(n_nationkey AS BIGINT) AS wid, CAST(v AS INT) AS v,
         make_timestamp(({_EPOCH_2024} + n_nationkey * 60
                         + v * 7 * 86400) * 1000000) AS wts
  FROM nation, (SELECT unnest(range(1, 4)) AS v)
), rings AS (
  SELECT wid, v, wts,
         lead(wts) OVER (PARTITION BY wid ORDER BY wts, v) AS wts_end,
         CAST((wid * 7) % 340 - 170 AS DOUBLE) AS x0,
         CAST((wid * 11) % 160 - 80 AS DOUBLE) AS y0
  FROM ways
), coords AS (
  SELECT *,
         [x0, x0 + 0.5, x0 + 0.5, x0, x0] AS xs,
         CASE WHEN v % 2 = 1
              THEN [y0, y0, y0 + 0.25, y0 + 0.25, y0]
              ELSE [y0, y0, y0 + 0.25, y0 + 0.5, y0] END AS ys
  FROM rings
), areas AS (
  SELECT wid, v, wts, wts_end,
    abs(
      list_sum(list_transform(range(0, 5), i ->
        radians(xs[((i + 2) % 5) + 1] - xs[(i % 5) + 1]) * {sinlat}))
      * (0.5 * {RE!r} * {RE!r}
         * (1.0 - 1.0 / {INVF!r}
            * (cos(radians((list_max(ys) + list_min(ys)) / 2.0))
               * cos(radians((list_max(ys) + list_min(ys)) / 2.0)))))
    ) AS area_m2
  FROM coords
)"""


def _ohsome_area_series_oracle() -> str:
    return _polygon_area_ctes() + """
SELECT s.snap_ts,
       CAST(count(*) AS BIGINT) AS n_live,
       round(sum(area_m2) / 1000000.0, 6) AS total_area_km2
FROM areas a
JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                    TIMESTAMP '2024-02-01',
                                    INTERVAL 7 DAY)) AS snap_ts) s
  ON a.wts <= s.snap_ts AND (a.wts_end IS NULL OR s.snap_ts < a.wts_end)
GROUP BY s.snap_ts
ORDER BY s.snap_ts
"""


@_register("ohsome_area_series", _ohsome_area_series_oracle())
def ohsome_area_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ohsome API /elements/area endpoint shape — total live polygon
    area at weekly snapshots — over a STAGED closed-way contributions
    table. Exercises the way-polygon branch end-to-end: polygon-feature
    predicate (building=yes), ring closure + simplicity, Chamberlain &
    Duquette spherical-excess area (A8), contribution validity windows,
    and the broadcast snapshot interval join. The oracle replays the ring
    area term-for-term (same summation order) in DuckDB. Scale shape:
    facts never shuffle — the snapshot list is broadcast and the only
    exchange is the final snap_ts aggregation."""
    from ..functions.ohsome_filter import compile_filter

    contribs = _polygon_contribs_table(spark, sf_dir)
    live = contribs.filter(
        F.col("status").isin("history", "latest")
    ).filter(compile_filter("geometry:polygon and building=yes"))
    snaps = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_timestamp('2024-01-04'), "
                "to_timestamp('2024-02-01'), interval 7 days)"
            )
        ).alias("snap_ts")
    )
    return (
        live.select("valid_from", "valid_to", "area")
        .join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snap_ts"))
            & (F.col("snap_ts") < F.col("valid_to")),
        )
        .groupBy("snap_ts")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.round(F.sum("area") / 1e6, 6).alias("total_area_km2"),
        )
        .orderBy("snap_ts")
    )


def _pbf_polygon_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Encode the derived closed-way corpus (ways + corner nodes) into a
    real ``.osh.pbf`` — per-type blocks, DenseNodes + way groups. Every
    value is PBF-representable by construction (whole-second timestamps,
    exact-grid coordinates), so the decode is lossless and the polygon
    oracle applies unchanged."""
    import hashlib
    import os
    import tempfile

    key = "poly2_" + hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"opc_fixture_{key}.osh.pbf")
    if _PBF_FIXTURES.get(key) == path and os.path.exists(path):
        return path
    from ..sources.pbf_encoder import write_history_pbf

    ways, nodes = _derived_polygon_ways(spark, sf_dir)
    rels = _derived_polygon_relations(spark, sf_dir)
    node_rows = [
        dict(
            osm_id=r.osm_id, version=r.version,
            ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
            uid=0, user="u", visible=True, tags={}, lon=r.lon, lat=r.lat,
        )
        for r in nodes.orderBy("osm_id").collect()
    ]
    way_rows = [
        dict(
            osm_id=r.osm_id, version=r.version,
            ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
            uid=0, user="u", visible=True, tags=dict(r.tags),
            refs=list(r.refs),
        )
        for r in ways.orderBy("osm_id", "version").collect()
    ]
    rel_rows = [
        dict(
            osm_id=r.osm_id, version=r.version,
            ts_ms=int(r.ts.timestamp()) * 1000, changeset=r.changeset,
            uid=0, user="u", visible=True, tags=dict(r.tags),
            members=[
                {"type": m.type, "id": m.id, "role": m.role}
                for m in r.members
            ],
        )
        for r in rels.orderBy("osm_id").collect()
    ]
    write_history_pbf(path, node_rows, ways=way_rows, relations=rel_rows)
    _PBF_FIXTURES[key] = path
    return path


def _contrib_polygons_from_pbf_oracle() -> str:
    return _polygon_area_ctes() + """
SELECT wid AS osm_id, v AS osm_version,
       wts AS valid_from,
       coalesce(wts_end, TIMESTAMP '2222-01-01') AS valid_to,
       CASE WHEN wts_end IS NULL THEN 'latest' ELSE 'history' END AS status,
       CASE WHEN v = 1 THEN 'CREATION' ELSE 'GEOMETRY' END AS contrib_type,
       'Polygon' AS geometry_type,
       round(area_m2 / 1000000.0, 6) AS area_km2
FROM areas
ORDER BY osm_id, osm_version
"""


@_register("contrib_polygons_from_pbf", _contrib_polygons_from_pbf_oracle())
def contrib_polygons_from_pbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAY half of the Contributions2Parquet seam end-to-end from wire
    bytes: real ``.osh.pbf`` (DenseNodes + way groups) → distributed blob
    decode → temporal member merge → way-polygon geometry (ring closure,
    polygon-feature predicate, spherical-excess area) → contribution
    synthesis. Complements ``contrib_from_pbf`` (nodes): together the two
    put decoder → J1/J3 merge → A2/A8 geometry inside the hash-match
    gate. The oracle replays ring areas term-for-term."""
    from ..sources.pbf import read_pbf
    from ..session import truncate_lineage

    path = _pbf_polygon_fixture(spark, sf_dir)
    # decode ONCE (same seam as contrib_full_row_from_pbf): the node and
    # way branches each feed the merge through several consumers, and
    # without a seam every consumer re-runs the Python blob-decode scan
    ents = truncate_lineage(read_pbf(spark, path))
    nodes = ents.filter(F.col("osm_type") == "node").select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "lon", "lat",
    )
    ways = ents.filter(F.col("osm_type") == "way").select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "refs",
    )
    contribs = synthesize_contributions(way_contribution_events(ways, nodes))
    return contribs.select(
        "osm_id",
        "osm_version",
        "valid_from",
        "valid_to",
        "status",
        "contrib_type",
        "geometry_type",
        F.round(F.col("area") / 1e6, 6).alias("area_km2"),
    ).orderBy("osm_id", "osm_version")


def _derived_polygon_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One type=multipolygon relation per region: members are the region's
    nations' closed ways (role outer), single relation version created
    AFTER every member way's v1 (epoch+10d) — so creation resolves all
    members and every later way version produces a relation minor."""
    nat = _t(spark, sf_dir, "nation")
    member_struct = F.transform(
        F.col("member_ids"),
        lambda i: F.struct(
            F.lit("way").alias("type"), i.alias("id"), F.lit("outer").alias("role")
        ),
    )
    return (
        nat.groupBy(F.col("n_regionkey").cast("bigint").alias("osm_id"))
        .agg(F.sort_array(F.collect_list(F.col("n_nationkey").cast("bigint"))).alias("member_ids"))
        .select(
            "osm_id",
            F.lit(1).cast("int").alias("version"),
            F.timestamp_seconds(F.lit(_EPOCH_2024) + 10 * 86400).alias("ts"),
            (F.lit(5000) + F.col("osm_id")).cast("bigint").alias("changeset"),
            F.lit(0).alias("user_id"),
            F.lit("u").alias("user_name"),
            F.lit(True).alias("visible"),
            F.create_map(
                F.lit("type"), F.lit("multipolygon"),
                F.lit("landuse"), F.lit("forest"),
            ).alias("tags"),
            member_struct.alias("members"),
        )
    )


def _contrib_multipolygons_from_pbf_oracle() -> str:
    return _polygon_area_ctes() + f"""
, members AS (
  SELECT CAST(n_regionkey AS BIGINT) AS rid, CAST(n_nationkey AS BIGINT) AS wid
  FROM nation
), rel_instants AS (
  SELECT DISTINCT rid,
         make_timestamp({(_EPOCH_2024 + 10 * 86400) * 1000000}) AS inst_ts,
         CAST(5000 + rid AS BIGINT) AS inst_cs
  FROM members
  UNION ALL
  SELECT m.rid, a.wts AS inst_ts,
         CAST(1000 + a.wid * 10 + a.v AS BIGINT) AS inst_cs
  FROM members m JOIN areas a ON a.wid = m.wid
  WHERE a.wts > make_timestamp({(_EPOCH_2024 + 10 * 86400) * 1000000})
), assembled AS (
  SELECT i.rid, i.inst_ts, i.inst_cs,
         (SELECT sum(a.area_m2)
          FROM members m JOIN areas a ON a.wid = m.wid
          WHERE m.rid = i.rid AND a.wts <= i.inst_ts
            AND (a.wts_end IS NULL OR i.inst_ts < a.wts_end)) AS area_m2,
         lead(i.inst_ts) OVER (PARTITION BY i.rid
                               ORDER BY i.inst_ts, i.inst_cs) AS next_ts,
         row_number() OVER (PARTITION BY i.rid
                            ORDER BY i.inst_ts, i.inst_cs) AS rn
  FROM rel_instants i
)
SELECT rid AS osm_id, inst_ts AS valid_from,
       coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to,
       CASE WHEN next_ts IS NULL THEN 'latest' ELSE 'history' END AS status,
       CASE WHEN rn = 1 THEN 'CREATION' ELSE 'GEOMETRY' END AS contrib_type,
       'MultiPolygon' AS geometry_type,
       round(area_m2 / 1000000.0, 6) AS area_km2
FROM assembled
ORDER BY osm_id, valid_from
"""


@_register(
    "contrib_multipolygons_from_pbf", _contrib_multipolygons_from_pbf_oracle()
)
def contrib_multipolygons_from_pbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RELATION third of the Contributions2Parquet seam from wire
    bytes: ``.osh.pbf`` with DenseNodes + way + relation groups →
    distributed decode → NESTED temporal merge (way streams feed relation
    streams, J2+J3) → multipolygon assembly from member outers → A8 areas
    → synthesis. Every member-way version lands as a relation minor whose
    assembled area the oracle recomputes from as-of ring areas."""
    from ..sources.pbf import read_pbf
    from ..session import truncate_lineage

    path = _pbf_polygon_fixture(spark, sf_dir)
    # decode ONCE (same seam as contrib_full_row_from_pbf): the nested
    # relation merge embeds the node/way/relation branches many times;
    # without a seam each embedding re-runs the Python blob-decode scan
    ents = truncate_lineage(read_pbf(spark, path))
    nodes = ents.filter(F.col("osm_type") == "node").select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "lon", "lat",
    )
    ways = ents.filter(F.col("osm_type") == "way").select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "refs",
    )
    rels = ents.filter(F.col("osm_type") == "relation").select(
        "osm_id", "version", "ts", "changeset", "user_id", "user_name",
        "visible", "tags", "members",
    )
    contribs = synthesize_contributions(
        relation_contribution_events(rels, ways, nodes)
    )
    return staged_sort(contribs.select(
        "osm_id",
        "valid_from",
        "valid_to",
        "status",
        "contrib_type",
        "geometry_type",
        F.round(F.col("area") / 1e6, 6).alias("area_km2"),
    ), "osm_id", "valid_from")


def _polygon_perimeters_oracle() -> str:
    seg = _perimeter_seg_sql()
    return _polygon_area_ctes() + f"""
SELECT wid AS osm_id,
       round(list_sum(list_transform(range(1, 5), i -> {seg})), 2)
         AS perimeter_m
FROM coords WHERE v = 3
ORDER BY osm_id
"""


def _ring_perimeter_udf():
    """Pandas UDF: stored WKB polygon → geodesic exterior-ring length
    (shared by the /elements/perimeter latest and series endpoints)."""

    @F.pandas_udf("double")
    def ring_perimeter(wkb: pd.Series) -> pd.Series:
        import numpy as np

        from ..functions import wkb as wkblib
        from ..functions.geodesic import line_length

        out = []
        for buf in wkb:
            if buf is None:
                out.append(None)
                continue
            geom = wkblib.decode(bytes(buf))
            if geom is None or geom["type"] != "Polygon":
                out.append(None)
                continue
            ring = geom["coords"][0]
            xs = np.array([p[0] for p in ring])
            ys = np.array([p[1] for p in ring])
            out.append(line_length(xs, ys))
        return pd.Series(out, dtype="float64")

    return ring_perimeter


def _perimeter_seg_sql() -> str:
    """DuckDB replay of ``functions/geodesic.py::line_length`` for one
    exterior-ring segment of the derived polygon corpus (term-for-term,
    same constants)."""
    from ..functions.geodesic import SPHERE_FACT as SF

    return (
        f"6371000.0 * sqrt("
        f"pow((radians(xs[i + 1]) - radians(xs[i]))"
        f" * cos((atan({SF!r} * tan(radians(ys[i])))"
        f" + atan({SF!r} * tan(radians(ys[i + 1])))) / 2), 2)"
        f" + pow(atan({SF!r} * tan(radians(ys[i + 1])))"
        f" - atan({SF!r} * tan(radians(ys[i]))), 2))"
    )


@_register("polygon_perimeters", _polygon_perimeters_oracle())
def polygon_perimeters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/elements/perimeter shape — geodesic exterior-ring length of the
    latest polygon state, computed FROM THE STORED GeoParquet geometry:
    the sink→decode seam (WKB written by the pipeline, decoded back,
    ring walked with the engine's own geodesic) inside the hash-match
    gate. Arrow-batched decode; the table is dimension-sized (one row
    per latest way), so the UDF touches meters of data, not the corpus."""
    ring_perimeter = _ring_perimeter_udf()

    contribs = _polygon_contribs_table(spark, sf_dir)
    latest = contribs.filter(F.col("status") == "latest").filter(
        F.col("geometry_type") == "Polygon"
    )
    return (
        latest.select(
            "osm_id", F.round(ring_perimeter(F.col("geometry")), 2).alias("perimeter_m")
        )
        .orderBy("osm_id")
    )


def _ohsome_count_groupby_tag_oracle() -> str:
    cut = _CONTRIB_ORACLE.index("SELECT\n  CASE WHEN NOT visible")
    return (
        _CONTRIB_ORACLE[:cut]
        + """
    SELECT tag_value, snap_ts,
           CAST(count(*) AS BIGINT) AS n_live,
           CAST(count(DISTINCT osm_id) AS BIGINT) AS n_elements
    FROM (
      SELECT c.tagv AS tag_value, s.snap_ts, c.osm_id
      FROM (SELECT tagv, osm_id, ts AS valid_from,
                   coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to
            FROM final WHERE visible AND eff IS NOT NULL) c
      JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                          TIMESTAMP '2024-02-01',
                                          INTERVAL 7 DAY)) AS snap_ts) s
        ON c.valid_from <= s.snap_ts AND s.snap_ts < c.valid_to
    )
    GROUP BY tag_value, snap_ts
    ORDER BY tag_value, snap_ts
    """
    )


@_register("ohsome_count_groupby_tag", _ohsome_count_groupby_tag_oracle())
def ohsome_count_groupby_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/elements/count groupBy tag (groupByKey=t): live element counts per
    tag value per weekly snapshot over the staged node contributions.
    Same never-shuffle-the-facts shape as ohsome_count_series with the
    boundary dimension swapped for the tag-value dimension (map lookup,
    no explode needed for a single groupByKey)."""
    contribs = _node_contribs_table(spark, sf_dir)
    live = contribs.filter(F.col("status").isin("history", "latest"))
    snaps = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_timestamp('2024-01-04'), "
                "to_timestamp('2024-02-01'), interval 7 days)"
            )
        ).alias("snap_ts")
    )
    return (
        live.select(
            F.col("tags")["t"].alias("tag_value"),
            "osm_id",
            "valid_from",
            "valid_to",
        )
        .join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snap_ts"))
            & (F.col("snap_ts") < F.col("valid_to")),
        )
        .groupBy("tag_value", "snap_ts")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.countDistinct("osm_id").alias("n_elements"),
        )
        .orderBy("tag_value", "snap_ts")
    )


def _ohsome_length_groupby_tag_oracle() -> str:
    cut = _CONTRIB_WAYS_ORACLE.index("SELECT wid AS osm_id")
    return (
        _CONTRIB_WAYS_ORACLE[:cut]
        + """
    SELECT tag_value, snap_ts,
           CAST(count(*) AS BIGINT) AS n_live,
           round(sum(length_m), 2) AS total_length_m
    FROM (
      SELECT concat('w', c.wid) AS tag_value, s.snap_ts, c.length_m
      FROM (SELECT wid, inst_ts AS valid_from,
                   coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to,
                   length_m
            FROM contribs WHERE nc >= 2) c
      JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                          TIMESTAMP '2024-02-01',
                                          INTERVAL 7 DAY)) AS snap_ts) s
        ON c.valid_from <= s.snap_ts AND s.snap_ts < c.valid_to
    )
    GROUP BY tag_value, snap_ts
    ORDER BY tag_value, snap_ts
    """
    )


@_register("ohsome_length_groupby_tag", _ohsome_length_groupby_tag_oracle())
def ohsome_length_groupby_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/elements/length groupBy tag (groupByKey=name): live way length per
    tag value per weekly snapshot over the staged way contributions —
    the tag dimension comes straight from the stored tags map."""
    contribs = _way_contribs_table(spark, sf_dir)
    live = contribs.filter(F.col("geometry_type") == "LineString")
    snaps = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_timestamp('2024-01-04'), "
                "to_timestamp('2024-02-01'), interval 7 days)"
            )
        ).alias("snap_ts")
    )
    return (
        live.select(
            F.col("tags")["name"].alias("tag_value"),
            "valid_from",
            "valid_to",
            F.col("length").alias("length_m"),
        )
        .join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snap_ts"))
            & (F.col("snap_ts") < F.col("valid_to")),
        )
        .groupBy("tag_value", "snap_ts")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.round(F.sum("length_m"), 2).alias("total_length_m"),
        )
        .orderBy("tag_value", "snap_ts")
    )


def _ohsome_count_ratio_oracle() -> str:
    cut = _CONTRIB_ORACLE.index("SELECT\n  CASE WHEN NOT visible")
    return (
        _CONTRIB_ORACLE[:cut]
        + """
    SELECT snap_ts,
           CAST(count(*) AS BIGINT) AS n_live,
           CAST(count(*) FILTER (WHERE tagv = 'click') AS BIGINT) AS n_live2,
           round(count(*) FILTER (WHERE tagv = 'click')
                 / CAST(count(*) AS DOUBLE), 6) AS ratio
    FROM (
      SELECT c.tagv, s.snap_ts
      FROM (SELECT tagv, ts AS valid_from,
                   coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to
            FROM final WHERE visible AND eff IS NOT NULL) c
      JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                          TIMESTAMP '2024-02-01',
                                          INTERVAL 7 DAY)) AS snap_ts) s
        ON c.valid_from <= s.snap_ts AND s.snap_ts < c.valid_to
    )
    GROUP BY snap_ts
    ORDER BY snap_ts
    """
    )


@_register("ohsome_count_ratio_series", _ohsome_count_ratio_oracle())
def ohsome_count_ratio_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/elements/count/ratio — the two-filter endpoint: live elements
    matching filter2 (``t=click``, compiled by the DSL) over all live
    elements, per weekly snapshot. One pass: the filter2 predicate
    becomes a conditional count inside the same aggregation, so the
    ratio costs nothing beyond the base count query."""
    from ..functions.ohsome_filter import compile_filter

    contribs = _node_contribs_table(spark, sf_dir)
    live = contribs.filter(F.col("status").isin("history", "latest"))
    snaps = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_timestamp('2024-01-04'), "
                "to_timestamp('2024-02-01'), interval 7 days)"
            )
        ).alias("snap_ts")
    )
    is2 = compile_filter("t=click")
    return (
        live.select("valid_from", "valid_to", is2.alias("m2"))
        .join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snap_ts"))
            & (F.col("snap_ts") < F.col("valid_to")),
        )
        .groupBy("snap_ts")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.sum(F.col("m2").cast("bigint")).alias("n_live2"),
        )
        .select(
            "snap_ts",
            "n_live",
            "n_live2",
            F.round(F.col("n_live2") / F.col("n_live").cast("double"), 6).alias(
                "ratio"
            ),
        )
        .orderBy("snap_ts")
    )


def _ohsome_count_boundary_tag_oracle() -> str:
    cut = _CONTRIB_ORACLE.index("SELECT\n  CASE WHEN NOT visible")
    cases = " || ".join(
        f"CASE WHEN lon >= {x0!r} AND lon <= {x1!r} AND lat >= {y0!r} AND lat <= {y1!r} "
        f"THEN ['{fid}'] ELSE [] END"
        for fid, x0, y0, x1, y1 in _GRID_FEATURES
    )
    return (
        _CONTRIB_ORACLE[:cut]
        + f"""
    SELECT country, tag_value, snap_ts, CAST(count(*) AS BIGINT) AS n_live
    FROM (
      SELECT unnest({cases}) AS country, c.tagv AS tag_value, s.snap_ts
      FROM (SELECT (eff).lon AS lon, (eff).lat AS lat, tagv,
                   ts AS valid_from,
                   coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to
            FROM final WHERE visible AND eff IS NOT NULL) c
      JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                          TIMESTAMP '2024-02-01',
                                          INTERVAL 7 DAY)) AS snap_ts) s
        ON c.valid_from <= s.snap_ts AND s.snap_ts < c.valid_to
    )
    GROUP BY country, tag_value, snap_ts
    ORDER BY country, tag_value, snap_ts
    """
    )


@_register(
    "ohsome_count_groupby_boundary_tag", _ohsome_count_boundary_tag_oracle()
)
def ohsome_count_groupby_boundary_tag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """/elements/count groupBy boundary groupBy tag — the two-dimension
    grouping endpoint: live counts per (country, tag value, snapshot).
    Same never-shuffle-the-facts shape; the extra dimension just widens
    the final aggregation key."""
    contribs = _node_contribs_table(spark, sf_dir)
    live = contribs.filter(F.col("status").isin("history", "latest"))
    feats = [
        rect_feature(fid, x0, y0, x1, y1)
        for fid, x0, y0, x1, y1 in _GRID_FEATURES
    ]
    pts = live.select(
        "valid_from",
        "valid_to",
        F.col("tags")["t"].alias("tag_value"),
        F.col("centroid.x").alias("lon"),
        F.col("centroid.y").alias("lat"),
    )
    tagged = join_countries(pts, feats).select(
        F.explode("countries").alias("country"),
        "tag_value",
        "valid_from",
        "valid_to",
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
        .groupBy("country", "tag_value", "snap_ts")
        .agg(F.count(F.lit(1)).alias("n_live"))
        .orderBy("country", "tag_value", "snap_ts")
    )


_OHSOME_USERS_COUNT_ORACLE = """
SELECT date_trunc('week', ts) AS period,
       CAST(count(DISTINCT event_id % 40) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_contribs
FROM events
WHERE event_type IN ('click', 'view')
GROUP BY period
ORDER BY period
"""


@_register("ohsome_users_count", _OHSOME_USERS_COUNT_ORACLE)
def ohsome_users_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """/users/count — distinct contributors per week under an ohsome
    filter DSL predicate. One map-side-combinable aggregation over the
    edit stream; the DSL predicate (`t in (click, view)`) compiles to a
    native tags-map lookup, so filter + bucket + distinct-count all run
    inside whole-stage codegen before the single exchange."""
    from ..functions.ohsome_filter import compile_filter

    ev = _t(spark, sf_dir, "events")
    edits = ev.select(
        (F.col("event_id") % 40).alias("uid"),
        "ts",
        F.create_map(F.lit("t"), F.col("event_type")).alias("tags"),
    ).filter(compile_filter("t in (click, view)"))
    return (
        edits.groupBy(F.date_trunc("week", "ts").alias("period"))
        .agg(
            F.countDistinct("uid").alias("n_users"),
            F.count(F.lit(1)).alias("n_contribs"),
        )
        .orderBy("period")
    )


def _ohsome_perimeter_series_oracle() -> str:
    seg = _perimeter_seg_sql()
    return _polygon_area_ctes() + f"""
SELECT s.snap_ts,
       CAST(count(*) AS BIGINT) AS n_live,
       round(sum(round(list_sum(list_transform(range(1, 5), i -> {seg})), 2)),
             2) AS total_perimeter_m
FROM coords a
JOIN (SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                    TIMESTAMP '2024-02-01',
                                    INTERVAL 7 DAY)) AS snap_ts) s
  ON a.wts <= s.snap_ts AND (a.wts_end IS NULL OR s.snap_ts < a.wts_end)
GROUP BY s.snap_ts
ORDER BY s.snap_ts
"""


@_register("ohsome_perimeter_series", _ohsome_perimeter_series_oracle())
def ohsome_perimeter_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ohsome API /elements/perimeter endpoint shape — total live
    polygon perimeter at weekly snapshots — over the STAGED closed-way
    contributions table, with the geodesic ring length computed FROM THE
    STORED WKB geometry (sink→decode seam). Per-ring values round to 2dp
    on both engines before summing so the hash can't drift on float sum
    order. Scale shape: identical to ohsome_area_series — facts never
    shuffle, the snapshot list broadcasts, one final exchange."""
    from ..functions.ohsome_filter import compile_filter

    ring_perimeter = _ring_perimeter_udf()
    contribs = _polygon_contribs_table(spark, sf_dir)
    live = contribs.filter(
        F.col("status").isin("history", "latest")
    ).filter(compile_filter("geometry:polygon and building=yes"))
    snaps = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_timestamp('2024-01-04'), "
                "to_timestamp('2024-02-01'), interval 7 days)"
            )
        ).alias("snap_ts")
    )
    return (
        live.select(
            "valid_from", "valid_to",
            F.round(ring_perimeter(F.col("geometry")), 2).alias("pm"),
        )
        .join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snap_ts"))
            & (F.col("snap_ts") < F.col("valid_to")),
        )
        .groupBy("snap_ts")
        .agg(
            F.count(F.lit(1)).alias("n_live"),
            F.round(F.sum("pm"), 2).alias("total_perimeter_m"),
        )
        .orderBy("snap_ts")
    )


def _rect_area_sql(x0: float, y0: float, x1: float, y1: float) -> str:
    """DuckDB replay of ``functions/geodesic.py::ring_area`` for one
    literal-cornered rectangle ring (same term construction: dlon(p3,p1)
    * sin(spherical_lat(p2)) with wrap-around, then the mid-latitude
    ellipsoid correction)."""
    from ..functions.geodesic import (
        EARTH_INVERSE_FLATTENING as INVF,
        EARTH_RADIUS_EQUATOR as RE,
        F_UNDERSCORE as FU,
    )

    xs = [x0, x1, x1, x0, x0]
    ys = [y0, y0, y1, y1, y0]
    terms = []
    for i in range(5):
        ymid = ys[(i + 1) % 5]
        sinlat = (
            f"(({FU!r} * tan(radians({ymid!r})))"
            f" / sqrt(({FU!r} * tan(radians({ymid!r})))"
            f" * ({FU!r} * tan(radians({ymid!r}))) + 1.0))"
        )
        terms.append(f"radians({xs[(i + 2) % 5]!r} - {xs[i]!r}) * {sinlat}")
    mid = (max(ys) + min(ys)) / 2.0
    return (
        f"abs(({' + '.join(terms)})"
        f" * (0.5 * {RE!r} * {RE!r}"
        f" * (1.0 - 1.0 / {INVF!r}"
        f" * (cos(radians({mid!r})) * cos(radians({mid!r}))))))"
    )


def _ohsome_count_density_oracle() -> str:
    cut = _CONTRIB_ORACLE.index("SELECT\n  CASE WHEN NOT visible")
    cases = " || ".join(
        f"CASE WHEN lon >= {x0!r} AND lon <= {x1!r} AND lat >= {y0!r} AND lat <= {y1!r} "
        f"THEN ['{fid}'] ELSE [] END"
        for fid, x0, y0, x1, y1 in _GRID_FEATURES
    )
    area_case = "CASE country " + " ".join(
        f"WHEN '{fid}' THEN {_rect_area_sql(x0, y0, x1, y1)}"
        for fid, x0, y0, x1, y1 in _GRID_FEATURES
    ) + " END"
    return (
        _CONTRIB_ORACLE[:cut]
        + f"""
    SELECT country, snap_ts,
           CAST(count(*) AS BIGINT) AS n_live,
           round(count(*) / (({area_case}) / 1e6 / 1e6), 6)
             AS density_per_mkm2
    FROM (
      SELECT unnest({cases}) AS country, s.snap_ts
      FROM (SELECT (eff).lon AS lon, (eff).lat AS lat,
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


@_register("ohsome_count_density_series", _ohsome_count_density_oracle())
def ohsome_count_density_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ohsome API's density endpoint shape — /elements/count/density
    grouped by boundary and snapshot: live count divided by the
    boundary's geodesic area (per MILLION km² here, keeping the quotient
    O(1-100) so 6dp rounding is meaningful). The boundary areas come from
    the engine's own ``ring_area`` (A8) evaluated driver-side over the
    dimension-sized boundary list and broadcast; the oracle replays the
    spherical-excess arithmetic per rectangle. Scale shape: identical to
    ohsome_count_series plus one broadcast dim join."""
    import numpy as np

    from ..functions.geodesic import ring_area
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
    dim = spark.createDataFrame(
        [
            (
                fid,
                float(
                    abs(
                        ring_area(
                            np.array([x0, x1, x1, x0, x0]),
                            np.array([y0, y0, y1, y1, y0]),
                        )
                    )
                )
                / 1e6
                / 1e6,
            )
            for fid, x0, y0, x1, y1 in _GRID_FEATURES
        ],
        "country string, area_mkm2 double",
    )
    pts = live.select(
        "valid_from", "valid_to",
        F.col("centroid.x").alias("lon"),
        F.col("centroid.y").alias("lat"),
    )
    tagged = join_countries(pts, feats).select(
        F.explode("countries").alias("country"), "valid_from", "valid_to"
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
        .agg(F.count(F.lit(1)).alias("n_live"))
        .join(F.broadcast(dim), "country")
        .select(
            "country", "snap_ts", "n_live",
            F.round(F.col("n_live") / F.col("area_mkm2"), 6).alias(
                "density_per_mkm2"
            ),
        )
        .orderBy("country", "snap_ts")
    )


def _ohsome_groupby_type_oracle() -> str:
    cut = _CONTRIB_ORACLE.index("SELECT\n  CASE WHEN NOT visible")
    poly = _polygon_area_ctes()
    merged = _CONTRIB_ORACLE[:cut].rstrip() + ", " + poly.split("WITH ", 1)[1]
    return merged + """
, snaps AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-04',
                                TIMESTAMP '2024-02-01',
                                INTERVAL 7 DAY)) AS snap_ts
)
SELECT osm_type, snap_ts, CAST(count(*) AS BIGINT) AS n_live
FROM (
  SELECT 'node' AS osm_type, s.snap_ts
  FROM (SELECT ts AS valid_from,
               coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to
        FROM final WHERE visible AND eff IS NOT NULL) c
  JOIN snaps s ON c.valid_from <= s.snap_ts AND s.snap_ts < c.valid_to
  UNION ALL
  SELECT 'way' AS osm_type, s.snap_ts
  FROM areas a
  JOIN snaps s
    ON a.wts <= s.snap_ts AND (a.wts_end IS NULL OR s.snap_ts < a.wts_end)
)
GROUP BY osm_type, snap_ts
ORDER BY osm_type, snap_ts
"""


@_register("ohsome_count_groupby_type", _ohsome_groupby_type_oracle())
def ohsome_count_groupby_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ohsome API /elements/count/groupBy/type endpoint shape — live
    element counts split by OSM type at weekly snapshots, composed over
    TWO staged contribution tables (the node stream and the closed-way
    polygon stream) with one union. The oracle merges both tables' CTE
    derivations into a single DuckDB statement. Scale shape: both fact
    scans are map-side until the final (type, snap_ts) aggregation; the
    snapshot dim broadcasts into each."""
    snaps = spark.range(1).select(
        F.explode(
            F.expr(
                "sequence(to_timestamp('2024-01-04'), "
                "to_timestamp('2024-02-01'), interval 7 days)"
            )
        ).alias("snap_ts")
    )
    live = F.col("status").isin("history", "latest")
    nodes = (
        _node_contribs_table(spark, sf_dir)
        .filter(live)
        .select(F.lit("node").alias("osm_type"), "valid_from", "valid_to")
    )
    ways = (
        _polygon_contribs_table(spark, sf_dir)
        .filter(live)
        .select(F.lit("way").alias("osm_type"), "valid_from", "valid_to")
    )
    return (
        nodes.unionByName(ways)
        .join(
            F.broadcast(snaps),
            (F.col("valid_from") <= F.col("snap_ts"))
            & (F.col("snap_ts") < F.col("valid_to")),
        )
        .groupBy("osm_type", "snap_ts")
        .agg(F.count(F.lit(1)).alias("n_live"))
        .orderBy("osm_type", "snap_ts")
    )


# ===========================================================================
# relation contribution pipeline (flagship #3): nested member streams
# ===========================================================================

_CONTRIB_RELS_ORACLE = (
    _WAY_INSTANT_CTES
    + f"""
, way_events AS (
  -- member way streams = the ways' own contribution instants (with minors)
  SELECT wid, inst_ts AS wets, inst_cs AS wecs, xs, ys,
         CAST(row_number() OVER (PARTITION BY wid ORDER BY inst_ts, wv, inst_cs) AS INT) AS seq
  FROM geoms
), rels AS (
  SELECT CAST(n.n_regionkey AS BIGINT) AS rid,
         make_timestamp(CAST({_EPOCH_2024} + 8 * 86400 + 3600 AS BIGINT) * 1000000) AS rts,
         CAST(5000 + n.n_regionkey AS BIGINT) AS rcs,
         list_sort(array_agg(CAST(n.n_nationkey AS BIGINT))) AS member_ids
  FROM nation n GROUP BY n.n_regionkey
), rel_ev AS (
  -- relation cs (>= 5000) disjoint from every member cs -> no init fold
  SELECT r.rid, r.rts, r.rcs, e.wid, e.wets, e.wecs, e.xs, e.ys, e.seq,
         e.wets <= r.rts AS is_init
  FROM rels r, UNNEST(r.member_ids) AS t(mw)
  JOIN way_events e ON e.wid = t.mw
), rminor AS (
  SELECT *, sum(new_run) OVER (PARTITION BY rid ORDER BY wets, wecs, wid, seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_idx
  FROM (
    SELECT *, CASE WHEN wecs IS DISTINCT FROM
                 lag(wecs) OVER (PARTITION BY rid ORDER BY wets, wecs, wid, seq)
               THEN 1 ELSE 0 END AS new_run
    FROM rel_ev WHERE NOT is_init
  )
), rruns AS (
  SELECT rid, run_idx, max(wets) AS inst_ts, min(wecs) AS inst_cs
  FROM rminor GROUP BY 1, 2
), rinstants AS (
  SELECT rid, CAST(0 AS BIGINT) AS run_idx, rts AS inst_ts, rcs AS inst_cs FROM rels
  UNION ALL SELECT rid, run_idx, inst_ts, inst_cs FROM rruns
), rstates AS (
  SELECT rid, wid, CAST(0 AS BIGINT) AS k, 0 AS probe, seq AS ord_s,
         struct_pack(sxs := xs, sys := ys) AS st
  FROM rel_ev WHERE is_init
  UNION ALL
  SELECT rid, wid, run_idx AS k, 0 AS probe, seq AS ord_s,
         struct_pack(sxs := xs, sys := ys) AS st
  FROM rminor
), rprobes AS (
  SELECT i.rid, t.mw AS wid, i.run_idx AS k, 1 AS probe, 2147483647 AS ord_s,
         CAST(NULL AS STRUCT(sxs DOUBLE[], sys DOUBLE[])) AS st
  FROM rinstants i JOIN rels r ON r.rid = i.rid, UNNEST(r.member_ids) AS t(mw)
), rresolved AS (
  SELECT *, last_value(st IGNORE NULLS) OVER (
           PARTITION BY rid, wid ORDER BY k, probe, ord_s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_st
  FROM (SELECT * FROM rstates UNION ALL SELECT * FROM rprobes)
), rmembers AS (
  SELECT rid, k,
         CAST(count(*) AS INT) AS members_count,
         CAST(count(CASE WHEN asof_st IS NOT NULL AND len((asof_st).sxs) > 0 THEN 1 END) AS INT) AS n_geoms,
         min(list_min((asof_st).sxs)) AS bxmin,
         min(list_min((asof_st).sys)) AS bymin,
         max(list_max((asof_st).sxs)) AS bxmax,
         max(list_max((asof_st).sys)) AS bymax
  FROM rresolved WHERE probe = 1
  GROUP BY rid, k
), rcontribs AS (
  SELECT i.rid, i.inst_ts, i.inst_cs, m.members_count, m.n_geoms,
         m.bxmin, m.bymin, m.bxmax, m.bymax,
         lead(i.inst_ts) OVER w AS next_ts,
         CAST(row_number() OVER (PARTITION BY i.rid ORDER BY i.inst_ts, i.inst_cs) - 1 AS INT) AS osm_minor_version,
         CAST(row_number() OVER w AS INT) AS osm_edits
  FROM rinstants i JOIN rmembers m ON m.rid = i.rid AND m.k = i.run_idx
  WINDOW w AS (PARTITION BY i.rid ORDER BY i.inst_ts, i.inst_cs)
)
SELECT rid AS osm_id, 1 AS osm_version, osm_minor_version, osm_edits,
       inst_ts AS valid_from,
       coalesce(next_ts, TIMESTAMP '2222-01-01') AS valid_to,
       CASE WHEN n_geoms = 0 THEN 'invalid'
            WHEN next_ts IS NOT NULL THEN 'history' ELSE 'latest' END AS status,
       members_count, n_geoms,
       round(bxmin, 6) AS bxmin, round(bymin, 6) AS bymin,
       round(bxmax, 6) AS bxmax, round(bymax, 6) AS bymax
FROM rcontribs
ORDER BY osm_id, osm_edits
"""
)


def _derived_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One route-relation per region, its member ways the nations of that
    region (relation changesets >= 5000, disjoint from member ranges)."""
    nat = _t(spark, sf_dir, "nation")
    member_struct = F.transform(
        F.col("member_ids"),
        lambda i: F.struct(
            F.lit("way").alias("type"), i.alias("id"), F.lit("").alias("role")
        ),
    )
    return (
        nat.groupBy(F.col("n_regionkey").cast("bigint").alias("osm_id"))
        .agg(F.sort_array(F.collect_list(F.col("n_nationkey").cast("bigint"))).alias("member_ids"))
        .select(
            "osm_id",
            F.lit(1).cast("int").alias("version"),
            F.timestamp_seconds(F.lit(_EPOCH_2024 + 8 * 86400 + 3600)).alias("ts"),
            (F.lit(5000) + F.col("osm_id")).cast("bigint").alias("changeset"),
            F.lit(0).alias("user_id"),
            F.lit("u").alias("user_name"),
            F.lit(True).alias("visible"),
            F.expr("map('type','route')").alias("tags"),
            member_struct.alias("members"),
        )
    )


@_register("contrib_relations", _CONTRIB_RELS_ORACLE)
def contrib_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship #3: the NESTED temporal merge — relations whose member way
    streams carry their own minor versions, collection bbox/validity and
    counters oracle-checked stage by stage."""
    from ..session import truncate_lineage_many

    # seam all three derived input histories once: the nested merge
    # embeds each side many times, re-running the derivations per
    # embedding (interleaved A/B at sf0.1: 0.93 for the three-way seam;
    # ways+nodes alone measured a wash — the relation-side embeddings
    # carry the weight here)
    ways, nodes, rels = truncate_lineage_many([
        *_derived_way_inputs(spark, sf_dir),
        _derived_relations(spark, sf_dir),
    ])
    contribs = synthesize_contributions(relation_contribution_events(rels, ways, nodes))
    n_geoms = F.size(F.filter(F.col("members"), lambda m: m["geometry"].isNotNull()))
    return contribs.select(
        "osm_id",
        "osm_version",
        "osm_minor_version",
        "osm_edits",
        "valid_from",
        "valid_to",
        "status",
        "members_count",
        n_geoms.cast("int").alias("n_geoms"),
        F.round("bbox.xmin", 6).alias("bxmin"),
        F.round("bbox.ymin", 6).alias("bymin"),
        F.round("bbox.xmax", 6).alias("bxmax"),
        F.round("bbox.ymax", 6).alias("bymax"),
    ).orderBy("osm_id", "osm_edits")


# ===========================================================================
# the queryability contract: temporal snapshot over contributions
# (docs/useful_queries.md:7-19 — "elements visible on a date")
# ===========================================================================

_SNAPSHOT_ORACLE = (
    "WITH contribs AS (" + _CONTRIB_ORACLE.replace("ORDER BY osm_id, osm_edits", "") + ")"
    + """
    SELECT osm_id, osm_version, osm_minor_version, contrib_type, cx, cy
    FROM contribs
    WHERE valid_from <= TIMESTAMP '2024-01-15'
      AND TIMESTAMP '2024-01-15' < valid_to
      AND status <> 'deleted'
    ORDER BY osm_id
    """
)


@_register("snapshot_at_date", _SNAPSHOT_ORACLE)
def snapshot_at_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The output dataset's temporal-snapshot contract: one row per element
    VISIBLE at the snapshot instant (validity interval covers it, not
    deleted). This is the reference's canonical downstream query — served
    from the staged contributions table (produce-then-query), so the scan
    prunes to 6 columns and pushes the validity filter into parquet."""
    contribs = _node_contribs_table(spark, sf_dir)
    t = F.lit("2024-01-15").cast("timestamp")
    return (
        contribs.filter(
            (F.col("valid_from") <= t)
            & (t < F.col("valid_to"))
            & (F.col("status") != "deleted")
        )
        .select(
            "osm_id",
            "osm_version",
            "osm_minor_version",
            "contrib_type",
            F.round("centroid.x", 6).alias("cx"),
            F.round("centroid.y", 6).alias("cy"),
        )
        .orderBy("osm_id")
    )


# ===========================================================================
# embedding near-duplicate pairs (label-bucketed cosine)
# ===========================================================================


@_register(
    "embedding_near_dups",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round(
             list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(
             list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
    ORDER BY vec_a, vec_b
    """,
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection, label-bucketed: the equi-join on
    the cluster label prunes the candidate space (the IVF idea — at scale
    the label comes from a coarse quantizer), exact cosine inside buckets."""
    from ..operators.similarity import dot_expr, norm_expr

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    # precompute norms ONCE per vector before the pair join — recomputing
    # them inside the pair-level cosine tripled the per-pair work
    normed = emb.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    ).withColumn("nrm", norm_expr(F.col("v")))
    a = normed.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = normed.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return staged_sort(
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.3)
        .select("vec_a", "vec_b", "label", "cosine"),
        "vec_a",
        "vec_b",
    )


__all__ = [n for n in dict(globals()) if not n.startswith("__")]
