"""Hypothesis property tests for the round-7 operators — each property is
the operator's load-bearing guarantee:

- chunk_documents: dropping each non-first chunk's overlap prefix and
  concatenating reconstructs the original token stream exactly (no token
  lost, duplicated beyond the declared overlap, or reordered);
- span_duplication: a document duplicated verbatim has dup_fraction 1.0
  on both copies, and n_spans is exactly max(n_tokens − n + 1, 0);
- PBF decode: random entity histories encoded with the test wire-format
  encoder round-trip through read_pbf field-for-field (ids, versions,
  timestamps, tags, refs, visibility — the S1–S6 path under arbitrary
  deltas/signs, not just the fixture values).
"""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ohsome_planet_spark.operators.dedup import span_duplication
from ohsome_planet_spark.operators.packing import chunk_documents

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.lists(
    st.sampled_from(["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]),
    min_size=0,
    max_size=60,
)


@settings(**SETTINGS)
@given(
    docs=st.lists(words, min_size=1, max_size=6),
    max_tokens=st.integers(min_value=3, max_value=12),
    overlap=st.integers(min_value=0, max_value=2),
)
def test_chunk_reconstruction_property(spark, docs, max_tokens, overlap):
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id bigint, text string",
    )
    rows = chunk_documents(
        df, max_tokens=max_tokens, overlap=overlap
    ).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc, []).append(r)
    for i, toks in enumerate(docs):
        chunks = sorted(by_doc.get(i, []), key=lambda r: r.chunk_idx)
        if not toks:
            assert chunks == []
            continue
        rebuilt = []
        for j, c in enumerate(chunks):
            ctoks = c.chunk_text.split(" ")
            assert len(ctoks) == c.n_tokens <= max_tokens
            rebuilt.extend(ctoks if j == 0 else ctoks[overlap:])
        assert rebuilt == toks, (i, toks, chunks)


@settings(**SETTINGS)
@given(
    base=st.lists(words.filter(lambda t: len(t) >= 4), min_size=1, max_size=3),
    n=st.integers(min_value=2, max_value=4),
)
def test_span_duplicate_doc_property(spark, base, n):
    # corpus = each base doc twice (ids i and i+100) + one unique filler
    rows = [(i, " ".join(t)) for i, t in enumerate(base)]
    rows += [(i + 100, " ".join(t)) for i, t in enumerate(base)]
    rows.append((999, " ".join(f"unique{k}" for k in range(10))))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc: r for r in span_duplication(df, "doc_id", "text", n=n).collect()}
    for i, toks in enumerate(base):
        expected_spans = max(len(toks) - n + 1, 0)
        if expected_spans == 0:
            assert i not in out
            continue
        for doc in (i, i + 100):
            r = out[doc]
            assert r.n_spans == expected_spans
            assert r.dup_fraction == 1.0  # verbatim copy exists


entity_info = dict(
    version=st.integers(min_value=1, max_value=200),
    ts_ms=st.integers(min_value=0, max_value=2**31).map(lambda s: s * 1000),
    changeset=st.integers(min_value=0, max_value=2**40),
    uid=st.integers(min_value=0, max_value=2**31),
    user=st.sampled_from(["", "alice", "bob", "Ω-mapper"]),
    visible=st.booleans(),
)

node_st = st.fixed_dictionaries(
    dict(
        osm_id=st.integers(min_value=-(2**40), max_value=2**40),
        lon=st.integers(min_value=-1800000000, max_value=1800000000).map(
            lambda v: v / 1e7
        ),
        lat=st.integers(min_value=-900000000, max_value=900000000).map(
            lambda v: v / 1e7
        ),
        tags=st.dictionaries(
            st.sampled_from(["amenity", "name", "addr:street"]),
            st.sampled_from(["x", "café", ""]),
            max_size=2,
        ),
        **entity_info,
    )
)

way_st = st.fixed_dictionaries(
    dict(
        osm_id=st.integers(min_value=0, max_value=2**40),
        refs=st.lists(
            st.integers(min_value=-(2**40), max_value=2**40),
            min_size=0,
            max_size=6,
        ),
        tags=st.dictionaries(
            st.sampled_from(["highway", "name"]),
            st.sampled_from(["yes", "primary"]),
            max_size=2,
        ),
        **entity_info,
    )
)


@settings(**SETTINGS)
@given(
    nodes=st.lists(node_st, min_size=1, max_size=8),
    ways=st.lists(way_st, min_size=0, max_size=4),
)
def test_pbf_roundtrip_property(spark, tmp_path_factory, nodes, ways):
    from ohsome_planet_spark.sources.pbf_encoder import encode_block, write_pbf
    from ohsome_planet_spark.sources.pbf import read_pbf

    # de-dup (id, version) pairs — the wire format itself permits them but
    # row identity below needs uniqueness
    seen = set()
    nodes = [
        n
        for n in nodes
        if (0, n["osm_id"], n["version"]) not in seen
        and not seen.add((0, n["osm_id"], n["version"]))
    ]
    ways = [
        w
        for w in ways
        if (1, w["osm_id"], w["version"]) not in seen
        and not seen.add((1, w["osm_id"], w["version"]))
    ]
    tmp = tmp_path_factory.mktemp("pbf_prop")
    path = str(tmp / "t.osh.pbf")
    blocks = [encode_block(dense_nodes=nodes)]
    if ways:
        blocks.append(encode_block(ways=ways))
    write_pbf(path, blocks)
    rows = {
        (r.osm_type, r.osm_id, r.version): r
        for r in read_pbf(spark, path).collect()
    }
    assert len(rows) == len(nodes) + len(ways)
    for n in nodes:
        r = rows[("node", n["osm_id"], n["version"])]
        assert round(r.lon * 1e7) == round(n["lon"] * 1e7)
        assert round(r.lat * 1e7) == round(n["lat"] * 1e7)
        assert (r.tags or {}) == n["tags"]
        assert r.changeset == n["changeset"]
        assert r.user_id == n["uid"]
        assert r.user_name == n["user"]
        assert r.visible == n["visible"]
        assert int(r.ts.timestamp() * 1000) == n["ts_ms"]
    for w in ways:
        r = rows[("way", w["osm_id"], w["version"])]
        assert (r.refs or []) == w["refs"]
        assert (r.tags or {}) == w["tags"]
        assert r.visible == w["visible"]
