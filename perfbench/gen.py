"""Seeded input generators for the benchmark workloads.

Everything here is plain Python + pyarrow on top of the repository's own
encoders (``sources.pbf_encoder``, ``sources.osmxml.encode_osc``,
``sources.warc``); nothing runs on Spark, so generation cost and the
ground truth it returns are independent of the engine under test.

Sizes are fixed per workload; only the content varies with the seed, so
runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import gzip
import math
import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

T0 = datetime(2012, 1, 1, tzinfo=timezone.utc)
T_END = datetime(2024, 1, 1, tzinfo=timezone.utc)  # every generated edit is before this
LON0, LAT0, SPAN = 8.0, 49.0, 1.0  # generated extent: [8, 9] x [49, 50]

POI_VALUES = ("cafe", "restaurant", "pharmacy", "school", "bench", "toilets")
HIGHWAY_VALUES = ("residential", "primary", "service", "track", "footway")
BUILDING_VALUES = ("yes", "house", "apartments", "retail")
HASHTAGS = ("#missingmaps", "#hotosm", "#mapathon", "#osmgeoweek")
EDITORS = ("JOSM/1.5", "iD 2.20", "StreetComplete", "Potlatch 2")
REL_VERSIONS = 3


def _ms(t: datetime) -> int:
    return int(t.timestamp() * 1000)


def heavy_tailed_counts(rng: random.Random, n: int, total: int, cap: int) -> list[int]:
    """``n`` positive counts summing to exactly ``total`` with a Pareto
    tail (a few elements carry many versions), each at most ``cap``."""
    if total < n:
        raise ValueError("total must be >= n")
    w = [min(rng.paretovariate(1.1), 1e4) for _ in range(n)]
    extra = total - n
    s = sum(w)
    counts = [1 + min(cap - 1, int(extra * x / s)) for x in w]
    short = total - sum(counts)
    order = sorted(range(n), key=lambda i: -w[i])
    i = 0
    while short > 0:  # hand the rounding remainder to the heaviest ids
        j = order[i % n]
        if counts[j] < cap:
            counts[j] += 1
            short -= 1
        i += 1
    return counts


class _Clock:
    """Monotonic changeset ids + per-element increasing timestamps."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.cs = 1000

    def next_cs(self) -> int:
        self.cs += 1
        return self.cs

    def versions(self, start: datetime, n: int) -> list[datetime]:
        """``n`` increasing edit times from ``start``; gaps shrink with
        ``n`` so a long history still ends before ``T_END``."""
        max_gap = max(1, min(90, (T_END - start).days // n - 1))
        out, t = [], start
        for _ in range(n):
            out.append(t)
            t = t + timedelta(days=self.rng.randint(0, max_gap - 1),
                              seconds=self.rng.randint(1, 86399))
        return out


def osm_history(seed: int, n_poi: int, n_ways: int, n_rels: int, total_versions: int) -> dict:
    """Full-history extract: tagged POI nodes, tagged ways over untagged
    vertex nodes, multipolygon relations over 1-4 untagged closed member
    ways. Versions per element are heavy-tailed and sum to
    ``total_versions`` exactly across all elements.

    Returns the entity row lists (``write_history_pbf`` format) plus the
    ground truth the output checks compare against."""
    rng = random.Random(seed)
    clock = _Clock(rng)
    users = [(i + 1, f"user{i + 1}") for i in range(200)]

    def user():  # Zipf-ish: a few very active mappers
        return users[min(int(rng.paretovariate(1.3)) - 1, len(users) - 1)]

    # -- geometry skeleton -------------------------------------------------
    next_id = [1]

    def nid():
        next_id[0] += 1
        return next_id[0]

    node_specs = []  # (osm_id, lon, lat, tags or None, first_ts)
    way_specs = []  # (osm_id, refs, tags or None, first_ts)
    for _ in range(n_poi):
        node_specs.append((nid(), LON0 + rng.random() * SPAN, LAT0 + rng.random() * SPAN,
                           {"amenity": rng.choice(POI_VALUES)}, None))

    def ring(cx, cy, r, k, first):
        ids = []
        for j in range(k):
            a = 2 * math.pi * j / k
            i = nid()
            node_specs.append((i, cx + r * math.cos(a), cy + r * 0.7 * math.sin(a), None, first))
            ids.append(i)
        return ids + [ids[0]]

    def line(cx, cy, k, first):
        ids = []
        for j in range(k):
            i = nid()
            node_specs.append((i, cx + 0.001 * j, cy + 0.0007 * rng.random(), None, first))
            ids.append(i)
        return ids

    for w in range(n_ways):
        cx, cy = LON0 + rng.random() * SPAN * 0.98, LAT0 + rng.random() * SPAN * 0.98
        first = T0 + timedelta(days=rng.randint(0, 1500))
        if w % 2 == 0:
            refs = ring(cx, cy, 0.0004, 4, first)
            tags = {"building": rng.choice(BUILDING_VALUES)}
        else:
            refs = line(cx, cy, rng.randint(2, 8), first)
            tags = {"highway": rng.choice(HIGHWAY_VALUES)}
        way_specs.append((nid(), refs, tags, first))

    rel_specs = []  # (osm_id, member way ids, tags, first_ts)
    # relation members (ways and their nodes) have one version each and
    # every relation has REL_VERSIONS versions, so the relation output
    # (one multipolygon rebuild per relation version) has the same size
    # for every seed
    frozen: set[int] = set()
    for r in range(n_rels):
        k = rng.randint(1, 4)
        cx, cy = LON0 + 0.05 + rng.random() * 0.8, LAT0 + 0.05 + rng.random() * 0.8
        first = T0 + timedelta(days=rng.randint(0, 1500))
        members = []
        for m in range(k):
            refs = ring(cx + m * 0.003, cy, 0.001, 4, first)
            wid = nid()
            way_specs.append((wid, refs, None, first))
            members.append(wid)
            frozen.update(refs)
            frozen.add(wid)
        rel_specs.append((nid(), members, {"type": "multipolygon",
                                           "landuse": rng.choice(("forest", "meadow", "farmland"))},
                          first))

    frozen.update(r[0] for r in rel_specs)
    n_fixed = len(frozen) + (REL_VERSIONS - 1) * len(rel_specs)
    n_free = len(node_specs) + len(way_specs) + len(rel_specs) - len(frozen)
    free_counts = iter(heavy_tailed_counts(rng, n_free, total_versions - n_fixed, cap=300))
    rel_ids = {r[0] for r in rel_specs}

    def n_versions(osm_id: int) -> int:
        if osm_id in rel_ids:
            return REL_VERSIONS
        return 1 if osm_id in frozen else next(free_counts)

    # -- histories ---------------------------------------------------------
    nodes, ways, rels = [], [], []
    latest = {}  # (type, id) -> last version
    for osm_id, lon, lat, tags, first in node_specs:
        start = first - timedelta(days=30) if first else T0 + timedelta(days=rng.randint(0, 3000))
        n = n_versions(osm_id)
        for v, ts in enumerate(clock.versions(start, n), 1):
            uid, uname = user()
            t = dict(tags) if tags else {}
            if tags and v > 1 and rng.random() < 0.5:
                t["name"] = f"poi {osm_id} v{v}"
            nodes.append(dict(osm_id=osm_id, version=v, ts_ms=_ms(ts), changeset=clock.next_cs(),
                              uid=uid, user=uname, visible=True, tags=t,
                              lon=round(lon + 0.00001 * (v - 1), 7), lat=round(lat, 7)))
        latest[("node", osm_id)] = n
    for osm_id, refs, tags, first in way_specs:
        n = n_versions(osm_id)
        for v, ts in enumerate(clock.versions(first, n), 1):
            uid, uname = user()
            t = dict(tags) if tags else {}
            if tags and v > 1 and rng.random() < 0.5:
                t["surface"] = rng.choice(("asphalt", "gravel", "paved"))
            ways.append(dict(osm_id=osm_id, version=v, ts_ms=_ms(ts), changeset=clock.next_cs(),
                             uid=uid, user=uname, visible=True, tags=t, refs=list(refs)))
        latest[("way", osm_id)] = n
    for osm_id, members, tags, first in rel_specs:
        n = n_versions(osm_id)
        for v, ts in enumerate(clock.versions(first + timedelta(days=1), n), 1):
            uid, uname = user()
            t = dict(tags)
            if v > 1:
                t["name"] = f"area {osm_id} v{v}"
            rels.append(dict(osm_id=osm_id, version=v, ts_ms=_ms(ts), changeset=clock.next_cs(),
                             uid=uid, user=uname, visible=True, tags=t,
                             members=[{"type": "way", "id": m, "role": "outer"} for m in members]))
        latest[("relation", osm_id)] = n
    nodes.sort(key=lambda e: (e["osm_id"], e["version"]))
    ways.sort(key=lambda e: (e["osm_id"], e["version"]))
    rels.sort(key=lambda e: (e["osm_id"], e["version"]))

    tagged_ways = {w[0] for w in way_specs if w[2]}
    truth = {
        "versions": total_versions,
        # one latest-layer row per element with any tagged version (F1);
        # relations are all kept (no relation tag-key filter)
        "latest_counts": {"node": n_poi, "way": len(tagged_ways), "relation": len(rel_specs)},
        "latest_version": {
            "node": {s[0]: latest[("node", s[0])] for s in node_specs if s[3]},
            "way": {i: latest[("way", i)] for i in tagged_ways},
            "relation": {s[0]: latest[("relation", s[0])] for s in rel_specs},
        },
        "max_changeset": clock.cs,
        "node_versions_tagged": sum(latest[("node", s[0])] for s in node_specs if s[3]),
    }
    return {"nodes": nodes, "ways": ways, "relations": rels, "truth": truth}


def write_changesets(path: str, seed: int, max_cs: int) -> int:
    """Changeset table for J4 enrichment: ~90% of the ids the extract
    uses (the rest fall back to the reference's default record)."""
    rng = random.Random(seed ^ 0x5EED)
    ids, created, closed, tags, hashtags, uids, unames = [], [], [], [], [], [], []
    for cs in range(1001, max_cs + 1):
        if rng.random() < 0.1:
            continue
        ht = [rng.choice(HASHTAGS)] if rng.random() < 0.3 else []
        t0 = T0 + timedelta(seconds=cs * 37)
        ids.append(cs)
        created.append(t0)
        closed.append(t0 + timedelta(minutes=5))
        tags.append([("created_by", rng.choice(EDITORS)),
                     ("comment", "edit " + " ".join(ht))])
        hashtags.append(ht)
        uids.append(rng.randint(1, 200))
        unames.append(f"user{uids[-1]}")
    ts = pa.timestamp("us", tz="UTC")
    n = len(ids)
    table = pa.table({
        "id": pa.array(ids, pa.int64()),
        "created_at": pa.array(created, ts),
        "closed_at": pa.array(closed, ts),
        "tags": pa.array(tags, pa.map_(pa.string(), pa.string())),
        "hashtags": pa.array(hashtags, pa.list_(pa.string())),
        "user_id": pa.array(uids, pa.int64()),
        "user_name": pa.array(unames, pa.string()),
        "open": pa.array([False] * n, pa.bool_()),
        "min_lon": pa.array([LON0] * n, pa.float64()),
        "min_lat": pa.array([LAT0] * n, pa.float64()),
        "max_lon": pa.array([LON0 + SPAN] * n, pa.float64()),
        "max_lat": pa.array([LAT0 + SPAN] * n, pa.float64()),
    })
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return n


def write_countries(path: str) -> list[tuple[str, tuple]]:
    """Country file (``id;wkt``): four quadrants of the extent plus one
    small enclave, so elements land in one or two countries."""
    h = SPAN / 2
    boxes = [
        ("NW", (LON0, LAT0 + h, LON0 + h, LAT0 + SPAN)),
        ("NE", (LON0 + h, LAT0 + h, LON0 + SPAN, LAT0 + SPAN)),
        ("SW", (LON0, LAT0, LON0 + h, LAT0 + h)),
        ("SE", (LON0 + h, LAT0, LON0 + SPAN, LAT0 + h)),
        ("EN", (LON0 + 0.4, LAT0 + 0.4, LON0 + 0.6, LAT0 + 0.6)),
    ]
    with open(path, "w") as f:
        f.write("id;wkt\n")
        for cid, (x0, y0, x1, y1) in boxes:
            f.write(f"{cid};POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))\n")
    return boxes


def write_history_extract(workdir: str, seed: int, sizes: dict, n_seqs: int,
                          changes_per_seq: int) -> dict:
    """``.osh.pbf`` + changesets parquet + country CSV, and a ``file://``
    replication mirror whose first state is the extract's end followed
    by ``n_seqs`` minutely ``.osc.gz`` diffs; returns paths and the
    ground truth."""
    from ohsome_planet_spark.sources.pbf_encoder import write_history_pbf

    os.makedirs(workdir, exist_ok=True)
    h = osm_history(seed, **sizes)
    pbf = os.path.join(workdir, "extract.osh.pbf")
    write_history_pbf(pbf, h["nodes"], h["ways"], h["relations"], block_size=4000)
    cs = os.path.join(workdir, "changesets.parquet")
    write_changesets(cs, seed, h["truth"]["max_changeset"])
    countries = os.path.join(workdir, "countries.csv")
    write_countries(countries)
    mirror = os.path.join(workdir, "mirror")
    seqs = write_mirror(mirror, seed, h, n_seqs, changes_per_seq)
    data = os.path.join(workdir, "replication")
    write_store(data, h)
    return {"pbf": pbf, "changesets": cs, "countries": countries, "mirror": mirror,
            "seqs": seqs, "data": data, "truth": h["truth"]}


# ---------------------------------------------------------------------------
# replication: history store + file:// mirror of .osc.gz diffs
# ---------------------------------------------------------------------------

_HIST_FIELDS = [
    ("osm_type", pa.string()), ("osm_id", pa.int64()), ("version", pa.int32()),
    ("ts", pa.timestamp("us", tz="UTC")), ("changeset", pa.int64()),
    ("user_id", pa.int64()), ("user_name", pa.string()), ("visible", pa.bool_()),
    ("tags", pa.map_(pa.string(), pa.string())),
]


def _history_table(rows: list[dict], osm_type: str) -> pa.Table:
    extra = ([("lon", pa.float64()), ("lat", pa.float64())] if osm_type == "node"
             else [("refs", pa.list_(pa.int64()))])
    cols = {
        "osm_type": [osm_type] * len(rows),
        "osm_id": [r["osm_id"] for r in rows],
        "version": [r["version"] for r in rows],
        "ts": [datetime.fromtimestamp(r["ts_ms"] / 1000, timezone.utc) for r in rows],
        "changeset": [r["changeset"] for r in rows],
        "user_id": [r["uid"] for r in rows],
        "user_name": [r["user"] for r in rows],
        "visible": [r["visible"] for r in rows],
        "tags": [list(r["tags"].items()) for r in rows],
    }
    if osm_type == "node":
        cols["lon"] = [r["lon"] for r in rows]
        cols["lat"] = [r["lat"] for r in rows]
    else:
        cols["refs"] = [r["refs"] for r in rows]
    return pa.table(cols, schema=pa.schema(_HIST_FIELDS + extra))


def write_store(data: str, h: dict) -> None:
    """The replication history store (``<data>/nodes``, ``<data>/ways``)
    holding every node and way version of the extract, and its
    ``state.txt`` at sequence 0 — what the import's replication init
    (``cli contributions --data --replication-endpoint``) writes."""
    for sub, rows, typ in (("nodes", h["nodes"], "node"), ("ways", h["ways"], "way")):
        os.makedirs(os.path.join(data, sub), exist_ok=True)
        pq.write_table(_history_table(rows, typ),
                       os.path.join(data, sub, "part-00000-seed.parquet"))
    with open(os.path.join(data, "state.txt"), "w") as f:
        f.write(_state_text(0, _extract_end(h)))


def _extract_end(h: dict) -> datetime:
    last_ts = max(e["ts_ms"] for e in h["nodes"] + h["ways"] + h["relations"])
    return datetime.fromtimestamp(last_ts // 1000, timezone.utc)


def _state_text(seq: int, ts: datetime) -> str:
    iso = ts.strftime("%Y-%m-%dT%H:%M:%SZ").replace(":", "\\:")
    return f"sequenceNumber={seq}\ntimestamp={iso}\n"


def sequence_rel(seq: int) -> str:
    s = f"{seq:09d}"
    return f"{s[0:3]}/{s[3:6]}/{s[6:9]}"


def write_mirror(mirror: str, seed: int, h: dict, n_seqs: int, changes_per_seq: int) -> list[dict]:
    """A replication server directory laid out like the public one from
    sequence 0: state 0 at the extract's last edit and ``n_seqs``
    minutely diffs after it that evolve the extract's latest versions.
    The top-level ``state.txt`` names sequence 0; later sequences are
    published by :func:`publish_state`. Returns per-sequence ground
    truth."""
    from ohsome_planet_spark.sources.osmxml import encode_osc

    rng = random.Random(seed ^ 0xD1FF)
    t_start = _extract_end(h)
    base = os.path.join(mirror, sequence_rel(0))
    os.makedirs(os.path.dirname(base), exist_ok=True)
    with open(base + ".state.txt", "w") as f:
        f.write(_state_text(0, t_start))

    # live element state the diffs evolve
    cur_nodes = {e["osm_id"]: e for e in h["nodes"]}
    cur_ways = {e["osm_id"]: e for e in h["ways"]}
    poi_ids = sorted(i for i, e in cur_nodes.items() if e["tags"])
    vertex_ids = sorted(i for i, e in cur_nodes.items() if not e["tags"])
    way_ids = sorted(i for i, e in cur_ways.items() if e["tags"])
    next_id = max(list(cur_nodes) + list(cur_ways)) + 1000
    cs = 10_000_000
    seqs = []
    for k in range(1, n_seqs + 1):
        seq = k
        ts = t_start + timedelta(minutes=k)
        changes, touched, tagged = [], {}, {}
        cs += 1
        uid = rng.randint(1, 200)
        # the minutely mix: POI edits, vertex moves (way minor versions),
        # way tag edits, new tagged POIs, a few POI deletions
        for _ in range(changes_per_seq):
            r = rng.random()
            if r < 0.35:
                i = rng.choice(poi_ids)
                prev = cur_nodes[i]
                if not prev["visible"]:
                    continue
                tags = dict(prev["tags"])
                tags["name"] = f"poi {i} seq{seq}"
                e = dict(prev, version=prev["version"] + 1, tags=tags)
            elif r < 0.6:
                i = rng.choice(vertex_ids)
                prev = cur_nodes[i]
                e = dict(prev, version=prev["version"] + 1,
                         lon=round(prev["lon"] + 0.00002, 7))
            elif r < 0.8:
                i = rng.choice(way_ids)
                prev = cur_ways[i]
                tags = dict(prev["tags"])
                tags["maxspeed"] = str(rng.choice((30, 50, 70)))
                e = dict(prev, version=prev["version"] + 1, tags=tags)
            elif r < 0.95:
                next_id += 1
                e = dict(osm_id=next_id, version=1, tags={"amenity": rng.choice(POI_VALUES)},
                         lon=round(LON0 + rng.random() * SPAN, 7),
                         lat=round(LAT0 + rng.random() * SPAN, 7), visible=True)
                poi_ids.append(next_id)
            else:
                i = rng.choice(poi_ids)
                prev = cur_nodes[i]
                if not prev["visible"]:
                    continue
                e = dict(prev, version=prev["version"] + 1, visible=False, tags={})
            typ = "way" if "refs" in e else "node"
            prev_tags = (cur_ways if typ == "way" else cur_nodes).get(e["osm_id"], {}).get("tags")
            if (typ, e["osm_id"]) in touched:
                continue  # one version per element per diff
            e.update(ts_ms=_ms(ts) - 30_000, changeset=cs, uid=uid, user=f"user{uid}")
            (cur_ways if typ == "way" else cur_nodes)[e["osm_id"]] = e
            touched[(typ, e["osm_id"])] = e["version"]
            # the manager keeps contributions with tags before or after
            tagged[(typ, e["osm_id"])] = bool(e["tags"]) or bool(prev_tags)
            row = {"osm_type": typ, "osm_id": e["osm_id"], "version": e["version"],
                   "ts": datetime.fromtimestamp(e["ts_ms"] / 1000, timezone.utc),
                   "changeset": cs, "user_id": uid, "user_name": f"user{uid}",
                   "visible": e["visible"], "tags": e["tags"]}
            if typ == "node":
                row.update(lon=e["lon"], lat=e["lat"])
            else:
                row["refs"] = e["refs"]
            changes.append(row)
        base = os.path.join(mirror, sequence_rel(seq))
        os.makedirs(os.path.dirname(base), exist_ok=True)
        with open(base + ".osc.gz", "wb") as f:
            f.write(gzip.compress(encode_osc(changes), mtime=0))
        with open(base + ".state.txt", "w") as f:
            f.write(_state_text(seq, ts))
        seqs.append({"seq": seq, "ts": ts, "touched": touched, "tagged": tagged,
                     "changes": len(changes)})
    publish_state(mirror, {"seq": 0, "ts": t_start})
    return seqs


def publish_state(mirror: str, seq_info: dict) -> None:
    """Advance the mirror's top-level ``state.txt`` (what the upstream
    replication server does once a minute)."""
    tmp = os.path.join(mirror, "state.txt.tmp")
    with open(tmp, "w") as f:
        f.write(_state_text(seq_info["seq"], seq_info["ts"]))
    os.replace(tmp, os.path.join(mirror, "state.txt"))


# ---------------------------------------------------------------------------
# crawl: WARC archives with planted duplicates / boilerplate / holdout
# ---------------------------------------------------------------------------

# ~400 content words: a vocabulary this size keeps the repeated-token share
# of a page well under the curation funnel's repetition gate, so which
# pages are kept depends on the planted duplicates and holdout copies only
_STEMS = (
    "river bridge market garden school station village forest harbor museum "
    "library mountain valley castle church square street field meadow tower"
).split()
_ENDINGS = (
    "", "side", "land", "ward", "ton", "ford", "mere", "gate", "wood", "hill",
    "dale", "burn", "moor", "stead", "wick", "holm", "by", "thorpe", "worth", "shaw",
)
_WORDS = [s + e for s in _STEMS for e in _ENDINGS]
BOILERPLATE = (
    "Subscribe to our newsletter to receive the latest updates about events "
    "offers and stories from the whole region every single week of the year. "
    "We respect your privacy and you can unsubscribe from these messages at any "
    "time by following the link at the bottom of every email we send to you. "
    "Copyright notice all rights reserved by the regional tourism board and its "
    "partners and no part of this site may be copied without written permission."
)
BOILERPLATE_PROBE = "unsubscribe from these messages"


_STOP = ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")


def _sentence(rng: random.Random, k: int) -> str:
    w = [rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(_WORDS) for _ in range(k)]
    return " ".join(w).capitalize() + "."


def _doc_text(rng: random.Random, n_lines: int, boiler: bool) -> str:
    lines = [_sentence(rng, rng.randint(8, 16)) for _ in range(n_lines)]
    if boiler:
        lines.insert(rng.randint(0, n_lines), BOILERPLATE)
    return "\n".join(lines)


def _html(text: str, seed_id: int) -> bytes:
    paras = "".join(f"<p>{line}</p>\n" for line in text.split("\n"))
    return (
        "<!doctype html><html><head><title>page %d</title>"
        "<script>var x = 1;</script></head><body><nav>Home | About</nav>"
        "<article>\n%s</article><footer>footer</footer></body></html>" % (seed_id, paras)
    ).encode()


def write_crawl_inputs(workdir: str, seed: int, sizes: dict) -> dict:
    """WARC archives of HTTP responses (plus request/metadata records),
    with planted exact-duplicate groups, boilerplate paragraphs shared
    across many documents, pages that fail the C4 line filter, and copies
    of held-out evaluation documents. Returns paths + ground truth."""
    from ohsome_planet_spark.sources.warc import encode_warc, http_response_wrap

    n_archives, docs_per_archive = sizes["n_archives"], sizes["docs_per_archive"]
    dup_groups, dup_copies = sizes["dup_groups"], sizes["dup_copies"]
    n_holdout, n_contaminated = sizes["n_holdout"], sizes["n_contaminated"]

    if n_contaminated > n_holdout:
        raise ValueError("each contaminated page copies a distinct holdout document")
    rng = random.Random(seed ^ 0xC4A1)
    os.makedirs(workdir, exist_ok=True)
    n_total = n_archives * docs_per_archive
    # documents that reach curate: unique long pages, short duplicate
    # pages (below the ExactSubstr span length, so the rewrite keeps them
    # byte-identical), holdout copies; plus C4 rejects (never reach curate)
    holdout = [_doc_text(rng, 6, False) for _ in range(n_holdout)]
    dup_texts = [_doc_text(rng, 3, False) for _ in range(dup_groups)]
    n_reject = n_total // 10
    n_dup_docs = dup_groups * dup_copies
    n_unique = n_total - n_reject - n_dup_docs - n_contaminated
    if n_unique <= 0:
        raise ValueError("crawl sizes leave no unique documents")
    pages = []
    for _ in range(n_unique):
        n_lines = rng.randint(5, 12)
        boiler = rng.random() < sizes["boiler_frac"]
        pages.append(("unique", _doc_text(rng, n_lines, boiler)))
    for g in range(dup_groups):
        pages += [("dup", dup_texts[g])] * dup_copies
    for c in range(n_contaminated):
        pages.append(("contaminated", holdout[c % n_holdout]))
    for _ in range(n_reject):
        # C4 rejects: too few terminal-punctuated lines / lorem ipsum
        if rng.random() < 0.5:
            pages.append(("reject", "lorem ipsum dolor sit amet.\n" + _doc_text(rng, 4, False)))
        else:
            pages.append(("reject", "menu\nhome\ncontact us"))
    rng.shuffle(pages)

    paths = []
    for a in range(n_archives):
        recs = [{"warc_type": "warcinfo", "payload": b"software: perfbench\r\n"}]
        for j in range(docs_per_archive):
            idx = a * docs_per_archive + j
            kind, text = pages[idx]
            uri = f"https://site{idx % 97}.example/page/{idx}"
            recs.append({"warc_type": "request", "target_uri": uri,
                         "payload": b"GET / HTTP/1.1\r\nHost: example\r\n\r\n"})
            body = http_response_wrap(
                _html(text, idx), chunked=(idx % 5 == 0),
                content_encoding="gzip" if idx % 7 == 0 else None)
            recs.append({"warc_type": "response", "target_uri": uri,
                         "record_id": f"<urn:uuid:{seed:08x}-{idx:08x}>",
                         "date": "2024-01-01T00:00:00Z",
                         "content_type": "application/http; msgtype=response",
                         "payload": body})
        p = os.path.join(workdir, f"crawl-{a:04d}.warc.gz")
        with open(p, "wb") as f:
            f.write(encode_warc(recs, gzip_records=True))
        paths.append(p)
    hold = os.path.join(workdir, "holdout.parquet")
    os.makedirs(hold, exist_ok=True)
    pq.write_table(pa.table({"text": holdout}), os.path.join(hold, "part-0.parquet"))
    truth = {
        "responses": n_total,
        "to_curate": n_total - n_reject,
        "exact_dups": dup_groups * (dup_copies - 1),
        "contaminated": n_contaminated,
        # every other page passes the quality and repetition gates
        "kept": n_total - n_reject - dup_groups * (dup_copies - 1) - n_contaminated,
    }
    return {"archives": paths, "holdout": hold, "truth": truth}
