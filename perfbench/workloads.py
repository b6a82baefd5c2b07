"""The benchmark workloads and the harness they share.

Each workload function takes a :class:`Bench`, sets up its session and
seeded inputs (timed as set-up), runs its job once through the program's
public entry points, checks every output against generator ground truth
or DuckDB, and returns the result object ``run.py`` prints.
"""

from __future__ import annotations

import datetime
import glob
import os
import random
import signal
import statistics
import subprocess
import sys
import time

import duckdb

import gen
import procstat
import spans as tracing

SETUP_REPEATS = 3  # set-up is repeated; setup_s reports the median

# ---------------------------------------------------------------------------
# metric names (BENCHMARK.json)
# ---------------------------------------------------------------------------

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_ops_frac": "ratio",
    "job_wall_s": "s",
    "items_per_s": "1/s",
    "out_bytes_per_item": "B",
}

QUERY_TYPES = ("history_lookup", "bbox_count", "snapshot_agg", "daily_series", "filter_count")

PER_LAYER = {
    "session.start_s": "s",
    "pbf.scan_s": "s", "pbf.decode_s": "s", "pyworker.cpu_s": "s",
    "contributions.nodes_s": "s", "contributions.ways_s": "s",
    "contributions.relations_s": "s", "contributions.eager_jobs": "count",
    "session.truncate_lineage_calls": "count", "session.truncate_lineage_s": "s",
    "spatial.countries_s": "s", "contributions.changesets_s": "s",
    "geoparquet.write_s": "s", "geoparquet.bytes": "B", "geoparquet.files": "count",
    "geoparquet.row_groups": "count",
    "views.plan_ms": "ms", "views.exec_ms": "ms", "views.files_scanned_per_query": "count",
    "views.rows_scanned_per_result": "ratio",
    **{f"query.{q}_p50_ms": "ms" for q in QUERY_TYPES},
    "replication.seq_s": "s", "server.fetch_s": "s", "osmxml.parse_s": "s",
    "replication.advance_s": "s", "replication.rebuild_s": "s", "manager.write_s": "s",
    "manager.history_append_s": "s", "replication.jobs_per_seq": "count",
    "warc.records_s": "s", "web.extract_s": "s", "curation.c4_s": "s",
    "dedup.exact_substr_s": "s", "curation.flag_s": "s", "curation.write_s": "s",
    "driver.py_cpu_s": "s", "jvm.cpu_s": "s", "jvm.gc_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "trace.op_wall_ms": "ms",
}


def dir_parquet_stats(path: str) -> tuple[int, int, int]:
    """(bytes, files, row groups) of the parquet files under ``path``."""
    import pyarrow.parquet as pq

    nbytes = files = groups = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                full = os.path.join(d, f)
                nbytes += os.path.getsize(full)
                files += 1
                groups += pq.ParquetFile(full).metadata.num_row_groups
    return nbytes, files, groups


class _TmpRedirectPath:
    def __init__(self, tmp: str):
        self._tmp = tmp

    def join(self, first, *rest):
        return os.path.join(self._tmp if first == "/tmp" else first, *rest)

    def __getattr__(self, name):
        return getattr(os.path, name)


class _TmpRedirectOs:
    """Stands in for the ``os`` module inside ``session`` while the
    session starts: paths joined onto ``/tmp`` land in the run's temp
    directory instead, so the package zip that the program's own
    ``ship_package`` builds stays inside the checkout. Everything else is
    the real ``os``."""

    def __init__(self, tmp: str):
        self.path = _TmpRedirectPath(tmp)

    def __getattr__(self, name):
        return getattr(os, name)


class Bench:
    """Per-run state: work directory, seed, the Spark session, process
    accounting and (traced runs) the tracer."""

    def __init__(self, work: str, seed: int, trace: bool):
        self.work, self.seed, self.trace = work, seed, trace
        self.spark = None
        self._stopped = []  # stopped sessions stay referenced: session keys shipping by id()
        self.tracer = tracing.Tracer() if trace else None
        self.eventlog_dir = os.path.join(work, "eventlog")
        self.rss = procstat.RssSampler()
        self.rss.__enter__()
        self.setup_s = 0.0
        self.session_start_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._window = None

    # -- set-up ------------------------------------------------------------

    def _get_spark(self, app: str):
        from ohsome_planet_spark import session

        tmp = os.environ["TMPDIR"]
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update(tracing.eventlog_conf(self.eventlog_dir))
        session.os = _TmpRedirectOs(tmp)
        try:
            return session.get_spark(app_name=app, extra_conf=conf)
        finally:
            session.os = os

    def setup(self, app: str, generate, *args):
        """Start the program's session (``session.get_spark``) and write
        the seeded inputs into a fresh directory, ``SETUP_REPEATS`` times.
        The first start launches the JVM (per-layer ``session.start_s``);
        each later one stops the context and starts a new one in that JVM,
        so the job still meets a fresh context and fresh Python workers.
        ``setup_s`` is the median of the repetitions. Returns the last
        inputs; ``self.spark`` is the live session."""
        times = []
        inp = None
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            if self.spark is not None:
                self._stopped.append(self.spark)
                self.spark.stop()
            self.spark = self._get_spark(app)
            if i == 0:
                self.session_start_s = time.perf_counter() - t
            inp = generate(os.path.join(self.work, f"input-{i}"), *args)
            times.append(time.perf_counter() - t)
        self.setup_s = statistics.median(times)
        return inp

    # -- measurement -------------------------------------------------------

    def begin_window(self) -> None:
        self._window = {
            "t": time.time(),
            "cpu": procstat.cpu_by_role(os.getpid()),
            "py": sum(os.times()[:2]),
            "gc": self._gc_seconds(),
        }

    def end_window(self) -> dict:
        w = self._window
        cpu = procstat.cpu_by_role(os.getpid())
        return {
            "t0": w["t"], "t1": time.time(),
            "jvm.cpu_s": cpu["jvm"] - w["cpu"]["jvm"],
            "pyworker.cpu_s": cpu["pyworker"] - w["cpu"]["pyworker"],
            "driver.py_cpu_s": sum(os.times()[:2]) - w["py"],
            "jvm.gc_s": self._gc_seconds() - w["gc"],
        }

    def _gc_seconds(self) -> float:
        if self.spark is None:
            return 0.0
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.errors.append(what)
        return ok

    def op_result(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    # -- result ------------------------------------------------------------

    def result(self, e2e: dict, layers: dict) -> dict:
        self.rss.sample()
        if self.errors:
            for e in self.errors[:20]:
                print(f"perfbench check failed: {e}", file=sys.stderr)
        correct = self.failed == 0 and not self.errors and self.attempted > 0
        if not self.trace:
            vals = dict(e2e)
            vals["setup_s"] = self.setup_s
            vals["peak_rss_mb"] = self.rss.peak / 2**20
            vals["ok_ops_frac"] = (self.attempted - self.failed) / max(1, self.attempted)
            units = END_TO_END
        else:
            vals = {k: 0.0 for k in PER_LAYER}
            vals.update(layers)
            vals["session.start_s"] = self.session_start_s
            units = PER_LAYER
        metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in units.items()}
        return {"correct": bool(correct), "attempted": int(max(1, self.attempted)),
                "failed": int(self.failed if self.attempted else 1), "metrics": metrics}

    def spark_layers(self, window: dict) -> tuple[dict, dict]:
        """Stop the session (flushes the event log) and reduce it over the
        job's window: returns (per-layer job metrics, raw log)."""
        self.stop_spark()
        log = tracing.read_eventlog(self.eventlog_dir)
        jobs = jobs_between(log, window["t0"], window["t1"])
        job_ids = {j["id"] for j in jobs}
        stages = {s for s, jid in log["stage_job"].items() if jid in job_ids}
        tasks = [t for t in log["tasks"] if t["stage"] in stages]
        out = {k: window[k] for k in ("jvm.cpu_s", "pyworker.cpu_s", "driver.py_cpu_s", "jvm.gc_s")}
        out.update({
            "spark.jobs": len(jobs),
            "spark.stages": sum(j["stages"] for j in jobs),
            "spark.tasks": len(tasks),
            "spark.failed_tasks": sum(1 for t in tasks if t["failed"]),
            "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "spark.spill_bytes": sum(t["spill"] for t in tasks),
        })
        return out, log

    # -- teardown ----------------------------------------------------------

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        if self.tracer is not None:
            self.tracer.release()
            self.tracer.uninstall()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        kids = procstat.descendants(os.getpid())
        try:
            self.spark.stop()
            if gw is not None:
                gw.shutdown()
        except Exception as e:  # the JVM is already gone (SIGTERM path): reap below
            print(f"perfbench: stopping the session failed: {e!r}", file=sys.stderr)
        self.spark = None
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        _reap(kids)

    def shutdown(self) -> None:
        try:
            self.stop_spark()
        finally:
            self.rss.__exit__(None, None, None)
            _reap(procstat.descendants(os.getpid()))

    def kill_children(self) -> None:
        """SIGTERM path: the main thread may be blocked in a JVM call, so
        end the process tree first; the blocked call then fails and the
        normal cleanup runs."""
        for pid in procstat.descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def jobs_between(log: dict, t0: float, t1: float) -> list[dict]:
    return [j for j in log["jobs"] if t0 <= j["submit"] <= t1]


def _reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait for the given processes to end; kill those that outlive
    ``timeout``."""
    deadline = time.time() + timeout
    alive = [p for p in pids if _alive(p)]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            while _alive(p):
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _forced_self(st: dict, name: str) -> float:
    """Self time of a span plus its forced materialization."""
    return st.get(name, 0.0) + st.get(name + "#force", 0.0)


# ---------------------------------------------------------------------------
# query serving over the written contributions dataset (traced runs)
# ---------------------------------------------------------------------------

FILTERS = (  # (ohsome filter, DuckDB twin over the same parquet)
    ("amenity={v} and type:node", "tags['amenity'][1] = '{v}' AND osm_type = 'node'"),
    ("building=* and geometry:polygon",
     "tags['building'][1] IS NOT NULL AND geometry_type IN ('Polygon', 'MultiPolygon')"),
    ("highway in ({v}, {w}) and type:way",
     "tags['highway'][1] IN ('{v}', '{w}') AND osm_type = 'way'"),
    ("landuse=* or amenity={v}", "tags['landuse'][1] IS NOT NULL OR tags['amenity'][1] = '{v}'"),
)


def _day(offset: int) -> str:
    return datetime.date.fromordinal(gen.T0.date().toordinal() + offset).isoformat()


def query_instances(seed: int, truth: dict) -> list[dict]:
    """One seeded query of each serving type over the contributions
    views: its type, Spark SQL (or an ohsome filter) and the DuckDB twin."""
    rng = random.Random(seed ^ 0x0E5)
    ids = sorted((t, i) for t, d in truth["latest_version"].items() for i in d)
    out = []
    for typ in QUERY_TYPES:
        if typ == "history_lookup":
            t, i = rng.choice(ids)
            spark = (f"SELECT osm_version, osm_minor_version, contrib_type FROM contributions "
                     f"WHERE osm_type = '{t}' AND osm_id = {i} "
                     f"ORDER BY valid_from, osm_version, osm_minor_version")
            duck = spark.replace("FROM contributions", "FROM {C}")
        elif typ == "bbox_count":
            w = rng.uniform(0.05, 0.4)
            x0, y0 = gen.LON0 + rng.random() * (1 - w), gen.LAT0 + rng.random() * (1 - w)
            spark = (f"SELECT osm_type, count(*) AS n FROM contributions_latest "
                     f"WHERE bbox.xmin >= {x0!r} AND bbox.xmax <= {x0 + w!r} "
                     f"AND bbox.ymin >= {y0!r} AND bbox.ymax <= {y0 + w!r} "
                     f"GROUP BY osm_type ORDER BY osm_type")
            duck = spark.replace("FROM contributions_latest", "FROM {L}")
        elif typ == "snapshot_agg":
            d = _day(rng.randint(200, 3000))
            cond = (f"valid_from <= TIMESTAMP '{d} 00:00:00' AND valid_to > TIMESTAMP '{d} 00:00:00' "
                    f"AND contrib_type <> 'DELETION'")
            spark = (f"SELECT osm_type, count(*) AS n, sum(length) AS len FROM contributions "
                     f"WHERE {cond} GROUP BY osm_type ORDER BY osm_type")
            duck = spark.replace("FROM contributions", "FROM {C}").replace(
                "TIMESTAMP '", "TIMESTAMPTZ '").replace(" 00:00:00'", " 00:00:00+00'")
        elif typ == "daily_series":
            key = rng.choice(("amenity", "building", "highway", "name"))
            off = rng.randint(0, 2500)
            d0, d1 = _day(off), _day(off + 120)
            spark = (f"SELECT CAST(to_date(valid_from) AS STRING) AS d, count(*) AS n "
                     f"FROM contributions WHERE tags['{key}'] IS NOT NULL "
                     f"AND valid_from >= TIMESTAMP '{d0} 00:00:00' "
                     f"AND valid_from < TIMESTAMP '{d1} 00:00:00' GROUP BY 1 ORDER BY 1")
            duck = (f"SELECT CAST(CAST(valid_from AS DATE) AS VARCHAR) AS d, count(*) AS n "
                    f"FROM {{C}} WHERE tags['{key}'][1] IS NOT NULL "
                    f"AND valid_from >= TIMESTAMPTZ '{d0} 00:00:00+00' "
                    f"AND valid_from < TIMESTAMPTZ '{d1} 00:00:00+00' GROUP BY 1 ORDER BY 1")
        else:
            f, twin = FILTERS[rng.randrange(len(FILTERS))]
            v = rng.choice(gen.POI_VALUES if "amenity" in f else gen.HIGHWAY_VALUES)
            w = rng.choice(gen.HIGHWAY_VALUES)
            spark = f.format(v=v, w=w)
            duck = (f"SELECT osm_type, count(*) AS n FROM {{L}} WHERE {twin.format(v=v, w=w)} "
                    f"GROUP BY osm_type ORDER BY osm_type")
        out.append({"type": typ, "spark": spark, "duck": duck})
    return out


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Row lists equal; floats (sums whose order differs between engines)
    within a relative 1e-9."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or abs(a - b) > 1e-9 * max(1.0, abs(a), abs(b)):
                    return False
            elif a != b:
                return False
    return True


def duck_answers(dataset: str, instances: list[dict]) -> list[list[tuple]]:
    q = duckdb.connect()
    q.execute("SET TimeZone = 'UTC'")
    c = f"read_parquet('{dataset}/*/*/*.parquet', hive_partitioning=true)"
    latest = f"read_parquet('{dataset}/layer=latest/*/*.parquet', hive_partitioning=true)"
    out = [q.execute(i["duck"].format(C=c, L=latest)).fetchall() for i in instances]
    q.close()
    return out


def run_query(spark, inst: dict):
    if inst["type"] == "filter_count":
        from ohsome_planet_spark.functions.ohsome_filter import compile_filter

        return (spark.table("contributions_latest").filter(compile_filter(inst["spark"]))
                .groupBy("osm_type").count().orderBy("osm_type"))
    return spark.sql(inst["spark"])


def query_phase(bench: Bench, dataset: str, truth: dict) -> list[dict]:
    """Each query type once, one client, over the views the program
    registers on the dataset the import wrote; each result is compared
    with DuckDB running the same query over the same files."""
    from ohsome_planet_spark.sources.views import register_contribution_views

    spark = bench.spark
    instances = query_instances(bench.seed, truth)
    expected = duck_answers(dataset, instances)
    register_contribution_views(spark, dataset)
    sc = spark.sparkContext
    done = []
    for k, inst in enumerate(instances):
        group = f"query-{k}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        t = time.perf_counter()
        df = run_query(spark, inst)
        df._jdf.queryExecution().executedPlan()  # plan eagerly so planning and execution split
        t_plan = time.perf_counter()
        rows = [tuple(r) for r in df.collect()]
        t_end = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", None)
        done.append({"type": inst["type"], "lat": t_end - t, "plan": t_plan - t,
                     "exec": t_end - t_plan, "group": group, "rows": rows})
        bench.op_result(bench.check(same_rows(rows, expected[k]),
                                    f"query {inst['type']} differs from DuckDB"))
    return done


def query_layer_metrics(done: list[dict], log: dict) -> dict:
    out = {f"query.{d['type']}_p50_ms": d["lat"] * 1000 for d in done}
    out["views.plan_ms"] = statistics.median(d["plan"] for d in done) * 1000
    out["views.exec_ms"] = statistics.median(d["exec"] for d in done) * 1000
    files = rows = 0.0
    groups = {d["group"] for d in done}
    for ex, group in log["exec_group"].items():
        if group in groups:
            files += log["scans"].get(ex, {}).get("files", 0.0)
            rows += log["scans"].get(ex, {}).get("rows", 0.0)
    results = sum(max(1, len(d["rows"])) for d in done)
    out["views.files_scanned_per_query"] = files / len(done)
    out["views.rows_scanned_per_result"] = rows / results
    return out


# ---------------------------------------------------------------------------
# replication over a seeded history store (traced runs)
# ---------------------------------------------------------------------------

def check_replication(bench: Bench, inp: dict, out_dir: str) -> bool:
    """Each applied sequence's contributions carry the diff's version of
    every touched tagged element, and the history store ends at the last
    diff version of every touched id."""
    q = duckdb.connect()
    final: dict[tuple[str, int], int] = {}
    ok = True
    for info in inp["seqs"]:
        final.update(info["touched"])
        path = os.path.join(out_dir, gen.sequence_rel(info["seq"]) + ".opc.parquet")
        got = set(q.execute(
            f"SELECT osm_type, osm_id, osm_version FROM read_parquet('{path}/*.parquet')"
        ).fetchall())
        for (t, i), v in info["touched"].items():
            if info["tagged"][(t, i)]:
                ok &= bench.check((t, i, v) in got, f"seq {info['seq']}: {t}/{i} v{v} missing")
    for sub, typ in (("nodes", "node"), ("ways", "way")):
        store = dict(q.execute(
            f"SELECT osm_id, max(version) FROM read_parquet('{inp['data']}/{sub}/*.parquet') "
            "GROUP BY osm_id").fetchall())
        bad = [(i, v) for (t, i), v in final.items() if t == typ and store.get(i) != v]
        ok &= bench.check(not bad, f"{sub} store misses {len(bad)} diff versions, e.g. {bad[:3]}")
    q.close()
    return ok


def replication_phase(bench: Bench, inp: dict) -> list[float]:
    """The live minutely case over the seeded store: each diff is
    published on the mirror and applied in its own
    ``ContributionReplicationManager`` pass (closed loop, one caller).
    Returns the per-sequence latencies."""
    from ohsome_planet_spark.streaming.manager import ContributionReplicationManager
    from ohsome_planet_spark.streaming.server import entity_server, file_fetch

    out_dir = os.path.join(bench.work, "updates")
    mgr = ContributionReplicationManager(
        server=entity_server("local://mirror/", fetch=file_fetch(inp["mirror"])),
        spark=bench.spark, data_dir=inp["data"], out_dir=out_dir)
    lats = []
    ok = True
    for info in inp["seqs"]:
        gen.publish_state(inp["mirror"], info)
        t = time.perf_counter()
        n = mgr.update_to_remote_state()
        lats.append(time.perf_counter() - t)
        ok &= bench.check(n == 1, f"seq {info['seq']}: manager applied {n} sequences")
        bench.tracer.release()
    bench.op_result(check_replication(bench, inp, out_dir) and ok)
    return lats


# ---------------------------------------------------------------------------
# bulk_history
# ---------------------------------------------------------------------------

# Element mix: SCALE.md puts the full-history planet at ~9.5B node, ~1B
# way and ~10M relation versions, i.e. ~90% / ~9.5% / ~0.1%; 400 POIs and
# 80 ways over ~360 untagged vertices (plus relation member ways) give
# ways ~8-10% of the versions, 2 relations x 3 versions are 0.15%.
# Versions per element follow a Pareto(1.1) tail capped at 300
# (gen.heavy_tailed_counts). Per-Spark-job cost dominates the import: a
# 16,000-version extract took about as long (perfbench/README.md), so
# this extract measures the same costs in a shorter run.
BULK_SIZES = dict(n_poi=400, n_ways=80, n_rels=2, total_versions=4000)
# one live minutely sequence keeps a traced run under three minutes on a
# slow machine
REPL_SEQS, REPL_CHANGES = 1, 120


def install_import_tracing(tr: tracing.Tracer) -> None:
    from ohsome_planet_spark import session
    from ohsome_planet_spark.operators import contributions
    from ohsome_planet_spark.sources import geoparquet, pbf

    tr.wrap(pbf, "scan_blobs", "pbf.scan")
    tr.wrap(pbf, "read_pbf", "pbf.read", force=True)
    tr.wrap(contributions, "node_contribution_events", "contributions.nodes", force=True)
    tr.wrap(contributions, "way_contribution_events", "contributions.ways", force=True)
    tr.wrap(contributions, "relation_contribution_events", "contributions.relations", force=True)
    tr.wrap(contributions, "synthesize_contributions", "contributions.synthesize", force=True)
    tr.wrap(contributions, "with_changesets", "contributions.changesets", force=True)
    tr.wrap(session, "truncate_lineage", "session.truncate_lineage")
    tr.wrap(session, "truncate_lineage_many", "session.truncate_lineage")
    write = tr.wrap(geoparquet, "write_contributions", "geoparquet.write")

    # the CLI applies the countries UDF inline right before
    # write_contributions; forcing the writer's input in its own span
    # charges that UDF to spatial.countries
    def write_contributions(contribs, path, *a, **kw):
        with tr.span("spatial.countries"):
            contribs = tr.force(contribs)
        return write(contribs, path, *a, **kw)

    tr.patch(geoparquet, "write_contributions", write_contributions)


def install_replication_tracing(tr: tracing.Tracer) -> None:
    from ohsome_planet_spark.sources import geoparquet, osmxml
    from ohsome_planet_spark.streaming import manager, replication, server

    for attr in ("get_replication_file", "get_remote_state", "get_latest_remote_state"):
        tr.wrap(server.Server, attr, "server.fetch")
    tr.wrap(osmxml, "parse_osc_bytes", "osmxml.parse")
    tr.wrap(replication.IncrementalUpdater, "advance_batch", "replication.advance")
    tr.wrap(replication.IncrementalUpdater, "build_rebuilds", "replication.rebuild", force=True)
    tr.wrap(geoparquet, "write_contributions", "manager.write")
    tr.wrap(manager.ContributionReplicationManager, "update_to_remote_state", "manager.sequence")


def import_layer_metrics(tr: tracing.Tracer, window: dict, log: dict) -> dict:
    t0, t1 = window["t0"], window["t1"]
    st = tr.self_times(t0, t1)

    def stream(osm_type: str) -> float:
        # the CLI synthesizes each stream right after building its events,
        # so a synthesize span belongs to the events span before it
        names = ("contributions.nodes", "contributions.ways", "contributions.relations",
                 "contributions.synthesize")
        cur, total = None, 0.0
        for s in sorted((s for s in tr.closed(t0, t1) if s["name"] in names),
                        key=lambda s: s["start"]):
            if s["name"] != "contributions.synthesize":
                cur = s["name"].split(".")[1]
            elif cur == osm_type:
                total += s["end"] - s["start"]
        return total

    owner = tr.attribute_jobs(jobs_between(log, t0, t1), t0, t1)
    build = {"contributions.nodes", "contributions.ways", "contributions.relations",
             "contributions.synthesize"}
    return {
        "pbf.scan_s": _forced_self(st, "pbf.scan"),
        "pbf.decode_s": _forced_self(st, "pbf.read"),
        "contributions.nodes_s": _forced_self(st, "contributions.nodes") + stream("nodes"),
        "contributions.ways_s": _forced_self(st, "contributions.ways") + stream("ways"),
        "contributions.relations_s": (_forced_self(st, "contributions.relations")
                                      + stream("relations")),
        "contributions.eager_jobs": sum(1 for n in owner.values() if n in build),
        "session.truncate_lineage_calls": sum(
            1 for s in tr.closed(t0, t1) if s["name"] == "session.truncate_lineage"),
        "session.truncate_lineage_s": tr.total_times(t0, t1).get("session.truncate_lineage", 0.0),
        "spatial.countries_s": _forced_self(st, "spatial.countries"),
        "contributions.changesets_s": _forced_self(st, "contributions.changesets"),
        "geoparquet.write_s": _forced_self(st, "geoparquet.write"),
    }


def replication_layer_metrics(tr: tracing.Tracer, t0: float, t1: float, log: dict,
                              lats: list[float]) -> dict:
    st = tr.self_times(t0, t1)
    tot = tr.total_times(t0, t1)
    return {
        "replication.seq_s": statistics.median(lats),
        "server.fetch_s": tot.get("server.fetch", 0.0),
        "osmxml.parse_s": tot.get("osmxml.parse", 0.0),
        "replication.advance_s": _forced_self(st, "replication.advance"),
        "replication.rebuild_s": _forced_self(st, "replication.rebuild"),
        "manager.write_s": _forced_self(st, "manager.write"),
        "manager.history_append_s": st.get("manager.sequence", 0.0),
        "replication.jobs_per_seq": len(jobs_between(log, t0, t1)) / len(lats),
    }


def check_bulk(bench: Bench, out: str, truth: dict) -> bool:
    """Latest layer: one row per element, per-type counts and last
    versions as generated; every tagged node version is a contribution."""
    q = duckdb.connect()
    glob_latest = os.path.join(out, "layer=latest", "*", "*.parquet")
    rows = q.execute(
        f"SELECT osm_type, osm_id, max(osm_version), count(*) "
        f"FROM read_parquet('{glob_latest}', hive_partitioning=true) GROUP BY ALL").fetchall()
    ok = True
    got: dict[str, dict[int, int]] = {}
    for t, i, v, n in rows:
        ok &= bench.check(n == 1, f"{t}/{i}: {n} latest rows")
        got.setdefault(t, {})[i] = v
    for t, want in truth["latest_counts"].items():
        ok &= bench.check(len(got.get(t, {})) == want,
                          f"latest {t} count {len(got.get(t, {}))} != {want}")
    for t, want in truth["latest_version"].items():
        ok &= bench.check(got.get(t, {}) == want,
                          f"latest {t} versions differ from the generated history")
    glob_nodes = os.path.join(out, "layer=*", "osm_type=node", "*.parquet")
    (n_nodes,) = q.execute(
        f"SELECT count(*) FROM read_parquet('{glob_nodes}', hive_partitioning=true)").fetchone()
    ok &= bench.check(n_nodes == truth["node_versions_tagged"],
                      f"node contributions {n_nodes} != tagged node versions "
                      f"{truth['node_versions_tagged']}")
    q.close()
    return ok


def bulk_history(bench: Bench) -> dict:
    """Cold one-shot ``cli contributions`` import of a seeded history
    extract (decode → node/way/relation synthesis → changeset + country
    enrichment → GeoParquet) in a fresh context, as a user runs it: JIT,
    Python worker start-up and code generation are part of the import.
    Traced runs then run one query of each serving type over the written
    dataset and apply the mirror's diffs, one sequence per pass, through
    the replication manager."""
    from ohsome_planet_spark import cli

    inp = bench.setup("perfbench-bulk", gen.write_history_extract, bench.seed, BULK_SIZES,
                      REPL_SEQS, REPL_CHANGES)
    tr = bench.tracer
    if tr is not None:
        install_import_tracing(tr)
    out = os.path.join(bench.work, "contribs")
    argv = ["contributions", "--pbf", inp["pbf"], "--changesets", inp["changesets"],
            "--country-file", inp["countries"], "--out", out]
    bench.begin_window()
    t = time.perf_counter()
    rc = cli.main(argv)
    wall = time.perf_counter() - t
    window = bench.end_window()
    bench.op_result(bench.check(rc == 0, f"cli exit {rc}") and check_bulk(bench, out, inp["truth"]))
    versions = inp["truth"]["versions"]
    nbytes, files, groups = dir_parquet_stats(out)
    e2e = {"job_wall_s": wall, "items_per_s": versions / wall,
           "out_bytes_per_item": nbytes / versions}
    layers = {}
    if tr is not None:
        tr.release()
        tr.uninstall()
        done = query_phase(bench, out, inp["truth"])
        install_replication_tracing(tr)
        r0 = time.time()
        lats = replication_phase(bench, inp)
        r1 = time.time()
        layers, log = bench.spark_layers(window)
        layers.update(import_layer_metrics(tr, window, log))
        layers.update(query_layer_metrics(done, log))
        layers.update(replication_layer_metrics(tr, r0, r1, log, lats))
        layers.update({"geoparquet.bytes": nbytes, "geoparquet.files": files,
                       "geoparquet.row_groups": groups, "trace.op_wall_ms": wall * 1000})
    return bench.result(e2e, layers)


# ---------------------------------------------------------------------------
# crawl_curate
# ---------------------------------------------------------------------------

CRAWL_SIZES = dict(n_archives=4, docs_per_archive=30, dup_groups=6, dup_copies=3,
                   n_holdout=12, n_contaminated=6, boiler_frac=0.3)
EXACT_SUBSTR_N = 50  # longer than every planted duplicate page, shorter than the boilerplate


def install_crawl_tracing(tr: tracing.Tracer) -> None:
    from ohsome_planet_spark import session
    from ohsome_planet_spark.operators import curation, dedup, web

    tr.wrap(web, "warc_records", "warc.records", force=True)
    tr.wrap(web, "extract_main_text", "web.extract", force=True)
    tr.wrap(curation, "c4_line_filter", "curation.c4", force=True)
    tr.wrap(dedup, "exact_substr_rewrite", "dedup.exact_substr", force=True)
    tr.wrap(curation, "flag_documents", "curation.flag", force=True)
    tr.wrap(curation, "curate", "curation.curate")
    tr.wrap(session, "truncate_lineage", "session.truncate_lineage")


def crawl_pass(spark, archives: list[str], holdout_path: str, out: str) -> dict:
    """WARC archives → responses → main text → C4 line filter →
    ``curate`` with ExactSubstr rewrite and holdout decontamination;
    returns the funnel report."""
    from pyspark.sql import functions as F

    from ohsome_planet_spark.operators.curation import c4_line_filter, curate
    from ohsome_planet_spark.operators.web import extract_main_text, warc_records

    files = spark.read.format("binaryFile").load(archives).select(
        F.col("path").alias("warc_path"), F.col("content").alias("warc"))
    responses = warc_records(files, "warc").filter(F.col("warc_type") == "response")
    extracted = (
        extract_main_text(responses, "payload", http=True)
        .filter(F.col("extracted_text").isNotNull())
        .withColumn("uid", F.concat_ws("#", F.col("warc_path"), F.col("rec_idx")))
    )
    docs = (
        c4_line_filter(extracted, "uid", "extracted_text")
        .filter("keep_doc")
        .select(F.xxhash64("doc").alias("doc_id"), F.col("kept_text").alias("text"))
    )
    holdout = spark.read.parquet(holdout_path)
    return curate(docs, out, holdout, exact_substr_n=EXACT_SUBSTR_N)


def check_crawl(bench: Bench, report: dict, out: str, truth: dict) -> bool:
    """Funnel counts match the planted truth; the written corpus matches
    the report and carries no boilerplate span."""
    ok = True
    for key, want in (("total", truth["to_curate"]), ("exact_dups", truth["exact_dups"]),
                      ("contaminated", truth["contaminated"]), ("kept", truth["kept"])):
        ok &= bench.check(report.get(key) == want, f"funnel {key} {report.get(key)} != {want}")
    rows = boiler = 0
    if glob.glob(f"{out}/*/*.parquet"):
        q = duckdb.connect()
        rows, boiler = q.execute(
            f"SELECT count(*), count(*) FILTER (WHERE contains(text, '{gen.BOILERPLATE_PROBE}')) "
            f"FROM read_parquet('{out}/*/*.parquet', hive_partitioning=true)").fetchone()
        q.close()
    ok &= bench.check(rows == report.get("kept"), f"curated rows {rows} != kept {report.get('kept')}")
    ok &= bench.check(boiler == 0, f"{boiler} curated documents still carry the boilerplate")
    ok &= bench.check(report.get("kept", 0) == sum(report.get(f"kept_{s}", 0)
                                                   for s in ("train", "val", "test")),
                      "split counts do not add up to kept")
    return ok


def crawl_curate(bench: Bench) -> dict:
    """Cold one-shot crawl→corpus job over seeded WARC archives in a
    fresh context, as a user runs the ingest + curate commands."""
    inp = bench.setup("perfbench-crawl", gen.write_crawl_inputs, bench.seed, CRAWL_SIZES)
    tr = bench.tracer
    if tr is not None:
        install_crawl_tracing(tr)
    out = os.path.join(bench.work, "corpus")
    bench.begin_window()
    t = time.perf_counter()
    report = crawl_pass(bench.spark, inp["archives"], inp["holdout"], out)
    wall = time.perf_counter() - t
    window = bench.end_window()
    bench.op_result(check_crawl(bench, report, out, inp["truth"]))
    n = inp["truth"]["responses"]
    e2e = {"job_wall_s": wall, "items_per_s": n / wall,
           "out_bytes_per_item": dir_parquet_stats(out)[0] / n}
    layers = {}
    if tr is not None:
        t0, t1 = window["t0"], window["t1"]
        st = tr.self_times(t0, t1)
        layers, _log = bench.spark_layers(window)
        layers.update({
            "warc.records_s": _forced_self(st, "warc.records"),
            "web.extract_s": _forced_self(st, "web.extract"),
            "curation.c4_s": _forced_self(st, "curation.c4"),
            "dedup.exact_substr_s": _forced_self(st, "dedup.exact_substr"),
            "curation.flag_s": _forced_self(st, "curation.flag"),
            "curation.write_s": st.get("curation.curate", 0.0),
            "session.truncate_lineage_calls": sum(
                1 for s in tr.closed(t0, t1) if s["name"] == "session.truncate_lineage"),
            "session.truncate_lineage_s": tr.total_times(t0, t1).get(
                "session.truncate_lineage", 0.0),
            "trace.op_wall_ms": wall * 1000,
        })
    return bench.result(e2e, layers)


WORKLOADS = {
    "bulk_history": bulk_history,
    "crawl_curate": crawl_curate,
}
