"""End-to-end replication catch-up manager (the ``replications`` CLI
command): the loop an operator actually runs to keep a contributions
dataset and a changeset store current.

Reference behavior (re-expressed, not ported):

- ``ohsome-planet-cli/.../cmd/Replications.java:27-130`` — CLI surface:
  contributions-only, changesets-only, or both with cross-stream holdback.
- ``ohsome-replication-update/.../ReplicationManager.java:33-137`` — the
  dual-stream loop: changesets first; contributions advance to the remote
  state, held back to the changeset stream's timestamp unless that stream
  lags by more than ``ACCEPTABLE_DELAY`` (180 s).
- ``ContributionStateManager.java:116-245`` — per-sequence processing:
  fetch state + ``.osc.gz`` → apply the diff → write one
  ``NNN/NNN/NNN.opc.parquet`` + ``NNN.state.txt`` → advance the published
  ``state.txt`` / ``state.csv`` → advance the local state. A crash resumes
  at the last advanced sequence.

Spark shape: the RocksDB latest-state store becomes two append-only
history tables (``<data>/nodes``, ``<data>/ways``). Each sequence appends
only its J6-surviving rows (O(|diff|) I/O), then the manager re-reads the
table root — a *reliable* staged intermediate, so lineage is truncated by
storage, not ``localCheckpoint`` (executor loss mid-catch-up replays from
parquet, unlike block-storage checkpoints). The J6 replay filter makes a
crash between append and state-advance idempotent.
"""

from __future__ import annotations

import csv as _csv
import io
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replication import (
    ACCEPTABLE_CHANGESET_LAG_S,
    IncrementalUpdater,
    ReplicationState,
    sequence_path,
)
from .server import Server

__all__ = ["ContributionReplicationManager", "run_replication_update"]

NODE_HISTORY_SCHEMA = (
    "osm_type string, osm_id bigint, version int, ts timestamp,"
    " changeset bigint, user_id bigint, user_name string, visible boolean,"
    " tags map<string,string>, lon double, lat double"
)
WAY_HISTORY_SCHEMA = (
    "osm_type string, osm_id bigint, version int, ts timestamp,"
    " changeset bigint, user_id bigint, user_name string, visible boolean,"
    " tags map<string,string>, refs array<bigint>"
)


def _history_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    if os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    ):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


@dataclass
class ContributionReplicationManager:
    """Drives the contribution stream of the ``replications`` command.

    ``data_dir`` is the working directory (local state + history tables);
    ``out_dir`` is where per-sequence contribution parquet + published
    state files land (``--parquet-data``).
    """

    server: Server
    spark: SparkSession
    data_dir: str
    out_dir: str
    max_size: int = 0  # 0 = unlimited, like the reference's --size
    country_features: list | None = None
    changeset_store: DataFrame | None = None
    local_state: ReplicationState | None = None
    applied: list[int] = field(default_factory=list)

    # -- state files (ContributionStateManager.java:80-114) ----------------

    @property
    def _state_path(self) -> str:
        return os.path.join(self.data_dir, "state.txt")

    def initialize_local_state(self) -> None:
        if self.local_state is not None:
            return
        if not os.path.exists(self._state_path):
            raise FileNotFoundError(
                f"{self._state_path} missing: seed it with the sequence the "
                "bulk contributions run ended at (reference: state.txt is "
                "written by the initial planet import)"
            )
        with open(self._state_path) as f:
            self.local_state = ReplicationState.parse(f.read())

    def _advance_local_state(self, state: ReplicationState) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        with open(self._state_path, "w") as f:
            f.write(state.format())
        self.local_state = state

    def fetch_remote_state(self) -> ReplicationState:
        return self.server.get_latest_remote_state()

    # -- catch-up (ContributionStateManager.java:116-157) ------------------

    def update_to_remote_state(
        self,
        remote: ReplicationState | None = None,
        process_until: datetime | None = None,
    ) -> int:
        """Apply every sequence in (local, target]; returns how many were
        applied. ``process_until`` is the changeset-stream holdback (R2):
        the target walks back from the remote state until its timestamp
        respects the cutoff (``updateToRemoteState(Instant, …)``)."""
        if self.local_state is None:
            self.initialize_local_state()
        target = remote or self.fetch_remote_state()
        if process_until is not None:
            while (
                self.local_state.sequence < target.sequence
                and _iso(target.timestamp) > process_until
            ):
                target = self.server.get_remote_state(target.sequence - 1)

        seqs = list(range(self.local_state.sequence + 1, target.sequence + 1))
        if self.max_size > 0:
            seqs = seqs[: self.max_size]
        if not seqs:
            return 0

        node_hist = _history_or_empty(
            self.spark, os.path.join(self.data_dir, "nodes"), NODE_HISTORY_SCHEMA
        )
        way_hist = _history_or_empty(
            self.spark, os.path.join(self.data_dir, "ways"), WAY_HISTORY_SCHEMA
        )
        updater = IncrementalUpdater(self.spark, node_hist, way_hist)
        for seq in seqs:
            state = self.server.get_remote_state(seq)
            self._process(updater, state)
        return len(seqs)

    def _process(self, updater: IncrementalUpdater, state: ReplicationState) -> None:
        """One sequence: fetch → parse → J6/J7 apply → R3 rebuild → write
        parquet + state files → advance (``ContributionStateManager
        .java:177-245``)."""
        from ..operators.contributions import enrich_contributions
        from ..sources.osmxml import osc_entity_batch

        seq = state.sequence
        batch = osc_entity_batch(self.spark, self.server.get_replication_file(seq))

        node_contribs, way_contribs = updater.apply_batch(batch)
        # only the J6-surviving delta is appended to storage — O(|diff|)
        new_nodes, new_ways = updater.last_applied

        contribs = node_contribs.unionByName(way_contribs, allowMissingColumns=True)
        # the reference drops contributions with no tags before or after
        # (F5 tag-less updates, ContributionStateManager.java:202-204)
        contribs = contribs.filter(
            (F.size(F.coalesce("tags", F.create_map())) > 0)
            | (F.size(F.coalesce("tags_before", F.create_map())) > 0)
        )
        # the same enrichment as the bulk import, so every per-sequence
        # file has the bulk output's columns
        contribs = enrich_contributions(
            contribs, self.changeset_store, self.country_features
        )

        out_rel = sequence_path(seq)
        out_path = os.path.join(self.out_dir, f"{out_rel}.opc.parquet")
        from ..sources.geoparquet import write_contributions

        write_contributions(
            contribs.sortWithinPartitions("osm_id", "valid_from"),
            out_path,
            bloom_filter_columns=("osm_id",),
            split_latest=False,
        )

        # durable history append (the RocksDB-commit analog,
        # ``updater.updateStore()``) — O(|diff|) rows, then re-read the
        # table root so the next batch plans against storage, not lineage
        for df, sub in ((new_nodes, "nodes"), (new_ways, "ways")):
            df.write.mode("append").parquet(os.path.join(self.data_dir, sub))
        updater.node_history = self.spark.read.schema(NODE_HISTORY_SCHEMA).parquet(
            os.path.join(self.data_dir, "nodes")
        )
        updater.way_history = self.spark.read.schema(WAY_HISTORY_SCHEMA).parquet(
            os.path.join(self.data_dir, "ways")
        )

        self._publish_state(state, out_path)
        self._advance_local_state(state)
        self.applied.append(seq)

    def _publish_state(self, state: ReplicationState, parquet_path: str) -> None:
        """Published artifacts next to the parquet: per-sequence
        ``NNN.state.txt`` plus top-level ``state.txt`` / ``state.csv``
        (``ContributionStateManager.java:217-233``)."""
        rel = sequence_path(state.sequence)
        data = state.format()
        per_seq = os.path.join(self.out_dir, f"{rel}.state.txt")
        os.makedirs(os.path.dirname(per_seq), exist_ok=True)
        with open(per_seq, "w") as f:
            f.write(data)
        with open(os.path.join(self.out_dir, "state.txt"), "w") as f:
            f.write(data)
        buf = io.StringIO()
        w = _csv.writer(buf)
        w.writerow(["sequence_number", "timestamp", "path"])
        w.writerow([state.sequence, state.timestamp, parquet_path])
        with open(os.path.join(self.out_dir, "state.csv"), "w") as f:
            f.write(buf.getvalue())


def _iso(ts: str) -> datetime:
    d = datetime.fromisoformat(ts.replace("Z", "+00:00"))
    return d if d.tzinfo else d.replace(tzinfo=timezone.utc)


def run_replication_update(
    contribution_manager: ContributionReplicationManager | None,
    changeset_manager=None,
    changeset_state: DataFrame | None = None,
    now: datetime | None = None,
) -> DataFrame | None:
    """One pass of the dual-stream loop (``ReplicationManager.update``,
    non-continuous): changesets catch up first, then contributions advance
    with the R2 holdback — held to the changeset stream's remote timestamp
    only when that stream is keeping up (< ``ACCEPTABLE_DELAY`` behind),
    else allowed to run ahead (``ReplicationManager.java:57-75``).

    Returns the updated changeset store DataFrame (or None when running
    contributions-only). ``--continue`` wraps this in a sleep/retry loop.
    """
    remote_cs = None
    if changeset_manager is not None:
        remote_cs = changeset_manager.server.get_latest_remote_state()
        if (
            changeset_manager.local_state is None
            or remote_cs.sequence != changeset_manager.local_state.sequence
        ):
            changeset_state = changeset_manager.update_to_remote_state(
                changeset_state, remote_cs
            )
            changeset_state = changeset_manager.update_unclosed_changesets(
                changeset_state, now or datetime.now(timezone.utc)
            )

    if contribution_manager is not None:
        if changeset_state is not None:
            contribution_manager.changeset_store = changeset_state
        remote_c = contribution_manager.fetch_remote_state()
        if remote_cs is not None:
            lag = (
                _iso(remote_c.timestamp) - _iso(remote_cs.timestamp)
            ).total_seconds()
            until = _iso(remote_cs.timestamp) if lag < ACCEPTABLE_CHANGESET_LAG_S else None
            contribution_manager.update_to_remote_state(remote_c, process_until=until)
        else:
            contribution_manager.update_to_remote_state(remote_c)
    return changeset_state
