"""Snapshot-table layer: Iceberg-shaped commit semantics on plain parquet.

The reference autocommits every SQL statement (``Crawler/database.py:58``); the
north_rule requires something strictly stronger — atomic per-round commits with
resume-from-snapshot. Real deployments use Iceberg (``df.writeTo(t).append()``,
snapshot = checkpoint); this container has no Iceberg runtime jar, so this
module provides the same contract on parquet:

- a table is a directory of immutable snapshot dirs plus a JSON manifest
- a commit writes data first, then atomically renames a tmp manifest over the
  old one (readers never see partial state); the two steps are separate
  calls, so data can be written ahead of (and concurrently with) commits
  that must land in round order
- every commit appends a snapshot; the live state is all committed snapshots
  (manifests written with a per-snapshot ``"mode": "append"`` key still read)
- resume = read the manifest as of the last committed round

Swapping this for Iceberg changes only this file: the engine talks in
write/commit/read/compact/rollback terms.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid
from dataclasses import dataclass, field, replace
from typing import Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass
class Snapshot:
    snapshot_id: int  # -1 until committed
    round: int
    path: str
    rows: int
    observed: dict = field(default_factory=dict)  # extra aggregates of the write


def _write_parquet(df: DataFrame, path: str, **observe: Column) -> dict:
    """Write *df* to *path*; return its row count (``rows``) and each
    *observe* aggregate, collected by the write itself (no extra job)."""
    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("rows")] + [c.alias(k) for k, c in observe.items()]
    df.observe(obs, *metrics).write.mode("errorifexists").parquet(path)
    return dict(obs.get)


class SnapshotTable:
    def __init__(self, root: str, name: str):
        self.dir = os.path.join(root, name)
        self.name = name
        os.makedirs(self.dir, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.dir, "_manifest.json")

    def _load(self) -> list[dict]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            return json.load(f)["snapshots"]

    def _commit(self, snapshots: list[dict]) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.dir, prefix="_manifest_tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"snapshots": snapshots, "committed_at": time.time()}, f)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX

    def _new_path(self, round: int) -> str:
        # named by round and a random token, not by snapshot id: data may be
        # written before earlier rounds commit, and a crashed write's orphan
        # can never collide with a later write's dir
        return os.path.join(self.dir, f"snap-r{round:06d}-{uuid.uuid4().hex[:12]}")

    # -- public API --------------------------------------------------------
    def write_data(self, df: DataFrame, round: int, **observe: Column) -> Snapshot:
        """Write *df* as an uncommitted snapshot: invisible to readers until
        :meth:`commit`, and swept as an orphan by :meth:`rollback_to_round`
        if never committed. Safe to call from several threads at once. Each
        *observe* aggregate lands in the result's ``observed``."""
        path = self._new_path(round)
        observed = _write_parquet(df, path, **observe)
        rows = observed.pop("rows")
        return Snapshot(-1, round, path, rows, observed)

    def commit(self, snap: Snapshot) -> Snapshot:
        """Make a :meth:`write_data` snapshot visible; allocates its id.
        Commits must come from one thread, in round order."""
        snaps = self._load()
        sid = (max((s["snapshot_id"] for s in snaps), default=0)) + 1
        snaps.append({"snapshot_id": sid, "round": snap.round,
                      "path": snap.path, "rows": snap.rows})
        self._commit(snaps)
        return replace(snap, snapshot_id=sid)

    def discard(self, snap: Snapshot) -> None:
        """Delete an uncommitted :meth:`write_data` snapshot."""
        shutil.rmtree(snap.path, ignore_errors=True)

    def write(self, df: DataFrame, round: int) -> Snapshot:
        return self.commit(self.write_data(df, round))

    def live_paths(self, as_of_round: Optional[int] = None) -> list[str]:
        """Snapshot paths contributing to the current (or as-of-round) state."""
        snaps = self._load()
        if as_of_round is not None:
            expired = max((s.get("compacted_through", -1) for s in snaps), default=-1)
            if as_of_round < expired:
                raise ValueError(
                    f"time travel to round {as_of_round} impossible: snapshots "
                    f"through round {expired} were compacted/expired"
                )
            snaps = [s for s in snaps if s["round"] <= as_of_round]
        return [s["path"] for s in snaps]

    def read(
        self,
        spark: SparkSession,
        as_of_round: Optional[int] = None,
        schema=None,
    ) -> Optional[DataFrame]:
        """Read the live state. Pass *schema* so snapshots written from empty
        DataFrames (no part files, just _SUCCESS) still resolve."""
        paths = self.live_paths(as_of_round)
        if not paths:
            return None
        reader = spark.read.schema(schema) if schema is not None else spark.read
        return reader.parquet(*paths)

    def compact(
        self,
        spark: SparkSession,
        up_to_round: Optional[int] = None,
        schema=None,
        target_partitions: Optional[int] = None,
        min_snapshots: int = 2,
        cluster_by: Optional[list] = None,
    ) -> bool:
        """Merge the live snapshots with ``round <= up_to_round`` into ONE
        snapshot and expire the originals (Iceberg's rewrite_data_files +
        expire_snapshots). A round-per-snapshot layout accumulates
        O(rounds × tasks) small parquet files — the classic small-files
        problem; at 10^10 URLs the admissions table would otherwise carry
        millions of files and every derived-frontier read would pay the
        listing + footer cost. Compaction bounds live file count without
        changing any read result *at or after* the horizon; time travel
        BEFORE the horizon is expired (exactly Iceberg's trade-off).

        Only completed rounds may be compacted: the merged snapshot carries
        the max merged round, so a crash-resume ``rollback_to_round(r)`` with
        r >= horizon never drops merged data. Returns True if a rewrite
        happened (skipped when fewer than *min_snapshots* qualify).
        """
        snaps = self._load()
        horizon = max((s["round"] for s in snaps), default=0) if up_to_round is None else up_to_round
        # the manifest is commit-ordered; only a PREFIX may merge (rounds are
        # monotone per commit order), so later snapshots keep their place
        prefix = []
        for s in snaps:
            if s["round"] <= horizon:
                prefix.append(s)
            else:
                break
        if len(prefix) < min_snapshots:
            return False
        reader = spark.read.schema(schema) if schema is not None else spark.read
        df = reader.parquet(*[s["path"] for s in prefix])
        if target_partitions is None:
            target_partitions = spark.sparkContext.defaultParallelism
        sid = (max((s["snapshot_id"] for s in snaps), default=0)) + 1
        merged_round = max(s["round"] for s in prefix)
        merged_path = self._new_path(merged_round)
        if cluster_by:
            # preserve key-clustering so min/max parquet stats keep pruning
            # reads (e.g. the derived frontier's `seq >= watermark` filter
            # skips fully-consumed files by footer stats alone)
            df = df.repartitionByRange(target_partitions, *cluster_by).sortWithinPartitions(*cluster_by)
        else:
            df = df.repartition(target_partitions)
        rows = _write_parquet(df, merged_path)["rows"]
        merged = {
            "snapshot_id": sid,
            "round": merged_round,
            "path": merged_path,
            "rows": rows,
            "compacted_through": merged_round,
        }
        self._commit([merged] + snaps[len(prefix):])
        # expire AFTER the manifest swap, so no new read lists these dirs;
        # the caller must first drain jobs already planned over them
        for s in prefix:
            shutil.rmtree(s["path"], ignore_errors=True)
        return True

    def rollback_to_round(self, round: int) -> None:
        """Drop snapshots committed after *round* (crash-resume cleanup).

        Also sweeps ORPHAN snapshot directories: data is written before the
        manifest commit, so a crash between the two (or a crawl stopped with
        rounds written ahead of their commit) leaves a snap-* dir the
        manifest never references. Same model as Iceberg: uncommitted data
        files are orphans, removed by maintenance; the manifest is the sole
        source of truth.
        """
        snaps = self._load()
        keep = [s for s in snaps if s["round"] <= round]
        self._commit(keep)
        # every snap-* dir not in the kept manifest is dead: either explicitly
        # dropped (round > resume point) or an orphan of a crashed write
        kept_paths = {s["path"] for s in keep}
        for name in os.listdir(self.dir):
            p = os.path.join(self.dir, name)
            if name.startswith("snap-") and os.path.isdir(p) and p not in kept_paths:
                shutil.rmtree(p, ignore_errors=True)
            elif name.startswith("_manifest_tmp") and os.path.isfile(p):
                os.unlink(p)  # half-written manifest temp of a crashed commit

    def exists(self) -> bool:
        return bool(self._load())


class RunState:
    """Tiny per-job driver state (round, next_seq, seen_count) committed
    atomically at each round boundary alongside the table snapshots — the
    resume point. In Iceberg terms: snapshot summary properties."""

    def __init__(self, root: str):
        self.path = os.path.join(root, "_run_state.json")

    def save(self, state: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(self.path), prefix="_state_tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)

    def load(self) -> Optional[dict]:
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            return json.load(f)
