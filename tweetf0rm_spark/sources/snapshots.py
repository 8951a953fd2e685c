"""Snapshot store — atomic versioned table snapshots with time-travel
(SURVEY.md §1.2; BASELINE.json:L6 "resumes exactly from Iceberg
checkpoint snapshots").

:class:`ParquetSnapshotStore` is the engine's one store: versioned
parquet directories ``<root>/<table>/snap=<n>/`` plus a JSON manifest
swapped atomically (write-tmp → ``os.replace``). It gives the semantics
the engine relies on — atomic commit, time-travel by snapshot id,
resume-from-latest-complete — with no dependency beyond Spark and a
filesystem. Everything else the crawl keeps on disk (the compacted
seen-set table and its marker, crawl.py) lives under the same ``root``.

Crash safety: data dirs are written first (tmp + rename), the manifest
pointer last. A wave killed anywhere leaves ``current`` at the previous
snapshot, so ``resume()`` re-runs the interrupted wave from unchanged
inputs — idempotent because wave jobs are pure functions of their
input snapshot (no wall clock, no rand; SURVEY.md §7 determinism).

The manifest also carries the engine's fixed hash-partition count P
and per-snapshot lineage row counts, replacing the reference's redis
``NodeCoordinator`` queue-size introspection (``[U]
tweetf0rm/redis_helper.py``).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


class ParquetSnapshotStore:
    """Commit a set of tables as snapshot n, read any snapshot back,
    discover the latest complete one."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "_manifest.json")

    # -- manifest ---------------------------------------------------------
    def _load(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"current": -1, "snapshots": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _store(self, m: dict) -> None:
        tmp = self._manifest_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)  # atomic pointer swap

    def current(self) -> int:
        return self._load()["current"]

    def meta(self, snap: int | None = None) -> dict:
        m = self._load()
        snap = m["current"] if snap is None else snap
        return m["snapshots"].get(str(snap), {})

    # -- data -------------------------------------------------------------
    def _dir(self, table: str, snap: int) -> str:
        return os.path.join(self.root, table, f"snap={snap}")

    def commit(self, snap: int, tables: dict[str, DataFrame],
               meta: dict | None = None) -> None:
        """Write all table dirs (tmp→rename), then swap the manifest.

        Overwrites any half-written ``snap`` dirs from a crashed
        attempt — legal because the manifest never pointed at them.
        """
        for name, df in tables.items():
            final = self._dir(name, snap)
            tmp = final + f".tmp-{uuid.uuid4().hex}"
            df.write.mode("overwrite").parquet(tmp)
            if os.path.exists(final):
                shutil.rmtree(final)
            os.replace(tmp, final)
        m = self._load()
        if snap <= m["current"]:
            raise ValueError(f"snapshot {snap} not after current {m['current']}")
        m["snapshots"][str(snap)] = {
            "parent": m["current"],
            "tables": sorted(tables),
            **(meta or {}),
        }
        m["current"] = snap
        self._store(m)

    def read(self, spark: SparkSession, table: str,
             snap: int | None = None) -> DataFrame:
        snap = self.current() if snap is None else snap
        path = self._dir(table, snap)
        if not os.path.exists(path):
            raise FileNotFoundError(f"{table}@snap={snap} not committed")
        return spark.read.parquet(path)

