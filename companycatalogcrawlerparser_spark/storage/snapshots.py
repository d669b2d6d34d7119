"""Atomic snapshot store — Iceberg-style commit semantics on plain parquet.

The production target is Iceberg (one snapshot per fetch batch, state MERGE
in the same commit — SURVEY.md C7); this sandbox has no Iceberg runtime, so
we reproduce the property that matters for resume correctness: a crawl
round's outputs become visible ATOMICALLY or not at all.

Layout:
    root/data/round=K/<table>/*.parquet     (written first)
    root/manifests/round-K.json             (os.rename = the commit point)

A manifest lists its tables (path + schema) and the round's counters
(north_rule). A killed job leaves at most an orphan data dir that the next
run ignores (no manifest) and overwrites.
"""

from __future__ import annotations

import json
import os
import re
from typing import Dict, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- commit --------------------------------------------------------------

    def commit(
        self,
        round_id: int,
        tables: Dict[str, DataFrame],
        observed: Optional[Dict[str, list]] = None,
    ) -> dict:
        """Writes ``tables`` and renames the round's manifest into place.

        ``observed`` maps a table name to aggregate Columns; they are
        computed by that table's write (``DataFrame.observe``) and are the
        manifest's counters, at no extra job."""
        data_dir = os.path.join(self.root, "data", f"round={round_id}")
        manifest: dict = {"round": round_id, "tables": {}, "counters": {}}
        tables = dict(tables)
        observations = []
        for name, exprs in (observed or {}).items():
            obs = Observation()
            tables[name] = tables[name].observe(obs, *exprs)
            observations.append(obs)

        # write the tables from concurrent driver threads: the writes are
        # independent jobs over (mostly) already-checkpointed inputs, so the
        # per-job stage latency overlaps; atomicity still comes solely from
        # the manifest rename below.
        #
        # Output sizing (r8, guide §6): the committed tables are METADATA
        # rows (trace/bag/flags/frontier/url_seen keys — never html), but
        # they inherit the corpus scan's split count (~3× cores via
        # _tune_input_splits), so each round wrote #tables × ~3×cores
        # tiny files and the union readers re-opened all of them every
        # later round. Cap write fan-out at defaultParallelism/4 —
        # cluster-proportional, not a constant: a bigger cluster writes
        # more files, and a narrow coalesce over checkpointed/metadata
        # inputs merges cached blocks without a shuffle or recompute.
        n_write = max(2, self.spark.sparkContext.defaultParallelism // 4)

        def _write(item):
            name, df = item
            path = os.path.join(data_dir, name)
            # coalesce never increases partition count — smaller frames
            # pass through untouched
            df.coalesce(n_write).write.mode("overwrite").parquet(path)
            return name, {"path": path, "schema": df.schema.jsonValue()}

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max(1, len(tables))) as ex:
            for name, entry in ex.map(_write, list(tables.items())):
                manifest["tables"][name] = entry
        for obs in observations:
            manifest["counters"].update(obs.get)

        # the manifest goes to a temp file, is fsynced and renamed into
        # place: the rename is the atomic commit point
        tmp = os.path.join(self.root, "manifests", f".round-{round_id}.json.tmp")
        final = os.path.join(self.root, "manifests", f"round-{round_id}.json")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, final)
        return manifest

    # -- restore ---------------------------------------------------------------

    def committed_rounds(self) -> list:
        out = []
        for fn in os.listdir(os.path.join(self.root, "manifests")):
            m = re.fullmatch(r"round-(\d+)\.json", fn)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def last_round(self) -> Optional[int]:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def manifest(self, round_id: int) -> dict:
        with open(os.path.join(self.root, "manifests", f"round-{round_id}.json")) as f:
            return json.load(f)

    def read(self, round_id: int, table: str) -> DataFrame:
        """A committed table, read with the schema its manifest recorded:
        without one, ``spark.read.parquet`` runs a schema-inference job.
        Manifests written before schemas were recorded still infer."""
        entry = self.manifest(round_id)["tables"][table]
        reader = self.spark.read
        if "schema" in entry:
            reader = reader.schema(StructType.fromJson(entry["schema"]))
        return reader.parquet(entry["path"])

    def has_table(self, round_id: int, table: str) -> bool:
        return table in self.manifest(round_id)["tables"]

    def read_union(self, table: str) -> DataFrame:
        """All rows of an append-style table across the committed rounds.
        A plain union: every round after round 0 commits an empty
        ``frontier_next``, so a crawl has at most two rounds of rows and
        the union stays a few scan legs."""
        out = None
        for r in self.committed_rounds():
            if not self.has_table(r, table):
                continue
            df = self.read(r, table)
            out = df if out is None else out.unionByName(df)
        if out is None:
            raise KeyError(f"table {table!r} has no committed data")
        return out
