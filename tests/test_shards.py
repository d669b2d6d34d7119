"""Trainer shard handoff: commit_shards writes one file per shard in
train order under the snapshot store's atomic manifest commit —
read-back order, packing parity vs a pure-Python reference, and
kill/resume across a partial shard write."""

import os

from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.operators import curation as CU
from companycatalogcrawlerparser_spark.storage.snapshots import SnapshotStore

BUDGET = 50


def _docs(spark, n=60):
    # deterministic token counts 1..13, unique doc ids
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 7 + 3, F.lit(13)) + 1).alias("n_tokens"),
    )


def _packed(spark, n=60):
    """global shuffle order + token-budget shard assignment."""
    ordered = CU.global_order_index(_docs(spark, n), num_partitions=4)
    return CU.pack_shards(
        ordered, "n_tokens", BUDGET, order_col="train_pos", num_partitions=4
    )


def _py_reference(rows):
    """shard_id per row from the running total BEFORE the row."""
    out, total = {}, 0
    for r in sorted(rows, key=lambda r: r["train_pos"]):
        out[r["doc_id"]] = total // BUDGET
        total += r["n_tokens"]
    return out


class TestCommitShards:
    def test_roundtrip_order_and_packing(self, spark, tmp_path):
        packed = _packed(spark)
        rows = packed.collect()
        exp_shard = _py_reference(rows)
        store = SnapshotStore(spark, str(tmp_path / "store"))
        man = store.commit_shards(1, packed)

        sids = store.shard_ids(1)
        assert sids == sorted(sids)
        assert man["tables"]["shards"]["n_shards"] == len(sids)
        # shards cover 0..K-1 with no gaps (running-total construction)
        assert sids == list(range(len(sids)))

        seen_pos = []
        for sid in sids:
            shard_rows = store.read_shard(1, sid).collect()
            # written in train_pos order inside the file
            pos = [r["train_pos"] for r in shard_rows]
            assert pos == sorted(pos), sid
            for r in shard_rows:
                assert exp_shard[r["doc_id"]] == sid, r
            # one data file per shard (one task owns each shard)
            d = os.path.join(
                man["tables"]["shards"]["path"], f"shard_id={sid}"
            )
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1, (sid, files)
            seen_pos.extend(pos)
        # reading shards in shard order IS the global training order
        assert seen_pos == sorted(seen_pos)
        assert len(seen_pos) == 60

    def test_budget_respected(self, spark, tmp_path):
        packed = _packed(spark)
        sums = {
            r["shard_id"]: r["tok"]
            for r in packed.groupBy("shard_id")
            .agg(F.sum("n_tokens").alias("tok"))
            .collect()
        }
        # every shard except possibly the last stops once the budget is
        # crossed: the pre-row running total is < budget for each member,
        # so a shard holds < budget + max_row_tokens
        for sid, tok in sums.items():
            assert tok < BUDGET + 13, (sid, tok)

    def test_kill_resume_partial_write(self, spark, tmp_path):
        root = str(tmp_path / "store")
        store = SnapshotStore(spark, root)
        packed = _packed(spark)
        store.commit_shards(1, packed)
        expected = sorted(
            map(tuple, store.read(1, "shards").drop("shard_id").collect())
        )

        # simulate a kill during the round-2 shard write: data lands but
        # the manifest rename never happens
        orphan = os.path.join(root, "data", "round=2", "shards")
        packed.filter(F.col("shard_id") == 0).write.mode(
            "overwrite"
        ).partitionBy("shard_id").parquet(orphan)
        assert store.last_round() == 1  # orphan is invisible
        assert 2 not in store.committed_rounds()

        # resume: the rerun overwrites the orphan and commits atomically
        store.commit_shards(2, packed)
        assert store.last_round() == 2
        got = sorted(
            map(tuple, store.read(2, "shards").drop("shard_id").collect())
        )
        assert got == expected
        assert store.shard_ids(2) == store.shard_ids(1)
