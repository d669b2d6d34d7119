"""Trainer shard packing: global shuffle order then token-budget shard
assignment — parity vs a pure-Python reference and the budget bound."""

from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.operators import curation as CU

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
    def test_budget_respected(self, spark, tmp_path):
        packed = _packed(spark)
        rows = packed.collect()
        exp_shard = _py_reference(rows)
        for r in rows:
            assert exp_shard[r["doc_id"]] == r["shard_id"], r
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

