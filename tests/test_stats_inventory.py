"""stats_inventory: the reference keeps per-table row counts fresh with
AFTER INSERT/UPDATE/DELETE triggers
(migrations/1593015009-stats_inventory.sql:11-16); here the counts are read
off each inventory's committed parquet footers, and must equal a real
COUNT(*) over every inventory after every batch — including across a
replayed batch, with or without CDC changelogs on."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from blockchain_etl_spark.sources.blockchain import SCHEMAS
from blockchain_etl_spark.streaming.ingest import INVENTORIES, BlockIngest
from tests.fixtures_blockchain import gen_transactions


@pytest.fixture(scope="module")
def txn_df(spark):
    _, txns = gen_transactions()
    return spark.createDataFrame(
        [Row(**t) for t in txns], schema=SCHEMAS["transactions"]
    ).cache()


def _expect_counts(spark, ing):
    out = {}
    for name in ("accounts", *INVENTORIES):
        t = ing.inventory_target(name).read(spark)
        out[f"{name}_inventory"] = t.count() if t is not None else 0
    return out


def _got_counts(spark, ing):
    return {r.name: r.value for r in ing.stats_inventory(spark).collect()}


@pytest.mark.parametrize("maintain_stats", [True, False])
def test_stats_follow_inventories_across_batches(
    spark, txn_df, tmp_path, maintain_stats
):
    ing = BlockIngest(
        str(tmp_path / "out"),
        maintain_inventories=True,
        maintain_stats=maintain_stats,
    )
    for lo, hi in [(1, 40), (41, 80), (81, 120)]:
        batch = txn_df.filter((F.col("block") >= lo) & (F.col("block") <= hi))
        ing.process_batch(batch, 0)
        assert _got_counts(spark, ing) == _expect_counts(spark, ing), (lo, hi)

    # replayed batch: merges are watermark-no-ops, so no stat moves
    before = _got_counts(spark, ing)
    ing.process_batch(
        txn_df.filter((F.col("block") >= 81) & (F.col("block") <= 120)), 1
    )
    assert _got_counts(spark, ing) == before


def test_stats_require_inventories():
    with pytest.raises(ValueError, match="maintain_inventories"):
        BlockIngest("/tmp/x", maintain_stats=True)


def test_stats_enabled_mid_life_seeds_instead_of_wedging(spark, txn_df, tmp_path):
    """An ingest directory whose inventories already merged versions
    WITHOUT changelog_keys, later reopened with maintain_stats=True, must
    keep ingesting with exact counts — the versions that have no changelog
    segment must not make a batch raise."""
    out = str(tmp_path / "late")
    plain = BlockIngest(out, maintain_inventories=True)  # no stats, no CDC
    plain.process_batch(
        txn_df.filter((F.col("block") >= 1) & (F.col("block") <= 40)), 0
    )

    ing = BlockIngest(out, maintain_inventories=True, maintain_stats=True)
    ing.process_batch(
        txn_df.filter((F.col("block") >= 41) & (F.col("block") <= 80)), 0
    )
    assert _got_counts(spark, ing) == _expect_counts(spark, ing)
    # and subsequent batches keep the counts exact
    ing.process_batch(
        txn_df.filter((F.col("block") >= 81) & (F.col("block") <= 120)), 0
    )
    assert _got_counts(spark, ing) == _expect_counts(spark, ing)


def test_stats_read_footers_without_spark_jobs(spark, txn_df, tmp_path):
    out = tmp_path / "footers"
    ing = BlockIngest(str(out), maintain_inventories=True, maintain_stats=True)
    ing.process_batch(
        txn_df.filter((F.col("block") >= 1) & (F.col("block") <= 40)), 0
    )
    assert not (out / "stats").exists()

    sc = spark.sparkContext
    group = "stats-inventory-no-jobs"
    sc.setJobGroup(group, "stats_inventory")
    try:
        got = _got_counts(spark, ing)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert got == _expect_counts(spark, ing)
