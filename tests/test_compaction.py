"""Snapshot-store union reads (storage/snapshots.py): ``read_union`` is
row-equal to unioning every committed round's table.
"""

from companycatalogcrawlerparser_spark.storage.snapshots import SnapshotStore


def _mk_store(spark, root):
    st = SnapshotStore(spark, str(root))
    for r in range(3):
        df = spark.createDataFrame(
            [(r * 10 + i, f"e{r}_{i}@x.com") for i in range(5)],
            "company_id long, email string",
        )
        st.commit(r, {"bag": df})
    return st


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_read_union_equals_raw_union(spark, tmp_path):
    st = _mk_store(spark, tmp_path)
    raw = []
    for r in range(3):
        raw.extend(map(tuple, st.read(r, "bag").collect()))
    assert _rows(st.read_union("bag")) == sorted(raw)
