"""One snapshot LSN high-water mark: ``IcehouseTable.lsn_high`` is the
metadata-only max of ``lsn_max`` over live base and delta files that the
consumers' change set, the secondary index, cherry-pick and the Debezium
emitter all read.  The callers need different answers for a snapshot with
nothing recorded and for one where a live file lacks ``lsn_max``, so each
one's arguments are pinned to its value on all three snapshot shapes."""

import copy

from pyspark.sql import types as T

from data_pipeline_spark.cdc import apply_changes, apply_changes_mor
from data_pipeline_spark.table import IcehouseTable

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n", T.IntegerType(), True),
    ]
)

# the accessor arguments each caller passes
CALLERS = {
    # changeset.is_exact: None on a non-empty snapshot refuses the feed
    "matview_guard": {"strict": True},
    # the change set's changed-since watermark (changeset._from_feed)
    "matview_feed": {"default": -1, "strict": True},
    # SecondaryIndex.refresh's LWW ordinal floor
    "index": {"default": -1},
    # cherry_pick's fresh LSN stamp base
    "cherry": {"default": 0},
    # emit_debezium_envelopes' lsn_fallback
    "emit": {"default": 0},
}


def _batch(spark, rows):
    schema = "lsn long, op string, doc_id string, n int"
    return spark.createDataFrame(rows, schema)


def test_lsn_high_pins_every_caller(spark, tmp_path):
    root = str(tmp_path / "t")
    t = IcehouseTable.create(root, SCHEMA, key_col="doc_id", n_buckets=4)
    empty = IcehouseTable.load(root, version=0)
    apply_changes(t, _batch(spark, [
        (1, "I", "a", 1), (2, "I", "b", 2), (3, "I", "c", 3),
    ]), epoch=0)
    apply_changes_mor(t, _batch(spark, [
        (10, "U", "a", 10), (12, "D", "b", None),
    ]), epoch=1)
    mor = IcehouseTable.load(root)
    deltas = [d for ds in mor.meta["deltas"].values() for d in ds]
    # a and b hash to different buckets: one delta file each, over the base
    assert mor.meta["partitions"] and len(deltas) == 2

    # the same snapshot with the top delta's lsn_max unrecorded (a file
    # written without footer LSN stats)
    gap_meta = copy.deepcopy(mor.meta)
    top = max(
        (d for ds in gap_meta["deltas"].values() for d in ds),
        key=lambda d: d["lsn_max"],
    )
    assert top["lsn_max"] == 12
    del top["lsn_max"]
    gap = IcehouseTable(root, gap_meta)

    expected = {
        "empty": {"matview_guard": None, "matview_feed": -1, "index": -1,
                  "cherry": 0, "emit": 0},
        # the highest mark the other files record is a's update at 10
        "gap": {"matview_guard": None, "matview_feed": -1, "index": 10,
                "cherry": 10, "emit": 10},
        "mor": {"matview_guard": 12, "matview_feed": 12, "index": 12,
                "cherry": 12, "emit": 12},
    }
    for name, snap in (("empty", empty), ("gap", gap), ("mor", mor)):
        got = {c: snap.lsn_high(**kw) for c, kw in CALLERS.items()}
        assert got == expected[name], name
