from .apply import (
    ApplyStats,
    apply_changes,
    apply_changes_mor,
    apply_changes_with_evolution,
    lww_latest,
    lww_latest_window,
)
from .changelog import (
    CHANGE_LOG_SCHEMA,
    generate_change_log,
    materialize_change_log,
    read_change_log,
)
from .cdf import diff_between_refs, snapshot_diff, snapshot_diff_images
from .emit import (
    changed_since_events,
    emit_changed_since,
    emit_debezium_envelopes,
    emit_published_feed,
    emit_to_files,
    kafka_sink_frame,
)
from .quarantine import drain_dlq
from .quarantine import (
    DeadLetterSink,
    apply_changes_with_dlq,
    classify_events,
    split_valid,
)
from .replay import Checkpoint, ReplayReport, ReplayRunner
from .scd import scd2_history
from .skew import detect_hot_keys, salted_join, salted_lww_latest

__all__ = [
    "ApplyStats",
    "apply_changes",
    "apply_changes_mor",
    "apply_changes_with_evolution",
    "lww_latest",
    "lww_latest_window",
    "CHANGE_LOG_SCHEMA",
    "generate_change_log",
    "materialize_change_log",
    "read_change_log",
    "Checkpoint",
    "ReplayReport",
    "ReplayRunner",
    "detect_hot_keys",
    "salted_join",
    "salted_lww_latest",
    "scd2_history",
    "snapshot_diff",
    "snapshot_diff_images",
    "diff_between_refs",
    "changed_since_events",
    "emit_changed_since",
    "emit_debezium_envelopes",
    "emit_published_feed",
    "emit_to_files",
    "kafka_sink_frame",
    "drain_dlq",
    "DeadLetterSink",
    "apply_changes_with_dlq",
    "classify_events",
    "split_valid",
]
