"""Cherry-pick: publish a branch's NET delta onto a diverged target branch.

:meth:`~..table.icehouse.IcehouseTable.fast_forward` refuses when the
target advanced past the fork point — correctly, because adopting the
branch head wholesale would silently discard the target's own commits.
Cherry-pick is the sanctioned escape hatch for that case (the Iceberg
workflow is "re-create the branch and re-stage"; a CDC engine can do
better): compute the branch's net row-level delta since its fork
(:func:`~.cdf.snapshot_diff` — one key-wise co-partitioned join of two
snapshots) and MERGE it onto the target as one ordinary exactly-once
``apply_changes`` batch.

Overlap semantics are explicit via ``lsn=``: the default ``"picker"``
stamps every picked row with a fresh LSN above the target's high-water
mark (the branch wins every overlap — the authoritative-repair contract),
while ``"preserve"`` carries each row's true branch LSN so picked rows
take their natural place in the LWW order (the live-ingest-safe contract;
see :func:`cherry_pick`).  Unlike fast-forward this is a DATA commit (the
delta rewrites the touched buckets), not a metadata re-point — the price
of divergence.

Exactly-once AND incremental: the commit is fenced on ``epoch = branch
head version`` in namespace ``cherry:<branch>``, so a crash-retried or
double-submitted pick is a no-op — and the HIGHEST committed epoch in
that namespace doubles as the next pick's diff anchor (it was written
atomically with the applied data, so it can never disagree).  A later
pick therefore diffs only (last picked head → new head): rows picked
earlier are NOT re-applied, so target-side writes made between picks are
never clobbered by a stale re-stamp.

Scale shape: two bucket-co-partitioned snapshot scans for the diff (cost
of not materializing per-commit change files), then the standard O(touched
buckets) merge.  No driver-side rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..table.icehouse import IcehouseTable
from .apply import ApplyStats, apply_changes
from .cdf import snapshot_diff


@dataclass(frozen=True)
class CherryPickStats:
    branch: str
    from_version: int  # fork anchor the delta starts at
    to_version: int  # branch head the delta ends at
    stats: ApplyStats

    @property
    def skipped(self) -> bool:
        return self.stats.result.skipped


def cherry_pick(
    spark: SparkSession,
    target: IcehouseTable,
    branch: str,
    lsn: str = "picker",
) -> CherryPickStats:
    """Apply branch ``branch``'s net changes since its fork onto ``target``
    (usually the main handle).  See the module docstring for semantics.

    The fork anchor comes from the recorded ``branch_forks`` entry — the
    same O(1) bookkeeping fast-forward validates against — so the delta is
    exactly "what the branch did", even after the target diverged.

    ``lsn``:

    - ``"picker"`` (default): stamp every picked row with one fresh LSN
      above the target's high-water mark — the pick wins every overlap,
      INCLUDING against future upstream events whose natural LSNs are
      below the stamp.  Right when the branch is the authority (a repair
      of rows the upstream will not re-send) — wrong under live ingest
      that will keep writing these keys.
    - ``"preserve"``: carry each row's TRUE LSN from the branch snapshot
      (tombstones included), so the picked rows take their natural place
      in the LWW order: a target row already newer than the branch's
      change keeps winning, and future upstream events with higher LSNs
      win normally.  Right when the branch replayed real upstream epochs
      that main simply hasn't seen.
    """
    if lsn not in ("picker", "preserve"):
        raise ValueError(f"unknown lsn mode {lsn!r} (picker | preserve)")
    target.refresh()
    _, heads, forks = target._global_refs(target.root)
    if branch not in heads:
        raise KeyError(f"no branch {branch!r} on table {target.root}")
    fork = forks.get(branch)
    if fork is None or fork.get("from_branch") != target.branch:
        raise ValueError(f"branch {branch!r} was not forked from {target.branch!r}")
    # diff anchor = the last picked branch head (from the target's OWN fence
    # registry — written atomically with the applied rows), else the fork.
    # Expiry note: branch heads and fork anchors are pinned against
    # expire_snapshots, but a superseded picked head is not — run picks
    # more often than snapshot expiry or the anchor load fails loudly.
    last_picked = target.last_epoch(f"cherry:{branch}")
    v_from = max(int(fork["at_version"]), -1 if last_picked is None else last_picked)
    v_to = int(heads[branch])
    if v_to <= v_from:
        # no branch commits since the fork (or since the last publish)
        return CherryPickStats(branch, v_from, v_to, _noop_stats(target))
    delta = snapshot_diff(spark, target.root, v_from, v_to)
    head = IcehouseTable.load(target.root, version=v_to)
    delta = _remap_renamed_columns(delta, target, head, branch)
    lsn0 = target.lsn_high(default=0) + 1
    key = target.key_col
    if lsn == "preserve":
        # per-key true LSNs from the branch head snapshot (with_meta keeps
        # tombstone rows, so deletes carry their delete LSN); a vacuumed
        # tombstone falls back to the fresh stamp.  The join key is the
        # BRANCH-era key name on the head read, aliased to the target's
        # current key name (they differ when main renamed the key column
        # after the fork).
        src = head.read(spark, with_meta=True).select(
            F.col(head.key_col).alias(key), F.col("_lsn").alias("_src_lsn")
        )
        lsn_col = F.coalesce(F.col("_src_lsn"), F.lit(lsn0))
        delta = delta.join(src, key, "left")
    else:
        lsn_col = F.lit(lsn0)
    changes = delta.select(
        lsn_col.cast("long").alias("lsn"),
        F.when(F.col("op") == "D", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        *[c for c in delta.columns if c not in ("op", "_src_lsn")],
    )
    stats = apply_changes(
        target, changes, epoch=v_to, epoch_source=f"cherry:{branch}"
    )
    return CherryPickStats(branch, v_from, v_to, stats)


def _remap_renamed_columns(
    delta: DataFrame, target: IcehouseTable, head: IcehouseTable, branch: str
) -> DataFrame:
    """Carry the branch's column names across a rename boundary: the diffed
    delta is expressed in BRANCH-era names (the branch's schema froze at
    the fork), while the target may have renamed columns since.  Each delta
    column that is a retired name on the target is chain-forwarded through
    the target's ``column_renames`` event log to its current name — the
    same per-era mapping the read path applies to old files, applied here
    to a cross-branch batch (without it, ``apply_changes`` would either
    reject the batch via the stale-name guard or conform the values to
    NULL).  Renames the BRANCH made that the target has never seen are
    refused loudly: both sides renaming independently is a genuinely
    diverged schema with no safe automatic mapping."""
    t_renames = target.meta.get("column_renames", [])
    b_renames = head.meta.get("column_renames", [])
    t_events = {(e["version"], e["old"], e["new"]) for e in t_renames}
    foreign = [
        e for e in b_renames if (e["version"], e["old"], e["new"]) not in t_events
    ]
    if foreign:
        raise ValueError(
            f"branch {branch!r} carries column renames the target has never "
            f"seen ({[(e['old'], e['new']) for e in foreign]}) — diverged "
            "schemas cannot be cherry-picked automatically; rename the "
            "target to match (or re-create the branch) first"
        )
    if not t_renames:
        return delta
    # apply ONLY the rename events the branch has never seen (target-side,
    # post-fork), in chronological order — sequential substitution replays
    # exactly what happened on the target, so chains (a→b→c) and name
    # shadowing (a→b then later c→a) both resolve to the right logical
    # column
    b_events = {(e["version"], e["old"], e["new"]) for e in b_renames}
    applicable = sorted(
        (
            e
            for e in t_renames
            if (e["version"], e["old"], e["new"]) not in b_events
        ),
        key=lambda e: e["version"],
    )

    def forward(name: str) -> str:
        cur = name
        for e in applicable:
            if e["old"] == cur:
                cur = e["new"]
        return cur

    mapping = {
        c: forward(c) for c in delta.columns if c != "op" and forward(c) != c
    }
    if not mapping:
        return delta
    # a branch-ADDED column may coincide with a post-fork rename's target
    # name (legal on the branch — the name was free there); mapping the
    # renamed column onto it would emit two columns with one name and
    # crash downstream with an ambiguous-reference error.  Refuse with the
    # diverged-schema contract message instead.
    out_names = [mapping.get(c, c) for c in delta.columns]
    dupes = sorted({n for n in out_names if out_names.count(n) > 1})
    if dupes:
        raise ValueError(
            f"branch {branch!r} added column(s) {dupes} whose names collide "
            "with the target's post-fork renames — diverged schemas cannot "
            "be cherry-picked automatically; rename the branch column (or "
            "the target) first"
        )
    return delta.select(
        *[
            F.col(c).alias(mapping.get(c, c))
            for c in delta.columns
        ]
    )


def _noop_stats(table: IcehouseTable) -> ApplyStats:
    from ..table.icehouse import CommitResult

    return ApplyStats(
        result=CommitResult(table.version, table.meta["snapshot_id"], None, skipped=True),
        events_in=0,
        events_applied=0,
        deletes=0,
    )
