"""Guarded upsert (MERGE) — the consumer's persist step, batch-expressed.

Implements as one DataFrame transform what the reference does row-at-a-
time in lib/dionysus/consumer/persistor.rb:46-95:

  J1  upsert key join         find_or_initialize_by(synced_id)   persistor.rb:59-60
  F1  stale-update guard      skip (any event, destroys too) unless
                              coalesce(event.updated_at, event.created_at)
                              >= stored.synced_updated_at, accept when
                              either side missing   persistor.rb:61-63,
                                                    synchronizable_model.rb:16-26
  F3  soft-delete / restore   destroyed + canceled stamp => persist payload
                              attrs incl. canceled_at (assign precedes the
                              destroy branch); destroyed w/o stamp => hard
                              delete; created/updated => canceled_at from
                              payload (restore = NULL)
                                                                 synchronizable_model.rb:40-56
  S10 tombstone               NULL payload under a key => delete  tombstone_publisher.rb:4-21
  F8  event dispatch          created/updated/destroyed; unknown dropped
                                                                 dionysus_event.rb:14-28

Physical shape: the source batch is A1-deduped (one row per key — the
reference guarantees this via RemoveDuplicatesStrategy before persist),
then a single full-outer shuffle join on the key decides each row's
fate. On Delta this whole function is one ``MERGE INTO``; here it is the
engine-agnostic plan (works on parquet snapshots via rewrite). At 100 TB
the join shuffles only the key + guard columns of the *target* if you
project first — callers holding wide targets should bucket the target
table by the merge key so the join co-locates without a target shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import keep_latest

EVENT_CREATED = "created"
EVENT_UPDATED = "updated"
EVENT_DESTROYED = "destroyed"
KNOWN_EVENTS = (EVENT_CREATED, EVENT_UPDATED, EVENT_DESTROYED)


def guarded_merge(
    target: DataFrame,
    source: DataFrame,
    key: str = "synced_id",
    event_col: str = "event",
    source_updated: str = "synced_updated_at",
    target_updated: str = "synced_updated_at",
    canceled_col: str | None = "synced_canceled_at",
    order_tiebreak: str | None = None,
    source_created: str | None = None,
) -> DataFrame:
    """Return the post-merge state of ``target``.

    ``source`` rows carry the payload columns (same names as target's data
    columns; a target column the payload lacks keeps its stored value and
    is NULL on insert) plus ``event_col`` ∈ {created, updated, destroyed}; a
    tombstone is ``event = destroyed`` with all payload columns NULL —
    tombstones delete hard. Unknown event names are dropped (F8; the
    reference logs them to the error handler — streaming callers attach a
    dead-letter sink instead, see streaming/pipeline.py).

    Guard truth table (synchronizable_model.rb:24-26): persist iff
    ``event_updated_at >= tgt.updated_at`` OR either is NULL, where
    ``event_updated_at = coalesce(src.updated_at, src.created_at)``
    (persistor.rb:61 — pass ``source_created`` to enable the fallback).
    The guard runs BEFORE the event branch (persistor.rb:63 ``next
    unless record.persist_with_dionysus?``), so a stale destroy is
    rejected exactly like a stale update — replaying any batch is a
    no-op regardless of event mix.

    Destroy semantics (persistor.rb:64-75 + synchronizable_model.rb:
    40-56): attributes are assigned from the payload BEFORE the destroy
    branch, so a guard-accepted soft destroy (payload carries
    ``canceled_col``) persists the payload's attribute values, canceled
    stamp included; a soft destroy of an unseen key inserts the canceled
    row (find_or_initialize + save). A hard destroy (no canceled stamp)
    deletes matched rows and no-ops on unseen keys (``record.save unless
    record.destroyed?``).
    """
    data_cols = [c for c in target.columns]
    src = source.filter(F.col(event_col).isin(*KNOWN_EVENTS))
    src = keep_latest(
        src,
        [key],
        source_updated,
        tiebreak_cols=[order_tiebreak] if order_tiebreak else (),
    )

    t = target.alias("t")
    s = src.alias("s")
    joined = t.join(s, F.col(f"t.{key}").eqNullSafe(F.col(f"s.{key}")), "full_outer")

    matched = F.col(f"s.{event_col}").isNotNull() & F.col(f"t.{key}").isNotNull()
    src_only = F.col(f"t.{key}").isNull() & F.col(f"s.{event_col}").isNotNull()
    is_destroy = F.col(f"s.{event_col}") == EVENT_DESTROYED

    src_ts = F.col(f"s.{source_updated}")
    if source_created is not None:
        # event_updated_at = synced_updated_at || synced_created_at
        # (persistor.rb:61)
        src_ts = F.coalesce(src_ts, F.col(f"s.{source_created}"))
    guard_ok = (
        src_ts.isNull()
        | F.col(f"t.{target_updated}").isNull()
        | (src_ts >= F.col(f"t.{target_updated}"))
    )

    if canceled_col is not None:
        # soft delete: destroy with a canceled_at in the payload cancels
        # (persisting the payload's attrs — assign happens before the
        # destroy branch); destroy without one hard-deletes;
        # create/update writes the payload's canceled_at through
        # (NULL => restore).
        hard_delete = is_destroy & F.col(f"s.{canceled_col}").isNull()
    else:
        hard_delete = is_destroy

    def out_col(c: str):
        if c not in source.columns:
            # the payload does not carry c: a stored row keeps its value
            # and an insert has none (the reference assigns only the
            # payload's attributes, synchronizable_model.rb:32-37)
            return F.when(src_only, F.lit(None)).otherwise(F.col(f"t.{c}")).alias(c)
        return (
            # guard-accepted events — soft destroys included — persist
            # the payload's attributes (assign_attributes_from_dionysus
            # runs before the destroy branch, persistor.rb:64)
            F.when(matched & guard_ok & ~hard_delete, F.col(f"s.{c}"))
            .when(matched, F.col(f"t.{c}"))  # guard rejected => keep target
            .when(src_only, F.col(f"s.{c}"))
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
        )

    keep = (
        # target-only rows survive; matched rows survive unless a
        # guard-accepted hard delete removes them; source-only rows
        # insert (soft destroys included: find_or_initialize + cancel +
        # save) except hard destroys of unseen keys (no-op)
        (F.col(f"s.{event_col}").isNull() & F.col(f"t.{key}").isNotNull())
        | (matched & ~(hard_delete & guard_ok))
        | (src_only & ~hard_delete)
    )
    return joined.filter(keep).select(*[out_col(c) for c in data_cols])


def local_changes(
    before: DataFrame,
    after: DataFrame,
    key: str = "synced_id",
    columns: list[str] | None = None,
) -> DataFrame:
    """The consumer's "local changes" audit (persistor.rb:76,
    README.md:1164-1171): per key, the ``{column: [old, new]}`` pairs a
    merge actually changed — derived set-wise by joining pre- and
    post-merge state and unpivoting the differing columns.

    Output: (key, column, old_value, new_value) rows; inserts have NULL
    olds, deletes NULL news (values stringified for the uniform audit
    shape, like the reference's jsonb changeset)."""
    cols = columns or [c for c in after.columns if c != key]
    b, a = before.alias("b"), after.alias("a")
    joined = b.join(a, F.col(f"b.{key}").eqNullSafe(F.col(f"a.{key}")), "full_outer")
    k = F.coalesce(F.col(f"a.{key}"), F.col(f"b.{key}")).alias(key)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"b.{c}").cast("string").alias("old_value"),
                F.col(f"a.{c}").cast("string").alias("new_value"),
            )
            for c in cols
        ]
    )
    changed = F.filter(
        pairs, lambda p: ~p["old_value"].eqNullSafe(p["new_value"])
    )
    return (
        joined.select(k, F.explode(changed).alias("c"))
        .select(key, "c.column", "c.old_value", "c.new_value")
    )


def reconcile_to_many(
    local_children: DataFrame,
    payload_child_ids: DataFrame,
    parent_key: str,
    child_key: str,
) -> DataFrame:
    """J4: rows to DELETE — local children of a parent absent from the
    payload's id list (ref persistor.rb:128-151, README.md:866-876:
    ``where.not(id: ids).destroy_all``). Anti-join on (parent, child);
    broadcast the payload side when it is one batch's worth."""
    return local_children.join(
        payload_child_ids,
        on=[parent_key, child_key],
        how="left_anti",
    )
