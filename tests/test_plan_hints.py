"""Forced-broadcast inventory lint (PLANS.md audit, round-5 close-out).

A forced ``F.broadcast`` hint disables AQE's runtime size check, so it
is only safe when the hinted side is bounded BY CONSTRUCTION — a
dimension table, a one-row count frame, one micro-batch's keys, a
benchmark/held-out set, a shard-count-sized base table. A side that is
merely *usually* small (derived from a corpus-scale table, bounded only
by data distribution) must be left to AQE: at 100x scale a hot key
makes it executor-OOM-sized. Rounds 4-5 audited every hint in the
package against that rule (PLANS.md "Forced-broadcast audit") and
dropped the unbounded ones (t_lm_quality, f11, samp_cluster_split, both
j3_observer_fanout hints).

This test freezes the audited inventory: adding, moving, or removing an
``F.broadcast`` call changes a file's count and fails here. That is the
point — a new hint must be justified against the rule above and then
recorded both in PLANS.md and in the allowlist below.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "dionysus_rb_spark"

# file (relative to the package) -> audited number of F.broadcast sites.
# Every entry's justification lives in PLANS.md's audit sections; the
# one-line summaries:
AUDITED_SITES = {
    # size-gated: used only when the index is under BROADCAST_INDEX_MAX_KEYS
    "streaming/neardup_stream.py": 1,
    # query batch (hyperparameter-sized)
    "operators/similarity.py": 1,
    # one outbox batch's published keys
    "operators/outbox.py": 1,
    # per-micro-batch fan-out keys; chain-hop site behind the documented
    # broadcast_hops opt-in (default False since round 6 — AQE owns hops)
    "registry.py": 2,
    # shard-count / bucket-count base tables (corpus/1000-sized)
    "operators/textops.py": 2,
    # benchmark shingle set; three 1-row count frames; bloom (1 row) +
    # benchmark fingerprint set
    "plans/queries_text.py": 6,
    # one micro-batch's parents with the child ids it lists (J4
    # reconciliation folded into the child MERGE, inside foreachBatch)
    "streaming/snapshot_store.py": 1,
    # nation dimension (25 rows). j7's observer-id hint was dropped in
    # the round-5 second sweep: the id set derives from the full events
    # table (data-distribution-bounded, not by construction).
    "plans/queries_coverage.py": 1,
    # plans/queries_core.py no longer hints: j2's changed-key and j4's
    # parent hints were dropped in the round-5 second sweep — both are
    # time windows over fact tables, one CDC batch on the happy path
    # but data-proportional on a backfill. AQE broadcasts them at
    # runtime when actually small (zero-count files are absent here).
}

BROADCAST = re.compile(r"F\.broadcast\(")


def test_forced_broadcast_inventory_is_audited():
    found: dict[str, int] = {}
    for py in sorted(PKG.rglob("*.py")):
        n = len(BROADCAST.findall(py.read_text()))
        if n:
            found[str(py.relative_to(PKG))] = n
    assert found == AUDITED_SITES, (
        "F.broadcast sites changed; re-audit against the bounded-by-"
        f"construction rule (PLANS.md) and update the allowlist. found={found}"
    )
