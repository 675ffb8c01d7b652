"""Changelog-mode streaming over the table format: per-epoch CDC
consumption with checkpointed snapshot offsets.

Reference mapping: the reference's streaming ingestion keeps a
per-source watermark and replays idempotently per flush epoch
(gobblin-core/src/main/java/org/apache/gobblin/source/extractor/
extract/kafka/KafkaStreamingExtractor.java:118 watermark tracking;
gobblin-runtime/.../SafeDatasetCommit.java commit isolation). This
module is the CDC analog on the lakehouse side: the batch
``IcebergTable.changelog()`` already computes insert AND retraction
rows for any snapshot window (including equality/position deletes and
COW/MoR overwrites) — what a streaming consumer additionally needs is
OFFSET MANAGEMENT (which snapshot was consumed last), BATCHING (bound
how many commits one micro-batch covers), and REPLAY IDEMPOTENCE
across restarts. That is exactly Structured Streaming's
``foreachBatch`` contract, so this helper exposes the same shape: the
user function receives ``(batch_df, epoch_token)`` and must be
idempotent by token; the offset is checkpointed only AFTER the
function returns, so a crash between delivery and checkpoint re-runs
the SAME window under the SAME token on restart.

Why not a DSv2 stream source: Spark's micro-batch readers materialize
rows per InputPartition from file splits, which fits append-only
consumption (``gobblin_iceberg``'s readStream face, sequence-number
offsets). Retraction rows are NOT per-file reads — an equality-delete
retraction is "table state as of the delete's parent, semi-joined with
its tuples", a multi-scan broadcast-join plan that only exists at the
DataFrame layer. Driving ``changelog()`` per epoch keeps that plan
(zero shuffles, broadcast joins, pruned scans) instead of forcing it
through a row-server hop.

Scale shape (100 TB): everything here is driver-side metadata except
the delivered DataFrame, whose plan is the audited changelog plan —
per-epoch cost is O(delta), never O(table). The checkpoint is a
WatermarkStore ledger (one claim per sequence, see gobblin_spark.claim
for its guarantee on each filesystem; torn-entry skipping; pruning),
so the offset directory works on any Hadoop filesystem the session
reaches.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame

from gobblin_spark.state import ConcurrentWriterError, WatermarkStore

_DATASET = "iceberg_changelog_offsets"
_INTENT = "iceberg_changelog_intent"


class IcebergChangelogStream:
    """Checkpointed per-epoch consumption of ``IcebergTable.changelog``.

    ``fn(batch_df, to_snapshot_id)`` is invoked once per pending
    window; ``to_snapshot_id`` is the epoch token. The planned window
    is persisted as an INTENT record before delivery, so a crash
    between delivery and the offset commit replays the SAME window
    under the SAME token after restart — even when new upstream
    commits arrived in between (they become the next epoch). An
    idempotent-by-token sink therefore gets exactly-once effects.
    ``max_snapshots_per_batch`` bounds how many upstream commits one
    epoch covers (None = drain everything pending in one batch);
    changing it between restarts re-slices only windows not yet
    planned — committed offsets and a surviving planned window are
    never revisited.

    **One live consumer per checkpoint directory** (the Structured
    Streaming checkpoint contract). The ledger commits are FENCED, so
    a second consumer sharing the directory dies with
    :class:`~gobblin_spark.state.ConcurrentWriterError` before it can
    deliver a conflicting window — restarts after a crash are fine
    (the dead consumer holds no lease to expire).
    """

    def __init__(self, table, checkpoint_dir: str,
                 max_snapshots_per_batch: int | None = None):
        if max_snapshots_per_batch is not None \
                and max_snapshots_per_batch < 1:
            raise ValueError("max_snapshots_per_batch must be >= 1")
        self.table = table
        self.store = WatermarkStore(table.spark, checkpoint_dir)
        self.max_snapshots_per_batch = max_snapshots_per_batch

    # -- offsets --------------------------------------------------------
    # Every ledger access is FENCED (review r13 pass 3): the checkpoint
    # directory admits exactly ONE live consumer. Two consumers sharing
    # it genuinely break exactly-once — a consumer whose offset read
    # went stale while its rival completed whole epochs would plan a
    # FRESH window from the old base and deliver already-applied rows
    # under a never-seen token, which an idempotent-by-token sink
    # cannot dedup. Fencing on the ledger's own atomic-create sequence
    # (the CAS Structured Streaming's HDFSMetadataLog uses per batch
    # file) makes the loser die loudly BEFORE delivering instead.
    def _offset_record(self) -> tuple[dict | None, int]:
        raw, fence = self.store.get_with_fence(_DATASET)
        return (None if raw is None else json.loads(raw)), fence

    def last_committed(self) -> int | None:
        """Snapshot id of the last fully-consumed window head, or None
        when this checkpoint has never committed."""
        rec, _ = self._offset_record()
        return None if rec is None else rec["snapshot_id"]

    def _commit_offset(self, snapshot_id: int, epoch: int,
                       fence: int, intent_seq: int) -> int:
        # intent_seq = the intent-ledger sequence of the record that
        # planned THIS window: the next epoch's intent lookup scans
        # only records above it (see _find_intent)
        return self.store.commit_fenced(
            _DATASET, json.dumps({"snapshot_id": snapshot_id,
                                  "epoch": epoch,
                                  "intent_seq": intent_seq}), fence)

    def _find_intent(self, frm: int | None, lo_seq: int
                     ) -> tuple[dict | None, int | None, int]:
        """The newest intent planned FROM *frm* among intent-ledger
        records with sequence ABOVE *lo_seq*, returned as
        ``(record, its_seq, ledger_fence)`` (``(None, None, fence)``
        when absent). Matching by base — not taking the top record
        blindly — matters (review r13 pass 3): a fenced-out straggler
        can land one junk intent (planned from ITS stale base) above
        the live record before the offset recheck kills it, and a
        crashed consumer restarting under the buried live intent would
        otherwise re-slice a fresh window and double-apply; offsets
        only ADVANCE, so a junk record's base can never match *frm*.
        The scan bound is by SEQUENCE, not content: *lo_seq* is the
        intent that produced the committed offset (recorded in the
        offset payload), and this base's live intent — written only
        after that offset landed — always sits strictly above it.
        A content marker (breaking at ``to == frm``) is UNSOUND here:
        the exhaustive model check
        (tests/test_changelog_stream_model.py) found that a junk
        intent whose head merely COINCIDES with the current base can
        land above the live record and truncate the scan — the missed
        live intent then re-slices and double-applies. Steady state
        reads ZERO intent files (the ledger top IS lo_seq); one
        listing either way."""
        fence, it = self.store.scan_newest(_INTENT, min_seq=lo_seq)
        for seq, raw in it:
            if raw is None:
                continue
            rec = json.loads(raw)
            if rec["from"] == frm:
                return rec, seq, fence
        return None, None, fence

    def _write_intent(self, frm: int | None, to_sid: int,
                      epoch: int, fence: int) -> int:
        return self.store.commit_fenced(
            _INTENT, json.dumps({"from": frm, "to": to_sid,
                                 "epoch": epoch}), fence)

    # -- planning ---------------------------------------------------------
    def pending(self) -> list[int]:
        """Snapshot ids on MAIN committed after the checkpointed offset,
        oldest first. Raises when the offset is no longer on main's
        ancestry — an upstream ``rollback_to`` rewrote history past the
        consumer, or the snapshot expired before the consumer caught
        up; both need an operator decision (re-seed the checkpoint or
        re-bootstrap the downstream), not a silent full re-emit."""
        return self._pending_after(self.last_committed())

    def _pending_after(self, last: int | None) -> list[int]:
        md = self.table.metadata()
        head = md.get("current-snapshot-id", -1)
        if head == -1:
            return []
        chain = [s["snapshot-id"]
                 for s in reversed(self.table._main_ancestry(md))]
        if last is None:
            return chain
        if last not in chain:
            raise RuntimeError(
                f"changelog stream offset {last} is not on main's "
                "ancestry — upstream rollback_to rewrote history past "
                "this consumer, or the snapshot expired before it "
                "caught up; re-seed the checkpoint deliberately")
        return chain[chain.index(last) + 1:]

    # -- consumption ------------------------------------------------------
    def process_available(
            self, fn: Callable[[DataFrame, int], None]) -> int:
        """Drain every pending window through *fn*; returns the number
        of epochs delivered. Offset commits happen strictly AFTER *fn*
        returns for the window — at-least-once delivery with
        deterministic tokens, which an idempotent-by-token *fn* turns
        into exactly-once (the foreachBatch contract)."""
        delivered = 0
        while True:
            # ONE checkpoint read per epoch; its fence guards both the
            # intent write and the offset commit below
            rec, off_fence = self._offset_record()
            frm = None if rec is None else rec["snapshot_id"]
            epoch = 0 if rec is None else rec["epoch"] + 1
            # intent-ledger scan floor: the intent that committed frm
            # (0 on a fresh checkpoint or a pre-r13 legacy record —
            # full scan, sound either way)
            lo_seq = 0 if rec is None else rec.get("intent_seq", 0)
            todo = self._pending_after(frm)
            if not todo:
                return delivered
            # The planned window is WAL-ed as an INTENT record BEFORE
            # delivery (review r13): without it, a crash between fn and
            # the offset commit followed by NEW upstream commits would
            # re-slice the window on restart — fn would see the
            # already-applied rows again under a NEVER-SEEN token, and
            # the idempotent-by-token sink would double-apply them.
            # A surviving intent whose base matches the committed
            # offset (and whose head is still pending — a rollback
            # in the gap invalidates it) is replayed verbatim, token
            # and all; Structured Streaming WALs its planned offset
            # ranges for exactly the same reason.
            intent, intent_seq, int_fence = self._find_intent(frm,
                                                              lo_seq)
            if intent is not None:
                if intent["to"] not in todo:
                    # The planned head vanished from main's pending set
                    # between the crash and the restart — an upstream
                    # rollback_to past it, or it expired. The window
                    # may have been DELIVERED already; silently
                    # re-slicing would re-deliver its rows under a
                    # never-seen token (review r13 pass 2). Same
                    # operator-decision policy as the offset guard.
                    raise RuntimeError(
                        f"changelog stream planned window head "
                        f"{intent['to']} is no longer on main's "
                        "pending ancestry — upstream rollback_to "
                        "rewrote history past a possibly-delivered "
                        "window, or the snapshot expired; re-seed the "
                        "checkpoint deliberately")
                to_sid = intent["to"]
            else:
                step = (len(todo)
                        if self.max_snapshots_per_batch is None
                        else self.max_snapshots_per_batch)
                to_sid = todo[min(step, len(todo)) - 1]
                # fenced: if a rival consumer WAL-ed an intent since
                # our read, this create collides and we die before
                # delivering a conflicting window
                intent_seq = self._write_intent(frm, to_sid, epoch,
                                                int_fence)
            # ONE offset-fence recheck guards BOTH paths before
            # delivery. Plan-own path: the intent fence can't see a
            # rival that completed WHOLE epochs (intent + delivery +
            # offset + prune) between our offset read and intent write
            # — its offset commits moved that ledger's top. Replay
            # path: a straggler at a STALE base can select a junk
            # intent another fenced-out straggler left at the same
            # base and deliver its window under a token the live
            # consumer hasn't used yet — but junk only exists because
            # its writer failed THIS check, i.e. offsets had advanced,
            # and offsets never regress, so every later same-base
            # reader fails here too. A genuine crash-restart replay
            # passes trivially (it just read the offset). After this
            # check, any two consumers sharing a base converge on the
            # identical (window, token) pair — duplicates an
            # idempotent-by-token sink absorbs.
            if self.store.fence(_DATASET) != off_fence:
                raise ConcurrentWriterError(
                    "changelog stream offset ledger advanced "
                    "underneath this consumer — a second consumer "
                    "is sharing this checkpoint directory; run "
                    "exactly one consumer per checkpoint")
            fn(self.table.changelog(frm, to_sid), to_sid)
            off_seq = self._commit_offset(to_sid, epoch, off_fence,
                                          intent_seq)
            # ledger hygiene (review r13 pass 2, same bug class as
            # audit r8 in the runner): one file lands per commit —
            # without pruning a continuous consumer lists an ever-
            # growing checkpoint directory every epoch. Floors derive
            # from THIS commit's sequences, so pruning can never
            # delete committed state — a count-based window would
            # count torn records from crashed rivals, and enough of
            # them above the newest parseable offset would erase it,
            # silently resetting the stream to re-deliver everything
            # under reused tokens (model check: 'count_prune'). The
            # offset keeps a 200-commit rollback window; intents
            # strictly below this epoch's own WAL record are history
            # (junk above the floor dies once a later commit raises
            # it past them).
            self.store.prune_below(_DATASET, off_seq - 200)
            self.store.prune_below(_INTENT, intent_seq)
            delivered += 1
