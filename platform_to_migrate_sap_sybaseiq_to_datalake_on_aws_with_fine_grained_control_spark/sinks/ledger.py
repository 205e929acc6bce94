"""Execution ledger (SURVEY.md §2.5 K3) — the DynamoDB
``migration_details`` table re-expressed as a local append-only event
log with last-write-wins materialization.

Keyed ``(ExecutionHashId, SourceTable)`` like the reference
(``template2.yaml:527-544``); attribute names match
``routing/lambda_function.py:129-139`` and the extractor/state-machine
updates (``sybaseiq_extractor.py:264-273,300-309,342-353``,
``this.json:46-68,152-177,261-286``).

Implementation: one JSON line per put/update event (driver-side — ledger
volume is rows-per-run, not rows-per-record, so this never needs to be
distributed even at 100 TB).  Each :class:`Ledger` keeps the log folded
to the latest value per key in memory, together with the byte offset
and file identity (``st_dev``, ``st_ino``) it has folded up to, so a
keyed read costs what was appended since the last one, not the whole
history — the reference's dedup gate is a keyed DynamoDB lookup whose
cost does not grow with the table either.

Cross-process rule: every read (``get``, ``current_state``,
``final_status``, the gate inside ``claim_run``) stats the file and
folds the newline-terminated bytes appended since the last read, by
this instance or any other writer on the same path.  A partial trailing
line (a writer mid-append, or a crash mid-write) stays unread until a
later read finds it complete.  The next append by a :class:`Ledger`
terminates it first, so a crash remnant becomes a complete bad line
(``ValueError`` naming its byte offset) rather than absorbing that
event, and :meth:`Ledger.claim_run` refuses to claim past one.  A file
that was replaced (a new inode) is refolded from offset 0, and so is
one whose last folded bytes are no longer in place — it shrank, was
rewritten, or is a replacement that recycled the old inode number —
even when it has grown back past the old offset between two reads.
``events`` and ``to_spark_df`` read the whole log.
"""

from __future__ import annotations

import copy
import json
import os
import threading
from datetime import datetime, timezone
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

#: lifecycle attributes initialized to None at run creation
#: (routing/lambda_function.py:129-139)
LIFECYCLE_FIELDS = [
    "LambdaCallTimestamp",
    "StateMachineExecutionArn",
    "StateMachineStartTimestamp",
    "GlueJobRunId",
    "GlueJobStartTimestamp",
    "GlueAmountOfRecords",
    "GlueFinalTableSchema",
    "GlueJobEndTimestamp",
    "GlueJobFinalStatus",
    "ErrorMessage",
    "ExecutionTime",
]

TERMINAL_STATUSES = {"SUCCEEDED", "FAILED", "ERROR", "TIMEOUT", "STOPPED"}

#: bytes before the fold offset re-read on every refresh to check that
#: what was folded is still in place; they end with the last event's
#: microsecond ``_event_ts``
_TAIL_BYTES = 64


def utc_now_str() -> str:
    """Timestamp format used throughout the reference ledger
    (``%Y-%m-%d %H:%M:%S``, e.g. routing/lambda_function.py:132)."""
    return datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


class Ledger:
    """Append-only run-metadata ledger."""

    def __init__(self, path: str | Path):
        self.path = Path(path)
        self.path.parent.mkdir(parents=True, exist_ok=True)
        # re-entrant: claim_run folds state and appends under ONE
        # critical section, and the append path re-acquires
        self._lock = threading.RLock()
        # the folded log: state as of byte ``_offset`` of the file
        # identified by ``_file_id``, whose last folded bytes were
        # ``_tail``; guarded by ``_lock``
        self._state: dict[tuple[str, str], dict[str, Any]] = {}
        self._offset = 0
        self._file_id: tuple[int, int] | None = None
        self._tail = b""
        # the last refresh left an unterminated line after ``_offset``
        self._torn = False

    def _append(self, event: dict[str, Any]) -> None:
        event = dict(event)
        event["_event_ts"] = datetime.now(timezone.utc).isoformat()
        line = (json.dumps(event, default=str) + "\n").encode("utf-8")
        with self._lock, self.path.open("a+b") as f:
            # an unterminated last line is a crashed write: close it off
            # so it fails the fold at its own offset instead of
            # swallowing this event
            end = f.seek(0, os.SEEK_END)
            if end:
                f.seek(end - 1)
                if f.read(1) != b"\n":
                    line = b"\n" + line
            f.write(line)

    # ---- write API ------------------------------------------------------

    def put_item(self, item: dict[str, Any]) -> None:
        """Full-row put (reference ``table.put_item``)."""
        if "ExecutionHashId" not in item or "SourceTable" not in item:
            raise KeyError("ledger items need ExecutionHashId and SourceTable")
        self._append({"_op": "put", **item})

    def create_run(self, job_meta: dict[str, Any]) -> None:
        """Initial row with null lifecycle fields
        (``routing/lambda_function.py:124-147``)."""
        item = dict(job_meta)
        item.setdefault("LambdaCallTimestamp", utc_now_str())
        for f in LIFECYCLE_FIELDS:
            item.setdefault(f, None)
        self.put_item(item)

    def update_item(self, execution_hash_id: str, source_table: str, **attrs: Any) -> None:
        """Partial update (reference ``table.update_item``)."""
        self._append(
            {
                "_op": "update",
                "ExecutionHashId": execution_hash_id,
                "SourceTable": source_table,
                **attrs,
            }
        )

    def record_iterations(
        self,
        operator: str,
        rounds: int,
        max_rounds: int,
        converged: bool,
        deltas: list[Any],
        run_key: str | None = None,
    ) -> None:
        """Observability row for iterative operators (connected
        components, PageRank): round count + per-round convergence
        deltas, so an unattended run surfaces non-convergence in the
        same ledger the run lifecycle lives in.  ``GlueJobFinalStatus``
        carries the verdict so :meth:`final_status` monitoring works
        unchanged (VERDICT r4 watch-item)."""
        self.put_item(
            {
                "ExecutionHashId": run_key or f"iterative-{operator}",
                "SourceTable": "_iterative_ops",
                "Operator": operator,
                "Rounds": rounds,
                "MaxRounds": max_rounds,
                "Converged": converged,
                "ConvergenceDeltas": [str(d) for d in deltas],
                "GlueJobFinalStatus": "SUCCEEDED" if converged else "FAILED",
            }
        )

    def claim_run(self, job_meta: dict[str, Any]) -> bool:
        """Atomic dedup-gate + :meth:`create_run` — the reference's
        DynamoDB conditional-put analog (``routing/lambda_function.py:
        78-147`` checks then writes; DynamoDB's single-writer key makes
        that safe, so a concurrent dispatcher here needs the check and
        the create under ONE lock or two threads both pass the gate).

        Returns ``True`` and writes the initial row iff the
        ``(ExecutionHashId, SourceTable)`` key is absent or in a
        retryable state; ``False`` when a prior run is still running
        (status unset) or SUCCEEDED — same skip rule as the gate.
        The lock is in-process: the queue/ledger tier is one
        orchestrator process by design (one routing Lambda per plan in
        the reference); cross-process data-plane writers arbitrate at
        the lakehouse OCC layer instead.  So an unterminated last line
        at claim time is a crashed write, not one in progress: the claim
        raises ``ValueError`` naming its offset and dispatches nothing
        until the ledger is repaired."""
        hash_id = job_meta["ExecutionHashId"]
        table = job_meta["SourceTable"]
        with self._lock:
            item = self.get(hash_id, table)
            if self._torn:
                raise ValueError(
                    f"{self.path}: unterminated ledger line at byte offset {self._offset}"
                )
            if item is not None and item.get("GlueJobFinalStatus") in (
                None,
                "",
                "SUCCEEDED",
            ):
                return False
            self.create_run(job_meta)
            return True

    def record_skip(self, source_table: str, hash_id: str, job: dict[str, Any]) -> None:
        """Dedup-gate marker row
        (``routing/lambda_function.py:93-99``)."""
        self.put_item(
            {
                "ExecutionHashId": f"JobHasRunOrIsRunning-{source_table}-{hash_id}",
                "SourceTable": source_table,
                "TriedToRunJob": job,
            }
        )

    # ---- read API -------------------------------------------------------

    def events(self) -> list[dict[str, Any]]:
        if not self.path.exists():
            return []
        out = []
        with self.path.open(encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
        return out

    def _refresh(self) -> dict[tuple[str, str], dict[str, Any]]:
        """Fold the events appended since the last refresh into the
        in-memory state (put replaces, update merges) and return it.
        Refolds from offset 0 when the file was replaced, or when the
        bytes last folded are no longer in place (the file shrank or
        was rewritten, even if it has since grown past ``_offset``).
        Caller holds ``_lock``."""
        try:
            f = self.path.open("rb")
        except FileNotFoundError:
            self._state, self._offset, self._file_id, self._tail = {}, 0, None, b""
            self._torn = False
            return self._state
        with f:
            st = os.fstat(f.fileno())
            if (st.st_dev, st.st_ino) != self._file_id:
                self._state, self._offset, self._tail = {}, 0, b""
                self._file_id = (st.st_dev, st.st_ino)
            keep = len(self._tail)
            f.seek(self._offset - keep)
            data = f.read()
            if data[:keep] != self._tail:
                self._state, self._offset, self._tail, keep = {}, 0, b"", 0
                f.seek(0)
                data = f.read()
        # only newline-terminated lines; a partial last line waits
        end = data.rfind(b"\n") + 1
        self._torn = len(data) > end
        lines = data[keep:end].split(b"\n")[:-1]
        state = self._state
        pos = 0
        try:
            for line in lines:
                if line.strip():
                    try:
                        ev = json.loads(line)
                        if not isinstance(ev, dict):
                            raise ValueError("not a JSON object")
                    except ValueError as e:
                        raise ValueError(
                            f"{self.path}: unparseable ledger line at byte offset {self._offset + pos}: {e}"
                        ) from e
                    key = (ev.get("ExecutionHashId"), ev.get("SourceTable"))
                    op = ev.pop("_op", "put")
                    ev.pop("_event_ts", None)
                    if op == "put" or key not in state:
                        state[key] = ev
                    else:
                        state[key].update(ev)
                pos += len(line) + 1
        finally:
            self._offset += pos
            self._tail = data[: keep + pos][-_TAIL_BYTES:]
        return state

    def current_state(self) -> dict[tuple[str, str], dict[str, Any]]:
        """The folded log: latest value per key (a private copy)."""
        with self._lock:
            return copy.deepcopy(self._refresh())

    def get(self, execution_hash_id: str, source_table: str) -> dict[str, Any] | None:
        with self._lock:
            return copy.deepcopy(self._refresh().get((execution_hash_id, source_table)))

    def final_status(self, execution_hash_id: str, source_table: str) -> str | None:
        item = self.get(execution_hash_id, source_table)
        return item.get("GlueJobFinalStatus") if item else None

    def to_spark_df(self, spark: SparkSession) -> DataFrame:
        """Expose the raw event log to Spark (schema inferred; metadata
        scale only)."""
        return spark.read.json(str(self.path))
