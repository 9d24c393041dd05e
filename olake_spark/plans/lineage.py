"""Per-partition lineage manifest: resumable, idempotent maintenance runs.

Driver-side JSON state mirroring the reference's chunk protocol
(types/state.go:191-254; plan → persist → remove-on-complete,
drivers/abstract/backfill.go:18-64): a stage plans its units, persists
the plan, then marks each unit done with metrics
``{files, rows, bytes, attempt_id, snapshot_id}``. A rerun of the same
job id skips completed units; recording the committed snapshot id lets
a replay detect an already-applied commit — the analog of the
reference's LSN guard (drivers/postgres/internal/cdc.go:75-79).

Writes are atomic (temp + rename) so a kill mid-write never corrupts
state.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid


class LineageManifest:
    def __init__(self, path: str, job_id: str):
        self.path = path
        self.job_id = job_id
        # chunk readers may mark units from concurrent job threads
        self._lock = threading.Lock()
        self.state: dict = {"job_id": job_id, "stages": {}}
        if os.path.exists(path):
            with open(path) as f:
                existing = json.load(f)
            if existing.get("job_id") == job_id:
                self.state = existing

    # ------------------------------------------------------------ persistence

    def _save(self) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        tmp = f"{self.path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(self.state, f, indent=1)
        os.replace(tmp, self.path)

    # ------------------------------------------------------------ protocol

    def _stage(self, stage: str) -> dict:
        return self.state["stages"].setdefault(
            stage, {"planned": {}, "completed": {}, "snapshot_id": None}
        )

    def plan(self, stage: str, units: dict[str, dict]) -> None:
        """Persist the unit plan for a stage (checkpoint #1). If the
        stage already has a plan from a prior attempt, keep it — a
        resume must work against the original plan."""
        st = self._stage(stage)
        if not st["planned"]:
            st["planned"] = units
            self._save()

    def planned(self, stage: str) -> dict[str, dict]:
        return dict(self._stage(stage)["planned"])

    def is_done(self, stage: str, unit_id: str) -> bool:
        return unit_id in self._stage(stage)["completed"]

    def pending(self, stage: str) -> dict[str, dict]:
        st = self._stage(stage)
        return {k: v for k, v in st["planned"].items() if k not in st["completed"]}

    def mark_done(
        self,
        stage: str,
        unit_id: str,
        files: int = 0,
        rows: int = 0,
        bytes_: int = 0,
        snapshot_id: int | None = None,
        **extra,
    ) -> None:
        """Checkpoint #2: unit complete, metrics + commit recorded."""
        with self._lock:
            st = self._stage(stage)
            prior = st["completed"].get(unit_id)
            st["completed"][unit_id] = {
                "files": files,
                "rows": rows,
                "bytes": bytes_,
                "attempt_id": (prior["attempt_id"] + 1) if prior else 1,
                "snapshot_id": snapshot_id,
                "ts_ms": int(time.time() * 1000),
                **extra,
            }
            self._save()

    def complete(self, stage: str, unit_id: str, snapshot_id: int, entries) -> None:
        """A single-unit stage committed ``snapshot_id``, writing the
        manifest ``entries``: plan the unit, mark it done with their
        files/rows/bytes and record the stage snapshot."""
        self.plan(stage, {unit_id: {}})
        self.mark_done(
            stage,
            unit_id,
            files=len(entries),
            rows=sum(e.record_count for e in entries),
            bytes_=sum(e.file_size_bytes for e in entries),
            snapshot_id=snapshot_id,
        )
        self.set_stage_snapshot(stage, snapshot_id)

    def stage_snapshot(self, stage: str) -> int | None:
        return self._stage(stage)["snapshot_id"]

    def set_stage_snapshot(self, stage: str, snapshot_id: int) -> None:
        self._stage(stage)["snapshot_id"] = snapshot_id
        self._save()

    def stage_complete(self, stage: str) -> bool:
        st = self._stage(stage)
        return bool(st["planned"]) and set(st["planned"]) <= set(st["completed"])

    def metrics(self, stage: str) -> dict[str, dict]:
        return dict(self._stage(stage)["completed"])
