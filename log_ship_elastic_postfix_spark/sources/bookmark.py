"""Bookmark + lineage manifest store — the spool/.bookmark analog.

The reference resumes from a bookmark directory under its spool
(/root/reference/lib/logship.js:89; validation lib/spool.js:8-105) so a
restarted shipper never re-emits docs for already-shipped lines. Here
the equivalent is a tiny manifest table: one JSON record per committed
batch carrying the batch id plus per-partition row/byte lineage metrics
(north_rule: "resumable from checkpoint with per-partition lineage +
metrics"). Commit is write-temp-then-rename (atomic on a posix fs / an
object-store rename-capable layer); a batch is "processed" iff its
manifest file exists, so a crash between sink write and manifest leaves
the batch to be replayed — safe, because the sink upsert is idempotent
(same rule as the reference's create-fails-on-duplicate replay story).
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Optional


class BookmarkStore:
    def __init__(self, path: str):
        """Create/validate the bookmark directory up front — the
        spool-validation analog (/root/reference/lib/spool.js:8-105):
        a mis-pointed or unwritable bookmark dir must fail loudly at
        construction, not obscurely at the first commit."""
        self.path = path
        if os.path.exists(path) and not os.path.isdir(path):
            raise NotADirectoryError(
                f"bookmark path exists and is not a directory: {path!r}")
        try:
            os.makedirs(path, exist_ok=True)
        except OSError as exc:
            raise PermissionError(
                f"cannot create bookmark dir {path!r}: {exc}") from exc
        # probe actual writability (os.access lies for root / network fs)
        try:
            fd, probe = tempfile.mkstemp(dir=path, suffix=".probe")
            os.close(fd)
            os.unlink(probe)
        except OSError as exc:
            raise PermissionError(
                f"bookmark dir {path!r} is not writable: {exc}") from exc

    def _manifest_path(self, batch_seq: int) -> str:
        return os.path.join(self.path, f"batch-{batch_seq:08d}.json")

    def is_processed(self, batch_seq: int) -> bool:
        return os.path.exists(self._manifest_path(batch_seq))

    def processed_batches(self) -> list[int]:
        out = []
        for name in sorted(os.listdir(self.path)):
            if name.startswith("batch-") and name.endswith(".json"):
                out.append(int(name[len("batch-"):-len(".json")]))
        return out

    def commit(self, batch_seq: int, manifest: dict) -> None:
        """Atomic manifest write: temp file + rename."""
        final = self._manifest_path(batch_seq)
        fd, tmp = tempfile.mkstemp(dir=self.path, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(manifest, fh, sort_keys=True, indent=1)
        os.replace(tmp, final)

    def read_manifest(self, batch_seq: int) -> Optional[dict]:
        p = self._manifest_path(batch_seq)
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)
