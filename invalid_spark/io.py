"""Table + snapshot abstraction, and the driver-side state around it.

Production target is Iceberg (`spark.read.format("iceberg")`,
snapshot-pinned reads, `writeTo(...).append()`); this sandbox has no
Iceberg jars, so the same contract is provided over parquet
directories plus JSON files — the Iceberg-metadata stand-in:

- :func:`snapshot_id` — deterministic fingerprint of a parquet path,
  standing in for an Iceberg snapshot id: a resumed run can verify it
  is reading the same table state it checkpointed against.
- :class:`Manifest` — a directory of one JSON file per completed
  work unit. One-file-per-unit makes completion marks atomic at the
  filesystem level (rename semantics), which is exactly what Iceberg
  commit metadata gives us in production; a kill between units never
  corrupts the manifest.
- :class:`TableLog` — the snapshot log: which files a table added
  since the last validated state.

All driver-side state — these three, and the runner's
``schema_state.json``, ``mode.json``, ``drift_state`` and
``metrics_history`` — is identified, published and read back one way:

- **Fingerprint**: a file set is its :func:`file_entries` listing,
  ``{relative path: [size, mtime_ns]}``, and :func:`entries_id` hashes
  it: :func:`snapshot_id`, the :class:`TableLog` ids and the runner's
  Bloom-screen key. The mtime counts because a size cannot see a
  same-size in-place rewrite (one changed value in a fixed-width
  column), and a resume pinned to an id that misses it would skip the
  rewritten data and keep stale verdicts; a content hash would see it
  too, but costs the full data read append detection must not pay.
- **Publish**: :func:`publish` makes the new file or directory at the
  hidden sibling ``.<name>.tmp`` (never listed by a Spark or Arrow
  reader of the parent), then renames it into place: a file in one
  ``os.replace``; a directory by setting the old one aside at
  ``<path>.old``, promoting the new one and removing the old. Stale
  copies a crash left are cleared first; no reader sees a partial file.
- **Recovery**: a crash mid-swap leaves only ``<path>.old``; every
  state read (:func:`read_json`, :func:`invalid_spark.model.read_rows`)
  runs :func:`recover` first, so a read returns the last completed
  publish, and absent state reads as none.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from collections.abc import Callable, Iterable
from pathlib import Path


def file_entries(
    root: str, files: Iterable[str] | None = None
) -> dict[str, list[int]]:
    """``{path relative to root: [size, mtime_ns]}`` of ``files``, or,
    when None, of the data files at ``root``: every file under a
    directory, or ``root`` itself when it is a file (keyed by its base
    name). Names starting ``_`` or ``.`` are table metadata
    (``_SUCCESS``, ``_spark_metadata/``, ``_delta_log/``, ``.crc``
    files), never data; a directory so named is pruned whole, as its
    files often are not so named themselves."""
    if files is None:
        files = []
        if os.path.isdir(root):
            for d, dirs, names in os.walk(root):
                dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
                files += [
                    os.path.join(d, f) for f in sorted(names)
                    if not f.startswith(("_", "."))
                ]
        elif os.path.exists(root):
            files = [root]
            root = os.path.dirname(os.path.abspath(root))
    out = {}
    for p in files:
        st = os.stat(p)
        out[os.path.relpath(p, root)] = [st.st_size, st.st_mtime_ns]
    return out


def entries_id(entries: dict[str, list[int]]) -> str:
    """The 16-hex-digit id of a :func:`file_entries` listing."""
    lines = sorted(
        f"{p}:{size}:{mtime}" for p, (size, mtime) in entries.items()
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()[:16]


def snapshot_id(path: str) -> str:
    """Deterministic fingerprint of a parquet directory or file."""
    return entries_id(file_entries(path))


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.lexists(path):
        os.remove(path)


def publish(path: str, write: Callable[[str], object]) -> None:
    """Publish new content at ``path`` atomically: ``write(tmp)`` makes
    it, as a file or a directory, at the hidden sibling ``tmp``, then
    it is renamed into place (a directory by the set-aside swap the
    module docstring describes)."""
    path = path.rstrip(os.sep)
    parent, name = os.path.split(path)
    tmp = os.path.join(parent, f".{name}.tmp")
    old = path + ".old"
    _remove(tmp)
    write(tmp)
    if not os.path.isdir(tmp):
        os.replace(tmp, path)
        return
    _remove(old)
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(tmp, path)
    _remove(old)


def write_text(path: str, text: str) -> None:
    """Publish ``text`` as the file at ``path`` (:func:`publish`)."""
    publish(path, lambda tmp: Path(tmp).write_text(text, encoding="utf-8"))


def recover(path: str) -> bool:
    """Promote ``<path>.old`` to ``path`` when a crash mid-swap left
    only the set-aside copy; True when ``path`` exists afterwards."""
    old = path.rstrip(os.sep) + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.replace(old, path)
    return os.path.exists(path)


def read_json(path: str):
    """The JSON document at ``path`` (recovered first), or None when
    there is none."""
    if not recover(path):
        return None
    with open(path, encoding="utf-8") as f:
        return json.load(f)


class Manifest:
    """Checkpoint manifest: one JSON file per completed unit."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, unit: str) -> str:
        safe = hashlib.md5(str(unit).encode()).hexdigest()[:24]
        return os.path.join(self.root, f"unit-{safe}.json")

    def mark_done(self, unit: str, meta: dict | None = None) -> None:
        write_text(
            self._path(unit), json.dumps({"unit": str(unit), **(meta or {})})
        )

    def is_done(self, unit: str) -> bool:
        return os.path.exists(self._path(unit))

    def done_units(self) -> set[str]:
        return {m["unit"] for m in self.read_meta()}

    def read_meta(self) -> list[dict]:
        return [
            read_json(os.path.join(self.root, f))
            for f in sorted(os.listdir(self.root))
            if f.startswith("unit-") and f.endswith(".json")
        ]


class TableLog:
    """Append-only SNAPSHOT LOG over a parquet directory — the
    file-level half of the Iceberg-metadata stand-in (the
    :class:`Manifest` is the commit-atomicity half). Iceberg answers
    "which files did snapshot B add over snapshot A?" from its
    manifest lists without touching data; ``TableLog`` provides the
    same contract from a JSON log:

    - :meth:`commit` records the table's current file list
      (:func:`file_entries`) as a new snapshot in ONE directory walk — the
      snapshot id is content-addressed FROM that same list, so the
      recorded files and the id can never disagree (a second
      independent walk could race a concurrent ingest). Committing an
      unchanged table is a no-op returning the latest id; re-creating
      a PREVIOUS state (files deleted back) gets a seq-disambiguated
      id so the parent chain stays unambiguous and the removal is
      visible to :meth:`removed_files`.
    - each snapshot records its ``parent`` explicitly — lineage never
      depends on id uniqueness or list ordering.
    - :meth:`added_files` / :meth:`changed_files` /
      :meth:`removed_files` diff two snapshots' file lists — append
      detection with ZERO data scans, the input to
      ``runner.validate_appended`` (which refuses changed/removed
      files: after a rewrite or compaction, file identity no longer
      implies row identity).

    Single-writer (the driver), like the manifest."""

    def __init__(self, log_dir: str):
        self.root = log_dir
        os.makedirs(log_dir, exist_ok=True)

    # logs written by earlier versions store a bare int size (_sig)
    _entries = staticmethod(file_entries)

    @staticmethod
    def _sig(v) -> tuple[int, int | None]:
        """Normalize an entry value: legacy bare size, or
        [size, mtime_ns]."""
        if isinstance(v, (list, tuple)):
            return int(v[0]), (
                int(v[1]) if len(v) > 1 and v[1] is not None else None
            )
        return int(v), None

    @classmethod
    def _differs(cls, a, b) -> bool:
        """True when two entry values witness different file content:
        size mismatch always; mtime mismatch when BOTH sides recorded
        one (a legacy size-only snapshot cannot retro-claim rewrites)."""
        sa, ma = cls._sig(a)
        sb, mb = cls._sig(b)
        if sa != sb:
            return True
        return ma is not None and mb is not None and ma != mb

    @classmethod
    def _same_state(cls, prev_files: dict, entries: dict) -> bool:
        return set(prev_files) == set(entries) and not any(
            cls._differs(entries[p], prev_files[p]) for p in entries
        )

    def _snap_files(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self.root)
            if f.startswith("snap-") and f.endswith(".json")
        )

    def _records(self) -> list[dict]:
        return [
            read_json(os.path.join(self.root, f)) for f in self._snap_files()
        ]

    def snapshots(self) -> list[str]:
        """Snapshot ids in commit order."""
        return [r["id"] for r in self._records()]

    def _read(self, snap: str) -> dict:
        for r in self._records():
            if r["id"] == snap:
                return r
        raise KeyError(f"snapshot [{snap}] not in log at {self.root}")

    def preview(self, table_path: str) -> dict:
        """Diff the table's CURRENT state against the latest snapshot
        WITHOUT committing: ``{entries, parent, added, changed,
        removed}``. The soundness guard runs on this — an unsound
        state (changed/removed files) must be refused BEFORE it is
        recorded, or it would become the next run's baseline and the
        refusal would fire exactly once. Pass ``entries`` back to
        :meth:`commit` so the guard and the commit see the same walk."""
        entries = file_entries(table_path)
        records = self._records()
        latest = records[-1] if records else None
        if latest is None:
            return {"entries": entries, "parent": None,
                    "added": sorted(entries), "changed": [], "removed": []}
        prev_f = latest["files"]
        return {
            "entries": entries,
            "parent": latest["id"],
            "added": sorted(p for p in entries if p not in prev_f),
            "changed": sorted(
                p for p, v in entries.items()
                if p in prev_f and self._differs(v, prev_f[p])
            ),
            "removed": sorted(p for p in prev_f if p not in entries),
        }

    def pending_id(self, entries: dict) -> str:
        """The snapshot id :meth:`commit` WILL return for ``entries``,
        without writing anything. Lets ``validate_appended`` namespace
        its checkpoint manifest by the snapshot it is validating while
        deferring the commit until validation succeeds — committing
        first would make a killed delta-run invisible (the retry's
        preview would diff against the already-committed state and
        no-op, silently never validating the appended files).
        Single-writer, like the rest of the log: the records cannot
        change between this call and the later commit."""
        records = self._records()
        latest = records[-1] if records else None
        if latest is not None and self._same_state(latest["files"], entries):
            return latest["id"]
        # a revert to an EARLIER state re-uses its content hash but
        # must be a distinct snapshot (unique id, correct parent) —
        # disambiguate with the sequence number
        cid = entries_id(entries)
        seq = len(records)
        return cid if cid not in {r["id"] for r in records} else f"{cid}@{seq}"

    def commit(self, table_path: str, entries: dict | None = None) -> str:
        """Record the table's current state; returns its snapshot id
        (the latest id unchanged when nothing changed — idempotent).
        One directory walk — or zero, when ``entries`` comes from a
        prior :meth:`preview` (the guard and the commit must not race
        a concurrent ingest between two walks)."""
        if entries is None:
            entries = file_entries(table_path)
        sid = self.pending_id(entries)
        snaps = self._snap_files()
        latest = (
            read_json(os.path.join(self.root, snaps[-1])) if snaps else None
        )
        if latest is not None and sid == latest["id"]:
            return sid
        seq = len(snaps)
        name = f"snap-{seq:06d}-{entries_id(entries)}.json"
        write_text(
            os.path.join(self.root, name),
            json.dumps({
                "id": sid, "seq": seq,
                "parent": latest["id"] if latest else None,
                "table": os.path.abspath(table_path),
                "files": entries,
            }),
        )
        return sid

    def files(self, snap: str) -> dict:
        """{relative path: [size, mtime_ns]} of one snapshot (bare
        int size in logs written by earlier versions)."""
        return dict(self._read(snap)["files"])

    def added_files(self, prev: str | None, cur: str) -> list[str]:
        """Relative paths present in ``cur`` but absent from ``prev``;
        ``prev=None`` means everything is new. Size-changed existing
        paths are NOT added — they are :meth:`changed_files` (a
        rewrite, which append-level validation must refuse)."""
        cur_f = self.files(cur)
        if prev is None:
            return sorted(cur_f)
        prev_f = self.files(prev)
        return sorted(p for p in cur_f if p not in prev_f)

    def changed_files(self, prev: str, cur: str) -> list[str]:
        """Paths present in both snapshots with different size OR
        mtime — an in-place rewrite; file identity no longer implies
        row identity. (mtime catches the size-preserving rewrite that
        a size-only compare would wave through.)"""
        cur_f = self.files(cur)
        prev_f = self.files(prev)
        return sorted(
            p for p, v in cur_f.items()
            if p in prev_f and self._differs(v, prev_f[p])
        )

    def removed_files(self, prev: str, cur: str) -> list[str]:
        """Relative paths present in ``prev`` but gone in ``cur`` —
        appends never produce these; non-empty means a rewrite or
        compaction."""
        cur_f = self.files(cur)
        return sorted(p for p in self.files(prev) if p not in cur_f)

    def parent(self, snap: str) -> str | None:
        """The snapshot this one was committed on top of (recorded
        explicitly at commit time)."""
        return self._read(snap).get("parent")
