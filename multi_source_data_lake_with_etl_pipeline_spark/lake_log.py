"""Transaction log of one lake table, after Delta Lake's (VLDB 2020):
the log and its checkpoints are the only source of truth.

Layout under ``<table>/_log``::

    <020d-version>.json         one commit per version (O_EXCL-created)
    _checkpoint.<version>.json  full state every CHECKPOINT_EVERY commits
    _last_checkpoint            {"version": N} of the newest checkpoint

A :class:`Snapshot` is the log replayed from the nearest checkpoint. A
:class:`TableLog` (:meth:`TableLog.at`) owns every read and write of
one log directory's files; replayed snapshots are cached once per
(directory, version), so every handle on the same table shares that
work. A :class:`Txn` is the one way a writer that may lose a commit
race publishes: it holds the package's only commit-retry loop.

Cache safety:

- Commit files are immutable (O_EXCL create, never rewritten), so a
  version identifies its content — except when a table is deleted and
  recreated at the same path. Every cached value therefore carries the
  stat signature (inode, size, mtime_ns) of its version's commit file
  and is revalidated with one ``os.stat`` per lookup.
- Other writers only ever ADD version files, and ``latest_version``
  stats forward to the first missing one uncached, so a cached
  snapshot never hides a newer commit.
- Parsed records are read-only: objects are ``types.MappingProxyType``
  and arrays are tuples, so a cached entry can be handed to every caller
  without a copy; build a changed entry with ``{**a, ...}``. Writers
  dump with ``default=dict``.
- Both caches are bounded for the whole process, not per table, so
  their memory does not grow with the number of tables a long-lived
  session opens.
"""

from __future__ import annotations

import json
import os
import threading
import time
import types
import uuid
from collections import OrderedDict
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql.types import StructType

CHECKPOINT_EVERY = 10
# commit races a Txn re-checks and retries before giving up
COMMIT_ATTEMPTS = 21
_POINTER = "_last_checkpoint"
_SNAPSHOTS_CACHED = 2048
_COMMITS_CACHED = 8192
# replay seed of a log with no checkpoint yet
_NO_CHECKPOINT: Mapping = types.MappingProxyType(
    {
        "version": -1, "active": (), "props": types.MappingProxyType({}),
        "txns": types.MappingProxyType({}), "overwrites": (),
    }
)


class CommitConflict(RuntimeError):
    """Another writer committed this version first."""


def _frozen(d: dict) -> Mapping:
    # the log format nests no array directly inside another
    return types.MappingProxyType(
        {k: tuple(x) if type(x) is list else x for k, x in d.items()}
    )


def _load(f) -> Mapping:
    return json.load(f, object_hook=_frozen)


def _dump(rec, f) -> None:
    # dumps, not dump: json.dump always takes the pure-Python encoder
    f.write(json.dumps(rec, default=dict))


@dataclass(frozen=True)
class Snapshot:
    """Table state at ``version``. ``entries`` are the active add
    entries; ``reader_features``/``writer_features`` are the cumulative
    protocol stamps of every commit up to ``version``. ``txns`` maps
    each streaming app to its highest committed batch (Delta's
    ``SetTransaction``); ``overwrites`` are the versions committed with
    op ``overwrite``, oldest first."""

    version: int
    entries: tuple[Mapping, ...]
    schema: StructType
    props: Mapping[str, str]
    reader_features: frozenset[str]
    writer_features: frozenset[str]
    txns: Mapping[str, int]
    overwrites: tuple[int, ...]


class _SigCache:
    """Process-wide LRU of {(log dir, version): (commit-file signature,
    value)}, indexed by log dir so a table finds its own cached
    versions without scanning other tables' keys."""

    def __init__(self, cap: int):
        self._cap = cap
        self._d: OrderedDict[tuple[str, int], tuple] = OrderedDict()
        self._by_dir: dict[str, set[int]] = {}
        self._lock = threading.Lock()

    def get(self, d: str, v: int, sig: tuple | None):
        with self._lock:
            hit = self._d.get((d, v))
            if hit is None or hit[0] != sig:
                return None
            self._d.move_to_end((d, v))
            return hit[1]

    def put(self, d: str, v: int, sig: tuple, val) -> None:
        with self._lock:
            self._d[(d, v)] = (sig, val)
            self._d.move_to_end((d, v))
            self._by_dir.setdefault(d, set()).add(v)
            while len(self._d) > self._cap:
                (od, ov), _ = self._d.popitem(last=False)
                vs = self._by_dir[od]
                vs.discard(ov)
                if not vs:
                    del self._by_dir[od]

    def below(self, d: str, v: int) -> list[int]:
        """Cached versions of ``d`` under ``v``, newest first."""
        with self._lock:
            return sorted((k for k in self._by_dir.get(d, ()) if k < v), reverse=True)


_COMMITS = _SigCache(_COMMITS_CACHED)
_SNAPSHOTS = _SigCache(_SNAPSHOTS_CACHED)


class TableLog:
    """Versions, commits, checkpoints and snapshots of one table."""

    @classmethod
    def at(cls, log_dir: str) -> TableLog:
        return cls(os.path.abspath(log_dir))

    def __init__(self, log_dir: str):
        self.dir = log_dir

    def _path(self, v: int) -> str:
        return os.path.join(self.dir, f"{v:020d}.json")

    def _sig(self, v: int) -> tuple | None:
        try:
            st = os.stat(self._path(v))
        except OSError:
            return None
        return (st.st_ino, st.st_size, st.st_mtime_ns)

    # ------------------------------------------------------------ commits
    def versions(self) -> list[int]:
        return sorted(
            int(f[:-5])
            for f in os.listdir(self.dir)
            if f.endswith(".json") and not f.startswith("_")
        )

    def latest_version(self) -> int:
        """The head: stat forward from the ``_last_checkpoint`` pointer
        (or version 0) until a commit is missing. Commits are created in
        order, so only a missing start — a trimmed log — lists the
        directory."""
        v = self._pointer() or 0
        if self._sig(v) is None:
            vs = self.versions()
            if not vs:
                raise FileNotFoundError(f"empty log: {self.dir}")
            v = vs[-1]
        while self._sig(v + 1) is not None:
            v += 1
        return v

    def read_commit(self, v: int) -> Mapping:
        sig = self._sig(v)
        rec = None if sig is None else _COMMITS.get(self.dir, v, sig)
        if rec is None:
            with open(self._path(v)) as f:
                rec = _load(f)
            if sig is not None:
                _COMMITS.put(self.dir, v, sig, rec)
        return rec

    def write_commit(self, version: int, rec: dict) -> None:
        """Publish commit ``version`` with O_EXCL (a lost race raises
        :class:`CommitConflict`), then checkpoint on the cadence."""
        try:
            with open(self._path(version), "x") as f:
                _dump(rec, f)
        except FileExistsError:
            raise CommitConflict(
                f"version {version} already committed by another writer"
            ) from None
        if version > 0 and version % CHECKPOINT_EVERY == 0:
            self._write_checkpoint(version)

    def restamp(self, v: int, ts: float) -> None:
        """Rewrite commit ``v``'s wall-clock stamp (clock-skew audits).
        Atomic replace: the new inode invalidates cached state."""
        rec = {**self.read_commit(v), "ts": float(ts)}
        tmp = self._path(v) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            _dump(rec, f)
        os.replace(tmp, self._path(v))

    # -------------------------------------------------------- checkpoints
    def _read_checkpoint(self, v: int) -> Mapping:
        with open(os.path.join(self.dir, f"_checkpoint.{v}.json")) as f:
            return _load(f)

    def _checkpoint_versions(self) -> list[int]:
        return sorted(
            int(f.split(".")[1])
            for f in os.listdir(self.dir)
            if f.startswith("_checkpoint.") and f.endswith(".json")
        )

    def checkpoints(self) -> list[Mapping]:
        """Every checkpoint record on disk, oldest first."""
        return [self._read_checkpoint(v) for v in self._checkpoint_versions()]

    def checkpoint_at_or_before(self, v: int) -> Mapping | None:
        """Newest checkpoint at or before ``v`` that records props (an
        older checkpoint without them can't seed a replay). The
        ``_last_checkpoint`` pointer serves the common latest read
        without listing the directory; time travel before it, or a
        missing or corrupt pointer, falls back to a scan."""
        last = self._pointer()
        if last is not None and last <= v:
            try:
                ck = self._read_checkpoint(last)
                if "props" in ck:
                    return ck
            except (FileNotFoundError, ValueError):
                pass
        for cv in reversed(self._checkpoint_versions()):
            if cv <= v:
                ck = self._read_checkpoint(cv)
                if "props" in ck:
                    return ck
        return None

    def _pointer(self) -> int | None:
        """The ``_last_checkpoint`` version; None if missing or corrupt."""
        try:
            with open(os.path.join(self.dir, _POINTER)) as f:
                return json.load(f)["version"]
        except (FileNotFoundError, KeyError, ValueError):
            return None

    def _write_checkpoint(self, v: int) -> None:
        # computed BEFORE the file exists and published by atomic
        # rename: a reader's directory scan never sees a torn checkpoint
        s = self.snapshot(v)
        rec = {
            "version": v,
            "active": s.entries,
            "props": s.props,
            "features": sorted(s.reader_features),
            "writer_features": sorted(s.writer_features),
            "txns": s.txns,
            "overwrites": s.overwrites,
        }
        path = os.path.join(self.dir, f"_checkpoint.{v}.json")
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            _dump(rec, f)
        os.replace(tmp, path)
        self._advance_pointer(v)

    def _advance_pointer(self, v: int) -> None:
        # The read-compare-write runs under a short-lived O_EXCL lock so
        # two checkpointing writers can't regress the pointer (A reads
        # cur, B writes 20, A writes 10). On contention we skip: the
        # pointer is a discovery hint and the holder is advancing it —
        # worst case is extra replay, never a wrong snapshot.
        ptr = os.path.join(self.dir, _POINTER)
        lock = ptr + ".lock"
        fd = None
        for _attempt in range(2):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                # A crashed writer must not pin the pointer forever:
                # break locks older than 60 s, then retry once. The
                # break is a RENAME, which succeeds for exactly one
                # breaker and can never delete a fresh lock another
                # breaker just re-created (unlink-after-stat could).
                try:
                    if time.time() - os.path.getmtime(lock) > 60:
                        os.rename(lock, lock + f".stale.{uuid.uuid4().hex}")
                        continue
                except OSError:
                    pass
                break  # live contention — the holder advances it
        if fd is None:
            return
        try:
            cur = self._pointer()
            if cur is None or v > cur:
                tmp = ptr + f".tmp.{uuid.uuid4().hex}"
                with open(tmp, "w") as f:
                    json.dump({"version": v}, f)
                os.replace(tmp, ptr)  # atomic: no torn reads
        finally:
            os.close(fd)
            os.unlink(lock)

    def sweep_debris(self) -> None:
        """Drop broken-lock debris (stale locks are renamed aside, never
        referenced) and tmp files of writers that died before their
        rename. Tmp files go only past 600 s: a live writer sits between
        its tmp write and ``os.replace`` for milliseconds."""
        now = time.time()
        for f in os.listdir(self.dir):
            p = os.path.join(self.dir, f)
            if ".lock.stale." in f:
                os.remove(p)
            elif ".json.tmp." in f:
                try:
                    if now - os.path.getmtime(p) > 600:
                        os.remove(p)
                except OSError:
                    pass  # the writer just published it — not debris

    # ---------------------------------------------------------- snapshots
    def snapshot(self, version: int | None = None) -> Snapshot:
        """The table state at ``version`` (default latest), replayed
        from this table's newest cached state below it, else from the
        nearest checkpoint — a mutating op's snapshot at v-1 then at v
        walks one commit."""
        v = self.latest_version() if version is None else version
        sig = self._sig(v)
        if sig is not None:
            hit = _SNAPSHOTS.get(self.dir, v, sig)
            if hit is not None:
                return hit
        base = None
        for bv in _SNAPSHOTS.below(self.dir, v):
            base = _SNAPSHOTS.get(self.dir, bv, self._sig(bv))
            if base is not None:
                break
        txns: dict[str, int] = {}
        overwrites: list[int] = []

        def fold(cv: int, c: Mapping) -> None:
            t = c.get("txn")
            if t and t["batch"] > txns.get(t["app"], -1):
                txns[t["app"]] = t["batch"]
            if c["op"] == "overwrite":
                overwrites.append(cv)

        if base is not None:
            start, props = base.version + 1, base.props
            active = {a["path"]: a for a in base.entries}
            feats = set(base.reader_features)
            wfeats = set(base.writer_features)
            txns.update(base.txns)
            overwrites.extend(base.overwrites)
        else:
            ck = self.checkpoint_at_or_before(v) or _NO_CHECKPOINT
            start, props = ck["version"] + 1, ck["props"]
            active = {a["path"]: a for a in ck["active"]}
            feats = set(ck.get("features", ()))
            # pre-writer-protocol checkpoints lack the key; such tables
            # carry no writer stamps anywhere, so empty is exact
            wfeats = set(ck.get("writer_features") or ())
            if "txns" in ck:
                txns.update(ck["txns"])
                overwrites.extend(ck["overwrites"])
            else:
                # a checkpoint written before it recorded the marks:
                # walk the commits it covers once for them
                for cv in range(ck["version"] + 1):
                    try:
                        fold(cv, self.read_commit(cv))
                    except FileNotFoundError:
                        continue
        for cv in range(start, v + 1):
            try:
                c = self.read_commit(cv)
            except FileNotFoundError:
                continue
            for r in c["remove"]:
                active.pop(r, None)
            for a in c["add"]:
                active[a["path"]] = a
            feats.update(c.get("reader_features", ()))
            wfeats.update(c.get("writer_features", ()))
            props = c.get("props", props)
            fold(cv, c)
        schema = StructType.fromJson(json.loads(self.read_commit(v)["schema"]))
        snap = Snapshot(
            v, tuple(active.values()), schema, props,
            frozenset(feats), frozenset(wfeats),
            types.MappingProxyType(txns), tuple(overwrites),
        )
        if sig is not None:
            _SNAPSHOTS.put(self.dir, v, sig, snap)
        return snap


@dataclass
class Txn:
    """One optimistic transaction, after Delta's ``OptimisticTransaction``:
    pin a snapshot, record what the op read, write its files, then
    commit with conflict detection.

    ``touched``: the entries the op read; ``probe``: called with the
    add entries a concurrent commit interleaved, True when any of their
    rows fall in the op's read set (None: appends can't land in the
    read set, e.g. compaction of its target files). A ``blind`` writer
    (an append) has no read set: appends commute. ``marker``:
    ``(app_id, batch)`` of an idempotent streaming commit. ``recheck``:
    ``(head) -> schema to commit``, run at each new head; it raises
    when the batch no longer fits."""

    snap: Snapshot
    log: TableLog
    touched: Sequence[Mapping] = ()
    probe: Callable[[list], bool] | None = None
    blind: bool = False
    marker: tuple[str, int] | None = None
    recheck: Callable[[Snapshot], StructType] | None = None

    def commit(
        self, write: Callable[[int, StructType], int], schema: StructType
    ) -> int | None:
        """``write(version, schema)`` publishes one version or raises
        :class:`CommitConflict`. On a lost race read the new head once:
        the marker already there means a racing writer committed this
        batch (return None); otherwise the read set must still hold and
        ``recheck`` must pass, then retry at the head's next version."""
        v = self.snap.version + 1
        for _ in range(COMMIT_ATTEMPTS):
            try:
                return write(v, schema)
            except CommitConflict:
                pass
            head = self.log.snapshot()
            if self.marker and head.txns.get(self.marker[0], -1) >= self.marker[1]:
                return None  # a racing writer committed this very batch
            if not self.blind:
                self._check_read_set(head, v)
            if self.recheck is not None:
                schema = self.recheck(head)
            v = head.version + 1
        raise CommitConflict(
            f"lost {COMMIT_ATTEMPTS} consecutive commit races (heavy "
            "concurrent write traffic) — re-run against the new head"
        )

    def _check_read_set(self, head: Snapshot, v: int) -> None:
        """Rebase only past commits disjoint from what the op read:
        same schema and props, every touched entry still active and
        byte-identical (same path, same vector), and no interleaved add
        matching the probe — a rebase past an append of matching rows
        would leave them undeleted or duplicate a key (Delta's
        ConcurrentAppendException)."""
        if head.schema.jsonValue() != self.snap.schema.jsonValue():
            raise CommitConflict(
                f"version {v} taken and the schema evolved "
                "concurrently — re-run against the new head"
            )
        # our outputs were validated against the old constraints
        if head.props != self.snap.props:
            raise CommitConflict(
                f"version {v} taken and table properties changed "
                "concurrently — re-run against the new head"
            )
        by_path = {a["path"]: a for a in head.entries}
        for e in self.touched:
            if by_path.get(e["path"]) != e:
                raise CommitConflict(
                    f"version {v} taken and a concurrent commit "
                    f"modified {e['path']} — re-run against the new head"
                )
        if self.probe is not None:
            pinned = {a["path"] for a in self.snap.entries}
            interleaved = [a for a in head.entries if a["path"] not in pinned]
            if interleaved and self.probe(interleaved):
                raise CommitConflict(
                    f"version {v} taken and a concurrent append added "
                    "rows matching this operation's read set — re-run "
                    "against the new head (ConcurrentAppendException "
                    "parity)"
                )
